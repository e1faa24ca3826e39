"""[EXT] operator correctness on small constructed inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content about spark engines"),
        (5, ""),  # empty edge case
        (6, "der hund und die katze und das haus ist gross"),  # German markers
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_lowest_id(docs):
    out = dedup.dedup_exact(docs)
    ids = {r.doc_id for r in out.collect()}
    assert 1 in ids and 2 not in ids
    assert ids == {1, 3, 4, 5, 6}


def test_exact_dup_groups(docs):
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_dups == 2
    assert groups[0].keep_doc_id == 1


def test_ngram_jaccard_identical_is_one(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_hot_shingle_cap_bounds_pairs(spark):
    # 40 docs share ONE boilerplate shingle ("standard legal disclaimer")
    # but are otherwise unique -> uncapped, that shingle alone generates
    # 40*39/2 = 780 candidate pairs; with df-cap 10 it is dropped and only
    # the genuinely-similar pair (100, 101) survives candidate generation.
    rows = [(i, f"standard legal disclaimer unique{i} body{i} tail{i}") for i in range(40)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=10)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs), "hot-shingle pairs must be dropped"

    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=None)
    assert uncapped.count() > len(pairs), "cap must prune the blowup pairs"


def test_ngram_jaccard_cap_inert_below_threshold(docs):
    # on cold data a generous cap changes nothing (sizes recomputed
    # post-filter must equal the array-size path of the uncapped variant)
    a = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=0.2, max_shingle_df=1000).collect()))
    b = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=0.2, max_shingle_df=None).collect()))
    assert a == b


def test_lsh_then_exact_agrees_with_exact_join(spark, sf_smoke_dir):
    """The composition operator: exact-value agreement with the full
    Jaccard join on every returned pair (precision), and near-total recall
    at r=2/b=16 on the driver fixture."""
    docs = spark.read.parquet(f"{sf_smoke_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    composed = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.lsh_then_exact(
            docs, threshold=0.5, num_hashes=32, bands=16
        ).collect()
    }
    assert composed  # fixture carries real near-dups
    # precision is exact: every returned pair is a true pair, same value
    for pair, j in composed.items():
        assert exact.get(pair) == j, pair
    # recall: >= 99.6% per-pair collision probability at s=0.5; the fixture
    # pair count is small, so allow at most one missed pair
    assert len(composed) >= len(exact) - 1


def test_lsh_then_exact_respects_hot_shingle_cap(spark):
    """Same cap semantics as ngram_jaccard_pairs: a boilerplate shingle
    shared corpus-wide is excluded from both operators identically."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(30)]  # 30 identical docs
    rows += [(100, "unique text one two three four five six seven eight")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped_exact = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=10).collect())
    )
    capped_composed = sorted(
        map(tuple, dedup.lsh_then_exact(docs, threshold=0.5, num_hashes=32, bands=16, max_shingle_df=10).collect())
    )
    assert capped_composed == capped_exact == []


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs always collide
    assert (1, 4) not in pairs  # unrelated docs shouldn't


def test_simhash_identical_docs_equal_hash(docs):
    h = {r.doc_id: (r.simhash_hi, r.simhash_lo) for r in dedup.simhash64(docs).collect()}
    assert h[1] == h[2]
    # near-dup should be close in hamming distance, far doc should not
    def hamming(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert hamming(h[1], h[3]) < hamming(h[1], h[4])


def test_simhash_bits_fit_32(docs):
    for r in dedup.simhash64(docs).collect():
        assert 0 <= r.simhash_hi < 2**32
        assert 0 <= r.simhash_lo < 2**32


def test_language_guess(docs, spark):
    out = {
        r.doc_id: r.lang
        for r in docs.select(
            "doc_id", text.language_guess(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[1] == "en"
    assert out[6] == "de"
    assert out[5] == "und"


def test_quality_stats_empty_text(docs):
    stats = {r.doc_id: r for r in text.quality_stats(docs).collect()}
    assert stats[5].char_count == 0
    assert stats[5].word_count == 0
    assert stats[5].punct_ratio == 0.0
    assert stats[1].word_count == 9


def test_cosine_topk_self_first(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(df, [1.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [0, 1, 2]
    assert out[0].cosine_sim == 1.0


def test_pairwise_cosine_blocked(spark):
    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "a", [1.0, 0.01]),
        (2, "a", [0.0, 1.0]),
        (3, "b", [1.0, 0.0]),  # other block: never paired with 0/1
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.pairwise_cosine_blocked(
            df, "label", threshold=0.95
        ).collect()
    }
    assert (0, 1) in pairs
    assert all(p[0] != 3 and p[1] != 3 for p in pairs)


def test_kmeans_lite_ivf_recall(spark):
    # 3 well-separated clusters of 8 vectors each; IVF with Lloyd-refined
    # centroids must recover the query's cluster, so recall@5 vs brute
    # force is perfect on separable data.
    import math

    rows = []
    base = {0: (1.0, 0.0, 0.0), 1: (0.0, 1.0, 0.0), 2: (0.0, 0.0, 1.0)}
    for cid, (x, y, z) in base.items():
        for j in range(8):
            eps = 0.05 * math.sin(cid * 10 + j)  # deterministic jitter
            rows.append((cid * 8 + j, [x + eps, y + eps / 2, z]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    cents = similarity.kmeans_lite_centroids(df, n_cells=3, lloyd_iters=1)
    got = cents.collect()
    assert len(got) == 3
    assert {r.cell_id for r in got} == {0, 1, 2}
    assert all(len(r.cv) == 3 for r in got)
    # deterministic: same input -> identical centroids
    again = similarity.kmeans_lite_centroids(df, n_cells=3, lloyd_iters=1).collect()
    assert sorted(map(tuple, ((r.cell_id, *r.cv) for r in got))) == sorted(
        map(tuple, ((r.cell_id, *r.cv) for r in again))
    )

    exact = [r.vec_id for r in similarity.cosine_topk(df, base[0], k=5).collect()]
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(df, query_id=0, n_cells=3, k=5).collect()
    ]
    recall = len(set(exact) & set(ivf)) / 5
    assert recall == 1.0, (exact, ivf)


def test_multimodal_features_deterministic(docs):
    media = multimodal.documents_as_media(
        docs.filter(F.col("doc_id").isin(1, 4)).select("doc_id", "text")
    )
    out1 = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    out2 = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert out1.keys() == out2.keys()
    for k in out1:
        assert out1[k].feature == out2[k].feature
        assert out1[k].byte_len == len("the quick brown fox jumps over the lazy dog") if k == 1 else True
        assert len(out1[k].feature) == 8


def test_multimodal_vectorized_feature_matches_scalar_reference(spark):
    # r14: extract_features' batch path vectorizes the rolling byte
    # accumulator with NumPy strided sums; it must stay bit-identical to
    # the scalar reference implementation on empty, short (< dim), and
    # long payloads including bytes that exercise the mod-997 wraparound.
    payloads = [
        b"",
        b"\x01",
        b"abcdefg",  # len 7 < dim 8
        bytes(range(256)) * 40,  # long, every byte value
        b"\xff" * 10_007,  # hot single value, odd length
    ]
    df = spark.createDataFrame(
        [(i, p, "text") for i, p in enumerate(payloads)],
        multimodal.MEDIA_SCHEMA,
    )
    import numpy as np

    got = {
        r.media_id: r.feature
        for r in multimodal.extract_features(df, fake=True).collect()
    }
    for i, p in enumerate(payloads):
        # FEATURE_SCHEMA carries float32; compare at that precision
        want = [float(np.float32(x)) for x in multimodal._fake_feature(p)]
        assert got[i] == want, f"payload {i}"


def test_duplicate_spans_grouped_path_matches_bruteforce(spark):
    # r14: duplicate_spans became a single grouped pass (sorted id lists
    # -> ordered-pairs explode); assert pair counts against a brute-force
    # python reference on a fixture with shared spans, a capped
    # boilerplate span, and intra-doc repeats (which must count once).
    import itertools as it

    para = "x" * 25 + "shared paragraph pasted verbatim here!" + "y" * 25
    docs_rows = [
        (1, para + " unique tail one"),
        (2, "prefix " + para),
        (3, para + para),  # repeats the span inside one doc
        (4, "entirely unrelated text " * 5),
    ]
    df = spark.createDataFrame(docs_rows, ["doc_id", "text"])
    span_len, stride = 40, 10

    def spans_of(s):
        return {
            s[p : p + span_len]
            for p in range(0, len(s) - span_len + 1, stride)
        } if len(s) >= span_len else set()

    ref_sets = {i: spans_of(t) for i, t in docs_rows}
    # span -> docs, capped at 64 (not hit here), pairs from co-occurrence
    want = {}
    for a, b in it.combinations(sorted(ref_sets), 2):
        n = len(ref_sets[a] & ref_sets[b])
        if n:
            want[(a, b)] = n
    got = {
        (r.id_a, r.id_b): r.n_spans
        for r in text.duplicate_spans(
            df, span_len=span_len, stride=stride
        ).collect()
    }
    assert got == want


def test_frame_sample_slices_payloads(docs):
    media = multimodal.documents_as_media(
        docs.filter(F.col("doc_id") == 1).select("doc_id", "text")
    )
    frames = multimodal.frame_sample(media, every_n_bytes=10, max_frames=3).collect()
    text = "the quick brown fox jumps over the lazy dog"
    assert len(frames) == 3  # 43 bytes / 10 -> capped at max_frames
    assert [f.frame_idx for f in sorted(frames, key=lambda r: r.frame_idx)] == [0, 1, 2]
    joined = b"".join(
        f.frame for f in sorted(frames, key=lambda r: r.frame_idx)
    )
    assert joined == text.encode()[:30]


def test_chunk_documents_windows_and_overlap(spark):
    words_120 = " ".join(f"w{i}" for i in range(120))
    df = spark.createDataFrame(
        [(1, words_120), (2, "short doc"), (3, "")], ["doc_id", "text"]
    )
    out = text.chunk_documents(df, chunk_words=64, stride=48)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: 120 words -> chunks at word 0 (64), 48 (64), 96 (24)
    assert {(k[0]) for k in rows} == {1, 2}  # empty doc filtered out
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [0, 1, 2]
    assert rows[(1, 0)].chunk_words == 64
    assert rows[(1, 2)].chunk_words == 120 - 96
    # overlap: chunk 1 starts at word 48
    assert rows[(1, 1)].chunk_text.startswith("w48 ")
    # short doc: single whole-doc chunk
    assert rows[(2, 0)].chunk_text == "short doc"
    assert rows[(2, 0)].chunk_words == 2


def test_token_count_matches_python_regex(docs):
    import re

    got = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", text.token_count(F.col("text")).alias("n")
        ).collect()
    }
    want = {
        r.doc_id: len(re.findall(text.TOKEN_PATTERN, r.text or ""))
        for r in docs.select("doc_id", "text").collect()
    }
    assert got == want


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG", "image")


def test_minhash_signature_shape(docs):
    sig = dedup.minhash_signatures(docs, num_hashes=8)
    row = sig.filter(F.col("doc_id") == 1).collect()[0]
    assert len([c for c in sig.columns if c.startswith("sig_")]) == 8
    # identical docs -> identical signatures
    row2 = sig.filter(F.col("doc_id") == 2).collect()[0]
    assert [row[f"sig_{i}"] for i in range(8)] == [row2[f"sig_{i}"] for i in range(8)]


def test_deterministic_split_stable_and_complete(docs):
    out = text.deterministic_split(docs, id_col="doc_id")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(rows.values()) <= {"train", "valid", "test"}
    # stable: recomputing (different partitioning) assigns identically
    again = text.deterministic_split(docs.repartition(7), id_col="doc_id")
    assert {r["doc_id"]: r["split"] for r in again.collect()} == rows
    # every row assigned exactly once
    assert out.count() == docs.count()


def test_deterministic_split_weights(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    frac = {
        r["split"]: r["n"]
        for r in text.deterministic_split(df).groupBy("split").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    total = sum(frac.values())
    assert total == 2000
    assert 0.7 < frac["train"] / total < 0.9  # 80% nominal
    assert frac.get("valid", 0) > 0 and frac.get("test", 0) > 0


def test_stratified_sample_rates(spark):
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    out = text.stratified_sample(df, rates={"en": 10}, default_pct=100)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["fr"] == 2500  # default 100% keeps everything
    assert 150 < counts["en"] < 350  # ~10% of 2500, hash noise tolerated
    # deterministic: same filter twice -> same rows
    assert out.count() == text.stratified_sample(df, rates={"en": 10}, default_pct=100).count()


def test_redact_pii_masks_and_counts(spark):
    rows = [
        (1, "mail me at alice.smith+x@example.co.uk or call 415-555-1234"),
        (2, "ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0.0.1"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.redact_documents(df).collect()}
    assert "<EMAIL>" in out[1]["text_redacted"]
    assert "<PHONE>" in out[1]["text_redacted"]
    assert "alice" not in out[1]["text_redacted"]
    assert "<SSN>" in out[2]["text_redacted"]
    assert "<CARD>" in out[2]["text_redacted"]
    assert "<IP>" in out[2]["text_redacted"]
    assert "123-45-6789" not in out[2]["text_redacted"]
    assert out[3]["text_redacted"] == "nothing sensitive here"
    assert out[1]["pii_hits"] == 2
    assert out[2]["pii_hits"] == 3
    assert out[3]["pii_hits"] == 0


def test_repetition_stats_flags_repeats(spark):
    rows = [
        (1, "the cat sat on the mat quietly today"),  # no repeated 3-grams
        (2, "buy now buy now buy now buy now buy now"),  # heavy repetition
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[1]["dup_frac"] == 0.0
    assert out[2]["dup_frac"] > 0.5
    assert out[2]["n_grams"] == 8 and out[2]["n_distinct"] == 2


def test_connected_components_path_graph(spark):
    # path 1-2-3-4-5 plus isolated pair (10, 11): diameter forces >1 round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    cc = {r["node"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    # long chain (diameter 40 -> many propagation rounds) with a reliable
    # checkpoint dir: every round must survive lineage truncation to disk
    ckpt = str(tmp_path / "cc_ckpt")
    chain = [(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    cc = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(
            pairs, max_iterations=50, checkpoint_dir=ckpt
        ).collect()
    }
    assert all(cc[n] == 0 for n in range(41))
    assert cc[100] == cc[101] == cc[102] == 100
    # checkpoints actually landed in the requested dir
    import os

    assert any(os.scandir(ckpt))


def test_contamination_hits_finds_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "a quick brown fox jumps far away"),  # shares 4-grams
            (2, "completely unrelated text about spark"),
            (3, "the quick brown fox jumps over fences"),  # shares more
        ],
        ["doc_id", "text"],
    )
    hits = {r["doc_id"]: r["n_hits"] for r in dedup.contamination_hits(corpus, bench).collect()}
    assert 3 in hits and hits[3] >= 2
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits


def test_knn_classify_majority(spark):
    # two tight clusters along different axes; query 99 sits in cluster A
    rows = [
        (1, 0, [1.0, 0.0, 0.0, 0.1]),
        (2, 0, [0.9, 0.1, 0.0, 0.0]),
        (3, 0, [1.0, 0.1, 0.1, 0.0]),
        (4, 1, [0.0, 1.0, 0.1, 0.0]),
        (5, 1, [0.1, 0.9, 0.0, 0.0]),
        (99, 1, [0.95, 0.05, 0.0, 0.05]),  # mislabeled on purpose
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = similarity.knn_classify(df, df.filter(F.col("vec_id") == 99), k=3).collect()
    assert len(out) == 1
    assert out[0]["qid"] == 99
    assert out[0]["knn_label"] == 0  # neighbors outvote the stored label
    assert out[0]["votes"] == 3


def test_simhash_hamming_pairs_banding_is_lossless(spark):
    # docs 1/2 identical (hamming 0), 3 close to them, 4 unrelated;
    # banded candidates must equal a brute-force all-pairs filter
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight again"),
        (2, "the quick brown fox jumps over the lazy dog tonight again"),
        (3, "the quick brown fox jumps over the lazy cat tonight again"),
        (4, "completely unrelated content about distributed query engines"),
        (5, "another entirely different document on streaming watermarks"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_hamming_pairs(df, max_distance=6).collect()
    }
    # brute force over the same signatures
    sig = {r.doc_id: (r.simhash_hi, r.simhash_lo) for r in dedup.simhash64(df).collect()}
    brute = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sig[a][0] ^ sig[b][0]).count("1") + bin(
                sig[a][1] ^ sig[b][1]
            ).count("1")
            if d <= 6:
                brute[(a, b)] = d
    assert banded == brute
    assert banded[(1, 2)] == 0


def test_pack_sequences_layout(spark):
    rows = [
        (1, "a", "one two three"),            # 3 tokens
        (2, "a", "four five six seven"),      # 4 tokens -> crosses budget 5
        (3, "a", "eight nine"),               # 2 tokens
        (4, "b", "x y z"),                    # separate shard restarts at 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {
        r.doc_id: (r.shard, r.n_tokens, r.seq_id, r.token_offset)
        for r in text.pack_sequences(df, budget=5).collect()
    }
    assert out[1] == ("a", 3, 0, 0)
    assert out[2] == ("a", 4, 0, 3)   # starts in seq 0 at offset 3, straddles
    assert out[3] == ("a", 2, 1, 2)   # prev=7 -> seq 1, offset 2
    assert out[4] == ("b", 3, 0, 0)   # new shard: fresh stream


def test_quantize_int8_roundtrip_error_bound(spark):
    rows = [
        (1, [0.0, 0.5, 1.0, 0.25]),
        (2, [3.0, 3.0, 3.0]),  # constant vector -> degenerate scale
        (3, [-2.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in similarity.quantize_int8(df).collect()}
    # endpoints quantize exactly; error bounded by scale/2 = (mx-mn)/510
    assert out[1].vmin == 0.0 and out[1].vmax == 1.0
    assert out[1].max_abs_err <= (1.0 - 0.0) / 510 + 1e-6  # + output rounding
    assert out[1].codes[0] == 0 and out[1].codes[2] == 255
    # constant vector: all-zero codes, zero error, no div-by-zero
    assert out[2].codes == [0, 0, 0]
    assert out[2].code_sum == 0 and out[2].max_abs_err == 0.0
    # signed range maps ends to 0/255
    assert out[3].codes == [0, 255] and out[3].code_sum == 255


def test_latest_state_picks_max_order_key(spark):
    from bigdataingestion_spark.operators import temporal
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1), 10, "a", 1.0),
        (1, datetime(2024, 1, 2), 11, "b", 2.0),
        (1, datetime(2024, 1, 2), 12, "c", 3.0),  # same ts, higher id wins
        (2, datetime(2024, 1, 1), 13, "d", 4.0),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "event_type", "value"]
    )
    out = {r.user_id: r for r in temporal.latest_state(df).collect()}
    assert out[1].last_event_id == 12 and out[1].last_event_type == "c"
    assert out[2].last_event_id == 13 and out[2].last_value == 4.0


def test_redact_pii_masks_each_kind(spark):
    df = spark.createDataFrame(
        [(1, "mail a@b.co ssn 123-45-6789 card 4111 1111 1111 1111 "
             "ph (555) 123-4567 ip 10.0.0.1 clean words")],
        ["doc_id", "text"],
    )
    row = text.redact_documents(df).collect()[0]
    red = row.text_redacted
    for tag in ("<EMAIL>", "<SSN>", "<CARD>", "<PHONE>", "<IP>"):
        assert tag in red, red
    assert "123-45-6789" not in red and "a@b.co" not in red
    assert row.pii_hits == 5


def test_pq_encode_shape_and_ranges(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.pq_encode(df, m=2, sub_dim=4, codes_per_space=3).collect()
    # every vector gets exactly one code per subspace
    assert len(out) == 12 * 2
    seen = {(r.vec_id, r.subspace) for r in out}
    assert len(seen) == 24
    for r in out:
        assert 0 <= r.code < 3
        assert -1.0 - 1e-6 <= r.sim <= 1.0 + 1e-6


def test_pq_topk_ranks_query_cluster_first(spark):
    import math

    # two separable clusters in 8 dims; PQ reconstruction keeps them apart
    rows = []
    for j in range(6):
        eps = 0.05 * math.sin(j)
        rows.append((j, [1.0 + eps, 0.0, 1.0, 0.0, 1.0 - eps, 0.0, 1.0, 0.0]))
        rows.append((10 + j, [0.0, 1.0 + eps, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0 - eps]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.pq_topk(
        df, query_id=0, k=6, m=2, sub_dim=4, codes_per_space=2
    ).collect()
    got = [r.vec_id for r in out]
    assert set(got) == {0, 1, 2, 3, 4, 5}, got  # entire query cluster first
    sims = [r.pq_sim for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(s > 0.0 for s in sims)


def test_temperature_sample_flattens_mix(spark):
    rows = [(i, "big") for i in range(200)] + [(1000 + i, "rare") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = text.temperature_sample(df)
    rates = {
        r.source: r.keep_rate for r in out.select("source", "keep_rate").distinct().collect()
    }
    # rarest source keeps everything; dominant source is downsampled
    assert abs(rates["rare"] - 1.0) < 1e-9
    assert rates["big"] < 1.0
    kept = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in kept}
    assert counts["rare"] == 10
    assert counts["big"] < 200
    # deterministic: same membership on rerun
    again = {r.doc_id for r in text.temperature_sample(df).select("doc_id").collect()}
    assert again == {r.doc_id for r in out.select("doc_id").collect()}


def test_minhash_incremental_finds_cross_side_dup(docs):
    # doc 1 (odd -> batch) is an exact dup of doc 2 (even -> corpus);
    # incremental probe must surface it without pairing corpus docs together
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    pairs = {
        (r.new_id, r.corpus_id): r.est_jaccard
        for r in dedup.minhash_incremental_pairs(
            corpus, batch, num_hashes=16, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert all(n % 2 == 1 and c % 2 == 0 for n, c in pairs)


def test_boilerplate_ngrams_flags_template(spark):
    rows = [(i, "srcA", f"standard legal disclaimer text unique{i} tail{i}") for i in range(10)]
    rows += [(100 + i, "srcB", f"organic{i} words{i} only{i} here{i} now{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = text.boilerplate_ngrams(df, n=3, min_frac=0.5, top_n=10).collect()
    flagged = {(r.source, r.gram) for r in out}
    assert ("srcA", "standard legal disclaimer") in flagged
    assert all(r.source == "srcA" for r in out)  # srcB has no shared trigram
    assert all(r.doc_frac >= 0.5 for r in out)


def test_pagerank_matches_power_iteration(spark):
    """3-node weighted chain: compare against a hand-run power iteration."""
    from bigdataingestion_spark.operators import graph

    # a->b (w=2), b->a (w=2), b->c (w=1), c->b (w=1): b is the hub
    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 1, 2.0), (2, 3, 1.0), (3, 2, 1.0)],
        ["src", "dst", "w"],
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["node"])  # 4 isolated
    got = {
        r["node"]: r["pr"]
        for r in graph.pagerank(edges, nodes, iterations=3, weight="w").collect()
    }
    # reference power iteration in plain python
    n, d = 4, 0.85
    pr = {k: 1.0 / n for k in (1, 2, 3, 4)}
    strength = {1: 2.0, 2: 3.0, 3: 1.0}
    out_edges = {1: [(2, 2.0)], 2: [(1, 2.0), (3, 1.0)], 3: [(2, 1.0)]}
    for _ in range(3):
        contrib = {k: 0.0 for k in pr}
        for src, outs in out_edges.items():
            for dst, w in outs:
                contrib[dst] += pr[src] * w / strength[src]
        pr = {k: (1 - d) / n + d * contrib[k] for k in pr}
    for k in (1, 2, 3, 4):
        assert got[k] == pytest.approx(pr[k], abs=1e-12)
    # isolated node decays to (1-d)/n
    assert got[4] == pytest.approx((1 - 0.85) / 4, abs=1e-12)
    # hub outranks leaves
    assert got[2] > got[1] > got[4]


def test_cooccurrence_edges_hot_key_cap_bounds_pairs(spark):
    """One synthetic hot key (20 members) is dropped by the degree cap, so
    pair counts stay bounded by the cold keys; cap=None keeps the quadratic
    blow-up (the exact-verification escape hatch)."""
    from bigdataingestion_spark.operators import graph

    rows = [("hot", f"n{i}") for i in range(20)]  # 20*19 = 380 pairs uncapped
    rows += [("cold1", "a"), ("cold1", "b"), ("cold2", "a"), ("cold2", "c")]
    pairs = spark.createDataFrame(rows, ["p", "s"])

    capped = graph.cooccurrence_edges(pairs, "p", "s", max_key_degree=5).collect()
    got = {(r.src, r.dst): r.w for r in capped}
    # only the cold keys contribute: a<->b (via cold1), a<->c (via cold2)
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("a", "c"): 1, ("c", "a"): 1}

    uncapped = graph.cooccurrence_edges(pairs, "p", "s", max_key_degree=None)
    # 380 hot-key ordered pairs + the 4 cold ones
    assert uncapped.agg(F.sum("w")).collect()[0][0] == 384


def test_interval_concurrency_daily_counts_overlaps(spark):
    from datetime import date

    from bigdataingestion_spark.operators import temporal

    iv = spark.createDataFrame(
        [
            (1, date(2024, 1, 1), date(2024, 1, 3)),
            (2, date(2024, 1, 2), date(2024, 1, 2)),
            (3, date(2024, 1, 5), date(2024, 1, 5)),
        ],
        ["id", "s", "e"],
    )
    out = {
        r["day"]: r["concurrent"]
        for r in temporal.interval_concurrency_daily(iv, "s", "e").collect()
    }
    assert out[date(2024, 1, 1)] == 1
    assert out[date(2024, 1, 2)] == 2  # 1 and 2 overlap
    assert out[date(2024, 1, 3)] == 1  # 2 ended (inclusive end + 1)
    assert out[date(2024, 1, 4)] == 0
    assert out[date(2024, 1, 5)] == 1


def test_weighted_sample_deterministic_and_weight_biased(spark):
    rows = [(i, 10_000 if i < 10 else 10) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    take1 = {r["doc_id"] for r in text.weighted_sample(df, k=20).collect()}
    take2 = {
        r["doc_id"]
        for r in text.weighted_sample(df.repartition(7), k=20).collect()
    }
    assert take1 == take2  # partitioning-independent
    # the 10 heavy rows (1000x weight) should essentially all be sampled
    assert len(take1 & set(range(10))) >= 9


def test_vocab_coverage_broadcasts_vocab(spark, sf_correct_dir):
    """The vocab side of the token join must be broadcast — a shuffle of the
    token stream against a 100-row vocab would be the wrong plan at scale."""
    from bigdataingestion_spark import catalog

    df = catalog.CATALOG["docs_vocab_coverage"].fn(spark, sf_correct_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    out = {r["doc_id"]: r for r in df.collect()}
    r = next(iter(out.values()))
    assert 0.0 <= r["oov_rate"] <= 1.0


def test_cooccurrence_edges_symmetric_and_repartition_invariant(spark):
    """Co-occurrence weights are symmetric (w(a,b) == w(b,a)) and the
    capped edge list is invariant under input repartitioning — the degree
    cap must depend on data, not physical layout."""
    from bigdataingestion_spark.operators import graph

    rows = [(k, n) for k in ("k1", "k2", "k3") for n in (f"a{k}", "b", "c")]
    pairs = spark.createDataFrame(rows, ["p", "s"])
    base = {
        (r.src, r.dst): r.w
        for r in graph.cooccurrence_edges(pairs, "p", "s", max_key_degree=3).collect()
    }
    assert base, "expected edges"
    assert all(base[(a, b)] == base[(b, a)] for (a, b) in base)
    shuffled = {
        (r.src, r.dst): r.w
        for r in graph.cooccurrence_edges(
            pairs.repartition(7), "p", "s", max_key_degree=3
        ).collect()
    }
    assert shuffled == base


# ---------------------------------------------------------------- r9 ops --


def test_semantic_dedup_min_id_survivor_rule(spark):
    """Single cell = the exact (unclustered) drop rule: each near-dup
    group keeps its lowest id, loners survive. With more cells the same
    rule applies per cell and a pair split across cells is simply not
    compared — the recall/cost trade clustering buys (asserted only as
    'never drops MORE than the exact rule')."""
    from bigdataingestion_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~1.0 cosine with id=1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),   # ~1.0 cosine with id=3
        (5, [0.0, 0.0, 1.0]),      # loner
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = similarity.semantic_dedup(emb, n_cells=1, threshold=0.9)
    assert sorted(r["vec_id"] for r in exact.collect()) == [1, 3, 5]
    clustered = similarity.semantic_dedup(emb, n_cells=3, threshold=0.9)
    kept = {r["vec_id"] for r in clustered.collect()}
    assert {1, 3, 5} <= kept  # never drops a row the exact rule keeps


def test_semantic_dedup_no_dups_keeps_everything(spark):
    from bigdataingestion_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedup(emb, n_cells=2, threshold=0.9)
    assert out.count() == 3


def test_duplicate_spans_finds_pasted_paragraph(spark):
    from bigdataingestion_spark.operators import text as t

    para = "x" * 5 + "the quick brown fox jumps over the lazy dog " * 2
    docs = spark.createDataFrame(
        [
            (1, "aaa " * 30 + para),
            (2, para + " bbb " * 30),
            (3, "totally unrelated content here " * 10),
        ],
        ["doc_id", "text"],
    )
    out = t.duplicate_spans(docs, span_len=40, stride=10)
    pairs = {(r["id_a"], r["id_b"]): r["n_spans"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)


def test_duplicate_spans_boilerplate_cap_excludes_common_spans(spark):
    """A span shared by MORE than the cap is boilerplate: excluded from
    pairing instead of exploding quadratically."""
    from bigdataingestion_spark.operators import text as t

    boiler = "standard license header all documents carry " * 2
    docs = spark.createDataFrame(
        [(i, boiler + f" unique tail {i} " * 5) for i in range(6)],
        ["doc_id", "text"],
    )
    capped = t.duplicate_spans(docs, span_len=40, stride=10,
                               max_docs_per_span=3)
    uncapped = t.duplicate_spans(docs, span_len=40, stride=10,
                                 max_docs_per_span=64)
    # all 6 docs share the header: 15 pairs uncapped, none under the cap
    assert uncapped.count() == 15
    assert capped.count() == 0


def test_duplicate_spans_within_doc_repeat_counts_once(spark):
    from bigdataingestion_spark.operators import text as t

    span = "abcdefghij" * 4  # exactly 40 chars
    docs = spark.createDataFrame(
        [(1, span + span), (2, span)], ["doc_id", "text"]
    )
    out = t.duplicate_spans(docs, span_len=40, stride=40)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["n_spans"] == 1  # doc 1's internal repeat not double-counted


def test_epoch_shuffle_refuses_colliding_columns(spark):
    from bigdataingestion_spark.operators import text as _text

    base = spark.createDataFrame([(1,)], "doc_id long")
    for col in ("shard", "pos", "_shuf_key"):
        bad = base.withColumn(col, F.lit(0))
        with pytest.raises(ValueError, match="already present"):
            _text.epoch_shuffle(bad, n_shards=4, id_col="doc_id")
