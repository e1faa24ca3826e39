"""[EXT] Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Designed for the 100 TB case:

  * Exact dedup is a hash-groupBy on a fingerprint — one shuffle keyed by a
    16-byte digest, with map-side combine. Never shuffle full document text.
  * N-gram Jaccard is the *exact* near-dup measure: explode distinct shingles,
    self-join on shingle, count co-occurrences. The shingle join explodes
    quadratically on hot shingles, so it's the verification path, not the
    scale path.
  * MinHash-LSH is the scale path: fixed-size signatures (k hashes) replace
    the document, banding buckets candidates, and only bucket-mates are
    compared. Hashes are derived from md5 so signatures are engine-portable
    (the DuckDB oracle can recompute them bit-for-bit).
  * SimHash gives a 64-bit near-dup key (Hamming-ball lookups at serve time).

References: Broder (1997) resemblance/minhash; Charikar (2002) simhash;
Leskovec-Rajaraman-Ullman MMDS ch.3 for the banding analysis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# shingle tables are the largest intermediate in this pipeline: cache them
# tracked so bench/test harnesses can release them between queries
from bigdataingestion_spark.caching import cache_tracked as _cache
from bigdataingestion_spark.caching import release_caches  # noqa: F401  (re-export)
from bigdataingestion_spark.operators.text import normalize_text, ordered_pairs


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough input partitions for CPU-bound per-row work.

    Small-file inputs (one parquet file -> one split) would otherwise run an
    expensive explode/hash pipeline on a single core. At 100 TB inputs have
    thousands of splits and this is a no-op; locally it unlocks all cores.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# -- exact dedup ---------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """md5-fingerprint groups with more than one member (the duplicate sets)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text. Implemented as a
    min-aggregate + semi-join back (not dropDuplicates, whose survivor pick is
    nondeterministic under parallelism — determinism matters for the oracle).
    """
    keep = (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# -- shingling ----------------------------------------------------------------


def word_shingles(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* word-array column.

    ``words`` MUST be a bound column (not an inline split expression):
    expressions referenced inside ``transform`` lambdas are NOT
    common-subexpression-eliminated, so an inline ``split(normalize(text))``
    would be re-evaluated per array element — O(len^2) per document.
    Shingle i = words[i..i+n-1] joined by single spaces.
    """
    n_sh = F.size(words) - F.lit(n - 1)
    # guard: sequence(1, 0) DESCENDS in Spark, producing slice(start=0) errors
    return F.when(n_sh < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            )
        )
    )


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    with_count: bool = False,
) -> DataFrame:
    """(id[, n_sh], shingle) exploded pairs — the join key space for exact
    Jaccard. ``with_count`` attaches each doc's distinct-shingle count
    BEFORE the explode (array size — free), so consumers needing sizes skip
    a whole window/groupBy shuffle."""
    words = spread(df).select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    if with_count:
        # size + explode both reference the shingle array; only a cache
        # barrier stops Catalyst from inlining (and re-evaluating) the HOF
        # expression into each consumer — measured 3x slower without it
        arrays = _cache(
            words.select(F.col(id_col), word_shingles(F.col("_w"), n).alias("_sh"))
        )
        return arrays.select(
            F.col(id_col),
            F.size("_sh").alias("n_sh"),
            F.explode("_sh").alias("shingle"),
        )
    # single consumer: keep explode in the SAME projection — an intermediate
    # alias layer breaks whole-stage fusion around Generate (measured 3x)
    return words.select(
        F.col(id_col), F.explode(word_shingles(F.col("_w"), n)).alias("shingle")
    )


# shared i<j pair expansion over sorted id arrays (one copy for the whole
# operator layer; text.duplicate_spans uses the same grouped-pairs shape)
_ordered_pairs = ordered_pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all (a, b) id pairs with
    ``|shingles(a) ∩ shingles(b)| / |shingles(a) ∪ shingles(b)| >= threshold``.

    A shingle occurring in k documents contributes k^2 join pairs, so one
    boilerplate shingle shared by 1e5 docs would alone emit 1e10 rows. Hot
    shingles (document frequency > ``max_shingle_df``) are therefore treated
    as stopwords: dropped from BOTH the intersection and the per-doc sizes,
    i.e. Jaccard is computed over the filtered shingle sets — the standard
    near-dup trick (ubiquitous shingles carry no similarity signal anyway).
    ``max_shingle_df=None`` disables the cap (exact verification on inputs
    known to be cold) and switches pair generation to a streaming self-join,
    since only the cap bounds the per-shingle pair-array materialization.

    Plan shape (capped path, r14): ONE shuffle groups the exploded shingles
    into per-shingle sorted id lists (hash aggregate — no sort, unlike the
    count()-window formulation this replaced, and the groups ARE the DF
    filter: ``size <= cap``), pairs explode directly from each group's
    ordered id list (no self-join, no second pass over the shingle table),
    then one pair-count aggregate and two joins against the per-doc size
    table (itself one explode+aggregate over the cached groups, cached —
    the r13 plan recomputed it once per join side).
    """
    # shuffle a FLAT 16-byte hash of each shingle instead of the raw
    # n-gram string (r15, the duplicate_spans key policy): grouping and
    # joining only ever compare shingles for EQUALITY, so a 128-bit
    # digest is a drop-in key whose shuffle width is constant in shingle
    # length — at 100 TB the exchange carries 16 bytes/row where a
    # 3-gram of real words is 30-60+ bytes, and the aggregate compares
    # two longs instead of variable strings. Two seed-independent
    # xxhash64 lanes give the 128-bit width at a fraction of md5's
    # per-occurrence CPU (measured: md5 re-keying cost ~12% wall at the
    # 10x-density fixture; the xxhash pair is cheaper than the string
    # it replaces).
    sh = shingle_table(df, text_col, id_col, n, with_count=False).select(
        F.col(id_col),
        F.xxhash64("shingle").alias("_k1"),
        F.xxhash64("shingle", F.lit(1)).alias("_k2"),
    )
    if max_shingle_df is None:
        # uncapped: a hot shingle's pair ARRAY would be unbounded; keep the
        # streaming self-join (quadratic rows, but never materialized per
        # group). Window df-count is skipped entirely — no cap to compute.
        sh = _cache(sh)
        sizes = _cache(
            sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        )
        a = sh.select(F.col(id_col).alias("id_a"), "_k1", "_k2")
        b = sh.select(F.col(id_col).alias("id_b"), "_k1", "_k2")
        inter = (
            a.join(b, on=["_k1", "_k2"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # grouped path: per-shingle id lists are bounded by the cap, so the
        # per-group pair array is <= cap^2/2 structs (~8 MB at the default
        # 1000) — safe to materialize, and it removes the window sort AND
        # the self-join in one move
        groups = _cache(
            sh.groupBy("_k1", "_k2")
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
            .filter(F.size("_ids") <= F.lit(max_shingle_df))
        )
        sizes = _cache(
            groups.select(F.explode("_ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        inter = (
            groups.filter(F.size("_ids") >= 2)
            .select(
                F.explode(
                    _ordered_pairs("_ids", "x AS id_a, y AS id_b")
                ).alias("_p")
            )
            .select("_p.id_a", "_p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- MinHash-LSH ----------------------------------------------------------------


# Universal-hash family over M = 2^31 - 1 (Mersenne prime). One md5 per
# shingle, k cheap (a*h + b) % M derivations — 16x less hashing than
# md5-per-seed, still engine-portable (md5 + integer arithmetic only).
MINHASH_PRIME = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a fixed LCG — identical constants on
    the Spark and oracle sides."""
    params = []
    state = 0x5DEECE66D
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params


def _base_hash(shingle: Column) -> Column:
    """Portable 60-bit base hash: first 15 hex digits of md5 as a bigint."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) — minimum universal hash per seed over the
    document's shingle set. One explode + one groupBy(id) aggregate; the
    signature (k longs) replaces the document text from here on."""
    sh = shingle_table(df, text_col, id_col, n)
    h = (_base_hash(F.col("shingle")) % MINHASH_PRIME).alias("_h")
    hashed = sh.select(F.col(id_col), h)
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MINHASH_PRIME).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _banded_buckets(
    sig: DataFrame, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """(id, sig array, band, key) bucket rows: the signature is cut into
    ``bands`` bands and each band md5-keyed. Every bucket row carries the
    full signature array so candidate scoring needs no post-join (16 longs
    per row — cheap in the shuffle)."""
    rows_per_band = num_hashes // bands
    sig_cols = [f"sig_{i}" for i in range(num_hashes)]
    band_exprs = []
    for b in range(bands):
        cols = sig_cols[b * rows_per_band : (b + 1) * rows_per_band]
        band_exprs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("key"),
            )
        )
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(c) for c in sig_cols]).alias("sig"),
        F.explode(F.array(*band_exprs)).alias("bk"),
    ).select(
        id_col, "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signatures are cut into ``bands`` bands of ``num_hashes/bands`` rows; docs
    colliding on any full band become a candidate pair. Probability a pair
    with Jaccard s collides: 1 - (1 - s^r)^b. Returns distinct (id_a, id_b)
    candidates with their estimated similarity (fraction of matching
    signature positions).
    """
    assert num_hashes % bands == 0
    sig = minhash_signatures(df, num_hashes, text_col, id_col, n)
    # cache barrier: the bucket table feeds BOTH self-join sides — without
    # it Catalyst plans the whole signature subtree (explode + md5 + 16-way
    # min aggregate) once per side, doubling the dominant cost (r13 plan:
    # two identical Exchange+HashAggregate+Generate subtrees). Pairs stay a
    # streaming join (never a per-bucket pair array) so a degenerate hot
    # bucket costs rows, not executor memory.
    buckets = _cache(_banded_buckets(sig, num_hashes, bands, id_col))

    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "key"
    )
    b_ = buckets.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "key"
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    pairs = (
        a.join(b_, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(num_hashes), 6).alias("est_jaccard"),
        )
    )
    # a pair colliding in several bands appears once per band with the same
    # score; one aggregate dedupes (replaces distinct + two signature joins)
    return pairs.groupBy("id_a", "id_b").agg(
        F.first("est_jaccard").alias("est_jaccard")
    )


def lsh_then_exact(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """The scale path for near-dup detection: banded MinHash-LSH proposes
    candidate pairs, exact n-gram Jaccard verifies ONLY those candidates.

    ``ngram_jaccard_pairs`` is exact but its shingle self-join grows with
    the square of per-shingle document frequency — fine to ~100k docs,
    untenable corpus-wide at 100 TB. LSH bucket collisions cost one keyed
    shuffle of 16-long signatures regardless of corpus size, and the
    verification below touches candidate docs only, with per-pair work
    bounded by document length (an array intersect of two capped shingle
    sets — no second self-join). Precision equals the exact join on the
    returned pairs; recall is the LSH collision probability
    ``1 - (1 - s^r)^b`` (r = num_hashes/bands), tunable toward 1 with more
    bands. Defaults (r=2, b=16) give >= 99.6% recall at s = 0.5.

    Same hot-shingle cap semantics as ``ngram_jaccard_pairs``
    (``max_shingle_df``), so the two agree value-for-value on every pair
    both return. Columns: (id_a, id_b, jaccard).
    """
    # cache barrier: cand feeds three consumers (both cand_ids projections
    # and the final pair join) — uncached, the LSH bucket join + aggregate
    # would re-run once per consumer
    cand = _cache(
        minhash_lsh_pairs(df, num_hashes, bands, text_col, id_col, n).select(
            "id_a", "id_b"
        )
    )
    sh = shingle_table(df, text_col, id_col, n, with_count=False)
    if max_shingle_df is not None:
        # DF cap via one hash aggregate (group -> filter -> re-explode), not
        # a count() window: same kept (id, shingle) pairs without the
        # per-partition sort a window requires
        sh = (
            sh.groupBy("shingle")
            .agg(F.collect_list(F.col(id_col)).alias("_ids"))
            .filter(F.size("_ids") <= F.lit(max_shingle_df))
            .select("shingle", F.explode("_ids").alias(id_col))
        )
    # verification is candidate-bounded: keep shingle sets only for docs
    # appearing in some candidate pair (at scale: a tiny fraction); cached —
    # the two per-side joins below would otherwise each rebuild the sets
    cand_ids = cand.select(F.col("id_a").alias(id_col)).unionByName(
        cand.select(F.col("id_b").alias(id_col))
    )
    sets = _cache(
        sh.join(cand_ids.distinct(), on=id_col, how="left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_set"))
    )
    return (
        cand.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("_set").alias("_sa")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("_set").alias("_sb")),
            "id_b",
        )
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.size("_sa") + F.size("_sb") - F.col("_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Incremental near-dup check: candidate pairs between a NEW document
    batch and the EXISTING corpus — the dedup gate a production ingest runs
    per micro-batch (the EXT twin of the reference's watermark-incremental
    load: only the increment is hashed, never the corpus).

    Returns (new_id, corpus_id, est_jaccard). At scale the corpus side is
    a PERSISTED banded-signature index (this function recomputes it from
    text for self-containment; materialize ``_banded_buckets(sig)`` once
    and append per batch in production), so a batch ingest costs
    O(|batch|) hashing plus a probe join that touches only colliding
    buckets — with a small batch, the batch side broadcasts and the corpus
    index never shuffles.
    """
    assert num_hashes % bands == 0
    cb = _banded_buckets(
        minhash_signatures(corpus, num_hashes, text_col, id_col, n),
        num_hashes, bands, id_col,
    ).select(
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_c"),
        "band", "key",
    )
    nb = _banded_buckets(
        minhash_signatures(batch, num_hashes, text_col, id_col, n),
        num_hashes, bands, id_col,
    ).select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_n"),
        "band", "key",
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_n"), F.col("sig_c"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        nb.join(cb, on=["band", "key"])
        .select(
            "new_id",
            "corpus_id",
            F.round(matches / F.lit(num_hashes), 6).alias("est_jaccard"),
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


# -- SimHash --------------------------------------------------------------------


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over the normalized word set.

    Each word hashes to 64 bits (md5-derived, portable); bit j of the
    document hash is 1 iff more member words have bit j set than unset.
    Entirely built-in expressions: explode words -> per-bit +/-1 sums ->
    bit-pack. One shuffle keyed by doc id.
    """
    words = spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
        ).alias("word"),
    ).filter(F.col("word") != "")
    # 64-bit word hash from md5 (first 16 hex chars). The first/last 8 of
    # those hex chars ARE the high/low 32-bit halves, so each parses with
    # one conv() directly into long range — no decimal(20,0) mod/divide
    # per word (r15; value-identical to the decimal split, oracle-pinned)
    words = words.select(id_col, F.md5(F.col("word")).alias("_h"))
    hi = F.conv(F.substring(F.col("_h"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.col("_h"), 9, 8), 16, 10).cast("long")
    words = words.select(id_col, hi.alias("hi"), lo.alias("lo"))

    # per-bit balance b_j = (#set - #unset) = 2*set_j - n: summing the raw
    # bit (no CASE) and counting once is the same value with 64 branchless
    # sums instead of 64 conditionals (r15; smaller codegen, same result)
    bit_sums = [
        F.sum(
            F.shiftright(F.col("hi" if j >= 32 else "lo"), j % 32).bitwiseAND(1)
        ).alias(f"s{j}")
        for j in range(64)
    ]
    agg = words.groupBy(id_col).agg(
        *bit_sums, F.count(F.lit(1)).alias("_n")
    )
    packed_hi = sum(
        F.when(F.col(f"s{j}") * 2 > F.col("_n"), F.lit(1 << (j - 32))).otherwise(0)
        for j in range(32, 64)
    )
    packed_lo = sum(
        F.when(F.col(f"s{j}") * 2 > F.col("_n"), F.lit(1 << j)).otherwise(0)
        for j in range(32)
    )
    return agg.select(
        F.col(id_col),
        packed_hi.cast("long").alias("simhash_hi"),
        packed_lo.cast("long").alias("simhash_lo"),
    )


# -- Near-dup cluster resolution ------------------------------------------------


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Resolve a duplicate-pair graph into clusters: (node, cluster_id) with
    cluster_id = min node id reachable from the node.

    Iterative min-label propagation (the same fixpoint GraphFrames/GraphX CC
    computes): each round every node takes the min of its own label and its
    neighbors' labels. Rounds needed = graph diameter — near-dup clusters
    are small and dense, so this converges in a handful of rounds; progress
    is checked with a cheap sum(label) aggregate (monotonically decreasing,
    stable iff converged). Each round is checkpointed to truncate lineage
    (without it the plan doubles per round and the driver, not the cluster,
    becomes the bottleneck). At 100 TB the same loop holds — the per-round
    shuffle is |edges|, and the alternating large-star/small-star variant is
    a drop-in if diameters blow up.

    ``checkpoint_dir``: when set, rounds use RELIABLE checkpoints
    (``setCheckpointDir`` + ``checkpoint(eager=True)`` to that path —
    HDFS/object-store on a real cluster). When ``None`` the loop falls back
    to ``localCheckpoint``, which stores blocks on executors: fine in
    local[n] and tests, but executor loss loses the blocks and dynamic
    allocation can't reap pinned executors — on a production cluster pass a
    durable dir.
    """
    # cache barrier: the symmetric union below consumes ``pairs`` TWICE —
    # uncached, the whole upstream pair pipeline (for dedup_near_clusters:
    # the full Jaccard/LSH candidate generation) is planned and executed
    # once per union branch when ``edges`` first materializes (r14 plan
    # audit). One tracked cache of the narrow (a, b) projection halves it.
    sym = _cache(pairs.select(F.col(left).alias("a"), F.col(right).alias("b")))
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint()  # noqa: E731
    edges = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .cache()
    )
    labels = _ckpt(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_min"))
        )
        labels = _ckpt(
            labels.join(nbr, labels.node == nbr.a, "left").select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
                ).alias("comp"),
            )
        )
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select("node", F.col("comp").alias("cluster_id"))


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing at least one
    word n-gram with any benchmark document, with the count of distinct
    overlapping n-grams. The standard pre-training hygiene step (decontaminate
    the corpus against eval sets).

    Both sides reduce to distinct n-gram keys before the join, so the
    shuffle carries (shingle, id) pairs — never text. At 100 TB the
    benchmark side is tiny relative to the corpus: Spark/AQE broadcasts it,
    making this a map-side semi-join per corpus split; a bloom filter on
    benchmark grams is the next lever if the benchmark itself grows.
    """
    c = shingle_table(corpus, text_col, id_col, n)
    b = shingle_table(benchmark, text_col, id_col, n).select("shingle").distinct()
    # per-doc shingles are already distinct (word_shingles -> array_distinct)
    return c.join(b, "shingle").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    max_distance: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found via banding — the
    scale path for simhash dedup (the exact counterpart of MinHash-LSH's
    banded buckets).

    The 64-bit signature splits into ``max_distance + 1`` bands; by
    pigeonhole, any pair within ``max_distance`` bit flips agrees exactly on
    at least one band, so the banded self-join is LOSSLESS for the
    threshold: candidates = band collisions only (never all pairs), then the
    exact distance ``bit_count(xor)`` filters. At 100 TB the shuffle is
    |docs| x bands rows of (band_key, id, hi, lo) — signatures carried
    through so no post-join lookup.
    """
    sig = simhash64(df, text_col=text_col, id_col=id_col)
    n_bands = max_distance + 1
    width = 64 // n_bands  # last band absorbs the remainder bits

    def _band_key(s: int, e: int):
        """Bits [s, e) of the 64-bit signature, assembled from the two
        32-bit halves — never materializes the full value (hi * 2^32 + lo
        overflows a signed long under ANSI mode for hi >= 2^31)."""
        parts = []
        if s < 32:
            lo_e = min(e, 32)
            parts.append(
                F.shiftright(F.col("simhash_lo"), s).bitwiseAND(
                    F.lit((1 << (lo_e - s)) - 1)
                )
            )
        if e > 32:
            hi_s = max(s, 32)
            piece = F.shiftright(F.col("simhash_hi"), hi_s - 32).bitwiseAND(
                F.lit((1 << (e - hi_s)) - 1)
            )
            parts.append(piece * F.lit(1 << (hi_s - s)))
        out = parts[0]
        for p in parts[1:]:
            out = out + p
        return out

    bounds = [
        (b * width, (b + 1) * width if b < n_bands - 1 else 64)
        for b in range(n_bands)
    ]
    # cache barrier: the banded table feeds BOTH self-join sides — without
    # it the whole simhash subtree (explode + 64-way signed bit sums) is
    # planned and executed once per side (same fix as minhash_lsh_pairs,
    # r14 plan audit)
    banded = _cache(
        sig.select(
            F.col(id_col),
            "simhash_hi",
            "simhash_lo",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), _band_key(s, e).alias("band_key")
                        )
                        for b, (s, e) in enumerate(bounds)
                    ]
                )
            ).alias("bk"),
        ).select(id_col, "simhash_hi", "simhash_lo", "bk.band", "bk.band_key")
    )
    a = banded.select(
        F.col("band"), F.col("band_key"),
        F.col(id_col).alias("id_a"),
        F.col("simhash_hi").alias("hi_a"), F.col("simhash_lo").alias("lo_a"),
    )
    b = banded.select(
        F.col("band"), F.col("band_key"),
        F.col(id_col).alias("id_b"),
        F.col("simhash_hi").alias("hi_b"), F.col("simhash_lo").alias("lo_b"),
    )
    dist = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
        .distinct()  # a close pair can collide in several bands
    )
