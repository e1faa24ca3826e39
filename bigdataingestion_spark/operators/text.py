"""[EXT] Text-analysis operators for LLM-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs. Each operator has a matching ANSI-SQL
oracle in ``bigdataingestion_spark.catalog`` so the DuckDB correctness gate
covers it.

Scale notes: every operator here is a narrow projection (no shuffle), so it
scales linearly with input splits; 100 TB of documents is embarrassingly
parallel. The only wide operator is ``language_histogram``'s final groupBy,
which is a low-cardinality hash aggregate with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataingestion_spark.caching import cache_tracked

# Tokens: word runs or single non-space punctuation — a BPE-ish pre-tokenizer.
TOKEN_PATTERN = "[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"

# Tiny per-language marker lexicons for the n-gram/stopword language heuristic.
# Deterministic and SQL-expressible (the oracle mirrors it with the same lists).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}


def word_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    )


def token_count(col: Column) -> Column:
    """BPE-ish token count: word runs + standalone punctuation."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are non-alphanumeric, non-space."""
    n = F.length(col)
    punct = F.length(F.regexp_replace(col, "[a-zA-Z0-9\\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def marker_hits(col: Column, markers: tuple[str, ...]) -> Column:
    """How many marker words occur (word-boundary matches) in the text."""
    pattern = "\\b(" + "|".join(markers) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), 0))


def language_guess(col: Column) -> Column:
    """Pick the language whose marker lexicon hits most; ties broken by the
    fixed key order of LANG_MARKERS; 'und' (undetermined) when no hits."""
    # fold a CASE chain: strictly-greater wins, so earlier keys win ties
    expr = F.lit("und")
    score = F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        h = marker_hits(col, markers)
        gt = h > score
        expr = F.when(gt, F.lit(lang)).otherwise(expr)
        score = F.when(gt, h).otherwise(score)
    return expr


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alphanumerics
    to spaces, collapse whitespace, trim."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, "[^a-z0-9]+", " ")
    return F.trim(stripped)


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def quality_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics: length, words, tokens, punctuation
    ratio, avg word length — the filters a pretraining pipeline gates on."""
    t = F.col(text_col)
    wc = word_count(t)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("char_count"),
        wc.cast("long").alias("word_count"),
        token_count(t).cast("long").alias("tok_count"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(
            F.when(wc == 0, F.lit(0.0)).otherwise(
                F.length(F.regexp_replace(t, "\\s+", "")) / wc
            ),
            6,
        ).alias("avg_word_len"),
    )


def language_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Guessed-language distribution over a corpus."""
    return (
        df.select(language_guess(F.col(text_col)).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping word windows — the context-window
    chunking pass of a training-data pipeline (stride < chunk_words gives
    overlap so no boundary context is lost).

    Chunk i covers words [i*stride, i*stride + chunk_words); emission stops
    once a window START reaches beyond the word count. Pure built-in array
    expressions (split -> sequence -> slice -> explode); one narrow pass.
    """
    words = df.filter(
        F.length(normalize_text(F.col(text_col))) > 0  # split('') yields ['']
    ).select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    n = F.size("_w")
    # number of chunks: ceil(max(n - chunk_words, 0) / stride) + 1
    n_chunks = (
        F.floor((F.greatest(n - F.lit(chunk_words), F.lit(0)) + F.lit(stride - 1)) / F.lit(stride))
        + F.lit(1)
    ).cast("int")
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    chunks = words.select(F.col(id_col), F.col("_w"), idx)
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.array_join(
            F.slice(F.col("_w"), F.col("chunk_idx") * stride + 1, chunk_words), " "
        ).alias("chunk_text"),
        F.least(
            n - F.col("chunk_idx") * stride, F.lit(chunk_words)
        ).cast("long").alias("chunk_words"),
    )


def bigram_quality_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus bigram-LM quality score per document — the statistical
    gibberish filter of a training-data pipeline.

    score(doc) = mean over its bigrams of ln((C2(w1,w2) + 1) / (C1(w1) + V))
    (add-one-smoothed conditional bigram log-probability; C2/C1 are corpus
    counts, V the corpus vocabulary size). Two aggregate passes over the
    exploded words/bigrams plus one join of doc-bigrams against the corpus
    counts — all shuffles keyed on short strings. Low scores = improbable
    word sequences.
    """
    # two consumers (unigrams + bigrams): cache barrier, see dedup.py;
    # tracked so harnesses can release it between queries
    words_arr = cache_tracked(
        df.select(
            F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
        ).filter(F.size("_w") >= 2)
    )
    unigrams = words_arr.select(F.explode("_w").alias("word"))
    c1 = unigrams.groupBy("word").agg(F.count(F.lit(1)).alias("c1"))
    # vocab size V stays LAZY: a 1-row aggregate over c1 (word counts are
    # already distinct words, so no second distinct pass over the exploded
    # unigrams) broadcast-crossJoined into the scoring plan — no eager
    # driver action at plan-construction time, one fewer corpus scan
    vocab = c1.agg(F.count(F.lit(1)).alias("_vocab"))

    n_b = F.size("_w") - 1
    bigram_arr = F.transform(
        F.sequence(F.lit(1), n_b),
        lambda i: F.array_join(F.slice(F.col("_w"), i, 2), " "),
    )
    bg = words_arr.select(F.col(id_col), F.explode(bigram_arr).alias("bigram"))
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))

    scored = (
        bg.join(c2, "bigram")
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(c1.withColumnRenamed("word", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp", F.log((F.col("c2") + 1) / (F.col("c1") + F.col("_vocab")))
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("logp"), 4).alias("lm_score"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (8, 1, 1),
) -> DataFrame:
    """Assign each row a stable train/valid/test split from a hash of its id.

    Engine-portable and reshuffle-proof: the split depends only on the id
    (md5 hex -> first 8 hex digits -> bucket 0..9), never on partitioning,
    row order, or a seed, so reruns and scale-ups assign identically — the
    property a 100 TB training-data pipeline needs for split stability.
    """
    train, valid, _ = weights
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10
    )
    split = (
        F.when(bucket < train, "train")
        .when(bucket < train + valid, "valid")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_pct: int = 10,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row when
    hash(id) % 100 < rates[stratum] (percent). Used to rebalance a corpus
    (e.g. cap dominant languages) without a shuffle or a seed; the hash
    gate is a narrow filter evaluated at the scan."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.lit(default_pct)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    return df.filter(bucket < rate)


def epoch_shuffle(
    df: DataFrame,
    n_shards: int,
    seed: str = "epoch0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    (shard, pos) address from a keyed hash of its id — the reproducible
    epoch ordering a training run needs (resume, audit, multi-host
    loaders reading disjoint shards).

    Scale shape: NO global sort. The hash assigns shards at the scan
    (narrow); positions are per-shard ``row_number`` windows — n_shards
    independent sorts of |rows|/n_shards each, exactly the layout the
    downstream loader consumes. Changing ``seed`` reshuffles every
    epoch; the same seed replays identically on any partitioning or
    engine (md5, no RNG). Adds ``shard`` and ``pos`` columns.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    for c in ("shard", "pos", "_shuf_key"):
        if c in df.columns:
            raise ValueError(f"column {c!r} already present; rename it")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint")
        % F.lit(n_shards)
    ).cast("int")
    out = df.withColumn("_shuf_key", key).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy(
        F.col("_shuf_key"), F.col(id_col)
    )
    return out.withColumn(
        "pos", F.row_number().over(w).cast("long")
    ).drop("_shuf_key")


def adaptive_quality_filter(
    df: DataFrame,
    score_col: str,
    by: str = "lang",
    frac: float = 0.25,
) -> DataFrame:
    """Keep rows STRICTLY ABOVE their own group's ``frac`` quantile of
    ``score_col`` — per-domain adaptive quality gating (a fixed global
    cutoff over-prunes low-resource languages and under-prunes dominant
    ones; a per-group quantile self-calibrates).

    Exact linear-interpolated percentile (``percentile``, matching ANSI
    ``percentile_cont``), computed per group in one aggregation and
    broadcast back — the thresholds frame is |groups| rows, so the join
    adds no shuffle to the corpus side.
    """
    if not 0.0 <= frac < 1.0:
        raise ValueError(f"frac must be in [0, 1), got {frac}")
    cuts = df.groupBy(by).agg(
        F.percentile(F.col(score_col), F.lit(frac)).alias("_cut")
    )
    return (
        df.join(F.broadcast(cuts), by)
        .filter(F.col(score_col) > F.col("_cut"))
        .drop("_cut")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Duplicate-n-gram fraction per document (Gopher-style repetition
    signal): 1 - distinct/total n-grams. High values flag boilerplate and
    degenerate repetition.

    The word array is materialized as a real column BEFORE the n-gram HOF
    (Spark does no CSE inside higher-order-function lambdas), and the
    explode consumes the HOF output directly so the generate+explode fuse
    into one codegen stage. Docs with < n words have no n-grams and are
    excluded (matches an empty generate_series in the SQL formulation).
    """
    from bigdataingestion_spark.operators.dedup import spread

    words = spread(df).select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    ).filter(F.size("_w") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("_w"), i, n), " "),
    )
    exploded = words.select(F.col(id_col), F.explode(grams).alias("gram"))
    return exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("gram").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.countDistinct("gram") / F.count(F.lit(1)), 6
        ).alias("dup_frac"),
    )


# (pattern, replacement) pairs applied in order; order matters — SSN before
# phone so 123-45-6789 isn't half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b(?:\d[ -]?){13,16}\b", "<CARD>"),
    (r"\b(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS) -> Column:
    """Mask common PII (emails, SSNs, card/phone numbers, IPs) with typed
    placeholders. Pure JVM regexp_replace chain — whole-stage codegen, no
    Python in the hot path; at 100 TB this runs at scan speed."""
    out = col
    for pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_documents(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Apply redact_pii and count how many placeholders were inserted, so a
    pipeline can quarantine documents above a PII-density threshold."""
    redacted = redact_pii(F.col(text_col))
    n_hits = F.size(F.split(redacted, "<(EMAIL|SSN|CARD|PHONE|IP)>")) - 1
    return df.withColumn(out_col, redacted).withColumn("pii_hits", n_hits)


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide top-N (doc, term) pairs by TF-IDF — the relevance-scoring
    pass of a retrieval/quality pipeline. score = tf * ln(N / df) with N =
    corpus size and df = documents containing the term.

    Shuffle shape: one explode -> (doc, word) count (map-side combined),
    then the document-frequency aggregate reuses the word-keyed shuffle; N
    is a broadcast 1-row aggregate. Ranking runs on the UNROUNDED score
    (integer tf/df and ln are bit-identical cross-engine) so the top-N cut
    is deterministic; the emitted score is rounded per the float policy.
    """
    words = (
        df.select(
            F.col(id_col),
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n"))
    score = F.col("tf") * F.log(F.col("n") / F.col("df"))
    return (
        tf.join(docfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "word",
            score.alias("_raw"),
        )
        .orderBy(F.desc("_raw"), F.col(id_col), F.col("word"))
        .limit(top_n)
        .select(id_col, "word", F.round("_raw", 6).alias("tfidf"))
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    shard_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: within each shard,
    documents are concatenated in id order and the token stream is cut
    every ``budget`` tokens. Returns per document its shard, token count,
    the sequence index where it STARTS and its token offset within that
    sequence — the manifest a training loader needs to materialize packed
    samples without re-tokenizing.

    All-integer window arithmetic (cumulative token count, floor-div,
    mod), so the layout is deterministic and engine-portable. At 100 TB the
    window partitions by shard — the parallelism unit of a packing job —
    and never sees text, only (shard, id, n_tokens).
    """
    toks = df.select(
        F.col(id_col),
        F.col(shard_col).alias("shard"),
        word_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    # `div`, not floor(/): double division loses exactness past 2^53 tokens
    return toks.withColumn("_prev", prev).select(
        id_col,
        "shard",
        "n_tokens",
        F.expr(f"_prev div {int(budget)}").alias("seq_id"),
        F.expr(f"_prev % {int(budget)}").alias("token_offset"),
    )


def temperature_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Temperature-flattened source mixing (T=2, i.e. target share ∝
    sqrt(actual share)) via deterministic hash-gate sampling: per source,
    keep-rate ∝ target_share / actual_share, normalized so the rarest
    source keeps everything; a doc survives when its md5-fraction is below
    its source's rate. sqrt (not pow) keeps the rate arithmetic
    correctly-rounded and therefore bit-identical across engines.

    Scale shape: the rate table is one row per source (broadcast); the
    gate is a narrow filter at the scan — no seed, no shuffle, and
    reshuffle-proof (membership depends only on doc_id). Appends
    ``keep_rate`` so downstream stages can importance-weight.
    """
    w = Window.partitionBy()
    rates = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_share", F.col("_n") / F.sum("_n").over(w))
        .withColumn("_rel", (F.sqrt("_share") / F.sum(F.sqrt("_share")).over(w)) / F.col("_share"))
        .withColumn("keep_rate", F.col("_rel") / F.max("_rel").over(w))
        .select(source_col, "keep_rate")
    )
    frac = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % resolution
    ) / float(resolution)
    return df.join(F.broadcast(rates), source_col).filter(frac < F.col("keep_rate"))


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 3,
    min_frac: float = 0.3,
    top_n: int = 20,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source boilerplate detection: n-grams present in at least
    ``min_frac`` of a source's documents — headers, disclaimers, and
    template fragments a cleaning pipeline strips before dedup (ubiquitous
    grams also poison similarity joins; this is the analysis face of the
    hot-shingle cap in ``dedup.ngram_jaccard_pairs``).

    One explode -> distinct (source, gram, doc) -> (source, gram) count;
    the per-source doc totals are a tiny broadcast frame. Ranking runs on
    the exact integer ratio (no float in the cut), then source/gram — a
    deterministic top-N across engines.
    """
    from bigdataingestion_spark.operators.dedup import word_shingles

    words = df.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_w"),
    )
    grams = words.select(
        id_col, "source", F.explode(word_shingles(F.col("_w"), n)).alias("gram")
    )
    per_gram = grams.groupBy("source", "gram").agg(
        F.count(F.lit(1)).alias("n_docs")  # shingles are distinct per doc
    )
    totals = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("_total")
    )
    hits = (
        per_gram.join(F.broadcast(totals), "source")
        .filter(F.col("n_docs") >= F.col("_total") * min_frac)
    )
    return (
        hits.orderBy(
            F.desc(F.col("n_docs") / F.col("_total")), "source", "gram"
        )
        .limit(top_n)
        .select(
            "source",
            "gram",
            "n_docs",
            F.round(F.col("n_docs") / F.col("_total"), 6).alias("doc_frac"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 100,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-``top_k``
    vocabulary — the tokenizer-fit diagnostic of a training pipeline (a doc
    whose tokens mostly miss the vocabulary will shatter into byte
    fallbacks downstream).

    Two passes, neither quadratic: (1) explode tokens and take the top-k
    by (freq desc, word asc) — a distributed TakeOrderedAndProject whose
    result is bounded by ``top_k`` and therefore broadcastable at any
    corpus size; (2) re-explode and LEFT-join the broadcast vocabulary,
    counting misses per document. The only full-size shuffle is the final
    per-document aggregate.
    """
    norm = normalize_text(F.col(text_col))
    tokens = (
        df.filter(F.length(norm) > 0)
        .select(F.col(id_col), F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        tokens.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col("word"))
        .limit(top_k)
        .select("word", F.lit(1).alias("_in_vocab"))
    )
    return (
        tokens.join(F.broadcast(vocab), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .withColumn("oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 25,
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement: key each
    row with ``-ln(u)/w`` (u a deterministic md5-uniform of the id in
    (0,1), w the row's weight) and keep the ``k`` smallest keys. Inclusion
    probability is proportional to weight, yet there is no seed and no
    state — reruns, engines, and partitionings pick the identical sample
    (the property a resumable 100 TB sampling job needs). Distributed cost
    is one top-k (TakeOrderedAndProject), never a global sort.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1_000_000
        + 1
    ) / 1_000_001.0
    key = -F.log(u) / F.col(weight_col)
    return (
        df.withColumn("_es_key", key)
        .orderBy("_es_key", id_col)
        .limit(k)
        .drop("_es_key")
    )


def ordered_pairs(arr_col: str, fields: str) -> Column:
    """All i<j element pairs of a SORTED array column as one flat struct
    array: element i pairs with every later element via slice. ``fields``
    maps array elements to pair-struct fields, e.g. ``"x AS id_a, y AS id_b"``
    (``x`` = earlier element, ``y`` = later element). Per-group pair arrays
    are quadratic in group size — callers must bound group size first
    (DF cap / bucket semantics) before materializing pairs this way.

    CONTRACT (advisor note, r15): the array MUST be sorted ascending and
    duplicate-free — i<j then means "strictly ordered pair", which is what
    every caller's oracle encodes (``dedup.word_shingles`` builds its lists
    with ``sort_array(collect_set(...))`` and ``span_hashes`` groups
    ``array_distinct`` output, so both guarantee it today). ``fields`` is
    interpolated RAW into a SQL lambda; it is an internal helper, not a
    user-input surface — pass only literal field mappings like the example,
    never caller-supplied strings (a malformed value fails with an opaque
    parse error deep inside the flatten/transform expression)."""
    return F.expr(
        f"flatten(transform({arr_col}, (x, i) -> "
        f"transform(slice({arr_col}, i + 2, size({arr_col}) - i - 1), "
        f"y -> struct({fields}))))"
    )


def span_hashes(
    df: DataFrame,
    span_len: int = 40,
    stride: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct (id, ``_h``) rows — the md5 of every stride-aligned
    ``span_len``-char window per document. The ONE copy of the span
    math, shared by :func:`duplicate_spans` and the catalog's
    duplication-profile query (like ``_SPAN_CTES`` on the oracle side),
    so the two can never silently diverge. A span repeated inside one
    document counts once — enforced with a per-document ``array_distinct``
    BEFORE the explode (narrow, no shuffle) rather than a global
    ``.distinct()`` (a full extra exchange of the span table; r14 plan
    audit), and md5 then runs once per distinct span instead of once per
    occurrence."""
    return (
        df.filter(F.length(text_col) >= span_len)
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, length({text_col}) - {span_len},"
                        f" {stride}), p -> substring({text_col}, p + 1,"
                        f" {span_len}))"
                    )
                )
            ).alias("_span"),
        )
        .select(F.col(id_col), F.md5(F.col("_span")).alias("_h"))
    )


def duplicate_spans(
    df: DataFrame,
    span_len: int = 40,
    stride: int = 10,
    max_docs_per_span: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate detection between documents — the
    stride-aligned approximation of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", public arXiv:2107.06499,
    their ExactSubstr/suffix-array pass): every ``span_len``-char window
    at ``stride`` offsets is extracted, and two documents sharing ANY
    identical window are reported with how many they share. Unlike
    n-gram Jaccard (a whole-document similarity), this catches a single
    verbatim paragraph pasted into an otherwise-unrelated document —
    the contamination shape shingle-set similarity dilutes away.

    Scale shape (r14 grouped rewrite; the same move as
    ``dedup.ngram_jaccard_pairs``): ONE shuffle groups the exploded span
    hashes into per-span sorted id lists — the shuffle key is the 16-byte
    md5 of the span, never the span text — and the group size IS both the
    ``>= 2`` co-occurrence test and the ``max_docs_per_span`` boilerplate
    carve-out (headers/licenses pair quadratically; excluding them is
    exactly the super-common-substring carve-out of the paper). Pairs then
    explode directly from each group's ordered id list (bounded by the cap:
    <= cap^2/2 structs per group) into the final pair-count aggregate. No
    keep-list join, no self-join, no global distinct — the r13 shape
    computed the span subtree three times and shuffled it four times.

    Returns ``(id_a, id_b, n_spans)`` with ``id_a < id_b``.
    """
    spans = span_hashes(df, span_len, stride, text_col, id_col)
    groups = (
        spans.groupBy("_h")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(
            (F.size("_ids") >= 2) & (F.size("_ids") <= max_docs_per_span)
        )
    )
    return (
        groups.select(
            F.explode(ordered_pairs("_ids", "x AS id_a, y AS id_b")).alias("_p")
        )
        .select("_p.id_a", "_p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )
