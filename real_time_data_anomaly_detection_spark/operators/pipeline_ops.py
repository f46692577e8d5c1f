"""Training-data pipeline operators beyond dedup/similarity: benchmark
decontamination, deterministic stratified sampling, token-length
bucketing, and sequence packing.

These are the corpus-hygiene and batch-shaping steps a pre-training
data pipeline runs after dedup (operators/dedup.py) and quality
scoring (operators/textops.py). The reference has no analog (it is a
streaming anomaly detector); these are north-star additions in the
spirit of SURVEY.md §2.2's LLM-ops block, built scale-first:

- decontamination joins TRAIN shingles against a broadcast BENCHMARK
  shingle set — the benchmark side is curated and small (thousands of
  docs), so the 100 TB train side is never reshuffled;
- sampling is HASH-based (md5 threshold), so it is deterministic,
  reproducible across runs/engines, and needs no RNG state — the only
  sampling style that is auditable at 100 TB;
- packing is per-bucket greedy first-fit via applyInPandas with an
  explicit doc_id % P bucketing, so pack assignments are deterministic
  regardless of cluster size or partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.dedup import shingles
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import broadcast_if_small


def contamination_hits(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(train_id, bench_id, hits): count of distinct shared n-gram
    shingles between each train/benchmark doc pair that shares any.

    The benchmark relation is broadcast — decontamination against a
    curated eval set must never reshuffle the training corpus. Train
    shingles stream through the broadcast hash join and aggregate on
    (train, bench), whose cardinality is bounded by actual overlap."""
    tr = shingles(train, text_col, id_col, n).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    be = shingles(bench, text_col, id_col, n).select(
        F.col(id_col).alias("bench_id"), "shingle"
    )
    return (
        tr.join(F.broadcast(be), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Training docs with ``min_hits``+ shared n-grams against ANY
    benchmark doc are removed (anti-join on the flagged id set)."""
    flagged = (
        contamination_hits(train, bench, text_col, id_col, n)
        .filter(F.col("hits") >= min_hits)
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(flagged, id_col, "left_anti")


_SHINGLE_CTE = """
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i))
"""


@query(
    "q_decontaminate",
    oracle=_SHINGLE_CTE
    + """
        , hits AS (
            SELECT tr.doc_id AS train_id, be.doc_id AS bench_id,
                   count(*) AS hits
            FROM sh tr JOIN sh be ON tr.shingle = be.shingle
            WHERE tr.doc_id >= 50 AND be.doc_id < 50
            GROUP BY 1, 2
        )
        SELECT train_id, bench_id, hits
        FROM hits WHERE hits >= 2
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination report: docs 0-49 stand in for a held-
    out eval set, the rest are the training corpus; emit every
    (train, bench, shared-3-gram count) pair at 2+ hits."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 50)
    train = d.filter(F.col("doc_id") >= 50)
    return contamination_hits(train, bench).filter(F.col("hits") >= 2)


def hash_sample(
    df: DataFrame, rate_expr, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic sampling: keep a row iff the first md5 byte of its
    key is below ``rate_expr`` (a Column of hex-string thresholds,
    '00'-'ff'; '40' keeps ~25%). Hash-threshold sampling is stable
    across runs, partitionings, and engines — reproducibility that
    rand()-based sampling cannot give an audited 100 TB pipeline."""
    bucket = F.substring(F.md5(F.col(key_col).cast("string")), 1, 2)
    return df.filter(bucket < rate_expr)


def fixed_size_sample(
    df: DataFrame, stratum_col: str, m: int, key_col: str = "doc_id"
) -> DataFrame:
    """EXACTLY ``m`` rows per stratum (fewer if the stratum is
    smaller), chosen deterministically: rank rows within each stratum
    by md5(key) and keep the first m. Unlike rate-based hash sampling
    (approximate counts) this pins the output size — the shape an
    eval-set builder or per-domain quota needs — while staying stable
    across runs, partitionings, and engines.

    Scale shape: one shuffle on the stratum key; Spark plans the
    rank-then-filter as WindowGroupLimit (per-partition top-m heaps
    before the exchange), so the shuffle carries only candidate rows,
    not whole strata."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(key_col).cast("string")), key_col
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= m)
        .drop("_rn")
    )


@query(
    "q_sample_fixed_per_group",
    oracle="""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 20
    """,
)
def q_sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, deterministically chosen by md5
    rank — the fixed-quota companion to q_sample_stratified's
    rate-based thresholding. Same rows on any engine and any
    partitioning."""
    d = load_table(spark, sf_dir, "documents")
    return fixed_size_sample(d, "lang", 20).select("doc_id", "lang")


@query(
    "q_sample_stratified",
    oracle="""
        SELECT lang, count(*) AS n_docs
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < CASE WHEN lang = 'en' THEN '40' ELSE '20' END
        GROUP BY lang
        ORDER BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling by language — ~25% of English docs,
    ~12.5% of everything else — via the deterministic md5 threshold;
    returns the per-lang kept counts (the mixing report)."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit("40")).otherwise(F.lit("20"))
    return (
        hash_sample(d, rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


@query(
    "q_token_buckets",
    oracle="""
        SELECT CAST(floor(log2(len(string_split(text, ' ')))) AS BIGINT)
                   AS bucket,
               count(*) AS n_docs,
               min(len(string_split(text, ' '))) AS min_tokens,
               max(len(string_split(text, ' '))) AS max_tokens
        FROM documents
        GROUP BY bucket
        ORDER BY bucket
    """,
)
def q_token_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram — the batch-shaping view a
    packing/padding policy is tuned against."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return (
        d.select(F.floor(F.log2(n_tok)).alias("bucket"), n_tok.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_n").alias("min_tokens"),
            F.max("_n").alias("max_tokens"),
        )
        .orderBy("bucket")
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    tok_col: str = "n_tokens",
    num_buckets: int = 8,
) -> DataFrame:
    """Greedy sequence packing: assign docs to packs of at most
    ``max_tokens`` total tokens (docs longer than the budget get a
    pack of their own). Returns (id, pack_id, pack_tokens).

    Packing is inherently sequential, so it is made deterministic and
    distributed by EXPLICIT bucketing: docs land in ``id % num_buckets``
    buckets (stable under any cluster size / partition count — unlike
    repartitionByRange, whose sampled boundaries vary), and each bucket
    packs its docs in id order inside one applyInPandas group.
    pack_id = bucket * 2^40 + local pack index, globally unique.
    Verified against a pure-python reference in tests/test_pipeline_ops.py.

    Contract: ``id_col`` must be an integral, NON-NEGATIVE column — the
    bucket is ``id % num_buckets`` and the output schema pins it to
    ``long``, so string ids fail analysis and negative ids would forge
    colliding/negative ``bucket << 40`` pack ids. Raises ValueError up
    front for non-integral id columns.
    """
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pack_sequences needs an integral non-negative {id_col!r}; "
            f"got {id_type} — hash or index string ids first"
        )
    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        bucket = int(pdf["_bucket"].iloc[0])
        base = bucket << 40
        pack_ids, pack_totals = [], []
        current, total = 0, 0
        for tok in pdf[tok_col]:
            tok = int(tok)
            if total > 0 and total + tok > max_tokens:
                current += 1
                total = 0
            total += tok
            pack_ids.append(base + current)
            pack_totals.append(total)
        out = pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                "pack_id": pack_ids,
                "_running": pack_totals,
            }
        )
        # final total per pack = last running value in that pack
        out["pack_tokens"] = out.groupby("pack_id")["_running"].transform("max")
        return out.drop(columns=["_running"])

    with_bucket = df.select(
        id_col, tok_col, (F.col(id_col) % num_buckets).alias("_bucket")
    )
    out_schema = f"{id_col} long, pack_id long, pack_tokens long"
    return with_bucket.groupBy("_bucket").applyInPandas(_pack, out_schema)


@query(
    "q_pack_sequences",
    oracle="""
        WITH RECURSIVE docs AS (
            SELECT doc_id, len(string_split(text, ' ')) AS tok,
                   doc_id % 8 AS bucket,
                   row_number() OVER (PARTITION BY doc_id % 8
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        packed AS (
            SELECT bucket, rn, doc_id, tok, 0 AS pack, tok AS total
            FROM docs WHERE rn = 1
            UNION ALL
            SELECT d.bucket, d.rn, d.doc_id, d.tok,
                   CASE WHEN p.total + d.tok > 2048
                        THEN p.pack + 1 ELSE p.pack END,
                   CASE WHEN p.total + d.tok > 2048
                        THEN d.tok ELSE p.total + d.tok END
            FROM packed p
            JOIN docs d ON d.bucket = p.bucket AND d.rn = p.rn + 1
        )
        SELECT doc_id, (bucket * 1099511627776) + pack AS pack_id,
               max(total) OVER (PARTITION BY bucket, pack) AS pack_tokens
        FROM packed
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 2048-token training sequences; emit
    (doc_id, pack_id, pack_tokens). Deterministic per the bucketed
    greedy scheme; equivalence to a sequential reference packer is
    pinned in tests/test_pipeline_ops.py, and the DuckDB oracle
    replays the same greedy scan as a recursive CTE (one step per doc
    per bucket; 1099511627776 = 2^40, the bucket stride)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return pack_sequences(d, max_tokens=2048)


@query(
    "q_domain_mix",
    oracle="""
        WITH w AS (
            SELECT lang, sum(len(string_split(text, ' '))) AS toks
            FROM documents GROUP BY lang
        ),
        tgt(lang, share) AS (
            VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
                   ('fr', 0.15), ('zh', 0.15)
        ),
        j AS (SELECT w.lang, toks, share FROM w JOIN tgt ON w.lang = tgt.lang),
        b AS (SELECT min(toks / share) AS budget FROM j)
        SELECT lang, CAST(toks AS BIGINT) AS available_tokens,
               CAST(floor(share * budget) AS BIGINT) AS target_tokens,
               round(least(1.0, share * budget / toks), 4) AS keep_rate
        FROM j, b
        ORDER BY lang
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing planner: given a target token share per language,
    compute each domain's keep rate. The total budget is bound by the
    SCARCEST domain relative to its share (min over toks/share), so
    exactly one domain keeps 100% and the rest downsample — the
    standard way a pre-training mix is rebalanced without upsampling.
    Feed the rates into hash_sample for the actual deterministic cut.
    Aggregates are per-domain (5 rows); the budget is a one-row
    broadcast — nothing corpus-sized moves."""
    from real_time_data_anomaly_detection_spark.io import local_df

    targets = local_df(
        spark,
        [("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)],
        "lang string, share double",
    )
    d = load_table(spark, sf_dir, "documents")
    w = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("toks")
    )
    j = w.join(F.broadcast(targets), "lang")
    budget = j.agg(F.min(F.col("toks") / F.col("share")).alias("_budget"))
    return (
        j.join(F.broadcast(budget))
        .select(
            "lang",
            F.col("toks").alias("available_tokens"),
            F.floor(F.col("share") * F.col("_budget"))
            .cast("bigint")
            .alias("target_tokens"),
            F.round(
                F.least(
                    F.lit(1.0), F.col("share") * F.col("_budget") / F.col("toks")
                ),
                4,
            ).alias("keep_rate"),
        )
        .orderBy("lang")
    )


@query(
    "q_ngram_freq",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
            SELECT t[i] || ' ' || t[i+1] AS bigram
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        )
        SELECT bigram, count(*) AS freq
        FROM grams
        GROUP BY bigram
        ORDER BY freq DESC, bigram
        LIMIT 50
    """,
)
def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigram frequencies — the pair-count table
    BPE/vocabulary training starts from. One explode + one partial-
    aggregated groupBy; top-k is TakeOrderedAndProject (never a
    global sort). Unlike the dedup shingle relation this keeps
    DUPLICATE n-grams per doc — frequency is the point."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    idx = F.sequence(F.lit(0), F.size("t") - 2)
    bigram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at("t", i + 1), F.element_at("t", i + 2)
    )
    return (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(F.transform(idx, lambda i: bigram(i))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "q_quality_weighted_sample",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')) AS ttr
            FROM documents
        ),
        tiered AS (
            SELECT doc_id, lang,
                   CASE WHEN ttr >= 0.9 THEN '80'
                        WHEN ttr >= 0.7 THEN '40'
                        ELSE '10' END AS rate
            FROM scored
        )
        SELECT lang, rate AS quality_tier, count(*) AS n_kept
        FROM tiered
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < rate
        GROUP BY lang, rate
        ORDER BY lang, rate
    """,
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: keep probability scales with a
    quality proxy (type-token ratio tier: >=0.9 keeps ~50%, >=0.7
    keeps ~25%, rest ~6%) — the standard way a pre-training pipeline
    spends its token budget on higher-quality text without a hard
    cutoff. Same deterministic md5-threshold mechanism as hash_sample,
    with the threshold now a per-row column."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    rate = (
        F.when(ttr >= 0.9, F.lit("80"))
        .when(ttr >= 0.7, F.lit("40"))
        .otherwise(F.lit("10"))
    )
    return (
        hash_sample(d.withColumn("_rate", rate), F.col("_rate"))
        .groupBy("lang", F.col("_rate").alias("quality_tier"))
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("lang", "quality_tier")
    )


def dsir_log_weights(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-doc
    log(p_target(x)/p_raw(x)) under Laplace-smoothed unigram
    bag-of-words models, where the target distribution is the rows
    matching ``target_pred`` (a boolean Column) and raw is the whole
    corpus. Docs that look like the target get positive weights; DSIR
    then samples the corpus ∝ exp(weight) to tilt a 100 TB raw crawl
    toward a curated target domain.

    Plan shape (all linear): one explode → two partial-aggregated
    shuffles (per-(doc,term) counts; per-term corpus/target counts —
    computed from the SAME token relation, so Catalyst reuses the
    scan), a shuffle join on term, two ONE-ROW broadcast scalars
    (corpus totals, vocabulary size), and a final per-doc sum. At
    real scale the term dimension is bounded by hashing features
    (xxhash64(term) % 2^20 — one extra projection, same plan); the
    declared query keeps raw unigrams so the DuckDB oracle can replay
    it exactly."""
    tok = df.select(
        F.col(id_col), target_pred.alias("_is_tgt"), F.explode(F.split(text_col, " ")).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("c"))
    stats = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("ct"),
    )
    tot = tok.agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("nt"),
    )
    voc = stats.agg(F.count(F.lit(1)).alias("v"))
    log_ratio = F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v"))) - F.log(
        (F.col("cr") + 1.0) / (F.col("nr") + F.col("v"))
    )
    return (
        tf.join(stats, "term")
        .join(F.broadcast(tot))
        .join(F.broadcast(voc))
        .groupBy(id_col)
        # + 0.0 normalizes IEEE negative zero: a tiny negative sum
        # rounds to -0.0, which one engine prints as -0.0 and the other
        # as 0.0 (surfaced as a value-hash mismatch at sf0.1)
        .agg(
            (F.round(F.sum(F.col("c") * log_ratio), 4) + F.lit(0.0)).alias(
                "log_weight"
            )
        )
    )


@query(
    "q_dsir_weights",
    oracle="""
        WITH tok AS (SELECT doc_id, lang = 'en' AS is_tgt,
                            unnest(string_split(text, ' ')) AS term
                     FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        stats AS (SELECT term, count(*) AS cr,
                         count(*) FILTER (WHERE is_tgt) AS ct
                  FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS nr,
                       count(*) FILTER (WHERE is_tgt) AS nt FROM tok),
        voc AS (SELECT count(*) AS v FROM stats)
        SELECT tf.doc_id,
               round(sum(tf.c * (ln((ct + 1.0) / (nt + v))
                               - ln((cr + 1.0) / (nr + v)))), 4) + 0.0
                   AS log_weight
        FROM tf JOIN stats USING (term) CROSS JOIN tot CROSS JOIN voc
        GROUP BY 1
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over documents with English as the
    target distribution (the fixture's natural curated/raw split —
    the mechanism is predicate-agnostic). English-looking docs score
    positive log-weights; tests additionally pin sign separation on a
    constructed two-domain corpus."""
    d = load_table(spark, sf_dir, "documents")
    return dsir_log_weights(d, F.col("lang") == "en")


def weighted_topk_sample(
    df: DataFrame,
    weight_col,
    m: int,
    stratum_col: str | None = None,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis–Spirakis
    A-ES: each row gets the key ln(u)/w (u a deterministic md5-derived
    uniform in (0,1), w its positive weight) and the top-``m`` keys
    per stratum are the sample. Inclusion probability scales with
    weight, the output size is pinned at m, and — unlike the
    rate-based ``hash_sample`` tiers — weights stay CONTINUOUS.

    Deterministic by construction (u from md5(key), total order with
    key tiebreak), so the same sample comes back on any run, any
    partitioning, any engine — the auditability contract all the
    samplers here share.

    Scale shape: same as ``fixed_size_sample`` — one shuffle on the
    stratum, with Spark's WindowGroupLimit running per-partition
    top-m heaps before the exchange, so the shuffle carries candidate
    rows only."""
    from pyspark.sql import Window

    u32 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    # +0.5 keeps u strictly inside (0,1): ln(0) is -inf and u=1 would
    # collapse all weights to key 0.
    u = (u32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / weight_col
    strata = [stratum_col] if stratum_col else []
    w = Window.partitionBy(*strata).orderBy(F.desc("_aes_key"), key_col)
    return (
        df.withColumn("_aes_key", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= m)
        .drop("_aes_key", "_rn")
    )


@query(
    "q_weighted_topk_sample",
    oracle="""
        SELECT lang, doc_id FROM (
            SELECT lang, doc_id,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                                   / 4294967296.0)
                                / (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                   / len(string_split(text, ' '))) DESC,
                            doc_id) AS rn
            FROM documents)
        WHERE rn <= 20
        ORDER BY lang, doc_id
    """,
)
def q_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, drawn WITHOUT replacement with
    probability proportional to a continuous quality weight (the
    type-token ratio) via the A-ES exponential-key trick; oracle
    replays the identical ln(u)/w ranking."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return (
        weighted_topk_sample(d.withColumn("_w", ttr), F.col("_w"), 20, "lang")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@query(
    "q_curation_pipeline",
    oracle="""
        WITH stats AS (
            SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')) AS ttr
            FROM documents),
        quality AS (
            SELECT doc_id, text FROM stats
            WHERE n_tokens >= 10 AND ttr >= 0.3),
        dedup AS (
            SELECT doc_id FROM (
                SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keeper
                FROM quality)
            WHERE doc_id = keeper),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
        flagged AS (
            SELECT DISTINCT train_id AS doc_id FROM (
                SELECT tr.doc_id AS train_id, be.doc_id AS bench_id
                FROM sh tr JOIN sh be ON tr.shingle = be.shingle
                WHERE tr.doc_id >= 50 AND be.doc_id < 50
                GROUP BY 1, 2 HAVING count(*) >= 2)),
        decon AS (
            SELECT doc_id FROM dedup
            WHERE doc_id >= 50
              AND doc_id NOT IN (SELECT doc_id FROM flagged)),
        sampled AS (
            SELECT doc_id FROM decon
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
        dig AS (
            SELECT ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       AS dg
            FROM sampled)
        SELECT dg % 4 AS shard, count(*) AS n_docs,
               CAST(sum(dg) AS BIGINT) AS checksum
        FROM dig GROUP BY 1 ORDER BY 1
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE declared query: quality
    gate (length + type-token ratio) → exact dedup (min-id survivor
    per sha2 digest) → benchmark decontamination (docs < 50 as the
    eval set, ≥2 shared 3-grams removes) → deterministic ~50% hash
    sample → 4-shard manifest with content checksums. Every stage
    composes lazily — Catalyst sees one plan, so the quality filter
    prunes before the dedup shuffle and the decontamination join
    broadcasts the benchmark side; nothing materializes between
    'steps'. The oracle replays the identical chain as CTEs."""
    from pyspark.sql import Window as W

    from real_time_data_anomaly_detection_spark.operators.sharding import (
        shard_manifest,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    quality = d.select("doc_id", "text").filter(
        (F.size(toks) >= 10) & (ttr >= 0.3)
    )
    survivors = (
        quality.withColumn("_fp", F.sha2("text", 256))
        .withColumn("_keeper", F.min("doc_id").over(W.partitionBy("_fp")))
        .filter(F.col("doc_id") == F.col("_keeper"))
        .select("doc_id", "text")
    )
    clean = decontaminate(
        survivors.filter(F.col("doc_id") >= 50),
        d.filter(F.col("doc_id") < 50),
    )
    sampled = hash_sample(clean, F.lit("80"))
    return shard_manifest(sampled, "doc_id", 4, hasher="md5")


# Deterministic messy-URL synthesis shared by the Spark query and the
# DuckDB oracle (documents.source is a bare label, so the crawl-URL
# shape is derived from doc fields — identical SQL text on both
# engines). Variants exercise every canonicalization rule: mixed-case
# scheme/host, the www. prefix, default ports, utm_* tracking params,
# fragments, and trailing slashes.
_SYNTH_URL_SQL = """
    CASE doc_id % 3
      WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/docs/'
                  || lang || '/page' || CAST(doc_id % 40 AS STRING)
                  || '?utm_source=feed&q=' || lang || '#frag'
      WHEN 1 THEN 'http://' || source || '.example.com:80/docs/'
                  || lang || '/page' || CAST(doc_id % 40 AS STRING) || '/'
      ELSE 'https://' || source || '.example.com/docs/'
           || lang || '/page' || CAST(doc_id % 40 AS STRING)
           || '?q=' || lang || '&utm_campaign=x'
    END
"""


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds (scheme, host, path, canon_url) — the C4/RefinedWeb ingest
    canonicalization every crawl pipeline applies before URL-level
    dedup: lowercase scheme and host, strip the ``www.`` prefix, drop
    the default port (parse_url's HOST already excludes ports), strip
    one trailing slash from the path, drop the fragment, and drop
    ``utm_*`` tracking parameters while preserving the remaining query
    string in its original order.

    Built on ``parse_url`` (JVM expression, codegen'd) — no Python
    touches the URL column. Empty query strings collapse: the
    canonical form carries '?' only when a non-tracking parameter
    survives."""
    scheme = F.lower(F.parse_url(F.col(url_col), F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.parse_url(F.col(url_col), F.lit("HOST"))), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.parse_url(F.col(url_col), F.lit("PATH")), r"/$", ""
    )
    q = F.coalesce(F.parse_url(F.col(url_col), F.lit("QUERY")), F.lit(""))
    kept_q = F.array_join(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != F.lit("")) & (~p.startswith("utm_")),
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept_q)),
    )
    return df.withColumns(
        {
            "scheme": scheme,
            "host": host,
            "path": path,
            "canon_url": canon,
        }
    )


def url_host_cap(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    cap: int = 15,
) -> DataFrame:
    """URL-canonical dedup + per-host quota — the two ingest gates a
    crawl pipeline applies before any content-level dedup: (1) keep
    only the NEWEST doc (max id) per canonical URL, then (2) cap docs
    per host at ``cap``, newest first — the skew-safe quota that stops
    one boilerplate-heavy host from dominating the corpus.

    Scale shape: ONE host-keyed exchange feeds everything — the
    explicit repartition on host satisfies ClusteredDistribution for
    BOTH windows (hash(host) clusters (host, canon_url) too), so the
    per-URL dedup window, the filter, and the per-host cap window all
    run without re-shuffling, and Spark plans the rank-then-filter
    pair as WindowGroupLimit (per-partition top-k heaps before the
    exchange). Document text never enters the exchange — only (id,
    host, canon_url)."""
    from pyspark.sql import Window

    c = canonicalize_urls(df, url_col).select(id_col, "host", "canon_url")
    c = c.repartition(F.col("host"))
    w_url = Window.partitionBy("host", "canon_url").orderBy(
        F.col(id_col).desc()
    )
    w_host = Window.partitionBy("host").orderBy(F.col(id_col).desc())
    return (
        c.withColumn("_rn_url", F.row_number().over(w_url))
        .filter(F.col("_rn_url") == 1)
        .withColumn("_rn_host", F.row_number().over(w_host))
        .filter(F.col("_rn_host") <= cap)
        .select("host", id_col, "canon_url")
        .orderBy("host", id_col)
    )


@query(
    "q_url_host_cap",
    oracle="""
        WITH u AS (
            SELECT doc_id, """ + _SYNTH_URL_SQL + """ AS url
            FROM documents),
        c AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '^([A-Za-z]+)://', 1))
                       AS scheme,
                   regexp_replace(regexp_replace(
                       lower(regexp_extract(url,
                                            '^[A-Za-z]+://([^/?#]+)', 1)),
                       ':[0-9]+$', ''), '^www\\.', '') AS host,
                   regexp_replace(
                       regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)',
                                      1),
                       '/$', '') AS path,
                   coalesce(array_to_string(
                       list_filter(
                           string_split(
                               regexp_extract(url, '\\?([^#]*)', 1), '&'),
                           p -> p <> '' AND NOT starts_with(p, 'utm_')),
                       '&'), '') AS kq
            FROM u),
        canon AS (
            SELECT doc_id, host,
                   scheme || '://' || host || path
                   || CASE WHEN kq = '' THEN '' ELSE '?' || kq END
                       AS canon_url
            FROM c),
        newest AS (
            SELECT * FROM (
                SELECT host, doc_id, canon_url,
                       row_number() OVER (PARTITION BY host, canon_url
                                          ORDER BY doc_id DESC) AS rn
                FROM canon) WHERE rn = 1),
        capped AS (
            SELECT * FROM (
                SELECT host, doc_id, canon_url,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY doc_id DESC) AS rn
                FROM newest) WHERE rn <= 15)
        SELECT host, doc_id, canon_url
        FROM capped ORDER BY host, doc_id
    """,
)
def q_url_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + keep-newest URL dedup + 15-doc-per-host
    quota over a deterministic messy-URL synthesis (mixed-case
    scheme/host, www., default ports, utm_* params, fragments,
    trailing slashes). The Spark side canonicalizes via parse_url;
    the oracle replays the same rules with DuckDB string ops — so the
    canonicalization algebra itself is hash-checked cross-engine, not
    just the quota arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_SYNTH_URL_SQL).alias("url"))
    return url_host_cap(u, "url", "doc_id", cap=15)


@query(
    "q_url_dedup_report",
    oracle="""
        WITH u AS (
            SELECT doc_id, """ + _SYNTH_URL_SQL + """ AS url
            FROM documents),
        c AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '^([A-Za-z]+)://', 1))
                       AS scheme,
                   regexp_replace(regexp_replace(
                       lower(regexp_extract(url,
                                            '^[A-Za-z]+://([^/?#]+)', 1)),
                       ':[0-9]+$', ''), '^www\\.', '') AS host,
                   regexp_replace(
                       regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)',
                                      1),
                       '/$', '') AS path,
                   coalesce(array_to_string(
                       list_filter(
                           string_split(
                               regexp_extract(url, '\\?([^#]*)', 1), '&'),
                           p -> p <> '' AND NOT starts_with(p, 'utm_')),
                       '&'), '') AS kq
            FROM u),
        canon AS (
            SELECT doc_id, host,
                   scheme || '://' || host || path
                   || CASE WHEN kq = '' THEN '' ELSE '?' || kq END
                       AS canon_url
            FROM c)
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT canon_url) AS BIGINT) AS n_urls,
               CAST(least(count(DISTINCT canon_url), 15) AS BIGINT)
                   AS n_kept,
               CAST(((count(*) - count(DISTINCT canon_url)) * 1000000)
                    // count(*) AS BIGINT) AS dup_ppm
        FROM canon GROUP BY host ORDER BY host
    """,
)
def q_url_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl ingest report over the same canonicalization as
    q_url_host_cap: docs fetched, distinct canonical URLs, docs the
    15-per-host quota would keep, and the URL-duplication rate in ppm
    (integer floor division — engine-identical BIGINT arithmetic).
    The report a crawl operator reads before committing an ingest:
    which hosts are boilerplate mills (high dup_ppm) and where the
    quota binds (n_kept < n_urls).

    Scale shape: one host-keyed partial-aggregated exchange; the
    distinct-URL count rides the same exchange (host, canon_url are
    co-clustered); output is |hosts| rows."""
    d = load_table(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_SYNTH_URL_SQL).alias("url"))
    c = canonicalize_urls(u, "url").select("host", "canon_url")
    return (
        c.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct(F.col("canon_url"))
            .cast("bigint")
            .alias("n_urls"),
            F.least(
                F.count_distinct(F.col("canon_url")), F.lit(15).cast("long")
            )
            .cast("bigint")
            .alias("n_kept"),
            F.expr(
                "CAST(((count(*) - count(DISTINCT canon_url)) * 1000000)"
                " div count(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
        .orderBy("host")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    total: int = 200,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based group rebalancing (the multilingual
    α-sampling of XLM-R / mT5): sample group g with probability
    ∝ n_g^α, flattening the head so low-resource groups are not
    drowned (α=1 keeps natural proportions; α→0 approaches uniform).
    Returns the kept rows.

    Determinism at 100 TB comes from the hash_sample idiom with
    DATA-DERIVED thresholds: a doc is kept iff its 40-bit md5 prefix
    < floor(r_g·2^40) with r_g = min(1, total·p_g / n_g) — a pure
    function of (id, counts), reproducible anywhere, no RNG.
    Expected group sizes hit total·p_g (binomial concentration);
    exact-size quotas would need fixed_size_sample instead.

    Bit-identical cross-engine thresholds hold for the default
    α = 0.5: weights are QUANTIZED to exact integers
    w_g = floor(sqrt(n_g)·2^20) (sqrt is IEEE-required correctly
    rounded, a power-of-two multiply is exact, floor has no
    rounding-tie ambiguity), so the weight SUM is an
    order-independent BIGINT sum and the rate chain
    total × (w/ws) / n passes only correctly-rounded /,× over
    bit-identical operands. For other α the weight is Math.pow,
    which the JVM permits to differ from libm by 1 ulp — a boundary
    keep decision can then differ across engines; treat non-0.5 α
    as deterministic-per-engine, not cross-engine-exact.

    Scale shape: one |groups|-row count aggregation, a one-row
    weight-sum broadcast, a broadcast join of the |groups|-row
    threshold table back onto the corpus, then the map-side md5
    filter — nothing corpus-sized shuffles."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    if alpha == 0.5:
        # exact integer weights: order-independent sum, bit-equal
        # thresholds on every engine
        wexpr = F.floor(
            F.sqrt(F.col("_n").cast("double")) * F.lit(1048576.0)
        ).cast("bigint")
    else:
        wexpr = F.pow(F.col("_n").cast("double"), alpha)
    w = counts.select(group_col, "_n", wexpr.alias("_w"))
    tot = w.agg(F.sum("_w").alias("_ws"))
    thr = w.join(F.broadcast(tot)).select(
        group_col,
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(float(total))
                * (F.col("_w").cast("double") / F.col("_ws").cast("double"))
                / F.col("_n").cast("double"),
            )
            * F.lit(1099511627776.0)  # 2^40
        )
        .cast("bigint")
        .alias("_thr"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 10), 16, 10
    ).cast("bigint")
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(bucket < F.col("_thr"))
        .drop("_thr")
    )


@query(
    "q_temperature_mix",
    oracle="""
        WITH c AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        w AS (SELECT lang, n,
                     CAST(floor(sqrt(n::DOUBLE) * 1048576.0) AS BIGINT)
                         AS wt
              FROM c),
        s AS (SELECT sum(wt) AS ws FROM w),
        thr AS (
            SELECT lang,
                   CAST(floor(least(1.0,
                                    200.0 * (wt::DOUBLE / ws::DOUBLE)
                                    / n::DOUBLE)
                              * 1099511627776.0) AS BIGINT) AS t
            FROM w, s),
        kept AS (
            SELECT d.lang
            FROM documents d JOIN thr ON d.lang = thr.lang
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 10))
                      ::BIGINT < thr.t)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY lang ORDER BY lang
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature rebalancing of the documents corpus toward a
    200-doc mix: per-language kept counts under sqrt-flattened
    sampling — low-resource languages keep a larger fraction than
    English (the XLM-R recipe). The md5-threshold decisions are
    bit-identical cross-engine because the data-derived rates pass
    through correctly-rounded double ops only."""
    d = load_table(spark, sf_dir, "documents")
    kept = temperature_sample(d, "lang", alpha=0.5, total=200)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
        .orderBy("lang")
    )


def ingest_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental crawl ingest: admit only batch docs that are new by
    BOTH content (exact text) and canonical URL — against the existing
    corpus and within the batch itself (min-id wins intra-batch).

    The 100 TB-critical shape is the anti-join DIRECTION: the batch is
    normally orders of magnitude smaller than the corpus, so
    ``batch LEFT ANTI corpus`` must never become a corpus shuffle.
    Both key kinds ride ONE corpus pass: each side explodes into
    tagged (kind, key) rows — ('d', sha2-digest) and ('u',
    canon_url) — so a single semi-join finds every already-seen key
    of either kind (content keys are sha2-256 digests, the
    exact-dedup digest discipline: text never enters a join; URL
    keys are the canonicalize_urls canonical form). Three hops:
    (1) corpus keys ⋉ batch keys → the already-seen (kind, key) set
    (≤ 2·|batch| rows); (2) batch keys ⋉ seen → the hit doc-ids;
    (3) batch ▷ hit ids.

    The batch side of every hop goes through
    plans.inspect.broadcast_if_small, gated on ``batch``: a
    micro-batch broadcasts and the corpus is scanned once, SHUFFLED
    NEVER; a backfill-sized batch makes all three hops key-keyed
    shuffle joins, where the corpus is still scanned once and only
    its (kind, key) projection exchanges, never documents.
    """
    c = canonicalize_urls(corpus, url_col).select(
        F.sha2(F.col(text_col), 256).alias("_dig"), F.col("canon_url")
    )
    return ingest_dedup_keys(c, batch, url_col, text_col, id_col).select(
        id_col, "canon_url"
    )


def ingest_dedup_keys(
    corpus_keys: DataFrame,
    batch: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The :func:`ingest_dedup` core against a PRE-COMPUTED corpus key
    frame ``corpus_keys`` (columns ``_dig``, ``canon_url``) — what a
    persisted ingest index stores, so repeated incremental runs never
    re-scan or re-digest corpus documents. Returns the admitted batch rows as
    (id, _dig, canon_url) — the digest rides along so admissions can
    be appended straight back into the index."""
    b = canonicalize_urls(batch, url_col).select(
        id_col,
        F.sha2(F.col(text_col), 256).alias("_dig"),
        F.col("canon_url"),
    )
    c = corpus_keys.select("_dig", "canon_url")

    def _tagged(df: DataFrame, *extra: str) -> DataFrame:
        kk = F.explode(
            F.array(
                F.struct(
                    F.lit("d").alias("kind"), F.col("_dig").alias("key")
                ),
                F.struct(
                    F.lit("u").alias("kind"), F.col("canon_url").alias("key")
                ),
            )
        ).alias("kk")
        return df.select(*extra, kk).select(*extra, "kk.kind", "kk.key")

    ck = _tagged(c)  # ONE corpus pass covers both key kinds
    bk = _tagged(b, id_col)
    b_keys = bk.select("kind", "key").distinct()

    seen = (
        ck.join(broadcast_if_small(b_keys, batch), ["kind", "key"], "left_semi")
        .select("kind", "key")
        .distinct()
    )
    hit_ids = (
        bk.join(broadcast_if_small(seen, batch), ["kind", "key"], "left_semi")
        .select(id_col)
        .distinct()
    )
    fresh = b.join(broadcast_if_small(hit_ids, batch), id_col, "left_anti")
    from pyspark.sql import Window

    w_d = Window.partitionBy("_dig")
    w_u = Window.partitionBy("canon_url")
    return (
        fresh.withColumn("_md", F.min(id_col).over(w_d))
        .withColumn("_mu", F.min(id_col).over(w_u))
        .filter((F.col(id_col) == F.col("_md")) & (F.col(id_col) == F.col("_mu")))
        .select(id_col, "_dig", "canon_url")
        .orderBy(id_col)
    )


@query(
    "q_ingest_dedup",
    oracle="""
        WITH u AS (
            SELECT doc_id, text, """ + _SYNTH_URL_SQL + """ AS url
            FROM documents),
        c0 AS (
            SELECT doc_id, text,
                   lower(regexp_extract(url, '^([A-Za-z]+)://', 1))
                       AS scheme,
                   regexp_replace(regexp_replace(
                       lower(regexp_extract(url,
                                            '^[A-Za-z]+://([^/?#]+)', 1)),
                       ':[0-9]+$', ''), '^www\\.', '') AS host,
                   regexp_replace(
                       regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)',
                                      1),
                       '/$', '') AS path,
                   coalesce(array_to_string(
                       list_filter(
                           string_split(
                               regexp_extract(url, '\\?([^#]*)', 1), '&'),
                           p -> p <> '' AND NOT starts_with(p, 'utm_')),
                       '&'), '') AS kq
            FROM u),
        canon AS (
            SELECT doc_id, text,
                   scheme || '://' || host || path
                   || CASE WHEN kq = '' THEN '' ELSE '?' || kq END
                       AS canon_url
            FROM c0),
        corpus AS (SELECT * FROM canon WHERE doc_id < 400),
        batch AS (SELECT * FROM canon WHERE doc_id >= 400),
        fresh AS (
            SELECT b.* FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
              AND NOT EXISTS (SELECT 1 FROM corpus c
                              WHERE c.canon_url = b.canon_url)),
        dedup AS (
            SELECT doc_id, canon_url,
                   min(doc_id) OVER (PARTITION BY text) AS md,
                   min(doc_id) OVER (PARTITION BY canon_url) AS mu
            FROM fresh)
        SELECT doc_id, canon_url FROM dedup
        WHERE doc_id = md AND doc_id = mu
        ORDER BY doc_id
    """,
)
def q_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest of a new crawl batch (doc_id >= 400) against
    the existing corpus (doc_id < 400): admit only docs new by exact
    content AND canonical URL, min-id wins intra-batch. The corpus
    side is scanned once and never shuffled (two-hop broadcast
    anti-join — see ingest_dedup); the oracle replays content equality
    directly and the URL algebra with string ops."""
    d = load_table(spark, sf_dir, "documents")
    u = d.select("doc_id", "text", F.expr(_SYNTH_URL_SQL).alias("url"))
    corpus = u.filter(F.col("doc_id") < 400)
    batch = u.filter(F.col("doc_id") >= 400)
    return ingest_dedup(corpus, batch)
