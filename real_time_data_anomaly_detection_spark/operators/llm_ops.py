"""LLM-training-data pipeline operators over documents/embeddings.

North-star additions beyond the reference surface (SURVEY.md §2.2
"LLM ops"): exact dedup, text token analysis, per-language stats,
exact cosine top-k similarity search. Approximate variants (MinHash,
SimHash, LSH ANN) live in dedup.py / similarity.py with their own
non-oracle tests.

All operators are scale-first: dedup is a hash aggregate (map-side
combine), token analysis is explode+agg (no driver collect), cosine
top-k broadcasts the probe vector and computes JVM-side with
higher-order array functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query


@query(
    "q_dedup_exact",
    oracle="""
        SELECT lang, count(DISTINCT text) AS n_distinct, count(*) AS n_docs
        FROM documents GROUP BY lang
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting per language: distinct texts vs total docs.

    Counts DISTINCT over sha2(text, 256) so the distinct-aggregate
    exchange carries 32-byte digests instead of full documents — at
    100 TB that is the difference between shuffling ~100 TB of text and
    ~3 TB of hashes. Equal to
    count(DISTINCT text) up to SHA-256 collisions; NULL handling
    matches (sha2(NULL) is NULL, ignored by countDistinct either way).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_distinct"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "q_text_tokens",
    oracle="""
        SELECT token, count(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ) GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + global token counts, top 20.

    explode → groupBy is fully distributed; Spark's TakeOrderedAndProject
    handles the limit without a global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "q_text_stats",
    oracle="""
        SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document stats."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars").cast("double"), 4).alias("avg_chars"),
    )


@query(
    "q_token_count",
    oracle="""
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count (whitespace tokenizer)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))


@query(
    "q_cosine_topk",
    oracle="""
        WITH probe AS (
            SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0
        )
        SELECT vec_id,
               round(list_cosine_similarity(embedding::DOUBLE[], p), 4) AS cos_sim
        FROM embeddings, probe
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 nearest neighbors to the vec_id=0 probe.

    The probe is collected once (a single 64-float row — not a data-path
    collect) and inlined as a literal array, so the scan side needs no
    join at all: one pass, JVM-side higher-order functions, then
    TakeOrderedAndProject. At 100 TB this is the brute-force baseline;
    similarity.py adds the LSH-bucketed scale path.
    """
    from real_time_data_anomaly_detection_spark.functions.vector import (
        array_lit,
        cosine_similarity,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    probe_col = array_lit(probe)
    return (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), probe_col), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "q_bpe_pretokens",
    oracle=r"""
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '''(?:[sdmt]|ll|ve|re)|\p{L}+|\p{N}|[^\s\p{L}\p{N}]+'))
                   AS n_pretokens
        FROM documents
    """,
)
def q_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenizer count (GPT-2-family pretokenization,
    lookahead-free so Java regex and RE2 agree): contraction suffixes,
    letter runs, single digits, punctuation runs. The count a tokenizer
    budget/pricing pass needs, entirely JVM-side via regexp_count."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"'(?:[sdmt]|ll|ve|re)|\p{L}+|\p{N}|[^\s\p{L}\p{N}]+"
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).cast("bigint").alias("n_pretokens"),
    )


@query(
    "q_hash_embed",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
        tf AS (SELECT doc_id,
                      ('0x' || substr(md5(term), 1, 8))::BIGINT % 16 AS bucket,
                      count(*) AS c
               FROM tok GROUP BY 1, 2)
        SELECT doc_id, bucket,
               round(c / sqrt(sum(c * c) OVER (PARTITION BY doc_id)), 4) AS weight
        FROM tf
    """,
)
def q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document featurizer: 16-bucket bag-of-words
    vectors in sparse long form (doc_id, bucket, L2-normalized
    weight) — the model-free embedding every similarity/clustering op
    here can consume, and DETERMINISTIC across engines because the
    bucket hash is md5-derived (both engines implement RFC 1321;
    xxhash64 would be faster but has no DuckDB twin — swapping it in
    changes no plan shape). One explode + one partial-aggregated
    shuffle + a per-doc window for the norm; at scale the bucket
    count is the memory knob (real deployments use 2^18-2^20)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    bucket = (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint") % 16)
    tf = tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    norm = F.sqrt(F.sum(F.col("c") * F.col("c")).over(W.partitionBy("doc_id")))
    return tf.select(
        "doc_id", "bucket", F.round(F.col("c") / norm, 4).alias("weight")
    )


@query(
    "q_embed_drift",
    oracle="""
        WITH j AS (
            SELECT d.lang, d.doc_id, e.embedding AS emb
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        ex AS (
            SELECT lang, doc_id % 2 = 0 AS is_ref, u.i AS dim,
                   CAST(floor(emb[i]::DOUBLE * 1024.0) AS BIGINT) AS fx
            FROM j, UNNEST(generate_series(1, len(emb))) AS u(i)),
        per_dim AS (
            SELECT lang, dim,
                   sum(CASE WHEN is_ref THEN fx ELSE 0 END) AS sum_r,
                   sum(CASE WHEN NOT is_ref THEN fx ELSE 0 END) AS sum_c,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_r,
                   sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_c
            FROM ex GROUP BY 1, 2),
        per_lang AS (
            SELECT lang,
                   any_value(n_r) AS n_ref, any_value(n_c) AS n_cur,
                   sum((sum_r * n_c - sum_c * n_r)
                       * (sum_r * n_c - sum_c * n_r)) AS drift_sq
            FROM per_dim GROUP BY 1)
        SELECT lang, CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               round(sqrt(drift_sq::DOUBLE)
                     / (n_ref * n_cur * 1024.0), 4) AS drift
        FROM per_lang ORDER BY lang
    """,
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding-distribution drift monitor: the L2
    distance between the centroid of the REFERENCE half (even doc_id)
    and the CURRENT half (odd doc_id) of each language's embeddings —
    the data-quality check a training pipeline runs when a new crawl
    lands (did the feed's distribution move?).

    Bit-determinism discipline: components are quantized to 2^-10
    fixed point via floor(x * 1024) — multiplying a float by a power
    of two is EXACT in IEEE arithmetic and floor has no rounding-tie
    ambiguity, so both engines produce identical BIGINTs (vs
    round(x*1e6), whose half-boundary behavior is engine-specific).
    Centroid differences then stay in integer algebra — the mean
    difference per dim is the rational (sum_r·n_c − sum_c·n_r) /
    (n_r·n_c), squared and summed as exact BIGINTs — and only the
    final sqrt/divide touches doubles, on engine-identical integers.
    Overflow bound (exact, worst case): with |x| ≤ 1 each |sum| ≤
    2^10·n, so |d_num| ≤ 2·2^10·n_r·n_c ≤ 2^9·n² and the D-dim sum of
    squares is ≤ D·2^18·n⁴ — at D=64 that crosses int64 near n ≈ 850
    docs/language, and only a few thousand even for zero-centered
    real data (Spark's sum(BIGINT) wraps silently there while DuckDB
    promotes to HUGEINT, so the engines would diverge, not error).
    The fixture is far below the bound; past ~500 docs/lang the right
    move is a deterministic hash_sample of each side anyway — the
    centroid error shrinks as 1/√sample, the sample is replayable,
    and the monitor's cost becomes bounded per (lang, snapshot)
    regardless of corpus size.

    Scale shape: one equi-join (embeddings ⋈ docs on id), one
    posexplode, one (lang, dim)-keyed partial-aggregated shuffle
    (output rows = |langs|·dims regardless of corpus size), then a
    |langs|-row reduction. Nothing corpus-sized past the first
    aggregation."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings")
    j = e.join(d, e["vec_id"] == d["doc_id"]).select(
        "lang", "doc_id", "embedding"
    )
    ex = j.select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "lang",
        "is_ref",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(1024.0))
        .cast("bigint")
        .alias("fx"),
    )
    per_dim = ex.groupBy("lang", "dim").agg(
        F.sum(F.when(F.col("is_ref"), F.col("fx")).otherwise(0)).alias("sum_r"),
        F.sum(F.when(~F.col("is_ref"), F.col("fx")).otherwise(0)).alias("sum_c"),
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_c"),
    )
    d_num = F.col("sum_r") * F.col("n_c") - F.col("sum_c") * F.col("n_r")
    per_lang = per_dim.groupBy("lang").agg(
        F.any_value(F.col("n_r")).alias("n_ref"),
        F.any_value(F.col("n_c")).alias("n_cur"),
        F.sum(d_num * d_num).alias("drift_sq"),
    )
    return per_lang.select(
        "lang",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(
            F.sqrt(F.col("drift_sq").cast("double"))
            / (F.col("n_ref") * F.col("n_cur") * F.lit(1024.0)),
            4,
        ).alias("drift"),
    ).orderBy("lang")
