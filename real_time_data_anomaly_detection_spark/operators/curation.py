"""Corpus-curation operators: chunking, segment-level dedup,
BM25 relevance, and CDC-style merge/upsert.

These extend the LLM-pipeline surface (SURVEY.md §2.3) past document
granularity: training pipelines chunk long documents into bounded
windows, remove boilerplate SEGMENTS that repeat across documents
(RefinedWeb/CCNet-style line dedup — our synthetic corpus has no
newlines, so the unit is a fixed word window), rank documents against
a query with BM25, and fold change batches into a canonical table with
upsert semantics.

All four are pure DataFrame compositions — codegen'd JVM expressions,
no Python on any data path — and each declared query carries an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import (
    broadcast_if_small,
    materialize,
    sort_past_boundary,
)


# ---------------------------------------------------------------------------
# Chunking


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split each document into fixed-size word windows with overlap:
    (id, chunk_idx, chunk_text, n_words).

    Chunk ``i`` starts at word ``i * (chunk_words - overlap)`` and
    takes up to ``chunk_words`` words; starts step by the stride until
    the end of the document, so the final chunk may be short. This is
    the standard context-window shaper in front of a tokenizer: long
    documents become bounded training rows, with ``overlap`` words of
    continuity across the seam.

    Scale shape: one projection + explode per row — no shuffle at all;
    chunk generation is whole-stage-codegen'd (sequence/transform/
    slice are JVM expressions). Output rows ≈ total_words / stride,
    partitioning inherited from the scan.
    """
    if overlap >= chunk_words:
        raise ValueError(f"overlap {overlap} must be < chunk_words {chunk_words}")
    stride = chunk_words - overlap
    toks = df.select(id_col, F.split(F.col(text_col), " ").alias("_t")).filter(
        F.size("_t") > 0
    )
    starts = F.sequence(F.lit(0), F.size("_t") - 1, F.lit(stride))
    return toks.select(
        id_col,
        F.posexplode(
            F.transform(starts, lambda s: F.slice("_t", s + 1, chunk_words))
        ).alias("chunk_idx", "_chunk"),
    ).select(
        id_col,
        "chunk_idx",
        F.array_join("_chunk", " ").alias("chunk_text"),
        F.size("_chunk").alias("n_words"),
    )


@query(
    "q_chunk_docs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        starts AS (
            SELECT doc_id, t, CAST(i AS BIGINT) AS s
            FROM toks, UNNEST(generate_series(0, len(t) - 1, 40)) AS u(i)
            WHERE len(t) > 0
        )
        SELECT doc_id, CAST(s // 40 AS INT) AS chunk_idx,
               array_to_string(t[s + 1 : s + 50], ' ') AS chunk_text,
               len(t[s + 1 : s + 50]) AS n_words
        FROM starts
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50-word chunks with 10-word overlap (stride 40) over the
    documents corpus — the context-window shaper ahead of tokenize+
    pack. Zero-shuffle explode; oracle replays the identical
    start-grid + clamped slice arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_words=50, overlap=10)


# ---------------------------------------------------------------------------
# Segment-level dedup (RefinedWeb-style line dedup on word windows)


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Remove segments (fixed ``seg_words``-word windows) whose exact
    text recurs in >= ``min_docs`` distinct documents; returns
    (id, clean_text, n_removed, n_segments).

    The RefinedWeb/CCNet "line dedup" pass: boilerplate (headers,
    navigation, license blurbs) repeats verbatim across pages and
    survives document-level dedup because the *documents* differ.
    Removing corpus-frequent segments strips it without dropping the
    documents themselves. Natural corpora segment on newlines; this
    synthetic corpus has none, so the unit is a non-overlapping word
    window — the pipeline shape (explode → frequency → flag →
    reassemble) is identical.

    Scale shape: segments shuffle as sha2-256 digests, never text
    (same rule as exact doc dedup); the duplicated-digest set is the
    output of a partial-aggregated count and is joined back through
    broadcast_if_small, gated on ``df`` (in a DUP-HEAVY corpus the
    duplicated set itself scales with n). Reassembly is one groupBy
    on the doc id with a sort_array over (seg_idx, seg) structs —
    order restored deterministically regardless of partitioning.
    """
    toks = df.select(id_col, F.split(F.col(text_col), " ").alias("_t")).filter(
        F.size("_t") > 0
    )
    n_segs = F.floor((F.size("_t") - 1) / seg_words).cast("int")
    segs = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs),
                lambda i: F.array_join(
                    F.slice("_t", i * seg_words + 1, seg_words), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    ).withColumn("_dig", F.sha2(F.col("seg"), 256))

    dup = (
        segs.groupBy("_dig")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_dig", F.lit(True).alias("_dup"))
    )
    flagged = segs.join(broadcast_if_small(dup, df), "_dig", "left").withColumn(
        "_dup", F.coalesce("_dup", F.lit(False))
    )
    kept = F.filter(
        F.sort_array(F.collect_list(F.struct("seg_idx", "_dup", "seg"))),
        lambda s: ~s["_dup"],
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s["seg"]), " ").alias("clean_text"),
        F.sum(F.col("_dup").cast("long")).alias("n_removed"),
        F.count(F.lit(1)).alias("n_segments"),
    )


@query(
    "q_segment_dedup",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        segs AS (
            SELECT doc_id, CAST(i AS INT) AS seg_idx,
                   array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS seg
            FROM toks,
                 UNNEST(generate_series(
                     0, CAST(floor((len(t) - 1) / 10) AS BIGINT))) AS u(i)
            WHERE len(t) > 0
        ),
        dup AS (
            SELECT seg FROM segs GROUP BY seg
            HAVING count(DISTINCT doc_id) >= 2
        ),
        flagged AS (
            SELECT s.doc_id, s.seg_idx, s.seg, (d.seg IS NOT NULL) AS is_dup
            FROM segs s LEFT JOIN dup d ON s.seg = d.seg
        )
        SELECT doc_id,
               coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                            FILTER (WHERE NOT is_dup), '') AS clean_text,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               count(*) AS n_segments
        FROM flagged GROUP BY doc_id
    """,
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent 10-word segments (>= 2 distinct docs) removed
    from every document — the boilerplate-stripping pass document-level
    dedup cannot do. Oracle replays segmentation, frequency flagging,
    and ordered reassembly exactly (Spark flags via sha2 digest, the
    oracle via the segment text itself — identical semantics)."""
    d = load_table(spark, sf_dir, "documents")
    return segment_dedup(d, seg_words=10, min_docs=2)


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicated-span removal


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Remove every token covered by a corpus-duplicated k-token gram
    (ANY alignment — the generalization fixed windows miss); returns
    (id, clean_text, n_removed, n_tokens).

    The ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"): duplicated spans recur at
    arbitrary offsets, so fixed segmentation (``segment_dedup``)
    misses a copy shifted by one token. Here every k-gram occurring
    ``min_count``+ times corpus-wide (including within one document)
    marks its k covering tokens for removal; overlapping marks merge
    naturally. Unlike the paper's suffix array we drop ALL copies of a
    duplicated span, not all-but-one — the spark-native formulation
    keeps the pass embarrassingly parallel and is the common policy in
    distributed reimplementations.

    Scale shape, in shuffles: (1) gram digests partial-aggregate to
    the duplicated set — sha2-256 digests shuffle, never text; both
    flag-backs go through broadcast_if_small, gated on ``df`` (in a
    DUP-HEAVY corpus the duplicated-start set scales with n); (2)
    tokens exchange once on the doc id for the coverage window
    (``max(dup_start) over [p-k+1, p]`` — one pass, no interval
    algebra, no range join) and the final reassembly groupBy reuses
    that same hash partitioning, so it costs no further exchange.
    """
    toks = df.select(id_col, F.split(F.col(text_col), " ").alias("_t")).filter(
        F.size("_t") > 0
    )
    # (id, s, dig): digest of the k-gram starting at 1-based position s
    grams = toks.filter(F.size("_t") >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - (k - 1)),
                lambda s: F.sha2(F.array_join(F.slice("_t", s, k), " "), 256),
            )
        ).alias("_s0", "_dig"),
    ).select(id_col, (F.col("_s0") + 1).alias("_s"), "_dig")

    # grams feeds TWO subplans (the duplicated-digest aggregate and the
    # dup_starts flag-back join), and the gram computation itself is
    # narrow — no exchange for Spark to reuse — so unmaterialized the
    # tokenize + slice + sha2 pass runs twice (measured 2.5 -> 1.9 s
    # at sf0.1). Above the gate the grams outgrow the corpus (~one
    # digest row per token).
    grams = materialize(grams, gate_on=df)
    dup = (
        grams.groupBy("_dig")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_dig")
    )
    # Rename the id on this side (_did): both branches descend from
    # ``toks``, and joining on a same-named column from shared lineage
    # trips Spark's "trivially true equals predicate" disambiguation
    # warning — the rename makes the self-join unambiguous by name.
    dup_starts = (
        grams.join(broadcast_if_small(dup, df), "_dig")
        .select(F.col(id_col).alias("_did"), "_s", F.lit(1).alias("_isd"))
        .distinct()
    )

    tokens = toks.select(
        id_col, F.posexplode("_t").alias("_p0", "tok")
    ).select(id_col, (F.col("_p0") + 1).alias("_p"), "tok")
    # Broadcast, the token stream is shuffled exactly once (for the
    # coverage window); unbroadcast, the (doc_id, pos) join
    # co-partitions with the window's key.
    flagged = tokens.join(
        broadcast_if_small(dup_starts, df),
        (F.col(id_col) == F.col("_did")) & (F.col("_p") == F.col("_s")),
        "left",
    ).select(id_col, "_p", "tok", F.coalesce("_isd", F.lit(0)).alias("_isd"))

    from pyspark.sql import Window

    cover = (
        Window.partitionBy(id_col).orderBy("_p").rowsBetween(-(k - 1), 0)
    )
    marked = flagged.withColumn("_rm", F.max("_isd").over(cover) == 1)
    kept = F.filter(
        F.sort_array(F.collect_list(F.struct("_p", "_rm", "tok"))),
        lambda s: ~s["_rm"],
    )
    return marked.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s["tok"]), " ").alias("clean_text"),
        F.sum(F.col("_rm").cast("long")).alias("n_removed"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@query(
    "q_exact_substring_dedup",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        pos AS (
            SELECT doc_id, t, CAST(i AS INT) AS p
            FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
            WHERE len(t) > 0
        ),
        grams AS (
            SELECT doc_id, p AS s, array_to_string(t[p : p + 9], ' ') AS g
            FROM pos WHERE p <= len(t) - 9
        ),
        dup AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
        ),
        ds AS (
            SELECT DISTINCT gr.doc_id, gr.s
            FROM grams gr JOIN dup d ON gr.g = d.g
        ),
        flagged AS (
            SELECT pos.doc_id, pos.p, t[pos.p] AS tok,
                   CASE WHEN ds.s IS NOT NULL THEN 1 ELSE 0 END AS isd
            FROM pos LEFT JOIN ds
              ON pos.doc_id = ds.doc_id AND pos.p = ds.s
        ),
        marked AS (
            SELECT doc_id, p, tok,
                   max(isd) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                       AS rm
            FROM flagged
        )
        SELECT doc_id,
               coalesce(string_agg(tok, ' ' ORDER BY p)
                            FILTER (WHERE rm = 0), '') AS clean_text,
               CAST(sum(rm) AS BIGINT) AS n_removed,
               count(*) AS n_tokens
        FROM marked GROUP BY doc_id
    """,
)
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-alignment duplicated-span removal at k=10 tokens over
    the documents corpus — the ExactSubstr complement to
    q_segment_dedup's fixed windows. Oracle replays gram marking and
    the coverage window exactly."""
    d = load_table(spark, sf_dir, "documents")
    return exact_substring_dedup(d, k=10, min_count=2)


# ---------------------------------------------------------------------------
# BM25


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every document against a bag of query
    terms: (id, bm25). Lucene idf variant:
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` — strictly positive, so
    common terms dilute rather than negate.

    Scale shape: per-document term frequencies are lambda expressions
    over the split array (``size(filter(t, x = term))``) — one
    codegen'd scan, no explode, no shuffle on the corpus. The corpus
    statistics (N, avgdl, one df per term) reduce to a SINGLE ROW via
    partial aggregation, then rejoin as a broadcast nested-loop with a
    one-row build side — the same keyless-scalar plan as TPC-H Q11's
    total. Per-row score is a fixed-order sum over terms, so results
    are deterministic under any partitioning.
    """
    def _eq(term: str):
        # NB: a two-parameter lambda here would make F.filter pass the
        # ELEMENT INDEX as the second argument (arity dispatch), so the
        # term must be captured via closure, not a default arg.
        return lambda x: x == F.lit(term)

    toks = df.select(
        id_col, F.split(F.col(text_col), " ").alias("_t")
    ).select(
        id_col,
        F.size("_t").alias("_dl"),
        *[
            F.size(F.filter("_t", _eq(t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )

    def term_score(i: int) -> Column:
        tf = F.col(f"_tf{i}").cast("double")
        dfc = F.col(f"_df{i}").cast("double")
        idf = F.log(
            (F.col("_n") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)) + F.lit(1.0)
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
        )
        return idf * tf * F.lit(k1 + 1.0) / norm

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    return toks.crossJoin(F.broadcast(stats)).select(
        id_col, F.round(score, 4).alias("bm25")
    )


@query(
    "q_bm25",
    oracle="""
        WITH toks AS (
            SELECT doc_id, len(t) AS dl,
                   len(list_filter(t, x -> x = 'data')) AS tf0,
                   len(list_filter(t, x -> x = 'spark')) AS tf1,
                   len(list_filter(t, x -> x = 'stream')) AS tf2
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        ),
        s AS (
            SELECT count(*) AS n, avg(dl) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM toks
        )
        SELECT doc_id, round(
            ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
            4) AS bm25
        FROM toks, s
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against the query
    {data, spark, stream} (k1=1.2, b=0.75, Lucene idf) — the lexical
    ranking half of a retrieval stack next to q_cosine_topk's dense
    half. One scan + a one-row stats broadcast."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, terms=["data", "spark", "stream"])


# ---------------------------------------------------------------------------
# Positional phrase search (inverted-index adjacency join)


def top_bigrams(
    df: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The k most frequent adjacent-token bigrams: (w1, w2, n),
    deterministic ties (count DESC, then bigram ASC). Pair extraction
    is a JVM transform over the split array — no self-join, no
    positional explode; one partial-aggregated count."""
    arrs = df.select(F.split(F.col(text_col), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    idx = F.sequence(F.lit(0), F.size("t") - 2)
    pairs = arrs.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("t", i + 1).alias("w1"),
                    F.element_at("t", i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    )
    return (
        pairs.groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(k)
    )


def phrase_search(
    df: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents containing each two-token phrase as ADJACENT tokens,
    answered through a positional inverted index: postings are
    (doc, pos, token); a phrase (w1, w2) matches where a w1 posting
    and a w2 posting meet at (same doc, pos+1).

    Scale shape: the phrase table broadcasts (a query workload is
    small by definition), which prunes the left postings to the query
    first-terms BEFORE the adjacency join; the adjacency join itself
    is pure equi-keys — (doc, pos+1, w2) = (doc, pos, token) — so it
    hash-partitions, never theta-joins. ``distinct`` collapses
    multiple occurrences per document into one hit row."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    )
    q = F.broadcast(
        phrases.select("w1", "w2", F.concat_ws(" ", "w1", "w2").alias("phrase"))
    )
    first = toks.join(q, toks["token"] == q["w1"]).select(
        id_col, "pos", "w2", "phrase"
    )
    second = toks.select(
        F.col(id_col).alias("_id2"),
        F.col("pos").alias("_pos2"),
        F.col("token").alias("_tok2"),
    )
    hits = first.join(
        second,
        (F.col(id_col) == F.col("_id2"))
        & (F.col("_pos2") == F.col("pos") + 1)
        & (F.col("_tok2") == F.col("w2")),
    )
    return hits.select("phrase", id_col).distinct()


@query(
    "q_phrase_search",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
               FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
        top5 AS (SELECT w1, w2 FROM bg GROUP BY w1, w2
                 ORDER BY count(*) DESC, w1, w2 LIMIT 5)
        SELECT DISTINCT w1 || ' ' || w2 AS phrase, doc_id
        FROM bg JOIN top5 USING (w1, w2)
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for the corpus's own top-5 bigrams:
    (phrase, doc_id) hits via the inverted-index adjacency join. The
    oracle replays the identical bigram ranking and adjacency
    semantics directly on the token arrays — a hash-match proves the
    postings join finds exactly the adjacent occurrences."""
    d = load_table(spark, sf_dir, "documents")
    return phrase_search(d, top_bigrams(d, 5).select("w1", "w2"))


# ---------------------------------------------------------------------------
# Persisted inverted text index (token-bucketed postings on disk)


def _token_bucket_py(term: str, buckets: int) -> int:
    """Python twin of the index's bucket expression — md5 so the same
    hash is computable driver-side (query planning), JVM-side (index
    build), and in DuckDB (if an oracle ever replays it)."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % buckets


def build_text_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 16,
) -> None:
    """Persist a POSITIONAL inverted index as parquet partitioned by a
    token-hash bucket: (doc, pos, token) rows under `bkt=K/`
    directories, sorted by token within each file. The serving-path
    twin of :func:`phrase_search`'s inline postings — build once,
    probe many; a term lookup reads ONLY its bucket directory
    (partition pruning, pinned by the scan's numFiles metric in
    tests), and within the file the token sort gives min/max row-group
    skipping for free. Bucket count is the fan-out/pruning knob: at
    corpus scale use 2^10-2^14 so each bucket is a few files and a
    single-term query touches ~1/buckets of the index."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    )
    bkt = F.pmod(
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint"),
        F.lit(buckets),
    )
    (
        toks.withColumn("bkt", bkt)
        .repartition("bkt")
        .sortWithinPartitions("bkt", "token")
        .write.mode("overwrite")
        .partitionBy("bkt")
        .parquet(path)
    )


def term_postings(
    spark: SparkSession, path: str, terms: list[str], buckets: int = 16
) -> DataFrame:
    """Postings for a term set from a persisted text index: the bucket
    ids are computed DRIVER-SIDE from the same md5 expression, so the
    filter is a literal IN-list on the partition column — Spark prunes
    to those directories before any file is opened."""
    want = sorted({_token_bucket_py(t, buckets) for t in terms})
    return (
        spark.read.parquet(path)
        .filter(F.col("bkt").isin(want) & F.col("token").isin(terms))
        .select("doc_id", "pos", "token")
    )


def index_phrase_search(
    spark: SparkSession, path: str, phrases: list[tuple[str, str]], buckets: int = 16
) -> DataFrame:
    """Phrase hits answered FROM THE INDEX: postings for the query's
    first and second terms (two pruned reads), then the same pure
    equi-key adjacency join as phrase_search."""
    terms = sorted({w for p in phrases for w in p})
    post = term_postings(spark, path, terms, buckets)
    from real_time_data_anomaly_detection_spark.io import local_df

    q = F.broadcast(
        local_df(spark, phrases, "w1 string, w2 string").select(
            "w1", "w2", F.concat_ws(" ", "w1", "w2").alias("phrase")
        )
    )
    first = post.join(q, post["token"] == q["w1"]).select(
        "doc_id", "pos", "w2", "phrase"
    )
    second = post.select(
        F.col("doc_id").alias("_id2"),
        F.col("pos").alias("_pos2"),
        F.col("token").alias("_tok2"),
    )
    return (
        first.join(
            second,
            (F.col("doc_id") == F.col("_id2"))
            & (F.col("_pos2") == F.col("pos") + 1)
            & (F.col("_tok2") == F.col("w2")),
        )
        .select("phrase", "doc_id")
        .distinct()
    )


def _text_index_path(sf_dir: str) -> str:
    """Session-cache index dir keyed by the documents corpus
    fingerprint (io.corpus_cache_path — shared staleness contract)."""
    from real_time_data_anomaly_detection_spark.io import corpus_cache_path

    return corpus_cache_path(sf_dir, "documents", "textidx")


@query(
    "q_index_phrase_search",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
               FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
        top5 AS (SELECT w1, w2 FROM bg GROUP BY w1, w2
                 ORDER BY count(*) DESC, w1, w2 LIMIT 5)
        SELECT DISTINCT w1 || ' ' || w2 AS phrase, doc_id
        FROM bg JOIN top5 USING (w1, w2)
    """,
)
def q_index_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search through the PERSISTED index: builds the token-
    bucketed postings once per (corpus fingerprint, session) under
    /tmp, then answers the same top-5-bigram queries as
    q_phrase_search from two partition-pruned index reads. Identical
    oracle — a hash-match proves the indexed path returns exactly the
    inline path's results."""
    from real_time_data_anomaly_detection_spark import fs as _fs

    d = load_table(spark, sf_dir, "documents")
    path = _text_index_path(sf_dir)
    if not _fs.exists(path + "/_SUCCESS", spark):
        build_text_index(d, path)
    phrases = [
        (r.w1, r.w2) for r in top_bigrams(d, 5).select("w1", "w2").collect()
    ]
    return index_phrase_search(spark, path, phrases)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid lexical + dense retrieval)


def rrf_fuse(
    rankings: list[DataFrame], k: int = 60, id_col: str = "doc_id"
) -> DataFrame:
    """Reciprocal-rank fusion over ranked lists (id, rank):
    score(d) = Σ_lists 1/(k + rank_list(d)), the standard hybrid-
    retrieval combiner (Cormack et al. 2009). Scores are computed in
    INTEGER arithmetic — contribution = 10^9 div (k + rank), summed as
    BIGINT — so fusion is bit-deterministic cross-engine (the q_ewma
    integer discipline); float RRF differs in the last ulp depending
    on summation order. Each list is top-K-truncated upstream, so the
    union and groupBy here touch O(K · lists) rows — driver- and
    shuffle-trivial no matter the corpus size behind the rankings."""
    num = F.lit(1000000000)
    scaled = []
    for r in rankings:
        den = (F.col("rank") + F.lit(k)).cast("bigint")
        c = ((num - F.pmod(num, den)) / den).cast("bigint")
        scaled.append(r.select(F.col(id_col), c.alias("_c")))
    u = scaled[0]
    for s in scaled[1:]:
        u = u.unionByName(s)
    return u.groupBy(id_col).agg(F.sum("_c").alias("rrf_score"))


@query(
    "q_rrf_fusion",
    oracle="""
        WITH toks AS (
            SELECT doc_id, len(t) AS dl,
                   len(list_filter(t, x -> x = 'data')) AS tf0,
                   len(list_filter(t, x -> x = 'spark')) AS tf1,
                   len(list_filter(t, x -> x = 'stream')) AS tf2
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            WHERE doc_id <> 0
        ),
        s AS (
            SELECT count(*) AS n, avg(dl) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM toks
        ),
        bm AS (
            SELECT doc_id, round(
                ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                    * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
              + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                    * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
              + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                    * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                4) AS bm25
            FROM toks, s
        ),
        bmr AS (
            SELECT doc_id, r FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
                FROM bm)
            WHERE r <= 20
        ),
        probe AS (
            SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0
        ),
        cs AS (
            SELECT vec_id AS doc_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], p), 4)
                       AS cos_sim
            FROM embeddings, probe WHERE vec_id <> 0
        ),
        csr AS (
            SELECT doc_id, r FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r
                FROM cs)
            WHERE r <= 20
        ),
        u AS (
            SELECT doc_id, 1000000000 // (60 + r) AS c FROM bmr
            UNION ALL
            SELECT doc_id, 1000000000 // (60 + r) AS c FROM csr
        )
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score
        FROM u GROUP BY 1
        ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (query {data, spark, stream})
    fused with dense cosine top-20 (probe = vec 0, excluded from both
    lists) by reciprocal-rank fusion, final top-10 by fused score.
    Each ranking is TakeOrderedAndProject-truncated BEFORE ranks are
    assigned (row_number runs on 20 rows, not the corpus), and the
    fusion is integer arithmetic end-to-end."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    bm_top = (
        bm25_scores(d, terms=["data", "spark", "stream"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )
    bmr = bm_top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
    )

    from real_time_data_anomaly_detection_spark.functions.vector import (
        array_lit,
        cosine_similarity,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    probe_col = array_lit(probe)
    cs_top = (
        e.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(
                    F.col("embedding").cast("array<double>"), probe_col
                ),
                4,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(20)
    )
    csr = cs_top.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.desc("cos_sim"), F.asc("doc_id"))),
    )
    fused = rrf_fuse(
        [bmr.select("doc_id", "rank"), csr.select("doc_id", "rank")]
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# Bigram LM perplexity (CCNet-style quality filter)


def lm_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed bigram LM
    trained on the corpus itself: (id, n_bigrams, ppl).

    The CCNet recipe scores documents with an n-gram LM and drops the
    high-perplexity tail (gibberish, boilerplate soup) — here the LM
    is trained in-engine on the same corpus in one pass:
    ``p(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V)`` and
    ``ppl = exp(-mean ln p)`` over the document's bigram stream.
    Single-token documents carry no bigram evidence: ppl null.

    Scale shape: the doc side pre-aggregates to (id, w1, w2, m)
    multiplicities before joining the global bigram counts (shuffle
    keyed on the bigram — cardinality is DISTINCT bigrams, which
    saturates at vocab², typically far below corpus tokens); the
    unigram-count table is vocab-sized and joins BROADCAST; V is a
    one-row broadcast. Per-doc reduction is a groupBy on the id.
    """
    toks = df.select(id_col, F.split(F.col(text_col), " ").alias("_t")).filter(
        F.size("_t") > 0
    )
    bigrams = toks.filter(F.size("_t") >= 2).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.struct(
                    F.element_at("_t", i).alias("w1"),
                    F.element_at("_t", i + 1).alias("w2"),
                ),
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))

    doc_bg = bigrams.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    c_bg = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = toks.select(id_col, F.explode("_t").alias("w"))
    c_uni = unigrams.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    vocab = unigrams.agg(F.countDistinct("w").alias("v"))

    logp = F.log(
        (F.col("c12") + 1).cast("double")
        / (F.col("c1") + F.col("v")).cast("double")
    )
    scored = (
        doc_bg.join(c_bg, ["w1", "w2"])
        .join(F.broadcast(c_uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("m").alias("n_bigrams"),
            (F.sum(F.col("m") * logp) / F.sum("m")).alias("_avg_lp"),
        )
    )
    return toks.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.round(F.exp(-F.col("_avg_lp")), 4).alias("ppl"),
    )


@query(
    "q_lm_perplexity",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) > 0
        ),
        bigrams AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
        ),
        doc_bg AS (
            SELECT doc_id, w1, w2, count(*) AS m
            FROM bigrams GROUP BY 1, 2, 3
        ),
        c_bg AS (
            SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2
        ),
        unigrams AS (
            SELECT doc_id, unnest(t) AS w FROM toks
        ),
        c_uni AS (
            SELECT w AS w1, count(*) AS c1 FROM unigrams GROUP BY 1
        ),
        vocab AS (
            SELECT count(DISTINCT w) AS v FROM unigrams
        ),
        scored AS (
            SELECT d.doc_id,
                   CAST(sum(d.m) AS BIGINT) AS n_bigrams,
                   sum(d.m * ln((c12 + 1.0) / (c1 + v))) / sum(d.m) AS avg_lp
            FROM doc_bg d
            JOIN c_bg USING (w1, w2)
            JOIN c_uni USING (w1), vocab
            GROUP BY d.doc_id
        )
        SELECT t.doc_id,
               coalesce(s.n_bigrams, 0) AS n_bigrams,
               round(exp(-s.avg_lp), 4) AS ppl
        FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id
    """,
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per document (add-one
    smoothing) — the CCNet quality-filter signal, trained and applied
    in one engine pass. Oracle replays counts, smoothing, and the
    exp(-mean ln p) fold exactly."""
    d = load_table(spark, sf_dir, "documents")
    return lm_perplexity(d)


@query("q_quality_classifier")  # iterative GD model → rows-only
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style quality classifier demo: logistic regression
    over hashed bag-of-words trained in-engine on a weak label
    (lang == 'en'), then applied corpus-wide — (doc_id, pred).
    Training = one Arrow partial-gradient scan per iteration;
    convergence, numpy-GD parity, partition invariance, and
    streaming==batch scoring are pinned in
    tests/test_quality_classifier.py."""
    from real_time_data_anomaly_detection_spark.functions.quality_classifier import (
        featurize_hashed,
        logreg_fit,
        logreg_score,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("y")
    )
    feats = featurize_hashed(d, dim=256)
    w, b, _ = logreg_fit(feats, "y", dim=256, n_iters=15)
    out = logreg_score(feats, w, b).select(
        "doc_id", (F.col("p") > 0.5).cast("int").alias("pred")
    )
    # the sort's sampling job must not re-run the Arrow scoring pass
    return sort_past_boundary(out, "doc_id")


# ---------------------------------------------------------------------------
# Merge / upsert


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_col: str,
) -> DataFrame:
    """Upsert ``updates`` into ``target`` on ``key_col``: rows whose
    key exists in updates are replaced, new keys are appended,
    untouched target rows pass through. Column sets must match.

    This is the relational core of MERGE INTO / CDC compaction. Scale
    shape: the typical change batch is orders of magnitude smaller
    than the canonical table, so the anti-join probes the key set
    through broadcast_if_small, gated on ``updates`` — the 100 TB
    target is never reshuffled, and the union is a metadata-only
    concatenation. (On a table format with partition pruning, the
    same plan rewrites only partitions containing update keys.)
    """
    cols = target.columns
    if set(updates.columns) != set(cols):
        raise ValueError(
            f"schema mismatch: target {cols} vs updates {updates.columns}"
        )
    # ``updates`` has two consumers (key set + union branch) and its
    # derivation re-inlines under each, but a size-gated
    # materialization here measured a WASH at sf0.1
    # (0.451 vs 0.483 s min, interleaved) — a change batch is
    # typically a cheap scan+filter, and the materialization job costs
    # what the second inline pass does. cdc_apply checkpoints its
    # ``latest`` instead, where the re-inlined work includes the
    # latest-wins window (measured win there).
    keys = updates.select(key_col).distinct()
    untouched = target.join(broadcast_if_small(keys, updates), key_col, "left_anti")
    return untouched.select(cols).unionByName(updates.select(cols))


def incremental_agg_merge(
    state: DataFrame, delta: DataFrame, key_col: str, sum_cols: list[str]
) -> DataFrame:
    """Merge a delta batch of partial aggregates into an aggregate
    state table: counts/sums add, keys present in only one side pass
    through. The core of incremental materialized-view maintenance —
    at 100 TB you re-aggregate the day's delta, never the history.

    Works for any re-aggregatable (commutative-monoid) measures:
    count, sum, min, max — avg must be carried as (sum, count).

    Scale shape: one full-outer join on the key (FULL OUTER cannot
    broadcast in Spark, so both sides exchange once; bucket the state
    table on the key to amortize its side into the write)."""
    cols = [key_col, *sum_cols]
    for side, df in (("state", state), ("delta", delta)):
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(f"{side} missing columns {sorted(missing)}")
    s = state.select([F.col(c).alias(f"_s_{c}") for c in cols])
    d = delta.select([F.col(c).alias(f"_d_{c}") for c in cols])
    joined = s.join(
        d, s[f"_s_{key_col}"] == d[f"_d_{key_col}"], "full_outer"
    )
    return joined.select(
        F.coalesce(f"_s_{key_col}", f"_d_{key_col}").alias(key_col),
        *[
            (
                F.coalesce(F.col(f"_s_{c}"), F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
    )


@query(
    "q_incremental_agg",
    oracle="""
        SELECT o_custkey, count(*) AS cnt,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_custkey
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance proof: per-customer order
    count/revenue state built from 90% of orders, then the remaining
    10% merged in as a delta batch — the oracle is the FULL
    recompute, so the hash match proves state+delta == scratch
    aggregation cross-engine."""
    o = load_table(spark, sf_dir, "orders")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("double")).alias("total"),
        )

    state = agg(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = agg(o.filter(F.col("o_orderkey") % 10 == 0))
    merged = incremental_agg_merge(state, delta, "o_custkey", ["cnt", "total"])
    return merged.select(
        "o_custkey", "cnt", F.round("total", 2).alias("total")
    )


@query(
    "q_scd2_intervals",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        changes AS (
            SELECT user_id, event_type, ts AS valid_from, event_id
            FROM marked
            WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) AS valid_to
        FROM changes
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history derivation over the events stream: each user's
    event_type collapsed into validity intervals."""
    e = load_table(spark, sf_dir, "events")
    return scd2_intervals(e, "user_id", "event_type", "ts", "event_id")


def scd2_intervals(
    df: DataFrame, key_col: str, attr_col: str, ts_col: str, tiebreak_col: str
) -> DataFrame:
    """Collapse a change stream into SCD2 validity intervals:
    (key, attr, valid_from, valid_to) — consecutive repeats of the
    same attribute value drop via lag(), valid_to is the next
    change's timestamp, NULL marks the open current interval.
    ``tiebreak_col`` must totally order rows within (key, ts).

    Scale shape: two window passes over the SAME key partitioning —
    the second (lead over the much smaller change rows) reuses the
    first's exchange, so the stream shuffles once."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    marked = df.withColumn("_prev", F.lag(attr_col).over(w))
    changes = marked.filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(attr_col))
    ).select(
        key_col, attr_col, F.col(ts_col).alias("valid_from"), tiebreak_col
    )
    w2 = Window.partitionBy(key_col).orderBy("valid_from", tiebreak_col)
    return changes.select(
        key_col,
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )


@query(
    "q_merge_upsert",
    oracle="""
        WITH cents AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                   o_orderstatus
            FROM orders
        ),
        upd AS (
            SELECT o_orderkey, o_custkey,
                   CAST((c * 11 + 5) // 10 AS DOUBLE) / 100 AS o_totalprice,
                   'U' AS o_orderstatus
            FROM cents WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey + 600000000, o_custkey,
                   CAST(c AS DOUBLE) / 100, 'N'
            FROM cents WHERE o_orderkey % 101 = 0
        ),
        base AS (
            SELECT o_orderkey, o_custkey,
                   CAST(c AS DOUBLE) / 100 AS o_totalprice,
                   o_orderstatus
            FROM cents
        )
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b
        LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM upd) kk
          ON b.o_orderkey = kk.k
        WHERE kk.k IS NULL
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert a synthetic change batch into orders: every 97th key is
    an in-place price/status update, every 101st key re-appears as a
    fresh insert under a shifted key. Broadcast-anti + union — the
    canonical table is never reshuffled.

    Prices run in exact integer CENTS (round(p*100) recovers the
    stored 2-dp value exactly) and the 1.1× update is integer half-up
    ((c·11 + 5) div 10) — round(double·1.1, 2) diverged across engines
    on a half-boundary row at sf0.1; publication is the
    deterministic double division cents/100 on both engines."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (cents.cast("double") / 100).alias("o_totalprice"),
        "o_orderstatus",
        cents.alias("_c"),
    )
    upd = o.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.expr("(_c * 11 + 5) div 10").cast("double") / 100).alias(
            "o_totalprice"
        ),
        F.lit("U").alias("o_orderstatus"),
    )
    ins = o.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 600000000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    return merge_upsert(o.drop("_c"), upd.unionByName(ins), "o_orderkey")


# ---------------------------------------------------------------------------
# Dataset snapshot diff


def table_diff(
    old: DataFrame, new: DataFrame, id_col: str, compare_cols: list[str]
) -> DataFrame:
    """Per-row status between two dataset versions: 'added' /
    'removed' / 'modified' / 'unchanged', decided by comparing sha2
    digests of the compared columns through a full outer join on the
    id. The shuffle carries (id, 32-byte digest) — never the rows —
    so diffing two 100 TB snapshots costs two digest scans + one
    id-keyed join (the same digest-shuffle discipline as exact
    dedup)."""
    def dig(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.sha2(F.concat_ws("\x1f", *compare_cols), 256).alias(name),
        )

    o, n = dig(old, "_old"), dig(new, "_new")
    status = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old") != F.col("_new"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, id_col, "full_outer").select(id_col, status.alias("status"))


@query(
    "q_table_diff",
    oracle="""
        WITH v1 AS (SELECT doc_id, text FROM documents),
        v2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
            FROM documents WHERE doc_id % 97 <> 0
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5),
        j AS (
            SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
                   CASE WHEN v1.doc_id IS NULL THEN 'added'
                        WHEN v2.doc_id IS NULL THEN 'removed'
                        WHEN v1.text <> v2.text THEN 'modified'
                        ELSE 'unchanged' END AS status
            FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff report between the documents corpus and a
    deterministically perturbed v2 (every 97th doc dropped, every 11th
    text edited, 5 docs appended): per-status counts via the
    digest-shuffle table_diff. The oracle compares raw text where the
    engine compares sha2 digests — equivalent up to collisions."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        d.filter(F.col("doc_id") % 97 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(
                F.col("text")
            ),
        )
        .unionByName(
            d.filter(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return (
        table_diff(d, v2, "doc_id", ["text"])
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


def cdc_apply(
    target: DataFrame,
    changes: DataFrame,
    key_col: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a CDC change batch to a snapshot: per key, the
    HIGHEST-``seq_col`` change wins ('upsert' replaces-or-appends the
    row, 'delete' drops it); unchanged target rows pass through. The
    delete-aware, out-of-order-tolerant completion of
    ``merge_upsert`` — the semantics of MERGE INTO fed by a log
    compaction.

    Scale shape: latest-wins is one window pass over the CHANGE BATCH
    (never the snapshot); the snapshot is touched by exactly one
    anti-join against the changed-key set, through
    broadcast_if_small gated on ``changes`` — the 100 TB target is
    never reshuffled. ``changes`` carries the target's columns plus
    (op, seq); delete rows may leave the payload columns null.

    Ties on ``seq_col`` (a log that re-emits the same sequence number
    for a key) are resolved DETERMINISTICALLY, not by partition luck:
    delete beats upsert at equal seq (the conservative compaction
    choice), and identical (seq, op) rows fall back to the payload
    columns themselves — the winner is a pure function of the row
    multiset, stable under any partitioning or retry."""
    from pyspark.sql import Window

    cols = target.columns
    missing = set(cols) - set(changes.columns)
    if missing:
        raise ValueError(f"changes missing target columns: {sorted(missing)}")
    payload_tiebreak = [
        F.asc_nulls_first(c) for c in cols if c != key_col
    ]
    w = Window.partitionBy(key_col).orderBy(
        F.desc(seq_col), F.asc(op_col), *payload_tiebreak
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # ``latest`` feeds TWO consumers (changed-key set + the upsert
    # branch) and each re-inlined the whole change derivation AND its
    # latest-wins window (q_cdc_apply: 13 snapshot scans)
    latest = materialize(latest, gate_on=changes)
    changed_keys = latest.select(key_col)
    untouched = target.join(
        broadcast_if_small(changed_keys, changes), key_col, "left_anti"
    )
    upserts = latest.filter(F.col(op_col) == "upsert").select(cols)
    return untouched.select(cols).unionByName(upserts)


@query(
    "q_cdc_apply",
    oracle="""
        WITH target AS (
            SELECT o_orderkey AS k, o_custkey AS custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
            FROM orders),
        changes AS (
            -- k%7=0: upsert at seq 1, delete at seq 2 -> net delete
            SELECT k, custkey, total_cents + 111 AS total_cents,
                   'upsert' AS op, 1 AS seq FROM target WHERE k % 7 = 0
            UNION ALL
            SELECT k, NULL, NULL, 'delete', 2 FROM target WHERE k % 7 = 0
            -- k%7=1: delete at seq 1, upsert(doubled) at seq 2 -> net upsert
            UNION ALL
            SELECT k, NULL, NULL, 'delete', 1 FROM target WHERE k % 7 = 1
            UNION ALL
            SELECT k, custkey, total_cents * 2, 'upsert', 2
            FROM target WHERE k % 7 = 1
            -- k%7=2: single upsert
            UNION ALL
            SELECT k, custkey, total_cents + 555, 'upsert', 1
            FROM target WHERE k % 7 = 2
            -- brand-new keys (negative ids cannot collide with target)
            UNION ALL
            SELECT -k, custkey, total_cents, 'upsert', 1
            FROM target WHERE k % 7 = 3),
        latest AS (
            SELECT * FROM (
                SELECT c.*, row_number() OVER (PARTITION BY k
                                               ORDER BY seq DESC) AS rn
                FROM changes c) WHERE rn = 1),
        untouched AS (
            SELECT t.* FROM target t ANTI JOIN latest l ON t.k = l.k)
        SELECT k, custkey, total_cents FROM untouched
        UNION ALL
        SELECT k, custkey, total_cents FROM latest WHERE op = 'upsert'
        ORDER BY k
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply over an orders snapshot with a deterministic
    synthetic change log exercising every path: out-of-order
    upsert-then-delete (net delete), delete-then-upsert (net upsert,
    latest wins), plain update, brand-new keys, and untouched
    pass-through. Monetary carried as exact integer cents (cf. q_rfm)
    so the doubled/offset payloads stay engine-identical."""
    o = load_table(spark, sf_dir, "orders")
    target = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * F.lit(100.0), 0)
        .cast("bigint")
        .alias("total_cents"),
    )
    # ONE snapshot scan builds the whole change log: each row emits its
    # k%7-class change structs from an exploded array — the previous
    # 6-branch filter/union re-scanned the snapshot per branch (and
    # Catalyst re-inlined the union under every consumer of the
    # compacted batch: 13 orders scans for this query).
    # Row set is IDENTICAL: same (k, payload, op, seq) tuples per class.
    m = F.col("k") % 7
    nul = F.lit(None).cast("bigint")

    def ch(kk, ck, tc, op, seq):
        return F.struct(
            kk.cast("bigint").alias("k"),
            ck.cast("bigint").alias("custkey"),
            tc.cast("bigint").alias("total_cents"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("int").alias("seq"),
        )

    k, cust, tc = F.col("k"), F.col("custkey"), F.col("total_cents")
    arr = (
        F.when(m == 0, F.array(ch(k, cust, tc + 111, "upsert", 1),
                               ch(k, nul, nul, "delete", 2)))
        .when(m == 1, F.array(ch(k, nul, nul, "delete", 1),
                              ch(k, cust, tc * 2, "upsert", 2)))
        .when(m == 2, F.array(ch(k, cust, tc + 555, "upsert", 1)))
        .when(m == 3, F.array(ch(-k, cust, tc, "upsert", 1)))
    )
    changes = target.select(F.explode(arr).alias("_ch")).select("_ch.*")
    return cdc_apply(target, changes, "k").orderBy("k")


@query(
    "q_data_quality_report",
    oracle="""
        WITH oagg AS (
            SELECT count(*) AS n,
                   count(*) - count(DISTINCT o_orderkey) AS pk_dup,
                   count(*) FILTER (o_orderstatus NOT IN ('P','O','F'))
                       AS bad_status,
                   count(*) FILTER (o_totalprice <= 0) AS bad_price
            FROM orders),
        lagg AS (
            SELECT count(*) AS n,
                   count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                       AS pk_dup,
                   count(*) FILTER (l_quantity <= 0) AS bad_qty,
                   count(*) FILTER (o_orderkey IS NULL) AS ri_orphans
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey),
        eagg AS (
            SELECT count(*) AS n,
                   count(*) - count(DISTINCT event_id) AS pk_dup,
                   count(*) FILTER (user_id IS NULL) AS null_user,
                   count(*) FILTER (value < 0) AS neg_value
            FROM events),
        dagg AS (
            SELECT count(*) AS n,
                   count(*) - count(DISTINCT doc_id) AS pk_dup,
                   count(*) FILTER (text IS NULL OR length(text) = 0)
                       AS empty_text
            FROM documents),
        rep AS (
            SELECT 'orders' AS tbl, 'pk_unique' AS check_name, n, pk_dup AS violations FROM oagg
            UNION ALL SELECT 'orders', 'status_accepted', n, bad_status FROM oagg
            UNION ALL SELECT 'orders', 'totalprice_positive', n, bad_price FROM oagg
            UNION ALL SELECT 'lineitem', 'pk_unique', n, pk_dup FROM lagg
            UNION ALL SELECT 'lineitem', 'quantity_positive', n, bad_qty FROM lagg
            UNION ALL SELECT 'lineitem', 'ri_orders', n, ri_orphans FROM lagg
            UNION ALL SELECT 'events', 'pk_unique', n, pk_dup FROM eagg
            UNION ALL SELECT 'events', 'user_id_complete', n, null_user FROM eagg
            UNION ALL SELECT 'events', 'value_nonnegative', n, neg_value FROM eagg
            UNION ALL SELECT 'documents', 'pk_unique', n, pk_dup FROM dagg
            UNION ALL SELECT 'documents', 'text_nonempty', n, empty_text FROM dagg)
        SELECT tbl, check_name, CAST(n AS BIGINT) AS n_rows,
               CAST(violations AS BIGINT) AS violations,
               violations = 0 AS passed
        FROM rep ORDER BY tbl, check_name
    """,
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite validation report (the Deequ pattern): the
    pre-training data gate a 100 TB pipeline runs before a corpus
    snapshot is allowed to feed anything downstream. Eleven declared
    constraints across four tables — primary-key uniqueness,
    accepted value sets, range checks, completeness, and one
    referential-integrity check — each published as
    (tbl, check_name, n_rows, violations, passed).

    Scale shape: ONE aggregation pass per table computes every
    constraint on that table simultaneously (count + conditional
    counts + count-distinct fused into a single agg — no per-check
    rescans); the one-row results explode into report rows, so the
    whole report moves O(checks) bytes after the scans. The RI check
    is folded into lineitem's single pass as a left join against the
    distinct key set — the one genuinely key-shuffle-priced check
    (at 100 TB: same budget as any key join; a bloom/broadcast
    prefilter applies when the parent key set is small or the orphan
    rate is known-low, cf. bloom.py). The TPC-H fixtures are clean,
    so the oracle pins the MACHINERY (counts, distinct algebra, the
    pass/fail decision) rather than nonzero violations; the
    violation-detection branches are exercised on dirty synthetic
    data in tests/test_curation.py."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")

    def report(agg_df, tbl, checks):
        arr = F.array(
            *[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col(c).cast("bigint").alias("violations"),
                )
                for name, c in checks
            ]
        )
        return agg_df.select(
            F.lit(tbl).alias("tbl"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.explode(arr).alias("_c"),
        ).select(
            "tbl",
            F.col("_c.check_name").alias("check_name"),
            "n_rows",
            F.col("_c.violations").alias("violations"),
            (F.col("_c.violations") == 0).alias("passed"),
        )

    oagg = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dup"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("P", "O", "F"), 1)
        ).alias("bad_status"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("bad_price"),
    )
    lagg = (
        li.join(
            o.select("o_orderkey").distinct().withColumn("_hit", F.lit(1)),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.count(F.lit(1))
                - F.countDistinct("l_orderkey", "l_linenumber")
            ).alias("pk_dup"),
            F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("bad_qty"),
            F.count(F.when(F.col("_hit").isNull(), 1)).alias("ri_orphans"),
        )
    )
    eagg = e.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("pk_dup"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("null_user"),
        F.count(F.when(F.col("value") < 0, 1)).alias("neg_value"),
    )
    dagg = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("pk_dup"),
        F.count(
            F.when(F.col("text").isNull() | (F.length("text") == 0), 1)
        ).alias("empty_text"),
    )
    rep = (
        report(
            oagg,
            "orders",
            [
                ("pk_unique", "pk_dup"),
                ("status_accepted", "bad_status"),
                ("totalprice_positive", "bad_price"),
            ],
        )
        .unionByName(
            report(
                lagg,
                "lineitem",
                [
                    ("pk_unique", "pk_dup"),
                    ("quantity_positive", "bad_qty"),
                    ("ri_orders", "ri_orphans"),
                ],
            )
        )
        .unionByName(
            report(
                eagg,
                "events",
                [
                    ("pk_unique", "pk_dup"),
                    ("user_id_complete", "null_user"),
                    ("value_nonnegative", "neg_value"),
                ],
            )
        )
        .unionByName(
            report(
                dagg,
                "documents",
                [("pk_unique", "pk_dup"), ("text_nonempty", "empty_text")],
            )
        )
    )
    return rep.orderBy("tbl", "check_name")


def doc_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    n-token shingles that are FIRST INTRODUCED by this doc under the
    min-id attribution (the same survivor rule as exact/near dedup) —
    the curation signal that separates fresh content from remixes of
    the corpus (low novelty ≈ boilerplate / near-dup tail even when
    no single pair crosses a dedup threshold).

    Shuffle discipline: shingles hash to md5 digests before the
    first-occurrence window — text never enters an exchange — then
    one digest-keyed window pass and one doc-keyed aggregation.
    ``novelty_ppm`` publishes via exact integer floor division of
    engine-identical BIGINTs (both engines floor for non-negative
    operands)."""
    from real_time_data_anomaly_detection_spark.operators.dedup import shingles

    sh = shingles(df, text_col, id_col, n).select(
        id_col, F.md5("shingle").alias("_dig")
    )
    w = Window.partitionBy("_dig")
    firsts = sh.withColumn("_fd", F.min(id_col).over(w))
    return (
        firsts.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("_fd") == F.col(id_col), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_shingles")
            .cast("bigint")
            .alias("novelty_ppm"),
        )
        .orderBy(id_col)
    )


@query(
    "q_doc_novelty",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
        s AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(w[i+1:i+3], ' ')) AS dig
            FROM t, UNNEST(generate_series(0, len(w) - 3)) AS g(i)),
        f AS (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY dig) AS fd
            FROM s)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS novelty_ppm
        FROM f GROUP BY 1 ORDER BY 1
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram novelty profile of the documents corpus under min-id
    first-occurrence attribution: per doc, its distinct shingle
    count, how many it introduced, and the novelty fraction in exact
    integer ppm. Exact duplicates of earlier docs score 0; the
    corpus's planted near-dup tail shows up as the low-ppm band."""
    d = load_table(spark, sf_dir, "documents")
    return doc_novelty(d, "text", "doc_id", 3)
