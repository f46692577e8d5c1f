"""Deduplication operators for LLM training-data pipelines.

Four families, all shuffle-conscious:

- exact: hash-groupBy on sha2(text) — the shuffle carries 32-byte
  digests, never documents.
- n-gram Jaccard (exact near-dup): shingle → inverted-index self-join →
  intersection counts. O(sum of shingle-postings²) — the exact
  baseline the approximate methods are validated against.
- MinHash + LSH banding: k seeded xxhash64 min-signatures, banded into
  b buckets; candidate pairs only where a band collides. The 100 TB
  path: cost ~ O(n·k) + collision joins, no n² term.
- SimHash: 64-bit weighted-bit-vote fingerprint; near-dups = small
  Hamming distance. One explode + two aggregations, all JVM-side.

Declared queries (registry): q_ngram_jaccard + q_embed_neardup carry
DuckDB oracles; q_minhash_neardup + q_simhash_pairs are deterministic
but not SQL-expressible → rows-only checks + unit tests vs the exact
Jaccard baseline (tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.functions.vector import (
    array_lit,
    cosine_similarity,
)
from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import (
    fetch_if_small,
    materialize,
)


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct n-token shingles per document: (id, shingle)."""
    # Single-file sources scan as one task; spread docs before the
    # explode so shingling/hashing parallelizes.
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par, id_col).select(
        id_col, F.split(F.col(text_col), " ").alias("t")
    )
    idx = F.sequence(F.lit(0), F.size("t") - n)
    shingle = lambda i: F.concat_ws(" ", *[F.element_at("t", i + j + 1) for j in range(n)])  # noqa: E731
    return (
        toks.filter(F.size("t") >= n)
        .select(id_col, F.explode(F.transform(idx, lambda i: shingle(i))).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.05,
    max_posting_size: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs from a (id, shingle) relation.

    Inverted index as bucket-local pair generation: group by shingle,
    collect the sorted posting list, explode its i<j pairs, count per
    pair — pairs only materialize for shared shingles, and the shingle
    relation is evaluated once (a self-join evaluates it per side).

    ``max_posting_size`` is the stop-shingle valve (the twin of
    minhash_lsh_candidates' ``max_bucket_size``): one shingle shared by
    m docs contributes m² pair rows, so a boilerplate shingle across
    the corpus is THE quadratic hazard of the exact path. Postings over
    the cap are dropped before pair generation — a size filter on the
    collected list, no extra pass — which removes those shingles from
    the universe on BOTH sides of the ratio (|A'∩B'| / |A'∪B'|,
    standard stop-word-removal semantics; doc sizes are computed from
    the capped relation so the denominator matches). Off (None) by
    default to keep the oracle exact; recall effect pinned in
    tests/test_dedup.py::test_jaccard_posting_cap.
    """
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    if max_posting_size is not None:
        postings = postings.filter(F.size("ids") <= max_posting_size)
        sh = (
            postings.select("shingle", F.explode("ids").alias(id_col))
        )
    inter = (
        _bucket_pairs(postings.filter(F.size("ids") >= 2))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def shingle_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-doc DISTINCT n-token shingle ARRAY: (id, sharr) — one row
    per doc, no explode, no shuffle.

    The row-wise twin of :func:`shingles`: `array_distinct` dedups
    within the row, so no global `.distinct()` exchange is needed.
    Feeds the zero-shuffle signature path (`minhash_signatures_arr`)
    and array-intersect verification (`verify_candidates_arr`)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par, id_col).select(
        id_col, F.split(F.col(text_col), " ").alias("t")
    )
    idx = F.sequence(F.lit(0), F.size("t") - n)
    shingle = lambda i: F.concat_ws(" ", *[F.element_at("t", i + j + 1) for j in range(n)])  # noqa: E731
    return toks.filter(F.size("t") >= n).select(
        id_col,
        F.array_distinct(F.transform(idx, lambda i: shingle(i))).alias("sharr"),
    )


def minhash_signatures_arr(
    arr_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """MinHash signatures computed PER ROW from the shingle array:
    (id, sig array<bigint>) with ZERO shuffles.

    min(xxhash64(s, i)) over a doc's shingles is insensitive to
    duplicate shingles, so no distinct/groupBy exchange is needed —
    each row computes its own signature inside whole-stage codegen.
    Identical output to :func:`minhash_signatures` over
    :func:`shingles` (pinned in tests/test_dedup.py)."""
    # Factory, NOT `lambda s, i=i`: pyspark passes (element, index) to a
    # 2-arg transform lambda, which would silently bind the seed to the
    # array position instead of the hash index.
    def _hasher(seed):
        return lambda s: F.xxhash64(s, F.lit(seed))

    sig = F.array(
        *[
            F.array_min(F.transform("sharr", _hasher(i)))
            for i in range(num_hashes)
        ]
    )
    return arr_df.select(id_col, sig.alias("sig"))


def verify_candidates_arr(
    cands: DataFrame, arr_df: DataFrame, id_col: str = "doc_id", threshold: float = 0.05
) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-row array intersection.

    Joins each candidate pair back to the two docs' distinct shingle
    arrays and computes |A∩B| / |A∪B| row-wise — two hash joins keyed
    on doc ids, no postings explode, no intersection groupBy. The
    shuffled payload is one shingle array per candidate side, and cost
    scales with the candidate count, never all-pairs."""
    a = arr_df.select(F.col(id_col).alias("doc_a"), F.col("sharr").alias("arr_a"))
    b = arr_df.select(F.col(id_col).alias("doc_b"), F.col("sharr").alias("arr_b"))
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    j = inter / (F.size("arr_a") + F.size("arr_b") - inter)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """k min-hash values per doc: (id, sig array<bigint>).

    h_i(s) = xxhash64(shingle, seed=i); sig[i] = min over shingles.
    One groupBy, k JVM-side hash evaluations per shingle — no UDFs.
    """
    aggs = [
        F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    per_doc = sh.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def banded_signatures(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(id, sig, band, band_key) banding relation.

    band_key hashes the band id together with the band's signature
    slice, so it is globally unique per band and usable as a
    SINGLE-column join/bucketing key."""
    band_ids = F.sequence(F.lit(0), F.lit(bands - 1))
    return sigs.select(id_col, "sig", F.explode(band_ids).alias("band")).select(
        id_col,
        "sig",
        "band",
        F.xxhash64(
            "band",
            F.concat_ws(
                ",", F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band)
            ),
        ).alias("band_key"),
    )


def _bucket_pairs(buckets: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Explode each bucket's sorted id array into its i<j pairs —
    all JVM-side (nested transform + flatten + explode), no self-join."""
    ids = F.col(ids_col)
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                # elements after 0-based position i (slice is 1-based)
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("p")).select("p.doc_a", "p.doc_b")


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs colliding in ≥1 band → candidate pairs.

    Band key = hash of r consecutive signature slots. P(collide) =
    1-(1-j^r)^b — the standard S-curve; (b=8, r=4) centers ~j≈0.6.

    ``max_bucket_size`` is the 100 TB safety valve: a boilerplate
    cluster of m identical fragments (license headers, templates) puts
    m rows in one band bucket → m² candidate pairs, the quadratic term
    banding exists to avoid. Buckets over the cap are DROPPED as
    stop-buckets (a one-column size filter on the bucket row — free);
    members of oversized buckets still pair through their other,
    non-pathological bands, and true boilerplate belongs to exact
    dedup / explicit filters, not pairwise verification. Off (None)
    by default to keep small-corpus semantics exact.

    Pair generation is bucket-local, not a self-join: group by
    (band, band_key), collect the sorted id list, explode its i<j
    pairs. ONE exchange of the banded relation versus the self-join
    formulation's two full evaluations of the signature subplan (once
    per join side) plus a broadcast — and the upstream scan→shingle→
    signature chain is evaluated exactly once.
    """
    banded = banded_signatures(sigs, id_col, bands, rows_per_band)
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return _bucket_pairs(buckets).distinct()


def verify_candidates(
    cands: DataFrame, sh: DataFrame, id_col: str = "doc_id", threshold: float = 0.05
) -> DataFrame:
    """Exact Jaccard computed ONLY for candidate pairs.

    Intersections come from candidates ⋈ shingles_a ⋈ shingles_b on
    (doc ids, equal shingle) — cost scales with candidate count, not
    with all-pairs. This is what makes LSH generate-and-verify cheaper
    than the exact join at scale."""
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("_doc_b"), F.col("shingle").alias("sh_b"))
    inter = (
        cands.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("_doc_b")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.05,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard — the
    standard generate-and-verify near-dup pipeline. Verification cost
    scales with the candidate set, never all-pairs.

    Fully row-wise up to the banding self-join: the per-doc distinct
    shingle ARRAY (shingle_arrays) feeds zero-shuffle signatures
    (minhash_signatures_arr) and array-intersect verification
    (verify_candidates_arr). The only exchanges left are the band-key
    self-join and the two candidate→doc hash joins — versus the
    earlier exploded-postings design which paid a repartition+distinct
    exchange per branch (3×) plus a signature groupBy.

    The arr relation feeds three subplans (signatures + both verify
    sides), so it is materialized under the size gate (measured 1.8 →
    1.3 s at sf0.1)."""
    arr = materialize(shingle_arrays(df, text_col, id_col, n), gate_on=df)
    cands = minhash_lsh_candidates(
        minhash_signatures_arr(arr, id_col, num_hashes),
        id_col,
        bands,
        num_hashes // bands,
    )
    return verify_candidates_arr(cands, arr, id_col, threshold)


def _simhash(
    df: DataFrame, text_col: str, id_col: str, token_hash, nbits: int
) -> DataFrame:
    """(id, simhash) per document, entirely with built-in expressions:
    each distinct token hashes with ``token_hash`` (a Column → BIGINT
    Column function), each of the low ``nbits`` bits votes ±1, and the
    fingerprint's bit is 1 where the vote sum is positive. Explode is
    tokens × nbits rows — linear, shuffle-free until one groupBy."""
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, id_col)  # parallelize single-file sources
    toks = df.select(
        id_col, F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    ).withColumn("h", token_hash(F.col("tok")))
    bits = toks.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(nbits - 1))).alias("bit"),
        F.col("h"),
    ).select(
        id_col,
        "bit",
        # vote +1 if bit set else -1 (expr: DSL shiftright needs a
        # literal shift amount, SQL form accepts a column)
        F.expr("(shiftright(h, bit) & 1) * 2 - 1").alias("vote"),
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.expr(
                "CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("simhash")
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: _simhash over xxhash64 token
    hashes."""
    return _simhash(df, text_col, id_col, F.xxhash64, 64)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ max_hamming.

    Self-join is banded on the fingerprint's four 16-bit chunks
    (pigeonhole: distance ≤ max_hamming with 4 bands guarantees one
    identical chunk when max_hamming < 4) — at scale this avoids the
    n² comparison just like MinHash banding."""
    fps = simhash_fingerprints(df, text_col, id_col)
    chunk = lambda c, i: F.shiftright(F.col(c), i * 16).bitwiseAND(F.lit(0xFFFF))  # noqa: E731
    banded = fps.select(
        id_col,
        "simhash",
        F.explode(F.array(*[F.struct(F.lit(i).alias("band"), chunk("simhash", i).alias("key")) for i in range(4)])).alias(
            "bk"
        ),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "key"
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


@query(
    "q_ngram_jaccard",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter::DOUBLE/(na.n + nb.n - inter), 4) AS jaccard
        FROM pairs
        JOIN sizes na ON doc_a = na.doc_id
        JOIN sizes nb ON doc_b = nb.doc_id
        WHERE inter::DOUBLE/(na.n + nb.n - inter) >= 0.05
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.05)."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(shingles(d, n=3), threshold=0.05)


@query(
    "q_ngram_jaccard_capped",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        sh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)),
        kept AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 4),
        sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN kept USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter::DOUBLE/(na.n + nb.n - inter), 4) AS jaccard
        FROM pairs
        JOIN sizes na ON doc_a = na.doc_id
        JOIN sizes nb ON doc_b = nb.doc_id
        WHERE inter::DOUBLE/(na.n + nb.n - inter) >= 0.05
    """,
)
def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs WITH the stop-shingle valve on
    (max_posting_size=4): the scale-safe variant of q_ngram_jaccard,
    exactly characterized — the oracle replays the identical cap in a
    HAVING CTE before pair generation, so the capped semantics
    (stop-shingles removed from BOTH sides of the ratio) are
    hash-checked, not just recall-tested. The cap genuinely bites at
    every test SF (posting p99 = 4 at sf0.01), so a pass proves the
    valve's algebra rather than coinciding with the uncapped result."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(shingles(d, n=3), threshold=0.05, max_posting_size=4)


def containment_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_posting_size: int | None = None,
) -> DataFrame:
    """Pairs whose shingle-set CONTAINMENT — |A∩B| / min(|A|,|B|) —
    reaches ``threshold``. The asymmetric companion to Jaccard: an
    excerpt quoted inside a much longer document has near-total
    containment but tiny Jaccard (the union is dominated by the long
    doc), so containment is the dedup signal for quote/subset
    duplication (the case exact-substring dedup handles at the token
    level, here at the set level). Same bucket-local posting algebra
    as :func:`jaccard_pairs` — only the published ratio differs.

    ``max_posting_size`` is the same stop-shingle valve as
    :func:`jaccard_pairs`: one boilerplate shingle
    shared by m docs yields ~m²/2 pair rows, the exact path's
    quadratic hazard. Postings over the cap are dropped BEFORE pair
    generation and doc sizes are recomputed from the capped relation,
    so the ratio |A'∩B'| / min(|A'|,|B'|) stays internally consistent
    (stop-word-removal semantics). Off (None) by default so the
    oracle replay stays exact; effect pinned in
    tests/test_dedup.py::test_containment_posting_cap."""
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    if max_posting_size is not None:
        postings = postings.filter(F.size("ids") <= max_posting_size)
        sh = postings.select("shingle", F.explode("ids").alias(id_col))
    inter = (
        _bucket_pairs(postings.filter(F.size("ids") >= 2))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    c = F.col("inter") / F.least("na", "nb")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(c >= threshold)
        .select("doc_a", "doc_b", F.round(c, 4).alias("containment"))
    )


@query(
    "q_containment_pairs",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter::DOUBLE/least(na.n, nb.n), 4) AS containment
        FROM pairs
        JOIN sizes na ON doc_a = na.doc_id
        JOIN sizes nb ON doc_b = nb.doc_id
        WHERE inter::DOUBLE/least(na.n, nb.n) >= 0.8
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram containment pairs at threshold 0.8 — subset/excerpt
    duplication detection (|A∩B|/min), hash-checked against the exact
    all-pairs DuckDB replay."""
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(shingles(d, n=3), threshold=0.8)


def prefix_filter_candidates(
    arr_df: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """LOSSLESS candidate generation for Jaccard >= ``threshold`` via
    prefix filtering (SSJoin/PPJoin): under any total order on tokens,
    two sets with |A∩B| >= α must share a token within their first
    |X| - α + 1 tokens; with α = ⌈τ·|X|⌉ (J >= τ forces an
    intersection at least that large on each side), pairs whose
    prefixes are disjoint provably satisfy J < τ and are never
    generated. Unlike the ``max_posting_size`` valve (lossy, drops
    stop-shingles) or MinHash-LSH (probabilistic recall), this is the
    exactness-preserving scale path for HIGH thresholds.

    The canonical order is (document frequency ASC, token ASC) —
    rarest-first, so prefixes index the least-shared tokens and
    posting lists on prefix tokens stay short: a boilerplate shingle
    shared by m docs has maximal df and lands in almost no prefix,
    inverting the exact path's quadratic hazard. Shape: one df
    aggregation, one doc-keyed regroup, bucket-local i<j pairs on
    prefix postings only.
    """
    # document frequencies WITHOUT a join: build postings once (the df
    # is the posting size) and re-explode them — one corpus exchange on
    # shingle + one on id, versus groupBy + join-shuffle + groupBy for
    # the join formulation (measured ~2 s off at sf0.1)
    sh = arr_df.select(id_col, F.explode("sharr").alias("shingle"))
    post = sh.groupBy("shingle").agg(F.collect_list(id_col).alias("_ids"))
    exploded = post.select(
        "shingle",
        F.size("_ids").alias("_df"),
        F.explode("_ids").alias(id_col),
    )
    ordered = exploded.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_df"), F.col("shingle")))
        ).alias("_ord")
    )
    # α = ⌈τ·n⌉ with an epsilon guard: if the fp product lands just
    # ABOVE an integer that τ·n mathematically equals (e.g. τ whose
    # binary expansion rounds up), a bare ceil would overshoot by one
    # and SHORTEN the prefix — a silent losslessness break. Erring the
    # other way only lengthens the prefix (more candidates, still
    # exact after verification).
    plen = (
        F.size("_ord")
        - F.ceil(F.lit(threshold) * F.size("_ord") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    # prefix postings carry (id, set size n, 0-based prefix position p)
    # so pair generation can apply the two PPJoin pair filters
    prefix = ordered.select(
        id_col,
        F.size("_ord").alias("_n"),
        F.posexplode(
            F.slice(
                F.transform("_ord", lambda s: s["shingle"]), F.lit(1), plen
            )
        ).alias("_p", "shingle"),
    )
    buckets = (
        prefix.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col), F.col("_n"), F.col("_p")))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    # Bucket-local i<j pairs, pruned by the PPJoin pair filters before
    # they ever become rows (both LOSSLESS — proofs in the module test):
    #   length: J >= τ ⇒ min(n) >= τ·max(n)        (J <= min/max)
    #   position: the FIRST token a true pair shares in canonical order
    #     has, in each doc, at least α = ⌈τ·max(n)⌉ tokens at-or-after
    #     it (all shared tokens sort at-or-after the first one), so
    #     1 + min(n_x − p_x − 1, n_y − p_y − 1) >= α holds in at least
    #     one bucket of every true pair; buckets where the remaining-
    #     token upper bound cannot reach α are skipped.
    # Epsilon guards err toward KEEPING a pair.
    ms = F.col("ms")
    tau = F.lit(threshold)

    def _pair_ok(x, y):
        max_n = F.greatest(x["_n"], y["_n"]).cast("double")
        len_ok = F.least(x["_n"], y["_n"]).cast("double") >= tau * max_n - F.lit(1e-9)
        alpha = F.ceil(tau * max_n - F.lit(1e-9))
        ubound = 1 + F.least(
            x["_n"] - x["_p"] - 1, y["_n"] - y["_p"] - 1
        )
        return len_ok & (ubound >= alpha)

    pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ms, i + F.lit(2), F.size(ms)),
                    lambda y: F.when(
                        _pair_ok(x, y),
                        F.struct(
                            x[id_col].alias("doc_a"), y[id_col].alias("doc_b")
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("pr"))
        .select("pr.doc_a", "pr.doc_b")
        .distinct()
    )


def prefix_filter_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-similar pairs at a high threshold via prefix
    filtering + array-intersect verification: IDENTICAL results to the
    all-pairs exact join (the oracle replays that), with candidate
    cost bounded by prefix-posting sizes instead of full postings."""
    # arr feeds candidate generation AND both verify sides
    arr = materialize(shingle_arrays(df, text_col, id_col, n), gate_on=df)
    cands = prefix_filter_candidates(arr, id_col, threshold)
    # The candidate relation is BYTE-small (two ids/row) but each row
    # buys an array_intersect over two full shingle arrays — AQE's
    # byte-based coalescing squeezes the 2 MB exchange to one
    # partition and serializes the verify (measured 6 s in ONE task at
    # sf0.1). Spread candidates by compute cost, not bytes.
    par = df.sparkSession.sparkContext.defaultParallelism
    cands = cands.repartition(par)
    return verify_candidates_arr(cands, arr, id_col, threshold)


@query(
    "q_prefix_jaccard",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter::DOUBLE/(na.n + nb.n - inter), 4) AS jaccard
        FROM pairs
        JOIN sizes na ON doc_a = na.doc_id
        JOIN sizes nb ON doc_b = nb.doc_id
        WHERE inter::DOUBLE/(na.n + nb.n - inter) >= 0.5
    """,
)
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs at threshold 0.5. The
    oracle is the ALL-PAIRS exact join — a hash-match proves the
    prefix filter is lossless (generates a superset of the true pairs)
    and the verification exact, not merely that the plumbing runs.
    The filtering genuinely bites: prefix postings cover a fraction of
    the full postings (candidate-reduction pinned in
    tests/test_dedup.py::test_prefix_filter_candidates)."""
    d = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard(d, threshold=0.5)


@query("q_minhash_neardup")  # deterministic, not SQL-expressible → rows-only
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified (the scale path for
    q_ngram_jaccard; recall vs the exact pairs tested in
    tests/test_dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_neardup_pairs(d)


@query("q_simhash_pairs")  # deterministic, not SQL-expressible → rows-only
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup pairs (banded self-join)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=8)


def embed_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near-dup via a blocked self-join.

    The exact problem is inherently O(n²) compare work; what must NOT
    grow with the corpus is any single task's memory. Rows are hashed
    into ``n_blocks`` blocks; the a-side replicates each row to block
    pairs (blk, j>=blk), the b-side to (j<=blk, blk), and the cogroup
    key is the block pair — so every unordered row pair meets in
    exactly one task (for same-block keys both orientations land in
    the cross product; the id mask keeps one). Per-key cardinality is
    n/n_blocks per side: bounded, shuffled on a non-degenerate key,
    NO broadcast. Sizing rule at scale: pick n_blocks so
    (n/n_blocks)·row_bytes fits comfortably in a task (keys =
    n_blocks·(n_blocks+1)/2 should also be >= cluster parallelism).

    Per block pair the cosines come from ONE numpy GEMM inside a
    cogrouped ``applyInPandas`` — dense all-pairs similarity is linear
    algebra, and Arrow-batched BLAS beats per-pair interpreted
    expressions by ~two orders of magnitude while moving exactly two
    blocks of vectors per task. The candidate-pruned (sub-quadratic)
    scale path is ``embed_neardup_lsh`` below.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if n_blocks is None:
        # smallest B with B(B+1)/2 >= parallelism, floor 8
        n_blocks = max(8, int((2 * par) ** 0.5) + 1)
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("_id"), v.alias("_v")).withColumn(
        "_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)).cast("int")
    )
    up = F.transform(
        F.sequence(F.col("_blk"), F.lit(n_blocks - 1)),
        lambda j: F.struct(F.col("_blk").alias("u"), j.alias("w")),
    )
    down = F.transform(
        F.sequence(F.lit(0), F.col("_blk")),
        lambda j: F.struct(j.alias("u"), F.col("_blk").alias("w")),
    )
    # Distinct column names per side: both branches share the same
    # base lineage, and a self-cogroup with identical attribute names
    # gets its non-key columns pruned from one side (observed on
    # Spark 4.1 — the right pdf arrived with only the key columns).
    a = base.select("_id", "_v", F.explode(up).alias("_k")).select(
        F.col("_id").alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_k.u").alias("_u"),
        F.col("_k.w").alias("_w"),
    )
    b = base.select("_id", "_v", F.explode(down).alias("_k")).select(
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_k.u").alias("_u"),
        F.col("_k.w").alias("_w"),
    )

    def compare(key, left, right):
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        L = np.stack(left["_va"].to_numpy()).astype(np.float64)
        R = np.stack(right["_vb"].to_numpy()).astype(np.float64)
        L /= np.linalg.norm(L, axis=1, keepdims=True)
        R /= np.linalg.norm(R, axis=1, keepdims=True)
        sims = L @ R.T
        ida = left["_ida"].to_numpy()
        idb = right["_idb"].to_numpy()
        mask = sims >= threshold
        if key[0] == key[1]:  # same block: row can meet itself / meet twice
            mask &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(mask)
        if len(ii) == 0:
            return empty
        va, vb = ida[ii], idb[jj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "cos_sim": np.round(sims[ii, jj], 4),
            }
        )

    return (
        a.groupBy("_u", "_w")
        .cogroup(b.groupBy("_u", "_w"))
        .applyInPandas(compare, "vec_a bigint, vec_b bigint, cos_sim double")
    )


def embed_lsh_candidates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded random-hyperplane LSH.

    Band i hashes the vector to a ``rows_per_band``-bit sign pattern
    over its own hyperplane slice; docs colliding in >=1 band are
    candidates (same generate shape as minhash_lsh_candidates). For
    angular similarity s = 1 - theta/pi, P(candidate) =
    1-(1-s^r)^b — (b=16, r=4) keeps per-pair recall ~0.94 even at
    cos 0.4 (s=0.63). NOTE the S-curve floor: near-orthogonal pairs
    (s=0.5) still collide at ~1-(1-0.0625)^16 = 64%, so pruning only
    bites when the corpus is mostly dissimilar at higher s — at
    production near-dup thresholds (cos>=0.8, s>=0.8) raise
    rows_per_band to sharpen the curve (r=8: recall 0.996 at s=0.86,
    random-collision floor 6%)."""
    from real_time_data_anomaly_detection_spark.operators import similarity

    planes = similarity._hyperplanes(dim, bands * rows_per_band, seed)
    v = F.col(vec_col).cast("array<double>")
    buckets = [
        F.struct(
            F.lit(i).alias("band"),
            similarity._bucket_expr(v, planes[i * rows_per_band : (i + 1) * rows_per_band]).alias("bucket"),
        )
        for i in range(bands)
    ]
    banded = df.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*buckets)).alias("bk")
    ).select("_id", "bk.band", "bk.bucket")
    if max_bucket_size is not None:
        # same stop-bucket valve as minhash_lsh_candidates: a cluster of
        # near-identical vectors floods one bucket with a quadratic term
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
    a = banded.select(F.col("_id").alias("vec_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("vec_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def embed_neardup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    dim: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """LSH-bucketed generate-and-verify near-dup.

    Candidates come from a band-join on hyperplane sign buckets (never
    all-pairs); exact cosine is computed ONLY for candidates by joining
    the two vectors back on id (shuffle joins on the id key — nothing
    broadcast, nothing quadratic). The per-candidate cosine stays a
    JVM-side expression on purpose: a vectorized pandas_udf was
    measured 2.5x SLOWER here because Arrow-transferring two vectors
    per candidate pair dwarfs the compute. Precision is exact; recall
    is the banding S-curve, asserted vs embed_neardup_pairs in
    tests/test_dedup.py.

    Regime note: banding prunes only when near-dups are well separated
    from background similarity. For near-random corpora where the
    threshold sits close to the background (cos 0.4 → angular s=0.63
    vs 0.5), the S-curve floor admits most pairs and the exact blocked
    GEMM (embed_neardup_pairs) is the better scale path; at production
    thresholds (cos>=0.8) raise rows_per_band to 8 and this prunes
    ~16x."""
    from real_time_data_anomaly_detection_spark.functions.vector import (
        cosine_similarity,
    )

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    cands = embed_lsh_candidates(df, vec_col, id_col, dim, bands, rows_per_band, seed)
    v = F.col(vec_col).cast("array<double>")
    vecs = df.select(F.col(id_col).alias("_id"), v.alias("_v"))
    va = vecs.select(F.col("_id").alias("vec_a"), F.col("_v").alias("_va"))
    vb = vecs.select(F.col("_id").alias("vec_b"), F.col("_v").alias("_vb"))
    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        cands.repartition(par, "vec_a")
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("vec_a", "vec_b", F.round("_cos", 4).alias("cos_sim"))
    )


@query(
    "q_embed_neardup",
    oracle="""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 4) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4), exact.

    Blocked self-join (embed_neardup_pairs): bounded per-task memory,
    no broadcast that grows with the corpus — the earlier posexplode
    plan broadcast the whole exploded relation, an executor OOM at
    scale. The LSH-pruned path is q_embed_neardup_lsh."""
    e = load_table(spark, sf_dir, "embeddings")
    return embed_neardup_pairs(e)


@query("q_embed_neardup_lsh")  # approximate (banding recall) → rows-only
def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate generation + exact-cosine verify —
    the pruned scale path for q_embed_neardup (recall vs the exact
    pairs asserted in tests/test_dedup.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    return embed_neardup_lsh(e)


def connected_components(
    edges: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) labeling over an undirected edge list via
    iterative min-label propagation; each node's label is the min node
    id of its component.

    Small graphs finish on the driver. The symmetric edge list is
    persisted once; ``plans.inspect.fetch_if_small`` then fetches it
    when it has at most FETCH_MAX_ROWS rows, and the rounds run in
    numpy over dense node indices. Past that bound every round is a
    distributed Spark round over the same cached edges. Nothing else
    selects the path. Both paths run the same rounds and converge to
    the min id, a unique answer, so their labels and round counts are
    equal (pinned in tests/test_graph.py).

    Each round every node takes the min of its own label and its
    neighbors' labels, then POINTER-JUMPS TWICE (label := label of
    its label, squared reach) — the shortcut makes convergence
    ~log2(n)/2 rounds even for chain-shaped clusters, where plain
    propagation needs O(diameter) and would blow the iteration cap.
    Labels seed with min(self, neighbors), folding the first
    propagation round into the init shuffle. A distributed round is
    one edge-sized join + groupBy-min, two label-sized jump joins, and
    a convergence check that is a filter-count SCAN of the round's own
    checkpointed frontier (the start-of-round label rides along as
    ``_prev`` — no old-vs-new join job). Stops when no label changes;
    raises past ``max_iter`` rather than returning a half-propagated
    labeling.

    Pass ``stats`` (a dict) to get ``stats["rounds"]`` and
    ``stats["path"]`` ("driver" or "distributed") back — the O(log n)
    round claim is pinned, not assumed, by
    tests/test_dedup.py::test_connected_components_round_scaling.

    The edge cache is NOT pre-partitioned by ``src`` (pagerank's
    move): the near-dup callers' edge lists are PAIR-sized, orders
    below the corpus, where the one-off fill exchange costs more than
    log(n) rounds of pair-sized exchanges save (interleaved A/B at
    sf0.1: 2.60 vs 2.72 s on q_cluster_stats_md5)."""
    # Persist the edge list FIRST: every round references it twice
    # (propagation + convergence check), and without materialization
    # each round would recompute the edges' full upstream lineage —
    # for near-dup pairs that is the entire minhash pipeline per round.
    # Symmetrize with ONE consumer of `edges` — explode both directions
    # out of each input row. The union-of-two-selects formulation gave
    # `edges` two consumers, and Catalyst re-inlines the upstream
    # subtree per consumer: the cache-fill job ran the ENTIRE pair
    # pipeline (minhash chain / per-cell GEMM) twice before this
    # operator's first round even started.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(col_a).alias("src"), F.col(col_b).alias("dst")),
                F.struct(F.col(col_b).alias("src"), F.col(col_a).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst").persist()
    # Decide from the persisted relation: the fetch fills its cache, so
    # the upstream pair derivation runs once on either path. A null
    # endpoint has no dense index and keeps the distributed semantics.
    tbl = fetch_if_small(sym)
    if tbl is not None and tbl.column("src").null_count == 0:
        sym.unpersist()
        if stats is not None:
            stats["path"] = "driver"
        return _components_on_driver(edges.sparkSession, tbl, max_iter, stats)
    if stats is not None:
        stats["path"] = "distributed"
    # Seed comp = min(self, direct neighbors), not comp = self: the
    # node set needs a groupBy-shaped shuffle either way (the old code
    # paid it as distinct), and folding the first neighbor-min into it
    # saves one full propagation round — each round is two edge-sized
    # joins, the dominant cost at scale.
    comp = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nmin"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_nmin")).alias("comp"),
        )
        .persist()
    )
    comp.count()
    for _round in range(max_iter):
        neigh_min = (
            sym.join(comp, sym.src == comp.node)
            .groupBy("dst")
            .agg(F.min("comp").alias("nmin"))
        )
        # Carry the start-of-round label (_prev) through the round so
        # convergence is a scan of the materialized frontier, not a
        # separate old⋈new join job per round.
        prop = comp.join(neigh_min, comp.node == neigh_min.dst, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nmin", "comp")).alias("comp"),
            F.col("comp").alias("_prev"),
        )
        # pointer jump: follow the label's own label (labels are node
        # ids, so the self-join is well-defined). TWO hops per round,
        # not one — the second is another label-sized join in the same
        # job (cheap next to the edge-sized propagation join) and
        # squares the shortcut reach, so chain-shaped clusters converge
        # in roughly half the rounds.
        hop = prop.select(F.col("node").alias("_ln"), F.col("comp").alias("_lc"))
        jumped = prop.join(hop, prop.comp == hop._ln, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("_lc", "comp")).alias("comp"),
            "_prev",
        )
        hop2 = jumped.select(F.col("node").alias("_ln"), F.col("comp").alias("_lc"))
        # A checkpoint, not persist: it TRUNCATES lineage. With bare
        # persist the logical plan doubles per round and Catalyst
        # analysis time explodes after ~10 iterations (minutes-long
        # planning for a 60-node chain).
        # eager=False: the convergence count below is the round's first
        # action, so it MATERIALIZES the checkpoint and counts changed
        # labels in ONE job instead of two.
        new_comp = materialize(
            jumped.join(hop2, jumped.comp == hop2._ln, "left").select(
                "node",
                F.least(F.col("comp"), F.coalesce("_lc", "comp")).alias("comp"),
                "_prev",
            ),
            eager=False,
        )
        changed = new_comp.filter(F.col("comp") != F.col("_prev")).count()
        comp.unpersist()
        comp = new_comp.drop("_prev")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = _round + 1
            sym.unpersist()
            return comp
    sym.unpersist()
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _components_on_driver(spark, tbl, max_iter: int, stats: dict | None) -> DataFrame:
    """connected_components' rounds in numpy over the fetched symmetric
    edge list (src, dst): the same neighbor-min seed, propagation, two
    pointer jumps and no-change test, on indices into the sorted node
    ids. Index order is id order, so the min index is the min id."""
    import numpy as np
    import pyarrow as pa

    src = tbl.column("src").to_numpy()
    nodes, inv = np.unique(
        np.concatenate([src, tbl.column("dst").to_numpy()]), return_inverse=True
    )
    s, d = np.split(inv, [len(src)])
    order = np.argsort(s, kind="stable")
    s, d = s[order], d[order]
    # Both directions are present, so every node starts one run of s.
    starts = np.flatnonzero(np.diff(s, prepend=-1))

    def neighbor_min(lab):
        return np.minimum(lab, np.minimum.reduceat(lab[d], starts))

    comp = neighbor_min(np.arange(len(nodes)))
    for _round in range(max_iter):
        new = neighbor_min(comp)
        new = np.minimum(new, new[new])
        new = np.minimum(new, new[new])
        if np.array_equal(new, comp):
            if stats is not None:
                stats["rounds"] = _round + 1
            t = tbl.schema.field("src").type
            return spark.createDataFrame(
                pa.table(
                    {"node": pa.array(nodes, t), "comp": pa.array(nodes[comp], t)}
                )
            )
        comp = new
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def neardup_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Corpus-level near-dup REMOVAL: MinHash-LSH pairs → connected
    components → keep the min-id document of every cluster (and every
    unpaired document). This is the step that turns pair DETECTION into
    an actual deduplicated corpus — transitive near-dups (A~B~C with
    A,C dissimilar) still collapse to one survivor."""
    pairs = minhash_neardup_pairs(df, text_col, id_col, n, num_hashes, bands, threshold)
    comps = connected_components(pairs, "doc_a", "doc_b")
    keepers = comps.groupBy("comp").agg(F.min("node").alias(id_col)).select(id_col)
    clustered = comps.select(F.col("node").alias(id_col))
    unpaired = df.select(id_col).join(clustered, id_col, "left_anti")
    survivors = keepers.union(unpaired)
    return df.join(survivors, id_col, "left_semi")


@query("q_neardup_dedup")  # iterative (components) → rows-only
def q_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated documents table: one survivor per MinHash near-dup
    cluster (threshold 0.5), all unpaired docs kept."""
    d = load_table(spark, sf_dir, "documents")
    return neardup_dedup(d).select("doc_id", "lang", "source")


def _md5_hash64(col, seed: int):
    """Cross-engine 32-bit hash as BIGINT: first 8 md5 hex digits of
    'seed:value'. Slower than xxhash64 but bit-identical in DuckDB
    (('0x' || substr(md5(...), 1, 8))::BIGINT) — the hasher that makes
    the LSH pipeline oracle-checkable."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("bigint")


#: Shared CTE chain for the md5 MinHash-LSH pipeline — both the pair
#: query and the connected-components query build their oracles from
#: this one string, so the two can never drift.
_MINHASH_MD5_CTES = """
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh0 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
                WHERE len(t) >= 3),
        sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        hashes AS (SELECT doc_id, i,
                          min(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 1, 8))::BIGINT) AS h
                   FROM sh, UNNEST(generate_series(0, 15)) AS v(i)
                   GROUP BY 1, 2),
        sig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM hashes GROUP BY 1),
        bands AS (SELECT doc_id, b,
                         CAST(sig[4*b+1] AS VARCHAR) || '_' || sig[4*b+2]
                           || '_' || sig[4*b+3] || '_' || sig[4*b+4] AS key
                  FROM sig, UNNEST(generate_series(0, 3)) AS w(b)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
                 FROM bands a JOIN bands c
                   ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT doc_a, doc_b, count(*) AS i
                  FROM cand
                  JOIN sh x ON x.doc_id = doc_a
                  JOIN sh y ON y.doc_id = doc_b AND x.s = y.s
                  GROUP BY 1, 2),
        pairs AS (
            SELECT doc_a, doc_b,
                   round(i::DOUBLE / (na.n + nb.n - i), 4) AS jaccard
            FROM inter
            JOIN sizes na ON doc_a = na.doc_id
            JOIN sizes nb ON doc_b = nb.doc_id
            WHERE i::DOUBLE / (na.n + nb.n - i) >= 0.05)
"""


@query(
    "q_minhash_neardup_md5",
    oracle=f"WITH {_MINHASH_MD5_CTES} SELECT doc_a, doc_b, jaccard FROM pairs",
)
def q_minhash_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with a CROSS-ENGINE hasher: the
    whole banding/bucketing/candidate/exact-verify algebra replayed
    in DuckDB and hash-compared — the declared xxhash64 pipeline
    (q_minhash_neardup) can only be recall-tested because DuckDB has
    no xxhash64; this twin (16 md5-derived hashes, 4 bands × 4 rows,
    verify at j >= 0.05) proves the LSH mechanics themselves, not
    just their recall. Same plan shape as the production path: per-row
    signatures in codegen, bucket-local i<j pair explode, candidate-
    bounded verify joins; md5 per shingle-hash is the (documented)
    price of oracle parity, so this entry is the correctness witness,
    not the perf path."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_md5_pairs(d)


def minhash_md5_pairs(d: DataFrame) -> DataFrame:
    """The md5-hasher MinHash-LSH pair pipeline shared by
    q_minhash_neardup_md5 and q_components_md5 (Spark twin of the
    ``_MINHASH_MD5_CTES`` SQL). As in minhash_neardup_pairs, the
    shingle-array relation feeds the signature chain AND both verify
    sides, so it is materialized under the size gate (measured 1.9 ->
    1.4 s at sf0.1 across each of the five md5-family consumers)."""
    arr = materialize(shingle_arrays(d, n=3), gate_on=d)
    sig = F.array(
        *[
            F.array_min(F.transform("sharr", (lambda i: lambda s: _md5_hash64(s, i))(i)))
            for i in range(16)
        ]
    )
    banded = arr.select("doc_id", sig.alias("sig")).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col("sig")[4 * b + r].cast("string") for r in range(4)]
                        ).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    buckets = banded.groupBy("band", "key").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )
    cands = _bucket_pairs(buckets).distinct()
    return verify_candidates_arr(cands, arr, threshold=0.05)


@query(
    "q_simhash_md5",
    oracle="""
        WITH tok AS (SELECT doc_id,
                            unnest(list_distinct(string_split(text, ' '))) AS tok
                     FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5('0:' || tok), 1, 8))::BIGINT AS h
              FROM tok),
        bits AS (SELECT doc_id, b,
                        sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                 FROM h, UNNEST(generate_series(0, 31)) AS u(b)
                 GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits GROUP BY 1
    """,
)
def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints with the cross-engine md5 hasher —
    the oracle-backed correctness witness for the SimHash vote/bit
    construction: the production _simhash body behind
    simhash_fingerprints and q_simhash_pairs, with the token hash
    swapped for md5 and 32 bits."""
    d = load_table(spark, sf_dir, "documents")
    return _simhash(d, "text", "doc_id", lambda c: _md5_hash64(c, 0), 32)


def _rademacher_planes(n_planes: int = 32, dim: int = 64) -> list[list[int]]:
    """±1 (Rademacher) hyperplanes derived from md5 — deterministic,
    engine-independent constants shared by the Spark expression and
    the generated DuckDB oracle (random-normal planes give slightly
    better variance, but sign-hash LSH theory holds for Rademacher
    projections and only these are replayable as literals)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{p}_{j}".encode()).digest()[0] & 1 else -1
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _embed_lsh_md5_oracle(bands: int = 8, rows: int = 4, threshold: float = 0.3) -> str:
    planes = _rademacher_planes(bands * rows)
    keys = []
    for b in range(bands):
        bits = " + ".join(
            f"((list_dot_product(v, [{', '.join(f'{c}.0' for c in planes[4 * b + r])}]) > 0)::INT << {r})"
            for r in range(rows)
        )
        keys.append(f"SELECT vec_id, {b} AS band, {bits} AS key FROM e")
    banded = " UNION ALL ".join(keys)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        banded AS ({banded}),
        cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b,
               round(list_cosine_similarity(x.v, y.v), 4) AS cos_sim
        FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
        WHERE list_cosine_similarity(x.v, y.v) >= {threshold}
    """


@query("q_embed_lsh_md5", oracle=_embed_lsh_md5_oracle())
def q_embed_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup pairs with ORACLE-BACKED
    banding: ±1 md5-derived hyperplanes are inlined as identical
    literals on both engines, so the sign-pattern bucketing, the
    bucket-local candidate generation, and the exact cosine verify
    (>= 0.3) are all hash-checked — completing the oracle-proven LSH
    set (MinHash q_minhash_neardup_md5, SimHash q_simhash_md5). The
    production path with random-normal planes and multiprobe is
    q_embed_neardup_lsh / q_ann_topk (recall-tested)."""
    from real_time_data_anomaly_detection_spark.functions.vector import (
        cosine_similarity,
    )

    bands, rows, threshold = 8, 4, 0.3
    planes = _rademacher_planes(bands * rows)
    d = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")

    def dot(p):
        lit = array_lit(p)
        return F.aggregate(
            F.zip_with(v, lit, lambda x, s: x * s), F.lit(0.0), lambda a, x: a + x
        )

    bandstructs = [
        F.struct(
            F.lit(b).alias("band"),
            sum(
                [(dot(planes[4 * b + r]) > 0).cast("int") * (1 << r) for r in range(rows)],
                F.lit(0),
            ).alias("key"),
        )
        for b in range(bands)
    ]
    banded = d.select(
        F.col("vec_id"), F.explode(F.array(*bandstructs)).alias("bk")
    ).select("vec_id", "bk.band", "bk.key")
    buckets = banded.groupBy("band", "key").agg(
        F.sort_array(F.collect_set("vec_id")).alias("ids")
    )
    cands = (
        _bucket_pairs(buckets)
        .withColumnRenamed("doc_a", "vec_a")
        .withColumnRenamed("doc_b", "vec_b")
        .distinct()
    )
    a = d.select(F.col("vec_id").alias("vec_a"), v.alias("va"))
    b = d.select(F.col("vec_id").alias("vec_b"), v.alias("vb"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .filter(cos >= threshold)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cos_sim"))
    )


@query(
    "q_components_md5",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_MD5_CTES},
        nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
        sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, comp) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.node
        )
        SELECT node AS doc_id, min(comp) AS component
        FROM reach GROUP BY 1
    """,
)
def q_components_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the md5 MinHash-LSH near-dup graph,
    ORACLE-BACKED: the iterative pointer-jumping labeling
    (connected_components — a driver loop of distributed rounds) is
    hash-compared against DuckDB's recursive-CTE transitive closure
    with min-id labels over the IDENTICAL edge set (shared CTE chain,
    generated from one string). This closes the last algebra gap in
    the dedup stack: pairs, banding, verify, AND the group closure
    are all cross-engine checked; the production xxhash64 paths
    (q_minhash_neardup, q_neardup_dedup) keep the recall/round-count
    tests."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_md5_pairs(d)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


@query(
    "q_neardup_dedup_md5",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_MD5_CTES},
        nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
        sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, comp) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.node
        ),
        comp AS (SELECT node, min(comp) AS component FROM reach GROUP BY 1),
        survivors AS (
            SELECT DISTINCT component AS doc_id FROM comp
            UNION ALL
            SELECT d.doc_id FROM documents d
            ANTI JOIN comp ON d.doc_id = comp.node)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
        ORDER BY d.doc_id
    """,
)
def q_neardup_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup removal on the md5 twin path, ORACLE-
    BACKED: pairs -> connected components -> one survivor per cluster
    (the min id — which IS the component label under min-label
    propagation) plus every unpaired document. Extends
    q_components_md5 one step further: not just the group closure but
    the final KEEP/DROP decision per document is hash-compared
    cross-engine. The production xxhash64 removal (q_neardup_dedup)
    keeps its recall tests; this twin proves the survivor algebra."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_md5_pairs(d)
    comp = connected_components(pairs, "doc_a", "doc_b")
    keepers = comp.select(F.col("comp").alias("doc_id")).distinct()
    clustered = comp.select(F.col("node").alias("doc_id"))
    unpaired = d.select("doc_id").join(clustered, "doc_id", "left_anti")
    survivors = keepers.unionByName(unpaired)
    return (
        d.join(survivors, "doc_id", "left_semi")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@query(
    "q_cluster_stats_md5",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_MD5_CTES},
        nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
        sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, comp) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.node
        ),
        comp AS (SELECT node, min(comp) AS component FROM reach GROUP BY 1),
        csizes AS (SELECT component, count(*) AS cluster_size
                   FROM comp GROUP BY 1)
        SELECT cluster_size, count(*) AS n_clusters,
               CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removable
        FROM csizes GROUP BY 1 ORDER BY 1
    """,
)
def q_cluster_stats_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER SIZE DISTRIBUTION on the md5 twin path —
    the dedup report a curation run publishes before committing
    removals: how many clusters of each size, and how many documents
    each size class would remove under keep-one-per-cluster
    (cluster_size − 1 per cluster). Oracle extends the shared
    recursive-CTE closure with the same two-level aggregation; note
    the CAST on sum() — DuckDB would otherwise publish HUGEINT, which
    a pandas fetch turns into float64.
    Scale shape: both aggregations are component-keyed then size-keyed
    reductions over the LABEL relation (|clustered docs| rows, then
    |clusters| rows) — nothing corpus-sized past the closure."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_md5_pairs(d)
    comp = connected_components(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("docs_removable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup — short-string variant detection


def edit_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    title_len: int = 64,
    block_prefix: int = 16,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Near-identical short-string pairs by bounded edit distance —
    the standard curation pass for title/URL variants (trailing
    punctuation, single-token edits) that n-gram Jaccard under-weighs
    on short strings.

    Semantics (replicated verbatim by the DuckDB oracle): compare the
    first ``title_len`` chars; candidate pairs are blocked on
    (first ``block_prefix`` chars, exact length) — the DECLARED
    blocking contract, i.e. a variant differing inside its first
    ``block_prefix`` chars or in length is out of scope for this pass
    (MinHash-LSH covers those) — then verified with
    ``levenshtein(a, b) <= max_dist``, i < j dedup on the id.

    100 TB shape: one digest-light shuffle on the block key; pairs are
    BLOCK-LOCAL i<j (never corpus-crossing), and the block key's
    prefix+length makes skew self-limiting for natural-language
    titles. For adversarial prefix-heavy corpora the
    ``max_block_size`` valve (same pattern as n-gram Jaccard's
    ``max_posting_size``) drops over-sized blocks — boilerplate
    prefixes that belong to the boilerplate pass, not this one.

    Spark's ``levenshtein`` is a codegen'd JVM expression; with the
    blocking done relationally the whole operator stays in
    whole-stage codegen.
    """
    t = df.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, title_len).alias("_title"),
    ).withColumn("_blk", F.struct(
        F.substring("_title", 1, block_prefix).alias("p"),
        F.length("_title").alias("n"),
    ))
    if max_block_size is not None:
        sizes = t.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bs"))
        t = t.join(
            sizes.filter(F.col("_bs") <= max_block_size).select("_blk"), "_blk"
        )
    a = t.select(
        F.col("_blk"), F.col(id_col).alias("id_a"), F.col("_title").alias("_ta")
    )
    b = t.select(
        F.col("_blk"), F.col(id_col).alias("id_b"), F.col("_title").alias("_tb")
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("_ta", "_tb") <= max_dist)
        .select("id_a", "id_b", F.levenshtein("_ta", "_tb").alias("edit_dist"))
    )


@query(
    "q_edit_neardup",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   substring(text, 1, 64) AS title,
                   substring(text, 1, 16) AS p,
                   length(substring(text, 1, 64)) AS n
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               levenshtein(a.title, b.title) AS edit_dist
        FROM t a JOIN t b
          ON a.p = b.p AND a.n = b.n AND a.doc_id < b.doc_id
        WHERE levenshtein(a.title, b.title) <= 2
        ORDER BY id_a, id_b
    """,
)
def q_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs over document title prefixes
    (first 64 chars; blocked on 16-char prefix + length, distance
    <= 2) — fully oracle-backed: Spark's codegen'd levenshtein vs
    DuckDB's, over the identical blocking contract."""
    d = load_table(spark, sf_dir, "documents")
    return edit_neardup_pairs(d).orderBy("id_a", "id_b")


@query(
    "q_split_leakage_safe",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_MD5_CTES},
        nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
        sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, comp) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.node
        ),
        comp AS (SELECT node, min(comp) AS component FROM reach GROUP BY 1),
        grouped AS (
            SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
        SELECT doc_id, group_id,
               CASE WHEN substr(md5('split:' || CAST(group_id AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                    WHEN substr(md5('split:' || CAST(group_id AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM grouped
        ORDER BY doc_id
    """,
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split (~80/10/10): the split unit
    is the near-dup CLUSTER, not the document — every member of a
    MinHash-LSH component lands in the same split, so no eval example
    has a near-duplicate in train (the contamination the
    decontaminate op catches after the fact, prevented by
    construction; cf. Lee et al. 2022 on duplicate-driven eval
    inflation). Unpaired documents are their own group.

    Assignment is the deterministic md5-threshold idiom over the
    GROUP id ('split:'-salted so it is independent of every other
    md5 decision in the pipeline): first byte < 0xcc -> train
    (204/256 = 79.7%), < 0xe6 -> val (26/256 = 10.2%), else test —
    a pure function of the data, reproducible on any engine or
    partitioning, and stable under corpus growth (adding documents
    never reassigns an existing group). Oracle replays the closure +
    grouping + thresholds bit-for-bit; the zero-cross-split-pair
    property and the proportions are pinned in tests/test_dedup.py.

    Scale shape: the closure runs on the PAIR graph (near-dup-sized),
    the label relation is clustered-docs-sized, and the final left
    join is id-keyed (doc_id, group_id) — document text never moves;
    at 100 TB this is the same shuffle budget as q_neardup_dedup plus
    one id-sized join."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_md5_pairs(d)
    comp = connected_components(pairs, "doc_a", "doc_b")
    grouped = (
        d.select("doc_id")
        .join(
            comp.select(F.col("node").alias("doc_id"), "comp"), "doc_id", "left"
        )
        .select(
            "doc_id", F.coalesce("comp", "doc_id").alias("group_id")
        )
    )
    b = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("group_id").cast("string"))), 1, 2
    )
    return grouped.select(
        "doc_id",
        "group_id",
        F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test").alias(
            "split"
        ),
    ).orderBy("doc_id")
