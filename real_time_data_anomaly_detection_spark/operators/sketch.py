"""Deterministic, cross-engine-checked sketches: Count-Min frequency
estimation and HyperLogLog cardinality — md5-hashed so the ENTIRE
sketch algebra (bucketing, register maxima, bias-corrected estimate)
is replayed by a DuckDB oracle and hash-compared, the same discipline
as the md5 MinHash/SimHash twins (dedup.py:1006).

Sketches are the scale story for frequency/cardinality questions a
100 TB pipeline asks constantly (vocabulary heads, per-shard distinct
counts, stream heavy hitters): the shuffle carries the FIXED-size
sketch (d·w counters / m registers), never the key space. Both
operators here are single groupBy aggregations over codegen'd JVM
expressions — no UDFs, no driver-side state beyond the final
fixed-size result.

Spark's built-ins (`approx_count_distinct`, `count_min_sketch`) use
engine-private hashing and so can only be tested against tolerance
bands (q_approx_distinct is the declared NO-ORACLE example); these md5
variants trade hash speed for exact cross-engine reproducibility —
the same estimate, bit-for-bit, on any engine and any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import materialize


def _md5_u32(col: Column, prefix: Column | None = None) -> Column:
    """First 8 md5 hex digits as BIGINT — bit-identical in DuckDB as
    ('0x' || substr(md5(x), 1, 8))::BIGINT (cf. dedup.py:996)."""
    src = F.concat(prefix, col) if prefix is not None else col
    return F.conv(F.substring(F.md5(src), 1, 8), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# Count-Min sketch


def _cms_check_depth(depth: int) -> None:
    if not 1 <= depth <= 4:
        raise ValueError(
            f"depth={depth}: the chunked-digest scheme derives each row's "
            "hash from one 8-hex chunk of a single md5 digest (4 chunks). "
            "CMS error falls as w^-1 but only as exp(-d); widen instead."
        )


def _cms_buckets(item_col: Column, depth: int, width: int) -> Column:
    """Array of per-row buckets from ONE md5 digest: row i takes hex
    chunk [8i+1, 8i+8]. md5's 128 bits are uniform, so the four 32-bit
    chunks are independent hashes — one digest per ITEM instead of one
    per (row, item) drops the dominant build cost (the md5 itself plus
    the per-row string concat) by the depth factor; measured ~30%
    on the sf0.1 token stream at d=4."""
    dig = F.md5(item_col.cast("string"))
    return F.array(
        *[
            F.conv(F.substring(dig, 8 * i + 1, 8), 16, 10).cast("bigint")
            % F.lit(width)
            for i in range(depth)
        ]
    )


def countmin_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """d×w Count-Min sketch as a (row, bucket, cnt) DataFrame (sparse:
    untouched counters are absent = 0). One explode (d rows per item
    occurrence) + one groupBy — the partial aggregation means each
    map task emits at most d·w counters regardless of input size."""
    _cms_check_depth(depth)
    rows = df.select(
        F.posexplode(_cms_buckets(F.col(item_col), depth, width)).alias(
            "row", "bucket"
        )
    )
    return rows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_build_from_counts(
    counts: DataFrame,
    item_col: str,
    count_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Identical sketch to :func:`countmin_build` over the expanded
    stream, built from pre-aggregated (item, count) rows: counter
    cnt(row, bucket) = Σ counts of the items mapping there — the same
    sum by associativity, with ONE md5 per DISTINCT item instead of
    one per occurrence. The pre-aggregation is the partial-aggregation
    move of guide §2.3 pushed all the way into the sketch build: when
    a caller already has (or also needs) exact counts, reusing them
    makes the sketch a vocab-sized, not corpus-sized, pass."""
    _cms_check_depth(depth)
    rows = counts.select(
        F.col(count_col).alias("_w"),
        F.posexplode(_cms_buckets(F.col(item_col), depth, width)).alias(
            "row", "bucket"
        ),
    )
    return rows.groupBy("row", "bucket").agg(F.sum("_w").alias("cnt"))


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS sketches built with the same (depth, width): counters
    add. This is the property that makes the sketch a 100 TB citizen —
    per-shard (or per-micro-batch) sketches combine into the corpus
    sketch with a fixed-size shuffle."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame, probes: DataFrame, item_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-query the sketch for each probe item: est = min over the
    d rows of the counter at that row's bucket. Missing counters are
    0 (sparse representation), so a probe absent from every row
    estimates 0. Never underestimates the true count."""
    _cms_check_depth(depth)
    p = probes.select(
        F.col(item_col).alias("_it"),
        F.posexplode(_cms_buckets(F.col(item_col), depth, width)).alias(
            "row", "bucket"
        ),
    )
    return (
        p.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("_it")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
        .select(F.col("_it").alias(item_col), "cms_est")
    )


@query(
    "q_countmin_freq",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        exact AS (
            SELECT token, count(*) AS exact_n FROM toks GROUP BY token),
        probes AS (
            SELECT token, exact_n FROM exact
            ORDER BY exact_n DESC, token LIMIT 20),
        sk AS (
            SELECT i AS row,
                   ('0x' || substr(md5(token), i * 8 + 1, 8))::BIGINT % 256
                       AS bucket,
                   count(*) AS cnt
            FROM toks CROSS JOIN UNNEST(generate_series(0, 3)) AS s(i)
            GROUP BY 1, 2),
        est AS (
            SELECT p.token, p.exact_n, min(coalesce(sk.cnt, 0)) AS cms_est
            FROM (SELECT token, exact_n, i AS row,
                         ('0x' || substr(md5(token), i * 8 + 1, 8))::BIGINT % 256
                             AS bucket
                  FROM probes CROSS JOIN UNNEST(generate_series(0, 3)) AS s(i)) p
            LEFT JOIN sk ON sk.row = p.row AND sk.bucket = p.bucket
            GROUP BY 1, 2)
        SELECT token, exact_n, cms_est FROM est ORDER BY token
    """,
)
def q_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min (d=4, w=256) over the document token stream, probed
    at the 20 exact-top tokens; output (token, exact_n, cms_est) with
    cms_est ≥ exact_n guaranteed. Oracle replays the identical md5
    bucketing and min-of-rows estimate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    # One tokenize+count pass feeds EVERYTHING downstream: the exact
    # relation is vocab-sized, and the sketch counters are the same
    # sums whether accumulated per occurrence or per (token, count)
    # (countmin_build_from_counts — associativity). Unmaterialized,
    # Catalyst re-inlines the corpus tokenize/explode under every
    # consumer (6 parquet scans: sketch build, probe ranking,
    # probe-side estimate, final join); materialized, the corpus is
    # scanned ONCE and md5 runs per distinct token, not per occurrence.
    exact = materialize(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n")), gate_on=d
    )
    probes = exact.orderBy(F.desc("exact_n"), "token").limit(20)
    sketch = countmin_build_from_counts(exact, "token", "exact_n", depth=4, width=256)
    est = countmin_estimate(sketch, probes, "token", depth=4, width=256)
    return (
        probes.join(est, "token")
        .select("token", "exact_n", "cms_est")
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# HyperLogLog


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Per-group HLL register vector as sparse (group, _b, _m) rows:
    bucket = low p bits of the 32-bit md5 hash, _m = max leading-zero
    rank of the remaining (32-p)-bit field."""
    if not 4 <= p <= 16:
        raise ValueError(f"hll precision p must be in [4, 16], got {p}")
    m = 1 << p
    rest_bits = 32 - p
    h = _md5_u32(F.col(key_col).cast("string"))
    rest = F.floor(h / F.lit(m))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits + 1) - F.length(F.bin(rest))
    )
    return (
        df.withColumn("_b", h % F.lit(m))
        .withColumn("_rho", rho)
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_m"))
    )


def hll_merge(group_cols: list[str], *register_sets: DataFrame) -> DataFrame:
    """Merge HLL register sets built with the same p: registers take
    the max — per-shard sketches combine losslessly (the merged
    estimate IS the union's estimate, pinned in tests)."""
    out = register_sets[0]
    for s in register_sets[1:]:
        out = out.unionByName(s)
    return out.groupBy(*group_cols, "_b").agg(F.max("_m").alias("_m"))


def hll_estimate_from_registers(
    regs: DataFrame, groups: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Bias-corrected estimate from sparse registers: raw
    alpha·m² / Σ 2^{-M_j} with the small-range linear-counting branch.
    ``groups`` supplies the group universe so empty registers
    participate as 2^0 via a dense m-row scaffold (broadcast range
    join — m rows, never data-sized)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    slots = groups.crossJoin(
        F.broadcast(
            regs.sparkSession.range(m).select(F.col("id").cast("bigint").alias("_b"))
        )
    )
    dense = slots.join(regs, [*group_cols, "_b"], "left").select(
        *group_cols, F.coalesce("_m", F.lit(0)).alias("_m")
    )
    agg = dense.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_m"))).alias("_z"),
        F.sum(F.when(F.col("_m") == 0, 1).otherwise(0)).alias("_v"),
    )
    raw = F.lit(alpha * m * m) / F.col("_z")  # == 2905.460551022604 at p=6
    # linear counting when the raw estimate is small and empty
    # registers remain
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("_v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_v")),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 4).alias("hll_est"))


def hll_estimate(
    df: DataFrame, key_col: str, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate with 2^p
    registers (Flajolet et al. 2007) — registers + estimate in one
    call; see hll_registers / hll_estimate_from_registers for the
    mergeable two-step form. The group universe derives from the
    REGISTERS (register-sized distinct), not a second corpus scan —
    every non-empty group owns at least one register, so nothing is
    lost."""
    regs = hll_registers(df, key_col, group_cols, p)
    return hll_estimate_from_registers(
        regs,
        regs.select(*group_cols).distinct(),
        group_cols,
        p,
    )


@query(
    "q_hll_md5",
    oracle="""
        WITH hashed AS (
            SELECT l_returnflag,
                   ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h
            FROM lineitem),
        regs AS (
            SELECT l_returnflag, h % 64 AS b,
                   max(CASE WHEN floor(h / 64) = 0 THEN 27
                            ELSE 27 - length(bin(CAST(floor(h / 64) AS BIGINT))) END)
                       AS m
            FROM hashed GROUP BY 1, 2),
        slots AS (
            SELECT g.l_returnflag, s.b, coalesce(regs.m, 0) AS m
            FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
            CROSS JOIN UNNEST(generate_series(0, 63)) AS s(b)
            LEFT JOIN regs ON regs.l_returnflag = g.l_returnflag AND regs.b = s.b),
        agg AS (
            SELECT l_returnflag,
                   sum(power(2.0, -m)) AS z,
                   sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
            FROM slots GROUP BY 1),
        est AS (
            SELECT l_returnflag,
                   CASE WHEN (2905.460551022604 / z) <= 160.0 AND v > 0
                        THEN 64.0 * ln(64.0 / v)
                        ELSE 2905.460551022604 / z END AS e
            FROM agg)
        SELECT l_returnflag, round(e, 4) AS hll_est,
               (SELECT count(DISTINCT l_partkey) FROM lineitem li
                WHERE li.l_returnflag = est.l_returnflag) AS exact_nd
        FROM est ORDER BY l_returnflag
    """,
)
def q_hll_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL (m=64) distinct l_partkey per l_returnflag, alongside the
    exact count — the oracle replays the full register algebra, and
    tests pin the relative error within the HLL accuracy bound."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    # ONE distinct-(flag, partkey) pass feeds both sides: HLL register
    # maxima are duplicate-insensitive (max of rho per bucket), so
    # registers over the distinct pairs are IDENTICAL to registers
    # over the raw rows — with md5 evaluated once per distinct key
    # (~10x fewer at sf0.1) — and the exact side becomes a count of
    # the same relation's non-null keys (countDistinct is
    # distinct-then-count anyway, and skips a (flag, NULL) pair). The
    # checkpoint stops Catalyst re-inlining the scan + distinct under
    # every consumer (6 parquet scans unmaterialized).
    dist = materialize(li.distinct(), gate_on=li)
    est = hll_estimate(dist, "l_partkey", ["l_returnflag"], p=6)
    exact = dist.groupBy("l_returnflag").agg(F.count("l_partkey").alias("exact_nd"))
    return est.join(exact, "l_returnflag").orderBy("l_returnflag")


@query(
    "q_quantile_sketch",
    oracle="""
        WITH x AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                   l_orderkey * 8 + l_linenumber AS rid,
                   md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)) AS dg
            FROM lineitem),
        samp AS (
            SELECT l_returnflag, cents, rid FROM (
                SELECT l_returnflag, cents, rid,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY dg, rid) AS rn
                FROM x)
            WHERE rn <= 512),
        ordered AS (
            SELECT l_returnflag, cents,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY cents, rid) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM samp)
        SELECT l_returnflag, q, cents AS est_cents
        FROM ordered, (VALUES (50), (90), (99)) AS qq(q)
        WHERE rn = (q * (n - 1)) // 100 + 1
        ORDER BY l_returnflag, q
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P50/P90/P99 of l_extendedprice per l_returnflag from a KMV
    (bottom-k by md5) sample sketch, k=512 — distributed quantile
    estimation with the same md5-twin discipline as the CMS/HLL
    sketches above: the md5 row digest makes the sample a PURE
    FUNCTION of the data, so the full sketch algebra (sample
    membership, rank index, published estimate) hash-matches the
    DuckDB oracle bit-for-bit on any engine and any partitioning.

    Why bottom-k rather than GK/KLL/t-digest: those compactors are
    merge-ORDER-dependent, so a shuffle-order-nondeterministic engine
    can't reproduce them cross-engine; the bottom-k-by-digest sample
    is a commutative idempotent set algebra (the union of bottom-k's
    re-bottom-k'd equals the global bottom-k — pinned in
    tests/test_sketch.py), making it mergeable across partitions,
    shards, and engines with zero order sensitivity.

    Scale shape: the rank<=k filter over the digest-ordered window
    plans WindowGroupLimit (pinned) — every task keeps at most k rows
    per group BEFORE the exchange, so the shuffle carries
    O(groups·k·tasks-merged) sketch rows, never the table; estimation
    then runs on groups·k rows. Estimate error is the sampling bound
    ~1/sqrt(k) on quantile RANK (accuracy pinned in tests); values in
    exact integer cents end-to-end."""
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.expr("l_orderkey * 8 + l_linenumber").alias("rid"),
    )
    return (
        kmv_quantiles(x, "l_returnflag", "cents", "rid", k=512)
        .select("l_returnflag", "q", F.col("est").alias("est_cents"))
        .orderBy("l_returnflag", "q")
    )


def kmv_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rid_col: str,
    k: int = 512,
    qs: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """(key, q, est): integer-index quantile estimates from the
    per-key bottom-``k``-by-md5(rid) sample (the q_quantile_sketch
    algebra as a reusable operator — see that docstring for why KMV
    over GK/KLL). Estimate = sample value at rank
    (q·(n−1)) div 100 + 1 in (value, rid) order, n = |sample| — pure
    integer selection, so any engine that keeps the same sample
    reproduces it bit-for-bit."""
    from pyspark.sql import Window

    x = df.withColumn("_dg", F.md5(F.col(rid_col).cast("string")))
    wk = Window.partitionBy(key_col).orderBy("_dg", rid_col)
    samp = (
        x.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k)
        .select(key_col, value_col, rid_col)
    )
    wv = Window.partitionBy(key_col).orderBy(value_col, rid_col)
    wn = Window.partitionBy(key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ordered = samp.select(
        key_col,
        value_col,
        F.row_number().over(wv).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    return (
        ordered.select(
            key_col, value_col, "_rn", "_n",
            F.explode(F.array(*[F.lit(q) for q in qs])).alias("q"),
        )
        .filter(F.expr("_rn = (q * (_n - 1)) div 100 + 1"))
        .select(key_col, "q", F.col(value_col).alias("est"))
    )


@query(
    "q_kmv_jaccard",
    oracle="""
        WITH a AS (
            SELECT DISTINCT l_orderkey AS id FROM lineitem
            WHERE l_discount > 0.09),
        b AS (
            SELECT DISTINCT l_orderkey AS id FROM lineitem
            WHERE l_tax > 0.06),
        ska AS (
            SELECT md5(CAST(id AS VARCHAR)) AS dg FROM a
            ORDER BY dg LIMIT 256),
        skb AS (
            SELECT md5(CAST(id AS VARCHAR)) AS dg FROM b
            ORDER BY dg LIMIT 256),
        u AS (
            SELECT dg FROM (SELECT dg FROM ska UNION SELECT dg FROM skb)
            ORDER BY dg LIMIT 256),
        m AS (
            SELECT count(*) AS matches FROM u
            WHERE dg IN (SELECT dg FROM ska)
              AND dg IN (SELECT dg FROM skb)),
        ex AS (
            SELECT (SELECT count(*) FROM a WHERE id IN (SELECT id FROM b))
                       AS inter,
                   (SELECT count(*)
                    FROM (SELECT id FROM a UNION SELECT id FROM b)) AS un,
                   (SELECT count(*) FROM a) AS n_a,
                   (SELECT count(*) FROM b) AS n_b)
        SELECT CAST(matches AS BIGINT) AS matches,
               CAST(256 AS BIGINT) AS k,
               CAST((matches * 1000000) // 256 AS BIGINT) AS est_jaccard_ppm,
               CAST((inter * 1000000) // un AS BIGINT) AS exact_jaccard_ppm,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
        FROM m, ex
    """,
)
def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap (Jaccard) estimation from two KMV sketches — the
    set-OPERATION side of the bottom-k algebra (Beyer et al. 2007):
    audience-overlap questions ("how many discounted orders are also
    high-tax orders") answered from two k-digest sketches instead of
    a distinct-join of the full id sets. Estimator: merge the two
    sketches, re-take the k smallest digests (a valid KMV sketch of
    A∪B by the mergeability pinned in test_kmv_merge_equals_whole),
    and count how many of those k union-sample digests are in BOTH
    input sketches — matches/k estimates |A∩B|/|A∪B|. Published in
    exact integer ppm via trunc division; the exact Jaccard rides
    along (same discipline as q_hll_md5's exact_nd column) and the
    estimator's error is pinned within the sampling bound in
    tests/test_sketch.py.

    Scale shape: each sketch is a global TakeOrderedAndProject
    (per-partition k-heaps, k-row merge — never a sort); everything
    after the two distinct-id aggregations is k-row algebra. At
    100 TB the sketches are built in one pass per side and the
    overlap estimate costs nothing — the exact columns are the
    expensive part (distinct + semi join), which is exactly what the
    sketch exists to avoid; they are carried here as the oracle's
    measuring stick. The two one-row scalar relations combine by
    construction-time cross join of single rows (whitelisted BNLJ,
    the q_dsir_weights pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    k = 256
    a = li.filter(F.col("l_discount") > 0.09).select(
        F.col("l_orderkey").alias("id")
    ).distinct()
    b = li.filter(F.col("l_tax") > 0.06).select(
        F.col("l_orderkey").alias("id")
    ).distinct()

    def sk(ids):
        return (
            ids.select(F.md5(F.col("id").cast("string")).alias("dg"))
            .orderBy("dg")
            .limit(k)
        )

    ska, skb = sk(a), sk(b)
    u = ska.union(skb).distinct().orderBy("dg").limit(k)
    m = (
        u.join(ska, "dg", "left_semi")
        .join(skb, "dg", "left_semi")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    # All four exact scalars from ONE scan + ONE per-key flag
    # aggregation: per order key, anyA/anyB membership
    # flags, then inter = Σ(anyA∧anyB), un = Σ(anyA∨anyB),
    # n_a = Σ anyA, n_b = Σ anyB — set-identical to the
    # distinct/semi-join/union formulation it replaces, which consumed
    # the a/b subtrees four more times (plan: 10 scans of lineitem →
    # 5 for the whole query; the union+distinct exchange dies too).
    flags = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_discount") > 0.09).alias("_ina"),
        F.max(F.col("l_tax") > 0.06).alias("_inb"),
    )
    ex = flags.agg(
        F.sum(F.when(F.col("_ina") & F.col("_inb"), 1).otherwise(0)).alias(
            "inter"
        ),
        F.sum(F.when(F.col("_ina") | F.col("_inb"), 1).otherwise(0)).alias(
            "un"
        ),
        F.sum(F.when(F.col("_ina"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_inb"), 1).otherwise(0)).alias("n_b"),
    )
    return m.crossJoin(ex).select(
        F.col("matches").cast("bigint").alias("matches"),
        F.lit(k).cast("bigint").alias("k"),
        F.expr(f"(matches * 1000000) div {k}")
        .cast("bigint")
        .alias("est_jaccard_ppm"),
        F.expr("(inter * 1000000) div un")
        .cast("bigint")
        .alias("exact_jaccard_ppm"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
    )
