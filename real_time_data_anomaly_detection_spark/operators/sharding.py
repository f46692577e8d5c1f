"""Deterministic corpus sharding — the last mile of a training-data
pipeline: split the curated corpus into N shards with a seeded,
partitioning-independent assignment, a deterministic within-shard
order, and an auditable manifest.

Why not `df.repartition(N).write`: Spark's round-robin/hash
repartition gives no cross-run guarantee of which row lands where,
and re-running after a cluster resize silently reshuffles the
training order. Here shard = pmod(xxhash64(id, seed), N) and the
within-shard order is the md5 of the same key — both pure functions
of the row, so ANY engine, cluster size, or retry produces the same
shards byte-for-byte (the same argument as pipeline_ops.hash_sample).

The manifest carries per-shard row counts plus an ORDER-INDEPENDENT
content checksum (sum of per-row 32-bit md5 digests) — cheap to
recompute on the read side to verify a shard survived transport. The
declared query uses the md5 hasher for the shard too, so the ENTIRE
manifest algebra is DuckDB-replayable (the md5-twin discipline);
the xxhash64 fast path keeps dedicated determinism/balance tests.

Scale shape: assignment and sort key are codegen'd expressions; the
write is `repartition(shard)` + `sortWithinPartitions` — one shuffle,
then a streaming sort per shard file. The manifest is a shard-keyed
aggregation (N rows out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query


def _order_key(id_col: str, seed: int) -> Column:
    return F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))


def _md5_digest(id_col: str, seed: int) -> Column:
    """32-bit md5 digest of the seeded id — DuckDB-replayable."""
    return F.conv(F.substring(_order_key(id_col, seed), 1, 8), 16, 10).cast("bigint")


def shard_assign(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Add `shard` (0..N-1) and `sort_key`: both pure functions of the
    id, stable under any partitioning / cluster size / retry.
    ``hasher``: "xxhash64" (fast path) or "md5" (oracle-replayable)."""
    if hasher == "xxhash64":
        shard = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(num_shards))
    elif hasher == "md5":
        shard = F.pmod(_md5_digest(id_col, seed), F.lit(num_shards))
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    return df.withColumn("shard", shard).withColumn(
        "sort_key", _order_key(id_col, seed)
    )


def shard_manifest(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(shard, n_docs, checksum): order-independent per-shard content
    checksum = sum of 32-bit md5 digests of the ids."""
    return (
        shard_assign(df, id_col, num_shards, seed, hasher)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(_md5_digest(id_col, seed)).alias("checksum"),
        )
        .orderBy("shard")
    )


def write_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    num_shards: int,
    seed: int = 42,
) -> DataFrame:
    """Write the corpus as `shard=K/` parquet directories, each sorted
    by the deterministic sort key, and return the manifest. One
    shuffle (repartition on shard) + per-partition streaming sort."""
    sharded = shard_assign(df, id_col, num_shards, seed)
    (
        sharded.repartition(num_shards, "shard")
        .sortWithinPartitions("shard", "sort_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return shard_manifest(df, id_col, num_shards, seed)


@query(
    "q_shard_manifest",
    oracle="""
        WITH d AS (
            SELECT ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       AS dig
            FROM documents)
        SELECT dig % 8 AS shard, count(*) AS n_docs,
               CAST(sum(dig) AS BIGINT) AS checksum
        FROM d GROUP BY 1 ORDER BY 1
    """,
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-shard manifest of the documents corpus (md5 hasher so DuckDB
    replays the identical shard assignment AND checksum — the md5-twin
    discipline). The xxhash64 fast path is pinned separately in
    tests/test_sharding.py (determinism, balance, write round-trip)."""
    d = load_table(spark, sf_dir, "documents")
    return shard_manifest(d, "doc_id", 8, hasher="md5")


# --- Z-order (Morton-curve) data layout ------------------------------------


def interleave_sql(x: str, y: str, bits: int, div: str = "div") -> str:
    """Morton interleave of two ``bits``-bit non-negative integer
    expressions as pure ``div / % / * / +`` arithmetic — the same text
    is valid Spark SQL (``div='div'``) and DuckDB SQL (``div='//'``),
    so the z-value algebra is hash-checked cross-engine with one
    generator. Bit i of x lands at position 2i+1, bit i of y at 2i
    (x-major). Constant multiplies fold at plan time; the whole thing
    is one codegen projection, no UDF, no join."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({y}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def zorder_layout_report(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_blocks: int = 64,
    rect: tuple[int, int, int, int] = (112, 143, 112, 143),
) -> DataFrame:
    """Compare a Z-ORDER file layout against a single-column linear
    layout for 2-D predicate pruning, from block min/max stats alone —
    the decision a 100 TB table owner makes before rewriting data.

    Both dimensions are rank-scaled to [0, 2^bits) with a one-row
    min/max stats broadcast (integer arithmetic, so the quantization
    is engine-exact); each row gets a z-value (interleave_sql) and two
    block ids: its z-range block (what ``repartitionByRange(zvalue)``
    + per-file parquet footers would produce) and its x-range block
    (the ``ORDER BY x`` layout). Per (layout, block) the report
    aggregates exactly what a parquet footer stores — row count and
    min/max of both dims — then scores the fixed query rectangle
    ``rect`` (in quantized space): a block is READ iff its [min, max]
    envelope intersects the rectangle. Output per layout: non-empty
    blocks, blocks read, rows scanned (sum over read blocks), and the
    true matching rows (identical across layouts — the invariant the
    oracle pins).

    Scale shape: one stats aggregation (one-row broadcast, whitelisted
    BNLJ), one explode-by-2 projection, one (layout, block) partial
    aggregation, one 2·n_blocks-row final fold. No global sort, no
    window — the layout is SIMULATED from block ids exactly as the
    range-partitioned writer would bin rows, so nothing here breaks at
    1000 executors."""
    span = (1 << bits) - 1
    stats = df.agg(
        F.min(x_col).alias("_xmin"),
        F.max(x_col).alias("_xmax"),
        F.min(y_col).alias("_ymin"),
        F.max(y_col).alias("_ymax"),
    )
    q = (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.expr(
                f"(({x_col} - _xmin) * {span}) div (_xmax - _xmin)"
            ).alias("xq"),
            F.expr(
                f"(({y_col} - _ymin) * {span}) div (_ymax - _ymin)"
            ).alias("yq"),
        )
        .withColumn("z", F.expr(interleave_sql("xq", "yq", bits)))
    )
    z_width = (1 << (2 * bits)) // n_blocks
    x_width = (1 << bits) // n_blocks
    xlo, xhi, ylo, yhi = rect
    in_rect = (
        f"CASE WHEN xq BETWEEN {xlo} AND {xhi} "
        f"AND yq BETWEEN {ylo} AND {yhi} THEN 1 ELSE 0 END"
    )
    both = q.select(
        F.explode(
            F.expr(
                f"array(struct('linear' AS layout, xq div {x_width} AS blk),"
                f" struct('zorder' AS layout, z div {z_width} AS blk))"
            )
        ).alias("lb"),
        "xq",
        "yq",
        F.expr(in_rect).alias("m"),
    )
    blocks = both.groupBy("lb.layout", "lb.blk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("xq").alias("min_x"),
        F.max("xq").alias("max_x"),
        F.min("yq").alias("min_y"),
        F.max("yq").alias("max_y"),
        F.sum("m").alias("matches"),
    )
    hit = (
        (F.col("max_x") >= xlo)
        & (F.col("min_x") <= xhi)
        & (F.col("max_y") >= ylo)
        & (F.col("min_y") <= yhi)
    ).cast("long")
    return (
        blocks.withColumn("hit", hit)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum("hit").cast("bigint").alias("blocks_read"),
            F.sum(F.col("hit") * F.col("cnt")).cast("bigint").alias("rows_scanned"),
            F.sum("matches").cast("bigint").alias("rows_matching"),
        )
        .orderBy("layout")
    )


def _zorder_oracle() -> str:
    z = interleave_sql("xq", "yq", 8, div="//")
    return f"""
        WITH s AS (
            SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
                   min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
            FROM lineitem),
        q AS (
            SELECT ((l_partkey - xmin) * 255) // (xmax - xmin) AS xq,
                   ((l_suppkey - ymin) * 255) // (ymax - ymin) AS yq
            FROM lineitem, s),
        z AS (SELECT xq, yq, {z} AS z,
                     CASE WHEN xq BETWEEN 112 AND 143
                          AND yq BETWEEN 112 AND 143 THEN 1 ELSE 0 END AS m
              FROM q),
        b AS (
            SELECT layout, blk, count(*) AS cnt,
                   min(xq) AS min_x, max(xq) AS max_x,
                   min(yq) AS min_y, max(yq) AS max_y,
                   sum(m) AS matches
            FROM (
                SELECT 'linear' AS layout, xq // 4 AS blk, xq, yq, m FROM z
                UNION ALL
                SELECT 'zorder' AS layout, z // 1024 AS blk, xq, yq, m FROM z)
            GROUP BY layout, blk)
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(CASE WHEN max_x >= 112 AND min_x <= 143
                             AND max_y >= 112 AND min_y <= 143
                        THEN 1 ELSE 0 END) AS BIGINT) AS blocks_read,
               CAST(sum(CASE WHEN max_x >= 112 AND min_x <= 143
                             AND max_y >= 112 AND min_y <= 143
                        THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(sum(matches) AS BIGINT) AS rows_matching
        FROM b GROUP BY layout ORDER BY layout
    """


@query("q_zorder_layout", oracle=_zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout pruning report over lineitem
    (l_partkey × l_suppkey), 8-bit Morton curve, 64 blocks, middle
    ~12.5%-per-dim query rectangle. The z-value interleave, the
    quantization, the block binning, and the footer-style min/max
    pruning decision are ALL replayed by the DuckDB oracle from one
    shared arithmetic generator (interleave_sql), so the layout
    algebra is bit-checked cross-engine. rows_matching is identical
    across layouts by construction — the report's internal
    consistency check."""
    li = load_table(spark, sf_dir, "lineitem")
    return zorder_layout_report(li, "l_partkey", "l_suppkey")


def epoch_order(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    epoch: int,
    hasher: str = "xxhash64",
    subshard_bits: int = 8,
) -> DataFrame:
    """Deterministic EPOCH SHUFFLE: the (shard, rank) every example
    trains at in a given epoch — a pure function of (id, epoch), so
    any engine, cluster size, worker count, or retry reproduces the
    identical training order (the property job-restart audits need),
    while different epochs get independent permutations (seed =
    1000 + epoch feeds the same md5/xxhash64 keying as
    :func:`shard_assign`).

    This is the READ-ORDER view of :func:`write_shards`: rank within
    shard is the position the example would occupy in its sorted
    shard file. Data loaders consume shard k in rank order; no RNG
    state is shared or checkpointed — the order IS the data.

    Scale shape: the naive rank —
    ``row_number() over (partition by shard)`` — sorts each WHOLE
    shard in one task, which at a fixed shard count and 100× corpus
    outgrows an executor (100 TB / 256 shards ≈ 390 GB single-task
    sorts). The rank here is TWO-LEVEL and fully deterministic
    (no range-sampling): the top ``subshard_bits`` bits of the md5
    sort key split every shard into 2^bits contiguous slices of its
    own order (fixed-length lowercase hex sorts lexicographically ==
    numerically, so slice boundaries respect (sort_key, id) order by
    construction); per-(shard, slice) counts — a bounded
    shards × 2^bits relation — turn into rank offsets via a running
    sum over that tiny relation, broadcast back, and the window sort
    runs per (shard, slice): max task = shard_size / 2^bits. Two
    passes over the id column only (counts + rank); document
    payloads never move. The published ranks are IDENTICAL to the
    single-level definition (pinned in tests/test_sharding.py)."""
    from pyspark.sql import Window

    seed = 1000 + epoch
    if subshard_bits % 4 or not 4 <= subshard_bits <= 16:
        raise ValueError("subshard_bits must be 4, 8, 12 or 16")
    nibbles = subshard_bits // 4
    sub = F.conv(F.substring("sort_key", 1, nibbles), 16, 10).cast("bigint")
    a = shard_assign(df, id_col, num_shards, seed, hasher).withColumn(
        "_sub", sub
    )
    counts = a.groupBy("shard", "_sub").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = (
        Window.partitionBy("shard")
        .orderBy("_sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard",
        "_sub",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy("shard", "_sub").orderBy("sort_key", id_col)
    return (
        a.join(F.broadcast(offsets), ["shard", "_sub"])
        .select(
            "shard",
            (F.row_number().over(w) + F.col("_off"))
            .cast("bigint")
            .alias("rank"),
            F.col(id_col),
        )
        .orderBy("shard", "rank")
    )


@query(
    "q_epoch_shuffle",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   md5('1001:' || CAST(doc_id AS VARCHAR)) AS sort_key,
                   ('0x' || substr(md5('1001:' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT % 8 AS shard
            FROM documents)
        SELECT shard,
               CAST(row_number() OVER (PARTITION BY shard
                                       ORDER BY sort_key, doc_id)
                    AS BIGINT) AS rank,
               doc_id
        FROM d ORDER BY shard, rank
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-1 deterministic training order over the documents corpus
    (8 shards, md5 hasher): every (shard, rank, doc_id) is a pure
    function of the id and the epoch — reproducible across engines and
    cluster sizes, with no RNG state to checkpoint. Oracle replays the
    identical md5 shard assignment and within-shard order."""
    d = load_table(spark, sf_dir, "documents")
    return epoch_order(d, "doc_id", 8, epoch=1, hasher="md5")
