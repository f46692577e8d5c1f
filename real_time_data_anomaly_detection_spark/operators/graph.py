"""Graph propagation operators: PageRank over a DataFrame edge list.

Web-scale curation pipelines score documents by the link structure of
their hosts (PageRank/harmonic centrality over the host graph is a
standard crawl-quality signal); the same join-aggregate iteration
underlies label propagation and trust propagation. The reference app
has no graph surface — this extends the engine the same way
dedup.connected_components does, and shares its scaling discipline.

Small graphs finish on the driver: the edge list is persisted ONCE,
and when ``plans.inspect.fetch_if_small`` finds at most
FETCH_MAX_ROWS (4 Mi) rows in it, the rounds run in numpy over the
fetched Arrow table. That is the only collect, and the cap bounds it;
no option selects the path.

Past the cap the operator is a driver LOOP whose every round is fully
distributed (one join + one groupBy), with checkpoint lineage
truncation so Catalyst analysis stays O(1) per round instead of
growing with the iteration count. 100 TB shape: the edge list is the
corpus-sized side; it is persisted ONCE with its out-degrees attached,
and every iteration shuffles only rank-vector-sized relations (|V|
rows — at most the hash(node) feed into the join plus the hash(dst)
contribution groupBy; the cache is partitioned by source, so the join
side reuses compatible hash partitioning and the measured live set is
the groupBy exchange alone). Nothing corpus-sized is ever broadcast.

Correctness is pinned cross-engine: the declared query's DuckDB oracle
replays the SAME fixed-iteration recurrence as plain SQL with the
iterations unrolled into chained CTEs — no recursive-CTE aggregate
restrictions, bit-comparable after the registry's round-to-4 contract
(ranks are scaled by |V| so the rounding keeps ~4 significant digits).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import (
    fetch_if_small,
    live_exchanges,
    materialize,
)

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 5,
    damping: float = DAMPING,
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    (node, pr) with ranks summing to ≤ 1 (dangling mass leaks, per the
    plain recurrence r'(v) = (1-d)/N + d·Σ_{u→v} r(u)/deg(u)).

    Fixed iteration count, not a convergence test: the declared oracle
    replays the recurrence exactly, and at 100 TB a known round budget
    (PageRank contracts at rate d, so ~20 rounds ≈ 3-digit precision)
    beats a convergence check that costs an extra full pass per round.

    The deduplicated, degree-annotated edge set is persisted once. When
    ``plans.inspect.fetch_if_small`` finds at most FETCH_MAX_ROWS rows
    in it, the iterations run on the driver in numpy with the same node
    set, degrees and dangling-mass leak; only the order in which each
    node's contributions are summed differs, so ranks agree with the
    distributed path to rounding (pinned to 1e-12 in
    tests/test_graph.py). Past the cap the iterations are distributed
    rounds. ``stats["path"]`` says which ran ("driver" or
    "distributed"); ``stats["n_nodes"]`` is |V| on both.

    The persisted edge set is repartitioned by ``_src`` BEFORE
    caching, making the co-partitioning of the per-iteration join
    CONTRACTUAL: the InMemoryTableScan's outputPartitioning is
    hash(_src) by construction, so the join never re-shuffles the
    corpus-sized edge side regardless of how the planner built the
    cache. Without it, co-partitioning is a planner accident: when
    AQE broadcasts the degree side the cache keeps the pre-join edge
    partitioning and EVERY iteration re-exchanges the edges. The
    repartition cost is paid once at cache fill; tests/test_graph.py
    pins the plan, and ``stats["iter_live_exchanges"]`` exposes the
    measured per-iteration non-cache-fill exchange list (empty on the
    driver path, which has none).
    """
    # ONE shuffle funds the whole cache fill: hash(_src) satisfies the
    # clustered-distribution requirement of BOTH the (_src,_dst) dedup
    # and the _src degree aggregate (equal _src ⇒ co-located), so
    # neither re-exchanges, and the degree join (broadcast or SMJ —
    # both sides already hash(_src)) preserves it into the cache.
    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .repartition("_src")
        .dropDuplicates(["_src", "_dst"])
    )
    deg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    # Persist the degree-annotated edges FIRST — every iteration joins
    # them, and without materialization each round would recompute the
    # edge derivation's full upstream lineage (cf. connected_components).
    # SHUFFLE_HASH on the degree side: both sides are already
    # hash(_src), so the planner's default SMJ would pay nothing in
    # exchanges but SORT the corpus-sized edge stream AND the |V|-row
    # degree side at cache fill. A per-partition hash build of the
    # degree slice needs no sort, streams the edges straight into the
    # cache, and preserves the hash(_src) output partitioning the
    # iterations rely on.
    ew = e.join(deg.hint("shuffle_hash"), "_src").persist()
    # The fetch is the first action on the cache and fills it EAGERLY,
    # once for either path: an unmaterialized AQE cached plan reports
    # unknown outputPartitioning to consumers, so without a fill the
    # first iterations re-exchange the edges even when pre-partitioned
    # (observed: hash(_src) live exchange until the cache finalizes).
    # ew has no null _src (the degree join drops it); a null _dst has
    # no dense index and keeps the distributed semantics.
    tbl = fetch_if_small(ew)
    if tbl is not None and tbl.column("_dst").null_count == 0:
        ew.unpersist()
        if stats is not None:
            stats["path"] = "driver"
            stats["iter_live_exchanges"] = []
        return _pagerank_on_driver(edges.sparkSession, tbl, n_iters, damping, stats)
    if stats is not None:
        stats["path"] = "distributed"
    # Derive nodes from the CACHED ew, not from e: ew ≡ e with _deg
    # attached (deg is keyed by e's own _src, so the inner join drops
    # nothing), and reading the cache avoids recomputing the edge
    # derivation's upstream (scan+distinct) in a second job — the
    # eager fill split the work into separate jobs, which lose
    # cross-subplan exchange reuse (measured 3x on the sf0.1 bench).
    # Explode both endpoints out of one cache scan: the
    # union-of-two-selects formulation read the cache twice (two
    # consumers of ew — harmless for correctness since ew is
    # materialized, but one in-memory pass is free).
    nodes = (
        ew.select(F.explode(F.array("_src", "_dst")).alias("node"))
        .distinct()
        .persist()
    )
    try:
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank: empty edge list")
        if stats is not None:
            stats["n_nodes"] = n
        base = (1.0 - damping) / n
        ranks = nodes.withColumn("pr", F.lit(1.0 / n))
        for i in range(n_iters):
            # SHUFFLE_HASH with the RANK VECTOR as build side: the
            # planner's SMJ satisfies its exchange requirements from
            # the hash(_src) cache — zero extra shuffles — but SORTS
            # the corpus-sized edge stream EVERY iteration (the rank
            # side arrives as a checkpointed RDD with no ordering).
            # A per-partition hash build of the |V|/P-row rank slice
            # is the Pregel-standard choice at any scale: the edges
            # stream unsorted out of the cache, only the rank vector
            # exchanges (same count as before — hash(node) in, the
            # contribution groupBy's hash(_dst) out). The iteration
            # hint alone reproduces ranks bit-identically (partial
            # aggregation consumes the same partition-local stream
            # order); combined with the fill hint the largest observed
            # rank delta was one ulp (4.4e-19 on O(1e-5) values) —
            # fourteen orders of magnitude inside the round-to-4
            # publication contract, re-verified against the oracle at
            # sf0.001/sf0.01/sf0.1.
            contrib = (
                ew.join(ranks.hint("shuffle_hash"), ew._src == ranks.node)
                .select("_dst", (F.col("pr") / F.col("_deg")).alias("_c"))
                .groupBy("_dst")
                .agg(F.sum("_c").alias("_sum"))
            )
            if i == 0 and stats is not None:
                # Live (non-cache-fill) exchanges one iteration pays:
                # must be rank-vector-sized only (hash(node) into the
                # join + hash(_dst) for the contribution groupBy).
                stats["iter_live_exchanges"] = live_exchanges(contrib)
            # Truncate lineage each round — bare chaining doubles the
            # logical plan per iteration (cf. connected_components).
            ranks = materialize(
                nodes.join(
                    contrib.hint("shuffle_hash"),
                    nodes.node == contrib._dst,
                    "left",
                ).select(
                    "node",
                    (
                        F.lit(base) + F.lit(damping) * F.coalesce("_sum", F.lit(0.0))
                    ).alias("pr"),
                ),
                eager=False,
            )
        # Fill the final rank vector, then drop the session-lifetime
        # caches: bench/verify runs execute many registry queries in one
        # process, and un-released edge blocks accumulate across them.
        # Ungated: filled after the unpersist, the |V|-row vector would
        # re-derive the whole edge set instead of reading the caches.
        ranks = materialize(ranks)
    finally:
        ew.unpersist()
        nodes.unpersist()
    return ranks


def _pagerank_on_driver(
    spark, tbl, n_iters: int, damping: float, stats: dict | None
) -> DataFrame:
    """pagerank's recurrence in numpy over the fetched degree-annotated
    edges (_src, _dst, _deg): the same node set, the same per-edge
    r(u)/deg(u) terms and the same base + d·sum update. Only the order
    in which np.bincount adds each node's terms differs from Spark's."""
    src = tbl.column("_src").to_numpy()
    nodes, inv = np.unique(
        np.concatenate([src, tbl.column("_dst").to_numpy()]), return_inverse=True
    )
    s, d = np.split(inv, [len(src)])
    n = len(nodes)
    if n == 0:
        raise ValueError("pagerank: empty edge list")
    if stats is not None:
        stats["n_nodes"] = n
    deg = tbl.column("_deg").to_numpy()
    base = (1.0 - damping) / n
    pr = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        pr = base + damping * np.bincount(d, weights=pr[s] / deg, minlength=n)
    return spark.createDataFrame(pa.table({"node": pa.array(nodes), "pr": pr}))


def _interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric customer↔supplier interaction edges from orders ⋈
    lineitem, node ids packed as BIGINT: even = 2·custkey,
    odd = 2·suppkey+1 (the key spaces overlap).

    Integer ids, not display prefixes: every edge-sized exchange,
    sort, and dedup downstream hashes and compares these values, and
    8-byte longs beat per-row string concat + string hashing on all
    of them — the standard dictionary-encode-before-iterating move.
    ``_node_label`` maps back to the 'c…'/'s…' strings on the
    |V|-sized output only."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("cust"),
        (F.col("l_suppkey") * 2 + 1).alias("supp"),
    )
    # Symmetrize with ONE consumer of the join subtree (explode both
    # directions per row) — the union-of-two-selects formulation made
    # Catalyst re-inline the orders⋈lineitem join per union branch.
    # No .distinct() here: pagerank's own dropDuplicates([_src,_dst])
    # runs AFTER its repartition(_src) — hash(_src) satisfies the
    # (_src,_dst) clustered distribution, so the dedup adds no
    # exchange there, while a distinct here would pay one more
    # edge-sized shuffle for rows the downstream dedup drops anyway.
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("cust").alias("src"), F.col("supp").alias("dst")),
                F.struct(F.col("supp").alias("src"), F.col("cust").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _node_label(col):
    """'c<custkey>' / 's<suppkey>' display label for a packed node id.
    shiftright, not /2: integer halving stays exact for ids past
    2^52, where double division would round."""
    return F.concat(
        F.when(col % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(col.cast("bigint"), 1),
    )


def _pagerank_oracle(n_iters: int) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (DuckDB)."""
    ctes = [
        """pairs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cust,
                             's' || CAST(l_suppkey AS VARCHAR) AS supp
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        edges AS (SELECT cust AS src, supp AS dst FROM pairs
                  UNION ALL SELECT supp, cust FROM pairs),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d
                FROM edges GROUP BY src),
        r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, n_iters + 1):
        ctes.append(
            f"""r{i} AS (SELECT nodes.node,
                    0.15 / nn.n + 0.85 * coalesce(c.s, 0) AS pr
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS node, sum(r{i - 1}.pr / deg.d) AS s
                        FROM edges e
                        JOIN r{i - 1} ON r{i - 1}.node = e.src
                        JOIN deg ON deg.src = e.src
                        GROUP BY e.dst) c ON c.node = nodes.node)"""
        )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT node, round(pr * nn.n, 4) AS pr_scaled
        FROM r{n_iters} CROSS JOIN nn ORDER BY node"""
    )


@query("q_pagerank", oracle=_pagerank_oracle(5))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration PageRank over the symmetric customer↔supplier
    interaction graph (the host-graph quality-signal shape); ranks
    scaled by |V| (≈1.0 = average centrality) and rounded per the
    registry contract. Oracle = the identical recurrence unrolled into
    chained SQL CTEs."""
    stats: dict = {}
    ranks = pagerank(_interaction_edges(spark, sf_dir), n_iters=5, stats=stats)
    scale = float(stats["n_nodes"])
    return ranks.select(
        _node_label(F.col("node")).alias("node"),
        F.round(F.col("pr") * F.lit(scale), 4).alias("pr_scaled"),
    ).orderBy("node")


@query(
    "q_triangles",
    oracle="""
        WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        edges AS (
            SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
            FROM os x JOIN os y
              ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey)
        SELECT (SELECT count(*) FROM edges) AS n_edges,
               (SELECT count(*)
                FROM edges e1
                JOIN edges e2 ON e2.a = e1.b
                JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the co-supply graph (suppliers sharing an
    order, a < b edges): the standard clustering-coefficient primitive
    via the ordered two-path join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) —
    ordering (a<b<c) counts each triangle exactly once and caps the
    join fan-out to the wedge count. Scale note: on skewed graphs
    wedges concentrate on hubs; the a<b orientation (degree-ordering's
    cheap cousin) keeps per-key fan-out bounded by the smaller
    endpoint's degree."""
    li = load_table(spark, sf_dir, "lineitem")
    # The wedge join consumes os_ on BOTH sides, and Catalyst re-inlines
    # the subtree per consumer — unmaterialized, the scan + distinct
    # exchange run twice inside the edge-set fill job.
    os_ = materialize(li.select("l_orderkey", "l_suppkey").distinct(), gate_on=li)
    x, y = os_.alias("x"), os_.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
        .persist()
    )
    try:
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.a") == F.col("e1.b"))
            .join(
                e3,
                (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            )
            .count()
        )
        n_edges = edges.count()
    finally:
        # Both actions are done; the result is two scalars — release
        # the cached edge blocks.
        edges.unpersist()
    from real_time_data_anomaly_detection_spark.io import local_df

    return local_df(
        spark, [(n_edges, tri)], "n_edges long, n_triangles long"
    )


def hierarchy_flatten(
    parents: DataFrame,
    node: str = "node",
    parent: str = "parent",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(node, root, depth) for every node of a parent-pointer forest —
    the WITH RECURSIVE hierarchy walk (org charts, bill-of-materials,
    referral trees) Spark has no built-in for, as a driver loop of
    fully distributed rounds.

    POINTER DOUBLING with depth accumulation: state (node, anc, d)
    where d is the step count from node to anc; each round jumps
    anc := anc(anc), d := d + d(anc) via ONE state-sized self-join,
    so the resolved distance doubles per round and a depth-D forest
    converges in ceil(log2 D)+1 rounds (pinned in tests/test_graph.py)
    — the same shortcut discipline as dedup.connected_components,
    with the same checkpoint lineage truncation
    and fused convergence check (the start-of-round anc rides along
    as ``_prev``; convergence is a filter-count scan of the round's
    own checkpointed frame, no extra join job).

    Roots are rows with ``parent == node`` (d seeds to 0 there, so
    they are their own fixpoint); a node whose parent is absent from
    the relation is treated as a root of its own tree (coalesce on
    the left join), documented rather than silently dropped. 100 TB
    shape: every round is one hash join + checkpoint of the
    |V|-row state — nothing edge-quadratic, nothing on the driver
    but the round counter and the converged flag."""
    state = (
        parents.select(
            F.col(node).alias("node"),
            F.col(parent).alias("anc"),
            F.when(F.col(parent) == F.col(node), F.lit(0).cast("bigint"))
            .otherwise(F.lit(1).cast("bigint"))
            .alias("d"),
        )
        .persist()
    )
    state.count()
    cur = state
    for _round in range(max_iter):
        hop = cur.select(
            F.col("node").alias("_n"),
            F.col("anc").alias("_a"),
            F.col("d").alias("_d"),
        )
        # eager=False: the convergence count is the round's first
        # action — it materializes the checkpoint AND counts in one
        # job (same merge as connected_components).
        new = materialize(
            cur.join(hop, cur.anc == hop._n, "left").select(
                "node",
                F.coalesce("_a", "anc").alias("anc"),
                (F.col("d") + F.coalesce("_d", F.lit(0))).alias("d"),
                F.col("anc").alias("_prev"),
            ),
            eager=False,
        )
        changed = new.filter(F.col("anc") != F.col("_prev")).count()
        cur = new.drop("_prev")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = _round + 1
            state.unpersist()
            return cur.select("node", F.col("anc").alias("root"), F.col("d").alias("depth"))
    state.unpersist()
    raise RuntimeError(f"hierarchy_flatten did not converge in {max_iter} rounds")


@query(
    "q_hierarchy_flatten",
    oracle="""
        WITH RECURSIVE mx AS (SELECT max(user_id) AS m FROM events),
        nodes AS (
            SELECT unnest(generate_series(0, (SELECT m FROM mx))) AS node),
        par AS (
            SELECT node,
                   CASE WHEN node >= 3 THEN node // 3 ELSE node END AS parent
            FROM nodes),
        walk(node, anc, depth) AS (
            SELECT node, parent,
                   CASE WHEN parent = node THEN 0 ELSE 1 END
            FROM par
            UNION ALL
            SELECT w.node, p.parent, w.depth + 1
            FROM walk w JOIN par p ON w.anc = p.node
            WHERE p.parent <> p.node
        )
        SELECT w.node AS user_id, w.anc AS root_id,
               CAST(w.depth AS BIGINT) AS depth
        FROM walk w JOIN par p ON w.anc = p.node
        WHERE p.parent = p.node
        ORDER BY user_id
    """,
)
def q_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root + depth for every node of the synthetic ternary referral
    tree over the events user space (parent(u) = u div 3; roots
    0,1,2) — the recursive-CTE hierarchy walk cross-checked against
    DuckDB's actual WITH RECURSIVE on the identical relation. The
    node set is the closed integer range [0, max(user_id)] generated
    IN-PLAN (one-row max agg -> sequence -> explode, no driver
    collect), so the parent map is total and both engines walk the
    same forest. Pointer doubling needs ceil(log2 depth)+1 ~ 4 rounds
    where the naive walk would need depth ~ 7."""
    e = load_table(spark, sf_dir, "events")
    nodes = (
        e.agg(F.max("user_id").alias("m"))
        .select(F.explode(F.sequence(F.lit(0), F.col("m"))).alias("node"))
    )
    parents = nodes.select(
        "node",
        F.when(F.col("node") >= 3, F.expr("node div 3"))
        .otherwise(F.col("node"))
        .alias("parent"),
    )
    flat = hierarchy_flatten(parents)
    return flat.select(
        F.col("node").alias("user_id"),
        F.col("root").alias("root_id"),
        F.col("depth").cast("bigint").alias("depth"),
    ).orderBy("user_id")
