"""PageRank operator: structural properties + engine-parity pins."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.operators.dedup import (
    connected_components,
)
from real_time_data_anomaly_detection_spark.operators.graph import pagerank
from real_time_data_anomaly_detection_spark.plans import inspect as plan_inspect


def _ranks(df):
    return {r.node: r.pr for r in df.collect()}


def test_ring_graph_uniform(spark):
    # A directed cycle is vertex-transitive: every node must get 1/n.
    n = 8
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src int, dst int"
    )
    r = _ranks(pagerank(edges, n_iters=6))
    assert len(r) == n
    for v in r.values():
        assert v == pytest.approx(1.0 / n, rel=1e-9)


def test_star_center_dominates(spark):
    # All leaves point at node 0: the center must outrank every leaf.
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 11)], "src int, dst int"
    )
    r = _ranks(pagerank(edges, n_iters=5))
    assert all(r[0] > r[i] for i in range(1, 11))


def test_mass_conserved_without_dangling(spark):
    # Symmetric edges -> every node has out-degree -> total rank == 1.
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src int, dst int"
    )
    stats: dict = {}
    r = _ranks(pagerank(edges, n_iters=10, stats=stats))
    assert stats["n_nodes"] == 4
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)


def test_partition_invariance(spark):
    pairs = [(i, (i * 7 + 3) % 50) for i in range(200)]
    edges = spark.createDataFrame(pairs, "src int, dst int")
    a = _ranks(pagerank(edges.repartition(1), n_iters=4))
    b = _ranks(pagerank(edges.repartition(13), n_iters=4))
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-9)


def test_matches_numpy_power_iteration(spark):
    import numpy as np

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3)]
    edges = spark.createDataFrame(pairs, "src int, dst int")
    r = _ranks(pagerank(edges, n_iters=7))

    n = 4
    deg = np.zeros(n)
    for a, _ in pairs:
        deg[a] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(7):
        nxt = np.full(n, 0.15 / n)
        for a, b in pairs:
            nxt[b] += 0.85 * pr[a] / deg[a]
        pr = nxt
    for i in range(n):
        assert r[i] == pytest.approx(pr[i], rel=1e-12)


def test_iteration_edge_shuffle_contract(spark, monkeypatch):
    """The scale claim behind pre_partition (the default): each
    iteration's LIVE shuffles (cache-fill excluded) carry only
    rank-vector-sized relations — never the persisted corpus-sized
    edges. Broadcast of the tiny test rank vector is disabled so the
    join plans the SMJ shape a 100 TB-scale rank vector forces. The
    fetch cap is patched to 0 so the small test graph takes the
    distributed path whose plan this pins."""
    monkeypatch.setattr(plan_inspect, "FETCH_MAX_ROWS", 0)
    pairs = [(i, (i * 7 + 3) % 50) for i in range(400)]
    edges = spark.createDataFrame(pairs, "src int, dst int")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        stats: dict = {}
        pagerank(edges, n_iters=1, stats=stats)
        assert stats["path"] == "distributed"
        live = stats["iter_live_exchanges"]
        blob = " ".join(live)
        assert "hashpartitioning(_dst" in blob, live  # contribution groupBy
        assert "hashpartitioning(_src" not in blob, live  # edges never move
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", prev
        )


def test_pre_partition_drops_edge_exchange_vs_broadcast_built_cache(spark):
    """pagerank's edge cache is repartitioned by _src, so even when the
    degree join is built with a BROADCAST hint (what AQE does at real
    scale — degrees are a |V|-row side against corpus-sized edges) an
    SMJ-regime iteration never re-exchanges the edges on hash(_src)."""
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.plans import live_exchanges

    pairs = [(i, (i * 7 + 3) % 50) for i in range(400)]
    edges = spark.createDataFrame(pairs, "src int, dst int")
    e = edges.select(
        F.col("src").alias("_src"), F.col("dst").alias("_dst")
    ).distinct()
    deg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ew = e.join(F.broadcast(deg), "_src").repartition("_src").persist()
    ew.count()
    ranks = e.select(F.col("_src").alias("node")).distinct().withColumn(
        "pr", F.lit(0.01)
    ).localCheckpoint(eager=True)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        contrib = (
            ew.join(ranks, ew._src == ranks.node)
            .select("_dst", (F.col("pr") / F.col("_deg")).alias("_c"))
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_sum"))
        )
        live = live_exchanges(contrib)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
        ew.unpersist()
    assert "hashpartitioning(_src" not in " ".join(live), live


def _random_graph(seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]


GRAPHS = {
    "random-1": _random_graph(1),
    "random-2": _random_graph(2),
    "random-3": _random_graph(3),
    "chain": [(i, i + 1) for i in range(40)],
    "star": [(0, i) for i in range(1, 30)],
    "duplicate-edges": [(1, 2), (1, 2), (2, 3), (2, 3), (7, 8), (7, 8)],
    "both-orientations": [(1, 2), (2, 1), (2, 3), (3, 2), (9, 4), (4, 9)],
    "self-loop": [(5, 5), (5, 6), (6, 1), (7, 7)],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_driver_and_distributed_paths_agree(spark, monkeypatch, name):
    """Small graphs finish on the driver; the distributed path is forced
    by patching the fetch cap to 0. Component labels must be equal, and
    PageRank must agree to 1e-12 and be equal after the registry's
    round(pr·|V|, 4)."""
    edges = spark.createDataFrame(GRAPHS[name], "src long, dst long")
    cc_edges = edges.toDF("doc_a", "doc_b")

    def run():
        cs: dict = {}
        comps = {r.node: r.comp for r in connected_components(cc_edges, stats=cs).collect()}
        ps: dict = {}
        n = pagerank(edges, n_iters=5, stats=ps).persist()
        ranks = _ranks(n)
        scaled = {
            r.node: r.s
            for r in n.select(
                "node", F.round(F.col("pr") * F.lit(float(ps["n_nodes"])), 4).alias("s")
            ).collect()
        }
        n.unpersist()
        return cs, comps, ps, ranks, scaled

    d_cs, d_comps, d_ps, d_ranks, d_scaled = run()
    monkeypatch.setattr(plan_inspect, "FETCH_MAX_ROWS", 0)
    s_cs, s_comps, s_ps, s_ranks, s_scaled = run()

    assert (d_cs["path"], d_ps["path"]) == ("driver", "driver")
    assert (s_cs["path"], s_ps["path"]) == ("distributed", "distributed")
    assert d_comps == s_comps
    assert d_cs["rounds"] == s_cs["rounds"]
    assert d_ps["n_nodes"] == s_ps["n_nodes"]
    assert d_ranks.keys() == s_ranks.keys()
    for k in d_ranks:
        assert d_ranks[k] == pytest.approx(s_ranks[k], rel=1e-12, abs=0)
    assert d_scaled == s_scaled


def test_empty_edges_raises(spark):
    edges = spark.createDataFrame([], "src int, dst int")
    with pytest.raises(ValueError, match="empty edge list"):
        pagerank(edges)


def test_triangle_count_known_graphs(spark):
    from real_time_data_anomaly_detection_spark.operators.graph import q_triangles  # noqa: F401
    from pyspark.sql import functions as F

    # reuse the same join shape on a constructed edge set: K4 has 4
    # triangles; adding a pendant edge adds none.
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 9)],
        "a int, b int",
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .count()
    )
    assert tri == 4


def test_hierarchy_flatten_chain_and_rounds(spark):
    """A 64-deep chain resolves with correct depths in <= ceil(log2 64)+1
    = 7 doubling rounds; a forest with a dangling parent treats the
    orphan as its own root (the documented contract)."""
    from real_time_data_anomaly_detection_spark.operators.graph import (
        hierarchy_flatten,
    )

    # chain: 0 <- 1 <- 2 ... <- 64 (node 0 is the root)
    rows = [(0, 0)] + [(i, i - 1) for i in range(1, 65)]
    stats = {}
    flat = {
        r["node"]: (r["root"], r["depth"])
        for r in hierarchy_flatten(
            spark.createDataFrame(rows, "node long, parent long"), stats=stats
        ).collect()
    }
    assert flat == {i: (0, i) for i in range(65)}
    assert stats["rounds"] <= 7

    # dangling: node 10's parent 99 is not in the relation
    rows2 = [(0, 0), (1, 0), (10, 99)]
    flat2 = {
        r["node"]: (r["root"], r["depth"])
        for r in hierarchy_flatten(
            spark.createDataFrame(rows2, "node long, parent long")
        ).collect()
    }
    assert flat2[0] == (0, 0) and flat2[1] == (0, 1)
    assert flat2[10] == (99, 1)
