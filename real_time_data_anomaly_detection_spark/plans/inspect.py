"""Assertions over Spark physical plans.

These make scale properties TESTABLE: "the dimension join broadcasts",
"the filter reached the parquet scan", "this pipeline shuffles once" —
the difference between working-at-sf0.01 and working-at-100TB. Used by
tests/test_plans.py and available for ad-hoc plan review.

Also the engine's two physical-plan policies, which decide from the
same plan statistic (:func:`plan_size_bytes`): the materialization
policy (:func:`materialize`, :func:`sort_past_boundary`; no other
module calls ``localCheckpoint``) and the broadcast policy
(:func:`broadcast_if_small`; no other module gates a broadcast on a
size estimate). And the one bounded driver fetch
(:func:`fetch_if_small`; no other module calls ``toArrow``), which
decides from an observed row count instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text (executed-plan string)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan's PushedFilters mentions every fragment."""
    plan = formatted_plan(df)
    pushed_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    blob = " ".join(pushed_lines)
    return all(fr in blob for fr in fragments) and bool(pushed_lines)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — they're the cheap kind)."""
    plan = formatted_plan(df)
    return sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(")
        and "Exchange" in ln
        and "BroadcastExchange" not in ln
    )


def scan_read_schema(df: DataFrame, table_hint: str = "") -> list[str]:
    """Column names in the (first matching) parquet scan's ReadSchema —
    verifies column pruning reached the reader."""
    plan = formatted_plan(df)
    for ln in plan.splitlines():
        if "ReadSchema" in ln and (table_hint in ln if table_hint else True):
            # ReadSchema: struct<a:int,b:string,...>
            inner = ln.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [p.split(":")[0] for p in inner.split(",") if ":" in p]
    return []


def live_exchanges(df: DataFrame) -> list[str]:
    """Shuffle exchanges OUTSIDE InMemoryRelation cached-plan subtrees
    — the exchanges a consumer of an already-materialized cache
    actually pays per execution (cache-build exchanges are a one-time
    fill cost and are excluded, as are ReusedExchange and broadcast
    exchanges).

    Implemented as a py4j TREE walk rather than explain-string
    parsing: ``InMemoryTableScanExec`` is a childless leaf in the plan
    tree (the cached plan is only rendered by toString, where nested
    AQE sections break indentation conventions), so walking children
    never descends into cache-fill plans. ``AdaptiveSparkPlanExec``
    wraps its input with no children; its ``initialPlan`` (input plan
    AFTER EnsureRequirements inserted the exchanges, BEFORE runtime
    re-optimization) is the honest static answer — ``inputPlan`` would
    show no exchanges at all.

    Used by iterative operators (pagerank) to pin that per-round
    shuffles carry only iteration-state-sized relations, not the
    persisted corpus-sized side."""
    out: list[str] = []

    def walk(node) -> None:
        cname = node.getClass().getSimpleName()
        if cname.startswith("InMemoryTableScan"):
            return
        if cname == "ReusedExchangeExec":
            return
        if cname == "ShuffleExchangeExec":
            out.append(
                f"Exchange {node.outputPartitioning().toString()}"
            )
        if cname == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def partitionless_windows(df) -> list[str]:
    """Window-family physical nodes with an EMPTY partition spec —
    each one funnels its whole input through a single task (the
    `WindowExec: No Partition Defined` warning). Legitimate only on
    bounded-cardinality relations (a top-k result, a sketch-sized
    sample); tests/test_plans.py pins the registry-wide whitelist.

    Same py4j tree walk as live_exchanges: AQE nodes contribute their
    initialPlan, cached subtrees are childless leaves."""
    out: list[str] = []

    def walk(node) -> None:
        cname = node.getClass().getSimpleName()
        if cname.startswith("InMemoryTableScan"):
            return
        if cname in (
            "WindowExec",
            "WindowInPandasExec",
            "WindowGroupLimitExec",
        ):
            if node.partitionSpec().isEmpty():
                out.append(cname)
        if cname == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_size_bytes(df) -> int:
    """Catalyst's sizeInBytes estimate for a DataFrame's optimized
    plan, or 2^60 when unavailable — the input to :func:`materialize`
    and :func:`broadcast_if_small`. py4j returns the underlying BigInt as
    a Python int on current pyspark; older versions handed back a JVM
    object needing .toString() — handle both, because the AttributeError
    from assuming one form silently disabled EVERY size gate (the
    checkpoint never fired and nobody noticed until a plan audit found
    zero ExistingRDD scans)."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return raw if isinstance(raw, int) else int(raw.toString())
    except Exception:  # estimate unavailable → assume big, recompute
        return 1 << 60


# Largest input estimate whose derived intermediates materialize.
MATERIALIZE_MAX_BYTES = 1 << 30


def materialize(
    df: DataFrame, gate_on: DataFrame | None = None, eager: bool = True
) -> DataFrame:
    """The engine's one materialization policy: ``df.localCheckpoint``
    when ``gate_on``'s size estimate is at most MATERIALIZE_MAX_BYTES,
    else ``df`` unchanged.

    The reason to materialize: Catalyst re-inlines a subplan under
    every consumer, so an intermediate feeding several branches (a
    self-join, an aggregate plus a join back, a probe plus a join)
    re-runs its scan, tokenize or Python decode once per consumer.
    Checkpointing it once is cheaper while it is small. Past the gate
    recompute wins: a corpus-sized checkpoint costs more executor
    storage and block traffic than another codegen'd pass (at that
    size a deployment persists the intermediate to a table instead).
    ``gate_on`` is the INPUT the intermediate derives from (a scan or
    a batch), because derived estimates are looser than the file
    sizes under them. In-memory inputs report an unknown
    (Long.MaxValue) estimate and so take the recompute branch.

    ``gate_on=None`` always checkpoints: for lineage cuts inside
    driver loops, where the plan would otherwise grow every round,
    and for a result that must be filled before the caches it reads
    are released. ``eager=False`` defers the fill to the caller's next
    action, which then materializes and consumes in one job."""
    if gate_on is not None and plan_size_bytes(gate_on) > MATERIALIZE_MAX_BYTES:
        return df
    return df.localCheckpoint(eager=eager)


def sort_past_boundary(df: DataFrame, *cols) -> DataFrame:
    """``df.orderBy(*cols)`` over a lazy checkpoint of ``df``. A global
    sort first runs a range-sampling job over its child; with no
    materialization boundary that job re-runs the whole child (a
    Python decode or scoring pass) before the sort job runs it again.
    Used where ``df`` is a small per-row result (hashes, scores)."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


# Largest input estimate whose derived relations broadcast.
BROADCAST_MAX_BYTES = 64 << 20


def broadcast_if_small(df: DataFrame, gate_on: DataFrame) -> DataFrame:
    """The engine's one broadcast policy for DATA-sized relations:
    ``F.broadcast(df)`` when ``gate_on``'s size estimate is at most
    BROADCAST_MAX_BYTES, else ``df`` unchanged.

    Use it for a relation whose row count grows with an input batch or
    corpus: a batch's keys or band rows probing an index, a duplicated
    digest set, a change batch's keys. Small, it broadcasts and the
    large side of the join never shuffles. Large, a broadcast would
    ship a data-sized relation to every executor, so the join stays a
    key-keyed shuffle join, still linear and never driver-sized. The
    rows are the same either way. ``gate_on`` is the INPUT scan or
    batch ``df`` derives from, as in :func:`materialize`: derived
    estimates, especially past a Python decode, are looser than the
    file sizes under them. In-memory inputs report an unknown
    (Long.MaxValue) estimate and so take the shuffle branch.

    A relation whose row count is bounded by a key domain (per-key
    stats, a dimension table, a query-sized input) takes a plain
    ``F.broadcast``: its size does not grow with the data."""
    if plan_size_bytes(gate_on) <= BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


# Most rows a data-sized relation may bring to the driver.
FETCH_MAX_ROWS = 1 << 22


def fetch_if_small(df: DataFrame):
    """The engine's one bounded driver fetch: ``df`` as a
    ``pyarrow.Table`` when it has at most FETCH_MAX_ROWS rows, else
    None.

    Used by iterative operators (connected components, PageRank) that
    finish a small graph in numpy instead of paying several Spark jobs
    per round. The decision reads an OBSERVED row count: one
    ``limit(FETCH_MAX_ROWS + 1)`` fetch, never a plan estimate, since
    estimates of derived pair graphs are loose in both directions.
    Pass a persisted ``df``: the fetch then fills its cache, and a
    caller that gets None runs its distributed path over the same
    blocks without re-deriving them.

    The bound: 4 Mi rows. For an edge list of two or three 8-byte
    columns that is at most 96 MiB of Arrow in the driver JVM and again
    in the Python driver, plus a small constant multiple for the numpy
    rounds' index arrays, within a 1 GB driver. Past it, at most that
    one fetch is wasted before the caller takes its distributed path."""
    t = df.limit(FETCH_MAX_ROWS + 1).toArrow()
    return t if t.num_rows <= FETCH_MAX_ROWS else None


def executed_file_scans(df) -> int:
    """Number of file-scan nodes the EXECUTED plan actually runs —
    call AFTER an action so AQE has finalized. Walks the adaptive
    tree (query stages contribute their materialized plan), skipping
    ReusedExchange subtrees (their source executes once elsewhere),
    so N identical-looking scans deduped by exchange reuse count as
    the one physical read they are. The multi-consumer fusion pin:
    q_drift_report must report exactly 1 (the composed version
    paid 3; differential column pruning is what forks
    otherwise-identical consumers into re-scans)."""
    n = 0

    def walk(node) -> None:
        nonlocal n
        cname = node.getClass().getSimpleName()
        if cname in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            return
        if cname.startswith("InMemoryTableScan"):
            return
        if "FileSourceScan" in cname or "BatchScan" in cname:
            n += 1
        if cname == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cname.endswith("QueryStageExec"):
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return n
