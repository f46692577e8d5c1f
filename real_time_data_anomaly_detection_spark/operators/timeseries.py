"""Time-series resampling: regular-grid densification + gap fill.

The reference's stream is irregular (producer sleeps, drops, bursts —
reference producer/producer-3.py:159); any dashboard or model training
on top of it needs a REGULAR grid. This module turns an event stream
into per-key fixed-interval rows with forward-filled values — the
batch analog of what a downsampling/rollup pipeline does continuously.

Scale shape: the grid is generated per key from that key's own
[min, max] hour bounds (one small agg), exploded JVM-side, and joined
to the hourly aggregate on (key, hour) — both sides are already
aggregated, so the join is grid-sized, never event-sized. The forward
fill is one window pass per key ordered by grid time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query

# Fixed-width calendar units (seconds per unit). Month/year vary in
# length, so multi-unit grids over them are ill-defined with epoch
# arithmetic — those stay restricted to "1 <unit>" (date_trunc path).
_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> DataFrame:
    """(key, slot, avg_value, avg_value_ffill): per-key regular grid at
    ``interval`` with the slot's average value and its forward-filled
    version (last non-null earlier slot; leading gaps stay null).
    The slot mean is computed END-TO-END in exact integer micro-units
    and rounded half-up to 4 dp via integer division
    (:func:`_exact_mean_4dp`) — round(avg(double), 4) diverges across
    engines on half-boundary inputs, which surfaced as 1-ulp row
    mismatches at sf0.1 (assumes non-negative values,
    like every micro-unit op here).

    Missing slots appear with ``avg_value`` null — the gap REPORT —
    while ``avg_value_ffill`` carries the last observation forward —
    the gap REPAIR. Both in one pass so callers can distinguish
    measured from imputed values.

    The grid anchors at each key's ``date_trunc(unit, min(ts))`` and
    steps by the full interval; actuals are bucketed onto the SAME
    grid. For ``1 <unit>`` that bucketing is a plain ``date_trunc``
    (zero extra joins); for multi-unit fixed-width intervals
    (e.g. ``15 minutes``) it is epoch-floor arithmetic against the
    key's anchor, carried to the events by broadcasting the tiny
    per-key bounds — never an event-sized shuffle. Multi-unit month/
    year intervals are rejected (variable width ⇒ no well-defined
    grid).
    """
    parts = interval.strip().split()
    n = int(parts[0]) if len(parts) == 2 else 1
    trunc_unit = parts[-1].rstrip("s")
    if n != 1 and trunc_unit not in _UNIT_SECONDS:
        raise ValueError(
            f"multi-unit interval {interval!r} over variable-width unit "
            f"{trunc_unit!r} has no fixed grid; use a count of 1"
        )

    w = (
        Window.partitionBy(key_col)
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    if n == 1:
        # Unit grid: date_trunc buckets both sides identically — no
        # join needed on the actual side.
        bounds = df.groupBy(key_col).agg(
            F.date_trunc(trunc_unit, F.min(ts_col)).alias("_t0"),
            F.date_trunc(trunc_unit, F.max(ts_col)).alias("_t1"),
        )
        grid = bounds.select(
            key_col,
            F.explode(
                F.sequence("_t0", "_t1", F.expr(f"INTERVAL {interval}"))
            ).alias("slot"),
        )
        actual = (
            df.groupBy(
                key_col, F.date_trunc(trunc_unit, F.col(ts_col)).alias("slot")
            )
            .agg(
                F.sum(_micro_units(F.col(value_col))).alias("_sm"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                key_col,
                "slot",
                _exact_mean_4dp("_sm", "_n").alias("avg_value"),
            )
        )
    else:
        # Multi-unit fixed-width grid: slot(ts) = t0 + floor((ts-t0)/step)*step
        # with t0 = date_trunc(unit, min(ts)) per key. The bounds table is
        # one row per key — broadcast it back over the events so the slot
        # assignment stays a map-side computation.
        step = n * _UNIT_SECONDS[trunc_unit]

        def _slot(ts_expr):
            delta = F.unix_timestamp(ts_expr) - F.unix_timestamp("_t0")
            return F.timestamp_seconds(
                F.unix_timestamp("_t0") + F.floor(delta / step) * step
            )

        bounds = df.groupBy(key_col).agg(
            F.date_trunc(trunc_unit, F.min(ts_col)).alias("_t0"),
            F.max(ts_col).alias("_tmax"),
        )
        grid = bounds.withColumn("_t1", _slot(F.col("_tmax"))).select(
            key_col,
            F.explode(
                F.sequence("_t0", "_t1", F.expr(f"INTERVAL {n} {trunc_unit}"))
            ).alias("slot"),
        )
        actual = (
            df.join(F.broadcast(bounds.select(key_col, "_t0")), key_col)
            .groupBy(key_col, _slot(F.col(ts_col)).alias("slot"))
            .agg(
                F.sum(_micro_units(F.col(value_col))).alias("_sm"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                key_col,
                "slot",
                _exact_mean_4dp("_sm", "_n").alias("avg_value"),
            )
        )

    return (
        grid.join(actual, [key_col, "slot"], "left")
        .withColumn(
            "avg_value_ffill", F.last("avg_value", ignorenulls=True).over(w)
        )
        .select(key_col, "slot", "avg_value", "avg_value_ffill")
    )


@query(
    "q_resample_ffill",
    oracle="""
        WITH bounds AS (
            SELECT event_type, date_trunc('hour', min(ts)) AS t0,
                   date_trunc('hour', max(ts)) AS t1
            FROM events GROUP BY event_type
        ),
        grid AS (
            SELECT event_type,
                   unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS slot
            FROM bounds
        ),
        actual AS (
            SELECT event_type, date_trunc('hour', ts) AS slot,
                   CAST((sum(CAST(round(value * 1000000) AS BIGINT))
                         + 50 * count(*)) // (100 * count(*))
                        AS DOUBLE) / 10000 AS avg_value
            FROM events GROUP BY 1, 2
        )
        SELECT g.event_type, g.slot, a.avg_value,
               last_value(a.avg_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.slot
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS avg_value_ffill
        FROM grid g
        LEFT JOIN actual a
          ON g.event_type = a.event_type AND g.slot = a.slot
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of events per event_type with forward fill —
    regular-grid densification over an irregular stream."""
    e = load_table(spark, sf_dir, "events")
    return resample_ffill(e, "event_type", "ts", "value", "1 hour")


@query(
    "q_resample_ffill_15m",
    oracle="""
        WITH bounds AS (
            SELECT event_type, date_trunc('minute', min(ts)) AS t0,
                   max(ts) AS tmax
            FROM events GROUP BY event_type
        ),
        slotted AS (
            SELECT b.event_type, b.t0,
                   b.t0 + CAST(floor((epoch(b.tmax) - epoch(b.t0)) / 900) * 900
                               AS BIGINT) * INTERVAL 1 SECOND AS t1
            FROM bounds b
        ),
        grid AS (
            SELECT event_type,
                   unnest(generate_series(t0, t1, INTERVAL 15 MINUTE)) AS slot
            FROM slotted
        ),
        actual AS (
            SELECT e.event_type,
                   b.t0 + CAST(floor((epoch(e.ts) - epoch(b.t0)) / 900) * 900
                               AS BIGINT) * INTERVAL 1 SECOND AS slot,
                   CAST((sum(CAST(round(e.value * 1000000) AS BIGINT))
                         + 50 * count(*)) // (100 * count(*))
                        AS DOUBLE) / 10000 AS avg_value
            FROM events e JOIN bounds b ON e.event_type = b.event_type
            GROUP BY 1, 2
        )
        SELECT g.event_type, g.slot, a.avg_value,
               last_value(a.avg_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.slot
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS avg_value_ffill
        FROM grid g
        LEFT JOIN actual a
          ON g.event_type = a.event_type AND g.slot = a.slot
    """,
)
def q_resample_ffill_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute resample of events per event_type — the multi-unit
    interval path (epoch-floor bucketing onto the per-key anchored
    grid), which a bare date_trunc cannot express. Oracle replays the
    identical anchor + floor arithmetic in SQL."""
    e = load_table(spark, sf_dir, "events")
    return resample_ffill(e, "event_type", "ts", "value", "15 minutes")


@query(
    "q_anomaly_zscore",
    oracle="""
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, round(value, 4) AS value,
               round((value - mu) / sigma, 4) AS z
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE abs(value - mu) > 3 * sigma
        ORDER BY event_id
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global z-score outliers per event_type (|z| > 3) — the oracle-
    backed SQL member of the anomaly family (the IsolationForest path
    is model-based and rows-only by nature). Stats aggregate first
    (tiny), then broadcast back over the stream — no event-sized
    shuffle."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy(F.col("event_type").alias("_et")).agg(
        F.avg("value").alias("_mu"), F.stddev_samp("value").alias("_sigma")
    )
    return (
        e.join(F.broadcast(stats), e.event_type == F.col("_et"))
        .filter(F.abs(F.col("value") - F.col("_mu")) > 3 * F.col("_sigma"))
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("double"), 4).alias("value"),
            F.round(
                ((F.col("value") - F.col("_mu")) / F.col("_sigma")).cast("double"), 4
            ).alias("z"),
        )
        .orderBy("event_id")
    )


@query(
    "q_anomaly_rolling",
    oracle="""
        WITH scored AS (
            SELECT event_id, event_type, value,
                   avg(value) OVER w AS mu,
                   stddev_samp(value) OVER w AS sigma
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, event_type, round(value, 4) AS value,
               round((value - mu) / sigma, 4) AS z
        FROM scored
        WHERE abs(value - mu) > 3 * sigma
        ORDER BY event_id
    """,
)
def q_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outliers: each event scored against the stats of
    its own trailing 100 events per type (excluding itself) — the
    batch twin of streaming drift-aware detection, one window pass."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    mu = F.avg("value").over(w)
    sigma = F.stddev_samp("value").over(w)
    return (
        e.select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("double"), 4).alias("value"),
            F.round(((F.col("value") - mu) / sigma).cast("double"), 4).alias("z"),
            (F.abs(F.col("value") - mu) > 3 * sigma).alias("_flag"),
        )
        .filter(F.col("_flag"))
        .drop("_flag")
        .orderBy("event_id")
    )


@query(
    "q_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1),
        dev AS (
            SELECT e.event_type, abs(e.value - med.med) AS ad, med.med AS med
            FROM events e JOIN med USING (event_type)),
        mad AS (
            SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY 1)
        SELECT d.event_type,
               round(any_value(d.med), 4) AS med,
               round(any_value(m.mad), 4) AS mad,
               CAST(sum(CASE WHEN d.ad > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY 1 ORDER BY 1
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event_type via median absolute
    deviation (|x - med| > 3·1.4826·MAD — the robust z-score): unlike
    the mean/stddev z-score (q_anomaly_zscore), the detection
    threshold itself is immune to the outliers it hunts. Two grouped
    exact-percentile passes with the per-group scalars BROADCAST back
    over the events — no event-sized shuffle beyond the group
    aggregations."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("ad") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    out_col: str = "ewma",
) -> DataFrame:
    """Adjusted exponentially-weighted moving average per key:
    s_t = Σ_{i<=t} (1-α)^(t-i)·x_i / Σ_{i<=t} (1-α)^(t-i) (the
    pandas ``ewm(adjust=True)`` definition — an unbiased weighted
    mean at every prefix, no warm-up transient).

    One window pass, SQL-expressible: with i = per-key row position,
    both sums use weight r^i where r = 1/(1-α) — the common (1-α)^t
    factor CANCELS in the ratio, so no per-row rescaling and no
    recurrence. A driver-free single shuffle on the key, identical
    to any other windowed aggregate at scale.

    Numerics: r^i grows with the per-key series LENGTH (not the
    corpus) — r^i at i=10³ overflows double for small α, and terms
    below the dominant one by >2^53 vanish (which is also their true
    EWMA weight, but the oracle comparison then hinges on fp
    addition order). Keep per-key series bounded (resampled grids,
    daily rollups — the shapes this module produces); the query
    below runs on a 30-point daily series."""
    r = 1.0 / (1.0 - alpha)
    w_ord = Window.partitionBy(key_col).orderBy(order_col)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    i = F.row_number().over(w_ord) - F.lit(1)
    with_w = df.withColumn("_w", F.pow(F.lit(r), i))
    return with_w.withColumn(
        out_col,
        F.sum(F.col(value_col) * F.col("_w")).over(w_run)
        / F.sum("_w").over(w_run),
    ).drop("_w")


def _micro_units(col):
    """Per-row exact integer micro-units: round(value·1e6) as BIGINT —
    a pure function of the input double, so identical in any engine,
    and BIGINT sums are order-independent where double sums are not."""
    return F.round(col * F.lit(1000000.0), 0).cast("bigint")


def _exact_mean_4dp(sum_col: str, n_col: str):
    """4-decimal mean of a micro-unit sum, rounded ENTIRELY in integer
    arithmetic: (sm + 50n) div (100n) is half-up in 1e-4 units, then
    one exact double division by 1e4. round(double, 4) is not
    engine-portable on half-boundary inputs (Spark's BigDecimal path
    and DuckDB's multiply-round path disagree on the identical
    double); integer half-up is. Assumes non-negative sums."""
    return F.expr(
        f"({sum_col} + 50 * {n_col}) div (100 * {n_col})"
    ).cast("double") / F.lit(10000.0)


@query(
    "q_ewma",
    oracle="""
        WITH sums AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   sum(CAST(round(value * 1000000) AS BIGINT)) AS sm,
                   count(*) AS n
            FROM events GROUP BY 1, 2),
        daily AS (
            SELECT event_type, d,
                   CAST((sm + 50 * n) // (100 * n) AS DOUBLE) / 10000 AS v
            FROM sums),
        pos AS (
            SELECT event_type, d, v,
                   row_number() OVER (PARTITION BY event_type ORDER BY d) - 1
                       AS i
            FROM daily)
        SELECT event_type, d, v,
               round(sum(v * pow(2.0, i)) OVER w
                         / sum(pow(2.0, i)) OVER w, 4) AS ewma
        FROM pos
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_type, d
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed (α=0.5, adjust=True) daily mean value per
    event_type — the classic monitoring smoother over the daily
    rollup (30-point series per key, so the weights stay deep inside
    double range).

    Two deliberate numeric choices make the cross-engine comparison
    BIT-deterministic instead of merely probably-agreeing:
    (1) the daily mean runs END-TO-END in exact integer arithmetic:
    each value is independently rounded to a BIGINT of µ-units (a
    per-row pure function of the same parquet double in both
    engines), BIGINT summation is order-independent (double avg()'s
    engine-dependent order left the mean one ulp apart across
    engines), and the 4-decimal rounding itself is the integer
    half-up division (sm + 50n) div (100n) — round(double, 4) is NOT
    engine-portable on half-boundary inputs (the sf0.001 fixture has
    a daily mean of exactly 38.37875: Spark's BigDecimal path gave
    38.3787, DuckDB's multiply-round path 38.3788, on the IDENTICAL
    input double); (2) the smoother consumes the PUBLISHED (rounded)
    series with dyadic α = 0.5, so every weight 2^i and product v·2^i
    is exact fp scaling and both window sums run over identical
    doubles in identical order. (The integer-half-up form assumes
    non-negative sums, which events.value guarantees.)"""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(_micro_units(F.col("value"))).alias("_sm"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select("event_type", "d", _exact_mean_4dp("_sm", "_n").alias("v"))
    )
    sm = ewma(daily, "event_type", "d", "v", alpha=0.5)
    return sm.select(
        "event_type", "d", "v", F.round("ewma", 4).alias("ewma")
    ).orderBy("event_type", "d")


def cusum_baselines(
    x: DataFrame, key_col: str = "event_type", value_col: str = "xm"
) -> DataFrame:
    """Per-key CUSUM baselines (key, mu, k, h) in exact BIGINT
    micro-units: mu = floor integer mean, allowance k = MAD/2,
    threshold h = 6·MAD, with MAD the floor-integer mean absolute
    deviation. Two tiny per-key aggregates over a micro-unit column;
    every division is integer floor on non-negative operands, so the
    result is bit-identical in any engine."""
    s1 = x.groupBy(key_col).agg(
        F.expr(f"sum({value_col}) div count(*)").alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    s2 = (
        x.join(F.broadcast(s1), key_col)
        .groupBy(key_col)
        .agg(
            F.max("mu").alias("mu"),
            F.expr(f"sum(abs({value_col} - mu)) div max(n)").alias("madm"),
        )
    )
    return s2.select(
        key_col,
        "mu",
        F.expr("madm div 2").alias("k"),
        (6 * F.col("madm")).cast("bigint").alias("h"),
    )


def cusum_scores(
    x: DataFrame,
    baselines: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "xm",
) -> DataFrame:
    """Two-sided CUSUM statistics per key over a micro-unit series:
    (id, key, h, sup, sdn) with S_t = P_t - min(0, min_{j<=t} P_j),
    P the running sum of (x - mu ∓ k) — the closed form of the
    max(0, S+d) recurrence as pure window algebra (one exchange, one
    sort, both Window ops share the spec). ``baselines`` is the tiny
    (key, mu, k, h) relation from :func:`cusum_baselines` (or trained
    offline), broadcast back over the stream. All integer end-to-end."""
    d = x.join(F.broadcast(baselines), key_col).select(
        id_col, ts_col, key_col, "h",
        F.expr(f"{value_col} - mu - k").alias("dup"),
        F.expr(f"mu - {value_col} - k").alias("ddn"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        id_col, ts_col, key_col, "h",
        F.sum("dup").over(w).alias("pup"),
        F.sum("ddn").over(w).alias("pdn"),
    )
    c2 = c.select(
        id_col, key_col, "h", "pup", "pdn",
        F.min("pup").over(w).alias("mup"),
        F.min("pdn").over(w).alias("mdn"),
    )
    zero = F.lit(0).cast("bigint")
    return c2.select(
        id_col, key_col, "h",
        (F.col("pup") - F.least(zero, F.col("mup"))).alias("sup"),
        (F.col("pdn") - F.least(zero, F.col("mdn"))).alias("sdn"),
    )


@query(
    "q_cusum_alarms",
    oracle="""
        WITH x AS (
            SELECT event_id, ts, event_type,
                   CAST(round(value * 1000000) AS BIGINT) AS xm
            FROM events),
        s1 AS (
            SELECT event_type, CAST(sum(xm) // count(*) AS BIGINT) AS mu,
                   count(*) AS n
            FROM x GROUP BY 1),
        s2 AS (
            SELECT x.event_type, max(mu) AS mu,
                   CAST(sum(abs(xm - mu)) // max(n) AS BIGINT) AS madm
            FROM x JOIN s1 USING (event_type) GROUP BY 1),
        d AS (
            SELECT x.event_id, x.ts, x.event_type, madm,
                   xm - mu - madm // 2 AS dup,
                   mu - xm - madm // 2 AS ddn
            FROM x JOIN s2 USING (event_type)),
        c AS (
            SELECT *,
                   sum(dup) OVER w AS pup,
                   sum(ddn) OVER w AS pdn
            FROM d
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        st AS (
            SELECT *,
                   pup - least(0, min(pup) OVER w) AS sup,
                   pdn - least(0, min(pdn) OVER w) AS sdn
            FROM c
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, event_type, 'up' AS direction,
               CAST(sup AS BIGINT) AS stat_micro
        FROM st WHERE sup > 6 * madm
        UNION ALL
        SELECT event_id, event_type, 'down' AS direction,
               CAST(sdn AS BIGINT) AS stat_micro
        FROM st WHERE sdn > 6 * madm
        ORDER BY event_id, direction
    """,
)
def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point alarms per event_type — the
    classic sequential drift detector (Page 1954) the reference's
    sliding-window IsolationForest loop (app/app3_ML.py:38-44,
    145-166) cannot express: it flags PERSISTENT level shifts, not
    pointwise outliers.

    The recurrence S_t = max(0, S_{t-1} + x_t - mu - k) is not a SQL
    window aggregate, but its closed form IS: with P_t the running
    sum of (x_t - mu - k), S_t = P_t - min(0, min_{j<=t} P_j) — one
    cumulative sum and one running min, pure window algebra, no
    recursion and no applyInPandas on the data path. Allowance
    k = MAD/2 and threshold h = 6·MAD follow the usual
    half-sigma/five-sigma convention with the robust mean absolute
    deviation standing in for sigma.

    Bit-deterministic cross-engine: values enter as exact BIGINT
    micro-units (round(value·1e6) is a pure per-row function of the
    parquet double), mu and MAD are floor integer divisions of
    order-independent BIGINT sums (non-negative by the events
    contract), and every cumulative statistic stays integer to the
    published column — no double summation anywhere. A row breaching
    both sides emits one row per direction via a single
    explode(filter(...)) pass, not a self-union that would re-run
    the window.

    Scale shape: two tiny per-type aggregates broadcast back (s1/s2
    are |event_types| rows), then ONE window pass over the stream —
    the same single sort-shuffle any per-key sessionization pays.
    Both window specs share (partition, order), so Spark plans one
    exchange + one sort with the second Window reusing the order.
    BIGINT cumsums hold to ~9e9 rows per series at µ-resolution."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_id", "ts", "event_type",
        _micro_units(F.col("value")).alias("xm"),
    )
    st = cusum_scores(x, cusum_baselines(x))
    h = F.col("h")
    dirs = F.array(
        F.when(
            F.col("sup") > h,
            F.struct(
                F.lit("up").alias("direction"),
                F.col("sup").alias("stat_micro"),
            ),
        ),
        F.when(
            F.col("sdn") > h,
            F.struct(
                F.lit("down").alias("direction"),
                F.col("sdn").alias("stat_micro"),
            ),
        ),
    )
    return (
        st.select(
            "event_id", "event_type",
            F.explode(F.filter(dirs, lambda v: v.isNotNull())).alias("_a"),
        )
        .select(
            "event_id", "event_type",
            F.col("_a.direction").alias("direction"),
            F.col("_a.stat_micro").alias("stat_micro"),
        )
        .orderBy("event_id", "direction")
    )


@query(
    "q_anomaly_seasonal",
    oracle="""
        WITH x AS (
            SELECT event_id, event_type, hour(ts) AS hr,
                   CAST(round(value * 1000000) AS BIGINT) AS xm
            FROM events),
        s1 AS (
            SELECT event_type, hr,
                   CAST(sum(xm) // count(*) AS BIGINT) AS mu,
                   count(*) AS n
            FROM x GROUP BY 1, 2),
        s2 AS (
            SELECT x.event_type, x.hr, max(mu) AS mu,
                   CAST(sum(abs(xm - mu)) // max(n) AS BIGINT) AS madm
            FROM x JOIN s1 USING (event_type, hr) GROUP BY 1, 2)
        SELECT event_id, event_type, hr,
               CAST(xm - mu AS BIGINT) AS dev_micro,
               CAST((abs(xm - mu) * 1000 - (abs(xm - mu) * 1000) % madm)
                        // madm AS BIGINT) AS sev_pm
        FROM x JOIN s2 USING (event_type, hr)
        WHERE abs(xm - mu) > 5 * madm
        ORDER BY event_id
    """,
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile outliers: each event scored against the robust
    baseline of its OWN hour-of-day cell per event_type (120 cells),
    flagging |x - mu_cell| > 5·MAD_cell. The detection the reference's
    single global sliding window (app/app3_ML.py:38-44) mislabels
    on any diurnal signal: a value normal at peak hour is anomalous
    at 3am, and vice versa — the per-cell baseline encodes that.

    Bit-deterministic like q_cusum_alarms: BIGINT micro-units in,
    floor-integer mu and MAD per cell (order-independent sums),
    integer comparisons, and the published severity is exact integer
    permille of MAD via the portable trunc-division pattern
    (num - num % den) / den. Scale shape: two cell-sized aggregates
    (120 rows) broadcast back over the stream; no event-sized
    shuffle at all — cheaper than the windowed CUSUM pass."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_id", "event_type",
        F.hour("ts").alias("hr"),
        _micro_units(F.col("value")).alias("xm"),
    )
    s1 = x.groupBy("event_type", "hr").agg(
        F.expr("sum(xm) div count(*)").alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    s2 = (
        x.join(F.broadcast(s1), ["event_type", "hr"])
        .groupBy("event_type", "hr")
        .agg(
            F.max("mu").alias("mu"),
            F.expr("sum(abs(xm - mu)) div max(n)").alias("madm"),
        )
    )
    return (
        x.join(F.broadcast(s2), ["event_type", "hr"])
        .filter(F.expr("abs(xm - mu) > 5 * madm"))
        .select(
            "event_id", "event_type", "hr",
            F.expr("xm - mu").alias("dev_micro"),
            F.expr(
                "(abs(xm - mu) * 1000 - (abs(xm - mu) * 1000) % madm)"
                " div madm"
            ).alias("sev_pm"),
        )
        .orderBy("event_id")
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bar_seconds: int = 900,
) -> DataFrame:
    """OHLC candlestick bars: per (key, fixed time bar) the opening,
    highest, lowest and closing value plus tick count and sum — the
    market-data / telemetry rollup every time-series store ships.

    Determinism discipline (the q_ewma lessons): values are published
    in exact binary micro-units (``floor(v * 2^20)`` — a power-of-two
    float multiply is IEEE-exact and floor has no rounding-tie
    ambiguity), the bar id is whole-epoch-seconds ``div`` bar width
    built TZ-FREE from date/time fields (events.ts is TIMESTAMP_NTZ),
    and open/close ride a (ts, v_u) total order: one window per
    (key, bar) assigns row_number + partition count, so open is the
    rn=1 value and close the rn=n value; v_u as secondary sort key
    makes the order deterministic even when two ticks share the same
    (key, bar, ts) — engine-identical tiebreaks by construction.

    Scale shape: one hash exchange on (key, bar) feeding the window
    sort, then a map-side-combinable groupBy on the SAME keys — AQE
    reuses the window's partitioning, so the whole rollup is one
    shuffle. Bars are bounded (n_keys x time range / width); nothing
    is corpus-sized downstream of the exchange."""
    v_u = F.floor(F.col(value_col) * F.lit(1048576)).cast("bigint")
    base = df.select(
        F.col(key_col).alias("k"),
        F.expr(
            f"(datediff(to_date({ts_col}), date'1970-01-01') * 86400"
            f" + hour({ts_col}) * 3600 + minute({ts_col}) * 60"
            f" + second({ts_col})) div {bar_seconds}"
        ).alias("bar"),
        F.col(ts_col).alias("_ts"),
        v_u.alias("v_u"),
    )
    w = Window.partitionBy("k", "bar")
    wo = w.orderBy("_ts", "v_u")
    r = base.select(
        "k",
        "bar",
        "v_u",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
    )
    return (
        r.groupBy("k", "bar")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("v_u"))).alias("open_u"),
            F.max("v_u").alias("high_u"),
            F.min("v_u").alias("low_u"),
            F.max(F.when(F.col("rn") == F.col("n"), F.col("v_u"))).alias(
                "close_u"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.sum("v_u").cast("bigint").alias("sum_u"),
        )
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type", "bar")
    )


@query(
    "q_ohlc_bars",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 900 AS bar,
                   ts,
                   CAST(floor(value * 1048576) AS BIGINT) AS v_u
            FROM events),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type, bar
                                      ORDER BY ts, v_u) AS rn,
                   count(*) OVER (PARTITION BY event_type, bar) AS n
            FROM b)
        SELECT event_type, bar,
               CAST(max(CASE WHEN rn = 1 THEN v_u END) AS BIGINT) AS open_u,
               CAST(max(v_u) AS BIGINT) AS high_u,
               CAST(min(v_u) AS BIGINT) AS low_u,
               CAST(max(CASE WHEN rn = n THEN v_u END) AS BIGINT) AS close_u,
               CAST(count(*) AS BIGINT) AS n_ticks,
               CAST(sum(v_u) AS BIGINT) AS sum_u
        FROM r GROUP BY event_type, bar ORDER BY event_type, bar
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute OHLC bars per event_type over the events stream:
    open/high/low/close in exact binary micro-units, tick count, and
    an order-independent integer sum. Open/close determinism rides the
    per-bar (ts, v_u) window order (deterministic even under duplicate
    timestamps within a bar), the bar id is tz-free
    integer arithmetic on both engines, and every published column is
    BIGINT — bit-equal across Spark and DuckDB by construction."""
    e = load_table(spark, sf_dir, "events")
    return ohlc_bars(e, "event_type", "ts", "value", 900)


@query(
    "q_category_drift",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END)
                        AS BIGINT) AS o1,
                   CAST(sum(CASE WHEN hour(ts) < 12 THEN 0 ELSE 1 END)
                        AS BIGINT) AS o2
            FROM events GROUP BY 1),
        t AS (
            SELECT CAST(sum(o1) AS BIGINT) AS n1,
                   CAST(sum(o2) AS BIGINT) AS n2
            FROM c)
        SELECT event_type, o1, o2,
               CAST(floor(
                   (CAST(o1*n2 - o2*n1 AS DOUBLE)
                    * CAST(o1*n2 - o2*n1 AS DOUBLE))
                   * CAST(n1 + n2 AS DOUBLE)
                   / ((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                      * CAST(o1 + o2 AS DOUBLE))
                   * 1024.0) AS BIGINT) AS chi2_mil
        FROM c, t ORDER BY event_type
    """,
)
def q_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detector: per-category chi-square
    contribution between two time windows of the events stream
    (morning vs afternoon) — the 2×C homogeneity test every
    monitoring stack runs to catch category-mix shift before a model
    sees it. Algebra: with window totals N1, N2 and per-category
    counts o1, o2, the contribution is
    (o1·N2 − o2·N1)² · N / (N1·N2·(o1+o2)) — the cross-product form
    keeps everything integer until the LAST division. Cross products
    stay exact BIGINTs (< 2^53 up to ~90M-row windows; beyond that,
    pre-aggregate per shard); the double chain is a PINNED op
    sequence of correctly-rounded ×,/ over engine-identical
    integers, so floor(chi2·1024) (exact power-of-two scale) is
    bit-equal cross-engine. Scale shape: one counts aggregation
    (|categories| rows), a one-row totals broadcast, map-side
    arithmetic — nothing event-sized moves."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.hour("ts") < 12).alias("w1")
    )
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("w1"), 1).otherwise(0)).cast("bigint").alias("o1"),
        F.sum(F.when(F.col("w1"), 0).otherwise(1)).cast("bigint").alias("o2"),
    )
    tot = c.agg(
        F.sum("o1").cast("bigint").alias("n1"),
        F.sum("o2").cast("bigint").alias("n2"),
    )
    d = (F.col("o1") * F.col("n2") - F.col("o2") * F.col("n1")).cast("double")
    chi2 = (
        d * d
        * (F.col("n1") + F.col("n2")).cast("double")
        / (
            (F.col("n1").cast("double") * F.col("n2").cast("double"))
            * (F.col("o1") + F.col("o2")).cast("double")
        )
    )
    return (
        c.join(F.broadcast(tot))
        .select(
            "event_type",
            "o1",
            "o2",
            F.floor(chi2 * F.lit(1024.0)).cast("bigint").alias("chi2_mil"),
        )
        .orderBy("event_type")
    )


def exact_group_quantile(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rid_col: str,
    q_pct: int,
    bucket_bits: int | None = None,
) -> DataFrame:
    """EXACT per-group quantile by two-level rank selection — the
    value at 0-based rank (q·(n−1)) div 100 of the (value, rid)
    total order — WITHOUT ever sorting a whole group in one task
    (the epoch_order two-level-rank lesson applied to quantiles; a
    `row_number() over (partition by key)` threshold would funnel
    each key's full stream through a single task at 100 TB).

    Level 1: per-(key, value div 2^bucket_bits) counts — a bounded
    relation (value range / 2^bits rows per key) — locate the bucket
    containing the target rank via a running sum over that tiny
    relation. Level 2: rank ONLY inside the hit bucket (window
    partitioned by (key, bucket), max task = bucket occupancy) and
    take the offset-th element. Deterministic, no sampling; returns
    (key, q_value).

    ``bucket_bits=None`` sizes buckets from the DATA: an
    in-plan one-row min/max broadcast picks a power-of-two width so
    the global value range splits into ~2-4k level-1 buckets (see
    exact_group_quantiles). The former fixed default of 20
    silently degenerated to ONE bucket whenever the value range was
    under 2^20 (micro-unit metrics often are) — every group then
    sorted in a single level-2 task and the hit-bucket join shuffled
    the whole relation, measured 135.8 MB → 0.1 MB at 6M rows on the
    §7.2 ladder after auto-sizing. Bucket width NEVER affects
    results (ties resolve by rid inside the bucket, the bucket's own
    total order), only the max-task bound and shuffle size. Caveat
    stands: a single value appearing in a huge fraction of a group
    concentrates its bucket regardless of width."""
    return exact_group_quantiles(
        df, key_col, value_col, rid_col, (q_pct,), bucket_bits
    ).select(key_col, "q_value")


def exact_group_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rid_col: str,
    q_pcts: tuple[int, ...],
    bucket_bits: int | None = None,
) -> DataFrame:
    """Multi-quantile form of :func:`exact_group_quantile` — EVERY
    requested quantile from ONE scan and ONE bucket-count relation
    (the bucket counts, the cumulative window and the in-bucket ranks
    are q-independent, so all ranks select against the same
    relations). Returns
    (key, q_pct, q_value); identical rank definition per q — the
    single-q wrapper stays oracle-green unchanged.

    The auto bucket width is computed IN-PLAN: a one-row min/max agg
    broadcast-crossed into the bucketing projection (width =
    2^(ceil(log2(range)) − 12), a power-of-two double, so the floor
    division stays IEEE-exact). No eager job fires at plan-build time
    — building the DataFrame stays lazy for plan tooling and tests;
    width still never affects results, only the max-task bound."""
    n_per = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    nq = n_per.select(
        key_col,
        "_n",
        F.explode(F.array(*[F.lit(int(q)) for q in q_pcts])).alias("_q"),
    )
    k_of = F.expr("(_q * (_n - 1)) div 100")
    # FLOOR division (power-of-two double divide is IEEE-exact):
    # `div` truncates toward zero and would interleave negative
    # values' buckets with positive ones
    if bucket_bits is None:
        mm = df.agg(
            F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
        )
        width = F.greatest(
            F.pow(
                F.lit(2.0),
                (
                    F.ceil(
                        F.log2(
                            F.greatest(
                                (F.col("_hi") - F.col("_lo")).cast("double"),
                                F.lit(2.0),
                            )
                        )
                    )
                    - F.lit(12)
                ).cast("double"),
            ),
            F.lit(1.0),
        )
        b = df.crossJoin(F.broadcast(mm)).select(
            key_col,
            value_col,
            rid_col,
            F.floor(F.col(value_col) / width).cast("bigint").alias("_b"),
        )
    else:
        b = df.select(
            key_col,
            value_col,
            rid_col,
            F.floor(F.col(value_col) / F.lit(float(1 << bucket_bits)))
            .cast("bigint")
            .alias("_b"),
        )
    counts = b.groupBy(key_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.select(
        key_col,
        "_b",
        "_c",
        F.coalesce(F.sum("_c").over(w_cum), F.lit(0)).alias("_cum"),
    )
    hit = (
        cum.join(F.broadcast(nq), key_col)
        .filter((F.col("_cum") <= k_of) & (k_of < F.col("_cum") + F.col("_c")))
        .select(key_col, "_q", "_b", (k_of - F.col("_cum")).alias("_off"))
    )
    # a bucket can host several requested ranks — rank rows once per
    # (key, bucket, q) partition so the joined duplicates stay separate
    w_in = Window.partitionBy(key_col, "_b", "_q").orderBy(value_col, rid_col)
    return (
        b.join(F.broadcast(hit), [key_col, "_b"])
        .select(
            key_col,
            "_q",
            value_col,
            "_off",
            F.row_number().over(w_in).alias("_rn"),
        )
        .filter(F.col("_rn") - 1 == F.col("_off"))
        .select(
            key_col,
            F.col("_q").alias("q_pct"),
            F.col(value_col).alias("q_value"),
        )
    )


@query(
    "q_peaks_over_threshold",
    oracle="""
        WITH v AS (
            SELECT event_type, event_id AS rid,
                   CAST(round(value * 1000000) AS BIGINT) AS xm
            FROM events),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY xm, rid) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v),
        thr AS (
            SELECT event_type, xm AS t FROM r
            WHERE rn - 1 = (95 * (n - 1)) // 100),
        ex AS (
            SELECT v.event_type, thr.t, v.xm - thr.t AS e
            FROM v JOIN thr USING (event_type) WHERE v.xm > thr.t)
        SELECT event_type,
               CAST(min(t) AS BIGINT) AS thr_micro,
               CAST(count(*) AS BIGINT) AS n_exceed,
               CAST((sum(e) + 50 * count(*)) // (100 * count(*))
                    AS DOUBLE) / 10000 AS mean_excess
        FROM ex GROUP BY 1 ORDER BY 1
    """,
)
def q_peaks_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value (peaks-over-threshold) anomaly profile per
    event_type: exact integer p95 threshold — the value at rank
    (95·(n−1)) div 100 of the (xm, rid) total order, computed by the
    scale-safe two-level selection (:func:`exact_group_quantile` —
    bucket counts + in-bucket rank, no whole-group single-task sort)
    — then exceedance count and mean excess over it (the empirical
    ingredients of a GPD tail fit). Micro-unit BIGINTs end-to-end;
    the mean publishes through _exact_mean_4dp's integer half-up,
    never round(double). The oracle replays the naive global rank
    selection, so the two-level path is hash-checked equivalent.
    Scale shape: two bounded aggregations + one bucket-local window
    for the threshold, a |types|-row broadcast back, then a map-side
    filter + partial-aggregable groupBy."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("rid"),
        _micro_units(F.col("value")).alias("xm"),
    )
    thr = exact_group_quantile(ev, "event_type", "xm", "rid", 95).select(
        "event_type", F.col("q_value").alias("t")
    )
    ex = (
        ev.join(F.broadcast(thr), "event_type")
        .filter(F.col("xm") > F.col("t"))
        .select("event_type", "t", (F.col("xm") - F.col("t")).alias("e"))
    )
    return (
        ex.groupBy("event_type")
        .agg(
            F.min("t").cast("bigint").alias("thr_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_exceed"),
            F.sum("e").alias("_se"),
        )
        .select(
            "event_type",
            "thr_micro",
            "n_exceed",
            _exact_mean_4dp("_se", "n_exceed").alias("mean_excess"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Numeric-feature drift: population stability index (the numeric sibling
# of q_category_drift's categorical chi-square).
# ---------------------------------------------------------------------------


def psi_bucket_edges(
    ref: DataFrame,
    key_col: str,
    value_col: str,
    rid_col: str,
    quantiles: tuple[int, ...] = (20, 40, 60, 80),
) -> DataFrame:
    """Per-key PSI bucket edges: the EXACT reference-window quantiles
    at ``quantiles`` via :func:`exact_group_quantiles` — ALL edges
    from one scan and one bucket-count relation, pivoted into one
    (key, e0..e{n-1}) row per key. Edges are exact integers of the
    (value, rid) total order, so bucket assignment — and therefore
    the whole PSI report — is engine-replayable."""
    qs = exact_group_quantiles(ref, key_col, value_col, rid_col, quantiles)
    return qs.groupBy(key_col).agg(
        *[
            F.max(F.when(F.col("q_pct") == int(q), F.col("q_value"))).alias(
                f"e{i}"
            )
            for i, q in enumerate(quantiles)
        ]
    )


def _psi_bucket(value_col: str, n_edges: int):
    """Bucket id = number of edges strictly below the value (ties go
    LEFT) — pure integer comparisons against the broadcast edge row."""
    b = F.lit(0)
    for i in range(n_edges):
        b = b + F.when(F.col(value_col) > F.col(f"e{i}"), 1).otherwise(0)
    return b


def psi_term_u(nb: int):
    """The PINNED per-bucket PSI term, published as
    floor(term · 2^20) BIGINT: with Laplace-smoothed counts
    cp = o2+1, rp = o1+1 and totals CB = cur+nb, RB = ref+nb,

        term = (cp/CB − rp/RB) · ln((cp/rp) · (RB/CB))

    Every non-ln op is a correctly-rounded double ×/−// over
    engine-identical BIGINTs with IDENTICAL parenthesization in the
    DuckDB oracle (the q_category_drift pinned-chain discipline);
    the ratio is factored as (cp/rp)·(RB/CB) so no intermediate
    integer product can overflow at any corpus size. Per-bucket terms
    floor to integers BEFORE the per-key sum, so the published PSI is
    an order-independent BIGINT sum — no double-summation-order
    divergence. ln is the one op without a correctly-rounded
    guarantee; a last-ulp difference survives the floor only within
    ~2^-32 of a boundary (verified bit-equal at three SFs)."""
    cp = (F.col("o2") + 1).cast("double")
    rp = (F.col("o1") + 1).cast("double")
    cb = (F.col("_cn") + nb).cast("double")
    rb = (F.col("_rn") + nb).cast("double")
    term = (cp / cb - rp / rb) * F.log((cp / rp) * (rb / cb))
    return F.floor(term * F.lit(1048576.0)).cast("bigint")


def psi_drift(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rid_col: str,
    flag_col: str,
    quantiles: tuple[int, ...] = (20, 40, 60, 80),
) -> DataFrame:
    """Population-stability-index drift report per key: bucket the
    CURRENT window (flag false) against the REFERENCE window's
    (flag true) exact quantile edges and publish
    (key, ref_n, cur_n, psi_u) where psi_u = Σ_buckets
    floor(term · 2^20) — integer end-state, order-independent,
    oracle-replayable (q_psi_drift). PSI ≈ psi_u / 2^20; the standard
    alert thresholds 0.1 / 0.25 are ~104 858 / ~262 144 psi_u.

    Keys with no reference rows have no edges and are excluded (a
    baseline-less feature has no PSI). Scale shape: 4 counts-sized
    quantile selections over the reference window + ONE bucketing
    pass over df (broadcast edges, partial-aggregable counts) + grid
    arithmetic on |keys|·buckets rows — nothing event-sized moves
    after the scan.

    Single-consumer discipline: the per-key window totals
    and the key × bucket grid both come straight from ONE df
    aggregation (``tt``), NOT by re-summing / re-exploding the
    bucket-count relation — the previous body consumed ``gf`` twice
    and ``edges`` twice, and with no common-subtree materialization
    Catalyst re-inlined the whole quantile-selection subtree per
    consumer (measured: 22 FileScans of the input in the physical
    plan; now 7, with ``edges`` evaluated once). Equivalences: Σ_bk
    o1/o2 over the grid-completed counts = the key's window counts in
    df (the edges join is keyed on exactly the keys with a reference
    window), and the grid's key set = keys with ≥ 1 reference row
    (every such key yields all its rank edges)."""
    n_edges = len(quantiles)
    nb = n_edges + 1
    ref = df.filter(F.col(flag_col))
    edges = psi_bucket_edges(ref, key_col, value_col, rid_col, quantiles)
    tt = df.groupBy(key_col).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("bigint")
        .alias("_rn"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("bigint")
        .alias("_cn"),
    ).filter(F.col("_rn") > 0)
    b = df.join(F.broadcast(edges), key_col).select(
        key_col, flag_col, _psi_bucket(value_col, n_edges).alias("_bk")
    )
    g = b.groupBy(key_col, "_bk").agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("bigint")
        .alias("o1"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("bigint")
        .alias("o2"),
    )
    grid = tt.select(
        key_col,
        "_rn",
        "_cn",
        F.explode(F.expr(f"sequence(0, {nb - 1})")).alias("_bk"),
    )
    per_bucket = grid.join(g, [key_col, "_bk"], "left").select(
        key_col,
        "_rn",
        "_cn",
        F.coalesce("o1", F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce("o2", F.lit(0)).cast("bigint").alias("o2"),
    ).select(key_col, "_rn", "_cn", psi_term_u(nb).alias("_tu"))
    return per_bucket.groupBy(key_col).agg(
        F.min("_rn").alias("ref_n"),
        F.min("_cn").alias("cur_n"),
        F.sum("_tu").cast("bigint").alias("psi_u"),
    )


@query(
    "q_psi_drift",
    oracle="""
        WITH v AS (
            SELECT event_type, event_id AS rid,
                   CAST(round(value * 1000000) AS BIGINT) AS xm,
                   (hour(ts) < 12) AS w1
            FROM events),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY xm, rid) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v WHERE w1),
        e AS (
            SELECT event_type,
                   max(CASE WHEN rn - 1 = (20 * (n - 1)) // 100
                       THEN xm END) AS e0,
                   max(CASE WHEN rn - 1 = (40 * (n - 1)) // 100
                       THEN xm END) AS e1,
                   max(CASE WHEN rn - 1 = (60 * (n - 1)) // 100
                       THEN xm END) AS e2,
                   max(CASE WHEN rn - 1 = (80 * (n - 1)) // 100
                       THEN xm END) AS e3
            FROM r GROUP BY 1),
        b AS (
            SELECT v.event_type, v.w1,
                   (CASE WHEN v.xm > e0 THEN 1 ELSE 0 END
                  + CASE WHEN v.xm > e1 THEN 1 ELSE 0 END
                  + CASE WHEN v.xm > e2 THEN 1 ELSE 0 END
                  + CASE WHEN v.xm > e3 THEN 1 ELSE 0 END) AS bk
            FROM v JOIN e USING (event_type)),
        g AS (
            SELECT event_type, bk,
                   CAST(sum(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
                   CAST(sum(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS o2
            FROM b GROUP BY 1, 2),
        grid AS (
            SELECT event_type, t.bk
            FROM e, UNNEST(generate_series(0, 4)) AS t(bk)),
        gf AS (
            SELECT grid.event_type, grid.bk,
                   COALESCE(o1, 0) AS o1, COALESCE(o2, 0) AS o2
            FROM grid LEFT JOIN g
              ON grid.event_type = g.event_type AND grid.bk = g.bk),
        tt AS (
            SELECT event_type,
                   CAST(sum(o1) AS BIGINT) AS rn_,
                   CAST(sum(o2) AS BIGINT) AS cn_
            FROM gf GROUP BY 1),
        term AS (
            SELECT gf.event_type, rn_, cn_,
                   CAST(floor(
                       (CAST(o2 + 1 AS DOUBLE) / CAST(cn_ + 5 AS DOUBLE)
                        - CAST(o1 + 1 AS DOUBLE) / CAST(rn_ + 5 AS DOUBLE))
                       * ln((CAST(o2 + 1 AS DOUBLE)
                             / CAST(o1 + 1 AS DOUBLE))
                            * (CAST(rn_ + 5 AS DOUBLE)
                               / CAST(cn_ + 5 AS DOUBLE)))
                       * 1048576.0) AS BIGINT) AS tu
            FROM gf JOIN tt USING (event_type))
        SELECT event_type,
               CAST(min(rn_) AS BIGINT) AS ref_n,
               CAST(min(cn_) AS BIGINT) AS cur_n,
               CAST(sum(tu) AS BIGINT) AS psi_u
        FROM term GROUP BY 1 ORDER BY 1
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature drift via the population stability index
    (extending the drift family beyond categories): per
    event_type, the value distribution of the afternoon window is
    scored against the morning window's EXACT quintile edges
    (exact_group_quantile — integer order statistics, no sampling),
    Laplace-smoothed bucket shares, and the pinned double chain
    (cp/CB − rp/RB)·ln((cp/rp)·(RB/CB)) published as
    Σ floor(term·2^20) — an order-independent BIGINT, bit-equal
    cross-engine. The oracle replays edges (naive global rank),
    buckets, smoothing and the identical op sequence in DuckDB."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("rid"),
        _micro_units(F.col("value")).alias("xm"),
        (F.hour("ts") < 12).alias("w1"),
    )
    return psi_drift(ev, "event_type", "xm", "rid", "w1").orderBy(
        "event_type"
    )


def _ks_tail(g, key_col: str, value_col: str) -> DataFrame:
    """Shared KS reduction over a per-(key, distinct value) d1/d2
    count relation: running ECDFs (ties pre-merged, so the rowsBetween
    frame and DuckDB's default RANGE frame agree), per-key totals as
    an unbounded-frame window over the SAME partition/order (ONE
    Window exec — the drift_report single-consumer trick; the previous
    groupBy-totals + broadcast join consumed ``g`` twice, and for
    q_ks_drift_bucketed that re-inlined the whole edge-selection
    subtree per consumer), and the cross-multiplied integer numerator
    max. The one tail of q_ks_drift AND q_ks_drift_bucketed (so the
    documented ref_n·cur_n ≥ 2^63 pre-scaling valve, when it lands,
    lands once)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_key = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    c = g.select(
        key_col,
        F.sum("d1").over(w).alias("c1"),
        F.sum("d2").over(w).alias("c2"),
        F.sum("d1").over(w_key).cast("bigint").alias("ref_n"),
        F.sum("d2").over(w_key).cast("bigint").alias("cur_n"),
    )
    return (
        c.groupBy(key_col, "ref_n", "cur_n")
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("cur_n") - F.col("c2") * F.col("ref_n"))
            )
            .cast("bigint")
            .alias("ks_num")
        )
        .select(key_col, "ks_num", "ref_n", "cur_n")
        .orderBy(key_col)
    )


@query(
    "q_ks_drift",
    oracle="""
        WITH v AS (
            SELECT event_type,
                   CAST(round(value * 1000000) AS BIGINT) AS xm,
                   (hour(ts) < 12) AS w1
            FROM events),
        g AS (
            SELECT event_type, xm,
                   CAST(sum(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS d2
            FROM v GROUP BY 1, 2),
        c AS (
            SELECT event_type,
                   sum(d1) OVER (PARTITION BY event_type
                                 ORDER BY xm) AS c1,
                   sum(d2) OVER (PARTITION BY event_type
                                 ORDER BY xm) AS c2
            FROM g),
        t AS (
            SELECT event_type,
                   CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2
            FROM g GROUP BY 1)
        SELECT c.event_type,
               CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
               n1 AS ref_n, n2 AS cur_n
        FROM c JOIN t ON c.event_type = t.event_type
        GROUP BY 1, n1, n2 ORDER BY 1
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per event_type, EXACT and
    integer end-to-end (completing the drift triptych: chi-square for
    categorical mix, PSI for bucketed shares, KS for the full
    distribution shape): D = max_x |F_ref(x) − F_cur(x)| published as
    the cross-multiplied numerator ks_num = max |c1·n2 − c2·n1| with
    the window sizes — D = ks_num/(ref_n·cur_n) exactly, so there is
    no float anywhere and the oracle is trivially bit-equal. The
    supremum over all reals is attained at sample points, so
    evaluating at each distinct micro-unit value is exact.

    Scale shape: the event-sized data collapses in ONE
    partial-aggregable groupBy to per-(key, distinct value) counts;
    the running ECDF window then runs over that bounded relation
    (distinct values per key, not rows — ties are pre-merged, which
    also makes Spark's rowsBetween and DuckDB's default RANGE frame
    agree). Bound: c·n products stay in int64 while
    ref_n·cur_n < 2^63 (~3e9 rows per window side); beyond that,
    pre-scale counts per shard. The reference's detector flags
    point outliers (app/app3_ML.py:165); this is the
    distribution-level companion a fleet monitor needs."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        _micro_units(F.col("value")).alias("xm"),
        (F.hour("ts") < 12).alias("w1"),
    )
    g = ev.groupBy("event_type", "xm").agg(
        F.sum(F.when(F.col("w1"), 1).otherwise(0)).cast("bigint").alias("d1"),
        F.sum(F.when(F.col("w1"), 0).otherwise(1)).cast("bigint").alias("d2"),
    )
    return _ks_tail(g, "event_type", "xm")


@query(
    "q_ks_drift_bucketed",
    oracle="""
        WITH v AS (
            SELECT event_type, event_id AS rid,
                   CAST(round(value * 1000000) AS BIGINT) AS xm,
                   (hour(ts) < 12) AS w1
            FROM events),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY xm, rid) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v WHERE w1),
        e AS (
            SELECT event_type,
                   min(xm) AS em,
                   max(CASE WHEN rn - 1 = (25 * (n - 1)) // 100
                       THEN xm END) AS e0,
                   max(CASE WHEN rn - 1 = (50 * (n - 1)) // 100
                       THEN xm END) AS e1,
                   max(CASE WHEN rn - 1 = (75 * (n - 1)) // 100
                       THEN xm END) AS e2
            FROM r GROUP BY 1),
        vb AS (
            SELECT v.event_type,
                   CASE WHEN v.xm >= e2 THEN e2
                        WHEN v.xm >= e1 THEN e1
                        WHEN v.xm >= e0 THEN e0
                        ELSE em END AS xr,
                   v.w1
            FROM v JOIN e USING (event_type)),
        g AS (
            SELECT event_type, xr,
                   CAST(sum(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS d2
            FROM vb GROUP BY 1, 2),
        c AS (
            SELECT event_type,
                   sum(d1) OVER (PARTITION BY event_type
                                 ORDER BY xr) AS c1,
                   sum(d2) OVER (PARTITION BY event_type
                                 ORDER BY xr) AS c2
            FROM g),
        t AS (
            SELECT event_type,
                   CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2
            FROM g GROUP BY 1)
        SELECT c.event_type,
               CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
               n1 AS ref_n, n2 AS cur_n
        FROM c JOIN t ON c.event_type = t.event_type
        GROUP BY 1, n1, n2 ORDER BY 1
    """,
)
def q_ks_drift_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed two-sample KS drift, putting the BUCKET-GRID ALGEBRA
    itself under the hash gate. Both windows fold onto the
    reference window's 4-bucket rank grid — interior edges are the
    EXACT reference values at multiset ranks (b·(n−1)) div 4
    (exact_group_quantiles at 25/50/75, whose integer rank arithmetic
    (q·(n−1)) div 100 coincides with the bucket grid for these q),
    the per-key reference minimum is the floor representative, and a
    value maps to the LARGEST edge ≤ it (below-min clamps to min) —
    then the standard cross-multiplied integer KS runs over the
    ≤ 4-value domain. Statistic contract: this is the KS of the
    BUCKETED distributions (conservative; the raw statistic is
    q_ks_drift). Scale shape: counts-sized quantile selections + ONE
    broadcast-edge bucketing pass + a ≤ 4-rows-per-key ECDF, with a
    full DuckDB replay of edges → representative
    mapping → ECDF → numerator."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("rid"),
        _micro_units(F.col("value")).alias("xm"),
        (F.hour("ts") < 12).alias("w1"),
    )
    ref = ev.filter(F.col("w1"))
    # The floor representative (per-key reference MIN) is the
    # rank-0 order statistic — (0·(n−1)) div 100 = 0 — so it rides the
    # SAME one-scan multi-quantile selection as the interior edges
    # instead of a separate ref scan + groupBy(min) + edges⋈em join
    # (plan: 3 scans of the reference → 2, one join gone; identical
    # values by definition of the (value, rid) total order).
    qs = exact_group_quantiles(ref, "event_type", "xm", "rid", (0, 25, 50, 75))
    grid = qs.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("q_pct") == q, F.col("q_value"))).alias(name)
            for q, name in ((0, "em"), (25, "e0"), (50, "e1"), (75, "e2"))
        ]
    )
    rep = (
        F.when(F.col("xm") >= F.col("e2"), F.col("e2"))
        .when(F.col("xm") >= F.col("e1"), F.col("e1"))
        .when(F.col("xm") >= F.col("e0"), F.col("e0"))
        .otherwise(F.col("em"))
    )
    vb = ev.join(F.broadcast(grid), "event_type").select(
        "event_type", rep.alias("xr"), "w1"
    )
    g = vb.groupBy("event_type", "xr").agg(
        F.sum(F.when(F.col("w1"), 1).otherwise(0)).cast("bigint").alias("d1"),
        F.sum(F.when(F.col("w1"), 0).otherwise(1)).cast("bigint").alias("d2"),
    )
    return _ks_tail(g, "event_type", "xr")


def _emd_u_expr(num_col: str, den_col: str):
    """floor(2²⁰·num/den) over DECIMAL(38,0) columns (num ≤ den), as
    base-2¹⁰ long division so the largest intermediate is den·2¹⁰,
    not num·2²⁰ — the naive single multiply overflowed decimal(38,0)
    once Σterms passed ~9.6e31 and Spark's non-ANSI overflow-null was
    swallowed into a silent emd_u=0, i.e. maximal drift published as
    NO drift. Exact while den·2¹⁰ < 10³⁸
    (n1·n2·range ≤ ~9.7e34); beyond that the null PROPAGATES — a loud
    unknown, never a silent zero. den = 0 (empty window / zero range)
    publishes 0. Shared by emd_drift and drift_report so the pinned
    standalone == fused equality holds by construction; the identity
    q·2²⁰ + hi·2¹⁰ + lo == floor(num·2²⁰/den) keeps the streaming
    twins' exact Python-int path unchanged."""
    split = (
        f"({num_col} div {den_col}) * 1048576"
        f" + ((({num_col} % {den_col}) * 1024) div {den_col}) * 1024"
        f" + (((({num_col} % {den_col}) * 1024) % {den_col}) * 1024)"
        f" div {den_col}"
    )
    # Two explicit WHEN branches and NO otherwise: a den that itself
    # overflowed decimal(38,0) (n1·n2·range ≥ 1e38 under non-ANSI
    # mode) arrives as NULL, matches neither branch, and the NULL
    # propagates — the .otherwise(0) this replaced would have
    # published emd_u=0 (no drift) for exactly that overflow case.
    return F.when(F.col(den_col) > 0, F.expr(split)).when(
        F.col(den_col) == 0, F.lit(0).cast("bigint")
    )


# The DuckDB replay of _emd_u_expr (HUGEINT internals; overflow there
# ERRORS loudly rather than nulling). {n}/{d} are the num/den columns.
# Mirrors the Spark side exactly: den = 0 publishes 0, den NULL
# propagates NULL (no COALESCE — that would turn an unknown into a
# silent "no drift").
_EMD_U_SQL = (
    "CAST(CASE WHEN {d} > 0 THEN"
    " ({n} // {d}) * 1048576"
    " + ((({n} % {d}) * 1024) // {d}) * 1024"
    " + (((({n} % {d}) * 1024) % {d}) * 1024) // {d}"
    " WHEN {d} = 0 THEN 0"
    " END AS BIGINT)"
)


def emd_drift(
    df: DataFrame,
    key_col: str,
    value_col: str,
    flag_col: str,
) -> DataFrame:
    """Exact 1-D earth-mover's (Wasserstein-1) drift per key, integer
    end-to-end (the fourth drift statistic: chi² sees the
    category mix, PSI coarse bucket shares, KS the single worst ECDF
    gap; EMD integrates the WHOLE gap, so a broad small shift that KS
    underweights and PSI's five buckets miss still scores).

    W₁ between the two empirical distributions is ∫|F₁−F₂| dx; both
    ECDFs are step functions constant between consecutive pooled
    distinct values, so the integral is exactly
    Σᵢ |F₁(xᵢ)−F₂(xᵢ)|·(xᵢ₊₁−xᵢ). Published normalized:

        emd_u = floor(2²⁰ · W₁ / (max−min))
              = (Σ |c1·n2 − c2·n1|·gap) · 2²⁰ div (n1·n2·(max−min))

    — in [0, 2²⁰] (|F₁−F₂| ≤ 1), a dimensionless drift score. Every
    product runs in DECIMAL(38,0) (the oracle in HUGEINT) and the
    final reduction is :func:`_emd_u_expr`'s base-2¹⁰ long division,
    so there is NO float anywhere: exact while n1·n2·range·2¹⁰ < 10³⁸
    (~9.7e34 — e.g. two 10⁹-row windows over a 9.7e16 micro-unit
    range), and beyond that bound the result is NULL, never a silent
    zero. Unlike a raw-integer publication this never outgrows
    BIGINT. Keys with an empty reference window or zero value range
    publish 0.

    Scale shape: identical to q_ks_drift — ONE partial-aggregable
    groupBy collapses events to per-(key, distinct value) counts, the
    ECDF/lead windows then run over that bounded relation (ties
    pre-merged, so Spark's rowsBetween and DuckDB's RANGE agree), and
    the per-key reduction is counts-sized. The decimal term column is
    bounded by distinct values per key, never event rows."""
    g = df.groupBy(key_col, value_col).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("bigint")
        .alias("d2"),
    )
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy(key_col).orderBy(value_col)
    w_key = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    dec = "decimal(38,0)"
    c = g.select(
        key_col,
        value_col,
        F.sum("d1").over(w_cum).alias("c1"),
        F.sum("d2").over(w_cum).alias("c2"),
        F.sum("d1").over(w_key).alias("n1"),
        F.sum("d2").over(w_key).alias("n2"),
        F.max(value_col).over(w_key).alias("vmax"),
        F.min(value_col).over(w_key).alias("vmin"),
        F.coalesce(
            F.lead(value_col).over(w_lead) - F.col(value_col), F.lit(0)
        ).alias("gap"),
    )
    term = (
        F.abs(
            F.col("c1").cast(dec) * F.col("n2").cast(dec)
            - F.col("c2").cast(dec) * F.col("n1").cast(dec)
        )
        * F.col("gap").cast(dec)
    )
    s = c.groupBy(key_col, "n1", "n2", "vmax", "vmin").agg(
        F.sum(term).alias("num")
    )
    denom = (
        F.col("n1").cast(dec)
        * F.col("n2").cast(dec)
        * (F.col("vmax") - F.col("vmin")).cast(dec)
    )
    return s.select(
        key_col,
        F.col("n1").alias("ref_n"),
        F.col("n2").alias("cur_n"),
        F.col("num").alias("_num"),
        denom.alias("_den"),
    ).select(
        key_col,
        "ref_n",
        "cur_n",
        _emd_u_expr("_num", "_den").alias("emd_u"),
    )


_EMD_ORACLE_PUBLISH = _EMD_U_SQL.format(
    n="num", d="(CAST(n1 AS HUGEINT) * n2 * rng)"
)


@query(
    "q_emd_drift",
    oracle=f"""
        WITH v AS (
            SELECT event_type,
                   CAST(round(value * 1000000) AS BIGINT) AS xm,
                   (hour(ts) < 12) AS w1
            FROM events),
        g AS (
            SELECT event_type, xm,
                   CAST(sum(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS d2
            FROM v GROUP BY 1, 2),
        c AS (
            SELECT event_type, xm,
                   sum(d1) OVER (PARTITION BY event_type
                                 ORDER BY xm) AS c1,
                   sum(d2) OVER (PARTITION BY event_type
                                 ORDER BY xm) AS c2,
                   lead(xm) OVER (PARTITION BY event_type
                                  ORDER BY xm) AS nxt
            FROM g),
        t AS (
            SELECT event_type,
                   CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2,
                   CAST(max(xm) - min(xm) AS BIGINT) AS rng
            FROM g GROUP BY 1),
        s AS (
            SELECT c.event_type, n1, n2, rng,
                   sum(CAST(abs(CAST(c1 AS HUGEINT) * n2
                               - CAST(c2 AS HUGEINT) * n1) AS HUGEINT)
                       * CAST(COALESCE(nxt - xm, 0) AS HUGEINT)) AS num
            FROM c JOIN t ON c.event_type = t.event_type
            GROUP BY 1, 2, 3, 4)
        SELECT event_type, n1 AS ref_n, n2 AS cur_n,
               {_EMD_ORACLE_PUBLISH} AS emd_u
        FROM s ORDER BY 1
    """,
)
def q_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover's drift per event_type over the morning/afternoon
    window split — the Wasserstein-1 companion to q_ks_drift (same
    counts relation, same exact-integer discipline; see
    :func:`emd_drift`). The reference flags point outliers one event
    at a time (app/app3_ML.py:165); W₁ is the distribution-level
    "how far did it move" number next to KS's "worst single gap"."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        _micro_units(F.col("value")).alias("xm"),
        (F.hour("ts") < 12).alias("w1"),
    )
    return emd_drift(ev, "event_type", "xm", "w1").orderBy("event_type")


@query(
    "q_drift_report",
    oracle=f"""
        WITH cc AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END)
                        AS BIGINT) AS o1,
                   CAST(sum(CASE WHEN hour(ts) < 12 THEN 0 ELSE 1 END)
                        AS BIGINT) AS o2
            FROM events GROUP BY 1),
        ct AS (
            SELECT CAST(sum(o1) AS BIGINT) AS n1,
                   CAST(sum(o2) AS BIGINT) AS n2
            FROM cc),
        chi AS (
            SELECT event_type, o1, o2,
                   CAST(floor(
                       (CAST(o1*n2 - o2*n1 AS DOUBLE)
                        * CAST(o1*n2 - o2*n1 AS DOUBLE))
                       * CAST(n1 + n2 AS DOUBLE)
                       / ((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                          * CAST(o1 + o2 AS DOUBLE))
                       * 1024.0) AS BIGINT) AS chi2_mil
            FROM cc, ct),
        v AS (
            SELECT event_type, event_id AS rid,
                   CAST(round(value * 1000000) AS BIGINT) AS xm,
                   (hour(ts) < 12) AS w1
            FROM events),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY xm, rid) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v WHERE w1),
        e AS (
            SELECT event_type,
                   max(CASE WHEN rn - 1 = (20 * (n - 1)) // 100
                       THEN xm END) AS e0,
                   max(CASE WHEN rn - 1 = (40 * (n - 1)) // 100
                       THEN xm END) AS e1,
                   max(CASE WHEN rn - 1 = (60 * (n - 1)) // 100
                       THEN xm END) AS e2,
                   max(CASE WHEN rn - 1 = (80 * (n - 1)) // 100
                       THEN xm END) AS e3
            FROM r GROUP BY 1),
        b AS (
            SELECT v.event_type, v.w1,
                   (CASE WHEN v.xm > e0 THEN 1 ELSE 0 END
                  + CASE WHEN v.xm > e1 THEN 1 ELSE 0 END
                  + CASE WHEN v.xm > e2 THEN 1 ELSE 0 END
                  + CASE WHEN v.xm > e3 THEN 1 ELSE 0 END) AS bk
            FROM v JOIN e USING (event_type)),
        g AS (
            SELECT event_type, bk,
                   CAST(sum(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
                   CAST(sum(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS o2
            FROM b GROUP BY 1, 2),
        grid AS (
            SELECT event_type, t.bk
            FROM e, UNNEST(generate_series(0, 4)) AS t(bk)),
        gf AS (
            SELECT grid.event_type, grid.bk,
                   COALESCE(o1, 0) AS o1, COALESCE(o2, 0) AS o2
            FROM grid LEFT JOIN g
              ON grid.event_type = g.event_type AND grid.bk = g.bk),
        tt AS (
            SELECT event_type,
                   CAST(sum(o1) AS BIGINT) AS rn_,
                   CAST(sum(o2) AS BIGINT) AS cn_
            FROM gf GROUP BY 1),
        term AS (
            SELECT gf.event_type, rn_, cn_,
                   CAST(floor(
                       (CAST(o2 + 1 AS DOUBLE) / CAST(cn_ + 5 AS DOUBLE)
                        - CAST(o1 + 1 AS DOUBLE) / CAST(rn_ + 5 AS DOUBLE))
                       * ln((CAST(o2 + 1 AS DOUBLE)
                             / CAST(o1 + 1 AS DOUBLE))
                            * (CAST(rn_ + 5 AS DOUBLE)
                               / CAST(cn_ + 5 AS DOUBLE)))
                       * 1048576.0) AS BIGINT) AS tu
            FROM gf JOIN tt USING (event_type)),
        psi AS (
            SELECT event_type, CAST(sum(tu) AS BIGINT) AS psi_u
            FROM term GROUP BY 1),
        kg AS (
            SELECT event_type, xm,
                   CAST(sum(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS d2
            FROM v GROUP BY 1, 2),
        kc AS (
            SELECT event_type, xm,
                   sum(d1) OVER (PARTITION BY event_type
                                 ORDER BY xm) AS c1,
                   sum(d2) OVER (PARTITION BY event_type
                                 ORDER BY xm) AS c2,
                   lead(xm) OVER (PARTITION BY event_type
                                  ORDER BY xm) AS nxt
            FROM kg),
        kt AS (
            SELECT event_type,
                   CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2,
                   CAST(max(xm) - min(xm) AS BIGINT) AS rng
            FROM kg GROUP BY 1),
        ksagg AS (
            SELECT kc.event_type, n1, n2, rng,
                   CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
                   sum(CAST(abs(CAST(c1 AS HUGEINT) * n2
                               - CAST(c2 AS HUGEINT) * n1) AS HUGEINT)
                       * CAST(COALESCE(nxt - xm, 0) AS HUGEINT)) AS num
            FROM kc JOIN kt ON kc.event_type = kt.event_type
            GROUP BY 1, 2, 3, 4),
        ks AS (
            SELECT event_type, ks_num,
                   {_EMD_ORACLE_PUBLISH} AS emd_u
            FROM ksagg)
        SELECT chi.event_type,
               chi.o1 AS ref_n, chi.o2 AS cur_n,
               chi.chi2_mil, psi.psi_u, ks.ks_num, ks.emd_u
        FROM chi
        JOIN psi ON chi.event_type = psi.event_type
        JOIN ks ON chi.event_type = ks.event_type
        ORDER BY 1
    """,
)
def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-stop drift monitor: per event_type, all four drift
    statistics over the same morning/afternoon window split —
    chi-square contribution (category mix), population stability
    index (bucketed value shares), the exact Kolmogorov–Smirnov
    numerator (worst single ECDF gap), and the exact earth-mover's
    score (integrated ECDF gap) — from ONE scan of events. The fused
    :func:`drift_report` derives all four from a single per-(key,
    distinct value) count relation, bit-equal to the composed versions
    (same oracles). The reference's detector flags point outliers one
    event at a time (app/app3_ML.py:165); a fleet monitor needs exactly
    this distribution-level quartet next to it."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        _micro_units(F.col("value")).alias("xm"),
        (F.hour("ts") < 12).alias("w1"),
    )
    return drift_report(ev, "event_type", "xm", "w1").orderBy("event_type")




def drift_report(
    df: DataFrame,
    key_col: str,
    value_col: str,
    flag_col: str,
    quantiles: tuple[int, ...] = (20, 40, 60, 80),
) -> DataFrame:
    """Fused chi²/PSI/KS/EMD drift quartet from ONE pass over ``df``
    (composing the standalone queries would pay the event-sized scan
    + aggregation once per statistic).
    Single-consumer pipeline — every relation below is consumed
    exactly once, so the plan has exactly ONE FileScan of the input at
    ANY scale (pinned in tests/test_plans.py), with no materialization
    and no plan-build jobs:

        scan → groupBy(key, value) → (d1, d2)           # event-sized
             → per-key ECDF window (c1, c2, nt1, nt2)   # counts-sized
             → ONE per-key aggregation                  # |keys| rows
             → partitionless-window totals + arithmetic # bounded

    The trick that collapses PSI into the single aggregation: bucket
    counts against the reference quantile edges are ECDF DIFFERENCES
    at the edge rows — the edge for rank k is the row whose cumulative
    range [c1−d1, c1) contains k, and capturing (c1, c2) AT those four
    rows yields every bucket count as ce[b] − ce[b−1] (duplicate edges
    give empty buckets for free). Each statistic publishes through the
    EXACT op sequence of its standalone oracle-green query over
    engine-identical integers, so the fused report hashes identically:
    chi² via the q_category_drift pinned double chain (global totals
    from a partitionless window over the bounded |keys| relation —
    whitelisted, replacing the one-row-broadcast BNLJ), PSI via the
    psi_term_u chain inlined per bucket (five floored BIGINTs added —
    order-free), KS via the cross-multiplied integer numerator, EMD
    via the emd_drift decimal chain (gap = one more window function
    over the identical partition/order — no new exchange; the term
    sum and integral division are order-free integers).
    Keys with no reference rows are excluded after the totals window
    (like psi_drift; their counts still feed the chi² totals)."""
    n_edges = len(quantiles)
    nb = n_edges + 1
    g = df.groupBy(key_col, value_col).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("bigint")
        .alias("d2"),
    )
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_key = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_lead = Window.partitionBy(key_col).orderBy(value_col)
    ecdf = g.select(
        key_col,
        value_col,
        "d1",
        "d2",
        F.sum("d1").over(w_cum).alias("c1"),
        F.sum("d2").over(w_cum).alias("c2"),
        F.sum("d1").over(w_key).alias("nt1"),
        F.sum("d2").over(w_key).alias("nt2"),
        F.coalesce(
            F.lead(value_col).over(w_lead) - F.col(value_col), F.lit(0)
        ).alias("_gap"),
    )
    _dec = "decimal(38,0)"
    _emd_term = (
        F.abs(
            F.col("c1").cast(_dec) * F.col("nt2").cast(_dec)
            - F.col("c2").cast(_dec) * F.col("nt1").cast(_dec)
        )
        * F.col("_gap").cast(_dec)
    )
    aggs = [
        F.max("nt1").alias("o1"),
        F.max("nt2").alias("o2"),
        F.max(
            F.abs(F.col("c1") * F.col("nt2") - F.col("c2") * F.col("nt1"))
        )
        .cast("bigint")
        .alias("ks_num"),
        # EMD pieces (the quartet's fourth statistic rides
        # the same single pass: gap is one more window function over
        # the identical partition/order, no new exchange)
        F.sum(_emd_term).alias("_emd_num"),
        F.max(value_col).alias("_vmax"),
        F.min(value_col).alias("_vmin"),
    ]
    for i, q in enumerate(quantiles):
        # 0-based reference rank of edge i; the (value, rid) order's
        # rank-k element depends only on value multiplicities, so the
        # cumulative range test selects the identical integer edge
        # exact_group_quantiles would
        kq = F.expr(f"({int(q)} * (nt1 - 1)) div 100")
        hit = ((F.col("c1") - F.col("d1")) <= kq) & (kq < F.col("c1"))
        aggs.append(F.max(F.when(hit, F.col("c1"))).alias(f"_ce1_{i}"))
        aggs.append(F.max(F.when(hit, F.col("c2"))).alias(f"_ce2_{i}"))
    per_key = ecdf.groupBy(key_col).agg(*aggs)

    # global window totals over the bounded |keys| relation — the
    # q_category_drift one-row broadcast, expressed as a partitionless
    # window so per_key keeps a single consumer (bounded cardinality:
    # whitelisted in tests/test_plans.py)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n1 = F.sum("o1").over(w_all)
    n2 = F.sum("o2").over(w_all)
    d = (F.col("o1") * n2 - F.col("o2") * n1).cast("double")
    chi2 = (
        d * d
        * (n1 + n2).cast("double")
        / (
            (n1.cast("double") * n2.cast("double"))
            * (F.col("o1") + F.col("o2")).cast("double")
        )
    )

    # PSI: bucket counts as ECDF differences at the edge rows, then
    # the psi_term_u pinned chain inlined per bucket (five floored
    # BIGINTs added — same integers, order-free sum)
    def _bucket_count(ce_prefix: str, total) -> list:
        cs = [F.lit(0)] + [
            F.col(f"{ce_prefix}_{i}") for i in range(n_edges)
        ] + [total]
        return [cs[b + 1] - cs[b] for b in range(nb)]

    o1b = _bucket_count("_ce1", F.col("o1"))
    o2b = _bucket_count("_ce2", F.col("o2"))
    rb_ = (F.col("o1") + nb).cast("double")
    cb_ = (F.col("o2") + nb).cast("double")
    psi_u = None
    for b in range(nb):
        cp = (o2b[b] + 1).cast("double")
        rp = (o1b[b] + 1).cast("double")
        term = F.floor(
            (cp / cb_ - rp / rb_)
            * F.log((cp / rp) * (rb_ / cb_))
            * F.lit(1048576.0)
        ).cast("bigint")
        psi_u = term if psi_u is None else psi_u + term

    _emd_den = (
        F.col("o1").cast(_dec)
        * F.col("o2").cast(_dec)
        * (F.col("_vmax") - F.col("_vmin")).cast(_dec)
    )
    return (
        per_key.select(
            key_col,
            F.col("o1").alias("ref_n"),
            F.col("o2").alias("cur_n"),
            F.floor(chi2 * F.lit(1024.0)).cast("bigint").alias("chi2_mil"),
            psi_u.cast("bigint").alias("psi_u"),
            "ks_num",
            F.col("_emd_num").alias("_en"),
            _emd_den.alias("_ed"),
        )
        .select(
            key_col,
            "ref_n",
            "cur_n",
            "chi2_mil",
            "psi_u",
            "ks_num",
            _emd_u_expr("_en", "_ed").alias("emd_u"),
        )
        .filter(F.col("ref_n") > 0)
    )


def holt_smooth(
    df: DataFrame,
    key_col: str,
    slot_col: str,
    value_col: str,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key over an
    integer series, engine-portable by construction (the
    forecasting companion to the anomaly/drift family; the reference
    refits its detector per window, app/app3_ML.py:165, with no
    forward view at all).

    Standard recursion with DYADIC constants α=1/2, β=1/4 — every
    multiply is exact in IEEE doubles, so the only rounding is the
    additions, and those are identical correctly-rounded ops in any
    engine as long as the PARENTHESIZATION matches (the pinned-chain
    oracle discipline, sequential here because smoothing is
    inherently ordered — one state chain per key, computed in
    arrival order, never a parallel reduction):

        l₁ = x₁;  b₁ = x₂ − x₁
        lₜ = 0.5·xₜ + 0.5·(lₜ₋₁ + bₜ₋₁)
        bₜ = 0.25·(lₜ − lₜ₋₁) + 0.75·bₜ₋₁       (t = 2..n)

    Published per key (n ≥ 2 slots): n_slots, floor(level),
    floor(trend·2²⁰), floor(level+trend) — the one-step-ahead
    forecast. Inputs must be exact integers < 2⁵³ (micro-unit hourly
    sums) so the float conversion itself is lossless.

    Scale shape: the smoothing runs over the per-(key, slot)
    AGGREGATED series — bounded by slots, not events — inside one
    applyInPandas per key; the event-sized work is the one
    partial-aggregable groupBy that builds the series. The oracle
    replays the identical chain as a DuckDB recursive CTE."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType(), False),
            T.StructField("n_slots", T.LongType(), False),
            T.StructField("level_i", T.LongType(), False),
            T.StructField("trend_u", T.LongType(), False),
            T.StructField("forecast_i", T.LongType(), False),
        ]
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(slot_col, kind="mergesort")
        xs = [float(v) for v in pdf[value_col]]
        if len(xs) < 2:
            return pd.DataFrame(
                columns=[key_col, "n_slots", "level_i", "trend_u",
                         "forecast_i"]
            )
        level = xs[0]
        trend = xs[1] - xs[0]
        for x in xs[1:]:
            new_level = 0.5 * x + 0.5 * (level + trend)
            trend = 0.25 * (new_level - level) + 0.75 * trend
            level = new_level
        import math as _math

        return pd.DataFrame(
            [
                (
                    pdf[key_col].iloc[0],
                    len(xs),
                    int(_math.floor(level)),
                    int(_math.floor(trend * 1048576.0)),
                    int(_math.floor(level + trend)),
                )
            ],
            columns=[key_col, "n_slots", "level_i", "trend_u", "forecast_i"],
        )

    # Null measurements are dropped BEFORE the per-slot aggregation: a
    # (key, slot) group whose values were all NULL would otherwise
    # deliver a NaN _x to pandas and math.floor(NaN) would kill the
    # whole applyInPandas stage. Dropping the rows
    # matches SQL sum() semantics for mixed slots and degrades an
    # all-null slot to "slot absent" instead of a job crash.
    series = df.filter(F.col(value_col).isNotNull()).groupBy(
        key_col, slot_col
    ).agg(F.sum(value_col).cast("bigint").alias("_x"))
    return series.select(key_col, slot_col, "_x").groupBy(
        key_col
    ).applyInPandas(
        lambda p: _fit(p.rename(columns={"_x": value_col})), out_schema
    )


@query(
    "q_holt_forecast",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS slot,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type, x,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY slot) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM hourly),
        rec AS (
            WITH RECURSIVE r AS (
                SELECT a.event_type, CAST(1 AS BIGINT) AS t,
                       CAST(a.x AS DOUBLE) AS l,
                       CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE) AS tr
                FROM s a JOIN s b
                  ON a.event_type = b.event_type
                 AND a.rn = 1 AND b.rn = 2
                UNION ALL
                SELECT r.event_type, r.t + 1,
                       0.5 * CAST(s.x AS DOUBLE) + 0.5 * (r.l + r.tr),
                       0.25 * ((0.5 * CAST(s.x AS DOUBLE)
                                + 0.5 * (r.l + r.tr)) - r.l)
                           + 0.75 * r.tr
                FROM r JOIN s ON s.event_type = r.event_type
                             AND s.rn = r.t + 1
            ) SELECT * FROM r),
        fin AS (
            SELECT rec.event_type, rec.l, rec.tr, s.n
            FROM rec JOIN s ON s.event_type = rec.event_type AND s.rn = 1
            WHERE rec.t = s.n)
        SELECT event_type,
               CAST(n AS BIGINT) AS n_slots,
               CAST(floor(l) AS BIGINT) AS level_i,
               CAST(floor(tr * 1048576.0) AS BIGINT) AS trend_u,
               CAST(floor(l + tr) AS BIGINT) AS forecast_i
        FROM fin ORDER BY 1
    """,
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of each event_type's hourly
    micro-unit volume, with the one-step-ahead forecast — see
    :func:`holt_smooth` for the dyadic-constant portability argument.
    The oracle replays the identical sequential chain as a DuckDB
    recursive CTE, so level/trend/forecast hash bit-equal: a
    grouped-map (applyInPandas) operator under the full oracle gate,
    not just a rows-only check."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("slot"),
        _micro_units(F.col("value")).alias("xm"),
    )
    return holt_smooth(ev, "event_type", "slot", "xm").orderBy("event_type")
