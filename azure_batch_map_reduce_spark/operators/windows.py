"""Window functions: ranking, analytic (lag/lead/first/last), frames.

Scale notes: every window here partitions by a real key (custkey,
nationkey) — never an empty/global window, which would funnel 100 TB
through one task. Orderings include a unique tiebreak column so results
are deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables, rebalance_for_cpu
from azure_batch_map_reduce_spark.operators.ranks import (
    _idiv,
    bounded_order,
    distributed_row_number,
    half_up_ratio,
    ntile_from_rank,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import query


@query(
    "q30_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def q30_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number ≤ k — the distributed
    top-k-per-group idiom (one shuffle on the group key)."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q31_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    WHERE o_custkey < 100
    """,
    tags=("window", "frame"),
)
def q31_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum with an explicit ROWS frame."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.filter(F.col("o_custkey") < 100).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "q32_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(date_diff('day',
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
               o_orderdate) AS INTEGER)               AS days_since_prev,
           lead(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_orderkey
    FROM orders
    WHERE o_custkey < 50
    """,
    tags=("window", "analytic"),
)
def q32_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: inter-order gap in days and the next order."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return orders.filter(F.col("o_custkey") < 50).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "q33_moving_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS moving_spend,
           CAST(count(*) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS frame_n
    FROM orders
    WHERE o_custkey < 100
    """,
    tags=("window", "frame"),
)
def q33_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving sum + count over a bounded ROWS frame (3 preceding +
    current). Sum (not avg): summed 2-decimal prices stay on the cent
    grid, so round(…,2) is oracle-exact; a divided average lands on
    quarter-cent halves where Spark/DuckDB rounding could differ."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-3, Window.currentRow)
    )
    return orders.filter(F.col("o_custkey") < 100).select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("moving_spend"),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )


@query(
    "q34_rank_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(rank()       OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           CAST(ntile(4)     OVER w AS INTEGER) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    tags=("window", "ranking"),
)
def q34_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile per nation, tie-broken on the unique key
    so ntile assignment is deterministic."""
    cust = load_tables(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "q35_first_last_nth",
    oracle="""
    SELECT DISTINCT c_nationkey,
           first_value(c_custkey) OVER w AS richest_cust,
           last_value(c_custkey)  OVER w AS poorest_cust,
           nth_value(c_custkey, 2) OVER w AS second_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "analytic"),
)
def q35_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over a full-partition frame, collapsed to one
    row per nation."""
    cust = load_tables(spark, sf_dir)["customer"]
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        cust.select(
            "c_nationkey",
            F.first("c_custkey").over(w).alias("richest_cust"),
            F.last("c_custkey").over(w).alias("poorest_cust"),
            F.nth_value("c_custkey", 2).over(w).alias("second_richest"),
        )
        .distinct()
    )


@query(
    "q36_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           count(*) OVER (
               ORDER BY o_totalprice
               RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING) AS n_similar_price
    FROM orders
    WHERE o_custkey < 20
    """,
    tags=("window", "frame"),
)
def q36_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a value (±1000 of each order's price). Global
    window is acceptable only because the input is pre-filtered tiny; at
    scale this would partition by a bucket key first."""
    orders = load_tables(spark, sf_dir)["orders"]
    # Python Window.rangeBetween only takes integer offsets; the SQL
    # window form supports typed (double) range boundaries.
    return orders.filter(F.col("o_custkey") < 20).selectExpr(
        "o_orderkey",
        "o_totalprice",
        "count(*) OVER (ORDER BY o_totalprice RANGE BETWEEN 1000.0 PRECEDING"
        " AND 1000.0 FOLLOWING) AS n_similar_price",
    )


@query(
    "q88_event_transitions",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY date_trunc('microseconds', ts),
                                               event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("window", "sequence", "events"),
)
def q88_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (first-order Markov counts): for each
    user's time-ordered stream, count (event_type → next_event_type)
    pairs via ``lead`` over a per-user window. Ordering tie-breaks on
    ``event_id`` AFTER the µs-truncated timestamp so Spark (µs) and the
    ns-native oracle sort identically. Per-user windows hash-partition
    across executors (never a global sort); the transition rollup is a
    25-key aggregate, all map-side combined."""
    events = load_tables(spark, sf_dir)["events"]
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = events.select(
        "user_id", "event_type", F.lead("event_type").over(win).alias("next_type")
    )
    return (
        o.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q89_funnel_conversion",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN date_trunc('microseconds', ts) END)   AS s_ts,
               min(CASE WHEN event_type = 'view'
                        THEN date_trunc('microseconds', ts) END)   AS v_ts,
               min(CASE WHEN event_type = 'purchase'
                        THEN date_trunc('microseconds', ts) END)   AS p_ts
        FROM events GROUP BY user_id
    )
    SELECT count(*)                                          AS n_users,
           count(s_ts)                                       AS n_signed_up,
           count(CASE WHEN v_ts > s_ts THEN 1 END)           AS n_viewed_after,
           count(CASE WHEN p_ts > v_ts AND v_ts > s_ts THEN 1 END)
                                                             AS n_converted
    FROM u
    """,
    tags=("aggregation", "funnel", "events"),
)
def q89_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis signup → first view → first purchase: per user,
    the earliest timestamp of each stage (conditional min — one
    partial+final aggregation, no self-joins), then one global rollup
    counting users that progressed through each stage *in order*. The
    classic N-way self-join formulation would shuffle the events table
    three times; conditional aggregation does it in one pass and scales
    to any number of stages."""
    events = load_tables(spark, sf_dir)["events"]
    stage = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    u = events.groupBy("user_id").agg(
        stage("signup").alias("s_ts"),
        stage("view").alias("v_ts"),
        stage("purchase").alias("p_ts"),
    )
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("s_ts").alias("n_signed_up"),
        F.count(F.when(F.col("v_ts") > F.col("s_ts"), 1)).alias("n_viewed_after"),
        F.count(
            F.when((F.col("p_ts") > F.col("v_ts")) & (F.col("v_ts") > F.col("s_ts")), 1)
        ).alias("n_converted"),
    )


@query(
    "q104_gapfill_resample",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT et.event_type, d.hour
        FROM (SELECT DISTINCT event_type FROM events) et
        CROSS JOIN (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ) d
    ),
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n,
               sum(CAST(round(value * 1000000) AS BIGINT)) // count(*) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
           CAST(last_value(h.v IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT
           ) AS avg_value_ffill_micro
    FROM grid g
    LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour
    """,
    tags=("window", "timeseries", "gapfill", "resample"),
)
def q104_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: hourly event counts per
    event_type on a continuous hour grid (global min..max), missing
    hours zero-filled and the hourly mean value forward-filled
    (last-observation-carried-forward) — the standard shape for turning
    an irregular event stream into a regular training series.

    The hourly mean is carried in exact integer MICRO-units
    (sum of round(value·10⁶) div count): a float avg() differs across
    engines in accumulation order, and even a bit-identical mean can
    sit close enough to a 6-decimal half-boundary that Spark's
    BigDecimal HALF_UP and DuckDB's scaled-multiply round() disagree
    (exactly one grid row flipped at sf0.1). Integer floor-division is
    the q189 cents discipline at micro grain.

    Scale posture: the only data-sized shuffle is the (event_type, hour)
    aggregation, which Catalyst plans partial→final. The hour grid is
    sequence()+explode over a 1-row bounds aggregate cross-joined with
    the distinct type set. The grid is the preserved side of the outer
    join so it cannot be the broadcast build side — instead the *post-
    aggregation* hourly table is broadcast: after the agg it is bounded
    by (types × hours), metadata-sized no matter the input volume. The
    forward-fill window scans the *grid*, not the events, so its cost is
    O(types × hours) regardless of data volume; at 100 TB the grain
    count, not the row count, bounds it.
    """
    ev = load_tables(spark, sf_dir)["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "sum(cast(round(value * 1000000) as bigint)) div count(1)"
        ).alias("v"),
    )
    ffill = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        grid
        .join(F.broadcast(hourly), ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("v", ignorenulls=True)
            .over(ffill)
            .cast("long")
            .alias("avg_value_ffill_micro"),
        )
    )


@query(
    "q108_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id, value,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           round(sum(value * dur_us) / sum(dur_us), 6) AS twap,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM seq
    WHERE dur_us IS NOT NULL
    GROUP BY user_id
    HAVING sum(dur_us) > 0
    """,
    tags=("window", "timeseries", "twap"),
)
def q108_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value`: each observation is
    weighted by how long it was current (microseconds until the user's
    next event; the open-ended last observation carries no weight) —
    the standard irregular-sampling average for sensor/price streams,
    where a plain avg() over-counts bursts.

    Scale posture: one window (partitioned by user_id, never global)
    to fetch the next-event timestamp, then a partial→final agg on the
    same key — AQE can even reuse the window's hash partitioning for
    the groupBy, so the whole thing is a single user_id shuffle.
    Ordering includes event_id as tiebreak so duplicate timestamps
    yield deterministic durations under any partitioning.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id",
        "value",
        (F.lead(us).over(w) - us).alias("dur_us"),
    )
    return (
        seq.where(F.col("dur_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .where(F.col("twap").isNotNull())
    )


@query(
    "q117_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    tags=("window", "ranking", "distribution"),
)
def q117_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist per nation — the distribution-position
    ranks (q34 covers the ordinal ranks). Tie-broken on the unique key
    so both are deterministic; one shuffle on the partition key.

    Deliberately UNROUNDED: both ranks are single IEEE divisions of
    exact integers ((rank−1)/(n−1), k/n) — bit-identical across
    engines — while round(·, 6) is what diverges: k/n lands exactly ON
    a decimal half-boundary whenever n divides a power of 2·10⁶, and
    Spark's BigDecimal HALF_UP disagrees with DuckDB's scaled-multiply
    rounding there (surfaced at sf0.1, where a 640-customer nation put
    3 rows on boundaries). For exact-ratio outputs, NOT rounding is
    the deterministic choice."""
    cust = load_tables(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q126_linear_interpolation",
    oracle="""
    WITH obs AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts, value
        FROM events
    ),
    bounds AS (
        SELECT user_id,
               date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM obs GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
        FROM bounds
    ),
    aug AS (
        SELECT user_id, ts, value, 1 AS is_obs FROM obs
        UNION ALL
        SELECT user_id, ts, NULL, 0 FROM grid
    ),
    walled AS (
        SELECT user_id, ts, is_obs,
               last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, is_obs DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
               last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, is_obs DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_prev,
               last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts DESC, is_obs DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_next,
               last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts DESC, is_obs DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_next
        FROM aug
    )
    SELECT user_id, ts,
           round(CASE
               WHEN v_prev IS NULL THEN v_next
               WHEN v_next IS NULL THEN v_prev
               WHEN t_next = t_prev THEN v_prev
               ELSE v_prev + (v_next - v_prev)
                    * (epoch_us(ts) - t_prev) / (t_next - t_prev)
           END, 6) AS value_interp
    FROM walled
    WHERE is_obs = 0
    """,
    tags=("window", "timeseries", "interpolation"),
)
def q126_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of each user's `value` series onto an
    hourly grid — the resampling mode for continuous signals, where
    q104's last-observation-carried-forward would bias (LOCF for
    states, linear for measurements). Grid points outside the
    observation span take the nearest endpoint; a grid point landing
    exactly on an observation returns it (obs rows sort before grid
    rows at equal timestamps, and the zero-span guard avoids 0/0).

    Scale posture: the union of observations and grid shuffles once on
    user_id; both directional scans are windows over that one
    partitioning (AQE reuses the exchange), so interpolation costs two
    window passes over (n_obs + n_grid) rows per user — no self-join,
    no range join, no cross of grid × observations.
    """
    ev = load_tables(spark, sf_dir)["events"]
    obs = ev.select("user_id", "ts", "value")
    bounds = obs.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("ts"),
    )
    aug = obs.select(
        "user_id", "ts", "value", F.lit(1).alias("is_obs")
    ).unionByName(
        grid.select(
            "user_id", "ts", F.lit(None).cast("double").alias("value"),
            F.lit(0).alias("is_obs"),
        )
    )
    t_if_obs = F.when(F.col("value").isNotNull(), F.unix_micros(F.col("ts")))
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.desc("is_obs"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("is_obs"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walled = aug.select(
        "user_id",
        "ts",
        "is_obs",
        F.last("value", ignorenulls=True).over(w_back).alias("v_prev"),
        F.last(t_if_obs, ignorenulls=True).over(w_back).alias("t_prev"),
        F.last("value", ignorenulls=True).over(w_fwd).alias("v_next"),
        F.last(t_if_obs, ignorenulls=True).over(w_fwd).alias("t_next"),
    )
    t = F.unix_micros(F.col("ts"))
    interp = (
        F.when(F.col("v_prev").isNull(), F.col("v_next"))
        .when(F.col("v_next").isNull(), F.col("v_prev"))
        .when(F.col("t_next") == F.col("t_prev"), F.col("v_prev"))
        .otherwise(
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * (t - F.col("t_prev"))
            / (F.col("t_next") - F.col("t_prev"))
        )
    )
    return (
        walled.where(F.col("is_obs") == 0)
        .select("user_id", "ts", F.round(interp, 6).alias("value_interp"))
    )


@query(
    "q127_trailing_time_window",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT)      AS n_trailing_1h,
           round(sum(value) OVER w, 2)          AS sum_trailing_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY epoch_us(ts)
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
    tags=("window", "frame", "timeseries", "range"),
)
def q127_trailing_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE frame per user: at every event, how many
    events (and how much value) the user produced in the preceding
    hour INCLUDING simultaneous rows — a true time-interval frame, not
    a row-count frame (q33): sparse and dense activity get the same
    time horizon. Ordering on epoch microseconds makes the frame
    numeric and identical on both engines; rows sharing a timestamp
    are RANGE peers, so no tiebreak ambiguity exists by construction.

    Scale posture: one shuffle on user_id; the range frame is evaluated
    with a sliding two-pointer pass over each sorted partition — O(n)
    per user, state bounded by the hour horizon.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_trailing_1h"),
    )


@query(
    "q128_cumulative_distinct",
    oracle="""
    WITH firsts AS (
        SELECT date_trunc('day', ts) AS day, user_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC
               ) AS rn
        FROM events
    ),
    daily AS (
        SELECT day,
               CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS new_users,
               CAST(count(DISTINCT user_id) AS BIGINT)        AS active_users
        FROM firsts
        GROUP BY day
    )
    SELECT day, new_users, active_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily
    """,
    tags=("window", "distinct", "retention"),
)
def q128_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new / active / cumulative-unique users — the retention
    dashboard shape. A naive cumulative COUNT(DISTINCT) re-scans all
    history per day; the first-occurrence trick (row_number = 1 marks
    each user's first event, then a running sum over the DAILY rollup)
    gets the same numbers with one user-keyed window + one day rollup.

    Scale posture: the only data-sized operations key on user_id and
    (day); the final cumulative window runs over day-grain rows — a
    metadata-sized sequence no matter the input volume. This is the
    standard OLAP rewrite that turns an O(n²) running-distinct into
    O(n).
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    firsts = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
        F.row_number().over(w).alias("rn"),
    )
    daily = firsts.groupBy("day").agg(
        F.sum((F.col("rn") == 1).cast("long")).alias("new_users"),
        F.countDistinct("user_id").alias("active_users"),
    )
    wcum = bounded_order("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        "active_users",
        F.sum("new_users").over(wcum).cast("long").alias("cumulative_users"),
    )


@query(
    "q130_session_paths",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC
               ) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ordered
        WHERE rn <= 3
        GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT 15
    """,
    tags=("window", "sequence", "paths", "events"),
)
def q130_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path mining: each user's first three event types joined
    into a path string ('signup>view>purchase'), then the 15 most
    common paths — the onboarding-flow analysis that complements q88's
    transition matrix (which sees only adjacent pairs) with ordered
    prefixes.

    Scale posture: one user_id shuffle for ordering, rn≤3 prunes to
    ≤3 rows per user BEFORE the path aggregation (WindowGroupLimit
    applies the cut during the sort), and path counting is a
    low-cardinality rollup with map-side combine; the top-15 is
    TakeOrdered.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 3)
    paths = ordered.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(15)
    )


@query(
    "q131_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
        FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT cohort_week, CAST(week_offset AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
    tags=("window", "retention", "cohort", "events"),
)
def q131_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity week,
    counted in each subsequent week they return — the
    (cohort × week-offset) triangle every growth dashboard renders.

    Scale posture: the cohort table is one user-keyed aggregate joined
    back user-to-user (same key, same partitioning — AQE reuses the
    exchange); the DISTINCT collapses per (user, week) BEFORE the
    cohort rollup so burst users count once per week. No window
    needed at all — min-aggregate + join beats a first_value window
    here because the cohort table is also reusable downstream.
    """
    ev = load_tables(spark, sf_dir)["events"]
    week = lambda c: F.date_trunc("week", c)  # noqa: E731
    firsts = ev.groupBy("user_id").agg(F.min(week(F.col("ts"))).alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@query(
    "q137_ohlc_bars",
    oracle="""
    WITH base AS (
        SELECT date_trunc('hour', ts) AS hr, event_type, value,
               date_trunc('microseconds', ts) AS uts, event_id
        FROM events
    ),
    e AS (
        SELECT hr, event_type, value,
               first_value(value) OVER (
                   PARTITION BY hr, event_type ORDER BY uts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS open_v,
               last_value(value) OVER (
                   PARTITION BY hr, event_type ORDER BY uts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS close_v
        FROM base
    )
    SELECT hr, event_type,
           round(min(open_v), 6)  AS open,
           round(max(value), 6)   AS high,
           round(min(value), 6)   AS low,
           round(min(close_v), 6) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM e
    GROUP BY hr, event_type
    ORDER BY hr, event_type
    """,
    tags=("window", "timeseries", "ohlc", "rollup"),
)
def q137_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/high/low/close of `value`
    inside each hour — the hypertable/candlestick rollup every
    time-series store ships (TimescaleDB's ohlc, kdb's bar builder),
    with tick count per bar.

    Open/close need a total order inside the bar (ts, then event_id for
    same-microsecond ties); high/low/count are plain aggregates.

    Scale posture: one shuffle on (hour, event_type) serves both the
    window pass and the rollup — the window's partition key IS the
    group key, so Catalyst reuses the exchange. No whole-series global
    sort: ordering is per-bar. At 100 TB the bar key is also the
    natural file-partitioning key, making this map-side after layout.
    """
    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    w = (
        Window.partitionBy("hr", "event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    e = base.select(
        "hr",
        "event_type",
        "value",
        F.first("value").over(w).alias("open_v"),
        F.last("value").over(w).alias("close_v"),
    )
    return (
        e.groupBy("hr", "event_type")
        .agg(
            F.round(F.min("open_v"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.min("close_v"), 6).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("hr", "event_type")
    )


@query(
    "q145_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, count(*) AS cnt
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    m AS (
        SELECT event_type, CAST(sum(cnt) AS DOUBLE) / count(*) AS mu,
               count(*) AS n_days
        FROM daily GROUP BY event_type
    ),
    c AS (
        SELECT daily.event_type, daily.d, m.mu, m.n_days,
               sum(daily.cnt - m.mu) OVER (
                   PARTITION BY daily.event_type ORDER BY daily.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        FROM daily JOIN m USING (event_type)
    ),
    r AS (
        SELECT event_type, d, mu, n_days, round(abs(cusum), 6) AS ac,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY round(abs(cusum), 6) DESC, d ASC) AS rn
        FROM c
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           round(mu, 6) AS mean_daily, d AS changepoint_day,
           ac AS max_abs_cusum
    FROM r WHERE rn = 1
    ORDER BY event_type
    """,
    tags=("window", "timeseries", "changepoint", "cusum"),
)
def q145_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily event volume: per event
    type, the running sum of deviations from the series mean peaks (in
    absolute value) at the most likely level-shift point — the
    classic drift detector for pipeline monitoring. Emits the
    changepoint day and the peak |CUSUM|.

    The argmax tie-break ranks on the ROUNDED |CUSUM| so that sub-ulp
    float-summation differences between engines can never flip which
    day wins.

    Scale posture: the heavy reduction (events → daily counts) is a
    partial+final aggregation; everything after runs at days×types
    grain. The per-type mean broadcasts back, and the cumulative
    window and the argmax rank share one (type, day) sort.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = daily.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = daily.join(F.broadcast(m), "event_type").select(
        "event_type",
        "d",
        "mu",
        "n_days",
        F.sum(F.col("cnt") - F.col("mu")).over(wcum).alias("cusum"),
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.desc(F.round(F.abs(F.col("cusum")), 6)), F.asc("d")
    )
    return (
        c.select(
            "event_type",
            "d",
            "mu",
            "n_days",
            F.round(F.abs(F.col("cusum")), 6).alias("ac"),
            F.row_number().over(wrank).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.round(F.col("mu"), 6).alias("mean_daily"),
            F.col("d").alias("changepoint_day"),
            F.col("ac").alias("max_abs_cusum"),
        )
        .orderBy("event_type")
    )


@query(
    "q148_rolling_active_users",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM pairs),
    wau AS (
        SELECT days.d, count(DISTINCT pairs.user_id) AS active_7d
        FROM days JOIN pairs
          ON pairs.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
    ),
    dau AS (SELECT d, count(*) AS active_1d FROM pairs GROUP BY d)
    SELECT wau.d AS day,
           CAST(dau.active_1d AS BIGINT) AS dau,
           CAST(wau.active_7d AS BIGINT) AS wau,
           ((2 * dau.active_1d * 1000000 + wau.active_7d)
                // (2 * wau.active_7d)) / 1000000.0 AS stickiness
    FROM wau JOIN dau ON wau.d = dau.d
    ORDER BY day
    """,
    tags=("window", "timeseries", "distinct", "rolling"),
)
def q148_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (WAU) per day, plus same-day
    actives (DAU) and the DAU/WAU stickiness ratio — the canonical
    product-health metric, and a *rolling distinct*, which no window
    frame can express (COUNT(DISTINCT) over a moving range isn't a
    streamable frame aggregate).

    Scale posture: the engine never range-joins the raw stream. Events
    collapse to distinct (day, user) pairs first (partial+final
    distinct — the only shuffle that sees full cardinality); each pair
    then map-side EXPLODES to the ≤7 report days it contributes to, and
    one partial+final count-distinct per report day finishes the job.
    Explode-then-aggregate scales linearly in pairs×7 with no join at
    all; the observed-day semi-join is a broadcast of ~hundreds of rows.
    """
    events = load_tables(spark, sf_dir)["events"]
    pairs = events.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = pairs.select(F.col("d").alias("day")).distinct()
    contrib = pairs.select(
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    )
    wau = (
        contrib.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return (
        wau.join(dau, "day")
        .select(
            "day",
            "dau",
            "wau",
            half_up_ratio(F.col("dau"), F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "q149_activity_streaks",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    numbered AS (
        SELECT user_id, d,
               row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        FROM pairs
    ),
    islands AS (
        SELECT user_id, d - rn * INTERVAL '1 day' AS island_key,
               count(*) AS streak_len, min(d) AS streak_start
        FROM numbered GROUP BY user_id, island_key
    ),
    ranked AS (
        SELECT user_id, streak_len, streak_start,
               count(*) OVER (PARTITION BY user_id) AS n_streaks,
               sum(streak_len) OVER (PARTITION BY user_id) AS n_active_days,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY streak_len DESC, streak_start ASC) AS pick
        FROM islands
    )
    SELECT user_id, CAST(n_active_days AS BIGINT) AS n_active_days,
           CAST(n_streaks AS BIGINT) AS n_streaks,
           CAST(streak_len AS BIGINT) AS best_streak_len,
           streak_start AS best_streak_start
    FROM ranked WHERE pick = 1
    ORDER BY user_id
    """,
    tags=("window", "gaps-islands", "streaks", "events"),
)
def q149_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user via the
    gaps-and-islands idiom: distinct activity days, row_number within
    user, and ``day - rn·1day`` as the island key — consecutive days
    share the key, any gap starts a new island. Emits each user's
    total active days, number of streaks, and the longest streak with
    its start day (earliest wins ties).

    Scale posture: one shuffle to distinct (user, day) pairs, then both
    windows and the island aggregation share the same user-key
    partitioning — no further shuffles. Day arithmetic is exact integer
    timestamp math, so the island keys agree across engines bit-for-bit.
    """
    events = load_tables(spark, sf_dir)["events"]
    pairs = events.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    numbered = pairs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    )
    islands = (
        numbered.withColumn("island_key", F.expr("d - make_dt_interval(rn)"))
        .groupBy("user_id", "island_key")
        .agg(
            F.count(F.lit(1)).alias("streak_len"),
            F.min("d").alias("streak_start"),
        )
    )
    w_user = Window.partitionBy("user_id")
    ranked = islands.select(
        "user_id",
        "streak_len",
        "streak_start",
        F.count(F.lit(1)).over(w_user).alias("n_streaks"),
        F.sum("streak_len").over(w_user).alias("n_active_days"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("streak_len").desc(), F.col("streak_start").asc()
            )
        )
        .alias("pick"),
    )
    return (
        ranked.filter(F.col("pick") == 1)
        .select(
            "user_id",
            "n_active_days",
            "n_streaks",
            F.col("streak_len").alias("best_streak_len"),
            F.col("streak_start").alias("best_streak_start"),
        )
        .orderBy("user_id")
    )


@query(
    "q152_last_touch_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, value,
               date_trunc('microseconds', ts) AS t,
               event_id,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN date_trunc('microseconds', ts)
                          END IGNORE NULLS) OVER w AS touch_t
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY date_trunc('microseconds', ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 2) AS attributed_value,
           ((2 * CAST(sum(epoch_us(t) - epoch_us(touch_t)) AS HUGEINT)
                 * 1000000 + count(*) * 60000000)
                // (2 * count(*) * 60000000)) / 1000000.0
               AS avg_mins_to_convert
    FROM ordered
    WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    GROUP BY touch_type
    ORDER BY touch_type
    """,
    tags=("window", "attribution", "events", "analytic"),
)
def q152_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent preceding non-purchase event. Emits, per
    touching event type, the number of purchases it converted, the
    revenue attributed to it, and the mean touch→purchase latency in
    minutes.

    The carry-forward is ``last(..., ignorenulls)`` over a ROWS frame
    ending 1 PRECEDING — the standard "latest qualifying prior row"
    idiom, with a (ts, event_id) total order so ties can't reorder
    between engines (the oracle orders on µs-truncated ts because
    DuckDB sorts the ns-native column). Latency math stays in exact
    integer microseconds with a single closing division.

    Scale posture: one shuffle on user_id; the window, the purchase
    filter, and the partial aggregation all run inside that
    partitioning, and the final agg is touch-type grain (≤ event-type
    cardinality).
    """
    events = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    ordered = events.select(
        "event_type",
        "value",
        "ts",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_t"),
    )
    return (
        ordered.filter(
            (F.col("event_type") == "purchase") & F.col("touch_type").isNotNull()
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
            half_up_ratio(
                F.sum(F.unix_micros("ts") - F.unix_micros("touch_t")),
                F.count(F.lit(1)) * 60000000,
                6,
            ).alias("avg_mins_to_convert"),
        )
        .orderBy("touch_type")
    )


@query(
    "q160_seasonal_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, count(*) AS cnt
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    keyed AS (
        SELECT event_type, d, cnt,
               date_diff('day', DATE '1970-01-01', d) % 7 AS dow
        FROM daily
    ),
    baseline AS (
        SELECT event_type, dow,
               CAST(sum(cnt) AS DOUBLE) / count(*) AS expected
        FROM keyed GROUP BY event_type, dow
    ),
    resid AS (
        SELECT k.event_type, k.d, k.cnt, b.expected,
               k.cnt - b.expected AS r
        FROM keyed k JOIN baseline b
          ON k.event_type = b.event_type AND k.dow = b.dow
    ),
    spread AS (
        SELECT event_type, stddev_samp(r) AS sd FROM resid
        GROUP BY event_type
    )
    SELECT r.event_type, r.d AS day, CAST(r.cnt AS BIGINT) AS cnt,
           round(r.expected, 6) AS expected,
           round(r.r / s.sd, 4) AS zscore
    FROM resid r JOIN spread s ON r.event_type = s.event_type
    WHERE abs(r.r) > 1.5 * s.sd
    ORDER BY r.event_type, day
    """,
    tags=("window", "timeseries", "anomaly", "seasonal"),
)
def q160_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection on daily event volume: the
    expected count for a day is the mean over days sharing its
    day-of-week (the dominant weekly seasonality), and days whose
    residual exceeds 1.5 residual-stddevs are flagged. Complements q145
    (CUSUM finds sustained level SHIFTS; this finds single-day spikes
    against a periodic baseline).

    Day-of-week is computed portably as ``days-since-epoch mod 7`` —
    engine dayofweek() builtins disagree on week start (Spark 1=Sunday,
    DuckDB 0=Sunday, isodow 1=Monday), and an off-by-one here silently
    degrades the baseline rather than erroring.

    Scale posture: events reduce to type×day grain in one partial+final
    agg; baseline (type×7) and spread (type×1) both broadcast back.
    Nothing after the first aggregation touches event grain.
    """
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    keyed = daily.withColumn(
        "dow", F.datediff(F.col("d"), F.lit("1970-01-01")) % 7
    )
    baseline = keyed.groupBy("event_type", "dow").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("expected")
    )
    resid = keyed.join(F.broadcast(baseline), ["event_type", "dow"]).select(
        "event_type",
        "d",
        "cnt",
        "expected",
        (F.col("cnt") - F.col("expected")).alias("r"),
    )
    spread = resid.groupBy("event_type").agg(
        F.stddev_samp("r").alias("sd")
    )
    return (
        resid.join(F.broadcast(spread), "event_type")
        .filter(F.abs(F.col("r")) > 1.5 * F.col("sd"))
        .select(
            "event_type",
            F.col("d").alias("day"),
            F.col("cnt").cast("long"),
            F.round("expected", 6).alias("expected"),
            F.round(F.col("r") / F.col("sd"), 4).alias("zscore"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q165_window_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(date_trunc('microseconds', ts)) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT s1.user_id, s1.t1,
               min(date_trunc('microseconds', e.ts)) AS t2
        FROM s1 JOIN events e
          ON e.user_id = s1.user_id AND e.event_type = 'click'
         AND date_trunc('microseconds', e.ts) > s1.t1
         AND date_trunc('microseconds', e.ts) <= s1.t1 + INTERVAL 24 HOUR
        GROUP BY s1.user_id, s1.t1
    ),
    s3 AS (
        SELECT s2.user_id, s2.t1, s2.t2,
               min(date_trunc('microseconds', e.ts)) AS t3
        FROM s2 JOIN events e
          ON e.user_id = s2.user_id AND e.event_type = 'purchase'
         AND date_trunc('microseconds', e.ts) > s2.t2
         AND date_trunc('microseconds', e.ts) <= s2.t2 + INTERVAL 24 HOUR
        GROUP BY s2.user_id, s2.t1, s2.t2
    ),
    depth AS (
        SELECT s1.user_id,
               CASE WHEN s3.t3 IS NOT NULL THEN 3
                    WHEN s2.t2 IS NOT NULL THEN 2
                    ELSE 1 END AS reached,
               CASE WHEN s3.t3 IS NOT NULL
                    THEN epoch_us(s3.t3) - epoch_us(s1.t1) END AS funnel_us
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
    )
    SELECT reached, CAST(count(*) AS BIGINT) AS n_users,
           ((2 * CAST(sum(funnel_us) AS HUGEINT) * 1000000
                 + count(funnel_us) * 60000000)
                // (2 * count(funnel_us) * 60000000)) / 1000000.0
               AS avg_funnel_mins
    FROM depth GROUP BY reached ORDER BY reached
    """,
    tags=("window", "funnel", "events", "time-constrained"),
)
def q165_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (the ClickHouse-windowFunnel shape):
    signup → click → purchase where each step must land within 24h of
    the matched previous step, resolved greedily (earliest signup, then
    earliest qualifying next event). Unlike q89's order-only funnel,
    the step windows make "converted eventually" and "converted inside
    the activation window" different answers. Emits users per reached
    depth and mean signup→purchase latency for completers (exact
    integer µs, one closing division).

    Scale posture: each stage is a per-user min-aggregation joined back
    on user_id — three shuffles on the same key (co-partitioned under
    AQE), state one row per user per stage. No per-user event arrays
    are ever collected; the greedy chain semantics is what makes the
    stage-wise min-join decomposition exact.
    """
    events = load_tables(spark, sf_dir)["events"]
    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ct")
    )
    s2 = (
        s1.join(clicks, "user_id")
        .filter(
            (F.col("ct") > F.col("t1"))
            & (F.col("ct") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ct").alias("t2"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pt")
    )
    s3 = (
        s2.join(purchases, "user_id")
        .filter(
            (F.col("pt") > F.col("t2"))
            & (F.col("pt") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("pt").alias("t3"))
    )
    depth = (
        s1.join(s2.select("user_id", "t2"), "user_id", "left")
        .join(s3.select("user_id", "t3"), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("reached"),
            F.when(
                F.col("t3").isNotNull(),
                F.unix_micros("t3") - F.unix_micros("t1"),
            ).alias("funnel_us"),
        )
    )
    return (
        depth.groupBy("reached")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            half_up_ratio(
                F.sum("funnel_us"),
                F.count("funnel_us") * 60000000,
                6,
            ).alias("avg_funnel_mins"),
        )
        .orderBy("reached")
    )


@query(
    "q178_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
                   AS x,
               count(*) AS y
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.x < b.x
    ),
    ranked AS (
        SELECT event_type, s,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY s) AS rn,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM slopes
    ),
    med AS (
        SELECT event_type, avg(s) AS slope, max(m) AS n_pairs
        FROM ranked
        WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
        GROUP BY event_type
    ),
    resid AS (
        SELECT d.event_type, d.y - m.slope * d.x AS r,
               row_number() OVER (
                   PARTITION BY d.event_type
                   ORDER BY d.y - m.slope * d.x) AS rn,
               count(*) OVER (PARTITION BY d.event_type) AS k
        FROM daily d JOIN med m ON d.event_type = m.event_type
    )
    SELECT r.event_type,
           CAST(max(r.k) AS BIGINT) AS n_days,
           CAST(max(m.n_pairs) AS BIGINT) AS n_pairs,
           round(max(m.slope), 6) + 0.0 AS slope,
           round(avg(r.r), 4) + 0.0 AS intercept
    FROM resid r JOIN med m ON r.event_type = m.event_type
    WHERE r.rn IN ((r.k + 1) // 2, (r.k + 2) // 2)
    GROUP BY r.event_type
    ORDER BY r.event_type
    """,
    tags=("window", "regression", "robust", "theil-sen"),
)
def q178_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimation on daily event volume: the
    slope is the MEDIAN of all pairwise day-to-day slopes and the
    intercept the median residual — the estimator that shrugs off the
    outlier days that wreck q138's least-squares fit (up to ~29%
    contamination). Every slope is one exact-integer-difference
    division; medians select by integer rank (avg of the middle one or
    two), so the only float steps are deterministic per-pair divisions
    and a final add-and-halve.

    Scale posture: the pairwise blow-up is per GROUP over day-grain
    data — bounded by days², not events² (the full stream reduces to
    type×day first). For long series the same operator runs on a
    repeated random pair-sample; the median machinery is unchanged.
    """
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("s"),
    )
    w_t = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(w_t.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(w_t).alias("m"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(F.avg("s").alias("slope"), F.max("m").alias("n_pairs"))
    )
    resid = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_pairs",
        "slope",
        (F.col("y") - F.col("slope") * F.col("x")).alias("r"),
    )
    ranked_r = resid.select(
        "event_type",
        "n_pairs",
        "slope",
        "r",
        F.row_number().over(w_t.orderBy("r")).alias("rn"),
        F.count(F.lit(1)).over(w_t).alias("k"),
    )
    return (
        ranked_r.filter(
            (F.col("rn") == F.expr("(k + 1) div 2"))
            | (F.col("rn") == F.expr("(k + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            F.max("k").cast("long").alias("n_days"),
            F.max("n_pairs").cast("long").alias("n_pairs"),
            round_nz(F.max("slope"), 6).alias("slope"),
            round_nz(F.avg("r"), 4).alias("intercept"),
        )
        .orderBy("event_type")
    )


@query(
    "q179_burstiness",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               epoch_us(date_trunc('microseconds', ts))
                 - lag(epoch_us(date_trunc('microseconds', ts))) OVER (
                       PARTITION BY user_id
                       ORDER BY date_trunc('microseconds', ts), event_id)
                 AS gap_us
        FROM events
    ),
    stats AS (
        SELECT user_id, count(gap_us) AS n_gaps,
               CAST(sum(gap_us) AS DOUBLE) / count(gap_us) AS mu,
               stddev_samp(CAST(gap_us AS DOUBLE)) AS sd
        FROM ordered WHERE gap_us IS NOT NULL
        GROUP BY user_id HAVING count(gap_us) >= 10
    )
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           round(mu / 60000000, 4) AS mean_gap_mins,
           round((sd - mu) / (sd + mu), 6) + 0.0 AS burstiness
    FROM stats ORDER BY user_id
    """,
    tags=("window", "timeseries", "burstiness", "interarrival"),
)
def q179_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: B = (σ−μ)/(σ+μ) over the gaps
    between consecutive events — B≈−1 is a metronome, B≈0 Poisson, B→1
    heavy bursts. The temporal-regularity feature used for bot
    detection and traffic modeling. Gaps are exact integer
    microseconds from a (ts, event_id) total order; μ is an exact-sum
    division, and σ's float accumulation is absorbed by rounding.

    Scale posture: one shuffle on user_id shared by the lag window and
    the aggregation; users below 10 gaps are dropped after the agg
    (HAVING), not with a second pass.
    """
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    stats = (
        ordered.filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("mu"),
            F.stddev_samp(F.col("gap_us").cast("double")).alias("sd"),
        )
        .filter(F.col("n_gaps") >= 10)
    )
    return stats.select(
        "user_id",
        F.col("n_gaps").cast("long"),
        F.round(F.col("mu") / 60000000, 4).alias("mean_gap_mins"),
        round_nz(
            (F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu")), 6
        ).alias("burstiness"),
    ).orderBy("user_id")


@query(
    "q182_rolling_corr",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id,
               date_diff('second', TIMESTAMP '2024-01-01', ts) AS x,
               CAST(floor(value * 1000) AS BIGINT)             AS y
        FROM events
    ),
    sums AS (
        SELECT user_id, event_id,
               count(*)   OVER w AS n,
               sum(x)     OVER w AS sx,
               sum(y)     OVER w AS sy,
               sum(x * x) OVER w AS sxx,
               sum(y * y) OVER w AS syy,
               sum(x * y) OVER w AS sxy
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round(
               CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)),
               4
           ) + 0.0 AS corr20
    FROM sums
    WHERE n = 20
      AND n * sxx - sx * sx > 0
      AND n * syy - sy * sy > 0
    ORDER BY user_id, event_id
    """,
    tags=("window", "rolling", "statistics", "correlation"),
)
def q182_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 20-event Pearson correlation per user between event time
    and value — the rolling-correlation signal a monitoring pipeline
    derives per entity ("is this metric drifting with time?").

    Cross-engine float determinism by construction: both inputs are
    EXACT integers (seconds since the fixture epoch; value floored to
    integer milli-units), so every windowed sum is integer arithmetic
    with no accumulation-order sensitivity — DuckDB's segment-tree
    window evaluation and Spark's sliding-frame accumulation produce
    bit-identical sums, and the single double division + sqrt at the
    end is IEEE-deterministic (see the priority-sampling design note
    in q112).

    Scale posture: one shuffle on ``user_id``; all six running moments
    come from ONE window frame (a single sort, no self-join); the
    per-row state is O(frame) with whole-stage codegen. At 100 TB the
    same plan holds — rolling moments never materialize the frame."""
    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        "user_id",
        "event_id",
        # Integer div — double division could round across a whole-second
        # boundary and disagree with DuckDB's boundary-crossing count.
        F.expr(
            "(unix_micros(ts) - unix_micros(timestamp'2024-01-01 00:00:00'))"
            " div 1000000"
        ).alias("x"),
        F.floor(F.col("value") * 1000).cast("long").alias("y"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("x"), F.asc("event_id"))
        .rowsBetween(-19, 0)
    )
    sums = base.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        (F.sum(F.col("x") * F.col("x")).over(w)).alias("sxx"),
        (F.sum(F.col("y") * F.col("y")).over(w)).alias("syy"),
        (F.sum(F.col("x") * F.col("y")).over(w)).alias("sxy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        sums.where((F.col("n") == 20) & (var_x > 0) & (var_y > 0))
        .select(
            "user_id",
            "event_id",
            round_nz(
                cov_n.cast("double") / F.sqrt(var_x.cast("double") * var_y.cast("double")),
                4,
            ).alias("corr20"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q188_rate_alert_baseline",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', ts)                              AS h,
               epoch(date_trunc('hour', ts))::BIGINT // 3600       AS hr,
               count(*)                                            AS n
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    walled AS (
        SELECT event_type, h, n,
               sum(n) OVER w   AS base_n,
               count(*) OVER w AS base_hours
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, h AS alert_hour,
           CAST(n AS BIGINT) AS n_events,
           ((2 * base_n * 10000 + base_hours) // (2 * base_hours))
               / 10000.0 AS baseline_rate,
           ((2 * n * base_hours * 10000 + base_n) // (2 * base_n))
               / 10000.0 AS spike_ratio
    FROM walled
    WHERE base_hours >= 12
      AND 2 * n * base_hours > 3 * base_n
    ORDER BY event_type, alert_hour
    """,
    tags=("window", "timeseries", "alerting", "monitoring"),
)
def q188_rate_alert_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-spike alerting against a trailing baseline: an hour alerts
    when its event count exceeds 1.5× the mean hourly rate of the
    trailing 24 hours (current hour excluded; at least 12 baseline
    hours required so startup noise never alerts) — the
    ops-monitoring shape behind "error rate spiked".

    The spike predicate is cross-multiplied (``2·n·hours > 3·base``) so
    the comparison is exact integer arithmetic — no division inside
    the filter to round differently between engines; the reported
    ratio columns are display-only.

    Scale posture: raw events collapse to (type, hour) grain map-side
    BEFORE the window (partial+final count), so the RANGE frame scans
    |types|×|hours| rows, corpus-size-independent. One hash exchange
    on event_type serves both the window sort and nothing else — at
    1000 executors the frame state per type is 25 numbers."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("hr", (F.unix_micros("h") / F.lit(3600000000)).cast("long"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rangeBetween(-24, -1)
    )
    walled = hourly.select(
        "event_type",
        "h",
        "n",
        F.sum("n").over(w).alias("base_n"),
        F.count(F.lit(1)).over(w).alias("base_hours"),
    )
    return (
        walled.where(
            (F.col("base_hours") >= 12)
            & (2 * F.col("n") * F.col("base_hours") > 3 * F.col("base_n"))
        )
        .select(
            "event_type",
            F.col("h").alias("alert_hour"),
            F.col("n").cast("long").alias("n_events"),
            half_up_ratio(F.col("base_n"), F.col("base_hours"), 4).alias(
                "baseline_rate"
            ),
            half_up_ratio(
                F.col("n") * F.col("base_hours"), F.col("base_n"), 4
            ).alias("spike_ratio"),
        )
        .orderBy("event_type", "alert_hour")
    )


@query(
    "q189_mom_revenue_change",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               date_trunc('month', o_orderdate) AS month,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
    )
    SELECT priority, month,
           round(cents / 100.0, 2) AS revenue,
           round(lag(cents) OVER w / 100.0, 2) AS prev_revenue,
           round((cents - lag(cents) OVER w) * 100.0
                 / lag(cents) OVER w, 4) + 0.0 AS pct_change
    FROM monthly
    WINDOW w AS (PARTITION BY priority ORDER BY month)
    ORDER BY priority, month
    """,
    tags=("window", "timeseries", "analytic", "period-over-period"),
)
def q189_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per order priority — the
    period-over-period lag() idiom every BI layer runs. Revenue sums in
    exact integer cents so both engines agree at every rounding
    boundary; each partition's first month reports NULL change rather
    than a fake 0.

    Scale posture: raw orders collapse to (priority, month) grain with
    map-side partial aggregation BEFORE the lag window, so the window
    sorts |priorities|×|months| rows regardless of order volume — the
    aggregate-below-window twin of q180's aggregate-below-join."""
    orders = load_tables(spark, sf_dir)["orders"]
    monthly = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("priority", "month")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("priority").orderBy("month")
    prev = F.lag("cents").over(w)
    return monthly.select(
        "priority",
        "month",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(prev / 100.0, 2).alias("prev_revenue"),
        round_nz((F.col("cents") - prev) * 100.0 / prev, 4).alias("pct_change"),
    ).orderBy("priority", "month")


@query(
    "q199_decayed_activity_score",
    oracle="""
    WITH aged AS (
        SELECT user_id, value,
               date_diff('hour', ts, TIMESTAMP '2024-02-01 00:00:00') AS age_h
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * exp(-0.01 * age_h)), 4)  AS decayed_score,
           round(sum(value), 2)                       AS raw_score,
           CAST(min(age_h) AS BIGINT)                 AS freshest_age_h
    FROM aged
    GROUP BY user_id
    ORDER BY decayed_score DESC, user_id
    LIMIT 50
    """,
    tags=("aggregation", "decay", "ranking", "timeseries"),
)
def q199_decayed_activity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay activity scoring: each engagement event
    contributes ``value·e^(−λ·age)`` toward its user's score (λ=0.01
    per hour, ages measured from a fixed as-of instant so the result
    is reproducible) — the recency-weighted ranking signal behind
    "active users" and feed ordering, where an event a month old is
    worth a third of one from today.

    Ages are exact integer hours (boundary-crossing count on both
    engines); ``exp`` feeds only summed terms, never a ranking key
    directly, and the final ordering compares round(4) values with a
    user_id tie-break — the float-determinism discipline of q184.

    Scale posture: pure partial+final aggregation, map-side combine
    does the exponential math once per row; no window, no join. An
    incremental refresh multiplies yesterday's score by e^(−24λ) and
    adds the new day — the algebraic property that makes this the
    cheapest of all recency weightings to maintain."""
    ev = load_tables(spark, sf_dir)["events"]
    asof = "2024-02-01 00:00:00"
    aged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "value",
        F.expr(
            f"(unix_micros(timestamp'{asof}') div 3600000000)"
            " - (unix_micros(ts) div 3600000000)"
        ).alias("age_h"),
    )
    return (
        aged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.exp(-0.01 * F.col("age_h"))), 4
            ).alias("decayed_score"),
            F.round(F.sum("value"), 2).alias("raw_score"),
            F.min("age_h").cast("long").alias("freshest_age_h"),
        )
        .orderBy(F.desc("decayed_score"), F.asc("user_id"))
        .limit(50)
    )


@query(
    "q201_trending_windows",
    oracle="""
    WITH win AS (
        SELECT event_type,
               time_bucket(INTERVAL '6 hours', ts) AS w_start,
               count(*) AS n
        FROM events
        GROUP BY event_type, time_bucket(INTERVAL '6 hours', ts)
    ),
    with_prev AS (
        SELECT event_type, w_start, n,
               lag(n) OVER (PARTITION BY event_type ORDER BY w_start) AS prev_n
        FROM win
    ),
    ranked AS (
        SELECT event_type, w_start, n, prev_n,
               row_number() OVER (
                   PARTITION BY w_start
                   ORDER BY n * 1000 // prev_n DESC, event_type
               ) AS rn
        FROM with_prev
        WHERE prev_n IS NOT NULL AND prev_n > 0 AND n > prev_n
    )
    SELECT w_start, event_type,
           CAST(n AS BIGINT)      AS n,
           CAST(prev_n AS BIGINT) AS prev_n,
           ((2 * n * 10000 + prev_n) // (2 * prev_n)) / 10000.0 AS growth
    FROM ranked
    WHERE rn = 1
    ORDER BY w_start
    """,
    tags=("window", "trending", "timeseries", "ranking"),
)
def q201_trending_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: for every 6-hour window, the event type with
    the highest count growth over its own previous window (growth > 1
    required — "trending" means accelerating, not merely big). The
    ranking key is the INTEGER cross-multiple ``n·1000/prev_n``
    (integer division, identical on both engines) rather than a float
    ratio, with event_type as tie-break — the q182/q188 determinism
    discipline applied to a rank.

    Scale posture: events collapse to (type, window) grain map-side
    first; the lag runs per type over its own windows and the per
    -window rank runs over |types| rows — both corpus-size
    -independent. The streaming twin is this exact frame over q80's
    tumbling aggregate in update mode."""
    ev = load_tables(spark, sf_dir)["events"]
    win = (
        ev.select(
            "event_type",
            F.window("ts", "6 hours").getField("start").alias("w_start"),
        )
        .groupBy("event_type", "w_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    prev = F.lag("n").over(
        Window.partitionBy("event_type").orderBy("w_start")
    )
    with_prev = win.select("event_type", "w_start", "n", prev.alias("prev_n"))
    ranked = (
        with_prev.where(
            F.col("prev_n").isNotNull()
            & (F.col("prev_n") > 0)
            & (F.col("n") > F.col("prev_n"))
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("w_start").orderBy(
                    F.desc(F.expr("n * 1000 div prev_n")), F.asc("event_type")
                )
            ),
        )
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "w_start",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("prev_n").cast("long").alias("prev_n"),
            half_up_ratio(F.col("n"), F.col("prev_n"), 4).alias(
                "growth"
            ),
        )
        .orderBy("w_start")
    )


@query(
    "q217_sprt_sequential_test",
    oracle="""
    WITH b AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN event_type = 'purchase' THEN 223 ELSE -64 END AS inc,
               ts, event_id
        FROM events
    ),
    scored AS (
        SELECT variant, ts, event_id,
               CASE WHEN inc = 223 THEN 1 ELSE 0 END AS conv,
               row_number() OVER w AS n,
               CAST(sum(inc) OVER (PARTITION BY variant ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS score
        FROM b
        WINDOW w AS (PARTITION BY variant ORDER BY ts, event_id)
    ),
    crossing AS (
        SELECT variant, min(n) AS crossing_n
        FROM scored
        WHERE score >= 2944 OR score <= -2944
        GROUP BY variant
    )
    SELECT s.variant,
           CAST(max(s.n) AS BIGINT)       AS n_events,
           CAST(sum(s.conv) AS BIGINT)    AS n_conversions,
           CAST(max(c.crossing_n) AS BIGINT) AS crossing_n,
           CAST(max(CASE WHEN s.n = c.crossing_n THEN s.score END) AS BIGINT)
               AS score_at_crossing,
           CASE WHEN max(c.crossing_n) IS NULL THEN 'continue'
                WHEN max(CASE WHEN s.n = c.crossing_n THEN s.score END) > 0
                THEN 'accept_h1' ELSE 'accept_h0' END AS decision
    FROM scored s LEFT JOIN crossing c ON s.variant = c.variant
    GROUP BY s.variant
    ORDER BY s.variant
    """,
    tags=("statistics", "abtest", "sequential", "window"),
)
def q217_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald's SPRT) over each
    variant's event stream: every event moves an integer-scaled
    log-likelihood score (+223 per conversion ≈ 1000·ln(p1/p0),
    −64 otherwise ≈ 1000·ln((1−p1)/(1−p0)) for p0=0.20 vs p1=0.25)
    and the stream DECIDES at the first ±2944 (≈1000·ln 19,
    α=β=0.05) crossing — the always-valid early-stopping design that
    replaces q141's fixed-horizon z-test when peeking is allowed.
    Integer scores make the running sum and crossing index
    bit-identical across engines (the chess-engine trick applied to
    sequential statistics: no float accumulates, no libm in any
    comparison).

    Scale posture: one shuffle on variant; the running score and the
    crossing argmin share the same window sort; everything after the
    per-variant cumsum touches |variants| rows. The streaming twin
    maintains the score in applyInPandasWithState and emits on
    crossing."""
    ev = load_tables(spark, sf_dir)["events"]
    b = ev.select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 223)
        .otherwise(-64)
        .alias("inc"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("variant").orderBy("ts", "event_id")
    scored = b.select(
        "variant",
        (F.col("inc") == 223).cast("int").alias("conv"),
        F.row_number().over(w).alias("n"),
        F.sum("inc")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("score"),
    )
    crossing = (
        scored.where((F.col("score") >= 2944) | (F.col("score") <= -2944))
        .groupBy("variant")
        .agg(F.min("n").alias("crossing_n"))
    )
    joined = scored.join(F.broadcast(crossing), "variant", "left")
    agg = joined.groupBy("variant").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum("conv").cast("long").alias("n_conversions"),
        F.max("crossing_n").cast("long").alias("crossing_n"),
        F.max(F.when(F.col("n") == F.col("crossing_n"), F.col("score")))
        .cast("long")
        .alias("score_at_crossing"),
    )
    return agg.select(
        "variant",
        "n_events",
        "n_conversions",
        "crossing_n",
        "score_at_crossing",
        F.when(F.col("crossing_n").isNull(), "continue")
        .when(F.col("score_at_crossing") > 0, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    ).orderBy("variant")


@query(
    "q227_sequence_feature_frame",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id,
               CAST(floor(value * 1000) AS BIGINT) AS v
        FROM events
    ),
    feats AS (
        SELECT user_id, event_id, v,
               lag(v, 1) OVER w AS lag1,
               lag(v, 2) OVER w AS lag2,
               lag(v, 3) OVER w AS lag3,
               lead(v, 1) OVER w AS target,
               CAST(sum(v) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS sum5,
               count(*) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cnt5
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT user_id, event_id, v, lag1, lag2, lag3, target,
           (sum5 * 1000) // cnt5 AS rolling_mean_micro
    FROM feats
    WHERE lag3 IS NOT NULL AND target IS NOT NULL
    ORDER BY user_id, event_id
    """,
    tags=("window", "features", "sequence", "ml"),
)
def q227_sequence_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised sequence-feature assembly: for every event, three
    lagged values, a trailing-5 rolling mean, and the NEXT value as
    the prediction target — the flat (features, label) frame a
    forecasting model trains on, with warm-up rows (incomplete lags)
    and the final row (no target) dropped so no NULL ever reaches the
    trainer. Values are exact integer milli-units END TO END — the
    rolling mean is floor-scaled integer micro-units ((sum·1000) div
    count), because sum/4/1000 lands exactly on 4-decimal half
    boundaries where engine round() rules disagree (surfaced at
    sf0.1; the q104/q117 class).

    One window partitioning serves all six columns — adding a feature
    is free; this is why feature frames are built in one pass, not
    one join per lag. Scale posture: a single user_id shuffle;
    output width grows, rows don't."""
    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    w5 = w.rowsBetween(-4, 0)
    feats = base.select(
        "user_id",
        "event_id",
        "v",
        F.lag("v", 1).over(w).alias("lag1"),
        F.lag("v", 2).over(w).alias("lag2"),
        F.lag("v", 3).over(w).alias("lag3"),
        F.lead("v", 1).over(w).alias("target"),
        F.sum("v").over(w5).cast("long").alias("sum5"),
        F.count(F.lit(1)).over(w5).alias("cnt5"),
    )
    return (
        feats.where(F.col("lag3").isNotNull() & F.col("target").isNotNull())
        .select(
            "user_id",
            "event_id",
            "v",
            "lag1",
            "lag2",
            "lag3",
            "target",
            F.expr("(sum5 * 1000) div cnt5").alias("rolling_mean_micro"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q233_duplicate_payment_rule",
    oracle="""
    WITH payments AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM orders
        UNION ALL
        SELECT o_custkey, 900000000 + o_orderkey,
               o_orderdate + INTERVAL 3 DAY, o_totalprice
        FROM orders WHERE o_orderkey % 50 = 0
    ),
    keyed AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey, o_orderdate,
               lag(o_orderdate) OVER w AS prev_date,
               lag(o_orderkey) OVER w AS prev_orderkey
        FROM payments
        WINDOW w AS (PARTITION BY o_custkey,
                     CAST(round(o_totalprice * 100) AS BIGINT)
                     ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey,
           round(cents / 100.0, 2) AS amount,
           CAST(prev_orderkey AS BIGINT) AS first_orderkey,
           CAST(o_orderkey AS BIGINT)    AS second_orderkey,
           CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT)
               AS days_apart
    FROM keyed
    WHERE prev_date IS NOT NULL
      AND date_diff('day', prev_date, o_orderdate) <= 7
    ORDER BY o_custkey, second_orderkey
    """,
    tags=("window", "fraud", "dedup", "rule"),
)
def q233_duplicate_payment_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection rule: two orders by the SAME
    customer for the EXACT same amount within 7 days flag as suspected
    double charges — the classic finance-ops dedup rule, distinct from
    content dedup (q60): the key is (who, how much, when-close), not
    identity. Amounts compare as exact integer cents; day gaps are
    boundary-crossing integers; the lag window means each suspect pair
    reports once (consecutive in amount order), not quadratically.

    Scale posture: one shuffle on (customer, cents) shared by the lag
    window; no self-join ever forms — the window formulation of what
    is naively an O(n²)-per-customer pair search (same move as q155's
    sweep vs the pair join)."""
    orders = load_tables(spark, sf_dir)["orders"]
    # The fixture's continuous prices never collide naturally, so a
    # deterministic "accidental resubmission" batch is seeded (every
    # 50th order, same amount, 3 days later) — q54's seeding pattern;
    # the oracle constructs the identical batch.
    resubmitted = orders.where(F.col("o_orderkey") % 50 == 0).select(
        "o_custkey",
        (F.lit(900_000_000) + F.col("o_orderkey")).alias("o_orderkey"),
        F.expr("o_orderdate + INTERVAL 3 DAY").alias("o_orderdate"),
        "o_totalprice",
    )
    payments = orders.select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).unionByName(resubmitted)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey", "cents").orderBy(
        "o_orderdate", "o_orderkey"
    )
    keyed = payments.select(
        "o_custkey",
        cents.alias("cents"),
        "o_orderkey",
        "o_orderdate",
    ).select(
        "*",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )
    day = F.expr(
        "(unix_micros(o_orderdate) div 86400000000)"
        " - (unix_micros(prev_date) div 86400000000)"
    )
    return (
        keyed.where(F.col("prev_date").isNotNull() & (day <= 7))
        .select(
            "o_custkey",
            F.round(F.col("cents") / 100.0, 2).alias("amount"),
            F.col("prev_orderkey").cast("long").alias("first_orderkey"),
            F.col("o_orderkey").cast("long").alias("second_orderkey"),
            day.cast("long").alias("days_apart"),
        )
        .orderBy("o_custkey", "second_orderkey")
    )


@query(
    "q235_rfm_segmentation",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               ntile(5) OVER (ORDER BY last_order DESC, o_custkey)     AS r,
               ntile(5) OVER (ORDER BY frequency DESC, o_custkey)      AS f,
               ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m,
               monetary_cents
        FROM per_cust
    )
    SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
           CAST(m AS INTEGER) AS m,
           CASE WHEN r = 1 AND f = 1 THEN 'champion'
                WHEN r >= 4 AND f = 1 THEN 'at_risk_loyal'
                WHEN r = 1 AND f >= 4 THEN 'new'
                WHEN r >= 4 AND f >= 4 THEN 'hibernating'
                ELSE 'core' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round((sum(monetary_cents) // count(*)) / 100.0, 2)
               AS avg_monetary
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
    tags=("window", "rfm", "segmentation", "analytics"),
)
def q235_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every buying customer scores 1-5 on Recency,
    Frequency, and Monetary via ntile quintiles (best = 1), and the
    (r, f) corners map to the canonical lifecycle labels (champion /
    at-risk-loyal / new / hibernating) — the customer-analytics
    workhorse behind retention targeting. Every ntile orders with a
    custkey tie-break so quintile boundaries are deterministic on
    both engines; monetary is exact cents.

    Scale posture: orders collapse to customer grain first; each
    quintile is the window-free sample-sort form (q236 shape) —
    distributed_row_number gives the global rank with a range shuffle
    plus broadcast offsets, and ntile_from_rank turns (rank, n, 5)
    into the EXACT ntile value as a map-side expression. No global
    window anywhere, so no single-task sort at any scale; the ntile
    semantics (and hashes) are bit-identical to the window form."""
    orders = load_tables(spark, sf_dir)["orders"]
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    nrow = per_cust.agg(F.count(F.lit(1)).alias("_n"))
    ranked = distributed_row_number(
        per_cust, [F.desc("last_order"), F.asc("o_custkey")], out="_rn_r"
    )
    ranked = distributed_row_number(
        ranked, [F.desc("frequency"), F.asc("o_custkey")], out="_rn_f"
    )
    ranked = distributed_row_number(
        ranked, [F.desc("monetary_cents"), F.asc("o_custkey")], out="_rn_m"
    )
    scored = ranked.crossJoin(F.broadcast(nrow)).select(
        "o_custkey",
        "monetary_cents",
        ntile_from_rank(F.col("_rn_r"), F.col("_n"), 5).alias("r"),
        ntile_from_rank(F.col("_rn_f"), F.col("_n"), 5).alias("f"),
        ntile_from_rank(F.col("_rn_m"), F.col("_n"), 5).alias("m"),
    )
    segment = (
        F.when((F.col("r") == 1) & (F.col("f") == 1), "champion")
        .when((F.col("r") >= 4) & (F.col("f") == 1), "at_risk_loyal")
        .when((F.col("r") == 1) & (F.col("f") >= 4), "new")
        .when((F.col("r") >= 4) & (F.col("f") >= 4), "hibernating")
        .otherwise("core")
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # Integer floor-division to whole cents BEFORE any float:
            # small groups land sum/n exactly on .5-cent boundaries,
            # where engine round() rules disagree.
            F.round(
                F.expr("sum(monetary_cents) div count(1)") / 100.0, 2
            ).alias("avg_monetary"),
        )
        .select(
            F.col("r").cast("int").alias("r"),
            F.col("f").cast("int").alias("f"),
            F.col("m").cast("int").alias("m"),
            segment.alias("segment"),
            "n_customers",
            "avg_monetary",
        )
        .orderBy("r", "f", "m")
    )


@query(
    "q247_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, day
    ),
    trended AS (
        SELECT event_type, day, n,
               avg(n) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
        FROM daily
    ),
    detrended AS (
        SELECT *, n - trend AS det,
               CAST(date_diff('day', TIMESTAMP '2024-01-01', day) % 7
                    AS INTEGER) AS dow
        FROM trended
    ),
    seasonal AS (
        SELECT event_type, dow, round(avg(det), 4) + 0.0 AS seas
        FROM detrended GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day, d.n,
           round(d.trend, 4) + 0.0          AS trend,
           s.seas                           AS seasonal,
           round(d.det - s.seas, 4) + 0.0   AS residual
    FROM detrended d JOIN seasonal s
      ON d.event_type = s.event_type AND d.dow = s.dow
    ORDER BY d.event_type, d.day
    """,
    tags=("window", "timeseries", "seasonality", "decomposition"),
)
def q247_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily event volume per type
    (STL-lite): trend = centered 7-day moving average, seasonal =
    day-of-week mean of the detrended series, residual = remainder —
    the decomposition an ops/curation dashboard reads to separate
    growth from weekly rhythm from genuine anomalies (the residual
    column is what q188's rate alerts would consume).

    Determinism: the trend average sums ≤7 exact integer counts in
    frame order (identical sequential IEEE ops on both engines — no
    partial-agg reordering inside a sliding frame), day-of-week comes
    from integer day-diff arithmetic (engine dayofweek() conventions
    differ: Spark is 1-7 Sun-first, DuckDB 0-6 — never use them
    cross-engine), and the seasonal group-average ulps wash out under
    round(4) applied identically before the residual subtraction.

    Scale posture: one corpus-grain shuffle to (type, day); the moving
    average runs over the BOUNDED per-type day series (timeline grain,
    not event grain — the window partition is the anomaly-free kind);
    the seasonal profile is a ≤(types×7)-row broadcast join back."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    detrended = daily.withColumn("trend", F.avg("n").over(w)).select(
        "event_type",
        "day",
        "n",
        "trend",
        (F.col("n") - F.col("trend")).alias("det"),
        (
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("timestamp")) % 7
        ).cast("int").alias("dow"),
    )
    seasonal = detrended.groupBy("event_type", "dow").agg(
        round_nz(F.avg("det"), 4).alias("seas")
    )
    return (
        detrended.join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "n",
            round_nz(F.col("trend"), 4).alias("trend"),
            F.col("seas").alias("seasonal"),
            round_nz(F.col("det") - F.col("seas"), 4).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q251_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    tot AS (
        SELECT from_type, sum(n) AS row_n FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n AS BIGINT) AS n,
           round(t.n / CAST(tot.row_n AS DOUBLE), 6) AS p
    FROM trans t JOIN tot ON t.from_type = tot.from_type
    ORDER BY t.from_type, t.to_type
    """,
    tags=("window", "markov", "sequence", "events", "journey"),
)
def q251_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event journeys:
    for each user's time-ordered event stream, count consecutive
    (from_type → to_type) transitions and normalize each row to
    probabilities — the user-journey model behind next-action
    prediction, funnel leak diagnosis, and bot detection (a near-
    deterministic row is scripted traffic). Complements q130 (literal
    entry paths) and q135 (intra-document skip-grams) with the
    cross-event sequential model.

    Determinism: ordering is (µs-truncated ts, event_id) — a total
    order shared with DuckDB's ns-native timestamps per the verify-
    skill discipline; probabilities are one exact integer division
    under round(6).

    Scale posture: the lag window partitions by user_id (bounded
    per-user streams — the safe window kind); transition counting is
    partial+final at (from, to) grain (|types|² rows through the final
    shuffle); row totals join back from a ≤|types|-row broadcast."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    ).filter(F.col("from_type").isNotNull())
    trans = seq.groupBy("from_type", F.col("event_type").alias("to_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        trans.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("row_n").cast("double"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, x): the number of events on each UTC day, as a double."""
    events = load_tables(spark, sf_dir)["events"]
    return events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))


def _day_ordered(field: str) -> Column:
    """Aggregate over :func:`_daily_counts`: its ``field`` (``"day"`` or
    ``"x"``) collected into one array in day order."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct("day", "x"))),
        lambda s: s.getField(field),
    )


def _forecast_release(folded: DataFrame, first: int, offset: int) -> DataFrame:
    """(day, actual, forecast, residual) for days ``first``.. of a
    smoother's fold: ``folded`` carries the series ``days``/``xs`` and
    the accumulator ``acc``, which holds day i's one-step-ahead
    forecast at position ``i + offset``. Values round at 4 digits, the
    residual signed-zero-safe."""
    out = folded.select(
        F.explode(F.sequence(F.lit(first), F.size("xs"))).alias("i"),
        "days",
        "xs",
        "acc",
    )
    actual = F.element_at("xs", F.col("i").cast("int"))
    forecast = F.element_at("acc", (F.col("i") + offset).cast("int"))
    return out.select(
        F.element_at("days", F.col("i").cast("int")).alias("day"),
        F.round(actual, 4).alias("actual"),
        F.round(forecast, 4).alias("forecast"),
        round_nz(actual - forecast, 4).alias("residual"),
    ).orderBy("day")


_ACF_MAX_LAG = 7


@query(
    "q279_acf_daily_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(x ORDER BY day) AS arr, count(*) AS n FROM daily
    ),
    stats AS (
        SELECT arr, n,
               list_reduce(list_prepend(0.0, arr), (a, b) -> a + b) / n AS m
        FROM series
    ),
    centered AS (
        SELECT arr, n, m,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, x -> (x - m) * (x - m))),
                   (a, b) -> a + b) AS denom
        FROM stats
    )
    SELECT lag,
           CAST(n AS BIGINT) AS n_days,
           round(list_reduce(list_prepend(0.0,
                     list_transform(range(1, n - lag + 1),
                                    i -> (arr[CAST(i AS INTEGER)] - m)
                                       * (arr[CAST(i + lag AS INTEGER)] - m))),
                     (a, b) -> a + b) / denom, 6) + 0.0 AS acf
    FROM centered, unnest(range(1, {_ACF_MAX_LAG} + 1)) t(lag)
    ORDER BY lag
    """,
    tags=("timeseries", "statistics", "autocorrelation", "window"),
)
def q279_acf_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1..7 — the periodicity probe run before any seasonal model (q247's
    decomposition assumes a cycle; this MEASURES whether one exists and
    at which lag). r_l = Σ(x_t − x̄)(x_{t+l} − x̄) / Σ(x_t − x̄)², the
    standard biased ACF estimator.

    Determinism: the corpus collapses to one day-ordered array; mean,
    denominator, and every lag's numerator are sequential left-to-right
    folds over that array (Spark `aggregate` seeded 0.0 ≡ DuckDB
    `list_reduce` with a prepended 0.0 seed), so accumulation order is
    engine-identical; the closing division rounds at 6 with signed-zero
    normalization (`round_nz` / `+ 0.0`) because a lag's covariance can
    be a negative epsilon.

    Scale posture: ONE partial+final aggregate to day grain (bounded:
    days, not events), then a ≤|days|-element array folded per lag — 7
    rows of arithmetic independent of event volume. The day-grain
    pre-aggregation is the whole trick: ACF over raw events is a
    self-join; ACF over the daily rollup is free. Reference contract:
    per-event day bucketing = map slot (``App.config:16``); series
    assembly = reduce slot (``App.config:17``)."""
    series = _daily_counts(spark, sf_dir).agg(
        _day_ordered("x").alias("arr"), F.count(F.lit(1)).alias("n")
    )
    stats = series.withColumn(
        "m",
        F.aggregate(F.col("arr"), F.lit(0.0), lambda a, b: a + b) / F.col("n"),
    ).withColumn(
        "denom",
        F.aggregate(
            F.transform(
                F.col("arr"), lambda x: (x - F.col("m")) * (x - F.col("m"))
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )
    lagged = stats.select(
        "arr",
        "n",
        "m",
        "denom",
        F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))).alias("lag"),
    )
    num = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - F.col("lag")),
            lambda i: (F.element_at("arr", i.cast("int")) - F.col("m"))
            * (
                F.element_at("arr", (i + F.col("lag")).cast("int"))
                - F.col("m")
            ),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return lagged.select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        round_nz(num / F.col("denom"), 6).alias("acf"),
    ).orderBy("lag")


# Exact factorials for the Shapley coefficient at |channels| <= 5.
_FACT_CASE_SQL = (
    "CASE {x} WHEN 0 THEN 1.0 WHEN 1 THEN 1.0 WHEN 2 THEN 2.0"
    " WHEN 3 THEN 6.0 WHEN 4 THEN 24.0 ELSE 120.0 END"
)


@query(
    "q295_shapley_attribution",
    oracle=f"""
    WITH chans AS (
        SELECT list(DISTINCT event_type ORDER BY event_type) AS cs
        FROM events WHERE event_type <> 'purchase'
    ),
    usersets AS (
        SELECT user_id,
               array_to_string(list(DISTINCT event_type ORDER BY event_type)
                   FILTER (WHERE event_type <> 'purchase'), ',') AS skey,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT skey, CAST(sum(converted) AS DOUBLE) / count(*) AS vr
        FROM usersets GROUP BY skey
    ),
    touched AS (
        SELECT event_type AS channel, count(DISTINCT user_id) AS n_touched
        FROM events WHERE event_type <> 'purchase' GROUP BY event_type
    ),
    masks AS (
        SELECT c.cs, len(c.cs) AS n, m.mask
        FROM chans c, unnest(range(0, 1 << len(c.cs))) m(mask)
    ),
    terms AS (
        SELECT c.cs[ci.i] AS channel, k.mask,
               {_FACT_CASE_SQL.format(x="bit_count(k.mask)")}
               * {_FACT_CASE_SQL.format(x="k.n - 1 - bit_count(k.mask)")}
               / {_FACT_CASE_SQL.format(x="k.n")} AS w,
               array_to_string(list_filter(k.cs,
                   (x, i) -> ((k.mask >> (i - 1)) & 1) = 1), ',') AS s_key,
               array_to_string(list_filter(k.cs,
                   (x, i) -> (((k.mask | (1 << (ci.i - 1))) >> (i - 1)) & 1) = 1),
                   ',') AS si_key
        FROM masks k
        CROSS JOIN chans c
        JOIN (SELECT unnest(range(1, len(cs) + 1)) AS i FROM chans) ci ON true
        WHERE ((k.mask >> (ci.i - 1)) & 1) = 0
    ),
    scored AS (
        SELECT t.channel, t.mask,
               t.w * (coalesce(vi.vr, 0.0) - coalesce(vs.vr, 0.0)) AS term
        FROM terms t
        LEFT JOIN v vs ON vs.skey = t.s_key
        LEFT JOIN v vi ON vi.skey = t.si_key
    )
    SELECT s.channel,
           CAST(tc.n_touched AS BIGINT) AS n_touched,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(term ORDER BY mask)), (a, b) -> a + b), 6) + 0.0
               AS shapley
    FROM scored s JOIN touched tc ON s.channel = tc.channel
    GROUP BY s.channel, tc.n_touched
    ORDER BY s.channel
    """,
    tags=("attribution", "shapley", "marketing", "events", "game-theory"),
)
def q295_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value conversion attribution (the data-driven
    attribution model behind e.g. Google DDA; Zhao et al. 2018):
    each user's touched-channel SET (non-purchase event types) defines
    a coalition; v(S) = conversion rate of users with exactly that
    set (unobserved coalitions → 0); each channel's credit is the
    Shapley value Σ_S |S|!(n−1−|S|)!/n! · (v(S∪{{i}}) − v(S)). Where
    last-touch (q152) gives the final click all credit, Shapley splits
    it by marginal contribution over every arrival order — the
    fairness axioms are the point. Efficiency (Σφ = v(N) − v(∅)) is
    pinned in tests/test_llm_ops.py.

    Determinism: coalition rates are exact-integer divisions; Shapley
    coefficients are exact small-factorial CASE arithmetic; per-channel
    sums fold in mask order; output rounds at 6 with signed-zero
    normalization (marginals can be negative).

    Scale posture: the corpus collapses to user-grain sets (one
    shuffle) then to coalition grain (≤2^n rows, n = |channels|); the
    Shapley enumeration is n·2^(n−1) terms of arithmetic on that tiny
    table — the standard exact-Shapley reduction, feasible because
    channels (unlike users) number in the handfuls. At 20+ channels
    you'd swap the enumeration for permutation sampling; every stage
    before it is unchanged. Reference contract: per-user coalition
    build = map slot (``App.config:16``); coalition-rate + Shapley
    consolidation = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    chans = events.where(F.col("event_type") != "purchase").agg(
        F.array_sort(F.collect_set("event_type")).alias("cs")
    )
    usersets = events.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_set(
                    F.when(F.col("event_type") != "purchase", F.col("event_type"))
                )
            ),
            ",",
        ).alias("skey"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    v = usersets.groupBy("skey").agg(
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("vr")
    )
    touched = (
        events.where(F.col("event_type") != "purchase")
        .groupBy(F.col("event_type").alias("channel"))
        .agg(F.countDistinct("user_id").alias("n_touched"))
    )
    masks = chans.select(
        "cs",
        F.size("cs").alias("n"),
        F.expr("explode(sequence(0, shiftleft(1, size(cs)) - 1))").alias("mask"),
    )
    fact = _FACT_CASE_SQL
    terms = (
        masks.select(
            "cs",
            "n",
            "mask",
            F.expr("posexplode(cs)").alias("i0", "channel"),
        )
        .where(F.expr("((mask >> i0) & 1) = 0"))
        .select(
            "channel",
            "mask",
            F.expr(
                f"{fact.format(x='bit_count(mask)')}"
                f" * {fact.format(x='n - 1 - bit_count(mask)')}"
                f" / {fact.format(x='n')}"
            ).alias("w"),
            F.expr(
                "array_join(filter(cs, (x, i) -> ((mask >> i) & 1) = 1), ',')"
            ).alias("s_key"),
            F.expr(
                "array_join(filter(cs,"
                " (x, i) -> (((mask | shiftleft(1, i0)) >> i) & 1) = 1), ',')"
            ).alias("si_key"),
        )
    )
    vs = v.select(F.col("skey").alias("s_key"), F.col("vr").alias("v_s"))
    vi = v.select(F.col("skey").alias("si_key"), F.col("vr").alias("v_si"))
    scored = (
        terms.join(F.broadcast(vs), "s_key", "left")
        .join(F.broadcast(vi), "si_key", "left")
        .select(
            "channel",
            "mask",
            (
                F.col("w")
                * (
                    F.coalesce("v_si", F.lit(0.0))
                    - F.coalesce("v_s", F.lit(0.0))
                )
            ).alias("term"),
        )
    )

    return (
        scored.groupBy("channel")
        .agg(
            round_nz(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("mask"), F.col("term")))
                        ),
                        lambda s: s.getField("term"),
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
                6,
            ).alias("shapley")
        )
        .join(F.broadcast(touched), "channel")
        .select(
            "channel",
            F.col("n_touched").cast("long").alias("n_touched"),
            "shapley",
        )
        .orderBy("channel")
    )


_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1


@query(
    "q298_holt_linear_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(day ORDER BY day) AS days,
               list(x ORDER BY day) AS xs
        FROM daily
    ),
    folded AS (
        -- acc: [level, trend, f_2, f_3, ...] — one-step-ahead forecast
        -- per day from day 2 on; same-type DOUBLE list, every element
        -- built from the unmodified acc (q267 fold discipline);
        -- literals CAST to DOUBLE (q284 DECIMAL-truncation trap).
        SELECT days, xs,
               list_reduce(
                   list_prepend([xs[1], xs[2] - xs[1]],
                                list_transform(list_slice(xs, 2, len(xs)),
                                               v -> [v])),
                   (acc, item) -> list_concat(
                       [CAST({_HOLT_ALPHA} AS DOUBLE) * item[1]
                            + CAST({1 - _HOLT_ALPHA} AS DOUBLE)
                              * (acc[1] + acc[2]),
                        CAST({_HOLT_BETA} AS DOUBLE)
                            * (CAST({_HOLT_ALPHA} AS DOUBLE) * item[1]
                               + CAST({1 - _HOLT_ALPHA} AS DOUBLE)
                                 * (acc[1] + acc[2]) - acc[1])
                            + CAST({1 - _HOLT_BETA} AS DOUBLE) * acc[2]],
                       list_concat(list_slice(acc, 3, len(acc)),
                                   [acc[1] + acc[2]]))) AS acc
        FROM series
    )
    SELECT days[CAST(i AS INTEGER)] AS day,
           round(xs[CAST(i AS INTEGER)], 4) AS actual,
           round(acc[CAST(i + 1 AS INTEGER)], 4) AS forecast,
           round(xs[CAST(i AS INTEGER)]
                 - acc[CAST(i + 1 AS INTEGER)], 4) + 0.0 AS residual
    FROM folded, unnest(range(2, len(xs) + 1)) t(i)
    ORDER BY day
    """,
    tags=("timeseries", "forecast", "holt", "smoothing"),
)
def q298_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing over the daily event
    series: level and trend update jointly (α = 0.3, β = 0.1,
    initialized level = x₁, trend = x₂ − x₁) and each day reports the
    one-step-ahead forecast made BEFORE seeing it plus its residual —
    the capacity-planning companion to the grouped single-EWMA (q161,
    no trend term) and the seasonal decomposition (q247, descriptive
    not predictive).

    Determinism: the recursion is inherently sequential, so both
    engines run the IDENTICAL left-to-right fold over the day-ordered
    array with a same-type [level, trend, forecasts...] DOUBLE-list
    accumulator (every element built from the unmodified accumulator —
    the q267 DuckDB fold discipline; float literals CAST to DOUBLE —
    the q284 DECIMAL trap); residuals round with signed-zero
    normalization.

    Scale posture: the corpus collapses to day grain in one
    partial+final aggregate; the sequential smoother runs on the
    ≤|days| array in a single row — pool at bounded grain, run the
    sequential algorithm there (the q277/q290 reduction). Per-key
    smoothing at scale partitions the fold by key, exactly q161's
    shape. Reference contract: per-event day bucketing = map slot
    (``App.config:16``); series assembly + smoothing = reduce slot
    (``App.config:17``)."""
    series = _daily_counts(spark, sf_dir).agg(
        _day_ordered("day").alias("days"), _day_ordered("x").alias("xs")
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    folded = series.withColumn(
        "acc",
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size("xs") - 1),
            F.array(
                F.element_at("xs", 1),
                F.element_at("xs", 2) - F.element_at("xs", 1),
            ),
            lambda acc, item: F.concat(
                F.array(
                    F.lit(a) * item
                    + F.lit(1 - a)
                    * (F.element_at(acc, 1) + F.element_at(acc, 2)),
                    F.lit(b)
                    * (
                        F.lit(a) * item
                        + F.lit(1 - a)
                        * (F.element_at(acc, 1) + F.element_at(acc, 2))
                        - F.element_at(acc, 1)
                    )
                    + F.lit(1 - b) * F.element_at(acc, 2),
                ),
                F.slice(acc, 3, F.greatest(F.size(acc) - 2, F.lit(0))),
                F.array(F.element_at(acc, 1) + F.element_at(acc, 2)),
            ),
        ),
    )
    return _forecast_release(folded, 2, 1)


@query(
    "q314_funnel_step_latency",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
        WHERE e.event_type = 'click'
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ),
    deltas AS (
        SELECT 'view_to_click' AS step_pair,
               epoch_us(c.t) - epoch_us(v.t) AS d_us, c.user_id
        FROM c JOIN v ON c.user_id = v.user_id
        UNION ALL
        SELECT 'click_to_purchase',
               epoch_us(p.t) - epoch_us(c.t), p.user_id
        FROM p JOIN c ON p.user_id = c.user_id
    ),
    ranked AS (
        SELECT step_pair, d_us,
               row_number() OVER (PARTITION BY step_pair
                                  ORDER BY d_us, user_id) AS rn,
               count(*) OVER (PARTITION BY step_pair) AS n
        FROM deltas
    )
    SELECT step_pair,
           CAST(any_value(n) AS BIGINT) AS n_users,
           round(max(CASE WHEN rn = (n + 1) // 2 THEN d_us END)
                 / 1000000.0, 3) AS median_s,
           round(max(CASE WHEN rn = (9 * n + 9) // 10 THEN d_us END)
                 / 1000000.0, 3) AS p90_s
    FROM ranked
    GROUP BY step_pair
    ORDER BY step_pair
    """,
    tags=("funnel", "latency", "events", "quantile"),
)
def q314_funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step-transition latency: per user, the FIRST view, the
    first click strictly after it, and the first purchase strictly
    after that; per step-pair the exact discrete median and p90 of the
    transition delay. Conversion funnels (q89/q165) count WHO
    converts; this measures HOW LONG each step takes — the number a
    product team actually tunes against.

    Determinism: step anchoring is min-timestamp with strict
    inequality joins; deltas are integer microseconds; quantile
    positions are ⌈q·n⌉ integer ranks with a user_id tie-break.

    Scale posture: step anchors are per-user partial+final MINs with
    key-equi conditional joins (never a window over raw events); the
    delta table is USER grain — orders of magnitude below event grain
    — so the per-step rank runs on a bounded frame (swap in
    distributed_row_number if users ever rival events). Reference
    contract: per-event anchoring = map slot (``App.config:16``);
    latency consolidation = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    v = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        events.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    d1 = c.join(v, "user_id").select(
        F.lit("view_to_click").alias("step_pair"),
        (F.unix_micros("ct") - F.unix_micros("vt")).alias("d_us"),
        "user_id",
    )
    d2 = p.join(c, "user_id").select(
        F.lit("click_to_purchase").alias("step_pair"),
        (F.unix_micros("pt") - F.unix_micros("ct")).alias("d_us"),
        "user_id",
    )
    deltas = d1.unionAll(d2)
    w = Window.partitionBy("step_pair").orderBy("d_us", "user_id")
    wc = Window.partitionBy("step_pair")
    ranked = deltas.select(
        "step_pair",
        "d_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    med_pos = _idiv(F.col("n") + 1, F.lit(2))
    p90_pos = _idiv(9 * F.col("n") + 9, F.lit(10))
    return (
        ranked.groupBy("step_pair")
        .agg(
            F.first("n").cast("long").alias("n_users"),
            F.round(
                F.max(F.when(F.col("rn") == med_pos, F.col("d_us")))
                / 1000000.0,
                3,
            ).alias("median_s"),
            F.round(
                F.max(F.when(F.col("rn") == p90_pos, F.col("d_us")))
                / 1000000.0,
                3,
            ).alias("p90_s"),
        )
        .orderBy("step_pair")
    )


_HW_ALPHA = 0.3
_HW_BETA = 0.1
_HW_GAMMA = 0.2
_HW_P = 7  # weekly additive seasonality


def _hw_sql_newl() -> str:
    """The level update expanded inline (SQL lambdas cannot bind a
    local): α·(x − s₁) + (1−α)·(l + b), against the UNMODIFIED acc."""
    return (
        f"CAST({_HW_ALPHA} AS DOUBLE) * (item[1] - acc[3])"
        f" + CAST({1 - _HW_ALPHA} AS DOUBLE) * (acc[1] + acc[2])"
    )


@query(
    "q335_holt_winters_seasonal",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(day ORDER BY day) AS days,
               list(x ORDER BY day) AS xs
        FROM daily
    ),
    init AS (
        SELECT days, xs,
               (xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6] + xs[7])
                   / 7 AS l0,
               ((xs[8] + xs[9] + xs[10] + xs[11] + xs[12] + xs[13] + xs[14])
                - (xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6] + xs[7]))
                   / 49 AS b0
        FROM series
        WHERE len(xs) >= {_HW_P * 2 + 1}
    ),
    folded AS (
        -- acc layout: [l, b, s1..s7 (rotating, head = index for the
        -- CURRENT day), forecasts...]; every element of the new acc is
        -- built from the UNMODIFIED acc (q267 fold discipline), float
        -- literals CAST to DOUBLE (q284 DECIMAL trap), the level
        -- update expanded inline wherever it appears.
        SELECT days, xs,
               list_reduce(
                   list_prepend(
                       list_concat([l0, b0],
                           list_transform(list_slice(xs, 1, {_HW_P}),
                                          v -> v - l0)),
                       list_transform(list_slice(xs, {_HW_P + 1}, len(xs)),
                                      v -> [v])),
                   (acc, item) -> list_concat(
                       list_concat(
                           [{_hw_sql_newl()},
                            CAST({_HW_BETA} AS DOUBLE)
                                * ({_hw_sql_newl()} - acc[1])
                                + CAST({1 - _HW_BETA} AS DOUBLE) * acc[2]],
                           list_concat(
                               list_slice(acc, 4, 9),
                               [CAST({_HW_GAMMA} AS DOUBLE)
                                    * (item[1] - ({_hw_sql_newl()}))
                                + CAST({1 - _HW_GAMMA} AS DOUBLE)
                                  * acc[3]])),
                       list_concat(
                           list_slice(acc, 10, len(acc)),
                           [acc[1] + acc[2] + acc[3]]))) AS acc
        FROM init
    )
    SELECT days[CAST(i AS INTEGER)] AS day,
           round(xs[CAST(i AS INTEGER)], 4) AS actual,
           round(acc[CAST(i + 2 AS INTEGER)], 4) AS forecast,
           round(xs[CAST(i AS INTEGER)]
                 - acc[CAST(i + 2 AS INTEGER)], 4) + 0.0 AS residual
    FROM folded, unnest(range({_HW_P + 1}, len(xs) + 1)) t(i)
    ORDER BY day
    """,
    tags=("timeseries", "forecast", "holt-winters", "seasonal"),
)
def q335_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly seasonality,
    α=0.3, β=0.1, γ=0.2) over the daily event series — the seasonal
    completion of the forecasting ladder: q161 (level only), q298
    (level+trend), here (+ period-7 seasonal indices). Initialization
    is the textbook two-week scheme (level = week-1 mean, trend =
    (week-2 mean − week-1 mean)/7, seasonal = week-1 deviations);
    each day from day 8 reports the one-step-ahead forecast
    l + b + s made BEFORE observing it.

    Determinism: inherently sequential, so both engines run the
    identical left-to-right fold with a same-type DOUBLE-list
    accumulator [l, b, s₁..s₇, forecasts...] where the seasonal block
    ROTATES (head = the index due today, the update appends at the
    block's tail) — mod-7 indexing without any mod; every new-acc
    element derives from the unmodified acc with the level update
    expanded inline; residuals round signed-zero-safe.

    Scale posture: corpus → day grain in one partial+final aggregate;
    the smoother folds a ≤|days| array in one row (pool at bounded
    grain, 8e/8f discipline); per-key seasonal smoothing at scale
    partitions the same fold by key. Reference contract: day
    bucketing = map slot (``App.config:16``); series assembly +
    smoothing = reduce slot (``App.config:17``)."""
    series = _daily_counts(spark, sf_dir).agg(
        _day_ordered("day").alias("days"), _day_ordered("x").alias("xs")
    ).where(F.size("xs") >= _HW_P * 2 + 1)
    week1 = sum(
        (F.element_at("xs", i) for i in range(2, _HW_P + 1)),
        F.element_at("xs", 1),
    )
    week2 = sum(
        (F.element_at("xs", i) for i in range(_HW_P + 2, 2 * _HW_P + 1)),
        F.element_at("xs", _HW_P + 1),
    )
    init = series.select(
        "days",
        "xs",
        (week1 / _HW_P).alias("l0"),
        ((week2 - week1) / (_HW_P * _HW_P)).alias("b0"),
    )
    al, be, ga = _HW_ALPHA, _HW_BETA, _HW_GAMMA

    def new_l(acc, item):
        return F.lit(al) * (item - F.element_at(acc, 3)) + F.lit(1 - al) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )

    folded = init.withColumn(
        "acc",
        F.aggregate(
            F.slice(F.col("xs"), _HW_P + 1, F.size("xs") - _HW_P),
            F.concat(
                F.array(F.col("l0"), F.col("b0")),
                F.transform(
                    F.slice(F.col("xs"), 1, _HW_P),
                    lambda v: v - F.col("l0"),
                ),
            ),
            lambda acc, item: F.concat(
                F.array(
                    new_l(acc, item),
                    F.lit(be) * (new_l(acc, item) - F.element_at(acc, 1))
                    + F.lit(1 - be) * F.element_at(acc, 2),
                ),
                F.slice(acc, 4, _HW_P - 1),
                F.array(
                    F.lit(ga) * (item - new_l(acc, item))
                    + F.lit(1 - ga) * F.element_at(acc, 3)
                ),
                F.slice(
                    acc,
                    _HW_P + 3,
                    F.greatest(F.size(acc) - (_HW_P + 2), F.lit(0)),
                ),
                F.array(
                    F.element_at(acc, 1)
                    + F.element_at(acc, 2)
                    + F.element_at(acc, 3)
                ),
            ),
        ),
    )
    return _forecast_release(folded, _HW_P + 1, 2)


_UPA_FIRST_BP = 4000  # U-shaped: 40% first touch, 40% last, 20% middle
_UPA_LAST_BP = 4000
_UPA_MID_BP = 2000


@query(
    "q340_position_based_attribution",
    oracle=f"""
    WITH conv AS (
        SELECT user_id, min(ts) AS conv_ts FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id,
               row_number() OVER (PARTITION BY e.user_id
                   ORDER BY date_trunc('microseconds', e.ts), e.event_id)
                   AS pos,
               count(*) OVER (PARTITION BY e.user_id) AS k
        FROM events e JOIN conv c ON e.user_id = c.user_id
        WHERE e.ts < c.conv_ts AND e.event_type <> 'purchase'
    ),
    credited AS (
        SELECT event_type,
               CASE
                 WHEN k = 1 THEN 10000
                 WHEN k = 2 THEN
                   CASE WHEN pos = 1
                        THEN {_UPA_FIRST_BP + _UPA_MID_BP // 2}
                        ELSE {_UPA_LAST_BP + _UPA_MID_BP - _UPA_MID_BP // 2}
                        END
                 WHEN pos = 1 THEN {_UPA_FIRST_BP}
                 WHEN pos = k THEN {_UPA_LAST_BP}
                 ELSE {_UPA_MID_BP} // (k - 2)
                      + CASE WHEN pos - 1 <= {_UPA_MID_BP} % (k - 2)
                             THEN 1 ELSE 0 END
               END AS credit_bp
        FROM touches
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit_bp) AS BIGINT) AS credit_bp,
           round(CAST(sum(credit_bp) AS DOUBLE) / 10000, 4)
               AS conversions_credited
    FROM credited
    GROUP BY event_type
    ORDER BY channel
    """,
    tags=("window", "attribution", "marketing", "funnel"),
)
def q340_position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    converting user's pre-purchase touches split one conversion's
    credit 40% / 20% / 40% across first / middle / last touch — the
    standard middle ground between last-touch (q152) and Shapley
    (q295). Middle credit allocates in EXACT integer basis points:
    2000 div (k−2) each plus one extra bp to the earliest
    (2000 mod (k−2)) middle touches, so every journey credits exactly
    10000 bp — conservation is an integer identity, not a float hope
    (2-touch journeys split the middle share 1000/1000).

    Determinism: touch order is (µs-truncated ts, event_id) — the ns
    oracle-sort trap; credit is pure integer arithmetic; one rounded
    division at report time.

    Scale posture: per-user windows are keyed (user_id partitions);
    the conversion table joins back user-keyed; the report is a
    5-key rollup with map-side combine. Reference contract: per-event
    credit assignment = map slot (``App.config:16``); channel rollup
    = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    conv = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        events.join(conv, "user_id")
        .where(
            (F.col("ts") < F.col("conv_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id")
    pos_k = touches.select(
        "event_type",
        F.row_number().over(wu).alias("pos"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    half = _UPA_MID_BP // 2
    credit = (
        F.when(F.col("k") == 1, 10000)
        .when(
            F.col("k") == 2,
            F.when(F.col("pos") == 1, _UPA_FIRST_BP + half).otherwise(
                _UPA_LAST_BP + _UPA_MID_BP - half
            ),
        )
        .when(F.col("pos") == 1, _UPA_FIRST_BP)
        .when(F.col("pos") == F.col("k"), _UPA_LAST_BP)
        .otherwise(
            F.expr(f"{_UPA_MID_BP} div (k - 2)")
            + F.when(
                F.col("pos") - 1 <= _UPA_MID_BP % (F.col("k") - 2), 1
            ).otherwise(0)
        )
    )
    return (
        pos_k.select("event_type", credit.alias("credit_bp"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit_bp").cast("long").alias("credit_bp"),
        )
        .select(
            "channel",
            "n_touches",
            "credit_bp",
            F.round(F.col("credit_bp").cast("double") / 10000, 4).alias(
                "conversions_credited"
            ),
        )
        .orderBy("channel")
    )


@query(
    "q370_slo_burn_rate_alert",
    oracle="""
    WITH h AS (
        SELECT date_trunc('hour', ts) AS hr,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
               count(*) AS tot
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT hr, err, tot,
               sum(err) OVER (ORDER BY hr ROWS BETWEEN 5 PRECEDING
                              AND CURRENT ROW) AS err6,
               sum(tot) OVER (ORDER BY hr ROWS BETWEEN 5 PRECEDING
                              AND CURRENT ROW) AS tot6
        FROM h
    )
    SELECT hr AS hour,
           CAST(err AS BIGINT) AS errors,
           CAST(tot AS BIGINT) AS total,
           round(err / (0.25 * tot), 4) AS burn_1h,
           round(err6 / (0.25 * tot6), 4) AS burn_6h,
           10 * err > 3 * tot AND 40 * err6 > 11 * tot6 AS page
    FROM w
    ORDER BY hour
    """,
    tags=("timeseries", "slo", "alerting", "sre", "window"),
)
def q370_slo_burn_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn-rate alerting (the SRE-workbook
    pattern): with a 75%-success SLO, each hour's burn rate is
    err_ratio / 0.25, and a page fires only when BOTH the fast window
    (1 h, threshold 1.2) and the slow window (trailing 6 h, threshold
    1.1) burn hot — the two-window AND that suppresses blips (fast
    only) and stale pages (slow only). Thresholds are tuned against
    the fixture's ~20% baseline error rate so both alert states occur
    at every SF (selectivity discipline).

    Determinism: the page decision is EXACT integer cross-
    multiplication (10·err > 3·tot ∧ 40·err6 > 11·tot6 — never a
    float threshold compare); burn rates are display-only rounded
    ratios of exact counts.

    Scale posture: one corpus-grain partial+final rollup to hour
    grain, then a trailing 6-row frame on the BOUNDED hourly series
    (bounded_order — the audited single-partition bucket-grain frame;
    at multi-year scale partition the frame by day and carry a 5-row
    boundary overlap). Reference contract: hourly counting = map
    slot (``App.config:16``); windowed alert evaluation = reduce slot
    (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("err"),
        F.count(F.lit(1)).alias("tot"),
    )
    w6 = bounded_order("hr").rowsBetween(-5, 0)
    w = h.select(
        "hr",
        "err",
        "tot",
        F.sum("err").over(w6).alias("err6"),
        F.sum("tot").over(w6).alias("tot6"),
    )
    return w.select(
        F.col("hr").alias("hour"),
        F.col("err").cast("long").alias("errors"),
        F.col("tot").cast("long").alias("total"),
        F.round(F.col("err") / (0.25 * F.col("tot")), 4).alias("burn_1h"),
        F.round(F.col("err6") / (0.25 * F.col("tot6")), 4).alias("burn_6h"),
        (
            (10 * F.col("err") > 3 * F.col("tot"))
            & (40 * F.col("err6") > 11 * F.col("tot6"))
        ).alias("page"),
    ).orderBy("hour")


_LB_MAX_LAG = 6
# chi-square 95% critical values for df = 1..6 (literal constants, the
# q339 discipline — no special functions in either engine)
_LB_CHI2_95 = (3.841, 5.991, 7.815, 9.488, 11.070, 12.592)


@query(
    "q372_ljung_box_whiteness",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(x ORDER BY day) AS arr, count(*) AS n FROM daily
    ),
    stats AS (
        SELECT arr, n,
               list_reduce(list_prepend(0.0, arr), (a, b) -> a + b) / n AS m
        FROM series
    ),
    centered AS (
        SELECT arr, n, m,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, x -> (x - m) * (x - m))),
                   (a, b) -> a + b) AS denom
        FROM stats
    ),
    acf AS (
        SELECT lag, n,
               list_reduce(list_prepend(0.0,
                   list_transform(range(1, n - lag + 1),
                                  i -> (arr[CAST(i AS INTEGER)] - m)
                                     * (arr[CAST(i + lag AS INTEGER)] - m))),
                   (a, b) -> a + b) / denom AS r
        FROM centered, unnest(range(1, {_LB_MAX_LAG} + 1)) t(lag)
    ),
    q AS (
        SELECT lag, n, r,
               n * (n + 2.0)
               * sum(r * r / (n - lag)) OVER (ORDER BY lag) AS q_stat
        FROM acf
    ),
    crit AS (
        SELECT * FROM (VALUES
            {", ".join(f"({k + 1}, {c})" for k, c in enumerate(_LB_CHI2_95))}
        ) t(lag, chi2_95)
    )
    SELECT q.lag,
           CAST(q.n AS BIGINT) AS n_days,
           round(q.r, 6) + 0.0 AS acf,
           round(q.q_stat, 4) AS q_stat,
           round(q.q_stat, 4) > crit.chi2_95 AS reject_white
    FROM q JOIN crit ON q.lag = crit.lag
    ORDER BY q.lag
    """,
    tags=("timeseries", "statistics", "ljung-box", "diagnostics"),
)
def q372_ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box whiteness test on the daily event-count series:
    Q(m) = n(n+2)·Σ_{{k≤m}} r_k²/(n−k) against χ²₀.₉₅(m) for m = 1..6
    — the residual-autocorrelation diagnostic every forecast model
    (q298 Holt, q335 Holt-Winters) should be checked with before its
    residuals are trusted as noise; composes q279's ACF machinery
    into the portmanteau statistic.

    Determinism: the ACF folds in position order over the day-ordered
    series (q279's construction — engine-identical accumulation); Q
    accumulates over the ≤6-row lag grain in lag order; critical
    values are literals (the q339 discipline); the reject flag
    compares the ROUNDED Q.

    Scale posture: one corpus rollup to day grain, one ≤|days|-element
    ordered fold (driver-free, array-based), then 6 rows of
    arithmetic with a bounded cumulative frame. Reference contract:
    day counting = map slot (``App.config:16``); portmanteau
    consolidation = reduce slot (``App.config:17``)."""
    series = _daily_counts(spark, sf_dir).agg(
        _day_ordered("x").alias("arr"), F.count(F.lit(1)).alias("n")
    )
    m = F.aggregate(F.col("arr"), F.lit(0.0), lambda a, b: a + b) / F.col("n")
    stats = series.select("arr", "n", m.alias("m"))
    denom = F.aggregate(
        F.transform(F.col("arr"), lambda x: (x - F.col("m")) * (x - F.col("m"))),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    centered = stats.select("arr", "n", "m", denom.alias("denom"))
    lags = spark.createDataFrame(
        [(k,) for k in range(1, _LB_MAX_LAG + 1)], "lag int"
    )
    acov = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - F.col("lag")),
            lambda i: (F.element_at(F.col("arr"), i.cast("integer")) - F.col("m"))
            * (
                F.element_at(
                    F.col("arr"), (i + F.col("lag")).cast("integer")
                )
                - F.col("m")
            ),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    acf = centered.crossJoin(F.broadcast(lags)).select(
        "lag", "n", (acov / F.col("denom")).alias("r")
    )
    wq = bounded_order("lag").rowsBetween(Window.unboundedPreceding, 0)
    q = acf.select(
        "lag",
        "n",
        "r",
        (
            F.col("n")
            * (F.col("n") + F.lit(2.0))
            * F.sum(
                F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
            ).over(wq)
        ).alias("q_stat"),
    )
    crit = spark.createDataFrame(
        [(k + 1, c) for k, c in enumerate(_LB_CHI2_95)],
        "lag int, chi2_95 double",
    )
    return (
        q.join(F.broadcast(crit), "lag")
        .select(
            "lag",
            F.col("n").cast("long").alias("n_days"),
            round_nz(F.col("r"), 6).alias("acf"),
            F.round(F.col("q_stat"), 4).alias("q_stat"),
            (F.round(F.col("q_stat"), 4) > F.col("chi2_95")).alias(
                "reject_white"
            ),
        )
        .orderBy("lag")
    )


_MRK_CH = ("click", "error", "signup", "view")  # to-idx 0..3; CONV = 4
_MRK_K = 8  # truncated power-iteration steps


def _mrk_oracle() -> str:
    def vmul(t):
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(0, 5), f -> acc[f + 1] * mv[f * 5 + {t} + 1])), "
            "(a, b) -> a + b)"
        )

    step = (
        "[CAST(0.0 AS DOUBLE), "
        + ", ".join(vmul(t) for t in range(4))
        + f", acc[6] + {vmul(4)}]"
    )
    fold = (
        "list_reduce(list_prepend("
        "[CAST(1.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0], "
        f"list_transform(range({_MRK_K}), z -> [CAST(0.0 AS DOUBLE)])), "
        f"(acc, x) -> {step})[6]"
    )
    variants = "SELECT 'full' AS variant, m AS mv FROM mat"
    for c, name in enumerate(_MRK_CH):
        variants += (
            f"\n        UNION ALL SELECT '{name}', "
            f"list_transform(range(1, 26), "
            f"i -> CASE WHEN (i - 1) % 5 = {c} THEN CAST(0.0 AS DOUBLE) "
            f"ELSE m[CAST(i AS INTEGER)] END) FROM mat"
        )
    return f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id) AS rn
        FROM events
    ),
    firstbuy AS (
        SELECT user_id, min(rn) AS buy_rn FROM ordered
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    kept AS (
        SELECT o.user_id, o.event_type, o.rn
        FROM ordered o LEFT JOIN firstbuy b ON o.user_id = b.user_id
        WHERE b.buy_rn IS NULL OR o.rn <= b.buy_rn
    ),
    trans AS (
        SELECT user_id,
               coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY rn),
                        'START') AS f,
               event_type AS t
        FROM kept
        UNION ALL
        SELECT k.user_id, k.event_type, 'NULL'
        FROM kept k
        JOIN (SELECT user_id, max(rn) AS mr FROM kept GROUP BY user_id) z
          ON z.user_id = k.user_id AND z.mr = k.rn
        WHERE k.event_type <> 'purchase'
    ),
    cnt AS (SELECT f, t, count(*) AS c FROM trans GROUP BY f, t),
    tot AS (SELECT f, sum(c) AS n FROM cnt GROUP BY f),
    cells AS (
        SELECT fi.fi * 5 + ti.ti AS idx,
               coalesce(c.c / CAST(tot.n AS DOUBLE), 0.0) AS p
        FROM (VALUES ('START', 0), ('click', 1), ('error', 2),
                     ('signup', 3), ('view', 4)) fi(f, fi)
        CROSS JOIN (VALUES ('click', 0), ('error', 1), ('signup', 2),
                           ('view', 3), ('purchase', 4)) ti(t, ti)
        LEFT JOIN cnt c ON c.f = fi.f AND c.t = ti.t
        LEFT JOIN tot ON tot.f = fi.f
    ),
    mat AS (SELECT list(p ORDER BY idx) AS m FROM cells),
    variants AS (
        {variants}
    ),
    conv AS (
        SELECT variant, {fold} AS p_conv FROM variants
    ),
    full_p AS (SELECT p_conv AS pf FROM conv WHERE variant = 'full'),
    rem AS (
        SELECT c.variant AS channel,
               f.pf AS p_conv_full,
               c.p_conv AS p_conv_removed,
               1.0 - c.p_conv / f.pf AS re
        FROM conv c CROSS JOIN full_p f
        WHERE c.variant <> 'full'
    ),
    s AS (SELECT sum(re) AS sre FROM rem)
    SELECT r.channel,
           round(r.p_conv_full, 6) AS p_conv_full,
           round(r.p_conv_removed, 6) AS p_conv_removed,
           round(r.re, 6) + 0.0 AS removal_effect,
           round(r.re / s.sre, 6) + 0.0 AS attribution_share
    FROM rem r CROSS JOIN s
    ORDER BY r.channel
    """


@query(
    "q373_markov_removal_attribution",
    oracle=_mrk_oracle(),
    tags=("attribution", "markov", "marketing", "iterative", "graph"),
)
def q373_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al.): model
    user journeys as a first-order chain over event channels with
    purchase absorbing, estimate P(convert) by an 8-step truncated
    power iteration from START, then re-run the chain with each
    channel REMOVED (transitions into it dropped, un-renormalized —
    the removal-effect convention) and credit each channel its
    conversion-probability drop, normalized to shares. The
    principled middle ground between last-touch (q152), position
    rules (q340), and exact-Shapley (q295) attribution.

    Determinism: journeys trim at the first purchase under a total
    (ts, event_id) order; transition probabilities are exact-count
    divisions over the collected ≤5×6 count table; the 5×5 matrix is
    ONE dense 25-slot list, and every power step sums its products
    driver-side in the EXACT order of the oracle's prepended-seed
    list_reduce (Python float IS binary64; left-to-right += matches
    the fold associativity), so all five chain evaluations are
    bit-identical before the 6dp rounds.

    Scale posture: the corpus is touched ONCE — a single
    groupBy-sorted-array pass per user (the q130 session-path shape;
    the window-cascade formulation cost 3×) down to the BOUNDED
    ≤5×6 transition table, collected driver-side (the q343
    parameter-server precedent); matrix assembly and the five 8-step
    folds are then scalar math. The DataFrame formulation of that
    bounded tail re-executed the corpus pipeline once per broadcast
    subtree and materialization job (32.7 s vs 1.6 s at sf0.1).
    At 100 TB only the journey pass grows.
    Reference contract: per-user journey extraction = map slot
    (``App.config:16``); chain evaluation = reduce slot
    (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    # Journey extraction in ONE shuffle (the q130 session-path shape):
    # per-user sorted event arrays, trimmed at the first purchase, with
    # START/terminal edges built by array math — a window-cascade
    # formulation (row_number + lag + max windows) cost 3x this on the
    # same corpus (three user-grain passes vs one).
    # Project narrow THEN fan out: the single-row-group fixture scan
    # yields ONE partition, so the collect_list partial agg would run
    # single-threaded (3 s for 0.2 s of scan) — rebalance_for_cpu is
    # the documented fix for exactly this shape.
    per_user = rebalance_for_cpu(
        ev.select("user_id", "ts", "event_id", "event_type")
    ).groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.getField("event_type"),
        ).alias("types")
    )
    pos = F.array_position(F.col("types"), "purchase")
    kept_arr = F.when(
        pos > 0, F.slice(F.col("types"), 1, pos.cast("int"))
    ).otherwise(F.col("types"))
    journeys = per_user.select(kept_arr.alias("k"))
    f_list = F.concat(
        F.array(F.lit("START")),
        F.when(
            F.size("k") >= 2, F.slice(F.col("k"), 1, F.size("k") - 1)
        ).otherwise(F.array().cast("array<string>")),
    )
    pair_arr = F.zip_with(
        f_list,
        F.col("k"),
        lambda f, t: F.struct(f.alias("f"), t.alias("t")),
    )
    with_terminal = F.when(
        F.element_at(F.col("k"), -1) != "purchase",
        F.concat(
            pair_arr,
            F.array(
                F.struct(
                    F.element_at(F.col("k"), -1).alias("f"),
                    F.lit("NULL").alias("t"),
                )
            ),
        ),
    ).otherwise(pair_arr)
    trans = journeys.select(F.explode(with_terminal).alias("p")).select(
        "p.f", "p.t"
    )
    cnt = trans.groupBy("f", "t").agg(F.count(F.lit(1)).alias("c"))
    # The transition table is BOUNDED state (<= 5x6 rows): collect it
    # ONCE (the q343 parameter-server precedent) and finish the matrix
    # + variant construction in plain Python. The DataFrame
    # formulation of this tail (literal grid + two broadcast joins +
    # a checkpointed 1-row matrix feeding five variant branches)
    # re-executed the corpus-grain journey pipeline once per broadcast
    # subtree and per materialization job — 32.7 s at sf0.1; this
    # shape pays for it exactly once (~1 s).
    counts = {(r["f"], r["t"]): r["c"] for r in cnt.collect()}
    totals = {}
    for (f, _), c in counts.items():
        totals[f] = totals.get(f, 0) + c
    from_states = ["START"] + list(_MRK_CH)
    to_states = list(_MRK_CH) + ["purchase"]
    m = [
        (counts.get((f, t), 0) / totals[f]) if totals.get(f) else 0.0
        for f in from_states
        for t in to_states
    ]
    def chain_p_conv(mv):
        # identical arithmetic order to the oracle's list_reduce fold:
        # seed [1,0,0,0,0,0], each step sums f = 0..4 left-to-right
        # (Python float IS binary64; += associativity matches the
        # prepended-zero folds, so values are bit-identical)
        acc = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        for _ in range(_MRK_K):
            nxt = [0.0]
            for t in range(5):
                sacc = 0.0
                for f in range(5):
                    sacc = sacc + acc[f] * mv[f * 5 + t]
                nxt.append(sacc)
            nxt[5] = acc[5] + nxt[5]
            acc = [0.0, nxt[1], nxt[2], nxt[3], nxt[4], nxt[5]]
        return acc[5]

    p_full = chain_p_conv(m)
    out_rows = []
    for c, name in enumerate(_MRK_CH):
        mv = [0.0 if i % 5 == c else v for i, v in enumerate(m)]
        p_rm = chain_p_conv(mv)
        out_rows.append((name, p_full, p_rm, 1.0 - p_rm / p_full))
    sre = 0.0
    for _, _, _, re_ in out_rows:
        sre = sre + re_

    return (
        spark.createDataFrame(
            out_rows,
            "channel string, pf double, pr double, re double",
        )
        .select(
            "channel",
            F.round("pf", 6).alias("p_conv_full"),
            F.round("pr", 6).alias("p_conv_removed"),
            round_nz(F.col("re"), 6).alias("removal_effect"),
            round_nz(F.col("re") / F.lit(sre), 6).alias("attribution_share"),
        )
        .orderBy("channel")
    )


@query(
    "q385_transition_entropy",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS f, event_type AS t, count(*) AS c
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY f, t
    ),
    tot AS (SELECT f, sum(c) AS n FROM trans GROUP BY f),
    all_n AS (SELECT sum(c) AS nn FROM trans),
    terms AS (
        SELECT tr.f, tot.n,
               -(tr.c / CAST(all_n.nn AS DOUBLE))
                   * ln(tr.c / CAST(tot.n AS DOUBLE)) AS h_term,
               (tr.c / CAST(tot.n AS DOUBLE))
                   * ln(tr.c / CAST(tot.n AS DOUBLE)) AS row_term
        FROM trans tr JOIN tot ON tr.f = tot.f CROSS JOIN all_n
    ),
    ce AS (SELECT round(sum(h_term), 6) AS ce FROM terms)
    SELECT f AS from_state,
           CAST(n AS BIGINT) AS n_transitions,
           round(-sum(row_term), 6) AS row_entropy,
           ce.ce AS conditional_entropy
    FROM terms CROSS JOIN ce
    GROUP BY f, n, ce.ce
    ORDER BY from_state
    """,
    tags=("timeseries", "entropy", "markov", "behavior"),
)
def q385_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability via transition entropy: per current
    event type, the Shannon entropy of the NEXT event's distribution
    (row entropy of q251's Markov matrix), plus the overall
    conditional entropy H(next|current) = Σ p(x)·H(next|x) — the
    number that says how far user behavior is from deterministic
    (0 bits) vs uniform-random (ln 5 ≈ 1.609 nats), and the
    information-theoretic sanity check on q373's chain model (a chain
    near uniform entropy attributes nothing meaningfully).

    Determinism: transition counts are exact under the shared
    (ts, event_id) total order; entropy terms are ln() over exact
    ratios summed at ≤|types|² grain (order ulps under round 6);
    the conditional entropy repeats identically on every row (a
    1-row aggregate joined back).

    Scale posture: one per-user lag pass to (from, to) counts —
    ≤|types|² state; everything after is arithmetic on that bounded
    table. Reference contract: transition extraction = map slot
    (``App.config:16``); entropy consolidation = reduce slot
    (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wu).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("f"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = trans.groupBy("f").agg(F.sum("c").alias("n"))
    all_n = trans.agg(F.sum("c").alias("nn"))
    terms = (
        trans.join(F.broadcast(tot), "f")
        .crossJoin(F.broadcast(all_n))
        .select(
            "f",
            "c",
            "n",
            (
                -(F.col("c") / F.col("nn").cast("double"))
                * F.log(F.col("c") / F.col("n").cast("double"))
            ).alias("h_term"),
            # per-row entropy contribution computed BEFORE the group
            # (n is per-f constant; referencing it via max() inside the
            # aggregate would be a nested-aggregate error)
            (
                (F.col("c") / F.col("n").cast("double"))
                * F.log(F.col("c") / F.col("n").cast("double"))
            ).alias("row_term"),
        )
    )
    cond = terms.agg(F.round(F.sum("h_term"), 6).alias("ce"))
    return (
        terms.groupBy("f", "n")
        .agg(
            F.round(-F.sum("row_term"), 6).alias("row_entropy"),
        )
        .withColumn("n_transitions", F.col("n").cast("long"))
        .crossJoin(F.broadcast(cond))
        .select(
            F.col("f").alias("from_state"),
            "n_transitions",
            "row_entropy",
            F.col("ce").alias("conditional_entropy"),
        )
        .orderBy("from_state")
    )


_MASE_H = 14     # forecast horizon (days)
_MASE_M = 7      # seasonal period (days)


@query(
    "q390_seasonal_naive_mase",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    bounds AS (SELECT max(day) AS max_day FROM daily),
    lagged AS (
        SELECT d.day, d.cents, p.cents AS cents_m,
               d.day > b.max_day - INTERVAL {_MASE_H} DAY AS is_test
        FROM daily d
        JOIN daily p ON p.day = d.day - INTERVAL {_MASE_M} DAY
        CROSS JOIN bounds b
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
           CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END) AS BIGINT)
               AS n_train_diffs,
           CAST(sum(CASE WHEN is_test THEN abs(cents - cents_m)
                         ELSE 0 END) AS BIGINT) AS sum_abs_err_test_cents,
           CAST(sum(CASE WHEN is_test THEN 0
                         ELSE abs(cents - cents_m) END) AS BIGINT)
               AS sum_abs_err_train_cents,
           CAST((1000000 * sum(CASE WHEN is_test THEN abs(cents - cents_m)
                                    ELSE 0 END)
                 * sum(CASE WHEN is_test THEN 0 ELSE 1 END))
                // (sum(CASE WHEN is_test THEN 1 ELSE 0 END)
                    * sum(CASE WHEN is_test THEN 0
                               ELSE abs(cents - cents_m) END))
               AS BIGINT) AS mase_ppm
    FROM lagged
    """,
    tags=("timeseries", "forecast", "mase", "evaluation"),
)
def q390_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error, Hyndman & Koehler) of the
    seasonal-naive forecast on daily order revenue: the last 14 days
    are the held-out horizon, the forecast for each day is the value
    one seasonal period (7 days) earlier, and the error scale is the
    in-sample seasonal-naive MAE — the denominators-of-record for
    every forecasting bake-off (q298 Holt / q335 Holt-Winters produce
    the forecasts; this is the metric that says whether they beat the
    naive bar: MASE < 1e6 ppm means better than naive).

    Determinism: revenue is exact integer cents; the lag join is
    calendar arithmetic on day-truncated timestamps; MASE is the
    exact integer identity Σ|e_test|·T / (H·Σ|Δm_train|) floored to
    ppm — no float anywhere.

    Scale posture: ONE partial+final rollup to day grain (bounded),
    a day-grain equi-join on day−7 (no window, no shuffle of fact
    rows beyond the rollup), and a 1-row summary. Reference
    contract: per-order day bucketing = map slot (``App.config:16``);
    error rollup = reduce slot (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    bounds = daily.agg(F.max("day").alias("max_day"))
    p = daily.select(
        (F.col("day") + F.expr(f"INTERVAL {_MASE_M} DAYS")).alias("day"),
        F.col("cents").alias("cents_m"),
    )
    lagged = (
        daily.join(p, "day")
        .crossJoin(F.broadcast(bounds))
        .select(
            "cents",
            "cents_m",
            (
                F.col("day")
                > F.col("max_day") - F.expr(f"INTERVAL {_MASE_H} DAYS")
            ).alias("is_test"),
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    err = F.abs(F.col("cents") - F.col("cents_m"))
    test_err = F.sum(F.when(F.col("is_test"), err).otherwise(0))
    train_err = F.sum(F.when(F.col("is_test"), 0).otherwise(err))
    n_test = F.sum(F.when(F.col("is_test"), 1).otherwise(0))
    n_train = F.sum(F.when(F.col("is_test"), 0).otherwise(1))
    # 1e6 * Σ|e_test| * T reaches ~8.4e18 at sf0.1 — 91% of int64 max —
    # so the ppm numerator multiplies in decimal(38,0), matching the
    # oracle's HUGEINT sum-of-BIGINT arithmetic (the q397/q401 pattern).
    dec = lambda e: e.cast("decimal(38,0)")
    return (
        lagged.agg(
            n_test.cast("long").alias("n_test"),
            n_train.cast("long").alias("n_train_diffs"),
            test_err.cast("long").alias("sum_abs_err_test_cents"),
            train_err.cast("long").alias("sum_abs_err_train_cents"),
            (
                F.lit(1_000_000).cast("decimal(38,0)")
                * dec(test_err)
                * dec(n_train)
            ).alias("_num"),
            (dec(n_test) * dec(train_err)).alias("_den"),
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "n_test",
            "n_train_diffs",
            "sum_abs_err_test_cents",
            "sum_abs_err_train_cents",
            F.expr("_num div _den").cast("long").alias("mase_ppm"),
        )
    )


@query(
    "q391_mann_kendall_trend",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT sum(CASE WHEN b.cents > a.cents THEN 1
                        WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    n AS (SELECT count(*) AS n FROM daily),
    ties AS (
        SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie18
        FROM (SELECT count(*) AS t FROM daily GROUP BY cents)
        WHERE t > 1
    ),
    var18 AS (
        SELECT n.n, s.s_stat,
               n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie18 AS v18
        FROM n CROSS JOIN s CROSS JOIN ties
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(v18 AS BIGINT) AS var_s_x18,
           round(CASE WHEN s_stat > 0
                      THEN (s_stat - 1) / sqrt(v18 / 18.0)
                      WHEN s_stat < 0
                      THEN (s_stat + 1) / sqrt(v18 / 18.0)
                      ELSE 0.0 END, 6) + 0.0 AS z_stat,
           CASE WHEN round(CASE WHEN s_stat > 0
                                THEN (s_stat - 1) / sqrt(v18 / 18.0)
                                WHEN s_stat < 0
                                THEN (s_stat + 1) / sqrt(v18 / 18.0)
                                ELSE 0.0 END, 6) > 1.959964 THEN 'increasing'
                WHEN round(CASE WHEN s_stat > 0
                                THEN (s_stat - 1) / sqrt(v18 / 18.0)
                                WHEN s_stat < 0
                                THEN (s_stat + 1) / sqrt(v18 / 18.0)
                                ELSE 0.0 END, 6) < -1.959964 THEN 'decreasing'
                ELSE 'no trend' END AS trend
    FROM var18
    """,
    tags=("timeseries", "statistics", "trend", "mann-kendall"),
)
def q391_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test on daily order revenue:
    S = Σ_{i<j} sign(x_j − x_i) over the day-ordered series, variance
    with the exact tie correction, and the continuity-corrected normal
    z — the distribution-free "is this metric drifting" gate that
    complements q178's Theil-Sen slope (MK decides IF there is a
    monotone trend; Theil-Sen sizes it) and feeds the same alerting
    path as q145's CUSUM.

    Determinism: revenue is exact integer cents so every sign and tie
    count is exact; variance stays ×18-scaled INTEGER; the only floats
    are one division, one IEEE sqrt (exactly-rounded, engine-identical)
    and the final z division, rounded at 6 with signed-zero
    normalization; the 1.96 threshold compares against the ROUNDED z
    (z is irrational — the boundary is unreachable).

    Scale posture: ONE partial+final rollup to day grain (bounded:
    |days|, not |orders|), then a day-grain a<b self-join — |days|²
    pairs of integer compares, independent of fact volume (at 10 years
    that is 6.7M comparisons — one task's work); ties and n are
    day-grain aggregates. Reference contract: day bucketing = map slot
    (``App.config:16``); pair rollup = reduce slot
    (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    ).persist()
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie18")
        )
    )
    v18 = (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
           - F.col("tie18"))
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s_x18") / F.lit(18.0)),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s_x18") / F.lit(18.0)),
        )
        .otherwise(F.lit(0.0))
    )
    out = (
        n.crossJoin(s)
        .crossJoin(ties)
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("s_stat").cast("long").alias("s_stat"),
            v18.cast("long").alias("var_s_x18"),
        )
        .select(
            "n_days",
            "s_stat",
            "var_s_x18",
            round_nz(z, 6).alias("z_stat"),
        )
        .select(
            "n_days",
            "s_stat",
            "var_s_x18",
            "z_stat",
            F.when(F.col("z_stat") > 1.959964, "increasing")
            .when(F.col("z_stat") < -1.959964, "decreasing")
            .otherwise("no trend")
            .alias("trend"),
        )
    )
    out = out.localCheckpoint(eager=True)
    daily.unpersist()
    return out


_CCF_MAX_LAG = 7


@query(
    "q392_lagged_cross_correlation",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(x ORDER BY day) AS ax, list(y ORDER BY day) AS ay,
               count(*) AS n
        FROM daily
    ),
    stats AS (
        SELECT ax, ay, n,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ax),
                           (a, b) -> a + b) / n AS mx,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ay),
                           (a, b) -> a + b) / n AS my
        FROM series
    ),
    centered AS (
        SELECT ax, ay, n, mx, my,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(ax, v -> (v - mx) * (v - mx))),
                        (a, b) -> a + b)
                  * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(ay, v -> (v - my) * (v - my))),
                        (a, b) -> a + b)) AS denom
        FROM stats
    )
    SELECT lag,
           CAST(n AS BIGINT) AS n_days,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(
                         range(greatest(1, 1 - lag),
                               least(n, n - lag) + 1),
                         i -> (ax[CAST(i AS INTEGER)] - mx)
                            * (ay[CAST(i + lag AS INTEGER)] - my))),
                     (a, b) -> a + b) / denom, 6) + 0.0 AS ccf
    FROM centered,
         unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG} + 1)) t(lag)
    ORDER BY lag
    """,
    tags=("timeseries", "statistics", "cross-correlation", "window"),
)
def q392_lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily 'view' and daily
    'purchase' event-count series at lags −7..7 — the lead/lag probe
    that says whether views PRECEDE purchases (positive lag peak) and
    by how many days: the causal-direction screen run before any
    attribution model (q152/q340) is trusted, extending q279's ACF
    (one series against itself) to two series.

    Determinism: both series collapse to one day-ordered array each;
    means, the denominator, and every lag's numerator are sequential
    left-to-right folds (Spark `aggregate` seeded 0.0 ≡ DuckDB
    `list_reduce` with a prepended DOUBLE-cast 0.0 seed — bare float
    literals in DuckDB lambdas bind as DECIMAL, the SKILL trap); the
    closing division rounds at 6 with signed-zero normalization.

    Scale posture: ONE partial+final aggregate to day grain (bounded),
    then 15 lag rows of array arithmetic independent of event volume —
    the same day-grain pre-aggregation trick as q279 (CCF over raw
    events would be a self-join; over the rollup it is free).
    Reference contract: day bucketing = map slot (``App.config:16``);
    series assembly = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s.getField("x"),
        ).alias("ax"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda s: s.getField("y"),
        ).alias("ay"),
        F.count(F.lit(1)).alias("n"),
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)
    stats = series.withColumn(
        "mx", fold(F.col("ax")) / F.col("n")
    ).withColumn("my", fold(F.col("ay")) / F.col("n"))
    centered = stats.withColumn(
        "denom",
        F.sqrt(
            fold(
                F.transform(
                    F.col("ax"),
                    lambda v: (v - F.col("mx")) * (v - F.col("mx")),
                )
            )
            * fold(
                F.transform(
                    F.col("ay"),
                    lambda v: (v - F.col("my")) * (v - F.col("my")),
                )
            )
        ),
    )
    lagged = centered.select(
        "ax",
        "ay",
        "n",
        "mx",
        "my",
        "denom",
        F.explode(
            F.sequence(F.lit(-_CCF_MAX_LAG), F.lit(_CCF_MAX_LAG))
        ).alias("lag"),
    )
    num = fold(
        F.transform(
            F.sequence(
                F.greatest(F.lit(1), F.lit(1) - F.col("lag")),
                F.least(F.col("n"), F.col("n") - F.col("lag")),
            ),
            lambda i: (
                F.element_at("ax", i.cast("int")) - F.col("mx")
            )
            * (
                F.element_at("ay", (i + F.col("lag")).cast("int"))
                - F.col("my")
            ),
        )
    )
    return lagged.select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        round_nz(num / F.col("denom"), 6).alias("ccf"),
    ).orderBy("lag")


@query(
    "q403_backfill_range_planner",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', min(o_orderdate)) AS lo,
               date_trunc('day', max(o_orderdate)) AS hi
        FROM orders
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
        FROM bounds
    ),
    present AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS d
                FROM orders),
    missing AS (
        SELECT s.d,
               epoch_us(s.d) // 86400000000 AS di
        FROM spine s LEFT JOIN present p ON p.d = s.d
        WHERE p.d IS NULL
    ),
    islands AS (
        SELECT d, di,
               di - row_number() OVER (ORDER BY di) AS grp
        FROM missing
    )
    SELECT min(d) AS range_start,
           max(d) AS range_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM islands
    GROUP BY grp
    ORDER BY range_start
    """,
    tags=("etl", "calendar", "backfill", "gaps-islands"),
)
def q403_backfill_range_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill range planner: which calendar days have NO order
    partition, consolidated into contiguous [start, end] ranges via
    the gaps-and-islands idiom (day_index − row_number is constant
    within a run) — the work order an orchestrator turns into one
    backfill job per RANGE instead of one per missing day. The
    operational complement of q213's spine report (q213 counts the
    silence; this plans the repair).

    Determinism: the spine is exact calendar arithmetic from a 1-row
    bounds aggregate; day indices are integer microsecond floor
    division (never float); ranges are integer group-bys.

    Scale posture: the spine is |days| rows broadcast-joined against
    the day-grain DISTINCT of the fact table (the only corpus-sized
    work is that one rollup); the islands window runs on the MISSING
    subset — bounded by |days| — under ``bounded_order``'s audited
    single partition. Day-grain timestamps stay TIMESTAMP on both
    engines (the q104/q128 DATE-normalization rule). Reference
    contract: day bucketing = map slot (``App.config:16``); range
    consolidation = reduce slot (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    present = orders.select(
        F.date_trunc("day", F.col("o_orderdate")).alias("d")
    ).distinct()
    missing = (
        spine.join(present, "d", "left_anti")
        .select("d", F.expr("unix_micros(d) div 86400000000").alias("di"))
    )
    islands = missing.select(
        "d",
        "di",
        (
            F.col("di")
            - F.row_number().over(bounded_order(F.asc("di")))
        ).alias("grp"),
    )
    return (
        islands.groupBy("grp")
        .agg(
            F.min("d").alias("range_start"),
            F.max("d").alias("range_end"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .select("range_start", "range_end", "n_days")
        .orderBy("range_start")
    )


# --- q457: CUSUM changepoint detection (control-chart monitoring) ---------

_CUSUM_KC = 2  # allowance kappa = KC * sigma_z (z-units)
_CUSUM_HC = 6  # alarm threshold H = HC * sigma_z
_CUSUM_SHIFT_DAY = 20  # injected level shift starts AFTER this day


@query(
    "q457_cusum_changepoint_detection",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d,
               count(*) FILTER (WHERE user_id % 2 = 1) AS c_base,
               count(*) AS c_all
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT row_number() OVER (ORDER BY d) AS i,
               CASE WHEN row_number() OVER (ORDER BY d)
                        <= {_CUSUM_SHIFT_DAY}
                    THEN c_base ELSE c_all END AS x
        FROM daily
    ),
    base AS (
        SELECT sum(x) FILTER (WHERE i <= 15) AS m15,
               CAST(floor(sqrt(CAST(15 * sum(x) FILTER (WHERE i <= 15)
                                    AS DOUBLE))) AS BIGINT) AS sz
        FROM idx
    ),
    series AS (
        SELECT list(15 * x - m15 ORDER BY i) AS zs,
               list(x ORDER BY i) AS xs, m15, sz
        FROM idx CROSS JOIN base
        GROUP BY m15, sz
    ),
    folded AS (
        SELECT xs, zs, m15, sz,
               list_reduce(
                   list_prepend([CAST(0 AS BIGINT)],
                       list_transform(zs, z -> [z])),
                   (acc, zz) -> list_prepend(
                       greatest(CAST(0 AS BIGINT),
                                acc[1] + zz[1] - {_CUSUM_KC} * sz),
                       acc)) AS run
        FROM series
    )
    SELECT CAST(i AS BIGINT) AS day_idx,
           CAST(xs[CAST(i AS INTEGER)] AS BIGINT) AS n_events,
           CAST(zs[CAST(i AS INTEGER)] AS BIGINT) AS z_scaled,
           CAST(run[CAST(len(run) - i AS INTEGER)] AS BIGINT)
               AS cusum_pos,
           run[CAST(len(run) - i AS INTEGER)]
               > {_CUSUM_HC} * sz AS alarm
    FROM (
        SELECT xs, zs, sz, run,
               unnest(generate_series(1, len(zs))) AS i
        FROM folded
    )
    ORDER BY day_idx
    """,
    tags=("timeseries", "monitoring", "changepoint", "cusum", "quality"),
)
def q457_cusum_changepoint_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-sided CUSUM control chart over the daily event series — the
    SEQUENTIAL changepoint detector the monitoring family lacked
    (q370's burn-rate alert is a two-window ratio; q391 Mann-Kendall
    tests a monotone trend offline; CUSUM is the Page 1954 sequential
    test that accumulates evidence and alarms at a level SHIFT —
    the standard pipeline-health alarm for ingest-volume drift). A
    deterministic shift is INJECTED so detection is non-vacuous at
    every SF (the q388 lesson): days 1-{_CUSUM_SHIFT_DAY} count only
    odd-user events, later days count all — a documented ~2× level
    step at day {_CUSUM_SHIFT_DAY + 1}. Released per day: the count,
    the centered statistic, the running CUSUM⁺, and the alarm flag
    (first alarm lands day 21-23 at every fixture SF, never before
    the injection — pinned).

    Mechanism, all integer: z_t = 15·x_t − Σ(first 15 days) is
    exactly 15·(x_t − μ̂) with the in-control mean estimated from the
    pre-shift window; allowance κ = {_CUSUM_KC}·σ_z and threshold
    H = {_CUSUM_HC}·σ_z with σ_z = ⌊√(15·m15)⌋ — the Poisson-scaled
    noise unit via ONE floor-sqrt on an exact integer (correctly
    rounded IEEE, identical cross-engine — the q439 precedent);
    S⁺_t = max(0, S⁺_{{t-1}} + z_t − κ) is a pure-integer fold.

    Determinism: the recursion is sequential, so both engines run the
    identical left-to-right fold over the day-ordered z array with a
    prepend-encoded accumulator (current S⁺ at FIXED index 1, the
    q447 DuckDB-fold discipline); everything released is an exact
    BIGINT or boolean.

    Scale posture: one events scan to day grain (partial+final), the
    fold runs on the ≤|days| array in a single row (the q277/q290
    bounded-grain reduction), per-key monitoring at scale partitions
    the fold by key exactly like q298. Reference contract: per-event
    day bucketing = map slot (``App.config:16``); series assembly +
    sequential test = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("c_base"),
        F.count(F.lit(1)).alias("c_all"),
    )
    w_day = bounded_order(F.asc("d"))
    idx = daily.withColumn("i", F.row_number().over(w_day)).select(
        "i",
        F.when(F.col("i") <= _CUSUM_SHIFT_DAY, F.col("c_base"))
        .otherwise(F.col("c_all"))
        .alias("x"),
    )
    base = idx.agg(
        F.sum(F.when(F.col("i") <= 15, F.col("x"))).alias("m15"),
        F.floor(
            F.sqrt(
                (
                    F.lit(15)
                    * F.sum(F.when(F.col("i") <= 15, F.col("x")))
                ).cast("double")
            )
        )
        .cast("long")
        .alias("sz"),
    )
    series = (
        idx.crossJoin(F.broadcast(base))
        .groupBy("m15", "sz")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("i", (15 * F.col("x") - F.col("m15")).alias("z"))
                    )
                ),
                lambda s: s.getField("z"),
            ).alias("zs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "x"))),
                lambda s: s.getField("x"),
            ).alias("xs"),
        )
    )
    folded = series.withColumn(
        "run",
        F.expr(
            f"aggregate(zs, array(CAST(0 AS BIGINT)),"
            f" (acc, z) -> concat(array(greatest(CAST(0 AS BIGINT),"
            f" element_at(acc, 1) + z - {_CUSUM_KC} * sz)), acc))"
        ),
    )
    return (
        folded.select(
            "xs",
            "zs",
            "run",
            "sz",
            F.explode(F.expr("sequence(1, size(zs))")).alias("day_idx"),
        )
        .select(
            F.col("day_idx").cast("long").alias("day_idx"),
            F.expr("element_at(xs, CAST(day_idx AS INT))")
            .cast("long")
            .alias("n_events"),
            F.expr("element_at(zs, CAST(day_idx AS INT))")
            .cast("long")
            .alias("z_scaled"),
            F.expr("element_at(run, CAST(size(run) - day_idx AS INT))")
            .cast("long")
            .alias("cusum_pos"),
            (
                F.expr(
                    "element_at(run, CAST(size(run) - day_idx AS INT))"
                )
                > F.lit(_CUSUM_HC) * F.col("sz")
            ).alias("alarm"),
        )
        .orderBy("day_idx")
    )
