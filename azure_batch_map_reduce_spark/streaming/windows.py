"""Event-time windowed operators: tumbling / sliding / session windows,
watermarked late-data handling, streaming dedup.

Each transformation is written against a plain DataFrame so the SAME
function runs in batch mode (checked against the DuckDB oracle here) and
in Structured Streaming (exercised with ``availableNow`` triggers in
``tests/test_streaming.py``) — batch/stream parity by construction,
Spark's unified-engine guarantee.

Scale notes: windowed aggregations shuffle on (window, key) with partial
aggregation; watermarks bound state size — without one, a 100 TB stream
accumulates unbounded window state.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import DataStreamWriter

from azure_batch_map_reduce_spark.catalog import (
    align_session_for_oracle,
    data_files,
    load_tables,
    normalize_event_ts,
    parquet_schema,
    scratch_dir,
    table_path,
)
from azure_batch_map_reduce_spark.operators.ranks import (
    _idiv,
    distributed_row_number,
    distributed_running_extremum,
    half_up_ratio,
    hex_int,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import query
from azure_batch_map_reduce_spark.session import scoped_shuffle_partitions


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a REAL file-source stream (schema read
    up-front from the parquet footer — streaming sources require one;
    ns-timestamp normalization mirrors catalog.py)."""
    align_session_for_oracle(spark)
    stream = (
        spark.readStream.schema(parquet_schema(table_path(sf_dir, "events")))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_event_ts(stream)


# Scale-adaptive state partitioning (guide §2.2/§2.5): a stateful streaming operator creates one state-store
# instance PER shuffle partition PER micro-batch — snapshot, delta
# file and commit each — and, unlike batch shuffles, streaming has no
# AQE to coalesce them, so the count is frozen at query start from
# `spark.sql.shuffle.partitions`. With the session default (= core
# count) the fixture-scale stream-stream join q364 spent 8.5–11.5 s
# per run on 32-partition state bookkeeping for 39.5k rows of data;
# sized from the source bytes it runs the identical computation in
# ~2 s (A/B below). 64 MB per state partition sits at the lower edge
# of the guide's 100 MB–1 GB post-shuffle band (state rows carry
# per-key overhead beyond their payload); the parallelism-factor cap
# keeps the derivation sane when bytes/64 MB explodes past what the
# runtime can use (a 100 TB/day feed wants thousands of partitions,
# bounded by cluster cores × a small factor, not millions).
_STREAM_STATE_TARGET_BYTES = 64 * 1024 * 1024


def stream_shuffle_partitions(
    spark: SparkSession, sf_dir: str, tables: tuple = ("events",)
) -> int:
    """ceil(total source bytes / 64 MB), clamped to
    [1, defaultParallelism × 8] — the input-size-derived shuffle/state
    partition count for an availableNow stream over fixture tables.

    Sizes from the SUM of data files under each table path: the
    fixtures are single parquet
    files, but the normal Spark layout is a directory of part files,
    where a bare ``os.path.getsize`` returns the directory inode size
    (~4 KB) and silently collapses the stream to one state partition.
    :func:`catalog.data_files` skips hidden entries (``_SUCCESS``,
    ``.crc``) like Spark's own file index does."""
    total = sum(
        os.path.getsize(f) for t in tables for f in data_files(table_path(sf_dir, t))
    )
    cpus = spark.sparkContext.defaultParallelism
    n = max(1, math.ceil(total / _STREAM_STATE_TARGET_BYTES))
    return min(n, max(8 * cpus, 1))


# How long one availableNow run may take before it counts as stalled.
_DRAIN_TIMEOUT_S = 300


def drain_available_now(writer: DataStreamWriter, what: str) -> None:
    """Start ``writer`` with an availableNow trigger and wait until the
    query has drained its source. A query still running after
    ``_DRAIN_TIMEOUT_S`` is stopped and raises :class:`TimeoutError`
    naming ``what``: a stalled stream must fail loudly, not leave its
    caller reading a partial sink."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{what} did not finish within {_DRAIN_TIMEOUT_S} s")


def run_available_now(
    df: DataFrame,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming frame into a memory sink through
    :func:`drain_available_now`; return the completed result table.

    ``shuffle_partitions`` (callers pass
    :func:`stream_shuffle_partitions`) pins the stream's state/shuffle
    partition count for the duration of the run — the session value is
    restored afterwards, so batch plans keep the AQE-coalesced session
    default. Partitioning never changes released values (watermarks
    are global minima across partitions; all sinks here feed
    deterministic final orderings).

    The sink's uniquely named table is dropped from the catalog once
    the returned frame is built: the frame keeps the sink's rows, and
    repeated runs in one session leave no ``q_*`` tables behind."""
    spark = df.sparkSession
    name = f"q_{uuid.uuid4().hex[:10]}"
    with scoped_shuffle_partitions(spark, shuffle_partitions):
        drain_available_now(
            df.writeStream.format("memory").queryName(name).outputMode(output_mode),
            f"availableNow stream {name}",
        )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


# ---- reusable batch/stream transformations ----

def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def closed_hour_counts(events: DataFrame, *keys: str) -> DataFrame:
    """Hourly event count and 2-digit value sum per ``keys`` under a
    10-minute watermark. In append mode a stream emits only the windows
    the watermark has closed; the trailing open hour is withheld."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.end").alias("window_end"), *keys, "n", "total_value")
    )


def dedup_first_event(events: DataFrame) -> DataFrame:
    """Deterministic dedup: earliest (ts, event_id) row per
    (user_id, event_type). The streaming analog is
    ``dropDuplicatesWithinWatermark`` (arrival-order, tested in
    tests/test_streaming.py); batch uses an explicit total order so the
    result is reproducible and oracle-checkable."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


# ---- registry entries (batch mode over the events fixture) ----

@query(
    "q80_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*)               AS n,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def q80_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows × event_type."""
    return tumbling_counts(load_tables(spark, sf_dir)["events"])


@query(
    "q81_sliding_window",
    oracle="""
    WITH cand AS (
        SELECT value,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE]) AS window_start
        FROM events
    )
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM cand
    GROUP BY window_start
    """,
    tags=("streaming", "window"),
)
def q81_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes — each event belongs to
    exactly two windows (oracle materializes both bucket starts)."""
    return sliding_counts(load_tables(spark, sf_dir)["events"])


@query(
    "q82_session_window",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    y AS (
        SELECT *, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM x
    )
    SELECT user_id,
           min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           count(*)                       AS n_events,
           round(sum(value), 2)           AS total_value
    FROM y
    GROUP BY user_id, sess_id
    """,
    tags=("streaming", "session"),
)
def q82_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user. The oracle
    reconstructs sessions with the gaps-and-islands idiom; Spark's
    session_window end = last event + gap matches max(ts) + 30min."""
    return session_aggregate(load_tables(spark, sf_dir)["events"])


@query(
    "q83_dedup_events",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "dedup"),
)
def q83_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user, event_type) with a total order."""
    return dedup_first_event(load_tables(spark, sf_dir)["events"])


@query(
    "q85_watermark_late_drop",
    oracle="""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
               count(*)             AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1
    )
    SELECT window_end, n, total_value
    FROM agg
    WHERE window_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tags=("streaming", "watermark"),
)
def q85_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode windows over a REAL stream: only windows
    closed with respect to the final watermark (max event time − 10 min)
    are emitted; the trailing open window is withheld. The oracle replays
    the closure rule in SQL. This is the state-bounding contract that
    makes a 100 TB stream feasible — without the watermark every window
    ever seen stays in state forever; with it, state is
    (horizon × keys) and late stragglers are dropped deterministically."""
    return run_available_now(
        closed_hour_counts(events_stream(spark, sf_dir)), "append",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )


def _purchase_click_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Purchases joined to same-user clicks in the preceding hour, both
    sides watermarked at 10 minutes — the interval stream-stream join
    q87 (inner), q275 (left outer) and q364 (full outer) share. The
    range predicate is what lets Spark evict each side's state at
    (watermark − interval)."""
    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        how,
    )


@query(
    "q87_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
    tags=("streaming", "join", "interval"),
)
def q87_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join as a REAL stream: every purchase
    joined to the clicks of the same user within the preceding hour.
    Both sides carry watermarks + the time-range predicate, which is
    what lets Spark BOUND the join state — each side keeps only rows
    inside (watermark − interval); without the range condition a
    stream-stream join must buffer both streams forever. Under
    availableNow's single batch the emitted set is exactly the batch
    join (oracle)."""
    joined = _purchase_click_join(spark, sf_dir, "inner").select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
    )
    return run_available_now(
        joined, "append",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )


@query(
    "q142_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join", "static", "enrich"),
)
def q142_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join executed as a REAL stream: the
    events stream joined to the static customer dimension (user →
    market segment), then aggregated per segment in complete mode —
    the canonical "enrich the firehose with a slowly-changing dim"
    pattern (the streaming face of the reference's per-task sideloaded
    ResourceFiles, ``Program.cs:346``).

    Scale posture: the projected 2-column static side broadcasts into
    every micro-batch at fixture scale so the stream never shuffles
    for the join — but customer is a GROWING dim (billions of rows at
    100 TB exceed any broadcast limit), so the hint is deliberately
    omitted (the q329 rule): the planner broadcasts while the dim
    fits and falls back to a per-batch shuffle join beyond, where the
    production answer is a pre-bucketed static side or a state-store
    lookup. The only stateful piece is the tiny per-segment running
    aggregate; the dim is re-resolvable per batch, which is how
    dimension updates flow in without restarting the query.
    """
    ev = events_stream(spark, sf_dir)
    cust = load_tables(spark, sf_dir)["customer"].select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    enriched = ev.join(
        cust, ev["user_id"] == cust["c_custkey"], "inner"
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_available_now(
        agg, "complete",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Exact distinct users per (6h tumbling window, event_type) as a
    two-stage stateful pipeline: streaming dropDuplicates scoped to the
    window key, then a windowed count — the chained-stateful-operator
    form (Spark 3.4+) of windowed COUNT(DISTINCT), which streaming
    aggregation cannot express directly. Runs identically in batch
    (dedup is a plain distinct there)."""
    return (
        events.select(
            F.window("ts", "6 hours").alias("w"), "event_type", "user_id"
        )
        .dropDuplicates(["w", "event_type", "user_id"])
        .groupBy("w", "event_type")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "distinct_users",
        )
    )


@query(
    "q172_stream_windowed_distinct",
    oracle="""
    WITH d AS (
        SELECT DISTINCT
               make_timestamp(
                   (epoch_us(date_trunc('microseconds', ts)) // 21600000000)
                   * 21600000000) AS w_start,
               event_type, user_id
        FROM events
    )
    SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS distinct_users
    FROM d GROUP BY w_start, event_type
    ORDER BY w_start, event_type
    """,
    tags=("streaming", "window", "distinct", "stateful"),
)
def q172_stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed COUNT(DISTINCT) with batch/stream parity: the same
    :func:`windowed_distinct_users` transformation runs here in batch
    (hash-checked against the oracle's epoch-aligned 6h buckets —
    Spark's ``window()`` aligns to the epoch, so integer µs floor
    arithmetic reproduces its boundaries exactly) and as a REAL stream
    in tests/test_streaming.py via availableNow. Streaming distinct
    needs the chained form — dedup state keyed by (window, type, user),
    then an ordinary windowed count; a watermark bounds both states.

    Scale posture: dedup and count shuffle on the same (window, type)
    prefix; state per key is one bit (seen) + one counter. This exact
    form trades state size for exactness — the sketch alternative is
    q156's mergeable HLL registers as window state.
    """
    events = load_tables(spark, sf_dir)["events"]
    return windowed_distinct_users(events).orderBy("w_start", "event_type")


def _arrival_key() -> Column:
    """Per-event arrival-order hash, ``md5('arr|' || event_id)`` read
    as a BIGINT: the deterministic jitter q192, q304 and q305 order and
    offset events by (the fixture's event_ids follow event time)."""
    return hex_int(
        F.md5(F.concat(F.lit("arr|"), F.col("event_id").cast("string"))), 1, 8
    )


@query(
    "q192_lateness_profile",
    oracle="""
    WITH arr AS (
        SELECT user_id, event_type,
               (epoch_us(max(date_trunc('microseconds', ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY ('0x' || substr(md5('arr|' || CAST(event_id AS VARCHAR)),
                                            1, 8))::BIGINT,
                            event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) // 1000000)
               - (epoch_us(date_trunc('microseconds', ts)) // 1000000) AS late_s
        FROM events
    ),
    bucketed AS (
        SELECT event_type,
               CASE WHEN late_s <= 0 THEN 'on_time'
                    WHEN late_s < 60 THEN 'lt_1m'
                    WHEN late_s < 600 THEN 'lt_10m'
                    WHEN late_s < 3600 THEN 'lt_1h'
                    ELSE 'ge_1h' END AS bucket,
               late_s
        FROM arr
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT)  AS n_events,
           CAST(max(late_s) AS BIGINT) AS max_late_s
    FROM bucketed
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
    tags=("streaming", "watermark", "lateness", "profiling"),
)
def q192_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-lateness profile: each event's lateness is how far its
    event-time sits behind the running high-watermark already seen for
    that user in ARRIVAL order — bucketed into the bands an operator
    reads to CHOOSE a watermark delay (``withWatermark`` too tight
    drops the lt_10m band; too loose holds state for ge_1h stragglers
    nobody needs). This closes the loop on q85's fixed-delay policy by
    measuring what the delay should be.

    Arrival order is a deterministic salted-hash permutation of the
    events (md5 'arr|'+event_id, the q195 integer-hash construction):
    the fixture's event_id order IS timestamp order, so using it as
    arrival order would make every event on-time and the profile
    vacuous — the hash order genuinely interleaves early and late
    event-times, exercising every band.

    Lateness counts whole-second BOUNDARY crossings
    (``unix_micros div 1000000`` floor differences, the q198/q182
    form), matching DuckDB ``date_diff`` semantics exactly — flooring
    the raw µs difference would disagree on any event whose gap
    straddles a second boundary. The running max uses µs-truncated
    timestamps on the oracle side so DuckDB's native-ns max agrees
    with Spark's µs column.

    Scale posture: one shuffle on user_id for the running-max window,
    then a tiny (type × 5 buckets) rollup with map-side combine. On a
    live stream the same running max is the engine's internal watermark
    tracker; this batch twin makes it observable."""
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(_arrival_key().asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = ev.withColumn("_hwm", F.max("ts").over(w)).select(
        "event_type",
        F.expr(
            "unix_micros(_hwm) div 1000000 - unix_micros(ts) div 1000000"
        ).alias("late_s"),
    )
    bucket = (
        F.when(F.col("late_s") <= 0, "on_time")
        .when(F.col("late_s") < 60, "lt_1m")
        .when(F.col("late_s") < 600, "lt_10m")
        .when(F.col("late_s") < 3600, "lt_1h")
        .otherwise("ge_1h")
    )
    return (
        arr.select("event_type", "late_s", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "q198_debounce_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_type, event_id,
               date_trunc('microseconds', ts) AS ts,
               value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) >= 5
                    THEN 1 ELSE 0 END AS is_leader
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT)        AS n_raw,
           CAST(sum(is_leader) AS BIGINT)  AS n_debounced,
           min(CASE WHEN is_leader = 1 THEN ts END) AS first_kept
    FROM flagged
    GROUP BY user_id, event_type
    HAVING count(*) > sum(is_leader)
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup", "debounce", "window"),
)
def q198_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: within each (user, event_type), an event is kept only
    if it arrives ≥5 s after the previously KEPT-or-seen event — here
    the simpler and shuffle-identical lag-threshold form (an event
    leads a burst if its predecessor is ≥5 s older), reporting
    raw-vs-debounced counts for the keys where debouncing actually
    collapsed bursts. This is the double-click / retry-storm
    suppression every event pipeline runs; q83 is its exact-duplicate
    special case.

    Lateness note: lag vs the previous SEEN event makes a rolling
    burst collapse to one leader even if the burst outlasts 5 s
    end-to-end — the behavior ``dropDuplicatesWithinWatermark`` on a
    coarse time bucket cannot express.

    Scale posture: one shuffle on (user, type) shared by the lag
    window and the rollup; integer-second gaps, so both engines agree
    exactly."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # Whole-second-BOUNDARY crossings (floor(ts)-floor(prev)), matching
    # DuckDB date_diff('second', ...) — flooring the raw µs difference
    # would disagree whenever a burst straddles a second boundary.
    sec = F.expr("unix_micros(ts) div 1000000")
    gap_s = sec - F.lag(sec).over(w)
    flagged = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        "value",
        F.when(
            F.lag("ts").over(w).isNull() | (gap_s >= 5), 1
        ).otherwise(0).alias("is_leader"),
    )
    return (
        flagged.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum("is_leader").cast("long").alias("n_debounced"),
            F.min(F.when(F.col("is_leader") == 1, F.col("ts"))).alias(
                "first_kept"
            ),
        )
        .where(F.col("n_raw") > F.col("n_debounced"))
        .orderBy("user_id", "event_type")
    )


def windowed_type_counts(events: DataFrame, width: str = "6 hours") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@query(
    "q253_stream_dominant_type",
    oracle="""
    WITH counts AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_type, count(*) AS n
        FROM events
        GROUP BY window_start, event_type
    )
    SELECT window_start,
           CAST(tot AS BIGINT) AS n_events,
           event_type          AS top_type,
           CAST(n AS BIGINT)   AS top_n,
           round(n / CAST(tot AS DOUBLE), 6) AS top_share
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type ASC) AS rn,
               sum(n) OVER (PARTITION BY window_start) AS tot
        FROM counts
    )
    WHERE rn = 1
    ORDER BY window_start
    """,
    tags=("streaming", "window", "argmax", "serving"),
)
def q253_stream_dominant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant event type per 6-hour window, with the streaming and
    serving layers split the way a production lambda-free stack splits
    them: the STREAM maintains the (window × type) count table — one
    aggregation, the only kind Structured Streaming allows per query —
    through a real availableNow run into the sink; the serving-layer
    argmax (top type, its count and share per window) is the cheap
    batch rollup any dashboard runs over the sink table. Chaining both
    aggregations into one streaming query is unsupported by design
    (multiple stateful aggs per stream), so the operator demonstrates
    the correct decomposition rather than fighting it.

    Determinism: the argmax is a lexicographic struct-MIN on
    (−count, type) — count ties break to the alphabetically FIRST type
    on both engines (the integer-negation trick; strings cannot
    negate, so the key order inverts instead); shares are one exact
    integer division under round(6).

    Scale posture: stream state is (windows × types) rows, bounded;
    the rollup shuffles the same bounded grain. At 100 TB/day the sink
    is a partitioned table and the rollup prunes to the queried day."""
    sink = run_available_now(
        windowed_type_counts(events_stream(spark, sf_dir)), "complete",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )
    best = F.min(
        F.struct(
            (-F.col("n")).alias("nn"),
            F.col("event_type").alias("t"),
        )
    )
    return (
        sink.groupBy("window_start")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            best.alias("b"),
        )
        .select(
            "window_start",
            "n_events",
            F.col("b.t").alias("top_type"),
            (-F.col("b.nn")).cast("long").alias("top_n"),
            F.round(
                (-F.col("b.nn")) / F.col("n_events").cast("double"), 6
            ).alias("top_share"),
        )
        .orderBy("window_start")
    )


@query(
    "q269_stream_dist_drift",
    oracle="""
    WITH counts AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_type, count(*) AS n
        FROM events
        GROUP BY window_start, event_type
    ),
    wtot AS (
        SELECT window_start, sum(n) AS wn FROM counts GROUP BY window_start
    ),
    gtot AS (
        SELECT event_type, sum(n) AS gn FROM counts GROUP BY event_type
    ),
    g AS (SELECT sum(gn) AS total FROM gtot),
    terms AS (
        SELECT c.window_start, c.event_type, w.wn,
               (CAST(c.n AS DOUBLE) / w.wn)
               * ln((CAST(c.n AS DOUBLE) / w.wn)
                    / (CAST(t.gn AS DOUBLE) / g.total)) AS kl_term
        FROM counts c
        JOIN wtot w ON c.window_start = w.window_start
        JOIN gtot t ON c.event_type = t.event_type
        CROSS JOIN g
    )
    SELECT window_start,
           CAST(max(wn) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(list_reduce(
               list_prepend(0.0, list(kl_term ORDER BY event_type)),
               (a, b) -> a + b), 6) AS kl_drift
    FROM terms
    GROUP BY window_start
    ORDER BY window_start
    """,
    tags=("streaming", "window", "drift", "kl", "monitoring", "serving"),
)
def q269_stream_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: the STREAM maintains the
    (6h window × event type) count table through a real availableNow
    run (q253's one-aggregation-per-stream decomposition); the serving
    layer scores each window's type distribution against the all-time
    distribution with KL divergence — the alert a data-quality monitor
    fires when an ingest hour stops looking like the corpus (upstream
    schema breaks, bot floods, dropped producers all show here first).

    Determinism: both distributions come from exact integer counts in
    the SAME sink table (the global reference is the column-sum of the
    windows, so stream and oracle derive it from identical state);
    each window's KL folds its ≤|types| ln-terms in type order via the
    prepended-zero fold; ln ulps are absorbed by round(6) on a pure
    output.

    Scale posture: stream state is (windows × types) rows, bounded;
    the serving rollup shuffles the same bounded grain twice (window
    totals, global totals — both broadcast back). At production scale
    the reference distribution would pin to a trailing partition of
    the sink rather than all-time; the dataflow is unchanged."""
    # localCheckpoint pins the BOUNDED (windows × types) sink table to
    # a stable lineage: the serving layer joins the table against two
    # of its own rollups, and the memory-sink relation cannot
    # self-join (Spark internal error on ambiguous stream-relation
    # attributes). Eager + bounded grain, so this is a row-count-tiny
    # materialization, not a corpus one.
    sink = run_available_now(
        windowed_type_counts(events_stream(spark, sf_dir)), "complete",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    ).localCheckpoint(eager=True)
    wtot = sink.groupBy("window_start").agg(F.sum("n").alias("wn"))
    gtot = sink.groupBy("event_type").agg(F.sum("n").alias("gn"))
    g = gtot.agg(F.sum("gn").alias("total"))
    terms = (
        sink.join(F.broadcast(wtot), "window_start")
        .join(F.broadcast(gtot), "event_type")
        .crossJoin(F.broadcast(g))
        .select(
            "window_start",
            "event_type",
            "wn",
            (
                (F.col("n").cast("double") / F.col("wn"))
                * F.log(
                    (F.col("n").cast("double") / F.col("wn"))
                    / (F.col("gn").cast("double") / F.col("total"))
                )
            ).alias("kl_term"),
        )
    )
    return (
        terms.groupBy("window_start")
        .agg(
            F.max("wn").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("event_type"), F.col("kl_term"))
                            )
                        ),
                        lambda x: x["kl_term"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("kl_drift"),
        )
        .orderBy("window_start")
    )


@query(
    "q275_stream_left_outer_join",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    wm AS (
        SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
               - INTERVAL 10 MINUTE AS w
    )
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <= p.ts
    UNION ALL
    SELECT p.event_id, p.user_id, p.ts,
           CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
    FROM p CROSS JOIN wm
    WHERE p.ts < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL 1 HOUR
            AND c.ts <= p.ts
      )
    """,
    tags=("streaming", "join", "outer", "watermark"),
)
def q275_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join as a REAL stream: every
    purchase joined to same-user clicks in the preceding hour; purchases
    with NO matching click emit a null-padded row — but only once the
    watermark PROVES no match can still arrive. This is the abandoned-
    attribution shape ("purchases without a preceding click") that an
    inner join (q87) cannot express on a stream.

    Null-emission contract (the part the oracle replays): a left row is
    held in state until the global watermark — min over both streams of
    (max event time − 10 min), because the latest click that can match
    a purchase is at purchase_ts itself — passes purchase_ts; then it
    emits with nulls. Under availableNow, rows whose fate the final
    watermark never settles (purchase_ts ≥ watermark, unmatched) are
    withheld, exactly like q85's open trailing window. Matched rows
    emit eagerly, watermark-independent.

    Scale posture: same bounded-state design as q87 — the range
    condition lets Spark evict both sides at (watermark − interval), so
    state is (1 h + delay) × arrival rate, not the stream's history;
    the outer-ness adds only a per-row matched bit to that state.
    Without the range condition Spark would reject the outer join
    outright rather than buffer forever."""
    joined = _purchase_click_join(spark, sf_dir, "leftOuter").select(
        "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts"
    )
    return run_available_now(
        joined, "append",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )


_SHLL_M = 64  # registers per window


@query(
    "q287_streaming_hll_distinct",
    oracle="""
    WITH keyed AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY AS window_end,
               user_id,
               ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 2))::BIGINT % 64 AS j,
               least(CASE WHEN ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 3, 8))::BIGINT = 0
                          THEN 33
                          ELSE 33 - length(regexp_replace(
                              bin(('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 3, 8))::BIGINT),
                              '^0+', ''))
                     END, 30) AS rho
        FROM events
    ),
    per_reg AS (
        SELECT window_end, j, max(rho) AS mj
        FROM keyed GROUP BY window_end, j
    ),
    state AS (
        SELECT window_end,
               sum(1::BIGINT << (30 - mj))
                   + (64 - count(*)) * (1::BIGINT << 30) AS sum_int,
               64 - count(*) AS v
        FROM per_reg GROUP BY window_end
    ),
    exact AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY AS window_end,
               count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT s.window_end,
           round(CASE WHEN s.v > 0 THEN 64 * ln(64.0 / s.v)
                      ELSE 0.709 * 4096.0 * 1073741824.0 / s.sum_int
                 END, 4) AS hll_estimate,
           CAST(s.v AS INTEGER) AS empty_registers,
           CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
           round((CASE WHEN s.v > 0 THEN 64 * ln(64.0 / s.v)
                       ELSE 0.709 * 4096.0 * 1073741824.0 / s.sum_int
                  END - e.exact_distinct) / e.exact_distinct, 4) + 0.0
               AS rel_error
    FROM state s JOIN exact e ON s.window_end = e.window_end
    WHERE s.window_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    ORDER BY s.window_end
    """,
    tags=("streaming", "sketch", "hll", "distinct", "watermark"),
)
def q287_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per day over a REAL stream via the
    portable 64-register HyperLogLog (q156's register math) folded into
    a SINGLE streaming aggregate: each window's state is 64 register
    maxima (one `max(CASE j)` column each) — constant bytes per window
    regardless of arrival volume — where the exact streaming distinct
    (q172) must hold every key seen. Windows close by watermark (q85's
    append-mode rule); the post-stream batch join audits each estimate
    against the exact per-window distinct.

    Determinism: the hash/register derivation is q156's engine-pinned
    md5 arithmetic (no libm in the register path; the ln on the
    sparse-registers branch takes identical operands on both engines);
    harmonic sums are exact int64; rel_error rounds with signed-zero
    normalization.

    Scale posture: streaming state = windows × 64 small ints, the
    textbook bounded-state sketch; registers merge by MAX so the same
    aggregate shape distributes across partitions (partial maxima
    combine map-side) AND across restarts/backfills — a batch-built
    sketch and a stream-built sketch for the same window are
    interchangeable. The exact audit is the expensive path; production
    keeps only the register aggregate. Reference contract: per-event
    register derivation = map slot (``App.config:16``); register-max
    consolidation = reduce slot (``App.config:17``)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    h = F.md5(F.concat(F.lit("hll|"), F.col("user_id").cast("string")))
    w = hex_int(h, 3, 8)
    keyed = ev.select(
        "ts",
        (hex_int(h, 1, 2) % _SHLL_M).alias("j"),
        F.least(
            F.when(w == 0, F.lit(33)).otherwise(33 - F.length(F.bin(w))),
            F.lit(30),
        ).alias("rho"),
    )
    agg = keyed.groupBy(F.window("ts", "1 day").alias("wnd")).agg(
        *[
            F.max(F.when(F.col("j") == jj, F.col("rho"))).alias(f"m{jj}")
            for jj in range(_SHLL_M)
        ]
    )
    streamed = run_available_now(
        agg.select(F.col("wnd.end").alias("window_end"), *[f"m{j}" for j in range(_SHLL_M)]),
        "append",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )
    regs = F.array(*[F.col(f"m{j}") for j in range(_SHLL_M)])
    # SQL-expr fold: python F.shiftleft only takes a literal bit count,
    # the SQL function takes a column.
    sum_int = F.expr(
        "aggregate(transform(regs, x -> shiftleft(cast(1 as bigint),"
        " 30 - coalesce(x, 0))), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    v = F.size(F.filter(regs, lambda x: x.isNull()))
    est = F.round(
        F.when(F.col("v") > 0, _SHLL_M * F.log(_SHLL_M / F.col("v").cast("double"))).otherwise(
            F.lit(0.709 * 4096.0 * 1073741824.0) / F.col("sum_int")
        ),
        4,
    )
    state = streamed.withColumn("regs", regs).select(
        "window_end", sum_int.alias("sum_int"), v.alias("v")
    )
    events_batch = load_tables(spark, sf_dir)["events"]
    exact = events_batch.groupBy(
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")).alias(
            "window_end"
        )
    ).agg(F.countDistinct("user_id").alias("exact_distinct"))

    return (
        state.withColumn("hll_estimate", est)
        .join(exact, "window_end")
        .select(
            "window_end",
            "hll_estimate",
            F.col("v").cast("int").alias("empty_registers"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            round_nz(
                (F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("window_end")
    )


@query(
    "q301_lambda_reconciliation",
    oracle="""
    WITH batch AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
               count(*)             AS n,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1
    ),
    stream AS (
        SELECT * FROM batch
        WHERE window_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    )
    SELECT b.window_end,
           CAST(s.n AS BIGINT)  AS stream_n,
           CAST(b.n AS BIGINT)  AS batch_n,
           round(b.total_value - coalesce(s.total_value, 0.0), 2) + 0.0
               AS value_delta,
           CASE WHEN s.n IS NULL THEN 'backfilled'
                WHEN s.n = b.n THEN 'match'
                ELSE 'corrected' END AS status
    FROM batch b LEFT JOIN stream s ON b.window_end = s.window_end
    ORDER BY b.window_end
    """,
    tags=("streaming", "lambda", "reconciliation", "backfill", "watermark"),
)
def q301_lambda_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture reconciliation: the SPEED layer is the real
    watermarked streaming aggregate (q85's append-mode hourly windows —
    it can only ever emit windows the watermark has closed); the BATCH
    layer recomputes every window from the full table; the serving
    merge full-outer-joins them and labels each window `match`
    (stream already correct), `backfilled` (watermark had withheld it
    — the trailing open windows), or `corrected` (a late-data
    discrepancy; under availableNow's total replay this state is
    reachable only with a lossy speed layer, which is exactly what the
    audit exists to detect). This is the pattern that lets a 100 TB
    pipeline serve fresh streaming numbers AND converge to batch truth
    nightly.

    Determinism: both layers share q85's exact arithmetic; the
    closure rule is replayed in SQL; value deltas round at 2 with
    signed-zero normalization.

    Scale posture: the stream side is bounded-state windowed
    aggregation (watermark-evicted); the batch side is one
    partial+final aggregate; the reconciliation join runs at WINDOW
    grain (hours, not events). Backfill touches only rows the join
    labels non-match — the q292 selective-restatement discipline
    applied to streaming. Reference contract: the dual map paths are
    the map slot (``App.config:16``); the serving merge = reduce slot
    (``App.config:17``)."""
    stream = run_available_now(
        closed_hour_counts(events_stream(spark, sf_dir)), "append",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    ).select(
        F.col("window_end").alias("s_end"),
        F.col("n").alias("stream_n"),
        F.col("total_value").alias("stream_value"),
    )
    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("batch_n"),
            F.round(F.sum("value"), 2).alias("batch_value"),
        )
        .select(F.col("w.end").alias("window_end"), "batch_n", "batch_value")
    )
    return (
        batch.join(stream, batch["window_end"] == stream["s_end"], "left")
        .select(
            "window_end",
            F.col("stream_n").cast("long").alias("stream_n"),
            F.col("batch_n").cast("long").alias("batch_n"),
            round_nz(
                F.col("batch_value") - F.coalesce("stream_value", F.lit(0.0)), 2
            ).alias("value_delta"),
            F.when(F.col("stream_n").isNull(), "backfilled")
            .when(F.col("stream_n") == F.col("batch_n"), "match")
            .otherwise("corrected")
            .alias("status"),
        )
        .orderBy("window_end")
    )


@query(
    "q304_out_of_order_profile",
    oracle="""
    WITH jit AS (
        SELECT event_type, user_id, ts,
               epoch_us(ts) + ('0x' || substr(md5('arr|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                   % 120000000 AS arrival_us,
               event_id
        FROM events
    ),
    seq AS (
        SELECT event_type, user_id, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY arrival_us, event_id) AS prev_ts
        FROM jit
    ),
    pairs AS (
        SELECT event_type,
               CASE WHEN ts < prev_ts THEN 1 ELSE 0 END AS inv,
               CASE WHEN ts < prev_ts
                    THEN CAST(epoch_us(prev_ts) - epoch_us(ts) AS BIGINT)
                    ELSE 0 END AS backstep_us
        FROM seq WHERE prev_ts IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)  AS n_pairs,
           CAST(sum(inv) AS BIGINT)  AS n_inversions,
           ((2 * sum(inv) * 10000 + count(*)) // (2 * count(*)))
               / 10000.0 AS inversion_rate,
           ((2 * max(backstep_us) * 1000 + 1000000) // 2000000)
               / 1000.0 AS max_backstep_s
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "quality", "disorder", "event-time"),
)
def q304_out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-producer event-time disorder profile: within each (user,
    event_type) stream, arrival order is the event_id sequence; an
    inversion is a consecutive arrival pair whose event time goes
    BACKWARD. Emits per event_type the inversion rate and the worst
    backstep in seconds — the ingestion-quality numbers that tell you
    whether a source needs a watermark at all and roughly how rough it
    is (q192 measures lateness against a CHOSEN watermark; this
    measures the disorder itself, and q305 turns it into a delay
    recommendation).

    Determinism: inversions are exact timestamp comparisons; backsteps
    are integer microsecond differences.

    Scale posture: the lag runs per (user, event_type) — producer
    grain, the natural partitioning of arrival sequences, never a
    global window — and rolls up with partial+final aggregation to
    |event_types| rows. Reference contract: per-producer sequencing =
    map slot (``App.config:16``); profile consolidation = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    arrival = F.unix_micros("ts") + _arrival_key() % 120000000
    jit = events.select(
        "event_type", "user_id", "ts", "event_id", arrival.alias("arrival_us")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "arrival_us", "event_id"
    )
    seq = jit.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).where(F.col("prev_ts").isNotNull())
    inv = F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)
    backstep = F.when(
        F.col("ts") < F.col("prev_ts"),
        F.unix_micros("prev_ts") - F.unix_micros("ts"),
    ).otherwise(F.lit(0))
    return (
        seq.select("event_type", inv.alias("inv"), backstep.alias("backstep_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("inv").cast("long").alias("n_inversions"),
            half_up_ratio(F.sum("inv"), F.count(F.lit(1)), 4).alias(
                "inversion_rate"
            ),
            half_up_ratio(F.max("backstep_us"), F.lit(1000000), 3).alias(
                "max_backstep_s"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q305_watermark_delay_recommendation",
    oracle="""
    WITH jit AS (
        SELECT epoch_us(ts) AS ts_us,
               epoch_us(ts) + ('0x' || substr(md5('arr|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                   % 120000000 AS arrival_us,
               event_id
        FROM events
    ),
    arr AS (
        SELECT ts_us,
               max(ts_us) OVER (
                   ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
        FROM jit
    ),
    late AS (
        SELECT greatest(mx - ts_us, 0) AS late_us,
               row_number() OVER (ORDER BY greatest(mx - ts_us, 0), ts_us)
                   AS rn,
               count(*) OVER () AS n
        FROM arr
    ),
    pos AS (
        SELECT q.label, q.num, q.den,
               (n * q.num + q.den - 1) // q.den AS p, n
        FROM (VALUES ('p50', 1, 2), ('p95', 19, 20), ('p99', 99, 100),
                     ('max', 1, 1)) AS q(label, num, den)
        CROSS JOIN (SELECT any_value(n) AS n FROM late) t
    )
    SELECT pos.label AS quantile,
           CAST(pos.p AS BIGINT) AS rank_pos,
           round(l.late_us / 1000000.0, 3) AS delay_s
    FROM pos JOIN late l ON l.rn = pos.p
    ORDER BY pos.p
    """,
    tags=("streaming", "watermark", "tuning", "rank", "scale"),
)
def q305_watermark_delay_recommendation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark delay recommendation from observed arrival disorder:
    each event's lateness-at-arrival is (max event time seen so far in
    arrival order) − (its own event time) — exactly the quantity a
    watermark with delay d forgives when ≤ d (arrival order = event
    time + the same deterministic ≤ 120 s delivery jitter as q304) — and the recommended
    delay is its p50/p95/p99/max. Pick p99 and the q85/q275 pipelines
    drop ~1% of stragglers; pick max and nothing is ever late at the
    cost of that much extra state and latency. This turns q304's
    descriptive disorder into the actual tuning number.

    Determinism: lateness is integer microsecond arithmetic; quantile
    positions are ⌈q·n⌉ integer ranks with a (late_us, ts_us)
    tie-break; output rounds at 3.

    Scale posture: the running maximum over arrival order rides
    `distributed_running_extremum` (range shuffle + partition-local
    prefix max + ≤32-row offset broadcast — no global window), and the
    quantile lookup rides `distributed_row_number` (q249's shape):
    BOTH sample-sort primitives compose, every stage parallel, on an
    operation that naively needs two global sorts. Reference contract:
    per-event lateness = map slot (``App.config:16``); quantile
    consolidation = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    arrival = F.unix_micros("ts") + _arrival_key() % 120000000
    arr = distributed_running_extremum(
        events.select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            arrival.alias("arrival_us"),
        ),
        [F.col("arrival_us").asc(), F.col("event_id").asc()],
        {"mx": "ts_us"},
        fn="max",
        inclusive=True,
    )
    late = arr.select(
        F.greatest(F.col("mx") - F.col("ts_us"), F.lit(0)).alias("late_us"),
        "ts_us",
    )
    ranked = distributed_row_number(
        late, [F.col("late_us").asc(), F.col("ts_us").asc()], out="rn"
    )
    n = late.agg(F.count(F.lit(1)).alias("n"))
    fracs = spark.createDataFrame(
        [("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100), ("max", 1, 1)],
        "label string, num int, den int",
    )
    pos = fracs.crossJoin(F.broadcast(n)).select(
        "label",
        _idiv(F.col("n") * F.col("num") + F.col("den") - 1, F.col("den")).alias(
            "p"
        ),
    )
    return (
        ranked.join(F.broadcast(pos), ranked["rn"] == pos["p"])
        .select(
            F.col("label").alias("quantile"),
            F.col("p").cast("long").alias("rank_pos"),
            F.round(F.col("late_us") / 1000000.0, 3).alias("delay_s"),
        )
        .orderBy("rank_pos")
    )


@query(
    "q364_stream_full_outer_join",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    wm AS (
        SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
               - INTERVAL 10 MINUTE AS w
    )
    SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts,
           p.user_id AS user_id
    FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <= p.ts
    UNION ALL
    SELECT p.event_id, p.ts, CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
           p.user_id
    FROM p CROSS JOIN wm
    WHERE p.ts < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      )
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), c.event_id, c.ts,
           c.user_id
    FROM c CROSS JOIN wm
    WHERE c.ts + INTERVAL 1 HOUR < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
    """,
    tags=("streaming", "join", "full-outer", "watermark"),
)
def q364_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last cell of the
    streaming join matrix (inner q87, left outer q275): purchases
    match same-user clicks in the preceding hour; purchases with no
    click AND clicks never followed by a purchase within an hour both
    emit null-padded rows once the watermark proves their fate. The
    two null populations are different products (abandoned-attribution
    vs dead-end-engagement) out of ONE stateful operator.

    Null-emission contract (both replayed exactly by the batch
    oracle against the final availableNow watermark W = min over both
    streams of max event time − 10 min): a purchase settles unmatched
    when W > purchase_ts (its latest possible click is at purchase_ts
    itself); a click settles unmatched only when W > click_ts + 1 h
    (a matching purchase may arrive up to an hour later) — the
    asymmetry IS the interval condition, and rows W never settles are
    withheld (q85's open-window rule). Matched rows emit eagerly.

    Scale posture: identical bounded state to q275 — the range
    condition lets Spark evict each side at (watermark − interval),
    so state is (1 h + delay) × arrival rate per side plus a matched
    bit; without the range bounds Spark rejects the outer join rather
    than buffer history. Reference contract: the two per-event
    streams are map-slot fan-outs; the watermark-settled merge is the
    reduce slot (``App.config:16-17``)."""
    joined = _purchase_click_join(spark, sf_dir, "fullOuter").select(
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        F.coalesce("user_id", "c_user_id").alias("user_id"),
    )
    return run_available_now(
        joined, "append",
        shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
    )


# ---- multi-source streaming union (q406) ----

@query(
    "q406_multi_source_stream_union",
    oracle="""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*)             AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_end, event_type, n, total_value
    FROM agg
    WHERE window_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tags=("streaming", "union", "multi-source", "watermark"),
)
def q406_multi_source_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way STREAMING union: three independent file-source streams
    (the event log sharded by ``event_id % 3`` into three source
    directories — three ingest feeds of one logical stream) merged
    with ``unionByName`` under ONE event-time watermark, then a
    watermarked 1-hour tumbling aggregate per event_type. The single
    ``withWatermark`` sits ABOVE the union, so the watermark advances
    on the merged stream's global max event time — deliberately NOT
    one watermark per source, which Spark would combine under the
    ``multipleWatermarkPolicy`` default as the min over sources and a
    lagging shard would then hold every window open. Emission follows
    q85's closure rule (append mode: a window emits once
    window_end ≤ final watermark = global max ts − 10 min; the
    trailing open windows are withheld), replayed exactly by the
    oracle.

    Determinism: the shard assignment is a pure function of event_id;
    the union is a bag merge feeding a commutative aggregate, so shard
    order never matters; counts are exact integers.

    Scale posture: each source directory lists and reads its own files
    in parallel (this is the N-feed ingest shape — per-region or
    per-producer directories); union is a no-shuffle plan node; the
    windowed aggregate is partial+final on (window, event_type) with
    watermark-bounded state. Reference contract: the reference fans
    out one task per input blob under a single job barrier
    (``Program.cs`` task-per-file submission); N source dirs merging
    into one watermark is that fan-in expressed as a continuous
    stream."""
    # atexit-registered scratch + try/finally: every exit path (success,
    # stream timeout, any other raise) removes the feed dirs instead of
    # leaking them.
    d = scratch_dir("abmr-union-")
    try:
        ev = load_tables(spark, sf_dir)["events"].select(
            "event_id", "event_type", "ts", "value"
        )
        srcs = []
        for i in range(3):
            src = os.path.join(d, f"feed{i}")
            ev.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(src)
            srcs.append(src)
        schema = parquet_schema(srcs[0])

        merged = None
        for src in srcs:
            s = spark.readStream.schema(schema).parquet(src)
            merged = s if merged is None else merged.unionByName(s)

        result = run_available_now(
            closed_hour_counts(merged, "event_type"), "append",
            shuffle_partitions=stream_shuffle_partitions(spark, sf_dir),
        )
        # Window-grain result; materialize so the scratch feeds can go.
        rows = result.collect()
        return spark.createDataFrame(
            rows,
            "window_end timestamp, event_type string, n long,"
            " total_value double",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q465: DYNAMIC-GAP session windows (per-key gap expression) ------------


@query(
    "q465_dynamic_gap_session_window",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN user_id % 2 = 0 THEN INTERVAL 30 MINUTE
                    ELSE INTERVAL 10 MINUTE END AS gap
        FROM events
    ),
    x AS (
        SELECT user_id, ts, value, gap,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > gap
                    THEN 1 ELSE 0 END AS new_sess
        FROM g
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, value ASC)
    ),
    y AS (
        SELECT *, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM x
    )
    SELECT user_id,
           min(ts)            AS session_start,
           max(ts) + max(gap) AS session_end,
           count(*)           AS n_events,
           round(sum(value), 2) AS total_value
    FROM y
    GROUP BY user_id, sess_id
    """,
    tags=("streaming", "session", "dynamic-gap"),
)
def q465_dynamic_gap_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session windows with a DYNAMIC, per-key inactivity gap — the
    session-window variant q82's fixed 30-minute gap doesn't cover
    (Spark 3.2+: ``session_window(ts, gap_expression)``, the API a
    production sessionizer uses when engagement tiers time out
    differently): even users close after 30 idle minutes, odd users
    after 10. Shorter gaps split odd users' activity into MORE
    sessions — the oracle replays the same rule with a per-user gap
    in the gaps-and-islands idiom (session_end = last event + that
    user's gap, exactly Spark's session_window end).

    Determinism: gap choice is integer parity; session membership
    compares exact µs timestamps; value sums round at 2 (the fixture
    generates 2dp values — exact in both engines' doubles at this
    magnitude, the q80 family's rule).

    Scale posture: one hash exchange on user_id (the same shuffle
    fixed-gap sessionization pays — the gap expression evaluates
    map-side per row); state per open session is O(1). Works
    identically under structured streaming with a watermark (the
    fixed-gap streamed drill is q84/q405's family; this row pins the
    gap-EXPRESSION surface). Reference contract: per-event gap
    tagging = map slot (``App.config:16``); session merge = reduce
    slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    gap = F.when(F.col("user_id") % 2 == 0, F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
