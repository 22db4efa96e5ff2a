"""Incremental streaming sinks: foreachBatch merge-upsert into a
versioned parquet target.

The reference's sink is upload-on-task-completion into a flat container
(``Program.cs:339-345``); its reduce slot is a user-pluggable
consolidation (``App.config:17``). The streaming engine's analog is
``foreachBatch``: arbitrary batch logic applied transactionally per
micro-batch — here, MERGE-by-argmax into a keyed target table, the
standard CDC/materialized-view maintenance pattern.

Scale notes: per batch, the work is one window argmax over the BATCH
(small by construction — micro-batches are bounded by trigger sizing)
plus one union+argmax against the target keyed state. On a table format
(Delta/Iceberg) the rewrite becomes a real MERGE INTO with file-level
pruning; on bare parquet we version directories and atomically advance a
pointer, which is exactly the commit-protocol shape those formats
implement properly. State per key is one row — bounded like q84's
sessionization state.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import (
    align_session_for_oracle,
    load_tables,
    normalize_event_ts,
    parquet_schema,
    read_table,
    scratch_dir,
)
from azure_batch_map_reduce_spark.registry import query


def latest_per_user(df: DataFrame) -> DataFrame:
    """Argmax by (ts, event_id) per user — deterministic under any
    row order, so the merged result is independent of how the stream
    was split into micro-batches."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@query(
    "q122_streaming_upsert",
    oracle="""
    SELECT user_id,
           event_type AS last_event_type,
           round(value, 2) AS last_value,
           ts AS last_ts
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id
            ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC
        ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    tags=("streaming", "sink", "upsert", "cdc"),
)
def q122_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merge-upsert sink, run as a REAL stream: the events
    fixture is fragmented into 8 files, consumed one file per
    micro-batch (``maxFilesPerTrigger=1``), and each batch is MERGEd
    into a per-user latest-state table via ``foreachBatch`` —
    union + argmax, so a batch carrying older events than the current
    state never regresses it. After ``availableNow`` drains the
    source, the final state must equal the batch argmax over ALL
    events regardless of the file/batch split — which is exactly what
    the oracle checks."""
    import glob
    import os

    align_session_for_oracle(spark)  # caller-owned sessions may be non-UTC
    d = scratch_dir("abmr-stream-upsert-")
    src = os.path.join(d, "src")
    tgt = os.path.join(d, "target")

    # Fragment the fixture so availableNow yields MULTIPLE micro-batches.
    raw = read_table(spark, os.path.join(sf_dir, "events.parquet"))
    raw.repartition(8).write.parquet(src)
    schema = parquet_schema(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream = normalize_event_ts(stream)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        incoming = latest_per_user(batch)
        versions = sorted(glob.glob(f"{tgt}_v*"))
        if versions:
            current = batch.sparkSession.read.parquet(versions[-1])
            merged = latest_per_user(current.unionByName(incoming))
        else:
            merged = incoming
        # New version dir per commit: readers never see a half-written
        # overwrite (the bare-parquet stand-in for a table-format commit).
        merged.write.mode("errorifexists").parquet(f"{tgt}_v{batch_id:05d}")

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("q122 upsert stream did not finish within 300 s")

    final = sorted(glob.glob(f"{tgt}_v*"))[-1]
    return spark.read.parquet(final).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


_ISL_DUP_MOD = 7     # event_id % MOD == 3 is redelivered (at-least-once)
_ISL_BATCH_W = 1000  # synthetic micro-batch width in event_ids


@query(
    "q402_idempotent_sink_ledger",
    oracle=f"""
    WITH deliveries AS (
        SELECT event_id, event_id // {_ISL_BATCH_W} AS batch_id,
               1 AS delivery_no
        FROM events
        UNION ALL
        SELECT event_id, event_id // {_ISL_BATCH_W} AS batch_id,
               2 AS delivery_no
        FROM events WHERE event_id % {_ISL_DUP_MOD} = 3
    ),
    ledger AS (
        SELECT batch_id, event_id,
               min(delivery_no) AS first_delivery,
               count(*) AS n_deliveries
        FROM deliveries GROUP BY batch_id, event_id
    )
    SELECT batch_id,
           CAST(sum(n_deliveries) AS BIGINT) AS n_deliveries,
           CAST(count(*) AS BIGINT) AS n_accepted,
           CAST(sum(n_deliveries - 1) AS BIGINT) AS n_dup_rejected,
           sum(n_deliveries - 1) = 0 AS exactly_once_clean
    FROM ledger
    GROUP BY batch_id
    ORDER BY batch_id
    """,
    tags=("streaming", "sink", "exactly-once", "idempotence", "audit"),
)
def q402_idempotent_sink_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent-sink ledger accounting under at-least-once delivery:
    the event stream replays with a deterministic redelivery slice
    (event_id % 7 = 3 arrives twice), the sink's dedup ledger accepts
    only each key's FIRST delivery, and the audit reports per
    micro-batch how many deliveries arrived, were accepted, and were
    rejected as duplicates — the exactly-once-over-at-least-once
    arithmetic every foreachBatch sink (q84's merge-upsert, this
    module's versioned-parquet MERGE) must get right, surfaced as a
    checkable table instead of trusted silently.

    Determinism: the redelivery set and batch assignment are integer
    arithmetic on event_id; all tallies are exact counts.

    Scale posture: ledger state is one row per (batch, key) — the
    same bounded-per-key shape as the streaming dedup operator
    (q83) — built by ONE partial+final aggregate; the per-batch audit
    is a second bounded rollup. In production the ledger is the
    sink-side keyed state store; here it materializes as a frame so
    the oracle can replay it. Reference contract: delivery emission =
    map slot (``App.config:16``); ledger rollup = reduce slot
    (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"].select("event_id")
    once = ev.select(
        "event_id",
        F.expr(f"event_id div {_ISL_BATCH_W}").alias("batch_id"),
        F.lit(1).alias("delivery_no"),
    )
    again = (
        ev.where(F.col("event_id") % _ISL_DUP_MOD == 3)
        .select(
            "event_id",
            F.expr(f"event_id div {_ISL_BATCH_W}").alias("batch_id"),
            F.lit(2).alias("delivery_no"),
        )
    )
    ledger = (
        once.unionAll(again)
        .groupBy("batch_id", "event_id")
        .agg(
            F.min("delivery_no").alias("first_delivery"),
            F.count(F.lit(1)).alias("n_deliveries"),
        )
    )
    return (
        ledger.groupBy("batch_id")
        .agg(
            F.sum("n_deliveries").cast("long").alias("n_deliveries"),
            F.count(F.lit(1)).cast("long").alias("n_accepted"),
            F.sum(F.col("n_deliveries") - 1)
            .cast("long")
            .alias("n_dup_rejected"),
            (F.sum(F.col("n_deliveries") - 1) == 0).alias(
                "exactly_once_clean"
            ),
        )
        .orderBy("batch_id")
    )

def run_idempotent_ledger_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> DataFrame:
    """q402's exactly-once ledger driven by a REAL ``writeStream``:
    the at-least-once delivery stream (every event once, the
    ``event_id % 7 = 3`` slice redelivered) is fragmented into files,
    consumed one file per micro-batch under ``availableNow``, and a
    ``foreachBatch`` sink maintains a durable key ledger — each batch
    accepts only event_ids absent from the ledger (plus within-batch
    dedup) and appends a per-micro-batch audit row. The versioned
    ledger write mirrors q122's commit protocol (new directory per
    version, pointer = latest): readers never observe a torn state.

    Returns the audit frame (micro_batch_id, n_deliveries, n_accepted,
    n_dup_rejected); its FINAL row is a crash-replay drill — the full
    delivery log re-offered as one batch after a simulated checkpoint
    loss, which the ledger must absorb with zero acceptances. Whatever
    the file→batch split, the stream rows' TOTALS must equal q402's
    batch-shaped arithmetic — duplicates land in the same batch
    (within-batch dedup) or a later one (ledger anti-join), and
    exactly one delivery per key survives. Pinned in
    ``tests/test_streaming.py::test_q402_stream_ledger_is_exactly_once``.

    Scale posture: ledger state is one key column, partitioned on
    event_id; the anti-join co-partitions batch-vs-ledger; the audit
    is driver-side only at (n_batches) grain. On a table format the
    version directories become a MERGE-on-key with file pruning."""
    import glob
    import os

    # atexit-registered scratch (plus try/finally below) — any raise out
    # of the stream/replay/audit phases removes the tree instead of
    # leaking it.
    d = scratch_dir("abmr-ledger-stream-")
    src = os.path.join(d, "src")
    led = os.path.join(d, "ledger")
    audit_dir = os.path.join(d, "audit")
    os.makedirs(audit_dir)

    try:
        ev = load_tables(spark, sf_dir)["events"].select("event_id")
        deliveries = ev.select(
            "event_id", F.lit(1).alias("delivery_no")
        ).unionAll(
            ev.where(F.col("event_id") % _ISL_DUP_MOD == 3).select(
                "event_id", F.lit(2).alias("delivery_no")
            )
        )
        deliveries.repartition(n_files).write.parquet(src)
        schema = parquet_schema(src)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def ledger_batch(batch: DataFrame, batch_id: int) -> None:
            s = batch.sparkSession
            n_deliveries = batch.count()
            incoming = batch.select("event_id").dropDuplicates(["event_id"])
            versions = sorted(glob.glob(f"{led}_v*"))
            if versions:
                seen = s.read.parquet(versions[-1])
                accepted = incoming.join(seen, "event_id", "left_anti")
                new_ledger = seen.unionAll(accepted)
            else:
                accepted = incoming
                new_ledger = accepted
            n_accepted = accepted.count()
            new_ledger.write.mode("errorifexists").parquet(
                f"{led}_v{batch_id:05d}"
            )
            s.createDataFrame(
                [
                    (
                        batch_id,
                        n_deliveries,
                        n_accepted,
                        n_deliveries - n_accepted,
                    )
                ],
                "micro_batch_id long, n_deliveries long, n_accepted long,"
                " n_dup_rejected long",
            ).write.mode("append").parquet(audit_dir)

        q = (
            stream.writeStream.foreachBatch(ledger_batch)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        # A stalled availableNow stream would otherwise fall through and
        # run the replay drill + audit read against PARTIAL ledger state —
        # fail loudly instead (awaitTermination returns False on timeout).
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError(
                "q402 ledger stream did not finish within 300 s"
            )
        # Crash-replay drill: a restarted job whose checkpoint was lost
        # redelivers EVERYTHING. Push the full delivery log through the
        # same ledger merge as one more batch — exactly-once means the
        # ledger absorbs it with zero new acceptances, which the audit's
        # final row records (and the test asserts).
        ledger_batch(spark.read.parquet(src), 1_000_000)
        # Materialize the audit (n_batches-grain, tiny) so the scratch
        # tree can be deleted before returning a frame that no longer
        # reads it.
        rows = (
            spark.read.parquet(audit_dir).orderBy("micro_batch_id").collect()
        )
        return spark.createDataFrame(
            rows,
            "micro_batch_id long, n_deliveries long, n_accepted long,"
            " n_dup_rejected long",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
