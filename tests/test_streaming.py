"""Structured Streaming tests: the batch-checked transformations from
streaming/windows.py run as real streams (availableNow trigger → memory
sink) and agree with their batch results; plus watermark late-data
semantics, streaming dedup, and arbitrary stateful processing.
"""

from __future__ import annotations

import shutil
import uuid

import pandas as pd
import pytest

from pyspark.sql import functions as F

from azure_batch_map_reduce_spark.catalog import (
    align_session_for_oracle,
    load_tables,
    normalize_event_ts,
    table_path,
)
from azure_batch_map_reduce_spark.streaming.windows import (
    session_aggregate,
    sliding_counts,
    tumbling_counts,
)


def _events_stream(spark, sf_dir, src_dir):
    """File-source stream over a copy of events.parquet (ts → µs UTC)."""
    align_session_for_oracle(spark)
    raw_schema = spark.read.parquet(src_dir).schema
    sdf = spark.readStream.schema(raw_schema).parquet(src_dir)
    return normalize_event_ts(sdf)


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    d = tmp_path / "events_src"
    d.mkdir()
    shutil.copy(table_path(sf_dir, "events"), d / "part-0.parquet")
    return str(d)


def _run_to_table(spark, df, mode: str) -> pd.DataFrame:
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name).toPandas()


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def test_stream_tumbling_equals_batch(spark, sf_dir, events_dir):
    stream_out = _run_to_table(
        spark, tumbling_counts(_events_stream(spark, sf_dir, events_dir)), "complete"
    )
    batch_out = tumbling_counts(load_tables(spark, sf_dir)["events"]).toPandas()
    pd.testing.assert_frame_equal(_sorted(stream_out), _sorted(batch_out))


def test_stream_sliding_equals_batch(spark, sf_dir, events_dir):
    stream_out = _run_to_table(
        spark, sliding_counts(_events_stream(spark, sf_dir, events_dir)), "complete"
    )
    batch_out = sliding_counts(load_tables(spark, sf_dir)["events"]).toPandas()
    pd.testing.assert_frame_equal(_sorted(stream_out), _sorted(batch_out))


def test_stream_session_window_equals_batch(spark, sf_dir, events_dir):
    ev = _events_stream(spark, sf_dir, events_dir).withWatermark("ts", "1 hour")
    stream_out = _run_to_table(spark, session_aggregate(ev), "complete")
    batch_out = session_aggregate(load_tables(spark, sf_dir)["events"]).toPandas()
    pd.testing.assert_frame_equal(_sorted(stream_out), _sorted(batch_out))


def test_watermark_append_drops_tail_windows(spark, sf_dir, events_dir):
    """Append mode emits only windows closed w.r.t. the watermark: with
    one availableNow batch the final watermark is max(ts) - delay, so
    exactly the windows ending at-or-before it appear."""
    ev = _events_stream(spark, sf_dir, events_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("window_end"), "n")
    )
    out = _run_to_table(spark, agg, "append")

    batch_ev = load_tables(spark, sf_dir)["events"]
    max_ts = batch_ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        batch_ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("window_end"), "n")
        .toPandas()
    )
    watermark = pd.Timestamp(max_ts) - pd.Timedelta(minutes=10)
    expected = batch[batch["window_end"] <= watermark]
    assert len(out) == len(expected) > 0
    pd.testing.assert_frame_equal(_sorted(out), _sorted(expected))


def test_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """Duplicate arrivals (same file twice) collapse to one row per
    event_id under dropDuplicatesWithinWatermark."""
    d = tmp_path / "dup_src"
    d.mkdir()
    shutil.copy(table_path(sf_dir, "events"), d / "part-0.parquet")
    shutil.copy(table_path(sf_dir, "events"), d / "part-1.parquet")
    sdf = _events_stream(spark, sf_dir, str(d)).withWatermark("ts", "1 hour")
    deduped = sdf.dropDuplicatesWithinWatermark(["event_id"]).select("event_id")
    out = _run_to_table(spark, deduped, "append")
    n_unique = load_tables(spark, sf_dir)["events"].count()
    assert len(out) == n_unique
    assert out["event_id"].is_unique


def test_apply_in_pandas_with_state(spark, sf_dir, events_dir):
    """Arbitrary stateful op: per-user event counter via
    applyInPandasWithState matches the batch groupBy count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [user_id], "n": [n]})

    ev = _events_stream(spark, sf_dir, events_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(spark, counted, "update")
    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    pd.testing.assert_frame_equal(_sorted(out), _sorted(batch))


# One user's events, given out of order: a (ts) tie broken by event_id,
# gaps under, exactly at and over the 30-minute session gap, and values
# that sum exactly in binary floating point in any grouping.
_FOLD_EVENTS = pd.DataFrame(
    {
        "user_id": 7,
        "event_id": range(1, 11),
        "ts": [
            pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=m, microseconds=3)
            for m in (0, 10, 10, 45, 80, 81.5, 200, 229, 259, 300)
        ],
        "value": [1.5, 0.5, 2.75, 4.0, 1.25, 3.5, 2.0, 0.75, 0.25, 5.25],
    }
).iloc[[8, 0, 2, 1, 3, 4, 5, 7, 6, 9]]


def _final_sessions(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """The snapshot contract: the latest row per session start wins."""
    out = pd.concat(frames, ignore_index=True)
    out = out.drop_duplicates("session_start", keep="last")
    return out.sort_values("session_start", ignore_index=True)


def test_session_fold_carries_state_through_both_encodings():
    """Both state APIs run one session fold and one running-stats fold.
    Splitting the events into two batches at any index, and carrying
    the open session through either API's state encoding, gives the
    same final sessions as one batch; q86's running stats likewise."""
    from azure_batch_map_reduce_spark.streaming.stateful import (
        _from_us_state,
        _ordered_events,
        _session_fold,
        _sessions_frame,
        _stats_fold,
        _stats_frame,
        _ts_state,
        _us_state,
    )

    def group_state(session):
        # GroupState.get hands timestamps back as Python datetimes.
        return tuple(
            v.to_pydatetime() if isinstance(v, pd.Timestamp) else v
            for v in _ts_state(session)
        )

    def typed_state(session):
        return _from_us_state(_us_state(session))

    ordered = _ordered_events([_FOLD_EVENTS.iloc[5:], _FOLD_EVENTS.iloc[:5]])
    assert ordered["event_id"].tolist() == list(range(1, 11))
    one, _ = _session_fold(ordered, None)
    whole = _final_sessions([_sessions_frame(7, one)])
    assert whole["n_events"].tolist() == [3, 1, 2, 3, 1]
    stats = _stats_frame(7, _stats_fold([_FOLD_EVENTS], None))

    for k in range(1, len(ordered)):
        first, second = ordered.iloc[:k], ordered.iloc[k:]
        for carry in (group_state, typed_state):
            s1, open1 = _session_fold(_ordered_events([first]), None)
            s2, _ = _session_fold(_ordered_events([second]), carry(open1))
            got = _final_sessions([_sessions_frame(7, s1), _sessions_frame(7, s2)])
            pd.testing.assert_frame_equal(got, whole, obj=f"{carry.__name__} split {k}")
        split = _stats_fold([second], _stats_fold([first], None))
        pd.testing.assert_frame_equal(_stats_frame(7, split), stats)


def test_rate_source_produces_rows(spark):
    """The built-in rate source (synthetic benchmark stream): a bounded
    availableNow-style read via processing a couple of micro-batches."""
    import time
    import uuid

    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        out = spark.table(name)
        assert out.count() > 0
        assert set(out.columns) == {"timestamp", "value"}
    finally:
        q.stop()


def test_stream_windowed_distinct_equals_batch(spark, sf_dir, events_dir):
    from azure_batch_map_reduce_spark.streaming.windows import (
        windowed_distinct_users,
    )

    ev = _events_stream(spark, sf_dir, events_dir).withWatermark("ts", "1 day")
    stream_out = _run_to_table(spark, windowed_distinct_users(ev), "complete")
    batch_out = windowed_distinct_users(
        load_tables(spark, sf_dir)["events"]
    ).toPandas()
    pd.testing.assert_frame_equal(_sorted(stream_out), _sorted(batch_out))


def test_duckdb_struct_pack_lambda_shadowing():
    """Pin the DuckDB quirk q267's oracle works around: in a
    list_reduce lambda whose struct_pack fields cross-reference the
    accumulator, a later field can observe an earlier field's
    ALREADY-REWRITTEN value (observed on DuckDB 1.0.0 with the
    token-bucket shape below: the n-field's condition reads the new
    `tokens`, losing an increment). If this ever returns n=2 (the
    correct fold), DuckDB fixed the lambda scoping and the
    list-accumulator workaround can revert to a readable struct."""
    import duckdb

    got = duckdb.sql(
        """
        SELECT list_reduce(
            list_prepend(struct_pack(t := CAST(0 AS BIGINT),
                                     tokens := CAST(20 AS BIGINT),
                                     n := CAST(0 AS BIGINT)),
                         [struct_pack(t := CAST(0 AS BIGINT),
                                      tokens := CAST(0 AS BIGINT),
                                      n := CAST(0 AS BIGINT)),
                          struct_pack(t := CAST(1 AS BIGINT),
                                      tokens := CAST(0 AS BIGINT),
                                      n := CAST(0 AS BIGINT))]),
            (acc, x) -> struct_pack(
                t := x.t,
                tokens := CASE WHEN least(CAST(20 AS BIGINT),
                                          acc.tokens + (x.t - acc.t)) >= 10
                               THEN least(CAST(20 AS BIGINT),
                                          acc.tokens + (x.t - acc.t)) - 10
                               ELSE least(CAST(20 AS BIGINT),
                                          acc.tokens + (x.t - acc.t)) END,
                n := acc.n + CASE WHEN least(CAST(20 AS BIGINT),
                                             acc.tokens + (x.t - acc.t)) >= 10
                                  THEN 1 ELSE 0 END))
        """
    ).fetchone()[0]
    assert got["tokens"] == 1  # the tokens chain itself is right
    assert got["n"] == 1, (
        "DuckDB struct_pack lambda scoping changed — revisit q267 oracle"
    )

    # The list-literal accumulator sees the unmodified acc throughout:
    # same fold, correct n=2.
    got2 = duckdb.sql(
        """
        SELECT list_reduce(
            list_prepend([CAST(0 AS BIGINT), CAST(20 AS BIGINT),
                          CAST(0 AS BIGINT)],
                         [[CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                           CAST(0 AS BIGINT)],
                          [CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                           CAST(0 AS BIGINT)]]),
            (acc, x) -> [
                x[1],
                CASE WHEN least(CAST(20 AS BIGINT),
                                acc[2] + (x[1] - acc[1])) >= 10
                     THEN least(CAST(20 AS BIGINT),
                                acc[2] + (x[1] - acc[1])) - 10
                     ELSE least(CAST(20 AS BIGINT),
                                acc[2] + (x[1] - acc[1])) END,
                acc[3] + CASE WHEN least(CAST(20 AS BIGINT),
                                         acc[2] + (x[1] - acc[1])) >= 10
                              THEN 1 ELSE 0 END])
        """
    ).fetchone()[0]
    assert got2 == [1, 1, 2]


def test_q402_stream_ledger_is_exactly_once(spark, sf_dir):
    """r5 verdict task 6: q402's ledger driven by a REAL writeStream
    (foreachBatch, availableNow, one file per micro-batch). Whatever
    the file→batch split, the totals must equal the batch-shaped q402
    arithmetic: every event accepted exactly once, every redelivery
    rejected (same batch via within-batch dedup, later batch via the
    ledger anti-join)."""
    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.streaming.sinks import (
        run_idempotent_ledger_stream,
    )

    audit = run_idempotent_ledger_stream(spark, sf_dir).collect()
    # Final row is the crash-replay drill: every delivery re-offered
    # at once after a simulated checkpoint loss.
    replay, audit = audit[-1], audit[:-1]
    assert len(audit) > 1, "availableNow produced a single micro-batch"
    ev = load_tables(spark, sf_dir)["events"].select("event_id")
    n_events = ev.count()
    n_dups = ev.where(F.col("event_id") % 7 == 3).count()
    assert sum(r["n_accepted"] for r in audit) == n_events
    assert sum(r["n_dup_rejected"] for r in audit) == n_dups
    assert sum(r["n_deliveries"] for r in audit) == n_events + n_dups
    for r in audit:
        assert r["n_accepted"] + r["n_dup_rejected"] == r["n_deliveries"]
    assert replay["n_accepted"] == 0, "replay after checkpoint loss re-accepted keys"
    assert replay["n_dup_rejected"] == n_events + n_dups


def test_q405_restart_spans_checkpoint(spark, sf_dir):
    """Non-degeneracy for the restart drill: at least one session must
    genuinely SPAN the _restart_cut_us crash point (events on both sides),
    otherwise the restart never has carried state to restore and the
    oracle match is vacuous. Also asserts the restarted run extended a
    carried session rather than re-emitting phase-1 snapshots: a
    spanning session's final row must end AFTER the cut while starting
    at or before it."""
    from azure_batch_map_reduce_spark.streaming.stateful import (
        _restart_cut_us,
        q405_stream_restart_from_checkpoint,
    )

    ev = load_tables(spark, sf_dir)["events"]
    cut_us = _restart_cut_us(ev)

    final = q405_stream_restart_from_checkpoint(spark, sf_dir)
    spanning = final.where(
        (F.unix_micros("session_start") <= cut_us)
        & (F.unix_micros("session_end") > cut_us)
    ).count()
    assert spanning >= 1, "no session spans the restart cut — drill is vacuous"


def test_q406_union_withholds_open_windows(spark, sf_dir):
    """Non-degeneracy for the N-way streaming union: the merged stream
    must produce a non-empty multi-event-type result AND withhold at
    least one trailing open window relative to the unwatermarked batch
    aggregate — proving the single above-union watermark actually
    gated emission (not one lagging per-source watermark, not a
    pass-through)."""
    from azure_batch_map_reduce_spark.streaming.windows import (
        q406_multi_source_stream_union,
    )

    out = q406_multi_source_stream_union(spark, sf_dir)
    rows = out.count()
    assert rows > 0
    assert out.select("event_type").distinct().count() > 1

    ev = load_tables(spark, sf_dir)["events"]
    all_windows = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").count().count()
    )
    assert rows < all_windows, "no open window was withheld — watermark inert"


def test_q405_restart_invariant_to_cut(spark, sf_dir, tmp_path):
    """Restart transparency is a ∀-cut property: whatever crash point
    splits the delivery log, kill + resume-from-checkpoint must yield
    the SAME final session set as q84's single-run stream. Exercises
    three adversarial cuts the canonical drill never hits: the first
    quartile of event time (most state still ahead), the global time
    midpoint (possibly dead air — empty carried state is also legal),
    and a cut EXACTLY ON an event timestamp (boundary: that event must
    land in phase 1, `<= cut`, and never replay in phase 2)."""
    from azure_batch_map_reduce_spark.streaming.stateful import (
        run_restart_drill,
        sessionize_stream,
    )
    from azure_batch_map_reduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "ts", "value"
    )
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    on_event = (
        ev.select(F.unix_micros("ts").alias("t"))
        .orderBy("t")
        .limit(ev.count() // 2)
        .agg(F.max("t"))
        .first()[0]
    )
    # The single-run baseline gets the SAME max_by-on-n_events snapshot
    # reconciliation the drill applies: with a multi-file fixture the raw
    # stream output would contain intermediate trailing-session snapshots
    # (one per micro-batch), and comparing against them would fail
    # spuriously even though the final session set is identical.
    raw = run_available_now(
        sessionize_stream(events_stream(spark, sf_dir))
    )
    reconciled = (
        raw.groupBy("user_id", "session_start")
        .agg(
            F.max_by(
                F.struct("session_end", "n_events", "total_value", "max_gap_s"),
                "n_events",
            ).alias("s")
        )
        .select(
            "user_id",
            "session_start",
            F.col("s.session_end").alias("session_end"),
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
            F.col("s.max_gap_s").alias("max_gap_s"),
        )
    )
    single = sorted(tuple(r) for r in reconciled.collect())
    for cut in (lo + (hi - lo) // 4, (lo + hi) // 2, on_event):
        got = sorted(
            tuple(r) for r in run_restart_drill(spark, ev, cut).collect()
        )
        assert got == single, f"cut {cut} broke restart transparency"
        # r8 verdict task 3: the ∀-cut property must hold identically in
        # write-through mode — distributed table-write reconciliation,
        # lazy read-back, zero driver round-trip of session rows.
        sink = tmp_path / f"sink-{cut}"
        sink.mkdir()
        wt = run_restart_drill(spark, ev, cut, sink_dir=str(sink))
        got_wt = sorted(tuple(r) for r in wt.collect())
        assert got_wt == single, f"cut {cut} broke write-through mode"
        assert (sink / "final").exists(), "write-through left no final table"


def test_q410_tws_restart_matches_drill(spark, sf_dir):
    """q410 pin (r8 verdict task 4): the typed-state restart drill —
    or, on protobuf-free runtimes, its documented
    applyInPandasWithState degradation — reconciles to the same
    session set as q405, carries the executed-path column matching
    q86_capability(), and a session genuinely SPANS the cut (same
    non-degeneracy bar as q405's pin)."""
    from azure_batch_map_reduce_spark.streaming.stateful import (
        _restart_cut_us,
        q86_capability,
        q405_stream_restart_from_checkpoint,
        q410_tws_restart_sessionize,
    )

    ev = load_tables(spark, sf_dir)["events"]
    cut_us = _restart_cut_us(ev)
    got = q410_tws_restart_sessionize(spark, sf_dir)
    assert got.select("state_api").distinct().collect()[0][0] == q86_capability()
    spanning = got.where(
        (F.unix_micros("session_start") <= cut_us)
        & (F.unix_micros("session_end") > cut_us)
    ).count()
    assert spanning >= 1, "no session spans the restart cut — drill is vacuous"
    base = sorted(
        tuple(r)
        for r in q405_stream_restart_from_checkpoint(spark, sf_dir).collect()
    )
    twin = sorted(
        tuple(r) for r in got.drop("state_api").collect()
    )
    assert twin == base


def test_restart_drill_cleans_scratch_on_failure(spark, sf_dir, monkeypatch, tmp_path):
    """r7 ADVICE regression pin: a raise out of the drill body (here an
    AnalysisException from a frame missing the ts column, thrown after
    the scratch dir exists) must remove the scratch tree via the
    try/finally — previously only the success and timeout paths cleaned
    up and every other raise leaked the dir until process exit.

    r8 ADVICE item 4: scratch dirs come from ``tempfile.mkdtemp``, so
    redirect ``tempfile.tempdir`` to a per-test tmp_path — the old
    pre/post glob diff over the shared $TMPDIR failed spuriously when
    any concurrent process created an abmr-restart-* dir mid-test."""
    import glob
    import os
    import tempfile

    from azure_batch_map_reduce_spark.streaming.stateful import (
        run_restart_drill,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev_bad = load_tables(spark, sf_dir)["events"].select("user_id")
    with pytest.raises(Exception):
        run_restart_drill(spark, ev_bad, 0)
    assert glob.glob(os.path.join(str(tmp_path), "abmr-restart-*")) == []


def test_union_stream_cleans_scratch_on_failure(spark, sf_dir, monkeypatch, tmp_path):
    """Same pin for q406: a raise out of the stream phase (simulated by
    making run_available_now blow up) must remove the feed dirs. Same
    per-test $TMPDIR isolation as the restart-drill pin (r8 ADVICE)."""
    import glob
    import os
    import tempfile

    from azure_batch_map_reduce_spark.streaming import windows as sw

    def boom(*a, **k):
        raise RuntimeError("simulated stream failure")

    monkeypatch.setattr(sw, "run_available_now", boom)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(RuntimeError, match="simulated stream failure"):
        sw.q406_multi_source_stream_union(spark, sf_dir)
    assert glob.glob(os.path.join(str(tmp_path), "abmr-union-*")) == []


def test_q465_dynamic_gap_splits_more_sessions(spark, sf_dir):
    """Dynamic-gap invariant: odd users (10-minute gap) can only have
    MORE OR EQUAL sessions than they would under the even users'
    30-minute gap (shrinking the gap refines the partition of a
    user's timeline), and the per-user session counts must strictly
    exceed the 30-minute baseline somewhere (non-vacuous at every
    fixture SF); session spans conserve events per user."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.registry import load_all

    reg = load_all()
    dyn = reg["q465_dynamic_gap_session_window"].fn(spark, sf_dir).collect()
    fixed = reg["q82_session_window"].fn(spark, sf_dir).collect()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_per_user = {
        r.user_id: r.n
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def sess_counts(rows):
        d: dict = {}
        ev: dict = {}
        for r in rows:
            d[r.user_id] = d.get(r.user_id, 0) + 1
            ev[r.user_id] = ev.get(r.user_id, 0) + r.n_events
        return d, ev

    dyn_n, dyn_ev = sess_counts(dyn)
    fix_n, _ = sess_counts(fixed)
    assert dyn_ev == n_per_user  # conservation
    strict = 0
    for u, n in dyn_n.items():
        if u % 2 == 1:
            assert n >= fix_n[u], u  # refinement
            strict += n > fix_n[u]
        else:
            assert n == fix_n[u], u  # even users identical to fixed gap
    assert strict > 0


def test_stream_shuffle_partitions_sizing_and_conf_restore(spark, sf_dir, monkeypatch):
    """r14 optimization: streaming state/shuffle partition count derives
    from source bytes (streaming has no AQE coalescing, so a fixed
    session constant over-partitions the state store), and
    run_available_now restores the session conf afterwards — batch
    plans must keep the session default."""
    from azure_batch_map_reduce_spark.streaming import windows as W

    # Sizing: fixture events.parquet is far under one 64 MB target, so
    # exactly one partition; the count scales as ceil(bytes/target) and
    # clamps at 8 x defaultParallelism.
    assert W.stream_shuffle_partitions(spark, sf_dir) == 1
    target = W._STREAM_STATE_TARGET_BYTES
    real_getsize = __import__("os").path.getsize
    monkeypatch.setattr(
        "os.path.getsize", lambda p: 5 * target + 1, raising=True
    )
    assert W.stream_shuffle_partitions(spark, sf_dir) == 6
    monkeypatch.setattr("os.path.getsize", lambda p: 10**15, raising=True)
    cap = 8 * spark.sparkContext.defaultParallelism
    assert W.stream_shuffle_partitions(spark, sf_dir) == cap
    monkeypatch.setattr("os.path.getsize", real_getsize, raising=True)

    # Conf restore: the pinned value must not leak into the session —
    # success path and failure path both restore.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = W.run_available_now(
        W.tumbling_counts(W.events_stream(spark, sf_dir)),
        "complete",
        shuffle_partitions=3,
    )
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with pytest.raises(Exception):
        W.run_available_now(
            spark.read.parquet(f"{sf_dir}/events.parquet"),  # not a stream
            "append",
            shuffle_partitions=3,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_stream_shuffle_partitions_directory_table(spark, tmp_path):
    """r14 verdict task 5 / ADVICE item 1: a directory-style parquet
    table (the normal Spark layout) must size from the SUM of its data
    files, not the directory inode; _SUCCESS/.crc bookkeeping files are
    skipped like Spark's own file index."""
    from azure_batch_map_reduce_spark.streaming import windows as W

    target = W._STREAM_STATE_TARGET_BYTES
    tdir = tmp_path / "events.parquet"
    tdir.mkdir()
    # Three part files of 1.2 targets total -> ceil = 2 partitions.
    (tdir / "part-00000.parquet").write_bytes(b"x" * (target // 2))
    (tdir / "part-00001.parquet").write_bytes(b"x" * (target // 2))
    (tdir / "part-00002.parquet").write_bytes(b"x" * (target // 5 + 16))
    (tdir / "_SUCCESS").write_bytes(b"")
    (tdir / ".part-00000.parquet.crc").write_bytes(b"y" * 10**6)
    assert W.stream_shuffle_partitions(spark, str(tmp_path)) == 2
    # Single-file tables (the fixtures) still size from the file.
    assert W.stream_shuffle_partitions(
        spark, "/root/testdata/sf0.001"
    ) == 1


def test_loop_shuffle_partitions_schema_row_width(spark):
    """r14 verdict task 5: the graph-loop sizing derives row width from
    the frame schema (16 B UnsafeRow overhead + field defaultSizes)
    with a 48 B floor that keeps fixture-scale counts identical to the
    prior flat constant."""
    from azure_batch_map_reduce_spark.functions.dedup import (
        _FIELD_DEFAULT_BYTES,
        _loop_shuffle_partitions,
    )

    two_longs = spark.range(1).select(
        F.col("id").alias("u"), F.col("id").alias("v")
    )
    # 2x8 B fields + 16 B overhead = 32 B -> floored to 48 B: identical
    # derivation to the historical constant.
    mb64 = 64 * 1024 * 1024
    assert _loop_shuffle_partitions(spark, 10, two_longs.schema) == 1
    assert (
        _loop_shuffle_partitions(spark, mb64 // 48 + 1, two_longs.schema)
        == 2
    )
    # A wide edge payload scales the estimate instead of under-deriving.
    wide = two_longs.select(
        "u", "v", F.lit("x").cast("string").alias("blob")
    )
    w_bytes = 16 + sum(
        _FIELD_DEFAULT_BYTES.get(f.dataType.typeName(), 20)
        for f in wide.schema.fields
    )
    assert w_bytes > 48
    assert (
        _loop_shuffle_partitions(spark, mb64 // w_bytes + 1, wide.schema)
        == 2
    )
    # Cap unchanged.
    cap = 8 * spark.sparkContext.defaultParallelism
    assert _loop_shuffle_partitions(spark, 10**14, two_longs.schema) == cap


def test_scoped_shuffle_partitions_contextmanager(spark):
    """The shared scope helper restores on success, failure and the
    None no-op path (r14 ADVICE item 2)."""
    from azure_batch_map_reduce_spark.session import scoped_shuffle_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 5):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with scoped_shuffle_partitions(spark, None):
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_available_now_drops_its_memory_table(spark, sf_dir):
    """run_available_now removes its uniquely named memory-sink table
    once the result frame is built: three q364 runs in one session
    leave no ``q_*`` table, and the last run still returns the first
    run's rows."""
    from azure_batch_map_reduce_spark.registry import load_all

    fn = load_all()["q364_stream_full_outer_join"].fn
    runs = [sorted(fn(spark, sf_dir).collect(), key=repr) for _ in range(3)]
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("q_")]
    assert left == []
    assert runs[0] and runs[-1] == runs[0]
