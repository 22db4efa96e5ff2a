"""The literal map/reduce file contract, Spark-native.

Reproduces the reference's computation contract (``Readme.md:7``): for a
directory of input files, run a pluggable transformation once per file
(map, ``Program.cs:332-349``), then one consolidation over all map
outputs (reduce, ``Program.cs:351-384``); the reference's dependency
barrier (``Program.cs:306,355``) becomes one reducer task that consumes
every map partition before it reduces. Differences by design:

- Staging (upload/SAS/rename — ``Program.cs:248-290,339-345``) is gone:
  Spark reads files in place and the map→reduce edge is a narrow
  ``coalesce(1)``, with no shuffle files (see :func:`gather_reduce`).
- Failure semantics are *stronger*: the reference only detects failures
  after completion (``Program.cs:435-456``, no retry — the reducer can
  silently consume partial inputs); here a failed task is retried
  ``spark.task.maxFailures`` times and then fails the job.
- The timeout+terminate monitor (``Program.cs:397-465``) maps to a
  driver-side timer + ``cancelJobGroup`` (:func:`run_with_timeout`).

Fidelity points kept:
- one map invocation per input file, file path appended to the command
  line (argv-append, ``Program.cs:335``);
- map outputs captured by glob pattern and renamed ``{task_id}.…``
  (``App.config:19``, ``Program.cs:341-344``), with a *deterministic*
  task id (file stem) instead of the reference's list-index id
  (``Program.cs:334``, O(n²) and collision-prone);
- the reduce step sees every map output (``Program.cs:365-378``).
"""

from __future__ import annotations

import glob as globmod
import os
import shutil
import subprocess
import tempfile
import threading
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.operators.ranks import bounded_order
from azure_batch_map_reduce_spark.registry import query

MAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("task_id", StringType()),
        StructField("src_path", StringType()),
        StructField("output_name", StringType()),
        StructField("content", BinaryType()),
        StructField("exit_code", LongType()),
    ]
)


def file_source(
    spark: SparkSession,
    input_dir: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """L1 directory scan: one row per file (path, length, content).

    The reference enumerates flat and non-recursive (``Program.cs:252``);
    ``recursive=True`` opts into the superset. Listing is driver-side
    metadata only; content reads are distributed."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(input_dir)


def _run_cmd_on_file(
    cmd: str, path: str, content: bytes, output_pattern: str | None
) -> tuple[list[tuple[str, bytes]], int]:
    """Materialize one file in a scratch dir, run ``cmd <path>`` (argv
    append, ``Program.cs:335``), capture stdout or glob-matched outputs
    (``App.config:19`` semantics)."""
    workdir = tempfile.mkdtemp(prefix="abmr-map-")
    try:
        local = os.path.join(workdir, os.path.basename(path))
        with open(local, "wb") as f:
            f.write(content)
        proc = subprocess.run(
            f"{cmd} {local}",
            shell=True,
            cwd=workdir,
            capture_output=True,
            timeout=600,
        )
        outputs: list[tuple[str, bytes]] = []
        if output_pattern is None:
            outputs.append(("stdout", proc.stdout))
        else:
            for out in sorted(globmod.glob(os.path.join(workdir, output_pattern))):
                if os.path.abspath(out) == os.path.abspath(local):
                    continue
                with open(out, "rb") as f:
                    outputs.append((os.path.basename(out), f.read()))
        return outputs, proc.returncode
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def map_files(
    spark: SparkSession,
    input_dir: str,
    map_cmd: str | None = None,
    map_fn: Callable[[str, bytes], bytes] | None = None,
    glob: str | None = None,
    output_pattern: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """L5 map fan-out: apply an external command (or a Python function)
    once per input file. Returns (task_id, src_path, output_name,
    content, exit_code) — the map-output namespace the reference builds
    by uploading ``{taskId}.txt`` blobs."""
    if (map_cmd is None) == (map_fn is None):
        raise ValueError("exactly one of map_cmd / map_fn is required")
    files = file_source(spark, input_dir, glob=glob, recursive=recursive)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                task_id = os.path.splitext(os.path.basename(path))[0]
                local_path = path[len("file:") :] if path.startswith("file:") else path
                if map_fn is not None:
                    out = map_fn(local_path, bytes(content))
                    rows.append((task_id, path, f"{task_id}.out", out, 0))
                else:
                    outputs, code = _run_cmd_on_file(
                        map_cmd, local_path, bytes(content), output_pattern
                    )
                    for name, data in outputs:
                        rows.append((task_id, path, f"{task_id}.{name}", data, code))
            yield pd.DataFrame(
                rows, columns=["task_id", "src_path", "output_name", "content", "exit_code"]
            )

    # One input file is one row; Spark schedules rows across executors —
    # the per-file task fan-out of Program.cs:332-335 without per-file RPC.
    return files.select("path", "content").mapInPandas(run, MAP_OUTPUT_SCHEMA)


def gather_reduce(
    map_outputs: DataFrame,
    reduce_cmd: str | None = None,
    reduce_fn: Callable[[list[tuple[str, bytes]]], bytes] | None = None,
    output_pattern: str | None = None,
) -> DataFrame:
    """L7+L8+L9: gather every map output and run ONE consolidation over
    them (``Program.cs:351-384``).

    ``coalesce(1)`` is a narrow dependency: there is no exchange, no
    stage barrier and no partial reduce. The single reducer task runs
    the upstream map partitions one after another, one Python map
    evaluation each, and ``run`` drains all of them before it reduces.
    That gives the reducer every map output, which the reference gets
    from DependsOn + SAS-spliced ResourceFiles, but it also serializes
    the map work inside that one task. An exchange (``repartition(1)``)
    would run the map partitions as parallel tasks at the cost of a
    shuffle write and read.

    At 100 TB a single reducer is the bottleneck by definition — prefer
    an aggregation (partial+final) when the consolidation is associative;
    this literal form exists for pluggable-executable fidelity."""
    if (reduce_cmd is None) == (reduce_fn is None):
        raise ValueError("exactly one of reduce_cmd / reduce_fn is required")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gathered: list[tuple[str, bytes]] = []
        for pdf in batches:
            for name, content in zip(pdf["output_name"], pdf["content"]):
                gathered.append((name, bytes(content)))
        gathered.sort()
        if reduce_fn is not None:
            out = reduce_fn(gathered)
            yield pd.DataFrame(
                [("task-reducer", "", "reduce.out", out, 0)],
                columns=["task_id", "src_path", "output_name", "content", "exit_code"],
            )
            return
        workdir = tempfile.mkdtemp(prefix="abmr-reduce-")
        try:
            for name, content in gathered:
                with open(os.path.join(workdir, name), "wb") as f:
                    f.write(content)
            proc = subprocess.run(
                reduce_cmd, shell=True, cwd=workdir, capture_output=True, timeout=600
            )
            rows = []
            if output_pattern is None:
                rows.append(("task-reducer", "", "stdout", proc.stdout, proc.returncode))
            else:
                for out in sorted(globmod.glob(os.path.join(workdir, output_pattern))):
                    with open(out, "rb") as f:
                        rows.append(
                            ("task-reducer", "", os.path.basename(out), f.read(), proc.returncode)
                        )
            yield pd.DataFrame(
                rows, columns=["task_id", "src_path", "output_name", "content", "exit_code"]
            )
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    return map_outputs.coalesce(1).mapInPandas(run, MAP_OUTPUT_SCHEMA)


def pipe_lines(df: DataFrame, cmd: str, column: str = "value") -> DataFrame:
    """rdd.pipe wrapper: stream a string column through an external
    command, one line per record (L5 executable fidelity for line-
    oriented tools). Binary-unsafe by nature — use map_files for bytes."""
    spark = df.sparkSession
    piped = df.select(F.col(column).cast("string")).rdd.map(lambda r: r[0]).pipe(cmd)
    return spark.createDataFrame(piped.map(lambda s: (s,)), f"{column} string")


def run_with_timeout(spark: SparkSession, action: Callable[[], object], timeout_s: float):
    """Execution monitor (``Program.cs:397-465``): run a blocking Spark
    action; on timeout cancel the job group and raise — the analog of
    terminate-job-on-timeout (``Program.cs:418-423``), with Spark's
    retry-then-fail semantics underneath instead of detect-after."""
    group = f"abmr-monitored-{id(action)}"
    sc = spark.sparkContext
    result: dict[str, object] = {}
    err: list[BaseException] = []

    def target():
        sc.setJobGroup(group, "monitored map-reduce run", interruptOnCancel=True)
        try:
            result["value"] = action()
        except BaseException as e:  # noqa: BLE001 — propagated below
            err.append(e)

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        sc.cancelJobGroup(group)
        t.join(10)
        raise TimeoutError(f"job group {group} cancelled after {timeout_s}s")
    if err:
        raise err[0]
    return result["value"]


class ProgressMonitor:
    """Execution-progress observer (the reference's MonitorTasks wait
    loop, ``Program.cs:397-465``, minus the polling RPCs): a daemon
    thread samples ``SparkContext.statusTracker()`` — active stages,
    task counts — while the monitored action runs. The reference fetches
    per-task state through projected REST calls (``Program.cs:406,433``);
    here the scheduler already aggregates per-stage progress driver-side,
    so observation is free.

    Usage::

        with ProgressMonitor(spark) as mon:
            df.collect()
        mon.snapshots   # [(stage_id, n_tasks, n_active, n_complete), ...]
    """

    def __init__(self, spark: SparkSession, interval_s: float = 0.2) -> None:
        self._sc = spark.sparkContext
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.snapshots: list[tuple[int, int, int, int]] = []

    def _poll(self) -> None:
        tracker = self._sc.statusTracker()
        while not self._stop.is_set():
            for sid in tracker.getActiveStageIds():
                info = tracker.getStageInfo(sid)
                if info is not None:
                    self.snapshots.append(
                        (sid, info.numTasks, info.numActiveTasks, info.numCompletedTasks)
                    )
            self._stop.wait(self._interval)

    def __enter__(self) -> "ProgressMonitor":
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(5)


# ---- registry entries ----

@query(
    "q90_file_manifest",
    # DuckDB CAN stat files: read_blob('<dir>/*.parquet') exposes
    # (filename, size) — projection pushdown skips the content column.
    # Table functions only accept CONSTANT paths, so the sf dir is a
    # __SF_DIR__ placeholder substituted by both harnesses (the local
    # differential with its active dir, `oracle_sql()` with the
    # driver's documented sf0.01 grain).
    oracle="""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(size AS BIGINT) AS bytes,
           CAST(row_number() OVER (
               ORDER BY regexp_extract(filename, '([^/]+)$', 1)
           ) - 1 AS BIGINT) AS map_task_id,
           TRUE AS lineage_ok,
           size > 0 AS bytes_positive
    FROM read_blob('__SF_DIR__/*.parquet')
    ORDER BY file_name
    """,
    tags=("mapreduce", "source"),
)
def q90_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 literal: enumerate the input directory as (file name, size) —
    the reference's ResourceFile listing. ``input_file_name()`` is the
    lineage column every row of every source carries; ``map_task_id``
    is the engine-assigned unique, DETERMINISTIC task id (dense rank at
    file grain) replacing the reference's O(n²) ``IndexOf`` id
    assignment (``Program.cs:334``). The id window is |files|-grain —
    a manifest is bounded by construction (one row per input file, the
    reference's own task-per-file layout ``Program.cs:332-335``).

    Self-verifying invariants carried in-result: ``lineage_ok`` pins
    the binaryFile path against input_file_name lineage per row,
    ``bytes_positive`` pins non-degenerate stats; additionally the
    whole manifest hash-checks against DuckDB's ``read_blob``
    directory stat, so it is oracle-checked, not rows-only."""
    files = file_source(spark, sf_dir, glob="*.parquet")
    manifest = files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("bytes"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("source_file"),
    )
    w = bounded_order("file_name")
    return (
        manifest.withColumn(
            "map_task_id", (F.row_number().over(w) - 1).cast("long")
        )
        .withColumn("lineage_ok", F.col("file_name") == F.col("source_file"))
        .withColumn("bytes_positive", F.col("bytes") > 0)
        .drop("source_file")
        .orderBy("file_name")
    )


@query(
    "q91_pipe_identity_wordcount",
    oracle="""
    SELECT count(*)                                            AS n_lines,
           CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS n_words
    FROM documents
    """,
    tags=("mapreduce", "pipe"),
)
def q91_pipe_identity_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-executable map (L5 fidelity): stream every document
    through ``cat`` via rdd.pipe, then count lines and words of what the
    executable emitted. pipe(cat) ≡ identity, so the oracle is plain SQL
    over the original table."""
    docs = load_tables(spark, sf_dir)["documents"]
    piped = pipe_lines(docs.select(F.col("text").alias("value")), "cat")
    return piped.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.size(F.split("value", " "))).cast("long").alias("n_words"),
    )


@query(
    "q315_observed_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)        AS n_rows,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(min(l_extendedprice), 2)  AS min_price,
           round(max(l_extendedprice), 2)  AS max_price,
           round(avg(l_discount), 6)       AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    """,
    tags=("monitoring", "observation", "metrics", "execution"),
)
def q315_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-cost pipeline metrics via the Observation API — the
    engine-side upgrade of the reference's polling monitor
    (``Program.cs:397-465`` polls task states from outside; Spark's
    ``df.observe`` rides metrics on the SAME job, no second pass and
    no extra scan): the q01-style filtered lineitem scan runs once
    through the noop sink with count/sum/min/max/avg observed in
    flight, and the captured metrics come back as the result row. The
    oracle recomputes them relationally, proving observe() sees every
    row exactly once — the accounting a production pipeline attaches
    to each stage for row-count reconciliation (L12/L13 monitoring +
    failure detection).

    Determinism: exact counts and extrema; sums of 2dp decimals round
    at 2/6.

    Scale posture: observation is a map-side accumulator merged on the
    driver — zero shuffle, zero extra reads at any scale; the one
    materialization inside the builder is the observed job itself
    (same pattern as the streaming queries' run_available_now)."""
    from pyspark.sql import Observation

    li = load_tables(spark, sf_dir)["lineitem"].where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    obs = Observation("q315")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(m["sum_qty"]),
                float(m["min_price"]),
                float(m["max_price"]),
                float(m["avg_disc"]),
            )
        ],
        "n_rows long, sum_qty double, min_price double, max_price double,"
        " avg_disc double",
    )
