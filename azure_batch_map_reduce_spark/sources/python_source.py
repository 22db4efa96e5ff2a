"""Spark 4 Python Data Source API — a user-defined source as a
first-class scan node.

The reference's only extension point is a pluggable EXECUTABLE per file
(``App.config:16-17``); its "source" is whatever bytes those programs
read. Spark 4's Python Data Source API is the engine-native form of
that pluggability on the SCAN side: a pure-Python class declares the
schema, plans input partitions, and streams Arrow record batches from
inside the executors — with predicate pushdown crossing the Python
boundary (``pushFilters``, Spark 4.1). This module implements one such
source over the documents fixture and registers q428 as its verified
scan: the differential proves a user-defined Python source produces
byte-identical relational results to the built-in parquet reader.

Scale posture: ``partitions()`` plans ONE partition per parquet row
group (the same split unit the native reader uses), so executor
parallelism scales with the file layout, and ``read()`` yields Arrow
batches (zero-copy into Spark's columnar pipeline — never per-row
Python tuples). Supported filters are applied INSIDE the source via
pyarrow compute before rows ever reach the JVM.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
)

from azure_batch_map_reduce_spark.catalog import load_tables, scratch_dir
from azure_batch_map_reduce_spark.registry import query

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

_DOCS_SCHEMA = "doc_id bigint, lang string, source string, n_chars bigint"
_DOCS_COLUMNS = ["doc_id", "lang", "source", "n_chars"]


class DocumentsMetaSource(DataSource):
    """Python data source exposing the documents table's metadata
    columns (everything but the text payload) via pyarrow.

    Registered under the short name ``abmr_docs_meta``; the one
    required option is ``path`` (the parquet file to serve).
    """

    @classmethod
    def name(cls) -> str:
        return "abmr_docs_meta"

    def schema(self) -> str:
        return _DOCS_SCHEMA

    def reader(self, schema) -> "DocumentsMetaReader":
        return DocumentsMetaReader(self.options)


class DocumentsMetaReader(DataSourceReader):
    """Row-group-partitioned reader with EqualTo pushdown on the
    string columns.

    ``pushFilters`` accepts ``EqualTo`` on ``lang``/``source`` and
    keeps them on ``self`` (the API contract: mutations here are
    visible to ``partitions()``/``read()``); everything else is
    returned for Spark to evaluate above the scan. ``read()`` applies
    the accepted filters with pyarrow compute, so filtered rows never
    cross into the JVM — the Python-source analog of parquet
    PushedFilters.
    """

    def __init__(self, options) -> None:
        self._path = options["path"]
        self._pushed: list[tuple[str, object]] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in (
                ("lang",),
                ("source",),
            ):
                self._pushed.append((f.attribute[0], f.value))
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        import pyarrow.parquet as pq

        n = pq.ParquetFile(self._path).metadata.num_row_groups
        return [InputPartition(i) for i in range(max(1, n))]

    def read(self, partition: InputPartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self._path)
        tbl = pf.read_row_group(partition.value, columns=_DOCS_COLUMNS)
        for col, val in self._pushed:
            tbl = tbl.filter(pc.equal(tbl[col], val))
        yield from tbl.to_batches()


@query(
    "q428_python_datasource_scan",
    oracle="""
    SELECT lang,
           source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents
    WHERE source = 'src1' AND lang <> 'zh'
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    tags=("source", "python-datasource", "arrow", "pushdown"),
)
def q428_python_datasource_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """User-defined PYTHON data source on the verified path — the
    source-matrix row beside parquet/CSV/JSON/ORC/XML/binaryFile
    (q96/q97/q39/q408/q90) that no built-in covers: the scan itself is
    user code (Spark 4's Python Data Source API), planned into one
    input partition per parquet row group and streamed to the JVM as
    Arrow record batches (never per-row tuples). ``EqualTo`` predicates
    on the string columns push INTO the source (``pushFilters``, 4.1)
    and are applied with pyarrow compute before rows cross the
    boundary; the query's conjunction splits exactly there:
    ``source = 'src1'`` pushes into pyarrow, ``lang <> 'zh'`` stays
    residual above the scan — both routes exercised in one plan
    (pinned in tests/test_plans.py). The differential
    proves the whole arrangement returns byte-identical results to
    DuckDB reading the same file natively.

    Determinism: pure relational math over exact integers.

    Scale posture: partition planning follows the file's row-group
    layout (the native reader's split unit), so a 100 TB directory
    fans out identically; Arrow batches keep the Python crossing
    columnar; pushed filters cut the transfer before it happens.
    The aggregation is one partial+final rollup on a 10-cell grain.
    Reference contract: the pluggable scan IS the map slot
    (``App.config:16``, per-file fan-out ``Program.cs:332-349``);
    rollup = reduce slot (``App.config:17``)."""
    # Runtime-settable planner flag (verified): without it Spark 4.1
    # REFUSES any reader that implements pushFilters. Set here (not
    # only in the session factory) so caller-owned sessions — the
    # driver's — plan the pushdown too.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DocumentsMetaSource)
    df = (
        spark.read.format("abmr_docs_meta")
        .option("path", f"{sf_dir}/documents.parquet")
        .load()
    )
    return (
        df.where((F.col("source") == "src1") & (F.col("lang") != "zh"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang", "source")
    )


# --- q444: user-defined Python data-source SINK (task-commit ledger) ----

_LEDGER_SCHEMA = "source string, lang string, n_docs bigint, sum_chars bigint"


class LedgerCommit:
    """Per-task commit message: the temp file the task wrote, its
    final rename target, the row count, and a content md5 — the
    Python-sink analog of the reference's per-task OutputFile
    (pattern-matched local file uploaded as ``{taskId}.txt`` on task
    completion, ``Program.cs:339-345``)."""

    def __init__(self, tmp: str, final: str, rows: int, md5: str) -> None:
        self.tmp = tmp
        self.final = final
        self.rows = rows
        self.md5 = md5


try:  # pragma: no cover - import guard mirrors the reader's pattern
    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    class _LedgerCommitMsg(WriterCommitMessage, LedgerCommit):
        pass

    class LedgerSinkWriter(DataSourceWriter):
        """Task-commit CSV sink: each task streams its rows to a
        DOT-PREFIXED temp file (invisible to any reader), returns a
        commit message, and only the driver-side ``commit`` renames
        temps to their final ``task-{partition}.csv`` names and writes
        the ``_ledger.json`` manifest — write-temp/rename-on-commit,
        the same protocol the reference gets from upload-on-task-
        completion + rename-by-task-id (``Program.cs:341-344``).
        ``abort`` removes temps so a failed job leaves NO visible
        files. Local-mode note: rename happens driver-side on a
        shared filesystem; a cluster deployment points ``path`` at
        shared storage, exactly like the reference's blob container.
        """

        def __init__(self, options) -> None:
            self._path = options["path"]
            self._fail = options.get("fail_in_write") == "true"

        def write(self, iterator):
            import hashlib
            import os

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            if self._fail and pid == 0:
                raise RuntimeError("injected write failure (test)")
            lines = [
                f"{r[0]},{r[1]},{r[2]},{r[3]}\n" for r in iterator
            ]
            body = "".join(lines)
            tmp = os.path.join(self._path, f".task-{pid}.csv.tmp")
            final = os.path.join(self._path, f"task-{pid}.csv")
            with open(tmp, "w") as f:
                f.write(body)
            return _LedgerCommitMsg(
                tmp=tmp,
                final=final,
                rows=len(lines),
                md5=hashlib.md5(body.encode()).hexdigest(),
            )

        def commit(self, messages) -> None:
            import json
            import os

            files = []
            for m in messages:
                if m is None:
                    continue
                os.replace(m.tmp, m.final)
                files.append(
                    {
                        "name": os.path.basename(m.final),
                        "rows": m.rows,
                        "md5": m.md5,
                    }
                )
            manifest = {
                "files": sorted(files, key=lambda x: x["name"]),
                "total_rows": sum(f["rows"] for f in files),
            }
            with open(os.path.join(self._path, "_ledger.json"), "w") as f:
                json.dump(manifest, f, indent=1, sort_keys=True)

        def abort(self, messages) -> None:
            import glob
            import os

            for p in glob.glob(os.path.join(self._path, ".task-*.tmp")):
                try:
                    os.remove(p)
                except OSError:
                    pass

    class LedgerSinkSource(DataSource):
        """Python data source registered for its WRITER surface."""

        @classmethod
        def name(cls) -> str:
            return "abmr_ledger_sink"

        def schema(self) -> str:
            return _LEDGER_SCHEMA

        def writer(self, schema, overwrite) -> "LedgerSinkWriter":
            return LedgerSinkWriter(self.options)

    _HAVE_WRITER = True
except ImportError:  # pragma: no cover - pyspark without writer API
    _HAVE_WRITER = False


if _HAVE_WRITER:

    @query(
        "q444_python_datasource_sink",
        oracle="""
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY source, lang
        ORDER BY source, lang
        """,
        tags=("sink", "python-datasource", "commit-protocol"),
    )
    def q444_python_datasource_sink(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """User-defined PYTHON data-source SINK on the verified path —
        the write-side twin of q428's Python source, completing the
        pluggable-I/O matrix: the reference's entire sink surface is
        "task writes local file, matched by pattern, uploaded under
        the task's id on completion" (``Program.cs:339-345``), and
        Spark 4's Python Data Source writer API is the engine-native
        form of exactly that contract — per-task ``write()`` with a
        commit message, driver-side ``commit`` renaming temps to
        ``task-{id}.csv`` and writing a ``_ledger.json`` manifest
        (files, row counts, md5s), ``abort`` leaving no visible
        output (both paths pinned in tests/test_sources.py).

        The verified round trip: the bounded (source × lang) document
        rollup is written through the sink across 4 write tasks, read
        back from the committed ``task-*.csv`` files with an explicit
        schema, and hash-compared against DuckDB aggregating the
        original table — write-path corruption (quoting, ordering,
        lost rows, double commits) fails the differential.

        Determinism: exact integer counts/sums; CSV of
        alphanumeric-safe strings and longs; the read-back result is
        re-sorted, so task file assignment (shuffle-dependent) never
        shows in the released frame.

        Scale posture: the sink is embarrassingly parallel (one file
        per task, no coordination until the driver-side metadata-only
        commit — the standard job-commit protocol shape); the ledger
        is bounded by task count. The written payload here is a
        bounded aggregate; the protocol is payload-size-agnostic.
        Reference contract: per-task output capture = ``OutputFile``
        upload-on-completion (``Program.cs:339-345``); the manifest =
        the gather list the reducer consumes (``Program.cs:365-378``).
        """
        spark.dataSource.register(LedgerSinkSource)
        d = scratch_dir("abmr-pysink-")
        agg = (
            load_tables(spark, sf_dir)["documents"]
            .groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
        )
        (
            agg.repartition(4, "source")
            .write.format("abmr_ledger_sink")
            .option("path", d)
            .mode("append")
            .save()
        )
        back = spark.read.schema(_LEDGER_SCHEMA).csv(f"{d}/task-*.csv")
        return back.orderBy("source", "lang")


# --- q446: user-defined Python STREAMING source (offset-tracked) --------

_STREAM_CHUNKS = 4  # micro-batches; power of 2 so the chunk filter is
# a pyarrow bit_wise_and (this pyarrow build has no pc.mod)


try:  # pragma: no cover - API guard
    from pyspark.sql.datasource import DataSourceStreamReader

    class _ChunkPartition(InputPartition):
        def __init__(
            self, chunk: int, path: str, n_chunks: int = _STREAM_CHUNKS
        ) -> None:
            self.chunk = chunk
            self.path = path
            self.n_chunks = n_chunks

    class DocsStreamReader(DataSourceStreamReader):
        """Offset-tracked micro-batch reader over the documents
        parquet: the stream's offset space is the chunk index 0..4,
        chunk c serving rows with ``doc_id % 4 == c`` (deterministic,
        disjoint, exhaustive). ``latestOffset`` is pinned at the chunk
        count, so an availableNow trigger drains exactly the four
        micro-batches and stops — and every row is served exactly
        once across batches, which the differential then verifies."""

        def __init__(self, options) -> None:
            self._path = options["path"]
            # power of 2 so the chunk filter stays a pyarrow
            # bit_wise_and; the paced drill widens it to 8.
            self._chunks = int(options.get("chunks", _STREAM_CHUNKS))

        def initialOffset(self) -> dict:  # noqa: N802 (API name)
            return {"chunk": 0}

        def latestOffset(self) -> dict:  # noqa: N802 (API name)
            return {"chunk": self._chunks}

        def partitions(self, start: dict, end: dict):
            return [
                _ChunkPartition(c, self._path, self._chunks)
                for c in range(start["chunk"], end["chunk"])
            ]

        def read(self, partition: "_ChunkPartition"):
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            tbl = pq.read_table(partition.path, columns=_DOCS_COLUMNS)
            tbl = tbl.filter(
                pc.equal(
                    pc.bit_wise_and(tbl["doc_id"], partition.n_chunks - 1),
                    partition.chunk,
                )
            )
            yield from tbl.to_batches()

        def commit(self, end: dict) -> None:
            pass

    class DocsStreamSource(DataSource):
        """Python data source registered for its STREAM-reader surface."""

        @classmethod
        def name(cls) -> str:
            return "abmr_docs_stream"

        def schema(self) -> str:
            return _DOCS_SCHEMA

        def streamReader(self, schema) -> "DocsStreamReader":
            return DocsStreamReader(self.options)

    _HAVE_STREAM = True
except ImportError:  # pragma: no cover
    _HAVE_STREAM = False


if _HAVE_STREAM:

    @query(
        "q446_python_stream_source",
        oracle="""
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM documents
        GROUP BY source, lang
        ORDER BY source, lang
        """,
        tags=("source", "python-datasource", "streaming", "offsets"),
    )
    def q446_python_stream_source(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """User-defined PYTHON STREAMING source on the verified path —
        the third face of the Python Data Source API (batch scan
        q428, batch sink q444, now offset-tracked micro-batch
        ingestion), covering the reference's dataflow when inputs
        ARRIVE INCREMENTALLY instead of as one directory listing: the
        source declares an offset space (chunk index) and Spark's
        MicroBatchExecution drives the full offset contract —
        ``initialOffset`` → ``latestOffset`` → ``partitions(start,
        end)`` → per-partition ``read`` → ``commit``. Honesty note
        (probed): Python streaming sources don't implement the
        AvailableNow admission control, so Spark logs a fallback and
        drains the whole offset range 0→4 in ONE batch whose four
        input partitions are the doc_id-modulo chunks; the offset
        bookkeeping (and checkpointed commit) is still the real
        streaming path, which is the surface under test.

        What the differential proves: exactly-once offset accounting —
        every document crosses the stream exactly once (missed or
        double-served chunks shift counts/sums/min/max), and the
        Arrow-batch crossing preserves values bit-exactly, because
        the final aggregate hash-matches DuckDB reading the same
        parquet in one batch.

        Determinism: chunking is doc_id modulo (data-derived, not
        time-derived); the aggregate is exact integer math; complete
        mode re-emits the final table whose content is
        batch-order-independent.

        Scale posture: the batch plans one partition per chunk here
        (fixture-sized); a production source returns many partitions
        per offset range (the API takes a list) — the offset
        contract, not the fan-out, is what's exercised.
        Aggregation state is the bounded (source × lang) grain.
        Reference contract: incremental staging = the upload loop
        (``Program.cs:248-258``) re-run per arrival; offset commit =
        the task-completion barrier (``Program.cs:306,355``)."""
        from azure_batch_map_reduce_spark.streaming.windows import (
            run_available_now,
            stream_shuffle_partitions,
        )

        spark.dataSource.register(DocsStreamSource)
        stream = (
            spark.readStream.format("abmr_docs_stream")
            .option("path", f"{sf_dir}/documents.parquet")
            .load()
        )
        agg = (
            stream.groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
        )
        out = run_available_now(
            agg,
            output_mode="complete",
            shuffle_partitions=stream_shuffle_partitions(
                spark, sf_dir, tables=("documents",)
            ),
        )
        return out.orderBy("source", "lang")


# --- REAL multi-batch progression drill -----------------------------------

if _HAVE_STREAM:

    class PacedDocsStreamReader(DocsStreamReader):
        """Rate-limited variant of :class:`DocsStreamReader` for the
        multi-batch drill: ``latestOffset`` advances ONE chunk per
        call, so a processing-time trigger drives a genuine
        multi-micro-batch progression (availableNow drains Python
        sources in a single batch — the documented fallback q446
        probes). Every ``partitions(start, end)`` plan and every
        ``commit(end)`` is journaled to a driver-side ledger file, so
        the drill verifies the offset ranges Spark ACTUALLY planned —
        disjoint, contiguous, exactly covering the offset space — not
        just the final row counts. The stream reader object lives on
        the driver for the query's lifetime (offset management is
        driver-side in the Python data source API), so instance state
        is the legitimate place for the pacing counter."""

        def __init__(self, options) -> None:
            super().__init__(options)
            self._ledger_path = options["ledger"]
            self._available = 0

        def latestOffset(self) -> dict:  # noqa: N802 (API name)
            if self._available < self._chunks:
                self._available += 1
            return {"chunk": self._available}

        def partitions(self, start: dict, end: dict):
            self._journal(
                {"event": "plan", "start": start["chunk"], "end": end["chunk"]}
            )
            return super().partitions(start, end)

        def commit(self, end: dict) -> None:
            self._journal({"event": "commit", "end": end["chunk"]})

        def _journal(self, rec: dict) -> None:
            import json

            with open(self._ledger_path, "a") as f:
                f.write(json.dumps(rec) + "\n")

    class PacedDocsStreamSource(DataSource):
        """Python data source registered for the paced stream drill."""

        @classmethod
        def name(cls) -> str:
            return "abmr_docs_stream_paced"

        def schema(self) -> str:
            return _DOCS_SCHEMA

        def streamReader(self, schema) -> "PacedDocsStreamReader":
            return PacedDocsStreamReader(self.options)

    _PACED_CHUNKS = 8  # offset space for the drill; >= 3 batches even
    # if a trigger cycle ever reads latestOffset twice

    def run_paced_stream_drill(
        spark: SparkSession, sf_dir: str, timeout: float = 300.0
    ) -> tuple[list[dict], DataFrame]:
        """Drive the paced Python streaming source through a
        processing-time trigger until every chunk is COMMITTED, then
        stop; returns ``(ledger_records, rows)`` where ``rows`` carries
        every streamed document with the micro-batch id that served it
        (foreachBatch parquet sink in a scratch dir, atexit-cleaned).
        Bounded by construction: ``latestOffset`` saturates at
        ``_PACED_CHUNKS`` so the query goes idle once the table is
        drained; a stall past ``timeout`` raises instead of returning
        partial state (the r6 streaming rule).

        Commit-lag note (probed): MicroBatchExecution calls the
        source's ``commit(end)`` as part of constructing the NEXT
        micro-batch, so the FINAL batch's commit is deferred while the
        stream idles at the saturated offset — the ledger records
        commits 1..N-1 plus every plan 0..N, and the drill's
        completion signal is therefore (all ranges planned) AND (row
        count == table count), not the last commit."""
        import json
        import os
        import time

        d = scratch_dir("abmr_paced_stream_")
        ledger = os.path.join(d, "offsets.jsonl")
        out_dir = os.path.join(d, "batches")
        spark.dataSource.register(PacedDocsStreamSource)
        stream = (
            spark.readStream.format("abmr_docs_stream_paced")
            .option("path", f"{sf_dir}/documents.parquet")
            .option("chunks", _PACED_CHUNKS)
            .option("ledger", ledger)
            .load()
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(out_dir)
            )

        n_docs = load_tables(spark, sf_dir)["documents"].count()
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + timeout
            while True:
                if q.exception() is not None:
                    raise q.exception()
                planned = 0
                if os.path.exists(ledger):
                    with open(ledger) as f:
                        for line in f:
                            rec = json.loads(line)
                            if rec["event"] == "plan":
                                planned = max(planned, rec["end"])
                streamed = 0
                if planned >= _PACED_CHUNKS:
                    try:
                        streamed = spark.read.parquet(out_dir).count()
                    except Exception:
                        streamed = 0  # sink dir mid-write; retry
                if streamed >= n_docs:
                    break
                if time.time() > deadline:
                    raise TimeoutError(
                        f"paced stream drill stalled at planned chunk "
                        f"{planned}/{_PACED_CHUNKS}, {streamed}/{n_docs} "
                        f"rows after {timeout} s"
                    )
                time.sleep(0.2)
        finally:
            q.stop()
        with open(ledger) as f:
            records = [json.loads(line) for line in f]
        return records, spark.read.parquet(out_dir)


# --- q469: end-to-end exactly-once through BOTH Python endpoints ----------
#
# q446 proves the streaming source's offset
# contract and q444 proves the sink's commit/abort — separately. This
# composes them into the reference's full L5->L6->L8->L9 loop as one
# living pipeline: a paced Python streaming source feeds micro-batches
# through the Python sink's write-temp/rename-on-commit protocol, the
# query is killed mid-stream and restarted from its checkpoint, and
# the union of committed ledger manifests must equal the source table
# — no dupes, no gaps — at the q446 grain.

_EO_CHUNKS = 8  # offset space; kill after half is planned

_DOC_ROW_SCHEMA = "doc_id bigint, source string, lang string, n_chars bigint"


if _HAVE_STREAM and _HAVE_WRITER:

    class ResumablePacedDocsStreamReader(PacedDocsStreamReader):
        """Paced reader whose pacing counter SURVIVES a driver restart:
        on construction it recovers ``_available`` from the journal's
        max planned end. Without this, a restarted reader would report
        latestOffset=1 while the checkpoint sits at a higher committed
        offset — and a pacing counter behind the checkpoint is exactly
        the non-monotonic-offset regression the exactly-once contract
        forbids. (The journal doubles as the drill's evidence file.)"""

        def __init__(self, options) -> None:
            import json
            import os

            super().__init__(options)
            if os.path.exists(self._ledger_path):
                with open(self._ledger_path) as f:
                    for line in f:
                        rec = json.loads(line)
                        if rec["event"] == "plan":
                            self._available = max(
                                self._available, rec["end"]
                            )

    class ResumablePacedDocsStreamSource(DataSource):
        """Python data source for the exactly-once restart drill."""

        @classmethod
        def name(cls) -> str:
            return "abmr_docs_stream_paced_resume"

        def schema(self) -> str:
            return _DOCS_SCHEMA

        def streamReader(self, schema) -> "ResumablePacedDocsStreamReader":
            return ResumablePacedDocsStreamReader(self.options)

    class DocRowLedgerSinkSource(DataSource):
        """The q444 ledger sink at DOCUMENT grain (4 columns:
        doc_id, source, lang, n_chars) — same writer, same
        write-temp/rename-on-commit protocol, different row shape."""

        @classmethod
        def name(cls) -> str:
            return "abmr_doc_ledger_sink"

        def schema(self) -> str:
            return _DOC_ROW_SCHEMA

        def writer(self, schema, overwrite) -> "LedgerSinkWriter":
            return LedgerSinkWriter(self.options)

    def run_exactly_once_pipeline(
        spark: SparkSession, sf_dir: str, timeout: float = 300.0
    ) -> tuple[dict, DataFrame]:
        """Drive the composed source->sink pipeline through a
        mid-stream kill/restart; returns ``(drill_info, rows)`` where
        ``rows`` is the manifest-governed union of every committed
        batch's ledger files (doc grain) and ``drill_info`` records
        the evidence the invariant test pins: planned offset at the
        kill, commits before/after, batch dirs with and without
        manifests.

        Exactly-once mechanics, spelled out: Spark's WAL replays a
        planned-but-incomplete batch after restart with the SAME batch
        id and offsets, so the re-run overwrites the same per-batch
        sink directory (os.replace is idempotent) and rewrites its
        manifest; a batch killed BEFORE its driver-side commit leaves
        temp files but no ``_ledger.json``, and readers consume ONLY
        manifest-listed files — the sink contract from q444. Distinct
        batch ids map to disjoint offset ranges (the source contract
        from q446), so the union of committed manifests covers every
        document exactly once."""
        import glob
        import json
        import os
        import time

        d = scratch_dir("abmr_exactly_once_")
        journal = os.path.join(d, "offsets.jsonl")
        batches_root = os.path.join(d, "batches")
        os.makedirs(batches_root, exist_ok=True)
        spark.dataSource.register(ResumablePacedDocsStreamSource)
        spark.dataSource.register(DocRowLedgerSinkSource)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            bdir = os.path.join(batches_root, f"batch-{batch_id}")
            os.makedirs(bdir, exist_ok=True)
            (
                batch_df.select("doc_id", "source", "lang", "n_chars")
                .write.format("abmr_doc_ledger_sink")
                .option("path", bdir)
                .mode("append")
                .save()
            )

        def start_query():
            stream = (
                spark.readStream.format("abmr_docs_stream_paced_resume")
                .option("path", f"{sf_dir}/documents.parquet")
                .option("chunks", _EO_CHUNKS)
                .option("ledger", journal)
                .load()
            )
            return (
                stream.writeStream.foreachBatch(sink)
                .option(
                    "checkpointLocation", os.path.join(d, "ckpt")
                )
                .trigger(processingTime="100 milliseconds")
                .start()
            )

        def journal_state() -> tuple[int, int]:
            planned, commits = 0, 0
            if os.path.exists(journal):
                with open(journal) as f:
                    for line in f:
                        rec = json.loads(line)
                        if rec["event"] == "plan":
                            planned = max(planned, rec["end"])
                        elif rec["event"] == "commit":
                            commits += 1
            return planned, commits

        # Phase 1: run until at least one batch is COMMITTED and half
        # the offset space is planned, then kill mid-stream.
        q = start_query()
        deadline = time.time() + timeout
        try:
            while True:
                if q.exception() is not None:
                    raise q.exception()
                planned, commits = journal_state()
                if commits >= 1 and planned >= _EO_CHUNKS // 2:
                    break
                if time.time() > deadline:
                    raise TimeoutError(
                        f"exactly-once drill phase 1 stalled at planned "
                        f"{planned}, {commits} commits"
                    )
                time.sleep(0.1)
        finally:
            q.stop()
        planned_at_kill, commits_at_kill = journal_state()

        def committed_docs() -> int:
            n = 0
            for man in glob.glob(
                os.path.join(batches_root, "batch-*", "_ledger.json")
            ):
                with open(man) as f:
                    n += json.load(f)["total_rows"]
            return n

        n_docs = load_tables(spark, sf_dir)["documents"].count()

        # Phase 2: restart from the same checkpoint; the resumable
        # reader recovers its pacing from the journal. Drain until the
        # committed manifests cover the table.
        q = start_query()
        deadline = time.time() + timeout
        try:
            while True:
                if q.exception() is not None:
                    raise q.exception()
                planned, commits = journal_state()
                if planned >= _EO_CHUNKS and committed_docs() >= n_docs:
                    break
                if time.time() > deadline:
                    raise TimeoutError(
                        f"exactly-once drill phase 2 stalled at planned "
                        f"{planned}, {committed_docs()}/{n_docs} rows"
                    )
                time.sleep(0.1)
        finally:
            q.stop()

        all_dirs = sorted(glob.glob(os.path.join(batches_root, "batch-*")))
        committed_files: list[str] = []
        uncommitted_dirs: list[str] = []
        for bdir in all_dirs:
            man = os.path.join(bdir, "_ledger.json")
            if not os.path.exists(man):
                uncommitted_dirs.append(bdir)
                continue
            with open(man) as f:
                manifest = json.load(f)
            committed_files.extend(
                os.path.join(bdir, rec["name"])
                for rec in manifest["files"]
                if rec["rows"] > 0
            )
        planned_final, commits_final = journal_state()
        plan_ranges: list[tuple[int, int]] = []
        with open(journal) as f:
            for line in f:
                rec = json.loads(line)
                if rec["event"] == "plan":
                    plan_ranges.append((rec["start"], rec["end"]))
        info = {
            "plan_ranges": plan_ranges,
            "planned_at_kill": planned_at_kill,
            "commits_at_kill": commits_at_kill,
            "planned_final": planned_final,
            "commits_final": commits_final,
            "n_batch_dirs": len(all_dirs),
            "n_uncommitted_dirs": len(uncommitted_dirs),
            "n_docs": n_docs,
        }
        rows = spark.read.schema(_DOC_ROW_SCHEMA).csv(committed_files)
        return info, rows

    @query(
        "q469_exactly_once_source_to_sink",
        oracle="""
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM documents
        GROUP BY source, lang
        ORDER BY source, lang
        """,
        tags=(
            "streaming", "source", "sink", "python-datasource",
            "exactly-once", "checkpoint", "restart",
        ),
    )
    def q469_exactly_once_source_to_sink(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """END-TO-END EXACTLY-ONCE through BOTH custom Python
        endpoints — the reference's full
        L5→L6→L8→L9 loop as one living pipeline: the paced Python
        STREAMING SOURCE (q446's offset contract, made restart-proof
        by journal-recovered pacing) feeds real micro-batches through
        the Python SINK's write-temp/rename-on-commit protocol
        (q444's ledger contract, ``Program.cs:339-345``) into
        per-batch directories; the query is KILLED once at least one
        batch has committed and half the offset space is planned,
        restarted from its checkpoint, and drained. The released
        frame reads ONLY manifest-listed files from committed batch
        dirs — the union must reproduce the source table with no
        duplicates (n_docs == n_distinct_docs per group) and no gaps
        (every count/sum/min/max matches DuckDB reading the parquet
        directly).

        Why this is exactly-once and not just at-least-once: a batch
        replayed after the kill re-runs with the SAME batch id and
        offsets (Spark's WAL), so its re-write lands in the same
        directory and atomically replaces the same manifest; a batch
        killed before its driver-side commit leaves no manifest and
        is invisible to the release. Duplicates or gaps from a broken
        offset resume, a double-committed batch, or a reader trusting
        directory listings over manifests all shift the differential.

        Determinism: batch boundaries vary run to run, but the
        released rollup is batch-partition-invariant (exact integer
        aggregates over the union). Scale posture: the sink is
        per-task parallel with a metadata-only driver commit (the
        standard job-commit shape); offset planning is O(chunks);
        at 1000 executors the same protocol is how a structured
        stream commits to blob storage — manifests, not listings,
        define visibility. Reference contract: map fan-out =
        ``Program.cs:322-352``; output capture/rename =
        ``Program.cs:339-345``; barrier + gather =
        ``Program.cs:355-378``."""
        _, rows = run_exactly_once_pipeline(spark, sf_dir)
        return (
            rows.groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("doc_id").alias("n_distinct_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .orderBy("source", "lang")
        )
