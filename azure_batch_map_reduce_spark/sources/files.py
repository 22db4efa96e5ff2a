"""Sources & sinks: parquet/CSV/JSON/text/binary readers, partitioned and
single-file writers.

The reference's I/O surface is: enumerate a local directory, stage to a
blob container, download results back (`Program.cs:248-290,474-497`).
Spark reads sources in place and commits sinks atomically via the task
commit protocol — the staging/renaming machinery the reference hand-rolls
(upload-on-completion `Program.cs:343-344`, rename-by-taskid
`Program.cs:341-344`) is the FileOutputCommitter.

Scale notes:
- Writers default to snappy parquet with ``partitionBy`` available —
  partitioned layout enables partition pruning (the 100 TB read path).
- ``single_file`` mirrors the reference's one-reducer output
  (`Program.cs:358-359`); it coalesces to 1 task and is therefore a
  deliberate bottleneck — only for small results.
- CSV/JSON readers take explicit schemas (no inference job over 100 TB).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from azure_batch_map_reduce_spark.catalog import load_tables, scratch_dir
from azure_batch_map_reduce_spark.operators.ranks import (
    distributed_row_number,
    half_up_ratio,
    hex_int,
)
from azure_batch_map_reduce_spark.registry import query


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.options(**options).csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    multi_line: bool = False,
    **options: str,
) -> DataFrame:
    reader = spark.read.option("multiLine", str(multi_line).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).json(path)


def read_text(spark: SparkSession, path: str, whole_file: bool = False) -> DataFrame:
    return spark.read.text(path, wholetext=whole_file)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    block_size_bytes: int = 128 * 1024 * 1024,
) -> None:
    """Parquet sink. ``partition_by`` creates the pruning-friendly layout;
    ``sort_by`` sorts within partitions so parquet row-group min/max
    stats become selective (DPP + skipping at 100 TB);
    ``block_size_bytes`` pins the row-group size so it co-tunes with
    ``spark.sql.files.maxPartitionBytes`` — one scan task ≈ one row
    group, no stragglers from oversized groups."""
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode).option("parquet.block.size", str(block_size_bytes))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def single_file(df: DataFrame, path: str, fmt: str = "csv", **options: str) -> None:
    """One-output-file sink (reference L8/L9 fidelity: exactly one
    reducer output, ``Program.cs:351-363``). Coalesces the final stage to
    one task — use only for driver-sized results."""
    writer = df.coalesce(1).write.mode("overwrite").options(**options)
    getattr(writer, fmt)(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted table sink: pre-shuffles ONCE at write time so
    every later equi-join/aggregation on ``bucket_cols`` between
    co-bucketed tables runs shuffle-free (SortMergeJoin with zero
    Exchange). This is the storage-layout answer to the 100 TB repeated
    fact⋈fact join — pay the shuffle once, amortize it over every query.
    Requires ``saveAsTable`` (bucket metadata lives in the catalog)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


# ---- registry entries: source round-trips, driver-checked ----


def _roundtrip_dir(kind: str) -> str:
    return scratch_dir(f"abmr-{kind}-rt-")


@query(
    "q96_csv_roundtrip",
    oracle="""
        SELECT n_regionkey, count(*) AS n_nations,
               min(n_name) AS first_name
        FROM nation
        GROUP BY n_regionkey
        """,
    tags=("source", "csv"),
)
def q96_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV scan with an explicit schema (no inference
    job), proven lossless by aggregating the re-read copy against
    the original table's oracle. Header handling, quoting, and type
    mapping are what this pins — the classic silent-corruption spots
    of text formats."""
    nation = load_tables(spark, sf_dir)["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    d = _roundtrip_dir("csv")
    write_csv(nation, d)
    back = read_csv(
        spark, d, schema="n_nationkey long, n_name string, n_regionkey long",
        header=True,
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@query(
    "q97_json_roundtrip",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY o_orderpriority
        """,
    tags=("source", "json"),
)
def q97_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → scan with explicit schema; doubles survive
    the text round-trip at full precision (shortest-roundtrip float
    printing), verified by hash-matching the aggregate against the
    original table."""
    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    d = _roundtrip_dir("json")
    write_json(orders, d)
    back = read_json(
        spark, d,
        schema="o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q39_orc_roundtrip",
    oracle="""
        SELECT s_nationkey,
               count(*) AS n_suppliers,
               round(sum(s_acctbal), 2) AS total_bal
        FROM supplier
        GROUP BY s_nationkey
        """,
    tags=("source", "orc"),
)
def q39_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan (the second columnar format beside
    parquet; zlib-compressed, predicate-pushdown capable), proven
    lossless by hash-matching the re-read copy's aggregate against
    the original table's oracle. ORC shares parquet's scale posture:
    column pruning and min/max stripe skipping reach the scan."""
    supplier = load_tables(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    d = _roundtrip_dir("orc")
    supplier.write.mode("overwrite").orc(d)
    back = spark.read.orc(d)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@query(
    "q408_xml_roundtrip",
    oracle="""
        SELECT p_brand || ' <&> ' || p_type AS brand_type,
               count(*) AS n_parts,
               round(sum(p_retailprice), 2) AS total_price
        FROM part
        GROUP BY 1
        """,
    tags=("source", "xml"),
)
def q408_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML scan with an explicit schema (Spark 4's
    NATIVE xml source — no external package), completing the text-
    format matrix beside CSV (q96) and JSON-lines (q97). The group
    key is deliberately decorated with XML metacharacters
    (``' <&> '``) so the writer's entity escaping and the reader's
    unescaping are ON the verified path — the classic silent-
    corruption spot of XML interchange — and doubles must survive
    the text round-trip at full precision (shortest-roundtrip
    printing, the q97 contract). Losslessness is proven by
    hash-matching the re-read copy's aggregate against the ORIGINAL
    parquet table's oracle.

    Scale posture: XML is a row-wise interchange format — no
    column pruning or predicate pushdown reaches the scan (unlike
    parquet/ORC), which is exactly why the engine treats it as an
    ingest/egress edge, not a storage layout; the aggregate itself
    is one partial+final pass at (brand, type) grain.
    Reference contract: mapper/reducer outputs are opaque text
    files renamed into a shared namespace (``Program.cs:341-344``,
    ``App.config:19-20``) — XML is that contract with a schema
    bolted on at read time."""
    part = load_tables(spark, sf_dir)["part"].select(
        F.concat(
            F.col("p_brand"), F.lit(" <&> "), F.col("p_type")
        ).alias("brand_type"),
        "p_partkey",
        "p_retailprice",
    )
    d = _roundtrip_dir("xml")
    part.write.mode("overwrite").format("xml").option(
        "rootTag", "parts"
    ).option("rowTag", "part").save(d)
    back = (
        spark.read.format("xml")
        .option("rowTag", "part")
        .schema(
            "brand_type string, p_partkey long, p_retailprice double"
        )
        .load(d)
    )
    return back.groupBy("brand_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
    )


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. The small-files problem is THE
    operational failure mode of long-running ingest at scale — NameNode
    /listing pressure, per-file open cost, tiny row groups that defeat
    column-chunk compression and vectorized reads. Returns the file
    count written.

    Scale posture: sizing from the source's actual byte size (control-
    plane listing, mirrors the reference's L1 directory enumeration,
    ``Program.cs:248-258``) — not row counts, which mispredict badly
    under compression. ``coalesce`` merges without a shuffle (map-side
    bin-packing of input splits); use ``repartition`` instead only when
    the source is skewed enough that merged tasks would be unbalanced.
    """
    files = glob.glob(os.path.join(src_dir, "part-*"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = int(max(1, -(-total // target_file_bytes)))
    df = spark.read.parquet(src_dir)
    # coalesce only merges; if the scan planned fewer input partitions
    # than the target (tiny files bin-packed by maxPartitionBytes), a
    # round-robin repartition is needed to fan back out.
    cur = df.rdd.getNumPartitions()
    df = df.coalesce(n_out) if n_out <= cur else df.repartition(n_out)
    df.write.mode("overwrite").parquet(dst_dir)
    return len(glob.glob(os.path.join(dst_dir, "part-*")))


@query(
    "q118_compaction",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY o_orderpriority
        """,
    tags=("source", "compaction", "layout"),
)
def q118_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round-trip: orders fragmented into 64
    tiny files, compacted by :func:`compact_parquet` to the byte-
    target file count, then aggregated from the compacted copy and
    hash-checked against the original table — content-lossless,
    layout-fixed. File-count behavior is pinned in
    tests/test_sources.py."""
    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    d = _roundtrip_dir("compact")
    small_dir = f"{d}/small"
    compact_dir = f"{d}/compacted"
    orders.repartition(64).write.mode("overwrite").parquet(small_dir)
    compact_parquet(spark, small_dir, compact_dir)
    back = spark.read.parquet(compact_dir)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q125_schema_evolution",
    oracle="""
        WITH unioned AS (
            SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT coalesce(o_orderpriority, '(pre-schema)') AS priority,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM unioned
        GROUP BY coalesce(o_orderpriority, '(pre-schema)')
        """,
    tags=("source", "schema-evolution", "parquet"),
)
def q125_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: an old batch
    written before a column existed and a new batch carrying it
    live in one dataset; `mergeSchema=true` widens the scan schema
    and back-fills the old files with NULLs — the read-side half of
    additive schema evolution (the in-memory analog is
    `unionByName(allowMissingColumns=True)`). The aggregate folds
    pre-schema rows into an explicit '(pre-schema)' bucket so the
    oracle pins the NULL back-fill behavior, not just the row count.

    Scale posture: mergeSchema reconciles footers at planning time
    (control plane); the data-plane scan stays columnar and pruned.
    At 100 TB you pin the merged schema in a metastore instead of
    re-reconciling per query — same plan, no footer sweep."""
    orders = load_tables(spark, sf_dir)["orders"]
    d = _roundtrip_dir("schemaevo")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(f"{d}/gen=1")
    new.write.mode("overwrite").parquet(f"{d}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{d}/gen=1", f"{d}/gen=2"
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("(pre-schema)")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q173_partitioned_sink_pruning",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     / 100.0, 2) AS total
        FROM orders
        WHERE year(o_orderdate) = 1997
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
    tags=("source", "partitioning", "pruning", "layout"),
)
def q173_partitioned_sink_pruning(spark, sf_dir):
    """Hive-style partitioned sink + partition-pruned scan: orders
    are written ``partitionBy(order_year)`` (the layout that turns
    a year predicate into directory pruning instead of data
    reading), then re-read with ``order_year = 1997`` — the scan's
    PartitionFilters prune every other year's files without
    opening them. The aggregate is hash-checked against the oracle
    running the same predicate on the raw table, proving pruning
    loses no rows. Money in integer cents.

    Scale posture: this layout is THE lever for time-ranged
    queries at 100 TB — cost scales with the hit partitions, not
    the table. Partition count stays bounded (years, not days) so
    small-file pressure is controlled; combine with q118's
    compaction inside each partition. Plan-shape is asserted in
    tests/test_plans.py (PartitionFilters, not PushedFilters).
    """
    d = _roundtrip_dir("partpruned")
    orders = load_tables(spark, sf_dir)["orders"]
    orders.withColumn(
        "order_year", F.year("o_orderdate")
    ).write.mode("overwrite").partitionBy("order_year").parquet(d)
    pruned = spark.read.parquet(d).filter(F.col("order_year") == 1997)
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q197_csv_bad_records",
    oracle="""
        SELECT o_orderstatus,
               CAST(sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bad,
               CAST(sum(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_good,
               round(sum(CASE WHEN o_orderkey % 13 <> 0
                              THEN CAST(round(o_totalprice * 100) AS BIGINT)
                              ELSE 0 END) / 100.0, 2) AS good_total
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
    tags=("source", "csv", "quality", "permissive"),
)
def q197_csv_bad_records(spark, sf_dir):
    """PERMISSIVE-mode CSV ingestion with corrupt-record capture:
    a CSV export where every 13th order's price field is mangled to
    a non-number must load WITHOUT failing the job — the mangled
    rows surface as NULL price + a populated
    ``_corrupt_record`` column, and the query reports good/bad
    counts and the good-row revenue per status. The oracle derives
    the identical partition arithmetically from the clean table, so
    the whole PERMISSIVE machinery (schema coercion failure →
    corrupt capture, not job abort) is what's actually under test.
    Sibling of q101's corrupt-JSON tolerance, on the CSV reader.

    Scale posture: the corrupt-capture path is per-row, map-only;
    bad rows can be routed to a quarantine sink with one extra
    filter instead of poisoning the batch — the
    detect-don't-abort posture the reference lacks entirely
    (a bad file fails its whole mapper, ``Program.cs:440-455``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    d = scratch_dir("abmr-badcsv-")
    path = os.path.join(d, "orders.csv")
    mangled = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("NOT_A_PRICE"))
        .otherwise(F.round("o_totalprice", 2).cast("string"))
        .alias("o_totalprice"),
    )
    mangled.write.mode("overwrite").option("header", "true").csv(path)
    schema = (
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,"
        " _corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.sum(
                F.col("_corrupt_record").isNotNull().cast("long")
            ).alias("n_bad"),
            F.sum(
                F.col("_corrupt_record").isNull().cast("long")
            ).alias("n_good"),
            F.round(
                F.sum(
                    F.when(
                        F.col("_corrupt_record").isNull(),
                        F.round(F.col("o_totalprice") * 100).cast("long"),
                    ).otherwise(F.lit(0))
                )
                / 100.0,
                2,
            ).alias("good_total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q206_dynamic_partition_pruning",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
                   AS revenue
        FROM orders
        WHERE year(o_orderdate) IN (1994, 1997)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
    tags=("source", "partitioning", "dpp", "pruning", "join"),
)
def q206_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning: the fact table is laid out
    partitioned by order year; the year filter lives ONLY on the
    dimension side of a join, yet Spark injects a runtime
    DynamicPruningSubquery into the fact scan so non-matching
    partition DIRECTORIES are never even listed — the at-rest
    counterpart of q196's runtime bloom filter (which prunes rows
    in flight; DPP prunes files before the scan). The plan shape
    is pinned in test_plans.py.

    The dimension predicate must be statistically selective (an
    IN-list here) — Spark's PartitionPruning rule ignores bare
    boolean attributes; that subtlety is exactly why the plan
    assertion exists.

    Scale posture: at 100 TB with a date-partitioned fact, DPP is
    the difference between scanning 3 of 2,500 daily partitions
    and scanning all of them — the single biggest I/O lever a
    star-schema layout has. The build writes the partitioned copy
    per call at fixture scale; a real deployment reads the
    already-partitioned table."""
    orders = load_tables(spark, sf_dir)["orders"]
    d = scratch_dir("abmr-dpp-")
    fact_dir, dim_dir = os.path.join(d, "fact"), os.path.join(d, "dim")
    orders.withColumn("order_year", F.year("o_orderdate")).write.partitionBy(
        "order_year"
    ).mode("overwrite").parquet(fact_dir)
    spark.range(1992, 2002).select(
        F.col("id").cast("int").alias("y"),
        F.concat(F.lit("Y"), F.col("id")).alias("year_name"),
    ).write.mode("overwrite").parquet(dim_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("y").isin(1994, 1997))
    return (
        fact.join(dim, fact["order_year"] == dim["y"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q292_dynamic_partition_overwrite",
    oracle="""
        WITH final AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value
            FROM events
            WHERE strftime(ts, '%Y-%m-%d') <> '2024-01-05'
            UNION ALL
            SELECT strftime(ts, '%Y-%m-%d'), event_type, value * 2
            FROM events
            WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
              AND event_id % 2 = 0
        )
        SELECT day,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM final
        GROUP BY day
        ORDER BY day
        """,
    tags=("source", "sink", "partition", "overwrite", "restatement"),
)
def q292_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse restatement
    primitive: the events table lands day-partitioned; a corrected
    batch for 2024-01-05 (even event_ids only, values doubled) is
    written with ``partitionOverwriteMode=dynamic``, which replaces
    ONLY the partitions present in the incoming batch. Static
    overwrite mode would truncate every other day — the classic
    data-loss foot-gun this mode exists to prevent; the oracle
    proves all other days survived byte-for-byte (per-day counts
    and value sums).

    Determinism: partition keys are exact date strings; the
    restatement predicate is integer arithmetic.

    Scale posture: the write shuffles once on the partition key
    (`repartition(day)` aligns the shuffle with the directory
    layout, one file set per day); the overwrite touches only the
    restated partition's files, so restating one day of a 100 TB
    table moves one day of bytes. The writer-level option keeps
    the session config untouched. Reference contract: the sink
    staging mirrors L3/L15's container ensure + download
    (``Program.cs:110-111,474-497``); selective replacement is the
    engine-side upgrade over the reference's whole-container
    download."""
    events = load_tables(spark, sf_dir)["events"]
    base = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_id",
        "event_type",
        "value",
    )
    d = _roundtrip_dir("dynover")
    (
        base.repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(d)
    )
    restated = base.where(
        (F.col("day") == "2024-01-05") & (F.col("event_id") % 2 == 0)
    ).withColumn("value", F.col("value") * 2)
    (
        restated.repartition("day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(d)
    )
    back = spark.read.parquet(d)
    return (
        back.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day")
    )


_ZM_FILES = 16
_ZM_LO, _ZM_HI = "1995-01-01", "1995-03-31"


@query(
    "q316_zone_map_skipping",
    oracle=f"""
        WITH ranked AS (
            SELECT o_orderdate,
                   row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
                   count(*) OVER () AS n,
                   ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                       % {_ZM_FILES} AS hfile
            FROM orders
        ),
        assigned AS (
            SELECT o_orderdate,
                   ((rn - 1) * {_ZM_FILES}) // n AS sfile, hfile
            FROM ranked
        ),
        zones AS (
            SELECT 'sorted' AS layout, sfile AS file_id,
                   min(o_orderdate) AS lo, max(o_orderdate) AS hi
            FROM assigned GROUP BY sfile
            UNION ALL
            SELECT 'hashed', hfile, min(o_orderdate), max(o_orderdate)
            FROM assigned GROUP BY hfile
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN hi < DATE '{_ZM_LO}' OR lo > DATE '{_ZM_HI}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
               ((2 * sum(CASE WHEN hi < DATE '{_ZM_LO}' OR lo > DATE '{_ZM_HI}'
                     THEN 1 ELSE 0 END) * 10000 + count(*))
                    // (2 * count(*))) / 10000.0 AS skip_rate
        FROM zones
        GROUP BY layout
        ORDER BY layout
        """,
    tags=("source", "layout", "zone-map", "skipping", "clustering"),
)
def q316_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file min/max statistics) skipping effectiveness,
    sorted vs hashed layout — the quantified WHY behind clustered
    writes (q115's Z-order, q118's compaction): orders are assigned
    to 16 files either by date-sorted range (the layout a
    sort-before-write produces) or by key hash (the layout a plain
    repartition produces); per-file [min,max] o_orderdate zones are
    the statistics every parquet footer already carries, and a
    Q1-1995 date predicate skips a file iff its zone misses the
    range. Sorted layout skips ~15/16; hashed skips ~0 — the same
    scan, the same statistics, orders of magnitude apart purely on
    layout.

    Determinism: range assignment uses the exact global rank
    (sample-sort primitive); hash assignment is the md5 window;
    zones are exact min/max.

    Scale posture: one rank pass (range shuffle) + one zone
    aggregate at file grain; no data is written — the simulation
    prices the layout decision before paying for the rewrite. At
    100 TB the skip_rate column times the table size IS the
    bytes-read difference per query. Reference contract: per-row
    file assignment = map slot (``App.config:16``); zone
    consolidation = reduce slot (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    ranked = distributed_row_number(
        orders.select("o_orderdate", "o_orderkey"),
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        out="rn",
    )
    n = orders.count()
    assigned = ranked.select(
        "o_orderdate",
        (((F.col("rn") - 1) * _ZM_FILES) / n).cast("long").alias("sfile"),
        (
            hex_int(F.md5(F.col("o_orderkey").cast("string")), 1, 8) % _ZM_FILES
        ).alias("hfile"),
    )
    zones = (
        assigned.groupBy(F.col("sfile").alias("file_id"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .withColumn("layout", F.lit("sorted"))
        .unionAll(
            assigned.groupBy(F.col("hfile").alias("file_id"))
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
            )
            .withColumn("layout", F.lit("hashed"))
        )
    )
    skipped = F.when(
        (F.col("hi") < F.lit(_ZM_LO).cast("date"))
        | (F.col("lo") > F.lit(_ZM_HI).cast("date")),
        1,
    ).otherwise(0)
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(skipped).cast("long").alias("files_skipped"),
            half_up_ratio(F.sum(skipped), F.count(F.lit(1)), 4).alias(
                "skip_rate"
            ),
        )
        .orderBy("layout")
    )


# --- q467: malformed-CSV PERMISSIVE ingestion audit -------------------------


@query(
    "q467_malformed_csv_permissive",
    oracle="""
        WITH src AS (
            SELECT o_orderkey, o_orderpriority,
                   CASE WHEN o_orderkey % 37 = 0 THEN NULL
                        ELSE o_totalprice END AS price,
                   (o_orderkey % 37 = 0) AS corrupt
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corrupt,
               round(sum(price), 2) AS parsed_total
        FROM src
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
    tags=("source", "csv", "permissive", "corrupt-record", "quality"),
)
def q467_malformed_csv_permissive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Malformed-CSV ingestion under PERMISSIVE mode — the
    robustness row of the source matrix (q96 proves the clean CSV
    round-trip; real feeds are dirty): the orders table is written
    as raw CSV text with a DETERMINISTIC corruption (every
    o_orderkey % 37 = 0 row carries a non-numeric price token),
    then read back with an explicit schema, ``mode=PERMISSIVE``
    and ``columnNameOfCorruptRecord`` — Spark's contract is to
    NULL the unparseable field, keep the parseable ones, and
    capture the raw line in the corrupt-record column. The
    released per-priority rollup (row counts, corrupt counts,
    parsed-price totals) hash-matches an oracle that recomputes
    the same damage from the clean table — proving no corrupt row
    was dropped (DROPMALFORMED would fail the row counts), no
    clean row mis-parsed, and every corruption was detected.

    Determinism: the corruption rule is integer modulo; prices
    round-trip CSV text exactly (shortest-roundtrip printing, the
    q96/q97 rule); the rollup is exact counts + a 2dp money sum.

    Scale posture: one text write + one schema-applied CSV scan
    (PERMISSIVE parsing is per-row map work; the corrupt-record
    column prunes away when unused); the rollup is
    priority-grain. Reference contract: opaque byte ingestion =
    the reference's whole data model (``Program.cs:252,286-289``);
    per-row parse = map slot (``App.config:16``); audit rollup =
    reduce slot (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    d = _roundtrip_dir("badcsv")
    lines = orders.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderpriority"),
            F.when(
                F.col("o_orderkey") % 37 == 0, F.lit("CORRUPT")
            ).otherwise(F.col("o_totalprice").cast("string")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(d)
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderpriority string,"
            " o_totalprice double, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(d)
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("_bad").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_corrupt"),
            F.round(F.sum("o_totalprice"), 2).alias("parsed_total"),
        )
        .orderBy("o_orderpriority")
    )


