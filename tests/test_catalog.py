"""Catalog schemas come from parquet footers read on the driver.

``catalog.parquet_schema`` must equal the schema Spark's own parquet
inference gives, for every fixture table and for each Arrow type the
catalog accepts, and loading the catalog or starting the events stream
must run no Spark job.
"""

from __future__ import annotations

import datetime
import decimal
import os
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from azure_batch_map_reduce_spark.catalog import (
    DEFAULT_SF_DIR,
    TABLES,
    ParquetSchemaError,
    align_session_for_oracle,
    clear_table_cache,
    data_files,
    load_tables,
    parquet_schema,
    table_path,
)
from azure_batch_map_reduce_spark.streaming.windows import events_stream

PKG = Path(__file__).resolve().parent.parent / "azure_batch_map_reduce_spark"
# Every scale-factor directory next to the default one, plus the
# benchmark's copy of the sf0.01 tables.
FIXTURE_DIRS = [
    str(d)
    for d in sorted(Path(DEFAULT_SF_DIR).parent.glob("sf*"))
    + [PKG.parent / "perfbench" / "fixtures" / "sf0.01"]
    if d.is_dir()
]

_TS = 1_700_000_000_123_456  # µs since the epoch
ACCEPTED = {
    "int8": pa.array([1, None], pa.int8()),
    "int16": pa.array([1, None], pa.int16()),
    "int32": pa.array([1, None], pa.int32()),
    "int64": pa.array([1, None], pa.int64()),
    "float": pa.array([1.5, None], pa.float32()),
    "double": pa.array([1.5, None], pa.float64()),
    "bool": pa.array([True, None]),
    "string": pa.array(["a", None]),
    "large_string": pa.array(["a", None], pa.large_string()),
    "binary": pa.array([b"a", None]),
    "date32": pa.array([datetime.date(2024, 1, 2), None]),
    "decimal128": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(10, 2)),
    "list": pa.array([[1, None], None], pa.list_(pa.int64())),
    "struct": pa.array([{"a": 1, "b": "x"}, None]),
    "ts_ms": pa.array([_TS // 1000, None], pa.timestamp("ms")),
    "ts_ms_tz": pa.array([_TS // 1000, None], pa.timestamp("ms", "UTC")),
    "ts_us": pa.array([_TS, None], pa.timestamp("us")),
    "ts_us_tz": pa.array([_TS, None], pa.timestamp("us", "America/Los_Angeles")),
    "ts_ns": pa.array([_TS * 1000 + 789, None], pa.timestamp("ns")),
}


def _job_ids(spark, group: str, action) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_catalog_load_and_stream_start_run_no_job(spark, sf_dir):
    """Inferring a parquet schema with ``spark.read.parquet`` runs one
    Spark job per table; the catalog (10 tables) and the events stream
    read their schemas from footers on the driver instead."""
    clear_table_cache()
    assert _job_ids(spark, "catalog-load", lambda: load_tables(spark, sf_dir)) == []
    assert _job_ids(spark, "events-stream", lambda: events_stream(spark, sf_dir)) == []


@pytest.mark.parametrize("sf", FIXTURE_DIRS, ids=lambda d: "/".join(Path(d).parts[-2:]))
def test_parquet_schema_matches_spark_on_fixtures(spark, sf):
    align_session_for_oracle(spark)
    for name in TABLES:
        path = table_path(sf, name)
        assert parquet_schema(path) == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("kind", sorted(ACCEPTED))
def test_parquet_schema_matches_spark_per_arrow_type(spark, tmp_path, kind):
    arr = ACCEPTED[kind]
    path = str(tmp_path / f"{kind}.parquet")
    # One non-nullable field next to the typed one: Spark reads every
    # file column as nullable whatever the footer says.
    pq.write_table(
        pa.table(
            [arr, pa.array([1, 2], pa.int32())],
            schema=pa.schema([("v", arr.type), pa.field("k", pa.int32(), nullable=False)]),
        ),
        path,
    )
    align_session_for_oracle(spark)
    assert parquet_schema(path) == spark.read.parquet(path).schema


def test_parquet_schema_matches_spark_written_directory(spark, tmp_path):
    """A Spark-written directory of part files (with ``_SUCCESS``,
    ``.crc`` and ``_spark_metadata`` entries) whose footers carry
    Spark's own schema, including a non-nullable ``TimestampType``
    column."""
    align_session_for_oracle(spark)
    path = str(tmp_path / "written")
    (
        spark.range(6)
        .select(
            "id",
            F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
            F.array(F.col("id"), F.lit(None).cast("long")).alias("xs"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
        )
        .repartition(3)
        .write.parquet(path)
    )
    assert any(f.startswith("_") for f in os.listdir(path))
    expected = spark.read.parquet(path).schema
    parts = sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-"))
    # A file sink's log sorts before the part files; Spark's file index
    # skips it, and so must the footer read.
    (tmp_path / "written" / "_spark_metadata").mkdir()
    (tmp_path / "written" / "_spark_metadata" / "0").write_text("v1\n")
    assert data_files(path) == parts
    assert parquet_schema(path)["ts"].dataType.typeName() == "timestamp"
    assert parquet_schema(path) == expected


def test_parquet_schema_rejects_int96_without_spark_schema(tmp_path):
    path = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"t": pa.array([_TS], pa.timestamp("us"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    with pytest.raises(ParquetSchemaError, match=r"int96\.parquet: column t has .*INT96"):
        parquet_schema(path)


def test_parquet_schema_rejects_types_the_reader_maps_differently(tmp_path):
    """Arrow durations read as ``LongType`` in Spark but convert to a
    day-time interval from Arrow: the helper raises instead of guessing."""
    path = str(tmp_path / "dur.parquet")
    pq.write_table(pa.table({"d": pa.array([1], pa.duration("us"))}), path)
    with pytest.raises(ParquetSchemaError, match=r"column d has unsupported type duration"):
        parquet_schema(path)


def test_no_schema_inference_job_left_in_package():
    """``spark.read.parquet(...).schema`` runs a Spark job to read a
    footer; every schema the package needs comes from
    ``parquet_schema`` instead."""
    hits = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"read\.parquet\([^)]*\)\.schema", line)
    ]
    assert not hits, hits
