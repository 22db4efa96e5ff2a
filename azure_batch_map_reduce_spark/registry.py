"""Central query registry.

Every public operator of the engine lands here as a named query: a PySpark
builder ``fn(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables. The driver contract
(``__spark_entry__.py``) exposes this registry verbatim; the local test
suite runs the same differential comparison at sf0.001.

This mirrors the reference's single extension point — the pluggable
map/reduce command slots (``App.config:16-17``) — as a catalog of named,
schema-checked dataflows instead of opaque executables.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

# Every oracle-less query MUST be accounted for here — rows-only status
# is a deliberate, documented property, never an accident the driver
# could read as a silent failure.
# ``write_operator_index`` enforces the invariant and publishes the
# rationale; ``tests/test_output_contract.py`` pins it.
ROWS_ONLY_RATIONALE: dict[str, str] = {
    "q67_ml_minhash_lsh": (
        "PERMANENTLY rows-only: spark.ml MinHashLSH candidate recall "
        "depends on the library's internal hash seeds, so the found-pair "
        "set is not SQL-replayable. Precision IS verified in-result "
        "(exact_jaccard recomputed with array ops), and "
        "q62_minhash_lsh_neardup is the oracle-paired engine-pinned twin "
        "of the identical dataflow."
    ),
    "q92_multimodal_pipeline": (
        "binary-content decode plumbing (driver-accepted rows-only r1): "
        "every emitted stat (dims, features, shas) seeds from "
        "sha256(payload BYTES), and this DuckDB's digest functions are "
        "VARCHAR-only — BLOB→VARCHAR casts do not preserve bytes "
        "(verified r4), so read_blob cannot replay content-seeded "
        "arithmetic. Conservation invariants (bytes/counts/feature "
        "bounds) are verified IN-RESULT against a no-UDF scan branch; "
        "schema/partitioning pinned in tests/test_multimodal.py. "
        "Contrast q147/q164, which moved their stub seeds to "
        "read_blob's stat columns and gained full oracles in r10."
    ),
}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every module that registers queries; return the registry."""
    # Imports are side-effectful (decorators populate REGISTRY).
    from azure_batch_map_reduce_spark.operators import (  # noqa: F401
        etl,
        graph,
        relational,
        joins,
        windows,
        skew,
        ranks,
    )
    from azure_batch_map_reduce_spark.functions import (  # noqa: F401
        chunking,
        curation,
        pandas_udfs,
        scalar,
        text,
        dedup,
        similarity,
        multimodal,
    )
    from azure_batch_map_reduce_spark.streaming import (  # noqa: F401
        windows as swindows,
        stateful as sstateful,
        sinks as ssinks,
    )
    from azure_batch_map_reduce_spark.plans import mapreduce  # noqa: F401
    from azure_batch_map_reduce_spark.sources import (  # noqa: F401
        files,
        python_source,
    )

    return REGISTRY


def write_operator_index(path: str = "OPERATORS.md") -> int:
    """Regenerate the operator index (``python -m
    azure_batch_map_reduce_spark.registry``)."""
    reg = load_all()
    oracleless = {n for n, q in reg.items() if not q.oracle}
    undocumented = oracleless - set(ROWS_ONLY_RATIONALE)
    stale = set(ROWS_ONLY_RATIONALE) - oracleless
    if undocumented or stale:
        raise ValueError(
            f"rows-only bookkeeping drift: undocumented={sorted(undocumented)} "
            f"stale={sorted(stale)} — every oracle=None query needs a "
            "ROWS_ONLY_RATIONALE entry (and vice versa)"
        )
    lines = [
        "# OPERATORS — registry index "
        "(auto-generated: `python -m azure_batch_map_reduce_spark.registry`)",
        "",
        'One row per `queries()` entry in `__spark_entry__.py`. "SQL oracle" means',
        "the driver hash-compares the Spark result against the DuckDB oracle at",
        'sf=0.01; "rows-only" marks genuinely non-SQL-expressible operators —',
        "each one is deliberate and documented in the section below (enforced:",
        "this generator refuses to run with an unexplained oracle-less query).",
        "",
        "| query | module | tags | check | what it does |",
        "|---|---|---|---|---|",
    ]
    for name, q in sorted(reg.items()):
        mod = q.fn.__module__.removeprefix("azure_batch_map_reduce_spark.")
        doc = (q.doc or "").split("\n")[0].rstrip(".").replace("|", "\\|")
        check = "SQL oracle" if q.oracle else "rows-only"
        lines.append(f"| {name} | {mod} | {', '.join(q.tags)} | {check} | {doc} |")
    lines += ["", "## Rows-only rationale", ""]
    for name in sorted(ROWS_ONLY_RATIONALE):
        lines.append(f"- **{name}** — {ROWS_ONLY_RATIONALE[name]}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return len(reg)


if __name__ == "__main__":
    # Run via the canonical module object — under `-m` this file executes
    # as `__main__`, whose REGISTRY is distinct from the one the operator
    # modules' decorators populate.
    from azure_batch_map_reduce_spark import registry as _canonical

    print(f"{_canonical.write_operator_index()} operators indexed")
