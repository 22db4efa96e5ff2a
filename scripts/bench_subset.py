#!/usr/bin/env python
"""Bench a SUBSET of queries under the exact bench.py protocol
(warm-up + min-of-3 noop sink, clearCache between queries, load_1min
recorded) — the A/B instrument for single-family optimization work.

The per-query measurement and the warm-up + min-of-3 loop are
IMPORTED from bench.py (``make_materializer``, ``steady_time``) so the
two tools cannot drift; job labels are reset by the shared helper
after every query.

Usage: python scripts/bench_subset.py q433_... q459_... [...]
Prints one JSON line per run: {"queries": {...}, "queries_honest":
{...}, "total": ..., "total_honest": ..., "load_1min": ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import make_materializer, steady_time  # noqa: E402
from azure_batch_map_reduce_spark.registry import load_all  # noqa: E402
from azure_batch_map_reduce_spark.session import get_spark  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark(app_name="abmr-bench-subset")
    materialize = make_materializer(spark, registry, sf_dir)

    try:
        load = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        load = -1.0
    materialize("q01_pricing_summary")  # session warmup, untimed
    times: dict[str, float] = {}
    honest: dict[str, float] = {}
    for name in names:
        times[name], honest[name] = steady_time(spark, materialize, name)
    print(
        json.dumps(
            {
                "queries": times,
                "queries_honest": honest,
                "total": round(sum(times.values()), 3),
                "total_honest": round(sum(honest.values()), 3),
                "sf_dir": sf_dir,
                "load_1min": load,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
