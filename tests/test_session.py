"""Session factory and session store.

The L17 autoscale preset must emit the full dynamic-allocation conf set
mirroring the reference's pool-autoscale formula (``Readme.md:29-41``) —
cap, backlog debounce, idle release, and shuffle-safe decommission. The
session store is the one place that keys shared intermediates by Spark
application.
"""

from __future__ import annotations

import os
from pathlib import Path

from azure_batch_map_reduce_spark.session import (
    _STORE,
    autoscale_conf,
    clear_session_store,
    session_store,
)

PKG = Path(__file__).resolve().parent.parent / "azure_batch_map_reduce_spark"


def test_autoscale_conf_mirrors_reference_formula():
    conf = autoscale_conf()
    # Scale-to-pending with the reference's 5-node cap (Readme.md:36-38).
    assert conf["spark.dynamicAllocation.enabled"] == "true"
    assert conf["spark.dynamicAllocation.maxExecutors"] == "5"
    assert conf["spark.dynamicAllocation.executorAllocationRatio"] == "1.0"
    # Idle release ≈ taskcompletion deallocation (Readme.md:40).
    assert conf["spark.dynamicAllocation.executorIdleTimeout"].endswith("s")
    # Safe scale-down without an external shuffle service.
    assert conf["spark.dynamicAllocation.shuffleTracking.enabled"] == "true"
    assert conf["spark.decommission.enabled"] == "true"


def test_autoscale_conf_parameterized_cap():
    conf = autoscale_conf(max_executors=1000, min_executors=8, idle_timeout_s=120)
    assert conf["spark.dynamicAllocation.maxExecutors"] == "1000"
    assert conf["spark.dynamicAllocation.minExecutors"] == "8"
    assert conf["spark.dynamicAllocation.executorIdleTimeout"] == "120s"


def test_session_store_evicts_other_applications(spark, sf_dir):
    """A key planted under a stale applicationId is dropped on the next
    access while this application's entry survives unrebuilt; the clear
    hook empties the store."""
    builds = []

    def build():
        builds.append(1)
        return ("value",)

    app = spark.sparkContext.applicationId
    first = session_store(spark, "test", sf_dir, "x", build)
    stale = ("stale-app", "test", os.path.realpath(sf_dir), "x")
    _STORE[stale] = ("old",)
    # A second spelling of the same dir hits the same entry.
    again = session_store(spark, "test", sf_dir + "/.", "x", build)
    assert again is first and len(builds) == 1
    assert stale not in _STORE
    assert (app, "test", os.path.realpath(sf_dir), "x") in _STORE
    clear_session_store()
    assert not _STORE


def test_application_id_only_in_session_module():
    """The per-application keying of shared intermediates is decided in
    one module: any other reference to ``applicationId`` in the package
    bypasses ``session_store``."""
    hits = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "applicationId" in line
    ]
    assert not hits, f"applicationId outside session.py: {hits}"
