"""Session factory and session store.

The L17 autoscale preset must emit the full dynamic-allocation conf set
mirroring the reference's pool-autoscale formula (``Readme.md:29-41``) —
cap, backlog debounce, idle release, and shuffle-safe decommission. The
session store is the one place that keys shared intermediates by Spark
application.
"""

from __future__ import annotations

import ast
import os
import sys
import threading
import time
from pathlib import Path

import pytest

from azure_batch_map_reduce_spark.session import (
    _SCOPES,
    _STORE,
    autoscale_conf,
    clear_session_store,
    scoped_shuffle_partitions,
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


@pytest.mark.parametrize(
    "call, owner",
    [
        ("_minhash_exprs(", "functions/dedup.py::_minhash_signatures"),
        ("bpe_merge_symbols(", "functions/text.py::_bpe_train"),
        ("F.conv(", "operators/ranks.py::hex_int"),
        ('F.element_at("embedding", i) >= 0', "functions/similarity.py::_sign6"),
        # Any column's per-coordinate sign test, e.g. on the doubled `e`.
        ('", i) >= 0', "functions/similarity.py::_sign6"),
        ("i -> struct(element_at(ws, i) AS w1,", "functions/text.py::_bigram_counts"),
        ("pq.read_metadata(", "catalog.py::parquet_schema"),
        ("awaitTermination(", "streaming/windows.py::drain_available_now"),
        ("availableNow=True", "streaming/windows.py::drain_available_now"),
        ("if g > GAP_S:", "streaming/stateful.py::_session_fold"),
        ("_QC_QSCALE + n) // (2 * n)", "functions/curation.py::_hup"),
    ],
)
def test_copied_stage_is_built_in_one_place(call, owner):
    """The MinHash signature stage, the BPE trainer, the md5 → BIGINT
    hash rule, the sign-LSH signature, the bigram count table, the
    parquet footer schema read, the availableNow drain, the session
    fold and the trainers' half-up accuracy are each built by one
    function; a query that needs one calls that function instead of
    writing its pieces again."""
    callers = set()
    for path in sorted(PKG.rglob("*.py")):
        source = path.read_text()
        spans = _top_level_spans(ast.parse(source))
        for i, line in enumerate(source.splitlines(), 1):
            if call in line and not line.lstrip().startswith("def "):
                top = next((name for lo, hi, name in spans if lo <= i <= hi), None)
                callers.add(f"{path.relative_to(PKG)}::{top}")
    assert callers == {owner}


def _top_level_spans(tree: ast.Module) -> list[tuple[int, int, str]]:
    """(first line, last line, name) of each top-level function and
    class, decorators included, also where a module-level ``try``,
    ``if`` or ``with`` holds the definition."""
    spans = []
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            spans.append((first, node.end_lineno, node.name))
        elif isinstance(node, (ast.Try, ast.If, ast.With, ast.ExceptHandler)):
            stack.extend(ast.iter_child_nodes(node))
    return spans


def test_scoped_shuffle_partitions_rejects_a_second_thread(spark):
    """A scope pins a session-global conf, so while one thread holds a
    scope (here two nested ones) another thread's scope on the same
    session raises instead of silently sharing the pinned value; once
    the holder exits, the other thread may open one."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    opened, release = threading.Event(), threading.Event()

    def hold():
        with scoped_shuffle_partitions(spark, 3):
            with scoped_shuffle_partitions(spark, 4):
                opened.set()
                release.wait(60)

    holder = threading.Thread(target=hold)
    holder.start()
    try:
        assert opened.wait(60)
        with pytest.raises(RuntimeError, match="scoped_shuffle_partitions"):
            with scoped_shuffle_partitions(spark, 5):
                pass
        assert spark.conf.get(key) == "4"
    finally:
        release.set()
        holder.join(60)
    assert spark.conf.get(key) == prev
    with scoped_shuffle_partitions(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == prev


def test_scoped_shuffle_partitions_one_owner_under_contention(spark):
    """Eight threads race to open scopes on one session with a short
    switch interval: at most one thread is ever inside a scope, and the
    session conf and the scope registry end as they began."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    lock = threading.Lock()
    inside, peak, entered = [0], [0], [0]

    def worker():
        for _ in range(20):
            try:
                with scoped_shuffle_partitions(spark, 3):
                    with lock:
                        inside[0] += 1
                        entered[0] += 1
                        peak[0] = max(peak[0], inside[0])
                    time.sleep(0.001)
                    with lock:
                        inside[0] -= 1
            except RuntimeError:
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert peak[0] == 1 and entered[0] > 0
    assert spark.conf.get(key) == prev
    assert not _SCOPES
