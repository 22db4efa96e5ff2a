"""The Python-worker daemon's cheap ``zipimporter.invalidate_caches``.

The backport is checked in a subprocess so this process's importers stay
unpatched; the integration test asks a real ``mapInPandas`` worker of the
suite's ``get_spark`` session which method it runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from azure_batch_map_reduce_spark.session import (
    WORKER_DAEMON_MODULE,
    worker_daemon_conf,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds an archive with a package inside (two importers: the archive
# root and ``pkg/``), counts ``zipimport._read_directory`` calls around
# ``importlib.invalidate_caches()``, and prints the counts as JSON.
_PROBE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport

    from azure_batch_map_reduce_spark import worker_daemon

    arc = os.path.join(sys.argv[1], "mods.zip")

    def write(names):
        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("pkg/__init__.py", "")
            for name in names:
                z.writestr(f"pkg/{name}.py", f"NAME = {name!r}\\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting

    def count_invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return reads.count(arc)

    write(["alpha"])
    sys.path.insert(0, arc)
    import pkg.alpha

    out = {"stock": count_invalidate(), "installed": worker_daemon.install()}
    out["first"] = count_invalidate()
    out["unchanged"] = [count_invalidate() for _ in range(3)]
    write(["alpha", "beta"])
    out["rewritten"] = count_invalidate()
    import pkg.beta

    out["beta"] = pkg.beta.NAME
    out["after"] = count_invalidate()
    print(json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def probe_counts(tmp_path_factory) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path_factory.mktemp("zips"))],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stock method is lazy")
def test_unchanged_archive_is_not_reread(probe_counts):
    out = probe_counts
    # Stock behaviour: each importer of the archive re-reads it.
    assert out["stock"] == 2
    assert out["installed"] is True
    # One read serves both importers; after that, none while unchanged.
    assert out["first"] == 1
    assert out["unchanged"] == [0, 0, 0]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stock method is lazy")
def test_rewritten_archive_is_reread_and_new_module_imports(probe_counts):
    out = probe_counts
    assert out["rewritten"] == 1
    assert out["beta"] == "beta"
    assert out["after"] == 0


def test_install_is_a_noop_on_python_313():
    code = textwrap.dedent(
        """
        import sys, zipimport
        from azure_batch_map_reduce_spark import worker_daemon

        stock = zipimport.zipimporter.invalidate_caches
        sys.version_info = (3, 13, 0, "final", 0)
        print(worker_daemon.install(), zipimport.zipimporter.invalidate_caches is stock)
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["False", "True"]


def test_daemon_module_only_for_local_masters(monkeypatch, tmp_path):
    monkeypatch.chdir(REPO)  # the daemon imports the package from the cwd
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert worker_daemon_conf(master) == {}, master
    for master in ("local", "local[4]", "local[*]"):
        assert worker_daemon_conf(master) == {"spark.python.daemon.module": WORKER_DAEMON_MODULE}
    # Where the workers could not import the package, keep the default.
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert worker_daemon_conf("local[4]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", REPO]))
    assert worker_daemon_conf("local[4]") == {"spark.python.daemon.module": WORKER_DAEMON_MODULE}


def test_python_workers_run_the_patched_method(spark):
    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON_MODULE

    def probe(batches):
        import zipimport

        from azure_batch_map_reduce_spark import worker_daemon as wd

        patched = zipimport.zipimporter.invalidate_caches is wd.invalidate_caches
        for pdf in batches:
            yield pdf.assign(patched=patched)

    df = spark.range(0, 40, numPartitions=2).selectExpr("id", "id * 3 AS x")
    out = df.mapInPandas(probe, "id long, x long, patched boolean").collect()
    assert {r.patched for r in out} == {sys.version_info < (3, 13)}
    assert sorted((r.id, r.x) for r in out) == sorted(tuple(r) for r in df.collect())
