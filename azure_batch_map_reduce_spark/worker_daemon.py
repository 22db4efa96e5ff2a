"""Spark Python daemon whose workers do not re-read ``pyspark.zip`` per task.

Every Python task (``mapInPandas``, ``applyInPandas``, ``pandas_udf``,
UDTFs, ``rdd.map``) starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before Python 3.13 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory. A worker holds one importer per imported ``pyspark.zip``
package directory, so each task re-reads the same unchanged archive
about sixteen times: ≈120 ms of CPU on a 4-core x86 host before the UDF
runs. Python 3.13 made the call lazy (``zipimporter._get_files``).

:func:`install` backports a cheap form of that: an archive is re-read
only when its ``(st_ino, st_mtime_ns, st_size)`` changed since the last
read, and one read serves every importer of the archive.

Run as a module, this installs the patch and then runs ``pyspark.daemon``
as ``__main__``, unchanged, so the workers it forks inherit the patch.
:func:`session.get_spark` selects it with ``spark.python.daemon.module``
for local masters. The worker module itself cannot be swapped instead:
``pyspark.daemon`` ignores a worker module whose name does not start
with ``pyspark``.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

# The pre-3.13 method: re-reads the archive directory unconditionally.
_reread = zipimport.zipimporter.invalidate_caches

# archive path -> (stat stamp taken before the read, directory it read)
_snapshots: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def invalidate_caches(self) -> None:
    """Re-read ``self.archive`` only if it changed since the last read."""
    stamp = _stamp(self.archive)
    snap = _snapshots.get(self.archive)
    if stamp is not None and snap is not None and snap[0] == stamp:
        self._files = snap[1]
        zipimport._zip_directory_cache[self.archive] = snap[1]
        return
    # Stamp before reading: a rewrite racing the read then shows up as a
    # changed stamp on the next call, never as a stale directory.
    _reread(self)
    if stamp is None:
        _snapshots.pop(self.archive, None)
    else:
        _snapshots[self.archive] = (stamp, self._files)


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process.

    Returns whether the patch is in place. On Python >= 3.13 the stock
    method is already lazy, so this is a no-op that returns ``False``.
    """
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    if install():
        # One read per archive now, so forked workers start with every
        # snapshot in place and their first task skips the read too.
        importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    # Under ``python -m`` this file runs as ``__main__``; call the copy
    # imported under its package name so the patched method is the
    # ``azure_batch_map_reduce_spark.worker_daemon`` function.
    from azure_batch_map_reduce_spark.worker_daemon import main as _main

    _main()
