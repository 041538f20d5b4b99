"""Per-task fixed cost of a reused PySpark Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). On Python < 3.12
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory — one importer per zip
on ``sys.path`` and per package imported from it (``pyspark.zip`` and
its subpackages, py4j, a ``--py-files`` engine zip). On a 4-core host
that is 136–283 ms of every task, far above the scoring arithmetic of
a warm query (CPython gh-103200; 3.12 reads the directory lazily).

:func:`install` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` changed since the last read. The package ``__init__``
installs it, so a worker pays the re-read once — on the task that
first unpickles an engine closure — instead of on every task.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) when its directory was read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    unchanged = stamp is not None and _stamps.get(archive) == stamp
    if unchanged and files is not None:
        self._files = files
        return
    _original_invalidate(self)
    if stamp is not None:  # a failed read leaves no cached directory
        _stamps[archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
