"""Per-task fixed costs of PySpark Python workers, cut once per worker.

Zip directories. Every PySpark task calls ``importlib.invalidate_caches()``
(in ``pyspark/worker_util.py:setup_spark_files``). On CPython 3.10-3.12
that makes each ``zipimport.zipimporter`` the worker holds re-read its
whole archive directory. A worker holds about 16 of them over
``pyspark.zip`` (1328 entries), so a reused worker spent 220-270 ms of
CPU per task before the UDF's first line ran. ``install()`` replaces
``zipimporter.invalidate_caches`` with a version that re-reads an
archive's directory only when the archive's ``(st_mtime_ns, st_size)``
differs from the one seen at its last read. A changed (or vanished)
archive is re-read exactly as before. The first call per archive in a
process always re-reads, since nothing records when its cached directory
was read.

Garbage collection. The PySpark daemon runs ``gc.collect()`` after every
task of a reused worker (``pyspark/daemon.py``), walking every tracked
object: numpy, pandas, pyarrow, ``pyspark.worker`` and the engine's
modules are about 74k of them, some 18 ms a task. ``install()`` also
appends a finder to ``sys.meta_path`` that finds no module but whose
``invalidate_caches`` runs at the start of each task. Its first call,
at the worker's next task, runs ``gc.freeze()`` once: the daemon's
collection has just run, so only the live heap is frozen, and later
collections walk only what tasks allocate since.

The package ``__init__`` installs both once per Python worker process,
and never in the driver.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _lazy_invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive has changed."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


class _FreezeAtNextTask:
    """A ``sys.meta_path`` entry that finds nothing and freezes the heap
    at the first ``importlib.invalidate_caches()`` it sees."""

    frozen = False

    @staticmethod
    def find_spec(name, path=None, target=None):
        return None

    @classmethod
    def invalidate_caches(cls) -> None:
        if not cls.frozen:
            cls.frozen = True
            gc.freeze()


def install() -> None:
    """Install the lazy ``invalidate_caches`` and the one-time freeze; a
    second call does nothing."""
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    if _FreezeAtNextTask not in sys.meta_path:
        sys.meta_path.append(_FreezeAtNextTask)
