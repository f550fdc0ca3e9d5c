"""Python-worker runtime fix: stop re-reading unchanged zip archives per task.

Before every task a PySpark worker runs ``setup_spark_files``
(``pyspark/worker_util.py``), which ends in ``importlib.invalidate_caches()``.
On Python <= 3.12 that calls ``zipimporter.invalidate_caches()`` on every
zip importer in ``sys.path_importer_cache``, and each call eagerly re-reads
its archive's central directory (3.13 only drops the cached entry and
re-reads on next use). A Spark 4.1 worker holds 16 such importers:
``pyspark.zip`` (1,328 entries) and 11 of its subpackages, the py4j zip
twice, and the 5,359-entry ``spark-core`` jar twice. One re-read takes at
least 6 ms for ``pyspark.zip`` and 27 ms for the jar, so every Python task
paid at least 0.13 s (0.21-0.23 s at the median, below) before its UDF
body started.

Measured with the fix (4-CPU host, Spark 4.1.2, Python 3.11, ``local[4]``,
40k-turn ``perfbench`` index): a 1-row ``mapInArrow`` job fell from a
median 0.33 s to 0.12 s; the block-max WAND kernel stage's single task from
a median 323 ms to 90 ms, and ``wand_topk`` from 0.72 s to 0.44 s per query.

:func:`install` replaces ``zipimporter.invalidate_caches`` with
:func:`_invalidate_if_changed`, which re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before its last
read. An unchanged archive keeps its cached directory, as on 3.13; a
changed or unreadable one goes through the stock method. The patch is
applied only inside a PySpark worker (``pyspark.worker`` imported) on
Python < 3.13; ``whoosh_spark/__init__.py`` calls :func:`install`, so every
engine UDF, which unpickles by importing the package, puts it in place for
the worker's later tasks. Calling it again changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before the read that
# filled zipimport._zip_directory_cache[archive]
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
        self._files = cached
        return
    # stat before the read: a write racing the read leaves a stale stamp,
    # which forces one more read next time rather than hiding the change;
    # a failed read drops the cache entry, which forces one too
    _STOCK_INVALIDATE(self)
    if stamp is not None:
        _STAMPS[self.archive] = stamp


def install(version_info: tuple = sys.version_info,
            modules: dict = sys.modules) -> bool:
    """Patch ``zipimporter.invalidate_caches`` in a PySpark worker on
    Python < 3.13; return whether the patch is in place. No-op on the
    driver and on 3.13+, whose invalidation is already lazy."""
    if tuple(version_info) >= (3, 13) or "pyspark.worker" not in modules:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True
