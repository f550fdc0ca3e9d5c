"""Python-worker runtime fixes for two fixed per-task costs.

Both are put in place by :func:`install`, which ``whoosh_spark/__init__.py``
calls, so every engine UDF, which unpickles by importing the package, puts
them in place for the worker's later tasks. They apply only inside a PySpark
worker (``pyspark.worker`` imported); calling :func:`install` again changes
nothing.

**1. Stop re-reading unchanged zip archives (Python < 3.13).** Before every
task a PySpark worker runs ``setup_spark_files``
(``pyspark/worker_util.py``), which ends in ``importlib.invalidate_caches()``.
On Python <= 3.12 that calls ``zipimporter.invalidate_caches()`` on every
zip importer in ``sys.path_importer_cache``, and each call eagerly re-reads
its archive's central directory (3.13 only drops the cached entry and
re-reads on next use). A Spark 4.1 worker holds 16 such importers:
``pyspark.zip`` (1,328 entries) and 11 of its subpackages, the py4j zip
twice, and the 5,359-entry ``spark-core`` jar twice. One re-read takes at
least 6 ms for ``pyspark.zip`` and 27 ms for the jar, so every Python task
paid at least 0.13 s (0.21-0.23 s at the median) before its UDF body
started. With the fix (4-CPU host, Spark 4.1.2, Python 3.11, ``local[4]``,
40k-turn ``perfbench`` index) a 1-row ``mapInArrow`` job fell from a median
0.33 s to 0.12 s; the block-max WAND kernel stage's single task from a
median 323 ms to 90 ms, and ``wand_topk`` from 0.72 s to 0.44 s per query.

:func:`_invalidate_if_changed` replaces ``zipimporter.invalidate_caches``.
It re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken before its last read. An unchanged archive keeps its cached
directory, as on 3.13; a changed or unreadable one goes through the stock
method.

**2. Acknowledge the task header at once (Linux, TCP worker sockets).** The
JVM writes a task's header and then, in a separate small write, the rest of
its input; Spark 4.1.2 leaves Nagle's algorithm on for the worker
connection. A reused worker's socket is in delayed-ACK ("pingpong") mode,
because the worker replied to its previous task, so the kernel holds the
header's ACK for up to 40 ms and Nagle holds the JVM's next write until that
ACK arrives. Every task after a worker's first waited 40-43 ms for its first
input batch; a worker's first task, on a fresh connection, waited 0.2 ms.

:func:`install` wraps ``pyspark.worker.setup_broadcasts``, which
``pyspark.worker.main`` calls once per task with the socket it reads, after
the header and before the UDF command and input. The wrapper sets
``TCP_QUICKACK`` on that socket (:func:`_quick_ack`): the kernel sends the
pending ACK at once and leaves pingpong mode. The option is set on a dup of
the fd, for ``AF_INET``/``AF_INET6`` stream sockets only, so a Unix-domain
worker socket (``spark.python.unix.domain.socket.enabled=true``, which has
no such stall) and hosts without ``TCP_QUICKACK`` are left alone. Measured
(same host and index): UDF entry to first input batch on a reused worker
fell from a median 41.4 ms to 0.2 ms over 30 tasks (maximum 1.0 ms), and
the 1-row ``mapInArrow`` job from a median 83 ms to 44 ms; the block-max
WAND kernel task from 52-58 ms to 11-15 ms of run time, and ``perfbench``
``serve_topk`` ``op_p50_s`` from a median 0.194 s to 0.162 s.
"""

from __future__ import annotations

import functools
import os
import socket
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before the read that
# filled zipimport._zip_directory_cache[archive]
_STAMPS: dict[str, tuple[int, int]] = {}
_TCP_QUICKACK = getattr(socket, "TCP_QUICKACK", None)


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


def _quick_ack(f) -> None:
    """Set ``TCP_QUICKACK`` on the TCP socket under file object ``f``; leave
    anything else (a Unix socket, a file, a closed fd) alone."""
    # with a default timeout, socket() would make the shared fd non-blocking
    if _TCP_QUICKACK is None or socket.getdefaulttimeout() is not None:
        return
    try:
        fd = os.dup(f.fileno())
    except (OSError, ValueError):
        return
    try:
        sock = socket.socket(fileno=fd)
    except OSError:
        os.close(fd)
        return
    with sock:  # closes the dup only
        if sock.family in (socket.AF_INET, socket.AF_INET6) and sock.type == socket.SOCK_STREAM:
            try:
                sock.setsockopt(socket.IPPROTO_TCP, _TCP_QUICKACK, 1)
            except OSError:
                pass


def install(version_info: tuple = sys.version_info,
            modules: dict = sys.modules) -> bool:
    """In a PySpark worker, hook each task's ``setup_broadcasts`` with
    :func:`_quick_ack` and, on Python < 3.13, patch
    ``zipimporter.invalidate_caches``; return whether the zipimport patch is
    in place. No-op on the driver and in any other process."""
    worker = modules.get("pyspark.worker")
    if worker is None:
        return False
    setup = getattr(worker, "setup_broadcasts", None)
    if setup is not None and not getattr(setup, "quick_ack", False):
        @functools.wraps(setup)
        def setup_broadcasts(infile):
            _quick_ack(infile)
            return setup(infile)

        setup_broadcasts.quick_ack = True
        worker.setup_broadcasts = setup_broadcasts
    if tuple(version_info) >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True
