"""The worker-runtime fixes (``whoosh_spark/_worker.py``).

Each worker-side check runs inside a Spark task and reports back through
``mapInArrow``: an unchanged archive keeps its cached directory across
``importlib.invalidate_caches()``, a rewritten archive is still re-read,
the per-task quick-ACK hook wraps ``setup_broadcasts`` exactly once, and
the installer leaves the driver, other processes and Python >= 3.13 alone.
The ACK helper is checked on local sockets and files. No timing.
"""

import json
import os
import socket
import subprocess
import sys
import types
import zipimport

import pyarrow as pa
import pytest

from whoosh_spark import _worker

LAZY_INVALIDATION_NEEDED = sys.version_info < (3, 13)


def _in_task(spark, probe) -> dict:
    """Run ``probe()`` in one Python task; return the dict it reports."""

    def run(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"out": [json.dumps(probe())]})

    rows = spark.range(1, numPartitions=1).mapInArrow(run, "out string").collect()
    return json.loads(rows[0].out)


def test_unchanged_archives_keep_their_directory(spark):
    def probe():
        import importlib
        import sys
        import zipimport

        import whoosh_spark  # noqa: F401  (what every engine UDF does)
        from whoosh_spark import _worker

        def zip_files():
            return {k: id(v._files) for k, v in sys.path_importer_cache.items()
                    if isinstance(v, zipimport.zipimporter)}

        importlib.invalidate_caches()
        before = zip_files()
        importlib.invalidate_caches()
        return {
            "patched": zipimport.zipimporter.invalidate_caches
            is _worker._invalidate_if_changed,
            "archives": sorted({sys.path_importer_cache[k].archive for k in before}),
            "changed": sorted(k for k, v in zip_files().items() if before.get(k) != v),
        }

    out = _in_task(spark, probe)
    # the worker imports pyspark from its zip, so there is something to keep
    assert any(a.endswith("pyspark.zip") for a in out["archives"]), out["archives"]
    if LAZY_INVALIDATION_NEEDED:
        assert out["patched"]
        assert out["changed"] == []


def test_rewritten_archive_is_reread(spark):
    def probe():
        import importlib
        import os
        import sys
        import tempfile
        import zipfile

        import whoosh_spark  # noqa: F401

        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "wsrt_probe.zip")
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("wsrt_probe_a.py", "X = 1\n")
            sys.path.insert(0, path)
            try:
                import wsrt_probe_a
                importlib.invalidate_caches()  # stamps the archive
                with zipfile.ZipFile(path, "w") as z:
                    z.writestr("wsrt_probe_a.py", "X = 1\n")
                    z.writestr("wsrt_probe_b.py", "Y = 2\n")
                importlib.invalidate_caches()
                import wsrt_probe_b
                return {"a": wsrt_probe_a.X, "b": wsrt_probe_b.Y}
            finally:
                sys.path.remove(path)
                sys.path_importer_cache.pop(path, None)
                for m in ("wsrt_probe_a", "wsrt_probe_b"):
                    sys.modules.pop(m, None)

    assert _in_task(spark, probe) == {"a": 1, "b": 2}


def test_installer_is_idempotent_in_a_worker(spark):
    def probe():
        import zipimport

        from whoosh_spark import _worker

        first = _worker.install()
        method = zipimport.zipimporter.invalidate_caches
        second = _worker.install()
        return {"installed": [first, second],
                "same": method is zipimport.zipimporter.invalidate_caches}

    out = _in_task(spark, probe)
    assert out["installed"] == [LAZY_INVALIDATION_NEEDED] * 2
    assert out["same"]


def test_installer_leaves_driver_and_py313_alone():
    assert "pyspark.worker" not in sys.modules
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is _worker._STOCK_INVALIDATE
    # a worker on 3.13+ keeps the stock (already lazy) invalidation
    assert _worker.install((3, 13, 0), {"pyspark.worker": object()}) is False
    assert zipimport.zipimporter.invalidate_caches is _worker._STOCK_INVALIDATE


def test_task_hook_wraps_setup_broadcasts_once_in_a_worker(spark):
    def probe():
        import pyspark.worker as worker
        import pyspark.worker_util as worker_util

        import whoosh_spark  # noqa: F401
        from whoosh_spark import _worker

        hooked = worker.setup_broadcasts
        _worker.install()
        _worker.install()
        return {
            "quick_ack": getattr(hooked, "quick_ack", False),
            "wraps_stock": hooked.__wrapped__ is worker_util.setup_broadcasts,
            "same_after_reinstall": worker.setup_broadcasts is hooked,
        }

    assert _in_task(spark, probe) == {
        "quick_ack": True, "wraps_stock": True, "same_after_reinstall": True}


def test_task_hook_is_one_pass_through_wrapper():
    calls = []
    fake = types.SimpleNamespace(setup_broadcasts=lambda infile: calls.append(infile) or "done")
    stock = fake.setup_broadcasts
    assert _worker.install((3, 13, 0), {}) is False  # no worker module: nothing
    assert fake.setup_broadcasts is stock
    _worker.install((3, 13, 0), {"pyspark.worker": fake})
    hooked = fake.setup_broadcasts
    _worker.install((3, 13, 0), {"pyspark.worker": fake})
    assert fake.setup_broadcasts is hooked and hooked.__wrapped__ is stock
    closed = open(os.devnull, "rb")
    closed.close()
    assert hooked(closed) == "done" and calls == [closed]


def test_no_task_hook_outside_a_worker():
    import pyspark.worker_util as worker_util

    assert "pyspark.worker" not in sys.modules
    code = ("import whoosh_spark, pyspark.worker as w, pyspark.worker_util as u; "
            "print(w.setup_broadcasts is u.setup_broadcasts)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         check=True, cwd=os.path.dirname(os.path.dirname(__file__)))
    assert out.stdout.strip() == "True", out.stderr
    assert not hasattr(worker_util.setup_broadcasts, "quick_ack")


needs_quickack = pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"),
                                    reason="no TCP_QUICKACK on this platform")


def _open_fds() -> list:
    return sorted(os.listdir("/proc/self/fd"))


@needs_quickack
def test_quick_ack_leaves_delayed_ack_mode_on_tcp():
    quickack = (socket.IPPROTO_TCP, socket.TCP_QUICKACK)
    with socket.create_server(("127.0.0.1", 0)) as server, \
            socket.create_connection(server.getsockname()) as client:
        worker, _ = server.accept()
        with worker:
            # a reply sent soon after a request puts the receiver in
            # delayed-ACK ("pingpong") mode, where TCP_QUICKACK reads 0
            for _ in range(10):
                client.sendall(b"q")
                worker.recv(1)
                worker.sendall(b"r")
                client.recv(1)
                if worker.getsockopt(*quickack) == 0:
                    break
            else:
                pytest.skip("the kernel never entered delayed-ACK mode")
            infile = os.fdopen(os.dup(worker.fileno()), "rb", 65536)
            with infile:
                fds = _open_fds()
                _worker._quick_ack(infile)
                assert _open_fds() == fds
                assert worker.getsockopt(*quickack) == 1
                client.sendall(b"next")
                assert infile.read(4) == b"next"


@needs_quickack
def test_quick_ack_ignores_unix_sockets_files_and_closed_fds(tmp_path):
    a, b = socket.socketpair(socket.AF_UNIX)
    path = tmp_path / "f"
    path.write_bytes(b"data")
    with a, b, open(path, "rb") as regular:
        fds = _open_fds()
        unix = a.makefile("rb")
        _worker._quick_ack(unix)
        b.sendall(b"x")
        assert unix.read(1) == b"x"
        _worker._quick_ack(regular)
        assert regular.read() == b"data"
        closed = open(path, "rb")
        closed.close()
        _worker._quick_ack(closed)  # fileno() raises ValueError
        fd = os.open(path, os.O_RDONLY)
        with open(fd, "rb", closefd=False) as stale:
            os.close(fd)
            _worker._quick_ack(stale)  # dup() raises EBADF
        unix.close()
        assert _open_fds() == fds


@needs_quickack
def test_quick_ack_keeps_the_worker_socket_blocking():
    # socket(fileno=...) under a default timeout would switch the shared
    # file description to non-blocking, under the worker's buffered reads
    with socket.create_server(("127.0.0.1", 0)) as server, \
            socket.create_connection(server.getsockname()):
        worker, _ = server.accept()
        with worker, os.fdopen(os.dup(worker.fileno()), "rb") as infile:
            socket.setdefaulttimeout(5.0)
            try:
                _worker._quick_ack(infile)
            finally:
                socket.setdefaulttimeout(None)
            assert os.get_blocking(worker.fileno())
