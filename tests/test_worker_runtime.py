"""The worker-runtime zipimport fix (``whoosh_spark/_worker.py``).

Each worker-side check runs inside a Spark task and reports back through
``mapInArrow``: an unchanged archive keeps its cached directory across
``importlib.invalidate_caches()``, a rewritten archive is still re-read,
and the installer leaves the driver and Python >= 3.13 alone. No timing.
"""

import json
import sys
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
