"""Spark session factory sized to the host, plus resident-memory sampling."""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """1.5 GiB, or a quarter of host RAM if that is less: the inputs are
    small and the host is shared. The heap is committed and touched at start
    (``-Xms`` = ``-Xmx``, ``AlwaysPreTouch``), so the peak resident size does
    not depend on when the collector chose to grow the heap."""
    return max(512, min(1536, host_mem_mb() // 4))


def make_session(ui: bool):
    """``local[nproc]`` session; with ``ui`` the status REST API is served
    on a free localhost port (the traced run reads stage metrics from it)."""
    # Python workers inherit this environment, so they import the package
    # from the checkout whatever the current directory is
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    # keep every scratch file in the checkout: Python's and the JVM's temp
    # dirs, Spark's block manager dirs, and no /tmp/hsperfdata_* file
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    n = nproc()
    mem = driver_memory_mb()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the batch size bench.py settled on for the analyzer's mapInArrow
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Dderby.system.home={os.path.join(WORK, 'derby')} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{mem}m -XX:+AlwaysPreTouch")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    if ui:
        b = (b.config("spark.ui.port", "0")
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.ui.retainedTasks", "1000")
             .config("spark.sql.ui.retainedExecutions", "100"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_engine(batches):
    import whoosh_spark.indexing.segments  # noqa: F401  (the import is the work)

    yield from batches


def warm_workers(spark) -> None:
    """Start one Python worker per core, each with the engine imported, so
    no timed call pays for forking or importing a worker."""
    n = nproc()
    spark.range(0, n, 1, n).mapInArrow(_import_engine, "id long").collect()


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and every descendant (the JVM and
    its Python workers), read from /proc at each ``sample()`` call.

    The workloads sample between operations instead of from a thread, so
    the load generator stays single-threaded; the JVM heap and the reused
    Python workers hold their high-water mark between operations."""

    def __init__(self):
        self.peak_kb = 0
        self.samples = 0

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)
        self.samples += 1

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the JVM down and wait until every child process
    (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(_descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
