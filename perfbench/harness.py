"""Process plumbing shared by the benchmark scripts.

Checkout paths, the Spark session the benchmark drives, the hang
watchdog around one run, the RSS sampler of the Spark process tree and
the reference job that gauges how fast the host runs.
Everything the benchmark writes lands under ``WORK`` inside the
checkout: inputs, sink tables, Spark's local dirs and temp files.
"""

from __future__ import annotations

import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def require_library() -> None:
    """Exit non-zero unless the checkout holds the library to measure."""
    if not os.path.isfile(os.path.join(ROOT, "rsyslog_spark", "__init__.py")):
        sys.exit(f"perfbench: no rsyslog_spark package under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def bench_cores() -> int:
    """min(nproc, SPARK_GRAFT_CPUS): the cores this box really has."""
    n = len(os.sched_getaffinity(0))
    cap = os.environ.get("SPARK_GRAFT_CPUS")
    return min(n, int(cap)) if cap else n


def start_spark(cores: int):
    """A local[cores] session whose JVM, Python workers and scratch files
    all stay inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    from rsyslog_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        # the library's own settings plus scratch paths. The initial heap
        # is pinned at the library's maximum (get_spark sets
        # spark.driver.memory from SPARK_DRIVER_MEM, else 8g), so peak
        # RSS does not follow how far G1 happened to grow the heap.
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '8g')} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext; the JVM stays up for the next session."""
    from pyspark.sql import SparkSession

    spark.stop()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def next_job_id(spark) -> int:
    """The id the next Spark job will get (all job groups counted)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def call_with_watchdog(spark, fn, timeout_s: float):
    """Run ``fn()``; returns (value, error). A run still going after
    ``timeout_s`` has its jobs cancelled and counts as hung."""
    box: dict = {}

    def target():
        try:
            box["value"] = fn()
        except Exception as ex:  # reported to the caller as a failed run
            box["error"] = ex

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        spark.sparkContext.cancelAllJobs()
        th.join(30)
        return None, TimeoutError(f"run exceeded {timeout_s:.0f} s")
    return box.get("value"), box.get("error")


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of every descendant of ``root_pid`` (JVM + workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, stack = 0, list(children.get(root_pid, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the Spark process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(10)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def timed(fn):
    """(seconds, value) of one call."""
    t0 = time.perf_counter()
    value = fn()
    return time.perf_counter() - t0, value


# The reference job's settings, pinned so that a change to the library's
# session defaults does not move it.
_PROBE_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}
PROBE_ROWS = 200_000


def spark_probe(spark, cores: int) -> float:
    """Seconds of a fixed reference job on the session: a range over
    ``cores`` partitions, pure-Python string work in mapInArrow, then a
    shuffle and an aggregate, the same kinds of work as the workloads.
    It calls no repo code and pins the settings it depends on, so only
    the host moves it: CPU steal by other tenants of a shared host, and
    the cache and clock effects that come with it. A run's seconds over
    the probe's seconds around it cancel that common factor."""
    from pyspark.sql import functions as F

    # nested, so that it is pickled by value: the workers cannot import
    # this module
    def lines(batches):
        import pyarrow as pa

        for b in batches:
            ids = b.column(0).to_pylist()
            out = [len(f"<{i % 191}>1 2024-01-01T00:00:{i % 60:02d}Z "
                       f"host{i % 7} app {i} - msg".split(" ")[i % 7])
                   for i in ids]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(out, pa.int64())],
                names=["id", "n"])

    saved = {k: spark.conf.get(k, None) for k in _PROBE_CONF}
    for k, v in _PROBE_CONF.items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        rows = (spark.range(0, PROBE_ROWS, 1, cores)
                .mapInArrow(lines, "id long, n long")
                .groupBy((F.col("id") % 16).alias("k"))
                .agg(F.sum("n").alias("n"))
                .collect())
        dt = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if len(rows) != 16:
        raise RuntimeError(f"probe returned {len(rows)} groups, not 16")
    return dt
