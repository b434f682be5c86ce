"""Spark session lifecycle, the noop sink, memory sampling and the
calibration probe — everything the benchmark does to Spark from outside
the program.

The session comes from the program's own `plans.session.get_spark`. The
event log and the JVM's temporary directory are set only through
PYSPARK_SUBMIT_ARGS, which the JVM reads at launch, so a traced phase
relaunches the JVM.
"""

from __future__ import annotations

import os
import resource
import threading
import time
from pathlib import Path


def slots() -> int:
    return len(os.sched_getaffinity(0))


def force(df) -> None:
    """Materialize a plan without collecting it: the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def start(scratch: Path, event_log: bool = False):
    """A local[slots] session from the program's factory, with every
    temporary file of Python, the JVM and Spark under `scratch`. With
    `event_log`, a JVM launched by this call writes an uncompressed Spark
    event log to scratch/eventlog."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    # the small JVM spark-submit runs first to build the launch command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if event_log:
        log_dir = scratch / "eventlog"
        log_dir.mkdir(exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{log_dir.resolve()}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    from pdf_parser_spark.plans.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=slots())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it (and with it every Python
    worker), and wait until the JVM has exited. The next `start` then
    launches a fresh JVM."""
    from pyspark import SparkContext

    # the Python workers hang off the JVM; once it exits they are no
    # longer in this process tree, so note them now and wait for them
    started = [pid for pid in _tree(os.getpid()) if pid != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after the JVM exited: {started}")
        time.sleep(0.05)


def _tree(root: int) -> list[int]:
    """`root` and all its descendants, read from /proc."""
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # the process ended while it was being read
        pids.append(pid)
    return pids


def _tree_rss_bytes(root: int, page: int) -> int:
    """Summed resident set of `root` and all its descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Samples the RSS of this process tree (driver, JVM, Python
    workers) every `interval` seconds between start() and stop() and
    keeps the peak."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = resource.getpagesize()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me, self._page))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def calibration(spark) -> dict:
    """The hardware probe `bench.py` records, carried as context: an
    identity mapInPandas (Python worker + Arrow round trip) and a plain
    RDD count (bare task scheduling), in ms per task with all slots
    busy. It runs after the measured passes, so its workers are warm."""
    n_slots = slots()
    n_tasks = n_slots * 4

    def ident(batches):
        yield from batches

    df = spark.range(n_tasks).repartition(n_tasks)
    sc = spark.sparkContext
    probes = {
        "identity_mip_ms_per_task": lambda: force(df.mapInPandas(ident, "id long")),
        "rdd_ms_per_task": lambda: sc.parallelize(range(n_tasks), n_tasks).count(),
    }
    out: dict = {"n_tasks": n_tasks}
    for name, probe in probes.items():
        t0 = time.perf_counter()
        probe()
        out[name] = round((time.perf_counter() - t0) * n_slots / n_tasks * 1000, 3)
    return out
