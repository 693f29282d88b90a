"""Benchmark process environment: a per-run scratch directory inside the
checkout, a Spark session fitted to the machine, and a sampler of the
resident memory of this process tree (driver JVM plus Python workers)."""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RUNS_DIR = ROOT / ".kgbench_runs"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def total_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class RunDir:
    """Scratch directory for one benchmark run, deleted on close, so no
    input or output survives into the next run and hides its cost."""

    def __init__(self) -> None:
        RUNS_DIR.mkdir(exist_ok=True)
        self.path = Path(tempfile.mkdtemp(prefix=f"{os.getpid()}-",
                                          dir=RUNS_DIR))
        self.tmp = self.sub("tmp")
        # Python-side temp files (py4j handshake, broadcast pickles)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            RUNS_DIR.rmdir()
        except OSError:
            pass  # another run still owns a directory there


def start_spark(run: RunDir):
    """local[cores] session with shuffle partitions = cores, a driver
    heap of a quarter of RAM (at most 2 GiB: the workloads fill it, so
    peak memory does not wander with how far the collector lets the heap
    grow), console progress off and
    an uncompressed event log in the run directory. Spark's own
    SPARK_LOCAL_DIRS, when set, takes precedence over the run-local
    spill directory."""
    from knowledgegraphgenerator_spark.session import get_spark

    n = cores()
    heap_mb = min(2048, total_ram_mb() // 4)
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": run.sub("local"),
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run.tmp} -Dderby.system.home={run.tmp}",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.sub("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF)
    and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def event_log_path(run: RunDir) -> str:
    """The (single, stopped-session) event log file of the run."""
    d = Path(run.path) / "events"
    files = [p for p in d.iterdir() if not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {d}, got {files}")
    return str(files[0])


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # fields after the parenthesised command name
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    every ``interval`` seconds on a daemon thread; ``peak_mb`` is the
    highest sum seen."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
