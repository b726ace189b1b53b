"""Process-level plumbing shared by the workloads: where the run writes,
how the engine session is started and stopped, peak-RSS sampling and
the percentile rules the metrics use."""

from __future__ import annotations

import math
import os
import shutil
import signal
import subprocess
import threading
import time

#: the checkout root: the directory the benchmark is run from
ROOT = os.path.abspath(os.getcwd())
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
#: everything a run writes lives under these two (both git-ignored)
WORK_DIR = os.path.join(BENCH_DIR, "_work")
OUT_DIR = os.path.join(BENCH_DIR, "_out")
#: engine parallelism; the reference host has 4 cores
CPUS = min(4, os.cpu_count() or 1)


def prepare_environment(run_tag: str) -> str:
    """Point every scratch location of the engine at this run's work
    directory and make the package importable by Python workers.  Must
    run before the first session starts; returns the work directory."""
    work = os.path.join(WORK_DIR, run_tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), OUT_DIR):
        os.makedirs(d, exist_ok=True)
    # workers import the package, and the traced run's counting wrappers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # a small fixed heap cap: the inputs are small, and the cap keeps the
    # JVM's heap growth (and so peak RSS) from varying run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return work


class Engine:
    """Owns the SparkSession (and so the JVM) for one benchmark run."""

    def __init__(self):
        self.spark = None
        self._proc = None

    def start(self, app: str = "perfbench", cpus: int | None = None):
        from confluent_kafka_streams_examples_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        if cpus is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        try:
            self.spark = get_spark(app)
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        gateway = self.spark.sparkContext._gateway
        self._proc = getattr(gateway, "proc", None) or self._proc
        return self.spark

    def close(self) -> None:
        """Stop the session, shut the gateway and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None and self._proc.poll() is None:
            self._proc.terminate()
            try:
                self._proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=10)


def _tree_pids(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it.  Summed over a process tree it counts
    forked Python workers' shared pages, and a child caught between fork
    and exec, once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory (PSS) of this process and all
    its descendants (driver JVM, Python workers) every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, float] = {}  # process name -> MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = {p: _pss_bytes(p) for p in _tree_pids(me)}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {f"{_comm(p)}:{p}": n / 2**20 for p, n in sizes.items() if n}
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_times`` samples that the
    hypervisor gave to other guests.  Wall-clock metrics of a run with a
    high share are slowed by the host, not by the program."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def nearest_rank(values: list[float], q: float) -> float:
    """The q-quantile by the nearest-rank rule (q in (0, 1])."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


#: candidate tail percentiles, highest first
_TAILS = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest of the candidate percentiles with at least ``beyond``
    samples above it; returns (percentile, value)."""
    n = len(values)
    for q in _TAILS:
        if n - math.ceil(q * n) >= beyond:
            return q, nearest_rank(values, q)
    return 0.5, nearest_rank(values, 0.5)


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def install_term_handler() -> None:
    """Turn SIGTERM into SystemExit so ``finally`` blocks stop the JVM."""
    def _raise(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _raise)


def ui_json(spark, path: str):
    """GET one endpoint of the engine's status REST API (local UI)."""
    import json
    import urllib.request

    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    app = spark.sparkContext.applicationId
    url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def wait_for(cond, timeout: float, poll: float = 0.05) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(poll)
    return cond()
