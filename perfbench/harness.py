"""Run plumbing shared by every workload: work directories, the Spark
session, spans with Spark job-group tags, peak-RSS sampling, summary
statistics and process shutdown.

Nothing here starts a thread or a process at import time.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# every byte the benchmark writes lands under this directory of the
# checkout (listed in the root .gitignore)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
DRIVER_MEM = "2g"  # well below physical memory; the inputs are small


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- stats

def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it. Below about twenty samples that percentile
    falls under the median, and the median (percentile 50) is reported."""
    n = len(xs)
    s = sorted(xs)
    k = n - 11  # s[k] has exactly ten samples above it
    pct = 100.0 * (k + 1) / n if k >= 0 else 0.0
    if pct <= 50.0:
        return median(xs), 50.0
    return float(s[k]), round(pct, 1)


# ---------------------------------------------------------------- work dirs

class RunDirs:
    """A per-run directory under the checkout, removed on exit (normal,
    exception or SIGTERM); seeded inputs live in a shared cache beside
    it, keyed by what generated them."""

    def __init__(self) -> None:
        self.root = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.inputs = os.path.join(WORK_ROOT, "inputs")
        os.makedirs(self.root)
        os.makedirs(self.inputs, exist_ok=True)
        self.tmp = self.path("tmp")
        self.local = self.path("spark-local")
        self.eventlog = self.path("eventlog")
        self._prev_term = signal.signal(signal.SIGTERM, self._on_term)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A new, not yet existing path under the run dir."""
        return os.path.join(self.root, f"{name}-{uuid.uuid4().hex[:8]}")

    def _on_term(self, signum, frame):
        raise SystemExit(128 + signum)

    def close(self) -> None:
        signal.signal(signal.SIGTERM, self._prev_term)
        shutil.rmtree(self.root, ignore_errors=True)


# ---------------------------------------------------------------- session

def start_session(dirs: RunDirs, app: str, trace: bool):
    """``get_spark`` sized to this box, with launch-time conf passed the
    way ``spark-submit`` takes it. Returns (spark, seconds)."""
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local  # overrides spark.local.dir
    os.environ["TMPDIR"] = dirs.tmp  # the shipped package zip lands here
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # idle Python workers beyond one per core are stopped; unbounded,
        # how many pile up depends on task timing, and so does peak RSS
        "spark.python.factory.idleWorkerMaxPoolSize": str(nproc()),
        # the heap is committed and touched at start: left to grow, when G1
        # grows it decides the JVM's share of peak RSS (0.8-1.5 GB run to run)
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs.eventlog,
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
            "spark.eventLog.rolling.enabled": "true",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"'{k}={v}'"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])

    from arcade_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app=app, cores=nproc(), driver_mem=DRIVER_MEM)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM (and so
    its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - a half-closed gateway still needs reaping
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc, no psutil)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break


class RssSampler:
    """Peak resident set of this process tree (driver, JVM, Python
    workers), sampled from /proc every ``period`` seconds, and how the
    peak splits between the three."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_kb = 0
        self.peak_by_kb: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        by = {"driver": 0, "jvm": 0, "python_workers": 0}
        for pid in [me] + descendants(me):
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
                exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            except OSError:
                continue
            fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
            if "VmRSS" not in fields:
                continue
            if pid == me:
                kind = "driver"
            elif exe == "java" and int(fields["PPid"]) == me:
                kind = "jvm"
            elif exe.startswith("python"):
                kind = "python_workers"
            else:
                # a helper the JVM runs; until it execs, a fork of the
                # JVM reports the JVM's whole resident set as its own
                continue
            by[kind] += int(fields["VmRSS"].split()[0])
        total = sum(by.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_kb = total, by

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def peak_by_mb(self) -> dict[str, float]:
        return {k: v / 1024.0 for k, v in self.peak_by_kb.items()}


# ---------------------------------------------------------------- spans

class Tracer:
    """Spans (name, start, end, parent, workload, rep) kept in memory.

    With ``enabled`` each span also tags the Spark jobs it launches with
    the job group ``pb:<span id>``, so the event log can be folded back
    onto spans. Disabled, ``span`` only yields ids and costs nothing."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()
        self.wall0 = time.time()

    @contextmanager
    def span(self, name: str, rep: int = 0, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "workload": self.workload,
               "rep": rep, "start": time.perf_counter() - self.t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb:{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                sc.setJobGroup(f"pb:{top['id']}", top["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
