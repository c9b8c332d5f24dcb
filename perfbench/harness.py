"""Process plumbing shared by the workloads: environment, Spark session and
its teardown, spans, Spark job counters, medians and the result line.

Nothing here starts a process at import time; :class:`Run` owns the
scratch directory and the session and releases both in :meth:`Run.close`.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc), so ``setup_s``
    includes interpreter start-up; falls back to now."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


def median(xs) -> float:
    return float(statistics.median(xs))


def _descendants(pid: int) -> list[int]:
    """All processes below ``pid`` (from /proc): the session's Python
    worker daemon and the workers it forked."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            with contextlib.suppress(OSError, ValueError, IndexError):
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def _reap(pids: list[int], timeout: float = 15.0) -> None:
    """Wait until every process in ``pids`` has ended (workers exit once
    the JVM they serve is gone); kill what is left at the deadline."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if alive and time.time() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Tracer:
    """In-memory spans (name, start, end, parent, op id); no-op when off.

    Spans are recorded from the benchmark's side of each call into a
    layer's public function, never from inside the program."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": op or self._op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev_op, self._op = self._op, rec["op"]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._op = prev_op

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


class JobCounter:
    """Spark jobs and tasks per operation, read from the public
    ``StatusTracker`` after each operation runs in its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.per_op: dict[str, list[tuple[int, int]]] = {}
        self._n = 0

    @contextlib.contextmanager
    def op(self, name: str):
        self._n += 1
        group = f"perfbench-{name}-{self._n}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.record(name, self.sc.statusTracker().getJobIdsForGroup(group))

    def record(self, name: str, job_ids) -> None:
        st = self.sc.statusTracker()
        tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        self.per_op.setdefault(name, []).append((len(job_ids), tasks))

    def metrics(self, ops) -> dict[str, tuple[float, str]]:
        out = {}
        for op in ops:
            rows = self.per_op.get(op, [])
            out[f"spark.jobs_per_op.{op}"] = (
                median([r[0] for r in rows]) if rows else 0.0, "count")
            out[f"spark.tasks_per_op.{op}"] = (
                median([r[1] for r in rows]) if rows else 0.0, "count")
        return out


class Run:
    """One benchmark process: scratch directory, session, tracer, result."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.t_process = process_start_time()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(WORK_DIR, f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.gen_s = 0.0          # input generation, excluded from setup_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self._jvm = None
        self.peak_rss_mb = 0.0
        self.jobs: JobCounter | None = None

    # -- environment and session --------------------------------------

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """Start the session the program's own factory builds, with every
        scratch path inside the checkout."""
        os.makedirs(self.path("tmp"), exist_ok=True)
        os.makedirs(self.path("spark-local"), exist_ok=True)
        # pandas-UDF workers import the package: they need the repo root
        pp = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        from jsonify2ai_spark.session import get_spark

        # no hsperfdata file under the system /tmp either
        tmp_opt = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": tmp_opt,
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jobs = JobCounter(self.spark)
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the session's JVM."""
        if self._jvm is None:
            return 0.0
        try:
            with open(f"/proc/{self._jvm.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def close(self) -> None:
        """Stop the session, end its JVM and the Python workers it forked,
        wait for all of them, then remove the scratch directory."""
        self.peak_rss_mb = self.jvm_peak_rss_mb()
        workers = _descendants(self._jvm.pid) if self._jvm is not None else []
        try:
            if self.spark is not None:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
        finally:
            if self._jvm is not None:
                # the gateway JVM exits when its stdin closes
                with contextlib.suppress(OSError):
                    self._jvm.stdin.close()
                try:
                    self._jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self._jvm.kill()
                    self._jvm.wait(timeout=30)
            _reap(workers)
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(WORK_DIR)

    # -- bookkeeping ----------------------------------------------------

    def check(self, errors: list[str], what: str) -> None:
        """Record a correctness check's findings (an empty list passes)."""
        for e in errors[:5]:
            self.errors.append(f"{what}: {e}")

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.time() - self.t_process:7.2f}s] {msg}", file=sys.stderr,
              flush=True)

    def op_metrics(self, ops) -> dict[str, tuple[float, str]]:
        """Traced-run metrics of the timed operations: median latency and
        Spark jobs and tasks per operation."""
        m = {}
        for op in ops:
            lat = [s["end"] - s["start"] for s in self.tracer.spans if s["name"] == f"op.{op}"]
            if lat:
                m[f"op.{op}_p50_ms"] = (1e3 * median(lat), "ms")
        m.update(self.jobs.metrics(ops))
        return m

    def trace_overhead(self, fn, pairs: int) -> dict[str, tuple[float, str]]:
        """The traced run's overhead against an untraced one, measured in
        this process: ``fn`` (one operation) runs ``pairs`` times without
        tracing and ``pairs`` times inside :func:`traced_op`, alternated
        (untraced first in even pairs, traced first in odd ones). Reports
        the median traced time over the median untraced time."""
        plain, traced = [], []
        for i in range(pairs):
            for on in (False, True) if i % 2 == 0 else (True, False):
                t0 = time.perf_counter()
                if on:
                    with traced_op(self, "overhead"):
                        fn()
                else:
                    fn()
                (traced if on else plain).append(time.perf_counter() - t0)
        return {"trace.overhead_ratio": (median(traced) / median(plain), "ratio")}

    def setup_done(self) -> float:
        return time.time() - self.t_process - self.gen_s

    def emit(self, metrics: dict[str, tuple[float, str]]) -> None:
        if self.trace:
            path = os.path.join(TRACE_DIR, f"{self.workload}-seed{self.seed}.jsonl")
            self.tracer.write(path)
            print(f"spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        for e in self.errors:
            print(f"CHECK FAILED {e}", file=sys.stderr)
        out = {
            "correct": not self.errors,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        sys.stdout.write(json.dumps(out) + "\n")
        sys.stdout.flush()


@contextlib.contextmanager
def traced_op(run: Run, name: str):
    """A span and its own Spark job group around one operation of a
    traced run; nothing at all in an untraced run."""
    if not run.tracer.enabled:
        yield
        return
    op_id = f"{name}-{len(run.tracer.spans)}"
    with run.tracer.span(f"op.{name}", op=op_id), run.jobs.op(name):
        yield


@contextlib.contextmanager
def quiet_stdout():
    """Swallow what the CLI prints, so the result stays the last line."""
    with contextlib.redirect_stdout(io.StringIO()):
        yield


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the Parquet data files under ``path``."""
    total = n = 0
    for dp, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dp, name))
                n += 1
    return total, n
