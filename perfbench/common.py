"""Shared pieces of the benchmark: the pinned deployment, the
process-tree CPU/RSS reader, the span tracer, Spark's execution
numbers, and the result line.

Nothing here imports the engine at module load; ``start_spark`` does,
after ``pin_deployment`` has set the environment the Python workers
inherit.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import statistics
import sys
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "work")  # per-run work files (gitignored)
DATA = os.path.join(BENCH_DIR, "data")  # generated-input cache (gitignored)

# The deployment both commits run under (recorded in README.md): one
# local JVM with one task slot per core, a fixed driver heap that fits
# a 15 GB box, every temp file inside the checkout.
DRIVER_MEM = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_deployment() -> None:
    """Environment for this process and everything it starts. The repo
    goes on PYTHONPATH so the Python workers Spark forks can import
    the engine (applyInPandasWithState pickles engine closures)."""
    os.makedirs(WORK, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (the launcher and the driver) keeps its temp files in
    # the checkout and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK} -XX:-UsePerfData"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark(app: str):
    from ramen_spark.session import get_spark

    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    return get_spark(
        app,
        cpus=nproc(),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # keep every micro-batch's progress for the always-on analysis
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# -- process tree over /proc --------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (its start time in
    /proc/self/stat is in clock ticks since boot)."""
    started = int(_stat(os.getpid())[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


class ProcTree:
    """CPU seconds and RSS of this process and all its descendants (the
    Python driver, the JVM it launches, the JVM's Python workers),
    minus the subtrees rooted at ``exclude`` (the load generator).
    A reaped child's CPU shows in its parent's cutime/cstime, so
    summing utime+stime+cutime+cstime over the live tree counts the
    short-lived workers too."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            if p in self.exclude:
                continue
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def cpu_s(self) -> float:
        total = 0
        for p in self.pids():
            st = _stat(p)
            if st is not None:
                total += sum(int(x) for x in st[11:15])
        return total / _TICK

    def rss_bytes(self) -> int:
        """Summed resident memory, counting a page shared by several
        processes (the forked Python workers and their daemon) once:
        the sum of each process's proportional set size."""
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def start_sampling(self, period_s: float = 0.2) -> None:
        def loop() -> None:
            while not self._stop.is_set():
                self.peak_rss = max(self.peak_rss, self.rss_bytes())
                self._stop.wait(period_s)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> float:
        """Stop the sampler; peak summed RSS in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, self.rss_bytes())
        return self.peak_rss / (1 << 20)


# -- statistics ---------------------------------------------------------------


def median(xs: list[float]) -> float:
    """Median of ``xs``; NaN when there are no samples."""
    return float(statistics.median(xs)) if xs else math.nan


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated q-quantile (0..1) of ``xs``; NaN when there
    are no samples."""
    s = sorted(xs)
    if not s:
        return math.nan
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


# -- tracing ------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op id) recorded around the calls
    the benchmark makes into each layer, kept in memory and written out
    when the run ends. Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, op: int = -1):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, 0.0, 0.0, parent, op))
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.cost_s += t0 - c0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent, op)
            self.cost_s += time.perf_counter() - t1

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def p50(self, name: str) -> float:
        return median(self.durations(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o}
                    for n, s, e, p, o in self.spans
                ],
                fh,
            )


# -- Spark execution numbers ----------------------------------------------------


class ExecStats:
    """Per-op Spark execution numbers: jobs from the public status
    tracker (one job group per op), executor CPU, JVM GC, shuffle and
    spill from the stage records of Spark's status store (the data the
    REST API's /stages serves; the UI is off in this deployment)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cost_s = 0.0  # time spent reading the numbers

    def _stages(self) -> dict[tuple[int, int], tuple[float, ...]]:
        t0 = time.perf_counter()
        jvm = self.spark._jvm
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        lst = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(lst.size()):
            sd = lst.apply(i)
            out[(sd.stageId(), sd.attemptId())] = (
                sd.executorCpuTime() / 1e9,
                sd.jvmGcTime() / 1e3,
                sd.shuffleWriteBytes() / (1 << 20),
                (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / (1 << 20),
            )
        self.cost_s += time.perf_counter() - t0
        return out

    @contextmanager
    def op(self, group: str, into: list[dict]):
        """Run the body as job group ``group``; append its numbers."""
        before = self._stages()
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup("", "")
        after = self._stages()
        new = [v for k, v in after.items() if k not in before]
        into.append({
            "jobs": len(self.sc.statusTracker().getJobIdsForGroup(group)),
            "cpu_s": sum(v[0] for v in new),
            "gc_s": sum(v[1] for v in new),
            "shuffle_mb": sum(v[2] for v in new),
            "spill_mb": sum(v[3] for v in new),
        })


def exec_metrics(per_op: list[dict]) -> dict[str, float]:
    """Medians over ops of the ExecStats records."""
    names = {"jobs": "exec.jobs_per_op", "cpu_s": "exec.executor_cpu_s",
             "gc_s": "exec.jvm_gc_s", "shuffle_mb": "exec.shuffle_mb",
             "spill_mb": "exec.spill_mb"}
    return {m: median([r[k] for r in per_op]) for k, m in names.items()}


# -- the result line ------------------------------------------------------------


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def emit(correct: bool, attempted: int, failed: int, values: dict[str, float], trace: bool) -> None:
    """Print the one-line result with every metric of the run's kind
    (end-to-end untraced, per-layer traced), each with its unit. A
    per-layer metric whose layer this workload does not exercise
    reads 0 (no work done there)."""
    spec = load_spec()
    kind = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in kind:
        v = values.get(m["name"], 0.0 if trace else None)
        if v is None:
            raise KeyError(f"metric {m['name']} was not measured")
        if not math.isfinite(v):  # a run whose ops all failed has no samples
            log(f"{m['name']} is {v}; reported as 0")
            v = 0.0
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }), flush=True)


class Run:
    """One benchmark run: its arguments, tracer, process tree and the
    set-up clock (process start until ready to measure, minus input
    generation)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.tree = ProcTree()
        self._gen_s = 0.0
        self.setup_s = 0.0

    def input(self, kind: str, version: int, script: str, extra: list[str] | None = None) -> str:
        """Directory of generated input ``kind`` for this seed, cached
        under perfbench/data keyed by (seed, generator version). The
        generator runs as its own process; its time is not set-up."""
        t0 = time.perf_counter()
        os.makedirs(DATA, exist_ok=True)
        name = f"{kind}-v{version}-s{self.seed}"
        path = os.path.join(DATA, name)
        if not os.path.exists(os.path.join(path, "_DONE")):
            shutil.rmtree(path, ignore_errors=True)
            subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, script),
                 "--seed", str(self.seed), "--out", path, *(extra or [])],
                check=True, stdout=sys.stderr,
            )
            open(os.path.join(path, "_DONE"), "w").close()
        os.utime(path)
        # keep the cache bounded: the two most recently used seeds
        mine = sorted(
            (e for e in os.listdir(DATA) if e.startswith(f"{kind}-")),
            key=lambda e: os.stat(os.path.join(DATA, e)).st_mtime,
        )
        for old in mine[:-2]:
            shutil.rmtree(os.path.join(DATA, old), ignore_errors=True)
        self._gen_s += time.perf_counter() - t0
        return path

    def end_setup(self) -> None:
        """Ready to measure: stop the set-up clock, start sampling
        memory for the measured phase."""
        self.setup_s = process_age_s() - self._gen_s
        self.tree.start_sampling()

    def end_measure(self) -> float:
        """End of the measured phase: peak memory in MiB."""
        return self.tree.stop_sampling()

    def finish(self) -> None:
        """Write the spans of a traced run."""
        if self.trace:
            self.tracer.write(os.path.join(
                WORK, "traces", f"{self.workload}-s{self.seed}.json"))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
