"""Shared machinery of the benchmark: process environment, Spark
launch and shutdown, the op runner with its optional tracer, engine
counters read from Spark's status stores, RSS sampling and the
summary statistics.

Nothing here imports pyspark at module import time; ``run.py`` sets
the environment first (``configure_env``) and imports the program
afterwards, so the JVM and the Python workers inherit it.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_env(root: str, work: str, cores: int) -> None:
    """Point every scratch location of the program, Spark and the JVM
    into ``work`` (inside the checkout) and put the package on
    ``PYTHONPATH`` so Python workers (change-feed foreachBatch, Arrow
    UDFs) import it too, not only this process."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ.pop("SPARK_GRAFT_MATERIALIZE_DIR", None)


def spark_confs(work: str) -> dict[str, str]:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
    }


def launch(cores: int, work: str):
    """Cold session start (JVM launch). Returns (spark, seconds). No
    warm-up action: the first op pays first-job initialization, and
    ``first_pass_s`` shows it."""
    from aggregation_duckdb_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_confs=spark_confs(work))
    return spark, time.perf_counter() - t0


def storage_memory_bytes(spark) -> int:
    """The block manager's maximum storage memory (the unified pool the
    program's checkpoints and caches live in)."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    return int(status.values().head()._1())


def _children(pid: int) -> list[int]:
    """Direct and indirect child processes of ``pid`` (from /proc)."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent_of[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session AND the JVM it launched, and wait until the
    JVM and every process it started (Python workers) have exited, so
    the next ``launch`` is cold and nothing outlives the run."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - any wait failure: kill
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 10
    for k in kids:
        while _alive(k) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(k):
            with contextlib.suppress(OSError):
                os.kill(k, signal.SIGKILL)


# ---------------------------------------------------------------------
# CPU time
# ---------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(pid: int) -> int:
    """User + system clock ticks of ``pid``, its reaped children's
    included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every process under it.
    A reaped descendant counts in its parent's cumulative fields, so
    each CPU second counts once. A kernel with paravirtual steal
    accounting (the reference container's) leaves hypervisor steal
    out of these counters."""
    return sum(_ticks(p) for p in [pid] + _children(pid)) / _TICK


class CpuMeter:
    """CPU seconds of the program: the driver JVM (its JIT compiler
    threads included) with its Python workers, plus this process (the
    package's driver-side Python and the Py4J callback threads) less
    the RSS sampler's thread."""

    def __init__(self, jvm: int | None, sampler: "RssSampler | None" = None):
        self.jvm, self.sampler = jvm, sampler

    def read(self) -> float:
        """CPU seconds so far; only differences mean anything."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        own = ru.ru_utime + ru.ru_stime
        if self.sampler is not None:
            own -= self.sampler.cpu_s()
        return own + (_tree_cpu_s(self.jvm) if self.jvm else 0.0)


# A fixed pure-CPU loop, timed by its own thread's CPU clock (which
# leaves out waiting for a core and hypervisor steal) every 0.25 s.
_PROBE = """
import time
while True:
    c = time.thread_time()
    x = 0
    for i in range(50_000):
        x += i * i % 7
    print(f"{time.monotonic():.4f} {time.thread_time() - c:.6f}", flush=True)
    time.sleep(0.25)
"""

# The probe loop's CPU time on the reference core that ``cpu_ref_s``
# is scaled to: about its median on the 4-vCPU container the bounds
# were set on, so the scaled figure reads close to the unscaled one.
PROBE_REF_S = 0.010


class SpeedProbe:
    """The host's core speed over the run, from a small process that
    times the same CPU-bound loop four times a second. On a shared
    host core speed drifts by a fifth over tens of seconds (other
    tenants, turbo, SMT siblings) and the program's CPU time drifts
    with it; dividing by the probe's median loop time over the same
    interval takes most of that out. The probe costs ~4 % of one
    core and is stopped, and waited for, on leaving the block."""

    def __enter__(self):
        self.samples: list[tuple[float, float]] = []
        self.proc = subprocess.Popen([sys.executable, "-c", _PROBE],
                                     stdout=subprocess.PIPE, text=True)
        self._t = threading.Thread(target=self._read, daemon=True)
        self._t.start()
        return self

    def _read(self) -> None:
        for line in self.proc.stdout:
            t, s = line.split()
            self.samples.append((float(t), float(s)))

    def __exit__(self, *exc):
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self._t.join(timeout=5)

    def loop_s(self, t0: float, t1: float) -> tuple[float, int]:
        """(median loop CPU seconds, samples) between two
        ``time.monotonic()`` readings."""
        xs = [s for t, s in self.samples if t0 <= t <= t1]
        return median(xs), len(xs)


# ---------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among
    the processes sharing them, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of the driver JVM plus every process
    under it (the Python workers), sampled every ``interval`` seconds
    on a thread."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._clock = None
        self._cpu_final = None

    def cpu_s(self) -> float:
        """CPU seconds the sampling thread has used."""
        if self._cpu_final is not None:
            return self._cpu_final
        if self._clock is None:
            return 0.0
        return time.clock_gettime(self._clock)

    def sample(self) -> None:
        kb = _pss_kb(self.pid) + sum(_pss_kb(c) for c in _children(self.pid))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        self._clock = time.pthread_getcpuclockid(threading.get_ident())
        while not self._stop.wait(self.interval):
            self.sample()
        self._cpu_final = time.thread_time()

    def __enter__(self):
        self.sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------
# engine counters from Spark's status stores
# ---------------------------------------------------------------------

ENGINE_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
               "executor_cpu_s", "gc_s", "input_bytes", "input_rows",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "python_bytes", "held_rdds", "held_bytes")


class Engine:
    """Reads Spark's core status store around each op (it populates
    with the UI disabled); SQL metrics come along as stage
    accumulators. The DAG scheduler's job and stage counters bound
    what is new since the last read, so each read costs O(new
    stages), not O(retained history); the listener bus is drained
    first so no finished stage is missed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.store = self.sc.statusStore()
        jvm = spark.sparkContext._jvm
        # one JSON round trip per stage instead of one call per field
        self.json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.json.registerModule(getattr(getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$"))
        self._drain()
        self.mark = (self.dag.nextJobId(), self.dag.nextStageId())

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def delta(self) -> dict[str, float]:
        """Counters of everything that ran since the previous call."""
        self._drain()
        first_job, first_stage = self.mark
        next_job, next_stage = self.dag.nextJobId(), self.dag.nextStageId()
        c = dict.fromkeys(ENGINE_KEYS, 0.0)
        c["jobs"] = float(next_job - first_job)
        for sid in range(first_stage, next_stage):
            try:
                st = json.loads(self.json.writeValueAsString(
                    self.store.lastStageAttempt(sid)))
            except Exception:  # noqa: BLE001 - evicted or never registered
                continue
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            c["failed_tasks"] += st["numFailedTasks"]
            c["executor_run_s"] += st["executorRunTime"] / 1e3
            c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            c["gc_s"] += st["jvmGcTime"] / 1e3
            c["input_bytes"] += st["inputBytes"]
            c["input_rows"] += st["inputRecords"]
            c["shuffle_read_bytes"] += st["shuffleReadBytes"]
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["spill_bytes"] += (st["memoryBytesSpilled"]
                                 + st["diskBytesSpilled"])
            # SQL metrics of the Python runners ("data sent to / returned
            # from Python workers") arrive as the stage's accumulators
            c["python_bytes"] += sum(
                int(a["value"]) for a in st.get("accumulatorUpdates", ())
                if "Python workers" in (a.get("name") or ""))
        c["held_rdds"] = float(self.sc.getPersistentRDDs().size())
        for info in self.sc.getRDDStorageInfo():
            c["held_bytes"] += info.memSize() + info.diskSize()
        self.mark = (next_job, next_stage)
        return c

def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of the query that ran
    ``df``'s last action (Spark's QueryPlanningTracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("parsing", "analysis", "optimization", "planning"):
        if phases.contains(name):
            total += phases.apply(name).durationMs() / 1e3
    return total


# ---------------------------------------------------------------------
# spans and ops
# ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    op_id: int
    parent: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class WrongAnswer(AssertionError):
    """An op returned a result that differs from its reference."""


@dataclass
class OpRecord:
    name: str
    layer: str
    pass_no: int
    seconds: float
    build_s: float
    action_s: float
    query: bool
    ok: bool
    rows: int | None = None
    error: str = ""
    cpu_s: float = 0.0


class Runner:
    """Runs the benchmark's ops. Every op is one fresh call into the
    program's public API, timed from outside; with ``trace`` on it
    also records a span per call site (and per build/action phase),
    the engine counters of the jobs the op ran, and the planning time
    of the frames it actioned."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.pass_no = 0
        self.pass_traced = trace
        self._stack: list[int] = []
        self._op_id = 0
        self.engine = Engine(spark) if trace else None
        self.cpu: CpuMeter | None = None   # set once the JVM is known
        self.trace_s = 0.0        # time spent in the tracer's own reads
        self.notes: dict[int, dict[str, float]] = {}
        self.op_pass: dict[int, int] = {}
        self._plan_s = 0.0

    # -- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.pass_traced:
            yield None
            return
        s = Span(name, layer, time.perf_counter(), self._op_id,
                 self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    # -- ops ----------------------------------------------------------

    def op(self, name: str, layer: str, call, *, action=None, check=None,
           query: bool = False):
        """One op: ``call()`` builds (or, for verbs, performs) it;
        ``action(result)`` runs the result's action; ``check(value)``
        raises WrongAnswer on a wrong result. Returns the action's
        value (or the call's result when there is no action), or None
        when the op failed. Failures are counted, never raised."""
        self._op_id += 1
        self.op_pass[self._op_id] = self.pass_no
        build_s = action_s = 0.0
        ok, err, value = True, "", None
        cpu0 = self.cpu.read() if self.cpu else 0.0
        t0 = time.perf_counter()
        actioned = None
        with self.span(name, layer) as sp:
            try:
                with self.span(f"{name}.build", layer):
                    result = call()
                t1 = time.perf_counter()
                build_s = t1 - t0
                if action is not None:
                    with self.span(f"{name}.action", layer):
                        value = action(result)
                    action_s = time.perf_counter() - t1
                    actioned = result
                else:
                    value = result
                    action_s, build_s = build_s, 0.0
            except Exception as exc:  # noqa: BLE001 - counted as failed op
                ok, err = False, f"{type(exc).__name__}: {exc}"[:500]
        seconds = time.perf_counter() - t0
        cpu_s = self.cpu.read() - cpu0 if self.cpu else 0.0
        if ok and check is not None:
            try:
                check(value)
            except WrongAnswer as exc:
                ok, err = False, f"wrong answer: {exc}"[:500]
        if sp is not None and self.engine is not None:
            # the tracer's own reads run after the op's span has closed
            t = time.perf_counter()
            sp.counters = self.engine.delta()
            if hasattr(actioned, "_jdf"):
                self._plan_s += plan_seconds(actioned)
            self.trace_s += time.perf_counter() - t
        rows = len(value) if isinstance(value, list) else None
        self.ops.append(OpRecord(name, layer, self.pass_no, seconds, build_s,
                                 action_s, query, ok, rows, err, cpu_s))
        return value if ok else None

    def note(self, key: str, value: float) -> None:
        """Add to a per-pass counter the workload observed."""
        d = self.notes.setdefault(self.pass_no, {})
        d[key] = d.get(key, 0.0) + value

    def untimed(self):
        """Bring the engine mark up to date so work done between ops
        (reference reads, bookkeeping) is not billed to the next op."""
        if self.engine is not None and self.pass_traced:
            t = time.perf_counter()
            self.engine.delta()
            self.trace_s += time.perf_counter() - t

    def take_plan_seconds(self) -> float:
        v, self._plan_s = self._plan_s, 0.0
        return v

    def wrap_module(self, module, layer: str) -> None:
        """Trace every public function of ``module`` (looked up through
        the module at call time by the program) as a child span of the
        op it runs in. Used in the traced run only."""
        import functools
        import inspect

        def wrapper(fn, name):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                if not (self.pass_traced and self._stack):
                    return fn(*args, **kwargs)
                with self.span(f"{layer}.{name}", layer):
                    return fn(*args, **kwargs)
            return traced

        for name, fn in list(vars(module).items()):
            if (not name.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == module.__name__):
                setattr(module, name, wrapper(fn, name))


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.seconds
    return [s.seconds - c for s, c in zip(spans, child)]


# ---------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    if n == 0:
        return 0.0
    return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it, never below the median (below 21
    samples that percentile would be); the maximum when there are
    fewer than eleven samples."""
    ys = sorted(xs)
    n = len(ys)
    if n == 0:
        return 0.0, 0.0
    if n < 11:
        return ys[-1], 100.0
    i = max(n - 11, (n - 1) // 2)
    return ys[i], 100.0 * (i + 1) / n
