"""Layered benchmark of the gate queries, from ``builder(spark, sf_dir)``
to the last row.

One client runs a workload's gates one after another (a closed loop) on
``session.get_session`` with ``local[<cores>]`` and the package's own
``RUNTIME_CONF`` defaults. A *pass* runs every gate of the workload once,
in an order drawn from the seed. The two workload modes differ in what
a pass pays for:

- ``cold``: each gate is built fresh against a fresh, untimed,
  byte-identical copy of the fixtures under a new path, then
  materialized (build + plan + execute, with any cache keyed by file
  identity cold every pass), as the driver calls each gate;
- ``prepared``: the gates are built once during set-up and each pass
  re-materializes the prepared DataFrames (plan + execute).

Every result is materialized to Spark's ``noop`` sink. Before the first
pass, outside every timed window, each gate is checked exactly against
its DuckDB oracle with ``tools/compare.py``'s ``compare_one``. That
check runs every gate once at the workload's scale and so starts the
warm-up; the workload's untimed warm-up passes finish it.

Layers are measured from outside, by timing calls into public
functions. With tracing on, wrappers count and time ``io.table``,
``io.fan_out`` and ``session.configure`` (replacing every module-level
binding of each, since operators import them by name), a job group
names each gate and phase, and Spark's own event log supplies job,
stage and task metrics. Passes then alternate between traced and plain,
and the difference of their medians is the tracing overhead (the event
log itself is on for both, so its own cost is not in that difference).

``plan.ms`` forces ``executedPlan()`` on a fresh query execution of the
built DataFrame's analyzed plan (optimization and physical planning;
analysis already ran inside the builder). The noop write then creates
its own query execution and plans the same query again inside
``exec.ms``, so ``plan.ms`` estimates the planning share of ``exec.ms``
and a traced pass pays planning twice.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from types import SimpleNamespace

from perfbench import fixtures

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout the benchmark measures

# The headline gates whose oracle stays cheap at sf0.1, one or two per
# operator family: scan-agg with io.fan_out, the 6- and 8-table star
# joins, exact percentiles, the as-of join, sessionization, tokenizing.
# Pinned here so that edits to bench.py cannot move the workloads.
JOIN_GATES = ("tpch_q5", "tpch_q8", "join_asof")
AGG_GATES = ("agg_groupby", "agg_percentile", "evt_sessionize_stats", "text_tokenize_counts", "limit_topk")
HEADLINE = JOIN_GATES + AGG_GATES


@dataclass(frozen=True)
class Workload:
    name: str
    gates: tuple[str, ...]
    sf: float
    mode: str  # "cold" | "prepared"
    warmup_passes: int = 0  # untimed passes between the check and the timing


# The two prepared workloads are the benchmark's (BENCHMARK.json); they
# split the headline gates by operator family, so a change to one family
# shows on one workload and leaves the other flat. driver-cold-sf0.01
# runs by name but is not in BENCHMARK.json: its passes are bound by
# driver round trips, whose wall time follows the CPU time other guests
# take from the box about twice as steeply (README.md, "Limits").
WORKLOADS = {
    w.name: w
    for w in (
        Workload("prepared-joins-sf0.1", JOIN_GATES, 0.1, "prepared", warmup_passes=1),
        Workload("prepared-aggs-sf0.1", AGG_GATES, 0.1, "prepared", warmup_passes=1),
        Workload("driver-cold-sf0.01", HEADLINE, 0.01, "cold", warmup_passes=2),
    )
}

# Package knobs that would override RUNTIME_CONF or pick a code path;
# the benchmark measures the defaults.
PACKAGE_ENV = (
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_PCTL_FORM",
    "SPARK_GRAFT_PCTL_BOUNDED_BYTES",
    "SPARK_GRAFT_SF_DIR",
)
COUNT_KEYS = ("build.spark_jobs", "io.table.calls", "exec.jobs", "exec.stages", "exec.tasks")
END_TO_END = {
    "pass_s": "s", "query_p50_s": "s", "setup_s": "s", "ok_ratio": "ratio", "jvm_peak_rss_mb": "MB",
}
# Per-layer metrics of the traced run: totals over one pass's gates,
# median over the traced passes.
PER_LAYER = {
    "build.ms": "ms", "build.spark_jobs": "count",
    "session.configure.calls": "count", "session.configure.ms": "ms",
    "io.table.calls": "count", "io.table.ms": "ms", "io.table.spark_jobs": "count",
    "io.fan_out.calls": "count", "io.fan_out.ms": "ms",
    "plan.ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms", "exec.task_overhead_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "driver.idle_ms": "ms",
    "trace.pass_s": "s", "trace.overhead_ms": "ms",
}
VERIFY_OK = ("OK",)  # WEAK_OK means no oracle checked the gate


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of the box's memory, in 256 MB steps, between 1 and 2 GB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 1024 // 4 // 256 * 256))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The box's aggregate CPU tick counters (the ``cpu`` line of
    ``/proc/stat``: user, nice, system, idle, iowait, irq, softirq,
    steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: time the benchmark waited for a
    CPU it was not shown as lacking."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / max(1, sum(d))


def prepare_env(run_dir: str, trace: bool) -> dict:
    """Point every scratch path of Python, the JVM and Spark into
    ``run_dir`` and pin the session shape. Must run before the package
    is imported (RUNTIME_CONF reads the environment at import) and
    before the JVM starts."""
    for k in PACKAGE_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap_mb()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=f"{heap}m",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # The JVMs' perf-data files go to /tmp whatever java.io.tmpdir says.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    confs = {
        "spark.local.dir": tmp,
        # G1 otherwise sizes the young generation from its measured pause
        # times and grows the heap whenever GC takes more than 1/13 of the
        # time, so the resident set would follow the CPU time other guests
        # take from the box. With a fixed young generation and that
        # trigger at 1/2, the heap grows only as the program's data needs.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{heap // 4}m -XX:GCTimeRatio=1"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    eventlog = None
    if trace:
        eventlog = os.path.join(run_dir, "eventlog")
        os.makedirs(eventlog)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{eventlog}",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return {"driver_heap_mb": heap, "eventlog": eventlog}


def stop_spark(spark) -> None:
    """Stop the session, shut the Py4J gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def now_ms() -> float:
    return time.time() * 1000.0


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

class Tracer:
    """Counts and times calls into the io and session layers, names the
    Spark job group of each (pass, gate, phase), and records each
    phase's wall-clock window for attributing jobs that run on other
    threads (streaming micro-batches set their own job group)."""

    PREFIX = "pb"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pass_id: str | None = None
        self.gate: str | None = None
        self.group: str | None = None
        self.windows: list[tuple[str, str, str, float, float]] = []
        self.calls: dict[tuple[str, str, str], list[float]] = {}
        self._restore: list[tuple[object, str, object]] = []

    # -- wrappers ------------------------------------------------------
    def install(self) -> dict[str, int]:
        """Wrap io.table, io.fan_out and session.configure, replacing
        every module-level binding of each original in sys.modules (the
        operators bind ``table`` by name, and the registry binds
        ``configure``). Returns the bindings replaced per function and
        raises if a function is bound nowhere but its own module."""
        from big_data_flight_spark import io, session

        targets = {
            "io.table": io.table,
            "io.fan_out": io.fan_out,
            "session.configure": session.configure,
        }
        replaced = {}
        for label, orig in targets.items():
            wrapper = self._wrap(label, orig)
            n = 0
            for mod in list(sys.modules.values()):
                for attr, val in list(getattr(mod, "__dict__", {}).items()):
                    if val is orig:
                        setattr(mod, attr, wrapper)
                        self._restore.append((mod, attr, orig))
                        n += 1
            if n < 2:
                raise RuntimeError(f"{label}: bound in {n} module(s); the wrapper would count nothing")
            replaced[label] = n
        return replaced

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _wrap(self, label: str, fn):
        def wrapper(*args, **kwargs):
            if self.gate is None:
                return fn(*args, **kwargs)
            key = (self.pass_id, self.gate, label)
            rec = self.calls.setdefault(key, [0, 0.0])
            with self.phase(label):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    rec[0] += 1
                    rec[1] += (time.perf_counter() - t0) * 1000.0

        wrapper.__wrapped__ = fn
        return wrapper

    # -- phases --------------------------------------------------------
    @contextlib.contextmanager
    def gate_scope(self, pass_id: str, gate: str):
        self.pass_id, self.gate = pass_id, gate
        try:
            yield
        finally:
            self.pass_id = self.gate = None

    @contextlib.contextmanager
    def phase(self, phase: str):
        """Job group ``pb|<pass>|<gate>|<phase>`` for the duration; the
        enclosing group is restored afterwards (phases nest)."""
        outer = self.group
        self.group = f"{self.PREFIX}|{self.pass_id}|{self.gate}|{phase}"
        self.sc.setJobGroup(self.group, self.group)
        t0 = now_ms()
        try:
            yield
        finally:
            self.windows.append((self.pass_id, self.gate, phase, t0, now_ms()))
            self.group = outer
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)

    # -- event log -----------------------------------------------------
    def _owner(self, group: str | None, t_ms: float):
        """(pass, gate, phase) of a job: from its group when it is one of
        ours, else the innermost phase window containing its start."""
        if group and group.startswith(self.PREFIX + "|"):
            _, pass_id, gate, phase = group.split("|", 3)
            return pass_id, gate, phase
        best = None
        for w in self.windows:
            if w[3] <= t_ms <= w[4] and (best is None or w[3] >= best[3]):
                best = w
        return best[:3] if best else None

    def layer_records(self, eventlog_dir: str) -> tuple[dict, int]:
        """Per (pass, gate) layer metrics. Reads the event log, so call
        it after the session has stopped (the log is then complete)."""
        (name,) = os.listdir(eventlog_dir)
        jobs, stage_job, stages_run, tasks = {}, {}, [], []
        with open(os.path.join(eventlog_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                    }
                    for s in ev["Stage IDs"]:
                        stage_job[s] = min(stage_job.get(s, ev["Job ID"]), ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    stages_run.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

        recs: dict[tuple[str, str], dict] = {}

        def rec(pass_id, gate):
            return recs.setdefault((pass_id, gate), {"_jobs": []})

        def bump(r, k, v=1):
            r[k] = r.get(k, 0) + v

        job_owner, unattributed = {}, 0
        spans = {}  # (first, last) ms of each traced pass
        for pass_id, _, _, t0, t1 in self.windows:
            lo, hi = spans.get(pass_id, (t0, t1))
            spans[pass_id] = (min(lo, t0), max(hi, t1))
        for jid, j in jobs.items():
            owner = self._owner(j["group"], j["start"])
            if owner is None:
                unattributed += any(lo <= j["start"] <= hi for lo, hi in spans.values())
                continue
            pass_id, gate, phase = owner
            job_owner[jid] = owner
            r = rec(pass_id, gate)
            r["_jobs"].append((j["start"], j.get("end", j["start"])))
            if phase in ("build", "io.table", "io.fan_out", "session.configure"):
                bump(r, "build.spark_jobs")
            if phase == "io.table":
                bump(r, "io.table.spark_jobs")
            if phase == "exec":
                bump(r, "exec.jobs")
        for s in stages_run:
            owner = job_owner.get(stage_job.get(s))
            if owner and owner[2] == "exec":
                bump(rec(*owner[:2]), "exec.stages")
        for ev in tasks:
            owner = job_owner.get(stage_job.get(ev["Stage ID"]))
            if not owner or owner[2] != "exec":
                continue
            r = rec(*owner[:2])
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            bump(r, "exec.tasks")
            bump(r, "exec.failed_tasks", int(ev["Task End Reason"]["Reason"] != "Success"))
            bump(r, "exec.executor_run_ms", run_ms)
            bump(r, "exec.executor_cpu_ms", m.get("Executor CPU Time", 0) / 1e6)
            bump(r, "exec.task_overhead_ms", info["Finish Time"] - info["Launch Time"] - run_ms)
            bump(r, "exec.input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            bump(r, "exec.shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            bump(r, "exec.shuffle_write_bytes", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            bump(r, "exec.spill_bytes", m.get("Disk Bytes Spilled", 0))

        for (pass_id, gate, label), (n, ms) in self.calls.items():
            r = rec(pass_id, gate)
            bump(r, f"{label}.calls", n)
            bump(r, f"{label}.ms", ms)
        for pass_id, gate, phase, t0, t1 in self.windows:
            if phase in ("build", "plan", "exec"):
                bump(rec(pass_id, gate), f"{phase}.ms", t1 - t0)
        gate_windows = {}
        for pass_id, gate, phase, t0, t1 in self.windows:
            if phase in ("build", "plan", "exec"):
                lo, hi = gate_windows.get((pass_id, gate), (t0, t1))
                gate_windows[(pass_id, gate)] = (min(lo, t0), max(hi, t1))
        for key, (t0, t1) in gate_windows.items():
            r = rec(*key)
            r["_window"] = (t0, t1)
            r["driver.idle_ms"] = idle_ms(t0, t1, r["_jobs"])
        return recs, unattributed


def idle_ms(t0: float, t1: float, spans: list[tuple[float, float]]) -> float:
    """Part of [t0, t1] during which none of ``spans`` ran."""
    busy, cur = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, cur), min(b, t1)
        if b > a:
            busy += b - a
            cur = b
    return (t1 - t0) - busy


# ---------------------------------------------------------------------------
# The benchmark
# ---------------------------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One workload in one process: ``setup``, ``verify``, ``measure``,
    then ``close``. ``src_dir`` holds the workload's fixtures;
    ``run_dir`` is private scratch space for copies and logs."""

    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool,
                 src_dir: str, run_dir: str, eventlog: str | None = None):
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.src_dir, self.run_dir, self.eventlog = src_dir, run_dir, eventlog
        self.rng = random.Random(seed)
        self.spark = None
        self.registry: dict = {}
        self.compare = None
        self.tracer: Tracer | None = None
        self.prepared: dict = {}
        self.setup_parts: dict[str, float] = {}
        self.verify_status: dict[str, str] = {}
        self.verify_gate_s: dict[str, dict] = {}
        self.verify_s = 0.0
        self.passes: list[dict] = []
        self.copies: list[dict] = []
        self.attempted = self.failed = 0
        self.wrapped: dict[str, int] = {}
        self.layers: dict | None = None

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        """Timed as ``setup_s``: imports, session start and, for the
        prepared workload, the builds."""
        t0 = time.perf_counter()
        from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
        from big_data_flight_spark.session import get_session
        from tools import compare

        _load_all_operator_modules()
        self.registry, self.compare = _REGISTRY, compare
        t1 = time.perf_counter()
        self.spark = get_session("perfbench", cores())
        t2 = time.perf_counter()
        self.setup_parts = {"import_s": t1 - t0, "session_s": t2 - t1}
        if self.trace:
            self.tracer = Tracer(self.spark)
            self.wrapped = self.tracer.install()
        if self.w.mode == "prepared":
            for gate in self.w.gates:
                with self._scope("setup", gate), self._phase("build"):
                    self.prepared[gate] = self.registry[gate].builder(self.spark, self.src_dir)
            self.setup_parts["build_s"] = time.perf_counter() - t2

    @property
    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    def _scope(self, pass_id, gate):
        return self.tracer.gate_scope(pass_id, gate) if self.tracer else contextlib.nullcontext()

    def _phase(self, name):
        return self.tracer.phase(name) if self.tracer and self.tracer.gate else contextlib.nullcontext()

    # -- correctness -----------------------------------------------------
    def verify(self) -> None:
        """Check every gate exactly against its DuckDB oracle, once,
        outside the timed windows. The cold workload checks on a copy of
        its own, so no pass reuses the path. The oracles run in a thread
        of their own meanwhile; ``compare_one`` gets each result through
        a connection stand-in."""
        t0 = time.perf_counter()
        sf_dir = self._fresh_copy("verify") if self.w.mode == "cold" else self.src_dir
        con = self.compare.duck_connect(sf_dir)
        pool = ThreadPoolExecutor(1)
        try:
            cur = con.cursor()
            oracles = {g: pool.submit(lambda sql: cur.execute(sql).df(), self.registry[g].oracle)
                       for g in self.w.gates if self.registry[g].oracle is not None}
            for gate in self.w.gates:
                q = self.registry[gate]
                if self.w.mode == "prepared":
                    df = self.prepared[gate]
                    q = SimpleNamespace(builder=lambda s, d, df=df: df, oracle=q.oracle,
                                        expected_empty=q.expected_empty)
                done = None
                if gate in oracles:
                    done = SimpleNamespace(execute=lambda sql, f=oracles[gate]: SimpleNamespace(df=f.result))
                t1 = time.perf_counter()
                res = self.compare.compare_one(self.spark, done, gate, q, sf_dir, verbose=False)
                self.verify_status[gate] = res["status"]
                self.verify_gate_s[gate] = {"spark_s": res.get("spark_sec"), "total_s": time.perf_counter() - t1}
                self.attempted += 1
                if res["status"] not in VERIFY_OK:
                    self.failed += 1
                    print(f"verify {gate}: {json.dumps(res, default=str)}", file=sys.stderr)
        finally:
            pool.shutdown(cancel_futures=True)
            con.close()
        self.verify_s = time.perf_counter() - t0

    def _fresh_copy(self, tag: str) -> str:
        dst = os.path.join(self.run_dir, "copies", tag)
        fixtures.copy(self.src_dir, dst)
        self.copies.append({"tag": tag, "path": dst, "sha256": fixtures.checksum(dst)})
        return dst

    # -- measurement -----------------------------------------------------
    def measure(self) -> None:
        """The workload's untimed warm-up passes (the first passes after
        the check still run slower while the JIT compiles), then passes
        for ``seconds``: no pass starts that the last one's time says
        would end past them, but at least two run, so that a median is
        never one pass alone. With tracing, passes go plain, traced,
        traced, plain, ... (at least four), so warm-up drift does not
        bias the overhead estimate."""
        for i in range(self.w.warmup_passes):
            self._one_pass(i, traced=False, warmup=True)
        t0 = time.perf_counter()
        i, last = 0, 0.0
        while i < (4 if self.trace else 2) or time.perf_counter() - t0 + last <= self.seconds:
            t1 = time.perf_counter()
            self._one_pass(self.w.warmup_passes + i, traced=self.trace and i % 4 in (1, 2))
            last = time.perf_counter() - t1
            i += 1

    def _timed_passes(self, traced: bool) -> list[dict]:
        return [p for p in self.passes if not p["warmup"] and p["traced"] == traced]

    def _one_pass(self, i: int, traced: bool, warmup: bool = False) -> None:
        order = list(self.w.gates)
        self.rng.shuffle(order)
        sf_dir = self._fresh_copy(f"pass-{i}") if self.w.mode == "cold" else None
        ticks = cpu_ticks()
        walls: dict[str, float] = {}
        for gate in order:
            with self._scope(str(i), gate) if traced else contextlib.nullcontext():
                t0 = time.perf_counter()
                try:
                    self._run_gate(gate, sf_dir)
                except Exception:  # noqa: BLE001 - a failing gate is counted, the run goes on
                    traceback.print_exc()
                    self.failed += 1
                walls[gate] = time.perf_counter() - t0
            self.attempted += 1
        self.passes.append({"pass": i, "warmup": warmup, "traced": traced, "order": order, "gate_s": walls,
                            "pass_s": sum(walls.values()),
                            "steal_pct": steal_pct(ticks, cpu_ticks())})
        if sf_dir is not None:
            shutil.rmtree(sf_dir)

    def _run_gate(self, gate: str, sf_dir: str | None) -> None:
        """Materialize ``gate``: built on ``sf_dir``, or the prepared
        DataFrame when ``sf_dir`` is None."""
        if sf_dir is None:
            df = self.prepared[gate]
        else:
            with self._phase("build"):
                df = self.registry[gate].builder(self.spark, sf_dir)
        if self.tracer and self.tracer.gate:
            with self._phase("plan"):
                jds = self.spark._jvm.org.apache.spark.sql.classic.Dataset
                jds.ofRows(self.spark._jsparkSession, df._jdf.logicalPlan()).queryExecution().executedPlan()
        with self._phase("exec"):
            materialize(df)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("VmHWM")).split()[1])
        return kb / 1024.0

    def close(self) -> None:
        """Stop Spark and wait for the JVM; then read the event log."""
        if self.tracer:
            self.tracer.uninstall()
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        if self.tracer and self.eventlog:
            self.layers = self._layers()

    # -- results ---------------------------------------------------------
    def _layers(self) -> dict:
        if not any(label == "io.table" for _, _, label in self.tracer.calls):
            raise RuntimeError("io.table wrapper counted no calls: a name-bound import was missed")
        recs, unattributed = self.tracer.layer_records(self.eventlog)
        traced, plain = self._timed_passes(True), self._timed_passes(False)
        per_gate: dict[str, dict[str, list]] = {}
        counts: dict[str, list[tuple]] = {}
        pass_totals = []
        for p in traced:
            gate_recs = {g: dict(recs.get((str(p["pass"]), g), {})) for g in p["order"]}
            if self.w.mode == "prepared":  # the build layer ran during set-up
                for g, r in gate_recs.items():
                    setup = recs.get(("setup", g), {})
                    r.update({k: v for k, v in setup.items() if k.startswith(("build.", "io.", "session."))})
            total: dict[str, float] = {}
            for g, r in gate_recs.items():
                for k, v in r.items():
                    if not k.startswith("_"):
                        per_gate.setdefault(g, {}).setdefault(k, []).append(v)
                        total[k] = total.get(k, 0) + v
                counts.setdefault(g, []).append(tuple(r.get(k, 0) for k in COUNT_KEYS))
            t0 = min(r["_window"][0] for r in gate_recs.values())
            t1 = max(r["_window"][1] for r in gate_recs.values())
            total["driver.idle_ms"] = idle_ms(t0, t1, [s for r in gate_recs.values() for s in r["_jobs"]])
            pass_totals.append(total)
        metrics = {k: _median([t.get(k, 0) for t in pass_totals]) for k in PER_LAYER}
        traced_s = _median([p["pass_s"] for p in traced])
        metrics["trace.pass_s"] = traced_s
        metrics["trace.overhead_ms"] = (traced_s - _median([p["pass_s"] for p in plain])) * 1000.0
        return {
            "metrics": metrics,
            "per_gate": {g: {k: _median(v) for k, v in m.items()} for g, m in per_gate.items()},
            "per_gate_counts": {g: dict(zip(COUNT_KEYS, rows[0])) for g, rows in counts.items()},
            "count_mismatches": {g: rows for g, rows in counts.items() if len(set(rows)) > 1},
            "unattributed_jobs": unattributed,
            "wrapped_bindings": self.wrapped,
        }

    def end_to_end(self, peak_rss_mb: float) -> dict[str, float]:
        """Each gate's median wall time over the timed plain passes gives
        ``pass_s`` (their sum) and ``query_p50_s`` (their median): a gate
        slowed in one pass by a burst of CPU taken from the box is voted
        down by its other passes, while a pass total carries every burst
        of the pass."""
        passes = self._timed_passes(False)
        gate_s = [_median([p["gate_s"][g] for p in passes]) for g in self.w.gates]
        return {
            "pass_s": sum(gate_s),
            "query_p50_s": _median(gate_s),
            "setup_s": self.setup_s,
            "ok_ratio": 1.0 - self.failed / self.attempted,
            "jvm_peak_rss_mb": peak_rss_mb,
        }


def run_context(workload: Workload, seed: int, heap_mb: int, spark_version: str,
                java_version: str, source_sha: str) -> dict:
    sha = None  # a checkout without .git is identified by source_sha256 alone
    if os.path.exists(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.CalledProcessError):
            sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                 text=True, check=True).stdout.strip()
    return {
        "workload": workload.name,
        "mode": workload.mode,
        "gates": list(workload.gates),
        "seed": seed,
        "master": f"local[{cores()}]",
        "sf": workload.sf,
        "driver_heap_mb": heap_mb,
        "git_sha": sha,
        "source_sha256": source_sha,
        "spark": spark_version,
        "java": java_version,
        "python": platform.python_version(),
    }
