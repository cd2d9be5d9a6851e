"""Measurement helpers shared by the workloads: spans, host and process
probes, and readers for Spark's public status, progress and plan APIs.

Nothing here changes what the engine does; every probe reads state that
Spark or the OS already exposes.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, run id). A disabled
    tracer still runs the wrapped code but records nothing, so the traced
    and untraced runs execute the same calls."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.run_id, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by child
        spans (children of one span never overlap: spans nest on one
        thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "run_id": s.run_id,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def span_cost_s(n: int = 20_000) -> float:
    """Cost of recording one span: a throwaway tracer records ``n`` empty
    nested pairs, and the best of three rounds is kept."""
    best = math.inf
    for _ in range(3):
        tracer = Tracer("calibration", enabled=True)
        t0 = time.perf_counter()
        for _ in range(n // 2):
            with tracer.span("outer"):
                with tracer.span("inner"):
                    pass
        best = min(best, (time.perf_counter() - t0) / n)
    return best


# ------------------------------------------------------------ statistics

def median(values: list[float]) -> float:
    return statistics.median(values)


def steady_median(values: list[float], steals: list[float], gate: float, keep: int = 3) -> float:
    """Median of the samples during which hypervisor steal stayed below
    ``gate`` cores; when fewer than ``keep`` did, of the ``keep`` least
    stolen. ``steals[i]`` belongs to ``values[i]``."""
    clean = [v for v, s in zip(values, steals) if s < gate]
    if len(clean) < keep:
        clean = [v for _, v in sorted(zip(steals, values))[:keep]]
    return median(clean)


# ------------------------------------------------------------------- host

def host_record(cpu0, wall0: float, parallelism: int) -> dict[str, float]:
    """Core counts, steal and load for the run. The probes come from the
    repository's bench harness so the two report the same quantities."""
    from bench import _foreign_cores, _loadavg

    _, steal = _foreign_cores(cpu0, wall0)
    load = _loadavg() or [math.nan]
    return {
        "host.cpus": float(os.cpu_count() or 0),
        "host.default_parallelism": float(parallelism),
        "host.steal_cores": float(steal if steal is not None else math.nan),
        "host.loadavg_1m": float(load[0]),
    }


def steal_mark() -> tuple[int, float]:
    from bench import _steal_jiffies

    return _steal_jiffies() or 0, time.perf_counter()


def steal_since(mark: tuple[int, float]) -> float:
    """Cores the hypervisor stole on average since ``mark``."""
    from bench import _HZ, _steal_jiffies

    jiffies, t0 = mark
    return ((_steal_jiffies() or 0) - jiffies) / _HZ / max(time.perf_counter() - t0, 1e-3)


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Current RSS of a process and all its descendants (python, the JVM
    and the Python workers), in MB."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
            rest = st[st.rindex(")") + 2:].split()
            children.setdefault(int(rest[1]), []).append(int(pid))
            rss[int(pid)] = int(rest[21]) * page
        except (OSError, ValueError, IndexError):
            continue
    total, stack, seen = 0, [root_pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total / 1e6


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak_mb``
    is the largest sample."""

    def __init__(self, interval_s: float = 0.25) -> None:
        import threading

        self.peak_mb = tree_rss_mb()
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# ------------------------------------------------------------------ files

def link_tree(src: str, dst: str) -> None:
    """Hard-links every file under ``src`` to the same place under
    ``dst``."""
    for dirpath, _, names in os.walk(src):
        target = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(target, exist_ok=True)
        for name in names:
            os.link(os.path.join(dirpath, name), os.path.join(target, name))


# ------------------------------------------------------------------ Spark

def gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


def group_counts(spark, group: str) -> JobCounts:
    """Jobs, stages and tasks that ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    out = JobCounts()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            out.stages += 1
            out.tasks += st.numTasks if st is not None else 0
    return out


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def plan_nodes(plan) -> Iterator:
    """Every physical node under ``plan``, descending through adaptive
    plans, query stages and reused exchanges."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        yield node
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        stack.extend(_scala_seq(node.children()))


def node_metrics(spark, node) -> dict[str, float]:
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return {k: float(v.value()) for k, v in dict(conv.asJava(node.metrics())).items()}


def count_expr(plan, classes: set[str]) -> int:
    """Occurrences of the expression classes (e.g. ``JsonToStructs``) in
    the expressions of every node of a physical plan."""
    def walk(expr) -> int:
        n = 1 if expr.getClass().getSimpleName() in classes else 0
        return n + sum(walk(c) for c in _scala_seq(expr.children()))

    return sum(walk(e) for node in plan_nodes(plan) for e in _scala_seq(node.expressions()))


def python_io(spark, plan) -> dict[str, float]:
    """Bytes crossing the Arrow-UDF boundary both ways, and rows coming
    back, summed over the Python evaluation nodes of an executed plan."""
    out = {"python.rows_received": 0.0, "python.bytes_sent": 0.0, "python.bytes_received": 0.0}
    for node in plan_nodes(plan):
        if "Python" not in node.getClass().getSimpleName():
            continue
        m = node_metrics(spark, node)
        out["python.rows_received"] += m.get("pythonNumRowsReceived", 0.0)
        out["python.bytes_sent"] += m.get("pythonDataSent", 0.0)
        out["python.bytes_received"] += m.get("pythonDataReceived", 0.0)
    return out


def shuffle_io(spark, plan) -> dict[str, float]:
    """Shuffle bytes and records written by the exchanges of an executed
    plan, and the largest partition over the mean partition (AQE stages
    report partition sizes through their map output statistics)."""
    out = {"shuffle.bytes_written": 0.0, "shuffle.records_written": 0.0}
    ratio = 0.0
    for node in plan_nodes(plan):
        cls = node.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            m = node_metrics(spark, node)
            out["shuffle.bytes_written"] += m.get("shuffleBytesWritten", 0.0)
            out["shuffle.records_written"] += m.get("shuffleRecordsWritten", 0.0)
        elif cls == "ShuffleQueryStageExec":
            stats = node.mapStats()
            if stats.isDefined():
                sizes = list(stats.get().bytesByPartitionId())
                if sizes and sum(sizes):
                    ratio = max(ratio, max(sizes) / (sum(sizes) / len(sizes)))
    out["shuffle.max_partition_ratio"] = ratio
    return out


def catalyst_ms(spark, df) -> dict[str, float]:
    """Analysis, optimization and planning time of a DataFrame's
    QueryExecution (planning is forced here, before any action)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    phases = dict(conv.asJava(qe.tracker().phases()))
    return {
        f"catalyst.{p}_ms": float(phases[p].durationMs()) if p in phases else 0.0
        for p in ("analysis", "optimization", "planning")
    }


def run_plan(df):
    """Executes a DataFrame's physical plan to the end, computing every
    column of every row as the noop sink does, and returns the plan, whose
    nodes then carry this execution's SQL metrics."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    return plan
