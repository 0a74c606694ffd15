"""Spans around the program's public entry points, from the benchmark's
own files, plus Spark counters attributed to each span and unit.

A span is opened around each call to a patched entry point: it records
name, start, end, parent and the id of the unit (cycle or pass) it ran
in, and sets a Spark job group so the status store can attribute jobs,
stages, tasks, CPU, GC, shuffle and I/O to it.  Spans stay in memory;
counters are read from ``sc.statusStore()`` (which answers with
``spark.ui.enabled=false``) once, after the timed region.

Lazy entry points (``split_subforms``, ``StagingWarehouse.read``,
``EntitySource.read``) return plans: their spans hold
only driver plan-build time, and the execution cost lands on the span
of the call that runs the action.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    unit: int
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class UnitWindow:
    unit: int
    start: float
    end: float
    traced: bool
    sql_lo: int = -1  # SQL execution ids (sql_lo, sql_hi] ran in this unit
    sql_hi: int = -1
    py_cpu_s: float = 0.0


@dataclass
class Tracer:
    """Patches the registered entry points inside traced units only; a
    disabled tracer (the untraced run) patches nothing and records only
    unit windows."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    units: list[UnitWindow] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _unit: int = -1
    _patches: list[tuple] = field(default_factory=list)
    _targets: list[tuple] = field(default_factory=list)

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self._unit, parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(f"pb{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.dur
                sc.setJobGroup(f"pb{parent.sid}", parent.name)
            else:
                sc.setJobGroup("pb-none", "untraced")

    def register(self, owner, attr: str, name: str) -> None:
        """Add an entry point; patched only inside traced units."""
        self._targets.append((owner, attr, name))

    def _patch(self) -> None:
        for owner, attr, name in self._targets:
            orig = getattr(owner, attr)  # a plain function: a method or a module attribute

            def wrapped(*a, __fn=orig, __name=name, **kw):
                with self.span(__name):
                    return __fn(*a, **kw)

            setattr(owner, attr, wrapped)
            self._patches.append((owner, attr, orig))

    def _unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- units ---------------------------------------------------------------
    @contextlib.contextmanager
    def unit(self, idx: int, traced: bool):
        """One timed unit.  Traced units run with entry points patched and
        a root span; untraced ones run the program unmodified."""
        traced = traced and self.enabled
        win = UnitWindow(idx, 0.0, 0.0, traced)
        if self.enabled:
            win.sql_lo = _last_sql_id(self.spark)
            win.py_cpu_s = -python_worker_cpu_s()
        self._unit = idx
        if traced:
            self._patch()
        win.start = time.time()
        try:
            if traced:
                with self.span("unit"):
                    yield win
            else:
                yield win
        finally:
            win.end = time.time()
            if traced:
                self._unpatch()
            if self.enabled:
                win.py_cpu_s += python_worker_cpu_s()
                win.sql_hi = _last_sql_id(self.spark)
            self.units.append(win)
            self._unit = -1


def _last_sql_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return max(e.executionId() for e in _scala_list(store.executionsList(n - 1, 1)))


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds (user+sys, including reaped children) of every Python
    process below this one other than itself: the pyspark daemon and its
    forked workers, read from ``/proc``."""
    me = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu, comm = {}, {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rp = raw.rfind(")")
        f = raw[rp + 2:].split()
        p = int(pid)
        parent[p] = int(f[1])
        comm[p] = raw[raw.find("(") + 1:rp]
        cpu[p] = sum(int(x) for x in f[11:15]) / tick
    total = 0.0
    for p, c in cpu.items():
        if p == me or not comm[p].startswith("python"):
            continue
        q = parent.get(p)
        while q and q != me:
            q = parent.get(q)
        if q == me:
            total += c
    return total


# ---------------------------------------------------------------------------
# status-store readout (after the timed region)
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    ("tasks", "numTasks", 1.0),
    ("exec_run_s", "executorRunTime", 1e-3),
    ("exec_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
    ("input_bytes", "inputBytes", 1.0),
)


@dataclass
class JobRec:
    job_id: int
    group: str | None
    submitted: float  # epoch seconds
    completed: float
    stages: int = 0
    counters: dict = field(default_factory=dict)


def read_jobs(spark) -> list[JobRec]:
    """Every job the status store retains, with its stage counters summed."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages: dict[int, dict] = {}
    jvm = sc._jvm
    # Scala default arguments are not visible through py4j: pass all five
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for st in _scala_list(store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())):
        sid = st.stageId()
        acc = stages.setdefault(sid, {k: 0.0 for k, _, _ in STAGE_FIELDS})
        for key, getter, scale in STAGE_FIELDS:
            acc[key] += float(getattr(st, getter)()) * scale
    jobs = []
    for jd in _scala_list(store.jobsList(None)):
        grp = jd.jobGroup()
        sub, comp = jd.submissionTime(), jd.completionTime()
        rec = JobRec(
            jd.jobId(),
            grp.get() if grp.isDefined() else None,
            sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            comp.get().getTime() / 1000.0 if comp.isDefined() else 0.0,
        )
        rec.counters = {k: 0.0 for k, _, _ in STAGE_FIELDS}
        for sid in _scala_list(jd.stageIds()):
            if sid in stages:
                rec.stages += 1
                for k, v in stages[sid].items():
                    rec.counters[k] += v
        jobs.append(rec)
    return jobs


def python_udf_nodes(spark, lo: int, hi: int) -> int:
    """ArrowEvalPython / BatchEvalPython nodes in the physical plans of
    SQL executions with ids in (lo, hi]."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = 0
    for e in _scala_list(store.executionsList()):
        if lo < e.executionId() <= hi:
            plan = e.physicalPlanDescription()
            n += plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    return n
