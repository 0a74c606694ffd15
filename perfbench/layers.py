"""Per-layer metrics of a traced run.

Layer names are the program's module names; ``spark.*`` is the engine
beneath, attributed per unit by time window.  Every name is emitted on
every workload: a layer a workload does not use reads 0 there, which is
the "stays flat" half of the prediction table in README.md.  Each value
is the median, over the traced timed units, of the per-unit figure.
"""

from __future__ import annotations

import statistics

from .trace import JobRec, Span, Tracer, python_udf_nodes
from .workloads import SQL_ENTRIES

SPARK = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.exec_run_s", "s"),
    ("spark.exec_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.python_udf_nodes", "count"),
    ("spark.python_worker_cpu_s", "s"),
]
CATALOGUE: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("session.inputs_s", "s"),
    ("session.state_s", "s"),
    ("session.warmup_s", "s"),
    ("session.heap_peak_mb", "MB"),
    ("sources.read_s", "s"),
    ("sources.control_s", "s"),
    ("sources.rows_delivered", "count"),
    ("operators.ingest.split_s", "s"),
    ("operators.staging.write_s", "s"),
    ("operators.staging.write_calls", "count"),
    ("operators.staging.write_jobs", "count"),
    ("operators.staging.write_tasks", "count"),
    ("operators.staging.write_exec_cpu_s", "s"),
    ("operators.staging.write_shuffle_bytes", "bytes"),
    ("operators.staging.files_written", "count"),
    ("operators.staging.bytes_written", "bytes"),
    ("operators.staging.rows_written", "count"),
    ("operators.staging.useful_row_ratio", "ratio"),
    ("operators.staging.view_read_s", "s"),
    ("operators.staging.asof_read_s", "s"),
    ("operators.staging.changes_read_s", "s"),
    ("operators.staging.view_input_bytes", "bytes"),
    ("plans.pipeline.refresh_self_s", "s"),
    ("plans.pipeline.jobs_per_cycle", "count"),
    ("plans.pipeline.late_early_ratio", "ratio"),
    ("plans.pipeline.refresh_tail_s", "s"),
    ("plans.pipeline.full_refresh_s", "s"),
    ("streaming.cdc_trigger_s", "s"),
    ("streaming.cdc_apply_s", "s"),
    ("streaming.cdc_offset_ms", "ms"),
    ("streaming.cdc_planning_ms", "ms"),
    ("streaming.cdc_add_batch_ms", "ms"),
    ("streaming.cdc_wal_commit_ms", "ms"),
    ("streaming.cdc_rows", "count"),
    *[(f"plans.{e}_s", "s") for e in SQL_ENTRIES],
    ("plans.jobs", "count"),
    ("plans.tasks", "count"),
    ("plans.exec_cpu_s", "s"),
    ("plans.exec_cpu_share", "ratio"),
    ("plans.busy_share", "ratio"),
    ("plans.gc_s", "s"),
    ("plans.shuffle_write_bytes", "bytes"),
    ("plans.input_bytes", "bytes"),
    *SPARK,
    ("tracing.overhead_s", "s"),
    ("tracing.overhead_share", "ratio"),
]


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _union(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class _Unit:
    """Spans and jobs of one traced unit."""

    def __init__(self, win, spans: list[Span], jobs: list[JobRec]):
        self.win = win
        self.spans = spans
        self.jobs = [j for j in jobs if win.start <= j.submitted <= win.end]
        kids: dict[int | None, list[Span]] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)
        self._kids = kids
        self._by_sid = {s.sid: s for s in spans}
        self._by_group: dict[str, list[JobRec]] = {}
        for j in self.jobs:
            self._by_group.setdefault(j.group or "", []).append(j)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def dur(self, prefix: str) -> float:
        return sum(s.dur for s in self.named(prefix))

    def under(self, prefix: str, ancestor: str) -> list[Span]:
        """Spans ``named(prefix)`` that run inside a span named ``ancestor``."""
        out = []
        for s in self.named(prefix):
            p = self._by_sid.get(s.parent)
            while p is not None and p.name != ancestor:
                p = self._by_sid.get(p.parent)
            if p is not None:
                out.append(s)
        return out

    def subtree_jobs(self, spans: list[Span]) -> list[JobRec]:
        out, todo = [], list(spans)
        while todo:
            s = todo.pop()
            out.extend(self._by_group.get(f"pb{s.sid}", []))
            todo.extend(self._kids.get(s.sid, []))
        return out


def _sum(jobs: list[JobRec], key: str) -> float:
    return sum(j.counters[key] for j in jobs)


def per_layer(wl, results, tracer: Tracer, jobs: list[JobRec], setup: dict, cpus: int) -> dict:
    out = {name: 0.0 for name, _ in CATALOGUE}
    out.update(setup)
    spans_by_unit: dict[int, list[Span]] = {}
    for s in tracer.spans:
        spans_by_unit.setdefault(s.unit, []).append(s)
    rows = []  # (unit, result)
    for win, res in zip(tracer.units, results):
        if win.traced:
            rows.append((_Unit(win, spans_by_unit.get(win.unit, []), jobs), res))
    spark = tracer.spark

    def med(fn):
        return _med(fn(u, r) for u, r in rows)

    out["spark.jobs"] = med(lambda u, r: len(u.jobs))
    out["spark.stages"] = med(lambda u, r: sum(j.stages for j in u.jobs))
    out["spark.tasks"] = med(lambda u, r: _sum(u.jobs, "tasks"))
    out["spark.exec_run_s"] = med(lambda u, r: _sum(u.jobs, "exec_run_s"))
    out["spark.exec_cpu_s"] = med(lambda u, r: _sum(u.jobs, "exec_cpu_s"))
    out["spark.gc_s"] = med(lambda u, r: _sum(u.jobs, "gc_s"))
    out["spark.driver_gap_s"] = med(
        lambda u, r: (u.win.end - u.win.start)
        - _union([(j.submitted, j.completed or u.win.end) for j in u.jobs], u.win.start, u.win.end)
    )
    out["spark.python_udf_nodes"] = med(lambda u, r: python_udf_nodes(spark, u.win.sql_lo, u.win.sql_hi))
    out["spark.python_worker_cpu_s"] = med(lambda u, r: u.win.py_cpu_s)

    traced = [r.unit_s for w, r in zip(tracer.units, results) if w.traced]
    plain = [r.unit_s for w, r in zip(tracer.units, results) if not w.traced]
    if traced and plain:
        out["tracing.overhead_s"] = _med(traced) - _med(plain)
        out["tracing.overhead_share"] = out["tracing.overhead_s"] / _med(plain)

    if wl.name == "elt_refresh":
        # the refresh's staging writes; the CDC target's apply is
        # ``streaming.cdc_apply_s``
        writes = lambda u: u.under("operators.staging.write", "plans.pipeline.refresh_data")  # noqa: E731
        out["sources.read_s"] = med(lambda u, r: u.dur("sources.read"))
        out["sources.control_s"] = med(lambda u, r: u.dur("sources.control"))
        out["sources.rows_delivered"] = med(lambda u, r: r.info["rows_delivered"])
        out["operators.ingest.split_s"] = med(lambda u, r: u.dur("operators.ingest.split"))
        out["operators.staging.files_written"] = med(lambda u, r: r.info["files_written"])
        out["operators.staging.bytes_written"] = med(lambda u, r: r.info["bytes_written"])
        out["operators.staging.rows_written"] = med(lambda u, r: r.info["rows_written"])
        out["operators.staging.useful_row_ratio"] = med(
            lambda u, r: r.info["rows_written"] / max(r.info["rows_delivered"], 1)
        )
        out["operators.staging.view_read_s"] = med(lambda u, r: u.dur("operators.staging.read"))
        out["operators.staging.view_input_bytes"] = med(
            lambda u, r: _sum(u.subtree_jobs(u.named("operators.staging.read")), "input_bytes")
        )
        out["plans.pipeline.refresh_self_s"] = med(
            lambda u, r: sum(s.self_s for s in u.named("plans.pipeline.refresh_data"))
        )
        out["plans.pipeline.jobs_per_cycle"] = med(
            lambda u, r: len(u.subtree_jobs(u.named("plans.pipeline.refresh_data")))
        )
        out["streaming.cdc_trigger_s"] = med(lambda u, r: u.dur("streaming.cdc_trigger"))
        out["streaming.cdc_apply_s"] = med(
            lambda u, r: sum(s.dur for s in u.under("operators.staging.write", "streaming.cdc_trigger"))
        )
        for key, name in (
            ("latestOffset", "streaming.cdc_offset_ms"),
            ("queryPlanning", "streaming.cdc_planning_ms"),
            ("addBatch", "streaming.cdc_add_batch_ms"),
            ("walCommit", "streaming.cdc_wal_commit_ms"),
            ("rows", "streaming.cdc_rows"),
        ):
            out[name] = med(lambda u, r, k=key: r.info["cdc"][k])
        out.update(refresh_tail(results, wl.full_s))
        out["operators.staging.write_s"] = med(lambda u, r: sum(s.dur for s in writes(u)))
        out["operators.staging.write_calls"] = med(lambda u, r: len(writes(u)))
        out["operators.staging.write_jobs"] = med(lambda u, r: len(u.subtree_jobs(writes(u))))
        out["operators.staging.write_tasks"] = med(lambda u, r: _sum(u.subtree_jobs(writes(u)), "tasks"))
        out["operators.staging.write_exec_cpu_s"] = med(
            lambda u, r: _sum(u.subtree_jobs(writes(u)), "exec_cpu_s")
        )
        out["operators.staging.write_shuffle_bytes"] = med(
            lambda u, r: _sum(u.subtree_jobs(writes(u)), "shuffle_write_bytes")
        )
    if wl.name == "analytics_mix":
        for e in SQL_ENTRIES:
            out[f"plans.{e}_s"] = med(lambda u, r, e=e: u.dur(f"plans.{e}"))
        entry_spans = lambda u: [s for s in u.spans if s.name[len("plans."):] in SQL_ENTRIES]  # noqa: E731
        ej = lambda u: u.subtree_jobs(entry_spans(u))  # noqa: E731
        out["plans.jobs"] = med(lambda u, r: len(ej(u)))
        out["plans.tasks"] = med(lambda u, r: _sum(ej(u), "tasks"))
        out["plans.exec_cpu_s"] = med(lambda u, r: _sum(ej(u), "exec_cpu_s"))
        out["plans.gc_s"] = med(lambda u, r: _sum(ej(u), "gc_s"))
        out["plans.shuffle_write_bytes"] = med(lambda u, r: _sum(ej(u), "shuffle_write_bytes"))
        out["plans.input_bytes"] = med(lambda u, r: _sum(ej(u), "input_bytes"))
        out["plans.exec_cpu_share"] = med(lambda u, r: _sum(ej(u), "exec_cpu_s") / (r.unit_s * cpus))
        out["plans.busy_share"] = med(
            lambda u, r: sum(
                _union([(j.submitted, j.completed) for j in u.subtree_jobs([s])], s.start, s.end)
                for s in entry_spans(u)
            )
            / r.unit_s
        )
        for kind in ("view", "asof", "changes"):
            out[f"operators.staging.{kind}_read_s"] = med(lambda u, r, k=kind: u.dur(f"operators.staging.{k}_read"))
        out["operators.staging.view_input_bytes"] = med(
            lambda u, r: _sum(u.subtree_jobs(u.named("operators.staging.view_read")), "input_bytes")
        )
    return out


def refresh_tail(results, full_s: list[float]) -> dict:
    """Informational ELT figures from every timed cycle (traced or not).

    ``refresh_tail_s`` is the highest percentile with at least ten
    samples beyond it, by nearest rank; with fewer than eleven
    incremental cycles no such percentile exists and it is the maximum.
    ``late_early_ratio`` is the median of the last third of incremental
    refreshes over the median of the first third.  ``full_refresh_s`` is
    the median of the scheduled full refreshes after the timed loop (the
    cold initial load is left out)."""
    inc = [r.unit_s for r in results]
    out = {"plans.pipeline.full_refresh_s": _med(full_s)}
    if inc:
        ranked = sorted(inc)
        out["plans.pipeline.refresh_tail_s"] = ranked[-11] if len(ranked) >= 11 else ranked[-1]
        third = max(len(inc) // 3, 1)
        out["plans.pipeline.late_early_ratio"] = _med(inc[-third:]) / _med(inc[:third])
    return out
