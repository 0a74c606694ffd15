"""One benchmark run inside one process: set up, warm up, time units
for ``--seconds``, check outputs, print one JSON line.

Started by ``run.py``, which pins the environment and owns the run's
private directory (the working directory of this process).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from .gen import EltSizes

# per-workload input sizes; ``--tiny`` is for the self-tests
SIZES = {
    "elt_refresh": {},
    "analytics_mix": {"n_orders": 30_000},
}
TINY = {
    "elt_refresh": {
        "sizes": EltSizes(
            events0=2_000, orders0=200, ctypes0=10, new_events=100, upd_events=100,
            overlap_events=10, new_orders=10, upd_orders=5, overlap_orders=2,
        )
    },
    "analytics_mix": {"n_orders": 2_000, "n_batches": 4, "batch_rows": 200},
}


def _heap_peak_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            peak += pool.getPeakUsage().getUsed()
    return peak / 2**20


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, default=None, help="epoch seconds the benchmark process started")
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true", help="self-test: corrupt the model before the checks")
    args = ap.parse_args(argv)
    t0 = args.t0 or time.time()

    from priority_data_pipeline_postgres_db_spark.session import default_parallelism, get_spark

    from .layers import per_layer
    from .trace import Tracer, read_jobs
    from .workloads import WORKLOADS, Ctx

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # executors up
    t_session = time.time()

    tracer = Tracer(spark, enabled=bool(args.trace))
    ctx = Ctx(spark, os.getcwd(), args.seed, tracer)
    wl = WORKLOADS[args.workload](ctx, **(TINY if args.tiny else SIZES)[args.workload])
    wl.register(tracer)
    wl.inputs()
    t_inputs = time.time()
    wl.state()
    t_state = time.time()
    for i in range(wl.warmup):
        _guarded(ctx, lambda: wl.unit(-1 - i, False), f"unit {-1 - i}")
    t_warm = time.time()

    # Closed loop over a fixed number of units: --seconds divided by the
    # workload's nominal unit length.  The JVM keeps getting faster for
    # several units after warm-up, so a time-bounded loop would put runs
    # of the same code on different points of that curve (and time more,
    # warmer units for a faster program); a fixed count compares like
    # with like.
    results = []
    for i in range(max(3, round(args.seconds / wl.nominal_unit_s))):
        traced = i % 2 == 0  # a traced run alternates, giving its own overhead
        with tracer.unit(i, traced) as win:
            res = _guarded(ctx, lambda: wl.unit(i, win.traced), f"unit {i}")
        if res is not None:
            results.append(res)
        else:
            tracer.units.pop()

    _guarded(ctx, wl.final, "final unit")
    if args.corrupt:
        wl.corrupt()
    wl.check()
    for msg in ctx.failures:
        print(f"FAILED: {msg}", file=sys.stderr)
    if args.trace:
        setup = {
            "session.start_s": t_session - t0,
            "session.inputs_s": t_inputs - t_session,
            "session.state_s": t_state - t_inputs,
            "session.warmup_s": t_warm - t_state,
            "session.heap_peak_mb": _heap_peak_mb(spark),
        }
        metrics = per_layer(wl, results, tracer, read_jobs(spark), setup, default_parallelism())
        from .layers import CATALOGUE

        units = dict(CATALOGUE)
    else:
        metrics = {
            "setup_s": t_warm - t0,
            "unit_p50_s": statistics.median(r.unit_s for r in results),
            "cycle_p50_s": statistics.median(r.cycle_s for r in results),
        }
        units = {k: "s" for k in metrics}
    print(
        "units timed:",
        [(round(r.unit_s, 3), round(r.cycle_s, 3)) for r in results],
        {k: round(v, 4) for k, v in metrics.items() if v},
        file=sys.stderr,
    )
    out = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def _guarded(ctx, fn, label: str):
    """A unit that raises counts as failed; the run goes on."""
    try:
        return fn()
    except Exception as ex:  # noqa: BLE001 — counted in fail_ratio, reported
        ctx.attempted += 1
        ctx.fail(f"{label}: {type(ex).__name__}: {ex}")
        traceback.print_exc(file=sys.stderr)
        return None


if __name__ == "__main__":
    code = main()
    sys.stderr.flush()
    # skip the JVM's orderly shutdown: run.py kills and reaps the process
    # group and deletes the run directory, and the result is printed
    os._exit(code)
