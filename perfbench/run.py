"""Benchmark entry point.

    python3 perfbench/run.py --workload elt_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root.  Each run is a fresh process with its own
directory under ``.perfbench_runs/`` (TMPDIR, SPARK_LOCAL_DIRS, the JVM
tmpdir, warehouse roots and checkpoints all live there) that is deleted
when the run ends, so no state crosses runs.  The environment is pinned
here, before Python or the JVM start; README.md lists every setting.
The last line of standard output is the run's JSON result.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 170  # the whole run must end within 180 s
PINNED = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "4g",
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "TZ": "UTC",
    "PYTHONHASHSEED": "0",
    "PYTHONDONTWRITEBYTECODE": "1",
}
SPARK_CONF = {
    # keep every job/stage/SQL execution of a run for the traced readout
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.showConsoleProgress": "false",
}


def _env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(PINNED)
    confs = " ".join(f"--conf {k}={v}" for k, v in SPARK_CONF.items())
    env.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" {confs} pyspark-shell'
            ),
        }
    )
    return env


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            fields = raw[raw.rfind(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap(pgid: int) -> None:
    """Kill whatever is left of the run's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        if not _group_alive(pgid):
            return
        time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt the model before the checks (self-tests)")
    args = ap.parse_args()

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--t0", repr(t0),
    ] + (["--tiny"] if args.tiny else []) + (["--corrupt"] if args.corrupt else [])
    # a SIGTERM to this process still reaps the run and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=_env(run_dir), stdout=subprocess.PIPE, start_new_session=True, text=True
    )
    try:
        out, _ = proc.communicate(timeout=max(RUN_TIMEOUT_S - (time.time() - t0), 1))
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        out, code = "", 1
    finally:
        _reap(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = os.path.dirname(run_dir)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    if code != 0:
        sys.stderr.write(out)
        return code or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
