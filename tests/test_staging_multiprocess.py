"""Cross-process staging-writer races (VERDICT r11 #3).

The thread battery (test_staging_concurrency.py) exercises the protocol
inside ONE CPython runtime; the contract's real adversary is a second
driver.  Here each writer is a real OS process with its own Python and
its own JVM SparkSession, coordinating only through the filesystem —
exactly a multi-driver production deployment in miniature.

Four scenarios run concurrently across 3 processes (2 appenders + 1
maintainer) against one warehouse root:

1. uncoordinated auto-id appenders on a shared table — every batch
   commits, nothing lost, duplicated, or littered;
2. all processes race the SAME explicit batch id — exactly-once (one
   counted commit, losers no-op at 0);
3. versioned upsert appends racing a compact() loop — the final logical
   view is latest-version-per-key over everything appended;
4. append-only batches racing an expire_snapshots() loop — content
   preserved exactly however the folds interleave.

The two remaining thread-battery scenarios (mtime fence, expiry rename
collision) stay in-process by nature: they pin CRASH-window convergence
via injected failures (monkeypatched os.replace), which requires
in-process control; their contested state (dir mtimes, deterministic
base ids) has no cross-process dimension beyond what scenario 4 drives.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse

WORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_mp_staging_worker.py")


def test_cross_process_writer_battery(spark, tmp_path):
    root, account = str(tmp_path), "mp"
    wh = StagingWarehouse(spark, root, account_id=account)

    def mkdf(lo, hi, ver=0):
        return spark.range(lo, hi).selectExpr(
            "id AS k", f"id * 10 + {ver} AS v", f"{ver} AS ver"
        )

    # pre-seed the contested tables from the parent driver (a THIRD
    # distinct SparkSession relative to the workers)
    wh.set_upsert_keys("live", ["k"], "ver")
    wh.write(mkdf(0, 50, ver=0), "live", incremental=True)
    for i in range(3):
        wh.write(mkdf(i * 10, i * 10 + 10), "ao", incremental=True)

    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1500m",
    )
    procs = []
    for idx, role in [(0, "appender"), (1, "appender"), (2, "maintainer")]:
        args = json.dumps(
            {"root": root, "account": account, "role": role, "idx": idx,
             "n_appenders": 2}
        )
        procs.append(
            subprocess.Popen(
                [sys.executable, WORKER, args],
                env=env,
                cwd=str(tmp_path),
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
        )
    results = {}
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, f"worker failed:\n{err[-3000:]}"
        line = next(l for l in out.splitlines() if l.startswith("RESULT "))
        r = json.loads(line[len("RESULT "):])
        results[r["idx"]] = r

    # scenario 1: all 4 auto-id batches committed, no loss, no litter
    got = sorted(r["k"] for r in wh.read("conc_t").collect())
    assert got == list(range(400))
    path = wh._path("conc_t")
    assert not [d for d in os.listdir(path) if d.startswith(".tmp-")]
    assert wh._snapshot_state(path)[0] == {
        d.split("=", 1)[1] for d in wh._listed(path)
    }

    # scenario 2: exactly-once across PROCESSES on the same batch id
    counts = sorted(results[i]["same_id"] for i in (0, 1))
    assert counts == [0, 200]
    assert wh.snapshots("same_id") == ["replay-1"]
    assert wh.read("same_id").count() == 200

    # scenario 3: compact loop ran against live appends; the logical
    # view is exactly latest-version-per-key (ver 6 everywhere)
    assert results[2]["compacts"] >= 2
    rows = {r["k"]: r["ver"] for r in wh.read("live").collect()}
    assert rows == {k: 6 for k in range(50)}

    # scenario 4: expiry folds raced appends; append-only content exact
    assert results[2]["expires"] >= 2
    got = sorted(r["k"] for r in wh.read("ao").collect())
    assert got == list(range(90))
