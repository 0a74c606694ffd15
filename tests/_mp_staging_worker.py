"""Cross-process staging-race worker (VERDICT r11 #3).

Launched by tests/test_staging_multiprocess.py as a REAL separate OS
process (own CPython, own JVM SparkSession): the thread battery in
test_staging_concurrency.py shares one CPython runtime, but the
contract's actual adversary is a second driver — this worker IS one.

Coordination is deliberately filesystem-only (sentinel files), since the
filesystem protocol is the thing under test.  Results are emitted as one
JSON line on stdout.

Usage: python tests/_mp_staging_worker.py '<json args>'
  args = {root, account, role: appender|maintainer, idx, n_appenders}
"""

from __future__ import annotations

import json
import os
import sys
import time


def _wait_for(paths: list[str], timeout: float = 300.0) -> None:
    t0 = time.time()
    while not all(os.path.exists(p) for p in paths):
        if time.time() - t0 > timeout:
            raise TimeoutError(f"sentinels never appeared: {paths}")
        time.sleep(0.1)


def main() -> None:
    args = json.loads(sys.argv[1])
    root, account, role, idx = (
        args["root"], args["account"], args["role"], args["idx"],
    )
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
    from priority_data_pipeline_postgres_db_spark.session import get_spark

    spark = get_spark(f"mp-worker-{idx}")
    spark.sparkContext.setLogLevel("ERROR")
    wh = StagingWarehouse(spark, root, account_id=account)

    def mkdf(lo, hi, ver=0):
        return spark.range(lo, hi).selectExpr(
            "id AS k", f"id * 10 + {ver} AS v", f"{ver} AS ver"
        )

    out: dict = {"idx": idx}
    done = os.path.join(root, f"done-{idx}")

    if role == "appender":
        # scenario 1: uncoordinated auto-id appends to a shared table
        for j in range(2):
            lo = (idx * 2 + j) * 100
            wh.write(mkdf(lo, lo + 100), "conc_t", incremental=True)
        # scenario 2: every process races the SAME explicit batch id
        out["same_id"] = wh.write(
            mkdf(0, 200), "same_id", incremental=True, batch_id="replay-1"
        ).records_written
        # scenario 3: versioned upsert appends racing a compactor
        for ver in range(idx * 3 + 1, idx * 3 + 4):
            wh.write(mkdf(0, 50, ver=ver), "live", incremental=True)
        # scenario 4: append-only batches racing an expirer
        for i in range(3 + idx * 3, 6 + idx * 3):
            wh.write(mkdf(i * 10, i * 10 + 10), "ao", incremental=True)
        open(done, "w").close()
    else:  # maintainer: compact + expire loops until appenders finish
        waits = [
            os.path.join(root, f"done-{i}") for i in range(args["n_appenders"])
        ]
        out["compacts"] = out["expires"] = 0
        while not all(os.path.exists(p) for p in waits):
            wh.compact("live")
            out["compacts"] += 1
            wh.expire_snapshots("ao", keep_last=2, reap_min_age_sec=0.0)
            out["expires"] += 1
        # one more full pass after the last append is visible
        wh.compact("live")
        wh.expire_snapshots("ao", keep_last=2, reap_min_age_sec=0.0)
        out["compacts"] += 1
        out["expires"] += 1

    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
