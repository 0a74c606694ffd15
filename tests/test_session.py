"""Session factory: a session compiles each generated class once.

Spark's codegen cache defaults to 100 classes, fewer than one pass of the
analytics mix generates, so its LRU evicted every class before the next
pass reused it.  ``get_spark`` sizes the cache to the engine's working
set; the pinned counter is the JVM's codegen compile count.
"""

from __future__ import annotations

import pandas as pd

from perfbench.workloads import SQL_ENTRIES
from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
from priority_data_pipeline_postgres_db_spark.session import codegen_compiles


def test_second_analytics_pass_compiles_nothing(spark, sf_dir, tmp_path):
    """The analytics_mix benchmark's 8 SQL entries plus the staged view, time-travel and
    change-feed reads, run twice in one session: the second pass finds
    every generated class in the codegen cache (about 136 classes per
    pass; Spark's default 100-entry cache recompiled all of them)."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    wh = StagingWarehouse(spark, str(tmp_path / "wh"), account_id="t")
    wh.set_upsert_keys("accounts", ["acct"], "version")
    for b in range(4):
        pdf = pd.DataFrame(
            {
                "acct": [b, b + 1, b + 2],
                "status": ["open", "closed", "hold"],
                "balance": [1.0, 2.0, 3.0],
                "version": [b] * 3,
            }
        )
        wh.write(spark.createDataFrame(pdf), "accounts", incremental=True, batch_id=f"b{b}")
    snaps = wh.snapshots("accounts")
    frames = [lambda name=name: queries[name](spark, sf_dir) for name in SQL_ENTRIES] + [
        lambda: wh.read("accounts"),
        lambda: wh.read("accounts", as_of=snaps[1]),
        lambda: wh.table_changes("accounts", snaps[1], snaps[-1]),
    ]

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for frame in frames:
            frame().write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() == 0
