"""Driver-side cProfile of one registry entry's TIMED run.

The sf0.1 fixtures are small enough that the per-entry bench seconds are
dominated by the *number* of driver-blocking Spark actions (writes,
collects, counts, commits), not by bytes — exactly what a driver-side
profile exposes: every py4j round trip shows up as cumulative time under
the Python call that issued it.

    python scripts/profile_entry.py <entry> [--sf-dir DIR] [--top N]

Method matches bench.py: one warm-up execution (worker spin-up, codegen,
operator-internal fit memos), clearCache, then the profiled run through
the noop sink.  Prints the cumulative-time top table restricted to
package frames plus the raw total, and the timed run's codegen compile
count (``COMPILES=``: generated classes the run missed in Spark's codegen
cache).
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("entry")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=45)
    args = ap.parse_args()

    import __spark_entry__ as e
    from priority_data_pipeline_postgres_db_spark.session import codegen_compiles, get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{args.sf_dir}/orders.parquet").count()

    fn = e.queries()[args.entry]
    fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
    spark.catalog.clearCache()

    prof = cProfile.Profile()
    c0 = codegen_compiles(spark)
    t0 = time.time()
    prof.enable()
    fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
    prof.disable()
    wall = time.time() - t0
    compiles = codegen_compiles(spark) - c0

    buf = io.StringIO()
    st = pstats.Stats(prof, stream=buf)
    st.sort_stats("cumulative")
    st.print_stats(r"priority_data_pipeline|__spark_entry__", args.top)
    # and the blocking py4j/socket view: where the driver actually waits
    st.print_stats(r"socket|readinto|send_command", 8)
    print(buf.getvalue())
    print(f"WALL={wall:.3f}s COMPILES={compiles} entry={args.entry}")


if __name__ == "__main__":
    main()
