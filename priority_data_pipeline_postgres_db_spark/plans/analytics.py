"""Advanced analytics operators beyond the reference's own surface
(SURVEY.md §2.7 'free in Spark' rows, made concrete and oracle-checked):
cube/rollup, pivot, as-of join, set ops, approximate aggregates.

Determinism: same exact-decimal-sum→double discipline as plans.queries;
the as-of join uses the union+window formulation on BOTH sides (DuckDB's
native ASOF JOIN breaks ties arbitrarily, so the oracle runs the identical
deterministic algorithm instead).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .queries import as_double, dec
from .tables import load


def q_cube_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the region/nation dims: every rollup level in one pass
    (grouping-set expansion happens map-side; one shuffle)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    joined = orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
    return joined.cube("r_name", "n_name").agg(
        F.count("*").alias("n_orders"),
        as_double(F.sum(dec("o_totalprice"))).alias("sum_totalprice"),
    )


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (explicit value list keeps the plan
    single-pass; an implicit pivot would first scan for distinct values)."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(as_double(F.sum(dec("l_quantity"))))
    )
    return out.select(
        "l_returnflag", F.col("F").alias("qty_f"), F.col("O").alias("qty_o")
    )


def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2.3): for each
    event, the latest order of the same key with o_orderdate <= ts.

    Union-and-window formulation: tag both streams, sort within key by
    (time, tag, orderkey), carry the last non-null order id forward.  One
    shuffle on the key, no range cross-product — this is the scalable
    batch as-of (applyInPandas+merge_asof would move all rows through
    Python; the window stays JVM-side).  Ties among orders at the same
    timestamp resolve to the highest o_orderkey — deterministic, which is
    also why the oracle uses this same algorithm instead of DuckDB's
    native ASOF JOIN (arbitrary tie-break).
    """
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
    )
    events = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(1).alias("is_event"),
        "event_id",
    )
    merged = orders.unionByName(events)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", F.coalesce("o_orderkey", F.lit(-1)))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_asof = merged.withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
    return (
        with_asof.filter(F.col("is_event") == 1)
        .select("event_id", F.col("k").alias("user_id"), "asof_orderkey")
    )


def set_except_high_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: line items minus the high-quantity subset."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    hi = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber")
    )
    return li.exceptAll(hi)


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct vs exact (rows-only: HLL sketches are
    engine-specific). At 100 TB the approximate path is the only one that
    avoids a full shuffle of the distinct keys."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


QUERIES = {
    "q_cube_region_nation": q_cube_region_nation,
    "q_pivot_returnflag": q_pivot_returnflag,
    "j_asof_join": j_asof_join,
    "set_except_high_qty": set_except_high_qty,
    "q_approx_distinct": q_approx_distinct,
}

ORACLE = {
    "q_cube_region_nation": """
        SELECT r_name, n_name, count(*) AS n_orders,
          CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sum_totalprice
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE (r_name, n_name)
    """,
    "q_pivot_returnflag": """
        SELECT l_returnflag,
          CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F'), 4) AS DECIMAL(18,4)) AS DOUBLE) AS qty_f,
          CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O'), 4) AS DECIMAL(18,4)) AS DOUBLE) AS qty_o
        FROM lineitem GROUP BY l_returnflag
    """,
    "j_asof_join": """
        WITH merged AS (
          SELECT o_custkey AS k, o_orderdate AS t, o_orderkey,
                 0 AS is_event, CAST(NULL AS BIGINT) AS event_id
          FROM orders
          UNION ALL
          SELECT user_id AS k, ts AS t, CAST(NULL AS BIGINT) AS o_orderkey,
                 1 AS is_event, event_id
          FROM events
        ), carried AS (
          SELECT *,
            last_value(o_orderkey IGNORE NULLS) OVER (
              PARTITION BY k
              ORDER BY t, is_event, coalesce(o_orderkey, -1)
              ROWS UNBOUNDED PRECEDING
            ) AS asof_orderkey
          FROM merged
        )
        SELECT event_id, k AS user_id, asof_orderkey
        FROM carried WHERE is_event = 1
    """,
    "set_except_high_qty": """
        SELECT l_orderkey, l_linenumber FROM lineitem
        EXCEPT ALL
        SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 25
    """,
    # q_approx_distinct: rows-only (sketches differ between engines)
}


def k1_dedup_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once incremental semantics as a query (SURVEY.md §7 M3):
    a full batch and an overlapping incremental batch are appended, then
    the PK-dedup guard keeps exactly the newest row per key — closing the
    reference's silent duplicate-append gap. One window over the PK."""
    from ..plans.pipeline import dedup_append_by_pk

    ev = load(spark, sf_dir, "events")
    full = ev.filter(F.col("ts") < "2024-01-20").withColumn("batch", F.lit(1))
    # overlap: the incremental batch re-delivers everything after the 10th
    inc = ev.filter(F.col("ts") >= "2024-01-10").withColumn("batch", F.lit(2))
    appended = full.unionByName(inc)
    return dedup_append_by_pk(appended, ["event_id"], "batch")


QUERIES["k1_dedup_append"] = k1_dedup_append

ORACLE["k1_dedup_append"] = """
    WITH appended AS (
      SELECT *, 1 AS batch FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      UNION ALL
      SELECT *, 2 AS batch FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    )
    SELECT event_id, ts, user_id, event_type, value, props, batch FROM (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY batch DESC) AS rn
      FROM appended
    ) WHERE rn = 1
"""


def _staged_three_batches(spark: SparkSession, sf_dir: str, table: str):
    """Shared fixture for the time-travel / schema-evolution entries:
    three incremental event batches land in a throwaway warehouse, the
    THIRD adding a column (schema evolution).  The root is a fresh
    ``mkdtemp`` per call (ADVICE r5: a fixed shared path raced between
    concurrent sessions — one could read the other's half-built
    warehouse).  No eager cleanup: the returned DataFrame reads the
    directory lazily, so the path must outlive this call — same
    contract as the streaming checkpoint dirs."""
    from ..util import scratch_dir

    from ..operators.staging import StagingWarehouse

    root = scratch_dir(f"spark_graft_{table}_")
    wh = StagingWarehouse(spark, root)
    ev = load(spark, sf_dir, "events")
    b1 = ev.filter(F.col("ts") < "2024-01-10")
    b2 = ev.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20"))
    b3 = ev.filter(F.col("ts") >= "2024-01-20").withColumn("extra", F.lit("x"))
    wh.write(b1, table, incremental=True, batch_id="b1")
    wh.write(b2, table, incremental=True, batch_id="b2")
    wh.write(b3, table, incremental=True, batch_id="b3")
    return wh


def k1_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel under the hash gate (VERDICT r4 #8): three committed
    batches, read ``as_of`` the second — the result must be EXACTLY the
    first two batches, with the third (and its added column) invisible.
    The batch cutoff is a partition-column predicate, so excluded
    batches prune at file listing (cf. staging.StagingWarehouse.read)."""
    wh = _staged_three_batches(spark, sf_dir, "events_tt")
    return wh.read("events_tt", as_of="b2").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def k1_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under the hash gate (VERDICT r4 #8): the full
    read after a batch added a column returns the MERGED schema — the
    new column present, null-filled for pre-evolution batches (the
    mergeSchema contract; without it Spark silently picks one batch's
    footer as THE schema and the column vanishes)."""
    wh = _staged_three_batches(spark, sf_dir, "events_se")
    return wh.read("events_se").select(
        "event_id", "ts", "user_id", "event_type", "value", "extra"
    )


QUERIES["k1_time_travel_read"] = k1_time_travel_read
QUERIES["k1_schema_evolution_read"] = k1_schema_evolution_read

# oracles replay the same batch construction straight from the source
# parquet: as_of=b2 ≡ the first two batches' predicate; the evolved
# column is 'x' exactly where batch 3 wrote it and NULL elsewhere
ORACLE["k1_time_travel_read"] = """
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
"""

ORACLE["k1_schema_evolution_read"] = """
    SELECT event_id, ts, user_id, event_type, value,
           CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'x' END AS extra
    FROM events
"""


def k1_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry under the hash gate (r9): three committed batches,
    retention keep_last=1 — b1 and b2 fold into ONE retention base (the
    table exactly as-of horizon b2) and their dirs are deleted; b3 stays
    individually addressable.  The returned frame is the as_of="b2" read
    AFTER expiry, which must be bit-identical to the same read before it
    (the base substitutes for the expired batches transparently); an
    as_of below the horizon now raises SnapshotExpiredError instead of
    silently lying (tests/test_staging.py pins that and the crash-window
    visibility rules)."""
    wh = _staged_three_batches(spark, sf_dir, "events_exp")
    wh.expire_snapshots("events_exp", keep_last=1)
    return wh.read("events_exp", as_of="b2").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


QUERIES["k1_snapshot_expiry"] = k1_snapshot_expiry

# identical to the time-travel oracle by design: expiry must not change
# any still-addressable snapshot
ORACLE["k1_snapshot_expiry"] = """
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
"""


def k1_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering rewrite + the 2-D range scan it exists for
    (r9): land events in a throwaway warehouse, rewrite_clustered along
    the Morton curve over (user_id, event_id), then read back with a
    range predicate on BOTH dims.  The result is content-identical to
    the plain filter (the oracle checks exactly that — clustering is a
    pure layout property); the LAYOUT claim (every file covers a small
    z-range, so min/max footer pruning skips most files for this scan)
    is pinned separately in tests/test_staging.py with measured
    touched-file counts vs an unclustered rewrite."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_zorder_"))
    ev = load(spark, sf_dir, "events")
    wh.write(ev, "events_z", incremental=False)
    wh.rewrite_clustered("events_z", zorder_by=["user_id", "event_id"])
    return (
        wh.read("events_z")
        .filter(
            F.col("user_id").between(40, 70) & F.col("event_id").between(2000, 5000)
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


QUERIES["k1_zorder_scan"] = k1_zorder_scan

ORACLE["k1_zorder_scan"] = """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 40 AND 70 AND event_id BETWEEN 2000 AND 5000
"""


def k1_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping under the hash gate (r13 — operators/
    stats.py): orders land in three committed batches split by total-
    price band, each batch carrying a min/max sidecar aggregated from
    its parquet footers at commit time; ``read(where=...)`` prunes the
    disproved batches FROM THE FILE LISTING (manifest-level skipping —
    one sidecar read per batch instead of a footer pass over every
    file; the pruning itself is pinned by touched-file counts in
    tests/test_staging_stats.py) while the always-applied residual
    filter keeps the result bit-identical to the plain filtered scan
    the oracle replays."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_zonemap_"))
    od = load(spark, sf_dir, "orders")
    wh.write(od.filter(F.col("o_totalprice") < 100000), "orders_zm",
             incremental=True, batch_id="b1")
    wh.write(od.filter((F.col("o_totalprice") >= 100000)
                       & (F.col("o_totalprice") < 200000)), "orders_zm",
             incremental=True, batch_id="b2")
    wh.write(od.filter(F.col("o_totalprice") >= 200000), "orders_zm",
             incremental=True, batch_id="b3")
    return (
        wh.read(
            "orders_zm",
            where=[
                ("o_totalprice", ">=", 150000.0),
                ("o_orderpriority", "in", ["1-URGENT", "2-HIGH"]),
            ],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(
                "CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)"
                " AS DECIMAL(18,4)) AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


QUERIES["k1_stats_pruned_read"] = k1_stats_pruned_read

ORACLE["k1_stats_pruned_read"] = """
    SELECT o_orderpriority, count(*) AS n_orders,
      CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
        AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_totalprice >= 150000.0
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
"""


def j_dynamic_file_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic file pruning under the hash gate (r13 —
    stats.join_prune_conjunct): for an inner equi-join whose dim side is
    small, the dim's key set is collected (bounded by ``max_in``) into a
    zone-map conjunct on the fact key, so fact batches/files provably
    disjoint from the dim never reach the file listing — the
    Databricks-DFP / Iceberg-runtime-filter move on the batch-commit
    protocol.  Orders land in three custkey-banded batches; the dim is
    a nation + balance slice of customer; the result must be
    bit-identical to the plain join the oracle replays (the conjunct is
    a superset filter for an inner join).  Key-aligned pruning is
    pinned by touched-file counts in tests/test_staging_stats.py."""
    from ..operators.staging import StagingWarehouse
    from ..operators.stats import join_prune_conjunct
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_dfp_"))
    od = load(spark, sf_dir, "orders")
    wh.write(od.filter(F.col("o_custkey") < 500), "orders_dfp",
             incremental=True, batch_id="b1")
    wh.write(od.filter((F.col("o_custkey") >= 500)
                       & (F.col("o_custkey") < 1000)), "orders_dfp",
             incremental=True, batch_id="b2")
    wh.write(od.filter(F.col("o_custkey") >= 1000), "orders_dfp",
             incremental=True, batch_id="b3")
    dim = load(spark, sf_dir, "customer").filter(
        (F.col("c_nationkey") == 3) & (F.col("c_acctbal") > 9000.0)
    )
    cj = join_prune_conjunct(dim, "c_custkey", "o_custkey")
    fact = wh.read("orders_dfp", where=[cj])
    return (
        fact.join(
            F.broadcast(dim.select("c_custkey")),
            fact["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(
                "CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)"
                " AS DECIMAL(18,4)) AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


QUERIES["j_dynamic_file_prune"] = j_dynamic_file_prune

ORACLE["j_dynamic_file_prune"] = """
    SELECT c_custkey, count(*) AS n_orders,
      CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
        AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    WHERE c_nationkey = 3 AND c_acctbal > 9000.0
    GROUP BY c_custkey
"""


def k1_expectations_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path data-quality gates under the hash gate (r13 —
    staging._split_expectations, the DLT-expectations move on the
    batch-commit protocol): events land through three rules — a
    ``value_cap`` quarantine (the heavy value tail diverts to the
    ``__quarantine`` twin, committed before the main batch), a
    ``known_type`` drop, and a ``has_user`` fail rule that passes.  The
    result reconciles both sinks per event type: valid count from the
    main table, quarantined count from the twin — and must equal the
    oracle's single-scan FILTER split of the raw source (no row lost,
    none double-counted)."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_dq_"))
    ev = load(spark, sf_dir, "events")
    wh.write(
        ev, "events_dq", incremental=True, batch_id="b1",
        expectations=[
            ("value_cap", "value <= 200.0", "quarantine"),
            ("known_type",
             "event_type IN ('signup','error','click','view','purchase')",
             "drop"),
            ("has_user", "user_id IS NOT NULL", "fail"),
        ],
    )
    valid = (
        wh.read("events_dq")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_valid"))
    )
    quar = (
        wh.read("events_dq__quarantine")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_quarantined"))
    )
    return (
        valid.join(quar, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_valid", F.lit(0)).alias("n_valid"),
            F.coalesce("n_quarantined", F.lit(0)).alias("n_quarantined"),
        )
    )


QUERIES["k1_expectations_ingest"] = k1_expectations_ingest

ORACLE["k1_expectations_ingest"] = """
    SELECT event_type,
           count(*) FILTER (WHERE value <= 200.0) AS n_valid,
           count(*) FILTER (WHERE NOT (value <= 200.0)) AS n_quarantined
    FROM events
    GROUP BY event_type
"""


def k1_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE under the hash gate (r13 —
    staging.delete_rows): orders land in three price-banded batches,
    a DELETE keyed on a band inside ONE batch rewrites only that batch
    (the zone maps prove the other two predicate-free — pinned by
    byte-identity in tests/test_delete_rows.py), and the table
    afterwards equals the oracle's anti-filter of the raw source —
    including the NULL-keeps-row SQL DELETE rule."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_del_"))
    od = load(spark, sf_dir, "orders")
    wh.write(od.filter(F.col("o_totalprice") < 100000), "orders_del",
             incremental=True, batch_id="b1")
    wh.write(od.filter((F.col("o_totalprice") >= 100000)
                       & (F.col("o_totalprice") < 200000)), "orders_del",
             incremental=True, batch_id="b2")
    wh.write(od.filter(F.col("o_totalprice") >= 200000), "orders_del",
             incremental=True, batch_id="b3")
    rep = wh.delete_rows(
        "orders_del",
        [("o_totalprice", "between", (120000.0, 150000.0)),
         ("o_orderpriority", "==", "3-MEDIUM")],
    )
    assert rep["batches_untouched"] >= 2, rep  # b1/b3 provably disjoint
    return (
        wh.read("orders_del")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(
                "CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)"
                " AS DECIMAL(18,4)) AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


QUERIES["k1_delete_rows"] = k1_delete_rows

ORACLE["k1_delete_rows"] = """
    SELECT o_orderpriority, count(*) AS n_orders,
      CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
        AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
    FROM orders
    WHERE NOT (o_totalprice BETWEEN 120000.0 AND 150000.0
               AND o_orderpriority = '3-MEDIUM')
    GROUP BY o_orderpriority
"""


def k1_update_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE under the hash gate (r13 —
    staging.update_rows): same three price-banded batches as the DELETE
    twin; an UPDATE re-prices one band inside one batch (the zone maps
    leave the other two byte-identical; file-level carry pinned in
    tests/test_delete_rows.py), and the table afterwards equals the
    oracle's CASE expression over the raw source — the SQL-UPDATE
    semantics including NULL-leaves-row-untouched."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_upd_"))
    od = load(spark, sf_dir, "orders")
    wh.write(od.filter(F.col("o_totalprice") < 100000), "orders_upd",
             incremental=True, batch_id="b1")
    wh.write(od.filter((F.col("o_totalprice") >= 100000)
                       & (F.col("o_totalprice") < 200000)), "orders_upd",
             incremental=True, batch_id="b2")
    wh.write(od.filter(F.col("o_totalprice") >= 200000), "orders_upd",
             incremental=True, batch_id="b3")
    rep = wh.update_rows(
        "orders_upd",
        [("o_totalprice", "between", (120000.0, 150000.0))],
        {"o_orderstatus": "'R'"},
    )
    assert rep["batches_untouched"] >= 2, rep
    return (
        wh.read("orders_upd")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(
                "CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)"
                " AS DECIMAL(18,4)) AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


QUERIES["k1_update_rows"] = k1_update_rows

ORACLE["k1_update_rows"] = """
    SELECT CASE WHEN o_totalprice BETWEEN 120000.0 AND 150000.0
                THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
           count(*) AS n_orders,
      CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
        AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1
"""


def k1_maintain_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hands-free warehouse maintenance turn under the hash gate
    (r13 — staging.maintain_table, the table twin of the ANN
    ``maintain_index`` loop): six event batches land under a
    (user_id ← event_id) upsert contract, one turn compacts the deep
    history (6 batches → 1), the next turn is a no-op — and the
    logical table is IDENTICAL through both turns to the latest-per-
    user window the oracle computes from the raw source.  Maintenance
    is a pure layout property; the gate pins exactly that."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_mturn_"))
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wh.set_upsert_keys("user_state", ["user_id"], "event_id")
    for i in range(6):
        wh.write(ev.filter(F.col("event_id") % 6 == i), "user_state",
                 incremental=True, batch_id=f"b{i}")
    t1 = wh.maintain_table("user_state", compact_after=4)
    t2 = wh.maintain_table("user_state", compact_after=4)
    assert t1["action"] == "compact" and t2["action"] == "none", (t1, t2)
    return wh.read("user_state").select(
        "user_id", "event_id", "event_type", "value"
    )


QUERIES["k1_maintain_turns"] = k1_maintain_turns

ORACLE["k1_maintain_turns"] = """
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
"""


def k1_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed under the hash gate (r9): three event batches
    land under a (user_id, event_id) upsert contract — each snapshot is
    'latest event per user' — and ``table_changes(b1 → b3)`` must emit
    exactly the users whose state appeared (insert) or moved
    (update_postimage) after the first batch, carrying the post-image.
    Derived CDF: two time-travel reads + one pk join, no change log."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_cdf_"))
    ev = load(spark, sf_dir, "events")
    wh.write(ev.filter(F.col("ts") < "2024-01-10"), "user_state",
             incremental=True, batch_id="b1")
    wh.write(ev.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")),
             "user_state", incremental=True, batch_id="b2")
    wh.write(ev.filter(F.col("ts") >= "2024-01-20"), "user_state",
             incremental=True, batch_id="b3")
    wh.set_upsert_keys("user_state", ["user_id"], "event_id")
    return wh.table_changes("user_state", "b1", "b3").select(
        "user_id", "_change_type", "event_id", "event_type", "value"
    )


QUERIES["k1_table_changes"] = k1_table_changes

# twin: the two snapshot states as latest-per-user windows over the same
# batch predicates, diffed on the pk with the order column
ORACLE["k1_table_changes"] = """
    WITH olds AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
                 AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
      ) WHERE rn = 1
    ), news AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
                 AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT n.user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                ELSE 'update_postimage' END AS _change_type,
           n.event_id, n.event_type, n.value
    FROM news n LEFT JOIN olds o USING (user_id)
    WHERE o.user_id IS NULL OR n.event_id != o.event_id
"""


def k1_table_changes_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only change data feed under the hash gate (r10, VERDICT r9
    #6): the raw event stream lands in three immutable batches with NO
    upsert contract — the reference's own append-mode staging shape
    (priorityDataSource.py:884 ``if_exists='append'``) — and
    ``table_changes(b1 → b3)`` must emit exactly the rows of the batches
    committed after b1, every one an ``insert``.  The batch-id watermark
    diff is a partition-column predicate: the scan prunes to the new
    batches at file listing, no join, no shuffle, no change log — cost
    proportional to the new data.  Composes with the keyed CDC apply
    (``stream_cdc_upsert``) for end-to-end capture → apply; pinned in
    tests/test_staging.py."""
    from ..operators.staging import StagingWarehouse
    from ..util import scratch_dir

    wh = StagingWarehouse(spark, scratch_dir("spark_graft_cdfa_"))
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    wh.write(ev.filter(F.col("ts") < "2024-01-10"), "raw_events",
             incremental=True, batch_id="b1")
    wh.write(ev.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")),
             "raw_events", incremental=True, batch_id="b2")
    wh.write(ev.filter(F.col("ts") >= "2024-01-20"), "raw_events",
             incremental=True, batch_id="b3")
    return wh.table_changes("raw_events", "b1", "b3")


QUERIES["k1_table_changes_append"] = k1_table_changes_append

# twin: the feed is exactly the rows of batches b2+b3 (ts-partitioned
# by construction above), all inserts
ORACLE["k1_table_changes_append"] = """
    SELECT event_id, ts, user_id, event_type, value,
           'insert' AS _change_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions (SURVEY.md §2.7 row): parse the events.props
    JSON payload and aggregate on an extracted field. from_json with an
    explicit schema stays codegen-friendly (schema inference would scan)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_id", "event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API surface: identical Catalyst plan whether declared via
    DataFrame calls or spark.sql over registered views."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4)
                 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY o_orderpriority
        """
    )


QUERIES["q_json_extract"] = q_json_extract
QUERIES["q_sql_api_revenue"] = q_sql_api_revenue

ORACLE["q_json_extract"] = """
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY event_type
"""

ORACLE["q_sql_api_revenue"] = """
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
             * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: 5-way join (lineitem ⋈ part ⋈ supplier ⋈ orders ⋈
    nation) → profit by nation × order year. part/supplier/nation broadcast;
    the lineitem⋈orders fact join is the only shuffle that grows with SF."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    amount = (
        dec("l_extendedprice", 4, 12) * (F.lit(1).cast("decimal(8,4)") - dec("l_discount", 4, 8))
        - dec("l_quantity", 4, 12) * dec("p_retailprice", 4, 12)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(as_double(F.sum(amount)).alias("sum_profit"))
    )


QUERIES["q9_product_profit"] = q9_product_profit

ORACLE["q9_product_profit"] = """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      CAST(CAST(ROUND(SUM(
        CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
        - CAST(l_quantity AS DECIMAL(12,4)) * CAST(p_retailprice AS DECIMAL(12,4))
      ), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%a%'
    GROUP BY n_name, year(o_orderdate)
"""


def j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface (EXISTS / NOT EXISTS): customers partitioned
    by whether they have any order. Both are broadcast-able one-sided
    joins — no row multiplication, the scalable existence check."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        with_orders.select("c_custkey", F.lit("active").alias("segment"))
        .unionByName(without.select("c_custkey", F.lit("dormant").alias("segment")))
    )


def o_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running/rank window battery over one shuffle: cumulative spend,
    order rank, and previous order gap per customer."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = F.sum(dec("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        as_double(running).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who bought in both 1996 and 1999."""
    orders = load(spark, sf_dir, "orders")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y99 = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return y96.intersect(y99)


QUERIES["j_semi_anti"] = j_semi_anti
QUERIES["o_window_running"] = o_window_running
QUERIES["set_intersect_buyers"] = set_intersect_buyers

ORACLE["j_semi_anti"] = """
    SELECT c_custkey, 'active' AS segment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, 'dormant' AS segment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

ORACLE["o_window_running"] = """
    SELECT o_orderkey, o_custkey,
      CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS UNBOUNDED PRECEDING), 4) AS DECIMAL(18,4)) AS DOUBLE) AS running_spend,
      CAST(row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq,
      lag(o_orderkey) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
    FROM orders
"""

ORACLE["set_intersect_buyers"] = """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
"""


# ---------------------------------------------------------------------------
# Catalyst subquery-rewrite battery: correlated EXISTS (q4-shape), outer-join
# distribution (q13-shape), correlated scalar subqueries (q17-shape), and a
# scalar-subquery HAVING share (q11-shape).  These pin the decorrelation /
# semi-join rewrites a BI user leans on; arithmetic stays engine-exact
# (integer or decimal) per the cross-engine determinism rules in SCALE.md.
# ---------------------------------------------------------------------------


def q4_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS shape (TPC-H q4): 1996 orders with at least one
    line shipped after the order date, counted per priority.  The
    DataFrame formulation is the rewrite Catalyst would produce from
    EXISTS — a left-semi hash join on the equi key with the non-equi
    predicate as a join residual (no row multiplication, one shuffle)."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join distribution (TPC-H q13): orders-per-customer histogram
    including zero-order customers.  The filter lives in the JOIN
    CONDITION (not a WHERE, which would turn the outer join inner) —
    the classic left-outer + double-aggregation shape."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderstatus")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q17_small_qty_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (TPC-H q17): value of Brand#1
    lines with below-half-average quantity for their part.

    Spark-first plan: the naive correlated SQL (kept as the oracle)
    decorrelates into TWO per-part aggregates over the FULL lineitem —
    three scans (Catalyst's scalar-subquery merge doesn't combine
    correlated twins).  Instead: broadcast the brand-filtered parts FIRST
    (a part has one brand, so every line of a qualifying part survives),
    then take per-part cnt/sum as window aggregates — ONE lineitem scan
    and one shuffle sized by the brand's lines only, identical result.

    The avg comparison is multiplied out to integer space
    (2·q·cnt < sum) — quantities are integer-valued, so the filter is
    bit-exact in both engines; the value sum uses the exact-decimal
    money discipline."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    brand_lines = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey).select(
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        F.count("*").over(w).alias("_cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).over(w).alias("_sum_qty"),
    )
    small = brand_lines.filter(
        (F.col("l_quantity") * 2).cast("bigint") * F.col("_cnt") < F.col("_sum_qty")
    )
    return small.agg(
        F.count("*").alias("n_lines"),
        as_double(F.sum(dec("l_extendedprice", precision=18))).alias("small_qty_value"),
    )


def q11_acctbal_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery HAVING shape (TPC-H q11): nations holding more
    than 1/25 of global account balance.  The global total is a 1-row
    broadcast cross join (what Catalyst rewrites an uncorrelated scalar
    subquery into); the share test multiplies out (sum·25 > total) so
    the comparison stays in exact decimals — no division."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    per_nation = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(dec("c_acctbal", precision=18)).alias("_bal"))
    )
    total = per_nation.agg(F.sum("_bal").alias("_total"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("_bal") * 25 > F.col("_total"))
        .select("n_name", as_double(F.col("_bal")).alias("acctbal_sum"))
    )


QUERIES["q4_late_ship_priority"] = q4_late_ship_priority
QUERIES["q13_order_distribution"] = q13_order_distribution
QUERIES["q17_small_qty_value"] = q17_small_qty_value
QUERIES["q11_acctbal_share"] = q11_acctbal_share

ORACLE["q4_late_ship_priority"] = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
"""

ORACLE["q13_order_distribution"] = """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    ) GROUP BY c_count
"""

ORACLE["q17_small_qty_value"] = """
    SELECT count(*) AS n_lines,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS small_qty_value
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND CAST(l_quantity * 2 AS BIGINT) *
          (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
        < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
             FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
"""

ORACLE["q11_acctbal_share"] = """
    WITH per_nation AS (
      SELECT n_name, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name,
           CAST(CAST(ROUND(bal, 4) AS DECIMAL(18,4)) AS DOUBLE) AS acctbal_sum
    FROM per_nation
    WHERE bal * 25 > (SELECT SUM(bal) FROM per_nation)
"""


# ---------------------------------------------------------------------------
# column profiling (data-quality report)
# ---------------------------------------------------------------------------


def profile(df: DataFrame, cols: list[tuple[str, Column]]) -> DataFrame:
    """Per-column data-quality profile in ONE scan: non-null count, exact
    distinct count, min/max (stringified via the caller's normalizing
    expression so the report schema is column-type-agnostic; min/max order
    is over that string — the report convention, mirrored in the oracle).

    Melt-first shape: each row explodes to narrow (col_name, raw, norm)
    pairs, pre-aggregated per distinct value, then rolled up per column —
    two shuffles of (value-cardinality)-sized data.  This beats N exact
    COUNT(DISTINCT)s in one wide agg, which would Expand every full-width
    row N+1× (measured 3× slower at sf0.1 and worse with scale: partial
    aggregation absorbs hot values map-side here, and no wide rows ride
    the shuffle).  Distinctness is judged on the RAW value (exact string
    round-trip), not the normalized form — two doubles that agree at
    scale 4 still count separately, matching COUNT(DISTINCT col)."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("col_name"),
                        F.col(name).cast("string").alias("raw"),
                        norm.alias("norm"),
                    )
                    for name, norm in cols
                ]
            )
        ).alias("p")
    ).select("p.col_name", "p.raw", "p.norm")
    per_val = pairs.groupBy("col_name", "raw").agg(
        F.count("*").alias("c"), F.min("norm").alias("norm")
    )
    return per_val.groupBy("col_name").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(F.col("raw").isNotNull(), F.col("c")).otherwise(0)).alias(
            "n_nonnull"
        ),
        F.count(F.when(F.col("raw").isNotNull(), 1)).alias("n_distinct"),
        F.min("norm").alias("min_val"),
        F.max("norm").alias("max_val"),
    )


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders-table profile: the pre-load sanity report an ELT run
    emits before staging (null rate, key cardinality, value ranges)."""
    orders = load(spark, sf_dir, "orders")
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    return profile(
        orders,
        [
            ("o_orderkey", s("o_orderkey")),
            ("o_custkey", s("o_custkey")),
            ("o_orderstatus", s("o_orderstatus")),
            ("o_totalprice", F.col("o_totalprice").cast("decimal(18,4)").cast("string")),
            ("o_orderdate", s("o_orderdate")),
            ("o_orderpriority", s("o_orderpriority")),
        ],
    )


QUERIES["q_profile_orders"] = q_profile_orders

_PROFILE_COLS = [
    ("o_orderkey", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "CAST({c} AS VARCHAR)"),
    ("o_totalprice", "CAST(CAST({c} AS DECIMAL(18,4)) AS VARCHAR)"),
    ("o_orderdate", "CAST({c} AS VARCHAR)"),
    ("o_orderpriority", "CAST({c} AS VARCHAR)"),
]

ORACLE["q_profile_orders"] = " UNION ALL ".join(
    f"""
    SELECT '{name}' AS col_name,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
           CAST(count({name}) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct,
           min({expr.format(c=name)}) AS min_val,
           max({expr.format(c=name)}) AS max_val
    FROM orders
    """
    for name, expr in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# event analytics: funnel + cohort retention
# ---------------------------------------------------------------------------


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (signup → click → purchase): users who
    completed each stage strictly AFTER the previous one.

    Single-shuffle shape: all three stage timestamps are unordered-frame
    window minima over the SAME user partition (each referencing the
    previous stage's column), so Catalyst plans ONE exchange on user_id
    and the per-user rollup after it reuses that partitioning — no join
    chain of per-stage tables (the naive formulation shuffles three
    times and re-joins)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").alias("signup"),
        F.count("t2").alias("click"),
        F.count("t3").alias("purchase"),
    )
    return counts.selectExpr(
        "stack(3, 'signup', signup, 'click', click, 'purchase', purchase)"
        " AS (stage, n_users)"
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-activity
    week; for each later week, how many were active.  Two aggregations
    on user_id (first-seen, distinct active weeks) co-partition, then one
    small shuffle on the (cohort, week) matrix — the standard growth-
    analytics rollup, exact integer/date math end to end."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        active.join(firsts, "user_id")
        .withColumn(
            "week_no",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_no")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


QUERIES["q_event_funnel"] = q_event_funnel
QUERIES["q_cohort_retention"] = q_cohort_retention

ORACLE["q_event_funnel"] = """
    WITH w1 AS (
      SELECT user_id, event_type, ts,
        min(CASE WHEN event_type = 'signup' THEN ts END)
          OVER (PARTITION BY user_id) AS t1
      FROM events
    ), w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
          OVER (PARTITION BY user_id) AS t2
      FROM w1
    ), w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
          OVER (PARTITION BY user_id) AS t3
      FROM w2
    ), per_user AS (
      SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      FROM w3 GROUP BY user_id
    )
    SELECT 'signup' AS stage, CAST(count(t1) AS BIGINT) AS n_users FROM per_user
    UNION ALL
    SELECT 'click', CAST(count(t2) AS BIGINT) FROM per_user
    UNION ALL
    SELECT 'purchase', CAST(count(t3) AS BIGINT) FROM per_user
"""

ORACLE["q_cohort_retention"] = """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, active_week) // 7 AS INTEGER)
             AS week_no,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM active JOIN firsts USING (user_id)
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# skew tooling under the gate + time-hierarchy rollup
# ---------------------------------------------------------------------------


def q_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through ``salted_join`` — the skew tool
    itself under the hash-match gate (its unit tests prove equivalence on
    a planted 90%-hot-key fixture; this proves it on the driver's data
    against plain-SQL semantics).  The build side replicates ×8, the fact
    side salts; result is bit-identical to the unsalted join."""
    from ..operators.skew import salted_join

    orders = load(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(orders, cust, ["c_custkey"], salts=8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        as_double(F.sum(dec("o_totalprice", precision=18))).alias("revenue"),
    )


def q_rollup_orderdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the year ⊃ quarter time hierarchy (CUBE's sibling —
    only prefix grouping sets, half the expansion)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            "o_totalprice",
        )
        .rollup("yr", "qtr")
        .agg(
            F.count("*").alias("n_orders"),
            as_double(F.sum(dec("o_totalprice", precision=18))).alias("revenue"),
        )
    )


QUERIES["q_salted_segment_revenue"] = q_salted_segment_revenue
QUERIES["q_rollup_orderdate"] = q_rollup_orderdate

ORACLE["q_salted_segment_revenue"] = """
    SELECT c_mktsegment, count(*) AS n_orders,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""

ORACLE["q_rollup_orderdate"] = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           count(*) AS n_orders,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders GROUP BY ROLLUP (yr, qtr)
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of order value per status.  Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation formula on doubles — verified bit-identical.  Exact
    percentile buffers each group's values; at warehouse scale switch to
    ``approx_percentile`` (t-digest, mergeable partial aggregation) and
    accept the rows-only check — this entry pins the exact semantics."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


QUERIES["q_value_percentiles"] = q_value_percentiles

ORACLE["q_value_percentiles"] = """
    SELECT o_orderstatus, count(*) AS n_orders,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderstatus
"""


def j_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time binning: for each 'error' event, the 'click'
    events by the same user in the preceding hour.

    The bin trick: a 1-hour range predicate can only match across two
    adjacent 1-hour bins, so the error side explodes to (bin-1, bin) and
    the join becomes a pure EQUI-join on (user, bin) with the exact range
    as a residual filter.  With an equi key present Spark already avoids
    a cross product, but binning is what bounds the work when the key is
    HOT: a user with k clicks and m errors costs min(k,m)·2-bins per
    window, not k·m — the standard interval-join scaling move (and the
    shape to reach for when there is NO equi key at all)."""
    ev = load(spark, sf_dir, "events")
    # second-truncated epochs: Spark's ts→long cast truncates, matching
    # the oracle's floor(epoch(ts))::BIGINT
    epoch = F.col("ts").cast("long")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.col("event_id").alias("error_id"), epoch.alias("te"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), epoch.alias("tc"))
    )
    binned_err = errors.withColumn(
        "bin", F.explode(F.array((F.col("te") / 3600).cast("long") - 1,
                                 (F.col("te") / 3600).cast("long")))
    )
    binned_clk = clicks.withColumn("bin", (F.col("tc") / 3600).cast("long"))
    pairs = binned_err.join(binned_clk, ["user_id", "bin"]).filter(
        (F.col("tc") >= F.col("te") - 3600) & (F.col("tc") < F.col("te"))
    )
    return pairs.select("user_id", "error_id", "click_id")


QUERIES["j_range_join_binned"] = j_range_join_binned

ORACLE["j_range_join_binned"] = """
    SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND CAST(floor(epoch(c.ts)) AS BIGINT)
         >= CAST(floor(epoch(e.ts)) AS BIGINT) - 3600
     AND CAST(floor(epoch(c.ts)) AS BIGINT)
         < CAST(floor(epoch(e.ts)) AS BIGINT)
"""


def j_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation (the join type the rest of the catalog
    doesn't cover): per-key order counts vs event counts, keeping keys
    that exist on either side only — the classic two-system audit query.
    Both sides pre-aggregate BEFORE the join (shuffle carries one row per
    key, not raw facts), then one full-outer sort-merge on the key."""
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(F.count("*").alias("n_orders"))
    )
    events = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("id"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        orders.join(events, "id", "full_outer")
        .select(
            "id",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


QUERIES["j_full_outer_reconcile"] = j_full_outer_reconcile

ORACLE["j_full_outer_reconcile"] = """
    WITH o AS (
      SELECT o_custkey AS id, count(*) AS n_orders FROM orders GROUP BY 1
    ), ev AS (
      SELECT user_id AS id, count(*) AS n_events FROM events GROUP BY 1
    )
    SELECT COALESCE(o.id, ev.id) AS id,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events
    FROM o FULL OUTER JOIN ev ON o.id = ev.id
"""


def q_sliding_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event rate: 1-hour windows every 15 minutes (each
    event lands in exactly 4 windows — Spark's window() expands them
    map-side before one shuffle on (window, type)).  The smoothed-rate
    view a monitoring dashboard reads; tumbling and session windows are
    covered elsewhere, this pins the overlapping kind."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


QUERIES["q_sliding_event_rate"] = q_sliding_event_rate

ORACLE["q_sliding_event_rate"] = """
    WITH slid AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts) // 900000000) * 900000000
                            - k.generate_series * 900000000) AS window_start
      FROM events, generate_series(0, 3) k
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type, count(*) AS n_events
    FROM slid GROUP BY 1, 2, 3
"""


def q_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: the complete (day × event_type) grid over the
    observed range with zero-filled counts — the spine a charting/alerting
    layer needs (a day with no 'error' events must surface as 0, not as a
    missing row).  Spark has no native spine operator; the idiom is
    sequence() + explode of the 1-row min/max bounds, cross-joined with
    the (tiny, broadcast) type dim, left-joined to the real counts."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = ev.groupBy(day.alias("day"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    spine = (
        ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
        .select(F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"))
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    return grid.join(daily, ["day", "event_type"], "left").select(
        "day", "event_type", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


QUERIES["q_gapfill_daily"] = q_gapfill_daily

ORACLE["q_gapfill_daily"] = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT unnest(generate_series(
        (SELECT min(date_trunc('day', ts)) FROM events),
        (SELECT max(date_trunc('day', ts)) FROM events),
        INTERVAL 1 DAY)) AS day
    ), types AS (
      SELECT DISTINCT event_type FROM events
    )
    SELECT s.day, t.event_type, COALESCE(d.n_events, 0) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
"""


def q_top_parts_per_nation(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Grouped top-k over the star schema: the 3 highest-revenue parts per
    supplier nation.  Revenue aggregates in exact decimals on the one
    fact shuffle (lineitem grouped by (nation, part) — partial agg
    map-side), then the rank window partitions by nation, so the sort is
    per-group and parallel — no global ordering anywhere.  Dims
    broadcast.  Ties break on p_partkey for a deterministic cut."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part")
    revenue = dec("l_extendedprice", 4, 12) * (
        F.lit(1).cast("decimal(8,4)") - dec("l_discount", 4, 8)
    )
    per = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(part.select("p_partkey", "p_name")), li.l_partkey == part.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), "p_partkey", "p_name")
        .agg(as_double(F.sum(revenue)).alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        per.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("nation", "p_partkey", "p_name", "revenue", "rank")
    )


QUERIES["q_top_parts_per_nation"] = q_top_parts_per_nation

ORACLE["q_top_parts_per_nation"] = """
    SELECT nation, p_partkey, p_name, revenue, CAST(rank AS INTEGER) AS rank FROM (
      SELECT n_name AS nation, p_partkey, p_name,
             CAST(CAST(ROUND(SUM(
               CAST(l_extendedprice AS DECIMAL(12,4))
               * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
             ), 4) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
             row_number() OVER (
               PARTITION BY n_name
               ORDER BY CAST(CAST(ROUND(SUM(
                 CAST(l_extendedprice AS DECIMAL(12,4))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
               ), 4) AS DECIMAL(18,4)) AS DOUBLE) DESC, p_partkey ASC
             ) AS rank
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN part ON l_partkey = p_partkey
      GROUP BY n_name, p_partkey, p_name
    ) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic warehouse marketing rollup: per customer, days since last
    order (anchored at the table's max order date, so the query is
    deterministic and re-runnable), order count, and lifetime spend, each
    scored into quintiles, concatenated into the familiar '555'-style
    segment code.

    Scale shape: one groupBy on custkey (map-side combine), then three
    quintile assignments over the aggregated (one-row-per-customer)
    frame via ``operators.ranking.global_ntile`` — range-partitioned
    distributed ranking, NOT ``F.ntile`` over an unpartitioned window,
    which plans as Exchange SinglePartition and funnels every customer
    through one task (the scale cliff for a billion-customer frame).
    Determinism: spend is exact-decimal summed then reduced via the
    shared as_double discipline; every quintile ordering carries a
    custkey tie-break (total order), so both engines cut identical
    quintile boundaries (the fill rule — earlier buckets take the
    remainder — matches NTILE in Spark and DuckDB).
    """
    from ..operators.ranking import global_ntile
    from .queries import as_double, dec

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = orders.agg(F.max("o_orderdate")).first()[0]
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor), F.max("o_orderdate")).cast("int").alias(
            "recency_days"
        ),
        F.count("*").cast("long").alias("frequency"),
        as_double(F.sum(dec("o_totalprice", scale=4, precision=18))).alias(
            "monetary"
        ),
    )
    # recent/frequent/big-spending = 5 in every dimension
    scored = global_ntile(
        per_cust, [F.desc("recency_days"), F.asc("o_custkey")], 5, "r_score"
    )
    scored = global_ntile(
        scored, [F.asc("frequency"), F.asc("o_custkey")], 5, "f_score"
    )
    scored = global_ntile(
        scored, [F.asc("monetary"), F.asc("o_custkey")], 5, "m_score"
    )
    return (
        scored.withColumn(
            "segment",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "recency_days",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
            "segment",
        )
    )


QUERIES["q_rfm_segmentation"] = q_rfm_segmentation

ORACLE["q_rfm_segmentation"] = """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(datediff('day', max(o_orderdate),
                           (SELECT max(o_orderdate) FROM orders))
                  AS INTEGER) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  AS DECIMAL(18,4)) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT *,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC)
                  AS INTEGER) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
                  AS INTEGER) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC)
                  AS INTEGER) AS m_score
      FROM per_cust
    )
    SELECT o_custkey AS custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           r_score || f_score || m_score AS segment
    FROM scored
"""


# ---------------------------------------------------------------------------
# quality-score histogram per source (curation observability)
# ---------------------------------------------------------------------------


def corpus_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decile histogram of document quality scores — the
    curation dashboard that catches a degraded source before it ships
    (a source whose mass shifts into the low deciles is scraping junk;
    one spiking at exactly 1.0 is probably templated).

    Scale shape: quality is the codegen expression, the decile is integer
    math on it (floor(score×10) clamped to 9 — no width_bucket float
    edge-cases), and the rollup is one (source, decile)-key shuffle with
    map-side combine — at most 10×|sources| rows out.
    """
    from ..functions.text import quality_score_expr, tokenized

    docs = tokenized(load(spark, sf_dir, "documents"), "source")
    _, score = quality_score_expr(F.col("toks"), F.col("norm"))
    scored = docs.filter(F.size("toks") > 0).select(
        "source", score.alias("q")
    )
    decile = F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9))
    # order-stable mean of doubles: quantize to integer millionths first
    # (the stream_user_totals discipline) — long sums are exact and
    # schedule-independent, unlike F.avg's partition-ordered double sum
    q6 = F.floor(F.col("q") * 1000000 + F.lit(0.5)).cast("long")
    return (
        scored.withColumn("decile", decile)
        .withColumn("q6", q6)
        .groupBy("source", "decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum("q6").cast("double")
                / F.lit(1000000.0)
                / F.count("*").cast("double"),
                4,
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("avg_quality"),
        )
    )


QUERIES["corpus_quality_histogram"] = corpus_quality_histogram

from ..functions.text import ORACLE as _TEXT_ORACLE  # noqa: E402

ORACLE["corpus_quality_histogram"] = f"""
    WITH q AS (
      SELECT d.source, t.quality_score AS q
      FROM ({_TEXT_ORACLE["text_quality_score"]}) t
      JOIN documents d ON d.doc_id = t.doc_id
    )
    SELECT source,
           CAST(least(CAST(floor(q * 10) AS INTEGER), 9) AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(round(
             CAST(SUM(CAST(floor(q * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / CAST(count(*) AS DOUBLE), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS avg_quality
    FROM q GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# market-basket part-affinity mining
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3


def q_market_basket_pairs(
    spark: SparkSession, sf_dir: str, min_support: int = BASKET_MIN_SUPPORT
) -> DataFrame:
    """Frequent part-pair mining over order baskets: parts bought together
    in at least ``min_support`` orders, with support and lift — the
    co-purchase affinity query behind recommendations and shelf planning
    (and the basket-level cousin of `text_bigram_pmi`'s token lift).

    Scale shape: the pair generation is a self-join keyed on the ORDER —
    work ∝ Σ basket_size² with ~7-line baskets, i.e. ~25 rows per order,
    linear in orders and never parts² — followed by one (part_a, part_b)
    groupBy with map-side combine.  The support filter prunes before the
    per-part-count joins, and those counts are a parts-sized table
    (broadcast-eligible).  Determinism: support and lift are int/int
    double divisions with a fixed operation order, bit-exact in both
    engines.
    """
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    part_cnt = items.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_orders_together"))
        .filter(F.col("n_orders_together") >= min_support)
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_orders_together",
            (
                F.col("n_orders_together").cast("double")
                / F.lit(n_orders).cast("double")
            ).alias("support"),
            (
                (F.col("n_orders_together") * F.lit(n_orders)).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
    )


QUERIES["q_market_basket_pairs"] = q_market_basket_pairs

ORACLE["q_market_basket_pairs"] = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
    ), part_cnt AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_orders_together
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_orders_together,
           CAST(n_orders_together AS DOUBLE)
             / CAST((SELECT n_orders FROM n) AS DOUBLE) AS support,
           CAST(n_orders_together * (SELECT n_orders FROM n) AS DOUBLE)
             / CAST(ca.c * cb.c AS DOUBLE) AS lift
    FROM pairs
    JOIN part_cnt ca ON ca.l_partkey = part_a
    JOIN part_cnt cb ON cb.l_partkey = part_b
"""


# ---------------------------------------------------------------------------
# rolling engagement: DAU / WAU
# ---------------------------------------------------------------------------


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day active users with the stickiness ratio
    (DAU/WAU) — the canonical engagement dashboard.  A sliding DISTINCT
    is the hard shape here: windows can sum counts but can't merge
    distinct sets, so the standard rewrite EXPLODES each (user, day)
    contribution onto the ≤7 trailing days it supports and lets one
    groupBy count distinct users per day — work is 7×|user-days| (linear,
    map-side combinable), never a per-day rescan of history.  Days are
    restricted to the observed calendar (inner join with DAU); ratios are
    int/int double divisions.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    from ..util import bounded_cache

    user_days = bounded_cache(ev.distinct())
    dau = user_days.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


QUERIES["q_rolling_active_users"] = q_rolling_active_users

ORACLE["q_rolling_active_users"] = """
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), dau AS (
      SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM user_days GROUP BY d
    ), contrib AS (
      SELECT user_id, d + CAST(j AS INTEGER) AS day
      FROM user_days, unnest(range(0, 7)) AS u(j)
    ), wau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY day
    )
    SELECT dau.day AS day, dau, wau,
           CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
"""


def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join, binned: each order owns the interval
    [o_orderdate, o_orderdate + 7 days); find every pair of SAME-CUSTOMER
    orders whose intervals overlap — the contention/session-merge shape
    (two bookings colliding, two validity ranges intersecting) that a
    naive theta-join turns into a per-key cross product.

    The bin move, one step past ``j_range_join_binned``: a 7-day interval
    is covered by at most two 7-day bins, so each side explodes to ≤2
    (custkey, bin) rows and the overlap join becomes a pure EQUI-join
    with the exact predicate (start_a < end_b AND start_b < end_a) as a
    residual — per-key cost min(k_a, k_b)·4 bins, never k².  Pairs
    deduplicate on (a < b) orientation because an overlapping pair can
    meet in both bins."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderdate").cast("date").alias("start"),
        F.date_add(F.col("o_orderdate"), 7).alias("end"),
    )
    binned = o.select(
        "o_custkey",
        "ok",
        "start",
        "end",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(F.unix_date(F.col("start")) / 7),
                    F.floor((F.unix_date(F.col("end")) - 1) / 7),
                )
            )
        ).alias("bin"),
    )
    a = binned.select(
        "o_custkey", "bin",
        F.col("ok").alias("ok_a"), F.col("start").alias("sa"), F.col("end").alias("ea"),
    )
    b = binned.select(
        "o_custkey", "bin",
        F.col("ok").alias("ok_b"), F.col("start").alias("sb"), F.col("end").alias("eb"),
    )
    return (
        a.join(b, ["o_custkey", "bin"])
        .filter(
            (F.col("ok_a") < F.col("ok_b"))
            & (F.col("sa") < F.col("eb"))
            & (F.col("sb") < F.col("ea"))
        )
        .select("o_custkey", "ok_a", "ok_b")
        .distinct()
    )


QUERIES["j_interval_overlap"] = j_interval_overlap

ORACLE["j_interval_overlap"] = """
    WITH o AS (
      SELECT o_custkey, o_orderkey AS ok,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 7 AS e
      FROM orders
    )
    SELECT a.o_custkey, a.ok AS ok_a, b.ok AS ok_b
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.ok < b.ok
     AND a.s < b.e AND b.s < a.e
"""


def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the lag-window report
    every BI deck carries.  Revenue aggregates FIRST (partial-agg
    shuffle on the (nation, year) key), then the lag window runs over
    ≤ nations × years rows — the window never sees fact-table rows.
    Exact decimal sums cast to double only at the division."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("p"),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "yr")
        .agg(F.sum("p").alias("rev_dec"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("rev_dec").over(w)
    return rev.select(
        "n_name",
        F.col("yr").cast("long").alias("yr"),
        F.col("rev_dec").cast("double").alias("revenue"),
        F.when(
            prev.isNotNull(),
            (F.col("rev_dec") - prev).cast("double") / prev.cast("double"),
        ).alias("yoy_growth"),
    )


QUERIES["q_yoy_growth"] = q_yoy_growth

ORACLE["q_yoy_growth"] = """
    WITH rev AS (
      SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name, yr
    )
    SELECT n_name, yr,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec - lag(rev_dec) OVER (PARTITION BY n_name ORDER BY yr)
                AS DOUBLE)
             / CAST(lag(rev_dec) OVER (PARTITION BY n_name ORDER BY yr)
                    AS DOUBLE) AS yoy_growth
    FROM rev
"""


def q_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for the three core
    FK relationships (lineitem→orders, orders→customer,
    customer→nation) — the data-quality gate a warehouse runs after
    every load, here as three LEFT-ANTI counts unioned into one small
    report.  Anti-joins broadcast the (smaller) parent key sets where
    the optimizer sees fit; the clean fixture reports zeros, and a
    broken incremental load reports exactly where."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey")

    def audit(child, parent, on_child, on_parent, name):
        orphans = child.join(
            parent, child[on_child] == parent[on_parent], "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("relationship"),
            F.count("*").cast("long").alias("n_orphans"),
        )

    return (
        audit(li, o.select("o_orderkey"), "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(audit(o, c.select("c_custkey"), "o_custkey", "c_custkey", "orders->customer"))
        .unionByName(audit(c, n, "c_nationkey", "n_nationkey", "customer->nation"))
    )


QUERIES["q_orphan_audit"] = q_orphan_audit

ORACLE["q_orphan_audit"] = """
    SELECT 'lineitem->orders' AS relationship,
           CAST(count(*) AS BIGINT) AS n_orphans
    FROM lineitem ANTI JOIN orders ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'orders->customer',
           CAST(count(*) AS BIGINT)
    FROM orders ANTI JOIN customer ON c_custkey = o_custkey
    UNION ALL
    SELECT 'customer->nation',
           CAST(count(*) AS BIGINT)
    FROM customer ANTI JOIN nation ON n_nationkey = c_nationkey
"""


def q_percent_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distribution windows (percent_rank + cume_dist) over
    customer account balance WITHIN each nation — the only rank-family
    members the registry didn't yet exercise.  Partitioned by nation, so
    no single-partition window; ties resolved by the (c_acctbal,
    c_custkey) total order making both fractions deterministic."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").cast("double").alias("bal")
    )
    w = Window.partitionBy("c_nationkey").orderBy("bal", "c_custkey")
    return c.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "bal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


QUERIES["q_percent_rank_customers"] = q_percent_rank_customers

ORACLE["q_percent_rank_customers"] = """
    SELECT c_custkey,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(c_acctbal AS DOUBLE) AS bal,
           percent_rank() OVER (PARTITION BY c_nationkey
                                ORDER BY CAST(c_acctbal AS DOUBLE), c_custkey)
             AS pct_rank,
           cume_dist() OVER (PARTITION BY c_nationkey
                             ORDER BY CAST(c_acctbal AS DOUBLE), c_custkey)
             AS cume_dist
    FROM customer
"""


def q_customer_tenure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer lifecycle span: first order, last order, tenure days,
    and order count — the activation/churn base table.  One partial-agg
    groupBy on the fact table; no window needed for min/max."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        )
        .cast("long")
        .alias("tenure_days"),
        F.count("*").cast("long").alias("n_orders"),
    )


QUERIES["q_customer_tenure"] = q_customer_tenure

ORACLE["q_customer_tenure"] = """
    SELECT o_custkey,
           CAST(min(o_orderdate) AS DATE) AS first_order,
           CAST(max(o_orderdate) AS DATE) AS last_order,
           CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
                          CAST(max(o_orderdate) AS DATE)) AS BIGINT)
             AS tenure_days,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
"""


def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue within each
    nation: parts are ranked by revenue, the running share of nation
    revenue accumulates down the rank, and class A/B/C falls out of the
    0.8/0.95 cuts — the classic inventory-concentration report.

    Scale shape: revenue aggregates FIRST (one fact shuffle keyed on
    (nation, part)); the rank and running-sum windows then run over the
    aggregated grid partitioned BY NATION — bounded partitions, no
    single-partition exchange (the plan-audit invariant).  Decimal sums
    keep the running accumulation exact; one double division per row at
    the end."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,4)")
         * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
         ).alias("rev"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_part = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "l_partkey")
        .agg(F.sum("rev").alias("rev_dec"))
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(
        F.desc("rev_dec"), F.asc("l_partkey")
    )
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_tot = Window.partitionBy("c_nationkey")
    share = (
        F.sum("rev_dec").over(w_run).cast("double")
        / F.sum("rev_dec").over(w_tot).cast("double")
    )
    return per_part.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "l_partkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.row_number().over(w_rank).cast("long").alias("rnk"),
        share.alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc"),
    )


QUERIES["q_abc_analysis"] = q_abc_analysis

ORACLE["q_abc_analysis"] = """
    WITH per_part AS (
      SELECT c_nationkey, l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
               AS rev_dec
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      GROUP BY c_nationkey, l_partkey
    ), ranked AS (
      SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, l_partkey,
             CAST(rev_dec AS DOUBLE) AS revenue,
             CAST(row_number() OVER w AS BIGINT) AS rnk,
             CAST(SUM(rev_dec) OVER (PARTITION BY c_nationkey
                                     ORDER BY rev_dec DESC, l_partkey ASC
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(SUM(rev_dec) OVER (PARTITION BY c_nationkey) AS DOUBLE)
               AS cum_share
      FROM per_part
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY rev_dec DESC, l_partkey ASC)
    )
    SELECT c_nationkey, l_partkey, revenue, rnk, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc
    FROM ranked
"""


# ---------------------------------------------------------------------------
# multi-touch attribution (r6)
# ---------------------------------------------------------------------------

ATTR_WINDOW_S = 7 * 86400  # lookback: touches within 7 days before purchase


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 7-day
    window before a purchase by the same user shares that conversion's
    credit equally — the batch complement of the streaming last-touch
    model in ``stream_click_attribution``.  Output: per touch channel
    (event_type), how many touch rows earned credit and how many
    conversions they sum to.

    Determinism under the hash gate: each touch's share is the integer
    ``1e6 div n_touches`` (micro-credits; the remainder is dropped the
    same way in both engines), summed exactly as int64 and divided once
    at the end — never a float ``1/n`` sum whose order could differ.

    Scale: the purchase×touch join is keyed on user_id with a time-range
    predicate, so cost is Σ_user (purchases·touches) inside the window —
    bounded by per-user activity, not corpus size.  AQE splits skewed
    whale users; if one user's window pairing still dominates, bin the
    range predicate into day buckets first (the j_range_join_binned
    shape) to make it an equi-join.
    """
    ev = load(spark, sf_dir, "events")
    epoch = F.col("ts").cast("long")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), epoch.alias("tp")
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("touch_id"),
        epoch.alias("tt"),
    )
    j = purch.join(touch, "user_id").filter(
        (F.col("tt") < F.col("tp")) & (F.col("tt") >= F.col("tp") - ATTR_WINDOW_S)
    )
    n = j.groupBy("conv_id").agg(F.count("*").cast("long").alias("n_touches"))
    credited = j.join(n, "conv_id").withColumn(
        "credit_micro", F.expr("1000000 div n_touches")
    )
    return credited.groupBy("channel").agg(
        F.count("*").cast("long").alias("touch_rows"),
        F.countDistinct("conv_id").cast("long").alias("conversions_touched"),
        (
            F.sum("credit_micro").cast("double") / F.lit(1_000_000.0)
        ).alias("attributed_conversions"),
    )


QUERIES["q_attribution_linear"] = q_attribution_linear

ORACLE["q_attribution_linear"] = f"""
    WITH purch AS (
      SELECT user_id, event_id AS conv_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tp
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, event_type AS channel, event_id AS touch_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tt
      FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.conv_id, t.channel
      FROM purch p JOIN touch t ON p.user_id = t.user_id
      WHERE t.tt < p.tp AND t.tt >= p.tp - {ATTR_WINDOW_S}
    ), n AS (
      SELECT conv_id, CAST(count(*) AS BIGINT) AS n_touches
      FROM j GROUP BY conv_id
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS touch_rows,
           CAST(count(DISTINCT j.conv_id) AS BIGINT) AS conversions_touched,
           CAST(CAST(sum(1000000 // n_touches) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS attributed_conversions
    FROM j JOIN n ON j.conv_id = n.conv_id
    GROUP BY channel
"""


# ---------------------------------------------------------------------------
# funnel time-to-convert (r6)
# ---------------------------------------------------------------------------


def q_funnel_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long the view→purchase hop takes: for every user with a view,
    the FIRST purchase strictly after their FIRST view, reported as one
    corpus-level row — viewers, converters, conversion rate, and
    avg/min/max seconds-to-convert.  The latency companion to
    ``q_event_funnel`` (which counts stage completion, not dwell time).

    Single-shuffle shape (same trick as q_event_funnel): the first-view
    timestamp is an unordered window min over the user partition, the
    conditional first-purchase min reuses that exchange in the per-user
    rollup, and the final global aggregate is a 1-row reduce.  Seconds
    are exact second-truncated epoch int64 differences summed exactly;
    the average divides once in double.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    per_user = (
        staged.groupBy("user_id")
        .agg(
            F.min("t1").alias("t1"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2"),
        )
        .filter(F.col("t1").isNotNull())
    )
    delta = F.col("t2").cast("long") - F.col("t1").cast("long")
    return per_user.select(delta.alias("sec")).agg(
        F.count("*").cast("long").alias("viewers"),
        F.count("sec").cast("long").alias("converters"),
        (F.count("sec").cast("double") / F.count("*").cast("double")).alias(
            "conversion_rate"
        ),
        (F.sum("sec").cast("double") / F.count("sec").cast("double")).alias(
            "avg_seconds"
        ),
        F.min("sec").cast("long").alias("min_seconds"),
        F.max("sec").cast("long").alias("max_seconds"),
    )


QUERIES["q_funnel_conversion_time"] = q_funnel_conversion_time

ORACLE["q_funnel_conversion_time"] = """
    WITH staged AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ), per_user AS (
      SELECT user_id, min(t1) AS t1,
             min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
               AS t2
      FROM staged GROUP BY user_id
      HAVING min(t1) IS NOT NULL
    ), d AS (
      SELECT CAST(floor(epoch(t2)) AS BIGINT)
               - CAST(floor(epoch(t1)) AS BIGINT) AS sec
      FROM per_user
    )
    SELECT CAST(count(*) AS BIGINT) AS viewers,
           CAST(count(sec) AS BIGINT) AS converters,
           CAST(count(sec) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS conversion_rate,
           CAST(CAST(sum(sec) AS BIGINT) AS DOUBLE) / CAST(count(sec) AS DOUBLE)
             AS avg_seconds,
           CAST(min(sec) AS BIGINT) AS min_seconds,
           CAST(max(sec) AS BIGINT) AS max_seconds
    FROM d
"""


# ---------------------------------------------------------------------------
# user lifetime-value deciles (r6)
# ---------------------------------------------------------------------------


def q_user_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile table: users ranked by total purchase value,
    cut into 10 equal-count bands (decile 1 = highest spenders), with
    each band's user count, revenue, revenue share, and average — the
    "top 10% of users drive X% of revenue" report.

    Purchase values accumulate as 1e6-quantized int64 (the
    stream_user_totals idiom: ``floor(v·1e6 + 0.5)`` per event, integer
    sums are order-insensitive) and each output double divides exactly
    once.  The decile cut is NTILE(10) semantics over the deterministic
    total order (value desc, user_id) — both engines place the first
    ``n mod 10`` groups one user larger — computed via
    ``operators.ranking.global_ntile`` (range partition + partition-id
    windows + broadcast prefix offsets), so there is NO single-partition
    sort even at 1e9 users; the oracle keeps plain ``ntile()``, pinning
    the distributed path to the textbook semantics.

    Shape: one user-keyed aggregate, the rank pass's range exchange,
    one 10-row aggregate plus a 1-row broadcast total.
    """
    from ..operators.ranking import global_ntile

    ev = load(spark, sf_dir, "events")
    micro = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", micro.alias("v"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("v").cast("long").alias("micro"),
        )
    )
    cut = global_ntile(
        per_user,
        [F.col("micro").desc(), F.col("user_id").asc()],
        k=10,
        alias="decile",
    ).withColumn("decile", F.col("decile").cast("long"))
    total = cut.agg(F.sum("micro").cast("long").alias("t_micro"))
    return (
        cut.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("n_purchases").cast("long").alias("n_purchases"),
            F.sum("micro").cast("long").alias("d_micro"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            "n_purchases",
            (F.col("d_micro").cast("double") / F.lit(1_000_000.0)).alias("revenue"),
            (F.col("d_micro").cast("double") / F.col("t_micro").cast("double")).alias(
                "revenue_share"
            ),
            (
                F.col("d_micro").cast("double")
                / (F.lit(1_000_000.0) * F.col("n_users").cast("double"))
            ).alias("avg_revenue_per_user"),
        )
    )


QUERIES["q_user_ltv_deciles"] = q_user_ltv_deciles

ORACLE["q_user_ltv_deciles"] = """
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS micro
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), cut AS (
      SELECT *, CAST(ntile(10) OVER (ORDER BY micro DESC, user_id ASC)
                     AS BIGINT) AS decile
      FROM per_user
    ), totals AS (
      SELECT CAST(sum(micro) AS BIGINT) AS t_micro FROM cut
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_purchases) AS BIGINT) AS n_purchases,
           CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
           CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE)
             / CAST(t_micro AS DOUBLE) AS revenue_share,
           CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE)
             / (1000000.0 * CAST(count(*) AS DOUBLE)) AS avg_revenue_per_user
    FROM cut CROSS JOIN totals
    GROUP BY decile, t_micro
"""


# ---------------------------------------------------------------------------
# compaction round-trip under the hash gate (r6)
# ---------------------------------------------------------------------------


def k1_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE materialization under the hash gate: three overlapping event
    batches (rising version stamps) land incrementally in a throwaway
    warehouse with an upsert contract, ``compact()`` collapses the
    history into one physical batch, and the post-compact read must
    still be exact newest-wins per key — the oracle replays the same
    three appends and takes latest-per-pk directly.  This pins the
    maintenance half of the k1 upsert path (``stream_cdc_upsert`` /
    ``k1_dedup_append`` pin the read-side half): compaction must be a
    pure physical rewrite, never a semantic change.

    Scale: compaction cost is one newest-wins window over the live
    batches — the bounded read-side window the warehouse pays anyway —
    and resets the per-read history cost to one batch (SCALE.md pins the
    cadence math at 164k physical rows).
    """
    from ..util import scratch_dir

    from ..operators.staging import StagingWarehouse

    root = scratch_dir("spark_graft_compact_")
    wh = StagingWarehouse(spark, root)
    wh.set_upsert_keys("ev_c", pk=["event_id"], order_col="ver")
    ev = load(spark, sf_dir, "events")
    b1 = ev.filter(F.col("ts") < "2024-01-20").withColumn("ver", F.lit(1))
    b2 = ev.filter(F.col("ts") >= "2024-01-10").withColumn("ver", F.lit(2))
    b3 = ev.filter(F.col("ts") < "2024-01-05").withColumn("ver", F.lit(3))
    wh.write(b1, "ev_c", incremental=True, batch_id="b1")
    wh.write(b2, "ev_c", incremental=True, batch_id="b2")
    wh.write(b3, "ev_c", incremental=True, batch_id="b3")
    wh.compact("ev_c")
    return wh.read("ev_c")


QUERIES["k1_compact_roundtrip"] = k1_compact_roundtrip

ORACLE["k1_compact_roundtrip"] = """
    WITH appended AS (
      SELECT *, 1 AS ver FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      UNION ALL
      SELECT *, 2 AS ver FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      UNION ALL
      SELECT *, 3 AS ver FROM events WHERE ts < TIMESTAMP '2024-01-05 00:00:00'
    )
    SELECT event_id, ts, user_id, event_type, value, props, ver FROM (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ver DESC)
               AS rn
      FROM appended
    ) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# SCD2 interval build (r6)
# ---------------------------------------------------------------------------


def o_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from a change log: per
    user, consecutive runs of the same event_type collapse into validity
    intervals ``[valid_from, valid_to)`` with a version counter — the
    classic gaps-and-islands transform that turns an event stream into
    the dimension table a point-in-time join consumes (``j_asof_join``
    is the consuming half).  ``valid_to`` is the next interval's start,
    NULL for the current state.

    Determinism: islands are defined by the total order (ts, event_id)
    per user — the lag-compare + running change-count idiom; every
    boundary is an exact comparison, no floats anywhere.

    Scale: two windows and one aggregate, all partitioned BY USER —
    per-task work is one user's history, parallel across users; no
    global sort or single-partition stage.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("version", F.sum("chg").over(w).cast("long"))
    iv = marked.groupBy("user_id", "version").agg(
        # event_type is constant within an island by construction
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return iv.withColumn("valid_to", F.lead("valid_from").over(wv)).select(
        "user_id", "version", "event_type", "valid_from", "valid_to", "n_events"
    )


QUERIES["o_scd2_intervals"] = o_scd2_intervals

ORACLE["o_scd2_intervals"] = """
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), versioned AS (
      SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS version
      FROM marked
    ), iv AS (
      SELECT user_id, version,
             min(event_type) AS event_type,
             min(ts) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_events
      FROM versioned GROUP BY user_id, version
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           n_events
    FROM iv
"""


# ---------------------------------------------------------------------------
# Fuzzy entity resolution: blocked sorted-neighborhood matching (r7)
# ---------------------------------------------------------------------------

FUZZY_WINDOW = 3  # compare each record with its next w neighbors in sort order
FUZZY_MAX_DIST = 3  # max edit distance between token-sorted canonical names


def j_fuzzy_match_parts(
    spark: SparkSession,
    sf_dir: str,
    w: int = FUZZY_WINDOW,
    max_dist: int = FUZZY_MAX_DIST,
) -> DataFrame:
    """Entity resolution via blocked sorted-neighborhood matching: find
    part records whose names are near-identical (edit distance <=
    ``max_dist`` after token-sort canonicalization) without ever forming
    the n^2 name-pair space.

    The classic record-linkage recipe, each step load-bearing at scale:

    - **canonicalize**: lowercase, split, SORT the tokens, rejoin — so
      "red widget" and "widget red" canonicalize identically and land
      adjacent in sort order (the word-order half of fuzzy matching is
      solved before any edit distance is computed);
    - **block** on ``p_brand``: candidate pairs never cross brands, so
      per-block work is independent and parallel (the blocking key is
      the unit of distribution — same role as the LSH band in
      ``dedup_minhash_pairs``);
    - **sorted neighborhood**: within a block, order by (canon, key) and
      compare each record only to its next ``w`` successors via
      ``lead`` — candidates ∝ w·n instead of n², the window is
      partitioned by block so there is no global sort;
    - **verify** with ``levenshtein`` on the canonical forms — the only
      quadratic-in-string-length step, paid on w·n candidates only.

    Determinism: the neighborhood is defined by the total order
    (canon, p_partkey); edit distance is exact integer — hash-portable.
    Recall caveat (inherent to sorted neighborhood, documented not
    hidden): a true match > w positions away in sort order is missed;
    w trades recall for cost exactly like LSH band count.
    """
    part = load(spark, sf_dir, "part")
    canon = F.array_join(F.array_sort(F.split(F.lower(F.col("p_name")), " ")), " ")
    s = part.select("p_partkey", "p_brand", canon.alias("canon"))
    win = Window.partitionBy("p_brand").orderBy("canon", "p_partkey")
    leads = s
    for i in range(1, w + 1):
        leads = leads.withColumn(
            f"nk{i}", F.lead("p_partkey", i).over(win)
        ).withColumn(f"nc{i}", F.lead("canon", i).over(win))
    stacked = (
        leads.select(
            "p_partkey",
            "p_brand",
            "canon",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"nk{i}").alias("nbr_key"),
                            F.col(f"nc{i}").alias("nbr_canon"),
                        )
                        for i in range(1, w + 1)
                    ]
                )
            ).alias("nbr"),
        )
        .filter(F.col("nbr.nbr_key").isNotNull())
    )
    return (
        stacked.select(
            F.col("p_partkey").alias("part_a"),
            F.col("nbr.nbr_key").alias("part_b"),
            F.col("p_brand").alias("brand"),
            F.levenshtein(F.col("canon"), F.col("nbr.nbr_canon"))
            .cast("int")
            .alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


QUERIES["j_fuzzy_match_parts"] = j_fuzzy_match_parts

ORACLE["j_fuzzy_match_parts"] = f"""
    WITH s AS (
      SELECT p_partkey, p_brand,
             array_to_string(list_sort(string_split(lower(p_name), ' ')), ' ')
               AS canon
      FROM part
    ), w AS (
      SELECT p_partkey, p_brand, canon,
             lead(p_partkey, 1) OVER win AS nk1, lead(canon, 1) OVER win AS nc1,
             lead(p_partkey, 2) OVER win AS nk2, lead(canon, 2) OVER win AS nc2,
             lead(p_partkey, 3) OVER win AS nk3, lead(canon, 3) OVER win AS nc3
      FROM s
      WINDOW win AS (PARTITION BY p_brand ORDER BY canon, p_partkey)
    ), stacked AS (
      SELECT p_partkey, p_brand, canon, nk1 AS part_b, nc1 AS nbr_canon FROM w
      UNION ALL
      SELECT p_partkey, p_brand, canon, nk2, nc2 FROM w
      UNION ALL
      SELECT p_partkey, p_brand, canon, nk3, nc3 FROM w
    )
    SELECT p_partkey AS part_a, part_b, p_brand AS brand,
           CAST(levenshtein(canon, nbr_canon) AS INTEGER) AS dist
    FROM stacked
    WHERE part_b IS NOT NULL
      AND levenshtein(canon, nbr_canon) <= {FUZZY_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the co-purchase graph (r7)
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 3
PAGERANK_SCALE = 10**6  # micro-rank units: integer arithmetic end to end


def q_part_pagerank(
    spark: SparkSession, sf_dir: str, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order), run a FIXED ``iters`` rounds with
    integer-only arithmetic — the weighted-iteration companion to
    ``dedup_connected_components``' converge-to-fixpoint loop.

    Graph build: the same basket self-join as ``q_market_basket_pairs``
    — work ∝ Σ basket_size² (~7-line baskets), linear in orders, never
    parts².  The graph is symmetric, so every node's out-degree equals
    its in-degree and no dangling-mass term is needed.

    Per round, each node's rank is ``floor(0.15·S) + Σ_u floor(
    floor(0.85·r(u)) / outdeg(u))`` over in-neighbors u — every step an
    integer op, so the sum is order-insensitive and the result bit-exact
    on any engine (the oracle unrolls the same three rounds as CTEs).
    Floats would make an iterative sum engine-divergent; micro-rank
    units make it exact, same trick as ``q_attribution_linear``'s
    micro-credits.

    Scale: one shuffle per round (edges ⋈ ranks on src, aggregate on
    dst); rounds are fixed, not data-dependent.  Overflow headroom:
    rank mass is bounded by ~0.85·n·S + jump terms, so at S=10**6 even
    a 10^9-node star stays orders of magnitude under int64.
    """
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("dst"))
    from ..util import bounded_cache

    # every iteration re-reads edges AND nodes; without the cache each
    # round replays the basket self-join + distinct from the scan (3x
    # redundant work for 3 rounds; at cluster scale, checkpoint instead)
    edges = bounded_cache(
        a.join(b, "l_orderkey")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    nodes = bounded_cache(deg.select(F.col("src").alias("part"), "outdeg"))
    base = 15 * PAGERANK_SCALE // 100
    # Join strategy, chosen deliberately (guide §3.1): the per-round
    # inner join is |edges| x |rank| where rank has one row per NODE —
    # orders of magnitude smaller than the edge set it joins.  The
    # planner's size estimate for rank (derived through joins + aggs)
    # overshoots the 10 MB auto-broadcast threshold, yielding a
    # SortMergeJoin that re-shuffles and re-sorts the whole edge set by
    # src EVERY round (measured sf0.1: 6 SMJs / 3 rounds in the plan).
    # Broadcasting the rank side removes the per-round edge shuffle;
    # gated on the node count so a graph too big to broadcast keeps the
    # shuffle plan (node ids + two longs: 2M rows ~ 50 MB relation).
    from ..util import memo_count

    bcast = memo_count(nodes) <= 2_000_000
    hint = F.broadcast if bcast else (lambda df: df)
    rank = nodes.withColumn("pr", F.lit(PAGERANK_SCALE).cast("long"))
    for _ in range(iters):
        inc = (
            edges.join(
                hint(
                    rank.select(F.col("part").alias("src"), "outdeg", "pr")
                ),
                "src",
            )
            .select("dst", F.expr("(pr * 85) div 100 div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        rank = nodes.join(hint(inc), nodes.part == inc.dst, "left").select(
            nodes.part,
            nodes.outdeg,
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("pr"),
        )
    return rank.select(F.col("part").alias("part_key"), "outdeg", "pr")


QUERIES["q_part_pagerank"] = q_part_pagerank

_PR_BASE = 15 * PAGERANK_SCALE // 100
_PR_ITER_SQL = """
    , r{i} AS (
      SELECT d.part, d.outdeg,
             CAST({base} + coalesce(sum((r.pr * 85) // 100 // r.outdeg), 0)
                  AS BIGINT) AS pr
      FROM deg d
      LEFT JOIN edges e ON e.dst = d.part
      LEFT JOIN r{prev} r ON r.part = e.src
      GROUP BY d.part, d.outdeg
    )
"""

ORACLE["q_part_pagerank"] = (
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
      SELECT src AS part, CAST(count(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY src
    ), r0 AS (
      SELECT part, outdeg, CAST({PAGERANK_SCALE} AS BIGINT) AS pr FROM deg
    )
"""
    + "".join(
        _PR_ITER_SQL.format(i=i, prev=i - 1, base=_PR_BASE)
        for i in range(1, PAGERANK_ITERS + 1)
    )
    + f"""
    SELECT part AS part_key, outdeg, pr FROM r{PAGERANK_ITERS}
"""
)


def j_fuzzy_match_parts_sharded(
    spark: SparkSession,
    sf_dir: str,
    w: int = FUZZY_WINDOW,
    max_dist: int = FUZZY_MAX_DIST,
) -> DataFrame:
    """`j_fuzzy_match_parts` values through the distributed-ranking scale
    path (the ``pack_sequences_sharded`` precedent): the windowed form
    partitions by ``p_brand``, and a blocking key with ~25 values means
    ~25 tasks own the whole sort at cluster scale — fine at gate scale,
    a skew cliff at 100 TB.

    Here the neighborhood comes from a GLOBAL total order
    (brand, canon, key) ranked by ``ranking.global_row_number`` (range
    partition + broadcast prefix offsets — no single-partition stage,
    no per-block task), then one equi-join on rank offsets (the
    offset side exploded w ways, so it stays an equi-join, never a
    range BNLJ).  Within-block adjacency is preserved by the global
    order, and the brand-equality predicate drops the pairs that
    straddle block boundaries — output is row-identical to the windowed
    form and answers to the SAME oracle."""
    from ..operators.ranking import global_row_number

    part = load(spark, sf_dir, "part")
    canon = F.array_join(F.array_sort(F.split(F.lower(F.col("p_name")), " ")), " ")
    s = part.select("p_partkey", "p_brand", canon.alias("canon"))
    ranked = global_row_number(
        s, [F.col("p_brand"), F.col("canon"), F.col("p_partkey")], "rn"
    )
    probes = ranked.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_brand").alias("brand"),
        F.col("canon").alias("canon_a"),
        "rn",
        F.explode(F.array(*[F.lit(i) for i in range(1, w + 1)])).alias("off"),
    ).select(
        "part_a", "brand", "canon_a", (F.col("rn") + F.col("off")).alias("rn")
    )
    nbrs = ranked.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("canon").alias("canon_b"),
        "rn",
    )
    return (
        probes.join(nbrs, "rn")
        .filter(F.col("brand") == F.col("brand_b"))
        .select(
            "part_a",
            "part_b",
            "brand",
            F.levenshtein(F.col("canon_a"), F.col("canon_b")).cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


QUERIES["j_fuzzy_match_parts_sharded"] = j_fuzzy_match_parts_sharded
ORACLE["j_fuzzy_match_parts_sharded"] = ORACLE["j_fuzzy_match_parts"]


def j_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (r8, VERDICT r7 #7): the fuzzy-match
    PAIRS composed into entity CLUSTERS with a canonical survivor —
    what a production ER pipeline actually ships (``j_fuzzy_match_parts``
    stops at the pairwise evidence).

    Pipeline: blocked sorted-neighborhood match pairs → connected
    components (the same min-label propagation the dedup family uses —
    transitive closure turns pairwise matches into entities) → one
    survivor per cluster by quality = SHORTEST canonical name (the least
    decorated record is the cleanest source form; ties broken by lowest
    key so the pick is a total order).  Every part resolves to exactly
    one entity — singletons survive as themselves — so the output is a
    complete key→entity mapping, |parts| rows of it one per cluster.

    Scale: the pair step is the w·n sorted-neighborhood (never n²); the
    CC loop touches only the edge-induced subgraph (singletons skip it);
    survivorship is one window over ``component`` whose partitions are
    match-cluster-sized (overwhelmingly 1-3 rows).  Reference semantics:
    the reference has no ER at all — this extends its join surface the
    way the dedup suite extends its DISTINCT.
    """
    from ..operators.corpus import connected_components

    part = load(spark, sf_dir, "part")
    canon = F.array_join(F.array_sort(F.split(F.lower(F.col("p_name")), " ")), " ")
    pairs = j_fuzzy_match_parts(spark, sf_dir).select("part_a", "part_b")
    comp = connected_components(
        part.select(F.col("p_partkey").alias("part_key")),
        pairs,
        node_col="part_key",
        src_col="part_a",
        dst_col="part_b",
    )
    s = part.select(F.col("p_partkey").alias("part_key"), canon.alias("canon"))
    w = Window.partitionBy("component").orderBy(
        F.length("canon").asc(), F.col("part_key").asc()
    )
    return (
        comp.join(s, "part_key")
        .withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count("*").over(Window.partitionBy("component")).cast("long"),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("part_key").alias("survivor_key"),
            F.col("canon").alias("survivor_canon"),
            "n_members",
        )
    )


QUERIES["j_entity_clusters"] = j_entity_clusters

# fuzzy-match pairs → WITH RECURSIVE min-label closure → survivorship:
# the match SQL is the j_fuzzy_match_parts oracle verbatim (derived
# table), the CC pattern is the dedup family's reach CTE
ORACLE["j_entity_clusters"] = f"""
    WITH RECURSIVE pairs AS (
      SELECT part_a, part_b FROM ({ORACLE["j_fuzzy_match_parts"]}) fm
    ), edges AS (
      SELECT part_a AS src, part_b AS dst FROM pairs
      UNION ALL
      SELECT part_b AS src, part_a AS dst FROM pairs
    ), reach(root, node) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION
      SELECT r.root, e.dst FROM reach r JOIN edges e ON r.node = e.src
    ), comp AS (
      SELECT root AS part_key, CAST(min(node) AS BIGINT) AS component
      FROM reach GROUP BY root
    ), canon AS (
      SELECT p_partkey AS part_key,
             array_to_string(list_sort(string_split(lower(p_name), ' ')), ' ')
               AS canon
      FROM part
    )
    SELECT component AS cluster_id, part_key AS survivor_key,
           canon AS survivor_canon, n_members FROM (
      SELECT c.component, c.part_key, k.canon,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY length(k.canon) ASC, c.part_key ASC
             ) AS rk,
             CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT)
               AS n_members
      FROM comp c JOIN canon k ON k.part_key = c.part_key
    ) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Session transition matrix (r7): first-order Markov estimation
# ---------------------------------------------------------------------------


def q_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over sessionized events: for
    each (from_type, to_type) pair of CONSECUTIVE events inside one
    session (the same 30-minute-gap sessions as ``q_sessionize``), the
    transition count and an exact per-source probability in integer
    micro-units — the path-analysis estimator behind "what do users do
    next" product questions.

    Determinism: consecutive-ness is the total order (ts, event_id)
    per user; a session boundary breaks the chain (the lead belongs to
    the same session only).  The probability is one integer floor
    division ``(n·10^6) div total_from`` — engine-exact, no float sums
    anywhere (the div/// pair truncates identically on positive ints).

    Scale: two user-partitioned windows (the sessionize pass + one
    lead) and one small aggregate — per-task work is one user's
    history; output is ≤ |event types|² rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    hops = (
        sess.withColumn("to_type", F.lead("event_type").over(ws))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = hops.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n_transitions")
    )
    return counts.withColumn(
        "p_micro",
        F.expr("(n_transitions * 1000000) div sum(n_transitions) OVER (PARTITION BY from_type)").cast("long"),
    ).select("from_type", "to_type", "n_transitions", "p_micro")


QUERIES["q_session_transitions"] = q_session_transitions

ORACLE["q_session_transitions"] = """
    WITH marked AS (
      -- second-truncated epochs match Spark's timestamp->long cast
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    ), hops AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id, session_seq
                                    ORDER BY ts, event_id) AS to_type
      FROM sess
    ), counts AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
      FROM hops WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_transitions,
           CAST((n_transitions * 1000000)
                // sum(n_transitions) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_micro
    FROM counts
"""


# ---------------------------------------------------------------------------
# Integer-exact distributed batch gradient descent (r8)
# ---------------------------------------------------------------------------

LINREG_ITERS = 5
LINREG_S = 10**6  # micro-weight fixed point (the PageRank micro-rank idiom)
LINREG_DEN = 20000  # per-EXAMPLE inverse learning rate (see docstring)


def _tdiv_sql(a: str, b: str, op: str = "//") -> str:
    """Sign-symmetric truncating integer division that both engines agree
    on: Spark ``div`` truncates toward zero, DuckDB ``//`` floors — they
    differ on negatives, so divide magnitudes (where truncation = floor)
    and restore the sign.  ``op`` picks the engine spelling (``div`` for
    Spark SQL, ``//`` for DuckDB); ``a`` is interpolated twice; scalars
    only."""
    return (
        f"(CASE WHEN ({a}) >= 0 THEN ({a}) {op} ({b}) "
        f"ELSE -((-({a})) {op} ({b})) END)"
    )


def _tdiv_py(a: int, b: int) -> int:
    return a // b if a >= 0 else -((-a) // b)


def q_quality_linreg(
    spark: SparkSession, sf_dir: str, iters: int = LINREG_ITERS
) -> DataFrame:
    """Distributed batch gradient descent, engine-exact: fit a linear
    model length(text) ~ w0 + w1·n_tokens + w2·n_distinct_tokens by
    ``iters`` fixed GD rounds in integer micro-weight units — the
    trainable-scorer primitive (quality/age/toxicity regressors in
    curation stacks are exactly this shape) built on the same
    fixed-point discipline as ``q_part_pagerank``: every prediction,
    residual, gradient, and update is an integer op, so the iterated
    sums are order-insensitive and bit-identical on any engine or
    partitioning.

    The per-round work is ONE distributed aggregate (map-side partial
    sums of x_j·r and r²) collapsing to four scalars on the driver —
    textbook distributed batch GD; weights are driver-side literals of
    the next round's expressions, the PageRank loop with a 1-row
    carrier.  The learning law is per-EXAMPLE (mean gradient, then
    Δw = (ḡ·S) div DEN), so the trajectory is corpus-size-independent:
    the same ~SSE/10 drop over 5 rounds measured at sf0.01 and sf0.1.

    Division sign rule: Spark ``div`` truncates toward zero, DuckDB
    ``//`` floors — gradients go negative, so both sides divide
    MAGNITUDES and restore the sign (``_tdiv_sql``).  Overflow headroom:
    Σx·r needs n·max|x|·max|r| < 2^63 (~10^12 docs at these feature
    bounds); the mean-gradient update itself is n-independent.

    Output: one row per iteration 0..iters with the standing weights
    and the SSE under them — the full descent trajectory under the
    hash gate."""
    from ..operators.dedup import tokens_expr
    from ..util import bounded_cache, memo_count

    docs = load(spark, sf_dir, "documents")
    base = bounded_cache(
        docs.select(
            F.length("text").cast("long").alias("y"),
            F.lit(1).cast("long").alias("x0"),
            F.size(tokens_expr()).cast("long").alias("x1"),
            F.size(F.array_distinct(tokens_expr())).cast("long").alias("x2"),
        )
    )
    n = memo_count(base)
    w = [0, 0, 0]
    rows = []
    for it in range(iters + 1):
        d = f"(x0*{w[0]} + x1*{w[1]} + x2*{w[2]})"
        r = f"(y - {_tdiv_sql(d, LINREG_S, op='div')})"
        agg = base.selectExpr(
            f"CAST(sum({r} * {r}) AS BIGINT) AS sse",
            f"CAST(sum(x0 * {r}) AS BIGINT) AS g0",
            f"CAST(sum(x1 * {r}) AS BIGINT) AS g1",
            f"CAST(sum(x2 * {r}) AS BIGINT) AS g2",
        ).first()
        rows.append((it, w[0], w[1], w[2], int(agg["sse"])))
        if it == iters:
            break
        for j, gk in enumerate(("g0", "g1", "g2")):
            gm = _tdiv_py(int(agg[gk]), n)
            w[j] += _tdiv_py(gm * LINREG_S, LINREG_DEN)
    return spark.createDataFrame(
        rows, "iter int, w0_micro long, w1_micro long, w2_micro long, sse long"
    )


QUERIES["q_quality_linreg"] = q_quality_linreg


def _linreg_oracle(iters: int = LINREG_ITERS) -> str:
    """Unrolled-CTE twin of the GD loop (the PageRank oracle pattern):
    it{k} carries the standing weights, g{k} the gradient/SSE aggregate
    under them; the final SELECT stacks the trajectory."""
    # Canonical _TOKS idiom (operators/dedup.py:794): \s+ split with
    # empties dropped — the SAME tokenizer definition as the Spark
    # side's tokens_expr(), so punctuation/hyphens/leading separators
    # in a future fixture can't silently diverge x1/x2 between engines.
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    # AS MATERIALIZED: every CTE here is referenced through scalar
    # subqueries many times; DuckDB inlines non-materialized CTEs per
    # reference, which EXPLODES the unrolled chain combinatorially
    # (observed as thousands of parquet re-opens).  Materializing pins
    # one evaluation per CTE — the semantics are unchanged.
    parts = [
        f"""base AS MATERIALIZED (
          SELECT CAST(length(text) AS BIGINT) AS y,
                 CAST(1 AS BIGINT) AS x0,
                 CAST(len({toks}) AS BIGINT) AS x1,
                 CAST(len(list_distinct({toks})) AS BIGINT) AS x2
          FROM documents
        ), nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        it0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0,
                       CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2)"""
    ]
    for k in range(iters + 1):
        d = (
            f"(x0*(SELECT w0 FROM it{k}) + x1*(SELECT w1 FROM it{k})"
            f" + x2*(SELECT w2 FROM it{k}))"
        )
        r = f"(y - {_tdiv_sql(d, LINREG_S)})"
        parts.append(
            f"""g{k} AS MATERIALIZED (
          SELECT CAST(sum({r} * {r}) AS BIGINT) AS sse,
                 CAST(sum(x0 * {r}) AS BIGINT) AS g0,
                 CAST(sum(x1 * {r}) AS BIGINT) AS g1,
                 CAST(sum(x2 * {r}) AS BIGINT) AS g2
          FROM base
        )"""
        )
        if k < iters:
            step = lambda gj: _tdiv_sql(  # noqa: E731
                _tdiv_sql(f"(SELECT {gj} FROM g{k})", "(SELECT n FROM nn)")
                + f" * {LINREG_S}",
                str(LINREG_DEN),
            )
            parts.append(
                f"""it{k + 1} AS MATERIALIZED (
          SELECT w0 + {step('g0')} AS w0,
                 w1 + {step('g1')} AS w1,
                 w2 + {step('g2')} AS w2
          FROM it{k}
        )"""
            )
    sel = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS iter, w0 AS w0_micro, w1 AS w1_micro,"
        f" w2 AS w2_micro, (SELECT sse FROM g{k}) AS sse FROM it{k}"
        for k in range(iters + 1)
    )
    return "WITH " + ",\n        ".join(parts) + "\n        " + sel


ORACLE["q_quality_linreg"] = _linreg_oracle()


# ---------------------------------------------------------------------------
# Integer-exact distributed Lloyd's k-means (r9)
# ---------------------------------------------------------------------------

KMEANS_ITERS = 5
KMEANS_K = 3  # the oracle unroll and the CASE assignment are written for 3


def q_kmeans_docstats(
    spark: SparkSession, sf_dir: str, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Distributed Lloyd's k-means under the full hash gate: cluster
    documents on integer token-stat features (n_tokens, n_distinct,
    n_chars) for ``iters`` rounds, engine-exact.  This is the TRAINING
    LOOP of the IVF quantizer (operators/similarity.py:1256) made
    bit-portable: there the centroids are float means over a sampled
    corpus (inherently order-sensitive, hence that family is rows-only);
    here every distance, assignment, and centroid update is an integer
    op, so the full trajectory hash-matches a DuckDB unroll.

    Execution shape is the ``q_quality_linreg`` primitive: per round ONE
    map-side-combined aggregate over the corpus (conditional sums per
    centroid — no shuffle wider than the final 1-row reduce), centroids
    re-literalized on the driver.  Assignment is a pure map-side CASE
    over K=3 literal centroids; ties break to the LOWEST cid on both
    engines.  Centroid update is the truncated mean (``_tdiv_py``);
    an emptied cluster keeps its previous centroid.  Init: the features
    of the K smallest doc_ids (deterministic, no RNG).

    Overflow headroom: sum(d2) needs n·3·max_coord² < 2^63 — at these
    feature bounds (n_chars ≲ 10⁴) that is ~3·10¹⁰ docs per partition
    sum; at 100 TB the per-round cost is one corpus scan + a 15-number
    aggregate, and rounds are a small constant.

    Output: one row per (iter, cid) with the STANDING centroid used for
    that round's assignment, the resulting cluster size, and the total
    inertia (sum of min squared distances) under those centroids."""
    from ..operators.dedup import tokens_expr
    from ..util import bounded_cache

    docs = load(spark, sf_dir, "documents")
    base = bounded_cache(
        docs.select(
            F.col("doc_id"),
            F.size(tokens_expr()).cast("long").alias("x1"),
            F.size(F.array_distinct(tokens_expr())).cast("long").alias("x2"),
            F.col("n_chars").cast("long").alias("x3"),
        )
    )
    k = KMEANS_K
    init = base.orderBy("doc_id").limit(k).collect()  # bounded: K rows
    if len(init) < k:
        raise ValueError(
            f"q_kmeans_docstats needs at least {k} documents to seed "
            f"{k} centroids; corpus has {len(init)}"
        )
    cents = [(int(r["x1"]), int(r["x2"]), int(r["x3"])) for r in init]
    rows = []
    for it in range(iters + 1):
        d = [
            f"((x1-({c[0]}))*(x1-({c[0]})) + (x2-({c[1]}))*(x2-({c[1]}))"
            f" + (x3-({c[2]}))*(x3-({c[2]})))"
            for c in cents
        ]
        cid = (
            f"(CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN 0 "
            f"WHEN {d[1]} <= {d[2]} THEN 1 ELSE 2 END)"
        )
        dmin = (
            f"(CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN {d[0]} "
            f"WHEN {d[1]} <= {d[2]} THEN {d[1]} ELSE {d[2]} END)"
        )
        exprs = [f"CAST(sum({dmin}) AS BIGINT) AS inertia"]
        for j in range(k):
            exprs.append(
                f"CAST(sum(CASE WHEN {cid} = {j} THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS n{j}"
            )
            for fi, fn in enumerate(("x1", "x2", "x3")):
                exprs.append(
                    f"CAST(sum(CASE WHEN {cid} = {j} THEN {fn} ELSE 0 END)"
                    f" AS BIGINT) AS s{j}_{fi}"
                )
        agg = base.selectExpr(*exprs).first()
        inertia = int(agg["inertia"])
        for j in range(k):
            rows.append(
                (it, j, int(agg[f"n{j}"]), cents[j][0], cents[j][1],
                 cents[j][2], inertia)
            )
        if it == iters:
            break
        nxt = []
        for j in range(k):
            nj = int(agg[f"n{j}"])
            if nj > 0:
                nxt.append(
                    tuple(_tdiv_py(int(agg[f"s{j}_{fi}"]), nj) for fi in range(3))
                )
            else:  # emptied cluster keeps its centroid (both engines)
                nxt.append(cents[j])
        cents = nxt
    return spark.createDataFrame(
        rows,
        "iter int, cid int, size long, c_tokens long, c_distinct long,"
        " c_chars long, inertia long",
    )


QUERIES["q_kmeans_docstats"] = q_kmeans_docstats


def _kmeans_oracle(iters: int = KMEANS_ITERS, k: int = KMEANS_K) -> str:
    """Unrolled-CTE twin of the Lloyd loop (the linreg oracle pattern):
    it{r} carries the standing centroids, a{r} the per-doc assignment
    (ROW_NUMBER over (d2, cid) = the Spark CASE's lowest-cid tie rule),
    g{r} the per-cluster sums, i{r} the inertia; every CTE MATERIALIZED
    so DuckDB evaluates each exactly once."""
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    parts = [
        f"""base AS MATERIALIZED (
          SELECT doc_id,
                 CAST(len({toks}) AS BIGINT) AS x1,
                 CAST(len(list_distinct({toks})) AS BIGINT) AS x2,
                 CAST(n_chars AS BIGINT) AS x3
          FROM documents
        ), it0 AS MATERIALIZED (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS INTEGER)
                   AS cid,
                 x1 AS c1, x2 AS c2, x3 AS c3
          FROM (SELECT * FROM base ORDER BY doc_id LIMIT {k})
        )"""
    ]
    for r in range(iters + 1):
        parts.append(
            f"""a{r} AS MATERIALIZED (
          SELECT doc_id, x1, x2, x3, cid, d2,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d2, cid)
                   AS rn
          FROM (SELECT b.doc_id, b.x1, b.x2, b.x3, c.cid,
                       (b.x1-c.c1)*(b.x1-c.c1) + (b.x2-c.c2)*(b.x2-c.c2)
                       + (b.x3-c.c3)*(b.x3-c.c3) AS d2
                FROM base b CROSS JOIN it{r} c)
        ), g{r} AS MATERIALIZED (
          SELECT cid, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x1) AS BIGINT) AS s1,
                 CAST(sum(x2) AS BIGINT) AS s2,
                 CAST(sum(x3) AS BIGINT) AS s3
          FROM a{r} WHERE rn = 1 GROUP BY cid
        ), i{r} AS MATERIALIZED (
          SELECT CAST(sum(d2) AS BIGINT) AS inertia FROM a{r} WHERE rn = 1
        )"""
        )
        if r < iters:
            upd = lambda s: _tdiv_sql(f"g.{s}", "g.n")  # noqa: E731
            parts.append(
                f"""it{r + 1} AS MATERIALIZED (
          SELECT c.cid,
                 COALESCE({upd('s1')}, c.c1) AS c1,
                 COALESCE({upd('s2')}, c.c2) AS c2,
                 COALESCE({upd('s3')}, c.c3) AS c3
          FROM it{r} c LEFT JOIN g{r} g USING (cid)
        )"""
            )
    sel = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS iter, c.cid,"
        f" COALESCE(g.n, CAST(0 AS BIGINT)) AS size,"
        f" c.c1 AS c_tokens, c.c2 AS c_distinct, c.c3 AS c_chars,"
        f" (SELECT inertia FROM i{r}) AS inertia"
        f" FROM it{r} c LEFT JOIN g{r} g USING (cid)"
        for r in range(iters + 1)
    )
    return "WITH " + ",\n        ".join(parts) + "\n        " + sel


ORACLE["q_kmeans_docstats"] = _kmeans_oracle()


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the co-purchase graph (parts
    that share an order), exact under the hash gate — the graph-
    analytics primitive next to ``q_part_pagerank``.

    Scale design is the textbook degree orientation: every undirected
    edge points from its (degree, id)-smaller endpoint to the larger,
    making the graph a DAG whose max out-degree is O(sqrt(m)); each
    triangle then appears EXACTLY once as a wedge u->v->w closed by
    u->w, so enumeration is two hash joins bounded by sum(outdeg^2) =
    O(m^1.5) instead of the naive sum(deg^2) that a high-degree hub
    blows up (the reason plain wedge counting dies on power-law graphs
    at 100 TB).  Edge construction groups each order's part set once
    (orders are small) and explodes ordered pairs — one shuffle, never
    a lineitem self-join.

    Output: one row — nodes, edges, oriented wedges, triangles.

    The oriented edge list is a DERIVED GRAPH ARTIFACT, warehouse-
    memoized per corpus snapshot (``_oriented_edges_memo`` — VERDICT r12
    #3): at 100 TB every graph query re-deriving edges from lineitem
    (distinct → collect_set → pair explode → distinct → two degree
    joins) repays the dominant cost of the analysis; built once and
    persisted, each query pays only the wedge enumeration over a
    partition-pruned parquet read.  Determinism makes the memo
    content-invisible — the hash gate sees identical numbers either
    way."""
    from ..util import bounded_cache

    o = bounded_cache(_oriented_edges_memo(spark, sf_dir))
    # closure by SORTED-ADJACENCY INTERSECTION instead of a wedge join
    # (r13): the degree orientation is derived from a total order, so a
    # triangle {x,y,z} (order x<y<z) has edges x→y, x→z, y→z and is
    # counted exactly once as |A(x) ∩ A(y)| for edge (x,y) over
    # out-adjacency sets A.  The element-comparison work is the same
    # Σ outdeg² = O(m^1.5), but it runs INSIDE whole-stage codegen on
    # per-row arrays (each bounded O(sqrt m) by the orientation) —
    # the previous o1⋈o2 wedge enumeration materialized and shuffled
    # every wedge as a row (49M rows at sf0.1 for 1.2M edges), which is
    # exactly the blow-up that kills the plan at 100 TB.
    adj = o.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    ax = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nx"))
    ay = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("ny"))
    tri = (
        o.withColumnRenamed("src", "u")
        .withColumnRenamed("dst", "v")
        .join(ax, "u")  # every u has out-edges by construction
        .join(ay, "v", "left")  # a sink v has no adjacency row
        .select(
            F.size(
                F.array_intersect(F.col("nx"), F.coalesce(F.col("ny"), F.array()))
            ).alias("c")
        )
        .agg(F.sum("c").alias("t"))
    )
    # wedge count without enumerating wedges: Σ_v in(v)·out(v)
    din = o.groupBy("dst").agg(F.count("*").alias("i"))
    dout = o.groupBy("src").agg(F.count("*").alias("j"))
    n_wedges = (
        din.join(dout, din.dst == dout.src)
        .select(F.sum(F.col("i") * F.col("j")).alias("w"))
        .first()["w"]
    )
    # node/edge counts derive from the artifact: orientation is a
    # bijection on edges, and every node of the co-purchase graph has
    # degree ≥ 1 (it exists only through an edge), so nodes(o) = nodes
    n_nodes = (
        o.select(F.col("src").alias("n"))
        .unionAll(o.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    return spark.createDataFrame(
        [
            (
                n_nodes,
                o.count(),
                int(n_wedges or 0),
                int(tri.first()["t"] or 0),
            )
        ],
        "n_nodes long, n_edges long, n_wedges long, n_triangles long",
    )


def _build_oriented_edges(li: DataFrame) -> DataFrame:
    """Degree-oriented co-purchase edge list from lineitem (see
    ``q_triangle_count``): each undirected edge points from its
    (degree, id)-smaller endpoint to the larger — a DAG with max
    out-degree O(sqrt(m))."""
    from ..util import bounded_cache

    parts_per_order = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    edges = bounded_cache(
        parts_per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )


def _oriented_edges_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once-per-corpus oriented edge list, persisted through the
    staging protocol under a CONTENT-KEYED account (lineitem's input
    files + mtimes) in the shared scratch root — the
    ``ivf_centroids_memo`` discipline for graph artifacts, and
    cross-process by construction: concurrent builders race one
    explicit batch id through the warehouse's exactly-once commit, so
    whichever driver lands first publishes the artifact and every other
    reads it.  A source rewrite changes the key and triggers a fresh
    build; frames with no stable identity (no input files) skip the
    memo."""
    import hashlib
    import os
    import tempfile

    from ..operators.staging import StagingWarehouse

    li = load(spark, sf_dir, "lineitem")
    files = sorted(li.inputFiles())
    if not files:
        return _build_oriented_edges(li)
    sig = hashlib.md5()
    for f in files:
        try:
            mt = os.path.getmtime(f.removeprefix("file:"))
        except OSError:
            mt = 0.0
        sig.update(f"{f}:{mt}".encode())
    wh = StagingWarehouse(
        spark,
        os.path.join(tempfile.gettempdir(), "spark_graft_memo"),
        # "gen": the key also names the staging layout the memo is
        # stored in (generation manifests), so a memo an older build
        # left in another layout is never read
        account_id="tri_gen_" + sig.hexdigest()[:16],
    )
    if not wh.exists("oriented_edges"):
        wh.write(
            _build_oriented_edges(li),
            "oriented_edges",
            incremental=True,
            batch_id="full",
        )
    return wh.read("oriented_edges")


QUERIES["q_triangle_count"] = q_triangle_count

ORACLE["q_triangle_count"] = """
    WITH pp AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM pp x JOIN pp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      GROUP BY n
    ), o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst
      FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b
    ), w AS (
      SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
      FROM o o1 JOIN o o2 ON o1.dst = o2.src
    ), t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM w JOIN o o3 ON o3.src = w.u AND o3.dst = w.w
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
           (SELECT n_triangles FROM t) AS n_triangles
"""


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over the landed star — the
    dbt-test / Great-Expectations shape a warehouse runs after every
    load, as ONE operator: each rule is a counted predicate, the report
    is (rule, n_violations, n_checked, passed).  Rules cover the four
    standard families on orders/lineitem: primary-key uniqueness,
    not-null, referential integrity (lineitem→orders, the q_orphan_audit
    predicate as a count), and domain/range checks (non-negative price,
    discount in [0,1], shipdate ≥ orderdate).

    Scale shape: the not-null/domain rules fold into ONE map-side-
    combined aggregate per table (conditional sums over a single scan);
    uniqueness is one groupBy on the key; the referential check is one
    left-anti join on the key both tables are naturally queried by.  No
    rule materializes violating ROWS (counts only) — the 100 TB posture
    is count-first, then targeted row dumps only for failed rules."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    n_orders = orders.count()
    n_li = li.count()

    dup_pk = (
        orders.groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    # F.sum over ZERO rows yields NULL, and the DQ suite is exactly the
    # op pointed at suspect/degenerate loads — coalesce every conditional
    # sum so an empty table reports 0 violations / 0 checked (ADVICE r9)
    o_agg = orders.select(
        F.coalesce(
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("null_cust"),
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)), F.lit(0)
        ).alias("neg_price"),
    ).first()
    li_agg = li.select(
        F.coalesce(
            F.sum(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("bad_disc"),
        F.coalesce(
            F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)), F.lit(0)
        ).alias("bad_qty"),
    ).first()
    orphans = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").count()
    late_ship = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .count()
    )

    rows = [
        ("orders_pk_unique", int(dup_pk), n_orders),
        ("orders_custkey_not_null", int(o_agg["null_cust"]), n_orders),
        ("orders_totalprice_nonnegative", int(o_agg["neg_price"]), n_orders),
        ("lineitem_discount_in_unit_range", int(li_agg["bad_disc"]), n_li),
        ("lineitem_quantity_positive", int(li_agg["bad_qty"]), n_li),
        ("lineitem_orderkey_references_orders", int(orphans), n_li),
        ("lineitem_shipdate_not_before_orderdate", int(late_ship), n_li),
    ]
    return spark.createDataFrame(
        [(r, v, n, v == 0) for r, v, n in rows],
        "rule string, n_violations long, n_checked long, passed boolean",
    )


QUERIES["q_dq_expectations"] = q_dq_expectations

ORACLE["q_dq_expectations"] = """
    WITH r1 AS (
      SELECT CAST(count(*) AS BIGINT) AS v FROM (
        SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
    ), r2 AS (
      SELECT CAST(COALESCE(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v,
             CAST(COALESCE(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS w,
             CAST(count(*) AS BIGINT) AS n
      FROM orders
    ), r3 AS (
      SELECT CAST(COALESCE(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v,
             CAST(COALESCE(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS w,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
    ), r4 AS (
      SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ), r5 AS (
      SELECT CAST(count(*) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate < o.o_orderdate
    )
    SELECT 'orders_pk_unique' AS rule, (SELECT v FROM r1) AS n_violations,
           (SELECT n FROM r2) AS n_checked, (SELECT v FROM r1) = 0 AS passed
    UNION ALL
    SELECT 'orders_custkey_not_null', (SELECT v FROM r2),
           (SELECT n FROM r2), (SELECT v FROM r2) = 0
    UNION ALL
    SELECT 'orders_totalprice_nonnegative', (SELECT w FROM r2),
           (SELECT n FROM r2), (SELECT w FROM r2) = 0
    UNION ALL
    SELECT 'lineitem_discount_in_unit_range', (SELECT v FROM r3),
           (SELECT n FROM r3), (SELECT v FROM r3) = 0
    UNION ALL
    SELECT 'lineitem_quantity_positive', (SELECT w FROM r3),
           (SELECT n FROM r3), (SELECT w FROM r3) = 0
    UNION ALL
    SELECT 'lineitem_orderkey_references_orders', (SELECT v FROM r4),
           (SELECT n FROM r3), (SELECT v FROM r4) = 0
    UNION ALL
    SELECT 'lineitem_shipdate_not_before_orderdate', (SELECT v FROM r5),
           (SELECT n FROM r3), (SELECT v FROM r5) = 0
"""


def _skew_stats(df: DataFrame, key: str, table: str) -> DataFrame:
    """One-row skew profile for a join/aggregation key: exact per-key
    counts reduce to a per-COUNT histogram (rows = distinct count
    values, tiny at any scale), a cumulative scan locates the exact
    p99 count (rank k = (n_keys-1)*99 div 100 + 1 — the discrete
    percentile, no float interpolation), and the salt suggestion is
    ceil(max/p99): the replication factor that levels the hottest key
    to the p99 partition load.  All integer arithmetic on non-negative
    operands, so the profile hash-gates."""
    from pyspark.sql import Window

    cnts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    tot = cnts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_rows"),
    )
    hist = cnts.groupBy("cnt").agg(F.count("*").cast("long").alias("nk"))
    cum = hist.withColumn(
        "cum",
        F.sum("nk").over(
            Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    p99 = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.expr("(n_keys - 1) * 99 div 100 + 1"))
        .agg(F.min("cnt").cast("long").alias("p99_rows"))
    )
    return tot.crossJoin(F.broadcast(p99)).select(
        F.lit(table).alias("table_name"),
        F.lit(key).alias("key_col"),
        "n_keys",
        "n_rows",
        "max_rows",
        "p99_rows",
        F.expr("n_rows * 1000000 div n_keys").cast("long").alias("avg_rows_x1e6"),
        F.expr("max_rows * 1000000 div p99_rows").cast("long").alias("skew_x1e6"),
        F.expr("(max_rows + p99_rows - 1) div p99_rows").cast("long").alias(
            "suggested_salt"
        ),
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the measurement that sizes the salting
    every 100 TB shuffle plan needs BEFORE it hits the straggler: per
    analyzed key, exact cardinality, max and exact-p99 per-key loads,
    the max/p99 skew ratio, and the suggested salt factor (ceil of it).
    The heavy groupBy is the same shuffle the production join would do;
    everything after it is histogram-sized.  Covers the fact-table user
    key (events.user_id) and the star join key (lineitem.l_suppkey)."""
    ev = load(spark, sf_dir, "events")
    li = load(spark, sf_dir, "lineitem")
    return _skew_stats(ev, "user_id", "events").unionByName(
        _skew_stats(li, "l_suppkey", "lineitem")
    )


QUERIES["q_skew_report"] = q_skew_report


def _skew_sql(table: str, key: str) -> str:
    return f"""
      SELECT '{table}' AS table_name, '{key}' AS key_col,
             s.n_keys, s.n_rows, s.max_rows, p.p99_rows,
             s.n_rows * 1000000 // s.n_keys AS avg_rows_x1e6,
             s.max_rows * 1000000 // p.p99_rows AS skew_x1e6,
             (s.max_rows + p.p99_rows - 1) // p.p99_rows AS suggested_salt
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS max_rows
        FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM {table}
              GROUP BY {key})
      ) s CROSS JOIN (
        SELECT CAST(min(cnt) AS BIGINT) AS p99_rows FROM (
          SELECT cnt, sum(nk) OVER (ORDER BY cnt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM (SELECT cnt, CAST(count(*) AS BIGINT) AS nk FROM
                  (SELECT CAST(count(*) AS BIGINT) AS cnt FROM {table}
                   GROUP BY {key})
                GROUP BY cnt)
        ) c, (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM
                (SELECT 1 AS one FROM {table} GROUP BY {key})) t
        WHERE c.cum >= (t.n_keys - 1) * 99 // 100 + 1
      ) p
    """


ORACLE["q_skew_report"] = (
    _skew_sql("events", "user_id")
    + "\n    UNION ALL\n"
    + _skew_sql("lineitem", "l_suppkey")
)


def k1_cdc_poll_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental CDC consumer under the hash gate — the
    composition VERDICT r9 #6 pointed at: an append-only SOURCE table
    accrues three immutable batches; after each commit a polling
    consumer reads ``table_changes(last_seen, newest)`` (the batch-id
    watermark feed, pruned at file listing), applies it into a TARGET
    under a (user_id, event_id) upsert contract, and advances its
    consumer watermark through the CONTROL store (K5/K6 — the
    reference's lastRun machinery reused as the consumer offset).  The
    final target read must equal latest-event-per-user over the whole
    stream — however the polls were chopped."""
    import os as _os

    from ..operators.staging import StagingWarehouse
    from ..sources.control import ControlStore
    from ..util import scratch_dir

    root = scratch_dir("spark_graft_poll_")
    src = StagingWarehouse(spark, root, account_id="cdcsrc")
    tgt = StagingWarehouse(spark, root, account_id="cdctgt")
    store = ControlStore(_os.path.join(root, "control.json"))
    store.insert_config(
        {
            "datasourceName": "cdc_poll_demo",
            "uri": "https://example.invalid/odata/",
            "accountID": "cdcsrc",
            "systemTimezone": "UTC",
            "sourceSystem": "staging",
            "entities": [
                {
                    "EntityID": "RAW_EVENTS",
                    "filterFlag": True,
                    "filterField": "ingest_batch",
                    "expand": [],
                    "lastRun": "",
                    "dataStartDate": "2024-01-01 00:00:00",
                }
            ],
        },
        datasource_id="poll",
    )
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tgt.set_upsert_keys("user_state", ["user_id"], "event_id")
    slices = [
        ("b1", ev.filter(F.col("ts") < "2024-01-10")),
        ("b2", ev.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20"))),
        ("b3", ev.filter(F.col("ts") >= "2024-01-20")),
    ]
    for bid, batch in slices:
        src.write(batch, "raw_events", incremental=True, batch_id=bid)
        last = store.latest_config("poll")["entities"][0]["lastRun"]
        feed = src.table_changes("raw_events", last, bid)
        tgt.write(
            feed.drop("_change_type"),
            "user_state",
            incremental=True,
            batch_id=f"apply-{bid}",
        )
        store.update_last_run("poll", "RAW_EVENTS", value=bid)
    return tgt.read("user_state").select(
        "user_id", "event_id", "event_type", "value"
    )


QUERIES["k1_cdc_poll_cycle"] = k1_cdc_poll_cycle

# twin: the consumer must converge to latest-event-per-user over the
# whole stream, however the polls were chopped
ORACLE["k1_cdc_poll_cycle"] = """
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
               AS rn
      FROM events
    ) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# skew measurement → plan loop (VERDICT r10 #1)
# ---------------------------------------------------------------------------


def j_skew_salted_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew measurement→plan loop closed, under the hash gate: the
    BI-spec star join (lineitem ⋈ supplier on the fact key the standing
    ``q_skew_report`` diagnostic measures) executed through
    ``salted_join`` with the salt count AUTO-SIZED by ``skew_probe`` —
    one pass over the fact side measures the max/p99 per-key load ratio,
    ``plan_skew_mitigation`` turns it into ceil(max/p99) salts, and the
    join runs on the (key, salt) composite shuffle key with the build
    side exploded ×salts (never hand-picked; tests pin the probe's read
    and the salted physical plan).  Salting is plan-level only, so the
    aggregate is bit-identical to the plain-SQL star join the oracle
    runs.  On this corpus supplier would broadcast; the salted path is
    the 100 TB shape where the dimension is broadcast-ineligible and one
    hot l_suppkey stalls the sort-merge — a probe that reads uniform
    (mitigate=False) degrades to exactly that plain join."""
    from ..operators.skew import salted_join, skew_probe

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )
    su = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    plan = skew_probe(li, ["l_suppkey"])
    j = salted_join(li, su, ["l_suppkey"], salts=plan)
    return j.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        as_double(F.sum(dec("l_quantity"))).alias("sum_qty"),
        as_double(F.sum(dec("l_extendedprice", precision=18))).alias("revenue"),
    )


QUERIES["j_skew_salted_star"] = j_skew_salted_star


def j_skew_plan_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-plan PERSISTENCE closing the probe-once loop (VERDICT r11
    #6): the first star join over the fact table probes the per-key load
    and persists the resulting SkewPlan through the ControlStore's
    artifact log keyed by (table, join keys); the second join — here a
    different aggregate over the same fact/key, the production shape
    where a star family shares one fact table — CONSUMES the stored plan
    and never re-probes (``skew_plan_for`` pays one footer-driven
    count() for the row-count staleness fence instead of the probe's
    shuffle; pinned by call-count in tests/test_skew.py).  The returned
    frame is the second join's rollup, so the hash gate certifies that a
    replayed plan salts to the identical result the plain SQL join
    computes."""
    import os as _os

    from ..operators.skew import salted_join, skew_plan_for
    from ..sources.control import ControlStore
    from ..util import scratch_dir

    store = ControlStore(
        _os.path.join(scratch_dir("spark_graft_skewplan_"), "control.json")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )
    su = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    p1 = skew_plan_for(li, ["l_suppkey"], store=store, table="lineitem")
    # first member of the star family: forces the probe + persist
    salted_join(li, su, ["l_suppkey"], salts=p1).count()
    # second member: reads the artifact (fresh store handle = a new run)
    store2 = ControlStore(store.path)
    p2 = skew_plan_for(li, ["l_suppkey"], store=store2, table="lineitem")
    j = salted_join(li, su, ["l_suppkey"], salts=p2)
    return j.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        as_double(F.min(dec("l_quantity"))).alias("min_qty"),
        as_double(F.max(dec("l_extendedprice", precision=18))).alias("max_price"),
    )


QUERIES["j_skew_plan_reuse"] = j_skew_plan_reuse

ORACLE["j_skew_plan_reuse"] = """
    SELECT s_nationkey, count(*) AS n_items,
           CAST(CAST(ROUND(MIN(CAST(l_quantity AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS min_qty,
           CAST(CAST(ROUND(MAX(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS max_price
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
"""

# twin: the plain star join — salting must be invisible in the result
ORACLE["j_skew_salted_star"] = """
    SELECT s_nationkey, count(*) AS n_items,
           CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
"""
