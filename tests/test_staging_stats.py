"""Zone-map data skipping (operators/stats.py + read(where=...)).

Pins:
- semantics: read(where=...) row-identical to read().filter(...) across
  multi-batch tables, composed with as_of;
- skipping is REAL: disproved batches/files vanish from inputFiles()
  (batch-level on range-partitioned appends, file-level inside a
  z-ordered rewrite);
- soundness rails: missing/torn sidecars fail open; schema evolution
  keeps the pruned batch's column via the schema guard; upsert tables
  prune only on PK conjuncts (a value-column prune would resurrect a
  stale version — pinned with a crafted shadowing table);
- the _disproves envelope math over the full operator matrix.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from priority_data_pipeline_postgres_db_spark.operators import stats as zm
from priority_data_pipeline_postgres_db_spark.operators.staging import (
    StagingWarehouse,
)


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _batch_of(path: str) -> str:
    """ingest_batch=<id> path segment of an input file path."""
    for seg in path.split(os.sep):
        if seg.startswith("ingest_batch="):
            return seg.split("=", 1)[1]
    return "?"


def _three_band_orders(spark, orders, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="zm")
    od = orders
    wh.write(od.filter(F.col("o_totalprice") < 100000), "orders_zm",
             incremental=True, batch_id="b1")
    wh.write(od.filter((F.col("o_totalprice") >= 100000)
                       & (F.col("o_totalprice") < 200000)), "orders_zm",
             incremental=True, batch_id="b2")
    wh.write(od.filter(F.col("o_totalprice") >= 200000), "orders_zm",
             incremental=True, batch_id="b3")
    return wh


# ---------------------------------------------------------------- sidecar

def test_sidecar_written_with_correct_envelope(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    stats = wh.table_stats("orders_zm")
    assert set(stats) == {"b1", "b2", "b3"}
    for bid, hi in [("b1", 100000), ("b2", 200000)]:
        sc = stats[bid]
        assert sc is not None and sc["rows"] > 0
        env = sc["batch"]["o_totalprice"]
        assert env["t"] == "f"
        assert env["mx"] < hi
        assert "o_orderkey" in sc["columns"]
    # envelope equals the actual column bounds of the batch
    b1 = orders.filter(F.col("o_totalprice") < 100000).agg(
        F.min("o_totalprice"), F.max("o_totalprice")).first()
    env = stats["b1"]["batch"]["o_totalprice"]
    assert env["mn"] == b1[0] and env["mx"] == b1[1]


def test_sidecar_survives_compact_and_refresh(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    wh.compact("orders_zm", pk=["o_orderkey"], order_col="o_orderkey")
    stats = wh.table_stats("orders_zm")
    assert len(stats) == 1
    (sc,) = stats.values()
    assert sc is not None and sc["batch"]["o_totalprice"] is not None
    wh.write(orders.limit(50), "orders_zm", incremental=False)
    (sc2,) = wh.table_stats("orders_zm").values()
    assert sc2 is not None and sc2["rows"] == 50


# ------------------------------------------------------------- semantics

def test_where_equals_filter(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    where = [("o_totalprice", ">=", 150000.0)]
    got = wh.read("orders_zm", where=where)
    want = wh.read("orders_zm").filter(F.col("o_totalprice") >= 150000.0)
    assert _rows(got) == _rows(want)
    assert sorted(got.columns) == sorted(want.columns)


def test_where_ops_matrix_against_filter(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    plain = wh.read("orders_zm")
    cases = [
        ([("o_orderpriority", "==", "1-URGENT")],
         F.col("o_orderpriority") == "1-URGENT"),
        ([("o_orderpriority", "!=", "1-URGENT")],
         F.col("o_orderpriority") != "1-URGENT"),
        ([("o_totalprice", "<", 50000.0)], F.col("o_totalprice") < 50000.0),
        ([("o_totalprice", "<=", 50000.0)], F.col("o_totalprice") <= 50000.0),
        ([("o_totalprice", ">", 250000.0)], F.col("o_totalprice") > 250000.0),
        ([("o_totalprice", ">=", 250000.0)], F.col("o_totalprice") >= 250000.0),
        ([("o_orderpriority", "in", ["2-HIGH", "5-LOW"])],
         F.col("o_orderpriority").isin("2-HIGH", "5-LOW")),
        ([("o_totalprice", "between", (120000.0, 180000.0))],
         F.col("o_totalprice").between(120000.0, 180000.0)),
        ([("o_totalprice", ">", 150000.0), ("o_orderpriority", "==", "2-HIGH")],
         (F.col("o_totalprice") > 150000.0)
         & (F.col("o_orderpriority") == "2-HIGH")),
    ]
    for where, cond in cases:
        assert _rows(wh.read("orders_zm", where=where)) == _rows(
            plain.filter(cond)
        ), where


def test_unknown_op_raises(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    with pytest.raises(ValueError, match="unsupported where operator"):
        wh.read("orders_zm", where=[("o_totalprice", "like", "x")])


def test_where_composes_with_as_of(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    got = wh.read("orders_zm", as_of="b2", where=[("o_totalprice", ">", 50000.0)])
    want = wh.read("orders_zm", as_of="b2").filter(F.col("o_totalprice") > 50000.0)
    assert _rows(got) == _rows(want)


def test_all_batches_pruned_keeps_schema_zero_rows(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    got = wh.read("orders_zm", where=[("o_totalprice", "<", -1.0)])
    assert got.count() == 0
    assert set(got.columns) == set(wh.read("orders_zm").columns)


# -------------------------------------------------------------- skipping

def test_batch_pruning_from_file_listing(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    df = wh.read("orders_zm", where=[("o_totalprice", ">=", 210000.0)])
    touched = {_batch_of(p) for p in df.inputFiles()}
    assert touched == {"b3"}  # b1/b2 pruned before the listing
    # and the unpruned read really does touch all three
    all_touched = {_batch_of(p) for p in wh.read("orders_zm").inputFiles()}
    assert all_touched == {"b1", "b2", "b3"}


def test_file_level_pruning_after_zorder(spark, tmp_path):
    # clustered rewrite gives every file a tight z-range; the 2-D where
    # must touch a strict subset of files at PLANNING (inputFiles), not
    # just skip row groups at scan
    n = 4000
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.floor(F.col("id") / 64) % 64).alias("y"),
            F.col("id").alias("payload"),
        )
    )
    wh = StagingWarehouse(spark, str(tmp_path), account_id="zf")
    wh.write(df.repartition(8), "grid", incremental=False)
    wh.rewrite_clustered("grid", zorder_by=["x", "y"], n_files=8)
    where = [("x", "between", (4, 12)), ("y", "between", (4, 12))]
    pruned = wh.read("grid", where=where)
    total_files = len(wh.data_files("grid"))
    assert total_files >= 4
    assert len(pruned.inputFiles()) < total_files
    want = wh.read("grid").filter(
        F.col("x").between(4, 12) & F.col("y").between(4, 12)
    )
    assert _rows(pruned) == _rows(want)


# -------------------------------------------------------------- fail-open

def test_missing_and_torn_sidecar_fail_open(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    path = wh._path("orders_zm")
    os.remove(os.path.join(path, "ingest_batch=b1", zm.STATS_FILE))
    with open(os.path.join(path, "ingest_batch=b2", zm.STATS_FILE), "w") as fh:
        fh.write('{"v": 1, "colum')  # torn JSON
    where = [("o_totalprice", ">=", 210000.0)]
    got = wh.read("orders_zm", where=where)
    want = wh.read("orders_zm").filter(F.col("o_totalprice") >= 210000.0)
    assert _rows(got) == _rows(want)
    # b1/b2 kept (no usable stats), b3 kept (satisfies) — nothing pruned
    assert {_batch_of(p) for p in got.inputFiles()} == {"b1", "b2", "b3"}


def test_schema_evolution_guard(spark, orders, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="se")
    od = orders
    wh.write(od.filter(F.col("o_totalprice") < 150000), "t", incremental=True,
             batch_id="b1")
    wh.write(
        od.filter(F.col("o_totalprice") >= 150000).withColumn(
            "extra", F.lit("x")
        ),
        "t", incremental=True, batch_id="b2",
    )
    # the predicate disproves b2 — the ONLY batch carrying 'extra'; the
    # guard must keep (one file of) it so the merged schema is stable
    got = wh.read("t", where=[("o_totalprice", "<", 100000.0)])
    assert "extra" in got.columns
    want = wh.read("t").filter(F.col("o_totalprice") < 100000.0)
    assert _rows(got) == _rows(want)
    # absent-column rule: a predicate on 'extra' prunes pre-evolution b1
    got2 = wh.read("t", where=[("extra", "==", "x")])
    assert {_batch_of(p) for p in got2.inputFiles()} == {"b2"}
    assert _rows(got2) == _rows(wh.read("t").filter(F.col("extra") == "x"))


# ---------------------------------------------------------------- upsert

def test_upsert_table_prunes_pk_only(spark, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="up")
    spark_range = spark.createDataFrame
    b1 = spark_range([(1, 1, 100.0), (2, 1, 60.0)], "id long, v long, val double")
    b2 = spark_range([(1, 2, 3.0)], "id long, v long, val double")
    wh.write(b1, "s", incremental=True, batch_id="b1")
    wh.write(b2, "s", incremental=True, batch_id="b2")
    wh.set_upsert_keys("s", ["id"], "v")
    # newest version of id=1 has val=3.0 → fails the predicate; a naive
    # value-column prune would drop b2 (val-range [3,3] disproved) and
    # resurrect the stale val=100 version.  Must return ONLY id=2.
    got = wh.read("s", where=[("val", ">", 50.0)])
    # sorted column order: (id, v, val)
    assert _rows(got) == _rows(
        wh.read("s").filter(F.col("val") > 50.0)
    ) == [(2, 1, 60.0)]
    # value conjunct did NOT prune: both batches still read
    assert {_batch_of(p) for p in got.inputFiles()} == {"b1", "b2"}
    # ... but a PK conjunct DOES prune (version-invariant), b2 has only id=1
    got_pk = wh.read("s", where=[("id", "==", 2)])
    assert {_batch_of(p) for p in got_pk.inputFiles()} == {"b1"}
    assert _rows(got_pk) == [(2, 1, 60.0)]
    # raw read carries no upsert contract: value pruning applies again
    raw = wh.read("s", raw=True, where=[("val", ">", 50.0)])
    assert {_batch_of(p) for p in raw.inputFiles()} == {"b1"}


# ------------------------------------------- dynamic file pruning (DFP)

def test_join_prune_conjunct_in_and_between(spark):
    dim = spark.createDataFrame([(5,), (9,), (None,)], "k long")
    cj = zm.join_prune_conjunct(dim, "k", "fk")
    assert cj == ("fk", "in", [5, 9])  # NULL dropped: never equi-joins
    big = spark.range(0, 50).select(F.col("id").alias("k"))
    col, op, (lo, hi) = zm.join_prune_conjunct(big, "k", "fk", max_in=10)
    assert (col, op, lo, hi) == ("fk", "between", 0, 49)


def test_dynamic_file_prune_join(spark, orders, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="dfp")
    od = orders
    # bands inside sf0.001's actual custkey range (1..150)
    wh.write(od.filter(F.col("o_custkey") < 75), "o", incremental=True,
             batch_id="b1")
    wh.write(od.filter(F.col("o_custkey") >= 75), "o", incremental=True,
             batch_id="b2")
    # dim keys confined to the first band → b2 provably disjoint
    dim = spark.createDataFrame([(11,), (42,), (63,)], "c long")
    cj = zm.join_prune_conjunct(dim, "c", "o_custkey")
    fact = wh.read("o", where=[cj])
    assert {_batch_of(p) for p in fact.inputFiles()} == {"b1"}
    got = fact.join(F.broadcast(dim), fact["o_custkey"] == F.col("c"))
    want = wh.read("o").join(F.broadcast(dim), F.col("o_custkey") == F.col("c"))
    assert _rows(got) == _rows(want)


def test_empty_dim_prunes_everything(spark, orders, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="dfp0")
    wh.write(orders, "o", incremental=True, batch_id="b1")
    dim = spark.createDataFrame([], "c long")
    cj = zm.join_prune_conjunct(dim, "c", "o_custkey")
    assert cj == ("o_custkey", "in", [])
    got = wh.read("o", where=[cj])
    assert got.count() == 0
    assert set(got.columns) == set(wh.read("o").columns)


# ----------------------------------------- distributed footer pass, cache

def test_distributed_footer_pass_matches_driver_side(spark, tmp_path):
    # >DISTRIBUTE_THRESHOLD files routes the footer reads through a
    # Spark job; the payload must be identical to the driver-side loop
    df = spark.range(7000).select(
        F.col("id"), (F.col("id") % 97).alias("bucket")
    )
    wh = StagingWarehouse(spark, str(tmp_path), account_id="dist")
    wh.write(df.repartition(zm.DISTRIBUTE_THRESHOLD + 8), "wide",
             incremental=True, batch_id="b1")
    bdir = os.path.join(wh._path("wide"), "ingest_batch=b1")
    distributed = zm.load_sidecar(bdir)
    assert distributed is not None
    assert len(distributed["files"]) > zm.DISTRIBUTE_THRESHOLD
    driver_side = zm.write_sidecar(bdir, distributed["columns"], None)
    assert driver_side["files"] == distributed["files"]
    assert driver_side["batch"] == distributed["batch"]
    assert distributed["batch"]["id"] == {"t": "i", "mn": 0, "mx": 6999}


def test_sidecar_cache_invalidates_on_rewrite(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    bdir = os.path.join(wh._path("orders_zm"), "ingest_batch=b1")
    first = zm.load_sidecar(bdir)
    assert zm.load_sidecar(bdir) is first  # cache hit returns same object
    # a changed sidecar (new mtime) must re-parse, not serve stale stats
    payload = dict(first)
    payload["rows"] = 12345
    import time as _t

    _t.sleep(0.01)
    with open(os.path.join(bdir, zm.STATS_FILE), "w") as fh:
        json.dump(payload, fh)
    assert zm.load_sidecar(bdir)["rows"] == 12345


# ------------------------------------------ metadata-only table queries

def test_metadata_row_count_matches_raw_read(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    want = wh.read("orders_zm", raw=True).count()
    assert wh.metadata_row_count("orders_zm") == want
    # composes with time travel
    assert wh.metadata_row_count("orders_zm", as_of="b2") == wh.read(
        "orders_zm", raw=True, as_of="b2"
    ).count()
    # honest refusal once a sidecar is gone
    os.remove(os.path.join(wh._path("orders_zm"), "ingest_batch=b1",
                           zm.STATS_FILE))
    assert wh.metadata_row_count("orders_zm") is None


def test_metadata_row_count_after_expiry(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    wh.expire_snapshots("orders_zm", keep_last=1)
    got = wh.metadata_row_count("orders_zm")
    want = wh.read("orders_zm", raw=True).count()
    # the retention base batch is written by expire_snapshots itself and
    # carries a sidecar like any committed batch
    assert got == want


def test_column_bounds_matches_aggregate(spark, orders, tmp_path):
    wh = _three_band_orders(spark, orders, tmp_path)
    lo, hi = wh.column_bounds("orders_zm", "o_totalprice")
    agg = wh.read("orders_zm").agg(F.min("o_totalprice"),
                                   F.max("o_totalprice")).first()
    assert (lo, hi) == (agg[0], agg[1])
    # string column bounds
    slo, shi = wh.column_bounds("orders_zm", "o_orderpriority")
    sagg = wh.read("orders_zm").agg(F.min("o_orderpriority"),
                                    F.max("o_orderpriority")).first()
    assert (slo, shi) == (sagg[0], sagg[1])
    # unknown column: skipped by every batch → None
    assert wh.column_bounds("orders_zm", "nope") is None


# ------------------------------------------------------------- unit math

def test_disproves_envelope_matrix():
    st = {"t": "i", "mn": 10, "mx": 20}
    yes = [("==", 5), ("==", 25), ("<", 10), ("<=", 9), (">", 20),
           (">=", 21), ("in", [1, 2, 30]), ("between", (21, 40)),
           ("between", (0, 9))]
    no = [("==", 10), ("==", 20), ("==", 15), ("!=", 15), ("<", 11),
          ("<=", 10), (">", 19), (">=", 20), ("in", [5, 12]),
          ("between", (20, 30)), ("between", (0, 10)), ("between", (12, 13))]
    for op, v in yes:
        assert zm._disproves(st, op, v), (op, v)
    for op, v in no:
        assert not zm._disproves(st, op, v), (op, v)
    # != disproves only a constant envelope equal to the literal
    assert zm._disproves({"t": "i", "mn": 7, "mx": 7}, "!=", 7)
    assert not zm._disproves({"t": "i", "mn": 7, "mx": 7}, "!=", 8)
    # type mismatch / missing stats fail open
    assert not zm._disproves(st, "==", "abc")
    assert not zm._disproves(None, "==", 5)
    # date/timestamp coercion from ISO strings
    dst = {"t": "d", "mn": "2024-01-10", "mx": "2024-01-20"}
    assert zm._disproves(dst, "<", "2024-01-10")
    assert not zm._disproves(dst, "<", "2024-01-11")
    tst = {"t": "ts", "mn": "2024-01-10T00:00:00", "mx": "2024-01-20T00:00:00"}
    assert zm._disproves(tst, ">", "2024-01-20T00:00:00")
    assert not zm._disproves(tst, ">=", "2024-01-20T00:00:00")


def test_timestamp_pruning_on_events(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wh = StagingWarehouse(spark, str(tmp_path), account_id="ts")
    wh.write(ev.filter(F.col("ts") < "2024-01-15"), "e", incremental=True,
             batch_id="b1")
    wh.write(ev.filter(F.col("ts") >= "2024-01-15"), "e", incremental=True,
             batch_id="b2")
    import datetime as dt

    cut = dt.datetime(2024, 1, 20)
    got = wh.read("e", where=[("ts", ">=", cut)])
    want = wh.read("e").filter(F.col("ts") >= F.lit(cut))
    assert _rows(got) == _rows(want)
    sc = wh.table_stats("e")["b1"]
    if sc and sc["batch"].get("ts"):  # stats exist for TIMESTAMP_MICROS
        assert {_batch_of(p) for p in got.inputFiles()} == {"b2"}
