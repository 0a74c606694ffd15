"""Row-level DELETE pruned by zone maps (staging.delete_rows): only
batches the sidecars can't prove predicate-free are rewritten, the rest
stay byte-identical; one atomic generation swap flips visibility with
the retention marker carried forward; history is rewritten (the
compliance contract)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from priority_data_pipeline_postgres_db_spark.operators.staging import (
    BATCH_COL,
    StagingWarehouse,
)


def _rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _file_sig(wh, table):
    """(path, size, mtime_ns) of every data file — byte-identity probe."""
    out = []
    for fp in wh.data_files(table):
        st = os.stat(fp)
        out.append((fp, st.st_size, st.st_mtime_ns))
    return sorted(out)


def _banded(spark, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="del")
    for i, bid in enumerate(("b1", "b2", "b3")):
        lo = i * 100
        wh.write(
            spark.range(lo, lo + 100).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ),
            "t", incremental=True, batch_id=bid,
        )
    return wh


def test_delete_prunes_untouched_batches(spark, tmp_path):
    wh = _banded(spark, tmp_path)
    before_sig = {
        p: s for p, s, m in _file_sig(wh, "t") if f"{BATCH_COL}=b1" in p
    }
    rep = wh.delete_rows("t", [("id", "between", (150, 170))])
    assert rep["batches_untouched"] == 2  # b1, b3 provably disjoint
    assert rep["batches_rewritten"] == 1
    assert rep["rows_deleted"] == 21
    # result = plain anti-filter of the source
    assert wh.read("t").count() == 279
    assert wh.read("t").filter(F.col("id").between(150, 170)).count() == 0
    # b1's files untouched byte-for-byte (same inode paths, size, mtime)
    after_sig = {
        p: s for p, s, m in _file_sig(wh, "t") if f"{BATCH_COL}=b1" in p
    }
    assert after_sig == before_sig
    # the rewritten batch has a derived id sorting after b2
    ids = wh.snapshots("t")
    assert "b2" not in ids and any(i.startswith("b2-d") for i in ids)


def test_delete_whole_batch_drops_it(spark, tmp_path):
    wh = _banded(spark, tmp_path)
    rep = wh.delete_rows("t", [("id", ">=", 200)])
    assert rep["batches_dropped"] == 1 and rep["batches_rewritten"] == 0
    assert rep["rows_deleted"] == 100
    assert wh.read("t").count() == 200
    assert sorted(wh.snapshots("t")) == ["b1", "b2"]


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="deln")
    wh.write(
        spark.createDataFrame([(1, 5.0), (2, None), (3, 50.0)],
                              "id long, val double"),
        "t", incremental=True, batch_id="b1",
    )
    rep = wh.delete_rows("t", [("val", ">", 10.0)])
    assert rep["rows_deleted"] == 1
    # NULL comparison is not TRUE → the row survives (SQL DELETE)
    assert sorted(r["id"] for r in wh.read("t").collect()) == [1, 2]


def test_delete_preserves_retention_marker(spark, tmp_path):
    wh = _banded(spark, tmp_path)
    wh.expire_snapshots("t", keep_last=1)  # folds b1+b2 into a base
    # delete rows living in the BASE: marker must follow the rewrite
    rep = wh.delete_rows("t", [("id", "<", 10)])
    assert rep["rows_deleted"] == 10
    assert wh.read("t").count() == 290
    exp = wh._expiry("t")
    assert exp is not None and exp["base"].endswith("~base")
    assert "-d" in exp["base"]  # re-pointed at the rewritten base
    # the as-of-horizon snapshot still resolves, minus the deleted rows
    assert wh.read("t", as_of="b2").count() == 190


def test_delete_upsert_table_resolution(spark, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="delu")
    wh.set_upsert_keys("t", ["id"], "v")
    wh.write(spark.createDataFrame([(1, 1, 10.0), (2, 1, 20.0)],
                                   "id long, v long, val double"),
             "t", incremental=True, batch_id="b1")
    wh.write(spark.createDataFrame([(1, 2, 99.0)],
                                   "id long, v long, val double"),
             "t", incremental=True, batch_id="b2")
    # delete the NEWEST version of id=1: the older version resurfaces
    # (row-level delete removes rows, not keys — documented)
    wh.delete_rows("t", [("val", "==", 99.0)])
    got = {r["id"]: r["val"] for r in wh.read("t").collect()}
    assert got == {1: 10.0, 2: 20.0}


def test_surgical_delete_carries_clean_files(spark, tmp_path):
    # one batch, range-partitioned into several files by repartitionByRange
    # so each file covers a tight id band — the delete hits ONE band and
    # must carry the other files verbatim (hard links: same inode)
    wh = StagingWarehouse(spark, str(tmp_path), account_id="surg")
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    wh.write(df.repartitionByRange(5, "id"), "t", incremental=True,
             batch_id="b1")
    files_before = wh.data_files("t")
    assert len(files_before) == 5
    inode_by_name = {os.path.basename(p): os.stat(p).st_ino
                     for p in files_before}
    rep = wh.delete_rows("t", [("id", "between", (900, 950))])
    assert rep["batches_rewritten"] == 1
    assert rep["files_carried"] == 4 and rep["files_rewritten"] == 1
    assert rep["rows_deleted"] == 51
    assert wh.read("t").count() == 949
    assert wh.read("t").filter(F.col("id").between(900, 950)).count() == 0
    # carried files are the SAME inodes (hard links, zero data movement)
    carried = 0
    for p in wh.data_files("t"):
        ino = inode_by_name.get(os.path.basename(p))
        if ino is not None and os.stat(p).st_ino == ino:
            carried += 1
    assert carried == 4


def test_all_files_clean_batch_untouched(spark, tmp_path):
    # batch-level rollup can't disprove a two-sided predicate whose two
    # conjunct ranges each live in a DIFFERENT file — per-file stats can
    wh = StagingWarehouse(spark, str(tmp_path), account_id="surg2")
    df = spark.range(100).select(F.col("id"))
    wh.write(df.repartitionByRange(2, "id"), "t", incremental=True,
             batch_id="b1")
    # id in [40, 60] spans the file split (~50): per-file stats still
    # overlap, so craft a conjunction disproved per-file but not by the
    # batch rollup: id < 10 AND id > 90
    rep = wh.delete_rows("t", [("id", "<", 10), ("id", ">", 90)])
    assert rep["batches_untouched"] == 1
    assert rep["rows_deleted"] == 0
    assert wh.read("t").count() == 100
    assert wh.snapshots("t") == ["b1"]  # id unchanged — nothing rewritten


def test_update_rows_matches_case_expression(spark, tmp_path):
    wh = _banded(spark, tmp_path)
    rep = wh.update_rows(
        "t", [("id", "between", (150, 160))], {"v": "v + 1000"}
    )
    assert rep["rows_updated"] == 11
    assert rep["batches_untouched"] == 2 and rep["batches_rewritten"] == 1
    got = {r["id"]: r["v"] for r in wh.read("t").collect()}
    for i in range(300):
        want = i * 2 + (1000 if 150 <= i <= 160 else 0)
        assert got[i] == want, i
    assert wh.read("t").count() == 300  # UPDATE never changes row count


def test_update_surgical_carry_and_types(spark, tmp_path):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="upd2")
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    wh.write(df.repartitionByRange(5, "id"), "t", incremental=True,
             batch_id="b1")
    rep = wh.update_rows("t", [("id", ">=", 990)], {"v": "-1"})
    assert rep["files_carried"] == 4 and rep["files_rewritten"] == 1
    assert rep["rows_updated"] == 10
    out = wh.read("t")
    assert dict(out.dtypes)["v"] == "bigint"  # cast back to column type
    assert out.filter(F.col("v") == -1).count() == 10


def test_update_validates(spark, tmp_path):
    wh = _banded(spark, tmp_path)
    with pytest.raises(ValueError):
        wh.update_rows("t", [], {"v": "0"})
    with pytest.raises(ValueError):
        wh.update_rows("t", [("id", "<", 5)], {})
    with pytest.raises(ValueError, match="unknown column"):
        wh.update_rows("t", [("id", "<", 5)], {"nope": "0"})


def test_delete_validates_spec(spark, tmp_path):
    wh = _banded(spark, tmp_path)
    with pytest.raises(ValueError):
        wh.delete_rows("t", [])
    with pytest.raises(ValueError):
        wh.delete_rows("t", [("id", "like", "x")])
