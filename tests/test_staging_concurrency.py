"""Concurrent-writer contract for the StagingWarehouse (VERDICT r10 #3).

The protocol promises: concurrent APPENDERS need no coordination (unique
scratch dirs + atomic commit rename; same-id races degrade to the
idempotent no-op), appends may flow during ONE maintenance op
(compact/rewrite replace only the basis they read; expire never touches
ids above its horizon), and a fresh unreferenced retention base is
fenced from the reap step by mtime (a crashed/racing expiry pass
converges instead of losing data).  These tests drive the races with
threads — the contested state is the filesystem protocol (listdir /
rename / rmtree ordering), which threads exercise exactly as separate
processes would.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from priority_data_pipeline_postgres_db_spark.operators.staging import (
    BATCH_COL,
    StagingWarehouse,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return StagingWarehouse(spark, str(tmp_path), account_id="conc")


def _mkdf(spark, lo, hi, ver=0):
    return spark.range(lo, hi).selectExpr(
        "id AS k", f"id * 10 + {ver} AS v", f"{ver} AS ver"
    )


def test_concurrent_appenders_all_batches_commit(spark, wh):
    """N uncoordinated appenders, auto batch ids: every batch commits,
    nothing is lost or duplicated, no scratch litter remains."""
    def appender(i):
        out = []
        for j in range(2):
            lo = (i * 2 + j) * 100
            out.append(
                wh.write(
                    _mkdf(spark, lo, lo + 100), "conc_t", incremental=True
                ).records_written
            )
        return out

    with ThreadPoolExecutor(max_workers=6) as ex:
        reports = [r for rs in ex.map(appender, range(6)) for r in rs]
    assert reports == [100] * 12
    assert len(wh.snapshots("conc_t")) == 12
    got = sorted(r["k"] for r in wh.read("conc_t").collect())
    assert got == list(range(1200))
    path = wh._path("conc_t")
    assert not [d for d in os.listdir(path) if d.startswith(".tmp-")]


def test_concurrent_same_explicit_batch_id_exactly_once(spark, wh):
    """All writers race the SAME explicit batch id: exactly one commit
    wins (counted rows), every loser degrades to the idempotent no-op,
    and the committed batch is complete — the scratch dirs were never
    shared, so the winner's files could not be clobbered mid-flight."""
    df = _mkdf(spark, 0, 200)

    def writer(_):
        return wh.write(
            df, "same_id", incremental=True, batch_id="replay-1"
        ).records_written

    with ThreadPoolExecutor(max_workers=6) as ex:
        reports = list(ex.map(writer, range(6)))
    assert sorted(reports) == [0] * 5 + [200]
    assert wh.snapshots("same_id") == ["replay-1"]
    assert wh.read("same_id").count() == 200
    path = wh._path("same_id")
    assert not [d for d in os.listdir(path) if d.startswith(".tmp-")]


def test_appends_racing_compact_nothing_lost(spark, wh):
    """Appends flowing WHILE compact() rewrites: the compactor replaces
    only the basis it read, so a batch committed mid-compact survives
    beside the compacted base and the final logical view is exactly
    latest-version-per-key over everything ever appended."""
    wh.set_upsert_keys("live", ["k"], "ver")
    wh.write(_mkdf(spark, 0, 50, ver=0), "live", incremental=True)

    stop = []

    def compactor():
        n = 0
        while not stop and n < 5:
            wh.compact("live")
            n += 1
        return n

    def appender():
        for ver in range(1, 7):
            wh.write(_mkdf(spark, 0, 50, ver=ver), "live", incremental=True)
        stop.append(True)

    with ThreadPoolExecutor(max_workers=2) as ex:
        fc = ex.submit(compactor)
        fa = ex.submit(appender)
        fa.result()
        assert fc.result() >= 1
    # converge: one final compact after the dust settles must also hold
    wh.compact("live")
    rows = {r["k"]: r["ver"] for r in wh.read("live").collect()}
    assert rows == {k: 6 for k in range(50)}


def test_appends_racing_expire_nothing_lost(spark, wh):
    """Appends flowing WHILE expire_snapshots folds history: expiry only
    folds ids at or below its horizon (always below any fresh auto id),
    so the append-only CONTENT is preserved exactly however the races
    interleave."""
    for i in range(3):
        wh.write(_mkdf(spark, i * 10, i * 10 + 10), "ao", incremental=True)

    def expirer():
        n = 0
        for _ in range(4):
            wh.expire_snapshots("ao", keep_last=2, reap_min_age_sec=0.0)
            n += 1
        return n

    def appender():
        for i in range(3, 9):
            wh.write(
                _mkdf(spark, i * 10, i * 10 + 10), "ao", incremental=True
            )

    with ThreadPoolExecutor(max_workers=2) as ex:
        fe = ex.submit(expirer)
        fa = ex.submit(appender)
        fa.result()
        fe.result()
    got = sorted(r["k"] for r in wh.read("ao").collect())
    assert got == list(range(90))


def test_fresh_unreferenced_base_fenced_from_reap(spark, wh):
    """The reap step must NOT delete a fresh unreferenced ``~base`` dir
    (it may belong to a pass between its base rename and marker commit);
    past the mtime fence it is crashed-pass garbage and goes."""
    for i in range(4):
        wh.write(
            _mkdf(spark, i * 10, i * 10 + 10),
            "fence",
            incremental=True,
            batch_id=f"b{i}",
        )
    path = wh._path("fence")
    fake = os.path.join(path, f"{BATCH_COL}=b0~base")
    os.makedirs(fake)
    # default fence: the fresh base survives the pass
    wh.expire_snapshots("fence", keep_last=2)
    assert os.path.isdir(fake)
    # reads never saw it either way (unreferenced bases are invisible)
    assert wh.read("fence").count() == 40
    # an aged-out base is crashed-pass garbage: reaped
    old = time.time() - 7200
    os.utime(fake, (old, old))
    wh.expire_snapshots("fence", keep_last=2, reap_min_age_sec=3600.0)
    assert not os.path.isdir(fake)
    assert wh.read("fence").count() == 40


def test_expire_rename_collision_converges(spark, wh, monkeypatch):
    """A pass crashing in the REAL window — after its base rename,
    before its marker commit — leaves a complete unreferenced ``~base``
    beside the still-live history.  The rerun inside the fence window
    must converge: it re-derives the same horizon, its base rename
    collides with the existing (deterministically identical) dir, and
    the marker commit lands over it.  Reads are bit-identical
    throughout."""
    import priority_data_pipeline_postgres_db_spark.operators.staging as stg

    for i in range(4):
        wh.write(
            _mkdf(spark, i * 10, i * 10 + 10),
            "crash",
            incremental=True,
            batch_id=f"b{i}",
        )
    orig = os.replace

    def boom(src, dst, *a, **kw):
        if str(dst).endswith(".expiry.json"):
            raise RuntimeError("crash before marker commit")
        return orig(src, dst, *a, **kw)

    monkeypatch.setattr(stg.os, "replace", boom)
    with pytest.raises(RuntimeError):
        wh.expire_snapshots("crash", keep_last=2, reap_min_age_sec=0.0)
    monkeypatch.undo()
    # crash window state: full history + complete unreferenced base
    assert os.path.isdir(os.path.join(wh._path("crash"), f"{BATCH_COL}=b1~base"))
    assert sorted(r["k"] for r in wh.read("crash").collect()) == list(range(40))
    # the rerun must converge: fresh base is fenced, rename collides,
    # marker lands, history reclaims, reads stay identical
    out = wh.expire_snapshots("crash", keep_last=2)
    assert out["horizon"] == "b1" and out["base"] == "b1~base"
    assert wh.snapshots("crash") == ["b2", "b3", "b1~base"] or set(
        wh.snapshots("crash")
    ) == {"b1~base", "b2", "b3"}
    got = sorted(r["k"] for r in wh.read("crash").collect())
    assert got == list(range(40))


def test_append_between_sweep_and_flip_survives_swap(tmp_path, monkeypatch):
    """An append whose entry write AND generation re-check both land
    after the maintainer's pre-flip sweep but before its flip sees the
    old generation still live and returns; the swap must still carry
    that entry into the new generation."""
    wh = StagingWarehouse(None, str(tmp_path))
    path = wh._path("t")
    os.makedirs(path)
    wh._manifest_add(path, "a")
    orig = StagingWarehouse._entry_names
    calls = []

    def entry_names(gdir):
        names = orig(gdir)
        calls.append(gdir)
        if len(calls) == 2:  # the swap's pre-flip sweep has listed
            wh._manifest_add(path, "late")
        return names

    monkeypatch.setattr(StagingWarehouse, "_entry_names", staticmethod(entry_names))
    wh._manifest_swap(path, ["c"], {"a"})
    monkeypatch.undo()
    assert wh._manifest_ids(path) == {"c", "late"}
