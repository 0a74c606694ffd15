"""The generation layout and the atomic full-refresh swap (VERDICT r12
#4).

Every table is on one manifest layout from its first commit:
``.manifest/CURRENT`` names the live generation dir ``g-<id>/`` holding
one entry per committed batch, and a table dir without ``.manifest``
has no committed batch.  The generation swap makes every replace-style
op (full refresh / compact / clustered rewrite / truncate) ONE
visibility flip: a concurrent reader sees the old table or the new one,
never a shrinking or duplicated state.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from priority_data_pipeline_postgres_db_spark.operators.staging import (
    BATCH_COL,
    MANIFEST_CURRENT,
    MANIFEST_DIR,
    QUARANTINE_SUFFIX,
    StagingReadError,
    StagingWarehouse,
)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _entries(wh: StagingWarehouse, table: str) -> set[str]:
    return wh._snapshot_state(wh._path(table))[0]


def _dirs(wh: StagingWarehouse, table: str) -> set[str]:
    return {d.split("=", 1)[1] for d in wh._listed(wh._path(table))}


@pytest.fixture()
def dwh(spark, tmp_path):
    return StagingWarehouse(spark, str(tmp_path), account_id="dm")


def _live_generation(wh: StagingWarehouse, table: str) -> str:
    """The dir ``CURRENT`` names; asserts it is an existing ``g-*`` dir
    and the manifest holds no other generation."""
    mdir = os.path.join(wh._path(table), MANIFEST_DIR)
    with open(os.path.join(mdir, MANIFEST_CURRENT)) as fh:
        gen = json.load(fh)["gen"]
    assert gen.startswith("g-") and os.path.isdir(os.path.join(mdir, gen))
    assert sorted(os.listdir(mdir)) == sorted([MANIFEST_CURRENT, gen])
    return gen


def test_first_commit_of_every_kind_creates_generation_layout(
    spark, orders, tmp_path, dwh
):
    """The first commit of a table — an append, a full refresh, a
    truncating refresh, or a quarantine twin's append — leaves
    ``CURRENT`` naming an existing generation dir that holds the
    batch, and no scratch dir behind."""
    dwh.write(orders.limit(3), "A", incremental=True, batch_id="a1")
    dwh.write(orders.limit(3), "R", incremental=False)
    dwh.write(orders.limit(0), "Z", incremental=False)
    dwh.write(
        orders.limit(6),
        "Q",
        incremental=True,
        batch_id="q1",
        expectations=[("even_key", "o_orderkey % 2 = 0", "quarantine")],
    )
    for table in ("a", "r", "z", "q", "q" + QUARANTINE_SUFFIX):
        gen = _live_generation(dwh, table)
        gdir = os.path.join(dwh._path(table), MANIFEST_DIR, gen)
        assert dwh._entry_names(gdir) == _dirs(dwh, table), table
        assert not [
            d for d in os.listdir(dwh._path(table)) if d.startswith(".tmp-")
        ], table
    assert _entries(dwh, "a") == {"a1"}
    assert dwh.read("q").count() + dwh.read("q" + QUARANTINE_SUFFIX).count() == 6
    assert dwh.read("z").count() == 0


def test_table_without_manifest_has_no_committed_batch(spark, orders, tmp_path, dwh):
    """A table dir without ``.manifest`` has no committed batch, whatever
    ``ingest_batch=`` dirs sit in it: it does not exist, has no
    snapshots, and no read falls back to listing the root."""
    dwh.write(orders.limit(5), "T", incremental=False, batch_id="b1")
    dwh.write(orders.limit(3), "T", incremental=True, batch_id="b2")
    path = dwh._path("T")
    shutil.rmtree(os.path.join(path, MANIFEST_DIR))
    assert _dirs(dwh, "t") == {"b1", "b2"}
    assert not dwh.exists("t") and dwh.tables() == []
    assert dwh.snapshots("t") == []
    with pytest.raises(StagingReadError, match="uncommitted"):
        dwh.read("t")
    with pytest.raises(StagingReadError, match="uncommitted"):
        dwh.read("t", as_of="b2")
    with pytest.raises(StagingReadError, match="uncommitted"):
        dwh.table_changes("t", "b1", "b2")
    # the next commit starts a fresh manifest holding only itself
    dwh.write(orders.limit(2), "T", incremental=True, batch_id="b3")
    assert dwh.snapshots("t") == ["b3"]
    assert dwh.read("t").count() == 2


def test_unsettled_generation_raises(spark, orders, tmp_path, dwh, monkeypatch):
    """When every generation a reader resolves vanishes before it is
    read, the one resolution loop raises instead of answering with an
    empty or mixed state: ``exists`` must not read false and an explicit
    batch id must not commit twice."""
    dwh.write(orders.limit(5), "T", incremental=True, batch_id="b1")

    def vanished(gdir):
        raise FileNotFoundError(gdir)

    monkeypatch.setattr(StagingWarehouse, "_entry_names", staticmethod(vanished))
    with pytest.raises(StagingReadError, match="did not settle"):
        dwh.read("t")
    with pytest.raises(StagingReadError, match="did not settle"):
        dwh.exists("t")
    with pytest.raises(StagingReadError, match="did not settle"):
        dwh.write(orders.limit(5), "T", incremental=True, batch_id="b1")
    monkeypatch.undo()
    assert dwh.snapshots("t") == ["b1"]
    assert dwh.read("t").count() == 5


def test_entry_is_the_only_commit_act(spark, orders, tmp_path, dwh):
    """A dir WITHOUT an entry is invisible — even though it sits under
    its final committed name with complete parquet inside."""
    dwh.write(orders.limit(5), "T", incremental=False)
    dwh.write(orders.limit(3), "T", incremental=True, batch_id="b2")
    path = dwh._path("T")
    dwh._manifest_remove(path, "b2")
    assert dwh.read("t").count() == 5
    files = dwh.read("t").inputFiles()
    assert files and not any(f"{BATCH_COL}=b2" in f for f in files)


def test_retry_rewrites_incomplete_remnant(spark, orders, tmp_path, dwh):
    """The healing rule (ADVICE r12 #3): an entry-less dir that is not
    demonstrably complete (no ``_SUCCESS`` marker) may be a remnant of a
    delete that crashed mid-unlink, so the retry REWRITES it — it must
    never be adopted by entry creation."""
    dwh.write(orders.limit(5), "T", incremental=False)
    path = dwh._path("T")
    # simulate the remnant: garbage under the final name, no entry
    dead = os.path.join(path, f"{BATCH_COL}=b2")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-00000-dead.snappy.parquet"), "wb") as fh:
        fh.write(b"\x00NOT A PARQUET FILE")
    assert dwh.read("t").count() == 5  # invisible

    r = dwh.write(orders.limit(3), "T", incremental=True, batch_id="b2")
    assert r.records_written == 3  # rewritten, not a heal no-op
    assert "b2" in _entries(dwh, "t")
    assert dwh.read("t").count() == 8  # garbage gone — adoption would crash


def test_retry_after_entry_is_idempotent_noop(spark, orders, tmp_path, dwh):
    dwh.write(orders.limit(5), "T", incremental=False)
    r1 = dwh.write(orders.limit(3), "T", incremental=True, batch_id="b2")
    r2 = dwh.write(orders.limit(3), "T", incremental=True, batch_id="b2")
    assert (r1.records_written, r2.records_written) == (3, 0)
    assert dwh.read("t").count() == 8


def test_empty_batch_consistent(spark, orders, tmp_path, dwh):
    """An empty incremental reports 0 records, keeps manifest and dirs
    in lockstep, and leaves the logical rows unchanged."""
    dwh.write(orders.limit(5), "T", incremental=False)
    r = dwh.write(orders.limit(0), "T", incremental=True, batch_id="nothing")
    assert r.records_written == 0
    assert _entries(dwh, "t") == _dirs(dwh, "t")
    assert dwh.read("t").count() == 5


def test_no_root_fallback_when_manifest_empty(spark, orders, tmp_path, dwh):
    """ADVICE r12 #1: a manifest table whose committed set is empty must
    NEVER fall back to the root listing (it would expose uncommitted or
    half-deleted dirs) — it raises loudly instead."""
    dwh.write(orders.limit(5), "T", incremental=False, batch_id="b1")
    path = dwh._path("T")
    dwh._manifest_remove(path, "b1")  # crash-window shape: dir, no entry
    with pytest.raises(StagingReadError, match="uncommitted"):
        dwh.read("t").count()
    # recovery paths both work: adopt…
    dwh.repair_manifest("t", adopt=True)
    assert dwh.read("t").count() == 5


def test_atomic_refresh_no_partial_view(spark, tmp_path):
    """VERDICT r12 #4 done-criterion: a reader polling DURING a loop of
    full refreshes never observes a partial table — every successful
    read returns exactly one refresh generation's row count (a read may
    fail outright if the files it planned were vacuumed mid-scan; it may
    never silently return a shrinking or mixed state)."""
    wh = StagingWarehouse(spark, str(tmp_path), account_id="atomic")
    sizes = [40, 70, 25, 55, 90]
    wh.write(spark.range(sizes[0]).selectExpr("id k"), "T", incremental=False)
    observed, errors = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                observed.append(wh.read("t").count())
            except Exception:  # file GC'd under a planned scan: retry
                errors.append(1)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for n in sizes[1:] * 2:
            wh.write(spark.range(n).selectExpr("id k"), "T", incremental=False)
        # mid-refresh reads may legitimately fail (their planned files
        # were vacuumed by a later refresh) — liveness is only
        # guaranteed once the table is quiescent, so give the reader a
        # stable window to land at least one successful read before
        # stopping it.  Without this the assertion races the scheduler
        # (observed flake: back-to-back refreshes on a fast box leave no
        # stable window and the reader starves).
        deadline = time.time() + 120
        while not observed and time.time() < deadline:
            time.sleep(0.05)
    finally:
        stop.set()
        t.join()
    assert observed, "reader starved"
    assert set(observed) <= set(sizes), (
        f"partial refresh view: {sorted(set(observed))}"
    )


def test_truncate_refresh_is_one_flip(spark, orders, tmp_path, dwh):
    """A refresh down to zero rows is still ONE generation flip: the old
    batches and the (schema-only) replacement swap atomically."""
    dwh.write(orders.limit(5), "T", incremental=False)
    r = dwh.write(orders.limit(0), "T", incremental=False)
    assert r.records_written == 0
    assert _entries(dwh, "t") == _dirs(dwh, "t")
    assert len(_entries(dwh, "t")) == 1
    assert dwh.read("t").count() == 0


def test_generation_swap_layout_and_gc(spark, orders, tmp_path, dwh):
    """A replace-style op swaps generations: CURRENT names the live gen
    dir, the displaced gen is GC'd, no entry sits at the manifest root,
    and appends land inside the live generation."""
    dwh.write(orders.limit(5), "T", incremental=False)
    path = dwh._path("T")
    mdir = os.path.join(path, MANIFEST_DIR)
    dwh.write(orders.limit(7), "T", incremental=False)  # swap
    assert os.path.isfile(os.path.join(mdir, MANIFEST_CURRENT))
    with open(os.path.join(mdir, MANIFEST_CURRENT)) as fh:
        gen = json.load(fh)["gen"]
    # no root entries; exactly one gen dir
    root_json = [f for f in os.listdir(mdir) if f.endswith(".json")]
    gens = [d for d in os.listdir(mdir) if d.startswith("g-")]
    assert root_json == [] and gens == [gen]
    dwh.write(orders.limit(3), "T", incremental=True, batch_id="b3")
    assert "b3" in dwh._entry_names(os.path.join(mdir, gen))
    assert dwh.read("t").count() == 10
    # a second swap displaces the generation and GCs the old one
    dwh.write(orders.limit(4), "T", incremental=False)
    gens2 = [d for d in os.listdir(mdir) if d.startswith("g-")]
    assert len(gens2) == 1 and gens2 != [gen]
    assert dwh.read("t").count() == 4


def test_refresh_drops_retention_marker_atomically(spark, orders, tmp_path, dwh):
    """expire_snapshots writes its marker INSIDE the live generation;
    the next refresh's single flip drops marker and old membership
    together (no window where a stale horizon could filter the fresh
    batch or re-expose folded history)."""
    wh = dwh
    for i in range(4):
        wh.write(orders.limit(3 + i), "T", incremental=True, batch_id=f"b{i}")
    wh.write(orders.limit(9), "T", incremental=False)
    for i in range(4, 7):
        wh.write(orders.limit(i), "T", incremental=True)
    out = wh.expire_snapshots("t", keep_last=1)
    assert out["expired"]
    mdir = os.path.join(wh._path("T"), MANIFEST_DIR)
    gdir = wh._entries_dir(mdir)
    assert os.path.isfile(os.path.join(gdir, ".expiry.json"))
    assert wh._expiry("t") is not None
    pre = wh.read("t").count()
    assert pre == 9 + 4 + 5 + 6
    # refresh: ONE flip removes marker + membership; fresh auto id is
    # never filtered by a stale horizon
    wh.write(orders.limit(11), "T", incremental=False)
    assert wh._expiry("t") is None
    assert wh.read("t").count() == 11
    assert _entries(wh, "t") == _dirs(wh, "t") and len(_entries(wh, "t")) == 1


def test_crash_window_vacuum_reaps(spark, orders, tmp_path, dwh):
    """An entry-less dir (write died before its entry) is invisible and
    reclaimable by vacuum past the fence."""
    dwh.write(orders.limit(5), "T", incremental=False)
    path = dwh._path("T")
    dead = os.path.join(path, f"{BATCH_COL}=dead")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-x.snappy.parquet"), "wb") as fh:
        fh.write(b"junk")
    assert dwh.read("t").count() == 5
    assert dwh.vacuum("t", min_age_sec=3600) == []  # fenced
    removed = dwh.vacuum("t", min_age_sec=0)
    assert [os.path.basename(p) for p in removed] == [f"{BATCH_COL}=dead"]
    assert dwh.read("t").count() == 5


def test_vacuum_reaps_stale_generations(spark, orders, tmp_path, dwh):
    dwh.write(orders.limit(5), "T", incremental=False)
    dwh.write(orders.limit(7), "T", incremental=False)
    mdir = os.path.join(dwh._path("T"), MANIFEST_DIR)
    # crashed maintainer leftovers: a scratch gen and an orphan gen
    os.makedirs(os.path.join(mdir, ".g-tmp-g-deadbeef"))
    os.makedirs(os.path.join(mdir, "g-deadbeef0000"))
    before = dwh.read("t").count()
    assert dwh.vacuum("t", min_age_sec=3600) == []  # fenced
    removed = {os.path.basename(p) for p in dwh.vacuum("t", min_age_sec=0)}
    assert removed == {".g-tmp-g-deadbeef", "g-deadbeef0000"}
    assert dwh.read("t").count() == before


def test_concurrent_auto_id_appenders(spark, tmp_path, dwh):
    """Uncoordinated auto-id appenders on a fresh table: every batch
    commits exactly once (disjoint final dirs; entry add is atomic; the
    racing first commits converge on one manifest)."""
    from concurrent.futures import ThreadPoolExecutor

    def appender(i):
        lo = i * 100
        return dwh.write(
            spark.range(lo, lo + 100).selectExpr("id k"),
            "conc",
            incremental=True,
        ).records_written

    with ThreadPoolExecutor(max_workers=6) as ex:
        reports = list(ex.map(appender, range(6)))
    assert reports == [100] * 6
    assert sorted(r["k"] for r in dwh.read("conc").collect()) == list(range(600))
    assert _entries(dwh, "conc") == _dirs(dwh, "conc")


def test_appends_racing_refresh_swap_survive(spark, tmp_path, dwh):
    """Appenders flowing while compact() loops (compact = swap-based
    replace of exactly its basis): nothing lost — the swap's pre-flip
    sweep or the appender's generation re-check carries every
    concurrent entry across the flip."""
    from concurrent.futures import ThreadPoolExecutor

    wh = dwh
    wh.set_upsert_keys("live", ["k"], "ver")

    def mkdf(ver):
        return spark.range(50).selectExpr("id k", f"{ver} ver")

    wh.write(mkdf(0), "live", incremental=True)
    stop = []

    def compactor():
        n = 0
        while not stop and n < 6:
            wh.compact("live")
            n += 1
        return n

    def appender():
        for ver in range(1, 7):
            wh.write(mkdf(ver), "live", incremental=True)
        stop.append(True)

    with ThreadPoolExecutor(max_workers=2) as ex:
        fc = ex.submit(compactor)
        fa = ex.submit(appender)
        fa.result()
        assert fc.result() >= 1
    wh.compact("live")
    rows = {r["k"]: r["ver"] for r in wh.read("live").collect()}
    assert rows == {k: 6 for k in range(50)}


def test_rewrite_compact_files_binpacks_and_preserves_rows(spark, orders, tmp_path):
    """Bin-packing OPTIMIZE (the small-files maintenance op): after k
    appends a hive-partitioned table holds O(k) files per partition dir;
    rewrite_compact_files collapses the history to ONE batch with ~one
    file per partition, rows verbatim."""
    o = orders.withColumn("pri", F.substring("o_orderpriority", 1, 1))
    wh = StagingWarehouse(spark, str(tmp_path), account_id="bp")
    for i in range(4):
        wh.write(
            o.filter(F.col("o_orderkey") % 4 == i),
            "T",
            incremental=True,
            batch_id=f"b{i}",
            partition_by=["pri"],
        )
    before_rows = _rows(wh.read("t"))
    files_before = wh.data_files("t")
    n_pri = wh.read("t").select("pri").distinct().count()
    assert len(files_before) > n_pri  # the small-files problem exists
    wh.rewrite_compact_files("t", partition_by=["pri"])
    assert _rows(wh.read("t")) == before_rows  # rows verbatim
    files_after = wh.data_files("t")
    assert len(files_after) < len(files_before)
    assert len(files_after) <= n_pri + 1  # ~one file per partition dir
    assert len(wh.snapshots("t")) == 1  # history collapsed to one batch
    # appends keep working after the rewrite
    wh.write(o.limit(7), "T", incremental=True, batch_id="b9",
             partition_by=["pri"])
    assert len(_rows(wh.read("t"))) == len(before_rows) + 7


def test_rewrite_compact_files_materializes_upsert_contract(spark, tmp_path, dwh):
    """On a table WITH an upsert contract the bin-pack materializes
    newest-wins (physical duplicates cannot survive a collapse into one
    batch where the batch-id tie-break is lost) — same rule as
    compact()/rewrite_clustered."""
    wh = dwh
    wh.set_upsert_keys("u", pk=["k"], order_col="ver")
    wh.write(spark.range(20).selectExpr("id k", "0 ver"), "U", incremental=True)
    wh.write(spark.range(10).selectExpr("id k", "1 ver"), "U", incremental=True)
    logical_before = _rows(wh.read("u"))
    wh.rewrite_compact_files("u", n_files=2)
    assert _rows(wh.read("u")) == logical_before
    # physically collapsed: raw row count == logical row count now
    assert wh.read("u", raw=True).count() == 20
    assert len(wh.data_files("u")) <= 2
