"""Lifecycle tests: initial load → incremental → reset (SURVEY.md §5.3/§5.4),
catalog DDL idempotence, per-entity error isolation."""

import os
import time

import pytest
from pyspark.sql import functions as F

from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
from priority_data_pipeline_postgres_db_spark.plans.catalog import SparkCatalogDwh
from priority_data_pipeline_postgres_db_spark.plans.pipeline import (
    ParquetEntitySource,
    Pipeline,
    dedup_append_by_pk,
)
from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore
from priority_data_pipeline_postgres_db_spark.sources.metadata import SchemaRegistry

EDMX = """<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0">
 <edmx:DataServices><Schema xmlns="http://docs.oasis-open.org/odata/ns/edm">
  <EntityType Name="EVENTS"><Key><PropertyRef Name="EVENT_ID"/></Key>
   <Property Name="EVENT_ID" Type="Edm.Int64"/>
   <Property Name="TS" Type="Edm.DateTimeOffset"/>
   <Property Name="VALUE" Type="Edm.Decimal"/>
  </EntityType></Schema></edmx:DataServices></edmx:Edmx>"""


def make_pipeline(spark, tmp_path, sf_dir, entities):
    control = ControlStore(os.path.join(tmp_path, "control.json"))
    cfg = {
        "datasourceName": "t",
        "uri": "unused://",
        "accountID": f"t{abs(hash(tmp_path)) % 10**8:08d}",
        "systemTimezone": "UTC",
        "sourceSystem": "priority",
        "entities": entities,
    }
    control.insert_config(cfg, datasource_id="ds1")
    return Pipeline(
        spark,
        control,
        SchemaRegistry.from_edmx(EDMX),
        ParquetEntitySource(sf_dir),
        StagingWarehouse(spark, os.path.join(tmp_path, "wh"), account_id=cfg["accountID"]),
        "ds1",
    )


def entity(eid, **kw):
    base = {
        "EntityID": eid,
        "filterFlag": False,
        "filterField": "",
        "expand": [],
        "lastRun": "2024-01-10 00:00:00",
        "dataStartDate": "2024-01-01 00:00:00",
    }
    base.update(kw)
    return base


def test_full_then_incremental(spark, tmp_path, sf_dir):
    p = make_pipeline(
        spark,
        str(tmp_path),
        sf_dir,
        [entity("EVENTS", filterFlag=True, filterField="ts", lastRun="2024-01-20 00:00:00")],
    )
    full = p.refresh_data(incremental=False)
    assert not full.errors
    n_full = full.total_records()
    assert n_full > 0  # everything since dataStartDate

    # watermark advanced to "now" by the full run → restore a mid-range one
    p.control.update_last_run("ds1", "EVENTS", value="2024-01-20 00:00:00")
    inc = p.refresh_data(incremental=True)
    n_inc = inc.total_records()
    assert 0 < n_inc < n_full  # only post-watermark rows
    assert p.warehouse.read("events").count() == n_full + n_inc  # appended


def test_per_entity_error_isolation(spark, tmp_path, sf_dir):
    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("NOSUCH"), entity("EVENTS")])
    rep = p.refresh_data(incremental=False)
    assert [e["entity"] for e in rep.errors] == ["NOSUCH"]
    assert rep.total_records() > 0  # EVENTS still loaded


def test_initial_load_and_reset(spark, tmp_path, sf_dir):
    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("EVENTS")])
    out = p.initial_data_load()
    assert out["tablesDeployed"]["created"] == ["stg_events"]
    assert not out["errors"]
    # second deploy: table exists, nothing recreated
    out2 = p.initial_data_load()
    assert out2["tablesDeployed"]["exists"] == ["stg_events"]

    reset = p.reset_data_platform()
    assert "stg_events" in reset["tablesDropped"]
    assert reset["tablesDeployed"]["created"] == ["stg_events"]
    # cleanup catalog state
    SparkCatalogDwh(spark, p._config()["accountID"]).drop_db()


def test_probe(spark, tmp_path, sf_dir):
    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("EVENTS"), entity("NOSUCH")])
    probe = {r["entity"]: r["ok"] for r in p.test_extraction_entities()}
    assert probe == {"EVENTS": True, "NOSUCH": False}


def test_dedup_append_by_pk(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", "old"), (1, "2024-02-01", "new"), (2, "2024-01-01", "only")],
        "id long, ts string, v string",
    )
    out = dedup_append_by_pk(df, ["id"], "ts")
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "only"}


def test_dedup_append_prevents_redelivery(spark, tmp_path, sf_dir):
    """Exactly-once wiring: with dedup_append, a second incremental run
    over the same (inclusive) watermark window appends nothing."""
    p = make_pipeline(
        spark,
        str(tmp_path),
        sf_dir,
        [entity("EVENTS", filterFlag=True, filterField="ts", lastRun="2024-01-20 00:00:00")],
    )
    p.dedup_append = True
    p.refresh_data(incremental=False)
    n_after_full = p.warehouse.read("events").count()

    # two identical incremental windows: second is a full re-delivery
    p.control.update_last_run("ds1", "EVENTS", value="2024-01-20 00:00:00")
    inc1 = p.refresh_data(incremental=True)
    p.control.update_last_run("ds1", "EVENTS", value="2024-01-20 00:00:00")
    inc2 = p.refresh_data(incremental=True)

    assert inc1.total_records() == 0  # full load already delivered them
    assert inc2.total_records() == 0
    total = p.warehouse.read("events").count()
    assert total == n_after_full  # no duplicates accumulated
    # and PKs are unique
    assert p.warehouse.read("events").select("event_id").distinct().count() == total


def test_append_guard_scan_is_bounded(spark, tmp_path, sf_dir):
    """The exactly-once guard must scan only the re-delivery overlap window
    (filterField >= lastRun), not all staged history: the watermark
    predicate reaches the parquet scan as a pushed filter (VERDICT r1 #3)."""
    from priority_data_pipeline_postgres_db_spark.plans.pipeline import append_guard

    p = make_pipeline(
        spark,
        str(tmp_path),
        sf_dir,
        [entity("EVENTS", filterFlag=True, filterField="ts", lastRun="2024-01-20 00:00:00")],
    )
    p.refresh_data(incremental=False)
    staged = p.warehouse.read("events")

    guard, cols = append_guard(staged, ["event_id"], "ts", "2024-01-20 00:00:00", "UTC")
    assert cols == ["event_id", "ts"]  # version key, not PK alone
    plan = guard._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts" in plan  # PushedFilters on the scan
    # the guard covers exactly the overlap window's versions
    expected = staged.filter(F.col("ts") >= "2024-01-20").select("event_id").distinct().count()
    assert guard.count() == expected
    assert expected < staged.select("event_id").distinct().count()  # genuinely bounded

    # no watermark column → full-history PK-only fallback
    full, full_cols = append_guard(staged, ["event_id"], None, None, None)
    assert full_cols == ["event_id"]
    assert full.count() == staged.select("event_id").distinct().count()

    # watermarked table, NO boundary yet (first incremental, no lastRun):
    # the guard still keys on the row VERSION over full history, so an
    # updated row isn't silently dropped by a PK-only guard (ADVICE r3)
    nob, nob_cols = append_guard(staged, ["event_id"], "ts", None, "UTC")
    assert nob_cols == ["event_id", "ts"]
    assert nob.count() == staged.select("event_id", "ts").distinct().count()


def test_upsert_modified_row_reads_back_new_values(spark, tmp_path, sf_dir):
    """True upsert semantics (VERDICT r2 #4): a re-delivered row the source
    MODIFIED (same PK, newer filterField) must not be dropped by the
    exactly-once guard, and the default staging read must return the new
    values (newest-wins compact-on-read), with compact() materializing the
    same answer."""
    from datetime import datetime

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    v1 = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 10), 7, "click", 1.0, "{}"),
            (2, datetime(2024, 1, 11), 8, "view", 5.0, "{}"),
        ],
        schema,
    )
    # source state after an update: row 1 changed (newer ts, new value)
    v2 = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 25), 7, "click", 2.0, "{}"),
            (2, datetime(2024, 1, 11), 8, "view", 5.0, "{}"),
        ],
        schema,
    )
    src1, src2 = str(tmp_path / "src1"), str(tmp_path / "src2")
    v1.write.parquet(f"{src1}/events.parquet")
    v2.write.parquet(f"{src2}/events.parquet")

    p = make_pipeline(
        spark,
        str(tmp_path),
        src1,
        [entity("EVENTS", filterFlag=True, filterField="ts", lastRun="2024-01-05 00:00:00")],
    )
    p.dedup_append = True
    p.refresh_data(incremental=False)

    # incremental over a window that CONTAINS the stale staged version:
    # the r1 PK-only guard dropped the update here
    p.source = ParquetEntitySource(src2)
    p.control.update_last_run("ds1", "EVENTS", value="2024-01-05 00:00:00")
    inc = p.refresh_data(incremental=True)
    assert not inc.errors
    assert inc.total_records() == 1  # the modified row only; row 2 deduped

    # default read = newest-wins: the UPDATED values come back
    got = {r["event_id"]: r for r in p.warehouse.read("events").collect()}
    assert len(got) == 2
    assert got[1]["value"] == 2.0 and got[1]["ts"] == datetime(2024, 1, 25)
    # both physical versions exist underneath (raw view)
    assert p.warehouse.read("events", raw=True).filter("event_id = 1").count() == 2

    # compact() (keys from the registered upsert contract) materializes it
    p.warehouse.compact("events")
    raw = p.warehouse.read("events", raw=True).filter("event_id = 1").collect()
    assert len(raw) == 1 and raw[0]["value"] == 2.0
    # and re-delivering the SAME versions again appends nothing
    p.control.update_last_run("ds1", "EVENTS", value="2024-01-05 00:00:00")
    inc2 = p.refresh_data(incremental=True)
    assert inc2.total_records() == 0


def test_watermark_advances_to_run_start_not_completion(spark, tmp_path, sf_dir):
    """The new watermark is captured before the scan: it must not exceed
    the run's start wall-clock (rows committed mid-run stay in the next
    window)."""
    from datetime import datetime

    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("EVENTS")])
    before = datetime.utcnow().strftime("%Y-%m-%d %H:%M:%S")
    p.refresh_data(incremental=False)
    after_run = p.control.latest_config("ds1")["entities"][0]["lastRun"]
    # config tz is UTC in make_pipeline → comparable strings
    assert after_run >= before
    done = datetime.utcnow().strftime("%Y-%m-%d %H:%M:%S")
    assert after_run <= done


class FrameSource:
    """EntityID → DataFrame, or → an exception the read raises."""

    def __init__(self, frames):
        self.frames = frames

    def read(self, spark, entity_cfg):
        got = self.frames[entity_cfg["EntityID"]]
        if isinstance(got, Exception):
            raise got
        return got


def _nested(spark, ids):
    """A parent entity with an ``ITEMS_SUBFORM`` child array."""
    return spark.createDataFrame(
        [(i, f"n{i}", [(10 * i, "a"), (10 * i + 1, "b")]) for i in ids],
        "ID long, NAME string, ITEMS_SUBFORM array<struct<LINE:long, V:string>>",
    )


def _watermarks(p):
    return {e["EntityID"]: e["lastRun"] for e in p.control.latest_config("ds1")["entities"]}


def test_failed_extract_isolated_reports_in_config_order(spark, tmp_path, sf_dir):
    """A source that raises for one entity leaves the others written and
    their watermarks advanced; the failing entity's watermark stays put.
    The first entity's write is slowed so it finishes last: the report
    still comes back in config and part order."""
    p = make_pipeline(
        spark,
        str(tmp_path),
        sf_dir,
        [entity("EVENTS"), entity("BROKEN"), entity("NESTED")],
    )
    p.source = FrameSource(
        {
            "EVENTS": spark.read.parquet(f"{sf_dir}/events.parquet").limit(5),
            "BROKEN": RuntimeError("source down"),
            "NESTED": _nested(spark, [1, 2, 3]),
        }
    )
    write = p.warehouse.write

    def slow_events_write(df, table_name, **kw):
        if table_name == "events":
            time.sleep(1.0)
        return write(df, table_name, **kw)

    p.warehouse.write = slow_events_write
    before = _watermarks(p)
    rep = p.refresh_data(incremental=False)

    assert rep.errors == [{"entity": "BROKEN", "error": "source down"}]
    assert [(r.table_name, r.records_written) for r in rep.stg_data_written] == [
        ("stg_events", 5),
        ("stg_nested", 3),
        ("stg_items", 6),
    ]
    after = _watermarks(p)
    assert after["BROKEN"] == before["BROKEN"]
    assert after["EVENTS"] != before["EVENTS"] and after["NESTED"] != before["NESTED"]
    assert after["EVENTS"] == after["NESTED"]  # both advanced to the run start


def test_failed_child_write_keeps_entity_watermark(spark, tmp_path, sf_dir):
    """A write that fails for a child part: the parent part is still
    written and reported, the entity reports one error and keeps its
    watermark, and the other entities advance."""
    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("NESTED"), entity("EVENTS")])
    p.source = FrameSource(
        {
            "NESTED": _nested(spark, [1, 2]),
            "EVENTS": spark.read.parquet(f"{sf_dir}/events.parquet").limit(4),
        }
    )
    write = p.warehouse.write

    def failing_child_write(df, table_name, **kw):
        if table_name == "items":
            raise OSError("disk full")
        return write(df, table_name, **kw)

    p.warehouse.write = failing_child_write
    before = _watermarks(p)
    rep = p.refresh_data(incremental=False)

    assert rep.errors == [{"entity": "NESTED", "error": "disk full"}]
    assert [r.table_name for r in rep.stg_data_written] == ["stg_nested", "stg_events"]
    after = _watermarks(p)
    assert after["NESTED"] == before["NESTED"]
    assert after["EVENTS"] != before["EVENTS"]


def test_parts_naming_one_table_write_in_config_order(spark, tmp_path, sf_dir):
    """Two entities that both land in ``stg_items`` (a flat ITEMS entity
    and NESTED's child) are written in config order, as a sequential
    loop would: the later full refresh replaces the earlier one."""
    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("ITEMS"), entity("NESTED")])
    p.source = FrameSource(
        {
            "ITEMS": spark.createDataFrame([(99, "z")], "LINE long, V string"),
            "NESTED": _nested(spark, [1]),
        }
    )
    rep = p.refresh_data(incremental=False)
    assert not rep.errors
    assert [r.table_name for r in rep.stg_data_written] == ["stg_items", "stg_nested", "stg_items"]
    assert sorted(r["line"] for r in p.warehouse.read("items").collect()) == [10, 11]


def _scala_list(seq):
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _status_jobs(spark):
    return _scala_list(spark.sparkContext._jsc.sc().statusStore().jobsList(None))


def _sql_executions(spark):
    return _scala_list(spark._jsparkSession.sharedState().statusStore().executionsList())


def _guarded_refresh(spark, tmp_path, sf_dir):
    p = make_pipeline(
        spark,
        str(tmp_path),
        sf_dir,
        [entity("EVENTS", filterFlag=True, filterField="ts", lastRun="2024-01-20 00:00:00")],
    )
    p.dedup_append = True
    p.refresh_data(incremental=False)
    p.control.update_last_run("ds1", "EVENTS", value="2024-01-20 00:00:00")
    return p


def test_refresh_jobs_inherit_caller_job_group(spark, tmp_path, sf_dir):
    """Every job of an incremental refresh carries the caller's job
    group, although the refresh runs its units on worker threads."""
    p = _guarded_refresh(spark, tmp_path, sf_dir)
    sc = spark.sparkContext
    lo = max((j.jobId() for j in _status_jobs(spark)), default=-1)
    sc.setJobGroup("g", "caller group")
    try:
        rep = p.refresh_data(incremental=True)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert not rep.errors
    groups = [
        j.jobGroup().get() if j.jobGroup().isDefined() else None
        for j in _status_jobs(spark)
        if j.jobId() > lo
    ]
    assert groups and set(groups) == {"g"}


def test_guarded_write_broadcasts_the_guard(spark, tmp_path, sf_dir):
    """The executed plan of a guarded write has no aggregate and no
    shuffle on the guard side: the overlap window is broadcast into the
    left_anti join."""
    p = _guarded_refresh(spark, tmp_path, sf_dir)
    lo = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    rep = p.refresh_data(incremental=True)
    assert not rep.errors
    plans = [
        e.physicalPlanDescription()
        for e in _sql_executions(spark)
        if e.executionId() > lo and "LeftAnti" in e.physicalPlanDescription()
    ]
    assert plans
    for plan in plans:
        assert "BroadcastExchange" in plan
        assert "HashAggregate" not in plan
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert all("BroadcastExchange" in ln for ln in exchanges), exchanges


def test_refresh_refuses_unpinned_thread_mode(spark, tmp_path, sf_dir, monkeypatch):
    """With PYSPARK_PIN_THREAD off, inheritable_thread_target(session)
    returns the session instead of a wrapper, so every unit would fail
    obscurely: the refresh refuses with a clear error before it starts a
    pool or submits a unit."""
    import priority_data_pipeline_postgres_db_spark.plans.pipeline as pipeline_mod

    p = make_pipeline(spark, str(tmp_path), sf_dir, [entity("EVENTS")])

    def no_pool(*a, **kw):
        raise AssertionError("refresh_data started a pool")

    monkeypatch.setattr(pipeline_mod, "ThreadPoolExecutor", no_pool)
    monkeypatch.setenv("PYSPARK_PIN_THREAD", "false")
    with pytest.raises(RuntimeError, match="pinned-thread"):
        p.refresh_data(incremental=True)


def test_refresh_events_entity_without_ts_column(spark, tmp_path, sf_dir):
    """The parquet loader normalizes an ``events`` table's ``ts`` column;
    an ``EVENTS`` entity whose source has no such column (here keyed by
    ``UDATE``) must still refresh, and an upper-case ``TS`` is matched
    like Spark's case-insensitive resolver matches it."""
    from datetime import datetime

    from priority_data_pipeline_postgres_db_spark.plans.tables import normalize_events_ts

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, datetime(2024, 1, 10), 1.0), (2, datetime(2024, 1, 12), 2.0)],
        "EVENT_ID long, UDATE timestamp, VALUE double",
    ).write.parquet(f"{src}/events.parquet")
    p = make_pipeline(
        spark,
        str(tmp_path),
        src,
        [entity("EVENTS", filterFlag=True, filterField="UDATE", lastRun="2024-01-05 00:00:00")],
    )
    rep = p.refresh_data(incremental=True)
    assert not rep.errors
    assert rep.total_records() == 2
    assert p.warehouse.read("events").count() == 2

    upper = spark.createDataFrame([(1, datetime(2024, 1, 10))], "EVENT_ID long, TS timestamp_ntz")
    out = normalize_events_ts(upper)
    assert out.columns == ["EVENT_ID", "TS"]
    assert out.schema["TS"].dataType.typeName() == "timestamp"
