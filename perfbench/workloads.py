"""The closed-loop workloads, each driven by one client.

- ``elt_refresh``: one cycle lands a delta in the source, runs
  ``Pipeline.refresh_data(incremental=True)`` with ``dedup_append=True``
  and one ``availableNow`` trigger of the ``staging_changes`` stream into
  a downstream upsert target.  Bound by per-job fixed costs: commits,
  jobs, py4j.
- ``analytics_mix``: one pass runs eight oracle-backed SQL entries over
  a star schema, then reads a staged warehouse three ways (newest-wins
  view, time travel, change feed).  Bound by executor compute; no
  Python UDFs.

Each workload exposes ``inputs`` and ``state`` (set-up), ``unit`` (one
timed cycle or pass, returning its latencies), ``final`` (one more unit
after the timed loop, outside the timed region, whose outputs the checks
see) and ``check`` (the correctness checks).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import duckdb
import numpy as np
import pandas as pd

from . import gen
from .checks import compare, frame

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
SQL_ENTRIES = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_revenue",
    "q_star_region_summary",
    "q_events_rollup",
    "q_sessionize",
    "o1_latest_per_key",
    "j1_subform_flatten",
]


@dataclass
class UnitResult:
    unit_s: float  # the workload's core call(s)
    cycle_s: float  # the whole loop iteration
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    workdir: str
    seed: int
    tracer: object
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    def check(self, label: str, fn) -> None:
        """One correctness check: ``fn`` returns None when it passes or a
        description of the difference; raising counts as failing."""
        self.attempted += 1
        try:
            diff = fn()
        except Exception as ex:  # noqa: BLE001 — a check that cannot run fails
            diff = f"{type(ex).__name__}: {str(ex)[:300]}"
        if diff:
            self.fail(f"{label}: {diff}")

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else contextlib.nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _registry():
    import __spark_entry__

    return __spark_entry__.queries(), __spark_entry__.oracle_sql()


def _duck(root: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
    return con


# ---------------------------------------------------------------------------
# elt_refresh
# ---------------------------------------------------------------------------

CDC_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, udate timestamp, "
    "extractionid string, extractiontimestamputc timestamp, _change_type string"
)


class EltRefresh:
    name = "elt_refresh"
    warmup = 2  # the full initial load, then one incremental cycle
    nominal_unit_s = 4.5  # one warm cycle on 4 cores

    def __init__(self, ctx: Ctx, sizes: gen.EltSizes | None = None):
        self.ctx = ctx
        self.sizes = sizes or gen.EltSizes()
        self.full_s: list[float] = []  # the scheduled full refresh after the timed loop

    def register(self, tracer) -> None:
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
        from priority_data_pipeline_postgres_db_spark.plans import pipeline as pl
        from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

        tracer.register(pl.Pipeline, "refresh_data", "plans.pipeline.refresh_data")
        tracer.register(pl.ParquetEntitySource, "read", "sources.read")
        tracer.register(pl, "split_subforms", "operators.ingest.split")
        tracer.register(StagingWarehouse, "write", "operators.staging.write")
        tracer.register(StagingWarehouse, "read", "operators.staging.read")
        tracer.register(ControlStore, "latest_config", "sources.control.latest_config")
        tracer.register(ControlStore, "update_last_run", "sources.control.update_last_run")

    def inputs(self) -> None:
        self.src = gen.EltSource(os.path.join(self.ctx.workdir, "src"), self.ctx.seed, self.sizes)
        self.src.land()

    def state(self) -> None:
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
        from priority_data_pipeline_postgres_db_spark.plans.pipeline import ParquetEntitySource, Pipeline
        from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore
        from priority_data_pipeline_postgres_db_spark.sources.metadata import SchemaRegistry
        from priority_data_pipeline_postgres_db_spark.streaming.cdc_source import StagingChangesDataSource

        spark, wd = self.ctx.spark, self.ctx.workdir
        start = "2000-01-01 00:00:00"
        entities = [
            {
                "EntityID": eid,
                "filterFlag": gen.WATERMARK[eid] is not None,
                "filterField": gen.WATERMARK[eid] or "",
                "expand": ["ORDERITEMS_SUBFORM"] if eid == "ORDERS" else [],
                "lastRun": start,
                "dataStartDate": start,
            }
            for eid in ("ORDERS", "CTYPE", "EVENTS")
        ]
        self.control_path = os.path.join(wd, "control.json")
        self.control = ControlStore(self.control_path)
        self.control.insert_config(
            {
                "datasourceName": "bench",
                "uri": "parquet://",
                "accountID": "bench",
                "systemTimezone": "UTC",
                "sourceSystem": "priority",
                "entities": entities,
            },
            datasource_id="ds",
        )
        registry = SchemaRegistry(
            [{"_id": e, "sourceSystem": "priority", "Fields": [], "EntityPk": pk} for e, pk in gen.ENTITY_PK.items()]
        )
        self.wh_root = os.path.join(wd, "wh")
        self.wh = StagingWarehouse(spark, self.wh_root, account_id="bench")
        self.tgt = StagingWarehouse(spark, os.path.join(wd, "tgt"), account_id="cdc")
        self.tgt.set_upsert_keys("events_latest", ["event_id"], "udate")
        self.pipe = Pipeline(
            spark, self.control, registry, ParquetEntitySource(self.src.root), self.wh, "ds", dedup_append=True
        )
        spark.dataSource.register(StagingChangesDataSource)
        self.ckpt = os.path.join(wd, "cdc_ckpt")

    def _report(self, rep) -> int:
        self.ctx.attempted += 1
        for e in rep.errors:
            self.ctx.fail(f"refresh error {e}")
        return rep.total_records()

    def _cdc(self) -> dict:
        """One availableNow trigger applying new stg_events batches into
        the downstream newest-wins target; returns summed progress."""
        spark, tgt = self.ctx.spark, self.tgt

        def apply(bdf, bid):
            tgt.write(bdf.drop("_change_type"), "events_latest", incremental=True, batch_id=f"apply-{bid:08d}")

        self.ctx.attempted += 1
        q = (
            spark.readStream.format("staging_changes")
            .schema(CDC_SCHEMA)
            .option("root", self.wh_root)
            .option("account", "bench")
            .option("table", "events")
            .load()
            .writeStream.foreachBatch(apply)
            .trigger(availableNow=True)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        q.awaitTermination()
        prog = {"rows": 0, "latestOffset": 0, "queryPlanning": 0, "addBatch": 0, "walCommit": 0}
        for p in q.recentProgress:
            prog["rows"] += int(p.get("numInputRows", 0))
            for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit"):
                prog[k] += int((p.get("durationMs") or {}).get(k, 0))
        return prog

    def _last_run(self) -> str:
        """The EVENTS watermark, read from the store's file rather than
        through ``ControlStore``, so a traced cycle records only the
        program's own control calls."""
        with open(self.control_path) as fh:
            cfg = max((d for d in json.load(fh) if d["_datasourceId"] == "ds"), key=lambda d: d["submitTimestampUTC"])
        return next(e["lastRun"] for e in cfg["entities"] if e["EntityID"] == "EVENTS")

    def unit(self, i: int, traced: bool) -> UnitResult:
        """One cycle.  The first warm-up cycle (``i == -1``) is the initial
        load, a full refresh; every other cycle is incremental."""
        ctx = self.ctx
        full = i == -1
        self.src.land()
        t_land = time.time()
        info: dict = {}
        if traced:
            # traced cycles are timed ones, so incremental
            boundary = datetime.strptime(self._last_run(), "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
            info["rows_delivered"] = self.src.rows_since(boundary)
            before = _files(self.wh_root)
        t0 = time.time()
        rep = self.pipe.refresh_data(incremental=not full)
        t1 = time.time()
        info["rows_written"] = self._report(rep)
        with ctx.span("streaming.cdc_trigger", traced):
            info["cdc"] = self._cdc()
        t2 = time.time()
        if traced:
            after = _files(self.wh_root)
            new = set(after) - set(before)
            info["files_written"] = len(new)
            info["bytes_written"] = sum(after[f] for f in new)
        return UnitResult(t1 - t0, t2 - t_land, info)

    def final(self) -> None:
        """The scheduled full refresh, over the history the run has grown,
        on a warm JVM.  Its latency is the per-layer ``full_refresh_s``,
        kept out of the end-to-end metrics; the checks see its result."""
        t0 = time.time()
        rep = self.pipe.refresh_data(incremental=False)
        self.full_s.append(time.time() - t0)
        self._report(rep)

    def check(self) -> None:
        exp = self.src.expected()
        ev = ["event_id", "ts", "user_id", "event_type", "value", "udate"]
        od = ["ordname", "custname", "qprice", "ordstatus", "udate"]
        it = ["ordname", "kline", "partname", "tquant", "price", "udate"]
        wh, tgt = self.wh, self.tgt
        pairs = [
            ("stg_events raw", lambda: wh.read("events", raw=True), ev, exp["events_raw"]),
            ("stg_events view", lambda: wh.read("events"), ev, exp["events_view"]),
            ("stg_orders raw", lambda: wh.read("orders", raw=True), od, exp["orders_raw"]),
            ("stg_orders view", lambda: wh.read("orders"), od, exp["orders_view"]),
            # the child table is checked raw: the pipeline registers the
            # parent pk as its upsert key, so its default view keeps one
            # item per order; raw holds every item of every version
            ("stg_orderitems raw", lambda: wh.read("orderitems", raw=True), it, exp["orderitems_raw"]),
            ("stg_ctype view", lambda: wh.read("ctype"), ["ctypecode", "ctypedes"], exp["ctype_view"]),
            ("cdc target view", lambda: tgt.read("events_latest"), ev, exp["events_view"]),
        ]
        for label, df, cols, want in pairs:
            self.ctx.check(label, lambda: compare(df().select(*cols).toPandas(), frame(want, cols)))

    def corrupt(self) -> None:
        """Self-test hook: change the model so the checks must fail."""
        newest = self.src.events[0][-1]
        newest["VALUE"] = newest["VALUE"] + 1.0


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------


class AnalyticsMix:
    name = "analytics_mix"
    warmup = 1
    nominal_unit_s = 5.5  # one warm pass on 4 cores

    def __init__(self, ctx: Ctx, n_orders: int = 30_000, n_batches: int = 24, batch_rows: int = 2_000):
        self.ctx = ctx
        self.n_orders = n_orders
        self.n_batches = n_batches
        self.batch_rows = batch_rows
        self.collected: dict[str, pd.DataFrame] = {}

    def register(self, tracer) -> None:
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse

        tracer.register(StagingWarehouse, "read", "operators.staging.read")

    def inputs(self) -> None:
        self.star = os.path.join(self.ctx.workdir, "star")
        gen.write_star(self.star, self.ctx.seed, self.n_orders)

    def state(self) -> None:
        """A staged upsert table built from many small batches, plus its
        Python model: newest version per key, at the middle snapshot and
        at the end."""
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse

        spark = self.ctx.spark
        self.queries, self.oracle = _registry()
        self.wh = StagingWarehouse(spark, os.path.join(self.ctx.workdir, "dwh"), account_id="dwh")
        self.wh.set_upsert_keys("accounts", ["acct"], "version")
        rng = np.random.default_rng([self.ctx.seed, 4])
        n_keys = self.n_batches * self.batch_rows // 2
        self.model: dict[int, tuple] = {}
        mid = self.n_batches // 2 - 1
        for b in range(self.n_batches):
            keys = np.unique(rng.integers(0, n_keys, self.batch_rows))
            pdf = pd.DataFrame(
                {
                    "acct": keys.astype("int64"),
                    "status": np.array(["open", "closed", "hold"])[rng.integers(0, 3, len(keys))],
                    "balance": np.round(rng.uniform(-1000, 1000, len(keys)), 2),
                    "version": np.full(len(keys), b, dtype="int64"),
                }
            )
            self.wh.write(spark.createDataFrame(pdf), "accounts", incremental=True, batch_id=f"b{b:04d}")
            for r in pdf.itertuples(index=False):
                self.model[r.acct] = tuple(r)
            if b == mid:
                self.model_mid = dict(self.model)
        self.snap_mid = self.wh.snapshots("accounts")[mid]
        self.snap_end = self.wh.snapshots("accounts")[-1]

    def unit(self, i: int, traced: bool) -> UnitResult:
        """One pass; every query runs into the noop sink."""
        return self._pass(lambda key, df: _noop(df), traced)

    def final(self) -> None:
        """One more pass after the timed ones, with the same memos and
        caches warm, that collects its results for the checks."""
        self._pass(self._collect, False)

    def _pass(self, act, traced: bool) -> UnitResult:
        ctx, spark = self.ctx, self.ctx.spark
        timings = {}
        t0 = time.time()
        for name in SQL_ENTRIES:
            s = time.time()
            with ctx.span(f"plans.{name}", traced):
                ctx.attempted += 1
                act(name, self.queries[name](spark, self.star))
            timings[name] = time.time() - s
        t1 = time.time()
        for kind, df in (
            ("view", lambda: self.wh.read("accounts")),
            ("asof", lambda: self.wh.read("accounts", as_of=self.snap_mid)),
            ("changes", lambda: self.wh.table_changes("accounts", self.snap_mid, self.snap_end)),
        ):
            with ctx.span(f"operators.staging.{kind}_read", traced):
                ctx.attempted += 1
                act(kind, df())
        t2 = time.time()
        return UnitResult(t1 - t0, t2 - t0, {"entries": timings})

    def _collect(self, key: str, df) -> None:
        self.collected[key] = df.toPandas()

    def check(self) -> None:
        ctx, got = self.ctx, self.collected
        con = _duck(self.star, STAR_TABLES)
        for name in SQL_ENTRIES:
            ctx.check(name, lambda n=name: compare(got[n], con.execute(self.oracle[n]).df()))
        con.close()
        cols = ["acct", "status", "balance", "version"]
        view = sorted(self.model.values())
        mid = sorted(self.model_mid.values())
        changes = sorted(
            (*r, "insert" if r[0] not in self.model_mid else "update_postimage")
            for r in view
            if self.model_mid.get(r[0]) != r
        )
        for kind, c, want in (
            ("view", cols, view),
            ("asof", cols, mid),
            ("changes", cols + ["_change_type"], changes),
        ):
            ctx.check(f"staged {kind} read", lambda k=kind, c=c, w=want: compare(got[k][c], frame(w, c)))

    def corrupt(self) -> None:
        """Self-test hook: drop a result row and change the model."""
        self.collected["q1_pricing_summary"] = self.collected["q1_pricing_summary"].iloc[1:]
        key = next(iter(self.model))
        self.model[key] = (*self.model[key][:2], self.model[key][2] + 1.0, self.model[key][3])


WORKLOADS = {w.name: w for w in (EltRefresh, AnalyticsMix)}
