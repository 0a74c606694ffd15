"""Seeded input generator for the benchmark.

Everything the program reads is written here from ``--seed``:

- ``write_star``: the star schema (region, nation, customer, supplier, part,
  orders, lineitem, events) with the column names and types the analytics
  entries expect, at ``n_orders`` orders (sf0.1 has 150 000);
- ``EltSource``: an ERP-shaped source directory (``ORDERS`` with a nested
  ``ORDERITEMS_SUBFORM``, the ``CTYPE`` dimension, the ``EVENTS`` fact) that
  lands one delta per cycle and keeps the Python model the staged tables
  must equal.

The same seed gives byte-identical files.  The only input not fixed by the
seed is the ELT ``UDATE`` stamp: it is the wall-clock landing time, because
the program's watermark is wall-clock ``now()``; tests pass a fixed clock.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024_DT = datetime(2024, 1, 1, tzinfo=timezone.utc)
_EPOCH_2024 = int(_EPOCH_2024_DT.timestamp()) * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet (fixed writer options)."""
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def write_star(root: str, seed: int, n_orders: int) -> dict[str, int]:
    """Star schema at ``n_orders`` orders; returns row counts per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 50)
    n_events = max(n_orders * 2 // 3, 100)
    n_users = max(n_events // 600, 10)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999, 9999, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999, 9999, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        np.array(["small", "red", "blue", "large", "green"])[rng.integers(0, 5, n_part)],
                        np.array(["ring", "widget", "bolt", "gear", "panel"])[rng.integers(0, 5, n_part)],
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO"])[rng.integers(0, 5, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
            }
        ),
    }
    odate = _EPOCH_1995 + rng.integers(0, 7 * 365, n_orders) * _DAY_US
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    n_li = len(l_order)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype("int32")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": l_num,
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 121, n_li) * _DAY_US),
        }
    )
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_events))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": _money(rng, 0, 100, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# ELT source + model
# ---------------------------------------------------------------------------

_UTC_US = pa.timestamp("us", tz="UTC")
ITEM_TYPE = pa.struct(
    [
        ("KLINE", pa.int32()),
        ("PARTNAME", pa.string()),
        ("TQUANT", pa.float64()),
        ("PRICE", pa.float64()),
        ("UDATE", _UTC_US),
    ]
)
ENTITY_PK = {"ORDERS": ["ORDNAME"], "CTYPE": ["CTYPECODE"], "EVENTS": ["EVENT_ID"]}
WATERMARK = {"ORDERS": "UDATE", "CTYPE": None, "EVENTS": "UDATE"}
# seconds a "mid-run commit" row is stamped ahead of its landing: it is
# committed while the next refresh runs, so the inclusive watermark
# (taken at refresh start) re-delivers it on the cycle after
OVERLAP_AHEAD_S = 2


@dataclass
class EltSizes:
    events0: int = 20_000
    orders0: int = 2_000
    ctypes0: int = 50
    new_events: int = 1_000
    upd_events: int = 1_000
    overlap_events: int = 50
    new_orders: int = 100
    upd_orders: int = 50
    overlap_orders: int = 10
    new_ctypes: int = 1


@dataclass
class EltSource:
    """Generator-owned ``ParquetEntitySource`` root plus the exact model.

    The source is a change log: each landing adds one part file per entity
    holding new keys, updated versions of existing keys (newer ``UDATE``)
    and a few mid-run commits stamped ``OVERLAP_AHEAD_S`` ahead, which the
    next incremental refresh re-delivers.  Every staged table must hold
    each logged version exactly once (raw read) and the newest version per
    key (default read)."""

    root: str
    seed: int
    sizes: EltSizes = field(default_factory=EltSizes)
    cycle: int = 0
    # model: pk -> list of versions (dicts), in landing order
    events: dict[int, list[dict]] = field(default_factory=dict)
    orders: dict[str, list[dict]] = field(default_factory=dict)
    ctypes: dict[str, dict] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 3])
        for name in ("orders", "ctype", "events"):
            os.makedirs(os.path.join(self.root, f"{name}.parquet"), exist_ok=True)

    # -- landing ------------------------------------------------------------
    def land(self, now: datetime | None = None) -> dict[str, int]:
        """Land cycle ``self.cycle``'s delta stamped ``now`` (UTC);
        returns rows landed per entity."""
        now = (now or datetime.now(timezone.utc)).replace(tzinfo=timezone.utc)
        ahead = now + timedelta(seconds=OVERLAP_AHEAD_S)
        s, rng = self.sizes, self.rng
        first = self.cycle == 0
        ev_rows = self._event_rows(
            s.events0 if first else s.new_events,
            0 if first else s.upd_events,
            0 if first else s.overlap_events,
            now,
            ahead,
        )
        ord_rows = self._order_rows(
            s.orders0 if first else s.new_orders,
            0 if first else s.upd_orders,
            0 if first else s.overlap_orders,
            now,
            ahead,
        )
        n_ct = s.ctypes0 if first else s.new_ctypes
        base = len(self.ctypes)
        ct_rows = [
            {"CTYPECODE": f"CT{base + i:05d}", "CTYPEDES": f"type {int(rng.integers(0, 10**6))}"}
            for i in range(n_ct)
        ]
        for r in ct_rows:
            self.ctypes[r["CTYPECODE"]] = r
        self._land_file("events", pa.Table.from_pylist(ev_rows, schema=EVENTS_SCHEMA))
        self._land_file("orders", pa.Table.from_pylist(ord_rows, schema=ORDERS_SCHEMA))
        self._land_file("ctype", pa.Table.from_pylist(ct_rows, schema=CTYPE_SCHEMA))
        self.cycle += 1
        return {"EVENTS": len(ev_rows), "ORDERS": len(ord_rows), "CTYPE": len(ct_rows)}

    def _pick_updates(self, model: dict, n: int, now: datetime) -> list:
        # keys whose newest version is older than this landing, so the
        # update is strictly newer (no equal-UDATE ties for newest-wins)
        keys = sorted(model)
        picked: list = []
        for i in self.rng.permutation(len(keys)):
            if len(picked) == n:
                break
            k = keys[int(i)]
            if model[k][-1]["UDATE"] < now:
                picked.append(k)
        return picked

    def _event_rows(self, n_new, n_upd, n_over, now, ahead) -> list[dict]:
        rng, rows = self.rng, []
        next_id = len(self.events)
        for j in range(n_new + n_over):
            stamp = ahead if j >= n_new else now
            rows.append(self._event(next_id + j, stamp))
        for k in self._pick_updates(self.events, n_upd, now):
            rows.append(self._event(k, now))
        for r in rows:
            self.events.setdefault(r["EVENT_ID"], []).append(r)
        return rows

    def _event(self, eid: int, stamp: datetime) -> dict:
        rng = self.rng
        return {
            "EVENT_ID": eid,
            # event time; lowercase because the program's parquet loader
            # normalizes a ``ts`` column on any table named ``events``
            "ts": _EPOCH_2024_DT + timedelta(seconds=int(rng.integers(0, 30 * 86_400))),
            "USER_ID": int(rng.integers(0, 500)),
            "EVENT_TYPE": EVENT_TYPES[int(rng.integers(0, 5))],
            "VALUE": round(float(rng.uniform(0, 100)), 2),
            "UDATE": stamp,
        }

    def _order_rows(self, n_new, n_upd, n_over, now, ahead) -> list[dict]:
        rows = []
        next_id = len(self.orders)
        for j in range(n_new + n_over):
            stamp = ahead if j >= n_new else now
            rows.append(self._order(f"SO{next_id + j:08d}", stamp))
        for k in self._pick_updates(self.orders, n_upd, now):
            rows.append(self._order(k, now))
        for r in rows:
            self.orders.setdefault(r["ORDNAME"], []).append(r)
        return rows

    def _order(self, name: str, stamp: datetime) -> dict:
        rng = self.rng
        n_items = int(rng.integers(1, 8))
        items = [
            {
                "KLINE": i + 1,
                "PARTNAME": f"P{int(rng.integers(0, 5000)):05d}",
                "TQUANT": float(rng.integers(1, 51)),
                "PRICE": round(float(rng.uniform(1, 1000)), 2),
                "UDATE": stamp,
            }
            for i in range(n_items)
        ]
        return {
            "ORDNAME": name,
            "CUSTNAME": f"C{int(rng.integers(0, 2000)):05d}",
            "QPRICE": round(sum(i["TQUANT"] * i["PRICE"] for i in items), 2),
            "ORDSTATUS": ["Open", "Closed", "Shipped"][int(rng.integers(0, 3))],
            "UDATE": stamp,
            "ORDERITEMS_SUBFORM": items,
        }

    def _land_file(self, name: str, table: pa.Table) -> None:
        d = os.path.join(self.root, f"{name}.parquet")
        final = os.path.join(d, f"part-{self.cycle:05d}.parquet")
        tmp = os.path.join(d, f".landing-{self.cycle:05d}.parquet")
        _write(table, tmp)
        os.replace(tmp, final)  # a reader never lists a half-written file

    # -- model views ---------------------------------------------------------
    def expected(self) -> dict[str, list[tuple]]:
        """Row tuples per staged table, as the checks compare them."""
        def ev(r):
            return (r["EVENT_ID"], _naive(r["ts"]), r["USER_ID"], r["EVENT_TYPE"], r["VALUE"], _naive(r["UDATE"]))

        def od(r):
            return (r["ORDNAME"], r["CUSTNAME"], r["QPRICE"], r["ORDSTATUS"], _naive(r["UDATE"]))

        def items(r):
            return [
                (r["ORDNAME"], i["KLINE"], i["PARTNAME"], i["TQUANT"], i["PRICE"], _naive(i["UDATE"]))
                for i in r["ORDERITEMS_SUBFORM"]
            ]

        return {
            "events_raw": sorted(ev(v) for vs in self.events.values() for v in vs),
            "events_view": sorted(ev(max(vs, key=_udate)) for vs in self.events.values()),
            "orders_raw": sorted(od(v) for vs in self.orders.values() for v in vs),
            "orders_view": sorted(od(max(vs, key=_udate)) for vs in self.orders.values()),
            "orderitems_raw": sorted(t for vs in self.orders.values() for v in vs for t in items(v)),
            "ctype_view": sorted((r["CTYPECODE"], r["CTYPEDES"]) for r in self.ctypes.values()),
        }

    def rows_since(self, boundary: datetime) -> int:
        """Rows (parents plus subform children) an incremental read with
        watermark ``boundary`` delivers — from the model, no count job.
        ``CTYPE`` has no watermark, so all of its rows."""
        n = len(self.ctypes)
        for model in (self.events, self.orders):
            n += sum(
                1 + len(v.get("ORDERITEMS_SUBFORM", ()))
                for vs in model.values() for v in vs
                if v["UDATE"] >= boundary
            )
        return n


def _udate(r: dict) -> datetime:
    return r["UDATE"]


def _naive(ts: datetime) -> datetime:
    return ts.astimezone(timezone.utc).replace(tzinfo=None)


EVENTS_SCHEMA = pa.schema(
    [
        ("EVENT_ID", pa.int64()),
        ("ts", _UTC_US),
        ("USER_ID", pa.int64()),
        ("EVENT_TYPE", pa.string()),
        ("VALUE", pa.float64()),
        ("UDATE", _UTC_US),
    ]
)
ORDERS_SCHEMA = pa.schema(
    [
        ("ORDNAME", pa.string()),
        ("CUSTNAME", pa.string()),
        ("QPRICE", pa.float64()),
        ("ORDSTATUS", pa.string()),
        ("UDATE", _UTC_US),
        ("ORDERITEMS_SUBFORM", pa.list_(ITEM_TYPE)),
    ]
)
CTYPE_SCHEMA = pa.schema([("CTYPECODE", pa.string()), ("CTYPEDES", pa.string())])
