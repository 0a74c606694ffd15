"""Model-based test of the staging commit protocol.

A ``hypothesis.stateful`` machine drives one ``StagingWarehouse`` table
through appends (auto, explicit and replayed batch ids), full
refreshes, ``compact``, ``rewrite_compact_files``, ``expire_snapshots``
and ``delete_rows``.  Every generation swap may carry one append that a
patched hook injects at a chosen point of the swap: before the pre-flip
sweep, between that sweep and the ``CURRENT`` flip, or after the flip
but before the displaced generation is garbage-collected.  The injected
appender resolved the generation when the swap began, as a real
concurrent writer would have.

After every step, ``read()``, ``read(as_of=s)`` for every live
snapshot, ``snapshots()`` and ``table_changes`` must equal a pure-Python
model of the table (``TableModel``), and every ``_snapshot_state`` a
reader took during a swap must be exactly the old generation or the new
one.

``ModelledTable`` pairs a warehouse table with its model; other tests
use it to check a fixed op sequence against the model.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from hypothesis import HealthCheck, settings, strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
import pytest

from priority_data_pipeline_postgres_db_spark.operators.staging import (
    BASE_SUFFIX,
    MANIFEST_CURRENT,
    MANIFEST_DIR,
    StagingReadError,
    StagingWarehouse,
)


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def _newest_wins(tagged, pk, order) -> list[tuple]:
    """Latest row per ``pk`` by (order value, batch id) — the upsert
    contract's resolution over ``(row, batch_id)`` pairs.  A NULL order
    value loses to any non-NULL one (Spark's descending sort puts NULLs
    last)."""
    best: dict = {}
    for row, bid in tagged:
        key = tuple(row[i] for i in pk)
        rank = (row[order] is not None, row[order], bid)
        if key not in best or rank > best[key][0]:
            best[key] = (rank, row)
    return [row for _, row in best.values()]


def _parent(bid: str) -> str:
    """The batch a ``delete_rows`` replacement id was derived from:
    ``<old>-d<hex>``, or ``<core>-d<hex>~base`` for a retention base."""
    if bid.endswith(BASE_SUFFIX):
        return bid[: -len(BASE_SUFFIX)].rsplit("-d", 1)[0] + BASE_SUFFIX
    return bid.rsplit("-d", 1)[0]


class TableModel:
    """The committed batches of one table (id → rows) and its retention
    marker.  ``pk``/``order`` are column positions of the upsert
    contract, ``None`` for an append-only table."""

    def __init__(
        self, width: int, pk: tuple[int, ...] | None = None, order: int | None = None
    ):
        self.width, self.pk, self.order = width, pk, order
        self.batches: dict[str, list[tuple]] = {}
        self.marker: dict | None = None

    def snapshots(self) -> list[str]:
        return sorted(self.batches)

    def raw(self, as_of: str | None = None) -> list[tuple]:
        return [
            r
            for b in self.snapshots()
            if as_of is None or b <= as_of
            for r in self.batches[b]
        ]

    def rows(self, as_of: str | None = None) -> list[tuple]:
        if self.pk is None:
            return _sorted(self.raw(as_of))
        tagged = [
            (r, b)
            for b in self.snapshots()
            if as_of is None or b <= as_of
            for r in self.batches[b]
        ]
        return _sorted(_newest_wins(tagged, self.pk, self.order))

    def changes(self, lo: str, hi: str) -> list[tuple]:
        """``table_changes(lo, hi)`` rows: the inserted rows of batches in
        ``(lo, hi]`` on an append-only table; the keyed diff
        ``(*pk, change_type, *payload)`` of two snapshots otherwise."""
        if self.pk is None:
            return _sorted(
                (*r, "insert")
                for b in self.snapshots()
                if lo < b <= hi
                for r in self.batches[b]
            )
        pk = self.pk

        def keyed(as_of):
            return {tuple(r[i] for i in pk): r for r in self.rows(as_of)}

        old, new = keyed(lo), keyed(hi)
        payload = [i for i in range(self.width) if i not in pk]
        out = []
        for key in old.keys() | new.keys():
            if key not in old:
                kind, row = "insert", new[key]
            elif key not in new:
                kind, row = "delete", None
            elif new[key][self.order] != old[key][self.order]:
                kind, row = "update_postimage", new[key]
            else:
                continue
            out.append(
                (*key, kind, *(None if row is None else row[i] for i in payload))
            )
        return _sorted(out)

    # -- operations ------------------------------------------------------
    def append(self, bid: str | None, rows: list[tuple]) -> None:
        """An append commits one batch, or none (``bid is None``) when an
        empty frame left no parquet file."""
        if bid is not None:
            self.batches[bid] = list(rows)

    def collapse(self, bid: str | None, rows: list[tuple]) -> None:
        """A replace-style commit: full refresh, compact or a rewrite.
        Drops every batch and the retention marker; ``bid`` holds
        ``rows`` (``None`` for a refresh down to zero rows)."""
        self.batches = {bid: list(rows)} if bid is not None else {}
        self.marker = None

    def expire(self, keep_last: int) -> list[str]:
        live = self.snapshots()
        doomed = live[:-keep_last]
        if not any(not b.endswith(BASE_SUFFIX) for b in doomed):
            return []
        horizon = doomed[-1]
        base = horizon + BASE_SUFFIX
        if self.pk is None:
            folded = [r for b in doomed for r in self.batches[b]]
        else:
            folded = _newest_wins(
                [(r, b) for b in doomed for r in self.batches[b]],
                self.pk,
                self.order,
            )
        for b in doomed:
            del self.batches[b]
        self.batches[base] = folded
        self.marker = {"horizon": horizon, "base": base}
        return doomed

    def delete(self, pred, new_ids: set[str], remaining: set[str]) -> int:
        """``delete_rows``: a batch still in ``remaining`` was left alone
        and must hold no matching row; any other batch is replaced by its
        survivors under a derived id taken from ``new_ids``, or dropped
        when none survive.  Returns the rows deleted."""
        children = {_parent(n): n for n in new_ids}
        assert len(children) == len(new_ids), new_ids
        deleted = 0
        for b in self.snapshots():
            keep = [r for r in self.batches[b] if not pred(r)]
            hit = len(self.batches[b]) - len(keep)
            deleted += hit
            if b in remaining:
                assert hit == 0, (b, hit)
                continue
            child = children.pop(b, None)
            assert bool(keep) == (child is not None), (b, keep, child)
            del self.batches[b]
            if child is not None:
                self.batches[child] = keep
            if self.marker and self.marker["base"] == b:
                self.marker = {**self.marker, "base": child}
        assert not children, children  # every replacement has a parent
        return deleted


class ModelledTable:
    """A warehouse table and its ``TableModel``: every op runs on both,
    and ``check()`` asserts the table's reads equal the model.  New
    batch ids are learned from the table dir's physical listing."""

    def __init__(self, wh: StagingWarehouse, table: str, schema, *, pk=None, order=None):
        self.wh, self.table, self.schema = wh, table, schema
        self.path = wh._path(table)
        self.model = TableModel(len(schema.fields), pk, order)
        self._pending = None  # an injected append the model has not applied

    def _dirs(self) -> set[str]:
        return {d.split("=", 1)[1] for d in self.wh._listed(self.path)}

    def df(self, rows):
        return self.wh.spark.createDataFrame(list(rows), self.schema)

    def _write(self, rows, **kw) -> tuple[int, set[str]]:
        before = self._dirs()
        rep = self.wh.write(self.df(rows), self.table, **kw)
        return rep.records_written, self._dirs() - before

    # -- ops -------------------------------------------------------------
    def append(self, rows, batch_id: str | None = None) -> None:
        n, new = self._write(rows, incremental=True, batch_id=batch_id)
        assert n == len(rows) and len(new) <= 1 and (new or not rows), (n, new)
        if batch_id is not None and new:
            assert new == {batch_id}
        self.model.append(next(iter(new), None), rows)

    def replay(self, rows, batch_id: str) -> None:
        n, new = self._write(rows, incremental=True, batch_id=batch_id)
        assert (n, new) == (0, set())

    def refresh(self, rows, inject=None) -> None:
        def op():
            n, new = self._write(rows, incremental=False)
            assert n == len(rows), n
            return new

        new = self._swap(op, inject)
        assert len(new) <= 1 and (new or not rows), new
        self.model.collapse(next(iter(new), None), rows)
        self._settle()

    def _rewrite(self, op, rows, inject) -> None:
        new = self._swap(lambda: self._new_after(op), inject)
        assert len(new) == 1, new
        self.model.collapse(new.pop(), rows)
        self._settle()

    def _new_after(self, op) -> set[str]:
        before = self._dirs()
        op()
        return self._dirs() - before

    def compact(self, inject=None) -> None:
        """``compact`` on the upsert contract; on an append-only table the
        first column is the key and the second the order column."""
        m = self.model
        pk, order = (m.pk, m.order) if m.pk else ((0,), 1)
        names = self.schema.fieldNames()
        folded = _newest_wins(
            [(r, b) for b in m.snapshots() for r in m.batches[b]], pk, order
        )
        self._rewrite(
            lambda: self.wh.compact(
                self.table, pk=[names[i] for i in pk], order_col=names[order]
            ),
            folded,
            inject,
        )

    def rewrite_compact_files(self, inject=None) -> None:
        rows = self.model.rows()
        self._rewrite(
            lambda: self.wh.rewrite_compact_files(self.table, n_files=1),
            rows,
            inject,
        )

    def rewrite_clustered(self, zorder_by: list[str]) -> None:
        rows = self.model.rows()
        self._rewrite(
            lambda: self.wh.rewrite_clustered(self.table, zorder_by=zorder_by),
            rows,
            None,
        )

    def expire(self, keep_last: int) -> None:
        rep = self.wh.expire_snapshots(self.table, keep_last=keep_last)
        assert rep["expired"] == self.model.expire(keep_last), rep

    def delete(self, where, pred, inject=None) -> None:
        rep = {}

        def op():
            before = self._dirs()
            rep.update(self.wh.delete_rows(self.table, where))
            return self._dirs() - before

        new = self._swap(op, inject)
        deleted = self.model.delete(pred, new, self._dirs())
        assert rep["rows_deleted"] == deleted, (rep, deleted)
        self._settle()

    # -- one append injected into a generation swap ----------------------
    def _swap(self, op, inject) -> set[str]:
        """Run ``op`` (which ends in at most one generation swap) and
        return the batch ids it created.  With ``inject=(point, rows)``
        one append of ``rows`` lands at ``point`` of the swap; the model
        applies it after ``op`` (the append's id sorts after every id
        the op created, see ``_settle``)."""
        if inject is None:
            return op()
        point, rows = inject
        mdir = os.path.join(self.path, MANIFEST_DIR)
        old_state = self._state()
        stale = StagingWarehouse._entries_dir(mdir)
        real_sweep = StagingWarehouse._sweep_entries
        real_add = StagingWarehouse._manifest_add
        real_resolve = StagingWarehouse.__dict__["_entries_dir"]
        real_replace, real_rmtree = os.replace, shutil.rmtree
        sweeps, fired, busy, seen, injected = [], [], [], [], set()

        def stale_add(wh_self, path, batch_id):
            # the appender resolved CURRENT when the swap began
            first = [True]

            def resolve(m):
                if first and m == mdir:
                    first.clear()
                    return stale
                return real_resolve.__func__(m)

            StagingWarehouse._entries_dir = staticmethod(resolve)
            try:
                real_add(wh_self, path, batch_id)
            finally:
                StagingWarehouse._entries_dir = real_resolve

        def at(name):
            if busy:
                return
            busy.append(1)
            try:
                seen.append(self._read_state())
                if name == point and not fired:
                    fired.append(name)
                    StagingWarehouse._manifest_add = stale_add
                    try:
                        injected.update(self._write(rows, incremental=True)[1])
                    finally:
                        StagingWarehouse._manifest_add = real_add
                    seen.append(self._read_state())
            finally:
                busy.clear()

        def sweep(wh_self, *a):
            sweeps.append(1)
            if len(sweeps) == 1:
                at("pre_sweep")
            return real_sweep(wh_self, *a)

        def replace(src, dst, *a, **kw):
            if str(dst) == os.path.join(mdir, MANIFEST_CURRENT):
                at("pre_flip")
            return real_replace(src, dst, *a, **kw)

        def rmtree(p, *a, **kw):
            if os.path.dirname(str(p)) == mdir:
                at("pre_gc")
            return real_rmtree(p, *a, **kw)

        StagingWarehouse._sweep_entries = sweep
        os.replace, shutil.rmtree = replace, rmtree
        try:
            new = op()
        finally:
            StagingWarehouse._sweep_entries = real_sweep
            os.replace, shutil.rmtree = real_replace, real_rmtree
        if sweeps:
            assert fired, f"no {point} hook fired during the swap"
        else:  # the op committed no swap (delete_rows matched nothing)
            injected = self._write(rows, incremental=True)[1]
        assert len(injected) == 1, injected
        new -= injected
        self._pending = (old_state, injected, seen, rows)
        return new

    def _state(self) -> tuple:
        m = self.model.marker
        return frozenset(self.model.batches), m and tuple(sorted(m.items()))

    def _read_state(self) -> tuple:
        ids, exp = self.wh._snapshot_state(self.path)
        return frozenset(ids), exp and tuple(sorted(exp.items()))

    def _settle(self) -> None:
        """Apply a pending injected append to the model and check every
        reader state seen during the swap was one whole generation."""
        pending, self._pending = self._pending, None
        if pending is None:
            return
        (old_ids, old_m), injected, seen, rows = pending
        self.model.append(next(iter(injected)), rows)
        new_ids, new_m = self._state()
        allowed = {
            (old_ids, old_m),
            (old_ids | injected, old_m),
            (new_ids, new_m),
            (new_ids - injected, new_m),
        }
        for state in seen:
            assert state in allowed, (state, allowed)

    # -- the invariant ---------------------------------------------------
    def check(self) -> None:
        wh, t, m = self.wh, self.table, self.model
        cols = self.schema.fieldNames()
        snaps = m.snapshots()
        assert wh.snapshots(t) == snaps
        assert wh.exists(t) == bool(snaps)
        assert self._read_state() == self._state()
        if not snaps:
            with pytest.raises(StagingReadError):
                wh.read(t)
            return

        def rows(df):
            return _sorted(df.select(*cols).collect())

        assert rows(wh.read(t)) == m.rows()
        for s in snaps:
            assert rows(wh.read(t, as_of=s)) == m.rows(s), s
        pairs = {(snaps[0], snaps[-1]), (snaps[max(len(snaps) - 2, 0)], snaps[-1])}
        for lo, hi in pairs:
            ch = wh.table_changes(t, lo, hi)
            if m.pk is None:
                got = ch.select(*cols, "_change_type").collect()
            else:
                pk = [cols[i] for i in m.pk]
                payload = [c for c in cols if c not in pk]
                got = ch.select(*pk, "_change_type", *payload).collect()
            assert _sorted(got) == m.changes(lo, hi), (lo, hi)


# -- the state machine ---------------------------------------------------

ROW = st.tuples(st.integers(0, 5), st.integers(0, 3))
ROWS = st.lists(ROW, min_size=1, max_size=4)
POINT = st.sampled_from([None, "pre_sweep", "pre_flip", "pre_gc"])


class StagingMachine(RuleBasedStateMachine):
    spark = None
    root = None

    @initialize(keyed=st.booleans(), rows=ROWS)
    def start(self, keyed, rows):
        from pyspark.sql import types as T

        self.dir = tempfile.mkdtemp(dir=self.root)
        wh = StagingWarehouse(self.spark, self.dir, account_id="m")
        schema = T.StructType(
            [T.StructField("k", T.LongType()), T.StructField("ver", T.LongType())]
        )
        self.t = ModelledTable(
            wh, "t", schema, pk=(0,) if keyed else None, order=1 if keyed else None
        )
        if keyed:
            wh.set_upsert_keys("t", ["k"], "ver")
        self.explicit: list[str] = []
        self.t.refresh(rows)

    def teardown(self):
        if getattr(self, "dir", None):
            shutil.rmtree(self.dir, ignore_errors=True)

    def _nonempty(self):
        return bool(self.t.model.batches)

    @staticmethod
    def _inject(point, rows):
        return None if point is None else (point, rows)

    @rule(rows=st.lists(ROW, max_size=3))
    def append_auto(self, rows):
        self.t.append(rows)

    @rule(rows=ROWS)
    def append_explicit(self, rows):
        bid = f"{time.time_ns():020d}-x{len(self.explicit):03d}"
        self.explicit.append(bid)
        self.t.append(rows, batch_id=bid)

    @precondition(lambda self: any(b in self.t.model.batches for b in self.explicit))
    @rule(data=st.data(), rows=ROWS)
    def append_replayed(self, data, rows):
        live = [b for b in self.explicit if b in self.t.model.batches]
        self.t.replay(rows, data.draw(st.sampled_from(live)))

    @rule(rows=st.lists(ROW, max_size=3), point=POINT, inj=ROWS)
    def full_refresh(self, rows, point, inj):
        self.t.refresh(rows, inject=self._inject(point, inj))

    @precondition(_nonempty)
    @rule(point=POINT, inj=ROWS)
    def compact(self, point, inj):
        self.t.compact(inject=self._inject(point, inj))

    @precondition(_nonempty)
    @rule(point=POINT, inj=ROWS)
    def rewrite_compact_files(self, point, inj):
        self.t.rewrite_compact_files(inject=self._inject(point, inj))

    @precondition(_nonempty)
    @rule(keep_last=st.integers(1, 3))
    def expire_snapshots(self, keep_last):
        self.t.expire(keep_last)

    @precondition(_nonempty)
    @rule(key=st.integers(0, 5), point=POINT, inj=ROWS)
    def delete_rows(self, key, point, inj):
        self.t.delete(
            [("k", "==", key)],
            lambda r: r[0] == key,
            inject=self._inject(point, inj),
        )

    @invariant()
    def matches_model(self):
        if hasattr(self, "t"):
            self.t.check()


MACHINE_SETTINGS = settings(
    max_examples=8,
    stateful_step_count=8,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=list(HealthCheck),
)


def test_staging_protocol_matches_model(spark, tmp_path):
    """Every op sequence the machine draws leaves the table's reads
    equal to the model's, and no reader sees a mix of two generations."""
    StagingMachine.spark, StagingMachine.root = spark, str(tmp_path)
    run_state_machine_as_test(StagingMachine, settings=MACHINE_SETTINGS)
