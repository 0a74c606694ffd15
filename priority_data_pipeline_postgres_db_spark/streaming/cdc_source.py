"""Structured Streaming source over a StagingWarehouse change feed —
``spark.readStream.format("staging_changes")`` (VERDICT r10 #6).

The polling CDC consumer (``k1_cdc_poll_cycle``: read
``table_changes(last_seen, newest)``, apply, advance the watermark)
re-expressed as a source Structured Streaming MANAGES: the consumer
offset is a batch id living in the checkpoint instead of the control
store, retried micro-batches replay EXACTLY (``partitions(start, end)``
is a pure function of the offsets over immutable committed batches), and
downstream gets foreachBatch sinks and watermarks for free — the
Structured Streaming twin of the reference's refresh-every-N-minutes
loop (priorityDataSource.py lastRun), pointed at a warehouse table
instead of an OData entity.

``trigger(availableNow=True)`` is not AvailableNow here: PySpark 4.1.2
Python stream sources do not support ``Trigger.AvailableNow``, and every
such trigger logs "Falling back to single batch execution".  So a query
restarted after an uncommitted batch applies only that batch in its
first trigger; batches committed after it wait for the next trigger.

Semantics = the append-only change feed (``_table_changes_append``):
every committed batch is immutable, so the rows between two offsets are
EXACTLY the rows of batches in ``(start, end]`` — replay is exact by
construction, no log, no bookkeeping.  Offsets below a retention horizon
raise (same contract as ``table_changes``): the per-batch history is
folded and no longer addressable.

Options: ``root`` (warehouse root), ``table``, ``account`` (default
``local``), ``startafter`` (initial offset batch id — default '' =
everything ever committed).

Execution shape (r14, guide §4/§5 — the driver does no data work): this
is a PARTITION-BASED ``DataSourceStreamReader``, not the Simple wrapper.
The driver only lists committed batch ids (offset planning — tiny,
O(batches) directory entries); each committed batch dir becomes one
input partition whose rows are read EXECUTOR-SIDE via Arrow and handed
to Spark as RecordBatches.  The previous Simple reader prefetched every
row on the driver as Python tuples and shipped them through pickle —
at 100 TB a day's worth of change batches through one driver process;
now the heavy bytes never touch it.  (The OData stream reader stays
Simple: its input IS per-row JSON from a paged HTTP driver loop.)
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..operators.staging import (
    BASE_SUFFIX,
    BATCH_COL,
    SnapshotExpiredError,
    StagingWarehouse,
)

CHANGE_COL = "_change_type"

_ARROW_TO_DDL = {
    "int64": "long",
    "int32": "int",
    "int16": "short",
    "int8": "byte",
    "double": "double",
    "float": "float",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
    "date32[day]": "date",
    "binary": "binary",
    "large_binary": "binary",
}


def _arrow_ddl(field) -> str:
    t = str(field.type)
    if t in _ARROW_TO_DDL:
        return _ARROW_TO_DDL[t]
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("decimal"):
        return t.replace("decimal128", "decimal").replace("decimal64", "decimal")
    raise ValueError(
        f"staging_changes cannot map arrow type {t!r} of field "
        f"{field.name!r} — pass an explicit schema"
    )


class StagingChangesDataSource(DataSource):
    """``spark.readStream.format("staging_changes")`` — register with
    ``spark.dataSource.register(StagingChangesDataSource)``.  Without an
    explicit user schema, the schema is inferred from the newest
    committed batch's parquet footer (plus the ``_change_type``
    column)."""

    @classmethod
    def name(cls) -> str:
        return "staging_changes"

    def _warehouse(self) -> StagingWarehouse:
        # filesystem-only use: the listing/marker helpers never touch
        # the SparkSession slot
        return StagingWarehouse(
            None, self.options["root"], self.options.get("account", "local")
        )

    def schema(self) -> T.StructType | str:
        wh = self._warehouse()
        table = self.options["table"]
        live = [b for b in wh._live_ids(table) if not b.endswith(BASE_SUFFIX)]
        if not live:
            raise ValueError(
                f"staging_changes: table {table!r} has no committed batches "
                "to infer a schema from — pass an explicit schema"
            )
        import pyarrow.dataset as ds

        path = os.path.join(wh._path(table), f"{BATCH_COL}={live[-1]}")
        sch = ds.dataset(path, format="parquet").schema
        cols = [f"{f.name} {_arrow_ddl(f)}" for f in sch]
        return ", ".join(cols + [f"{CHANGE_COL} string"])

    def streamReader(self, schema: T.StructType):
        return StagingChangesStreamReader(schema, dict(self.options))


@dataclass
class ChangeBatchPartition(InputPartition):
    """One committed batch dir = one input partition (immutable once
    committed, so a retried task re-reads identical bytes)."""

    batch_dir: str


class StagingChangesStreamReader(DataSourceStreamReader):
    """Batch-id offsets over the append-only feed.  ``latestOffset``
    advances to the newest committed id; ``partitions(start, end)`` maps
    the ids in ``(start, end]`` to one partition per immutable batch dir
    (bit-exact replay for retried micro-batches); ``read`` runs on the
    EXECUTORS via Arrow."""

    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.options = options
        self.table = options["table"]
        self.wh = StagingWarehouse(
            None, options["root"], options.get("account", "local")
        )
        # the exact arrow schema the executor-side read must emit
        # (computed once driver-side; the reader is pickled to the
        # executors with it)
        from pyspark.sql.pandas.types import to_arrow_schema

        self._pa_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        return {"last": self.options.get("startafter", "")}

    def _ids_after(self, last: str) -> list[str]:
        exp = self.wh._expiry(self.table)
        if exp and last < exp["horizon"]:
            raise SnapshotExpiredError(
                f"staging_changes offset {last!r} of {self.table!r} predates "
                f"the retention horizon {exp['horizon']!r} set by "
                "expire_snapshots — the per-batch history below it is folded"
            )
        return [
            b
            for b in self.wh._live_ids(self.table)
            if not b.endswith(BASE_SUFFIX) and b > last
        ]

    def latestOffset(self) -> dict:
        """The newest committed id, floored at ``startafter`` and the
        retention horizon: Spark compares offsets by equality only, so a
        latest offset that sorted below either would be committed as a
        step BACKWARDS — re-delivering consumed batches, or raising on a
        start below the horizon once every batch is folded."""
        exp = self.wh._expiry(self.table)
        floor = [self.options.get("startafter", "")]
        if exp:
            floor.append(exp["horizon"])
        live = [
            b
            for b in self.wh._live_ids(self.table)
            if not b.endswith(BASE_SUFFIX)
        ]
        return {"last": max(live + floor)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        hi = end.get("last", "")
        ids = [b for b in self._ids_after(start.get("last", "")) if b <= hi]
        root = self.wh._path(self.table)
        return [
            ChangeBatchPartition(os.path.join(root, f"{BATCH_COL}={bid}"))
            for bid in ids
        ]

    def read(self, partition: ChangeBatchPartition):
        import pyarrow as pa
        import pyarrow.dataset as ds

        pa_schema = self._pa_schema
        for rb in ds.dataset(
            partition.batch_dir, format="parquet"
        ).to_batches():
            n = rb.num_rows
            if n == 0:
                continue
            names = set(rb.schema.names)
            arrays = []
            for f in pa_schema:
                if f.name == CHANGE_COL:
                    arrays.append(pa.array(["insert"] * n, type=f.type))
                elif f.name in names:
                    # cast lands every physical reading (INT96-ns
                    # timestamps, int32 vs int64 parquet encodings,
                    # tz-naive wall times under the UTC-pinned session)
                    # on the schema's exact arrow type
                    arrays.append(rb.column(f.name).cast(f.type))
                else:
                    # schema-evolution None-fill, same contract as the
                    # warehouse's mergeSchema read
                    arrays.append(pa.nulls(n, type=f.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    def commit(self, end: dict) -> None:
        # offsets address immutable committed batches; nothing to clean
        return
