"""The staging_changes streaming source (streaming/cdc_source.py):
batch-id offsets over the append-only change feed, exact replay from
immutable batches, chop-independence, schema inference, and the
retention-horizon contract."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from priority_data_pipeline_postgres_db_spark.operators.staging import (
    BASE_SUFFIX,
    SnapshotExpiredError,
    StagingWarehouse,
)
from priority_data_pipeline_postgres_db_spark.streaming.cdc_source import (
    StagingChangesDataSource,
    StagingChangesStreamReader,
)
from priority_data_pipeline_postgres_db_spark.util import scratch_dir

DDL = "k long, v string, _change_type string"


def _src(spark, tmp_path, n_batches=2, table="feed"):
    wh = StagingWarehouse(spark, str(tmp_path), account_id="cdc")
    for i in range(n_batches):
        wh.write(
            spark.range(i * 10, i * 10 + 10).selectExpr(
                "id AS k", "concat('v', id) AS v"
            ),
            table,
            incremental=True,
            batch_id=f"b{i}",
        )
    return wh


def _drain(spark, tmp_path, ckpt):
    """AvailableNow drain through a recoverable sink (foreachBatch — the
    memory sink cannot recover from a checkpoint); returns the drained
    (k, v, _change_type) tuples."""
    spark.dataSource.register(StagingChangesDataSource)
    df = (
        spark.readStream.format("staging_changes")
        .schema(DDL)
        .option("root", str(tmp_path))
        .option("account", "cdc")
        .option("table", "feed")
        .load()
    )
    out: list[tuple] = []

    def sink(bdf, _bid):
        out.extend(tuple(r) for r in bdf.collect())

    q = (
        df.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return out


def test_chopped_drains_equal_batch_read(spark, tmp_path):
    """Drain, commit more, drain again on the SAME checkpoint: the
    second drain delivers exactly the new batches and the union equals
    the full table — the offset (a batch id) lives in the checkpoint."""
    wh = _src(spark, tmp_path, n_batches=2)
    ckpt = scratch_dir("cdc_src_ckpt_")
    first = _drain(spark, tmp_path, ckpt)
    got1 = {(k, v) for k, v, _ in first}
    assert got1 == {(k, f"v{k}") for k in range(20)}
    assert {c for _, _, c in first} == {"insert"}

    wh.write(
        spark.range(20, 30).selectExpr("id AS k", "concat('v', id) AS v"),
        "feed",
        incremental=True,
        batch_id="b2",
    )
    second = _drain(spark, tmp_path, ckpt)
    new = {(k, v) for k, v, _ in second}
    assert new == {(k, f"v{k}") for k in range(20, 30)}  # ONLY the new batch
    full = {(r["k"], r["v"]) for r in wh.read("feed").collect()}
    assert got1 | new == full


def _rows(reader, start, end):
    """Drain every partition of (start, end] through the executor-side
    read path and return plain tuples (the arrow RecordBatches the
    executors would hand Spark, flattened)."""
    out = []
    for part in reader.partitions(start, end):
        for rb in reader.read(part):
            cols = [rb.column(i).to_pylist() for i in range(rb.num_columns)]
            out.extend(zip(*cols, strict=True))
    return out


def test_partition_replay_is_exact(spark, tmp_path):
    _src(spark, tmp_path, n_batches=3)
    reader = StagingChangesStreamReader(
        spark.createDataFrame([], DDL).schema,
        {"root": str(tmp_path), "account": "cdc", "table": "feed"},
    )
    assert reader.initialOffset() == {"last": ""}
    end = reader.latestOffset()
    assert end == {"last": "b2"}
    rows = _rows(reader, {"last": ""}, end)
    assert len(rows) == 30
    # empty range: no partitions planned (start == end)
    assert reader.partitions(end, end) == []
    # exact replay of the middle slice, twice — partitions(start, end)
    # is a pure function of the offsets over immutable batch dirs
    mid = sorted(_rows(reader, {"last": "b0"}, {"last": "b1"}))
    assert mid == sorted(_rows(reader, {"last": "b0"}, {"last": "b1"}))
    assert [r[0] for r in mid] == list(range(10, 20))
    assert {r[2] for r in mid} == {"insert"}


def test_offset_below_retention_horizon_raises(spark, tmp_path):
    wh = _src(spark, tmp_path, n_batches=4)
    wh.expire_snapshots("feed", keep_last=2, reap_min_age_sec=0.0)
    reader = StagingChangesStreamReader(
        spark.createDataFrame([], DDL).schema,
        {"root": str(tmp_path), "account": "cdc", "table": "feed"},
    )
    with pytest.raises(SnapshotExpiredError):
        reader.partitions({"last": ""}, reader.latestOffset())
    # offsets at/above the horizon still stream, and the folded base
    # never re-delivers as a change
    end = reader.latestOffset()
    rows = _rows(reader, {"last": "b1"}, end)
    assert end == {"last": "b3"} and [r[0] for r in sorted(rows)] == list(
        range(20, 40)
    )


def test_schema_inference_from_batch_footer(spark, tmp_path):
    """Without a user schema, the source infers from the newest batch's
    parquet footer and appends _change_type."""
    wh = StagingWarehouse(spark, str(tmp_path), account_id="cdc")
    wh.write(
        spark.range(5).selectExpr(
            "id AS k",
            "CAST(id AS DOUBLE) / 2 AS x",
            "concat('s', id) AS s",
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
        ),
        "feed",
        incremental=True,
        batch_id="b0",
    )
    spark.dataSource.register(StagingChangesDataSource)
    df = (
        spark.readStream.format("staging_changes")
        .option("root", str(tmp_path))
        .option("account", "cdc")
        .option("table", "feed")
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<k:bigint,x:double,s:string,ts:timestamp,_change_type:string>"
    )
    q = (
        df.writeStream.format("memory")
        .queryName("cdc_infer")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_dir("cdc_infer_ckpt_"))
        .start()
    )
    q.awaitTermination()
    got = spark.table("cdc_infer").orderBy("k").collect()
    assert [r["k"] for r in got] == list(range(5))
    assert got[2]["ts"].isoformat().startswith("2024-01-01T00:00:02")


def test_stream_entry_matches_polling_twin(spark, sf_dir):
    """The managed-stream entry converges to the exact latest-per-user
    state the batch window computes."""
    from pyspark.sql.window import Window

    from priority_data_pipeline_postgres_db_spark.streaming.incremental import (
        stream_staging_cdc_ingest,
    )

    got = {
        (r["user_id"], r["event_id"])
        for r in stream_staging_cdc_ingest(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    expect = {
        (r["user_id"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == expect


# one consumer's life: append n batches / expire what it has consumed
# (keeping `extra` more) / restart its reader / run one micro-batch
CDC_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 3)),
        st.tuples(st.just("expire"), st.integers(0, 2)),
        st.tuples(st.just("restart"), st.just(0)),
        st.tuples(st.just("trigger"), st.just(0)),
    ),
    max_size=10,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(startafter=st.sampled_from(["", "b001", "b004", "c"]), ops=CDC_OPS)
def test_offsets_monotone_and_batches_delivered_once(spark, startafter, ops):
    """Under any interleaving of appends, expiries of consumed history
    and reader restarts, the latest offset never sorts below the
    consumer's committed offset, and every batch committed after
    ``startafter`` is delivered exactly once."""
    root = scratch_dir("cdc_prop_")
    wh = StagingWarehouse(spark, root, account_id="cdc")
    opts = {"root": root, "account": "cdc", "table": "feed", "startafter": startafter}
    schema = spark.createDataFrame([], DDL).schema

    def new_reader():
        return StagingChangesStreamReader(schema, dict(opts))

    reader = new_reader()
    cur = reader.initialOffset()
    committed: list[str] = []
    delivered: list[int] = []

    def trigger():
        nonlocal cur
        end = reader.latestOffset()
        assert end["last"] >= cur["last"], (cur, end)
        if end != cur:
            delivered.extend(r[0] for r in _rows(reader, cur, end))
            cur = end

    for op, n in [*ops, ("trigger", 0)]:
        if op == "append":
            for _ in range(n):
                bid = f"b{len(committed):03d}"
                k = 2 * len(committed)
                wh.write(
                    spark.createDataFrame([(k, bid), (k + 1, bid)], "k long, v string"),
                    "feed",
                    incremental=True,
                    batch_id=bid,
                )
                committed.append(bid)
        elif op == "expire":
            unconsumed = [
                b
                for b in wh._live_ids("feed")
                if not b.endswith(BASE_SUFFIX) and b > cur["last"]
            ]
            wh.expire_snapshots(
                "feed", keep_last=len(unconsumed) + n + 1, reap_min_age_sec=0.0
            )
        elif op == "restart":
            reader = new_reader()
        else:
            trigger()

    expect = [k for i, b in enumerate(committed) if b > startafter for k in (2 * i, 2 * i + 1)]
    assert sorted(delivered) == expect
