"""Test-table loaders: the driver-generated synthetic parquet tables stand
in for the reference's OData source (SURVEY.md §2.1 S1)."""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions the engine didn't build (the
    grading driver constructs its own SparkSession): without nanosAsLong
    the events.parquet TIMESTAMP(NANOS) read THROWS, and a non-UTC session
    timezone shifts collected timestamps relative to the DuckDB oracle.
    All four are runtime-settable; no-ops on sessions from get_spark.
    Static confs cannot be applied here: ``get_spark``'s codegen cache
    size (``spark.sql.codegen.cache.maxEntries``) takes effect only when
    the session is built, so a foreign session keeps its own."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — never fail a read over a tuning conf
            pass


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to session-TZ TIMESTAMP regardless of
    the parquet physical type the driver generated this round.  Works on both
    batch and streaming DataFrames (schema-only dispatch).  The column is
    matched case-insensitively, like Spark's resolver; a frame without one
    (an ``EVENTS`` entity keyed by other columns) passes through."""
    ts = next((f for f in df.schema.fields if f.name.lower() == "ts"), None)
    if ts is None:
        return df
    if isinstance(ts.dataType, T.LongType):
        # TIMESTAMP(NANOS) parquet read as long (nanosAsLong); truncate
        # to micros with INTEGER division — double division loses
        # precision at 1e18 ns and rounds the last microsecond,
        # diverging from the DuckDB oracle's truncation.
        return df.withColumn(ts.name, F.timestamp_micros(F.expr(f"`{ts.name}` div 1000")))
    if isinstance(ts.dataType, T.TimestampNTZType):
        # timestamp[us] with isAdjustedToUTC=false reads as
        # TIMESTAMP_NTZ; the engine (and the DuckDB oracle, whose
        # session is UTC) treats wall-clock == UTC, so the NTZ→LTZ cast
        # under the UTC session timezone is value-preserving.  LTZ keeps
        # the ts→long epoch casts the queries rely on legal.
        return df.withColumn(ts.name, F.col(ts.name).cast("timestamp"))
    return df


# Per-session memo of loaded (and events-normalized) table DataFrames.
# ``spark.read.parquet`` pays ~0.1 s of driver-side file listing + footer
# read per call; a 90-query gate run re-loads each table dozens of times
# in one session, so memoizing the (immutable-plan) DataFrame object cuts
# measurable constant overhead from every query (BENCH r2 flagged the
# events normalization pass; the real cost was the repeated read-plan
# construction, not the cast — the cast is one codegen projection).
# DataFrames are immutable and the testdata dirs never change within a
# session, so reuse is safe; WeakKeyDictionary lets stopped sessions drop.
_LOADED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    try:
        per_session = _LOADED.setdefault(spark, {})
    except TypeError:  # un-weakref-able session stub (tests/mocks)
        per_session = {}
    path = f"{sf_dir}/{name}.parquet"
    # mtime in the key invalidates the memo if the path is rewritten
    # within a session (e.g. a harness rebuilding a scratch corpus at a
    # fixed location) — one stat() per call, vs ~0.1 s of read-plan
    # construction saved on a hit
    try:
        key = (sf_dir, name, os.path.getmtime(path))
    except OSError:
        key = (sf_dir, name, None)
    df = per_session.get(key)
    if df is None:
        ensure_session_confs(spark)
        df = spark.read.parquet(path)
        if name == "events":
            df = normalize_events_ts(df)
        per_session[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}
