"""Guard: no oracle SQL may produce a dtype the driver's hash rejects.

Round-4 post-mortem (VERDICT r4 #1): DuckDB types integer ``SUM`` as
HUGEINT (int128); pandas materializes HUGEINT as float64, while the
Spark side returns int64 — the driver's type-sensitive value hash then
mismatches even though every value is numerically identical.  q12/q18
were the only two offenders; this sweep pins the whole class shut by
checking every oracle's *relation* types (no query execution needed —
DuckDB resolves output types from the plan).
"""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB type names pandas can't map onto a Spark-compatible dtype.
_FORBIDDEN = {"HUGEINT", "UHUGEINT", "INT128", "UINT128"}


def _all_oracles() -> dict[str, str]:
    import __spark_entry__ as e

    return e.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_oracle_emits_hugeint(con):
    bad: dict[str, list[str]] = {}
    for name, sql in _all_oracles().items():
        rel = con.sql(sql)
        offenders = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, [str(t).upper() for t in rel.types])
            if any(f in str(typ).upper() for f in _FORBIDDEN)
        ]
        if offenders:
            bad[name] = offenders
    assert not bad, (
        "oracles emitting HUGEINT-class columns (pandas→float64, driver hash "
        f"rejects vs Spark int64) — wrap in CAST(... AS BIGINT): {bad}"
    )


def test_registry_import_failure_is_loud(monkeypatch):
    """A registry module that fails to import fails the registry instead
    of silently dropping its entries and oracles."""
    import __spark_entry__ as e

    monkeypatch.setattr(e, "REGISTRY_MODULES", (*e.REGISTRY_MODULES, "operators.no_such_module"))
    with pytest.raises(ModuleNotFoundError):
        e.queries()
    with pytest.raises(ModuleNotFoundError):
        e.oracle_sql()
