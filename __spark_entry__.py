"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship star-rollup query at sf0.001; ``queries`` /
``oracle_sql`` expose the full operator catalog (SURVEY.md §2 plus the
beyond-reference LLM-pipeline operators) with DuckDB oracles wherever the
semantics are SQL-expressible.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from priority_data_pipeline_postgres_db_spark.plans import analytics as _an
from priority_data_pipeline_postgres_db_spark.plans import queries as _q

_REPO = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q.q_star_region_summary(spark, "/root/testdata/sf0.001")


# Round-7 rotation (VERDICT r6 #1/#2).  The driver verifies the FIRST 50
# registry entries, so the ordering must guarantee (a) every entry with
# no successful driver-artifact row sorts inside that window, and
# (b) with 100% cumulative coverage reached in r6, the remaining window
# slots re-certify the STALEST verified entries (oldest last-verified
# round first) so shared-code drift is caught within a few rounds.
#
# Ground truth is computed at runtime from the CORRECTNESS_r*.json
# artifacts — never a hand-maintained literal (that drifted in r4, r5,
# and r6; see scripts/window_check.py, which pins the invariants).


def _row_verified(row: dict) -> bool:
    """A driver row counts as VERIFIED only when it succeeded: hash-match
    for oracle entries, or a rows-only check that actually ran (err ==
    'no_oracle' with a row count).  Failed rows must NOT retire an entry
    — it has to rotate back into the window after the fix."""
    if row.get("hash_match") is True:
        return True
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def driver_verified_rounds() -> dict[str, int]:
    """Map query key -> latest round number with a SUCCESSFUL driver row,
    scanned from CORRECTNESS_r*.json in the repo root."""
    rounds: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        stem = os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0]
        try:
            rnd = int(stem)
        except ValueError:
            continue
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for key, row in rows.items():
            if isinstance(row, dict) and _row_verified(row):
                rounds[key] = max(rounds.get(key, 0), rnd)
    return rounds


# The beyond-reference registry modules, in registration order.
# Imported plainly: a module that fails to import fails the registry
# loudly instead of silently dropping its entries from the bench and
# the gate.
REGISTRY_MODULES = (
    "operators.dedup",
    "operators.similarity",
    "functions.text",
    "operators.multimodal",
    "operators.corpus",
    "streaming.incremental",
    "plans.reporting",
)


def _modules() -> list:
    return [
        importlib.import_module(f"priority_data_pipeline_postgres_db_spark.{m}")
        for m in REGISTRY_MODULES
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    catalog: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    catalog.update(_q.CORE_QUERIES)
    catalog.update(_an.QUERIES)
    for mod in _modules():
        catalog.update(mod.QUERIES)
    # Ordering: unverified entries first (new operators land here
    # automatically, in registration order), then the verified tail
    # sorted stalest-first by (last-verified round, key).
    rounds = driver_verified_rounds()
    if not rounds:
        # ADVICE r7: in a checkout without the CORRECTNESS_r*.json
        # artifacts every entry counts as unverified and anything beyond
        # the 50-entry driver window silently gets no verification row.
        # Warn loudly — the rotation only works beside its artifacts.
        import warnings

        warnings.warn(
            "no CORRECTNESS_r*.json artifacts found beside "
            "__spark_entry__.py — registry ordering degrades to "
            "registration order and the driver window cannot rotate",
            stacklevel=2,
        )
    unverified = [k for k in catalog if k not in rounds]
    verified = sorted(
        (k for k in catalog if k in rounds), key=lambda k: (rounds[k], k)
    )
    return {k: catalog[k] for k in unverified + verified}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query key (omitted for ops whose
    semantics aren't SQL-expressible — driver does a rows-only check)."""
    oracle: dict[str, str] = {}
    oracle.update(_q.ORACLE)
    oracle.update(_an.ORACLE)
    for mod in _modules():
        oracle.update(getattr(mod, "ORACLE", {}))
    return oracle
