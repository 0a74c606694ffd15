"""Control plane — extraction configs + watermarks as a JSON-backed store.

Replaces the reference's MongoDB control collections (mongodbHelper.py):

- S6 latest-config read: configs are append-only, stamped with
  ``submitTimestampUTC``; the read picks the newest per datasource
  (mongodbHelper.py:56-82 — sort DESC, take first),
- K5 config insert (mongodbHelper.py:98-121),
- K6 watermark advance: per-entity ``lastRun`` set to now() in the
  datasource's system timezone, formatted naive ``%Y-%m-%d %H:%M:%S``
  (priorityDataSource.py:584-626).

The store is a single JSON file — the control plane is tiny (dozens of
documents), so driver-side JSON beats a distributed table; at fleet scale
this swaps for a Delta table with the same interface.

Config documents use the reference's documented shape (readme.md:158-187)
with the canonical key ``dataStartDate`` (the reference code reads
``dataStartDate`` while its README shows ``datarStartDate`` — SURVEY.md
§2.9; this engine validates one spelling).
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

REQUIRED_ENTITY_KEYS = {"EntityID", "filterFlag", "filterField", "expand", "lastRun", "dataStartDate"}
REQUIRED_CONFIG_KEYS = {"datasourceName", "uri", "accountID", "systemTimezone", "sourceSystem", "entities"}

WATERMARK_FMT = "%Y-%m-%d %H:%M:%S"


def validate_config(cfg: dict) -> None:
    missing = REQUIRED_CONFIG_KEYS - cfg.keys()
    if missing:
        raise ValueError(f"extraction config missing keys: {sorted(missing)}")
    for ent in cfg["entities"]:
        missing = REQUIRED_ENTITY_KEYS - ent.keys()
        if missing:
            raise ValueError(f"entity {ent.get('EntityID')} missing keys: {sorted(missing)}")


def now_in_system_tz(system_timezone: str) -> str:
    """New watermark value: wall-clock now() in the system timezone,
    formatted naive (priorityDataSource.py:595)."""
    return datetime.now(ZoneInfo(system_timezone)).strftime(WATERMARK_FMT)


class ControlStore:
    """Append-only config log + latest-wins reads, JSON-file-backed.

    Thread-safe within one process: every read-modify-write of the log
    and its flush run under one lock, so concurrent callers (a refresh's
    worker threads, an HTTP server's request threads) never lose an
    update or publish a half-built log."""

    def __init__(self, path: str):
        self.path = path
        self._log: list[dict] = []
        self._lock = threading.RLock()
        if os.path.exists(path):
            with open(path) as fh:
                self._log = json.load(fh)

    def _flush(self) -> None:
        """Atomic publish: write the whole log to a hidden tmp and
        ``os.replace`` it over the store — a crash mid-flush can never
        corrupt the file (ADVICE r12: the bare ``open(path, 'w')`` left
        a torn-JSON window, sharper now that the skew path writes an
        artifact per re-probe).  The tmp name is unique per call, so
        two flushes never share one.  Concurrency contract: one store
        object per file per process (its lock serializes the threads);
        concurrent drivers each get their own control path — the atomic
        replace protects readers, not multi-process merges.  Callers
        hold ``self._lock``."""
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(
            d, f".{os.path.basename(self.path)}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(self._log, fh, indent=1, default=str)
        os.replace(tmp, self.path)

    def insert_config(self, cfg: dict, *, datasource_id: str) -> dict:
        """K5 — stamp submitTimestampUTC and append (mongodbHelper.py:98-121)."""
        validate_config(cfg)
        doc = dict(cfg)
        doc["_datasourceId"] = datasource_id
        doc["submitTimestampUTC"] = datetime.now(timezone.utc).isoformat()
        with self._lock:
            self._log.append(doc)
            self._flush()
        return doc

    def latest_config(self, datasource_id: str) -> dict | None:
        """S6/O1 — newest config for the datasource (sort DESC, first)."""
        with self._lock:
            docs = [d for d in self._log if d.get("_datasourceId") == datasource_id]
        if not docs:
            return None
        return max(docs, key=lambda d: d["submitTimestampUTC"])

    def update_last_run(self, datasource_id: str, entity_id: str, value: str | None = None) -> str:
        """K6 — advance the per-entity watermark in the *latest* config
        (array-filtered update, priorityDataSource.py:600-606)."""
        with self._lock:
            cfg = self.latest_config(datasource_id)
            if cfg is None:
                raise KeyError(datasource_id)
            value = value or now_in_system_tz(cfg["systemTimezone"])
            for ent in cfg["entities"]:
                if ent["EntityID"] == entity_id:
                    ent["lastRun"] = value
                    self._flush()
                    return value
        raise KeyError(f"entity {entity_id} not in config {datasource_id}")

    # -- generic plan/measurement artifacts (VERDICT r11 #6) -------------
    def put_artifact(self, kind: str, key: str, doc: dict) -> dict:
        """Persist a derived plan/measurement (e.g. a SkewPlan) through
        the same append-only latest-wins log as the configs — the
        control plane is already the durable, tiny, driver-side store
        every run reads, so probe-once artifacts belong here rather
        than in a new sidecar.  ``kind``/``key`` partition the namespace
        (configs filter on ``_datasourceId`` and never see these)."""
        rec = dict(doc)
        rec["_artifact"] = kind
        rec["_key"] = key
        rec["submitTimestampUTC"] = datetime.now(timezone.utc).isoformat()
        with self._lock:
            self._log.append(rec)
            self._flush()
        return rec

    def latest_artifact(self, kind: str, key: str) -> dict | None:
        """Newest artifact for (kind, key) — sort DESC, first, exactly
        the ``latest_config`` read discipline."""
        with self._lock:
            docs = [
                d
                for d in self._log
                if d.get("_artifact") == kind and d.get("_key") == key
            ]
        if not docs:
            return None
        return max(docs, key=lambda d: d["submitTimestampUTC"])
