"""Control store: latest-config read, config insert, watermark advance
(SURVEY.md §2.1 S6, §2.6 K5/K6; reference mongodbHelper.py:56-121,
priorityDataSource.py:584-626)."""

import os
import re

import pytest

from priority_data_pipeline_postgres_db_spark.sources.control import (
    ControlStore,
    now_in_system_tz,
    validate_config,
)

CFG = {
    "datasourceName": "priority_companyA",
    "uri": "https://example.invalid/odata/Priority/tabmob.ini/usdemo/",
    "accountID": "03445d66",
    "systemTimezone": "Israel",
    "sourceSystem": "priority",
    "entities": [
        {
            "EntityID": "ORDERS",
            "filterFlag": True,
            "filterField": "CURDATE",
            "expand": ["ORDERITEMS"],
            "lastRun": "2024-06-12 21:53:35",
            "dataStartDate": "2020-05-30 00:00:00",
        },
        {
            "EntityID": "CTYPE",
            "filterFlag": False,
            "filterField": "",
            "expand": [],
            "lastRun": "2024-06-12 21:53:40",
            "dataStartDate": "2020-05-30 00:00:00",
        },
    ],
}


def store(tmp_path) -> ControlStore:
    return ControlStore(os.path.join(tmp_path, "control.json"))


def test_validate_rejects_misspelled_datastartdate():
    # the reference's datarStartDate quirk (SURVEY.md §2.9) must NOT pass
    bad = dict(CFG)
    bad["entities"] = [dict(CFG["entities"][0])]
    bad["entities"][0]["datarStartDate"] = bad["entities"][0].pop("dataStartDate")
    with pytest.raises(ValueError, match="dataStartDate"):
        validate_config(bad)


def test_latest_config_wins(tmp_path):
    s = store(tmp_path)
    s.insert_config(CFG, datasource_id="ds1")
    newer = dict(CFG, datasourceName="priority_companyA_v2")
    s.insert_config(newer, datasource_id="ds1")
    got = s.latest_config("ds1")
    assert got["datasourceName"] == "priority_companyA_v2"
    assert s.latest_config("nope") is None


def test_watermark_advance_persists(tmp_path):
    s = store(tmp_path)
    s.insert_config(CFG, datasource_id="ds1")
    new = s.update_last_run("ds1", "ORDERS", value="2025-01-01 00:00:00")
    assert new == "2025-01-01 00:00:00"
    # reload from disk — persisted
    s2 = ControlStore(s.path)
    ents = {e["EntityID"]: e for e in s2.latest_config("ds1")["entities"]}
    assert ents["ORDERS"]["lastRun"] == "2025-01-01 00:00:00"
    assert ents["CTYPE"]["lastRun"] == "2024-06-12 21:53:40"  # untouched


def test_watermark_default_is_system_tz_wallclock(tmp_path):
    s = store(tmp_path)
    s.insert_config(CFG, datasource_id="ds1")
    new = s.update_last_run("ds1", "CTYPE")
    # naive '%Y-%m-%d %H:%M:%S' format (priorityDataSource.py:595)
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", new)


def test_unknown_entity_raises(tmp_path):
    s = store(tmp_path)
    s.insert_config(CFG, datasource_id="ds1")
    with pytest.raises(KeyError):
        s.update_last_run("ds1", "NOSUCH")


def test_now_in_system_tz_format():
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", now_in_system_tz("UTC"))


def test_concurrent_watermark_advances_all_persist(tmp_path):
    """8 threads each advance a different entity's watermark at once:
    no flush collides on a tmp file, no update is lost, and the file
    parses and holds all 8 values."""
    import json
    import sys
    import threading

    cfg = dict(CFG)
    cfg["entities"] = [
        dict(CFG["entities"][1], EntityID=f"E{i}") for i in range(8)
    ]
    s = store(tmp_path)
    s.insert_config(cfg, datasource_id="ds1")
    start = threading.Barrier(8)
    errors = []

    def advance(i):
        try:
            start.wait()
            for k in range(20):
                s.update_last_run("ds1", f"E{i}", value=f"2025-01-0{i + 1} 00:00:{k:02d}")
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=advance, args=(i,)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    with open(s.path) as fh:
        log = json.load(fh)
    got = {e["EntityID"]: e["lastRun"] for e in log[-1]["entities"]}
    assert got == {f"E{i}": f"2025-01-0{i + 1} 00:00:19" for i in range(8)}
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]
