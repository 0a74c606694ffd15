"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench -q

The end-to-end tests start real benchmark runs on tiny inputs (about a
minute each)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone

import pytest

from perfbench import gen
from perfbench.checks import compare, frame
from perfbench.layers import CATALOGUE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict[str, str]:
    gen.write_star(os.path.join(root, "star"), seed, 500)
    src = gen.EltSource(os.path.join(root, "src"), seed, gen.EltSizes(events0=300, orders0=30))
    clock = datetime(2026, 1, 1, tzinfo=timezone.utc)
    for _ in range(3):
        src.land(now=clock)
    return _digest(root)


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    assert a == b
    assert set(a) == set(c)
    assert all(a[k] != c[k] for k in a if "region" not in k and "nation" not in k)


def test_model_is_newest_wins_and_counts_children(tmp_path):
    src = gen.EltSource(str(tmp_path), 1, gen.EltSizes(events0=50, orders0=5, upd_events=20, upd_orders=3))
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    src.land(now=t0)
    src.land(now=t0.replace(minute=1))
    exp = src.expected()
    assert len(exp["events_view"]) == len(src.events)
    assert len(exp["events_raw"]) == sum(len(v) for v in src.events.values())
    # an updated key's view row is its newest version
    upd = next(k for k, v in src.events.items() if len(v) > 1)
    row = next(r for r in exp["events_view"] if r[0] == upd)
    assert row[-1] == src.events[upd][-1]["UDATE"].replace(tzinfo=None)
    # child rows carry the parent key
    names = {r[0] for r in exp["orders_raw"]}
    assert {r[0] for r in exp["orderitems_raw"]} <= names


def test_compare_detects_a_changed_or_missing_row():
    cols = ["k", "v"]
    want = frame([(1, 1.5), (2, 2.5)], cols)
    assert compare(frame([(2, 2.5), (1, 1.5)], cols), want) is None
    assert compare(frame([(1, 1.5), (2, 2.6)], cols), want)
    assert compare(frame([(1, 1.5)], cols), want)


def test_catalogue_matches_benchmark_json():
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == CATALOGUE


def _run(tmp_root: str, workload: str, *flags: str) -> tuple[int, str, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "3", *flags],
        cwd=tmp_root,
        capture_output=True,
        text=True,
        timeout=180,
    )
    return p.returncode, p.stdout, p.stderr


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_end_to_end_metric(workload):
    code, out, err = _run(ROOT, workload, "--tiny", "--trace", "0")
    assert code == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, err[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_corrupted_run_emits_every_layer_and_fails_its_checks(workload):
    code, out, err = _run(ROOT, workload, "--tiny", "--trace", "1", "--corrupt")
    assert code == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert not res["correct"] and res["failed"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    code, out, _ = _run(str(tmp_path), WORKLOADS[0], "--trace", "0")
    assert code != 0
    assert out.strip() == ""
