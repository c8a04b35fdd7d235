"""Smoke test of the benchmark at its smallest size.

    python3 -m pytest perfbench/test_smoke.py -q

Run from the root of a checkout. The tiny runs start Spark, so this takes
a few minutes; the output-check tests need no Spark.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import engine  # noqa: E402
import run  # noqa: E402


def _bench(workload: str, trace: int) -> tuple[int, dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    assert len(lines) >= 2, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def test_benchmark_json_declares_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in run.PER_LAYER
    ]
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    code, detail, last = _bench(workload, 0)
    assert code == 0, detail["checks"]
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in last["metrics"].values())
    for name in run.WORKLOADS[workload]:
        assert detail["metrics"][name]["unit"]


def test_traced_run_prints_every_per_layer_metric():
    code, detail, last = _bench("live_ingest", 1)
    assert code == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        name: unit for name, unit, _ in run.PER_LAYER
    }
    for name in ("stream.batches", "append.ms_p50", "edge.write_us_mean", "scan.files_total"):
        assert last["metrics"][name]["value"] > 0, name
    baseline = detail["conditions"]["untraced_baseline"]
    assert set(baseline) == set(run.E2E_UNITS)


# ------------------------------------------------------------ output checks
def _live_run(tmp_path, committed: list[tuple[str, int, int]]) -> tuple[dict, dict, dict]:
    """A two-request live run (request 1 retries request 0) whose table
    holds ``committed`` rows of (event id, partition, sequence)."""
    due = 1_700_000_000_000.0
    records = [{"id": "e0", "partition": 0}, {"id": "e1", "partition": 1}]
    requests = [
        {"index": 0, "retry_of": None, "records": records, "due_epoch_ms": due},
        {"index": 1, "retry_of": 0, "records": records, "due_epoch_ms": due + 200},
    ]
    driven = {
        "requests": requests,
        "acks": [(0.0, 0.0, 0.003, 202), (0.2, 0.2, 0.204, 202)],
        "reads": [(1.0, 1.3, True)],
        "drained": True,
    }
    path = str(tmp_path / "data.parquet")
    pq.write_table(pa.table({
        "topic": ["events"] * len(committed),
        "partition": pa.array([p for _, p, _ in committed], pa.int32()),
        "sequence": pa.array([s for _, _, s in committed], pa.int64()),
        "payload": [json.dumps({"id": e}).encode() for e, _, _ in committed],
        "timestamp_ms": pa.array([int(due)] * len(committed), pa.int64()),
    }), path)
    watermarks = {}
    for _, p, s in committed:
        key = f"zombi.watermark.events/{p}"
        watermarks[key] = max(watermarks.get(key, 0), s)
    snapshots = {1: {"committed_at_ms": due + 2500, "watermarks": watermarks}}
    return {"files": [{"path": path}], "progress": []}, driven, snapshots


def test_live_check_passes_on_exactly_once(tmp_path):
    checks, named, m = run.check_live(*_live_run(tmp_path, [("e0", 0, 1), ("e1", 1, 1)]))
    assert all(checks.values()), checks
    assert named["visible_ms_p50"][0] == 2500
    assert m["e2e"]["rate_per_s"] == pytest.approx(2 / 2.5)


def test_live_check_fails_on_a_lost_acked_event(tmp_path):
    checks, _, _ = run.check_live(*_live_run(tmp_path, [("e0", 0, 1)]))
    assert checks["acked_committed_once"] is False


def test_live_check_fails_when_a_retry_is_committed_again(tmp_path):
    checks, _, _ = run.check_live(*_live_run(tmp_path, [("e0", 0, 1), ("e1", 1, 1), ("e0", 0, 2)]))
    assert checks["acked_committed_once"] is False
    assert checks["retried_keys_dropped"] is False


def test_live_check_fails_on_a_sequence_gap(tmp_path):
    checks, _, _ = run.check_live(*_live_run(tmp_path, [("e0", 0, 1), ("e1", 1, 2)]))
    assert checks["sequences_contiguous"] is False


def test_live_check_fails_on_an_unacked_event(tmp_path):
    checks, _, _ = run.check_live(*_live_run(tmp_path, [("e0", 0, 1), ("e1", 1, 1), ("e9", 1, 2)]))
    assert checks["nothing_unacked_committed"] is False


def test_oracle_canon_ignores_order_and_sees_a_changed_value():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    assert engine._canon(a) == engine._canon(a[["v", "k"]].iloc[::-1])
    assert engine._canon(a) != engine._canon(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]}))


def test_query_check_fails_on_an_oracle_mismatch():
    result = {
        "checks": {"oracle_parity": {"ok": False, "detail": ["funnel"]}},
        "cold_ms": {"funnel": 20.0}, "cold_build_ms": {"funnel": 5.0}, "cold_pass_s": 0.02,
        "settle_pass_s": 0.012,
        "warm_ms": {"funnel": [10.0, 11.0]}, "warm_pass_s": [0.01, 0.011],
    }
    checks, _, m = run.check_queries(result)
    assert checks["oracle_parity"] is False and m["counts"]["failed"] == 1
