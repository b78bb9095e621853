"""Self-test of the benchmark: every workload runs once per trace mode on
tiny inputs, every metric BENCHMARK.json names is printed with its unit,
and the checker fails when an expected result is deliberately perturbed.

    python3 -m pytest perfbench/test_smoke.py -q     # about 4 minutes on 4 cores

The checker tests at the bottom need no Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, perturb: str | None = None) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    if perturb:
        cmd += ["--perturb", perturb]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().split("\n")[-1])


def _assert_metrics(result: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize(
    "workload,trace,perturb",
    [
        ("query_mix", 1, None),
        ("etl_upsert", 0, None),
        ("query_mix", 0, "q281_tpch_q12_priority_shipping"),
        ("etl_upsert", 1, "batch1"),
    ],
)
def test_workload_runs(workload, trace, perturb):
    assert workload in {w["name"] for w in SPEC["workloads"]}
    res = _run(workload, trace, perturb)
    _assert_metrics(res, "per_layer" if trace else "end_to_end")
    assert res["attempted"] >= 1
    if perturb is None:
        assert res["correct"] and res["failed"] == 0
    else:
        assert not res["correct"] and res["failed"] >= 1


def test_every_workload_covered():
    names = {w["name"] for w in SPEC["workloads"]}
    assert names == {"query_mix", "etl_upsert"}


def test_checker_rejects_perturbed_query_result():
    df = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert checks.mismatch(df, df.copy()) is None
    assert checks.mismatch(df, checks._perturbed(df)) is not None
    assert checks.mismatch(df, df.head(1)) is not None


def test_replay_matches_last_write_wins():
    seen: list[str] = []
    batches = [(f"2024-06-01 00:0{i}:00.000000", datagen.pulse_batch(3, i, 200, seen))
               for i in range(3)]
    states = checks.replay(batches)
    keyed, keyless, counts = states[-1]
    assert counts["records_seen"] == 200
    # a key's winner comes from the last batch that carries it
    for pid, (ts, modified, _name) in keyed.items():
        last = max(i for i, (_, items) in enumerate(batches)
                   if any(((it or {}).get("pulse_info") or {}).get("id") == pid
                          or (it or {}).get("id") == pid for it in items))
        assert ts == batches[last][0], pid
    assert keyless, "batches carry keyless rows"
    target = pd.DataFrame(
        [(pid, pd.Timestamp(ts), mod, name) for pid, (ts, mod, name) in keyed.items()]
        + [(None, pd.Timestamp(ts), mod, name) for ts, mod, name in keyless],
        columns=["pulse_id", "ingestion_timestamp", "pulse_modified", "pulse_name"],
    )
    assert checks.check_target(target, keyed, keyless) is None
    wrong = dict(keyed)
    wrong.pop(next(iter(wrong)))
    assert checks.check_target(target, wrong, keyless) is not None


def test_inputs_depend_on_seed_only():
    a, b = datagen.tables(1, 0.001), datagen.tables(1, 0.001)
    c = datagen.tables(2, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
