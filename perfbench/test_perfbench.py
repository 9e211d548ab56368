"""Tests for the benchmark itself.

The smoke runs drive every workload at sf0.001 for a few ops, untraced and
traced, and check the output contract: the result line's keys, every
gated metric with the unit ``BENCHMARK.json`` declares, the ungated detail
metrics, and that every correctness gate passed. Run from the repository
root:

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import frame_digest  # noqa: E402
from core import tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

WORKLOAD_DETAILS = {
    "store_fetch": (
        "write_p50_ms",
        "write_tail_ms",
        "read_p50_ms",
        "read_tail_ms",
        "bytes_stored_per_input_byte",
    ),
    "analytic": (),
    "dedup_corpus": ("docs_per_s",),
}


def run_bench(workload: str, trace: int, cwd: str = ROOT):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_metric(workload, trace):
    proc = run_bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    details = json.loads(lines[-2])["details"]
    for key in ("error_rate", "op_tail_pct", "op_samples", "kind_p50_ms") + WORKLOAD_DETAILS[workload]:
        assert key in details, key
    assert details["error_rate"] == 0.0
    assert {"nproc", "cpus", "driver_mem", "loadavg_1m"} <= set(details["box"])
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work")), "work dir left behind"


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path)
    proc = run_bench(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tail_has_ten_samples_beyond_it():
    assert tail(range(1, 101)) == (90.0, 90.0, 100)
    assert tail([5.0, 1.0, 3.0]) == (5.0, 100.0, 3)


def test_frame_digest_ignores_row_order_and_dtype_width():
    a = pd.DataFrame({"k": [1, 2, 3], "t": pd.to_datetime(["2020-01-01"] * 3), "s": list("xyz")})
    b = a.iloc[::-1].astype({"k": "int32"})
    b["t"] = b["t"].astype("datetime64[us]")
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(a.assign(k=[1, 2, 4]))
