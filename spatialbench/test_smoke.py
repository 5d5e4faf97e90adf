"""Smoke test of the benchmark itself: one traced run of every workload
on tiny inputs (``--scale 0.05``), checking that the result line and
the full record parse, name every metric of BENCHMARK.json, and report
no failed job.

    python3 -m pytest spatialbench/test_smoke.py    # ~3 min on 4 cores
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))

from run import WORKLOADS  # noqa: E402


def test_every_workload_reports_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "spatialbench/run.py", "--workload", "all",
         "--seed", "7", "--seconds", "1", "--trace", "1", "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary, last = proc.stdout.strip().splitlines()[-2:]
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    for wl in WORKLOADS:
        for m in spec["per_layer"]:
            got = result["metrics"][f"{wl}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], float)

    record = json.loads((ROOT / summary.rsplit("record=", 1)[1]).read_text())
    assert record["host"]["nproc"] >= 1
    assert [w["workload"] for w in record["workloads"]] == list(WORKLOADS)
    for w in record["workloads"]:
        e2e = w["end_to_end"]
        assert {m["name"] for m in spec["end_to_end"]} <= set(e2e)
        assert e2e["fail_frac"] == 0
        assert all(e2e[m["name"]] > 0 for m in spec["end_to_end"])
    assert record["spans"] and all(s["end"] >= s["start"]
                                   for s in record["spans"])
