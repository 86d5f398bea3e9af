"""Smoke test of the benchmark: tiny inputs, a handful of requests.

    python3 -m pytest perfbench/test_smoke.py -q

Runs both workloads once, traced, in one process and checks that every
end-to-end and per-layer metric is emitted with its unit, that the
outputs were correct, that the spans form one tree per request, and
that each request's self times sum to its wall.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402


def test_smoke_run_emits_every_metric_and_well_formed_spans(tmp_path):
    spans_out = tmp_path / "spans.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all", "--smoke",
         "--seed", "7", "--seconds", "3", "--trace", "1", "--spans-out", str(spans_out)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1

    for workload in run.WORKLOADS:
        for name, unit in run.PER_LAYER.items():
            m = result["metrics"][f"{workload}.{name}"]
            assert m["unit"] == unit and isinstance(m["value"], float), (workload, name, m)
        for name, unit in run.END_TO_END.items():
            assert any(line.startswith(f"{workload} {name} = ") and line.split()[4] == unit
                       for line in lines), (workload, name)

    recorded = json.loads(spans_out.read_text())["spans"]
    assert spans.check_trees(recorded) == []
    roots = {s["rid"] for s in recorded if s["parent"] is None}
    assert any(r.startswith("c") for r in roots)  # served requests
    assert any(r.endswith("#traced") for r in roots)  # registry entries


def test_self_times_sum_to_wall_and_clip_late_children():
    recs = [
        {"id": 1, "parent": None, "rid": "r", "name": "client.search", "start": 0.0, "end": 10.0, "attrs": {}},
        {"id": 2, "parent": 1, "rid": "r", "name": "service.http", "start": 1.0, "end": 10.5, "attrs": {}},
        {"id": 3, "parent": 2, "rid": "r", "name": "api.search", "start": 2.0, "end": 6.0, "attrs": {}},
        {"id": 4, "parent": 2, "rid": "r", "name": "api.hydrate", "start": 6.0, "end": 7.0, "attrs": {}},
    ]
    st = spans.self_times(recs)
    assert abs(sum(st.values()) - 10.0) < 1e-12
    assert st[2] == (10.0 - 1.0) - (7.0 - 2.0)
    assert spans.check_trees(recs) == []
    assert spans.check_trees(recs[1:]) != []  # no root
