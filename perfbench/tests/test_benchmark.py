"""The benchmark's own checks: metric names, and a short smoke run of
every workload in both modes (small inputs, a 2k-row sheet).

The smoke runs start Spark; run them with
``python3 -m pytest perfbench/tests -q`` (about five minutes on four
cores).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import curation, sheets
from perfbench.run import WORKLOADS, load_spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
END_TO_END = {"setup_s", "pass_s"}
#: Layers the traced run must show a span for, per workload.
LAYERS = {
    "curation_build": {"plans.session", "plans.catalog", "operators", "catalyst", "exec",
                       "functions"},
    "sheets_roundtrip": {"plans.session", "sources.gsheets", "transport"},
}


def produced_layer_metrics() -> set[str]:
    names = set(curation.LAYER_SUMS) | set(sheets.LAYER_KEYS)
    names |= {"exec.core_util", "session.start_s", "mem.peak_rss_mb", "trace.wall_s",
              "trace.untraced_wall_s", "trace.overhead_s", "host.steal"}
    for op in curation.OPERATIONS:
        names |= {f"op.{op}.wall_s", f"op.{op}.build_jobs"}
    return names


def test_metric_names_match_the_spec():
    spec = load_spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert {m["name"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"] for m in spec["per_layer"]} == produced_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _run(workload: str, trace: int, tmp_path) -> tuple[dict, dict]:
    # From a foreign working directory, as the launch must not depend on it.
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    env_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(env_line)["env"], json.loads(result_line)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload, tmp_path):
    env, result = _run(workload, 0, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert env["error_rate"] == 0
    spec = load_spec()
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0
    assert env["nproc"] >= 1 and env["driver_memory_mb"] > 0
    assert env["spark"] and env["duckdb"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced(workload, tmp_path):
    env, result = _run(workload, 1, tmp_path)
    assert result["correct"] and result["failed"] == 0
    spec = load_spec()
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec["per_layer"]}
    with open(os.path.join(ROOT, env["trace_file"])) as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    assert {s["layer"] for s in spans} >= LAYERS[workload]
    ids = {s["id"] for s in spans}
    for s in spans:
        assert s["end"] >= s["start"]
        assert s["parent"] is None or s["parent"] in ids
    assert metrics["session.start_s"]["value"] > 0
    wall = metrics["trace.wall_s"]["value"]
    if workload == "sheets_roundtrip":
        for kind in ("values_get", "values_append", "values_clear", "metadata_get"):
            assert metrics[f"http.calls.{kind}"]["value"] > 0
        assert metrics["http.ok_ratio"]["value"] == 1.0
        assert metrics["gsheets.read_bind_s"]["value"] > 0
    else:
        split = metrics["operators.build_s"]["value"] + metrics["exec.s"]["value"]
        assert abs(split - wall) <= 0.05 * wall
        assert metrics["operators.build_jobs"]["value"] >= metrics["catalog.load_jobs"]["value"] > 0
        assert metrics["exec.jobs"]["value"] > 0
