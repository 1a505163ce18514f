"""Smoke tests for the benchmark itself, at the tiny input size.

    python3 -m pytest -q perfbench/test_perfbench.py

Each workload runs once untraced, and each workload of BENCHMARK.json
once traced, with its batch tail (about half a minute to two minutes
each on a 4-core machine). The runs must pass every correctness gate,
emit exactly the metrics their workload names with their units, and
attribute every Spark job to a span, including the jobs started from
the foreachBatch callback thread.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import run  # noqa: E402
from cdc import expected_get  # noqa: E402
from common import pct  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# the batch workloads, outside BENCHMARK.json (tails of its traced runs,
# or run by hand), and their end-to-end metrics
EXTRA = {
    "identity_rebuild": {"setup_s": "s", "rebuild_s": "s", "peak_rss_mb": "MB"},
    "query_roster": {"setup_s": "s", "roster_s": "s", "peak_rss_mb": "MB"},
}
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + list(EXTRA)
RUNS = [(w, 0) for w in WORKLOADS] + [(w["name"], 1) for w in SPEC["workloads"]]
# a metric of the batch tail each traced run must have measured
TAIL_METRIC = {"identity_rebuild": "pipeline.rebuild_s", "query_roster": "roster.pass_s"}


def _run(cwd: str, workload: str, trace: int, size: str = "tiny", seconds: int = 3):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", str(seconds),
        "--trace", str(trace), "--size", size,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", RUNS)
def test_tiny_run_emits_every_metric_and_passes_checks(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, proc.stderr[-3000:]
    assert out["failed"] == 0
    assert out["attempted"] >= 1
    if trace:
        want = layers.units()
        assert want == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    elif workload in EXTRA:
        want = EXTRA[workload]
    else:
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    if trace:
        assert out["metrics"]["trace.unattributed_jobs"]["value"] == 0
        assert out["metrics"]["trace.unaccounted_frac"]["value"] < 0.1
        assert out["metrics"][TAIL_METRIC[run.TAILS[workload]]]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_expected_get_is_last_writer_as_of_cutoff():
    hist = [(3, "insert", "a"), (7, "update", "b"), (9, "delete", None)]
    assert expected_get(hist, 2) is None
    assert expected_get(hist, 3)[0] == "live"
    assert expected_get(hist, 8) == expected_get([(7, "update", "b")], 7)
    assert expected_get(hist, 9) == ("deleted",)


def test_pct_nearest_rank():
    xs = list(range(1, 11))
    assert pct(xs, 0.5) == 5
    assert pct(xs, 0.9) == 9
    assert pct([4.0], 0.9) == 4.0
