"""Smoke test of the benchmark: every workload at toy size, untraced and
traced, through the same ``run.py`` the full benchmark runs. That
includes ``self-ws-t08``, which ``BENCHMARK.json`` does not list.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session (about 20-30 s).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
TOY_RECORDS = "150"


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--records", TOY_RECORDS],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_toy_run_reports_every_metric(workload, trace):
    out = _run(REPO, workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    summary, result = (json.loads(x) for x in out.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert summary["error_rate"]["value"] == 0
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        v = {k: x["value"] for k, x in result["metrics"].items()}
        assert v["jaccard.output_pairs"] == summary["inputs"]["oracle_pairs"]
        assert v["tokenizers.token_rows"] == summary["inputs"]["token_rows"]
        assert v["tokenizers.tokenize_s"] + v["jaccard.tkdf_s"] + \
            v["jaccard.join_rest_s"] == pytest.approx(v["jaccard.join_s"])
        # The separately timed layers fit inside the join they split.
        assert v["jaccard.join_rest_s"] > 0
        # Every output pair was a candidate of the token join. The toy
        # whitespace corpus has no pair at t=0.8; the listed workloads
        # have some, so candidate rows that stop being counted show.
        assert v["jaccard.candidate_rows"] >= v["jaccard.output_pairs"]
        if workload in {x["name"] for x in BENCH["workloads"]}:
            assert v["jaccard.output_pairs"] > 0


def test_fails_without_the_package(tmp_path):
    """Given only the benchmark's own files, a run exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
