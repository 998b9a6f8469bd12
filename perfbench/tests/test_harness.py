"""Self-test of the benchmark harness at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Checks that every metric named in BENCHMARK.json is printed with its unit,
that one seed gives byte-identical inputs, that a deliberately corrupted
result fails the correctness gate, and that the trace file parses and gives
self times. Each run starts a local Spark session, so the whole file takes
a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("serve", "curate")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--size", "tiny", "--trace", str(trace),
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in wanted)
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def test_workloads_match_spec():
    assert sorted(w["name"] for w in _spec()["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_identical_inputs(workload, tmp_path):
    a = inputs.materialize(str(tmp_path / "a"), workload, 5, inputs.TINY, "tiny")
    b = inputs.materialize(str(tmp_path / "b"), workload, 5, inputs.TINY, "tiny")
    c = inputs.materialize(str(tmp_path / "c"), workload, 6, inputs.TINY, "tiny")
    for name in ("docs.parquet", "meta.json"):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(os.path.join(a, "docs.parquet"), "rb") as fa, \
            open(os.path.join(c, "docs.parquet"), "rb") as fc:
        assert fa.read() != fc.read()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_gate(workload):
    """A run whose first checked result is corrupted still prints every
    end-to-end metric, and the gate reports the failure."""
    report, result = _run(workload, 0, "--corrupt")
    _assert_metrics(result, _spec()["end_to_end"])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert report["error_rate"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    report, result = _run(workload, 1)
    _assert_metrics(result, _spec()["per_layer"])
    assert result["correct"] is True, report["errors"]
    rows = spans.load(os.path.join(ROOT, report["trace_file"]))
    assert {"main", "probe"} <= {r["phase"] for r in rows}
    assert {r["layer"] for r in rows if r["phase"] == "probe"} >= {
        "pipeline", "chunking", "embed", "lexical", "similarity",
        "retrieval", "curation", "dedup",
    }
    for r in rows:
        assert -1e-6 <= r["self_s"] <= r["end"] - r["start"] + 1e-6
        assert r["parent"] is None or r["parent"] < r["id"]
