"""Smoke tests for the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root. Each workload runs once untraced and
once traced, in-process, with a one-second window.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# The layers each workload's traced run must enter (span name prefixes).
LAYERS = {
    "query_mix": {"session", "queries", "engine", "pins", "host", "sources"},
    "corpus_dedup": {"session", "sources", "operators", "dedup", "functions", "plans", "pipeline",
                     "sinks", "engine", "pins", "host"},
}


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads.QueryMix, "queries_per_pass", 3)
    monkeypatch.setattr(workloads.QueryMix, "warm_passes", 2)
    monkeypatch.setattr(workloads.CorpusDedup, "n_docs", 120)


def _files(d):
    return {os.path.relpath(p, d): open(p, "rb").read()
            for p in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))}


def test_generator_is_deterministic(tmp_path):
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        d = str(tmp_path / sub)
        gen.corpus(seed, os.path.join(d, "corpus"), n_docs=100)
    a, b, c = (_files(str(tmp_path / s)) for s in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_query_sample_is_seeded():
    picks = [workloads.QueryMix().generate(seed, None)["queries"] for seed in (5, 5, 6)]
    assert picks[0] == picks[1] != picks[2]
    assert set(picks[0]) <= {q for pair in workloads.QUERY_PAIRS for q in pair} | set(workloads.FIXED)


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_metrics_and_spans(workload, tiny, capsys):
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", str(trace)]) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[group]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())
        if trace:
            spans = os.path.join(run.WORK, f"spans-{workload}-3.jsonl")
            with open(spans) as fh:
                names = {json.loads(line)["name"].split(".")[0] for line in fh}
            assert LAYERS[workload] <= names
        else:
            assert all(v["value"] > 0 for v in result["metrics"].values())
