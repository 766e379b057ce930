"""Smoke test of the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench/smoke_test.py -q      (from the repository root)

For each workload it runs ``perfbench/run.py`` untraced and traced and
checks that the run exits 0, that the last line is the result object,
that every metric named in ``BENCHMARK.json`` is printed with its unit,
and that every output check ran and passed. It also checks that the
benchmark refuses to run, without printing a result, in a directory
holding only ``BENCHMARK.json`` and the benchmark's own files.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

EXPECTED_CHECKS = {
    "w2v_corpus": [
        "w2v_global.line_format", "w2v_parity.line_format",
        "w2v_global.counts_equal_recount", "w2v_parity.counts_equal_recount",
        "w2v.modes_same_word_set", "word_knn.topk_shape",
        "w2v_global.same_across_passes", "w2v_parity.same_across_passes",
        "word_knn.same_across_passes",
    ],
    "llm_curation": [
        *(f"{n}.oracle" for n in ("dedup_ngram_jaccard", "graph_pagerank",
                                  "pipeline_pretrain_mix", "stream_session",
                                  "q6_forecast_revenue")),
        "dedup_ngram_jaccard.finds_exact_dups",
        "dedup_ngram_jaccard.planted_recall_recorded",
        *(f"{n}.same_across_passes" for n in ("dedup_ngram_jaccard", "graph_pagerank",
                                              "pipeline_pretrain_mix", "stream_session",
                                              "q6_forecast_revenue")),
    ],
}


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / SPEC["command"][1]), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_spec_lists_every_workload():
    assert [w["name"] for w in SPEC["workloads"]] == list(EXPECTED_CHECKS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(EXPECTED_CHECKS))
def test_run_prints_every_metric_and_check(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    ran = {ln.split()[1]: ln.split()[0] for ln in lines if ln.startswith("[")}
    for name in EXPECTED_CHECKS[workload]:
        assert ran.get(name) == "[ok]", (name, ran)
    if trace:
        assert any(ln.startswith("trace overhead: ") for ln in lines)


def test_refuses_to_run_without_the_program():
    bare = ROOT / ".bench_work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = _run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
