"""Self-tests for the benchmark at small size.

    python3 -m pytest erbench/test_erbench.py -q

The subprocess tests start a real Spark session per run (about a minute
each on a 4-core host)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from erbench import inputs, metrics, tracing  # noqa: E402
from erbench.run import OpLoop  # noqa: E402
from erbench.workloads import Check, OpResult  # noqa: E402

#: spans each workload must reach in a traced run
REACHED = {
    "resolve": (
        "ingest", "signatures", "chan.content_sha", "chan.exact_key", "chan.rungroup",
        "chan.lsh", "candidates", "scoring", "cc", "public_ids", "survivorship",
        "delta", "cc.fold",
    ),
    "dedup_docs": ("dedup.exact", "dedup.ngram", "dedup.lsh", "chan.lsh", "signatures"),
}


def test_benchmark_json_is_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_every_span_wraps_a_public_function():
    import importlib

    for _, mod, attr in tracing.WRAPPED:
        assert callable(getattr(importlib.import_module(mod), attr))


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.resolve_corpus(5, "small"), inputs.resolve_corpus(5, "small")
    assert a.files.equals(b.files) and a.labeled_pairs.equals(b.labeled_pairs)
    assert not a.files.equals(inputs.resolve_corpus(6, "small").files)
    assert a.is_delta == b.is_delta and a.bridges == b.bridges
    d1, d2 = inputs.documents(5), inputs.documents(5)
    assert d1.documents.equals(d2.documents) and d1.truth_pairs == d2.truth_pairs
    assert d1.documents["n_chars"].sum() > 500_000  # the LSH scale path runs


def test_delta_holds_the_bridges_and_the_base_their_ends():
    from music_dedupe_spark import fixtures

    inp = inputs.resolve_corpus(5, "small")
    ids = [fixtures.file_id(r.repo, r.path, r.commit) for r in inp.files.itertuples()]
    where = dict(zip(ids, inp.is_delta))
    assert inp.bridges and all(not where[a] and not where[c] for a, c in inp.bridges)
    assert 0 < sum(inp.is_delta) < len(ids) // 2


def test_failing_ops_raise_error_rate():
    calls = iter(range(100))

    def op():
        i = next(calls)
        if i == 1:
            raise RuntimeError("injected op failure")
        return OpResult(rows_in=10, outputs={"i": i})

    def check(res):
        i = res.outputs["i"]
        # op 2 fails its check, op 3 changes its digest
        return Check(ok=i != 2, digest="x" if i != 3 else "y", f1=1.0)

    loop = OpLoop(op, check, seconds=0)
    for _ in range(5):
        loop.one()
    assert (loop.attempted, loop.failed) == (5, 3)
    assert len(loop.times) == len(loop.rates) == 2


def _run(workload: str, trace: int, seed: int = 3, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, "erbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "small"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p


def _result(p):
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    final = json.loads(lines[-1])
    summary = json.loads(lines[-2].split(": ", 1)[1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    return final, summary


@pytest.mark.parametrize("workload", sorted(REACHED))
def test_runs_report_every_metric_and_reach_every_span(workload):
    final, summary = _result(_run(workload, 0))
    assert final["correct"] and final["failed"] == 0 and final["attempted"] >= 1
    assert {n: m["unit"] for n, m in final["metrics"].items()} == {
        n: u for n, u, _, _ in metrics.END_TO_END
    }
    assert all(m["value"] > 0 for m in final["metrics"].values())
    assert summary["metrics"]["error_rate"] == {"value": 0.0, "unit": "ratio"}

    traced, tsummary = _result(_run(workload, 1))
    assert traced["correct"] and traced["failed"] == 0
    # same seed, another process, traced or not: the same outputs
    assert tsummary["digest"] == summary["digest"]
    got = traced["metrics"]
    assert {n: m["unit"] for n, m in got.items()} == {n: u for n, u, _ in metrics.PER_LAYER}
    for span in REACHED[workload]:
        assert got[f"{span}.jobs"]["value"] > 0, span
        assert got[f"{span}.self_s"]["value"] > 0, span
    assert 0 < got["trace.coverage"]["value"] <= 1.0
    if workload == "dedup_docs":
        # the LSH canary runs on a pool thread that has no job group
        assert got["dedup.lsh.ungrouped_jobs"]["value"] > 0
    else:
        assert got["cc.edges_in"]["value"] > 0
        assert 0 < got["scoring.match_ratio"]["value"] <= 1
        assert got["delta.signatures_computed"]["value"] > 0
        assert got["checkpoint.write_mb"]["value"] > 0
        assert summary["checks"][0]["bridges_merged"] == len(inputs.resolve_corpus(3, "small").bridges)
        assert tsummary["checks"][0]["fresh_partition_equal"] is True
    with open(os.path.join(ROOT, ".erbench", f"trace-{workload}-3.json")) as f:
        names = {s["name"] for s in json.load(f)["spans"]}
    assert set(REACHED[workload]) <= names


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".erbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(
            os.path.join(ROOT, "erbench"), os.path.join(bare, "erbench"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = _run("resolve", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert not p.stdout.strip()
