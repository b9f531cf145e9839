"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload for one second on tiny inputs (about 30-40 s each,
most of it Spark start-up) and checks the output contract: every metric
named in BENCHMARK.json with its unit, no failed operation, and a seed
that changes the inputs but not the metric set.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)
E2E = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def bench(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def units(res: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in res["metrics"].items()}


def test_catalogs_match_benchmark_json():
    assert run.E2E_UNITS == E2E
    assert run.layer_units() == LAYERS
    assert set(WORKLOADS) <= set(("build", "serve", "ingest"))


def test_seed_changes_inputs_only():
    v = gen.Vocab(2000)
    a, b = gen.transcripts(v, 300, 1), gen.transcripts(v, 300, 2)
    assert a.equals(gen.transcripts(v, 300, 1))
    assert not a.column("text").equals(b.column("text"))
    assert a.schema == b.schema and a.num_rows == b.num_rows
    assert gen.or_queries(v, 14, 1) != gen.or_queries(v, 14, 2)
    assert [k for k, _ in gen.or_queries(v, 14, 1)] == [k for k, _ in gen.or_queries(v, 14, 2)]
    texts = a.column("text").to_pylist()
    assert gen.phrases(texts, 5, 1) == gen.phrases(texts, 5, 1) != gen.phrases(texts, 5, 2)
    for ph in gen.phrases(texts, 5, 1):
        assert any(ph in t for t in texts)
    for term, ids in gen.needle_postings(300, 1).items():
        assert all(term in texts[i].split() for i in ids)


@pytest.mark.parametrize("workload", sorted(set(WORKLOADS) | {"build"}))
def test_workload_contract(workload):
    first = result(bench(workload, 1, 0))
    assert first["correct"] and first["failed"] == 0 and first["attempted"] >= 1
    assert units(first) == E2E
    assert all(v["value"] > 0 for v in first["metrics"].values()), first["metrics"]

    second = result(bench(workload, 2, 0))
    assert second["failed"] == 0
    assert units(second) == E2E

    traced = result(bench(workload, 1, 1))
    assert traced["failed"] == 0
    assert units(traced) == LAYERS


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(WORKLOADS[0], 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
