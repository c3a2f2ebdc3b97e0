"""Self-tests of the benchmark (not part of the library's test suite).

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at sf0.001 in a
subprocess, once untraced and once traced, and check the printed
result against BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from itertools import islice

import numpy as np
import pytest

import gen
import oracle
import tracing

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def test_same_seed_same_inputs(tmp_path):
    a = gen.make_dataset(str(tmp_path / "a"), 0.001, 7)
    b = gen.make_dataset(str(tmp_path / "b"), 0.001, 7)
    c = gen.make_dataset(str(tmp_path / "c"), 0.001, 8)
    assert _tree_digest(a.root) == _tree_digest(b.root)
    assert _tree_digest(a.root) != _tree_digest(c.root)
    assert gen.retrieve_round(a.pool, 100, 7) == gen.retrieve_round(b.pool, 100, 7)
    assert gen.retrieve_round(a.pool, 100, 7) != gen.retrieve_round(c.pool, 100, 8)
    assert gen.batch_round(7) == gen.batch_round(7)
    batches = lambda seed: list(islice(gen.ingest_batches(seed, 3), 4))  # noqa: E731
    assert batches(7) == batches(7)
    assert batches(7) != batches(8)


def test_op_mix_is_fixed_across_seeds():
    pool = gen._embeddings(np.random.default_rng(0), 500)[0]
    names = lambda ops: [n for n, _ in ops]  # noqa: E731
    assert names(gen.retrieve_round(pool, 100, 1)) == names(gen.retrieve_round(pool, 100, 2))
    assert names(gen.batch_round(1)) == names(gen.batch_round(2))


def test_ingest_restatements_refer_to_earlier_facts():
    seen: list[str] = []
    for b in islice(gen.ingest_batches(3, 4), 5):
        for doc in b.docs:
            assert doc[3].count(".") == len(doc[3].split(". "))
        assert set(b.restated) <= set(seen) | set(b.fresh)
        assert not set(b.fresh) & set(seen)
        seen.extend(b.fresh)


def test_same_ranking_checks_ids_and_tie_break():
    want = [(3, 0.5), (7, 0.5), (1, 0.9)]
    assert oracle.same_ranking([(3, 0.5), (7, 0.5), (1, 0.9 + 1e-12)], want)
    assert not oracle.same_ranking([(7, 0.5), (3, 0.5), (1, 0.9)], want)  # tie order
    assert not oracle.same_ranking([(3, 0.5), (7, 0.5), (501, 0.9)], want)  # wrong id
    assert not oracle.same_ranking([(3, 0.5), (7, 0.5)], want)


def test_fact_vectors_have_distinct_distances(tmp_path):
    ds = gen.make_dataset(str(tmp_path), 0.001, 5)
    q = gen.query_vector(np.random.default_rng(0), ds.pool)
    top = [d for _, d in oracle.topk(ds.fact_ids, oracle.l2(ds.fact_vecs, q), 10)]
    assert len(set(top)) == len(top)


def test_self_time_and_layer_rollup():
    S = tracing.Span
    spans = [
        S(0, "store.HippoStore.explore", "store", None, 1, 0.0, 1.0),
        S(1, "operators.graph.explore", "operators.graph", 0, 1, 0.1, 0.7),
        S(2, "operators.graph.neighbours", "operators.graph", 1, 1, 0.2, 0.3),
        S(3, "store.HippoStore.get_fact", "store", None, 2, 2.0, 2.5, error=True),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(0.4) and st[1] == pytest.approx(0.5)
    m = tracing.layer_metrics(spans, {10: "s2", 11: "s0", 12: "op1"})
    assert m["store.calls"] == 2 and m["store.errors"] == 1
    assert m["store.wall_ms"] == pytest.approx(1500)
    # the nested graph call is inside the outer graph call: counted once
    assert m["operators.graph.wall_ms"] == pytest.approx(600)
    assert m["operators.graph.self_ms"] == pytest.approx(600)
    assert m["operators.graph.jobs"] == 1 and m["store.jobs"] == 2


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_sf0001(workload, trace):
    res = _run(ROOT, workload, trace)
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(report) == {"correct", "attempted", "failed", "metrics"}
    assert report["correct"] and report["failed"] == 0 and report["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in report["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in report["metrics"].values())
    else:
        out = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed1")
        assert os.path.getsize(os.path.join(out, "spans.jsonl")) > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), "retrieve", 0)
    assert res.returncode != 0
    assert res.stdout.strip() == ""
