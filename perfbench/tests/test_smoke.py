"""Tiny-size runs of every workload, traced and untraced: each prints one
result line naming every metric of ``BENCHMARK.json`` with its unit, and
every check passes. Also: the seeded inputs repeat, the near-dup oracle
equals brute force, and the benchmark refuses to run without the library.

Run: ``python3 -m pytest perfbench/tests -q`` (a few minutes: each run
starts Spark).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    listed = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert result["metrics"]["ok_ops_frac"]["value"] == 1.0
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in listed)


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_inputs_repeat_per_seed(tmp_path, monkeypatch):
    import datagen

    for build, names in ((datagen.tables, ("events.parquet", "expected.json", "prices_sorted.npy")),
                         (datagen.documents, ("documents.parquet", "near_dup_pairs.npy"))):
        monkeypatch.setattr(datagen, "CACHE", str(tmp_path / "a"))
        a = build(5, "tiny")
        monkeypatch.setattr(datagen, "CACHE", str(tmp_path / "b"))
        b = build(5, "tiny")
        for name in names:
            with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
                assert fa.read() == fb.read(), name


def test_near_dup_oracle_equals_brute_force():
    import datagen

    docs = datagen._stack(datagen._base_tables(9, datagen.SIZES["tiny"]), 2)["documents"]
    ids, texts = docs["doc_id"].to_numpy(), docs["text"].to_pylist()
    sets = [{t.encode()[i : i + 8] for i in range(len(t.encode()) - 7)} for t in texts]
    brute = sorted(
        (int(ids[i]), int(ids[j]))
        for i in range(len(sets)) for j in range(i + 1, len(sets))
        if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.8
    )
    got = datagen.near_dup_pairs(ids, texts, 0.8)
    assert len(brute) > 0
    assert [tuple(p) for p in got.tolist()] == brute
    assert np.all(got[:, 0] < got[:, 1])


def test_kll_rank_check_on_a_compacted_sketch():
    from cms_topn_spark.core.kll import KllSketch
    from workloads import KLL_QS, kll_rank_bound, within_rank_bound

    rng = np.random.default_rng(11)
    vals = np.round(rng.integers(1, 51, 40_000) * rng.uniform(900.0, 2100.0, 40_000), 2)
    k = 1024
    parts = []
    for chunk in np.array_split(vals, 4):  # per-partition states, merged
        sk = KllSketch(k)
        for batch in np.array_split(chunk, 10):
            sk.add_batch(batch)
        parts.append(sk)
    merged = parts[0].merge(parts[1]).merge(parts[2].merge(parts[3]))
    assert len(merged.levels) > 1  # past the exact regime
    eps = kll_rank_bound(k, len(vals))
    assert eps > 0 and kll_rank_bound(k, k) == 0
    srt = np.sort(vals)
    assert all(within_rank_bound(srt, q, merged.quantile(q), eps) for q in KLL_QS)
    n = len(vals)
    assert not within_rank_bound(srt, 0.5, srt[int(0.5 * n + 2 * eps * n) + 2], eps)
