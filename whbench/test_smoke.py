"""Smoke test of the benchmark at tiny size.

    python3 -m pytest whbench/test_smoke.py -q

Every workload emits exactly the metrics ``BENCHMARK.json`` names, with
their units, and checks its outputs correct; the generators give the
same inputs for the same seed; and without the package next to it the
benchmark fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("whbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SCALE = "0.05"


def bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 7):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    out = bench(workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"], out.stderr[-4000:]
    assert res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_generators_are_deterministic_in_the_seed():
    from whbench import gen
    from whbench.run import start_spark, stop_spark
    from whbench.workloads import fingerprint, remove_tree

    work = os.path.join(ROOT, ".bench_work", f"smoke-{os.getpid()}")
    spark = start_spark(work)
    try:
        def raw(seed, revision=0, parts=4):
            return fingerprint(gen.raw_reviews(spark, seed, 0, 2_000, 0, 30,
                                               revision=revision, parts=parts))

        def docs(seed, parts=4):
            return fingerprint(gen.zipf_docs(spark, seed, 2_000, parts=parts))

        assert raw(7) == raw(7, parts=3)
        assert raw(7) != raw(8)
        assert raw(7) != raw(7, revision=1)
        assert docs(7) == docs(7, parts=5)
        assert docs(7) != docs(8)
        n, distinct = gen.raw_reviews(spark, 7, 0, 20_000, 0, 30) \
            .selectExpr("count(*)", "count(distinct review_id)").first()
        assert 0.005 < 1 - distinct / n < 0.015  # ~1 % duplicate ids
    finally:
        stop_spark(spark)
        remove_tree(work)


def test_fails_without_the_package():
    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        out = bench(SPEC["workloads"][0]["name"], 0, cwd=bare)
        assert out.returncode != 0
        assert '"metrics"' not in out.stdout
    finally:
        shutil.rmtree(bare)
