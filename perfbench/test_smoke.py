"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every workload reports every metric BENCHMARK.json names,
with its unit, in both modes; that a wrong expected fingerprint shows up
as failed iterations; and that the command fails without printing a
result when the program is not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import probes, run  # noqa: E402

TINY = {
    "er_turns": {"n_turns": 2_000, "family_scale": 1},
    "er_attach": {"n_mentions": 3_000, "family_scale": 1},
    "er_vocab": {"family_scale": 1},
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def session():
    workdir = os.path.join(ROOT, ".perfbench_work")
    spark, width = run.start_spark(workdir)
    jvm = probes.Jvm(spark)
    yield spark, jvm, width, workdir
    run.stop_spark(spark)
    shutil.rmtree(workdir, ignore_errors=True)


def _result(session, name, trace, expected=None):
    spark, jvm, width, workdir = session
    m = run.measure(spark, jvm, name, seed=3, seconds=0, trace=trace, workdir=workdir,
                    sizes=TINY[name], expected=expected, warmup=1)
    metrics, units = (run.per_layer(m, jvm), run.PER_LAYER) if trace else (run.end_to_end(m), run.END_TO_END)
    args = argparse.Namespace(workload=name, seed=3, trace=int(trace))
    return m, run.report(m, args, width, {}, metrics, units)


def test_benchmark_json_names_the_reported_metrics():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS[: len(BENCH["workloads"])])
    assert {e["name"]: e["unit"] for e in BENCH["end_to_end"]} == run.END_TO_END
    assert {e["name"]: e["unit"] for e in BENCH["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_every_metric_with_its_unit(session, name):
    m, res = _result(session, name, trace=True)
    assert res["correct"] and res["failed"] == 0, [it["problems"] for it in m["timed"]]
    assert res["metrics"].keys() == run.PER_LAYER.keys()
    assert all(v["unit"] == run.PER_LAYER[k] for k, v in res["metrics"].items())
    e2e = run.end_to_end(m)
    assert e2e.keys() == run.END_TO_END.keys()
    assert all(v > 0 for v in e2e.values())
    if name != "er_attach":
        assert m["quality"]["evaluation.labeled_pairs"] > 0
        assert 0 < m["quality"]["pairwise_f1"] <= 1


def test_wrong_fingerprint_counts_as_failed(session):
    _, res = _result(session, "er_attach", trace=False, expected={"exact": -1})
    assert not res["correct"]
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_attach", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
