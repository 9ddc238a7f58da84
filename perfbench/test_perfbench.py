"""The benchmark's own tests: a short run of each workload reports every
metric BENCHMARK.json names, with its unit, and planted defects fail the
output check.

    python3 -m pytest perfbench/test_perfbench.py

Run from the root of a checkout; each case starts one JVM (about a
minute each, the first also builds).
"""
import json
import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, trace=0, *extra):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_reported_with_its_unit(workload, trace):
    code, res = bench(workload, trace)
    assert code == 0 and res["correct"] and res["failed"] == 0, res
    assert res["attempted"] >= 1
    listed = SPEC["per_layer" if trace else "end_to_end"]
    assert res["metrics"] == {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]}
                              for m in listed}
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_a_perturbed_expected_row_count_fails_the_check():
    with open(os.path.join(ROOT, "perfbench", "goldens.json")) as fh:
        goldens = json.load(fh)
    goldens["q2_revenue_join"] += 1
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        json.dump(goldens, fh)
    try:
        code, res = bench("analytics", 0, "--goldens", fh.name)
    finally:
        os.unlink(fh.name)
    assert code != 0 and not res["correct"] and res["failed"] == 1, res


def test_a_query_that_throws_fails_the_check():
    code, res = bench("analytics", 0, "--plant-throw", "q27_search_dsl")
    # the untimed check and every timed execution of the query fail
    assert code != 0 and not res["correct"] and res["failed"] >= 2, res
    assert res["failed"] < res["attempted"]


def test_refuses_to_run_without_the_engine_sources():
    with tempfile.TemporaryDirectory() as d:
        os.symlink(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(d, "BENCHMARK.json"))
        p = subprocess.run([sys.executable, RUN, "--workload", "analytics", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True)
    assert p.returncode != 0 and p.stdout == ""


def test_refuses_extra_conf():
    p = subprocess.run([sys.executable, RUN, "--workload", "analytics", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=ROOT, capture_output=True, text=True,
                       env=dict(os.environ, GRAFT_EXTRA_CONF="spark.sql.shuffle.partitions=1"))
    assert p.returncode != 0 and p.stdout == ""
