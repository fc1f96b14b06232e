"""Smoke test of the benchmark itself on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced at sf0.001 (a 1k-row
parity CSV root) and checks that each metric ``BENCHMARK.json`` names is
emitted with its unit, and that a failing operation is counted.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest

from perfbench import run as bench
from perfbench.workloads import Sizes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = Sizes(
    light_sf=0.001, heavy_sf=0.001, heavy_row_group=1_000, n_train=1_000, n_test=250, n_docs=500
)


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, queries: dict | None = None) -> dict:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = bench.main(
            ["--workload", workload, "--seed", "3", "--seconds", "0.1", "--trace", str(trace)],
            queries=queries,
            sizes=TINY,
        )
    assert code == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_every_metric_is_emitted(spec, workload, trace):
    os.chdir(REPO)
    res = _run(workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    for m in want:
        assert m["name"] in got, m["name"]
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    assert set(got) == {m["name"] for m in want}


def test_failing_operation_is_counted():
    from pb_etl_spark.registry import all_queries

    def broken(spark, sf_dir):
        raise RuntimeError("deliberate failure")

    os.chdir(REPO)
    res = _run("queries", 1, queries={**all_queries(), "dedup_exact": broken})
    assert not res["correct"]
    assert res["failed"] > 0
    assert res["metrics"]["failed_frac"]["value"] > 0
