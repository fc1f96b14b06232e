"""End-to-end parity-pipeline tests on deterministic fixtures — the
reference's test shape (test_pset.py:131-234) upgraded to value assertions
(SURVEY.md §5: assert values, not just existence)."""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid

import pytest

from pb_etl_spark.pipeline import METRICS_FILE, build_graph, run_pipeline
from pb_etl_spark.plans.stages import StageRunner
from pb_etl_spark.schemas import KEY_COL, NORM_COLS
from pb_etl_spark.sources.parquet import dataset_exists, read_parquet
from tests.fixtures import write_fixtures

MATERIALIZED = ["load_data", "load_test", "norm_denominators", "fit_model", "predict", "backtest"]


def _stages(terminal) -> dict:
    stages = {}

    def walk(s):
        stages[s.name] = s
        for d in s.deps.values():
            walk(d)

    walk(terminal)
    return stages


def _run_job_grouped(spark, workdir: str, terminal) -> tuple[dict, StageRunner, dict]:
    """Run the DAG with every stage body under its own Spark job group;
    returns (report, runner, {stage name: Spark jobs it launched})."""
    sc = spark.sparkContext
    token = uuid.uuid4().hex[:8]
    for stage in _stages(terminal).values():

        def grouped(sp, out, deps, body=stage.fn, name=stage.name):
            sc.setJobGroup(f"{name}-{token}", name)
            return body(sp, out, deps)

        stage.fn = grouped
    runner = StageRunner(spark, workdir)
    try:
        report = runner.run(terminal)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {n: len(tracker.getJobIdsForGroup(f"{n}-{token}")) for n in _stages(terminal)}
    return report, runner, jobs


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("external"))
    workdir = str(tmp_path_factory.mktemp("workdir"))
    stats = write_fixtures(root)
    report, runner, jobs = _run_job_grouped(spark, workdir, build_graph(root=root, seed=42))
    return {
        "root": root, "workdir": workdir, "stats": stats, "report": report,
        "runner": runner, "jobs": jobs,
    }


def _stage_path(pipeline_run, name: str, workdir: str | None = None) -> str:
    stage = _stages(build_graph(root=pipeline_run["root"], seed=42))[name]
    return stage.out_path(workdir or pipeline_run["workdir"])


def _predictions(spark, path: str) -> dict:
    return {r[KEY_COL]: r["Y_hat"] for r in read_parquet(spark, path).collect()}


def test_all_stages_materialized(pipeline_run):
    runner = pipeline_run["runner"]
    assert set(runner.ran) == {
        "load_data", "load_test", "norm_denominators", "fit_model",
        "predict", "backtest", "final_results",
    }
    for name in MATERIALIZED:
        assert dataset_exists(_stage_path(pipeline_run, name)), name


def test_model_stages_job_budget(pipeline_run):
    """fit_model + predict are bound by Spark job scheduling, not data.
    Every indexer fit and every saved or loaded pipeline stage costs jobs,
    so one multi-column indexer and a single model write are what keep
    them near 72 jobs here (one indexer per column and a second write:
    about 215)."""
    jobs = pipeline_run["jobs"]
    assert all(jobs[n] > 0 for n in MATERIALIZED), jobs  # the count works
    assert jobs["fit_model"] + jobs["predict"] <= 80, jobs


def test_fit_model_metrics(pipeline_run):
    with open(os.path.join(_stage_path(pipeline_run, "fit_model"), METRICS_FILE)) as fh:
        metrics = json.load(fh)
    assert metrics["train_rows"] + metrics["val_rows"] == pipeline_run["stats"]["n_train"]
    assert metrics["iterations"] >= 1
    assert 0.0 <= metrics["train_auc"] <= 1.0


def test_multi_column_indexer_matches_per_column_indexers(spark, pipeline_run, tmp_path):
    """The one multi-column StringIndexer fits the same labels, and so the
    same model, as one single-column indexer per categorical."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StringIndexer

    from pb_etl_spark.ml.pipeline import (
        _impute_numeric, build_pipeline, save_without_summary, score,
    )
    from pb_etl_spark.schemas import CAT_COLS, NUM_COLS

    train = _impute_numeric(
        read_parquet(spark, _stage_path(pipeline_run, "load_data")), NUM_COLS
    ).cache()
    multi = build_pipeline()
    per_column = Pipeline(
        stages=[
            StringIndexer(inputCol=c, outputCol=f"{c}__idx", handleInvalid="keep")
            for c in CAT_COLS
        ]
        + [s.copy() for s in multi.getStages()[1:]]
    )
    try:
        # loaded back without their training summaries, as train_model does
        m_multi = save_without_summary(multi.fit(train), str(tmp_path / "multi"))
        m_per = save_without_summary(per_column.fit(train), str(tmp_path / "per"))
        assert len(m_multi.stages) == 4 and len(m_per.stages) == len(CAT_COLS) + 3
        assert m_multi.stages[0].labelsArray == [m.labels for m in m_per.stages[: len(CAT_COLS)]]
        lr_multi, lr_per = m_multi.stages[-1], m_per.stages[-1]
        assert lr_multi.coefficients.toArray().tolist() == lr_per.coefficients.toArray().tolist()
        assert lr_multi.intercept == lr_per.intercept
        got = {r[KEY_COL]: r["Y_hat"] for r in score(m_multi, train).collect()}
        want = {r[KEY_COL]: r["Y_hat"] for r in score(m_per, train).collect()}
        assert got == want
    finally:
        train.unpersist()


def test_resume_over_partial_stage_dirs(spark, pipeline_run, tmp_path):
    """A run killed mid-write leaves stage directories without _SUCCESS;
    the rerun replaces them and reproduces the clean run exactly."""
    workdir = str(tmp_path / "wd")
    for name in ["load_data", "load_test", "norm_denominators"]:
        shutil.copytree(_stage_path(pipeline_run, name), _stage_path(pipeline_run, name, workdir))
    fit = _stage_path(pipeline_run, "fit_model", workdir)
    os.makedirs(os.path.join(fit, "_temporary", "0"))
    os.makedirs(os.path.join(fit, "model", "metadata"))
    # a stray part file a blind append would mix into the predictions
    predict = _stage_path(pipeline_run, "predict", workdir)
    shutil.copytree(_stage_path(pipeline_run, "predict"), predict)
    os.remove(os.path.join(predict, "_SUCCESS"))

    report, runner = run_pipeline(spark, workdir, root=pipeline_run["root"], seed=42)
    assert set(runner.skipped) == {"load_data", "load_test", "norm_denominators"}
    assert set(runner.ran) == {"fit_model", "predict", "backtest", "final_results"}
    assert report == pipeline_run["report"]
    assert _predictions(spark, predict) == _predictions(spark, _stage_path(pipeline_run, "predict"))
    assert sorted(os.listdir(workdir)) == sorted(
        os.path.basename(_stage_path(pipeline_run, n, workdir)) for n in MATERIALIZED
    )


def test_load_data_join(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "load_data"))
    stats = pipeline_run["stats"]
    assert df.count() == stats["n_train"]
    assert "TRAFFIC_SCORE" in df.columns and "TARGET" in df.columns
    # left join is 1:1 — no null traffic scores
    assert df.filter(df.TRAFFIC_SCORE.isNull()).count() == 0


def test_norm_denominators_values(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "norm_denominators"))
    row = df.collect()[0]
    stats = pipeline_run["stats"]
    assert row["REN__max"] == stats["train_max_ren"]
    assert row["DOMAIN_LENGTH__max"] == stats["train_max_domain_length"]
    assert set(df.columns) == {c + "__max" for c in NORM_COLS}


def test_predict_output(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "predict"))
    stats = pipeline_run["stats"]
    assert df.count() == stats["n_test"]
    assert set(df.columns) == {"TRANSACTION_ID", "Y_hat"}
    rows = df.collect()
    assert all(0.0 <= r["Y_hat"] <= 1.0 for r in rows)
    # model learned something: predictions are not all identical
    assert len({round(r["Y_hat"], 6) for r in rows}) > 1


def test_backtest_and_report(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "backtest"))
    stats, report = pipeline_run["stats"], pipeline_run["report"]
    assert df.count() == stats["n_test"]
    assert set(df.columns) == {"TRANSACTION_ID", "TARGET", "Y_hat"}
    assert math.isclose(report["actual"], stats["actual_rate"], abs_tol=1e-9)
    assert 0.0 < report["expected"] < 1.0


def test_rerun_skips_all_materialized(spark, pipeline_run):
    """Salted memoization: a second run skips every materialized stage
    (reference §4.2 semantics)."""
    report2, runner2 = run_pipeline(
        spark, pipeline_run["workdir"], root=pipeline_run["root"], seed=42
    )
    assert set(runner2.skipped) == {
        "load_data", "load_test", "norm_denominators", "fit_model", "predict", "backtest",
    }
    assert runner2.ran == ["final_results"]  # ephemeral, always runs
    assert math.isclose(report2["actual"], pipeline_run["report"]["actual"], rel_tol=1e-12)
    assert math.isclose(report2["expected"], pipeline_run["report"]["expected"], rel_tol=1e-9)


def test_version_bump_cascades(spark, pipeline_run):
    """Bumping an upstream version re-salts it and everything downstream
    (task.py:83-134 cascade semantics), while unchanged prefixes reuse."""
    g1 = build_graph(root=pipeline_run["root"], seed=42, version="1.0")
    g2 = build_graph(root=pipeline_run["root"], seed=42, version="2.0")
    assert g1.salt() != g2.salt()
    # param change on seed re-salts fit_model and downstream only
    g3 = build_graph(root=pipeline_run["root"], seed=43, version="1.0")

    def find(s, name):
        if s.name == name:
            return s
        for d in s.deps.values():
            r = find(d, name)
            if r:
                return r
        return None

    assert find(g1, "load_data").salt() == find(g3, "load_data").salt()
    assert find(g1, "fit_model").salt() != find(g3, "fit_model").salt()
    assert find(g1, "backtest").salt() != find(g3, "backtest").salt()


def test_salt_determinism(pipeline_run):
    g = build_graph(root=pipeline_run["root"], seed=42)
    assert g.salt() == build_graph(root=pipeline_run["root"], seed=42).salt()
    assert len(g.salt()) == 6


def test_score_with_external_model_matches_closed_form(spark):
    """predict_batch_udf path must equal the closed-form sigmoid computed
    JVM-side (same weights), proving the Arrow batching is value-exact."""
    from pyspark.sql import functions as F

    from pb_etl_spark.ml.pipeline import score_with_external_model

    df = spark.createDataFrame(
        [(i, float(i % 7) - 3.0, float(i % 5) / 2.0) for i in range(1000)],
        "TRANSACTION_ID long, f1 double, f2 double",
    )
    w = [0.8, -1.3]
    b = 0.25
    got = score_with_external_model(df, w, b, ["f1", "f2"])
    want = df.select(
        "TRANSACTION_ID",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(-(F.col("f1") * w[0] + F.col("f2") * w[1] + F.lit(b)))
            )
        ).alias("Y_hat"),
    )
    g = {r["TRANSACTION_ID"]: r["Y_hat"] for r in got.collect()}
    e = {r["TRANSACTION_ID"]: r["Y_hat"] for r in want.collect()}
    assert g.keys() == e.keys()
    assert all(abs(g[k] - e[k]) < 1e-12 for k in g)
