"""Integration tests for the corpus-curation DAG: correct funnel
semantics, salted skip on rerun, and cascade invalidation on version
bump."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_pipeline_funnel_and_resume(spark, tmp_path):
    from pb_etl_spark.corpus_pipeline import run_corpus_pipeline
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import quality_flags

    base = str(tmp_path / "corpus")
    out = run_corpus_pipeline(spark, SF_DIR, base)
    # ephemeral report always runs; the three materializing stages ran once
    assert set(out["ran"]) == {
        "corpus_curate",
        "corpus_dedup",
        "corpus_mixture",
        "corpus_pack",
        "corpus_shuffle",
        "corpus_report",
    }
    assert out["skipped"] == []

    # funnel: curated count matches the filter chain applied directly
    doc = read_table(spark, SF_DIR, "documents")
    len_ok, div_ok, stop_ok = quality_flags()
    n_curated = doc.filter(len_ok & div_ok & stop_ok).count()
    assert 0 < n_curated < doc.count()
    assert 0 < out["n_docs"] <= n_curated  # dedup can only shrink
    assert out["n_packs"] >= 1
    assert out["n_tokens"] > 0

    # resume: everything materialized is skipped, report still runs
    out2 = run_corpus_pipeline(spark, SF_DIR, base)
    assert out2["ran"] == ["corpus_report"]
    assert set(out2["skipped"]) == {
        "corpus_curate",
        "corpus_dedup",
        "corpus_mixture",
        "corpus_pack",
        "corpus_shuffle",
    }
    assert out2["n_docs"] == out["n_docs"]


def test_version_bump_cascades_downstream_only(spark, tmp_path):
    from pb_etl_spark.corpus_pipeline import build_corpus_pipeline
    from pb_etl_spark.plans.stages import StageRunner

    base = str(tmp_path / "corpus")
    report = build_corpus_pipeline(SF_DIR)
    StageRunner(spark, base).run(report)

    # bump the dedup stage's version: everything downstream re-runs,
    # curate is reused
    report2 = build_corpus_pipeline(SF_DIR)
    dedup = report2.deps["shuffled"].deps["packed"].deps["mixed"].deps["deduped"]
    dedup.version = "2.0"
    runner = StageRunner(spark, base)
    runner.run(report2)
    assert set(runner.ran) == {
        "corpus_dedup",
        "corpus_mixture",
        "corpus_pack",
        "corpus_shuffle",
        "corpus_report",
    }
    assert runner.skipped == ["corpus_curate"]


def test_packed_output_is_contiguous_per_source(spark, tmp_path):
    from pb_etl_spark.corpus_pipeline import build_corpus_pipeline
    from pb_etl_spark.plans.stages import StageRunner

    base = str(tmp_path / "corpus")
    report = build_corpus_pipeline(SF_DIR)
    runner = StageRunner(spark, base)
    runner.run(report)
    packed_path = report.deps["shuffled"].deps["packed"].out_path(base)
    packed = spark.read.parquet(packed_path)
    # within a source, pack_id is nondecreasing in doc_id order and the
    # tokens-before-this-doc count determines it exactly
    rows = packed.orderBy("source", "doc_id").collect()
    from pb_etl_spark.operators.corpus import PACK_BUDGET

    cum: dict[str, int] = {}
    for r in rows:
        before = cum.get(r.source, 0)
        assert r.pack_id == before // PACK_BUDGET, r
        cum[r.source] = before + r.n_tokens


def test_incomplete_stage_output_fails_loud(spark, tmp_path):
    """A stage that 'succeeds' without leaving a complete dataset
    (_SUCCESS) must abort the run — a half-written intermediate silently
    consumed downstream is the worst failure mode a resumable pipeline
    can have."""
    import os

    import pytest

    from pb_etl_spark.plans.stages import Stage, StageRunner

    def bad_stage(spark, out, deps):
        os.makedirs(out, exist_ok=True)  # directory, but no _SUCCESS

    s = Stage(name="bad", fn=bad_stage)
    with pytest.raises(RuntimeError, match="did not produce a complete dataset"):
        StageRunner(spark, str(tmp_path / "wd")).run(s)


def test_failed_stage_leaves_no_partial_output(spark, tmp_path):
    """The body writes into a staging sibling that is renamed into place
    only when complete: a body that dies mid-write leaves the base
    directory empty, so the next run cannot mistake its leftovers for
    output."""
    import os

    import pytest

    from pb_etl_spark.plans.stages import Stage, StageRunner

    def dying_stage(spark, out, deps):
        spark.range(10).write.parquet(f"{out}/part")
        raise OSError("killed mid-write")

    base = tmp_path / "wd"
    with pytest.raises(OSError, match="killed mid-write"):
        StageRunner(spark, str(base)).run(Stage(name="dying", fn=dying_stage))
    assert os.listdir(base) == []


def test_resume_over_partial_stage_dir(spark, tmp_path):
    """A crash mid-write leaves a stage directory with no _SUCCESS (here a
    committer's _temporary/ and a stray part file). The rerun must replace
    it, not fail with PATH_ALREADY_EXISTS or append to it, and reproduce a
    clean run's output."""
    import os

    from pb_etl_spark.corpus_pipeline import build_corpus_pipeline, run_corpus_pipeline

    clean_base = str(tmp_path / "clean")
    clean = run_corpus_pipeline(spark, SF_DIR, clean_base)

    base = str(tmp_path / "resumed")
    report = build_corpus_pipeline(SF_DIR)
    dedup = report.deps["shuffled"].deps["packed"].deps["mixed"].deps["deduped"]
    partial = dedup.out_path(base)
    os.makedirs(os.path.join(partial, "_temporary", "0"))
    stray = str(tmp_path / "stray")
    spark.range(3).write.parquet(stray)
    for f in os.listdir(stray):
        if f.endswith(".parquet"):
            os.rename(os.path.join(stray, f), os.path.join(partial, f))

    resumed = run_corpus_pipeline(spark, SF_DIR, base)
    assert resumed["skipped"] == []
    for k in ("n_docs", "n_tokens", "n_packs"):
        assert resumed[k] == clean[k], k
    got = spark.read.parquet(dedup.out_path(base))
    want = spark.read.parquet(dedup.out_path(clean_base))
    assert sorted(got.collect()) == sorted(want.collect())


def test_epoch_bump_reruns_only_shuffle(spark, tmp_path):
    """A new training epoch = new shuffle param: only the shuffle stage
    (and the ephemeral report) re-run; the curate→pack prefix is reused
    from its content address. This is the incremental-compute payoff of
    parameterized stages — a 100 TB corpus reshuffles without re-running
    filtering/dedup."""
    from pb_etl_spark.corpus_pipeline import build_corpus_pipeline
    from pb_etl_spark.plans.stages import StageRunner

    base = str(tmp_path / "corpus")
    StageRunner(spark, base).run(build_corpus_pipeline(SF_DIR, epoch=0))

    runner = StageRunner(spark, base)
    runner.run(build_corpus_pipeline(SF_DIR, epoch=1))
    assert set(runner.ran) == {"corpus_shuffle", "corpus_report"}
    assert set(runner.skipped) == {
        "corpus_curate",
        "corpus_dedup",
        "corpus_mixture",
        "corpus_pack",
    }
