"""CLI entry-point smoke + malformed-input robustness.

The reference's only entry points are ``python -m pb_etl`` and the Django
management command (SURVEY.md §3); our CLI is the same contract. Bad CSV
rows must degrade to PERMISSIVE nulls, never fail the scan — at 100 TB a
single corrupt row aborting a job is operationally unacceptable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.fixtures import write_fixtures


def test_cli_main_runs_pipeline_and_prints_report(spark, tmp_path, capsys):
    from pb_etl_spark.cli import main

    root = str(tmp_path / "external")
    workdir = str(tmp_path / "workdir")
    write_fixtures(root)
    rc = main(["--workdir", workdir, "--root", root, "--full"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"report", "ran", "skipped"}
    assert {"expected", "actual"} <= set(out["report"])
    assert 0.0 <= out["report"]["actual"] <= 1.0


def test_cli_corpus_mode_runs_dag(spark, tmp_path, capsys):
    from tests.conftest import SF_DIR

    from pb_etl_spark.cli import main

    workdir = str(tmp_path / "corpus_wd")
    rc = main(["--corpus", "--sf-dir", SF_DIR, "--workdir", workdir])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] > 0 and out["n_packs"] > 0
    assert "corpus_report" in out["ran"]
    # second invocation resumes: materialized stages skipped
    rc = main(["--corpus", "--sf-dir", SF_DIR, "--workdir", workdir])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out2["skipped"]) == {
        "corpus_curate",
        "corpus_dedup",
        "corpus_mixture",
        "corpus_pack",
        "corpus_shuffle",
    }


def test_csv_malformed_rows_degrade_to_nulls(spark, tmp_path):
    from pb_etl_spark.sources.csv import read_csv_dataset

    d = tmp_path / "ds"
    d.mkdir()
    (d / "part0.csv").write_text(
        "id,val\n"
        "1,10.5\n"
        "2,not_a_number\n"  # malformed numeric
        "3,30.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    df = read_csv_dataset(spark, str(d), schema)
    rows = {r["id"]: r["val"] for r in df.collect()}
    assert rows[1] == 10.5 and rows[3] == 30.0
    assert rows[2] is None  # PERMISSIVE: bad cell nulled, row kept


def test_csv_dataset_without_csv_files_fails_loud(spark, tmp_path):
    import pytest

    from pb_etl_spark.sources.csv import read_csv_dataset

    d = tmp_path / "ds"
    d.mkdir()
    (d / "notes.txt").write_text("id\n1\n")
    schema = T.StructType([T.StructField("id", T.LongType())])
    with pytest.raises(FileNotFoundError, match="no \\*.csv files"):
        read_csv_dataset(spark, str(d), schema)


def test_success_flag_guard_refuses_partial_dataset(spark, tmp_path):
    from pb_etl_spark.sources.parquet import read_parquet, write_parquet

    path = str(tmp_path / "ds")
    df = spark.range(10).select(F.col("id"))
    write_parquet(df, path)
    assert read_parquet(spark, path).count() == 10
    os.remove(os.path.join(path, "_SUCCESS"))
    try:
        read_parquet(spark, path)
        raise AssertionError("guarded read must refuse a flag-less dataset")
    except FileNotFoundError:
        pass


def test_env_var_redirects_external_root(spark, tmp_path, monkeypatch):
    """$PB_ETL_SPARK_DATA_ROOT must redirect every named external source
    (parity with the reference's FINAL_PROJ_BUCKET override used by its
    test suite, test_pset.py:154)."""
    from pb_etl_spark.catalog import data_root, read_external

    root = str(tmp_path / "redirected")
    write_fixtures(root)
    monkeypatch.setenv("PB_ETL_SPARK_DATA_ROOT", root)
    assert data_root() == root
    attr = read_external(spark, "train_attr")
    assert attr.count() > 0
    assert "TRANSACTION_ID" in attr.columns


def test_object_store_root_configures_s3a(spark, monkeypatch):
    """An s3 external root must land requester-pays + env credentials on
    the session's Hadoop conf and be rewritten to the s3a scheme (parity
    with the reference's storage_options=dict(requester_pays=True),
    tasks.py:107-111). No network touched — conf wiring only."""
    from pb_etl_spark.catalog import configure_object_store

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKTEST")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "SECRETTEST")
    out = configure_object_store(spark, "s3://some-bucket/prefix")
    assert out == "s3a://some-bucket/prefix"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.requester.pays.enabled") == "true"
    assert hconf.get("fs.s3a.access.key") == "AKTEST"
    assert hconf.get("fs.s3a.secret.key") == "SECRETTEST"

    # opt-out switch
    monkeypatch.setenv("PB_ETL_SPARK_S3_REQUESTER_PAYS", "false")
    configure_object_store(spark, "s3a://other/x")
    assert hconf.get("fs.s3a.requester.pays.enabled") == "false"

    # local roots are untouched
    assert configure_object_store(spark, "/tmp/data") == "/tmp/data"
