"""Pipeline: lineage journal, checkpoint resume determinism, leakage
guard, partition-level anti-join resume, skew metrics, salted agg."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.operators.salted import salted_group_agg
from feature_engineering_tk_spark.plans import metrics as M
from feature_engineering_tk_spark.plans.pipeline import Pipeline, strict_no_future


def _mkpipe(tmp_path, tag):
    wd = os.path.join(str(tmp_path), tag)
    p = Pipeline(workdir=wd, entity="conv_id", partition_col="ds")
    p.add("sessionize", lambda df: W.sessionize(df), {"gap_s": 1800})
    p.add("lag", lambda df: W.with_lag(df, "tokens", 1), {"k": 1}, checkpoint=True)
    p.add(
        "rolling",
        lambda df: W.rolling_agg(df, "tokens", "mean", 5),
        {"w": 5},
    )
    return p


@pytest.fixture()
def with_ds(transcripts):
    return transcripts.withColumn("ds", F.to_date("ts"))


def test_pipeline_run_and_journal(spark, with_ds, tmp_path):
    p = _mkpipe(tmp_path, "run1")
    out = p.run(spark, with_ds)
    assert out.count() == with_ds.count()
    lines = [json.loads(l) for l in open(p.journal_path)]
    stages = [l["stage"] for l in lines if l["event"] == "stage"]
    assert stages == ["sessionize", "lag", "rolling"]
    ckpt = [l for l in lines if l["stage"] == "lag"][0]
    assert ckpt["partitions"], "per-partition lineage missing"
    assert ckpt["bytes"] > 0
    assert ckpt["skew"]["rows"] == with_ds.count()


def test_pipeline_resume_skips_completed(spark, with_ds, tmp_path):
    p = _mkpipe(tmp_path, "run2")
    first = p.run(spark, with_ds).toPandas()
    # resume: stage fns before the checkpoint must NOT run again
    p2 = _mkpipe(tmp_path, "run2")

    def boom(df):
        raise AssertionError("pre-checkpoint stage re-ran on resume")

    p2.stages[0].fn = boom
    p2.stages[1].fn = boom
    second = p2.run(spark, with_ds).toPandas()
    key = ["conv_id", "turn_idx"]
    a = first.sort_values(key).reset_index(drop=True)
    b = second.sort_values(key).reset_index(drop=True)
    assert np.allclose(
        a["tokens_roll_mean5"], b["tokens_roll_mean5"], equal_nan=True
    )
    resumed = [json.loads(l) for l in open(p2.journal_path) if "resume" in l]
    assert any(r.get("event") == "resume" for r in resumed)


def test_strict_no_future_blocks_leaks(transcripts):
    from feature_engineering_tk_spark.operators.asof import asof_join_directed
    from feature_engineering_tk_spark.operators.transcripts import discounted_return
    from feature_engineering_tk_spark.operators.window_features import with_lead

    right = transcripts.select("conv_id", "ts", "tokens")
    leaks = [
        lambda: W.with_lead(transcripts, "tokens", 1, allow_future=True),
        lambda: W.backward_fill(transcripts, ["score"], allow_future=True),
        lambda: W.interpolate_linear(transcripts, ["score"]),
        lambda: asof_join_directed(
            transcripts, right, value_cols=["tokens"], direction="forward", allow_future=True
        ),
        lambda: asof_join_directed(
            transcripts, right, value_cols=["tokens"], direction="nearest", allow_future=True
        ),
        lambda: discounted_return(transcripts, reward="tokens", allow_future=True),
        lambda: with_lead(transcripts, "tokens", 1, allow_future=True),
    ]
    with strict_no_future():
        for leak in leaks:
            with pytest.raises(W.FutureLeakError, match="strict_no_future"):
                leak()
    # restored afterwards
    for leak in leaks:
        assert leak() is not None


def test_remaining_partitions_anti_join(spark, with_ds, tmp_path):
    p = _mkpipe(tmp_path, "run3")
    p.run(spark, with_ds)
    remaining = p.remaining_partitions(spark, with_ds, "lag")
    assert remaining.count() == 0  # everything materialized
    # new partition appears → only it flows through
    new = with_ds.limit(10).withColumn("ds", F.lit("2030-01-01").cast("date"))
    appended = with_ds.unionByName(new)
    rem2 = p.remaining_partitions(spark, appended, "lag")
    assert rem2.count() == 10


def test_entity_skew_detects_hot_keys(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"conv_id": ["hot"] * 900 + [f"c{i}" for i in range(100)], "x": range(1000)}
    )
    df = spark.createDataFrame(pdf)
    m = M.entity_skew(df, "conv_id", buckets=32)
    assert m["skew_ratio"] > 5
    hot = M.hot_entities(df, "conv_id", top=1)
    assert hot[0]["entity"] == "hot" and hot[0]["rows"] == 900


def test_salted_group_agg_matches_plain(transcripts, transcripts_pdf):
    got = (
        salted_group_agg(
            transcripts, "conv_id", "tokens", ["mean", "sum", "count", "std", "min", "max"]
        )
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    exp = (
        transcripts_pdf.groupby("conv_id")["tokens"]
        .agg(["mean", "sum", "count", "std", "min", "max"])
        .reset_index()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert np.allclose(got["tokens_mean"], exp["mean"])
    assert np.allclose(got["tokens_sum"], exp["sum"])
    assert np.allclose(got["tokens_count"], exp["count"])
    assert np.allclose(got["tokens_std"], exp["std"], equal_nan=True)
    assert np.allclose(got["tokens_min"], exp["min"])
    assert np.allclose(got["tokens_max"], exp["max"])


def test_journal_records_shuffle_bytes(spark, transcripts, tmp_path):
    """Lineage journal carries per-stage execution metrics (shuffle
    read/write bytes, tasks) from the JVM AppStatusStore — the
    'shuffle bytes' leg of the north-rule lineage triple."""
    import json

    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators import window_features as W
    from feature_engineering_tk_spark.plans.pipeline import Pipeline

    pipe = Pipeline(str(tmp_path / "wd"), entity="conv_id", partition_col="ds")
    pipe.add("feat", lambda df: W.sessionize(df, 1800.0).withColumn("ds", F.to_date("ts")), checkpoint=True)
    pipe.run(spark, transcripts, resume=False)

    records = [json.loads(l) for l in open(pipe.journal_path)]
    stage_rec = next(r for r in records if r.get("stage") == "feat")
    assert "exec" in stage_rec
    # sessionize shuffles on conv_id; the checkpoint write reads input
    assert stage_rec["exec"]["shuffle_write_bytes"] > 0
    assert stage_rec["exec"]["tasks"] > 0


def _one_stage_record(spark, df, tmp_path, fn, checkpoint=False):
    """Run a one-stage pipeline; return its journal record."""
    pipe = Pipeline(str(tmp_path / "wd"), entity="conv_id", partition_col="ds")
    pipe.add("only", fn, checkpoint=checkpoint)
    pipe.run(spark, df, resume=False)
    with open(pipe.journal_path) as f:
        return json.loads(f.readline())


def test_checkpoint_exec_excludes_bookkeeping_scans(spark, transcripts, tmp_path):
    """The rows/skew scans after the checkpoint write are not charged to
    the stage: a shuffle-free stage written without a partition column
    moves no shuffle bytes, though the skew scan groups by entity."""
    rec = _one_stage_record(
        spark, transcripts, tmp_path, lambda df: df.withColumn("x", F.col("tokens") + 1), checkpoint=True
    )
    assert rec["exec"]["shuffle_write_bytes"] == 0
    assert rec["exec"]["output_bytes"] > 0 and rec["exec"]["tasks"] > 0
    assert rec["rows"] == rec["skew"]["rows"] == transcripts.count()


def test_stage_exec_counts_only_its_own_jobs(spark, transcripts, tmp_path):
    # rolling_median counts its largest entity when called: one eager job
    eager = _one_stage_record(spark, transcripts, tmp_path / "eager", lambda df: W.rolling_median(df, "tokens", 3))
    assert eager["exec"]["tasks"] > 0
    lazy = _one_stage_record(spark, transcripts, tmp_path / "lazy", lambda df: W.with_lag(df, "tokens", 1))
    assert lazy["exec"]["tasks"] == 0 and lazy["exec"]["spark_stages"] == 0


def test_stage_job_tag_removed_after_failure(spark, transcripts, tmp_path):
    def boom(df):
        df.count()
        raise RuntimeError("stage failed")

    with pytest.raises(RuntimeError, match="stage failed"):
        _one_stage_record(spark, transcripts, tmp_path, boom)
    assert not spark.sparkContext.getJobTags()
