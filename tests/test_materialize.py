"""Fault-tolerance materialization modes (session.materialize_df) —
VERDICT r11 item 3: long fleet/PageRank jobs need a RELIABLE (DFS
checkpoint) option because localCheckpoint's executor-local blocks are
unrecoverable after executor loss (Spark cannot recompute past a
localCheckpoint; the job fails and must retry).

What is honestly testable on local[k] (one JVM, no executor to kill):
  * mode contract — "none" is identity, "local"/"reliable" truncate
    lineage (the fan-out cost model), "reliable" writes RECOVERABLE
    state into the checkpoint directory while "local" does not;
  * value invariance — every mode returns identical rows for the fleet
    pipeline and bit-identical fixed-point PageRank trajectories;
  * the failure-semantics guard — "reliable" without a checkpoint dir
    raises with the remedy in the message.
Executor-loss recovery itself is a cluster property documented on each
docstring (job-retry vs completes), not reachable from a single JVM.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from solar_data_tools_spark.session import materialize_df


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _fresh_checkpoint_dir(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    return d


def test_materialize_modes_contract(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)

    assert materialize_df(df, "none") is df

    local = materialize_df(df, "local")
    # lineage truncated: the plan scans materialized blocks instead of
    # the Range + Project chain
    plan = _plan(local)
    assert "ExistingRDD" in plan and "Range" not in plan

    d = _fresh_checkpoint_dir(spark, tmp_path)
    rel = materialize_df(df, "reliable", eager=True)
    assert sorted(r["v"] for r in rel.collect()) == sorted(
        r["v"] for r in df.collect()
    )
    # reliable state lives in the (DFS) checkpoint dir — the property
    # that makes it survive executor loss; local mode writes nothing
    # recoverable there
    written = [
        os.path.join(root, f)
        for root, _, files in os.walk(d)
        for f in files
    ]
    assert written, "reliable checkpoint wrote no recoverable state"

    with pytest.raises(ValueError, match="none|local|reliable"):
        materialize_df(df, "disk")


def test_materialize_reliable_requires_checkpoint_dir():
    # a session with NO checkpoint dir must fail loudly with the remedy
    # (not at first action with an opaque SparkException). Fresh
    # context state is simulated by asserting the guard message only
    # when the dir is genuinely unset — if an earlier test set it on
    # the shared session, the guard correctly does not fire.
    from solar_data_tools_spark.session import get_spark

    s = get_spark(app_name="sdt-spark-tests", shuffle_partitions=8)
    df = s.range(5)
    if s.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            materialize_df(df, "reliable")
    else:
        assert materialize_df(df, "reliable") is not df


def _small_fleet(spark):
    slots = 24
    base = spark.range(3 * 10 * slots)
    site = (F.col("id") / (10 * slots)).cast("long")
    slot = (F.col("id") % slots).cast("double")
    day = (F.col("id") / slots).cast("long") % 10
    val = F.greatest(
        F.lit(0.0),
        F.sin((slot / slots - 0.25) * 2 * 3.141592653589793),
    )
    return base.select(
        F.concat(F.lit("s"), site).alias("site"),
        F.timestamp_seconds(
            F.lit(1577836800) + day * 86400 + (slot * 3600).cast("long")
        ).alias("ts"),
        F.col("id").alias("seq"),
        val.alias("value"),
    )


def test_pipeline_values_invariant_across_modes(spark, tmp_path):
    from solar_data_tools_spark.plans.pipeline import run_pipeline

    _fresh_checkpoint_dir(spark, tmp_path)
    meas = _small_fleet(spark)

    def snap(mode):
        res = run_pipeline(meas, sampling_seconds=3600, materialize=mode)
        return sorted(
            (r["site"], str(r["date"]), round(float(r["energy"]), 9))
            for r in res.daily.select("site", "date", "energy").collect()
        )

    base = snap("none")
    assert snap("local") == base
    assert snap("reliable") == base
    # bool back-compat
    assert snap(True) == base and snap(False) == base


def _canonical_rows(df) -> list[tuple]:
    def cell(v):
        if isinstance(v, float):
            return "nan" if v != v else round(v, 9)
        return v

    return sorted(
        (tuple(cell(v) for v in r) for r in df.collect()), key=repr
    )


def test_fleet_report_reliable_mode(spark, tmp_path):
    """Every FleetResult table is the same in every materialize mode:
    "none" is the fully lazy plan, so the checkpointed seams (the grid,
    daily and the scores) change no answer. Per-site cadence, with the
    shift fix and tz roll on, exercises every consumer of the seams."""
    from solar_data_tools_spark.plans.fleet import run_fleet_pipeline

    _fresh_checkpoint_dir(spark, tmp_path)
    meas = _small_fleet(spark)

    def snap(mode):
        res = run_fleet_pipeline(
            meas, fix_shifts=True, correct_tz=True, materialize=mode
        )
        return {
            name: _canonical_rows(getattr(res, name))
            for name in (
                "report",
                "scores",
                "capacity_changes",
                "time_shifts",
                "standardized",
            )
        }

    base = snap("none")
    assert len(base["report"]) == 3 and base["scores"]
    assert snap("local") == base
    assert snap("reliable") == base


def test_pagerank_trajectory_identical_across_modes(spark, tmp_path):
    from solar_data_tools_spark.operators.graph import pagerank

    _fresh_checkpoint_dir(spark, tmp_path)
    edges = spark.range(60).select(
        (F.col("id") % 20).alias("src"),
        ((F.col("id") * 7 + 3) % 20).alias("dst"),
    )

    def ranks(mode):
        return sorted(
            (r["node"], r["rank_fp"])
            for r in pagerank(
                edges, n_iters=4, fixed_point=True, checkpoint=mode
            ).collect()
        )

    base = ranks(False)  # "none"
    assert ranks(True) == base        # "local"
    assert ranks("reliable") == base  # DFS checkpoint
    with pytest.raises(ValueError, match="checkpoint mode"):
        pagerank(edges, checkpoint="disk")
