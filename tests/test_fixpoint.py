"""functions/fixpoint.py: the one driver of the iterative loops — round
budget, convergence probe, and the Spark jobs each round launches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.functions.fixpoint import CHANGED, fixpoint


def _zeros(spark, n: int = 16):
    return spark.range(n).select(F.col("id").alias("k"), F.lit(0).alias("v"))


def _climb_to(cap: int, flag: bool):
    """Step adding 1 to v up to ``cap``; with ``flag`` it also emits the
    change flag, so v = cap is reached in round ``cap`` and round
    ``cap + 1`` is the first that changes nothing."""
    calls = []

    def step(state, i):
        calls.append(i)
        nv = F.least(F.col("v") + 1, F.lit(cap))
        cols = ["k", nv.alias("v")]
        if flag:
            cols.append((nv > F.col("v")).alias(CHANGED))
        return state.select(*cols)

    return step, calls


def test_fixed_round_loop_calls_step_exactly_max_rounds(spark):
    step, calls = _climb_to(100, flag=False)
    out = fixpoint(_zeros(spark), step, 4)
    assert calls == [1, 2, 3, 4]
    assert {r.v for r in out.collect()} == {4}


def test_flag_loop_stops_at_first_round_without_change(spark):
    step, calls = _climb_to(3, flag=True)
    out = fixpoint(_zeros(spark), step, 10)
    assert calls == [1, 2, 3, 4]
    assert out.columns == ["k", "v"]  # the helper drops the flag
    assert {r.v for r in out.collect()} == {3}


def test_shrinking_loop_stops_when_row_count_repeats(spark):
    calls = []

    def peel(state, i):
        calls.append(i)
        return state.filter(F.col("k") < F.greatest(F.lit(4), F.lit(16 - 4 * i)))

    out = fixpoint(_zeros(spark), peel, 10, shrinks=True)
    # 12, 8, 4 rows, then round 4 keeps 4 again: converged
    assert calls == [1, 2, 3, 4]
    assert out.count() == 4


def test_exhausted_budget_raises_naming_the_operator(spark):
    def never_settles(spark):
        def step(state, _):
            return state.select("k", (F.col("v") + 1).alias("v"), F.lit(True).alias(CHANGED))

        return fixpoint(_zeros(spark), step, 3)

    with pytest.raises(RuntimeError, match="never_settles: still changing after its 3-round"):
        never_settles(spark)

    # a shrinking loop that loses a row every round never repeats a count
    with pytest.raises(RuntimeError, match="3-round"):
        fixpoint(_zeros(spark), lambda s, i: s.filter(F.col("k") >= i), 3, shrinks=True)


def test_each_round_runs_one_materialization_job_and_at_most_one_probe_job(spark):
    """The trap this helper exists to prevent: a lazy checkpoint or
    persist() probed by limit(1) launches no materialization job of its
    own, and the probe leaves unread partitions to recompute next round.
    Jobs are counted per round by job group.  AQE is off for the count
    because it submits every shuffle map stage as a job of its own; with
    it off, one action is one job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for flag, probes in ((False, 0), (True, 1)):
            step, _ = _climb_to(3, flag)
            group = f"fixpoint-jobs-{flag}"

            def grouped(state, i, step=step, group=group):
                sc.setJobGroup(f"{group}-{i}", "fixpoint round")
                return step(state, i)

            fixpoint(_zeros(spark), grouped, 4)
            for i in range(1, 5):
                # a job is named by its call site: localCheckpoint or count
                jobs = [
                    tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).name
                    for j in tracker.getJobIdsForGroup(f"{group}-{i}")
                ]
                checkpoints = [n for n in jobs if n.startswith("localCheckpoint")]
                assert len(checkpoints) == 1, (flag, i, jobs)
                assert len(jobs) - len(checkpoints) == probes, (flag, i, jobs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        sc.setLocalProperty("spark.jobGroup.id", None)
