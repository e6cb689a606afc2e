"""Segments: the append storage behind every add_items (fold schedule,
job-free odd appends, failed folds)."""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.segments import Segments


def _ids(frame):
    return sorted(r["id"] for r in frame.collect())


def test_binary_fold_schedule_and_job_free_appends(spark):
    """n appends leave popcount(n) append segments; an append that folds
    nothing (every odd one) runs no Spark job."""
    sc = spark.sparkContext
    segs = Segments(spark.range(2).cache())
    try:
        for n in range(1, 9):
            sc.setJobGroup(f"segments-append-{n}", "append")
            segs.append(spark.range(10 * n, 10 * n + 2))
            jobs = sc.statusTracker().getJobIdsForGroup(
                f"segments-append-{n}")
            assert bool(jobs) == (n % 2 == 0), n
            assert len(segs.parts()) - 1 == bin(n).count("1"), n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _ids(segs.frame) == [0, 1] + sorted(
        i for n in range(1, 9) for i in (10 * n, 10 * n + 1))
    segs.unpersist(blocking=True)
    assert not any(f.storageLevel.useMemory for f in segs.parts())


def test_failed_fold_leaves_segments_intact(spark):
    segs = Segments(spark.range(3).cache())
    segs.append(spark.range(3, 5))
    before = segs.parts()
    bad = spark.range(5, 6).select(
        F.when(F.col("id") > 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).cast("long").alias("id"))
    with pytest.raises(Exception, match="boom"):
        segs.append(bad)
    assert segs.parts() == before
    assert _ids(segs.frame) == [0, 1, 2, 3, 4]
    segs.unpersist(blocking=True)
