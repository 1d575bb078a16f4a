"""session.run_concurrently: driver threads that carry the caller's
Spark local properties, each thread its own copy. session.pin_parallelism:
the one width rule for small-bytes, high-CPU relations."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from pids_drg_esoa_spark import session
from pids_drg_esoa_spark.session import pin_parallelism, run_concurrently


def test_threads_inherit_properties_and_keep_their_own_copy(spark):
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=60)

    def sets_a_property():
        sc.setLocalProperty("test.thread.private", "a")
        barrier.wait()  # the other thread reads now
        barrier.wait()
        return sc.getLocalProperty("spark.jobGroup.id")

    def reads_it():
        barrier.wait()
        seen = sc.getLocalProperty("test.thread.private")
        barrier.wait()
        return seen

    sc.setJobGroup("run-concurrently-group", "test")
    try:
        got = run_concurrently(spark, sets_a_property, reads_it)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert got == ["run-concurrently-group", None]


def test_without_pinned_thread_mode(spark, monkeypatch):
    """PySpark's inheritable_thread_target returns its argument when
    pinned thread mode is off; the tasks then run as they are."""
    monkeypatch.setattr(session, "inheritable_thread_target", lambda f=None: f)
    assert run_concurrently(spark, lambda: 1, lambda: 2) == [1, 2]


def _rows_per_partition(df) -> list[int]:
    """Row counts of the non-empty partitions of the stage that reads
    ``df``. An aggregate on top, as at the pin's real call sites: when
    the pinned relation is itself the query's result, AQE keeps the
    requested count anyway."""
    rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    return [r["count"] for r in rows]


def test_pin_parallelism_survives_aqe_after_a_distinct(spark):
    """A .distinct() output pinned on its own key keeps the helper's
    width: 2 × 8 cores = 16, and 17 once shuffle.partitions is 16. A
    pin to exactly shuffle.partitions is dropped as already satisfied
    by the distinct's exchange, which AQE then coalesces to one
    partition."""
    def pinned():
        texts = spark.range(2000).select((F.col("id") % 700).cast("string").alias("s"))
        return pin_parallelism(texts.distinct(), "s")

    counts = _rows_per_partition(pinned())
    assert len(counts) == 16 and sum(counts) == 700
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        counts = _rows_per_partition(pinned())
    finally:
        spark.conf.set(key, before)
    assert len(counts) == 17 and sum(counts) == 700
