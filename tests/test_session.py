"""session.run_concurrently: driver threads that carry the caller's
Spark local properties, each thread its own copy."""

from __future__ import annotations

import threading

from pids_drg_esoa_spark import session
from pids_drg_esoa_spark.session import run_concurrently


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
