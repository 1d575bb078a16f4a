"""functions/exprcache: the per-application session-state registry —
Column trees, content-keyed broadcasts, UDF memos and checkpoint
leaves in one LRU store. The cache keys must be exact: a broadcast hit
is equality-by-content, never hash-only."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from pids_drg_esoa_spark.functions import exprcache
from pids_drg_esoa_spark.functions.exprcache import (
    cached_broadcast,
    cached_checkpoint,
    cached_value,
    checkpoint_count,
)
from pids_drg_esoa_spark.functions.tokens import (
    normalize_generic_combination_native,
)


def _is_materialized(leaf) -> bool:
    return leaf._jdf.queryExecution().analyzed().rdd().isCheckpointed()


def test_cached_column_same_object_and_correct(spark):
    c1 = cached_value("t_upper", "x", lambda: F.upper(F.col("x")))
    c2 = cached_value("t_upper", "x", lambda: F.upper(F.col("x")))
    assert c1 is c2
    # distinct (name, col) keys build fresh
    c3 = cached_value("t_upper", "y", lambda: F.upper(F.col("y")))
    assert c3 is not c1
    df = spark.createDataFrame([("ab",)], ["x"])
    assert df.select(c1.alias("u")).first()["u"] == "AB"


def test_combo_native_str_path_cached_and_equal_to_column_path(spark):
    ca = normalize_generic_combination_native("raw_text")
    cb = normalize_generic_combination_native("raw_text")
    assert ca is cb  # memoized
    df = spark.createDataFrame(
        [("PARACETAMOL 500MG TAB",), ("AMOXICILLIN + CLAVULANIC ACID 625 MG TABLET",)],
        ["raw_text"],
    )
    got_cached = [r[0] for r in df.select(ca.alias("c")).collect()]
    fresh = normalize_generic_combination_native(F.col("raw_text"))
    got_fresh = [r[0] for r in df.select(fresh.alias("c")).collect()]
    assert got_cached == got_fresh


def test_cached_broadcast_content_keyed(spark):
    sc = spark.sparkContext
    b1 = cached_broadcast(sc, "t_map", {"a": 1, "b": 2})
    b2 = cached_broadcast(sc, "t_map", {"b": 2, "a": 1})  # same content
    assert b1 is b2
    b3 = cached_broadcast(sc, "t_map", {"a": 1, "b": 3})  # different content
    assert b3 is not b1
    b4 = cached_broadcast(sc, "t_other", {"a": 1, "b": 2})  # different name
    assert b4 is not b1
    assert b1.value == {"a": 1, "b": 2} and b3.value["b"] == 3


def test_cached_broadcast_nested_containers(spark):
    sc = spark.sparkContext
    v = {"k": ["x", "y"], "s": {"m": (1, 2)}}
    b1 = cached_broadcast(sc, "t_nested", v)
    b2 = cached_broadcast(sc, "t_nested", {"s": {"m": (1, 2)}, "k": ["x", "y"]})
    assert b1 is b2


def test_checkpoint_hit_applies_caller_column_names(spark):
    """(a) canonical plans ignore aliases, so a sameResult hit must
    re-apply the caller's names instead of the first caller's."""
    first = cached_checkpoint(spark.range(40).select((F.col("id") * 7901).alias("a")))
    other = cached_checkpoint(spark.range(40).select((F.col("id") * 7901).alias("b")))
    assert first.columns == ["a"] and other.columns == ["b"]
    assert sorted(r.b for r in other.collect()) == [i * 7901 for i in range(40)]
    # same names: the stored leaf itself comes back
    again = cached_checkpoint(spark.range(40).select((F.col("id") * 7901).alias("a")))
    assert again is first


def test_eager_hit_on_lazy_entry_materializes(spark):
    """(b) eager=True on a hit honours eagerness even when the entry
    was registered lazily."""
    def df():
        return spark.range(3000).select((F.col("id") * 7907).alias("v"))

    lazy = cached_checkpoint(df(), eager=False)
    eager = cached_checkpoint(df(), eager=True)
    assert eager is lazy
    assert _is_materialized(eager)


def test_lazy_checkpoint_background_count(spark):
    leaf = cached_checkpoint(
        spark.range(123).select((F.col("id") * 7919).alias("v")), eager=False
    )
    assert checkpoint_count(leaf) == 123
    assert _is_materialized(leaf)


def test_app_change_drops_entries(spark, monkeypatch):
    """(c) entries of a previous application are dropped, not kept
    beside the new application's."""
    real_app = exprcache._app_id()
    v1 = cached_value("t_app", (), object)
    assert cached_value("t_app", (), object) is v1
    monkeypatch.setattr(exprcache, "_app_id", lambda: "another-app")
    assert cached_value("t_app", (), object) is not v1
    monkeypatch.setattr(exprcache, "_app_id", lambda: real_app)
    assert cached_value("t_app", (), object) is not v1


def test_hit_refreshes_and_cap_evicts_lru(spark, monkeypatch):
    """(d) one LRU cap over the whole store."""
    monkeypatch.setattr(exprcache, "_MAX_ENTRIES", 3)
    a, b = cached_value("t_lru", "a", object), cached_value("t_lru", "b", object)
    cached_value("t_lru", "c", object)
    assert cached_value("t_lru", "a", object) is a  # hit: a is now newest
    cached_value("t_lru", "d", object)  # evicts b, the least recently used
    assert cached_value("t_lru", "a", object) is a
    assert cached_value("t_lru", "b", object) is not b


def test_udf_memo_keys_on_broadcast_id(spark):
    """(e) the tagger's UDF memos key on Spark's Broadcast.id: two
    live broadcasts never share a UDF, one broadcast always does."""
    from pids_drg_esoa_spark.plans.tagger import _broadcast_key

    sc = spark.sparkContext
    b1, b2 = sc.broadcast({"x": 1}), sc.broadcast({"x": 1})

    def udf_for(b):
        return cached_value(
            "t_udf", _broadcast_key(b), lambda: F.udf(lambda v: v + b.value["x"], "long")
        )

    u1 = udf_for(b1)
    assert udf_for(b1) is u1
    assert udf_for(b2) is not u1


def test_concurrent_callers_build_a_key_once(spark):
    """Two threads asking for one key while it builds share ONE build:
    the second waits for the first caller's value instead of building
    its own (duplicate checkpoint jobs, leaked cached blocks)."""
    calls = []

    def build():
        calls.append(threading.get_ident())
        time.sleep(1.0)
        return object()

    with ThreadPoolExecutor(max_workers=2) as ex:
        a, b = ex.map(lambda _: cached_value("t_once", (), build), range(2), timeout=60)
    assert len(calls) == 1
    assert a is b


def test_concurrent_builds_stress(spark):
    """More threads than cores over a few keys, with frequent thread
    switches: every key is built once and every caller gets its value."""
    builds: dict[int, int] = {}
    builds_lock = threading.Lock()

    def build(k):
        with builds_lock:
            builds[k] = builds.get(k, 0) + 1
        time.sleep(0.01)
        return ("value", k)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=32) as ex:
            got = list(ex.map(
                lambda i: cached_value("t_stress", i % 8, lambda: build(i % 8)),
                range(256), timeout=60,
            ))
    finally:
        sys.setswitchinterval(interval)
    assert builds == dict.fromkeys(range(8), 1)
    assert all(v == ("value", i % 8) for i, v in enumerate(got))


def test_failed_build_reraises_to_waiters_and_next_call_rebuilds(spark):
    started = threading.Event()

    def failing():
        started.set()
        time.sleep(1.0)
        raise ValueError("boom")

    with ThreadPoolExecutor(max_workers=2) as ex:
        owner = ex.submit(cached_value, "t_fail", (), failing)
        assert started.wait(timeout=60)
        waiter = ex.submit(cached_value, "t_fail", (), lambda: "waiter built")
        with pytest.raises(ValueError, match="boom"):
            owner.result(timeout=60)
        with pytest.raises(ValueError, match="boom"):
            waiter.result(timeout=60)
    assert cached_value("t_fail", (), lambda: "rebuilt") == "rebuilt"
    assert cached_value("t_fail", (), lambda: "again") == "rebuilt"
