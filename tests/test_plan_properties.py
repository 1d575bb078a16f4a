"""Physical-plan property tests for the headline catalog queries.

SCALE.md documents WHY each plan shape survives 100 TB; these tests
pin the shapes so a regression (a lost broadcast, a filter that stops
reaching the scan, a disappeared partial aggregate) fails loudly
instead of silently shipping a slow plan. Assertions read the
executed/optimized plan strings the same way `.explain("formatted")`
renders them.
"""

from __future__ import annotations

import os

import pytest

from pids_drg_esoa_spark.plans.catalog import all_specs

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def _executed(spark, name):
    df = all_specs()[name].fn(spark, SF_DIR)
    # collect() (not count(): that builds a DIFFERENT plan) so AQE
    # finalizes THIS queryExecution and the string shows real joins
    # and codegen spans
    df.collect()
    return df, df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_are_broadcast(spark):
    """J1/J3: fact×dim joins must broadcast the dim — never shuffle
    the fact side on the join key (SCALE.md joins section)."""
    for name in ("j1_left_join_fact_dim", "j3_broadcast_dim_chain"):
        _, plan = _executed(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan[:2000]}"
        assert "SortMergeJoin" not in plan, f"{name}: dim join degraded to SMJ"


def test_q1_scan_prunes_and_pushes(spark):
    """TPC-H Q1: the filter reaches the parquet scan (PushedFilters)
    and the scan reads only the referenced columns (ReadSchema)."""
    df, plan = _executed(spark, "tpch_q1_pricing_summary")
    scan = plan[plan.index("FileScan"):]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    read_schema = scan[scan.index("ReadSchema"):][:400]
    assert "l_comment" not in read_schema, "scan reads unreferenced columns"
    assert "l_orderkey" not in read_schema, "scan reads unreferenced columns"


def test_q1_has_partial_aggregation(spark):
    """Aggregations combine map-side before the exchange: the plan
    carries a partial HashAggregate below the shuffle."""
    _, plan = _executed(spark, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, "no partial/final aggregate pair"
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_minhash_candidate_join_is_equi(spark):
    """LSH candidate generation must be an equi-join on (band, key) —
    never a nested-loop pair scan (the O(n²) trap)."""
    _, plan = _executed(spark, "dedup_minhash_lsh_pairs")
    assert "BroadcastNestedLoopJoin" not in plan, "LSH degraded to nested loop"
    assert "CartesianProduct" not in plan, "LSH degraded to cross product"


def _final_plan(plan: str) -> str:
    """``plan`` without AQE's ``== Initial Plan ==`` blocks, which
    repeat each adaptive plan, nested cached plans included, as it was
    before execution."""
    keep, skip_at = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :|+-"))
        if skip_at is not None and indent >= skip_at:
            continue
        skip_at = None
        if line.strip(" :|+-").startswith("== Initial Plan =="):
            skip_at = indent
            continue
        keep.append(line)
    return "\n".join(keep)


def test_minhash_rep_side_pins_once(spark):
    """The collapsed MinHash path shuffles its rep relation to cluster
    width exactly once, inside word_shingles: a second pin before the
    shingling would move every rep text twice."""
    from pids_drg_esoa_spark.operators.dedup import minhash_verified_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox jumps over the lazy dog",
        "a completely different sentence with many words",
        "a completely different sentence with many words here",
        "too short",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    verified, caches = minhash_verified_pairs(docs, n_docs=len(texts))
    try:
        assert len(verified.collect()) == 4
        sh = next(c for c in caches if c.columns == ["doc", "sh"])
        plan = _final_plan(sh._jdf.queryExecution().executedPlan().toString())
    finally:
        for c in caches:
            c.unpersist()
    assert plan.count("REPARTITION_BY_NUM") == 1, plan


def test_kmeans_assignment_is_narrow(spark):
    """IVF training: the assignment is a literal-centroid projection
    (no join), so the only joins in the final plan are the cell-probe
    equi-join and the broadcast of the query set."""
    _, plan = _executed(spark, "ann_ivf_kmeans_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank1_and_topn_avoid_window_sorts(spark):
    """The as-of join and per-key top-n run as hash aggregates with
    map-side partial combine (SCALE.md: groupBy beats window on
    high-fanout rank-1) — no Window operator, and a partial/final
    aggregate pair is present."""
    for name in ("t_asof_join_latest_order", "w5_topn_per_key"):
        _, plan = _executed(spark, name)
        assert "Window" not in plan, f"{name}: window crept back in"
        # struct max_by lowers to SortAggregate, collect_list to
        # ObjectHashAggregate — all carry the partial/final pair
        n_agg = sum(plan.count(k) for k in
                    ("HashAggregate", "ObjectHashAggregate", "SortAggregate"))
        assert n_agg >= 2, f"{name}: no partial/final aggregate pair\n{plan[:1500]}"


def test_curation_filters_are_shuffle_free(spark):
    """PII redaction and stratified sampling are pure scan-stage
    projections/filters — zero Exchange, zero Python boundary."""
    for name in ("text_pii_redact", "doc_sample_stratified", "text_quality_filter"):
        _, plan = _executed(spark, name)
        assert "Exchange" not in plan, f"{name}: unexpected shuffle\n{plan[:1500]}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_shuffles_once_per_stream(spark):
    """Sequence packing partitions by SOURCE (the pack stream), never
    globally: exactly one hash-partition exchange, no single-partition
    global sort."""
    _, plan = _executed(spark, "doc_pack_sequences")
    # AQE prints Final + Initial plans; count only the final one
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_decontamination_is_equi_join(spark):
    """Train/eval shingle overlap joins on the shingle key — never a
    nested-loop pair scan."""
    _, plan = _executed(spark, "text_decontamination_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_covers_q1(spark):
    """The Q1 pipeline stays inside whole-stage codegen (no Python
    row boundary in the hot path)."""
    _, plan = _executed(spark, "tpch_q1_pricing_summary")
    # codegen'd operators carry the `*(N)` stage prefix in the plan
    # string; both aggregate stages must be inside a codegen span
    assert "*(" in plan, "no whole-stage-codegen span in Q1"
    assert "*(2) HashAggregate" in plan or "*(1) HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_interval_join_binned_is_hash_join(spark):
    """t_interval_join_binned: the bin key must carry the join as a
    hash/merge equi-join with the range check as a residual — never a
    BroadcastNestedLoopJoin over the raw range predicate (the O(n·m)
    shape binning exists to kill)."""
    _, plan = _executed(spark, "t_interval_join_binned")
    assert "NestedLoop" not in plan, f"interval join degraded to nested loop\n{plan[:2000]}"
    assert "Join" in plan
    assert "bin_id" in plan, "join does not run on the bin key"


def test_rare_token_vocab_is_broadcast(spark):
    """text_rare_token_stats: the corpus-vocabulary join back to the
    token stream must broadcast the vocab dim (Zipf-bounded), not
    shuffle the token stream on the token key a second time."""
    _, plan = _executed(spark, "text_rare_token_stats")
    assert "BroadcastHashJoin" in plan, f"vocab join not broadcast\n{plan[:2000]}"


def test_span_dedup_joins_on_hash_key(spark):
    """dedup_span_exact: occurrence counts join back on the fixed-
    width window hash (md5), with partial aggregation below the
    exchange for the count pass."""
    _, plan = _executed(spark, "dedup_span_exact")
    assert "wh" in plan
    assert plan.count("HashAggregate") >= 2, "window-count pass lost map-side combine"


def test_semdedup_pairs_join_on_cell(spark):
    """semantic_dedup_semdedup: candidate pairs come from an equi-join
    on the k-means cell id — no cross product anywhere."""
    _, plan = _executed(spark, "semantic_dedup_semdedup")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:2000]
    assert "cell" in plan
