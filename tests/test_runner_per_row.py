"""Per-INPUT-ROW accounting in run_drugs_all (r11 metrics-parity
fix): the reference's esoa_with_atc / esoa_with_drug_code carry one
row per input row (dedupe-tag-merge-back), so duplicate texts must
survive into the outputs AND the coverage denominators, and the
reason vocabularies must match the reference's output surface."""

from __future__ import annotations

import pytest

from pids_drg_esoa_spark.pipelines.runner import run_drugs_all


@pytest.fixture(scope="module")
def dup_inputs(spark):
    from tests.test_runner_cli import flow_inputs  # reuse dims

    base = flow_inputs.__wrapped__(spark)
    inputs = dict(base)
    inputs["esoa"] = spark.createDataFrame(
        [
            ("PARACETAMOL 500MG TAB",),
            ("PARACETAMOL 500MG TAB",),   # duplicate text
            ("PARACETAMOL 500MG TAB",),   # duplicate text
            ("AMOXICILLIN 500MG CAP",),
            ("MYSTERY TONIC",),
            (None,),                      # null text row stays a row
        ],
        "raw_text string",
    )
    return inputs


def test_per_row_totals_and_outputs(spark, dup_inputs):
    res = run_drugs_all(spark, dup_inputs)
    # 6 input rows -> 6 output rows in Parts 3 and 4
    assert res.coverage["esoa_total"] == 6
    assert res.esoa_with_atc.count() == 6
    assert res.esoa_with_drug_code.count() == 6
    # the duplicate text's match counts 3x (per row, like the
    # reference's merge-back), and identical rows carry identical tags
    p = res.esoa_with_atc.filter(
        res.esoa_with_atc.raw_text == "PARACETAMOL 500MG TAB"
    ).collect()
    assert len(p) == 3
    assert len({(r["generic_name"], r["atc_primary"]) for r in p}) == 1
    assert res.coverage["esoa_atc"] >= 4  # 3 dups + amoxicillin

    # part_metrics mirror the reference log_metrics fields
    pm = res.part_metrics
    assert pm["esoa"]["total"] == 6
    assert pm["esoa_to_drug_code"]["total"] == 6
    assert pm["esoa"]["matched_atc"] == res.coverage["esoa_atc"]

    # reference OUTPUT vocabulary for Part-2/3 reason counts
    assert set(res.reason_counts["annex_f"]) <= {
        "matched", "no_match", "no_candidates", "error"
    }
    e = res.reason_counts["esoa"]
    assert e.get("matched", 0) >= 4
    # null-text row: the reference tags THROUGH fillna('') so a blank
    # row is COUNTED as no_candidates (r12; diff_reference_metrics
    # plants blank/null/whitespace texts and reads 0 mismatches)
    assert e.get("no_candidates", 0) >= 1
    assert sum(e.values()) == 6


def test_bridge_rows_align_to_input_rows(spark, dup_inputs):
    res = run_drugs_all(spark, dup_inputs)
    b = res.esoa_with_drug_code.filter(
        res.esoa_with_drug_code.raw_text == "PARACETAMOL 500MG TAB"
    ).collect()
    assert len(b) == 3
    assert len({(r["drug_code"], r["match_reason"]) for r in b}) == 1
    # null-text row exists with null code and rides the ''-text
    # bridge result (reference fillna('') semantics): reason is
    # no_generic, not NULL (r12)
    nulls = res.esoa_with_drug_code.filter("raw_text IS NULL").collect()
    assert len(nulls) == 1 and nulls[0]["drug_code"] is None
    assert nulls[0]["match_reason"] == "no_generic"


def test_metrics_comparison_tail(spark, dup_inputs, tmp_path):
    from pids_drg_esoa_spark.sources.writers import metrics_comparison

    mp = str(tmp_path / "metrics_history")
    run_drugs_all(spark, dup_inputs, metrics_path=mp)
    run_drugs_all(spark, dup_inputs, metrics_path=mp)
    hist = metrics_comparison(spark, mp, last_n=5)
    assert set(hist) == {"annex_f", "esoa", "esoa_to_drug_code"}
    assert len(hist["esoa"]) == 2  # two appended runs, oldest->latest
    assert hist["esoa"][0]["recorded_at"] <= hist["esoa"][1]["recorded_at"]
    assert all(r["total"] == "6" for r in hist["esoa"])
    # missing history -> empty dict, no raise
    assert metrics_comparison(spark, str(tmp_path / "nope")) == {}


def test_dispatcher_emits_the_chain_part3_rows(spark, dup_inputs):
    """The ITEM_REF_CODE dispatcher runs the chain's Part 1 and Part 3:
    its esoa_with_atc holds one row per input row (duplicate texts, a
    blank and a null text included), equal to run_drugs_all's, and its
    metrics count those rows."""
    from pids_drg_esoa_spark.pipelines.base import PipelineContext, get_pipeline

    inputs = dict(
        dup_inputs,
        esoa=dup_inputs["esoa"].unionByName(spark.createDataFrame([("",)], "raw_text string")),
    )
    ctx = PipelineContext(spark=spark, inputs=inputs)
    get_pipeline("DrugsAndMedicine").run(ctx)
    got = ctx.artifacts["esoa_with_atc"]
    want = run_drugs_all(spark, inputs).esoa_with_atc
    assert got.columns == want.columns
    want_rows = want.collect()
    assert sorted(repr(r) for r in got.collect()) == sorted(repr(r) for r in want_rows)
    assert len(want_rows) == 7
    blank = {
        r.raw_text: (r.matched, r.match_reason)
        for r in got.filter("raw_text = '' OR raw_text IS NULL").collect()
    }
    assert blank == {"": (False, "no_candidates"), None: (False, "no_candidates")}
    m = ctx.artifacts["metrics"].collect()[0]
    assert (m.n_total, m.n_matched, m.n_atc) == (
        7,
        sum(r.matched for r in want_rows),
        sum(r.atc_primary is not None for r in want_rows),
    )
