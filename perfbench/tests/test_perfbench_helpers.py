"""Tests for the benchmark's pure helpers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import check_one_per_input, check_tags  # noqa: E402


def _span(name, start, end, depth):
    return {"name": name, "start": start, "end": end, "depth": depth}


def _ts(t: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


# --- intervals ---------------------------------------------------------------
def test_union_length_merges_overlaps_and_gaps():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert spans.union_length([(3, 4), (0, 1), (1, 2)]) == 3


def test_self_intervals_exclude_direct_children_only():
    outer = _span("a", 0, 10, 0)
    kid1, kid2 = _span("b", 2, 4, 1), _span("c", 6, 7, 1)
    grandkid = _span("d", 2.5, 3, 2)
    all_spans = [outer, kid1, kid2, grandkid]
    assert spans.self_intervals(outer, all_spans) == [(0, 2), (4, 6), (7, 10)]
    assert spans.self_intervals(kid1, all_spans) == [(2, 2.5), (3, 4)]


def test_driver_time_is_self_time_not_covered_by_jobs():
    self_iv = [(0, 2), (4, 10)]
    # jobs overlap each other and straddle the gap the child span took
    jobs = [(1, 3), (5, 7), (6, 8)]
    covered = 1 + 3  # (1,2) from the first job, (5,8) from the other two
    assert spans.driver_time(self_iv, jobs) == 8 - covered
    assert spans.driver_time(self_iv, []) == 8


def test_innermost_picks_the_deepest_open_span():
    s = [_span("a", 0, 10, 0), _span("b", 2, 4, 1)]
    assert spans.innermost(s, 3)["name"] == "b"
    assert spans.innermost(s, 5)["name"] == "a"
    assert spans.innermost(s, 11) is None
    assert spans.innermost(s, None) is None


# --- REST deltas and attribution --------------------------------------------
def _snap(jobs=(), stages=(), sql=()):
    return {"jobs": list(jobs), "stages": list(stages), "sql": list(sql)}


def test_new_since_keeps_only_records_absent_before():
    old_job = {"jobId": 0}
    old_stage = {"stageId": 0, "attemptId": 0}
    retry = {"stageId": 0, "attemptId": 1}
    before = _snap([old_job], [old_stage], [{"id": 0}])
    after = _snap([old_job, {"jobId": 1}], [old_stage, retry], [{"id": 0}, {"id": 7}])
    d = spans.new_since(before, after)
    assert [j["jobId"] for j in d["jobs"]] == [1]
    assert d["stages"] == [retry]
    assert [x["id"] for x in d["sql"]] == [7]


def test_parse_helpers():
    assert spans.parse_ts("1970-01-01T00:00:01.500GMT") == 1.5
    assert spans.parse_ts("1970-01-01T00:00:02.250Z") == 2.25
    assert spans.parse_ts(None) is None
    assert spans.parse_duration("1.2 s") == 1.2
    assert spans.parse_duration("total (min, med, max (stageId: taskId))\n"
                                "3.5 m (120 ms, 1 s, 2 s (stage 3.0: task 12))") == 210.0
    assert spans.parse_duration("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25
    assert spans.parse_duration("n/a") == 0.0


def test_attribute_assigns_spark_work_to_the_span_open_at_submission():
    t = 1_000_000.0
    tree = [_span("outer", t, t + 10, 0), _span("inner", t + 2, t + 6, 1)]
    delta = _snap(
        jobs=[
            {"jobId": 1, "submissionTime": _ts(t + 1), "completionTime": _ts(t + 1.5)},
            {"jobId": 2, "submissionTime": _ts(t + 3), "completionTime": _ts(t + 5)},
            {"jobId": 3, "submissionTime": _ts(t + 20), "completionTime": _ts(t + 21)},
        ],
        stages=[
            {"stageId": 1, "attemptId": 0, "status": "COMPLETE",
             "submissionTime": _ts(t + 3.1), "numCompleteTasks": 4, "numFailedTasks": 1,
             "executorCpuTime": 2_000_000_000, "jvmGcTime": 500,
             "shuffleWriteBytes": 2 * spans.MB, "diskBytesSpilled": spans.MB},
            {"stageId": 2, "attemptId": 0, "status": "SKIPPED",
             "submissionTime": _ts(t + 3.2), "numCompleteTasks": 9},
        ],
        sql=[{"id": 1, "submissionTime": _ts(t + 1), "nodes": [
            {"metrics": [{"name": spans.PY_WORKER_METRIC, "value": "1.5 s"},
                         {"name": "number of output rows", "value": "7"}]}]}],
    )
    out = spans.attribute(tree, delta)
    inner, outer = out["inner"], out["outer"]
    assert (inner["jobs"], outer["jobs"]) == (1, 1)  # job 3 is outside every span
    assert (inner["stages"], inner["tasks"], inner["failed_tasks"]) == (1, 5, 1)
    assert (inner["exec_cpu_s"], inner["gc_s"]) == (2.0, 0.5)
    assert (inner["shuffle_mb"], inner["spill_mb"]) == (2.0, 1.0)
    assert outer["stages"] == 0 and outer["py_worker_s"] == 1.5
    assert abs(inner["wall_s"] - 4) < 1e-6 and abs(outer["wall_s"] - 6) < 1e-6
    assert abs(inner["driver_s"] - 2) < 1e-3  # 4 s self, job 2 ran 2 s of it
    assert abs(outer["driver_s"] - 5.5) < 1e-3  # 6 s self, job 1 ran 0.5 s


def test_tracer_nests_and_wraps():
    tr = spans.Tracer(True)
    f = tr.wrap(lambda x: x + 1, lambda k: f"call{k}")
    with tr.span("outer"):
        assert f(1) == 2 and f(2) == 3
    names = [(s["name"], s["depth"]) for s in tr.spans]
    assert names == [("outer", 0), ("call0", 1), ("call1", 1)]
    off = spans.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tracer_wrap_outside_leaves_nested_calls_to_the_open_span():
    tr = spans.Tracer(True)
    dims = tr.wrap(lambda: None, "part1", outside="tagger.")
    tag = tr.wrap(lambda: dims(), "tagger.call")
    dims()
    tag()
    assert [s["name"] for s in tr.spans] == ["part1", "tagger.call"]


# --- generator truth labels --------------------------------------------------
def test_corpus_is_seeded_and_the_same_size_for_every_seed():
    a, b, c = gen.esoa_corpus(1), gen.esoa_corpus(1), gen.esoa_corpus(2)
    assert a == b
    assert [t for t, _ in a] != [t for t, _ in c]
    assert len(a) == len(c) == len({t for t, _ in a})


def test_clean_texts_carry_the_generic_and_atc_they_were_built_from():
    names = gen.synth_names()
    clean = [(t, tr) for t, tr in gen.esoa_corpus(7) if tr.kind == "clean"]
    assert len(clean) == len(names) * (gen.DOSES * gen.CLEAN_PER_DOSE + 1)
    for text, tr in clean:
        i = names.index(tr.generic)
        assert tr.atc == gen.synth_atc(i)
        assert text.upper().startswith(tr.generic + " ")


def test_every_synthetic_generic_reaches_its_atc_through_the_raw_dims():
    dims = gen.raw_dims()
    pnf_atc = {r[0]: r[2] for r in dims["pnf"][0]}
    db_atc = {r[1]: r[2] for r in dims["drugbank_atc"][0]}
    for i, name in enumerate(gen.synth_names()):
        assert pnf_atc.get(name, db_atc.get(name)) == gen.synth_atc(i)


def test_gibberish_and_parity_labels():
    from pids_drg_esoa_spark.pipelines.parity_corpus import ESOA_CASES

    corpus = dict(gen.esoa_corpus(3))
    never = [t for t, tr in corpus.items() if tr.kind == "never"]
    assert len(never) == 150 and all(t.startswith("ZZGIBBER") for t in never)
    for text, want in ESOA_CASES:
        assert corpus[text].kind == want


def test_stream_part_is_seeded_distinct_and_free_of_parity_cases():
    part = gen.stream_part(5, 50)
    assert part == gen.stream_part(5, 50)
    assert len({item for item, _, _ in part}) == len({text for _, text, _ in part}) == 50
    assert all(tr.kind in ("clean", "never", "free") for _, _, tr in part)


def test_catalog_tables_are_seeded_with_fixed_shapes():
    a, b, c = gen.catalog_tables(1), gen.catalog_tables(1), gen.catalog_tables(2)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    for name, rows in gen.CATALOG_ROWS.items():
        assert a[name].num_rows == c[name].num_rows == rows
    assert a["region"].num_rows == 5 and a["nation"].num_rows == 25
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    ts = a["events"].column("ts").to_pylist()
    assert ts == sorted(set(ts))  # distinct, increasing instants
    texts = a["documents"].column("text").to_pylist()
    assert a["documents"].column("n_chars").to_pylist() == [len(t) for t in texts]
    vecs = a["embeddings"].column("embedding").to_pylist()
    assert {len(v) for v in vecs} == {gen.EMBED_DIM}


# --- output checks -------------------------------------------------------------
def test_check_tags_and_one_row_per_input():
    truth = {
        "A 1MG TAB": gen.Truth("clean", "A", "X01"),
        "ZZGIBBERAA": gen.Truth("never"),
        "P": gen.Truth("atc"),
        "Q": gen.Truth("free"),
    }

    def row(text, generic, atc, matched):
        return {"t": text, "generic_name": generic, "atc_primary": atc, "matched": matched}

    good = [row("A 1MG TAB", "A", "X01", True), row("ZZGIBBERAA", None, None, False),
            row("P", "P", "Y02", True), row("Q", "Z", None, True)]
    assert check_tags(good, truth, "t") == []
    bad = [row("A 1MG TAB", "B", "X01", True), row("ZZGIBBERAA", "C", None, True),
           row("P", "P", None, True)]
    assert len(check_tags(bad, truth, "t")) == 3
    assert check_one_per_input(["a", "b"], ["b", "a"], "x") == []
    assert check_one_per_input(["a", "a"], ["a", "b"], "x") != []
    assert check_one_per_input(["a"], ["a", "b"], "x") != []
