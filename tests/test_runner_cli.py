"""4-part runner + CLI end-to-end tests on reference-shaped fixtures."""

from __future__ import annotations

import pytest

from pids_drg_esoa_spark.pipelines.runner import run_drugs_all


@pytest.fixture(scope="module")
def flow_inputs(spark):
    return {
        "pnf": spark.createDataFrame(
            [("PARACETAMOL", "Oral:", "N02BE01", "500 mg tablet")],
            "`Molecule` string, `Route` string, `ATC Code` string, `Technical Specifications` string",
        ),
        "drugbank_generics": spark.createDataFrame(
            [("DB00316", "Paracetamol"), ("DB01060", "Amoxicillin")],
            "drugbank_id string, generic_name string",
        ),
        "drugbank_atc": spark.createDataFrame(
            [("DB00316", "PARACETAMOL", "N02BE01")],
            "drugbank_id string, generic_name string, atc_code string",
        ),
        "drugbank_brands": spark.createDataFrame(
            [("BIOGESIC", "PARACETAMOL", "DB00316")],
            "brand_name string, generic_name string, drugbank_id string",
        ),
        "fda_brands": spark.createDataFrame(
            [("TEMPRA", "PARACETAMOL")], "brand_name string, generic_name string"
        ),
        "who_atc": spark.createDataFrame(
            [("N02BE01", "PARACETAMOL"), ("J01CA04", "AMOXICILLIN")],
            "atc_code string, atc_name string",
        ),
        "mixtures": spark.createDataFrame(
            [("DBMIX01", "Amoxicillin + Clavulanic acid", "amoxicillin + clavulanic acid")],
            "drugbank_id string, mixture_name string, component_generics string",
        ),
        "annex_f": spark.createDataFrame(
            [
                # plain-text descriptions — the real Annex F shape
                # (the pipe dose format is Part 2's own intermediate)
                ("D001", "PARACETAMOL 500 mg TABLET"),
                ("D002", "AMOXICILLIN 250 mg CAPSULE"),
            ],
            "drug_code string, drug_description string",
        ),
        "esoa": spark.createDataFrame(
            [
                ("PARACETAMOL 500MG TAB",),
                ("BIOGESIC 500 MG TABLET",),
                ("TEMPRA 500 MG TAB",),
                ("AMOXICILLIN 500MG CAP",),   # dose mismatch vs annex 250
                ("MYSTERY TONIC",),
            ],
            "raw_text string",
        ),
    }


def test_run_drugs_all_flow(spark, flow_inputs, tmp_path):
    res = run_drugs_all(
        spark, flow_inputs, metrics_path=str(tmp_path / "metrics_history")
    )
    # Part 2: both annex rows tagged with ATC
    annex = {r.drug_code: r for r in res.annex_with_atc.collect()}
    assert annex["D001"].atc_primary == "N02BE01"
    assert annex["D002"].generic_name == "AMOXICILLIN"

    # Part 3 coverage: 4 of 5 texts tagged
    assert res.coverage["esoa_total"] == 5
    assert res.coverage["esoa_atc"] == 4

    # Part 4: paracetamol variants matched; amoxicillin dose-mismatch
    bridged = {r.raw_text: r for r in res.esoa_with_drug_code.collect()}
    assert bridged["PARACETAMOL 500MG TAB"].drug_code == "D001"
    assert bridged["BIOGESIC 500 MG TABLET"].drug_code == "D001"
    assert bridged["AMOXICILLIN 500MG CAP"].match_reason == "no_perfect_match:dose_mismatch"
    # the reference's Part 4 looks up even unmatched rows' stripped-
    # token names ('MYSTERY|TONIC') and labels them generic_not_in_
    # annex; no_generic is reserved for rows where even the token
    # extraction came up empty (diff-adjudicated)
    assert bridged["MYSTERY TONIC"].match_reason == "generic_not_in_annex"
    assert res.coverage["esoa_drug_code"] == 3

    # summary text has the reference's section shape
    assert "eSOA → Drug Code: 3" in res.summary_md
    assert "dose_mismatch: 1" in res.summary_md

    # metrics history appended
    hist = spark.read.parquet(str(tmp_path / "metrics_history"))
    assert hist.count() == 1


def test_cli_end_to_end(spark, tmp_path, flow_inputs):
    """Drive the labs pipeline through the CLI surface (module main)."""
    import os

    from pids_drg_esoa_spark import cli

    base = tmp_path / "inputs" / "laboratory_and_diagnostic"
    base.mkdir(parents=True)
    esoa = spark.createDataFrame(
        [("101", "LaboratoryAndDiagnostic", "URINALYSIS")],
        "ITEM_NUMBER string, ITEM_REF_CODE string, DESCRIPTION string",
    )
    master = spark.createDataFrame(
        [("L2", "Urinalysis", "Y")], "ITEM_NUMBER string, DESCRIPTION string, IS_OFFICIAL string"
    )
    diag = spark.createDataFrame(
        [("D9", "chest x ray", "r", "s", "", "")],
        "code string, desc string, cat string, spec string, etc string, misc string",
    )
    for name, df in [("esoa", esoa), ("labs_master", master), ("diagnostics", diag)]:
        df.write.parquet(str(base / f"{name}.parquet"))

    rc = cli.main(
        [
            "--item-ref-code", "LaboratoryAndDiagnostic",
            "--inputs-dir", str(tmp_path / "inputs"),
            "--output-dir", str(tmp_path / "out"),
        ]
    )
    assert rc == 0
    out = spark.read.parquet(
        os.path.join(str(tmp_path / "out"), "laboratory_and_diagnostic", "esoa_matched_labs")
    )
    row = out.collect()[0]
    assert row.match_source == "labs_master"


def test_cli_rejects_unknown_item_ref_code_before_spark(tmp_path, monkeypatch, capsys):
    """An unknown --item-ref-code is an argparse error (exit 2) that
    lists the known codes; no Spark session is started for it."""
    from pids_drg_esoa_spark import cli

    def no_spark(*a, **k):
        raise AssertionError("Spark started for an unknown item-ref-code")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        cli.main([
            "--item-ref-code", "NoSuchCode",
            "--inputs-dir", str(tmp_path), "--output-dir", str(tmp_path),
        ])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "DrugsAndMedicine" in err and "LaboratoryAndDiagnostic" in err


def test_reference_shaped_synonyms_input(spark, flow_inputs):
    """The runner accepts the reference's unified_synonyms shape
    (pipe-joined synonyms column, build_unified_reference.py:296-306)
    and explodes it to rows before seeding the tagger."""
    inputs = dict(flow_inputs)
    inputs["synonyms"] = spark.createDataFrame(
        [("DB00316", "PARACETAMOL", "ACETAMINOPHEN|TYLENOL COMPOUND")],
        "drugbank_id string, generic_name string, synonyms string",
    )
    inputs["esoa"] = spark.createDataFrame(
        [("ACETAMINOPHEN 500MG TABLET",)], "raw_text string"
    )
    res = run_drugs_all(spark, inputs)
    row = res.esoa_with_atc.collect()[0]
    assert row["generic_name"] == "PARACETAMOL"


def _sorted_rows(df):
    return sorted(repr(r) for r in df.collect())


def test_concurrent_runner_matches_sequential_flow(spark, flow_inputs, monkeypatch):
    """run_drugs_all tags the Annex F and eSOA texts in one call, joins
    each Part's rows back to that leaf concurrently and applies the food
    fallback to the eSOA side only. The sequential flow composed from the
    public functions (tag Annex, tag eSOA and merge it back with food,
    bridge) gives the same rows, columns, coverage and reason counts. One
    description is in both inputs, stays unmatched and hits the food
    registry: its Annex row carries no food label. The unified builders
    read the PNF as a leaf (parsed once, not once per branch)."""
    from pyspark.sql import functions as F

    from pids_drg_esoa_spark.pipelines import drugs, runner
    from pids_drg_esoa_spark.plans.bridge import bridge_metrics, bridge_to_drug_codes
    from pids_drg_esoa_spark.plans.tagger import tag_descriptions
    from pids_drg_esoa_spark.sources.readers import with_input_position

    food_text = "ENERGY BISCUIT"
    i = dict(
        flow_inputs,
        fda_food=spark.createDataFrame(
            [(food_text, "fda_food_product", "R-001")],
            "food_name string, food_type string, registration string",
        ),
        annex_f=flow_inputs["annex_f"].unionByName(
            spark.createDataFrame([("D003", food_text)], "drug_code string, drug_description string")
        ),
        esoa=flow_inputs["esoa"].unionByName(
            spark.createDataFrame([(food_text,)], "raw_text string")
        ),
    )
    pnf_seen = []
    for name in ("build_unified_generics", "build_unified_atc"):
        def spy(*args, _real=getattr(runner, name), **kwargs):
            pnf_seen.append(args[2])
            return _real(*args, **kwargs)

        monkeypatch.setattr(runner, name, spy)
    res = runner.run_drugs_all(spark, i)
    assert len(pnf_seen) == 2
    for pnf in pnf_seen:
        assert pnf._jdf.queryExecution().optimizedPlan().children().size() == 0

    # the sequential flow: tag Annex, then tag eSOA, then bridge
    pnf = drugs.prepare_pnf(i["pnf"])
    dims = dict(
        generics_dim=drugs.build_unified_generics(i["drugbank_generics"], i["who_atc"], pnf),
        atc_dim=runner.flag_combination_atc(drugs.build_unified_atc(
            i["drugbank_atc"], i["who_atc"], pnf, drugbank_generics=i["drugbank_generics"])),
        brands_dim=drugs.build_unified_brands(
            i["fda_brands"], i["drugbank_brands"], drugbank_generics=i["drugbank_generics"]),
        mixtures_dim=drugs.build_unified_mixtures(i["mixtures"]).selectExpr(
            "component_key", "mixture_name", "drugbank_id"),
    )
    annex_src = with_input_position(i["annex_f"], "annex_order")
    annex = runner.fill_untaggable(tag_descriptions(
        annex_src.select(F.col("drug_description").alias("raw_text")), **dims
    ).join(
        annex_src.select("drug_code", F.col("drug_description").alias("raw_text"),
                         "annex_order"),
        "raw_text", "right",
    ))
    esoa = runner.merge_tagged(
        i["esoa"], tag_descriptions(i["esoa"], **dims), fda_food_dim=i["fda_food"]
    )
    bridged = i["esoa"].select("raw_text").join(
        bridge_to_drug_codes(esoa.dropDuplicates(["raw_text"]), annex), "raw_text", "left"
    )

    for got, want in ((res.annex_with_atc, annex), (res.esoa_with_atc, esoa),
                      (res.esoa_with_drug_code, bridged)):
        assert got.columns == want.columns
        assert _sorted_rows(got) == _sorted_rows(want)

    food_rows = {
        part: df.filter(F.col("raw_text") == food_text).collect()
        for part, df in (("annex", res.annex_with_atc), ("esoa", res.esoa_with_atc))
    }
    assert "food_match" not in res.annex_with_atc.columns
    assert [(r.matched, r.match_reason) for r in food_rows["annex"]] == [
        (False, "no_candidates")
    ]
    assert [(r.match_reason, r.food_match) for r in food_rows["esoa"]] == [
        ("fda_food_product", "fda_food_product")
    ]

    def n_where(df, cond):
        return df.filter(cond).count()

    def coarse(df):
        out: dict[str, int] = {}
        for r in df.select("matched", "match_reason").collect():
            if r.match_reason is not None:
                key = "matched" if r.matched else r.match_reason
                out[key] = out.get(key, 0) + 1
        return out

    assert res.coverage == {
        "annex_total": annex.count(),
        "annex_atc": n_where(annex, F.col("atc_primary").isNotNull()),
        "annex_drugbank": n_where(annex, F.col("drugbank_id").isNotNull()),
        "esoa_total": esoa.count(),
        "esoa_atc": n_where(esoa, F.col("atc_primary").isNotNull()),
        "esoa_drugbank": n_where(esoa, F.col("drugbank_id").isNotNull()),
        "esoa_drug_code": n_where(bridged, F.col("match_reason") == "matched_perfect"),
    }
    assert res.reason_counts == {
        "annex_f": coarse(annex),
        "esoa": coarse(esoa),
        "esoa_to_drug_code": {
            r.match_reason: r.n for r in bridge_metrics(bridged).collect()
            if r.match_reason is not None
        },
    }


def test_run_releases_the_tagger_intermediates(spark, flow_inputs, monkeypatch):
    """run_drugs_all reads the tag pass through its eager leaf, so once
    it returns none of the tagger's persisted intermediates is still
    cached, and neither are the tag leaf and the two Part-4 sides, which
    only the run's later leaves read: repeated runs in one session do
    not pile them up."""
    from pids_drg_esoa_spark.pipelines import runner

    def spying(name):
        calls = []

        def spy(*args, _real=getattr(runner, name), **kwargs):
            calls.append(_real(*args, **kwargs))
            return calls[-1]

        monkeypatch.setattr(runner, name, spy)
        return calls

    plans, annex_sides, esoa_sides = (
        spying(n) for n in ("tag_descriptions", "annex_bridge_side", "esoa_bridge_side")
    )
    leaves = {}
    frame_type = type(spark.range(1))

    def local_checkpoint(self, *args, _real=frame_type.localCheckpoint, **kwargs):
        leaves[id(self)] = _real(self, *args, **kwargs)
        return leaves[id(self)]

    monkeypatch.setattr(frame_type, "localCheckpoint", local_checkpoint)
    runner.run_drugs_all(spark, flow_inputs)
    (tagged,) = plans
    assert tagged.persisted_intermediates
    still_cached = [
        df for df in tagged.persisted_intermediates
        if df.storageLevel.useMemory or df.storageLevel.useDisk
    ]
    assert still_cached == []

    def rdd_id(leaf):
        return leaf._jdf.queryExecution().analyzed().rdd().id()

    released = [rdd_id(leaves[id(tagged)]), rdd_id(*annex_sides), rdd_id(*esoa_sides)]
    persistent = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert persistent.isdisjoint(released)


def test_run_jobs_carry_the_callers_job_group(spark, flow_inputs):
    """Every job run_drugs_all submits, from any of its driver threads
    (Part threads, dim materialization, dict collects, background
    counts), is in the job group the caller set."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1], 1).count()
        for _ in range(300):  # the status store is fed asynchronously
            ids = tracker.getJobIdsForGroup(group)
            if ids:
                return max(ids)
            time.sleep(0.1)
        raise AssertionError(f"marker job of {group} never reached the status store")

    try:
        first = marker_job("runner-group-before")
        sc.setJobGroup("runner-group-run", "run_drugs_all")
        run_drugs_all(spark, flow_inputs)
        last = marker_job("runner-group-after")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    run_jobs = set(range(first + 1, last))
    assert run_jobs
    assert run_jobs - set(tracker.getJobIdsForGroup("runner-group-run")) == set()


def test_cli_curate_from_jsonl(spark, tmp_path):
    """`cli curate`: JSONL corpus in (one malformed line quarantined),
    per-operator parquet artifacts out."""
    import json
    import os

    from pids_drg_esoa_spark import cli

    src = tmp_path / "corpus"
    src.mkdir()
    lines = [
        json.dumps(
            {"doc_id": i, "text": f"alpha beta gamma delta doc {i} text body here",
             "lang": "en", "source": "s", "n_chars": 40}
        )
        for i in range(8)
    ]
    lines.insert(3, "THIS IS NOT JSON")
    (src / "documents.jsonl").write_text("\n".join(lines) + "\n")

    rc = cli.main(
        ["curate", "--inputs-dir", str(src), "--output-dir", str(tmp_path / "out"),
         "--artifacts", "quality,repetition,span_dup,pii,rare_tokens"]
    )
    assert rc == 0
    for name in ("quality", "repetition", "span_dup", "pii", "rare_tokens"):
        df = spark.read.parquet(os.path.join(str(tmp_path / "out"), name))
        assert df.count() == 8, name
    rep = spark.read.parquet(os.path.join(str(tmp_path / "out"), "repetition"))
    assert "top_2gram_frac_micros" in rep.columns

    # the CLI runs the CLEAN cores on the raw corpus — none of the
    # oracle-only planted signal (synthetic PII, boilerplate footer,
    # rareword tokens) may leak into the user's artifacts
    pii = spark.read.parquet(os.path.join(str(tmp_path / "out"), "pii")).collect()
    assert all(r["n_emails"] == 0 and r["n_phones"] == 0 and r["n_ips"] == 0 for r in pii)
    assert all("example.com" not in r["redacted"] for r in pii)
    span = spark.read.parquet(os.path.join(str(tmp_path / "out"), "span_dup")).collect()
    assert all(r["n_dup_windows"] == 0 for r in span)  # corpus has no real dup spans
    rare = spark.read.parquet(os.path.join(str(tmp_path / "out"), "rare_tokens")).collect()
    # every doc: 9 organic tokens, exactly one hapax (its doc number)
    assert all(r["n_tokens"] == 9 and r["n_hapax"] == 1 for r in rare)


def test_cli_drugs_all(spark, tmp_path, flow_inputs):
    """`cli drugs-all`: the reference's run_drugs_all.py entry point —
    Parts 1-4 from a table directory to parquet artifacts + summary."""
    import os

    from pids_drg_esoa_spark import cli

    src = tmp_path / "tables"
    src.mkdir()
    for stem, df in flow_inputs.items():
        df.write.parquet(str(src / f"{stem}.parquet"))

    rc = cli.main(
        ["drugs-all", "--inputs-dir", str(src), "--output-dir", str(tmp_path / "out")]
    )
    assert rc == 0
    bridged = {
        r.raw_text: r
        for r in spark.read.parquet(str(tmp_path / "out" / "esoa_with_drug_code")).collect()
    }
    assert bridged["PARACETAMOL 500MG TAB"].drug_code == "D001"
    summary = (tmp_path / "out" / "run_summary.md").read_text()
    assert "eSOA → Drug Code: 3" in summary
    hist = spark.read.parquet(str(tmp_path / "out" / "metrics_history"))
    assert hist.count() == 1
