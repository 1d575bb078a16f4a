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


def test_bucketed_dims_layout(spark, flow_inputs):
    """VERDICT r5 #5: ``bucketed_dims=True`` persists the Part-1 dims
    as bucketed catalog tables and the flow reads them back — same
    match decisions as the in-memory run, and an equi-join on the
    bucket key scans the bucketed layout with NO dim-side Exchange
    (the cluster-scale path for dims too big to broadcast)."""
    try:
        res = run_drugs_all(spark, flow_inputs, bucketed_dims=True)
        bridged = {r.raw_text: r for r in res.esoa_with_drug_code.collect()}
        assert bridged["PARACETAMOL 500MG TAB"].drug_code == "D001"
        assert bridged["BIOGESIC 500 MG TABLET"].drug_code == "D001"
        assert res.coverage["esoa_drug_code"] == 3

        # the dims landed as bucketed catalog tables
        desc = spark.sql("DESCRIBE EXTENDED unified_generics").collect()
        desc_map = {r.col_name: r.data_type for r in desc}
        assert desc_map.get("Num Buckets") == "16", desc_map

        # and a key-equi-join against the bucketed dim needs no
        # dim-side shuffle: exactly ONE Exchange (probe side only)
        probe = spark.createDataFrame(
            [("PARACETAMOL",), ("AMOXICILLIN",)], "generic_name string"
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = probe.join(spark.table("unified_generics"), "generic_name")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, plan
            assert plan.count("Exchange") == 1, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in ("unified_generics", "unified_atc", "unified_brands",
                  "unified_mixtures"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


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
    """run_drugs_all tags Annex F and eSOA concurrently and ends each
    Part at a checkpoint leaf. The same Parts composed one after the
    other from the public functions give the same rows, coverage and
    reason counts, and the unified builders read the PNF as a leaf
    (parsed once, not once per branch)."""
    from pyspark.sql import functions as F

    from pids_drg_esoa_spark.pipelines import drugs, runner
    from pids_drg_esoa_spark.plans.bridge import bridge_metrics, bridge_to_drug_codes
    from pids_drg_esoa_spark.plans.tagger import tag_descriptions

    pnf_seen = []
    for name in ("build_unified_generics", "build_unified_atc"):
        def spy(*args, _real=getattr(runner, name), **kwargs):
            pnf_seen.append(args[2])
            return _real(*args, **kwargs)

        monkeypatch.setattr(runner, name, spy)
    res = runner.run_drugs_all(spark, flow_inputs)
    assert len(pnf_seen) == 2
    for pnf in pnf_seen:
        assert pnf._jdf.queryExecution().optimizedPlan().children().size() == 0

    # the sequential flow: tag Annex, then tag eSOA, then bridge
    i = flow_inputs
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
    fill = {
        "matched": F.coalesce(F.col("matched"), F.lit(False)),
        "match_reason": F.coalesce(F.col("match_reason"), F.lit("no_candidates")),
    }
    annex_src = i["annex_f"].withColumn("annex_order", F.monotonically_increasing_id())
    annex = tag_descriptions(
        annex_src.select(F.col("drug_description").alias("raw_text")), **dims
    ).join(
        annex_src.select("drug_code", F.col("drug_description").alias("raw_text"),
                         "annex_order"),
        "raw_text", "right",
    ).withColumns(fill)
    esoa = i["esoa"].join(tag_descriptions(i["esoa"], **dims), "raw_text", "left") \
        .withColumns(fill)
    bridged = i["esoa"].select("raw_text").join(
        bridge_to_drug_codes(esoa.dropDuplicates(["raw_text"]), annex), "raw_text", "left"
    )

    for got, want in ((res.annex_with_atc, annex), (res.esoa_with_atc, esoa),
                      (res.esoa_with_drug_code, bridged)):
        assert got.columns == want.columns
        assert _sorted_rows(got) == _sorted_rows(want)

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
