"""Drugs pipeline tests: unified reference build semantics (anti-join
merge, first-wins brands, mixture keys), PNF prep derivations, and the
end-to-end Part-1→Part-3 flow on FIXTURES.md-shaped inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pids_drg_esoa_spark.pipelines.base import PipelineContext, get_pipeline
from pids_drg_esoa_spark.pipelines.drugs import (
    build_unified_brands,
    build_unified_generics,
    build_unified_mixtures,
    prepare_pnf,
)


@pytest.fixture(scope="module")
def inputs(spark):
    return {
        "pnf": spark.createDataFrame(
            [
                ("AMLODIPINE ( as BESILATE)", "Oral:", "C08CA01", "5 mg tablet"),
                ("PARACETAMOL", "Inj.:", "N02BE01", "150 mg/mL ampule"),
                ("SODIUM CHLORIDE", "IV:", "B05XA03", "0.9% solution"),
            ],
            "`Molecule` string, `Route` string, `ATC Code` string, `Technical Specifications` string",
        ).withColumnRenamed("Molecule", "Molecule"),
        "drugbank_generics": spark.createDataFrame(
            [("DB00316", "Paracetamol"), ("DB00381", "Amlodipine")],
            "drugbank_id string, generic_name string",
        ),
        "who_atc": spark.createDataFrame(
            [("N02BE01", "PARACETAMOL"), ("R03AC02", "SALBUTAMOL")],
            "atc_code string, atc_name string",
        ),
        "drugbank_atc": spark.createDataFrame(
            [("DB00316", "PARACETAMOL", "N02BE01"), ("DB00381", "AMLODIPINE", "C08CA01")],
            "drugbank_id string, generic_name string, atc_code string",
        ),
        "fda_brands": spark.createDataFrame(
            [("BIOGESIC", "PARACETAMOL"), ("AMBIGUOUS", "ZZZ GENERIC")],
            "brand_name string, generic_name string",
        ),
        "drugbank_brands": spark.createDataFrame(
            [("AMBIGUOUS", "AAA GENERIC", "DB99999")],
            "brand_name string, generic_name string, drugbank_id string",
        ),
        "mixtures": spark.createDataFrame(
            [("DBMIX01", "Amoxicillin + Clavulanic acid", "clavulanic acid + amoxicillin")],
            "drugbank_id string, mixture_name string, component_generics string",
        ),
        "esoa": spark.createDataFrame(
            [
                ("PARACETAMOL 500MG TAB",),
                ("BIOGESIC TABLET",),
                ("SALBUTAMOL NEBULE",),   # only in WHO
                ("UNKNOWN STUFF",),
            ],
            "raw_text string",
        ),
    }


def test_unified_generics_anti_join_merge(spark, inputs):
    pnf_prepared = prepare_pnf(inputs["pnf"])
    g = build_unified_generics(inputs["drugbank_generics"], inputs["who_atc"], pnf_prepared)
    rows = {r.name_key: r for r in g.collect()}
    assert rows["paracetamol"].source == "drugbank"  # spine wins
    assert rows["paracetamol"].drugbank_id == "DB00316"
    assert rows["salbutamol"].source == "who"  # added (absent in spine)
    # reference F6 semantics (round 7): the PNF block consumes the
    # generic_NORMALIZED (F6 base) like build_unified_reference.py:
    # 196-202 — 'SODIUM CHLORIDE' contributes base 'SODIUM'
    # (text_utils.extract_base_and_salts: CHLORIDE is a salt word,
    # SODIUM is a special cation that stays a base)
    assert rows["sodium"].source == "pnf"  # added last
    # the RAW molecule joins too, as 'pnf_raw' (reference
    # build_unified_reference.py:246-263 — round-7 Part-1 addition)
    assert rows["sodium chloride"].source == "pnf_raw"
    assert rows["sodium chloride"].drugbank_id is None
    assert rows["amlodipine"].source == "drugbank"


def test_unified_brands_first_wins_deterministic(spark, inputs):
    b = build_unified_brands(inputs["fda_brands"], inputs["drugbank_brands"])
    rows = {r.brand_name: r for r in b.collect()}
    # FDA beats drugbank for the shared brand — the reference concats
    # [fda, drugbank] and keeps the FIRST row per brand (round-7
    # Part-1 differential fix; previously inverted here)
    assert rows["AMBIGUOUS"].generic_name == "ZZZ GENERIC"
    assert rows["AMBIGUOUS"].source == "fda"
    assert rows["BIOGESIC"].generic_name == "PARACETAMOL"


def test_unified_mixtures_key_is_order_insensitive(spark, inputs):
    m = build_unified_mixtures(inputs["mixtures"])
    row = m.collect()[0]
    assert row.component_key == "amoxicillin|clavulanic acid"
    assert row.component_count == 2


def test_prepare_pnf_derivations(spark, inputs):
    p = prepare_pnf(inputs["pnf"])
    rows = p.collect()
    # reference column contract (prepare.py:64-74): generic_name is
    # the RAW molecule uppercased, generic_normalized the F6 base
    amlo = [r for r in rows if r.generic_normalized == "AMLODIPINE"]
    assert len(amlo) == 1 and amlo[0].route == "oral"
    assert amlo[0].generic_name == "AMLODIPINE ( AS BESILATE)"
    assert amlo[0].salt_form == "BESILATE"
    assert amlo[0].generic_id == "amlodipine"
    assert amlo[0].strength_mg == 5.0
    # pure-compound split is the reference's own F6 behavior: base
    # keeps the special cation, the anion becomes the salt_form
    nacl = [r for r in rows if r.generic_name == "SODIUM CHLORIDE"]
    assert nacl and nacl[0].generic_normalized == "SODIUM"
    assert nacl[0].salt_form == "CHLORIDE"
    # Inj.: expands to the parenteral family (one row per route)
    para_routes = {r.route for r in rows if r.generic_normalized == "PARACETAMOL"}
    assert para_routes == {"intravenous", "intramuscular", "subcutaneous"}
    para = [r for r in rows if r.generic_normalized == "PARACETAMOL"][0]
    assert para.ratio_mg_per_ml == 150.0


def test_drugs_pipeline_end_to_end(spark, inputs):
    pipe = get_pipeline("DrugsAndMedicine")
    ctx = PipelineContext(spark=spark, inputs=dict(inputs))
    pipe.run(ctx)
    out = {r.raw_text: r for r in ctx.artifacts["esoa_with_atc"].collect()}
    assert out["PARACETAMOL 500MG TAB"].match_reason == "exact"
    assert out["PARACETAMOL 500MG TAB"].atc_primary == "N02BE01"
    assert out["BIOGESIC TABLET"].generic_name == "PARACETAMOL"
    assert out["SALBUTAMOL NEBULE"].generic_name == "SALBUTAMOL"
    assert not out["UNKNOWN STUFF"].matched
    m = ctx.artifacts["metrics"].collect()[0]
    assert (m.n_total, m.n_matched) == (4, 3)


def test_prepare_pnf_first_present_spec_column_only(spark):
    # prepare.py:95-96 — _tech is text_cols[0].fillna(''), NOT a per-row
    # coalesce: a null 'Technical Specifications' cell must NOT fall
    # back to 'Specs' even when that column is present (ADVICE r8)
    pnf = spark.createDataFrame(
        [("IBUPROFEN", "Oral:", "M01AE01", None, "200 mg tablet")],
        "`Molecule` string, `Route` string, `ATC Code` string, "
        "`Technical Specifications` string, `Specs` string",
    )
    row = prepare_pnf(pnf).collect()[0]
    assert row.strength_mg is None  # 'Specs' ignored
    assert row.form is None


def test_flag_combination_atc_null_code_is_false(spark):
    # reference is_combination_atc(None) → False; rlike alone yields
    # NULL which would sort ahead of non-combos in W2 (ADVICE r8)
    from pids_drg_esoa_spark.pipelines.runner import flag_combination_atc

    atc = spark.createDataFrame(
        [("PARACETAMOL", None), ("COAMOXICLAV", "J01CR02"), ("X", "M03BX55")],
        "generic_name string, atc_code string",
    )
    got = {r.generic_name: r.is_combination_atc for r in flag_combination_atc(atc).collect()}
    assert got == {"PARACETAMOL": False, "COAMOXICLAV": True, "X": False}


def test_prepare_pnf_r10_fuzz_pins(spark):
    """Pins the three round-10 Part-1 fuzz finds
    (scripts/fuzz_part1_vs_reference.py vs the live prepare.py):
    (1) atc_code is clean_atc = NBSP+trim only, NEVER uppercased;
    (2) dose parses from normalize_text(generic_normalized+' '+spec)
        — '1,000 mg' reads '000 mg' → 0.0, not comma-decimal 1.0;
        the molecule contributes only its F6 BASE, so a dose-shaped
        molecule tail ('10% SOLUTION') does NOT parse when the spec
        is empty;
    (3) blank-Molecule rows are dropped (prepare.py:124-125)."""
    from pids_drg_esoa_spark.pipelines.drugs import prepare_pnf

    pnf = spark.createDataFrame(
        [
            ("KETOXETINE", "Oral:", " n02be01 ", "1,000 mg sachet"),
            ("DEXAPINE 10% SOLUTION", "IV:", "B05XA99", None),
            ("", "Oral:", "Z99ZZ01", "500 mg tablet"),
        ],
        ["Molecule", "Route", "ATC Code", "Technical Specifications"],
    )
    rows = {r.raw_molecule: r for r in prepare_pnf(pnf).collect()}
    assert set(rows) == {"KETOXETINE", "DEXAPINE 10% SOLUTION"}  # blank dropped
    k = rows["KETOXETINE"]
    assert k.atc_code == "n02be01"  # trimmed, NOT uppercased
    assert k.strength == 0.0 and k.unit == "mg"  # '1 000 mg' → 000
    d = rows["DEXAPINE 10% SOLUTION"]
    # parse src is the F6 base 'DEXAPINE' + '' → no dose at all
    assert d.dose.pct is None and d.dose.kind is None
