"""Tagger plan tests on reference-shaped unified dims (FIXTURES.md
§4-§8): exact / synonym / brand / fuzzy / mixture tiers, ATC
preference, best-candidate selection, reason labels."""

from __future__ import annotations

import pandas as pd
import pytest

from pids_drg_esoa_spark.plans.tagger import tag_descriptions


@pytest.fixture(scope="module")
def dims(spark):
    generics = spark.createDataFrame(
        [
            ("PARACETAMOL", "DB00316"),
            ("AMOXICILLIN", "DB01060"),
            ("CLAVULANIC ACID", "DB00766"),
            ("SALBUTAMOL", "DB01001"),
            ("SODIUM CHLORIDE", "DB09153"),
            ("AMLODIPINE", "DB00381"),
        ],
        "generic_name string, drugbank_id string",
    )
    atc = spark.createDataFrame(
        [
            ("PARACETAMOL", "N02BE01", False),
            ("PARACETAMOL", "N02BE51", True),  # combination ATC sorts last
            ("AMOXICILLIN", "J01CA04", False),
            ("SALBUTAMOL", "R03AC02", False),
            ("SODIUM CHLORIDE", "B05XA03", False),
            ("AMLODIPINE", "C08CA01", False),
            ("AMOXICILLIN + CLAVULANIC ACID", "J01CR02", True),
        ],
        "generic_name string, atc_code string, is_combination_atc boolean",
    )
    synonyms = spark.createDataFrame(
        [("ACETAMINOPHEN", "PARACETAMOL")],
        "synonym string, generic_name string",
    )
    brands = spark.createDataFrame(
        [("BIOGESIC", "PARACETAMOL")],
        "brand_name string, generic_name string",
    )
    mixtures = spark.createDataFrame(
        [("amoxicillin|clavulanic acid", "AMOXICILLIN + CLAVULANIC ACID", "DBMIX01")],
        "component_key string, mixture_name string, drugbank_id string",
    )
    return dict(
        generics_dim=generics, atc_dim=atc, synonyms_dim=synonyms,
        brands_dim=brands, mixtures_dim=mixtures,
    )


def _tag(spark, dims, texts):
    esoa = spark.createDataFrame([(t,) for t in texts], "raw_text string")
    rows = tag_descriptions(esoa, **dims).collect()
    return {r.raw_text: r for r in rows}


def test_tiers_and_selection(spark, dims):
    out = _tag(
        spark,
        dims,
        [
            "PARACETAMOL 500MG TAB (OP)",
            "BIOGESIC 500 MG TABLET",
            "ACETAMINOPHEN 500MG TABLET",
            "PARACETMOL 500MG TAB",  # typo → fuzzy (ratio ≥ 85)
            "AMOXICILLIN + CLAVULANIC ACID 625MG TAB",
            "AMLODIPINE ( as BESILATE) 5MG TAB",
            "COMPLETELY UNKNOWN COMPOUND 10MG",
        ],
    )
    exact = out["PARACETAMOL 500MG TAB (OP)"]
    assert (exact.generic_name, exact.match_reason) == ("PARACETAMOL", "exact")
    assert exact.drugbank_id == "DB00316"
    # W2: non-combination ATC preferred as primary, combo sorts last
    assert exact.atc_primary == "N02BE01"
    assert exact.atc_codes == "N02BE01|N02BE51"

    brand = out["BIOGESIC 500 MG TABLET"]
    # brand swap happens BEFORE lookup (tagger.py:624-631) — the
    # swapped token exact-hits the dim, so the tier label is 'exact'
    assert (brand.generic_name, brand.match_reason) == ("PARACETAMOL", "exact")

    syn = out["ACETAMINOPHEN 500MG TABLET"]
    assert (syn.generic_name, syn.match_reason) == ("PARACETAMOL", "synonym")

    fuzzy = out["PARACETMOL 500MG TAB"]
    assert (fuzzy.generic_name, fuzzy.match_reason) == ("PARACETAMOL", "fuzzy")

    mix = out["AMOXICILLIN + CLAVULANIC ACID 625MG TAB"]
    assert mix.generic_name == "AMOXICILLIN + CLAVULANIC ACID"
    assert mix.match_reason == "combination_key"
    assert mix.drugbank_id == "DBMIX01"
    # r9: mixture-SOURCED matches carry NO ATC — the reference's
    # mixture fallback builds its result dict straight from the
    # mixtures table (tagger.py:991-1014), which has no atc_code;
    # probe-verified on the reversed-order combination. The old
    # expectation (name-joined J01CR02) was an engine invention.
    assert mix.atc_primary is None

    salt = out["AMLODIPINE ( as BESILATE) 5MG TAB"]
    assert (salt.generic_name, salt.match_reason) == ("AMLODIPINE", "exact")

    missing = out["COMPLETELY UNKNOWN COMPOUND 10MG"]
    assert not missing.matched
    # reference vocabulary: no candidates at all → 'no_candidates',
    # with the word-granular stripped tokens as the display name
    assert missing.match_reason == "no_candidates"
    assert missing.generic_name == "COMPLETELY|UNKNOWN|COMPOUND"


def test_combination_without_mixture_no_match(spark, dims):
    """The reference NEVER synthesizes a combination name from
    individually-matched tokens: with no mixture dim and no
    combination-named unified row, scoring skips every single-name
    candidate (is_combination gate) and the row is no_match with
    generic_name None (diff-adjudicated, scripts/diff_reference.py)."""
    dims2 = dict(dims, mixtures_dim=None)
    out = _tag(spark, dims2, ["AMOXICILLIN + CLAVULANIC ACID 625MG TAB"])
    row = out["AMOXICILLIN + CLAVULANIC ACID 625MG TAB"]
    assert not row.matched
    assert row.generic_name is None
    assert row.match_reason == "no_match"


def test_iv_fluid_compound_salt(spark, dims):
    """'SODIUM + CHLORIDE' stays two salt tokens in the LIVE
    reference (both strip to nothing → unmatched; the legacy merge
    lives only in debug/old_files) — diff-adjudicated."""
    out = _tag(spark, dims, ["SODIUM + CHLORIDE INJECTION"])
    row = out["SODIUM + CHLORIDE INJECTION"]
    assert not row.matched
    assert row.generic_name is None or "+" not in (row.generic_name or "")


def test_dedup_by_text_single_row_per_text(spark, dims):
    esoa = spark.createDataFrame(
        [("PARACETAMOL 500MG TAB",)] * 5, "raw_text string"
    )
    rows = tag_descriptions(esoa, **dims).collect()
    assert len(rows) == 1


def test_prefix_tier_salt_suffixed_dim(spark, dims):
    """lookup.py:287-295: token 'cefuroxime' must reach dim
    'CEFUROXIME AXETIL' via the prefix tier (fuzzy ratio ~78 < 85
    would miss it); ADVICE r1."""
    generics = spark.createDataFrame(
        [("CEFUROXIME AXETIL", "DB01112"), ("PARACETAMOL", "DB00316")],
        "generic_name string, drugbank_id string",
    )
    dims2 = dict(dims, generics_dim=generics)
    out = _tag(spark, dims2, ["CEFUROXIME 500MG TAB"])
    row = out["CEFUROXIME 500MG TAB"]
    assert (row.generic_name, row.match_reason) == ("CEFUROXIME AXETIL", "prefix")


def test_fuzzy_leading_char_typo(spark, dims):
    """Leading-character typo ('setirizine'→'CETIRIZINE', ratio 90)
    must survive blocking — the reference's rapidfuzz scan is
    unblocked; ADVICE r1."""
    generics = spark.createDataFrame(
        [("CETIRIZINE", "DB00341")], "generic_name string, drugbank_id string"
    )
    dims2 = dict(dims, generics_dim=generics, mixtures_dim=None)
    out = _tag(spark, dims2, ["SETIRIZINE 10MG TAB"])
    row = out["SETIRIZINE 10MG TAB"]
    assert (row.generic_name, row.match_reason) == ("CETIRIZINE", "fuzzy")


def test_combination_gate_counts_distinct_components(spark, dims):
    """A component matching 2 dim rows must not offset a component
    matching 0: no synthesized combination unless EVERY component has
    a hit (tagger.py:707-834; ADVICE r1 high)."""
    generics = spark.createDataFrame(
        # PARACETAMOL twice (distinct drugbank ids) — many-to-many tier
        [("PARACETAMOL", "DB00316"), ("PARACETAMOL", "DB99999")],
        "generic_name string, drugbank_id string",
    )
    dims2 = dict(dims, generics_dim=generics, mixtures_dim=None)
    out = _tag(spark, dims2, ["PARACETAMOL + UNKNOWNCOMPOUNDXYZ 500MG"])
    row = out["PARACETAMOL + UNKNOWNCOMPOUNDXYZ 500MG"]
    assert not (row.match_reason or "").startswith("combination_tokens:")


def test_vaccine_override_and_input_class(spark, dims):
    out = _tag(
        spark,
        dims,
        [
            "MMR VACCINE 0.5ML",
            "5% DEXTROSE IN 0.9% SODIUM CHLORIDE 1 L BOTTLE",
            "PARACETAMOL 500MG TAB",
        ],
    )
    vax = out["MMR VACCINE 0.5ML"]
    # no vaccine dim rows → the LIVE reference leaves the row
    # UNMATCHED (no_candidates) with the canonical name as the
    # stripped-token display (diff-adjudicated)
    assert not vax.matched
    assert vax.generic_name == "MMR VACCINE"

    iv = out["5% DEXTROSE IN 0.9% SODIUM CHLORIDE 1 L BOTTLE"]
    assert iv.input_class == "iv_solution"

    single = out["PARACETAMOL 500MG TAB"]
    assert single.input_class == "single"
    assert single.match_reason == "exact"


def test_native_form_parse_parity(spark):
    """parse_form_col must agree with parse_form_py."""
    from pyspark.sql import functions as F

    from pids_drg_esoa_spark.functions.routes_forms import parse_form_col, parse_form_py

    texts = [
        "PARACETAMOL 500MG TABLET", "AMOXICILLIN SUSP 250MG/5ML",
        "SALBUTAMOL NEBULE", "NO FORM HERE", "HYDROCORTISONE CREAM 1%",
        "CEFTRIAXONE VIAL", "IBUPROFEN CAPLET", "X SYRUP 60ML", "",
        "MULTICAP TABLETS",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string").withColumn(
        "native", parse_form_col(F.col("t"))
    )
    for row in df.collect():
        assert row.native == parse_form_py(row.t), row.t


def test_w1_atc_priority_combo_input(spark, dims):
    """scoring.py:312-319 — a combination input prefers the candidate
    whose preferred ATC is a combination ATC, even when the
    alternative sorts earlier lexically / equal length."""
    # two combination-NAMED unified rows both reachable via the
    # combo-key variants (original + reversed order, F30): only the
    # combo-ATC candidate should win a combination input
    generics = spark.createDataFrame(
        [("AAA + BBB", "DBX1"), ("BBB + AAA", "DBX2")],
        "generic_name string, drugbank_id string",
    )
    atc = spark.createDataFrame(
        [
            ("AAA + BBB", "C09AA01", False),   # non-combo ATC, earlier name
            ("BBB + AAA", "C09DA01", True),    # combo ATC, later name
        ],
        "generic_name string, atc_code string, is_combination_atc boolean",
    )
    d = dict(dims)
    d["generics_dim"] = generics
    d["atc_dim"] = atc
    d["mixtures_dim"] = None
    d["synonyms_dim"] = None
    d["brands_dim"] = None
    out = _tag(spark, d, ["AAA + BBB 10MG"])
    row = out["AAA + BBB 10MG"]
    # without atc_priority the lexically-earlier AAA + BBB would win
    assert row.generic_name == "BBB + AAA"
    assert row.drugbank_id == "DBX2"


def test_w1_details_score_release_preference(spark, dims):
    """scoring.py:331-376 — the candidate whose name carries the
    input's release modifier wins the tie."""
    generics = spark.createDataFrame(
        [("NIFEDIPINE GITS A", "DB1"), ("NIFEDIPINE MR AA", "DB2")],
        "generic_name string, drugbank_id string",
    )
    d = dict(dims)
    d["generics_dim"] = generics
    d["synonyms_dim"] = None
    d["brands_dim"] = None
    d["mixtures_dim"] = None
    # the MR-AA candidate wins (release-detail preference); the OUTPUT
    # name is the extract's cleaned input name because 'MR' also flags
    # the vaccine override (reference result assembly, tagger.py:
    # 963-971 — diff-adjudicated: the reference outputs 'NIFEDIPINE'
    # here too, with the winning candidate's ids)
    out = _tag(spark, d, ["NIFEDIPINE 30 MG MR TABLET"])
    row = out["NIFEDIPINE 30 MG MR TABLET"]
    assert (row.generic_name, row.drugbank_id) == ("NIFEDIPINE", "DB2")


def test_native_singularize_parity(spark):
    from pyspark.sql import functions as F

    from pids_drg_esoa_spark.functions.tokens import singularize_py
    from pids_drg_esoa_spark.plans.tagger import _singular_key

    words = ["tablets", "berries", "boxes", "doses", "glass", "vitamins b",
             "amoxicillins", "s", "es", "ies", "classes", "gas", "x y z"]
    df = spark.createDataFrame([(w,) for w in words], "key string").withColumn(
        "native", _singular_key(F.col("key"))
    )
    for row in df.collect():
        parts = row.key.split(" ")
        expected = " ".join([singularize_py(parts[0]).lower()] + parts[1:])
        assert row.native == expected, (row.key, row.native, expected)


def test_singular_retry_tier(spark, dims):
    # 'PARACETAMOLS 500MG TAB' — plural token misses exact, retries
    # singular (F29) and lands on PARACETAMOL
    out = _tag(spark, dims, ["PARACETAMOLS 500MG TAB"])
    row = out["PARACETAMOLS 500MG TAB"]
    assert (row.generic_name, row.match_reason) == ("PARACETAMOL", "singular")


def test_regional_canonical_names(spark, dims):
    """US names map to PH/WHO canonical in outputs (F29-adjacent,
    unified_constants.py:1716-1734)."""
    generics = spark.createDataFrame(
        [("ACETAMINOPHEN", "DB00316"), ("ALBUTEROL", "DB01001")],
        "generic_name string, drugbank_id string",
    )
    d = dict(dims)
    d["generics_dim"] = generics
    d["synonyms_dim"] = None
    d["brands_dim"] = None
    d["mixtures_dim"] = None
    out = _tag(spark, d, ["ACETAMINOPHEN 500MG TAB", "ALBUTEROL NEBULE"])
    assert out["ACETAMINOPHEN 500MG TAB"].generic_name == "PARACETAMOL"
    assert out["ALBUTEROL NEBULE"].generic_name == "SALBUTAMOL"


@pytest.fixture(scope="module")
def fda_food(spark):
    return spark.createDataFrame(
        [
            ("ENERGY BISCUIT", "fda_food_product", "R-001"),
            ("KOOLAID", "fda_food_brand", "R-002"),
        ],
        "food_name string, food_type string, registration string",
    )


def test_fda_food_disambiguation(spark, dims, fda_food):
    """Unmatched texts that hit the FDA food registry are labeled food
    (runners.py:1428-1496), not 'unmatched'; matched drugs unaffected.
    The fallback is part of Part 3's merge-back."""
    from pids_drg_esoa_spark.pipelines.runner import merge_tagged

    esoa = spark.createDataFrame(
        [(t,) for t in
         ("ENERGY BISCUIT", "CHOCO KOOLAID DRINK", "PARACETAMOL 500MG TAB", "TRULY UNKNOWN")],
        "raw_text string",
    )
    out = {
        r.raw_text: r
        for r in merge_tagged(
            esoa, tag_descriptions(esoa, **dims), fda_food_dim=fda_food
        ).collect()
    }
    assert out["ENERGY BISCUIT"].match_reason == "fda_food_product"
    assert out["CHOCO KOOLAID DRINK"].match_reason == "fda_food_brand_partial"
    assert out["PARACETAMOL 500MG TAB"].match_reason == "exact"
    assert out["TRULY UNKNOWN"].match_reason == "no_candidates"


def test_fda_food_fallback_evaluates_validate_once(spark, dims, fda_food):
    """The food fallback reads the tagged relation once: its lookups run
    on the distinct texts, so the F33 validate crossing appears once in
    the optimized plan of Part 3's merge-back, as it does without the
    food dim."""
    from pids_drg_esoa_spark.pipelines.runner import merge_tagged

    esoa = spark.createDataFrame(
        [("ENERGY BISCUIT",), ("CHOCO KOOLAID DRINK",), ("PARACETAMOL 500MG TAB",)],
        "raw_text string",
    )

    def n_validate(tagged):
        return tagged._jdf.queryExecution().optimizedPlan().toString().count("_validate(")

    tagged = tag_descriptions(esoa, **dims)
    assert n_validate(merge_tagged(esoa, tagged)) == 1
    assert n_validate(merge_tagged(esoa, tagged, fda_food_dim=fda_food)) == 1


# ---------------------------------------------------------------------------
# F33 admission gate (round 4 wiring): generics_match validates every
# non-mixture candidate, match_priority derives from the reason map
# (scoring.py:234-273,303-310), IV vehicle-only candidates are skipped
# (scoring.py:249-266).
# ---------------------------------------------------------------------------


def test_f33_combination_gate_drops_single_candidates(spark, dims):
    """A combination input ('+' and ≥2 normalized generics) admits only
    combination-named candidates (scoring.py:268-271): the matched
    single component must NOT leak through as the winner."""
    out = _tag(spark, dims, ["PARACETAMOL + UNKNOWNCOMPOUNDXYZ 500MG"])
    row = out["PARACETAMOL + UNKNOWNCOMPOUNDXYZ 500MG"]
    assert not row.matched and row.generic_name is None


def test_f33_iv_active_beats_vehicle_and_synthesized(spark, dims):
    """IV solution 'ACTIVE IN VEHICLE': the active ingredient wins
    (gm exact, priority 0) over the synthesized combination (combo_match,
    priority 1); the vehicle-only candidate is skipped."""
    generics = spark.createDataFrame(
        [("DEXTROSE", "DB09341"), ("SODIUM CHLORIDE", "DB09153")],
        "generic_name string, drugbank_id string",
    )
    d = dict(dims, generics_dim=generics, mixtures_dim=None)
    out = _tag(spark, d, ["DEXTROSE IN SODIUM CHLORIDE SOLUTION 1 L"])
    row = out["DEXTROSE IN SODIUM CHLORIDE SOLUTION 1 L"]
    assert row.generic_name == "DEXTROSE"
    assert row.gm_reason == "exact"


def test_f33_iv_vehicle_only_unmatched(spark, dims):
    """IV solution whose active is unknown: the vehicle match is
    inadmissible (scoring.py:249-266) — no candidate survives."""
    out = _tag(spark, dims, ["UNKNOWNACTIVEX IN SODIUM CHLORIDE SOLUTION"])
    row = out["UNKNOWNACTIVEX IN SODIUM CHLORIDE SOLUTION"]
    assert not row.matched and row.generic_name is None


def test_f33_gate_rejects_wrong_prefix_sibling(spark, dims):
    """The round-2/3 gap made concrete: 'ISOSORBIDE DINITRATE 10MG'
    token-keys as 'isosorbide' (the native salt-strip has no multiword
    guard), so the prefix tier surfaces BOTH dinitrate and mononitrate
    dims. The guarded input set is {ISOSORBIDE DINITRATE}
    (tagger.py:303-307), generics_match rejects the mononitrate sibling
    (no_match), and the dinitrate candidate wins as 'exact' — under the
    old tier constants both were priority 3 and the atc tie-break
    picked MONONITRATE (A01 < C01)."""
    generics = spark.createDataFrame(
        [("ISOSORBIDE DINITRATE", "DB00883"), ("ISOSORBIDE MONONITRATE", "DB01020")],
        "generic_name string, drugbank_id string",
    )
    atc = spark.createDataFrame(
        [
            ("ISOSORBIDE MONONITRATE", "A01AA01", False),
            ("ISOSORBIDE DINITRATE", "C01DA08", False),
        ],
        "generic_name string, atc_code string, is_combination_atc boolean",
    )
    d = dict(dims, generics_dim=generics, atc_dim=atc, mixtures_dim=None, brands_dim=None)
    out = _tag(spark, d, ["ISOSORBIDE DINITRATE 10MG"])
    row = out["ISOSORBIDE DINITRATE 10MG"]
    assert (row.generic_name, row.gm_reason) == ("ISOSORBIDE DINITRATE", "exact")
    assert row.atc_primary == "C01DA08"


def test_f33_priority_derived_not_tier(spark, dims):
    """match_priority column now carries the generics_match-derived
    value: a brand-tier hit whose post-swap input set equals the
    candidate is priority 0 ('exact'), not the old tier constant 2."""
    out = _tag(spark, dims, ["BIOGESIC 500 MG TABLET"])
    row = out["BIOGESIC 500 MG TABLET"]
    assert (row.match_priority, row.gm_reason) == (0, "exact")


def test_form_priority_reference_constant(spark, dims):
    """scoring.py:321-329 + tagger.py:847-856: the reference's tagger
    candidates NEVER carry a form (form=None ⇒ '' ⇒ forms_are_
    equivalent('', f) is True), so form_priority is a constant per doc
    — it must not reorder candidates. Two same-length prefix siblings
    with an input form present resolve purely on the later W1 keys
    (details_score here), proving form never broke the tie."""
    generics = spark.createDataFrame(
        [("NIFEDIPINE GITS A", "DB1"), ("NIFEDIPINE MR AA", "DB2")],
        "generic_name string, drugbank_id string",
    )
    d = dict(dims, generics_dim=generics, synonyms_dim=None, brands_dim=None,
             mixtures_dim=None)
    # 'TABLET' gives the doc an input form; the MR release detail is
    # the deciding key exactly as in the reference (output name is the
    # cleaned input via the MR vaccine-acronym override; the candidate
    # ids prove the winner)
    out = _tag(spark, d, ["NIFEDIPINE 30 MG MR TABLET"])
    row = out["NIFEDIPINE 30 MG MR TABLET"]
    assert (row.generic_name, row.drugbank_id) == ("NIFEDIPINE", "DB2")


def test_details_score_probes_reference_text(spark, dims):
    """scoring.py:331-376: the details probe targets the candidate's
    reference_text alongside its generic name. The input's alias
    parenthetical '(BIOGESIC)' appears only in BETA's dim reference
    text (alias_details −2); BETA must win over the longer-named ALPHA
    (which would take the length tie-break if reference text were
    ignored)."""
    generics = spark.createDataFrame(
        [
            ("CEFIXIME ALPHA", "DB1", None),
            ("CEFIXIME BETA", "DB2", "CEFIXIME (TERGECEF) 200 MG"),
        ],
        "generic_name string, drugbank_id string, reference_text string",
    )
    d = dict(dims, generics_dim=generics, synonyms_dim=None, brands_dim=None,
             mixtures_dim=None)
    out = _tag(spark, d, ["CEFIXIME 200 MG TABLET (TERGECEF)"])
    row = out["CEFIXIME 200 MG TABLET (TERGECEF)"]
    assert row.generic_name == "CEFIXIME BETA"
    assert row.reference_text == "CEFIXIME (TERGECEF) 200 MG"


def test_f33_regional_reverse_gate_quirk(spark, dims):
    """Faithfully reproduced reference quirk: the synonym dict seeds
    the regional→US reverse map (PARACETAMOL→ACETAMINOPHEN,
    tagger.py:211-213), so a PARACETAMOL input normalizes to
    ACETAMINOPHEN and generics_match REJECTS a suffix-named dim like
    'PARACETAMOL ALPHA' (no substring either way, scoring.py:171-180)
    — while the exact-named dim still matches 'exact' because BOTH
    sides normalize to ACETAMINOPHEN."""
    generics = spark.createDataFrame(
        [("PARACETAMOL ALPHA", "DB9")], "generic_name string, drugbank_id string"
    )
    d = dict(dims, generics_dim=generics, synonyms_dim=None, brands_dim=None,
             mixtures_dim=None)
    out = _tag(spark, d, ["PARACETAMOL 500 MG TAB"])
    assert not out["PARACETAMOL 500 MG TAB"].matched  # prefix sibling rejected


def test_combo_key_tier_reaches_combination_dim(spark, dims):
    """Reference tagger.py:654-680,728-763: combination keys ('A AND
    B', sorted/reversed variants) probe the unified dim directly. With
    both singles present, the per-token cascade exact-hits them and
    never surfaces the combination-named dim row — the combo-key tier
    must admit it, and its combination ATC beats the ATC-less
    synthesized candidate under a combination input."""
    generics = spark.createDataFrame(
        [
            ("AMOXICILLIN", "DB01060"),
            ("CLAVULANIC ACID", "DB00766"),
            ("AMOXICILLIN AND CLAVULANIC ACID", "DB99001"),  # WHO-style name
        ],
        "generic_name string, drugbank_id string",
    )
    atc = spark.createDataFrame(
        [("AMOXICILLIN AND CLAVULANIC ACID", "J01CR02", True)],
        "generic_name string, atc_code string, is_combination_atc boolean",
    )
    d = dict(dims, generics_dim=generics, atc_dim=atc, mixtures_dim=None,
             brands_dim=None, synonyms_dim=None)
    out = _tag(spark, d, ["AMOXICILLIN + CLAVULANIC ACID 625MG TAB"])
    row = out["AMOXICILLIN + CLAVULANIC ACID 625MG TAB"]
    assert row.generic_name == "AMOXICILLIN AND CLAVULANIC ACID"
    assert row.drugbank_id == "DB99001"
    assert row.atc_primary == "J01CR02"
    # r9: combo keys ride the shared tier cascade now, so the exact
    # combo hit carries the cascade's reason (was 'combo_key')
    assert row.match_reason == "exact"


def test_combo_key_fuzzy_reaches_combination_dim(spark, dims):
    """r9 probe-caught surface: the reference probes combination keys
    through the SAME exact->prefix->fuzzy cache as single tokens
    (batch_lookup_generics over unique_generics incl. combo keys), so
    a typo'd component still admits the combination-named dim row —
    the fuzzy-matched combination NAME enters the input set through
    the blind-positional fuzzy_corrections assignment
    (tagger.py:886-896) and passes the F33 whole-name path."""
    generics = spark.createDataFrame(
        [
            ("AMOXICILLIN", "DB01060"),
            ("AMOXICILLIN AND CLAVULANIC ACID", "DB99001"),
        ],
        "generic_name string, drugbank_id string",
    )
    atc = spark.createDataFrame(
        [("AMOXICILLIN AND CLAVULANIC ACID", "J01CR02", True)],
        "generic_name string, atc_code string, is_combination_atc boolean",
    )
    d = dict(dims, generics_dim=generics, atc_dim=atc, mixtures_dim=None,
             brands_dim=None, synonyms_dim=None)
    out = _tag(spark, d, ["AMOXICILLIN + CLAVULANC ACID 625MG TAB"])  # typo'd 2nd comp
    row = out["AMOXICILLIN + CLAVULANC ACID 625MG TAB"]
    assert row.matched
    assert row.generic_name == "AMOXICILLIN AND CLAVULANIC ACID"
    assert row.atc_primary == "J01CR02"


def test_fallback_corpus_golden(spark, dims):
    """A corpus whose keys reach the fallback probe (which probes each
    distinct key once and joins the hits back to the texts) next to
    keys that tier 0 resolves first. Golden values: the per-pair probe
    this shape replaced gave the same rows."""
    texts = [
        "amoxicilin 500mg cap",          # fuzzy
        "sodium chloride usp 0.9%",      # junk stripped before the probe: exact
        "amoxicillin trihydrate 250mg",  # salt stripped before the probe: exact
        "paracetamol 500mg tab",         # exact (control)
        "setirizine 10mg",               # fuzzy miss (no dim)
    ]
    tagged = tag_descriptions(
        spark.createDataFrame([(t,) for t in texts], "raw_text string"), **dims
    )
    rows = tagged.collect()
    for p in tagged.persisted_intermediates:
        p.unpersist()
    assert len(rows) == len(texts)  # one row per text: the join-back fans out nothing
    assert {r.raw_text: (r.generic_name, r.match_reason) for r in rows} == {
        "amoxicilin 500mg cap": ("AMOXICILLIN", "fuzzy"),
        "sodium chloride usp 0.9%": ("SODIUM CHLORIDE", "exact"),
        "amoxicillin trihydrate 250mg": ("AMOXICILLIN", "exact"),
        "paracetamol 500mg tab": ("PARACETAMOL", "exact"),
        "setirizine 10mg": ("SETIRIZINE", "no_candidates"),
    }


def test_fallback_probe_keeps_mixed_origin_pairs_apart(spark):
    """Keys that one text probes as a token and another as a
    combination key: the brand short-circuit and the multiword tier act
    on token-origin pairs only. So the token pair keeps its brand row
    while the combination pair still reaches the prefix tier, and only
    the token pair of a junk-bearing key gets the multiword hit."""
    from pids_drg_esoa_spark.plans.tagger import _token_matches

    keys = spark.createDataFrame(
        [
            ("t1", "sinecod forte", False), ("t2", "sinecod forte", True),
            ("t3", "sodium chloride usp", False), ("t4", "sodium chloride usp", True),
        ],
        "raw_text string, key string, is_combo boolean",
    )
    generics = spark.createDataFrame(
        [
            ("BUTAMIRATE", "DB01", None), ("SINECOD FORTE SYRUP", "DB02", None),
            ("SODIUM CHLORIDE", "DB03", None),
        ],
        "generic_name string, drugbank_id string, reference_text string",
    )
    brands = spark.createDataFrame(
        [("sinecod forte", "butamirate")], "bkey string, target_key string"
    )
    persisted = []
    rows = _token_matches(keys, generics, None, brands, persisted=persisted).collect()
    for p in persisted:
        p.unpersist()
    assert sorted((r.raw_text, r.generic_name, r.match_reason) for r in rows) == [
        ("t1", "BUTAMIRATE", "brand"),
        ("t2", "SINECOD FORTE SYRUP", "prefix"),
        ("t3", "SODIUM CHLORIDE", "multiword"),
        ("t4", "SODIUM CHLORIDE", "fuzzy"),  # ratio 88
    ]


def test_fuzzy_scores_each_distinct_key_once(spark, dims, monkeypatch):
    """The fuzzy scorer sees each distinct key once per band
    candidate, however many texts carry the key: 30 texts sharing one
    misspelt token cost the scorer what one text costs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as ST

    from pids_drg_esoa_spark.functions.fuzzy import fuzz_ratio_py
    from pids_drg_esoa_spark.plans import tagger as T

    def scored_rows(texts):
        acc = spark.sparkContext.accumulator(0)

        @F.pandas_udf(ST.DoubleType())
        def counting_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
            acc.add(len(a))
            return pd.Series([fuzz_ratio_py(x, y) for x, y in zip(a, b)])

        monkeypatch.setattr(T, "fuzz_ratio", counting_ratio.asNondeterministic())
        out = _tag(spark, dims, texts)
        assert {out[t].match_reason for t in texts} == {"fuzzy"}
        return acc.value

    one = scored_rows(["amoxicilin 500mg cap"])
    many = scored_rows([f"amoxicilin {n}mg cap" for n in range(100, 130)])
    assert 0 < one == many


def test_multiword_bare_substring_typo_combo(spark):
    """r10 (PARITY.md's one open divergence, corpus-fuzz seeds
    77/2024/99991): the reference's multiword detection is
    BARE-SUBSTRING (tokenizer.py:1174, normalize_tokens), so a typo
    that leaves the clean combination name intact as a substring
    (first letter duplicated) still exact-resolves — rescued from the
    '+'-block's combo-token removal by the PURE_SALT_COMPOUNDS re-add
    (tokenizer.py:1214-1231). A substring-breaking typo stays
    unmatched."""
    generics = spark.createDataFrame(
        [
            ("ALUMINUM HYDROXIDE + MAGNESIUM HYDROXIDE", "DB06723"),
            # the singles ride every real spine; without them the
            # PREFIX tier reaches the combo from a bare single probe
            ("ALUMINUM HYDROXIDE", "DB06724"),
            ("MAGNESIUM HYDROXIDE", "DB09104"),
        ],
        "generic_name string, drugbank_id string",
    )
    atc = spark.createDataFrame(
        [("ALUMINUM HYDROXIDE + MAGNESIUM HYDROXIDE", "A02AD01", True)],
        "generic_name string, atc_code string, is_combination_atc boolean",
    )
    d = dict(generics_dim=generics, atc_dim=atc)
    out = _tag(
        spark, d,
        [
            "AALUMINUM HYDROXIDE + MAGNESIUM HYDROXIDE 625 MG TAB",   # substring intact
            # 2nd-comp dup BREAKS the combo substring ('+ MMAGNESIUM'):
            # singles pure-salt re-add + exact-hit but the combination
            # gate rejects non-combo candidates → no_match (probed
            # against the live reference, r10)
            "ALUMINUM HYDROXIDE + MMAGNESIUM HYDROXIDE 320 MG TABLET",
            "ALUXMINUM HYDROXIDE + MAGNESIUM HYDROXIDE 625 MG TAB",   # substring broken
        ],
    )
    hit = out["AALUMINUM HYDROXIDE + MAGNESIUM HYDROXIDE 625 MG TAB"]
    assert hit.matched and hit.generic_name == "ALUMINUM HYDROXIDE + MAGNESIUM HYDROXIDE"
    assert hit.atc_primary == "A02AD01" and hit.drugbank_id == "DB06723"
    hit2 = out["ALUMINUM HYDROXIDE + MMAGNESIUM HYDROXIDE 320 MG TABLET"]
    assert not hit2.matched
    broken = out["ALUXMINUM HYDROXIDE + MAGNESIUM HYDROXIDE 625 MG TAB"]
    assert not broken.matched


def _rows(tagged):
    def freeze(v):
        return tuple(v) if isinstance(v, list) else v

    return {
        tuple(sorted((k, freeze(v)) for k, v in r.asDict().items()))
        for r in tagged.collect()
    }


def test_repeat_calls_keep_persistent_rdds_flat(spark, dims):
    """Session state is reused, not re-created: after the first call,
    repeated tag_descriptions on the same input add no cached RDDs
    (dims and docs resolve to registry leaves, the persisted tiers to
    the CacheManager's existing entries)."""
    esoa = spark.createDataFrame(
        [("biogesic 500mg tab",), ("amlodipine 10mg tab",), ("amoxicilin 500mg cap",)],
        "raw_text string",
    )
    sizes = []
    for _ in range(3):
        tag_descriptions(esoa, **dims).collect()
        sizes.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert sizes[1] <= sizes[0] and sizes[2] <= sizes[0], sizes


def test_concurrent_calls_own_their_persisted_intermediates(spark, dims):
    """Two tag_descriptions calls from two threads each return their own
    rows and their own persisted intermediates (no shared tracking
    state to mix the two lists)."""
    from concurrent.futures import ThreadPoolExecutor

    inputs = [
        ["paracetamol 500mg tab", "acetaminophen 250mg syrup", "salbutamol 2mg tab"],
        ["amlodipine 5mg tab", "sodium chloride 0.9% solution", "setirizine 10mg"],
    ]
    frames = [spark.createDataFrame([(t,) for t in ts], "raw_text string") for ts in inputs]
    with ThreadPoolExecutor(max_workers=2) as ex:
        tagged = list(ex.map(lambda e: tag_descriptions(e, **dims), frames))
    for got, esoa in zip(tagged, frames):
        alone = tag_descriptions(esoa, **dims)
        assert _rows(got) == _rows(alone)
        assert len(got.persisted_intermediates) == len(alone.persisted_intermediates)
    ids = [{id(p) for p in t.persisted_intermediates} for t in tagged]
    assert ids[0] and ids[1] and ids[0].isdisjoint(ids[1])


def test_failing_build_unpersists_its_intermediates(spark, dims, monkeypatch):
    """A build that raises after persisting releases what it cached."""
    import pids_drg_esoa_spark.plans.tagger as T

    seen = []
    persist = T._persist

    def recording_persist(df, persisted):
        seen.append(persist(df, persisted))
        return seen[-1]

    def boom(*args, **kwargs):
        raise RuntimeError("planted failure")

    monkeypatch.setattr(T, "_persist", recording_persist)
    monkeypatch.setattr(T, "w1_select_best", boom)
    esoa = spark.createDataFrame([("paracetamol 650mg tab",)], "raw_text string")
    with pytest.raises(RuntimeError, match="planted failure"):
        tag_descriptions(esoa, **dims)
    assert seen
    assert all(not df.storageLevel.useMemory and not df.storageLevel.useDisk for df in seen)


def test_tagging_is_batch_independent(spark, dims):
    """A text's tagged row depends only on the text and the dims, not on
    which other texts share its call: Annex-shaped and eSOA-shaped texts
    tagged each alone and both in one call give equal rows in every
    column. run_drugs_all tags both relations in one call on this
    ground."""
    from pyspark.sql import functions as F

    shared = "PARACETAMOL 500MG TAB"
    annex = [
        shared,
        "PARACETAMOL 500 mg TABLET",
        "AMOXICILLIN + CLAVULANIC ACID 625 mg TABLET",  # combination
        "SALBUTAMOL 2 mg/5 mL SYRUP",
        "AMLODIPINE 5 mg TABLET",
        "AMLODIPINE 5 mg TABLET",  # duplicate
        "",
        None,
    ]
    esoa = [
        shared,
        "BIOGESIC 500 MG TABLET",  # brand hit
        "PARACETMOL 500MG TAB",  # typo → fuzzy tier
        "ACETAMINOPHEN 250MG SYRUP",
        "AMOXICILLIN + CLAVULANIC ACID 625MG TAB",
        "SODIUM CHLORIDE 0.9% SOLUTION",
        "COMPLETELY UNKNOWN COMPOUND 10MG",
        "BIOGESIC 500 MG TABLET",  # duplicate
        "   ",
        None,
    ]

    def frame(texts, col):
        return spark.createDataFrame([(t,) for t in texts], f"{col} string")

    def by_text(tagged):
        rows = tagged.collect()
        out = {r.raw_text: r.asDict() for r in rows}
        assert len(out) == len(rows)
        return out

    annex_df = frame(annex, "drug_description")
    esoa_df = frame(esoa, "raw_text")
    annex_alone = by_text(tag_descriptions(annex_df, **dims, text_col="drug_description"))
    esoa_alone = by_text(tag_descriptions(esoa_df, **dims))
    both = by_text(tag_descriptions(
        annex_df.select(F.col("drug_description").alias("raw_text")).unionByName(esoa_df),
        **dims,
    ))
    assert set(both) == {t for t in annex + esoa if t and t.strip()}
    assert set(both) == set(annex_alone) | set(esoa_alone)
    for alone in (annex_alone, esoa_alone):
        assert {t: both[t] for t in alone} == alone
    # the texts reach the tiers they were chosen for
    assert both["BIOGESIC 500 MG TABLET"]["generic_name"] == "PARACETAMOL"
    assert both["PARACETMOL 500MG TAB"]["match_reason"] == "fuzzy"
    assert both["AMOXICILLIN + CLAVULANIC ACID 625MG TAB"]["match_reason"] == "combination_key"


def test_materialize_dim_passes_scans_through(spark, tmp_path):
    """A dim that is already a scan (the parquet copies
    run_drugs_all(checkpoint_dir=...) reads back) is a leaf: it is
    returned as is, with no checkpoint job."""
    from pids_drg_esoa_spark.plans.tagger import _materialize_dim

    path = str(tmp_path / "dim")
    spark.createDataFrame([("PARACETAMOL",)], "generic_name string").write.parquet(path)
    scan = spark.read.parquet(path)
    assert _materialize_dim(scan) is scan
    derived = scan.withColumn("n", scan.generic_name.substr(1, 3))
    assert _materialize_dim(derived) is not derived
