"""Part-4 bridge tests: typed dose keys (F34 full cascade), strict
dose∧form∧route compatibility, reference reason ladder, details
tie-break — on FIXTURES.md §3-shaped Annex rows."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pids_drg_esoa_spark.functions.dosekey import (
    DoseKey,
    dose_key_py,
    dose_keys_match_py,
    parse_combo_dose_py,
    parse_dose_to_mg_py,
)
from pids_drg_esoa_spark.functions.routes_forms import (
    forms_are_equivalent_py,
    parse_form_py,
    parse_route_py,
    part4_forms_compatible_py,
    part4_route_matches_py,
)
from pids_drg_esoa_spark.plans.bridge import (
    DOSE_KEY_SCHEMA,
    bridge_metrics,
    bridge_to_drug_codes,
    dose_keys_match_col,
)


# ---------------------------------------------------------------------------
# F34 dose keys — full reference cascade (runners.py:428-790)
# ---------------------------------------------------------------------------
def test_dose_key_kinds():
    assert dose_key_py("PARACETAMOL 500MG TAB") == DoseKey("mg", amount=500.0)
    k = dose_key_py("AMIODARONE 150MG/3ML")
    assert (k.kind, k.conc, k.vol, k.unit) == ("conc", 50.0, 3.0, "mg")
    assert dose_key_py("HEPARIN 5000 IU") == DoseKey("iu", amount=5000.0)
    # percent → w/v concentration (2% = 20 mg/mL)
    k = dose_key_py("MUPIROCIN 2% OINTMENT")
    assert (k.kind, k.conc, k.unit) == ("conc", 20.0, "pct")
    # combos collapse to total-mg keys (reference get_dose_key)
    assert dose_key_py("CO-AMOXICLAV 400|MG|57 TABLET") == DoseKey("mg", amount=457.0)
    assert dose_key_py("AMOX 250 mg + CLAV 125 mg") == DoseKey("mg", amount=375.0)
    assert dose_key_py("no dose").kind == "none"


def test_combo_parse():
    assert parse_combo_dose_py("500MG+125MG") == ([500.0, 125.0], 625.0, None)
    assert parse_combo_dose_py("500MG/125MG") == ([500.0, 125.0], 625.0, None)
    assert parse_combo_dose_py("250|MG|125") == ([250.0, 125.0], 375.0, None)
    # suspension: 57 before ML is the second dose, 35 is the bottle
    assert parse_combo_dose_py("400|MG|57|ML|35") == ([400.0, 57.0], 457.0, None)
    # vial size is NOT a second component
    assert parse_combo_dose_py("250|MG|1|G") == (None, None, None)
    # concentrations are not combos
    assert parse_combo_dose_py("457MG/5ML") == (None, None, None)


def test_parse_dose_cascade():
    # IU concentration and IU dose/volume
    assert parse_dose_to_mg_py("1000IU/ML") == (None, 1000.0, None, "iu")
    assert parse_dose_to_mg_py("1000IU/5ML") == (1000.0, 200.0, 5.0, "iu")
    assert parse_dose_to_mg_py("200 000 IU") == (200000.0, None, None, "iu")
    # dose/volume with separate bottle size
    assert parse_dose_to_mg_py("250MG/5ML 60ML") == (250.0, 50.0, 60.0, "mg")
    # bare number in tablet range → mg (note: this branch also wins
    # for a LEADING '9%', so the saline fix needs text before the %)
    assert parse_dose_to_mg_py("275") == (275.0, None, None, "mg")
    assert parse_dose_to_mg_py("9%") == (9.0, None, None, "mg")
    # 9% after text is always the .9% saline mis-parse
    assert parse_dose_to_mg_py("SALINE 9%") == (None, 9.0, None, "pct")
    assert parse_dose_to_mg_py("DEXTROSE 5%") == (None, 50.0, None, "pct")


def test_inference_heuristics():
    # plain NSS without % → 0.9% saline (9 mg/mL)
    k = dose_key_py("PNSS 1L")
    assert (k.kind, k.conc, k.vol, k.unit) == ("conc", 9.0, 1000.0, "pct")
    k = dose_key_py("D5 500ML", generic="DEXTROSE")
    assert (k.kind, k.conc, k.vol) == ("conc", 50.0, 500.0)
    k = dose_key_py("D10 250ML", generic="DEXTROSE")
    assert (k.kind, k.conc) == ("conc", 100.0)
    # no DEXTROSE generic context → no D5 inference
    assert dose_key_py("D5 500ML").kind == "none"


def test_iv_solution_keys():
    # F15 structured path: IV w/v key with normalized diluent class
    k = dose_key_py("5% DEXTROSE IN 0.9% SODIUM CHLORIDE 250 mL")
    assert k.kind == "iv" and k.conc == 50.0 and k.vol == 250.0
    k2 = dose_key_py("5% DEXTROSE IN LACTATED RINGER'S SOLUTION 250 ML")
    assert k2.kind == "iv" and k2.diluent != k.diluent
    assert not dose_keys_match_py(k, k2)  # diluent class differs
    assert dose_keys_match_py(k, dose_key_py("DEXTROSE 5% IN 0.9% SODIUM CHLORIDE 250ML"))


def test_dose_match_rules():
    mg = dose_key_py("500 mg tab")
    assert dose_keys_match_py(mg, dose_key_py("0.5 g tab"))  # unit conversion
    assert not dose_keys_match_py(mg, dose_key_py("250 mg tab"))
    assert dose_keys_match_py(mg, dose_key_py("505 mg tab"))  # 1% relative tol
    assert not dose_keys_match_py(mg, dose_key_py("506 mg tab"))
    # mg ↔ conc via conc·vol total
    assert dose_keys_match_py(DoseKey("mg", amount=500.0), dose_key_py("100MG/ML 5ML"))
    # conc ↔ conc ignores volume (packaging)
    assert dose_keys_match_py(dose_key_py("500mg/5ml"), dose_key_py("100 mg/ml"))
    # iu never matches mg
    assert not dose_keys_match_py(dose_key_py("1000 IU"), DoseKey("mg", amount=1000.0))
    assert not dose_keys_match_py(DoseKey("none"), mg)


def test_native_dose_match_parity(spark):
    """dose_keys_match_col must agree with dose_keys_match_py."""
    texts = [
        "PARACETAMOL 500MG TAB", "0.5 G TAB", "250 mg tab", "505 mg",
        "100MG/ML 5ML", "500mg/5ml", "100 mg/ml", "1000 IU", "1000IU/ML",
        "PNSS 1L", "D5 500ML", "5% DEXTROSE IN 0.9% SODIUM CHLORIDE 250 mL",
        "5% DEXTROSE IN WATER 250 ML", "CO-AMOXICLAV 400|MG|57 TABLET",
        "no dose", "2% OINTMENT",
    ]
    keys = [dose_key_py(t, "DEXTROSE" if "D5" in t else None) for t in texts]
    rows = [
        (
            {"kind": a.kind, "amount": a.amount, "conc": a.conc, "vol": a.vol,
             "unit": a.unit, "diluent": a.diluent},
            {"kind": b.kind, "amount": b.amount, "conc": b.conc, "vol": b.vol,
             "unit": b.unit, "diluent": b.diluent},
            dose_keys_match_py(a, b),
        )
        for a in keys
        for b in keys
    ]
    import pyspark.sql.types as T

    df = spark.createDataFrame(
        rows, T.StructType([
            T.StructField("a", DOSE_KEY_SCHEMA),
            T.StructField("b", DOSE_KEY_SCHEMA),
            T.StructField("expected", T.BooleanType()),
        ])
    )
    bad = df.filter(
        dose_keys_match_col(F.col("a"), F.col("b")) != F.col("expected")
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# F25/F27 forms & routes + Part-4 strict predicates
# ---------------------------------------------------------------------------
def test_form_route_parsing():
    assert parse_form_py("PARACETAMOL 500MG TABLET") == "tablet"
    assert parse_form_py("AMOXICILLIN SUSP 250MG/5ML") == "suspension"
    assert parse_route_py("DILTIAZEM IV INFUSION")[0] == "intravenous"
    route, evidence = parse_route_py("PARACETAMOL 500MG TABLET")
    assert route == "oral" and evidence.startswith("imputed_from_form")


def test_form_equivalence():
    # verbatim scoring.py:73-86 semantics (reference-verified truth):
    # one-directional FORM_EQUIVALENTS on canonical forms, missing=True
    assert forms_are_equivalent_py("TABLET", "CAPSULE")
    assert forms_are_equivalent_py("CAPLET", "TABLET")
    assert not forms_are_equivalent_py("SYRUP", "SUSPENSION")
    assert not forms_are_equivalent_py("TABLET", "INJECTION")
    assert not forms_are_equivalent_py("SOLUTION", "INJECTION")
    assert forms_are_equivalent_py("", "TABLET")  # missing = flexible
    assert forms_are_equivalent_py(None, None)


def test_part4_route_matches():
    assert part4_route_matches_py(None, "ORAL")  # missing = compatible
    assert part4_route_matches_py("IV", "INTRAVENOUS")
    assert part4_route_matches_py("IM", "IV")  # both parenteral
    assert not part4_route_matches_py("ORAL", "TOPICAL")
    assert not part4_route_matches_py("WEIRD", "ODD")  # unknown unequal


def test_part4_forms_compatible():
    assert part4_forms_compatible_py("TABLET", "CAPSULE")  # equivalence
    assert part4_forms_compatible_py(None, "TABLET")
    assert part4_forms_compatible_py("VIAL", "AMPULE")  # container fallback
    assert part4_forms_compatible_py("SYRUP", "SUSPENSION", "ORAL", "ORAL")
    assert not part4_forms_compatible_py("TABLET", "CREAM")


# ---------------------------------------------------------------------------
# end-to-end bridge
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def bridged(spark):
    tagged = spark.createDataFrame(
        [
            ("PARACETAMOL 500MG TAB", "PARACETAMOL", True),
            ("PARACETAMOL 250MG TABLET", "PARACETAMOL", True),
            ("PARACETAMOL TABLET", "PARACETAMOL", True),
            ("IBUPROFEN 200MG TAB", "IBUPROFEN", True),
            ("SCRIBBLE 10MG", None, False),
            ("AMOXICILLIN + CLAVULANIC ACID 400MG + 57MG TAB",
             "AMOXICILLIN + CLAVULANIC ACID", True),
            ("HYDROCORTISONE 100MG IV", "HYDROCORTISONE", True),
        ],
        "raw_text string, generic_name string, matched boolean",
    )
    annex = spark.createDataFrame(
        [
            ("D001", "PARACETAMOL 500|MG|TABLET"),
            ("D002", "PARACETAMOL 500|MG|SUSPENSION"),
            ("D003", "CO-AMOXICLAV (AMOXICILLIN + CLAVULANIC ACID) 400|MG|57 TABLET"),
            ("D004", "HYDROCORTISONE 100|MG ORAL"),
        ],
        "drug_code string, drug_description string",
    )
    out = bridge_to_drug_codes(tagged, annex)
    return {r.raw_text: r for r in out.collect()}, out


def test_bridge_reasons(bridged):
    rows, _ = bridged
    assert rows["PARACETAMOL 500MG TAB"].match_reason == "matched_perfect"
    assert rows["PARACETAMOL 500MG TAB"].drug_code == "D001"
    assert rows["PARACETAMOL 250MG TABLET"].match_reason == "no_perfect_match:dose_mismatch"
    assert rows["PARACETAMOL TABLET"].match_reason == "no_perfect_match:no_dose_in_esoa"
    assert rows["IBUPROFEN 200MG TAB"].match_reason == "generic_not_in_annex"
    assert rows["SCRIBBLE 10MG"].match_reason == "no_generic"


def test_bridge_route_mismatch(bridged):
    rows, _ = bridged
    # dose matches (100 mg), forms missing (= compatible), but the
    # eSOA route is IV while the only candidate is ORAL
    assert rows["HYDROCORTISONE 100MG IV"].match_reason == "no_perfect_match:route_mismatch"
    assert rows["HYDROCORTISONE 100MG IV"].drug_code is None


def test_bridge_combo(bridged):
    rows, _ = bridged
    combo = rows["AMOXICILLIN + CLAVULANIC ACID 400MG + 57MG TAB"]
    assert combo.match_reason == "matched_perfect"
    assert combo.drug_code == "D003"


def test_bridge_metrics(bridged):
    _, out = bridged
    hist = {r.match_reason: r.n for r in bridge_metrics(out).collect()}
    assert hist["matched_perfect"] == 2
    assert hist["no_perfect_match:dose_mismatch"] == 1
    assert hist["no_perfect_match:route_mismatch"] == 1


def test_details_tiebreak(spark):
    """Two valid candidates; the one whose description mentions the
    eSOA's release modifier wins despite a later drug_code."""
    tagged = spark.createDataFrame(
        [("NIFEDIPINE 30MG MR TABLET", "NIFEDIPINE", True)],
        "raw_text string, generic_name string, matched boolean",
    )
    annex = spark.createDataFrame(
        [
            ("D001", "NIFEDIPINE 30|MG|TABLET"),
            ("D002", "NIFEDIPINE MR 30|MG|TABLET"),
        ],
        "drug_code string, drug_description string",
    )
    row = bridge_to_drug_codes(tagged, annex).collect()[0]
    assert row.match_reason == "matched_perfect"
    assert row.drug_code == "D002"


def test_bare_number_dose_free_text():
    """Pattern 3c parity on FREE TEXT (runners.py:684-694; ADVICE r3
    medium): the reference gets '275' as an isolated dose column from
    'FLANAX 275'; our cascade works from the full text, so a standalone
    numeric token (not welded into a word, not a unit/ratio numerator)
    must key as mg instead of 'none' → the bridge stops mislabeling
    these rows no_dose_in_esoa."""
    from pids_drg_esoa_spark.functions.dosekey import dose_key_py

    assert dose_key_py("FLANAX 275") == dose_key_py("NAPROXEN 275 MG")  # mg 275
    assert dose_key_py("FLANAX 275").kind == "mg"
    assert dose_key_py("BRANDX 275 TAB").amount == 275.0
    # welded digits are NOT doses ('GEN10' is a name, not 10 mg)
    assert dose_key_py("GEN10 TABLET").kind == "none"
    # unit-bearing and ratio numbers still take their cascade branches
    assert dose_key_py("X 250MG/5ML 60ML").kind == "conc"
    assert dose_key_py("Y 500 MCG TAB").amount == 0.5
    # outside the plausible tablet range → still no dose
    assert dose_key_py("SOMETHING 20000").kind == "none"
    # isolated dose-column shape keeps the reference's exact anchor
    assert dose_key_py("275").amount == 275.0


def test_w3_tie_break_annex_insertion_order(spark):
    """W3 ties resolve by Annex INSERTION order, not drug_code — the
    reference's stable sort keeps candidate-generation order on equal
    details scores (runners.py:959-1010,1367-1371). 'Z9' precedes 'A1'
    in the Annex, so it must win the tie even though 'A1' sorts first."""
    from pids_drg_esoa_spark.plans.bridge import bridge_to_drug_codes

    tagged = spark.createDataFrame(
        [("GEN1 500 MG TABLET", "GEN1", True)],
        "raw_text string, generic_name string, matched boolean",
    )
    annex = spark.createDataFrame(
        [("Z9", "GEN1 500|MG|TABLET"), ("A1", "GEN1 500|MG|TABLET")],
        "drug_code string, drug_description string",
    )
    row = bridge_to_drug_codes(tagged, annex).collect()[0]
    assert (row.drug_code, row.match_reason) == ("Z9", "matched_perfect")

    # an explicit annex_order column overrides read order
    annex2 = spark.createDataFrame(
        [("Z9", "GEN1 500|MG|TABLET", 5), ("A1", "GEN1 500|MG|TABLET", 2)],
        "drug_code string, drug_description string, annex_order long",
    )
    row2 = bridge_to_drug_codes(tagged, annex2).collect()[0]
    assert (row2.drug_code, row2.match_reason) == ("A1", "matched_perfect")


def test_annex_order_is_independent_of_partitioning(spark):
    """``annex_order`` is the 0-based input position: the same Annex
    rows split into 1 or 4 partitions get the same values, so Part 2's
    output does not depend on the session's core count."""
    from pids_drg_esoa_spark.plans.bridge import build_annex_index

    rows = [(f"D{i}", f"GEN{i} {100 * (i + 1)} MG TABLET") for i in range(8)]

    def orders(n_partitions):
        annex = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n_partitions),
            "drug_code string, drug_description string",
        )
        return sorted({(r.drug_code, r.annex_order)
                       for r in build_annex_index(annex).collect()})

    assert orders(1) == orders(4) == [(c, i) for i, (c, _) in enumerate(rows)]


def test_w3_tie_break_component_position_first(spark):
    """Score ties spanning two eSOA components resolve by COMPONENT
    position before annex order — the reference collects candidates
    per component and its stable sort keeps that collection order
    (runners.py:1170-1190,1367-1371; r9 fuzz catch: the old global
    annex_order key picked the other component's candidate)."""
    from pids_drg_esoa_spark.plans.bridge import bridge_to_drug_codes

    tagged = spark.createDataFrame(
        [("GENA + GENB 500 MG TABLET", "GENA + GENB", True)],
        "raw_text string, generic_name string, matched boolean",
    )
    # GENB's row comes FIRST in the annex; GENA is the first component
    annex = spark.createDataFrame(
        [("B1", "GENB 500|MG|TABLET"), ("A2", "GENA 500|MG|TABLET")],
        "drug_code string, drug_description string",
    )
    row = bridge_to_drug_codes(tagged, annex).collect()[0]
    assert (row.drug_code, row.match_reason) == ("A2", "matched_perfect")


def test_w3_null_details_probe_as_nan_literal(spark):
    """A NULL eSOA detail field probes candidate descriptions as the
    literal string 'NAN' — the reference's live CSV-fed behavior
    (str(float('nan')) round-trip, runners.py:968-975; r9 fuzz catch
    on 'juNANtin'). The NAN-bearing description must win the tie."""
    from pids_drg_esoa_spark.plans.bridge import bridge_to_drug_codes

    det = (" string, ".join([
        "release_details", "type_details", "form_details",
        "indication_details", "salt_details", "brand_details",
        "alias_details", "iv_diluent_type", "iv_diluent_amount",
    ]) + " string")
    base = ("raw_text string, generic_name string, dose string, form string, "
            "route string, drug_amount_mg double, concentration_mg_per_ml double, "
            "total_volume_ml double, " + det)
    tagged = spark.createDataFrame(
        [tuple(["GENC 500 MG TABLET", "GENC", "500 MG", "TABLET", "ORAL",
                None, None, None] + [None] * 9)],
        base,
    )
    annex = spark.createDataFrame(
        [tuple(["C1", "GENC 500 MG TABLET", "GENC", "500 MG", "TABLET", "ORAL",
                None, None, None]),
         tuple(["C2", "GENC 500 MG TABLET JUNANTIN GRADE", "GENC", "500 MG",
                "TABLET", "ORAL", None, None, None])],
        "drug_code string, drug_description string, generic_name string, "
        "dose string, form string, route string, drug_amount_mg double, "
        "concentration_mg_per_ml double, total_volume_ml double",
    ).withColumn("iv_diluent_type", F.lit(None).cast("string"))
    row = bridge_to_drug_codes(tagged, annex).collect()[0]
    assert (row.drug_code, row.match_reason) == ("C2", "matched_perfect")
