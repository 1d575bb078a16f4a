"""Dose parsing & comparison — native Catalyst tier with Python twins.

Reference parity targets:
- parse_dose (F9, dose.py:10-100,138-189): the reference collects
  matches from its full pattern bank and picks ratio-per-mL/L first,
  then the first bare amount, then percent, then a boundary-free
  ratio fallback; packs are unmasked first ("10 x 500 mg" → 500 mg);
  L→mL ×1000 on the per-side. Its per-unit-NOUN patterns are dead
  code (see parse_dose docstring) — "mg/tab" is an AMOUNT.
- to_mg (F10, dose.py:103-126): mass-unit factors.
- safe_ratio_mg_per_ml (F11, dose.py:129-135).
- dose_similarity (F12, dose.py:200-259): exact-after-conversion
  equality with isclose(rel 1e-12, abs 1e-9).
- normalize_dose_ratio / weight (F16, tokenizer.py:758-853):
  "500MG/5ML" → "100MG/ML", "1G" → "1000MG" canonical strings.

The dose value is a first-class StructType column — the reference
passes dicts in object columns (SURVEY §1.2).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


# Reference regex bank, verbatim semantics (dose.py:10-26). The
# reference also defines per-unit-NOUN ratio patterns (mg/tab,
# mg per 2 caps) but they are unreachable: any noun-ratio text also
# contains a bare-amount match, and the ratio branch only accepts
# per_unit ml/l — so "500 mg/tab" parses as AMOUNT 500 mg
# (dose.py:60-88). Units are exactly mg|g|mcg|ug|iu; decimals accept
# ',' and are normalized to '.' (dose.py:58).
_NUM = r"(\d+(?:[.,]\d+)?)"
_PACK_PAT = rf"\b(\d+)\s*(?:x|×)\s*{_NUM}\s*(mg|g|mcg|ug|iu)\b"
_AMOUNT_PAT = rf"{_NUM}\s?(mg|g|mcg|ug|iu)\b"
_RATIO_PAT = rf"{_NUM}\s?(mg|g|mcg|ug|iu)\s?(?:/| per )\s?(?:{_NUM}\s*)?(ml|l)\b"
_PCT_PAT = rf"{_NUM}\s?%(?:\s?(?:w/v|w/w))?"
# Fallback ratio with no trailing word boundary (dose.py:11) — catches
# "5mg/5mls" where the main ratio pattern's (ml|l)\b fails.
_EXTRA_PAT = rf"{_NUM}\s?(mg|g|mcg|ug)\s*/\s?{_NUM}\s?(ml|l)"

_PACK_SUB = re.compile(_PACK_PAT, re.I)
_AMOUNT_SEARCH = re.compile(_AMOUNT_PAT, re.I)
_RATIO_SEARCH = re.compile(_RATIO_PAT, re.I)
_PCT_SEARCH = re.compile(_PCT_PAT, re.I)
_EXTRA_SEARCH = re.compile(_EXTRA_PAT, re.I)

DOSE_STRUCT_FIELDS = "kind string, strength double, unit string, per_val double, per_unit string, pct double"


@dataclass
class Dose:
    kind: str | None = None
    strength: float | None = None
    unit: str | None = None
    per_val: float | None = None
    per_unit: str | None = None
    pct: float | None = None


def parse_dose_py(text: str | None) -> Dose:
    """Python twin of parse_dose — the reference's
    parse_dose_struct_from_text exactly (dose.py:49-100): unmask packs
    ("10 x 500 mg" → "500mg"), then ratio-per-mL/L (first match) >
    amount (first match) > percent > the boundary-free extra-ratio
    fallback. Units kept as written (lowercased, no canon); L → mL
    (×1000 into per_val). One deliberate improvement: the extra-ratio
    branch converts ',' decimals where the reference raises
    ValueError (dose.py:94, unreachable in its pipeline)."""
    if not isinstance(text, str) or not text:
        return Dose()
    s = _PACK_SUB.sub(lambda m: f"{m.group(2)}{m.group(3)}", text)
    m = _RATIO_SEARCH.search(s)
    if m:
        strength = float(m.group(1).replace(",", "."))
        per_val = float(m.group(3).replace(",", ".")) if m.group(3) else 1.0
        per_unit = m.group(4).lower()
        if per_unit == "l":
            per_val, per_unit = per_val * 1000.0, "ml"
        return Dose("ratio", strength, m.group(2).lower(), per_val, per_unit, None)
    m = _AMOUNT_SEARCH.search(s)
    if m:
        return Dose(
            "amount", float(m.group(1).replace(",", ".")), m.group(2).lower(), None, None, None
        )
    m = _PCT_SEARCH.search(s)
    if m:
        return Dose("percent", None, None, None, None, float(m.group(1).replace(",", ".")))
    m = _EXTRA_SEARCH.search(s)
    if m:
        den = float(m.group(3).replace(",", "."))
        if m.group(4).lower() == "l":
            den *= 1000.0
        return Dose(
            "ratio", float(m.group(1).replace(",", ".")), m.group(2).lower(), den, "ml", None
        )
    return Dose()


def _num(col: Column) -> Column:
    """Comma-decimal string → double ('' → NULL)."""
    return F.when(col == "", F.lit(None).cast("double")).otherwise(
        F.regexp_replace(col, ",", ".").cast("double")
    )


def parse_dose(col: Column | str) -> Column:
    """Native dose parser → struct(kind, strength, unit, per_val,
    per_unit, pct). Same regex bank and priority as the Python twin
    (reference dose.py:49-100); all whole-stage-codegen. Patterns run
    case-insensitively ('(?i)') and units are lowercased on output,
    exactly like the reference's re.I + .lower()."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, "(?i)" + _PACK_PAT, "$2$3")

    r_str = F.regexp_extract(s, "(?i)" + _RATIO_PAT, 1)
    r_unit = F.lower(F.regexp_extract(s, "(?i)" + _RATIO_PAT, 2))
    r_pval = F.regexp_extract(s, "(?i)" + _RATIO_PAT, 3)
    r_punit = F.lower(F.regexp_extract(s, "(?i)" + _RATIO_PAT, 4))
    a_str = F.regexp_extract(s, "(?i)" + _AMOUNT_PAT, 1)
    a_unit = F.lower(F.regexp_extract(s, "(?i)" + _AMOUNT_PAT, 2))
    p_str = F.regexp_extract(s, "(?i)" + _PCT_PAT, 1)
    e_str = F.regexp_extract(s, "(?i)" + _EXTRA_PAT, 1)
    e_unit = F.lower(F.regexp_extract(s, "(?i)" + _EXTRA_PAT, 2))
    e_den = F.regexp_extract(s, "(?i)" + _EXTRA_PAT, 3)
    e_dunit = F.lower(F.regexp_extract(s, "(?i)" + _EXTRA_PAT, 4))

    has_ratio = r_str != ""
    has_amount = a_str != ""
    has_pct = p_str != ""
    has_extra = e_str != ""

    r_per_val_raw = F.coalesce(_num(r_pval), F.lit(1.0))
    r_per_val = F.when(r_punit == "l", r_per_val_raw * 1000.0).otherwise(r_per_val_raw)
    e_per_val = F.when(e_dunit == "l", _num(e_den) * 1000.0).otherwise(_num(e_den))

    kind = (
        F.when(has_ratio, "ratio")
        .when(has_amount, "amount")
        .when(has_pct, "percent")
        .when(has_extra, "ratio")
        .otherwise(F.lit(None).cast("string"))
    )
    strength = (
        F.when(has_ratio, _num(r_str))
        .when(has_amount, _num(a_str))
        .when(has_pct, F.lit(None).cast("double"))
        .when(has_extra, _num(e_str))
        .otherwise(F.lit(None).cast("double"))
    )
    unit = (
        F.when(has_ratio, r_unit)
        .when(has_amount, a_unit)
        .when(has_pct, F.lit(None).cast("string"))
        .when(has_extra, e_unit)
        .otherwise(F.lit(None).cast("string"))
    )
    per_val = (
        F.when(has_ratio, r_per_val)
        .when(has_amount | has_pct, F.lit(None).cast("double"))
        .when(has_extra, e_per_val)
        .otherwise(F.lit(None).cast("double"))
    )
    per_unit = (
        F.when(has_ratio | (~has_amount & ~has_pct & has_extra), F.lit("ml"))
        .otherwise(F.lit(None).cast("string"))
    )
    return F.struct(
        kind.alias("kind"),
        strength.alias("strength"),
        unit.alias("unit"),
        per_val.alias("per_val"),
        per_unit.alias("per_unit"),
        F.when(~has_ratio & ~has_amount & has_pct, _num(p_str))
        .otherwise(F.lit(None).cast("double"))
        .alias("pct"),
    )


def to_mg(strength: Column, unit: Column) -> Column:
    """F10 (reference dose.py:103-114): mg passthrough, g ×1000,
    mcg/ug ÷1000 — NULL for everything else (iu, kg, meq… are NOT
    convertible in the reference). Division for mcg/ug mirrors the
    reference's float op so values hash-match bit-for-bit."""
    u = F.lower(unit)
    return (
        F.when(u == "mg", strength.cast("double"))
        .when(u == "g", strength * 1000.0)
        .when(u.isin("mcg", "ug"), strength / 1000.0)
        .otherwise(F.lit(None).cast("double"))
    )


def to_mg_py(strength: float | None, unit: str | None) -> float | None:
    """Python twin of to_mg (reference dose.py:103-114)."""
    if strength is None or not isinstance(unit, str):
        return None
    u = unit.lower()
    if u == "mg":
        return strength
    if u == "g":
        return strength * 1000.0
    if u in ("mcg", "ug"):
        return strength / 1000.0
    return None


def ratio_mg_per_ml(strength_mg: Column, per_val: Column) -> Column:
    """F11: mg ÷ per_val with null/zero guards."""
    return F.when(
        strength_mg.isNull() | per_val.isNull() | (per_val == 0), F.lit(None).cast("double")
    ).otherwise(strength_mg / per_val)


def _isclose(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)


def dose_similarity_py(a: Dose, b: Dose) -> float:
    """F12: 1.0 iff equal after unit conversion, else 0.0.
    amounts compare in mg; ratios compare mg/ml; percents exact."""
    if a.kind is None or b.kind is None or a.kind != b.kind:
        return 0.0
    if a.kind == "amount":
        ma, mb = to_mg_py(a.strength, a.unit), to_mg_py(b.strength, b.unit)
        return 1.0 if ma is not None and mb is not None and _isclose(ma, mb) else 0.0
    if a.kind == "ratio":
        ma, mb = to_mg_py(a.strength, a.unit), to_mg_py(b.strength, b.unit)
        if ma is None or mb is None or not a.per_val or not b.per_val:
            return 0.0
        return 1.0 if _isclose(ma / a.per_val, mb / b.per_val) else 0.0
    if a.kind == "percent":
        return 1.0 if a.pct is not None and b.pct is not None and _isclose(a.pct, b.pct) else 0.0
    return 0.0


# F12 modified-release equivalence band (reference dose.py:28-36):
# trimetazidine MR capsules marketed at 55-90 mg correspond to the
# 35 mg base strength in the PNF.
_SPECIAL_AMOUNT_EQUIVALENCE: dict[str, tuple[float, float, float]] = {
    "trimetazidine": (35.0, 55.0, 90.0),  # (target_mg, min_mg, max_mg)
}


def _isclose_col(a: Column, b: Column) -> Column:
    """Column twin of math.isclose(rel_tol=1e-12, abs_tol=1e-9)."""
    return F.abs(a - b) <= F.greatest(
        1e-12 * F.greatest(F.abs(a), F.abs(b)), F.lit(1e-9)
    )


def dose_similarity(
    d: Column,
    pnf_dose_kind: Column,
    pnf_strength_mg: Column,
    pnf_ratio_mg_per_ml: Column,
    pnf_pct: Column,
    pnf_generic_id: Column,
) -> Column:
    """F12 native tier (reference dose.py:200-259): 1.0 iff the parsed
    eSOA dose ``d`` (parse_dose struct) equals the PNF row's dose after
    unit conversion, else 0.0.

    - amounts compare in mg vs ``strength_mg`` with NO pnf dose_kind
      gate (the reference compares strength_mg even when the PNF row
      parsed to no kind or another kind — dose.py:209-219,
      fuzz-pinned); the
      trimetazidine MR band (PNF 35 mg base ∧ eSOA 55-90 mg ∧
      amount-kind PNF row) also scores 1.0;
    - ratios require PNF dose_kind='ratio' and equal mg/mL;
    - percents require PNF dose_kind='percent' and exact pct.
    All comparisons via isclose(rel 1e-12, abs 1e-9); whole-stage
    codegen (no UDF)."""
    mg_esoa = to_mg(d["strength"], d["unit"])
    gid = F.lower(F.trim(pnf_generic_id))
    special = F.lit(False)
    for name, (target, lo, hi) in _SPECIAL_AMOUNT_EQUIVALENCE.items():
        special = special | (
            (gid == name)
            & (pnf_dose_kind == "amount")
            & _isclose_col(pnf_strength_mg, F.lit(target))
            & (mg_esoa >= lo)
            & (mg_esoa <= hi)
        )
    amount_sim = F.when(
        mg_esoa.isNull() | pnf_strength_mg.isNull(), 0.0
    ).when(_isclose_col(mg_esoa, pnf_strength_mg) | special, 1.0).otherwise(0.0)

    # per_val 0.0 must fall back to 1.0 exactly like the twin's
    # `(d.per_val or 1.0)` — coalesce alone passes 0 through and a
    # '/0 ml' dose string would DIVIDE_BY_ZERO under ANSI mode
    per_val_safe = F.when(
        d["per_val"].isNull() | (d["per_val"] == 0), F.lit(1.0)
    ).otherwise(d["per_val"])
    ratio_esoa = mg_esoa / per_val_safe
    ratio_sim = F.when(
        pnf_dose_kind.isNull()
        | (pnf_dose_kind != "ratio")
        | mg_esoa.isNull()
        | pnf_ratio_mg_per_ml.isNull()
        | (pnf_ratio_mg_per_ml == 0),
        0.0,
    ).when(_isclose_col(ratio_esoa, pnf_ratio_mg_per_ml), 1.0).otherwise(0.0)

    pct_sim = F.when(
        pnf_dose_kind.isNull()
        | (pnf_dose_kind != "percent")
        | d["pct"].isNull()
        | pnf_pct.isNull(),
        0.0,
    ).when(_isclose_col(d["pct"], pnf_pct), 1.0).otherwise(0.0)

    return (
        F.when(d["kind"].isNull(), 0.0)
        .when(d["kind"] == "amount", amount_sim)
        .when(d["kind"] == "ratio", ratio_sim)
        .when(d["kind"] == "percent", pct_sim)
        .otherwise(0.0)
    )


def dose_similarity_pnf_py(
    d: Dose,
    pnf_dose_kind: str | None,
    pnf_strength_mg: float | None,
    pnf_ratio_mg_per_ml: float | None,
    pnf_pct: float | None,
    pnf_generic_id: str | None,
) -> float:
    """Python twin of dose_similarity (the reference's actual
    signature: parsed eSOA dose vs a PNF row). The amount branch has
    NO pnf_dose_kind gate — reference dose.py:209-219 compares
    strength_mg unconditionally (fuzz_dose_vs_reference.py pins it)."""
    if d.kind is None:
        return 0.0
    if d.kind == "amount":
        mg = to_mg_py(d.strength, d.unit)
        if mg is None or pnf_strength_mg is None:
            return 0.0
        if _isclose(mg, pnf_strength_mg):
            return 1.0
        special = _SPECIAL_AMOUNT_EQUIVALENCE.get((pnf_generic_id or "").strip().lower())
        if special and pnf_dose_kind == "amount":
            target, lo, hi = special
            if _isclose(pnf_strength_mg, target) and lo <= mg <= hi:
                return 1.0
        return 0.0
    if d.kind == "ratio":
        if pnf_dose_kind != "ratio":
            return 0.0
        mg = to_mg_py(d.strength, d.unit)
        if mg is None or not pnf_ratio_mg_per_ml:
            return 0.0
        return 1.0 if _isclose(mg / (d.per_val or 1.0), pnf_ratio_mg_per_ml) else 0.0
    if d.kind == "percent":
        if pnf_dose_kind != "percent" or d.pct is None or pnf_pct is None:
            return 0.0
        return 1.0 if _isclose(d.pct, pnf_pct) else 0.0
    return 0.0


def normalize_dose_string(col: Column | str) -> Column:
    """F16: canonical dose string — amounts as mg ('1 g' → '1000MG'),
    ratios reduced to per-1-mL ('500mg/5ml' → '100MG/ML'). Non-doses
    → NULL. format_number-free: integral values print without '.0'."""
    d = parse_dose(col)
    mg = to_mg(d["strength"], d["unit"])

    def fmt(x: Column) -> Column:
        as_long = x.cast("long")
        return F.when(x == as_long.cast("double"), as_long.cast("string")).otherwise(
            x.cast("string")
        )

    per_ml = ratio_mg_per_ml(mg, d["per_val"])
    return (
        F.when((d["kind"] == "amount") & mg.isNotNull(), F.concat(fmt(mg), F.lit("MG")))
        .when(
            (d["kind"] == "ratio") & per_ml.isNotNull(),
            F.concat(fmt(per_ml), F.lit("MG/"), F.upper(d["per_unit"])),
        )
        .when(d["kind"] == "percent", F.concat(fmt(d["pct"]), F.lit("%")))
        .otherwise(F.lit(None).cast("string"))
    )
