"""Part 4: bridge tagged eSOA rows to Annex F drug codes.

Reference (runners.py:287-1425, SURVEY §3.2/§7 step 7): build a
multi-key Annex index (per component generic — J9), generate
candidates per eSOA row, evaluate strict typed compatibility
predicates (dose AND form AND route — J10, runners.py:1337-1365),
pick the best valid candidate by the details-overlap tie-break (W3,
runners.py:959-1010), and label failures with the fixed reason ladder
dose ⊳ form ⊳ route ⊳ combined (runners.py:1373-1383).

Spark-first shape:
- per-side parsing (dose key + form + route + F15 details struct) is
  ONE Arrow pandas_udf crossing per relation;
- the dose predicate is a NATIVE column expression twin of
  ``dose_keys_match_py`` (whole-stage codegen on the hot fanout);
- form/route predicates are Python only on the DISTINCT
  (form, route) × (form, route) combinations — a vocabulary-bounded
  relation joined back broadcast, so the per-candidate path stays
  JVM-side at any scale;
- selection is one map-side-combinable min_by pass, no window sort.
"""

from __future__ import annotations

from decimal import Decimal as _Decimal

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.details import (
    DETAILS_SCHEMA,
    FORM_DETAIL_ABBREVS,
    FORM_DETAIL_KEYWORDS,
    RELEASE_ABBREVS,
    RELEASE_KEYWORDS,
    extract_drug_details_py,
)
from ..functions.dosekey import dose_key_py
from ..functions.routes_forms import (
    parse_form_py,
    parse_route_py,
    part4_forms_compatible_py,
    part4_route_matches_py,
)
from ..functions.tokens import normalize_generic_combination_py

DOSE_KEY_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("conc", T.DoubleType()),
        T.StructField("vol", T.DoubleType()),
        T.StructField("unit", T.StringType()),
        T.StructField("diluent", T.StringType()),
    ]
)

PARSED_SIDE_SCHEMA = T.StructType(
    [
        T.StructField("dose", DOSE_KEY_SCHEMA),
        T.StructField("form", T.StringType()),
        T.StructField("route", T.StringType()),
        T.StructField("details", DETAILS_SCHEMA),
    ]
)


# ---------------------------------------------------------------------------
# Reference-column mode (the production shape): Part 4 consumes the
# TAGGED Part-2/Part-3 outputs — dose/form/route token columns + the
# F15 structured fields — never re-parsing raw text (runners.py:
# 1012-1094 annex candidates, 1146-1190 eSOA generics, 725-790 dose
# keys from row columns). The free-text parse path below it remains
# for dims-only callers (planted oracles).
# ---------------------------------------------------------------------------
from ..functions.constants import DRUGBANK_COMPONENT_SYNONYMS, GARBAGE_TOKENS
from ..functions.vocab_full import ALL_DRUG_SYNONYMS_FULL

_DOSE_LIKE_RE = None  # compiled lazily inside the UDF worker


def _extract_clean_generics_py(generic_str: str | None) -> list[str]:
    """F36 extract_clean_generics (runners.py:1103-1135): pipe-split,
    drop garbage tokens / short tokens / pure dose patterns / pure
    numbers, dedupe preserving order."""
    import re as _re

    if not generic_str:
        return []
    seen: set[str] = set()
    clean: list[str] = []
    for p in str(generic_str).split("|"):
        p = p.strip().upper()
        if not p or p in GARBAGE_TOKENS or p in seen or len(p) <= 2:
            continue
        if _re.match(r"^\d+(\.\d+)?\s*(MG|ML|MCG|G|IU|%|CC|L)$", p, _re.IGNORECASE):
            continue
        if p.replace(".", "").isdigit():
            continue
        seen.add(p)
        clean.append(p)
    return clean


def _extract_generics_from_description_py(desc: str | None) -> list[str]:
    """F36 fallback (runners.py:1137-1160): pull generic words straight
    from the DESCRIPTION when the tagged generic string is empty."""
    import re as _re

    if not desc:
        return []
    desc = str(desc).upper()
    generics: list[str] = []
    for part in _re.split(r"[+/]|\s+AND\s+|\s+\+\s+", desc):
        m = _re.match(r"^([A-Z][A-Z\s\-]+?)(?:\s*\d|\s*\(|$)", part.strip())
        if m:
            generic = _re.sub(r"\s+", " ", m.group(1).strip())
            if generic and len(generic) > 2 and generic not in GARBAGE_TOKENS:
                generics.append(generic)
    return generics


def _esoa_lookup_keys_py(generic_raw: str | None, desc: str | None) -> list[str]:
    """Per-row Annex lookup keys: component-synonym rewrite on the raw
    generic string (runners.py:1157-1162, dict order preserved — the
    final GENTAMICIN→GENTAMICIN C2 entry wins), clean generics with
    the description fallback, then get_all_name_variants per generic
    (identity + static-synonym forward and reverse, runners.py:
    1090-1098)."""
    s = str(generic_raw).upper() if generic_raw is not None else ""
    for wrong, correct in DRUGBANK_COMPONENT_SYNONYMS.items():
        if wrong in s:
            s = s.replace(wrong, correct)
    generics = _extract_clean_generics_py(s)
    if not generics:
        generics = _extract_generics_from_description_py(desc)
    keys: list[str] = []
    for g in generics:
        variants = [g]
        if g in ALL_DRUG_SYNONYMS_FULL:
            variants.append(ALL_DRUG_SYNONYMS_FULL[g])
        variants.extend(syn for syn, canon in ALL_DRUG_SYNONYMS_FULL.items() if canon == g)
        for v in variants:
            if v not in keys:
                keys.append(v)
    return keys


def _annex_index_keys_py(generic_raw: str | None) -> list[str]:
    """Annex-side index keys per tagged row (runners.py:1024-1088):
    clean generics, each plus its paren-stripped base and the static
    forward synonym of both."""
    import re as _re

    generics = _extract_clean_generics_py(generic_raw)
    keys: list[str] = []

    def add(k: str) -> None:
        if k and k not in keys:
            keys.append(k)

    for g in generics:
        add(g)
        base = _re.sub(r"\s*\([^)]*\)", "", g).strip()
        if base and base != g:
            add(base)
        if g in ALL_DRUG_SYNONYMS_FULL:
            add(ALL_DRUG_SYNONYMS_FULL[g])
        if base and base in ALL_DRUG_SYNONYMS_FULL:
            add(ALL_DRUG_SYNONYMS_FULL[base])
    return keys


@F.pandas_udf(T.ArrayType(T.StringType()))
def esoa_lookup_keys(generic_raw: pd.Series, desc: pd.Series) -> pd.Series:
    return pd.Series([_esoa_lookup_keys_py(g, d) for g, d in zip(generic_raw, desc)])


@F.pandas_udf(T.ArrayType(T.StringType()))
def annex_index_keys(generic_raw: pd.Series) -> pd.Series:
    return generic_raw.map(_annex_index_keys_py)


@F.pandas_udf(DOSE_KEY_SCHEMA)
def dose_key_from_columns(
    dose_str: pd.Series,
    desc: pd.Series,
    generic: pd.Series,
    drug_mg: pd.Series,
    conc: pd.Series,
    vol: pd.Series,
    iv_type: pd.Series,
) -> pd.DataFrame:
    """get_dose_key from ROW COLUMNS (runners.py:725-790): structured
    F15 fields first, then the parse cascade over the dose TOKEN
    STRING, then NSS/D5/D10 inference from the description+generic."""
    out = []
    for ds, de, g, mg, c, v, iv in zip(
        dose_str, desc, generic, drug_mg, conc, vol, iv_type
    ):
        det = {
            "iv_diluent_type": iv if iv and not pd.isna(iv) else None,
            "concentration_mg_per_ml": None if pd.isna(c) else float(c),
            "total_volume_ml": None if pd.isna(v) else float(v),
            "drug_amount_mg": None if pd.isna(mg) else float(mg),
        }
        k = dose_key_py(ds, g, details=det, desc=de or "")
        out.append(
            {
                "kind": k.kind,
                "amount": k.amount,
                "conc": k.conc,
                "vol": k.vol,
                "unit": k.unit,
                "diluent": k.diluent,
            }
        )
    return pd.DataFrame(out)


@F.pandas_udf(PARSED_SIDE_SCHEMA)
def parse_side(text: pd.Series, generic: pd.Series) -> pd.DataFrame:
    """One Arrow crossing per relation: dose key (F34 cascade, with
    the generic for NSS/D5/D10 inference), form, route, F15 details."""
    doses, forms, routes, details = [], [], [], []
    for t, g in zip(text, generic):
        det = extract_drug_details_py(t) if t else None
        k = dose_key_py(t, g, details=det)
        doses.append(
            {
                "kind": k.kind,
                "amount": k.amount,
                "conc": k.conc,
                "vol": k.vol,
                "unit": k.unit,
                "diluent": k.diluent,
            }
        )
        forms.append((parse_form_py(t) or "").upper() or None)
        routes.append((parse_route_py(t)[0] or "").upper() or None)
        details.append(det if det is not None else extract_drug_details_py(t))
    return pd.DataFrame({"dose": doses, "form": forms, "route": routes, "details": details})


@F.pandas_udf(T.BooleanType())
def _p4_forms_compatible(cf: pd.Series, ef: pd.Series, cr: pd.Series, er: pd.Series) -> pd.Series:
    return pd.Series(
        [part4_forms_compatible_py(a, b, c, d) for a, b, c, d in zip(cf, ef, cr, er)]
    )


@F.pandas_udf(T.BooleanType())
def _p4_route_matches(cr: pd.Series, er: pd.Series) -> pd.Series:
    return pd.Series([part4_route_matches_py(a, b) for a, b in zip(cr, er)])


def dose_keys_match_col(a: Column, b: Column) -> Column:
    """Native twin of ``dose_keys_match_py`` (runners.py:792-957) over
    two DOSE_KEY_SCHEMA structs — parity pinned by
    tests/test_bridge.py::test_native_dose_match_parity."""
    ak, bk = a["kind"], b["kind"]
    one = F.lit(1.0)

    iv_ok = (
        (ak == bk)
        & a["conc"].eqNullSafe(b["conc"])
        & a["diluent"].eqNullSafe(b["diluent"])
        & (a["vol"].isNull() | b["vol"].isNull() | (a["vol"] == b["vol"]))
    )

    mg_diff = F.abs(a["amount"] - b["amount"])
    mg_ok = F.when(
        a["amount"].isNull() | b["amount"].isNull(), a["amount"].eqNullSafe(b["amount"])
    ).otherwise(
        (mg_diff <= 0.5) | (mg_diff / F.greatest(a["amount"], b["amount"], one) <= 0.01)
    )

    au = F.coalesce(a["unit"], F.lit("mg"))
    bu = F.coalesce(b["unit"], F.lit("mg"))
    c_diff = F.abs(a["conc"] - b["conc"])
    conc_ok = ((au == "iu") == (bu == "iu")) & F.when(
        a["conc"].isNull() | b["conc"].isNull(), a["conc"].eqNullSafe(b["conc"])
    ).otherwise(~((c_diff > 0.1) & (c_diff / F.greatest(a["conc"], b["conc"], one) > 0.01)))

    # mg ↔ conc and iu ↔ conc: total via conc·vol, else 1 mL implied
    amt = F.when(ak.isin("mg", "iu"), a["amount"]).otherwise(b["amount"])
    cv = F.when(ak == "conc", a["conc"]).otherwise(b["conc"])
    cvol = F.when(ak == "conc", a["vol"]).otherwise(b["vol"])
    cunit = F.when(ak == "conc", F.coalesce(a["unit"], F.lit("mg"))).otherwise(
        F.coalesce(b["unit"], F.lit("mg"))
    )
    total_hit = cvol.isNotNull() & (cvol > 0) & (F.abs(cv * cvol - amt) < 0.01)
    direct_hit = F.abs(cv - amt) < 0.01
    mg_conc_ok = (cunit != "iu") & (total_hit | direct_hit)
    iu_conc_ok = (cunit == "iu") & (total_hit | direct_hit)

    kinds_are = lambda x, y: ((ak == x) & (bk == y)) | ((ak == y) & (bk == x))  # noqa: E731
    return (
        F.when((ak == "none") | (bk == "none"), F.lit(False))
        .when((ak == "iv") | (bk == "iv"), iv_ok)
        .when((ak == "iu") & (bk == "iu"), a["amount"].eqNullSafe(b["amount"]))
        .when((ak == "mg") & (bk == "mg"), mg_ok)
        .when((ak == "conc") & (bk == "conc"), conc_ok)
        .when(kinds_are("mg", "conc"), mg_conc_ok)
        .when(kinds_are("iu", "conc"), iu_conc_ok)
        .otherwise(F.lit(False))
    )


def details_overlap_score(details: Column, cand_desc: Column) -> Column:
    """W3 tie-break (rank_candidate_for_drug_code, runners.py:959-1010):
    negative weight per eSOA detail found verbatim in the candidate
    description; lower = better.

    NULL/empty details probe as the literal string "NAN" — the LIVE
    reference behavior, not a choice: Part 4 reads Part 3's CSV, where
    a null detail is a float NaN, and `str(row.get(f) or "")` on NaN
    yields "NAN" (NaN is truthy), which then substring-matches any
    candidate description containing it ("juNANtin"). r9 fuzz catch
    (fuzz_part4_ranking_vs_reference seed 171: a null-details text
    ranked a JUNANTIN candidate -28). Deterministic in the reference's
    CSV-fed default chain, so matched verbatim; the parquet-fed
    variant (None stays None) would skip the probe — the engine
    follows the CSV path the reference's run_drugs_all.py uses."""
    desc = F.upper(cand_desc)

    def hit(field: str, weight: int) -> Column:
        v = F.coalesce(F.nullif(F.upper(details[field]), F.lit("")), F.lit("NAN"))
        return F.when(desc.contains(v), F.lit(weight)).otherwise(F.lit(0))

    return (
        hit("release_details", -10)
        + hit("type_details", -5)
        + hit("form_details", -5)
        + hit("indication_details", -5)
        + hit("salt_details", -3)
        + hit("alias_details", -2)
        + hit("iv_diluent_type", -5)
        + hit("iv_diluent_amount", -3)
    )


_MODIFIER_TOKENS = RELEASE_ABBREVS | FORM_DETAIL_ABBREVS
_MODIFIER_PHRASES = tuple(sorted(RELEASE_KEYWORDS | FORM_DETAIL_KEYWORDS, key=len, reverse=True))


def _strip_modifiers(comp: str) -> str:
    """Release/form modifiers ('MR', 'FILM COATED') are details, not
    part of the lookup generic — the reference's annex names come from
    part-3-cleaned matched_generic_name, which never carries them."""
    up = comp.upper()
    for phrase in _MODIFIER_PHRASES:
        up = up.replace(phrase, " ")
    kept = [t for t in up.split() if t not in _MODIFIER_TOKENS]
    return " ".join(kept)


def _annex_generic_py(desc: str | None) -> str:
    """Annex lookup names: the paren-stripped combination PLUS the
    combinations named inside parentheticals — the reference indexes
    per component, base-name-sans-parens, and synonyms
    (runners.py:1012-1094)."""
    if not desc:
        return ""
    import re as _re

    variants = [normalize_generic_combination_py(desc)]
    for m in _re.finditer(r"\(([^()]+)\)", desc):
        variants.append(normalize_generic_combination_py(m.group(1)))
    seen: list[str] = []
    for v in variants:
        for comp in v.split(" + "):
            comp = _strip_modifiers(comp)
            if comp and comp not in seen:
                seen.append(comp)
    return " + ".join(seen)


@F.pandas_udf(T.StringType())
def annex_generic(desc: pd.Series) -> pd.Series:
    return desc.map(_annex_generic_py)


def build_annex_index(annex_f: DataFrame) -> DataFrame:
    """J9 index: one row per (component generic → drug code), with the
    parsed dose key / form / route / description of the Annex entry.
    Small dim — broadcast at the join site (replaces the reference's
    driver dicts, runners.py:1012-1094).

    ``annex_order`` is the W3 tie-break secondary key: the reference's
    stable sort keeps Annex INSERTION order on details-score ties
    (runners.py:959-1010,1367-1371). Callers may provide an explicit
    ``annex_order`` column; otherwise it derives from the read order
    (monotonically_increasing_id — file order for the single-file dim
    the Annex is; a multi-file Annex should carry its own order col)."""
    if "annex_order" not in annex_f.columns:
        annex_f = annex_f.withColumn("annex_order", F.monotonically_increasing_id())
    parsed = annex_f.select(
        F.col("drug_code"),
        F.col("drug_description"),
        F.col("annex_order"),
        annex_generic(F.col("drug_description")).alias("annex_combo"),
    ).withColumn("annex_parsed", parse_side(F.col("drug_description"), F.col("annex_combo")))
    return parsed.select(
        "drug_code",
        "drug_description",
        "annex_order",
        F.col("annex_parsed.dose").alias("annex_dose"),
        F.col("annex_parsed.form").alias("annex_form"),
        F.col("annex_parsed.route").alias("annex_route"),
        F.explode(F.split(F.lower("annex_combo"), " \\+ ")).alias("component"),
    ).filter(F.col("component") != "")


_W3_DETAIL_FIELDS = (
    "release_details", "type_details", "form_details", "indication_details",
    "salt_details", "brand_details", "alias_details",
    "iv_diluent_type", "iv_diluent_amount",
)


def _esoa_side_ref(tagged: DataFrame) -> DataFrame:
    """eSOA side from the tagged Part-3 columns (reference mode)."""
    details_struct = F.struct(
        *[F.col(f).alias(f) for f in _W3_DETAIL_FIELDS]
    )
    # The reference's description fallback reads row['DESCRIPTION']
    # literally (runners.py:1163-1165) — when the eSOA text column is
    # 'raw_text' (the prepared shape) the fallback never fires, in
    # production too. Feed it only an actual DESCRIPTION column.
    fallback_desc = (
        F.col("DESCRIPTION")
        if "DESCRIPTION" in tagged.columns
        else F.lit(None).cast("string")
    )
    keys = esoa_lookup_keys(F.col("generic_name"), fallback_desc)
    return tagged.select(
        "raw_text",
        "generic_name",
        keys.alias("components"),
        dose_key_from_columns(
            F.col("dose"), F.col("raw_text"), F.col("generic_name"),
            F.col("drug_amount_mg"), F.col("concentration_mg_per_ml"),
            F.col("total_volume_ml"), F.col("iv_diluent_type"),
        ).alias("esoa_dose"),
        F.upper(F.trim("form")).alias("esoa_form"),
        F.upper(F.trim("route")).alias("esoa_route"),
        details_struct.alias("esoa_details"),
    ).withColumn("has_generic", F.size("components") > 0)


def build_annex_index_ref(annex_tagged: DataFrame) -> DataFrame:
    """Annex candidate index from the tagged Part-2 columns: one row
    per (index key → drug code) with the row's dose key / form / route
    (runners.py:1012-1094 — dict index as a broadcast relation)."""
    if "annex_order" not in annex_tagged.columns:
        annex_tagged = annex_tagged.withColumn(
            "annex_order", F.monotonically_increasing_id()
        )
    desc_col = (
        F.col("drug_description") if "drug_description" in annex_tagged.columns
        else F.col("raw_text")
    )
    return (
        annex_tagged.select(
            "drug_code",
            desc_col.alias("drug_description"),
            "annex_order",
            dose_key_from_columns(
                F.col("dose"), desc_col, F.col("generic_name"),
                F.col("drug_amount_mg"), F.col("concentration_mg_per_ml"),
                F.col("total_volume_ml"), F.col("iv_diluent_type"),
            ).alias("annex_dose"),
            F.upper(F.trim("form")).alias("annex_form"),
            F.upper(F.trim("route")).alias("annex_route"),
            annex_index_keys(F.col("generic_name")).alias("index_keys"),
        )
        .filter(F.col("drug_code").isNotNull() & (F.size("index_keys") > 0))
        .select(
            "drug_code", "drug_description", "annex_order",
            "annex_dose", "annex_form", "annex_route",
            F.explode("index_keys").alias("component"),
        )
    )


def _esoa_ref_mode(tagged: DataFrame) -> bool:
    return {"dose", "form", "route", "drug_amount_mg"}.issubset(tagged.columns)


def _annex_ref_mode(annex_f: DataFrame) -> bool:
    return {"generic_name", "dose", "form", "route"}.issubset(annex_f.columns)


def bridge_to_drug_codes(tagged: DataFrame, annex_f: DataFrame) -> DataFrame:
    """tagged: output of plans.tagger (raw_text, generic_name, …).
    Returns one row per raw_text with (drug_code, match_reason) using
    the reference's strict dose∧form∧route gate and reason labels.

    Two modes: when both relations carry the tagged Part-2/3 columns
    (dose/form/route token strings + F15 structured fields), Part 4
    runs the reference's column-driven path; otherwise (dims-only
    planted oracles) both sides are parsed from raw text. Composes
    ``esoa_bridge_side``, ``annex_bridge_side`` and ``bridge_sides``,
    which callers holding both tagged relations may run separately."""
    ref_mode, annex_ref_mode = _esoa_ref_mode(tagged), _annex_ref_mode(annex_f)
    if ref_mode != annex_ref_mode:
        # The two modes build INCOMPATIBLE join keys (reference-mode
        # lookup keys are UPPERCASE, dims-only components lowercase):
        # a mixed pairing would join zero rows and label every text
        # generic_not_in_annex with no error. Run both sides through
        # Part 2/3 tagging, or neither.
        raise ValueError(
            "bridge_to_drug_codes: tagged side is "
            f"{'reference' if ref_mode else 'dims-only'}-mode but annex side is "
            f"{'reference' if annex_ref_mode else 'dims-only'}-mode; "
            "tag both relations (runner.run_drugs_all does) or pass both raw"
        )
    return bridge_sides(esoa_bridge_side(tagged), annex_bridge_side(annex_f))


def esoa_bridge_side(tagged: DataFrame) -> DataFrame:
    """The eSOA side of Part 4 as a materialized leaf: one row per
    input row with its lookup components, dose key, form, route and
    W3 details. Reference mode reads the tagged Part-3 columns;
    dims-only mode parses the raw text."""
    if _esoa_ref_mode(tagged):
        return _esoa_side_ref(tagged).localCheckpoint(eager=True)
    return (
        tagged.select(
            "raw_text",
            "generic_name",
            F.col("matched").alias("has_generic"),
            F.filter(
                F.split(F.lower(F.coalesce("generic_name", F.lit(""))), " \\+ "),
                lambda x: x != "",
            ).alias("components"),
        )
        .withColumn("esoa_parsed", parse_side(F.col("raw_text"), F.col("generic_name")))
        .select(
            "raw_text", "generic_name", "has_generic", "components",
            F.col("esoa_parsed.dose").alias("esoa_dose"),
            F.col("esoa_parsed.form").alias("esoa_form"),
            F.col("esoa_parsed.route").alias("esoa_route"),
            F.col("esoa_parsed.details").alias("esoa_details"),
        )
        # localCheckpoint, not persist: parse_side embeds the native
        # dose/form/route expression trees; candidate gen and the
        # final left join would each copy that subtree into the plan
        # and Catalyst re-walks it per transformation (same pathology
        # as the tagger docs relation — see plans/tagger.py).
        .localCheckpoint(eager=True)
    )


def annex_bridge_side(annex_f: DataFrame) -> DataFrame:
    """The Annex candidate index of Part 4 as a materialized leaf: one
    row per (component → drug code). Reference mode reads the tagged
    Part-2 columns; dims-only mode parses the descriptions."""
    # materialize: the index embeds parse_side's native dose/form
    # expression trees; broadcasting a leaf keeps them out of the
    # probe-side plan (see plans/tagger._materialize_dim)
    from .tagger import _materialize_dim

    return _materialize_dim(
        build_annex_index_ref(annex_f) if _annex_ref_mode(annex_f)
        else build_annex_index(annex_f)
    )


def bridge_sides(esoa: DataFrame, index_mat: DataFrame) -> DataFrame:
    """Part 4 over the two sides built by ``esoa_bridge_side`` and
    ``annex_bridge_side`` (both of one mode): candidates, the strict
    dose∧form∧route gate, the W3 pick and the reason ladder. Returns
    one row per eSOA-side row with (raw_text, generic_name, drug_code,
    match_reason)."""
    index = F.broadcast(index_mat)

    cand = (
        esoa.filter(F.col("has_generic"))
        .select(
            "raw_text", "esoa_dose", "esoa_form", "esoa_route", "esoa_details",
            F.posexplode("components").alias("comp_pos", "component"),
        )
        .join(index, "component")
        # The reference dedupes candidates per row by drug_code KEEPING
        # THE FIRST COLLECTION OCCURRENCE (runners.py:1183-1190), and
        # its stable sort then breaks details-score ties by that
        # collection order: component position FIRST, annex insertion
        # order within a component. r9 fuzz catch
        # (fuzz_part4_ranking_vs_reference, case 241 of the very first
        # run): a tie spanning two components picked the other side's
        # candidate under the old global-annex_order key. No explicit
        # dedupe needed — comp_pos rides into the min_by rank struct
        # below, which reproduces keep-first-occurrence exactly (all
        # non-key attrs are functionally determined by drug_code).
    )

    # form/route predicates: Python only on the DISTINCT vocabulary
    # combinations (bounded by |forms|²·|routes|² regardless of data
    # size), broadcast back — the per-candidate path stays native.
    combos = cand.select("annex_form", "esoa_form", "annex_route", "esoa_route").distinct()
    combo_flags = combos.select(
        "annex_form", "esoa_form", "annex_route", "esoa_route",
        _p4_forms_compatible("annex_form", "esoa_form", "annex_route", "esoa_route").alias(
            "form_ok"
        ),
        _p4_route_matches("annex_route", "esoa_route").alias("route_ok"),
    )
    cf = F.broadcast(combo_flags).alias("cf")
    cand = cand.alias("c").join(
        cf,
        F.col("c.annex_form").eqNullSafe(F.col("cf.annex_form"))
        & F.col("c.esoa_form").eqNullSafe(F.col("cf.esoa_form"))
        & F.col("c.annex_route").eqNullSafe(F.col("cf.annex_route"))
        & F.col("c.esoa_route").eqNullSafe(F.col("cf.esoa_route")),
        "left",
    ).select("c.*", "cf.form_ok", "cf.route_ok")

    flagged = cand.select(
        "raw_text",
        "drug_code",
        "comp_pos",
        "annex_order",
        dose_keys_match_col(F.col("esoa_dose"), F.col("annex_dose")).alias("dose_ok"),
        "form_ok",
        "route_ok",
        details_overlap_score(F.col("esoa_details"), F.col("drug_description")).alias(
            "details_score"
        ),
    )

    # W3 + flags in ONE grouped pass (map-side combinable; no window
    # sort over the fanout). Valid = dose ∧ form ∧ route
    # (runners.py:1357-1365); best valid by (details_score, comp_pos,
    # annex_order) — the reference sorts STABLY over its
    # per-component collection order, so score ties resolve by the
    # eSOA component position first, then annex insertion order within
    # the component (runners.py:1170-1190,1367-1371; r9 fuzz catch).
    # A drug_code reached by several components appears once per
    # component; the min keeps the smallest comp_pos = the
    # reference's dedupe-keep-first.
    #
    # r13 (guide §5): the former rank key was a STRUCT fed to
    # min_by(drug_code, …) — struct ordering buffers are immutable and
    # a string value keeps a string in the buffer, so the aggregation
    # fell off HashAggregate onto SortAggregate, which SORTS the whole
    # text×candidate fanout (the big relation at scale) before partial
    # aggregation. The ordering tuple is now ONE injective
    # decimal(38,0) — (details_score+40)·10³⁰ + comp_pos·10²⁰ +
    # (annex_order+10¹⁹) — and the winner's drug_code is recovered by
    # a broadcast join on the annex_order digits. Monotone
    # lexicographic because every lower slot stays below one unit of
    # the slot above: details_score ∈ [-38, 0] (fixed weight sum) so
    # score+40 ∈ [2, 40]; comp_pos is a posexplode int ≥ 0 < 2³¹, so
    # comp_pos·10²⁰ < 2.2·10²⁹ < 10³⁰; annex_order+10¹⁹ ∈
    # (8·10¹⁷, 2·10¹⁹) for ANY bigint < 10²⁰. Max enc < 41·10³⁰, well
    # inside decimal(38,0), and every intermediate precision below is
    # exact (34/32/21 digits). The former struct's trailing drug_code
    # was a determinism backstop that can never decide: within one
    # raw_text group, (comp_pos, annex_order) repeats only when one
    # annex row indexes the same component twice, and such duplicates
    # carry the SAME drug_code (one drug_code per annex row), so
    # dropping the field from the ordering cannot change the winner —
    # annex_order → drug_code is functional, which also makes the
    # join-back exact. Pinned by the p4_bridge/w3 oracles and
    # fuzz_part4_ranking_vs_reference.
    valid = F.col("dose_ok") & F.col("form_ok") & F.col("route_ok")
    _dec = lambda n, p: F.lit(_Decimal(n)).cast(f"decimal({p},0)")  # noqa: E731
    rank_enc = F.when(
        valid,
        (F.col("details_score").cast("decimal(3,0)") + _dec(40, 2)) * _dec(10**30, 31)
        + F.col("comp_pos").cast("decimal(10,0)") * _dec(10**20, 21)
        + (F.col("annex_order").cast("decimal(19,0)") + _dec(10**19, 20)),
    )
    summary = flagged.groupBy("raw_text").agg(
        F.min(rank_enc).alias("best_enc"),
        F.max(valid.cast("int")).alias("has_valid"),
        F.max(F.col("dose_ok").cast("int")).alias("has_dose_ok"),
        F.max(F.col("form_ok").cast("int")).alias("has_form_ok"),
        F.max(F.col("route_ok").cast("int")).alias("has_route_ok"),
        F.count(F.lit(1)).alias("n_cand"),
    )
    # annex_order digits back out of the winning encoding; the tiny
    # annex dim maps them to the winner's drug_code (functional — one
    # drug_code per annex row; min() only collapses the per-component
    # index duplicates of that same row).
    code_map = F.broadcast(
        index_mat.groupBy("annex_order").agg(F.min("drug_code").alias("best_drug_code"))
    )
    summary = summary.withColumn(
        "best_annex_order",
        (F.col("best_enc") % _dec(10**20, 21) - _dec(10**19, 20)).cast("long"),
    ).join(code_map, F.col("best_annex_order") == code_map.annex_order, "left").drop(
        "annex_order", "best_enc", "best_annex_order"
    )

    # Reason ladder with the reference's label strings and priority:
    # dose ⊳ form ⊳ route ⊳ combined (runners.py:1337-1383).
    out = esoa.join(summary, "raw_text", "left").select(
        "raw_text",
        "generic_name",
        F.when(F.col("has_valid") == 1, F.col("best_drug_code")).alias("drug_code"),
        F.when(~F.col("has_generic"), "no_generic")
        .when(F.col("n_cand").isNull(), "generic_not_in_annex")
        .when(F.col("esoa_dose.kind") == "none", "no_perfect_match:no_dose_in_esoa")
        .when(F.col("has_valid") == 1, "matched_perfect")
        .when(F.col("has_dose_ok") == 0, "no_perfect_match:dose_mismatch")
        .when(F.col("has_form_ok") == 0, "no_perfect_match:form_mismatch")
        .when(F.col("has_route_ok") == 0, "no_perfect_match:route_mismatch")
        .otherwise("no_perfect_match:combined_mismatch")
        .alias("match_reason"),
    )
    return out


def bridge_metrics(bridged: DataFrame) -> DataFrame:
    """run_summary reason histogram (A4/A7, run_drugs_all.py:52-117)."""
    return bridged.groupBy("match_reason").agg(F.count(F.lit(1)).alias("n")).orderBy(
        F.desc("n"), F.asc("match_reason")
    )
