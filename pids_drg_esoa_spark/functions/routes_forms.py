"""Form & route canonicalization and compatibility (F24-F27).

Reference parity targets:
- map_route_token         routes_forms.py:23-49  (F24)
- parse_form_from_text    routes_forms.py:51-78  (F25, longest-first)
- normalize_form/route    form_route_mapping.py:35-101 (F26)
- forms_are_equivalent    scoring.py:73-86 + FORM_EQUIVALENTS (F27)

Python twins drive the pandas_udf tier in the bridge; vocabularies
come from functions.constants (data, not code).
"""

from __future__ import annotations

import re

import pandas as pd  # module-level: pandas_udf string hints resolve here

from .constants import (
    FORM_CANON,
    FORM_TO_ROUTES,
    P1_FORM_WORDS,
    ROUTE_CANON,
)

# longest-first so 'suspension' beats 'susp' etc. (reference F25)
_FORM_KEYS = sorted(FORM_CANON, key=len, reverse=True)
_FORM_RE = re.compile(r"\b(" + "|".join(re.escape(k) for k in _FORM_KEYS) + r")\b", re.I)
_ROUTE_KEYS = sorted(ROUTE_CANON, key=len, reverse=True)
_ROUTE_RE = re.compile(r"\b(" + "|".join(re.escape(k) for k in _ROUTE_KEYS) + r")\b", re.I)


def parse_form_py(text: str | None) -> str | None:
    """F25: first (longest-alternative) form keyword → canonical."""
    if not text:
        return None
    m = _FORM_RE.search(text)
    return FORM_CANON[m.group(1).lower()] if m else None


# Part-1 twin (reference routes_forms.py:51-57): longest form WORD
# present ANYWHERE in the text wins (not first-by-position), and the
# raw word itself is returned (no canonicalization). Equal-length ties
# are reference-nondeterministic (hash-ordered FORM_WORDS, see
# constants.P1_FORM_WORDS) — the engine breaks them alphabetically.
_P1_FORM_RES = [
    (w, re.compile(r"\b" + re.escape(w) + r"\b")) for w in P1_FORM_WORDS
]


def parse_form_from_text_py(s_norm: str | None) -> str | None:
    if not s_norm:
        return None
    for w, rx in _P1_FORM_RES:
        if rx.search(s_norm):
            return w
    return None


def p1_form_col(molecule_col, tech_col):
    """pnf_prepared's ``form`` column from the RAW inputs, as ONE
    Arrow-batched pandas_udf running the whole reference chain
    (prepare.py:95-110) in Python: F6 base → upper → ' ' + tech →
    normalize_text → parse_form_from_text. Deliberately NOT a native
    expression and NOT composed on the ``generic_normalized`` column:
    either shape re-inlines the F6 pandas_udf subtree / a 100-branch
    rlike cascade into every downstream unified-build plan (measured
    +6-7 s of Catalyst analysis in the Part-1 stage alone — SCALE.md
    lesson #3), while pnf is a ~2.3K-row dim built once, so one Arrow
    batch of the Python twins is both the cheaper plan and
    verbatim-by-construction semantics."""
    from pyspark.sql import functions as _Fx

    @_Fx.pandas_udf("string")
    def _p1_form(mol: pd.Series, tech: pd.Series) -> pd.Series:
        from .text import normalize_text_py
        from .tokens import extract_base_and_salts_py

        def one(m, t):
            base = extract_base_and_salts_py(m)[0] if m is not None else ""
            src = normalize_text_py(
                (str(base).upper() + " " + (t if t is not None else "")).strip()
            )
            return parse_form_from_text_py(src)

        return pd.Series([one(m, t) for m, t in zip(mol, tech)])

    return _p1_form(molecule_col, tech_col)


def parse_route_py(text: str | None) -> tuple[str | None, str]:
    """F25: explicit route alias, else imputed from form (evidence
    label says which — reference extract_route_and_form)."""
    if not text:
        return None, "none"
    m = _ROUTE_RE.search(text)
    if m:
        return ROUTE_CANON[m.group(1).lower()], "explicit"
    form = parse_form_py(text)
    if form:
        routes = FORM_TO_ROUTES.get(form)
        if routes:
            return routes[0], f"imputed_from_form:{form}"
    return None, "none"


def forms_are_equivalent_py(a: str | None, b: str | None) -> bool:
    """F27: VERBATIM twin of scoring.py:73-86 — the version scoring
    actually calls (its local def shadows the unified_constants
    import): missing either side → True (flexible), equal upper →
    True, else a ONE-directional FORM_EQUIVALENTS lookup on the first
    form. Inputs are expected canonical (the reference passes parsed
    forms, never raw aliases). Round-7 rewrite: the previous version
    added alias normalization, bidirectional groups, and a
    shared-route clause — richer than the cited reference site, and
    nothing pipeline-side consumed the extra behavior (W1's
    form_priority collapses to a constant because the reference
    tagger's cand_form is always '', tagger.py:1163 adjudication).
    Pinned exhaustively over all form pairs by
    tests/test_reference_vocab_parity.py."""
    if not a or not b:
        return True
    f1, f2 = a.upper(), b.upper()
    if f1 == f2:
        return True
    from .part4_tables import FORM_EQUIVALENTS_P4

    return f2 in FORM_EQUIVALENTS_P4.get(f1, frozenset())


# ---------------------------------------------------------------------------
# Part-4 STRICT compatibility (reference runners.py:1195-1335). These are
# deliberately separate from the W1-scoring helpers above: Part 4 treats a
# MISSING form/route as compatible (the tagging stage treats missing as
# non-matching), uses its own route synonym tables, and has a permissive
# form fallback for container-style forms.
# ---------------------------------------------------------------------------

from .part4_tables import FORM_EQUIVALENTS_P4, FORM_TO_ROUTES_P4  # noqa: E402

# runners.py:1309-1322 — route_matches equivalence groups
PART4_ROUTE_GROUPS: dict[str, frozenset[str]] = {
    "ORAL": frozenset({"ORAL", "PO", "BY MOUTH"}),
    "PARENTERAL": frozenset(
        {"PARENTERAL", "INTRAVENOUS", "IV", "INTRAMUSCULAR", "IM", "SUBCUTANEOUS", "SC", "SQ"}
    ),
    "INTRAVENOUS": frozenset({"INTRAVENOUS", "IV", "PARENTERAL"}),
    "INTRAMUSCULAR": frozenset({"INTRAMUSCULAR", "IM", "PARENTERAL"}),
    "SUBCUTANEOUS": frozenset({"SUBCUTANEOUS", "SC", "SQ", "PARENTERAL"}),
    "INHALATION": frozenset({"INHALATION", "RESPIRATORY", "INHALED", "NEBULIZATION"}),
    "TOPICAL": frozenset({"TOPICAL", "EXTERNAL", "CUTANEOUS"}),
    "OPHTHALMIC": frozenset({"OPHTHALMIC", "EYE", "OCULAR"}),
    "OTIC": frozenset({"OTIC", "EAR", "AURAL"}),
    "NASAL": frozenset({"NASAL", "INTRANASAL"}),
    "RECTAL": frozenset({"RECTAL", "PR"}),
    "VAGINAL": frozenset({"VAGINAL", "PV"}),
}

# runners.py:1252-1262 — the (smaller) synonym table used by the
# form-route-sharing branch of forms_compatible
_P4_FORM_ROUTE_SYNONYMS: dict[str, frozenset[str]] = {
    "ORAL": frozenset({"ORAL", "PO", "BY MOUTH"}),
    "PARENTERAL": frozenset(
        {"PARENTERAL", "INTRAVENOUS", "IV", "INTRAMUSCULAR", "IM", "SUBCUTANEOUS", "SC"}
    ),
    "INTRAVENOUS": frozenset({"INTRAVENOUS", "IV", "PARENTERAL"}),
    "INTRAMUSCULAR": frozenset({"INTRAMUSCULAR", "IM", "PARENTERAL"}),
    "SUBCUTANEOUS": frozenset({"SUBCUTANEOUS", "SC", "PARENTERAL"}),
    "INHALATION": frozenset({"INHALATION", "RESPIRATORY", "INHALED", "NEBULIZATION"}),
    "TOPICAL": frozenset({"TOPICAL", "EXTERNAL", "CUTANEOUS"}),
    "OPHTHALMIC": frozenset({"OPHTHALMIC", "EYE", "OCULAR"}),
    "RECTAL": frozenset({"RECTAL", "PR"}),
}

# runners.py:1277-1290 — permissive fallback when no route info exists
_P4_COMPAT_FALLBACK: tuple[frozenset[str], ...] = (
    frozenset({"AMPULE", "AMPOULE", "VIAL", "INJECTION", "BOTTLE"}),
    frozenset({"SYRUP", "SUSPENSION", "SOLUTION", "ELIXIR", "LIQUID", "DROPS"}),
    frozenset({"TABLET", "CAPSULE", "CAPLET"}),
    frozenset({"NEBULE", "NEBULIZER", "INHALER", "AEROSOL", "MDI", "DPI"}),
    frozenset({"CREAM", "OINTMENT", "GEL", "LOTION"}),
    frozenset({"GRANULE", "POWDER", "SACHET"}),
)


def part4_route_matches_py(cand_route: str | None, esoa_route: str | None) -> bool:
    """Strict-mode route predicate (runners.py:1298-1335): missing
    either side = compatible; else exact or token-set overlap via the
    equivalence groups; unknown unequal routes don't match."""
    if not esoa_route or not cand_route:
        return True
    c = cand_route.upper().strip()
    e = esoa_route.upper().strip()
    if c == e:
        return True
    c_tokens: set[str] = set()
    e_tokens: set[str] = set()
    for base, syns in PART4_ROUTE_GROUPS.items():
        if c in syns or c == base:
            c_tokens |= syns | {base}
        if e in syns or e == base:
            e_tokens |= syns | {base}
    return bool(c_tokens & e_tokens) if c_tokens and e_tokens else False


def part4_forms_compatible_py(
    cand_form: str | None,
    esoa_form: str | None,
    cand_route: str | None = None,
    esoa_route: str | None = None,
) -> bool:
    """Route-aware form predicate (runners.py:1195-1296): equivalence
    table, then shared-plausible-route (constrained by observed routes,
    expanded through synonyms), then the container fallback groups."""
    if not esoa_form or not cand_form:
        return True
    c = cand_form.upper().strip()
    e = esoa_form.upper().strip()
    if c == e:
        return True
    if e in FORM_EQUIVALENTS_P4.get(c, frozenset()) or c in FORM_EQUIVALENTS_P4.get(
        e, frozenset()
    ):
        return True

    c_routes = set(FORM_TO_ROUTES_P4.get(c, ()))
    e_routes = set(FORM_TO_ROUTES_P4.get(e, ()))
    if not c_routes:  # partial key match, first hit wins
        for key in FORM_TO_ROUTES_P4:
            if key in c or c in key:
                c_routes.update(FORM_TO_ROUTES_P4[key])
                break
    if not e_routes:
        for key in FORM_TO_ROUTES_P4:
            if key in e or e in key:
                e_routes.update(FORM_TO_ROUTES_P4[key])
                break

    if cand_route and cand_route.upper().strip():
        cr = cand_route.upper().strip()
        c_routes = c_routes & {cr} if c_routes else {cr}
    if esoa_route and esoa_route.upper().strip():
        er = esoa_route.upper().strip()
        e_routes = e_routes & {er} if e_routes else {er}

    if c_routes and e_routes:
        exp_c: set[str] = set()
        exp_e: set[str] = set()
        for r in c_routes:
            exp_c.add(r)
            exp_c |= _P4_FORM_ROUTE_SYNONYMS.get(r, frozenset())
        for r in e_routes:
            exp_e.add(r)
            exp_e |= _P4_FORM_ROUTE_SYNONYMS.get(r, frozenset())
        return bool(exp_c & exp_e)

    return any(c in group and e in group for group in _P4_COMPAT_FALLBACK)


# ---------------------------------------------------------------------------
# Native (whole-stage-codegen) twin of parse_form_py for hot paths: the
# W1 tagger computes form_priority per candidate row, so the parse must
# not cross into Python. regexp_extract with the same longest-first
# alternation + a map-literal canon lookup ≡ parse_form_py (parity
# pinned in tests/test_tagger.py::test_native_form_parse_parity).
# ---------------------------------------------------------------------------

from pyspark.sql import Column as _Column  # noqa: E402
from pyspark.sql import functions as _F  # noqa: E402

_FORM_PATTERN_SQL = r"\b(" + "|".join(re.escape(k) for k in _FORM_KEYS) + r")\b"
_FORM_CANON_MAP = None


def parse_form_col(col: _Column | str) -> _Column:
    global _FORM_CANON_MAP
    if _FORM_CANON_MAP is None:
        # ONE parsed SQL map literal, not create_map(*[lit(x) ...]):
        # the 211-entry map is 422 individual py4j literal round trips
        # (~1.1 s measured on a cold JVM) vs a single F.expr parse
        # (~4 ms); the resulting CreateMap expression is identical.
        # FORM_CANON keys/values are plain printable strings with no
        # quotes/backslashes (vocabulary constants); escape anyway so
        # a future entry can't silently break the literal.
        def _esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "\\'")

        _FORM_CANON_MAP = _F.expr(
            "map("
            + ",".join(f"'{_esc(x)}'" for kv in FORM_CANON.items() for x in kv)
            + ")"
        )
    hit = _F.regexp_extract(_F.lower(col), _FORM_PATTERN_SQL, 1)
    return _F.when(hit != "", _F.coalesce(_FORM_CANON_MAP[hit], hit))

