"""Token-level extraction — the Python-fidelity (pandas_udf) tier.

These functions carry the reference's irreducibly-stateful token
logic: salt/base splitting, combination normalization, compound-salt
merging. They run as Arrow-batched pandas_udfs (partition-parallel —
the Spark replacement for the reference's ProcessPoolExecutor
machinery, concurrency.py:63-120 §2.8) and each has a plain-Python
twin that golden tests pin to the reference's own test cases
(tests/test_generic_normalization.py:16-50,
 tests/test_annex_f_normalization_stigmine.py:18-37).

Reference parity targets:
- extract_base_and_salts   text_utils.py:219-351 (F6)
- detect_compound_salts    tokenizer.py:929-954  (F18)
- normalize_generic_combination — the IN/WITH/AND → ' + ' combination
  rewrite of generic_normalization (reference tests §5)
- strip_salt_suffix        tokenizer.py:1395-1435 (F22)
- build_combination_keys   lookup.py:309-402     (F30)
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import (
    FORM_CANON,
    FORM_MODIFIER_IGNORE,
    MULTIWORD_GENERICS,
    PURE_SALT_COMPOUNDS,
    ROUTE_CANON,
    SALT_TOKENS,
    STOPWORDS,
    UNIT_TOKENS,
)
from .text import normalize_text_py

# Dose-expression shapes stripped from combination text before
# component splitting (the tagger-side semantics, differential-pinned
# at 155K texts). These are deliberately BROADER than the F9 PNF dose
# parser in dose.py (extra units kg/meq/mmol/units, per-noun ratios):
# the tokenizer must recognize any dose-shaped span to drop it, while
# F9 mirrors the reference's parse_dose_struct_from_text exactly.
_NUM = r"([0-9]+(?:\.[0-9]+)?)"
_MASS_UNITS = r"(mcg|ug|mg|g|gm|grams?|kg|iu|units?|meq|mmol)"
_PER_UNITS = (
    r"(ml|l|tablets|tablet|tabs|tab|capsules|capsule|caps|cap|sachets|sachet"
    r"|drops|drop|gtt|actuations|actuation|sprays|spray|puffs|puff|doses|dose)"
)
_RATIO_SEP = r"(?:/|\bper\b)"
_PACK_RE = rf"[0-9]+\s*x\s*{_NUM}\s*{_MASS_UNITS}\b"
_RATIO_RE = rf"{_NUM}\s*{_MASS_UNITS}\s*{_RATIO_SEP}\s*{_NUM}?\s*{_PER_UNITS}\b"
_AMOUNT_RE = rf"{_NUM}\s*{_MASS_UNITS}\b"
_PCT_RE = rf"{_NUM}\s*%"

# Single-ion tokens: two adjacent ones form one compound salt drug
# ("SODIUM + CHLORIDE" ⇒ "SODIUM CHLORIDE", F18).
PURE_IONS: frozenset[str] = frozenset(
    "sodium potassium calcium magnesium chloride sulfate sulphate "
    "phosphate carbonate bicarbonate lactate gluconate acetate".split()
)

# one alternation pass instead of four sequential substitutions —
# ratio first so its prefix can't be half-consumed by the amount arm
_DOSE_ALL_RE = re.compile("|".join(f"(?:{p})" for p in (_RATIO_RE, _PACK_RE, _AMOUNT_RE, _PCT_RE)))
_FORM_ROUTE_TOKENS = frozenset(FORM_CANON) | frozenset(ROUTE_CANON)

# ---------------------------------------------------------------------------
# F6 / F22 — VERBATIM twins of the reference's two distinct strip
# functions. Round-7 repair: these were previously ONE composite
# (paren-'as' + trailing-RUN trim + pure-salt guard) that equalled
# NEITHER reference function on multi-salt tails ('METFORMIN
# HYDROCHLORIDE MONOHYDRATE': tokenizer.strip_salt_suffix keeps
# 'METFORMIN HYDROCHLORIDE', the composite stripped to 'METFORMIN');
# latent because the differential corpus carried single salts only
# and the reference's own Part-1 (where text_utils.extract_base_and_
# salts runs) is outside the Parts-2-4 differential. Both twins are
# fuzzed against the live reference (scripts/fuzz_salts_vs_
# reference.py).
# ---------------------------------------------------------------------------

_SALT_UPPER: frozenset[str] = frozenset(t.upper() for t in SALT_TOKENS)
# longest-first single-suffix scan; equal-length ties can't both be
# suffixes of one ending, so tie order is immaterial
_SALT_UPPER_SORTED: list[str] = sorted(_SALT_UPPER, key=len, reverse=True)
# one C-level endswith(tuple) prefilter replaces ~150 per-call concat+
# endswith probes on the (common) no-salt-suffix path (r10 hot-path
# measurement: 72K calls per 20K-text tag() batch)
_SALT_SUFFIXES_TUPLE: tuple[str, ...] = tuple(" " + s for s in _SALT_UPPER_SORTED)
_PURE_SALT_UPPER: frozenset[str] = frozenset(p.upper() for p in PURE_SALT_COMPOUNDS)


def strip_salt_suffix_pair_py(name: str | None) -> tuple[str, str | None]:
    """F22: twin of tokenizer.strip_salt_suffix (tokenizer.py:
    1395-1435) — pure-salt-compound guard, then ONE trailing salt
    suffix (longest first) with a dangling-'AS' trim, then the
    'X AS Y' salt pattern. Uppercases like the reference."""
    if not name:
        return "", None
    up = name.upper()
    if up in _PURE_SALT_UPPER:
        return up, None
    if up.endswith(_SALT_SUFFIXES_TUPLE):
        for suffix in _SALT_UPPER_SORTED:
            if up.endswith(" " + suffix):
                base = up[: -len(suffix) - 1].strip()
                if base.endswith(" AS"):
                    base = base[:-3].strip()
                return base, suffix
    if " AS " in up:
        head, tail = up.split(" AS ", 1)
        tail = tail.strip()
        if tail in _SALT_UPPER:
            return head.strip(), tail
    return up, None


def strip_salt_suffix_py(name: str | None) -> str:
    """F22 base-only form (the shape the lookup/tagger chains use)."""
    return strip_salt_suffix_pair_py(name)[0]


# --- F6 vocabulary, composed exactly like text_utils.py:13-21 builds
# its derived sets (verified equal set-for-set against the live
# reference): BASE_GENERIC_IGNORE = stopwords ∪ unit tokens,
# MEASUREMENT = unit tokens, SPECIAL = salt cations (can be bases).
def _f6_vocab():
    from .constants import SALT_CATIONS, UNIT_TOKENS
    from .vocab_full import STOPWORDS_FULL

    meas = frozenset(u.lower() for u in UNIT_TOKENS)
    ignore = frozenset(s.lower() for s in STOPWORDS_FULL) | meas
    special = frozenset(s.lower() for s in SALT_CATIONS)
    words: set[str] = set()
    for tok in SALT_TOKENS:
        if not tok:
            continue
        words.add(tok.lower())
        for part in normalize_text_py(tok).split():
            words.add(part)
    words.update({"salt", "salts"})
    return meas, ignore, special, frozenset(words)


_F6_MEASUREMENT, _F6_IGNORE, _F6_SPECIAL, _F6_SALT_WORDS = _f6_vocab()
_F6_TAIL_BREAK = frozenset({"+", "/", "&", "and", "with"})
_F6_ALNUM_RE = re.compile(r"[a-z]+[0-9]+[a-z0-9]*")


def _f6_token_core(token: str) -> str:
    return token.lower().strip(".,;:'\"()[]{}")


def _f6_is_measurement(tok: str) -> bool:
    tok = tok.lower()
    if tok in _F6_MEASUREMENT or tok in {"%", "ratio", "per"}:
        return True
    return tok.endswith("ml") or tok.endswith("mg")


def _f6_salt_tail(tokens: list[str], start: int) -> bool:
    """text_utils._looks_like_salt_tail: an 'as' introduces salts only
    when everything up to a break token is salt vocabulary."""
    seen = False
    for tok in tokens[start:]:
        if tok.lower() in _F6_TAIL_BREAK:
            break
        if not tok:
            continue
        if any(ch.isdigit() for ch in tok) or tok in {"%", "per"}:
            break
        low = tok.lower()
        if low == "and/or":
            continue
        if low in _F6_SALT_WORDS:
            seen = True
            continue
        return False
    return seen


def extract_base_and_salts_py(name: str | None) -> tuple[str, list[str]]:
    """F6: twin of text_utils.extract_base_and_salts (text_utils.py:
    219-351) — the Part-1/PNF molecule splitter. normalize → find the
    salt-introducing 'as' boundary → collect salt words from the tail
    → walk the base candidates (special cations stay bases unless
    preceded by 'as'; '+'-connectors kept when more base follows;
    measurement/ignore/digit tokens dropped) → truncate-fallback →
    trim trailing salt words → dedupe; all-salt and empty inputs fall
    back exactly like the reference."""
    if not isinstance(name, str):
        return "", []
    norm = normalize_text_py(name)
    tokens = norm.split()
    boundary = None
    for idx, tok in enumerate(tokens):
        if tok == "as" and _f6_salt_tail(tokens, idx + 1):
            boundary = idx
            break
    base_candidates = tokens if boundary is None else tokens[:boundary]
    tail_candidates = [] if boundary is None else tokens[boundary + 1 :]

    salts: list[str] = []
    for tok in tail_candidates:
        low = tok.lower()
        if low in {"and", "with", "plus", "+", "/"} or not low:
            continue
        if not re.search(r"[a-z]", low):
            continue
        if low not in _F6_SALT_WORDS or low in {"salt", "salts"}:
            continue
        salts.append(tok.upper())

    def treat_as_salt(low: str, idx: int, cand: list[str]) -> bool:
        if low not in _F6_SALT_WORDS or low in {"salt", "salts"}:
            return False
        if idx > 0 and cand[idx - 1].lower() == "as":
            return True
        return low not in _F6_SPECIAL

    def is_base_candidate(tok: str) -> bool:
        low = tok.lower()
        key = _f6_token_core(tok)
        if key in _F6_IGNORE or _f6_is_measurement(key) or low == "%":
            return False
        if not re.search(r"[a-z]", low) or low[0].isdigit():
            return False
        if any(ch.isdigit() for ch in low) and not _F6_ALNUM_RE.fullmatch(low):
            return False
        return True

    base_tokens: list[str] = []
    leading_salts: list[str] = []
    for idx, tok in enumerate(base_candidates):
        low = tok.lower()
        if tok in {"+", "/", "&"}:
            if base_tokens and any(
                is_base_candidate(t) for t in base_candidates[idx + 1 :]
            ):
                base_tokens.append(tok)
            continue
        if treat_as_salt(low, idx, base_candidates):
            if base_tokens:
                salts.append(tok.upper())
            else:
                leading_salts.append(tok.upper())
            continue
        if not is_base_candidate(tok):
            continue
        base_tokens.append(tok.upper())

    if not base_tokens:
        # truncate fallback: a looser pass that keeps alnum codes
        for idx, tok in enumerate(base_candidates):
            low = tok.lower()
            key = _f6_token_core(tok)
            if tok in {"+", "/", "&"}:
                if base_tokens:
                    base_tokens.append(tok.upper())
                continue
            if low == "as":
                break
            if treat_as_salt(low, idx, base_candidates):
                continue
            if _f6_is_measurement(key):
                continue
            if key in _F6_IGNORE and low not in _F6_SALT_WORDS:
                continue
            if not re.search(r"[a-z]", low):
                continue
            if any(ch.isdigit() for ch in low):
                if _F6_ALNUM_RE.fullmatch(low):
                    base_tokens.append(tok.upper())
                continue
            base_tokens.append(tok.upper())
    if not base_tokens and leading_salts:
        base_tokens = leading_salts

    # trim trailing salt words off the base — unless the base is
    # entirely salt words (pure compounds stay whole)
    if base_tokens and any(t.lower() not in _F6_SALT_WORDS for t in base_tokens):
        trimmed: list[str] = []
        while base_tokens and base_tokens[-1].lower() in _F6_SALT_WORDS:
            tok = base_tokens.pop()
            if tok.lower() not in {"salt", "salts"}:
                trimmed.append(tok.upper())
        salts.extend(reversed(trimmed))

    base = " ".join(base_tokens).strip().upper() if base_tokens else ""
    unique: list[str] = []
    seen: set[str] = set()
    for tok in salts:
        if tok and tok not in seen:
            seen.add(tok)
            unique.append(tok)
    if not base and unique:
        base, unique = " ".join(unique), []
    if not base and name:
        base = name.strip().upper()
    return base, unique


def detect_compound_salts_py(parts: list[str]) -> list[str]:
    """F18: merge adjacent single-ion components into one compound
    ('SODIUM','CHLORIDE' → 'SODIUM CHLORIDE')."""
    out: list[str] = []
    i = 0
    while i < len(parts):
        cur = parts[i]
        if (
            i + 1 < len(parts)
            and len(cur.split()) == 1
            and len(parts[i + 1].split()) == 1
            and cur.lower() in PURE_IONS
            and parts[i + 1].lower() in PURE_IONS
        ):
            out.append(f"{cur} {parts[i + 1]}")
            i += 2
        else:
            out.append(cur)
            i += 1
    return out


# Multiword-generic protection: 'clavulanic acid', 'amino acids' etc.
# must survive stopword filtering ('acid'/'and' are stopwords in the
# full vocabulary) — the reference extracts multiword generics FIRST
# (normalize_tokens, tokenizer.py:1004-1014). Longest-first; the
# underscore sentinel can't occur post-normalize_text (stripped there).
def _multiword_variants() -> list[str]:
    # protection happens AFTER normalize_text, so each entry must be
    # matchable in normalized space: add the normalized spelling and
    # the apostrophe-less one ("lactated ringer's" → "lactated
    # ringer s" / "lactated ringers")
    out: set[str] = set()
    for m in MULTIWORD_GENERICS:
        out.add(m)
        out.add(normalize_text_py(m))
        out.add(m.replace("'", ""))
    return sorted((v for v in out if " " in v), key=len, reverse=True)


_MULTIWORD_PROTECT = tuple(
    (re.compile(r"\b" + re.escape(m) + r"\b"), m.replace(" ", "_"))
    for m in _multiword_variants()
)


def _protect_multiwords(s: str) -> str:
    for rx, repl in _MULTIWORD_PROTECT:
        if rx.search(s):
            s = rx.sub(repl, s)
    return s


# Residual quantity tokens the dose regexes leave behind when glued
# into ONE token ('2meq/ml', '20ml/vial', '0.5ml') plus standalone
# unit words with no number ('... 5 G, GRAM'). Digit-LEADING with a
# unit-shaped tail only — digit-leading drug names ('5-fluorouracil')
# keep their non-unit tail and stay. Reference behavior: its token
# categorizer sends all of these to the DOSE bucket
# (tokenizer.py:1037-1110), so they never reach generic extraction.
_UNIT_WORD = r"(?:mcg|ug|mg|gm?|grams?|kg|iu|units?|meq|mmol|ml|l|cc)"
_PACK_WORD = (
    r"(?:vial|amp(?:ule)?|bottle|bot|tab(?:let)?|cap(?:sule)?|dose|"
    r"actuation|spray|puff|sachet|drop|nebule)"
)
_QTY_TOKEN_PATTERN = (
    rf"^[0-9][0-9.]*{_UNIT_WORD}?(?:/(?:{_UNIT_WORD}|{_PACK_WORD}))?$"
)
_QTY_TOKEN_RE = re.compile(_QTY_TOKEN_PATTERN)
# Standalone unit words dropped from combination components — the
# reference's full UNIT_TOKENS vocabulary (unified_constants.py:827-846,
# lowercased). A unit can be orphaned when the dose regex consumes its
# number (e.g. '200 mg/5 ml': the ratio eats '200 mg/5', stranding
# 'ml'), so the bare words must be in the drop set, not only inside
# quantity patterns.
_UNIT_TOKENS = frozenset(
    {
        "mg", "g", "mcg", "ug", "kg", "gms", "gm", "gram", "grams",
        "ml", "l", "cc",
        "iu", "unit", "units", "lsu", "mu",
        "meq", "meqs", "mol", "mmol",
        "pct", "%",
        "mg/ml", "mcg/ml", "iu/ml", "mg/5ml", "mg/l",
    }
)


def _clean_component(part: str) -> str:
    """Drop dose expressions, form/route/packaging tokens, residual
    quantity tokens, and standalone unit words from one combination
    component."""
    s = _DOSE_ALL_RE.sub(" ", part)
    kept = [
        t
        for t in s.split()
        if t not in STOPWORDS
        and t not in _FORM_ROUTE_TOKENS
        and t not in _UNIT_TOKENS
        and not re.fullmatch(r"[0-9.]+", t)
        and not _QTY_TOKEN_RE.match(t)
    ]
    return " ".join(kept).strip()


def normalize_generic_combination_py(text: str | None) -> str:
    """Combination normalization (live extract_generic_tokens
    semantics, tokenizer.py:1113-1392): normalize, strip doses/forms,
    split components on IN / WITH / AND / '+', join ' + ' uppercased.

    'DEXTROSE IN LACTATED RINGERS WITH POTASSIUM CHLORIDE AND
    MAGNESIUM SULFATE' → 'DEXTROSE + LACTATED RINGERS + POTASSIUM
    CHLORIDE + MAGNESIUM SULFATE'. Components are NOT merged across
    '+': the LIVE reference keeps 'SODIUM + CHLORIDE' as two salt
    tokens (each then strips to nothing downstream) — the
    'SODIUM CHLORIDE' merge in tests/test_generic_normalization.py:47
    belongs to the legacy normalizer in debug/old_files, not the
    production tagger (adjudicated by the row-level differential run,
    scripts/diff_reference.py). F18's ADJACENT-token compound merge
    ('SODIUM CHLORIDE' without '+') survives via multiword
    protection."""
    if not text:
        return ""
    # Parenthetical spans (brands, salt markers, packaging codes like
    # "(OP)") are extracted separately (F8) and excluded from generic
    # extraction (reference tokenizer.py:1113-1392 exclusion contexts).
    s = _protect_multiwords(normalize_text_py(re.sub(r"\([^)]*\)", " ", text)))
    raw_parts = re.split(r"\bin\b|\bwith\b|\band\b|\+", s)
    parts = [p for p in (_clean_component(p) for p in raw_parts) if p]
    seen: set[str] = set()
    uniq = []
    for p in parts:
        if p not in seen:
            seen.add(p)
            uniq.append(p)
    return " + ".join(p.replace("_", " ").upper() for p in uniq)


def build_combination_keys_py(components: list[str]) -> list[str]:
    """F30: lookup-key variants for a combination — sorted/original/
    reversed ' + ' joins, 'A AND B', Oxford 'A, B AND C', and the
    space-join — all lowercased for the unified-reference join."""
    comps = [c.strip().lower() for c in components if c and c.strip()]
    comps = list(dict.fromkeys(comps))
    if not comps:
        return []
    keys = []

    def add(k: str) -> None:
        if k and k not in keys:
            keys.append(k)

    add(" + ".join(sorted(comps)))
    add(" + ".join(comps))
    add(" + ".join(reversed(comps)))
    if len(comps) == 2:
        add(f"{comps[0]} and {comps[1]}")
    elif len(comps) > 2:
        add(", ".join(comps[:-1]) + f" and {comps[-1]}")
    add(" ".join(comps))
    return keys


# ---------------------------------------------------------------------------
# pandas_udf wrappers (Arrow-batched; schema'd structs, not dicts)
# ---------------------------------------------------------------------------
BASE_SALTS_SCHEMA = T.StructType(
    [
        T.StructField("base", T.StringType()),
        T.StructField("salts", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(BASE_SALTS_SCHEMA)
def extract_base_and_salts(s: pd.Series) -> pd.DataFrame:
    res = s.map(extract_base_and_salts_py)
    return pd.DataFrame({"base": res.map(lambda t: t[0]), "salts": res.map(lambda t: t[1])})


@F.pandas_udf(T.StringType())
def normalize_generic_combination(s: pd.Series) -> pd.Series:
    return s.map(normalize_generic_combination_py)


@F.pandas_udf(T.ArrayType(T.StringType()))
def build_combination_keys(comps: pd.Series) -> pd.Series:
    return comps.map(lambda c: build_combination_keys_py(list(c) if c is not None else []))


# ---------------------------------------------------------------------------
# Native (JVM/codegen) combination normalizer — the tagger's hot path.
# Same semantics as normalize_generic_combination_py, pinned by
# tests/test_native_combination_parity.py over golden cases AND a
# generated corpus. Python in the loop was the measured bottleneck of
# the 146K-row flow; this keeps extraction whole-stage-codegen'd.
# ---------------------------------------------------------------------------
def normalize_generic_combination_native(col):
    """Column twin of normalize_generic_combination_py (SURVEY §2.7):
    strip parentheticals → normalize_text → drop dose expressions →
    split components on IN/WITH/AND/+ → per-component token filtering
    (stopwords, form/route vocab, bare numbers) → order-preserving
    dedupe → ' + ' join, uppercased. No cross-'+' ion merge — live
    reference parity (see the Python twin's docstring).

    Driver cost: the expression embeds a ~450-literal InSet plus
    dozens of regexp stages — ~0.6 s of py4j round trips per build at
    steady state (r11 measured), paid per tag() call. Pass the column
    NAME (a str) to get the once-per-SparkContext memoized tree
    (functions/exprcache); a Column input always builds fresh."""
    from pyspark.sql import functions as F

    if isinstance(col, str):
        from .exprcache import cached_value

        return cached_value(
            "combo_native", col, lambda: _combo_native_build(F.col(col))
        )
    return _combo_native_build(col)


def _combo_native_build(c):
    from pyspark.sql import Column, functions as F

    from .text import normalize_text

    s = F.regexp_replace(c, r"\([^)]*\)", " ")
    s = normalize_text(s)
    # multiword-generic protection — same patterns as the Python twin
    for rx, repl in _MULTIWORD_PROTECT:
        s = F.regexp_replace(s, rx.pattern, repl)
    # ONE alternation pass exactly like the twin's _DOSE_ALL_RE.sub —
    # four sequential passes are NOT equivalent: in
    # '10 X 500 MG/5 ML' the twin's leftmost-wins alternation lets the
    # PACK arm consume '10 X 500 MG' before the RATIO arm ever runs,
    # while a ratio-first sequential pass eats 'MG/5 ML' out of the
    # middle and leaves a stray 'X' token (differential-caught)
    s = F.regexp_replace(s, _DOSE_ALL_RE.pattern, " ")

    # isin over a big literal list compiles to a hashed InSet —
    # O(1) per token, vs O(|vocab|) for array_contains (the full
    # vocabulary is ~450 drop tokens)
    drop_tokens = sorted(
        {t for t in STOPWORDS} | {t for t in _FORM_ROUTE_TOKENS} | set(_UNIT_TOKENS)
    )

    def clean_part(p: Column) -> Column:
        toks = F.filter(
            F.split(F.trim(p), " +"),
            lambda t: (t != "")
            & ~t.isin(drop_tokens)
            & ~t.rlike("^[0-9.]+$")
            # residual glued quantity tokens — same pattern as the
            # Python twin (_QTY_TOKEN_RE); Java regex syntax-compatible
            & ~t.rlike(_QTY_TOKEN_PATTERN),
        )
        return F.array_join(toks, " ")

    parts = F.filter(
        F.transform(
            F.split(s, r"\bin\b|\bwith\b|\band\b|\+"), clean_part
        ),
        lambda p: p != "",
    )

    # order-preserving dedupe (no cross-'+' ion merge — see docstring)
    empty = F.array().cast("array<string>")
    deduped = F.aggregate(
        parts,
        empty,
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
    return F.upper(F.regexp_replace(F.array_join(deduped, " + "), "_", " "))


# ---------------------------------------------------------------------------
# F20: token categorization (reference categorize_tokens,
# tokenizer.py:1037-1110) — buckets each token into
# generic/salt/dose/form/route/other with the element-drug first-token
# rule and the strict generic validation gate.
# ---------------------------------------------------------------------------

from .constants import ELEMENT_DRUGS, UNIT_TOKENS  # noqa: E402

_CAT_DOSE_RE = re.compile(
    r"(\d+(?:\.\d+)?)\s*(mg|g|mcg|ug|ml|l|iu|unit|units|pct|%|mg/ml|mcg/ml|iu/ml|mg/5ml)",
    re.IGNORECASE,
)
_GENERIC_REJECTS = frozenset({"generic", "op", "gram", "100s"})


def categorize_tokens_py(tokens: list[str]) -> dict[str, dict[str, int]]:
    cats: dict[str, dict[str, int]] = {
        k: {} for k in ("generic", "salt", "dose", "form", "route", "other")
    }

    def bump(cat: str, tok: str) -> None:
        cats[cat][tok] = cats[cat].get(tok, 0) + 1

    lowers = [t.lower() for t in tokens]
    for i, low in enumerate(lowers):
        up = tokens[i].upper()
        if _CAT_DOSE_RE.match(low) or low in UNIT_TOKENS:
            bump("dose", up)
        elif low in FORM_CANON:
            bump("form", FORM_CANON[low].upper())
        elif low in ROUTE_CANON:
            bump("route", ROUTE_CANON[low].upper())
        elif low in SALT_TOKENS:
            # element drugs are the GENERIC when they lead the name.
            # .index(low) == 0 (first OCCURRENCE, not this position) is
            # deliberate reference parity — tokenizer.py:1079 does
            # `tokens.index(tok)`, so a repeated element token later in
            # the list ('CALCIUM CARBONATE + CALCIUM LACTATE') is also
            # counted as generic there; do not "fix" to `i == 0`
            if low in ELEMENT_DRUGS and lowers.index(low) == 0:
                bump("generic", up)
            else:
                bump("salt", up)
        elif up.replace(".", "").isdigit():
            bump("dose", up)
        elif low in STOPWORDS:
            bump("other", up)
        elif (
            len(up.strip()) < 2
            or not any(c.isalpha() for c in up)
            or "*" in up
            or low in _GENERIC_REJECTS
        ):
            bump("other", up)
        else:
            bump("generic", up)
    return cats


# ---------------------------------------------------------------------------
# F19: normalize_tokens (reference tokenizer.py:957-1034) — the step
# between split_with_parentheses and categorize_tokens in the
# reference's token chain: extract known multiword generics as single
# tokens (skipping '( as ...)' salt-pattern content and trailing
# DRUG+SALT suffixes), then split the remainder, strip punctuation,
# and DROP STOPWORDS. The stopword drop is load-bearing for the
# form/route output columns: the reference's STOPWORDS contain the
# full form words (TABLET, CAPSULE, VIAL, SUSPENSION, ...) but not
# their abbreviations (TAB, CAPS, SUSP), so 'X 1 g VIAL' categorizes
# with form=None while 'X 500MG TAB' gets form=TABLET — and Part 4's
# form gate inherits exactly that asymmetry (diff-adjudicated: the
# dense-annex differential caught the engine blocking VIAL-row
# bridges the reference allows because its annex form is None).
# ---------------------------------------------------------------------------
_TRAILING_SALT_WORDS = {
    "SODIUM PHOSPHATE", "DISODIUM PHOSPHATE", "SODIUM SUCCINATE",
    "SODIUM SULFATE", "POTASSIUM PHOSPHATE", "CALCIUM PHOSPHATE",
    "MAGNESIUM SULFATE", "SODIUM CHLORIDE",
}
_SALT_AS_RE = re.compile(r"\(\s*as\s+([^)]+)\)", re.IGNORECASE)
_NORM_STRIP_CHARS = ".,;:!?\"'()[]{}"


class SubstringMatcher:
    """Multi-pattern substring matcher (character trie, walked from
    every text position): ``find(text)`` returns the SET of patterns
    that occur as bare substrings of ``text`` — the exact predicate
    the multiword loops below test with ``pattern in text``, but in
    ~O(len(text)) dict probes instead of O(|patterns|) scans per
    text. r10 scale fix: the per-text linear scan of the multiword-
    generics vocabulary (~8K dim names at sf0.1, Heaps-growing with
    the corpus) was the single largest CPU item of the whole tagger
    (18.6 s of per-text ``sorted`` + 10 s of per-text substring scans
    for 20K texts — ~29,000 CPU-s at the 15M-text scale point).

    A trie-per-position walk is used instead of full Aho-Corasick:
    drug texts are short (~25-60 chars) and most positions fall off
    the trie at depth 1, so the scan is equally fast while the build
    (which each Python worker pays once per broadcast vocabulary)
    skips the BFS failure-link pass entirely."""

    __slots__ = ("_root",)
    _END = "\0"  # terminal marker; drug vocabulary never contains NUL

    def __init__(self, patterns) -> None:
        root: dict = {}
        end = self._END
        for p in patterns:
            d = root
            for ch in p:
                nxt = d.get(ch)
                if nxt is None:
                    nxt = {}
                    d[ch] = nxt
                d = nxt
            d[end] = p
        self._root = root

    def find(self, text: str) -> set[str]:
        root = self._root
        end = self._END
        hits: set[str] = set()
        n = len(text)
        for i in range(n):
            d = root.get(text[i])
            j = i + 1
            while d is not None:
                p = d.get(end)
                if p is not None:
                    hits.add(p)
                if j >= n:
                    break
                d = d.get(text[j])
                j += 1
        return hits


# Prep cache for multiword-generics sets: (len-desc sorted tuple,
# SubstringMatcher), keyed on a content fingerprint (len, hash) with a
# full equality verify; the entry holds the last object seen, so the
# repeat rows of one call pass on identity and skip the O(N) compare.
# Long-lived Python workers serve MANY tagger calls (bench loops, test
# suites, per-trigger streaming), and rebuilding an 8K-pattern trie
# per call per worker measured ~19 CPU-s per tag() at sf0.1.
# frozenset caches its hash, so the probe is O(1) per row. Content
# keying also makes the equal-length tie order of the sort a function
# of CONTENT, not of which equal set object arrived first.
_MW_PREP_CACHE: dict[tuple, tuple] = {}
_MW_PREP_MAX = 8
# below this many patterns the trie build costs more than the plain
# scans it saves
_MW_MATCHER_MIN_PATTERNS = 64


def multiword_prep(multiword) -> tuple[tuple[str, ...], "SubstringMatcher | None"]:
    try:
        key = (len(multiword), hash(multiword))
    except TypeError:  # unhashable input: build uncached
        key = None
    hit = _MW_PREP_CACHE.get(key)
    if hit is not None and hit[0] is multiword:
        return hit[1], hit[2]
    if hit is not None and hit[0] == multiword:
        # an equal new object: re-point the entry so its later rows
        # take the identity path
        _MW_PREP_CACHE[key] = (multiword, hit[1], hit[2])
        return hit[1], hit[2]
    ordered = tuple(sorted(multiword, key=len, reverse=True))
    matcher = (
        SubstringMatcher(ordered) if len(ordered) >= _MW_MATCHER_MIN_PATTERNS else None
    )
    if key is not None:
        if len(_MW_PREP_CACHE) >= _MW_PREP_MAX:
            _MW_PREP_CACHE.clear()
        _MW_PREP_CACHE[key] = (multiword, ordered, matcher)
    return ordered, matcher


def normalize_tokens_py(
    tokens: list[str],
    drop_stopwords: bool = True,
    multiword_generics: frozenset[str] | tuple[str, ...] = (),
    original_text: str | None = None,
) -> list[str]:
    """Reference tokenizer.py:957-1034 twin (see block comment)."""
    result: list[str] = []
    text = " ".join(tokens).upper()
    salt_pattern_content: set[str] = set()
    if original_text:
        for m in _SALT_AS_RE.finditer(original_text):
            salt_pattern_content.add(m.group(1).strip().upper())

    def is_trailing_salt(mwg: str) -> bool:
        if not original_text or mwg not in _TRAILING_SALT_WORDS:
            return False
        orig = original_text.upper()
        pos = orig.find(mwg)
        if pos < 0:
            return False
        before = orig[:pos].strip()
        if before and len(before.split()) >= 1:
            if before.split()[-1] not in {
                "SODIUM", "DISODIUM", "POTASSIUM", "CALCIUM", "MAGNESIUM"
            }:
                return True
        return False

    # RAW substring match + replace-ALL + single append is deliberate
    # reference parity (tokenizer.py:1005-1014 does exactly this):
    # 'SALICYLIC ACID' DOES match inside 'ACETYLSALICYLIC ACID' and a
    # repeated multiword is appended once — unlike the tagger's
    # word-boundary multiword_hits (plans/tagger.py:127), which twins
    # the DIFFERENT matcher in tokenizer.py:1172. Do not "fix" either.
    #
    # r10: the scan rides multiword_prep — the sorted order is the
    # same object's sort cached once per worker, and the automaton's
    # `mwg in present` is exactly `mwg in text` because `present` is
    # recomputed from the MUTATED text after every replacement (a
    # replace can both destroy and CREATE substring matches for
    # later-order patterns; refreshing keeps the single-pass loop
    # bit-identical to the plain scan).
    if multiword_generics:
        ordered_mw, matcher = multiword_prep(multiword_generics)
        present = matcher.find(text) if matcher is not None else None
        if present is None or present:
            for mwg in ordered_mw:
                if (mwg not in present) if present is not None else (mwg not in text):
                    continue
                if any(mwg in sc or sc in mwg for sc in salt_pattern_content):
                    continue
                if is_trailing_salt(mwg):
                    continue
                result.append(mwg)
                text = text.replace(mwg, " ")
                if present is not None:
                    present = matcher.find(text)

    for tok in re.split(r"[\s,;]+", text):
        if not tok:
            continue
        tok = tok.strip(_NORM_STRIP_CHARS).upper()
        if not tok:
            continue
        if drop_stopwords and tok.lower() in STOPWORDS:
            continue
        result.append(tok)
    return result


# ---------------------------------------------------------------------------
# F18 (reference form): tokenizer.detect_compound_salts
# (tokenizer.py:929-954) — join ADJACENT tokens whose pair is a known
# PURE_SALT_COMPOUND, emitting the UPPER compound. Distinct from the
# combination extractor's ion-merge twin above (detect_compound_
# salts_py joins any two PURE_IONS and keeps case — that is the shape
# the combination normalizer chain was adjudicated with); the
# extract_generic_tokens twin below needs the reference's own rule.
# ---------------------------------------------------------------------------
def detect_compound_salts_ref_py(tokens: list[str]) -> list[str]:
    out: list[str] = []
    skip = False
    for i, tok in enumerate(tokens):
        if skip:
            skip = False
            continue
        if i + 1 < len(tokens):
            compound = f"{tok.upper()} {tokens[i + 1].upper()}"
            if compound in _PURE_SALT_UPPER:
                out.append(compound)
                skip = True
                continue
        out.append(tok)
    return out


# ---------------------------------------------------------------------------
# extract_generic_tokens twin (reference tokenizer.py:1113-1393) —
# the FULL per-text token extractor: multiword pre-pass (positional
# salt-pattern ranges, trailing-salt gate, substring dedup, text-order
# insert), the split→compound→normalize→categorize chain, the
# PURE_SALT_COMPOUNDS re-add, the '+'-combination block, the ' IN '
# IV reorder, and the form-modifier tail filter. r10: the doc-enrich
# crossing previously APPROXIMATED this composition (multiword_hits +
# word_expand + merge_clean); the corpus fuzz's double-pure-salt IV
# shapes exposed the approximation's clean-pass hole (the reference
# re-runs THIS function on the F15-cleaned name, where a leading
# element-drug token like SODIUM categorizes as a generic), so the
# twin now exists verbatim and is fuzzed directly against the live
# reference (scripts/fuzz_extract_tokens_vs_reference.py).
#
# Deterministic stand-ins for the reference's set-iteration orders
# (PARITY.md classes 2/6): equal-length multiword ties follow the
# content-deterministic multiword_prep order; pure-salt re-adds
# follow first text occurrence, then lexical.
# ---------------------------------------------------------------------------
_EXTRACT_TRAIL_CATIONS = frozenset({"SODIUM", "DISODIUM", "POTASSIUM", "CALCIUM", "MAGNESIUM"})
_EXTRACT_SKIP_COMBO = frozenset({"DILUENT", "SOLVENT", "DOSE", "DOSES", "VIAL", "AMPULE", "SYRINGE"})
_EXTRACT_COMBO_FORMS = frozenset({"TABLET", "CAPSULE", "SOLUTION", "INJECTION", "SYRUP", "OINTMENT", "CREAM"})
_EXTRACT_IN_SKIP = frozenset({"SOLUTION", "BOTTLE", "BAG", "VIAL", "AMPULE", "L", "ML", "WATER"})
_EXTRACT_FORM_WORDS = frozenset({
    "CAPSULE", "CAPSULES", "TABLET", "TABLETS", "SOLUTION", "SOLUTIONS",
    "SUSPENSION", "CREAM", "OINTMENT", "GEL", "LOTION", "POWDER",
})
_STOPWORDS_UPPER = frozenset(w.upper() for w in STOPWORDS)
_UNIT_UPPER = frozenset(u.upper() for u in UNIT_TOKENS)
_PSC_UPPER_SORTED = sorted(_PURE_SALT_UPPER)
_SALT_AS_RANGE_RE = re.compile(r"\(\s*as\s+[^)]+\)", re.IGNORECASE)
_EMPTY_PAREN_RE = re.compile(r"\(\s*\)")


def extract_generic_tokens_py(
    text: str | None,
    multiword_generics: frozenset[str] = frozenset(),
) -> tuple[list[str], list[str]]:
    """Returns (all_tokens, generic_tokens) — tokenizer.py:1113-1393."""
    if not text:
        return [], []
    text_upper = text.upper()

    salt_ranges = [(m.start(), m.end()) for m in _SALT_AS_RANGE_RE.finditer(text_upper)]

    def in_salt_range(pos: int, length: int) -> bool:
        end = pos + length
        return any(pos >= a and end <= b for a, b in salt_ranges)

    def is_trailing_salt_suffix(mw: str) -> bool:
        if mw not in _TRAILING_SALT_WORDS:
            return False
        pos = text_upper.find(mw)
        if pos < 0:
            return False
        before = text_upper[:pos].strip()
        if before and len(before.split()) >= 1:
            if " IN " in before:
                return False
            if before.split()[-1] not in _EXTRACT_TRAIL_CATIONS:
                return True
        return False

    # --- multiword pre-pass (1126-1198): bare-substring, longest-first
    matched_multiword: list[tuple[int, str]] = []
    if multiword_generics:
        ordered, matcher = multiword_prep(multiword_generics)
        present = matcher.find(text_upper) if matcher is not None else None
        for mw in ordered:
            if (mw not in present) if present is not None else (mw not in text_upper):
                continue
            pos = text_upper.find(mw)
            if in_salt_range(pos, len(mw)):
                continue
            if is_trailing_salt_suffix(mw):
                continue
            if any(mw in existing for _, existing in matched_multiword):
                continue
            matched_multiword.append((pos, mw))
        matched_multiword.sort(key=lambda x: x[0])

    # --- tokenize chain (1192-1198)
    raw_tokens = split_with_parentheses_py(text)
    raw_tokens = detect_compound_salts_ref_py(raw_tokens)
    tokens = normalize_tokens_py(
        raw_tokens, drop_stopwords=True,
        multiword_generics=multiword_generics, original_text=text,
    )
    generic_tokens = list(categorize_tokens_py(tokens)["generic"].keys())

    # --- insert matched multiwords at text positions (1200-1212)
    for pos, mw in matched_multiword:
        if mw not in generic_tokens:
            inserted = False
            for i, gt in enumerate(generic_tokens):
                if text_upper.find(gt) > pos:
                    generic_tokens.insert(i, mw)
                    inserted = True
                    break
            if not inserted:
                generic_tokens.append(mw)

    # --- PURE_SALT_COMPOUNDS re-add (1214-1231); engine order rule =
    # first text occurrence then lexical (PARITY class 6)
    salt_content = {
        m.group(1).strip() for m in _SALT_AS_RE.finditer(text_upper)
    }
    for psc in sorted(
        (p for p in _PSC_UPPER_SORTED if p in text_upper),
        key=lambda p: (text_upper.find(p), p),
    ):
        if psc in generic_tokens:
            continue
        if any(psc in sc for sc in salt_content):
            continue
        if is_trailing_salt_suffix(psc):
            continue
        generic_tokens.append(psc)

    # --- '+' combination block (1234-1293)
    if "+" in text_upper:
        added_parts: list[str] = []
        for part in text_upper.split("+"):
            part = part.strip()
            pw = part.split()
            if pw and pw[0] in _EXTRACT_SKIP_COMBO:
                continue
            part_clean = _SALT_AS_RANGE_RE.sub("", part)
            part_clean = _EMPTY_PAREN_RE.sub("", part_clean)
            all_words: list[str] = []
            for word in part_clean.split():
                if word and not any(c.isdigit() for c in word) and word not in _UNIT_UPPER:
                    if word not in _EXTRACT_COMBO_FORMS:
                        all_words.append(word)
                else:
                    break
            full_combo = " ".join(all_words)
            if full_combo in multiword_generics:
                if full_combo and full_combo not in generic_tokens:
                    generic_tokens.append(full_combo)
                    added_parts.append(full_combo)
                continue
            words: list[str] = []
            for word in all_words:
                if word in _STOPWORDS_UPPER or word in _SALT_UPPER:
                    if len(all_words) == 1:
                        words.append(word)
                else:
                    words.append(word)
            if words:
                combo_part = " ".join(words)
                if combo_part and combo_part not in generic_tokens:
                    generic_tokens.append(combo_part)
                    added_parts.append(combo_part)
        if len(added_parts) >= 2:
            generic_tokens = [
                g for g in generic_tokens if "+" not in g and not g.startswith("+")
            ]

    # --- ' IN ' IV reorder (1296-1361)
    if " IN " in text_upper and "+" not in text_upper:
        parts = text_upper.split(" IN ", 1)
        if len(parts) == 2:
            active_words = [
                w for w in parts[0].strip().split()
                if w and not any(c.isdigit() for c in w)
                and w not in _UNIT_UPPER and w not in _EXTRACT_IN_SKIP
            ]
            active_name = " ".join(active_words) if active_words else None
            base_words: list[str] = []
            started = False
            for word in parts[1].strip().split():
                if not started:
                    if any(c.isdigit() for c in word) or word in _UNIT_UPPER:
                        continue
                    started = True
                if word and word not in _EXTRACT_IN_SKIP:
                    if any(c.isdigit() for c in word) and started:
                        break
                    if word in _UNIT_UPPER:
                        break
                    base_words.append(word)
                else:
                    break
            base_name = " ".join(base_words) if base_words else None
            if active_name or base_name:
                new_order: list[str] = []
                if active_name:
                    if active_name in generic_tokens:
                        generic_tokens.remove(active_name)
                    new_order.append(active_name)
                if base_name:
                    if base_name in generic_tokens:
                        generic_tokens.remove(base_name)
                    new_order.append(base_name)
                new_order.extend(generic_tokens)
                generic_tokens = new_order

    # --- form-modifier tail filter (1363-1391)
    form_pos = -1
    for fw in _EXTRACT_FORM_WORDS:
        pos = text_upper.find(fw)
        if pos >= 0 and (form_pos < 0 or pos < form_pos):
            form_pos = pos
    if form_pos >= 0:
        filtered = [
            g for g in generic_tokens
            if not (
                g.upper() in FORM_MODIFIER_IGNORE
                and text_upper.find(g.upper()) > form_pos
            )
        ]
        if filtered:
            generic_tokens = filtered

    return tokens, generic_tokens


# ---------------------------------------------------------------------------
# F17: tokenize preserving parenthesized spans (reference
# tokenizer.py:897-926). Standalone twin — the combination extractors
# above strip parentheticals instead; this is the general tokenizer
# the reference exposes.
# ---------------------------------------------------------------------------
_PAREN_SPAN_RE = re.compile(r"\([^)]*\)")


def split_with_parentheses_py(text: str | None) -> list[str]:
    """F17: split on whitespace/comma/semicolon, but keep each balanced
    '(...)' span (commas and spaces inside included) as ONE token;
    unbalanced parens stay glued to their neighboring characters."""
    if not text:
        return []
    collapsed = " ".join(text.split())
    spans = iter(_PAREN_SPAN_RE.findall(collapsed))
    toks = re.split(r"[\s,;]+", _PAREN_SPAN_RE.sub(" \x00 ", collapsed))
    return [next(spans) if t == "\x00" else t for t in toks if t]


# ---------------------------------------------------------------------------
# F29: plural → singular retry (reference lookup.py:52-94). Applied
# when a token misses every lookup tier — 'TABLETS OF X' style plurals
# and plural generic names retry in singular form.
# ---------------------------------------------------------------------------


def singularize_py(word: str) -> str:
    w = word.upper()
    if w.endswith("IES"):
        return w[:-3] + "Y"
    if w.endswith("ES") and len(w) > 3:
        if w[-3] in "SXZH":
            return w[:-2]
        return w[:-1]
    if w.endswith("S") and not w.endswith("SS"):
        return w[:-1]
    return w


def apply_synonym_py(generic: str, synonyms: dict[str, str]) -> str:
    """Explicit synonym first, then singular-first-word retry — the
    singular form is returned even without a synonym hit so the exact
    lookup can retry with it (lookup.py:69-94)."""
    g = generic.upper()
    if g in synonyms:
        return synonyms[g]
    words = g.split()
    if words and words[0].endswith("S") and not words[0].endswith("SS"):
        singular = " ".join([singularize_py(words[0])] + words[1:])
        return synonyms.get(singular, singular)
    return g
