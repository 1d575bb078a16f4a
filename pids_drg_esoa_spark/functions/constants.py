"""Vocabulary layer: the domain constants as DATA, not code.

The reference keeps ~2K lines of constant tables in
unified_constants.py (stopwords :39-99, salt tokens :127-161,
FORM_CANON :326-486, ROUTE_CANON :492-545, FORM_TO_ROUTES :551-793,
form equivalence :799-820, unit factors :827-856, combination-ATC
patterns :864-896, synonyms :1038-1237, garbage tokens :1016-1031).
The FULL tables are ported as data in vocab_full.py (lowercased to
this repo's normalize-early convention) and re-exported here under
the original names; repo-specific additions are listed explicitly.

At scale these ship to executors once as broadcast variables /
literal maps inside expressions — never a per-row Python closure.
"""

from __future__ import annotations

from .vocab_full import (
    FORM_CANON_FULL,
    MULTIWORD_GENERICS_FULL,
    PURE_SALT_COMPOUNDS_FULL,
    ROUTE_CANON_FULL,
    SALT_TOKENS_FULL,
    STOPWORDS_FULL,
)

# Tokens that never carry meaning for generic-name matching
# (reference GARBAGE_TOKENS / packaging stopwords).
STOPWORDS: frozenset[str] = frozenset(STOPWORDS_FULL)

# Salt / ester descriptors that attach to a base molecule
# (reference SALT_TOKENS text_utils.py context; used by
# extract_base_and_salts F6 and strip_salt_suffix F22).
SALT_TOKENS: frozenset[str] = frozenset(SALT_TOKENS_FULL)

# Cations that are salts ONLY when preceded by 'as' — standalone they
# are the drug itself (FERROUS SULFATE, CALCIUM CARBONATE). Reference
# SALT_CATIONS (unified_constants, via text_utils SPECIAL_SALT_TOKENS).
SALT_CATIONS: frozenset[str] = frozenset(
    "aluminium aluminum ammonium barium calcium copper ferric ferrous "
    "iron lithium magnesium manganese potassium silver sodium zinc".split()
)

# Connectors that END a salt-descriptor tail after 'as' (reference
# SALT_TAIL_BREAK_TOKENS, lowercased in text_utils.py:68).
SALT_TAIL_BREAK: frozenset[str] = frozenset({"&", "+", "/", "and", "with"})


# Dosage-form canonicalization: the FULL reference FORM_CANON
# (lowercased), plus repo aliases the reference resolves elsewhere.
FORM_CANON: dict[str, str] = dict(FORM_CANON_FULL)
FORM_CANON.update({
    "oint": "ointment",
})

# Route canonicalization: the FULL reference ROUTE_CANON (lowercased),
# plus repo aliases ('Inj.:'-style labels expand via
# ROUTE_LABEL_EXPANSION below).
ROUTE_CANON: dict[str, str] = dict(ROUTE_CANON_FULL)
ROUTE_CANON.update({
    "orally": "oral",
    "inhaled": "inhalation",
    "top": "topical",
})

# Multi-route label expansion ("Inj.:" → parenteral family) — the
# EXACT key set of the reference's map_route_token table
# (routes_forms.py:23-49, keys lowercased since prepare_pnf looks up
# lower(trim(Route))). Round-7 repair: this table carried 11 keys
# (some invented, e.g. 'im:'/'iv/im:', which the reference does NOT
# recognize → []) vs the reference's 19; unknown labels now yield a
# NULL route row (explode_outer), the reference's pandas-explode-[]
# behavior, instead of falling back to the lowered raw label. Pinned
# by tests/test_reference_vocab_parity.py.
ROUTE_LABEL_EXPANSION: dict[str, tuple[str, ...]] = {
    "oral:": ("oral",),
    "oral/tube feed:": ("oral",),
    "inj.:": ("intravenous", "intramuscular", "subcutaneous"),
    "iv:": ("intravenous",),
    "iv/sc:": ("intravenous", "subcutaneous"),
    "sc:": ("subcutaneous",),
    "subdermal:": ("subcutaneous",),
    "inhalation:": ("inhalation",),
    "topical:": ("topical",),
    "patch:": ("transdermal",),
    "ophthalmic:": ("ophthalmic",),
    "intraocular:": ("ophthalmic",),
    "otic:": ("otic",),
    "nasal:": ("nasal",),
    "rectal:": ("rectal",),
    "vaginal:": ("vaginal",),
    "sublingual:": ("sublingual",),
    "oral antiseptic:": ("oral",),
    "oral/inj.:": ("oral", "intravenous", "intramuscular", "subcutaneous"),
}

# Form → plausible routes (reference FORM_TO_ROUTES), for route
# imputation when the text names only a form.
FORM_TO_ROUTES: dict[str, tuple[str, ...]] = {
    "tablet": ("oral",),
    "capsule": ("oral",),
    "syrup": ("oral",),
    "suspension": ("oral",),
    "solution": ("oral", "intravenous", "topical"),
    "injection": ("intravenous", "intramuscular", "subcutaneous"),
    "cream": ("topical",),
    "ointment": ("topical", "ophthalmic"),
    "gel": ("topical",),
    "suppository": ("rectal",),
    "nebule": ("inhalation",),
    "inhaler": ("inhalation",),
    "patch": ("topical",),
    "drops": ("ophthalmic", "otic", "oral"),
    "spray": ("nasal", "topical"),
}

# Interchangeable-form equivalence groups (reference
# FORM_EQUIVALENCE_GROUPS, unified_constants.py:799-817, lowercased;
# note suspension and drops are their OWN groups — different
# preparation).
FORM_EQUIVALENCE_GROUPS: tuple[frozenset[str], ...] = (
    frozenset({"tablet", "capsule", "caplet"}),
    frozenset({"solution", "syrup", "elixir"}),
    frozenset({"suspension"}),
    frozenset({"cream", "ointment", "gel"}),
    frozenset({"injection", "ampule", "vial"}),
    frozenset({"inhaler", "aerosol", "mdi", "nebule", "dpi"}),
    frozenset({"drops"}),
)

# Multiword generic names (reference MULTIWORD_GENERICS): protected as
# single tokens during combination extraction so stopword filtering
# ('acid', 'and', …) can't split them.
MULTIWORD_GENERICS: tuple[str, ...] = tuple(
    sorted(MULTIWORD_GENERICS_FULL, key=len, reverse=True)
)

# Pure salt compounds (reference PURE_SALT_COMPOUNDS): never
# salt-stripped — the compound IS the drug.
PURE_SALT_COMPOUNDS: frozenset[str] = frozenset(PURE_SALT_COMPOUNDS_FULL)

# Mass-unit → mg factors (reference UNIT_TO_MG).
UNIT_TO_MG: dict[str, float] = {
    "mg": 1.0,
    "g": 1000.0,
    "gm": 1000.0,
    "gram": 1000.0,
    "grams": 1000.0,
    "mcg": 0.001,
    "ug": 0.001,
    "µg": 0.001,
    "kg": 1_000_000.0,
    "ng": 0.000001,
}

# Spelling/typo + synonym normalization applied inside normalize_text
# (reference text_utils.py:49-65 typo fixes + SPELLING_SYNONYMS).
TEXT_CANON_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    (r"\bpolymixin\b", "polymyxin"),
    (r"\bhydrochlorde\b", "hydrochloride"),
    (r"\bmicrogram(s)?\b", "mcg"),
    (r"\bcc\b", "ml"),
    (r"\bgm\b", "g"),
    (r"\biv\b", "intravenous"),
    (r"\bparacetamole\b", "paracetamol"),
)

GENERIC_SYNONYMS: dict[str, str] = {
    "acetaminophen": "paracetamol",
    "salbutamol sulphate": "salbutamol sulfate",
    "vitamin c": "ascorbic acid",
    "vitamin b1": "thiamine",
    "vitamin b6": "pyridoxine",
    "vitamin b12": "cyanocobalamin",
    "adrenaline": "epinephrine",
    "noradrenaline": "norepinephrine",
    "frusemide": "furosemide",
    "lignocaine": "lidocaine",
    "pnss": "sodium chloride",
    "d5w": "dextrose",
}

# Combination-ATC detection. The LIVE reference path is scoring.py's
# LOCAL is_combination_atc (scoring.py:42-52): startswith over
# ATC_COMBINATION_PATTERNS (unified_constants.py:864-891) and NOTHING
# else. unified_constants.is_combination_atc (949-963, patterns +
# last-2-chars suffix set) is imported by scoring.py under an alias
# but never called — the suffix rule is dead code in the pipeline, so
# the engine must not apply it (r8 fuzz-caught: the old 5-prefix +
# int-suffix flag called J01CR02/co-amoxiclav non-combo and M03BX55
# combo, both wrong vs the live path).
ATC_COMBINATION_PATTERNS: tuple[str, ...] = (
    "C09DA", "C09DB", "C09DX",
    "C09BA", "C09BB", "C09BX",
    "C07FB", "C07BB", "C07CB",
    "C10BA", "C10BX",
    "A10BD",
    "N02AA55", "N02AA59",
    "N02AJ",
    "N02BE51", "N02BE71",
    "J01CR", "J01RA",
    "R03AL",
    "R03AK",
    "R03DA20", "R03DA55",
    "R03DB",
    "A02BD",
    "M05BB",
)


def is_combination_atc_py(atc_code: str | None) -> bool:
    """Verbatim twin of the reference's live combo-ATC check
    (scoring.py:42-52): empty/None → False, else any-pattern
    startswith on the uppercased code. No suffix rule (see above)."""
    if not atc_code:
        return False
    atc_upper = atc_code.upper()
    for pattern in ATC_COMBINATION_PATTERNS:
        if atc_upper.startswith(pattern):
            return True
    return False

# Part-1 form-word vocabulary (reference routes_forms.py:20:
# FORM_WORDS = sorted(set(FORM_TO_ROUTE.keys()), key=len,
# reverse=True)). parse_form_from_text scans this list in order and
# returns the first word PRESENT ANYWHERE in the text — longest wins,
# NOT first-by-position. The reference's tie order among equal-length
# words is set-iteration order, which is PYTHONHASHSEED-randomized
# and provably flips between reference runs (r8 measurement: three
# in-process imports, three different orders) — so equal-length ties
# are reference-nondeterministic, adjudicated like the Part-1 brand
# keep='first' ties. The engine breaks ties ALPHABETICALLY
# (deterministic); tests pin the SET and the length-descending
# property, not the unpinnable tie order.
P1_FORM_WORDS: tuple[str, ...] = (
    'suspension, extended release', 'injection, extended release',
    'capsule, extended release', 'capsule, delayed release',
    'granule, delayed release', 'tablet, extended release',
    'tablet, delayed release', 'metered dose inhaler',
    'dry powder inhaler', 'aerosol, metered', 'instill.solution',
    'powder, metered', 'inhal.solution', 'spray, metered',
    'inhal.aerosol', 'inhal.powder', 'oral aerosol', 's.c. implant',
    'chewing gum', 'nasal drops', 'nasal spray', 'suppository',
    'suspensions', 'oral drops', 'suspension', 'ear drops',
    'eye drops', 'injection', 'mouthwash', 'solutions', 'dressing',
    'ear drop', 'emulsion', 'eye drop', 'granules', 'ointment',
    'solution', 'aerosol', 'ampoule', 'capsule', 'granule', 'implant',
    'inhaler', 'lamella', 'lozenge', 'pessary', 'shampoo', 'ampule',
    'bottle', 'caplet', 'elixir', 'insert', 'liquid', 'lotion',
    'nebule', 'ovules', 'powder', 'sachet', 'sponge', 'syrups',
    'tablet', 'ampul', 'cloth', 'cream', 'drops', 'enema', 'ovule',
    'paste', 'patch', 'spray', 'stick', 'strip', 'syrup', 'wafer',
    'caps', 'drop', 'film', 'foam', 'ring', 'soap', 'soln', 'supp',
    'susp', 'swab', 'tabs', 'vial', 'wash', 'amp', 'bag', 'cap',
    'dpi', 'gas', 'gel', 'gum', 'inj', 'mdi', 'neb', 'syr', 'tab',
    'vl',
)

# IV diluent canonical classes (reference normalize_diluent
# runners.py:382-414 — water ≠ saline ≠ half-saline ≠ ringers).
DILUENT_CLASSES: dict[str, str] = {
    "water": "WATER",
    "sterile water": "WATER",
    "water for injection": "WATER",
    "0.9% sodium chloride": "NORMAL_SALINE",
    "normal saline": "NORMAL_SALINE",
    "nss": "NORMAL_SALINE",
    "pnss": "NORMAL_SALINE",
    "0.45% sodium chloride": "HALF_SALINE",
    "half saline": "HALF_SALINE",
    "lactated ringers": "LACTATED_RINGERS",
    "ringers lactate": "LACTATED_RINGERS",
    "acetated ringers": "ACETATED_RINGERS",
    "d5w": "D5_WATER",
    "5% dextrose": "D5_WATER",
}

# Form-modifier words dropped from generic tokens when they appear
# AFTER a form word (reference FORM_MODIFIER_IGNORE,
# unified_constants.py:106-120 — 'CAPSULE SOFT GELATIN' must not
# probe GELATIN as a drug). Verbatim; r10, ported for the
# extract_generic_tokens twin's tail filter.
FORM_MODIFIER_IGNORE: frozenset[str] = frozenset({
    "GELATIN", "STARCH", "CELLULOSE", "LACTOSE",
    "COATED", "FILM", "ENTERIC", "SUGAR", "HARD", "LIQUID",
    "FILLED", "EXTENDED", "SUSTAINED", "MODIFIED", "DELAYED",
    "IMMEDIATE", "CONTROLLED", "DISPERSIBLE", "CHEWABLE",
    "EFFERVESCENT", "SUBLINGUAL", "BUCCAL", "ORALLY",
    "DISINTEGRATING", "FREEZE", "DRIED", "LYOPHILIZED",
    "DEPOT", "RETARD",
})

# Element drugs can be generics in their own right even though they
# appear in salt vocabulary (reference ELEMENT_DRUGS,
# unified_constants.py:315-319) — 'ZINC 10 MG TABLET' is a zinc
# supplement, not a salt modifier.
ELEMENT_DRUGS: frozenset[str] = frozenset(
    """
    zinc calcium iron magnesium potassium sodium copper manganese
    selenium chromium iodine phosphorus fluoride
    """.split()
)

# Unit / measurement tokens (reference UNIT_TOKENS,
# unified_constants.py:827-845).
UNIT_TOKENS: frozenset[str] = frozenset(
    """
    mg g mcg ug kg gms gm ml l cc iu unit units lsu mu meq meqs mol
    mmol pct % mg/ml mcg/ml iu/ml mg/5ml mg/l
    """.split()
)

# Regional canonical names (reference unified_constants.py:1716-1734):
# PH/WHO naming preferred in outputs — US names map to the regional
# canonical at result assembly.
REGIONAL_CANONICAL: dict[str, str] = {
    "ACETAMINOPHEN": "PARACETAMOL",
    "ALBUTEROL": "SALBUTAMOL",
    "EPINEPHRINE": "ADRENALINE",
    "NOREPINEPHRINE": "NORADRENALINE",
    "MEPERIDINE": "PETHIDINE",
}


# Part-4 garbage tokens (reference GARBAGE_TOKENS,
# unified_constants.py:1016-1031): dropped from pipe-separated generic
# strings before Annex lookup.
GARBAGE_TOKENS: frozenset[str] = frozenset({
    "MG", "ML", "MCG", "G", "IU", "UNIT", "UNITS",
    "TAB", "TABLET", "CAP", "CAPSULE", "AMP", "AMPULE", "VIAL", "BOTTLE",
    "ORAL", "IV", "IM", "SC", "TOPICAL",
    "FORTE", "PLUS", "EXTRA", "MAX", "ULTRA", "JUNIOR", "PEDIA", "ADULT",
    "ORANGE", "STRAWBERRY", "CHERRY", "GRAPE", "MINT", "VANILLA", "LEMON",
    "PNF", "NAN", "-", "+", "/", "AND", "WITH",
    "SOLVENT", "DILUENT", "SOLUTION", "SUSPENSION", "POWDER",
})

# DrugBank chemical-component → marketed-mixture rewrites applied to
# the eSOA generic string before Part-4 lookup (runners.py:1157-1162;
# unified_constants.py:1112-1120).
# NOTE: insertion order is LOAD-BEARING and intentionally mirrors the
# reference (unified_constants.py:1112-1118), which applies these as
# sequential substring replaces (runners.py:1154-1156). That makes the
# 'GENTAMICIN C1A' entry unreachable — 'GENTAMICIN C1' fires first and
# the input ends up 'GENTAMICIN C2A'. Quirky, but it is the
# reference's observable behavior; do not "fix" by reordering or
# longest-match-first, it would break bridge-key parity.
DRUGBANK_COMPONENT_SYNONYMS: dict[str, str] = {
    "GENTAMICIN C2": "GENTAMICIN",
    "GENTAMICIN C1": "GENTAMICIN",
    "GENTAMICIN C1A": "GENTAMICIN",
    "GENTAMICIN": "GENTAMICIN C2",
}
