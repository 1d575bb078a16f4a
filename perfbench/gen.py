"""Seeded input generators for the benchmark, with truth labels.

Pure Python: no Spark, no files. The shapes follow the synthetic
reference-shaped dims and eSOA corpus of ``scripts/diff_reference.py``
(128 pronounceable generics, a dense Annex F, brand/synonym/typo/combo
variants and ``ZZGIBBER`` texts that must never match). The seed picks
the per-text variants and the text order; the number of texts and the
dims do not depend on it, so every seed does the same amount of work.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

PRE = [
    "ALBU", "CARVE", "DEXA", "ENALA", "FLUCO", "GLIBEN", "KETO", "LAMO",
    "METRO", "NIFE", "OXCAR", "PRAVA", "QUETIA", "RISPERI", "SIMVA", "TOPIRA",
]
SUF = ["PRIL", "OLOL", "STATIN", "CILLIN", "MYCIN", "NAZOLE", "DIPINE", "SARTAN"]
ATC_L1 = "ABCDGHJLMNPRSV"

# Texts the tagger must resolve to the generic and ATC code they were
# generated from. {n} is the generic, {t} its title case, {d} a dose.
CLEAN_TEMPLATES = (
    "{n} {d}MG TAB",
    "{n} {d} MG TABLET",
    "{n} {d}MG CAPSULE (OP)",
    "{n} {d}MG/5ML SUSPENSION",
    "{n} {d} MG CAPSULE",
    "{t} {d} mg tab",
)
CLEAN_PER_DOSE = 4
DOSE_CHOICES = 12  # dose variant v gives base_dose + 25 * v
DOSES = 1  # dose variants per generic in the eSOA corpus: 1,674 distinct texts
ANNEX_DENSITY = 16  # tablet and capsule dose variants per Annex F generic


@dataclass(frozen=True)
class Truth:
    """What the tagger must say about one text.

    ``kind`` is ``clean`` (match ``generic`` with ATC ``atc``),
    ``never`` (stay unmatched), ``atc``/``none`` (a parity-corpus
    expectation: ATC-matched or unmatched) or ``free`` (no check)."""

    kind: str
    generic: str | None = None
    atc: str | None = None


def synth_names() -> list[str]:
    return [p + s for p in PRE for s in SUF]


def synth_atc(i: int) -> str:
    return (
        f"{ATC_L1[i % len(ATC_L1)]}{(i % 9) + 1:02d}{chr(65 + i % 6)}"
        f"{chr(65 + (i // 6) % 6)}{(i % 79) + 1:02d}"
    )


def base_dose(i: int) -> int:
    return 50 * (1 + i % 10)


class _RowRecorder:
    """Stands in for a SparkSession: ``createDataFrame`` returns its
    arguments, so the parity corpus's tables can be read without Spark."""

    def createDataFrame(self, rows, schema):  # noqa: N802 (SparkSession's name)
        return list(rows), schema


def raw_dims() -> dict[str, tuple[list[tuple], str]]:
    """The raw reference tables ``run_drugs_all`` reads, as table name to
    (rows, Spark DDL schema): the parity corpus's dims plus the synthetic
    generics. Every synthetic generic reaches the unified reference with
    ATC code ``synth_atc(i)``, through PNF (i % 3 == 0) or DrugBank."""
    from pids_drg_esoa_spark.pipelines.parity_corpus import build_inputs

    base = build_inputs(_RowRecorder())
    names = synth_names()
    t = {k: base[k][0] for k in (
        "pnf", "drugbank_generics", "drugbank_atc", "who_atc", "fda_brands",
        "drugbank_brands", "mixtures", "synonyms", "fda_food",
    )}
    for i, name in enumerate(names):
        atc = synth_atc(i)
        dbid = f"DBS{i:04d}" if i % 3 != 0 else None
        if i % 3 == 0:
            t["pnf"].append((name, "Oral:", atc, f"{base_dose(i)} mg tablet"))
        if dbid:
            t["drugbank_generics"].append((dbid, name.title()))
            t["drugbank_atc"].append((dbid, name, atc))
        if i % 7 == 0:
            t["who_atc"].append((atc, name))
        if i % 4 == 0:
            t["fda_brands"].append((f"BR{name[:6]}", name))
        if i % 11 == 0 and dbid:
            t["drugbank_brands"].append((f"DB{name[:6]}X", name.title(), dbid))
        if i % 5 == 0:
            t["synonyms"].append((f"SYN{name}", name))
    for i in range(0, len(names) - 1, 10):
        a, b = names[i], names[i + 1]
        t["mixtures"].append(
            (f"DBMIXS{i:03d}", f"{a.title()} + {b.title()}", f"{a.lower()} + {b.lower()}")
        )
    for i in range(2, len(names) - 6, 16):
        a, b = names[i], names[i + 5]
        t["drugbank_generics"].append((f"DBCMB{i:03d}", f"{a.title()} + {b.title()}"))
        t["drugbank_atc"].append((f"DBCMB{i:03d}", f"{a} + {b}", synth_atc(i + 200)))
    return {k: (rows, base[k][1]) for k, rows in t.items()}


def annex_rows() -> list[tuple[str, str]]:
    """The dense Annex F (2,327 rows): ANNEX_DENSITY dose and form
    variants for every even generic, ratio-dose suspensions, a vial row
    and an exact-key collision row every 8th generic."""
    from pids_drg_esoa_spark.pipelines.parity_corpus import ANNEX_ROWS

    rows = list(ANNEX_ROWS)
    for i, name in enumerate(synth_names()):
        if i % 2:
            continue
        bd = base_dose(i)
        for v in range(ANNEX_DENSITY):
            rows.append((f"DS{i:04d}V{v:02d}T", f"{name} {bd + 25 * v} mg TABLET"))
            rows.append((f"DS{i:04d}V{v:02d}C", f"{name} {bd + 25 * v} mg CAPSULE"))
        for v in range(3):
            rows.append((f"DS{i:04d}R{v:02d}", f"{name} {bd + 25 * v} mg/5 mL SUSPENSION"))
        rows.append((f"DS{i:04d}VI", f"{name} 1 g VIAL"))
        if i % 8 == 0:
            rows.append((f"DS{i:04d}DUP", f"{name} {bd} mg TABLET"))
    return rows


def _typo(name: str, rng: random.Random) -> str:
    """Drop one interior letter (a fuzzy-tier probe)."""
    k = rng.randrange(2, len(name) - 2)
    return name[:k] + name[k + 1:]


def esoa_corpus(seed: int) -> list[tuple[str, Truth]]:
    """Distinct eSOA texts with their truth labels, in seeded order.

    Per generic: DOSES dose variants (drawn from DOSE_CHOICES) times
    CLEAN_PER_DOSE clean templates (drawn from CLEAN_TEMPLATES), plus
    the release-form, salt, pack, brand, synonym, typo and no-dose
    variants of the diff_reference corpus; then combinations, 150
    gibberish texts and the parity corpus's ESOA_CASES."""
    from pids_drg_esoa_spark.pipelines.parity_corpus import ESOA_CASES

    rng = random.Random(seed)
    names = synth_names()
    out: list[tuple[str, Truth]] = [(t, Truth(want)) for t, want in ESOA_CASES]
    free = Truth("free")
    for i, name in enumerate(names):
        clean = Truth("clean", name, synth_atc(i))
        bd = base_dose(i)
        for v in sorted(rng.sample(range(DOSE_CHOICES), DOSES)):
            for tpl in rng.sample(CLEAN_TEMPLATES, CLEAN_PER_DOSE):
                out.append((tpl.format(n=name, t=name.title(), d=bd + 25 * v), clean))
        out.append((f"{name} 1 G VIAL", clean))
        out.append((rng.choice((
            f"{name} {bd} MG MR TABLET", f"{name} {bd} MG SR CAPSULE",
            f"{name} {bd} MG FILM COATED TABLET",
        )), free))
        out.append((f"{name} {bd}MG TAB **", free))
        out.append((name, free))
        out.append((rng.choice((
            f"{name} HYDROCHLORIDE MONOHYDRATE {bd} MG TABLET",
            f"{name} SULFATE DIHYDRATE {bd}MG TAB",
            f"{name} ( as SODIUM SALT) {bd} MG TABLET",
        )), free))
        out.append((f"{name} 10 X {bd} MG TABLET", free))
        if len(name) >= 8 and i % 2 == 0:
            out.append((f"{_typo(name, rng)} {bd}MG TAB", free))
        if i % 4 == 0:
            out.append((f"BR{name[:6]} {bd}MG TABLET", free))
        if i % 5 == 0:
            out.append((f"SYN{name} {bd} MG TAB", free))
    for i in range(0, len(names) - 1, 10):
        a, b = names[i], names[i + 1]
        d = base_dose(i)
        out.append((f"{a} + {b} {d}MG TAB", free))
        out.append((f"{a} + {b} {d} MG + {d * 2} MG TABLET", free))
    for i in range(5, len(names) - 1, 10):
        a, b = names[i], names[i + 1]
        out.append((f"{a} + {b} {base_dose(i)}MG TAB", free))
        out.append((f"{a} + {b} SYRUP", free))
    for i in range(2, len(names) - 6, 16):
        a, b = names[i], names[i + 5]
        d = base_dose(i)
        out.append((f"{a} + {b} {d} MG TABLET", free))
        out.append((f"{a} + {_typo(b, rng)} {d} MG TABLET", free))
        out.append((f"{b} + {a} {d} MG TABLET", free))
    letters = rng.sample(range(26 * 26), 150)
    for k, ab in enumerate(letters):
        out.append((
            f"ZZGIBBER{chr(65 + ab % 26)}{chr(65 + ab // 26)} {10 + k}MG TAB",
            Truth("never"),
        ))
    seen: set[str] = set()
    uniq = [(t, tr) for t, tr in out if not (t in seen or seen.add(t))]
    rng.shuffle(uniq)
    return uniq


def stream_dims() -> tuple[list[tuple[str, str]], list[tuple[str, str, bool]]]:
    """Unified-shape dims for the stream probe, as the streaming
    demo builds them: (generic_name, drugbank_id) and (generic_name,
    atc_code, is_combination_atc) for the synthetic generics."""
    names = synth_names()
    return (
        [(n, f"DBS{i:04d}") for i, n in enumerate(names)],
        [(n, synth_atc(i), False) for i, n in enumerate(names)],
    )


def stream_part(seed: int, rows: int) -> list[tuple[str, str, Truth]]:
    """One eSOA part file for the stream probe: ``rows`` (ITEM_NUMBER,
    DESCRIPTION, truth) rows drawn without repetition from the seeded
    corpus, without the parity cases (their dims are not in
    ``stream_dims``)."""
    corpus = [(t, tr) for t, tr in esoa_corpus(seed) if tr.kind not in ("atc", "none")]
    rng = random.Random(seed ^ 0x5EED)
    return [(f"R{r:04d}", text, truth) for r, (text, truth) in enumerate(rng.sample(corpus, rows))]


# ---------------------------------------------------------------------------
# Catalog tables
# ---------------------------------------------------------------------------
CATALOG_ROWS = {  # the row counts of the sf0.01 star schema
    "customer": 1_500, "part": 2_000, "orders": 15_000, "lineitem": 60_000,
    "events": 10_000, "documents": 500, "embeddings": 500,
}
EMBED_DIM, EMBED_LABELS = 64, 10
DOC_WORDS = (
    "the a fast slow big small key order sort table scan merge part window hash join "
    "batch stream spark data group row line agg column filter customer value query vector dup"
).split()
_DAY_US = 86_400 * 10**6


def _cents(rng, lo: float, hi: float, n: int):
    """Uniform prices with two decimals, as doubles."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, first: str, last: str, n: int):
    """Uniform midnight timestamps between two dates, in microseconds."""
    import numpy as np

    lo, hi = (np.datetime64(d, "D").astype("int64") for d in (first, last))
    return rng.integers(lo, hi + 1, n) * _DAY_US


def catalog_tables(seed: int) -> dict:
    """The tables the catalog queries read, as pyarrow tables with the
    column names and types of the repo's TPC-H-like test data (region,
    nation, customer, part, orders, lineitem, events, documents,
    embeddings). The seed draws every value; the row counts are fixed
    (CATALOG_ROWS). About one document in ten is a near copy of an
    earlier one and the embeddings form EMBED_LABELS clusters, so the
    dedup and similarity operators find work."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = CATALOG_ROWS
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict, types: dict):
        return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})

    def pick(options, k):
        return [options[j] for j in rng.integers(0, len(options), k)]

    out = {
        "region": table(
            {"r_regionkey": range(5),
             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
            {"r_regionkey": i32, "r_name": s}),
        "nation": table(
            {"n_nationkey": range(25), "n_name": [f"NATION_{k}" for k in range(25)],
             "n_regionkey": [k % 5 for k in range(25)]},
            {"n_nationkey": i32, "n_name": s, "n_regionkey": i32}),
        "customer": table(
            {"c_custkey": np.arange(n["customer"]),
             "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
             "c_nationkey": rng.integers(0, 25, n["customer"]),
             "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
             "c_mktsegment": pick(
                 ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                 n["customer"])},
            {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
             "c_mktsegment": s}),
        "part": table(
            {"p_partkey": np.arange(n["part"]),
             "p_name": [f"{a} {b}" for a, b in zip(
                 pick("cold hot small large red blue light heavy".split(), n["part"]),
                 pick("widget bolt gear nut valve spring pipe clamp".split(), n["part"]))],
             "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
             "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                            n["part"]),
             "p_size": rng.integers(1, 51, n["part"]),
             "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0},
            {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
             "p_retailprice": f64}),
        "orders": table(
            {"o_orderkey": np.arange(n["orders"]),
             "o_custkey": rng.integers(0, n["customer"], n["orders"]),
             "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
             "o_totalprice": _cents(rng, 1000, 500_000, n["orders"]),
             "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
             "o_orderpriority": pick(
                 ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"])},
            {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
             "o_orderdate": ts, "o_orderpriority": s}),
        "lineitem": table(
            {"l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
             "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
             "l_suppkey": rng.integers(0, 100, n["lineitem"]),
             "l_linenumber": rng.integers(1, 8, n["lineitem"]),
             "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
             "l_extendedprice": _cents(rng, 900, 105_000, n["lineitem"]),
             "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
             "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
             "l_returnflag": pick(["A", "N", "R"], n["lineitem"]),
             "l_linestatus": pick(["F", "O"], n["lineitem"]),
             "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"])},
            {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
             "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
             "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts}),
        "events": table(
            {"event_id": np.arange(n["events"]),
             # distinct, increasing instants over about 30 days
             "ts": _days(rng, "2024-01-01", "2024-01-01", 1)[0]
                   + np.cumsum(rng.integers(1, 2 * 259_200_000, n["events"])),
             "user_id": rng.integers(0, 150, n["events"]),
             "event_type": pick(["click", "error", "purchase", "signup", "view"], n["events"]),
             "value": _cents(rng, 0.01, 490.02, n["events"]),
             "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]},
            {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64,
             "props": s}),
    }

    docs: list[str] = []
    for k in range(n["documents"]):
        if k >= 10 and rng.random() < 0.1:  # near copy: one word replaced
            words = docs[int(rng.integers(0, k))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
        else:
            words = pick(DOC_WORDS, int(rng.integers(8, 90)))
        docs.append(" ".join(words))
    out["documents"] = table(
        {"doc_id": np.arange(n["documents"]), "text": docs,
         "lang": pick(["de", "en", "en", "en", "es", "fr", "zh"], n["documents"]),
         "source": [f"src{j}" for j in rng.integers(0, 20, n["documents"])],
         "n_chars": [len(d) for d in docs]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})

    labels = rng.integers(0, EMBED_LABELS, n["embeddings"])
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    vecs = centers[labels] + 0.5 * rng.normal(size=(n["embeddings"], EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = table(
        {"vec_id": np.arange(n["embeddings"]), "embedding": list(vecs), "label": labels},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
    return out
