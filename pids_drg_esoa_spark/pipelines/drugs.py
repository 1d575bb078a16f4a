"""Drugs pipeline: reference build + PNF preparation + tagging parts.

Reference lifecycle (SURVEY §3.2, run_drugs_all.py):
- Part 1: build the unified_* reference tables
  (build_unified_reference.py:67-535) — DrugBank is the spine; WHO
  and PNF generics are added only if absent (anti-join U2/J12), then
  per-entity aggregates (synonyms pipe-agg A3, mixtures component_key
  J8, brands first-wins dedupe A5).
- Part 2/3: tag Annex F / eSOA descriptions (plans.tagger).
- Part 4: bridge tagged eSOA rows to Annex F drug codes (plans.bridge).

``pipelines.runner.build_reference`` composes the builders into Part 1.

Everything here is a declarative transform on DataFrames; dims are
small (≪10 MB) and broadcast at use sites. The order-dependent bits
of the reference (keep='first' dedupes) carry explicit orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import Window as W

from ..functions.dose import parse_dose, to_mg, ratio_mg_per_ml
from ..functions.routes_forms import p1_form_col
from ..functions.text import clean_atc, normalize_text, slug_id
from ..functions.tokens import extract_base_and_salts
from ..functions.constants import ROUTE_LABEL_EXPANSION
from ..functions.vocab_full import CANONICAL_ATC_MAPPINGS_FULL, CANONICAL_GENERICS_FULL
from .base import BasePipeline, PipelineContext, register_pipeline


# ---------------------------------------------------------------------------
# Part 1a: unified reference build
# ---------------------------------------------------------------------------
def build_unified_generics(
    drugbank: DataFrame, who_atc: DataFrame, pnf: DataFrame
) -> DataFrame:
    """unified_generics (build_unified_reference.py:163-288): DrugBank
    spine; WHO then PNF names added only when their name_key is new
    (left_anti), each row tagged with its source."""
    # deterministic survivor per name_key: real DrugBank ids beat
    # null, then lexicographic — plain dropDuplicates keeps whichever
    # partition wins, so the id carried into every downstream tag
    # could flip between runs (the module contract is explicit
    # orderings for every keep=first dedupe)
    def spine(df: DataFrame, source: str) -> DataFrame:
        return (
            df.groupBy("name_key")
            .agg(
                F.min(
                    F.struct(
                        F.coalesce("drugbank_id", F.lit("~")).alias("id_rank"),
                        F.col("drugbank_id").alias("drugbank_id"),
                        F.col("generic_name").alias("generic_name"),
                    )
                ).alias("s")
            )
            .select(
                F.col("s.drugbank_id").alias("drugbank_id"),
                F.col("s.generic_name").alias("generic_name"),
                "name_key",
                F.lit(source).alias("source"),
            )
        )

    db = spine(
        drugbank.select(
            "drugbank_id",
            F.upper("generic_name").alias("generic_name"),
            F.lower(F.trim("generic_name")).alias("name_key"),
        ),
        "drugbank",
    )

    who = spine(
        who_atc.select(
            F.lit(None).cast("string").alias("drugbank_id"),
            F.upper("atc_name").alias("generic_name"),
            F.lower(F.trim("atc_name")).alias("name_key"),
        ),
        "who",
    )

    # the PNF block consumes generic_NORMALIZED (the F6 base), exactly
    # like the reference's SQL (build_unified_reference.py:196-202).
    # lower(trim(name)) here is the INTERNAL join key only — the
    # emitted name_key column is recomputed in the reference's regexp
    # form at the end of this function (F6 bases can carry '+'
    # connectors, so the two keys are NOT interchangeable)
    pnf_name = "generic_normalized" if "generic_normalized" in pnf.columns else "generic_name"
    pnf_g = spine(
        pnf.select(
            F.lit(None).cast("string").alias("drugbank_id"),
            F.upper(pnf_name).alias("generic_name"),
            F.lower(F.trim(pnf_name)).alias("name_key"),
        ),
        "pnf",
    )

    out = db
    for extra in (who, pnf_g):
        new = extra.join(out.select("name_key"), "name_key", "left_anti")
        out = out.unionByName(new)

    # Canonical seeds last (…py:216-240): a canonical row carrying a
    # DrugBank id UPGRADES the same-named entry's id (source →
    # canonical); names not present yet are added. Broadcast join —
    # the canonical table is ~60 literal rows.
    canon = drugbank.sparkSession.createDataFrame(
        CANONICAL_GENERICS_FULL, "drugbank_id string, generic_name string"
    ).select(
        F.col("drugbank_id").alias("c_dbid"),
        F.upper("generic_name").alias("c_name"),
        F.lower(F.trim("generic_name")).alias("name_key"),
    ).dropDuplicates(["name_key"])
    out = (
        out.join(F.broadcast(canon), "name_key", "left")
        .select(
            "name_key",
            F.coalesce("c_dbid", "drugbank_id").alias("drugbank_id"),
            "generic_name",
            F.when(F.col("c_dbid").isNotNull(), "canonical")
            .otherwise(F.col("source"))
            .alias("source"),
        )
    )
    missing = canon.join(out.select("name_key"), "name_key", "left_anti").select(
        "name_key",
        F.col("c_dbid").alias("drugbank_id"),
        F.col("c_name").alias("generic_name"),
        F.lit("canonical").alias("source"),
    )
    out = out.unionByName(missing)

    # RAW PNF molecule names last (reference build_unified_reference.py
    # :246-263, source 'pnf_raw', round-7 Part-1 differential): the
    # reference also admits the UNSPLIT molecule string when no entry
    # carries that exact name yet — what lets a verbatim-formulary
    # text exact-hit even when F6 splits its base. Anti-joined on the
    # uppercase NAME (the reference's `~isin(existing names)` filter,
    # not the name_key).
    if pnf is not None and "raw_molecule" in pnf.columns:
        raw = (
            pnf.select(F.upper(F.trim("raw_molecule")).alias("generic_name"))
            .filter(F.col("generic_name").isNotNull() & (F.col("generic_name") != ""))
            .distinct()
            .join(
                out.select(F.upper("generic_name").alias("generic_name")),
                "generic_name",
                "left_anti",
            )
            .select(
                F.lower(F.regexp_replace("generic_name", "[^a-zA-Z0-9 ]", "")).alias(
                    "name_key"
                ),
                F.lit(None).cast("string").alias("drugbank_id"),
                "generic_name",
                F.lit("pnf_raw").alias("source"),
            )
        )
        out = out.unionByName(raw)
    # emitted name_key takes the reference's form — LOWER(REGEXP_
    # REPLACE(name, '[^a-zA-Z0-9 ]', '')) — an OUTPUT-ONLY column (no
    # Parts-2-4 consumer on either side reads it; the build's internal
    # joins key on lower(trim(name)), which matches the reference's
    # NAME-based existence checks more closely than the regexp key —
    # two punctuation-distinct names must stay distinct entries)
    return out.withColumn(
        "name_key", F.lower(F.regexp_replace("generic_name", "[^a-zA-Z0-9 ]", ""))
    )


def build_unified_synonyms(synonym_rows: DataFrame) -> DataFrame:
    """unified_synonyms (…py:296-306 A3): sorted-distinct pipe-agg per
    (drugbank_id, generic_name)."""
    return (
        synonym_rows.groupBy("drugbank_id", "generic_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set(F.upper("synonym"))), "|").alias("synonyms")
        )
    )


def resolve_synonym_rows(
    synonyms_raw: DataFrame, drugbank_generics: DataFrame
) -> DataFrame:
    """Reference TABLE-2 admission (build_unified_reference.py:296-306)
    applied to raw (synonym, generic_name) rows: a synonym exists ONLY
    when its generic resolves in the DrugBank spine (drugbank_id IS
    NOT NULL), and it targets the SPINE's upper-trimmed name — the
    reference keys unified_synonyms by drugbank_id and takes the name
    from the generics spine, so a synonym of a PNF-only generic never
    reaches its tagger's dict. r9: caught by the full-chain
    differential (the engine previously passed raw synonym rows
    through unfiltered, admitting id-less synonyms the reference's
    chain drops). Broadcast spine join: both sides are dims."""
    g = F.broadcast(
        drugbank_generics.filter(F.col("drugbank_id").isNotNull())
        .select(
            "drugbank_id",
            F.upper(F.trim("generic_name")).alias("_spine_name"),
        )
        .distinct()
    )
    s = synonyms_raw.select(
        "synonym", F.upper(F.trim("generic_name")).alias("_syn_target")
    )
    return (
        s.join(g, s._syn_target == g._spine_name, "inner")
        .select("drugbank_id", "synonym", F.col("_spine_name").alias("generic_name"))
        .distinct()
    )


def build_unified_atc(
    drugbank_atc: DataFrame,
    who_atc: DataFrame,
    pnf_prepared: DataFrame | None = None,
    drugbank_generics: DataFrame | None = None,
) -> DataFrame:
    """unified_atc (…py:314-364): DrugBank codes (generic_name taken
    from the GENERICS spine by drugbank_id — the reference's LEFT
    JOIN; ids absent from the spine carry a NULL name) + WHO and PNF
    rows appended UNCONDITIONALLY (the reference concats then
    drop_duplicates over all three columns, so a WHO row differing
    only in its NULL id coexists with the DrugBank row — round-7
    Part-1 differential finding; the previous anti-join dropped them)
    + the canonical combination/alias mappings unioned last
    (…py:360-364). ``drugbank_generics`` enables the reference's
    name-from-spine join; without it the atc table's own name column
    is used (equivalent whenever the dims agree, the pre-round-7
    behavior)."""
    if drugbank_generics is not None:
        # LEFT JOIN fans out: an id carrying several spine names emits
        # one ATC triple per name, exactly like the reference's SQL —
        # no dedupe here (a dropDuplicates survivor would be
        # partition-order-dependent; the final 3-column distinct is
        # the only dedupe, same as the reference's)
        names = drugbank_generics.select(
            "drugbank_id", F.upper(F.trim("generic_name")).alias("_gname")
        )
        db = (
            drugbank_atc.select("drugbank_id", F.trim("atc_code").alias("atc_code"))
            .filter(
                F.col("drugbank_id").isNotNull()
                & F.col("atc_code").isNotNull() & (F.col("atc_code") != "")
            )
            .join(F.broadcast(names), "drugbank_id", "left")
            .select("drugbank_id", F.col("_gname").alias("generic_name"), "atc_code")
        )
    else:
        db = drugbank_atc.select(
            "drugbank_id",
            F.upper(F.trim("generic_name")).alias("generic_name"),
            F.trim("atc_code").alias("atc_code"),
        ).filter(
            F.col("drugbank_id").isNotNull()
            & F.col("atc_code").isNotNull() & (F.col("atc_code") != "")
        )
    # atc_code is TRIMMED, never uppercased — the reference preserves
    # code case in every block (…py:320,333,346)
    who = who_atc.select(
        F.lit(None).cast("string").alias("drugbank_id"),
        F.upper(F.trim("atc_name")).alias("generic_name"),
        F.trim("atc_code").alias("atc_code"),
    ).filter(F.col("atc_code").isNotNull() & (F.col("atc_code") != ""))
    out = db.unionByName(who)
    if pnf_prepared is not None:
        # the reference's unified build reads prepare's CLEANED
        # atc_code column (prepare.py:79 clean_atc), not the raw
        # 'ATC Code' — pnf_prepared.atc_code is the engine's verified
        # twin of that column (Part-1 differential)
        pnf_code = "atc_code" if "atc_code" in pnf_prepared.columns else "ATC Code"
        if pnf_code in pnf_prepared.columns:
            pnf = pnf_prepared.select(
                F.lit(None).cast("string").alias("drugbank_id"),
                F.upper(F.trim("generic_normalized")).alias("generic_name"),
                F.trim(pnf_code).alias("atc_code"),
            ).filter(
                F.col("atc_code").isNotNull() & (F.col("atc_code") != "")
                & F.col("generic_name").isNotNull() & (F.col("generic_name") != "")
            )
            out = out.unionByName(pnf)
    canonical = drugbank_atc.sparkSession.createDataFrame(
        CANONICAL_ATC_MAPPINGS_FULL,
        "drugbank_id string, generic_name string, atc_code string",
    )
    out = out.unionByName(canonical)
    return out.dropDuplicates(["generic_name", "atc_code", "drugbank_id"])


def build_unified_brands(
    fda_brands: DataFrame,
    drugbank_brands: DataFrame,
    drugbank_generics: DataFrame | None = None,
) -> DataFrame:
    """unified_brands (…py:425-459): two sources, deterministic
    first-wins per brand. Source priority is FDA over DrugBank —
    the reference concats [fda, drugbank] and keeps the FIRST row
    per brand_name, so FDA wins cross-source collisions (round-7
    Part-1 differential fix: the priority was inverted here). Both
    blocks filter NULL/empty brand names like the reference's WHERE
    clauses, and the DrugBank block takes generic_name from the
    GENERICS spine by drugbank_id (its lean brands export has no
    name column) when the spine is supplied — fanning out before the
    keep like the reference's LEFT JOIN; the dim's own name column
    is the fallback. Within a source the reference's keep='first'
    depends on post-DISTINCT row order, which is nondeterministic
    even run-to-run in the reference itself — the engine's
    deterministic replacement is the generic-name lexical tie-break
    (SURVEY §7 adjudication, allowlisted in
    scripts/diff_reference_part1.py)."""
    fda = fda_brands.select(
        F.upper(F.trim("brand_name")).alias("brand_name"),
        F.upper(F.trim("generic_name")).alias("generic_name"),
        F.lit(None).cast("string").alias("drugbank_id"),
        F.lit("fda").alias("source"),
        F.lit(0).alias("prio"),
    ).filter(F.col("brand_name").isNotNull() & (F.col("brand_name") != ""))
    if drugbank_generics is not None:
        names = drugbank_generics.select(
            "drugbank_id", F.upper(F.trim("generic_name")).alias("_gname")
        )
        db = (
            drugbank_brands.select(
                F.upper(F.trim("brand_name")).alias("brand_name"), "drugbank_id"
            )
            .join(F.broadcast(names), "drugbank_id", "left")
            .select(
                "brand_name",
                F.col("_gname").alias("generic_name"),
                "drugbank_id",
                F.lit("drugbank").alias("source"),
                F.lit(1).alias("prio"),
            )
        )
    else:
        db = drugbank_brands.select(
            F.upper(F.trim("brand_name")).alias("brand_name"),
            F.upper(F.trim("generic_name")).alias("generic_name"),
            "drugbank_id",
            F.lit("drugbank").alias("source"),
            F.lit(1).alias("prio"),
        )
    db = db.filter(F.col("brand_name").isNotNull() & (F.col("brand_name") != ""))
    merged = db.unionByName(fda)
    w = W.partitionBy("brand_name").orderBy("prio", "generic_name")
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "prio")
    )


def build_unified_mixtures(mixtures: DataFrame) -> DataFrame:
    """unified_mixtures (…py:486-500 J8): sorted lowercase pipe-join of
    component generics = the order-insensitive combination key."""
    comps = F.split(F.lower("component_generics"), "\\s*\\+\\s*")
    return mixtures.select(
        "drugbank_id",
        F.upper("mixture_name").alias("mixture_name"),
        F.upper("component_generics").alias("component_generics"),
        F.array_join(F.array_sort(comps), "|").alias("component_key"),
        F.size(comps).cast("int").alias("component_count"),
    ).dropDuplicates(["component_key", "drugbank_id"])


def build_unified_dosages(
    dosages: DataFrame,
    drugbank_generics: DataFrame,
    pnf_prepared: DataFrame | None = None,
) -> DataFrame:
    """unified_dosages (build_unified_reference.py:368-417): valid
    (generic, form, route, dose) combos. DrugBank leg: the dosages
    lean export DISTINCT'd with the generic name joined through the
    id spine; PNF leg: one row per prepared PNF row with the dose
    re-serialized as 'INT MG' from strength_mg (DuckDB CAST DOUBLE →
    INTEGER is banker's rounding — 0.5→0, 1.5→2, unlike its DECIMAL
    cast which rounds half away — so Spark bround, HALF_EVEN), else
    'INT UNIT'. The reference then fillna('')+drop_duplicates — nulls
    and '' are the same dedupe key, so every column is ''-coalesced
    before the final distinct."""
    g = F.broadcast(
        drugbank_generics.select(
            "drugbank_id", F.upper(F.trim("generic_name")).alias("_gname")
        )
    )
    legs = (
        dosages.filter(F.col("drugbank_id").isNotNull())
        .join(g, "drugbank_id", "left")
        .select(
            "drugbank_id",
            F.col("_gname").alias("generic_name"),
            F.upper(F.trim("form")).alias("form"),
            F.upper(F.trim("route")).alias("route"),
            F.upper(F.trim("strength")).alias("dose"),
            F.lit("drugbank").alias("source"),
        )
        .distinct()
    )
    if pnf_prepared is not None:
        dose_str = F.when(
            F.col("strength_mg").isNotNull(),
            F.concat(F.bround("strength_mg", 0).cast("int").cast("string"), F.lit(" MG")),
        ).when(
            F.col("strength").isNotNull() & F.col("unit").isNotNull(),
            F.concat(
                F.bround(F.col("strength"), 0).cast("int").cast("string"),
                F.lit(" "),
                F.upper("unit"),
            ),
        )
        pnf_leg = (
            pnf_prepared.filter(
                F.col("generic_normalized").isNotNull() & (F.col("generic_normalized") != "")
            )
            .select(
                F.lit(None).cast("string").alias("drugbank_id"),
                F.upper(F.trim("generic_normalized")).alias("generic_name"),
                F.upper(F.trim("form")).alias("form"),
                F.upper(F.trim("route")).alias("route"),
                dose_str.alias("dose"),
                F.lit("pnf").alias("source"),
            )
            .distinct()
        )
        legs = legs.unionByName(pnf_leg)
    cols = ["drugbank_id", "generic_name", "form", "route", "dose", "source"]
    return legs.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in cols]
    ).distinct()


def build_unified_salts(salts: DataFrame) -> DataFrame:
    """unified_salts (build_unified_reference.py:467-477): DISTINCT
    (drugbank_id, UPPER(TRIM(salt_name)) salt_form, name_key salt_key)
    over non-null ids and non-empty names, ''-coalesced like the
    reference's fillna('')."""
    out = (
        salts.filter(
            F.col("drugbank_id").isNotNull()
            & F.col("salt_name").isNotNull()
            & (F.col("salt_name") != "")
        )
        .select(
            "drugbank_id",
            F.upper(F.trim("salt_name")).alias("salt_form"),
            F.col("name_key").alias("salt_key"),
        )
    )
    return out.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in ("drugbank_id", "salt_form", "salt_key")]
    ).distinct()


# ---------------------------------------------------------------------------
# Part 1b: PNF preparation (P1 derivation battery, prepare.py:63-135)
# ---------------------------------------------------------------------------
def prepare_pnf(pnf_raw: DataFrame) -> DataFrame:
    """pnf_prepared: ~the reference's 25-column derivation — normalize,
    base/salt split (F6), slug id (F4), route-label expansion +
    explode (F24/P7), dose parse to struct (F9), mg conversions
    (F10/F11). One narrow pass; the only explode is per allowed
    route."""
    route_map = F.create_map(
        *[
            x
            for label, routes in ROUTE_LABEL_EXPANSION.items()
            for x in (F.lit(label), F.array(*[F.lit(r) for r in routes]))
        ]
    )
    # prepare.py:95-96 takes ONLY the first present spec column
    # (text_cols[0], fillna('')) — a per-row coalesce across all
    # present columns would parse a form/dose from a column the
    # reference ignores when an export carries more than one.
    _spec_candidates = [c for c in ("Technical Specifications", "Specs", "Specification")
                        if c in pnf_raw.columns]
    spec_col = (
        F.coalesce(F.col(_spec_candidates[0]), F.lit(""))
        if _spec_candidates else F.lit("")
    )
    base_salts = extract_base_and_salts(F.col("Molecule"))
    # UNKNOWN labels yield a NULL route (map_route_token returns [] and
    # pandas explode([]) keeps the row with NaN — round-7 Part-1
    # parity); the row survives via explode_outer below. No raw-label
    # fallback: the reference never passes an unmapped label through.
    routes = route_map[F.lower(F.trim("Route"))]
    d = (
        pnf_raw.withColumn("raw_molecule", F.col("Molecule"))
        # reference column contract (prepare.py:64-74): generic_name =
        # the RAW molecule uppercased; generic_normalized = the F6
        # base (extract_base_and_salts falls back to raw upper
        # itself); generic_id slugs the NORMALIZED name. Round-7 fix —
        # generic_name previously carried the (composite-)stripped
        # base and generic_normalized the F1 normalization, so every
        # downstream unified build consumed a different name than the
        # reference's.
        .withColumn("generic_name", F.upper(F.trim("Molecule")))
        .withColumn("_bs", base_salts)
        .withColumn("generic_normalized", F.upper(F.col("_bs.base")))
        .withColumn("salt_form", F.array_join("_bs.salts", " + "))
        .withColumn("generic_id", slug_id(F.col("_bs.base")))
        # clean_atc = NBSP→space + trim, NO uppercase (text_utils.py:
        # 126-130 — codes pass through in source casing; r10 Part-1
        # fuzz catch: ' n02be01 ' stays lowercase in the reference's
        # pnf_prepared AND its unified_atc PNF leg)
        .withColumn("atc_code", clean_atc(F.col("ATC Code")))
        # the reference parses dose from _parse_src = normalize_text(
        # (generic_normalized + ' ' + tech).strip()) (prepare.py:
        # 97-103), NOT from the raw spec — r10 Part-1 fuzz catch:
        # '1,000 mg sachet' normalizes comma→space so the amount regex
        # reads '000 mg' → 0.0, while the raw text read '1,000' as a
        # comma DECIMAL → 1.0; and a dose-shaped fragment in the
        # MOLECULE itself ('X 10% SOLUTION') contributes when the spec
        # carries none
        .withColumn(
            "_parse_src",
            normalize_text(F.trim(F.concat(F.col("generic_normalized"), F.lit(" "), spec_col))),
        )
        .withColumn("dose", parse_dose(F.col("_parse_src")))
        .withColumn("strength_mg", to_mg(F.col("dose.strength"), F.col("dose.unit")))
        .withColumn("ratio_mg_per_ml", ratio_mg_per_ml(
            to_mg(F.col("dose.strength"), F.col("dose.unit")), F.col("dose.per_val")))
        # reference scalar columns (prepare.py:101-110): the dose
        # struct broken out for downstream consumers + the parsed form
        # from _parse_src = normalize(generic_normalized + ' ' + tech)
        # (prepare.py:95-110) — unified_dosages' PNF leg reads these.
        # Form uses the Part-1 twin (longest word present anywhere,
        # reference routes_forms.py:51-57), NOT the F25 position-first
        # parser the tagger uses; computed from the RAW columns in one
        # pandas_udf so no F6 subtree is re-inlined (see p1_form_col).
        .withColumn("strength", F.col("dose.strength"))
        .withColumn("unit", F.col("dose.unit"))
        .withColumn("form", p1_form_col(F.col("Molecule"), spec_col))
        .withColumn("route", F.explode_outer(routes))
        .drop("_bs", "_parse_src")
        # reference prepare.py:124-125: rows whose generic_name is
        # empty (blank Molecule) are dropped AFTER the route explode
        # (r10 Part-1 fuzz catch: the engine kept them)
        .filter(F.col("generic_name").isNotNull() & (F.col("generic_name") != ""))
    )
    return d


@register_pipeline
class DrugsPipeline(BasePipeline):
    """ITEM_REF_CODE dispatcher entry for drugs (SURVEY §3.1): the
    chain's Part 1 and Part 3 (``pipelines.runner.build_reference`` and
    ``merge_tagged``) on the eSOA rows, without the Annex F Parts."""

    item_ref_code = "DrugsAndMedicine"

    def prepare_inputs(self, ctx: PipelineContext) -> None:
        from .runner import build_reference

        pnf_prepared, dims = build_reference(ctx.spark, ctx.inputs)
        ctx.artifacts.update(
            pnf_prepared=pnf_prepared,
            unified_generics=dims["generics_dim"],
            unified_atc=dims["atc_dim"],
            unified_brands=dims["brands_dim"],
            unified_mixtures=dims["mixtures_dim"],
        )
        ctx.params["reference_dims"] = dims

    def match(self, ctx: PipelineContext) -> None:
        from ..plans.tagger import tag_descriptions
        from .runner import merge_tagged

        dims = dict(ctx.params["reference_dims"])
        fda_food = dims.pop("fda_food_dim")
        esoa = ctx.inputs["esoa"]
        ctx.artifacts["esoa_with_atc"] = merge_tagged(
            esoa, tag_descriptions(esoa.select("raw_text"), **dims), fda_food_dim=fda_food
        )

    def post_run(self, ctx: PipelineContext) -> None:
        tagged = ctx.artifacts["esoa_with_atc"]
        ctx.artifacts["metrics"] = tagged.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("matched").cast("int")).alias("n_matched"),
            F.sum(F.when(F.col("atc_primary").isNotNull(), 1).otherwise(0)).alias("n_atc"),
        )
