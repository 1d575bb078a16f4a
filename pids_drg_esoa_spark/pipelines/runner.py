"""run_drugs_all equivalent: the 4-part production flow + run summary.

Reference (run_drugs_all.py:3-10, docs/annex_f_atc_matching.md:16-31):
Part 1 build unified reference → Part 2 tag Annex F → Part 3 tag eSOA
(dedup-by-text) → Part 4 bridge eSOA→Drug Codes; every run appends
coverage metrics (metrics_history) and writes run_summary.md sections
(run_drugs_all.py:52-117,702-783).

Execution shape. Part 1 parses the PNF once into a leaf, builds the four
unified dims from it and materializes them with the synonym and food
dims (parquet or bucketed-table copies are optional: pass
``checkpoint_dir`` or ``bucketed_dims``). Parts 2 and 3 read only those
dims, so they run concurrently in two driver threads. Each ends at an
eager ``localCheckpoint`` leaf and then materializes the side Part 4
reads from it: the Annex candidate index, or the eSOA bridge side.
Part 4 bridges the two sides and ends at a leaf too. The three summary
aggregations (Part 2 stats, Part 3 stats, Part 4 reasons) run
concurrently over those leaves. Each Part's plan is therefore built
over leaves, never over an earlier Part's derivation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# bridge_to_drug_codes is not called here (Part 4 composes its steps);
# perfbench/workloads.py wraps it by name on this module, so it stays
# importable from here.
from ..plans.bridge import (  # noqa: F401
    annex_bridge_side,
    bridge_metrics,
    bridge_sides,
    bridge_to_drug_codes,
    esoa_bridge_side,
)
from ..plans.tagger import tag_descriptions
from ..session import run_concurrently
from ..sources.writers import append_metrics
from .drugs import (
    build_unified_atc,
    build_unified_brands,
    build_unified_generics,
    build_unified_mixtures,
    prepare_pnf,
)
from ..functions.constants import ATC_COMBINATION_PATTERNS


@dataclass
class RunResult:
    annex_with_atc: DataFrame
    esoa_with_atc: DataFrame
    esoa_with_drug_code: DataFrame
    coverage: dict[str, int] = field(default_factory=dict)
    summary_md: str = ""
    # reference log_metrics row per run_type (runners.py:1498-1531)
    part_metrics: dict[str, dict] = field(default_factory=dict)
    # reference value_counts(match_reason) per part (run_summary.md)
    reason_counts: dict[str, dict[str, int]] = field(default_factory=dict)


def flag_combination_atc(atc: DataFrame) -> DataFrame:
    """F28 twin of the LIVE reference check (scoring.py:42-52):
    uppercased startswith over ATC_COMBINATION_PATTERNS only — the
    suffix rule in unified_constants' variant is never called by the
    pipeline (see functions/constants.py). Native anchored-alternation
    rlike keeps the flag inside codegen."""
    pat = "^(" + "|".join(ATC_COMBINATION_PATTERNS) + ")"
    # rlike propagates NULL for a NULL atc_code but the reference's
    # is_combination_atc(None) returns False; an uncoalesced NULL flag
    # would sort ahead of non-combos inside W2's atc_structs ordering.
    return atc.withColumn(
        "is_combination_atc",
        F.coalesce(F.upper("atc_code").rlike(pat), F.lit(False)),
    )


_flag_combination_atc = flag_combination_atc


def _part_stats(
    tagged: DataFrame,
) -> tuple[int, int, int, dict[str, int], dict[str, int]]:
    """Per-part coverage + match-reason counts in ONE aggregation
    pass: (total, n_atc, n_db, coarse_reasons, granular_reasons).

    ``coarse_reasons`` is the REFERENCE's output vocabulary — its
    Part-2/3 match_reason column carries only matched / no_match /
    no_candidates / error (tagger.py:85,821-1027), so its stats-dict
    ``value_counts`` (runners.py:126,263 — NaN dropped, per OUTPUT
    ROW) collapses every successful tier to 'matched'. The engine's
    granular tier labels (exact/synonym/fuzzy/…) are kept alongside
    for the run-summary breakdown; unmatched rows pass their label
    through in both vocabularies (food-registry labels — an engine
    extension; the reference's check_fda_food_fallback is dead code —
    ride the unmatched branch unchanged)."""
    rows = tagged.groupBy("matched", "match_reason").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("atc_primary").isNotNull(), 1).otherwise(0)).alias("n_atc"),
        F.sum(F.when(F.col("drugbank_id").isNotNull(), 1).otherwise(0)).alias("n_db"),
    ).collect()
    total = sum(r.n for r in rows)
    n_atc = sum(r.n_atc for r in rows)
    n_db = sum(r.n_db for r in rows)
    granular: dict[str, int] = {}
    coarse: dict[str, int] = {}
    for r in rows:
        if r.match_reason is None:
            continue
        granular[str(r.match_reason)] = granular.get(str(r.match_reason), 0) + int(r.n)
        key = "matched" if r.matched else str(r.match_reason)
        coarse[key] = coarse.get(key, 0) + int(r.n)
    return total, n_atc, n_db, coarse, granular


def run_drugs_all(
    spark: SparkSession,
    inputs: dict[str, DataFrame],
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    bucketed_dims: bool = False,
) -> RunResult:
    """Parts 1-4. ``inputs`` carries the reference-shaped tables:
    pnf, drugbank_generics, drugbank_atc, drugbank_brands, fda_brands,
    who_atc, mixtures, annex_f (drug_code, drug_description), esoa
    (raw_text).

    ``bucketed_dims=True`` persists the Part-1 unified dims as
    bucketed+sorted catalog tables on their join keys
    (sources/writers.write_bucketed_table — SCALE.md lesson #3's
    cluster-scale form) and reads them back from the catalog: when a
    dim outgrows the broadcast threshold (a full DrugBank unified
    build), every downstream equi-join on the bucket key reads
    co-located pre-sorted buckets with NO dim-side Exchange
    (plan property pinned by tests/test_runner_cli.py::
    test_bucketed_dims_layout)."""
    # ---- Part 1: unified reference ------------------------------------
    # Parse the PNF once: every branch that reads pnf_prepared (the
    # generics spine, its anti-joins and pnf_raw leg, the ATC build)
    # would otherwise re-run its pandas UDFs.
    from ..plans.tagger import _materialize_dim, _materialize_dims

    pnf_prepared = _materialize_dim(prepare_pnf(inputs["pnf"]))
    generics = build_unified_generics(
        inputs["drugbank_generics"], inputs["who_atc"], pnf_prepared
    )
    atc = _flag_combination_atc(
        build_unified_atc(inputs["drugbank_atc"], inputs["who_atc"], pnf_prepared,
                          drugbank_generics=inputs["drugbank_generics"])
    )
    brands = build_unified_brands(inputs["fda_brands"], inputs["drugbank_brands"],
                                  drugbank_generics=inputs["drugbank_generics"])
    mixtures = build_unified_mixtures(inputs["mixtures"]).selectExpr(
        "component_key", "mixture_name", "drugbank_id"
    )
    if bucketed_dims:
        from ..sources.writers import write_bucketed_table

        for name, df, key in [
            ("unified_generics", generics, "generic_name"),
            ("unified_atc", atc, "generic_name"),
            ("unified_brands", brands, "brand_name"),
            ("unified_mixtures", mixtures, "component_key"),
        ]:
            write_bucketed_table(df, name, (key,))
        generics = spark.table("unified_generics")
        atc = spark.table("unified_atc")
        brands = spark.table("unified_brands")
        mixtures = spark.table("unified_mixtures")
    elif checkpoint_dir:
        for name, df in [("unified_generics", generics), ("unified_atc", atc),
                         ("unified_brands", brands), ("unified_mixtures", mixtures)]:
            path = os.path.join(checkpoint_dir, name)
            df.write.mode("overwrite").parquet(path)
        generics = spark.read.parquet(os.path.join(checkpoint_dir, "unified_generics"))
        atc = spark.read.parquet(os.path.join(checkpoint_dir, "unified_atc"))
        brands = spark.read.parquet(os.path.join(checkpoint_dir, "unified_brands"))
        mixtures = spark.read.parquet(os.path.join(checkpoint_dir, "unified_mixtures"))

    synonyms = inputs.get("synonyms")  # optional (synonym, generic_name) rows
    # Also accept the reference's unified_synonyms shape directly
    # (drugbank_id, generic_name, synonyms pipe-joined —
    # build_unified_reference.py:296-306): explode back to rows, the
    # same split the reference tagger does when seeding its dict
    # (tagger.py:207-230).
    if synonyms is not None and "synonyms" in synonyms.columns:
        synonyms = synonyms.select(
            F.explode(F.split("synonyms", "\\|")).alias("synonym"),
            F.col("generic_name"),
        ).filter(F.col("synonym") != "")
    elif synonyms is not None:
        # raw (synonym, generic_name) rows: apply the reference's
        # TABLE-2 admission — only spine-resolved synonyms reach the
        # tagger (r9, full-chain differential catch; see
        # drugs.resolve_synonym_rows)
        from .drugs import resolve_synonym_rows

        synonyms = resolve_synonym_rows(synonyms, inputs["drugbank_generics"])
    # optional FDA food registry (food_name, food_type, registration) —
    # unmatched texts that hit it are food, not unrecognized drugs
    # (runners.py:1428-1496)
    fda_food = inputs.get("fda_food")

    # Materialize the dims once for BOTH tag() calls (annex + eSOA);
    # tag_descriptions would otherwise localCheckpoint per call. See
    # plans/tagger._materialize_dim / SCALE.md measured lesson #3.
    generics, atc, brands, mixtures, synonyms, fda_food = _materialize_dims(
        generics, atc, brands, mixtures, synonyms, fda_food
    )

    def tag(df: DataFrame, text_col: str, with_food: bool = False) -> DataFrame:
        return tag_descriptions(
            df, generics_dim=generics, atc_dim=atc, brands_dim=brands,
            mixtures_dim=mixtures, synonyms_dim=synonyms,
            # the food fallback is an eSOA-side disambiguator in the
            # reference; Annex descriptions are drugs by construction
            fda_food_dim=fda_food if with_food else None,
            text_col=text_col,
        )

    # Blank/null texts: the reference tags THROUGH fillna('') — a
    # blank text reaches its tagger and comes back matched=False with
    # match_reason='no_candidates' (runners.py:205, tagger.py:391,440
    # + the empty-candidates branch at tagger.py:821-832), so such
    # rows are COUNTED in reason_counts. The engine's tag() excludes
    # blank/null texts from the tag relation entirely (plans/
    # tagger.py:396), so the join-back leaves matched/match_reason
    # NULL for exactly those rows — fill them to the reference's
    # values (r11 ADVICE item; diff_reference_metrics plants blank and
    # null texts to pin this).
    def _fill_untaggable(df: DataFrame) -> DataFrame:
        return df.withColumns(
            {
                "matched": F.coalesce(F.col("matched"), F.lit(False)),
                "match_reason": F.coalesce(
                    F.col("match_reason"), F.lit("no_candidates")
                ),
            }
        )

    # ---- Parts 2 and 3, concurrently -----------------------------------
    # Neither Part reads the other, so each runs in its own driver
    # thread. Each ends at an eager localCheckpoint leaf (its output is
    # consumed by the stats, Part 4 and the caller) and then
    # materializes the side Part 4 reads from it.
    #
    # annex_order pins the reference's candidate insertion order (the
    # W3 stable-sort tie-break) to the Annex input row order.
    annex_src = inputs["annex_f"].withColumn(
        "annex_order", F.monotonically_increasing_id()
    )

    def part2() -> tuple[DataFrame, DataFrame]:
        annex_tagged = _fill_untaggable(
            tag(
                annex_src.select(F.col("drug_description").alias("raw_text")), "raw_text"
            ).join(
                annex_src.select(
                    "drug_code", F.col("drug_description").alias("raw_text"), "annex_order"
                ),
                "raw_text",
                "right",
            )
        ).localCheckpoint(eager=True)
        return annex_tagged, annex_bridge_side(annex_tagged)

    # Part 3 joins back to the INPUT ROWS (A6): the reference's
    # esoa_with_atc is one row per input row — tag_batch(deduplicate=
    # True) merges results back by text (runners.py:193-231) — so a
    # corpus with duplicate texts keeps its duplicates in the output AND
    # in the coverage denominators (r11 metrics-parity catch: the engine
    # previously emitted one row per DISTINCT text, silently shrinking
    # Part-3/Part-4 totals on duplicate-bearing corpora). Part 4 bridges
    # per DISTINCT text (its internal aggregations assume one row per
    # text) and consumes the TAGGED columns (the reference reads
    # annex_f_with_atc + esoa_with_atc, runners.py:287-330) — candidate
    # keys come from matched_generic_name and the dose/form/route token
    # columns, never from re-parsed raw text.
    def part3() -> tuple[DataFrame, DataFrame]:
        esoa_tagged = _fill_untaggable(
            inputs["esoa"]
            .join(tag(inputs["esoa"], "raw_text", with_food=True), "raw_text", "left")
        ).localCheckpoint(eager=True)
        return esoa_tagged, esoa_bridge_side(esoa_tagged.dropDuplicates(["raw_text"]))

    (annex_tagged, annex_side), (esoa_tagged, esoa_side) = run_concurrently(
        spark, part2, part3
    )

    # ---- Part 4: bridge to drug codes ---------------------------------
    # Expand the per-text bridge back to input rows (A6) so the output
    # and its totals are per ROW like the reference's.
    bridged = (
        inputs["esoa"].select("raw_text")
        .join(bridge_sides(esoa_side, annex_side), "raw_text", "left")
        # NULL-text rows can never equi-join (null keys): the
        # reference's fillna('') hands them the ''-row result, which
        # for a null text is ALWAYS (drug_code NULL, generic NULL,
        # match_reason 'no_generic') — a constant, so fill it after
        # the join instead of joining on a COALESCE'd key (the r12
        # first cut; a computed join key cost a measured ~15 s at 155K
        # by defeating the bridge's raw_text partitioning reuse —
        # bisected in SCALE.md). The coalesce fires only for null-text
        # rows: every processed bridge row carries a non-null reason
        # (the ladder ends in an otherwise()), and every non-null text
        # joins. Pinned by diff_reference_metrics' planted blank/null
        # rows and test_runner_per_row.
        .withColumn(
            "match_reason",
            F.coalesce(
                "match_reason",
                F.when(F.col("raw_text").isNull(), F.lit("no_generic")),
            ),
        )
        .localCheckpoint(eager=True)
    )

    # ---- summary + metrics (run_drugs_all.py:52-117) ------------------
    (
        (a_n, a_atc, a_db, a_coarse, a_reasons),
        (e_n, e_atc, e_db, e_coarse, e_reasons),
        reason_rows,
    ) = run_concurrently(
        spark,
        lambda: _part_stats(annex_tagged),
        lambda: _part_stats(esoa_tagged),
        lambda: bridge_metrics(bridged).collect(),
    )
    n_bridged = sum(r.n for r in reason_rows if r.match_reason == "matched_perfect")
    n_total = sum(r.n for r in reason_rows)
    p4_reasons = {
        str(r.match_reason): int(r.n)
        for r in reason_rows
        if r.match_reason is not None
    }

    def pct(x: int, n: int) -> str:
        return f"{(100.0 * x / n):.1f}%" if n else "n/a"

    def reason_lines(reasons: dict[str, int], n: int) -> list[str]:
        # the reference's _format_reason_lines ordering: count desc
        # (ties pinned by name — its value_counts tie order is
        # insertion order, not reproducible; PARITY class 1 analog)
        return [
            f"  - {r}: {c} ({pct(c, n)})"
            for r, c in sorted(reasons.items(), key=lambda kv: (-kv[1], kv[0]))
        ]

    lines = [
        "## Run summary",
        f"- Annex F rows tagged: {a_n}; ATC {a_atc} ({pct(a_atc, a_n)}); "
        f"DrugBank {a_db} ({pct(a_db, a_n)})",
        "- Part 2 match reasons:",
        *reason_lines(a_reasons, a_n),
        f"- eSOA rows tagged: {e_n}; ATC {e_atc} ({pct(e_atc, e_n)}); "
        f"DrugBank {e_db} ({pct(e_db, e_n)})",
        "- Part 3 match reasons:",
        *reason_lines(e_reasons, e_n),
        f"- eSOA → Drug Code: {n_bridged} ({pct(n_bridged, n_total)})",
        "- Part 4 failure breakdown:",
    ] + [
        f"  - {r.match_reason}: {r.n} ({pct(r.n, n_total)})"
        for r in reason_rows
        if r.match_reason != "matched_perfect"
    ]
    # Coverage-parity tracker vs the reference's published run
    # (BASELINE.md, run_summary.md of commit fc944cd). The percentages
    # only MEAN parity when run on reference-shaped real inputs — on
    # fixtures/synthetic data the deltas are tracked, not judged.
    baseline = {
        "annex_atc_pct": 95.5,
        "esoa_atc_pct": 71.4,
        "esoa_drug_code_pct": 34.9,
    }
    ours = {
        "annex_atc_pct": 100.0 * a_atc / a_n if a_n else 0.0,
        "esoa_atc_pct": 100.0 * e_atc / e_n if e_n else 0.0,
        "esoa_drug_code_pct": 100.0 * n_bridged / n_total if n_total else 0.0,
    }
    lines += ["- Coverage vs BASELINE.md (ours / reference / delta):"] + [
        f"  - {k}: {ours[k]:.1f}% / {baseline[k]:.1f}% / {ours[k] - baseline[k]:+.1f}pp"
        for k in baseline
    ]
    summary = "\n".join(lines)

    coverage = {
        "annex_total": a_n, "annex_atc": a_atc, "annex_drugbank": a_db,
        "esoa_total": e_n, "esoa_atc": e_atc, "esoa_drugbank": e_db,
        "esoa_drug_code": n_bridged,
    }
    # Reference-shaped per-part metrics rows — EXACTLY the fields
    # log_metrics appends per run_type (runners.py:139-146,276-283,
    # 1419-1424; pcts rounded to 2dp there). The reference appends all
    # three shapes to ONE ragged CSV (pandas append writes positional
    # rows against the first header); the engine writes each run_type
    # under its own schema-stable parquet path instead.
    def _pct2(x: int, n: int) -> float:
        return round(100.0 * x / n, 2) if n else 0
    part_metrics = {
        "annex_f": {
            "total": a_n, "matched_atc": a_atc, "matched_atc_pct": _pct2(a_atc, a_n),
            "matched_drugbank": a_db, "matched_drugbank_pct": _pct2(a_db, a_n),
        },
        "esoa": {
            "total": e_n, "matched_atc": e_atc, "matched_atc_pct": _pct2(e_atc, e_n),
            "matched_drugbank": e_db, "matched_drugbank_pct": _pct2(e_db, e_n),
        },
        "esoa_to_drug_code": {
            "total": n_total, "matched": n_bridged,
            "matched_pct": _pct2(n_bridged, n_total),
        },
    }
    if metrics_path:
        append_metrics(spark, metrics_path, {k: str(v) for k, v in coverage.items()})
        for run_type, row in part_metrics.items():
            append_metrics(
                spark,
                os.path.join(f"{metrics_path}_parts", run_type),
                {"run_type": run_type, **{k: str(v) for k, v in row.items()}},
            )
    return RunResult(
        annex_tagged, esoa_tagged, bridged, coverage, summary,
        part_metrics,
        # reference-vocabulary reason counts (what its stats dicts /
        # run_summary sections carry); the granular tier labels are in
        # summary_md
        {"annex_f": a_coarse, "esoa": e_coarse, "esoa_to_drug_code": p4_reasons},
    )
