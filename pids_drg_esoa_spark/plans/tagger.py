"""The drug tagger as ONE declarative DataFrame plan.

Reference: UnifiedTagger._tag_batch (tagger.py:560-1030, SURVEY §3.3)
— per-batch loops over texts doing parse → key expansion → DuckDB
IN-list/prefix/fuzzy lookups → candidate assembly → rule-based
selection. Spark-first restructuring:

  stage 1-2 (parse, keys)   → column derivations (native + pandas_udf)
  stage 3   (lookups)       → broadcast hash joins against the
                              unified dims (replaces DuckDB + indexes,
                              tagger.py:161-205)
  stage 4   (candidates)    → union of match tiers (tagger.py:707-834,
                              lookup.py:287-300), then the F33
                              admission gate: every non-mixture
                              candidate is validated with
                              generics_match against the per-doc
                              normalized input set (scoring.py:234-273
                              — combination inputs drop non-combo
                              candidates, IV solutions drop
                              vehicle-only candidates) and
                              match_priority is DERIVED from the
                              generics_match reason (scoring.py:303-310
                              — exact 0, combo_match 1, substring 2,
                              combo_partial 3, else 4)
  stage 5   (selection)     → window rank-1 over an explicit tuple
                              (scoring.py:203-387 W1; every tie-break
                              key explicit per SURVEY §7)

The 'batch' concept vanishes: dedupe-by-text once (A6), tag distinct
texts, join back. Dims broadcast — at 100 TB the fact side never
shuffles; the only wide op is the per-doc candidate window, whose key
(text) is near-unique so skew is bounded.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

import pandas as pd
from pyspark.sql import types as T

from ..session import pin_parallelism, run_concurrently
from ..functions.exprcache import cached_checkpoint, cached_value
from ..functions.fuzzy import fuzz_ratio, length_band_filter
from ..functions.routes_forms import parse_form_col
from ..functions.text import normalize_text
from ..functions.tokens import (
    normalize_generic_combination_native,
    singularize_py,
)
from ..functions.constants import REGIONAL_CANONICAL
from ..functions.vocab_full import SPELLING_SYNONYMS_FULL
from ..functions.vaccines import classify_input_py, normalize_vaccine_name_py
from ..functions.matching import (
    MATCH_PRIORITY,
    build_multiword_generics_py,
    generics_match_py,
    iv_vehicle_skip_py,
    normalized_input_set_py,
    stripped_generics_py,
)
from ..functions.tokens import apply_synonym_py


from ..functions.details import DETAILS_SCHEMA, extract_drug_details_py  # noqa: E402

_DOC_ENRICH_SCHEMA = T.StructType(
    [
        T.StructField("vaccine_canon", T.StringType()),
        T.StructField("is_vaccine", T.BooleanType()),
        T.StructField("input_class", T.StringType()),
        T.StructField("details", DETAILS_SCHEMA),
        T.StructField("components", T.ArrayType(T.StringType())),
        # also the reference's word-granular no_candidates display
        # list (unknown phrases arrive as one word per token from its
        # extract; known multiword dim names / pure-salt compounds /
        # vaccine names stay whole) — the probe set and the display
        # list are the SAME list since word_expand runs pre-strip
        T.StructField("stripped", T.ArrayType(T.StringType())),
        T.StructField("combo_keys", T.ArrayType(T.StringType())),
        # F20-categorized input tokens for the output's dose/form/route
        # columns (reference tagger.py:937-951,980-982)
        T.StructField("cat_dose", T.StringType()),
        T.StructField("cat_form", T.StringType()),
        T.StructField("cat_route", T.StringType()),
    ]
)


def _make_doc_enrich(brand_b, mw_b, syn_b):
    """ONE Arrow crossing for all per-doc Python: vaccine canon, input
    classification, the F15 details struct, the stripped-generics list
    (brand swap → multiword/pure-salt guard → salt strip → junk
    filter, tagger.py:624-630,303-307,712-719), and the reference-
    shaped combination lookup keys (raw + synonym-normalized + key-
    synonym variants, tagger.py:654-680). Separate UDFs measured ~3×
    the batch-transfer cost, hence the single struct. ``brand_b`` /
    ``mw_b`` / ``syn_b`` are broadcast dict/frozenset built from the
    dims on the driver (dims are broadcast-sized by design)."""
    from ..functions.matching import build_combination_keys_ref_py

    def combo_keys(
        sgs: list[str], syn: dict[str, str], clean_tokens: list[str] = ()
    ) -> list[str]:
        # CLEAN-token combination keys probe FIRST (reference
        # tagger.py:672-680 + 757-764 collection order). _clean_tokens
        # is the clean extraction when one ran, else the merged token
        # list's FIRST TWO (tagger.py:622) — that [:2] truncation is
        # what lets a 3-component typo'd combination fuzzy-reach a
        # 2-component dim generic through the pair key (r10
        # corpus-fuzz catch, seed 99991 comma-dose combos).
        keys: list[str] = []
        if clean_tokens is not None and len(clean_tokens) >= 2:
            keys = list(build_combination_keys_ref_py(list(clean_tokens)))
            for k in list(keys):
                ks = apply_synonym_py(k, syn)
                if ks != k and ks not in keys:
                    keys.append(ks)
        keys += [k for k in build_combination_keys_ref_py(sgs) if k not in keys]
        normalized = [apply_synonym_py(s, syn) for s in sgs]
        keys += [k for k in build_combination_keys_ref_py(normalized) if k not in keys]
        for k in list(keys):
            ks = apply_synonym_py(k, syn)
            if ks != k and ks not in keys:
                keys.append(ks)
        return keys

    @F.pandas_udf(_DOC_ENRICH_SCHEMA)
    def _doc_enrich(
        text: pd.Series, n_comp: pd.Series, components: pd.Series
    ) -> pd.DataFrame:
        from ..functions.tokens import (
            categorize_tokens_py,
            extract_generic_tokens_py,
        )

        from ..functions.vaccines import match_vaccine_text_py

        brand_map, multiword, syn = brand_b.value, mw_b.value, syn_b.value
        details = [extract_drug_details_py(t) for t in text]
        # Vaccine detection, reference semantics (tagger.py:578-600):
        # normalize_vaccine_name sets the canonical name INTO the F15
        # details (drug_details["generic_name"] = vaccine_name, with
        # vaccine_details appended to type_details); match_vaccine_text
        # ALSO flags _is_vaccine on a bare acronym/component hit — the
        # component scan is substring-based, so e.g. FLU-containing
        # names flag too (live-reference parity, diff-adjudicated).
        vac = [normalize_vaccine_name_py(t) for t in text]
        vmatch = [match_vaccine_text_py(t) for t in text]
        is_vac = [
            (vn is not None) or (acr is not None) or bool(comps)
            for (vn, _), (acr, comps) in zip(vac, vmatch)
        ]
        for d, (vn, vdet) in zip(details, vac):
            if vn:
                d["generic_name"] = vn
                if vdet:
                    d["type_details"] = (
                        f"{d['type_details']}; {vdet}" if d.get("type_details") else vdet
                    )
        # --- reference tagger.py:604-637 + 837: ONE extract twin run
        # per text supplies BOTH the lookup token list and the
        # dose/form/route categories (the reference's categories come
        # from the same extract's token list). r10: the former
        # multiword_hits + word_expand + merge_clean composition
        # APPROXIMATED extract_generic_tokens; the corpus fuzz's
        # double-pure-salt IV shapes caught the approximation's
        # clean-pass hole — the reference re-runs the FULL extractor
        # on the F15-cleaned name (tagger.py:614-619), where a leading
        # element-drug token like SODIUM categorizes as a generic.
        # extract_generic_tokens_py is fuzzed verbatim against the
        # live reference (scripts/fuzz_extract_tokens_vs_reference.py,
        # ~9.2K composed texts, 0 mismatches).
        extracted = [extract_generic_tokens_py(t, multiword) for t in text]
        cats = [categorize_tokens_py(toks) for toks, _ in extracted]
        merged = []
        clean_toks: list[list[str]] = []
        for t, (toks, gt), d, (vn, _) in zip(text, extracted, details, vac):
            # vaccine canonical name becomes the PRIMARY token BEFORE
            # the clean merge (reference tagger.py:608-611)
            if vn:
                gt = [vn] + [g for g in gt if g.upper() != vn.upper()]
            # clean pass: the F15 generic_name (vaccine-overridden
            # above, like the reference's drug_details) re-extracted,
            # clean tokens FIRST (tagger.py:613-619)
            gname = d.get("generic_name")
            clean_gt: list[str] = []
            if gname and gname != t.upper():
                _, clean_gt = extract_generic_tokens_py(gname, multiword)
                gt = list(dict.fromkeys(clean_gt + gt))
            # _clean_tokens (tagger.py:622): the clean extraction if it
            # produced anything, else the merged list's first two
            clean_toks.append(clean_gt if clean_gt else gt[:2])
            merged.append([g.lower() for g in gt])

        stripped = [
            stripped_generics_py(c, brand_map, multiword) for c in merged
        ]
        return pd.DataFrame(
            {
                "vaccine_canon": [vn for vn, _ in vac],
                "is_vaccine": is_vac,
                "input_class": [
                    classify_input_py(t, int(n) if n is not None else 0)
                    for t, n in zip(text, n_comp)
                ],
                "details": details,
                "components": merged,
                "stripped": stripped,
                "combo_keys": [
                    combo_keys(sgs, syn, ct) for sgs, ct in zip(stripped, clean_toks)
                ],
                "cat_dose": ["|".join(c["dose"]) or None for c in cats],
                "cat_form": [next(iter(c["form"]), None) for c in cats],
                "cat_route": ["|".join(c["route"]) or None for c in cats],
            }
        )

    return _doc_enrich


_INPUT_SET_SCHEMA = T.StructType(
    [
        T.StructField("input_set", T.ArrayType(T.StringType())),
        T.StructField("num_input", T.IntegerType()),
        T.StructField("active", T.StringType()),
        T.StructField("vehicle", T.StringType()),
    ]
)


def _make_input_set(syn_b):
    """Per-doc normalized input set (tagger.py:884-913): fuzzy
    corrections applied through the reference's BLIND-POSITIONAL
    assignment (fuzzy_corrections_ref_py — collection order = combo
    keys first, then stripped tokens; an earlier non-fuzzy hit of the
    same name suppresses the correction); reference-shaped combo-key
    synonym rewrites join the set. Runs once per DISTINCT text — the
    same dedupe-by-text contract as the enrich crossing."""
    from ..functions.matching import fuzzy_corrections_ref_py

    @F.pandas_udf(_INPUT_SET_SCHEMA)
    def _input_set(
        stripped: pd.Series, combo_keys: pd.Series,
        hit_keys: pd.Series, hit_names: pd.Series, hit_fuzzy: pd.Series,
    ) -> pd.DataFrame:
        syn = syn_b.value
        rows = []
        for sg, cks, hk, hn, hf in zip(
            stripped, combo_keys, hit_keys, hit_names, hit_fuzzy
        ):
            sgs = list(sg) if sg is not None else []
            key_hits: dict[str, list[tuple[str, bool]]] = {}
            if hk is not None and len(hk):
                for k, n, f in zip(list(hk), list(hn), list(hf)):
                    key_hits.setdefault(k, []).append((n, bool(f)))
            ordered = [c.lower() for c in (list(cks) if cks is not None else [])]
            ordered += [s.lower() for s in sgs]
            corrections = fuzzy_corrections_ref_py(sgs, ordered, key_hits)
            rows.append(normalized_input_set_py(sgs, corrections, syn))
        return pd.DataFrame(
            rows, columns=["input_set", "num_input", "active", "vehicle"]
        )

    return _input_set


_VALIDATE_SCHEMA = T.StructType(
    [
        T.StructField("matches", T.BooleanType()),
        T.StructField("reason", T.StringType()),
        T.StructField("iv_skip", T.BooleanType()),
    ]
)


def _make_validate(syn_b):
    """F33 candidate admission (scoring.py:234-273): generics_match
    against the normalized input set (reason drives W1 match_priority,
    scoring.py:303-310) plus the IV vehicle-skip predicate
    (scoring.py:249-266). Candidate multiplicity per doc is small
    (bounded by dim hits per token), so the Arrow batch is cheap."""

    @F.pandas_udf(_VALIDATE_SCHEMA)
    def _validate(
        input_set: pd.Series, cand: pd.Series, active: pd.Series, vehicle: pd.Series
    ) -> pd.DataFrame:
        syn = syn_b.value

        def ap(g: str) -> str:
            return apply_synonym_py(g, syn)

        out = []
        for s, c, a, v in zip(input_set, cand, active, vehicle):
            gens = list(s) if s is not None else []
            m, r = generics_match_py(gens, c or "", ap)
            skip = iv_vehicle_skip_py(c or "", a or None, v or None, syn)
            out.append((bool(m), r, bool(skip)))
        return pd.DataFrame(out, columns=["matches", "reason", "iv_skip"])

    return _validate

FUZZY_MIN_RATIO = 85.0


def _singular_key(key) -> "F.Column":
    """Native twin of singularize_py applied to the FIRST word of a
    lowercase key (F29, lookup.py:52-94): IES→Y, [sxzh]ES→drop ES,
    other ES/S→drop one S; SS never strips. Parity pinned by
    tests/test_tagger.py::test_native_singularize_parity."""
    words = F.split(key, " ")
    first = F.element_at(words, 1)

    def chop(n: int):
        return F.substring(first, F.lit(1), F.length(first) - n)

    sing_first = (
        F.when(first.endswith("ies"), F.concat(chop(3), F.lit("y")))
        .when(
            first.endswith("es")
            & (F.length(first) > 3)
            & F.substring(first, -3, 1).isin("s", "x", "z", "h"),
            chop(2),
        )
        .when(first.endswith("es") & (F.length(first) > 3), chop(1))
        .when(first.endswith("s") & ~first.endswith("ss"), chop(1))
        .otherwise(first)
    )
    tail = F.array_join(F.slice(words, 2, 100000), " ")
    return F.when(tail == "", sing_first).otherwise(F.concat_ws(" ", sing_first, tail))

PRIORITY_MIXTURE = 0
PRIORITY_TOKEN = 1
PRIORITY_BRAND = 2
PRIORITY_PREFIX = 3
PRIORITY_FUZZY = 4
# mixture tiers are fallbacks in the reference (fire only when no
# other candidate survives) — rank below every gated candidate
PRIORITY_SYNONYM_MIXTURE_FALLBACK = 98
PRIORITY_MIXTURE_FALLBACK = 99


def _components(esoa: DataFrame, text_col: str, brand_b, mw_b, syn_b) -> DataFrame:
    """Stages 1-2: dedupe texts, extract combination components."""
    doc_enrich = cached_value(
        "tagger_doc_enrich", _broadcast_key(brand_b, mw_b, syn_b),
        lambda: _make_doc_enrich(brand_b, mw_b, syn_b),
    )
    # Explicit repartition after the dedupe shuffle (pin_parallelism):
    # AQE's coalescing is BYTE-based (parallelismFirst still coalesces
    # below minPartitionSize), and 155K distinct short texts compress
    # under 1 MB — so without this, AQE collapses the stage to ONE
    # partition and the expensive Python enrichment below runs
    # single-threaded (r6 measured at 155K texts: the enrich stage
    # alone 46-49 s on one core vs 4.7 s pinned wide; AQE cannot see
    # Python CPU, only shuffle bytes). Dedupe BEFORE the pin: pinning
    # first plans one exchange instead of two but shuffles every input
    # row, and eSOA inputs repeat texts (3M rows over 146K texts:
    # 17.7 MB shuffled pinned-first vs 4.2 MB deduped-first).
    # STAGED selects, not a withColumn chain (r11): the normalize /
    # combination-twin / form expressions embed thousands of vocab
    # literals, and each of the former 15 withColumns re-analyzed the
    # whole tree — pure driver time. Column names and order reproduce
    # the former chain exactly.
    base = pin_parallelism(
        esoa.select(F.col(text_col).alias("raw_text"))
        .filter(F.col("raw_text").isNotNull() & (F.trim("raw_text") != ""))
        .distinct(),
        "raw_text",
    ).select(
        "raw_text",
        normalize_text(F.col("raw_text")).alias("text_norm"),
        # native (whole-stage-codegen) twin of the Python extractor —
        # equivalence pinned by tests/test_native_combination_parity.py;
        # passed as a NAME so the ~0.6 s expression tree is memoized
        # per SparkContext (functions/exprcache) instead of rebuilt
        # through thousands of py4j round trips per tag() call
        normalize_generic_combination_native("raw_text").alias("combo_str"),
    )
    with_comp = (
        base.select(
            "*",
            F.filter(F.split(F.lower("combo_str"), " \\+ "), lambda x: x != "").alias(
                "components"
            ),
        )
        .select("*", F.size("components").alias("n_comp"))
        .select(
            "*",
            doc_enrich(
                F.col("raw_text"), F.col("n_comp"), F.col("components")
            ).alias("enrich"),
        )
    )
    docs = with_comp.select(
        "raw_text", "text_norm", "combo_str", "components", "n_comp",
        F.col("enrich.vaccine_canon").alias("vaccine_canon"),
        F.col("enrich.is_vaccine").alias("is_vaccine"),
        F.col("enrich.input_class").alias("input_class"),
        # W1 tie-break inputs: the F15 details struct (scoring.py:283-291)
        # and the parsed input form (native twin — stays in codegen)
        F.col("enrich.details").alias("details"),
        # clean-merged lookup tokens (reference tagger.py:604-619:
        # details-clean tokens first, raw tokens after, deduped) —
        # feeds the token-tier key explode; the combination gate and
        # mixture tier stay on the raw `components`/`n_comp` so a
        # clean-token VARIANT of one raw component never inflates the
        # all-components-matched requirement
        F.col("enrich.components").alias("lookup_components"),
        # the per-doc stripped generics (ordered: [0]=active, [1]=vehicle)
        F.col("enrich.stripped").alias("stripped"),
        F.col("enrich.combo_keys").alias("combo_keys"),
        F.col("enrich.cat_dose").alias("cat_dose"),
        F.col("enrich.cat_form").alias("cat_form"),
        F.col("enrich.cat_route").alias("cat_route"),
        parse_form_col(F.col("raw_text")).alias("input_form"),
    )
    # docs feeds 4+ subtrees (mixture tier, token keys, synthesized
    # combos, final join): without materialization the pandas_udf
    # extraction re-executes per branch — measured 5× end-to-end cost.
    # localCheckpoint (not persist): the enrich columns embed the
    # native vocab expression trees (normalize/combination/form
    # twins — thousands of literals), and every consumer COPIES the
    # logical subtree into its own plan. With persist the final tag
    # plan analyzed to a 25 MB tree; Catalyst re-walks it on every
    # downstream transformation (~0.5 s per withColumn/join, ~56 s of
    # driver time per tag() call) and re-optimizes it per action.
    # Truncating lineage here collapses each copy to a LogicalRDD
    # leaf: measured 90 s → ~15 s for a 400-row tag plan. Distinct
    # texts are bounded (dedupe-by-text), so materializing them is the
    # production shape too; on a cluster an executor loss under
    # localCheckpoint costs a job retry — acceptable for a bounded
    # doc relation, and the runner's checkpoint_dir covers the
    # reliable-checkpoint variant for the long-lineage dims.
    #
    # LAZY checkpoint + background materialization (r11): eager=False
    # already truncates the logical plan to a LogicalRDD leaf (no
    # children — verified), so downstream plan construction can start
    # immediately while the registry's background count (exprcache)
    # runs the enrich job. The BlockManager's per-partition
    # compute-or-wait locking makes the race benign: whoever touches a
    # partition first computes it, the other waits — the first
    # downstream action pays only the not-yet-finished remainder
    # instead of the full ~1.6 s enrich wall. A failed background count
    # loses nothing: that action computes the partitions it missed.
    # r14: through the content-keyed registry (exprcache). When the
    # SAME corpus is re-tagged in one session (bench warm runs, batch
    # re-invocations), the pre-checkpoint plan is semantically stable —
    # ks/dims resolve to registry leaves, the vocab Column trees are
    # memoized, and cached_broadcast returns the same Broadcast objects
    # so the enrich UDF pickles identically — and the registry returns
    # the ONE already-materialized docs leaf instead of re-running the
    # enrich job. Same session-scoped plan-equality semantics as the
    # persisted intermediates the CacheManager already dedups (r10-13
    # convention); a cold/first call computes everything from parquet.
    return cached_checkpoint(docs, eager=False)


def _broadcast_key(*broadcasts) -> tuple:
    """Registry key for an artifact built from these (content-keyed)
    broadcasts: their Spark ids, unique within the application where a
    Python id() is reused once its object is collected. Memoizing the
    tagger's UDF objects on it matters (r14): a fresh UDF object per
    call pickles into a DISTINCT PythonUDF plan node, defeating both
    the checkpoint registry and the CacheManager's plan-equality dedup
    of the persisted tiers."""
    return tuple(b._jbroadcast.id() for b in broadcasts)


def _persist(df: DataFrame, persisted: list[DataFrame]) -> DataFrame:
    """Persist ``df`` and record it in the calling tag_descriptions'
    own list (exposed as ``tagged.persisted_intermediates``)."""
    df = df.persist()
    persisted.append(df)
    return df


def _token_matches(
    keys: DataFrame, generics_dim: DataFrame, synonyms_dim: DataFrame | None,
    brands_dim: DataFrame | None, mixtures_dim: DataFrame | None = None,
    *, persisted: list[DataFrame],
) -> DataFrame:
    """Stage 3 for single tokens (the reference's single IN-list
    lookup + fallbacks, lookup.py:223-306): exact, synonym, singular
    and brand hits all share tier_order 0 — the reference resolves
    them in ONE dictionary probe, so they coexist per key and the
    eventual winner is decided by match PRIORITY, not tier. Only
    prefix / multiword / fuzzy / synonym→mixture remain true fallback
    tiers (higher tier_order, kept by the argmin only when no
    tier-0 hit exists for the key).

    Spark-first shape: a literal miss-cascade (each fallback consuming
    the previous tier's misses via anti-joins) builds a lineage where
    the keys subtree re-executes once per tier branch — measured ~5×
    the whole-tagger cost at 146K rows. Instead every tier probes
    ``keys`` INDEPENDENTLY (all broadcast joins, one pass over the
    fact side) and a final per-(raw_text, key) argmin over tier_order
    keeps exactly the rows the miss-cascade would have kept.

    ``keys`` holds one row per (raw_text, key) with ``is_combo``; a
    ``brands_dim`` is the pre-stripped (bkey, target_key) relation."""
    # ``is_combo`` marks COMBINATION-key probes (r9): the reference's
    # cache (batch_lookup_generics) treats every unique string the
    # same — exact/prefix/fuzzy — so combo keys ride those tiers, but
    # the MULTIWORD-CONTAINMENT tier models a TOKENIZE-TIME feature
    # (extract_generic_tokens) that never sees combo keys, and the
    # synonym→mixture fallback iterates stripped tokens only
    # (tagger.py:783-804). Both are restricted to token-origin keys
    # below (regression-caught by the differential: the normalized
    # combo key 'AMOXICILLIN + CLAVULANIC ACID' word-contained the
    # single generic and stole the win from the mixture).
    keys = _persist(keys, persisted)  # probed by every tier
    keys_tok = keys.filter(~F.col("is_combo"))
    # reference_text = the dim row's raw text (unified.reference_text)
    # — the W1 details probe targets it alongside the generic name
    # (scoring.py:331-376); dims without the column yield null = the
    # reference's ''-ref candidates.
    ref_col = (
        F.col("reference_text")
        if "reference_text" in generics_dim.columns
        else F.lit(None).cast("string")
    )
    # dim provenance → the reference's `sources` output column
    src_col = (
        F.col("source") if "source" in generics_dim.columns
        else F.lit(None).cast("string")
    )
    g = F.broadcast(
        generics_dim.select(
            F.lower("generic_name").alias("gkey"),
            "generic_name", "drugbank_id", ref_col.alias("reference_text"),
            src_col.alias("sources"),
        )
    )

    def tier(df: DataFrame, order: int, priority: int, reason: str) -> DataFrame:
        return df.select(
            "raw_text", "key", "generic_name", "drugbank_id", "reference_text",
            "sources",
            F.lit(order).alias("tier_order"),
            F.lit(priority).alias("match_priority"),
            F.lit(reason).alias("match_reason"),
        )

    tiers = [tier(keys.join(g, keys.key == F.col("gkey")), 0, PRIORITY_TOKEN, "exact")]

    if synonyms_dim is not None:
        syn = F.broadcast(
            synonyms_dim.select(F.lower("synonym").alias("skey"),
                                F.lower("generic_name").alias("target_key"))
        )
        tiers.append(
            tier(
                keys.join(syn, keys.key == F.col("skey"))
                .join(g, F.col("target_key") == F.col("gkey")),
                0, PRIORITY_TOKEN, "synonym",
            )
        )

    # Singular retry (F29, lookup.py:52-94): plural first word →
    # singular, re-probe the generics dim.
    sing = keys.withColumn(
        "skey2",
        cached_value("singular_key", "key", lambda: _singular_key(F.col("key"))),
    ).filter(F.col("skey2") != F.col("key"))
    tiers.append(tier(sing.join(g, sing.skey2 == F.col("gkey")), 0, PRIORITY_TOKEN, "singular"))

    if brands_dim is not None:
        # The reference swaps brand→generic FIRST and salt-strips the
        # swap target before probing (tagger.py:624-647): FLANAX →
        # NAPROXEN SODIUM → NAPROXEN → exact dim hit. Probing the
        # unstripped target would miss every salt-suffixed brand map.
        # _tag_descriptions_impl passes a PRE-STRIPPED (bkey,
        # target_key) relation computed driver-side through the full
        # reference chain (pure-salt + multiword guard + single-strip,
        # tagger.py:302-307) — the guards need the collected multiword
        # set, which only the caller holds.
        br = F.broadcast(brands_dim.select("bkey", "target_key"))
        # token-origin keys only (r9): the reference's brand→generic
        # swap is a TOKENIZE-TIME step (_swap_brand per token,
        # tagger.py:624-647), never a cache probe — a space-joined
        # combination-key variant must not resolve through a multiword
        # BRAND name (randomized-corpus fuzz catch: 'SINECOD FORTE'
        # as a plain text matched BUTAMIRATE here while the
        # reference's per-token swap never fires on it)
        tiers.append(
            tier(
                keys_tok.join(br, keys_tok.key == F.col("bkey"))
                .join(g, F.col("target_key") == F.col("gkey")),
                0, PRIORITY_BRAND, "brand",
            )
        )

    # The three fallback tiers below (prefix / multiword-containment /
    # fuzzy) are the EXPENSIVE probes, and their candidates depend
    # ONLY on the key, never on which text carried it. So they probe
    # each DISTINCT key once, and one join hands the hits back to the
    # (raw_text, key) pairs: the reference's own shape
    # (batch_lookup_generics caches per unique string, tagger.py:
    # 700-705). Per pair, the fuzzy scorer ran once per (text,
    # candidate): r6 measured 21.9M pure-Python ratio calls (2,260
    # CPU-s) at 155K texts against ~0.3M per distinct key. Two origin
    # flags carry the per-pair rules over to the key: the brand
    # short-circuit and the multiword tier apply to token-origin pairs
    # only. pin_parallelism first, then aggregate: one exchange, and
    # the probe is small-bytes/high-CPU, exactly what AQE would
    # collapse to one partition.
    probe = pin_parallelism(keys, "key").groupBy("key").agg(
        F.max(~F.col("is_combo")).alias("has_tok"),
        F.max("is_combo").alias("has_combo"),
    )

    # Tier-0 short-circuit (r9): a key resolved by ANY tier-0 probe
    # (exact / synonym / singular / brand) can never keep a fallback
    # row — the final per-(raw_text, key) argmin over tier_order drops
    # it, and tier-0 hits are key-determined. Anti-joining those keys
    # out of the fallback probe is therefore row-identical, and it is
    # the reference's own short-circuit (batch_lookup_generics runs
    # prefix/fuzzy only on total dictionary misses, lookup.py:223-306).
    # Without it the three theta probes below cost |ALL distinct keys|
    # × |dim| — measured 330 s on a 20K-text corpus of unique tokens
    # (≈400M pandas-UDF fuzzy pairs) vs ~10 s with the exclusion; at
    # 100 TB the probe side is the corpus token vocabulary (Heaps'
    # law), so excluding the exact-resolved bulk is the difference
    # between probing junk tokens and probing the whole language.
    # Synonym/brand keys count as resolved only when their TARGET is
    # in the generics dim (a dangling target produces no tier-0 row).
    fb = probe.join(g.select("gkey"), probe.key == F.col("gkey"), "left_anti")
    if synonyms_dim is not None:
        fb = fb.join(
            F.broadcast(
                syn.join(g, F.col("target_key") == F.col("gkey"), "left_semi")
                .select("skey")
            ),
            fb.key == F.col("skey"), "left_anti",
        )
    fb = fb.join(
        g.select(F.col("gkey").alias("_sg")),
        _singular_key(fb.key) == F.col("_sg"), "left_anti",
    )
    if brands_dim is not None:
        # brand hits exist for TOKEN-origin pairs only (the brand tier
        # is keys_tok), so a brand-resolved key stays in the probe
        # while some pair probes it as a combination key (the
        # reference probes that string through prefix/fuzzy like any
        # cache key); its token-origin pairs keep their tier-0 row
        br_resolved = F.broadcast(
            br.join(g, F.col("target_key") == F.col("gkey"), "left_semi")
            .select("bkey")
        )
        fb = fb.join(br_resolved, (fb.key == F.col("bkey")) & ~fb.has_combo, "left_anti")
    # persist, NOT localCheckpoint: an r9 A/B on the sf0.1 tagger
    # headline measured the eager checkpoint job costing MORE than the
    # plan-size copies it saves (cold 28.1 s vs 23.5 s, warm 15.6 vs
    # 14.7) — fb is a small relation behind broadcast anti-joins, so
    # the lesson-#3 collapse does not pay here
    fb = _persist(fb, persisted)  # probed by all three fallback tiers

    def top(hits: DataFrame, n: int, *order) -> DataFrame:
        w = W.partitionBy("key").orderBy(*order)
        return hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)

    def per_key(hits: DataFrame, order: int, priority: int, reason: str,
                tok_only: bool = False) -> DataFrame:
        return hits.select(
            "key", "generic_name", "drugbank_id", "reference_text", "sources",
            F.lit(order).alias("tier_order"),
            F.lit(priority).alias("match_priority"),
            F.lit(reason).alias("match_reason"),
            F.lit(tok_only).alias("tok_only"),
        )

    # Prefix tier (lookup.py:287-295): dim name starts with "<token> "
    # — catches salt-suffixed dims ('amoxicillin' → 'AMOXICILLIN
    # TRIHYDRATE', fuzzy ratio ~67 would miss it). Reference keeps
    # LIMIT 3 ordered by length; same top-3 here.
    pref = fb.join(g, F.col("gkey").startswith(F.concat(fb.key, F.lit(" "))))
    pref_hits = top(pref, 3, F.asc(F.length("gkey")), F.asc("gkey"))

    # Multiword-containment tier (reference extract_generic_tokens'
    # multiword matching, tokenizer.py:1113-1200): a multiword dim
    # name word-boundary-contained in a junk-bearing token resolves
    # without fuzzy ('sodium chloride usp' ⊃ 'sodium chloride' — the
    # reference extracts the dim name at tokenize time, so it probes
    # as an exact token; fuzzy would miss once the junk outweighs the
    # name). Bounded like prefix: |distinct keys| × |multiword dim
    # names| broadcast probe; longest (most specific) names first.
    # TOKEN-ORIGIN pairs only (r9): this tier models tokenize-time
    # behavior, which combination keys never receive.
    mwg = g.filter(F.col("gkey").contains(" "))
    fb_mw = fb.filter("has_tok")
    cont = fb_mw.join(
        mwg,
        (fb_mw.key != F.col("gkey"))
        & F.concat(F.lit(" "), fb_mw.key, F.lit(" ")).contains(
            F.concat(F.lit(" "), F.col("gkey"), F.lit(" "))
        ),
    )
    cont_hits = top(cont, 3, F.desc(F.length("gkey")), F.asc("gkey"))

    # Fuzzy tier: length-band blocking only — lossless for ratio ≥ 85
    # (|len a − len b| ≤ 0.15·(len a + len b) is implied by the
    # threshold; a first-letter block would drop leading-char typos
    # like 'setirizine'→'cetirizine' @ ratio 90, which the reference's
    # unblocked rapidfuzz scan keeps). Python scorer only on the
    # per-distinct-key survivors.
    blocked = fb.filter(F.length("key") >= 4).join(
        g,
        length_band_filter(F.length(fb.key), F.length(F.col("gkey")), FUZZY_MIN_RATIO),
    )
    scored = blocked.withColumn("ratio", fuzz_ratio("key", "gkey")).filter(
        F.col("ratio") >= FUZZY_MIN_RATIO
    )
    fuzzy_hits = top(scored, 1, F.desc("ratio"), F.asc(F.length("gkey")), F.asc("gkey"))

    # One join-back for the three tiers. Scale note: it carries NO
    # broadcast hint on purpose. The hits side is bounded by |distinct
    # keys| — a text-derived vocabulary that grows with the corpus
    # (Heaps' law), the same reason the tf-idf/rare-token vocab
    # broadcasts are gated (retrieval.py / textstats.py). AQE converts
    # the shuffle join to a runtime broadcast whenever the hits side is
    # actually small (always, at test/production-differential
    # volumes), while at 100 TB a multi-GB hits relation degrades to a
    # sort-merge join instead of OOMing the driver.
    hits = (
        per_key(pref_hits, 4, PRIORITY_PREFIX, "prefix")
        .unionByName(per_key(cont_hits, 5, PRIORITY_TOKEN, "multiword", tok_only=True))
        .unionByName(per_key(fuzzy_hits, 6, PRIORITY_FUZZY, "fuzzy"))
    )
    back = keys.join(hits, "key").filter(~(F.col("tok_only") & F.col("is_combo")))
    tiers.append(back.select(*tiers[0].columns))

    if synonyms_dim is not None and mixtures_dim is not None:
        # Mixture-name synonym fallback (reference tagger.py:783-804):
        # when every dim tier misses, a synonym that rewrites the token
        # to a MIXTURE name admits that mixture ('CO-AMOXICLAV' →
        # 'AMOXICILLIN + CLAVULANIC ACID', reference_text = the mixture
        # name). Highest tier_order ⇒ the cascade argmin keeps it only
        # when everything else missed — the reference's fallback gating.
        mxn = F.broadcast(
            mixtures_dim.select(
                F.lower("mixture_name").alias("mkey"),
                F.col("mixture_name").alias("generic_name"),
                F.col("mixture_name").alias("reference_text"),
                "drugbank_id",
                F.lit("mixtures").alias("sources"),
            )
        )
        syn2 = F.broadcast(
            synonyms_dim.select(
                F.lower("synonym").alias("skey3"),
                F.lower("generic_name").alias("starget"),
            )
        )
        # token-origin keys only (r9): the reference's fallback
        # iterates stripped_generics, never combination keys
        tiers.append(
            tier(
                keys_tok.join(syn2, keys_tok.key == F.col("skey3"))
                .join(mxn, F.col("starget") == F.col("mkey")),
                7, PRIORITY_TOKEN, "synonym_mixture",
            )
        )

    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    # cascade semantics: keep only the best tier that hit each key
    wk = W.partitionBy("raw_text", "key")
    return (
        out.withColumn("best_tier", F.min("tier_order").over(wk))
        .filter(F.col("tier_order") == F.col("best_tier"))
        .drop("tier_order", "best_tier")
    )


def _materialize_dim(dim: DataFrame | None) -> DataFrame | None:
    """Collapse a dim's logical plan to a LogicalRDD leaf (eager
    localCheckpoint) so broadcast-join consumers don't each copy its
    derivation subtree into the probe plan. No-op for None and for
    relations that are already leaves (LogicalRDD / scans)."""
    if dim is None:
        return None
    try:
        # Leafness is judged on the OPTIMIZED plan, where a scan is a
        # bare relation (a catalog-table read analyzes with a
        # SubqueryAlias on top). A scan, such as the parquet copies
        # runner.run_drugs_all(checkpoint_dir=...) reads back, is
        # already a leaf: a checkpoint would only copy it.
        plan = dim._jdf.queryExecution().optimizedPlan()
        if plan.children().size() == 0:  # already a leaf relation
            return dim
    except Exception:
        pass
    # r14: content-keyed registry (exprcache.cached_checkpoint) — a
    # semantically-equal dim re-presented in the same session resolves
    # to the ONE existing leaf instead of paying a fresh checkpoint
    # job + analysis per tag() call (persist()-equivalent semantics).
    return cached_checkpoint(dim)


def _materialize_dims(*dims: DataFrame | None) -> list[DataFrame | None]:
    """Materialize several dims CONCURRENTLY (one driver thread per
    dim — Spark schedules jobs from multiple threads fine). The cost
    per dim is dominated by one-time codegen of its derivation
    expression (~2 s for prepare_pnf's 25-col batch), so overlapping
    them turns 5 × 2.3 s sequential into ~max(2.3 s)."""
    todo = [d for d in dims if d is not None]
    if not todo:
        return list(dims)
    return run_concurrently(
        todo[0].sparkSession, *(functools.partial(_materialize_dim, d) for d in dims)
    )


def w1_select_best(
    all_cand: DataFrame,
    atc_dim: DataFrame,
    docs: DataFrame,
    doc_inputs: DataFrame,
) -> DataFrame:
    """Stage 5: best candidate per doc — the W1 rank tuple of
    select_best_candidate (scoring.py:275-387) at the reference's
    granularity: ONE CANDIDATE PER (generic, ATC-code) PAIR
    (tagger.py:836-870 builds candidates per ATC; a generic with no
    ATC contributes a single atc_code=None candidate iff it has a
    drugbank_id, and hits with neither never become candidates).

    Because every rank key except atc_priority and the final cand_atc
    tie key is constant within a generic, the generic's surviving
    candidate is argmin over (atc_priority, atc_string) — computed as
    a min-struct in the ATC aggregation instead of exploding the
    window over pairs. The winning pair's single ATC is the output
    atc_code (reference tagger.py:976) and the cross-generic tie key
    (scoring.py:383); a no-ATC candidate's tie key is the literal
    "None" (rank_candidate does str(cand.get("atc_code")) on a None
    value). r8 rewrite, fuzz-pinned by
    scripts/fuzz_scoring_vs_reference.py: the previous per-generic
    shape used the W2-first ATC for both keys, which inverted
    atc_priority for combination inputs over mixed ATC sets and
    applied W2's length-first tie-break where the reference compares
    code strings lexicographically.

    Inputs: all_cand(raw_text, generic_name, drugbank_id,
    reference_text, match_priority, match_reason, gm_reason, sources);
    atc_dim(generic_name, atc_code, is_combination_atc);
    docs(raw_text, details, input_form);
    doc_inputs(raw_text, is_single, is_combination).
    """
    # --- ATC attach + preference ordering (W2: non-combination ATCs
    # first, then shorter, then lexical — scoring.py:55-70) for the
    # atc_codes payload column.
    atc = F.broadcast(
        atc_dim.select(F.col("generic_name").alias("atc_generic"), "atc_code", "is_combination_atc")
    )
    atc_structs = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("is_combination_atc").cast("int").alias("combo"),
                F.length("atc_code").alias("len"),
                F.col("atc_code").alias("code"),
            )
        )
    )
    # Candidate-space twins: a generic with no ATC rows is ONE
    # candidate whose code is the reference's str(None) and whose
    # combo flag is False (is_combination_atc(None) → False).
    acode = F.coalesce(F.col("atc_code"), F.lit("None"))
    combo_int = F.coalesce(F.col("is_combination_atc").cast("int"), F.lit(0))
    # Mixture-SOURCED candidates never attach ATC by name (r9
    # randomized-corpus catch): the reference's mixture rows carry no
    # atc_code — the post-scoring fallback builds its result dict
    # straight from the mixtures table (tagger.py:991-1014) and the
    # synonym→mixture candidates set atc None explicitly — so a
    # combination that exists BOTH as a mixture and as an ATC-bearing
    # generic emits a NULL ATC when matched through the MIXTURE path
    # ('MAGNESIUM HYDROXIDE + ALUMINUM HYDROXIDE' reversed-order text:
    # reference atc None, engine formerly A02AD01 via the name join).
    # Gating the join also keeps the rank keys reference-true (the
    # no-ATC candidate shape: tie key str(None), combo flag False).
    mixture_sourced = F.col("sources").eqNullSafe(F.lit("mixtures"))
    with_atc = (
        all_cand.join(
            atc,
            (all_cand.generic_name == F.col("atc_generic")) & ~mixture_sourced,
            "left",
        )
        .groupBy(
            "raw_text", "generic_name", "drugbank_id", "reference_text",
            "match_priority", "match_reason", "gm_reason",
        )
        .agg(
            # nullif: a matched generic with NO atc rows must emit NULL
            # (the reference's tagger sets atc_code=None — tagger.py:799,
            # 862 — and its Part-3 coverage excludes '' explicitly,
            # runners.py:249); array_join alone would emit '' which
            # isNotNull and silently inflates ATC coverage
            F.nullif(
                F.array_join(F.transform(atc_structs, lambda s: s["code"]), "|"), F.lit("")
            ).alias("atc_codes"),
            # argmin over (atc_priority, code) per input kind: single
            # inputs rank non-combo ATCs first (scoring.py:314-315),
            # combination inputs rank combo ATCs first (316-317),
            # anything else is indifferent so plain min(code) (318-319)
            F.min(F.struct(combo_int.alias("c"), acode.alias("a"))).alias("pick_single"),
            F.min(F.struct((1 - combo_int).alias("c"), acode.alias("a"))).alias("pick_combo"),
            F.min(acode).alias("pick_neutral"),
            F.min("sources").alias("sources"),
        )
    )

    ranked_input = with_atc.join(docs, "raw_text").join(doc_inputs, "raw_text")
    # Reference candidate admission (tagger.py:845-870): ATC rows OR a
    # drugbank_id; a hit with neither never becomes a candidate, so it
    # must not win the window (its doc stays no_match/no_candidates).
    # The tier-99 mixture FALLBACK is exempt — the reference's
    # post-scoring _lookup_mixture (tagger.py:991-1014) builds its
    # result dict directly, bypassing candidate admission entirely
    # (tier-98 synonym-mixtures DO pass through unique_matches →
    # admission, so they are not exempt).
    ranked_input = ranked_input.filter(
        F.col("atc_codes").isNotNull()
        | F.col("drugbank_id").isNotNull()
        | (F.col("match_priority") == PRIORITY_MIXTURE_FALLBACK)
    )
    # single inputs prefer single-drug ATCs, combination inputs prefer
    # combination ATCs, anything else is indifferent (scoring.py:312-319
    # — is_single/is_combination come from the NORMALIZED input set
    # size + the '+' marker, not the raw component count); the struct's
    # leading field IS the winning candidate's atc_priority
    atc_priority = (
        F.when(F.col("is_single"), F.col("pick_single.c"))
        .when(F.col("is_combination"), F.col("pick_combo.c"))
        .otherwise(F.lit(0))
    )
    # the winning (generic, ATC) pair's code: output atc_code AND the
    # final cross-generic tie key (never null — no-ATC pairs carry the
    # "None" literal)
    win_atc = (
        F.when(F.col("is_single"), F.col("pick_single.a"))
        .when(F.col("is_combination"), F.col("pick_combo.a"))
        .otherwise(F.col("pick_neutral"))
    )
    # form_priority (scoring.py:321-329): in the reference the tagger
    # builds EVERY candidate with form=None (tagger.py:847-856), so
    # cand_form is always '' and forms_are_equivalent('', f) is True
    # (missing → flexible, scoring.py:73-77) — the key is the CONSTANT
    # 1 whenever the input has a form, 0 otherwise. State that reality
    # instead of probing a column no dim carries (the former pseudo-
    # check read null cand_form → constant 2; either constant never
    # reorders a doc's candidates, but 1 is the reference's value).
    # Pinned by tests/test_tagger.py::test_form_priority_reference_constant.
    form_priority = F.when(F.col("input_form").isNull(), F.lit(0)).otherwise(F.lit(1))
    # details_score (scoring.py:331-376): negative weight per input
    # detail found in the candidate's generic name OR its reference
    # text (the dim row's raw text); brand_details probes the
    # reference text ONLY — two brands of one generic are equivalent,
    # the brand hit exists purely for brand→generic resolution
    # (scoring.py:360-366). Lower = better.
    cand_text = F.upper("generic_name")
    cand_ref = F.upper(F.coalesce(F.col("reference_text"), F.lit("")))

    def _hit(field: str, weight: int, ref_only: bool = False):
        v = F.upper(F.col("details")[field])
        in_cand = cand_ref.contains(v) if ref_only else (
            cand_text.contains(v) | cand_ref.contains(v)
        )
        return F.when(v.isNotNull() & (v != "") & in_cand, weight).otherwise(0)

    details_score = (
        _hit("release_details", -10)
        + _hit("type_details", -5)
        + _hit("form_details", -5)
        + _hit("indication_details", -5)
        + _hit("salt_details", -3)
        + _hit("brand_details", -1, ref_only=True)
        + _hit("alias_details", -2)
        + _hit("iv_diluent_type", -5)
    )
    w = W.partitionBy("raw_text").orderBy(
        F.asc("match_priority"),
        F.asc("atc_priority"),
        F.asc("form_priority"),
        F.asc("details_score"),
        F.desc(F.length("generic_name")),
        F.asc("win_atc"),
        F.asc("generic_name"),
        # payload columns that are NOT part of the reference tuple but
        # ride along in the output: order them too, so a dim carrying
        # duplicate names with different provenance/reference text
        # still yields a deterministic winner. match_reason/gm_reason
        # joined r9: one generic can now carry BOTH an exact and a
        # fuzzy candidate row (combo-key variants probe independently),
        # and without these keys the emitted reason was tie-arbitrary
        # (the reference's own output reason is just 'matched' —
        # tagger.py:_build_result_dict — so this column is engine-side
        # payload with a deterministic rule, not a parity surface)
        F.asc_nulls_last("reference_text"),
        F.asc_nulls_last("sources"),
        F.asc_nulls_last("match_reason"),
        F.asc_nulls_last("gm_reason"),
    )
    # ONE select for all computed rank columns (not a withColumn
    # chain): every transformation re-analyzes the full cascade tree
    # under ranked_input, so 5 chained withColumns cost 5 analysis
    # passes over the largest plan in the tagger (the verify skill's
    # "plan size is a resource" lesson — r11 driver-cost shave)
    return (
        ranked_input.select(
            "*",
            atc_priority.alias("atc_priority"),
            win_atc.alias("win_atc"),
            form_priority.alias("form_priority"),
            details_score.alias("details_score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "raw_text", "generic_name", "drugbank_id", "match_priority",
            "match_reason", "gm_reason", "atc_codes", "sources",
            # the winning pair's ATC (reference tagger.py:976), not the
            # W2-first of the list
            F.nullif(F.col("win_atc"), F.lit("None")).alias("atc_primary"),
            # reference output: reference_text falls back to the
            # generic name, uppercased (tagger.py:953-957)
            F.upper(F.coalesce("reference_text", "generic_name")).alias("reference_text"),
        )
    )


def tag_descriptions(
    esoa: DataFrame,
    generics_dim: DataFrame,
    atc_dim: DataFrame,
    synonyms_dim: DataFrame | None = None,
    brands_dim: DataFrame | None = None,
    mixtures_dim: DataFrame | None = None,
    text_col: str = "raw_text",
) -> DataFrame:
    """Tag each distinct description with (generic_name, drugbank_id,
    atc_codes, match_reason). Returns one row per input text; callers
    join back on text (A6). Persisted intermediates built for this
    plan are exposed as ``result.persisted_intermediates`` so
    per-trigger callers can unpersist them after consuming the batch
    (batch sessions may leave them cached - they back the plan). Each
    call owns its list, so concurrent calls never mix them; a failing
    build unpersists whatever it had already cached."""
    persisted: list[DataFrame] = []
    try:
        tagged = _tag_descriptions_impl(
            esoa, generics_dim, atc_dim, synonyms_dim, brands_dim,
            mixtures_dim, text_col, persisted,
        )
    except BaseException:
        for r in persisted:
            r.unpersist()
        raise
    tagged.persisted_intermediates = persisted
    return tagged


def _tag_descriptions_impl(
    esoa: DataFrame,
    generics_dim: DataFrame,
    atc_dim: DataFrame,
    synonyms_dim: DataFrame | None,
    brands_dim: DataFrame | None,
    mixtures_dim: DataFrame | None,
    text_col: str,
    persisted: list[DataFrame],
) -> DataFrame:
    spark = esoa.sparkSession
    sc = spark.sparkContext

    # Materialize the dims ONCE before any tier references them. The
    # unified builders (prepare_pnf's 25-col derivation especially)
    # produce expression trees in the 100s-of-KB range; every tier
    # broadcast-join would otherwise copy that subtree into the tag
    # plan (~8 copies → a 24 MB analyzed tree that Catalyst re-walks
    # on EVERY downstream transformation: measured ~0.5 s per
    # withColumn/join, ~60 s of driver time per tag() call, all
    # py4j-invisible). Dims are broadcast-sized by contract, so the
    # eager materialization is milliseconds of executor work; the
    # plan-side win is the whole point. Skip when the caller already
    # passes a leaf (checkpointed/parquet-read) relation.
    (
        generics_dim,
        atc_dim,
        brands_dim,
        mixtures_dim,
        synonyms_dim,
    ) = _materialize_dims(generics_dim, atc_dim, brands_dim, mixtures_dim, synonyms_dim)

    # The reference seeds its synonym dict with the SPELLING_SYNONYMS
    # canonical rewrites and the regional→US reverse map BEFORE the
    # table-derived entries (tagger.py:207-230); same seeding here —
    # a constant broadcast dim unioned with whatever the caller gives.
    seed_rows = [(k.upper(), v.upper()) for k, v in SPELLING_SYNONYMS_FULL.items()] + [
        (v.upper(), k.upper()) for k, v in REGIONAL_CANONICAL.items()
    ]
    # r14: memoized — createDataFrame produces a fresh LogicalRDD leaf
    # per call, and LogicalRDDs are never sameResult-equal across
    # instances, so every plan containing the seed (fb, token_hits,
    # doc_inputs) looked new to the CacheManager and the persisted
    # tiers re-computed on every warm call (probed: +3 persistent RDDs
    # per call). The rows are a pure module constant; one DataFrame
    # per SparkContext restores plan equality.
    seed = cached_value(
        "tagger_seed_synonyms", (),
        lambda: spark.createDataFrame(seed_rows, "synonym string, generic_name string"),
    )

    # Driver-side dict twins of the dims for the per-doc Python stages
    # (input-set construction + candidate validation). The dims are
    # broadcast-sized BY DESIGN (SCALE.md — they broadcast into every
    # hash join already); collecting them here is the same data volume
    # as the broadcasts Catalyst builds, not a fact-table collect.
    # The three dict collects run CONCURRENTLY (r12): each is a small
    # job over an already-materialized leaf, but sequentially they cost
    # three blocking driver round-trips per tag() call — same
    # overlapping rule as _materialize_dims.
    def _collect_syn():
        if synonyms_dim is None:
            return []
        return synonyms_dim.select("synonym", "generic_name").collect()

    def _collect_brands():
        if brands_dim is None:
            return []
        return brands_dim.select("brand_name", "generic_name").collect()

    def _collect_mw():
        return (
            generics_dim.select("generic_name")
            .filter(F.col("generic_name").contains(" "))
            .distinct()
            .collect()
        )

    syn_rows, brand_rows, mw_rows = run_concurrently(
        spark, _collect_syn, _collect_brands, _collect_mw
    )

    syn_map: dict[str, str] = dict(seed_rows)
    if synonyms_dim is not None:
        # later entries override, mirroring the reference's dict build
        for r in syn_rows:
            if r[0] and r[1]:
                syn_map[str(r[0]).upper()] = str(r[1]).upper()
        synonyms_dim = seed.unionByName(synonyms_dim.select("synonym", "generic_name"))
    else:
        synonyms_dim = seed
    brand_map: dict[str, str] = {}
    if brands_dim is not None:
        # deterministic first-wins per brand (the dims are pre-deduped
        # by build_unified_brands; the sort pins ties regardless)
        for r in sorted(brand_rows, key=lambda r: (str(r[0]), str(r[1]))):
            if r[0] and r[1]:
                brand_map.setdefault(str(r[0]).upper(), str(r[1]).upper())
    multiword = build_multiword_generics_py([r[0] for r in mw_rows if r[0]])
    # content-fingerprinted broadcast reuse (r11): every tag() call
    # collects the same dims and re-broadcast the same dicts — the
    # pickle + broadcast cost was a measured slice of the per-call
    # driver gap, and fresh Broadcast objects also defeated the
    # worker-side id()-tier trie cache (content tier caught it, at the
    # cost of a fingerprint verify per batch)
    from ..functions.exprcache import cached_broadcast

    syn_b = cached_broadcast(sc, "tagger_syn", syn_map)
    brand_b = cached_broadcast(sc, "tagger_brand", brand_map)
    mw_b = cached_broadcast(sc, "tagger_mw", multiword)

    docs = _components(esoa, text_col, brand_b, mw_b, syn_b)

    # --- mixture tier: sorted component_key → unified_mixtures (J8) ---
    candidates = []
    if mixtures_dim is not None:
        # _lookup_mixture sets reference_text = component_generics
        # (tagger.py:349-356); carry it when the dim has the column
        mx_ref = (
            F.col("component_generics")
            if "component_generics" in mixtures_dim.columns
            else F.lit(None).cast("string")
        )
        mx = F.broadcast(
            mixtures_dim.select(
                "component_key",
                F.col("mixture_name").alias("generic_name"),
                "drugbank_id",
                mx_ref.alias("reference_text"),
            )
        )
        combo_key = F.array_join(F.array_sort("components"), "|")
        # Display name = sorted UPPER components, NOT the dim's mixture
        # name (reference _lookup_mixture tagger.py:345-356:
        # display_name = ' + '.join(sorted(unique.upper()))). And the
        # mixture lookup is a FALLBACK in the reference — it fires only
        # when no other candidate survives (pre-gate: unique_matches
        # empty, tagger.py:806-834; post-gate: select_best returned
        # None, tagger.py:990-1018) — so it ranks BELOW every gated
        # candidate instead of above them (r4's priority-0 was wrong:
        # diff-adjudicated on 'AMOXICILLIN + CLAVULANIC ACID', where
        # the reference picks the canonical unified row, DB00766).
        display = F.array_join(
            F.array_sort(F.transform("components", lambda c: F.upper(c))), " + "
        )
        mixture_hits = (
            docs.filter(F.col("n_comp") >= 2)
            .withColumn("component_key", combo_key)
            .join(mx, "component_key")
            .select(
                "raw_text",
                display.alias("generic_name"),
                "drugbank_id",
                "reference_text",
                F.lit(PRIORITY_MIXTURE_FALLBACK).alias("match_priority"),
                F.lit("combination_key").alias("match_reason"),
                F.lit("mixture").alias("gm_reason"),
                F.lit("mixtures").alias("sources"),
            )
        )
        candidates.append(mixture_hits)

    # --- token tier: the probe keys are the STRIPPED generics (brand
    # swap → multiword/pure-salt guard → salt strip → junk filter) —
    # exactly the reference's per-text lookup set (tagger.py:701-778).
    # Re-stripping natively here would lose the multiword guard: e.g.
    # the 'ALUMINUM HYDROXIDE + MAGNESIUM HYDROXIDE' multiword token
    # must probe UNstripped or the combination-named dim row is only
    # reachable via prefix (diff-adjudicated).
    # Probe keys = stripped tokens AND combination keys: the reference
    # feeds BOTH through the same exact→prefix→fuzzy cache
    # (batch_lookup_generics over unique_generics, which includes
    # build_combination_keys output — tagger.py:654-680,700-705), so a
    # combo key can FUZZY-match a combination-named dim generic
    # ('ALBUPRIL + ALBOLOL' → 'ALBUPRIL + ALBUOLOL' @ ratio 97). r9
    # probe-caught: the engine's former combo tier was exact-only, so
    # every typo'd-component combination came back unmatched where the
    # reference matched.
    keys = (
        docs.select(
            "raw_text", F.explode("stripped").alias("component"),
        ).withColumn("is_combo", F.lit(False))
        .unionByName(
            docs.select(
                "raw_text", F.explode("combo_keys").alias("component"),
            ).withColumn("is_combo", F.lit(True))
        )
        .withColumn("key", F.lower("component"))
        .filter(F.col("key") != "")
        # a string probed both as a token and as a combo key keeps the
        # token origin (superset of tiers)
        .groupBy("raw_text", "key")
        .agg(F.min(F.col("is_combo").cast("int")).cast("boolean").alias("is_combo"))
    )
    # Pre-strip the brand-swap targets driver-side through the FULL
    # reference chain (pure-salt + multiword guard + single salt
    # strip, tagger.py:302-307 — e.g. a brand mapping to 'ISOSORBIDE
    # DINITRATE' must probe the multiword dim row unstripped). The
    # brands dim is broadcast-sized by contract and brand_map is
    # already collected, so this costs nothing extra. Memoized like
    # the seed: a fresh createDataFrame leaf per call made fb,
    # token_hits and doc_inputs new plans, 3 more cached RDDs per call.
    brands_targets = None
    if brand_map:
        from ..functions.matching import _strip_component

        brands_targets = cached_value(
            "tagger_brand_targets", _broadcast_key(brand_b, mw_b),
            lambda: spark.createDataFrame(
                [
                    (b.lower(), _strip_component(g, {}, frozenset(multiword)).lower())
                    for b, g in sorted(brand_map.items())
                ],
                "bkey string, target_key string",
            ),
        )
    token_hits = _persist(_token_matches(
        keys, generics_dim, synonyms_dim, brands_targets, mixtures_dim,
        persisted=persisted,
    ), persisted)

    # No synthesized ' + '-joined candidates: the reference never
    # fabricates a combination name from individually-matched tokens —
    # combination outputs come only from dim rows with combination
    # names (combo-key hits on unified) or the mixture fallback
    # (diff-adjudicated: a r1 misreading of tagger.py:707-834 that the
    # row-level differential run exposed — single-name candidates for
    # a combination input are SKIPPED by scoring, and when nothing
    # combo-named survives the row falls to the mixture fallback or
    # no_match).
    # Token-tier candidates exist for EVERY doc (the reference admits
    # all dim hits into scoring and lets the gates decide,
    # scoring.py:234-273): combination inputs drop non-combo names, IV
    # solutions drop vehicle-only names, single inputs keep matches.
    token_cand = token_hits.select(
        "raw_text", "generic_name", "drugbank_id", "reference_text", "match_reason",
        "sources",
    )

    # Combination-key lookups ride the SAME tier cascade as single
    # tokens now (the keys relation above unions combo_keys in), so
    # combination-named dim entries are reachable exact AND
    # prefix/fuzzy — the former exact-only per-DOC tier is subsumed
    # (r9; keeping it would duplicate candidate rows under a second
    # match_reason label and make the W1 rank-1 payload tie).

    # no_match vs no_candidates (reference tagger.py:826-876 +
    # result assembly): a doc whose cache hits yielded at least one
    # CANDIDATE (an ATC row or a drugbank_id — hits with neither never
    # become candidates, tagger.py:847-876) but no valid best is
    # 'no_match' with generic_name None; a doc with no candidates at
    # all is 'no_candidates' with the pipe-joined stripped tokens.
    _atc_names = F.broadcast(
        atc_dim.select(F.col("generic_name").alias("cand_gen")).distinct()
    )
    had_candidates = (
        token_cand.join(
            _atc_names, token_cand.generic_name == F.col("cand_gen"), "left"
        )
        .filter(F.col("drugbank_id").isNotNull() | F.col("cand_gen").isNotNull())
        .select("raw_text")
        .distinct()
        .withColumn("had_candidates", F.lit(True))
    )

    # --- F33 admission gate -------------------------------------------
    # Per-doc selection inputs (scoring.py:203-310): normalized input
    # set with fuzzy corrections folded in, active/vehicle components,
    # and the reference's input-shape flags (tagger.py:915-920).
    # ALL hits per doc (not only fuzzy): the blind-positional
    # corrections need non-fuzzy hits too — an earlier exact/synonym
    # hit of the same name suppresses a later fuzzy correction
    # (reference unique_matches dedupe, tagger.py:774-780)
    hit_pairs = (
        token_hits
        .groupBy("raw_text")
        .agg(
            F.collect_list("key").alias("hit_keys"),
            F.collect_list("generic_name").alias("hit_names"),
            F.collect_list((F.col("match_reason") == "fuzzy")).alias("hit_fuzzy"),
        )
    )
    input_set_udf = cached_value(
        "tagger_input_set", _broadcast_key(syn_b), lambda: _make_input_set(syn_b)
    )
    # input-shape flags (reference tagger.py:915-920), inlined into
    # ONE select below
    _HAS_PLUS = F.col("raw_text").contains("+")
    _HAS_IN = F.upper("raw_text").contains(" IN ") & (F.col("gm.num_input") > 1)
    doc_inputs = _persist(
        docs.select("raw_text", "stripped", "combo_keys")
        .join(hit_pairs, "raw_text", "left")
        .withColumn(
            "gm",
            input_set_udf("stripped", "combo_keys", "hit_keys", "hit_names", "hit_fuzzy"),
        )
        # one select, not withColumn×5 (each pass re-analyzes the
        # doc/hit join tree); the flag expressions are inlined off the
        # gm struct directly
        .select(
            "raw_text",
            F.col("gm.input_set").alias("input_set"),
            F.col("gm.num_input").alias("num_input"),
            F.col("gm.active").alias("active"),
            F.col("gm.vehicle").alias("vehicle"),
            _HAS_PLUS.alias("has_plus"),
            _HAS_IN.alias("has_in"),
            (_HAS_IN & ~_HAS_PLUS).alias("is_iv"),
            ((F.col("gm.num_input") > 1) & _HAS_PLUS).alias("is_combination"),
            (F.col("gm.num_input") == 1).alias("is_single"),
        ),
        persisted,
    )  # persisted: probed by the gate join and the W1 ranking join
    # non-deterministic mark (optimization guide §4.4): the v.matches
    # filter right below would otherwise be pushed under the
    # projection and DUPLICATE the validate UDF — the executed r13
    # plan showed ArrowEvalPython → Filter → ArrowEvalPython around
    # this call, every candidate paying generics_match twice. The
    # function is pure; the mark only stops the optimizer copying it.
    validate_udf = cached_value(
        "tagger_validate", _broadcast_key(syn_b),
        lambda: _make_validate(syn_b).asNondeterministic(),
    )
    priority_expr = F.lit(4)
    for reason, prio in sorted(MATCH_PRIORITY.items()):
        priority_expr = F.when(F.col("v.reason") == reason, prio).otherwise(priority_expr)
    # combination inputs keep only combination-named candidates
    # (scoring.py:268-271); inlined — withColumn passes over this
    # join+udf tree each cost a full re-analysis
    cand_is_combo = (
        F.col("generic_name").contains(" + ") | F.col("generic_name").contains(" AND ")
    )
    gated = (
        token_cand
        .join(
            doc_inputs.select(
                "raw_text", "input_set", "active", "vehicle", "is_iv", "is_combination"
            ),
            "raw_text",
        )
        .select("*", validate_udf("input_set", "generic_name", "active", "vehicle").alias("v"))
        .filter(
            F.col("v.matches")
            # IV vehicle skip (scoring.py:249-266)
            & ~(F.col("is_iv") & F.col("v.iv_skip"))
            & ~(F.col("is_combination") & ~cand_is_combo)
        )
        # W1 match_priority DERIVED from the generics_match reason
        # (scoring.py:303-310), replacing the former tier constants
        .select(
            "raw_text", "generic_name", "drugbank_id", "reference_text",
            priority_expr.alias("match_priority"), "match_reason",
            F.col("v.reason").alias("gm_reason"),
            "sources",
        )
    )
    candidates.append(gated)

    all_cand = candidates[0]
    for c in candidates[1:]:
        all_cand = all_cand.unionByName(c)

    best = w1_select_best(
        all_cand,
        atc_dim,
        docs.select("raw_text", "details", "input_form"),
        doc_inputs.select("raw_text", "is_single", "is_combination"),
    )
    # Vaccine override at result assembly (tagger.py:953-1028): the
    # canonical vaccine name supersedes whatever the token tiers found.
    # Regional canonical names (unified_constants.py:1716-1734) map US
    # spellings to the PH/WHO output names; components inside
    # combinations map too.
    regional = F.create_map(*[F.lit(x) for kv in REGIONAL_CANONICAL.items() for x in kv])
    regionalized = F.when(
        F.col("generic_name").isNotNull(),
        F.array_join(
            F.transform(
                F.split(F.col("generic_name"), " \\+ "),
                lambda c: F.coalesce(regional[c], c),
            ),
            " + ",
        ),
    )
    # Reference output parity: every result row carries the full F15
    # details surface (_build_result_dict propagates DRUG_DETAILS_COLUMNS,
    # tagger.py:69-118) — flatten the struct the enrich crossing already
    # computed; 'generic_name' stays the MATCHED name, so that field is
    # excluded from the flatten.
    detail_cols = [
        F.col(f"details.{f.name}").alias(f.name)
        for f in DETAILS_SCHEMA.fields
        if f.name != "generic_name"
    ]
    # Vaccine output override, reference semantics (tagger.py:963-971):
    # on a MATCHED row flagged _is_vaccine, the F15 details' generic
    # name (the canonical vaccine name when normalize_vaccine_name hit,
    # else the extractor's cleaned name) replaces both generic_name and
    # reference_text. UNMATCHED rows stay unmatched — the reference
    # emits the pipe-joined stripped token set as their generic_name
    # (tagger.py:826-833) with no ATC/DrugBank payload.
    vac_name = F.col("_details_generic")
    vac_override = (
        F.col("is_vaccine") & vac_name.isNotNull() & (vac_name != "")
    )
    unmatched_name = F.when(
        F.size("stripped") > 0, F.upper(F.array_join("stripped", "|"))
    )
    joined = (
        docs.select(
            "raw_text", "text_norm", "combo_str", "n_comp", "input_class", "is_vaccine",
            "stripped",
            F.col("details.generic_name").alias("_details_generic"),
            F.col("cat_dose").alias("dose"),
            F.col("cat_form").alias("form"),
            F.col("cat_route").alias("route"),
            *detail_cols,
        )
        .join(best, "raw_text", "left")
        .join(had_candidates, "raw_text", "left")
    )
    # ONE select instead of withColumn×4 + drop: each of those
    # transformations re-analyzed the full cascade tree under `best`
    # (plan size is a resource); the select reproduces the exact
    # former schema order (in-place replacements, matched appended).
    matched = F.col("generic_name").isNotNull()
    replacements = {
        # matched must be evaluated PRE-override, so it is inlined
        # (the former withColumn("matched") ran first for the same
        # reason)
        "generic_name": (
            F.when(matched & vac_override, vac_name)
            .when(matched, regionalized)
            # no_match (candidates existed, none valid) → NULL;
            # no_candidates → pipe-joined stripped tokens
            .when(F.col("had_candidates").isNull(), unmatched_name)
        ),
        "reference_text": F.when(matched & vac_override, vac_name).otherwise(
            F.col("reference_text")
        ),
        "match_reason": F.coalesce(
            "match_reason",
            F.when(F.col("had_candidates").isNotNull(), "no_match").otherwise(
                "no_candidates"
            ),
        ),
    }
    dropped = {"stripped", "_details_generic", "had_candidates"}
    return joined.select(
        *[
            replacements[c].alias(c) if c in replacements else F.col(c)
            for c in joined.columns
            if c not in dropped
        ],
        matched.alias("matched"),
    )


def apply_fda_food(tagged: DataFrame, fda_food_dim: DataFrame) -> DataFrame:
    """FDA food disambiguation (runners.py:1428-1496): an UNMATCHED
    text that hits the food registry (whole text, else any token ≥ 4
    chars) is food, not an unrecognized drug — label it so instead of
    'unmatched'. ``tagged`` is any relation with the tagger's
    ``raw_text``/``matched``/``match_reason`` columns; its one caller
    is Part 3's merge-back (``pipelines.runner.merge_tagged``), which
    applies it to the input rows joined back to the tagged texts.

    Both food lookups run per distinct text, matched or not, and are
    joined into ``tagged`` ONCE: a second branch that filtered
    ``tagged`` on ``matched`` would re-run the whole tag cascade under
    it. Only unmatched rows take a label: the final
    ``when(~matched, ...)`` decides."""
    food = F.broadcast(
        fda_food_dim.select(
            F.upper(F.trim("food_name")).alias("food_key"),
            F.col("food_type"),
        ).filter((F.col("food_key") != "") & (F.col("food_key") != "-"))
    )
    # deterministic survivor per food name (registries carry the same
    # name under several categories): min(food_type), NOT
    # dropDuplicates, whose per-partition survivor would flip the
    # emitted reason between runs
    direct = food.groupBy("food_key").agg(F.min("food_type").alias("direct_type"))
    # only the text column is read here, so the optimizer drops the
    # cascade's outer joins under this distinct and reads the texts
    # from the doc leaf
    texts = tagged.select("raw_text").distinct()
    tok_hit = (
        texts.select(
            "raw_text",
            F.posexplode(F.split(F.upper(F.trim("raw_text")), r"\s+")).alias("pos", "tok"),
        )
        .filter(F.length("tok") >= 4)
        .join(food, F.col("tok") == food.food_key)
        .groupBy("raw_text")
        .agg(F.min_by("food_type", F.struct("pos", "food_type")).alias("token_type"))
    )
    hits = (
        texts.join(
            F.broadcast(direct), F.upper(F.trim(texts.raw_text)) == direct.food_key, "left"
        )
        .drop("food_key")
        .join(tok_hit, "raw_text", "left")
    )
    # one select over the (large) tagged tree — not withColumn×2 +
    # drop, each a full re-analysis (same r11 plan-cost rule as the
    # final assembly); schema order reproduced exactly
    food_match = F.when(
        ~F.col("matched"),
        F.coalesce(
            F.col("direct_type"),
            F.concat(F.col("token_type"), F.lit("_partial")),
        ),
    )
    joined = tagged.join(hits, "raw_text", "left")
    dropped = {"direct_type", "token_type"}
    return joined.select(
        *[
            F.coalesce(food_match, F.col(c)).alias(c) if c == "match_reason" else F.col(c)
            for c in joined.columns
            if c not in dropped
        ],
        food_match.alias("food_match"),
    )
