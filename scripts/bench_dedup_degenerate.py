"""Adversarial-corpus A/B for the exact-group-first near-dup collapse
(r11 item #1): plant a large identical-text cluster and measure

  1. LSH candidate count — flat (doc-level banding) vs collapsed
     (rep-level banding): the collapsed count must be bounded by
     DISTINCT texts, the flat count goes ~n²/2 on the planted key;
  2. wall time for the full verified-pairs operator both ways;
  3. wall time for dedup-style cluster assignment both ways (the
     production flow, whose optimized output is LINEAR — it never
     expands pairs at all);
  4. a 10× corpus (every text ×10 copies + a 10K-doc planted cluster)
     where the flat path's within-cluster candidates alone are ~50M —
     run OPTIMIZED ONLY and show it completes with rep-level
     candidates unchanged from the 1× distinct-text bound.

Usage: python scripts/bench_dedup_degenerate.py [sf_dir]
Writes one JSON line per measurement to stdout; prose goes to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def emit(**kw):
    print(json.dumps(kw), flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pids_drg_esoa_spark.operators.curation import (
        assign_clusters,
        connected_components,
    )
    from pids_drg_esoa_spark.operators.dedup import (
        _DUP_CLUSTER_TEXT,
        _verified_pairs_core,
        distinct_text_reps,
        lsh_candidate_pairs,
        minhash_signature,
        minhash_verified_pairs,
        word_shingles,
    )
    from pids_drg_esoa_spark.session import get_spark
    from pids_drg_esoa_spark.sources.tables import table

    spark = get_spark(app_name="dedup-degenerate")

    base = table(spark, sf_dir, "documents")
    n_base = base.count()
    planted = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_DUP_CLUSTER_TEXT))
        .otherwise(F.col("text"))
        .alias("text"),
    ).persist()
    n_docs = planted.count()
    n_cluster = planted.filter(F.col("text") == _DUP_CLUSTER_TEXT).count()
    print(f"corpus: {n_docs} docs, planted cluster {n_cluster}", file=sys.stderr)

    # --- 1. candidate counts -------------------------------------------
    sh_flat = word_shingles(planted, "text", "doc_id", 3)
    cand_flat = lsh_candidate_pairs(minhash_signature(sh_flat)).count()
    member, rep_docs = distinct_text_reps(planted, "text", "doc_id")
    n_reps = rep_docs.count()
    sh_rep = word_shingles(rep_docs, "text", "doc", 3)
    cand_rep = lsh_candidate_pairs(minhash_signature(sh_rep)).count()
    emit(
        metric="lsh_candidates",
        sf_dir=sf_dir,
        n_docs=n_docs,
        n_cluster=n_cluster,
        n_distinct_texts=n_reps,
        candidates_flat=cand_flat,
        candidates_collapsed=cand_rep,
    )

    # --- 2. verified pairs wall, both paths (warm best-of-2) ----------
    def timed(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best, out

    def run_pairs(collapse):
        v, caches = minhash_verified_pairs(
            planted, n_docs=n_docs, collapse_exact=collapse
        )
        n = v.count()
        for r in caches:
            r.unpersist()
        return n

    w_flat, n_pairs_flat = timed(lambda: run_pairs(False))
    w_opt, n_pairs_opt = timed(lambda: run_pairs(True))
    emit(
        metric="verified_pairs_wall",
        wall_flat_s=round(w_flat, 2),
        wall_collapsed_s=round(w_opt, 2),
        pairs_flat=n_pairs_flat,
        pairs_collapsed=n_pairs_opt,
    )

    # --- 3. cluster assignment, both paths ----------------------------
    def assign_flat():
        v, caches = minhash_verified_pairs(
            planted, n_docs=n_docs, collapse_exact=False
        )
        comp = connected_components(v.select("doc_a", "doc_b"))
        for r in caches:
            r.unpersist()
        return assign_clusters(planted, "doc_id", comp).count()

    def assign_opt():
        mem, reps = distinct_text_reps(planted, "text", "doc_id")
        mem = mem.persist()
        v, _, caches = _verified_pairs_core(reps.persist(), "text", "doc", n_docs)
        caches.append(reps)
        comp = connected_components(v.select("doc_a", "doc_b"))
        lab = mem.join(comp, mem.rep == comp.doc, "left").select(
            mem.doc, F.coalesce("cluster_id", "rep").alias("cluster_id")
        )
        n = assign_clusters(planted, "doc_id", lab).count()
        for r in caches + [mem]:
            r.unpersist()
        return n

    w_aflat, n_aflat = timed(assign_flat)
    w_aopt, n_aopt = timed(assign_opt)
    emit(
        metric="cluster_assign_wall",
        wall_flat_s=round(w_aflat, 2),
        wall_collapsed_s=round(w_aopt, 2),
        rows_flat=n_aflat,
        rows_collapsed=n_aopt,
    )
    planted.unpersist()

    # --- 4. 10× corpus: optimized only --------------------------------
    # every text ×10 (ids offset per copy) + the planted cluster → the
    # flat path's within-cluster candidates alone are ~C(10·n/5, 2);
    # collapsed candidates stay at the 1× distinct-text bound.
    copies = spark.range(10).select(F.col("id").alias("copy"))
    big = (
        planted.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * (10 * n_docs)).alias("doc_id"),
            "text",
        )
        .persist()
    )
    n_big = big.count()
    t0 = time.time()
    member10, rep10 = distinct_text_reps(big, "text", "doc_id")
    sh10 = word_shingles(rep10, "text", "doc", 3)
    cand10 = lsh_candidate_pairs(minhash_signature(sh10)).count()
    w_cand10 = time.time() - t0

    def assign_opt_big():
        mem, reps = distinct_text_reps(big, "text", "doc_id")
        mem = mem.persist()
        v, _, caches = _verified_pairs_core(reps.persist(), "text", "doc", n_big)
        caches.append(reps)
        comp = connected_components(v.select("doc_a", "doc_b"))
        lab = mem.join(comp, mem.rep == comp.doc, "left").select(
            mem.doc, F.coalesce("cluster_id", "rep").alias("cluster_id")
        )
        n = assign_clusters(big, "doc_id", lab).count()
        for r in caches + [mem]:
            r.unpersist()
        return n

    w_a10, n_a10 = timed(assign_opt_big)
    emit(
        metric="tenx_collapsed",
        n_docs=n_big,
        n_planted_cluster=n_cluster * 10,
        candidates_collapsed=cand10,
        candidates_wall_s=round(w_cand10, 2),
        cluster_assign_wall_s=round(w_a10, 2),
        cluster_assign_rows=n_a10,
        flat_within_cluster_candidates_would_be=n_cluster * 10 * (n_cluster * 10 - 1) // 2,
    )
    big.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
