"""Streaming ≡ batch equivalence fuzz (§2.9): tag a randomized
composed corpus ONCE with the batch tagger, then stream the SAME
corpus through `stream_tag_esoa_parts` split into K random part files
(random sizes, random order, duplicate texts allowed to land in
different parts), and require the per-row outputs to be IDENTICAL.

This is the property the incremental path sells — per-trigger
tagging is the batch plan run on a slice, so accumulation over any
partitioning of the input must reproduce the batch answer exactly
(the tagger dedupes per text INSIDE a trigger; rows are compared
per ITEM_NUMBER so cross-part duplicate texts must also agree).

Usage: python scripts/fuzz_streaming_equivalence.py [n_texts] [seeds...]
Exit 0 iff 0 mismatching cells across all seeds.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402

import scripts.diff_reference as dr  # noqa: E402

COMPARE_COLS = ["matched", "generic_name", "atc_codes", "atc_primary",
                "drugbank_id", "match_reason"]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1200
    seeds = [int(s) for s in sys.argv[2:]] or [5, 91, 4047]

    from pids_drg_esoa_spark.pipelines.runner import build_reference
    from pids_drg_esoa_spark.plans.tagger import tag_descriptions
    from pids_drg_esoa_spark.session import get_spark
    from pids_drg_esoa_spark.streaming.incremental import stream_tag_esoa_parts

    spark = get_spark(app_name="fuzz_stream_eq")
    spark.sparkContext.setLogLevel("ERROR")

    # one dim build for all seeds (the property under test is the
    # INPUT PARTITIONING, not the dims): the chain's own Part 1 over
    # the parity corpus's raw tables (raw synonym rows included)
    pdims = dr.build_dims()
    _, dims = build_reference(
        spark, {k: spark.createDataFrame(v) for k, v in pdims.items()}
    )
    tag_dims = {k: v for k, v in dims.items() if k != "fda_food_dim"}

    total_bad = 0
    for seed in seeds:
        rng = random.Random(seed)
        # composed corpus: the tagger-corpus fuzz generator (typos,
        # combos, brands, IV shapes, junk) — duplicates INJECTED so
        # the same text lands in several parts
        from scripts.fuzz_tagger_corpus_vs_reference import compose_texts

        texts = compose_texts(pdims, n, rng)
        texts = texts + [rng.choice(texts) for _ in range(len(texts) // 10)]
        rng.shuffle(texts)

        # --- batch truth: tag the distinct corpus in one plan
        esoa = spark.createDataFrame(pd.DataFrame({"raw_text": texts}))
        batch = tag_descriptions(esoa, **tag_dims)
        batch_rows = {r["raw_text"]: r for r in batch.collect()}
        for r in getattr(batch, "persisted_intermediates", ()):
            r.unpersist()

        # --- streaming: K random parts, random sizes/order
        work = tempfile.mkdtemp(prefix=f"fuzz_stream_eq_{seed}_")
        src, out_dir, ckpt = (os.path.join(work, d) for d in ("parts", "out", "ckpt"))
        os.makedirs(src)
        k_parts = rng.randint(3, 9)
        bounds = sorted(rng.sample(range(1, len(texts)), k_parts - 1))
        chunks = [texts[a:b] for a, b in zip([0] + bounds, bounds + [len(texts)])]
        for i, chunk in enumerate(chunks):
            pd.DataFrame({
                "ITEM_NUMBER": [str(1000 * i + j) for j in range(len(chunk))],
                "ITEM_REF_CODE": ["DrugsAndMedicine"] * len(chunk),
                "DESCRIPTION": chunk,
            }).to_csv(os.path.join(src, f"esoa_pt_{i}.csv"), index=False)
        q = stream_tag_esoa_parts(spark, src, dims, out_dir, ckpt)
        q.awaitTermination()
        streamed = spark.read.parquet(out_dir).collect()

        bad = 0
        n_rows = 0
        for r in streamed:
            n_rows += 1
            want = batch_rows.get(r["DESCRIPTION"])
            if want is None:
                bad += 1
                print(f"  seed {seed}: streamed text missing from batch: {r['DESCRIPTION']!r}")
                continue
            for c in COMPARE_COLS:
                if (r[c] is None) != (want[c] is None) or (
                    r[c] is not None and str(r[c]) != str(want[c])
                ):
                    bad += 1
                    print(f"  seed {seed}: {r['DESCRIPTION']!r}.{c}: "
                          f"stream {r[c]!r} batch {want[c]!r}")
        expected_rows = len(texts)
        if n_rows != expected_rows:
            bad += 1
            print(f"  seed {seed}: row count {n_rows} != input rows {expected_rows}")
        print(f"seed {seed}: {len(chunks)} parts, {n_rows} rows, {bad} mismatching cells")
        total_bad += bad
        shutil.rmtree(work, ignore_errors=True)

    spark.stop()
    print(f"\nSTREAMING≡BATCH TOTAL mismatching cells: {total_bad}")
    return 0 if total_bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
