"""Drugs-pipeline scaling curve (round 7): run the ENGINE side of the
differential corpus at 1×/3×/10× the reference's production volume
(155K → 1.5M texts) and record wall vs texts — the reference cannot
run at the top scale at all (single-threaded pandas; 110.6 s at 155K
already), so this is engine-only by design.

Reuses scripts/diff_reference.py's generators verbatim (same dims,
same dense Annex) so the corpus shape matches the 0-diff differential
runs; execution is forced with .count() on all three Part outputs
(annex_with_atc / esoa_with_atc / esoa_with_drug_code) rather than
toPandas() — the curve measures the distributed pipeline, not a
driver-side collect of 1.5M rows.

Usage: python scripts/bench_drugs_scaling.py [--scales 300,950,2925]
       [--annex-density 16]
Prints one row per scale + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402

from scripts.diff_reference import build_corpus, build_dims  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="300,950,2925")
    ap.add_argument("--annex-density", type=int, default=16)
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from pids_drg_esoa_spark.pipelines.runner import run_drugs_all
    from pids_drg_esoa_spark.session import get_spark

    spark = get_spark(app_name="drugs-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    dims = build_dims()
    dim_inputs = {k: spark.createDataFrame(v) for k, v in dims.items()}

    rows_out = []
    for scale in scales:
        esoa, annex = build_corpus(scale, args.annex_density)
        inputs = dict(dim_inputs)
        inputs["annex_f"] = spark.createDataFrame(
            pd.DataFrame(annex, columns=["drug_code", "drug_description"])
        )
        inputs["esoa"] = spark.createDataFrame(pd.DataFrame({"raw_text": esoa}))
        t0 = time.time()
        res = run_drugs_all(spark, inputs)
        t_plan = time.time() - t0
        t1 = time.time()
        n_annex = res.annex_with_atc.count()
        t_annex = time.time() - t1
        t1 = time.time()
        n_esoa = res.esoa_with_atc.count()
        t_esoa = time.time() - t1
        t1 = time.time()
        n_bridge = res.esoa_with_drug_code.count()
        t_bridge = time.time() - t1
        wall = time.time() - t0
        rows_out.append(
            {
                "scale": scale,
                "texts": len(esoa),
                "annex_rows": len(annex),
                "wall_sec": round(wall, 1),
                # stage-level walls (r9 VERDICT #2): "plan" is the
                # run_drugs_all call, which executes Parts 1-4 (each
                # ends at a materialized leaf), then one count per
                # output leaf
                "stage_sec": {
                    "plan": round(t_plan, 1),
                    "annex_p12": round(t_annex, 1),
                    "esoa_p3": round(t_esoa, 1),
                    "bridge_p4": round(t_bridge, 1),
                },
                "out_rows": [n_annex, n_esoa, n_bridge],
            }
        )
        print(
            f"scale={scale}: {len(esoa)} texts, {len(annex)} annex -> "
            f"{wall:.1f}s (plan {t_plan:.1f} + annex {t_annex:.1f} + "
            f"esoa {t_esoa:.1f} + bridge {t_bridge:.1f}; "
            f"rows annex {n_annex}, esoa {n_esoa}, bridge {n_bridge})",
            flush=True,
        )
        # release whatever the run pinned so the next scale starts clean
        spark.catalog.clearCache()

    print(json.dumps({"metric": "drugs_scaling", "rows": rows_out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
