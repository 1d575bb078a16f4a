"""CLI entry: dispatch a registered pipeline on ITEM_REF_CODE.

Reference shape (main.py:115-140 → registry → BasePipeline.run,
SURVEY §3.1): `_cli` parses args, resolves input/output dirs per
ITEM_REF_CODE slug, and runs the registered pipeline.

    python -m pids_drg_esoa_spark.cli --item-ref-code DrugsAndMedicine \
        --inputs-dir ./inputs --output-dir ./out
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql.functions import col as F_col

from .pipelines.base import PipelineContext, get_pipeline, slugify_item_ref_code
from .session import get_spark
from .sources.readers import read_table_prefer_parquet, with_input_position
from .sources.writers import write_parquet

# input table stems each pipeline expects under <inputs-dir>/<slug>/
DRUGS_REFERENCE = (  # the tables Part 1 builds the unified reference from
    "pnf", "drugbank_generics", "drugbank_atc", "drugbank_brands",
    "fda_brands", "who_atc", "mixtures",
)
PIPELINE_INPUTS: dict[str, tuple[str, ...]] = {
    "DrugsAndMedicine": ("esoa", *DRUGS_REFERENCE),
    "LaboratoryAndDiagnostic": ("esoa", "labs_master", "diagnostics"),
}
# read when present: synonyms feed the drugs Part 1, fda_food its Part 3
OPTIONAL_INPUTS = ("synonyms", "fda_food")


def read_inputs(spark, directory: str, stems: tuple[str, ...]) -> dict:
    """<stem>.parquet, else <stem>.csv, under ``directory`` for each
    stem, plus each ``OPTIONAL_INPUTS`` stem whose file exists."""
    present = [stem for stem in OPTIONAL_INPUTS if any(
        os.path.exists(os.path.join(directory, stem + ext)) for ext in (".parquet", ".csv"))]
    return {
        stem: read_table_prefer_parquet(spark, os.path.join(directory, stem))
        for stem in (*stems, *present)
    }


# curation artifacts the `curate` subcommand can emit; each is an
# already-oracle-gated catalog operator run over <inputs>/documents
CURATION_ARTIFACTS = (
    "keeplist", "quality", "repetition", "rare_tokens", "span_dup", "pii"
)


def curate_main(argv: list[str]) -> int:
    """`python -m pids_drg_esoa_spark.cli curate --inputs-dir D
    --output-dir O [--artifacts keeplist,quality,...]` — run the
    corpus-curation battery over D/documents.parquet (or
    D/documents.jsonl, converted with the explicit corpus schema and
    corrupt lines quarantined) and write one parquet artifact per
    requested operator. The user-facing form of the training-data
    operators: the catalog entries prove the SAME cores hash-exact
    (over oracle corpora with planted synthetic signal); here the
    cores run on the user's RAW documents — pii/span_dup/rare_tokens
    report only what is actually in the data, nothing planted."""
    from .operators.curation import corpus_curation_keeplist, redact_pii, text_quality_filter
    from .operators.dedup import span_dup_stats
    from .operators.textstats import rare_token_stats, text_repetition_signals
    from .sources.readers import read_jsonl
    from .sources.tables import SCHEMAS, table

    def _docs(spark, d):
        return table(spark, d, "documents")

    fns = {
        "keeplist": corpus_curation_keeplist,
        "quality": text_quality_filter,
        "repetition": text_repetition_signals,
        # clean cores on the raw corpus (the planted variants are
        # oracle-only catalog bindings)
        "rare_tokens": lambda s, d: rare_token_stats(
            _docs(s, d), n_docs=_docs(s, d).count()
        ),
        "span_dup": lambda s, d: span_dup_stats(_docs(s, d)),
        "pii": lambda s, d: redact_pii(_docs(s, d), "text").select(
            "doc_id", "n_emails", "n_phones", "n_ips", "redacted"
        ),
    }
    ap = argparse.ArgumentParser(prog="curate", description=curate_main.__doc__)
    ap.add_argument("--inputs-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--artifacts", default=",".join(CURATION_ARTIFACTS))
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    wanted = [a.strip() for a in args.artifacts.split(",") if a.strip()]
    unknown = set(wanted) - set(fns)
    if unknown:
        raise SystemExit(f"unknown artifacts: {sorted(unknown)}; choose from {CURATION_ARTIFACTS}")

    spark = get_spark(app_name="pids-drg-esoa-curate", cpus=args.cpus)
    sf_dir = args.inputs_dir
    jsonl = os.path.join(args.inputs_dir, "documents.jsonl")
    if not os.path.exists(os.path.join(args.inputs_dir, "documents.parquet")) and os.path.exists(jsonl):
        # cache before touching _corrupt_record: Spark disallows
        # corrupt-column-only queries on a raw JSON scan
        docs = read_jsonl(spark, jsonl, SCHEMAS["documents"]).cache()
        bad = docs.filter(F_col("_corrupt_record").isNotNull()).count()
        if bad:
            print(f"quarantined {bad} malformed jsonl lines")
        sf_dir = os.path.join(args.output_dir, "_ingest")
        docs.filter(F_col("_corrupt_record").isNull()).drop("_corrupt_record").write.mode(
            "overwrite"
        ).parquet(os.path.join(sf_dir, "documents.parquet"))
        docs.unpersist()
    written = []
    for name in wanted:
        out = os.path.join(args.output_dir, name)
        write_parquet(fns[name](spark, sf_dir), out)
        written.append(name)
    print(f"wrote {written} to {args.output_dir}")
    return 0


def drugs_all_main(argv: list[str]) -> int:
    """`python -m pids_drg_esoa_spark.cli drugs-all --inputs-dir D
    --output-dir O [--checkpoint-dir C]` — the
    reference's run_drugs_all.py entry point: Parts 1-4 over the
    reference-shaped tables in D (parquet or CSV, one per stem),
    writing annex_f_with_atc / esoa_with_atc / esoa_with_drug_code
    parquet plus run_summary.md and the append-only metrics history."""
    from .pipelines.runner import run_drugs_all

    ap = argparse.ArgumentParser(prog="drugs-all", description=drugs_all_main.__doc__)
    ap.add_argument("--inputs-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="pids-drg-esoa-drugs-all", cpus=args.cpus)
    inputs = read_inputs(spark, args.inputs_dir, (*DRUGS_REFERENCE, "annex_f", "esoa"))
    res = run_drugs_all(
        spark, inputs,
        metrics_path=os.path.join(args.output_dir, "metrics_history"),
        checkpoint_dir=args.checkpoint_dir,
    )
    for name, df in (
        ("annex_f_with_atc", res.annex_with_atc),
        ("esoa_with_atc", res.esoa_with_atc),
        ("esoa_with_drug_code", res.esoa_with_drug_code),
    ):
        write_parquet(df, os.path.join(args.output_dir, name))
    os.makedirs(args.output_dir, exist_ok=True)
    with open(os.path.join(args.output_dir, "run_summary.md"), "w") as f:
        f.write(res.summary_md + "\n")
    print(res.summary_md)
    # METRICS HISTORY tail per run_type — the reference's
    # print_metrics_comparison (runners.py:1548-1566)
    from .sources.writers import metrics_comparison

    history = metrics_comparison(
        spark, os.path.join(args.output_dir, "metrics_history")
    )
    for run_type, rows in history.items():
        print(f"\n{run_type.upper()}:")
        for r in rows:
            print("  " + ", ".join(f"{k}={v}" for k, v in r.items()))
    return 0


def main(argv: list[str] | None = None) -> int:
    import sys as _sys

    argv = list(_sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] == "curate":
        return curate_main(argv[1:])
    if argv and argv[0] == "drugs-all":
        return drugs_all_main(argv[1:])
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--item-ref-code", required=True, choices=sorted(PIPELINE_INPUTS))
    ap.add_argument("--inputs-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    slug = slugify_item_ref_code(args.item_ref_code)
    spark = get_spark(app_name=f"pids-drg-esoa-{slug}", cpus=args.cpus)
    inputs = read_inputs(
        spark, os.path.join(args.inputs_dir, slug), PIPELINE_INPUTS[args.item_ref_code]
    )
    # labs catalogs: the reference's setdefault lookup keeps the first
    # FILE ROW per normalized key (match_labs.py:29-36), so the dims
    # carry their file position into _first_wins (labs fuzz, r10).
    for stem in ("labs_master", "diagnostics"):
        if stem in inputs and "_row_order" not in inputs[stem].columns:
            inputs[stem] = with_input_position(inputs[stem], "_row_order")
    pipe = get_pipeline(args.item_ref_code)
    ctx = PipelineContext(spark=spark, inputs=inputs)
    timings: dict[str, float] = {}
    pipe.run(ctx, timing_hook=lambda n, s: timings.__setitem__(n, round(s, 2)))

    out_base = os.path.join(args.output_dir, slug)
    for name, df in ctx.artifacts.items():
        write_parquet(df, os.path.join(out_base, name))
    # the stages built lazy plans; the artifacts executed in the writes
    # above, so these seconds do not time the execution
    print(f"wrote {sorted(ctx.artifacts)} to {out_base}; "
          f"plan-construction seconds {timings}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
