"""The benchmark's workloads: set-up, timed body and output checks.

Each workload function takes a ``Run`` (session factory, seed, run
length, tracer, scratch directory, process start) and returns a
``Result``. Set-up runs once: it starts the session and generates and
loads the inputs, and the timed body runs on that session.
"""

from __future__ import annotations

import csv
import json
import os
import time
from contextlib import ExitStack
from dataclasses import dataclass, field

import gen
from spans import Tracer, attribute, new_since, patched, snapshot, storage

TRIGGER_ROWS = 400  # rows in the stream probe's part file (one micro-batch)
# bench.py's headline queries without the tagger headline, which
# chain_prod covers
CATALOG_QUERIES = (
    "tpch_q1_pricing_summary", "j1_left_join_fact_dim", "j3_broadcast_dim_chain",
    "w5_topn_per_key", "w_running_sum", "a5_dedup_deterministic",
    "t_asof_join_latest_order", "t_sessionize", "j9_j10_candidate_bridge",
    "dedup_minhash_lsh_pairs", "dedup_simhash_fingerprints", "ann_cosine_topk",
    "ann_ivf_kmeans_topk", "text_quality_scores", "mm_image_decode_stub",
    "dedup_span_exact", "text_repetition_signals", "t_interval_join_binned",
    "semantic_dedup_semdedup",
)
CATALOG_MODULES = (
    "plans.relational", "plans.temporal", "plans.bridge_demo", "operators.dedup",
    "operators.similarity", "operators.textstats", "operators.multimodal",
)


@dataclass
class Result:
    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


@dataclass
class Run:
    start_session: object  # () -> SparkSession
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    process_start: float
    spark: object = None


def jvm_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM behind the py4j gateway, MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024.0


def _setup(run: Run, load) -> tuple[float, float, object]:
    """Start the session, then generate and load the inputs with
    ``load(spark)``. Returns the set-up time and the session-start time,
    both counted from process start, and what ``load`` returned."""
    run.spark = run.start_session()
    start_s = time.time() - run.process_start
    loaded = load(run.spark)
    return time.time() - run.process_start, start_s, loaded


def _dim_inputs(spark) -> dict:
    """The raw reference tables as DataFrames."""
    return {k: spark.createDataFrame(rows, schema)
            for k, (rows, schema) in gen.raw_dims().items()}


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------
def check_tags(rows, truth: dict[str, gen.Truth], text_col: str) -> list[str]:
    """Failed expectations among tagged output rows, one line each."""
    bad = []
    for r in rows:
        t = truth.get(r[text_col])
        if t is None or t.kind == "free":
            continue
        matched = bool(r["matched"])
        if t.kind == "clean":
            ok = matched and r["generic_name"] == t.generic and r["atc_primary"] == t.atc
        elif t.kind in ("never", "none"):
            ok = not matched
        else:  # "atc"
            ok = matched and bool(r["atc_primary"])
        if not ok:
            bad.append(f"{t.kind}: {r[text_col]!r} -> {r['generic_name']!r}/"
                       f"{r['atc_primary']!r} matched={matched}")
    return bad


def check_one_per_input(got: list, want: list, what: str) -> list[str]:
    """The output keys must be the input keys, each exactly once."""
    if sorted(got) == sorted(want):
        return []
    return [f"{what}: {len(got)} output rows for {len(want)} input rows"]


# ---------------------------------------------------------------------------
# chain_prod
# ---------------------------------------------------------------------------
def chain_prod(run: Run) -> Result:
    from pids_drg_esoa_spark.pipelines import drugs, runner
    from pids_drg_esoa_spark.plans import tagger

    def load(spark):
        corpus, annex = gen.esoa_corpus(run.seed), gen.annex_rows()
        inputs = _dim_inputs(spark)
        inputs["annex_f"] = spark.createDataFrame(
            annex, "drug_code string, drug_description string")
        inputs["esoa"] = spark.createDataFrame([(t,) for t, _ in corpus], "raw_text string")
        return inputs, corpus, annex

    setup_s, start_s, (inputs, corpus, annex) = _setup(run, load)
    spark, tr = run.spark, run.tracer
    tagger_names = ("plans.tagger.annex", "plans.tagger.esoa")
    wraps = [
        (runner, n, "pipelines.drugs") for n in (
            "prepare_pnf", "build_unified_generics", "build_unified_atc",
            "build_unified_brands", "build_unified_mixtures")
    ] + [
        (drugs, "resolve_synonym_rows", "pipelines.drugs"),
        # Part 1 materializes the tagger's dims once; the calls the
        # tagger makes itself stay in the tagger spans
        (tagger, "_materialize_dims", "pipelines.drugs", "plans.tagger."),
        (runner, "tag_descriptions", lambda k: tagger_names[min(k, 1)]),
        (runner, "bridge_to_drug_codes", "plans.bridge"),
        (runner, "bridge_metrics", "plans.bridge"),
    ]
    before = snapshot(spark) if tr.enabled else None
    t0 = time.time()
    with _all_patched(wraps if tr.enabled else [], tr), tr.span("pipelines.runner"):
        res = runner.run_drugs_all(spark, inputs)
        counts = [res.annex_with_atc.count(), res.esoa_with_atc.count(),
                  res.esoa_with_drug_code.count()]
    wall = time.time() - t0
    rss = jvm_rss_mb(spark)

    layers, self_s, probe_failures = {}, None, []
    if tr.enabled:
        layers["exprcache.cached_rdds"], layers["exprcache.storage_mb"] = storage(spark)
        t1 = time.time()
        progress, probe_failures = stream_probe(run)
        probe_s = time.time() - t1
        for k in ("addBatch", "queryPlanning", "getBatch", "walCommit"):
            layers[f"streaming.incremental.{k}_s"] = progress["durationMs"].get(k, 0) / 1e3
        per = attribute(tr.spans, new_since(before, snapshot(spark)))
        layers.update({f"{layer}.{k}": v for layer, c in per.items() for k, v in c.items()})
        self_s = sum(c["wall_s"] for c in per.values())

    truth = dict(corpus)
    esoa_keys = [t for t, _ in corpus]
    failures = check_one_per_input(
        [r.drug_code for r in res.annex_with_atc.select("drug_code").collect()],
        [c for c, _ in annex], "annex_with_atc")
    failures += check_one_per_input(
        [r.raw_text for r in res.esoa_with_drug_code.select("raw_text").collect()],
        esoa_keys, "esoa_with_drug_code")
    tagged = [r.asDict() for r in res.esoa_with_atc.select(
        "raw_text", "generic_name", "atc_primary", "matched").collect()]
    failures += check_one_per_input([r["raw_text"] for r in tagged], esoa_keys, "esoa_with_atc")
    failures += check_tags(tagged, truth, "raw_text")
    n_texts = len(corpus)
    return Result(
        attempted=1 + tr.enabled,
        failed=int(bool(failures)) + int(bool(probe_failures)),
        e2e={"setup_s": setup_s, "first_result_s": wall, "warm_result_s": wall},
        layers={**layers, "session.start_s": start_s, "jvm.peak_rss_mb": rss},
        detail={
            "body_s": wall, "self_time_sum_s": self_s,
            "traced_s": wall + probe_s if tr.enabled else None,
            "texts": n_texts, "texts_per_s": n_texts / wall,
            "annex_rows": len(annex), "output_rows": counts,
            "checked_texts": sum(t.kind != "free" for _, t in corpus),
            "failures": (failures + probe_failures)[:20],
            "n_failures": len(failures) + len(probe_failures),
        },
    )


# ---------------------------------------------------------------------------
# the stream probe (traced chain_prod runs only)
# ---------------------------------------------------------------------------
def stream_probe(run: Run) -> tuple[dict, list[str]]:
    """One ``stream_tag_esoa_parts`` micro-batch over one seeded part
    file, in the chain's session, inside the spans
    ``streaming.incremental`` and ``plans.tagger.trigger``. Returns the
    batch's progress record and its failed output checks."""
    from pids_drg_esoa_spark.plans import tagger
    from pids_drg_esoa_spark.streaming.incremental import stream_tag_esoa_parts

    spark, tr = run.spark, run.tracer
    parts_dir, out_dir, ckpt_dir = (
        os.path.join(run.work_dir, d) for d in ("parts", "tagged", "checkpoint"))
    part = gen.stream_part(run.seed, TRIGGER_ROWS)
    os.makedirs(parts_dir)
    with open(os.path.join(parts_dir, "esoa_pt_000.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["ITEM_NUMBER", "ITEM_REF_CODE", "DESCRIPTION"])
        w.writerows((item, "DrugsAndMedicine", text) for item, text, _ in part)
    generics, atc = gen.stream_dims()
    dims = {
        "generics_dim": spark.createDataFrame(generics, "generic_name string, drugbank_id string"),
        "atc_dim": spark.createDataFrame(
            atc, "generic_name string, atc_code string, is_combination_atc boolean"),
    }
    traced_tag = tr.wrap(tagger.tag_descriptions, "plans.tagger.trigger")
    with tr.span("streaming.incremental"), patched(tagger, "tag_descriptions", traced_tag):
        q = stream_tag_esoa_parts(spark, parts_dir, dims, out_dir, ckpt_dir)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]
    progress = [p for p in progress if p.get("numInputRows", 0) > 0]
    if len(progress) != 1:
        raise RuntimeError(f"{len(progress)} micro-batches committed, expected 1")

    rows = [r.asDict() for r in spark.read.parquet(out_dir).select(
        "batch_id", "ITEM_NUMBER", "DESCRIPTION", "generic_name", "atc_primary", "matched"
    ).collect()]
    failures = check_one_per_input(
        [r["ITEM_NUMBER"] for r in rows], [item for item, _, _ in part], "stream batch")
    failures += check_tags(rows, {text: t for _, text, t in part}, "DESCRIPTION")
    if {r["batch_id"] for r in rows} != {progress[0]["batchId"]}:
        failures.append(f"stream batch ids {sorted({r['batch_id'] for r in rows})}")
    return progress[0], failures


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------
def catalog(run: Run) -> Result:
    import duckdb
    import pyarrow.parquet as pq
    from pids_drg_esoa_spark.plans.catalog import all_specs

    data_dir = os.path.join(run.work_dir, "catalog")
    tables = gen.catalog_tables(run.seed)

    def load(spark):
        os.makedirs(data_dir)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))

    setup_s, start_s, _ = _setup(run, load)
    spark, tr = run.spark, run.tracer
    specs = all_specs()
    # a fixed order: which query runs first after the warm-up pays for
    # code paths the warm-up missed, so a seeded order moved the cold
    # pass by more than a second
    order = list(CATALOG_QUERIES)
    module = {n: specs[n].fn.__module__.split(".", 1)[1] for n in order}

    # bench.py's warm-up: JVM and codegen, then the Python workers
    t0 = time.time()
    specs["tpch_q1_pricing_summary"].fn(spark, data_dir).count()
    spark.range(0, 256, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long").count()
    warmup_s = time.time() - t0

    # the first (cold) pass is traced; the warm pass never is
    before = snapshot(spark) if tr.enabled else None
    passes = []
    for tracer in (tr, Tracer(False)):
        got, secs = {}, {}
        for name in order:
            t0 = time.time()
            try:
                with tracer.span(f"{module[name]}.plan"):
                    df = specs[name].fn(spark, data_dir)
                with tracer.span(f"{module[name]}.exec"):
                    got[name] = df.count()
            except Exception as e:  # noqa: BLE001 (a failed query is a failed operation)
                got[name] = f"{type(e).__name__}: {str(e)[:200]}"
            secs[name] = time.time() - t0
        passes.append((got, secs))
    rss = jvm_rss_mb(spark)

    layers, self_s = {}, None
    if tr.enabled:
        per = attribute(tr.spans, new_since(before, snapshot(spark)))
        zero = dict.fromkeys(("wall_s", "jobs", "stages", "shuffle_mb", "spill_mb"), 0.0)
        for mod in CATALOG_MODULES:
            plan, ex = per.get(f"{mod}.plan", zero), per.get(f"{mod}.exec", zero)
            layers[f"{mod}.plan_s"], layers[f"{mod}.exec_s"] = plan["wall_s"], ex["wall_s"]
            for k in ("jobs", "stages", "shuffle_mb", "spill_mb"):
                layers[f"{mod}.{k}"] = plan[k] + ex[k]
        self_s = sum(c["wall_s"] for c in per.values())

    # each query's count must be its DuckDB oracle's row count
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')")
    want = {n: con.execute(f"SELECT count(*) FROM ({specs[n].oracle.strip().rstrip(';')})")
            .fetchone()[0] for n in order}
    con.close()
    failures = [f"pass {p} {n}: {got[n]!r} rows, oracle {want[n]}"
                for p, (got, _) in enumerate(passes) for n in order if got[n] != want[n]]
    cold, warm = (sum(secs.values()) for _, secs in passes)
    return Result(
        attempted=len(passes) * len(order),
        failed=len(failures),
        e2e={"setup_s": setup_s, "first_result_s": cold, "warm_result_s": warm},
        layers={**layers, "session.start_s": start_s, "jvm.peak_rss_mb": rss},
        detail={
            "body_s": cold, "self_time_sum_s": self_s, "warmup_s": warmup_s, "order": order,
            "cold_s": passes[0][1], "warm_s": passes[1][1], "rows": want,
            "failures": failures[:20], "n_failures": len(failures),
        },
    )


# ---------------------------------------------------------------------------
# tracing glue
# ---------------------------------------------------------------------------
def _all_patched(wraps, tracer: Tracer) -> ExitStack:
    """Wrap each (module, attr, span name[, outside]) in a tracer span
    (see ``Tracer.wrap``)."""
    stack = ExitStack()
    for mod, attr, *how in wraps:
        stack.enter_context(patched(mod, attr, tracer.wrap(getattr(mod, attr), *how)))
    return stack


# metric names and units: end-to-end, and per layer on the traced run
E2E_UNITS = {"setup_s": "s", "first_result_s": "s", "warm_result_s": "s"}
SPAN_LAYERS = (
    "pipelines.runner", "pipelines.drugs", "plans.tagger.annex", "plans.tagger.esoa",
    "plans.bridge", "plans.tagger.trigger", "streaming.incremental",
)
_COUNTER_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "exec_cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "py_worker_s": "s", "failed_tasks": "count",
}
LAYER_UNITS = {
    **{f"{layer}.{c}": u for layer in SPAN_LAYERS for c, u in _COUNTER_UNITS.items()},
    "streaming.incremental.addBatch_s": "s",
    "streaming.incremental.queryPlanning_s": "s",
    "streaming.incremental.getBatch_s": "s",
    "streaming.incremental.walCommit_s": "s",
    "exprcache.cached_rdds": "count",
    "exprcache.storage_mb": "MB",
    **{f"{mod}.{k}": u for mod in CATALOG_MODULES for k, u in (
        ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("shuffle_mb", "MB"), ("spill_mb", "MB"))},
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
}

WORKLOADS = {"chain_prod": chain_prod, "catalog": catalog}
