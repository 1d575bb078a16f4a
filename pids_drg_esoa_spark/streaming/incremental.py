"""Incremental ingest: the reference's part-file flow as a stream.

The reference re-reads all `esoa_pt_*.csv` parts every run and
re-tags from scratch (run_drugs_all.py:312-382). Structured Streaming
turns the same layout into incremental processing: a file source
watches the directory, each new part becomes a micro-batch, and
``foreachBatch`` runs the SAME batch tagging plan on just the new
rows — exactly-once per file, no re-tagging of old parts — and the
drugs chain's own Part-3 merge-back (``pipelines.runner.merge_tagged``),
so a part's output rows are the rows ``run_drugs_all`` emits for them.

At scale this is the 100 TB ingestion path: tagging cost is
O(new data) per trigger instead of O(all data) per run.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ESOA_PART_SCHEMA = T.StructType(
    [
        T.StructField("ITEM_NUMBER", T.StringType()),
        T.StructField("ITEM_REF_CODE", T.StringType()),
        T.StructField("DESCRIPTION", T.StringType()),
    ]
)


def stream_esoa_parts(
    spark: SparkSession,
    directory: str,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    schema: T.StructType = ESOA_PART_SCHEMA,
):
    """Watch a directory of eSOA part CSVs; run ``process_batch``
    (e.g. the tagger plan + sink) per micro-batch. Returns the
    StreamingQuery; callers stop() it or processAllAvailable()."""
    src = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)  # one part per micro-batch
        .csv(directory)
    )
    return (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_tag_esoa_parts(
    spark: SparkSession,
    directory: str,
    dims: dict,
    output_path: str,
    checkpoint_dir: str,
    on_batch: Callable[[int, int], None] | None = None,
):
    """The incremental form of the reference's Part-3 eSOA tagging
    (run_drugs_all.py:312-382 re-reads and re-tags every part per
    run): watch the part directory, run the SAME batch tagger plan
    (plans/tagger.tag_descriptions) on each new part's DrugsAndMedicine
    rows only and the chain's merge-back (pipelines/runner.merge_tagged:
    one row per input row, blank rows no_candidates), write the
    tagged rows under ``output_path``. foreachBatch is AT-LEAST-once
    (a retry re-runs the batch after a crash mid-commit), so each
    batch OVERWRITES its own ``batch_id=N`` partition subdirectory —
    a retried batch replaces its previous attempt instead of
    appending a duplicate, making the visible output effectively
    exactly-once. Readers ``spark.read.parquet(output_path)`` as
    usual (partition discovery adds a ``batch_id`` column). An
    output dir written by the pre-batch flat-append layout must be
    migrated once before resuming (``writers.compact_parquet(...,
    migrate_to_batch_layout=True)``) — a mixed flat+partitioned root
    is unreadable. Tagging cost is O(new rows) per trigger — the
    100 TB ingestion path.

    ``dims`` carries Part 1's dims (runner.build_reference):
    tag_descriptions' dim kwargs, and optionally ``fda_food_dim`` for
    the merge-back. They are materialized to plan leaves ONCE here, not
    per micro-batch, so each trigger pays only the probe-side plan.
    ``on_batch(batch_id, n_tagged)`` is an optional metrics hook (S8:
    pair with sources.writers.append_metrics)."""
    from ..pipelines.drugs import DrugsPipeline
    from ..pipelines.runner import merge_tagged
    from ..plans.tagger import _materialize_dims, tag_descriptions

    keys = list(dims)
    mat = dict(zip(keys, _materialize_dims(*(dims[k] for k in keys))))
    fda_food = mat.pop("fda_food_dim", None)

    def process(batch_df, batch_id: int) -> None:
        rows = batch_df.filter(batch_df["ITEM_REF_CODE"] == DrugsPipeline.item_ref_code)
        tagged = tag_descriptions(
            rows.withColumnRenamed("DESCRIPTION", "raw_text"), **mat
        )
        out = merge_tagged(rows, tagged, "DESCRIPTION", fda_food_dim=fda_food)
        # idempotent under at-least-once retry: the batch owns its
        # partition subdir and a re-run overwrites it in place
        batch_dir = os.path.join(output_path, f"batch_id={batch_id}")
        try:
            if on_batch is None:
                out.write.mode("overwrite").parquet(batch_dir)
            else:
                out.persist()
                try:
                    out.write.mode("overwrite").parquet(batch_dir)
                    on_batch(batch_id, out.count())
                finally:
                    out.unpersist()
        finally:
            # tag_descriptions persists 3 intermediates per plan; a
            # long-lived stream would accumulate them every trigger —
            # release them now that the batch is written
            for r in getattr(tagged, "persisted_intermediates", ()):
                r.unpersist()

    return stream_esoa_parts(spark, directory, process, checkpoint_dir)


def stream_neardup_against_index(
    spark: SparkSession,
    directory: str,
    index_docs: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "DESCRIPTION",
    id_col: str = "ITEM_NUMBER",
    grow_index_dir: str | None = None,
):
    """Incremental near-duplicate detection: each arriving part is
    MinHash-banded and joined against a PRE-BUILT static corpus index
    — the production dedup mode at 100 TB, where re-running all-pairs
    LSH over the full corpus per ingest batch is impossible. The
    index (shingles + banded signature, from operators/dedup's exact
    batch functions) is computed ONCE and persisted; per trigger the
    cost is O(new docs): shingle the batch, 8 min-hashes in one agg,
    equi-join its band rows against the index bands, then exact-
    Jaccard-verify candidates only (3·common ≥ 2·union — the batch
    threshold, so streaming and batch dedup can never disagree on a
    pair). Matches are appended to ``output_path`` as
    (new_doc, index_doc, n_common, n_union) rows.

    The three persisted index relations intentionally outlive the
    returned query (a rebuilt index per trigger would defeat the
    point); they are exposed as ``query.neardup_index`` so a caller
    that rebuilds the index can ``.unpersist()`` the old one instead
    of leaking it into executor storage.

    All writes are idempotent under foreachBatch's AT-LEAST-once
    retry semantics: match output and grown-index rows land in
    ``batch_id=N`` partition subdirectories that a retried batch
    OVERWRITES (never a plain append that would duplicate), and the
    probe side excludes the current batch's own partition — so a
    retry after a crash mid-commit neither duplicates output nor
    self-matches against its previous attempt's just-appended index
    rows. The visible result is effectively exactly-once.

    ``grow_index_dir`` closes the production loop: after each trigger
    the NEW batch's shingles + band rows + sizes land there (parquet,
    batch_id-partitioned), and subsequent triggers probe the static
    index UNION the grown tail — a near-dup of a document that
    arrived three parts ago is caught, not just dups of the original
    corpus. The grown tail stays on storage, exactly how a 100 TB
    index is maintained (the in-memory static part is the bulk; the
    tail compacts into it offline via writers.compact_grown_index)."""
    from ..operators.dedup import (
        band_signature,
        minhash_signature,
        word_shingles,
    )
    idx_sh = word_shingles(index_docs, text_col, id_col).persist()
    idx_sig = minhash_signature(idx_sh).persist()
    idx_bands = band_signature(idx_sig).persist()
    idx_sizes = idx_sig.select("doc", F.col("n_sh").alias("nb"))

    def _grown(name: str, static: DataFrame, batch_id: int) -> DataFrame:
        if grow_index_dir is None:
            return static
        path = os.path.join(grow_index_dir, name)
        if not os.path.isdir(path):  # first trigger: nothing yet
            return static
        tail = spark.read.parquet(path)
        if "batch_id" not in tail.columns:
            # a pre-batch-layout flat tail would become an UNREADABLE
            # mixed root once this trigger writes batch_id=N beside
            # it, and flat rows can't be excluded on retry — refuse
            # loudly instead of silently dropping the tail later
            raise RuntimeError(
                f"grown index at {path} uses the pre-batch flat layout; "
                "run sources.writers.compact_grown_index(spark, "
                f"{grow_index_dir!r}) once (stream stopped) to migrate "
                "it before resuming"
            )
        # exclude the CURRENT batch's partition: a retried batch must
        # not probe its own previous attempt's rows (spurious
        # self-matches); the filter is partition-pruned
        return static.unionByName(
            tail.filter(F.col("batch_id") != batch_id).drop("batch_id")
        )

    def process(batch_df, batch_id: int) -> None:
        new_sh = word_shingles(batch_df, text_col, id_col)
        new_sig = minhash_signature(new_sh)
        if grow_index_dir is not None:
            # materialize the batch derivations once: probed by the
            # candidate join, the verify join, AND the index append
            new_sh = new_sh.localCheckpoint(eager=True)
            new_sig = new_sig.localCheckpoint(eager=True)
        bands_all = _grown("bands", idx_bands, batch_id)
        sh_all = _grown("shingles", idx_sh, batch_id)
        sizes_all = _grown("sizes", idx_sizes, batch_id)
        cand = (
            band_signature(new_sig)
            .withColumnRenamed("doc", "new_doc")
            .join(bands_all.withColumnRenamed("doc", "index_doc"),
                  ["band_idx", "band_key"])
            .select("new_doc", "index_doc")
            .distinct()
        )
        common = (
            cand.join(new_sh.withColumnRenamed("doc", "new_doc"), "new_doc")
            .join(
                sh_all.withColumnRenamed("doc", "index_doc"),
                ["index_doc", "sh"],
            )
            .groupBy("new_doc", "index_doc")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        verified = (
            common.join(new_sig.select(F.col("doc").alias("new_doc"),
                                       F.col("n_sh").alias("na")), "new_doc")
            .join(sizes_all.withColumnRenamed("doc", "index_doc"), "index_doc")
            .select(
                "new_doc", "index_doc",
                F.col("n_common").cast("bigint").alias("n_common"),
                (F.col("na") + F.col("nb") - F.col("n_common"))
                .cast("bigint")
                .alias("n_union"),
            )
            .filter(3 * F.col("n_common") >= 2 * F.col("n_union"))
        )
        part = f"batch_id={batch_id}"
        verified.write.mode("overwrite").parquet(os.path.join(output_path, part))
        if grow_index_dir is not None:
            band_signature(new_sig).write.mode("overwrite").parquet(
                os.path.join(grow_index_dir, "bands", part)
            )
            new_sh.write.mode("overwrite").parquet(
                os.path.join(grow_index_dir, "shingles", part)
            )
            new_sig.select("doc", F.col("n_sh").alias("nb")).write.mode(
                "overwrite"
            ).parquet(os.path.join(grow_index_dir, "sizes", part))
            # the batch checkpoints are fully consumed (probe joins +
            # index appends above) — free them so a long-running stream
            # doesn't accumulate one leaf pair per micro-batch
            from ..operators.curation import release_checkpoints

            release_checkpoints(new_sh, new_sig)

    q = stream_esoa_parts(spark, directory, process, checkpoint_dir)
    q.neardup_index = (idx_sh, idx_sig, idx_bands)
    return q


EMBEDDING_PART_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def stream_embdup_against_index(
    spark: SparkSession,
    directory: str,
    index_embeddings: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    grow_index_dir: str | None = None,
):
    """Embedding near-duplicate detection against a growing vector
    index — the vector twin of ``stream_neardup_against_index``: each
    arriving parquet part of (vec_id, label, embedding) rows is
    quantized + sign-bucketed and equi-joined against a PRE-BUILT
    index on the (label, cell) blocking key, then exact-verified with
    the SAME integer dot threshold the batch operators use
    (similarity.NEAR_DUP_DOT_MIN — streaming and batch can never
    disagree on a pair). Per-trigger cost is O(new vectors): the
    blocking key bounds each probe to ~1/256 of its label population,
    and candidate generation stays an equi-join.

    Idempotence contract (identical to the minhash twin): matches and
    grown-index rows land in ``batch_id=N`` partition subdirectories
    that a retried batch OVERWRITES, and the probe side excludes the
    current batch's own partition — at-least-once retries neither
    duplicate output nor self-match. ``grow_index_dir`` holds ONE
    relation (vec rows: index_vec, label, qe, cell), so the offline
    maintenance job is ``writers.compact_parquet(spark,
    grow_index_dir)`` directly (the minhash twin's three-relation
    ``compact_grown_index`` wrapper is not needed here).

    The persisted static index outlives the returned query (exposed
    as ``query.embdup_index`` for callers that rebuild it)."""
    from ..operators.similarity import (
        NEAR_DUP_DOT_MIN,
        int_dot,
        quantize,
        sign_bucket,
    )

    idx = index_embeddings.select(
        F.col("vec_id").alias("index_vec"),
        "label",
        quantize(F.col("embedding")).alias("qe"),
        sign_bucket(F.col("embedding")).alias("cell"),
    ).persist()

    def _grown(batch_id: int) -> DataFrame:
        if grow_index_dir is None or not os.path.isdir(grow_index_dir):
            return idx
        tail = spark.read.parquet(grow_index_dir)
        if "batch_id" not in tail.columns:
            raise RuntimeError(
                f"grown vector index at {grow_index_dir} uses a flat "
                "layout; run sources.writers.compact_parquet(spark, "
                f"{grow_index_dir!r}, migrate_to_batch_layout=True) once "
                "(stream stopped) before resuming"
            )
        # exclude the CURRENT batch's partition: a retried batch must
        # not probe its own previous attempt's rows (partition-pruned)
        return idx.unionByName(
            tail.filter(F.col("batch_id") != batch_id).drop("batch_id")
        )

    def process(batch_df, batch_id: int) -> None:
        new = batch_df.select(
            F.col("vec_id").alias("new_vec"),
            "label",
            quantize(F.col("embedding")).alias("nqe"),
            sign_bucket(F.col("embedding")).alias("cell"),
        )
        if grow_index_dir is not None:
            # probed by the match join AND appended to the tail
            new = new.localCheckpoint(eager=True)
        matched = (
            new.join(_grown(batch_id), ["label", "cell"])
            .select(
                "new_vec",
                "index_vec",
                "label",
                int_dot(F.col("nqe"), F.col("qe")).alias("dot_q"),
            )
            .filter(F.col("dot_q") >= NEAR_DUP_DOT_MIN)
        )
        part = f"batch_id={batch_id}"
        matched.write.mode("overwrite").parquet(os.path.join(output_path, part))
        if grow_index_dir is not None:
            new.select(
                F.col("new_vec").alias("index_vec"), "label",
                F.col("nqe").alias("qe"), "cell",
            ).write.mode("overwrite").parquet(os.path.join(grow_index_dir, part))
            # batch checkpoint fully consumed (match join + append) —
            # free it; one leaf per micro-batch otherwise
            from ..operators.curation import release_checkpoints

            release_checkpoints(new)

    src = (
        spark.readStream.schema(EMBEDDING_PART_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.embdup_index = (idx,)
    return q
