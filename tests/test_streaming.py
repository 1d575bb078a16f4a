"""Structured Streaming semantics tests: watermark + append-mode late
data, stateful sessionization (applyInPandasWithState), and the
foreachBatch incremental part-file flow."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _mem_stream(spark, rows, schema, tmp_path, name, transform, output_mode="append"):
    """Drive a rate-free file-backed stream synchronously."""
    src_dir = tmp_path / f"{name}_src"
    src_dir.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(src_dir / "data")
    )
    stream = spark.readStream.schema(schema).parquet(str(src_dir / "data"))
    q = (
        transform(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_watermark_window_append(spark, tmp_path):
    """Event-time tumbling windows with a watermark: append mode emits
    only closed windows; all data in one batch ⇒ every window closes
    at end-of-stream."""
    rows = [
        ("2024-01-01 00:01:00", "a", 1.0),
        ("2024-01-01 00:04:00", "a", 2.0),
        ("2024-01-01 00:06:00", "b", 3.0),
        ("2024-01-01 01:00:00", "a", 4.0),  # advances watermark far ahead
    ]
    schema = "ts_str string, k string, v double"

    def transform(s):
        return (
            s.withColumn("ts", F.col("ts_str").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        )

    out = _mem_stream(spark, rows, schema, tmp_path, "wm_append", transform)
    got = {(r.window.start.minute, r.k): (r.n, r.total) for r in out.collect()}
    assert got[(0, "a")] == (2, 3.0)
    assert got[(5, "b")] == (1, 3.0)
    assert got[(0, "a")][0] == 2


def test_stateful_sessionize_applyInPandasWithState(spark, tmp_path):
    """Custom stateful operator: 30-min-gap sessionization with
    GroupState — the streaming twin of plans.temporal.t_sessionize."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = [
        (0, "2024-01-01 00:00:00"),
        (0, "2024-01-01 00:10:00"),
        (0, "2024-01-01 01:00:00"),  # gap > 30 min → new session
        (1, "2024-01-01 00:00:00"),
    ]
    schema = "user_id long, ts_str string"

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_sessions", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("last_epoch", T.LongType()),
        ]
    )

    def count_sessions(key, pdfs, state: GroupState):
        n_sessions, n_events, last = state.get if state.exists else (0, 0, None)
        epochs = []
        for pdf in pdfs:
            epochs.extend(
                int(pd.Timestamp(t).timestamp()) for t in pdf["ts_str"]
            )
        for e in sorted(epochs):
            if last is None or e - last > 1800:
                n_sessions += 1
            n_events += 1
            last = e
        state.update((n_sessions, n_events, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    def transform(s):
        return s.groupBy("user_id").applyInPandasWithState(
            count_sessions,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    out = _mem_stream(
        spark, rows, schema, tmp_path, "sessions_state", transform, output_mode="update"
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in out.collect()}
    assert got[0] == (2, 3)
    assert got[1] == (1, 1)


def test_incremental_part_files_foreachbatch(spark, tmp_path):
    """foreachBatch over esoa_pt_* files: each part tagged once; the
    second run (new checkpoint-aware query) processes only new parts."""
    from pids_drg_esoa_spark.streaming.incremental import stream_esoa_parts

    src = tmp_path / "parts"
    src.mkdir()
    (src / "esoa_pt_1.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n1,DrugsAndMedicine,PARACETAMOL 500MG TAB\n"
    )
    (src / "esoa_pt_2.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n2,DrugsAndMedicine,SALBUTAMOL NEBULE\n"
    )
    seen: list[tuple[int, int]] = []

    def process(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    q = stream_esoa_parts(spark, str(src), process, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert sorted(n for _, n in seen) == [1, 1]  # one part per micro-batch

    # new part arrives; resumed query processes ONLY it
    (src / "esoa_pt_3.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n3,DrugsAndMedicine,AMLODIPINE 5MG TAB\n"
    )
    seen.clear()
    q2 = stream_esoa_parts(spark, str(src), process, str(tmp_path / "ckpt"))
    q2.awaitTermination()
    assert [n for _, n in seen] == [1]


def test_streaming_tagger_per_trigger(spark, tmp_path):
    """SURVEY §7 north-star: the batch tagger plan run incrementally —
    each new esoa part is tagged ONCE per trigger (O(new rows)), the
    tagged output accumulates, and a resumed query tags only parts the
    checkpoint hasn't seen. Each part's rows come out as the chain's
    Part 3 emits them: blank descriptions read (False, no_candidates)."""
    from pids_drg_esoa_spark.streaming.incremental import stream_tag_esoa_parts

    dims = {
        "generics_dim": spark.createDataFrame(
            [("PARACETAMOL", "DB00316"), ("AMLODIPINE", "DB00381")],
            "generic_name string, drugbank_id string",
        ),
        "atc_dim": spark.createDataFrame(
            [("PARACETAMOL", "N02BE01", False), ("AMLODIPINE", "C08CA01", False)],
            "generic_name string, atc_code string, is_combination_atc boolean",
        ),
    }
    src = tmp_path / "parts"
    src.mkdir()
    (src / "esoa_pt_1.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "1,DrugsAndMedicine,PARACETAMOL 500MG TAB\n"
        "2,Laboratory,URINALYSIS\n"
        "5,DrugsAndMedicine,\n"
        '6,DrugsAndMedicine,""\n'
    )
    (src / "esoa_pt_2.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "3,DrugsAndMedicine,AMLODIPINE 5MG TAB\n"
    )
    out_dir, ckpt = str(tmp_path / "tagged"), str(tmp_path / "ckpt")
    batches: list[tuple[int, int]] = []

    q = stream_tag_esoa_parts(
        spark, str(src), dims, out_dir, ckpt,
        on_batch=lambda bid, n: batches.append((bid, n)),
    )
    q.awaitTermination()
    # every drug row comes out once (the Laboratory row is filtered)
    assert sorted(n for _, n in batches) == [1, 3]
    out = spark.read.parquet(out_dir)
    assert out.columns[:3] == ["ITEM_NUMBER", "ITEM_REF_CODE", "DESCRIPTION"]
    assert "raw_text" not in out.columns
    rows = out.collect()
    tagged = {r.DESCRIPTION: r for r in rows}
    assert tagged["PARACETAMOL 500MG TAB"].atc_primary == "N02BE01"
    assert tagged["AMLODIPINE 5MG TAB"].generic_name == "AMLODIPINE"
    blank = {r.ITEM_NUMBER: (r.matched, r.match_reason) for r in rows
             if r.ITEM_NUMBER in ("5", "6")}
    assert blank == {"5": (False, "no_candidates"), "6": (False, "no_candidates")}

    # late part: the resumed query tags ONLY the new file
    (src / "esoa_pt_3.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "4,DrugsAndMedicine,PARACETAMOL 250MG SUSP\n"
    )
    batches.clear()
    q2 = stream_tag_esoa_parts(
        spark, str(src), dims, out_dir, ckpt,
        on_batch=lambda bid, n: batches.append((bid, n)),
    )
    q2.awaitTermination()
    assert [n for _, n in batches] == [1]
    assert spark.read.parquet(out_dir).count() == 5


def test_streaming_neardup_against_static_index(spark, tmp_path):
    """Incremental dedup: per trigger, only the new part is minhashed
    and banded against the static index; near-dups of indexed docs are
    detected with the batch operator's exact-Jaccard threshold."""
    from pids_drg_esoa_spark.streaming.incremental import stream_neardup_against_index

    index_docs = spark.createDataFrame(
        [
            ("I1", "the quick brown fox jumps over the lazy dog near the river bank"),
            ("I2", "completely different content about spark structured streaming state"),
        ],
        "ITEM_NUMBER string, DESCRIPTION string",
    )
    src = tmp_path / "parts"
    src.mkdir()
    # part 1: a near-dup of I1 (one word changed); part 2: novel text
    (src / "esoa_pt_1.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "N1,X,the quick brown fox jumps over the lazy dog near the river shore\n"
    )
    (src / "esoa_pt_2.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "N2,X,unrelated words that match nothing in the index whatsoever today\n"
    )
    out, ckpt = str(tmp_path / "dups"), str(tmp_path / "ckpt")
    q = stream_neardup_against_index(spark, str(src), index_docs, out, ckpt)
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert {(r.new_doc, r.index_doc) for r in rows} == {("N1", "I1")}
    r = rows[0]
    assert 3 * r.n_common >= 2 * r.n_union


def test_streaming_neardup_growing_index(spark, tmp_path):
    """grow_index_dir: part 2's near-dup of a PART-1 document (absent
    from the static index) is detected because part 1 was appended to
    the grown index tail after its trigger."""
    from pids_drg_esoa_spark.streaming.incremental import stream_neardup_against_index

    index_docs = spark.createDataFrame(
        [("I1", "completely different content about spark structured streaming state")],
        "ITEM_NUMBER string, DESCRIPTION string",
    )
    src = tmp_path / "parts"
    src.mkdir()
    (src / "esoa_pt_1.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "N1,X,the quick brown fox jumps over the lazy dog near the river bank\n"
    )
    (src / "esoa_pt_2.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "N2,X,the quick brown fox jumps over the lazy dog near the river shore\n"
    )
    out, ckpt = str(tmp_path / "dups"), str(tmp_path / "ckpt")
    q = stream_neardup_against_index(
        spark, str(src), index_docs, out, ckpt,
        grow_index_dir=str(tmp_path / "grown"),
    )
    q.awaitTermination()
    pairs = {(r.new_doc, r.index_doc) for r in spark.read.parquet(out).collect()}
    # N2 ~ N1 across parts — only the grown tail can see it
    assert pairs == {("N2", "N1")}


def test_streaming_embdup_growing_index(spark, tmp_path):
    """Vector twin of the growing-index flow: part 2 contains an
    exact clone of a PART-1 vector (absent from the static index) —
    only the grown tail can match it — plus a clone of a static-index
    vector. Same batch_id idempotence contract."""
    import math

    from pids_drg_esoa_spark.streaming.incremental import (
        EMBEDDING_PART_SCHEMA,
        stream_embdup_against_index,
    )

    def unit(seed: int) -> list[float]:
        v = [math.sin(seed * 31 + i) for i in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    a, b, c = unit(1), unit(2), unit(3)
    index_emb = spark.createDataFrame(
        [(100, "en", a), (101, "en", b)], EMBEDDING_PART_SCHEMA
    )
    src = tmp_path / "vparts"
    src.mkdir()

    def write_part(rows, name):
        # the file source wants plain files in the watched dir, not
        # per-part directories — write then move the single data file
        import shutil

        d = tmp_path / ("stage_" + name)
        spark.createDataFrame(rows, EMBEDDING_PART_SCHEMA).coalesce(1).write.parquet(
            str(d)
        )
        (f,) = [p for p in d.iterdir() if p.name.endswith(".parquet")]
        shutil.move(str(f), str(src / name))

    # part 1: a fresh vector c (no match) ; part 2: clone of c (grown
    # tail catch) + clone of index vector a (static catch)
    write_part([(1, "en", c)], "p1.parquet")
    write_part([(2, "en", c), (3, "en", a)], "p2.parquet")
    out, ckpt = str(tmp_path / "vdups"), str(tmp_path / "vckpt")
    q = stream_embdup_against_index(
        spark, str(src), index_emb, out, ckpt,
        grow_index_dir=str(tmp_path / "vgrown"),
    )
    q.awaitTermination()
    pairs = {(r.new_vec, r.index_vec) for r in spark.read.parquet(out).collect()}
    assert pairs == {(2, 1), (3, 100)}
    for r in q.embdup_index:
        r.unpersist()
