"""IO layer tests: CSV round-trips, part-file concat+dedupe, dated
resolution, metrics append, column resolver."""

from __future__ import annotations

import os

import pytest

from pids_drg_esoa_spark.sources.readers import (
    latest_dated_file,
    read_csv,
    read_part_files,
    read_table_prefer_parquet,
    resolve_text_column,
)
from pids_drg_esoa_spark.sources.writers import append_metrics, read_metrics, write_parquet


def test_csv_failfast_required(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p), required=("a", "b"))
    assert df.count() == 2
    with pytest.raises(ValueError, match="missing required"):
        read_csv(spark, str(p), required=("a", "zzz"))


def test_csv_bom_header(spark, tmp_path):
    p = tmp_path / "bom.csv"
    p.write_bytes("﻿DESCRIPTION,v\nfoo,1\n".encode("utf-8"))
    df = read_csv(spark, str(p))
    assert "DESCRIPTION" in df.columns


def test_part_files_concat_dedupe(spark, tmp_path):
    (tmp_path / "esoa_pt_1.csv").write_text("ITEM,DESCRIPTION\n1,alpha\n2,beta\n")
    (tmp_path / "esoa_pt_2.csv").write_text("ITEM,DESCRIPTION\n2,beta\n3,gamma\n")
    (tmp_path / "esoa_pt_10.csv").write_text("ITEM,DESCRIPTION\n3,gamma\n4,delta\n")
    df = read_part_files(spark, str(tmp_path), "esoa", dedupe_cols=["ITEM", "DESCRIPTION"])
    rows = {(r.ITEM, r.DESCRIPTION, r.part_no) for r in df.collect()}
    # first part wins: ITEM 2 from part 1, ITEM 3 from part 2
    assert rows == {("1", "alpha", 1), ("2", "beta", 1), ("3", "gamma", 2), ("4", "delta", 10)}


def test_latest_dated(tmp_path):
    for name in ("fda_2024-01-01.csv", "fda_2024-06-30.csv", "fda_2023-12-31.csv", "other.csv"):
        (tmp_path / name).write_text("x\n1\n")
    assert latest_dated_file(str(tmp_path), "fda").endswith("fda_2024-06-30.csv")
    assert latest_dated_file(str(tmp_path), "nope") is None


def test_prefer_parquet(spark, tmp_path):
    base = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(base + ".parquet")
    df = read_table_prefer_parquet(spark, base)
    assert df.collect()[0].v == "a"


def test_metrics_append_accumulates(spark, tmp_path):
    path = str(tmp_path / "metrics")
    append_metrics(spark, path, {"run": "r1", "coverage_pct": 95.5})
    append_metrics(spark, path, {"run": "r2", "coverage_pct": 96.0})
    hist = read_metrics(spark, path)
    assert hist.count() == 2
    assert {r.run for r in hist.collect()} == {"r1", "r2"}
    assert "recorded_at" in hist.columns


def test_resolve_text_column(spark):
    df = spark.createDataFrame([("x",)], "DESCRIPTION string")
    assert resolve_text_column(df) == "DESCRIPTION"
    df2 = spark.createDataFrame([("x",)], "unrelated string")
    with pytest.raises(ValueError):
        resolve_text_column(df2)


def test_write_parquet_partitioned(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, k string")
    write_parquet(df, out, partition_by=("k",))
    assert os.path.isdir(os.path.join(out, "k=a"))
    assert spark.read.parquet(out).count() == 2


def test_read_jsonl_permissive_and_failfast(spark, tmp_path):
    """JSONL scan: explicit schema, malformed lines quarantined into
    _corrupt_record under PERMISSIVE; FAILFAST raises."""
    from pyspark.sql import types as T

    from pids_drg_esoa_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        "NOT JSON AT ALL\n"
        '{"doc_id": 2, "text": "second doc"}\n'
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = read_jsonl(spark, str(p), schema).cache()
    ok = df.filter(df["_corrupt_record"].isNull())
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert {r.doc_id for r in ok.collect()} == {1, 2}
    assert bad.count() == 1
    df.unpersist()

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Py4JJavaError):
        read_jsonl(spark, str(p), schema, mode="FAILFAST").collect()


def test_compact_parquet_and_grown_index(spark, tmp_path):
    """Append-mode small files → one atomic rewrite; the grown-index
    compactor also dedupes retry-duplicated appends."""
    import os

    from pids_drg_esoa_spark.sources.writers import compact_grown_index, compact_parquet

    p = str(tmp_path / "metrics")
    for i in range(5):
        spark.createDataFrame([(i, "x")], "id int, v string").write.mode("append").parquet(p)
    n_before = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n_before >= 5
    n_after = compact_parquet(spark, p, target_mb=256)
    assert n_after == 1
    assert spark.read.parquet(p).count() == 5

    grow = tmp_path / "grown"
    bands = spark.createDataFrame([("d1", 0, "k")], "doc string, band_idx int, band_key string")
    for _ in range(2):  # simulate a retried append
        bands.write.mode("append").parquet(str(grow / "bands"))
    counts = compact_grown_index(spark, str(grow))
    assert counts == {"bands": 1}
    assert spark.read.parquet(str(grow / "bands")).count() == 1  # deduped


def test_compact_parquet_partitioned_layout_and_recovery(spark, tmp_path):
    """Round 6: (a) a batch_id=N streaming sink compacts its
    COMMITTED partitions into the reserved batch_id=-1 partition
    while PRESERVING the highest batch (it may be uncommitted in the
    stream checkpoint — a replay must still find and overwrite its
    own partition), staying a valid partitioned dataset later
    triggers can extend; (b) a crash stranded in the swap window
    (data at .compact.old, nothing at path) is restored on the next
    call."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pids_drg_esoa_spark.sources.writers import compact_parquet

    p = str(tmp_path / "sink")
    for b in range(4):
        spark.createDataFrame([(b, "x")], "id int, v string").write.mode(
            "overwrite"
        ).parquet(os.path.join(p, f"batch_id={b}"))

    n_files = compact_parquet(spark, p, target_mb=256)
    # one merged -1 file + the preserved batch-3 files (file-for-file,
    # however many its original write produced)
    assert (
        sum(1 for f in os.listdir(os.path.join(p, "batch_id=-1")) if f.endswith(".parquet"))
        == 1
    )
    assert n_files >= 2
    df = spark.read.parquet(p)
    assert df.count() == 4
    parts = set(r["batch_id"] for r in df.select("batch_id").distinct().collect())
    assert parts == {-1, 3}  # 0..2 merged; the LATEST batch kept as-is
    # the preserved partition still holds exactly its own rows — a
    # replayed batch 3 would overwrite it without touching -1
    assert df.filter(F.col("batch_id") == 3).count() == 1

    # later trigger appends its own partition beside the compacted one
    spark.createDataFrame([(9, "y")], "id int, v string").write.mode(
        "overwrite"
    ).parquet(os.path.join(p, "batch_id=4"))
    grown = spark.read.parquet(p)
    assert grown.count() == 5
    # probe-side pattern: exclude the current batch, keep the rest
    assert grown.filter(F.col("batch_id") != 4).count() == 4

    # crash simulation: swap window left data at .compact.old only
    shutil.rmtree(p + ".compact.old", ignore_errors=True)
    os.rename(p, p + ".compact.old")
    assert not os.path.exists(p)
    compact_parquet(spark, p, target_mb=256)
    assert spark.read.parquet(p).count() == 5


def test_streaming_sink_batch_overwrite_is_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch_id) overwrites its own
    partition — re-running the identical write leaves the dataset
    byte-identical instead of doubling it."""
    import os

    p = str(tmp_path / "out")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    for _attempt in range(2):  # first attempt + retry
        rows.write.mode("overwrite").parquet(os.path.join(p, "batch_id=0"))
    assert spark.read.parquet(p).count() == 2


def test_grown_index_flat_legacy_migration(spark, tmp_path):
    """A pre-batch flat grown tail is refused by the stream (loud,
    with the migration command) and compact_grown_index migrates it
    into the batch_id layout the stream accepts."""
    import os

    import pytest as _pytest

    from pids_drg_esoa_spark.sources.writers import compact_grown_index
    from pids_drg_esoa_spark.streaming.incremental import stream_neardup_against_index

    grow = tmp_path / "grown"
    bands = spark.createDataFrame(
        [("d1", 0, "k")], "doc string, band_idx int, band_key string"
    )
    bands.write.mode("append").parquet(str(grow / "bands"))  # flat legacy

    index_docs = spark.createDataFrame(
        [("I1", "one two three four five six seven eight nine ten eleven twelve")],
        "ITEM_NUMBER string, DESCRIPTION string",
    )
    src = tmp_path / "parts"
    src.mkdir()
    (src / "esoa_pt_1.csv").write_text(
        "ITEM_NUMBER,ITEM_REF_CODE,DESCRIPTION\n"
        "N1,X,one two three four five six seven eight nine ten eleven other\n"
    )
    q = stream_neardup_against_index(
        spark, str(src), index_docs, str(tmp_path / "out"), str(tmp_path / "ck"),
        grow_index_dir=str(grow),
    )
    with _pytest.raises(Exception, match="pre-batch flat layout"):
        q.awaitTermination()
        q.processAllAvailable()
    for r in q.neardup_index:
        r.unpersist()

    # migrate, then a fresh stream (new checkpoint) runs clean
    counts = compact_grown_index(spark, str(grow))
    assert counts["bands"] >= 1
    migrated = spark.read.parquet(str(grow / "bands"))
    assert "batch_id" in migrated.columns and migrated.count() == 1

    q2 = stream_neardup_against_index(
        spark, str(src), index_docs, str(tmp_path / "out2"), str(tmp_path / "ck2"),
        grow_index_dir=str(grow),
    )
    q2.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "out2")).collect()
    assert {(r.new_doc, r.index_doc) for r in rows} == {("N1", "I1")}
    for r in q2.neardup_index:
        r.unpersist()
