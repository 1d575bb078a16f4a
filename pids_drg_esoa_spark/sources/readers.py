"""Readers: the reference's ingestion surface, Spark-first.

- S1 CSV scan with explicit schema + FAILFAST (the reference's
  assert-required-columns, prepare.py:57-59; io_utils.py:14-16) and
  the utf-8-sig / tab-separated variants it reads.
- S2 parquet-preferred fallback (runners.py:319-327).
- S9 multi-part glob concat + dedupe with numeric-suffix ordering
  (run_drugs_all.py:312-353,370-372).
- S10 latest-dated-file resolution (pipeline.py:262-273).
- Schema-flexible text-column resolver (runners.py:175-182).
"""

from __future__ import annotations

import os
import re
from datetime import date

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


# pandas default na_values (pandas._libs.parsers.STR_NA_VALUES), the
# reference's pd.read_csv(dtype=str) missing-value sentinels; '' is
# already NULL under Spark's default nullValue
_PANDAS_NA_SENTINELS = (
    "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null",
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    required: tuple[str, ...] = (),
    sep: str = ",",
) -> DataFrame:
    """S1: CSV with header; explicit schema when known (FAILFAST), all-
    string otherwise (the reference's dtype=str). utf-8-sig BOMs are
    stripped via the encoding option."""
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("encoding", "UTF-8")
        .option("mode", "FAILFAST")
    )
    df = reader.schema(schema).csv(path) if schema is not None else reader.csv(path)
    # header BOM guard (utf-8-sig files)
    renames = {c: c.lstrip("﻿") for c in df.columns if c.startswith("﻿")}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    # pandas-NA parity: every reference CSV read is pd.read_csv, whose
    # default na_values maps these literal strings to missing (labs
    # fuzz: an ITEM_NUMBER cell 'nan' is NaN to the reference but a
    # live string to a raw Spark CSV scan). Spark's nullValue option
    # takes one sentinel, so map the set column-wise (JVM-side `isin`,
    # codegen-friendly — no UDF).
    df = df.select(
        *[
            F.when(F.col(f"`{c}`").isin(*_PANDAS_NA_SENTINELS), None)
            .otherwise(F.col(f"`{c}`"))
            .alias(c)
            if t == "string"
            else F.col(f"`{c}`")
            for c, t in df.dtypes
        ]
    )
    missing = set(required) - set(df.columns)
    if missing:
        raise ValueError(f"{path}: missing required columns {sorted(missing)}")
    return df


def read_table_prefer_parquet(spark: SparkSession, base_path: str) -> DataFrame:
    """S2: <base>.parquet if present, else <base>.csv
    (runners.py:319-327)."""
    pq = f"{base_path}.parquet"
    if os.path.exists(pq):
        return spark.read.parquet(pq)
    return read_csv(spark, f"{base_path}.csv")


def with_input_position(df: DataFrame, col: str) -> DataFrame:
    """Add ``col``: each row's 0-based position in ``df``'s input order,
    the same however the input is partitioned. For small dims (a
    one-partition window)."""
    # monotonically_increasing_id keeps the order but encodes the
    # partition index in its values; its rank does not
    return (
        df.withColumn("_input_id", F.monotonically_increasing_id())
        .withColumn(col, (F.row_number().over(W.orderBy("_input_id")) - 1).cast("long"))
        .drop("_input_id")
    )


_PART_RE = re.compile(r"_pt_(\d+)\.csv$")


def read_part_files(
    spark: SparkSession,
    directory: str,
    prefix: str,
    dedupe_cols: list[str] | None = None,
) -> DataFrame:
    """S9: read all <prefix>_pt_<n>.csv parts, tag each row with its
    numeric part index (provenance ordering), concat, dedupe.

    One spark.read over the matched file list — the scheduler
    parallelizes across files; the reference's sort-then-concat loop
    becomes the part_no column, and 'first part wins' dedup is an
    explicit min(part_no) window rather than row order (SURVEY §7)."""
    parts = sorted(
        (
            (int(m.group(1)), os.path.join(directory, f))
            for f in os.listdir(directory)
            for m in [_PART_RE.search(f)]
            if m and f.startswith(prefix)
        ),
    )
    if not parts:
        raise FileNotFoundError(f"no {prefix}_pt_*.csv under {directory}")
    df = read_csv(spark, [p for _, p in parts])
    part_no = F.regexp_extract(F.input_file_name(), r"_pt_(\d+)\.csv", 1).cast("int")
    df = df.withColumn("part_no", part_no)
    if dedupe_cols:
        w = W.partitionBy(*dedupe_cols).orderBy("part_no")
        df = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    return df


_DATED_RE = re.compile(r"_(\d{4}-\d{2}-\d{2})\.(csv|parquet|xlsx)$")


def latest_dated_file(directory: str, stem: str) -> str | None:
    """S10: newest name_YYYY-MM-DD.ext under directory
    (pipeline.py:262-273; driver-side by design — file-listing is
    metadata work, not data work)."""
    best: tuple[date, str] | None = None
    for f in os.listdir(directory):
        if not f.startswith(stem):
            continue
        m = _DATED_RE.search(f)
        if not m:
            continue
        d = date.fromisoformat(m.group(1))
        if best is None or d > best[0]:
            best = (d, os.path.join(directory, f))
    return best[1] if best else None


def read_excel_df(spark: SparkSession, path: str) -> DataFrame:
    """S3: diagnostics-workbook scan (match_labs.py:55 —
    ``pd.read_excel(dtype=str)``). Decoded driver-side with the
    stdlib xlsx codec (sources/xlsx.py) then parallelized: the
    reference's Excel inputs are small dims (diagnostics lookup),
    never fact-scale — the 100 TB scan path is parquet/CSV."""
    from .xlsx import read_xlsx

    header, rows = read_xlsx(path)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in header])
    return spark.createDataFrame([tuple(r) for r in rows], schema)


TEXT_COLUMN_CANDIDATES = (
    "raw_text",
    "ITEM_DESCRIPTION",
    "DESCRIPTION",
    "Drug Description",
    "description",
)


def resolve_text_column(df: DataFrame, candidates: tuple[str, ...] = TEXT_COLUMN_CANDIDATES) -> str:
    """Schema-flexible column discovery (runners.py:175-182)."""
    for c in candidates:
        if c in df.columns:
            return c
    raise ValueError(f"none of {candidates} present; have {df.columns}")


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSON-Lines scan — the interchange format of large-scale text
    corpora (one document object per line). Always pass an explicit
    ``schema`` in production: without one Spark runs a full inference
    scan (a second read of 100 TB). PERMISSIVE mode (default) routes
    malformed lines into ``_corrupt_record`` instead of failing the
    job — corpus crawls always contain breakage; count the column and
    quarantine, don't die at file 97,000 of 100,000. FAILFAST is the
    right mode for trusted curated inputs (the S1 CSV contract)."""
    r = spark.read.option("mode", mode)
    if schema is not None:
        if mode == "PERMISSIVE" and "_corrupt_record" not in schema.fieldNames():
            schema = T.StructType(
                list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
            )
        r = r.schema(schema)
    return r.json(path)
