"""Writers: Parquet sinks + the append-only metrics log.

- Parquet is the canonical persisted format here (columnar,
  pushdown-friendly); S6 CSV interop is Spark's own ``df.write.csv``.
- S8 append-only metrics history (runners.py:1498-1531) as an
  append-mode Parquet table with a run timestamp column.
- S7 (Excel report with freeze panes) is a driver-side presentation
  step: collect a SMALL result and hand it to pandas/xlsxwriter —
  gated behind an import-try since xlsxwriter may be absent.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def append_metrics(spark: SparkSession, path: str, metrics: dict[str, float | int | str]) -> None:
    """S8: append one stamped metrics row. Append-mode Parquet — each
    run adds a file; readers see the union (the reference's
    metrics_history.csv semantics without read-modify-write)."""
    row = dict(metrics)
    stamp = datetime.now(timezone.utc).isoformat()
    df = spark.createDataFrame([tuple(row.values()) + (stamp,)],
                               list(row.keys()) + ["recorded_at"])
    df.write.mode("append").parquet(path)


def read_metrics(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).orderBy(F.col("recorded_at"))


def metrics_comparison(
    spark: SparkSession, metrics_path: str, last_n: int = 5
) -> dict[str, list[dict]]:
    """S8 twin of the reference's ``print_metrics_comparison``
    (runners.py:1548-1566): the last ``last_n`` metrics rows per
    run_type, oldest→latest, so a caller can eyeball coverage drift
    across runs. Reads the per-run_type parquet dirs that
    ``run_drugs_all(metrics_path=...)`` appends (``<path>_parts/<run
    _type>``); returns data instead of printing — the engine's CLI
    prints, libraries don't. Missing history → empty dict (the
    reference prints 'No metrics history found')."""
    import logging
    import os

    out: dict[str, list[dict]] = {}
    # os.listdir discovery assumes a LOCAL metrics path — the same
    # assumption append-side run_drugs_all(metrics_path=...) makes
    # when it mkdirs per-run_type subdirs; a cluster deployment would
    # point both at a shared filesystem mount or swap this for a
    # FileSystem.listStatus call.
    parts_dir = f"{metrics_path}_parts"
    if not os.path.isdir(parts_dir):
        return out
    for run_type in sorted(os.listdir(parts_dir)):
        sub = os.path.join(parts_dir, run_type)
        try:
            rows = (
                spark.read.parquet(sub)
                .orderBy(F.desc("recorded_at"))
                .limit(last_n)
                .collect()
            )
        except Exception as exc:  # noqa: BLE001
            # deliberately broad: a run killed mid-append leaves an
            # empty dir (AnalysisException at plan time) OR a
            # truncated part file (Py4JJavaError at footer-read /
            # collect time) — a history READER must skip the one bad
            # run_type, not lose every run_type's history. The skip is
            # LOUD (r11 ADVICE: the old silent continue read as "no
            # drift" when it was really "no data").
            logging.getLogger(__name__).warning(
                "metrics_comparison: skipping unreadable run_type %r at %s: %s",
                run_type, sub, exc,
            )
            continue
        out[run_type] = [r.asDict() for r in reversed(rows)]
    return out


def write_excel_report(df: DataFrame, path: str, sheet: str = "report", max_rows: int = 100_000) -> bool:
    """S7: driver-side Excel presentation sink (match_labs.py:116-123
    — one sheet, header row frozen, autofilter over the data range).
    Uses xlsxwriter when present (byte-parity with the reference's
    writer); otherwise the stdlib OOXML codec (sources/xlsx.py) —
    same sheet shape, no dependency. Always a SMALL collected result:
    presentation is driver work, parquet is the data-scale sink."""
    pdf = df.limit(max_rows).toPandas()
    try:
        import pandas as pd
        import xlsxwriter  # noqa: F401

        with pd.ExcelWriter(path, engine="xlsxwriter") as xw:
            pdf.to_excel(xw, sheet_name=sheet, index=False)
            ws = xw.sheets[sheet]
            ws.freeze_panes(1, 0)
            ws.autofilter(0, 0, len(pdf), max(len(pdf.columns) - 1, 0))
        return True
    except ImportError:
        from .xlsx import write_xlsx

        rows = [tuple(None if pd_isna(v) else v for v in rec) for rec in pdf.itertuples(index=False)]
        write_xlsx(path, list(pdf.columns), rows, sheet=sheet)
        return True


def pd_isna(v: object) -> bool:
    import pandas as pd

    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    dedupe: bool = False,
    migrate_to_batch_layout: bool = False,
) -> int:
    """Small-files compaction — the maintenance op every append-mode
    parquet dataset (metrics log, streaming sinks, grown index tails)
    needs at scale: a file-per-trigger layout turns scans into
    open-file storms. Reads the dataset, repartitions to
    ceil(bytes/target), and swaps the rewrite in (write to
    ``path+'.compact.tmp'`` → move old aside → move new in → drop
    old).

    OFFLINE-ONLY: between the two renames the dataset path briefly
    does not exist, so run this with no concurrent readers or writers
    (stop the stream first) — it is the between-ingest-sessions
    maintenance job, not an online operation. Crash recovery is
    explicit and self-healing: a crash in the swap window strands the
    data at ``path+'.compact.old'``; the next call (or any caller
    invoking this function on the same path) restores it before
    compacting. Returns the new parquet file count.

    ``batch_id=N`` partition layouts (the streaming sinks' idempotent
    per-batch subdirs): every partition EXCEPT the highest batch id
    is merged into the reserved ``batch_id=-1`` partition; the
    highest partition is preserved file-for-file. The highest batch
    is the one the stream checkpoint may not have committed yet — if
    its rows were merged into -1, a post-crash replay of that batch
    would overwrite an empty ``batch_id=N`` while its previous
    attempt's rows survive in -1 (duplicates, and in the grown-index
    case self-matches, since the probe-side exclusion filters on the
    batch_id value). Later triggers keep adding partitions beside -1.

    ``migrate_to_batch_layout=True`` rewrites a FLAT (pre-batch-
    layout) dataset into the ``batch_id=-1`` partitioned form — the
    one-time migration a stream sink or grown index written by the
    old append-mode code needs before a new-style trigger may write
    beside it (a mixed flat+partitioned root is unreadable)."""
    import math
    import os
    import shutil

    from pyspark.sql import functions as SF

    tmp, old = path + ".compact.tmp", path + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)  # stale attempt
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)  # recover a crash mid-swap
    partitioned = os.path.isdir(path) and any(
        d.startswith("batch_id=") for d in os.listdir(path)
    )
    df = spark.read.parquet(path)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )
    n_parts = max(1, math.ceil(size / (target_mb * 1024 * 1024)))

    if partitioned:
        mx = df.agg(SF.max("batch_id")).first()[0]
        merged = df.filter(SF.col("batch_id") != mx).drop("batch_id")
        if dedupe:
            merged = merged.distinct()
        os.makedirs(tmp, exist_ok=True)
        shutil.copytree(
            os.path.join(path, f"batch_id={mx}"),
            os.path.join(tmp, f"batch_id={mx}"),
        )
        # append: when mx == -1 (already fully compacted) the copied
        # partition IS the -1 dir and `merged` is empty
        merged.repartition(n_parts).write.mode("append").parquet(
            os.path.join(tmp, "batch_id=-1")
        )
    else:
        if dedupe:
            df = df.distinct()
        dest = os.path.join(tmp, "batch_id=-1") if migrate_to_batch_layout else tmp
        df.repartition(n_parts).write.mode("overwrite").parquet(dest)

    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(
        1 for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def compact_grown_index(spark: SparkSession, grow_index_dir: str) -> dict[str, int]:
    """Compact a streaming near-dup grown-index tail
    (streaming/incremental.stream_neardup_against_index): each
    per-trigger ``batch_id=N`` partition adds a file set; this
    rewrites every relation's committed partitions into the reserved
    ``batch_id=-1`` partition while PRESERVING the highest batch
    partition (it may still be uncommitted in the stream checkpoint —
    see compact_parquet), and migrates pre-batch-layout flat tails
    into the partitioned form in the same pass. Run offline between
    ingest sessions (stream stopped — compact_parquet's offline-only
    contract), exactly like the 100 TB index-maintenance job the
    streaming docstring promises."""
    import os

    out = {}
    for name in ("bands", "shingles", "sizes"):
        p = os.path.join(grow_index_dir, name)
        if os.path.isdir(p):
            out[name] = compact_parquet(
                spark, p, dedupe=True, migrate_to_batch_layout=True
            )
    return out
