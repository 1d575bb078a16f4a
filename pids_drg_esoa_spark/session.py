"""SparkSession factory.

Defaults are tuned for the local[N] harness but every knob is the one
you would also set on a real cluster: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), Arrow on (pandas_udf fast
path), shuffle partitions sized to parallelism instead of the 200
default, UTC session timezone so timestamp semantics match the DuckDB
oracle and are cluster-stable.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


# Default driver heap as a share of host memory: in local mode the
# driver JVM is the whole engine, and its off-heap, metaspace and the
# Python workers need the rest (a fixed 24g heap on a 15 GiB host got
# the JVM OOM-killed at ~14.5 GB RSS).
_DRIVER_MEM_FRACTION = 0.5


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else ``_DRIVER_MEM_FRACTION``
    of the host's MemTotal (8g where /proc/meminfo is unavailable)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "8g"
    return f"{int(kb * _DRIVER_MEM_FRACTION) // 1024}m"


def get_spark(
    app_name: str = "pids-drg-esoa-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # warehouse for catalog tables; tmp by default so the repo
        # tree never collects one
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark-graft-warehouse"),
            ),
        )
        .config("spark.driver.memory", default_driver_memory())
        # Long-lived sessions (test suites, notebooks, services) leak
        # broadcast vars and shuffle state until a full GC lets the
        # ContextCleaner reap them; with a large heap that GC comes too
        # late and the JVM storms instead. Force a periodic GC so
        # cleanup is continuous — same knob you'd set on a shared
        # cluster driver.
        .config("spark.cleaner.periodicGC.interval", "3min")
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_parallelism(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` on ``cols`` to 2× the cluster
    parallelism, plus one when that equals
    ``spark.sql.shuffle.partitions``, so the CPU-heavy Python or
    per-row stage built on it runs wide. The engine's one width rule
    for small-bytes, high-CPU relations (deduped texts, distinct
    lookup keys, documents to shingle, k-means vectors): AQE coalesces
    partitions by shuffle bytes and cannot see Python CPU, so without
    an explicit count such a relation lands on one core.

    Why the plus one (probed on PySpark 4.1.2, ``local[4]``,
    ``shuffle.partitions=8``: 700 distinct strings, ``.distinct()``,
    the pin, then an aggregate): ``repartition(n, col)`` ran on 4, 1, 9
    and 16 partitions for n = 4, 8, 9 and 16. At n ==
    shuffle.partitions Spark drops the repartition as already satisfied
    by the distinct's own exchange, and AQE then coalesces that
    exchange. With ``shuffle.partitions=16``, a pin to max(2×
    parallelism, shuffle.partitions) = 16 after a ``.distinct()`` on
    its own key ran on 1 partition, where this rule's 8 held. Hashing
    on ``cols`` keeps row placement deterministic."""
    spark = df.sparkSession
    n = 2 * spark.sparkContext.defaultParallelism
    if n == int(spark.conf.get("spark.sql.shuffle.partitions")):
        n += 1
    return df.repartition(n, *[F.col(c) for c in cols])


def inherit_local_properties(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` made to run, in whatever thread calls it, with a copy of
    the calling thread's Spark local properties taken now: job group,
    description, job tags and scheduler pool. Without pinned thread
    mode (``PYSPARK_PIN_THREAD=false``) PySpark cannot carry them into
    another thread, and ``fn`` is returned as it is."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def run_concurrently(spark: SparkSession, *fns: Callable[[], Any]) -> list:
    """Run each of ``fns`` in its own driver thread (Spark schedules
    jobs from several threads) and return their results in order. Once
    all have ended, the failure of the earliest failing ``fn`` in
    argument order is re-raised. Each thread carries the caller's Spark
    local properties (``inherit_local_properties``). Each gets its own
    wrapper, because the threads running one wrapper share its copy of
    the properties, and every SQL execution writes its execution id
    there."""
    with ThreadPoolExecutor(max_workers=len(fns)) as ex:
        futures = [ex.submit(inherit_local_properties(spark, fn)) for fn in fns]
        return [f.result() for f in futures]
