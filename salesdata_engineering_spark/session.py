"""SparkSession builder tuned for this engine.

The reference builds a bare local session with default configs
(`src/main/utility/spark_session.py:10-13` in /root/reference). We instead
pin the settings that matter for correctness parity and for scale:

- ``spark.sql.session.timeZone=UTC``: parquet timestamps must render
  identically in Spark and the DuckDB oracle (DuckDB is UTC-naive).
- AQE on (+ partition coalescing + skew-join splitting): at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from runtime stats.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this should be ~2-3x total cores or driven by
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (AQE coalescing
  makes the static number much less sensitive).
- Arrow enabled so any Pandas-UDF extension operators move data in
  vectorized batches instead of pickled rows.
- ``spark.sql.codegen.cache.maxEntries`` raised from Spark's 100 to
  :data:`CODEGEN_CACHE_ENTRIES`. A batch ETL cycle (load, incremental
  reload, full rebuild) compiles ~160-190 distinct classes, so at 100 the
  LRU evicted each class before its next use: every warm cycle
  recompiled ~165 classes with Janino, and the JIT started each fresh
  class over from the interpreter. Sized to the working set, a warm pass
  compiles nothing (``tests/test_codegen_cache.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Capacity of Spark's compiled-class cache (a static conf: it binds when
#: the JVM's first session starts). A cold pass over all 324 registry
#: queries at sf0.001 compiles 4,922 distinct classes; later passes add
#: 448, then ~150 per pass, from the few queries whose generated code
#: changes between runs and is never reused. 8192 holds the working set
#: plus that churn with headroom, so a long-lived session running the
#: whole surface stops recompiling, while the cache stays bounded: that
#: run ended with 255 MB of Metaspace and ~167 MB of JIT code cache.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "salesdata-engineering-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so bench.py and the
    driver agree on the core count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else max(os.cpu_count() or 8, 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE keep small shuffles wide enough to use every core:
        # the 1 MiB default floor coalesces CPU-bound stages over small
        # inputs down to 1-2 tasks. At scale the 64 MiB advisory target
        # governs; this floor only binds on small/local data.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The testdata parquet carries INT64 TIMESTAMP(NANOS,...) which Spark
        # rejects by default; read as long and convert in datasets.load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count; it is updated
    with the UI and metrics sinks disabled). A cache hit compiles
    nothing, so the difference across a rerun counts its recompiles."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
