"""SparkSession factory.

Reference builds an ad-hoc ``local[*]`` session per Airflow task
(``dags/etl_spark_historical.py:170-175``). Here one factory owns every
scale-relevant knob so plans behave the same from pytest to a real cluster:

- UTC session timezone — the reference stores TIMESTAMP_NTZ everywhere
  (naive timestamps); UTC makes Spark's timestamp arithmetic match the
  naive semantics of the DuckDB oracle and of Snowflake NTZ.
- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB the static shuffle-partition count is always wrong; AQE
  re-plans from runtime statistics.
- Arrow enabled — every Python-boundary crossing (pandas UDFs,
  ``toPandas``) is Arrow-batched, never row-at-a-time pickling.
- Codegen cache sized to the engine's working set. Spark keeps the
  Janino-compiled class of each distinct generated source in one
  JVM-wide LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries
  (default 100). One pass of the benchmark's four curate queries has
  about 170 distinct sources, so at the default every repeat of the pass
  recompiled about 160 classes on the driver (and the JIT compiled them
  again). Running all 330 registry queries once in one process at sf0.01
  on local[4] compiles 5,877 distinct sources and grows used metaspace
  from 81 to 270 MB (about 32 KB per class).
  :data:`CODEGEN_CACHE_MAX_ENTRIES` is 8,192: about 40% headroom over
  that sweep for plans that differ at other scales (AQE join and
  partition choices), and a bound of about 270 MB on the metaspace the
  cached classes can hold. Only compiled code is kept across queries,
  like a database's compiled-plan cache; no result, data or plan is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_MAX_ENTRIES = 8192


def get_spark(
    app_name: str = "nyc-taxi-dw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-partition CACHED plan output too (default false).
        # persist() otherwise pins the InMemoryRelation at the static
        # shuffle-partition count, so every persisted KB-scale frame
        # (signatures, truth sets, store snapshots) materializes 32
        # partitions and every downstream stage pays 32 near-empty
        # tasks — measured 2.1 s → 1.0 s on the ingest-dedup near leg
        # alone (guide §2.2: fewer, larger partitions; the setting is
        # scale-adaptive by construction — big caches keep their
        # parallelism, only runtime-small ones coalesce).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    return builder.getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-created session.

    The correctness driver hands us its own SparkSession; timestamp
    semantics (naive/UTC) and AQE must hold there too. Only
    runtime-mutable keys belong here. The codegen cache size is a static
    conf read once per JVM, so it is not set here: a session the driver
    creates itself keeps Spark's 100-entry default, which changes speed
    only, never results.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    except Exception:
        pass  # static on some builds; only affects cached-plan task counts
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long (ns) and convert in load_tables.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS)),
        )
    except Exception:
        pass  # not runtime-settable on some builds; AQE coalescing covers it
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has made so far (codegen-cache misses).

    A delta of this count around a query is the number of classes the
    query had to compile; it is 0 when every generated source hit the
    cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
