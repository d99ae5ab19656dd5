"""SparkSession factory tuned for the engine.

The reference builds its session ad hoc per container
(reference spark_consumer.py:13-18: jars for Kafka/Postgres, nothing
else).  Here the session is a single factory with scale-aware defaults:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  runtime broadcast demotion/promotion) — on a 1000-executor cluster
  this is what keeps a 100 TB shuffle from producing 200 uniform-sized
  reducers or one 2 TB straggler.
- `spark.sql.shuffle.partitions` sized to the parallelism at hand
  (cores locally; on a real cluster callers pass ~2-3x total cores).
- Arrow enabled so any Pandas-UDF fallback pays a columnar batch
  transfer, not per-row pickling.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) and are stable across machines.
- The package's directory on the Python workers' path, so UDF bodies
  pickled by reference import wherever the driver was started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "nyc_data_pipeline_spark"

# The directory holding the package: Python workers import it to
# unpickle UDF bodies defined at module level.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Size the local-mode driver heap from detected system RAM.

    Local mode runs every executor thread inside the driver JVM, so the
    heap must be sized like the whole cluster's executor memory — but a
    fixed large default would fail JVM startup on small hosts.  Take
    ~60% of physical RAM, floored at 4g (below that Spark local mode
    thrashes anyway) and capped at 24g (measured sweet spot for 32
    threads; see commit history / SCALE.md §6)."""
    try:
        total_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / (
            1 << 30
        )
    except (AttributeError, ValueError, OSError):
        total_gib = 16.0
    return f"{max(4, min(24, int(total_gib * 0.6)))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local mode is one JVM with `cpus` executor threads; on a cluster the
    same config block applies unchanged — only `master` differs.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", min(os.cpu_count() or 4, 32)))
    if shuffle_partitions is None:
        # Local rule of thumb: one shuffle partition per core. On a real
        # cluster this should be ~2-3x total executor cores (AQE coalesces
        # down, it never splits up a too-small setting).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a planned sort-merge join to a shuffled hash
        # join when EVERY post-shuffle partition of the build side is
        # under the advisory partition size (64 MB, the AQE coalescing
        # target): the sort pass disappears for dimension-sized and
        # intermediate joins while anything bigger keeps the spilling
        # SMJ — the runtime-gated, scale-safe form of the guide's
        # preferSortMergeJoin=false.  Measured r15 (interleaved
        # same-session A/B at sf0.1): -9% across the shuffle-join
        # queries, sql_recursive_hierarchy 4.1 s -> 3.0 s, no query
        # outside noise in the other direction.  Default is 0 (off).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Dims (region/nation/supplier/part at warehouse scale) stay well
        # under this; broadcasting them removes the shuffle entirely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local mode runs ALL executor threads inside the driver JVM, so
        # this is the whole cluster's memory: with 32 task threads an 8g
        # heap thrashes GC under shuffle+broadcast pressure (measured:
        # heavy queries degrade 2-10x erratically late in a long
        # session).  Sized from system RAM (floor 4g / cap 24g) so the
        # JVM still starts on small hosts; on a real cluster this knob
        # moves to executor.memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Workers unpickle module-level UDF bodies (mapInPandas batch
        # functions) by importing the package; a driver started outside
        # the repository without PYTHONPATH would otherwise fail inside
        # the worker.  Spark merges this with its own and the environment's
        # PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
