"""SparkSession factory.

Local test profile runs ``local[N]`` in one JVM; the same settings are
what we would ship to a 1000-executor cluster with only the
master/deploy bits swapped:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast conversion) — replaces every hand-tuned physical decision
  the reference hard-codes (map-only jobs at ``ALS/ALS.java:373,402``,
  DistributedCache broadcast at ``ALS/ALS.java:380-383``).
- Arrow on — all Pandas-UDF paths batch-transfer instead of per-row
  pickle.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-independent.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static value a ceiling, not a knob.
"""

from __future__ import annotations

import os

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "als_hadoop_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster, drop ``master`` and submit with ``spark-submit``; every
    other setting carries over unchanged.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # ``SPARK_GRAFT_MASTER=spark://host:7077`` swaps the deploy mode —
    # the standalone-cluster smoke (scripts/smoke_standalone.py) runs
    # the exact same session profile over real executor JVMs and
    # real-socket shuffle; everything below carries over unchanged.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long, sources.load() converts to µs timestamp
        # with exact integer arithmetic (matching DuckDB's ns→µs floor).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Range-exchange boundary quality (r11): repartitionByRange
        # draws its partition bounds from a per-partition reservoir
        # sample whose RNG seed incorporates the RDD id, so boundary
        # placement wobbles run-to-run with session history. At the
        # default 100 samples/partition the wobble is enough to smear a
        # z-ordered/clustered layout's per-file [min,max] by ±1 file
        # (observed: the zorder pruning gate flaked 5-of-8 vs 4-of-8
        # under AQE-induced RDD-id drift). 4x the sample pins the
        # bounds near exact quantiles; cost is a few thousand sampled
        # rows per exchange on the driver — noise at any scale, and at
        # 100 TB better bounds mean evenly-sized clustered files.
        .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "400")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def in_thread(spark: SparkSession, fn):
    """``fn`` wrapped for a pool thread so the Spark jobs it starts
    carry the calling thread's job group, description and tags, which
    pyspark pins to the thread that set them. Every engine
    ``ThreadPoolExecutor`` submits through this."""
    wrap = inheritable_thread_target(spark)
    # without pinned threads pyspark hands the session back unwrapped
    return fn if wrap is spark else wrap(fn)
