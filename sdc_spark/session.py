"""SparkSession construction tuned for this engine.

Local test mode runs ``local[N]`` (single JVM); the configuration is chosen
so the *same plans* scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection).
- Arrow on for every pandas-UDF / toPandas boundary.
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics match the
  DuckDB correctness oracle (naive-UTC).
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the static number far less critical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] and N shuffle partitions; defaults to the host's core count
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def get_spark(
    app_name: str = "sdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster pass ``master=None`` and submit with ``spark-submit``;
    locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = int(DEFAULT_CPUS)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
        # no console progress bar: \r redraw spam interleaves with the
        # one-line JSON contracts (bench.py) and gate logs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # "RDD n was locally checkpointed, its lineage has been truncated and
    # cannot be recomputed after unpersisting" is logged every time
    # unmaterialize releases a localCheckpoint frame — the intended life
    # cycle, so only that logger is raised to ERROR
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
    data_tb: float = 100.0,
) -> dict[str, str]:
    """The knob set for running these plans on a real cluster at ~100 TB —
    pass as ``extra_conf`` to get_spark (or to spark-submit). Values are
    derived, not magic:

    - shuffle partitions ≈ max(total-cores, data / target-partition-size):
      every shuffled partition lands ≈ target_partition_mb, comfortably
      inside executor memory, while never leaving cores idle. AQE then
      coalesces small stages down, so oversizing is cheap.
    - maxPartitionBytes bounds scan-side partitions the same way.
    - advisoryPartitionSizeInBytes steers AQE's coalescing/skew-split to
      the same target so pre- and post-shuffle sizing agree.
    - broadcast threshold stays 64 MB: every dimension table in the plan
      set fits; 100 TB fact sides never qualify, so no accidental
      broadcast of a fact.
    - Kryo + shuffle compression are the standard wide-shuffle wins.
    """
    total_cores = executors * cores_per_executor
    by_size = int(data_tb * 1024 * 1024 / target_partition_mb)
    parts = max(total_cores, by_size)
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(parts),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.shuffle.compress": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
