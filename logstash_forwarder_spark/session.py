"""SparkSession factory tuned for the pipeline.

Local-mode settings mirror what a 1000-executor cluster submit would set
per-executor: AQE on (runtime re-plan of shuffle partition counts and skew
splits), shuffle partitions sized to parallelism (not the 200 default),
Arrow enabled for the vectorized parse stage, UTC session timezone so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch per ~10k rows keeps the mapInArrow parse stage memory-flat
# even with 512-token rows (10k rows * 512 tok * 4 B ≈ 20 MiB per batch).
ARROW_BATCH_ROWS = 10_000


def get_spark(
    app_name: str = "logstash_forwarder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset) so the
    same code path serves tests, bench, and a real ``spark-submit`` (where
    ``master`` is supplied by the cluster manager and this arg stays None
    only if a session already exists).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism: a shuffle should produce ~1 partition per core
        # locally; on a real cluster submit this is overridden upward.
        n = master[len("local[") : -1] if master.startswith("local[") else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # snappy: token payloads are high-entropy ints — zstd buys ~2% size
        # for ~2× write CPU here; at 100 TB pick per-table codecs instead
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
