"""SparkSession factory tuned for this engine.

Local mode mirrors the test rig (local[32], single JVM); on a real cluster the
same confs apply unchanged — AQE for runtime re-planning/skew handling, Arrow
for the pandas-UDF hot paths, UTC session time so timestamp semantics match
the (naive-UTC) parquet test data and any SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for 100 TB-scale behavior, not just local tests:
#  - AQE coalesces small shuffle partitions and splits skewed ones at runtime,
#    so a static shuffle.partitions misestimate is self-correcting.
#  - autoBroadcastJoinThreshold stays at default (10 MB); dimension tables
#    (region/nation/supplier/part at any SF) broadcast automatically.
#  - maxPartitionBytes 128 MB keeps scan tasks right-sized for wide clusters.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # test parquet carries TIMESTAMP(NANOS) which Spark has no native type
    # for; read as long and convert at the source (schemas.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.ui.enabled": "false",
    # r16 negative result, kept for the record: preferSortMergeJoin=false
    # (guide §3.1 — allow shuffled-hash joins) looked like a ~20% win on
    # a whole-set A/B at sf0.1, but a per-row INTERLEAVED re-measure
    # (best-of-3 min over two passes per mode, 14 join-bearing rows)
    # read the deltas as ±0.1-0.3 s noise summing to ~zero — the
    # whole-set "win" was session-order drift on this host. Default kept.
    # spark.sql.shuffle.partitions stays a conf, not a constant tuned to
    # this box: default 32 locally (AQE coalescing makes the exact value
    # non-critical), overridable via SPARK_GRAFT_SHUFFLE_PARTITIONS for
    # cluster deployments where the right figure is sized to data volume.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


def _driver_memory(phys_bytes: int | None = None) -> str:
    """Local-mode driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    48g capped at half of physical memory. An uncapped 48g heap on a
    15 GB host grew until the kernel OOM-killed the JVM; the other half
    is left to the Python workers, off-heap buffers and the page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "building_a_rag_pipeline_with_airflow_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real deployment the master
    comes from spark-submit and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
        # local mode = driver-only: the driver heap IS executor memory.
        builder = builder.config("spark.driver.memory", _driver_memory())
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
