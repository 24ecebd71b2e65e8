"""SparkSession factory with scale-oriented defaults.

These configs are what we would ship to a 1000-executor cluster; locally they
run on ``local[N]``. Rationale per key:

- AQE on + skew-join on: runtime re-planning for the hot-entity skew the
  reference exhibits ('Disease' appears 80,133x across 62,620 alerts —
  /root/reference output/promed_ner_stats.tsv).
- Arrow enabled + sized batches: every Python-side operator in this engine is
  a pandas/Arrow UDF (no per-row Python anywhere).
- shuffle partitions default 32 locally; at cluster scale this is set to
  ~2-3x total cores via spark-submit conf, and AQE coalesces.
- driver heap sized from the host (driver_memory): a heap larger than the
  machine lets GC put off collection until the kernel OOM-kills the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory
    in whole GiB, at least 1g and at most 24g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(1, (phys // 2) >> 30))}g"


def get_spark(
    app_name: str = "outbreak_kg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
