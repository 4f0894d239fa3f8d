"""SparkSession factory with scale-oriented defaults.

The reference creates a bare session (`etl.py:28`); we centralize the
configuration that matters at scale: AQE (runtime coalescing + skew-join
handling), Arrow for any Python exchange, explicit shuffle parallelism,
and a UTC session timezone so timestamp arithmetic is deterministic and
oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_total_kb() -> int | None:
    """``MemTotal`` from /proc/meminfo, in KiB; None where there is none."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def local_defaults() -> tuple[int, str]:
    """(cores, JVM heap) for a local session.

    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` when set; otherwise
    the CPUs this process may run on (its affinity mask, not the host's
    core count) and about 60 % of the host's memory, at least ``1g``:
    in local mode one JVM runs every task, and a heap larger than
    physical memory gets the process killed instead of spilling."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if not cpus:
        try:
            cpus = len(os.sched_getaffinity(0))
        except AttributeError:  # no affinity API (macOS)
            cpus = os.cpu_count() or 1
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        total_kb = _mem_total_kb() or 0
        mem = f"{max(1024, total_kb * 6 // 10 // 1024)}m"
    return int(cpus), mem


def get_spark(
    app_name: str = "udacity-capstone-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[<cores>]`` locally; on a real
    cluster callers pass ``master=None`` and set it via spark-submit.
    Cores and heap size come from `local_defaults`.
    """
    cpus, heap = local_defaults()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting, dynamic
        # join-strategy switching — essential at 100 TB where static plans
        # misestimate.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Runtime bloom-filter pruning (pinning the Spark 4 default ON,
        # explicitly, so a packaging change can't silently drop it):
        # when one side of a shuffle join is selectively filtered, a
        # bloom filter on the other side's scan keeps non-joining fact
        # rows out of the shuffle. Measured at sf0.1: disabling it
        # costs ~20% on analyst_top_segments / local_supplier_volume;
        # the relative win grows with data volume.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Arrow for pandas UDF / toPandas exchange (10-100x over pickle).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics (parquet ntz + window arithmetic).
        # Parquet INT64-nanos columns read natively as TIMESTAMP_NTZ on
        # Spark 4.1 (no nanosAsLong legacy flag — it is ignored at
        # runtime and would desync us from a vanilla driver session);
        # readers normalize NTZ/bigint to instants where watermarks
        # require them.
        .config("spark.sql.session.timeZone", "UTC")
        # Dims in this workload are small; let Catalyst broadcast generously.
        # The one broadcast ceiling: the planner, `maybe_broadcast`'s
        # hints and the plan linter's oversized-broadcast-hint rule all
        # read this value (`relational.broadcast_ceiling`).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # In local mode driver == executor: size the single JVM for the
        # host (default 1g OOMs immediately at any real scale). On a
        # cluster these are overridden by spark-submit.
        .config("spark.driver.memory", heap)
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_s3(
    spark: SparkSession,
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
) -> None:
    """Configure the hadoop-aws s3a connector (reference: S5,
    `etl.py:15-18` sets credentials via env vars before session start;
    the s3a filesystem also honors these at runtime). Credentials
    default to the standard AWS env vars / instance profile chain."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if access_key:
        conf.set("fs.s3a.access.key", access_key)
    if secret_key:
        conf.set("fs.s3a.secret.key", secret_key)
    if endpoint:
        conf.set("fs.s3a.endpoint", endpoint)
    conf.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")


class job_group:
    """Instrumentation scope (reference: C2, `etl.py:54,94,...` uses
    sc.setJobGroup('Read'/'Transform'/'DataQuality'/'Analysis'))."""

    def __init__(self, spark: SparkSession, group: str, description: str = ""):
        self.spark, self.group, self.description = spark, group, description

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.group, self.description)
        return self

    def __exit__(self, *exc):
        self.spark.sparkContext.setJobGroup("", "")
        return False
