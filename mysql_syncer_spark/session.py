"""SparkSession factory tuned for the CDC replay workload.

The reference sizes its pipeline by hand (iobuf.size, ringbuf.num,
dump.thread — /root/reference/etc/master.cf:42-56). Here the equivalents are
Spark confs: shuffle partitions sized to cores, AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the vectorized UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mysql_syncer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession; on a real cluster the same confs apply
    (minus ``master``) under ``spark-submit --py-files``.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to
    2×cores locally; on a 1000-executor cluster you would size it to
    ~2-3× total cores (AQE coalesces downward at runtime, so erring high
    is safe — erring low causes spills).
    """
    # UDF closures reference this package: executor python workers import
    # it via PYTHONPATH (they do not see driver sys.path mutations), so pin
    # the repo root before the session/workers spawn. On a real cluster
    # --py-files ships the zip instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )

    n = cores or os.cpu_count() or 8
    master = f"local[{cores}]" if cores else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # smaller input splits: the scan + map-side partial agg is the bulk
        # of CDC replay work; 128m splits under-parallelize medium files
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # Hadoop committer trims for the tables Spark itself writes (the
        # corpus sink; the pages sink writes its files from one
        # mapInArrow pass with pyarrow and runs no committer): no
        # _SUCCESS markers (the engine's own manifest is the commit
        # record), direct-rename committer v2, no parquet summary files.
        # On object storage you would swap these for a cloud-native
        # committer (magic/S3A), same motivation.
        .config("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("parquet.summary.metadata.level", "NONE")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
