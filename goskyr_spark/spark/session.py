"""SparkSession factory with the engine's required settings."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(app="goskyr_spark", master=None, shuffle_partitions=None,
              extra_conf=None):
    """local[$SPARK_GRAFT_CPUS] by default; UTC session tz (date parity),
    AQE on (skew joins at scale), Arrow enabled."""
    # make the package importable in executor Python workers regardless of
    # the caller's cwd (equivalent of spark-submit --py-files for local mode)
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = SparkSession.builder.appName(app).master(master)
    for k, v in {**session_conf(master, shuffle_partitions),
                 **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def session_conf(master, shuffle_partitions):
    """The engine's Spark settings for `master`, as {key: value}."""
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # the crawl writes one table from both pyarrow (driver side of
        # the round plan) and Spark; pin Spark to pyarrow's INT64
        # microsecond timestamps instead of the legacy INT96 default
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # html-heavy tables: a 128 MB parquet split explodes to minutes of
        # kernel CPU — smaller input splits keep every core fed
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # write-path overhead: the crawl commits 4-5 snapshot appends
        # per round, so per-write committer fixed costs multiply.
        # _SUCCESS markers and parquet summary files are dead weight
        # under manifest-based tables (the manifest IS the commit), and
        # the v2 committer moves files once instead of twice. Measured:
        # 172 → 120 ms per small write.
        "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs":
            "false",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.hadoop.parquet.summary.metadata.level": "NONE",
    }
    # Python workers fork from a daemon that rereads a zip archive only
    # when it changed (pydaemon.py): ~0.2 s less per Python task. Only a
    # local master starts that daemon with the PYTHONPATH get_spark
    # exports; elsewhere --py-files reach the workers per task, too late.
    if re.fullmatch(r"local(\[.*\])?", master):
        conf["spark.python.daemon.module"] = "goskyr_spark.spark.pydaemon"
    return conf
