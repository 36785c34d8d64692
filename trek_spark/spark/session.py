"""SparkSession factory tuned for the extraction workload.

Defaults encode the scale decisions from SURVEY.md §4: Arrow-batched Python
exchange with bounded batch sizes (HTML payloads are large — a 10k-row Arrow
batch of 500KB docs would be 5GB), AQE for runtime re-planning including skew
joins, and an explicit shuffle-partition count sized for the local harness
(override via spark.sql.shuffle.partitions on a real cluster).

On ``local*`` masters the Python workers start through
``trek_spark.spark.daemon``, which loads pyspark and py4j from an installed
copy's bytecode instead of compiling ``$SPARK_HOME``'s source zips, saving
about 1.5 s of every session's set-up (perfbench ``setup_s``, 4-core host).
The package's import root is put on the workers' ``PYTHONPATH`` so the
daemon module is found at start, also when the package ships as a
``--py-files`` zip.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

import trek_spark


def _launch_conf() -> SparkConf | None:
    """The conf spark-submit started this driver's JVM with, or ``None``
    when no JVM was launched for it (a plain ``python`` driver)."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf()


def _worker_pythonpath(launch: SparkConf | None) -> str:
    """The launch conf's executor ``PYTHONPATH`` with the directory or
    ``--py-files`` zip this package was imported from appended."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(trek_spark.__file__)))
    given = launch.get("spark.executorEnv.PYTHONPATH", "") if launch else ""
    entries = [e for e in given.split(os.pathsep) if e]
    return os.pathsep.join(entries if root in entries else entries + [root])


def get_spark(app_name: str = "trek-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Master: ``master=``, then ``$SPARK_GRAFT_MASTER``, then
    spark-submit's ``--master``, then ``local[$SPARK_GRAFT_CPUS or 32]``."""
    launch = _launch_conf()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") \
        or (launch.get("spark.master", None) if launch else None) \
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML payloads are large; keep Arrow batches ~tens of MB, not GB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # 256 rows of multi-MB documents can still exceed Arrow's 2 GiB
        # 32-bit string-offset limit — use 64-bit (large) var types.
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        # zstd over snappy: ~30% smaller tables at equal read speed — at
        # 100 TB of extracted text that is tens of TB of storage/IO.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Workers share this filesystem, so they can load what it has.
        builder = (
            builder.config("spark.python.daemon.module", "trek_spark.spark.daemon")
            .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath(launch))
        )
    return builder.getOrCreate()
