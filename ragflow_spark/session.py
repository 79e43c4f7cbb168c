"""SparkSession factory tuned for the extraction workload.

Local mode is the sandbox proxy for a multi-executor cluster; the knobs below
are the ones that transfer to a real cluster (AQE, shuffle partitions sized to
cores, Arrow batching for pandas UDFs).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# sun_path holds 107 bytes plus NUL; Spark names each socket
# "/.<uuid4>.sock" (43 bytes) under its socket dir
_SOCKET_DIR_MAX = 107 - 43


def _socket_dir(conf: dict[str, str]) -> str | None:
    """A socket dir to set when the default one (the JVM's java.io.tmpdir,
    /tmp unless the driver's extraJavaOptions move it) is too long for an
    AF_UNIX path: session start would fail with "AF_UNIX path too long".
    None when the default fits or a dir is already configured."""
    if "spark.python.unix.domain.socket.dir" in conf:
        return None
    m = re.search(
        r"-Djava\.io\.tmpdir=(\S+)", conf.get("spark.driver.extraJavaOptions", "")
    )
    return "/tmp" if m and len(m.group(1)) > _SOCKET_DIR_MAX else None


def get_spark(
    cores: int | None = None,
    app_name: str = "ragflow_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to 2x cores — small enough to avoid tiny-task
    overhead locally, and AQE coalesces further at runtime. On a real cluster
    this would be sized to total executor cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    n = cores or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = 2 * n

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # extraction rows can be wide (a giant doc's span array); keep Arrow
        # batches bounded so executor memory stays flat at 100 TB scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # JVM <-> Python worker traffic over a Unix socket: on loopback TCP
        # back-to-back short tasks wait on delayed ACKs
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    conf = dict(extra_conf or {})
    sock_dir = _socket_dir(conf)
    if sock_dir:
        conf["spark.python.unix.domain.socket.dir"] = sock_dir
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the engine to executors (the --py-files contract): local[.] shares
    # one process tree but Python workers still resolve imports through the
    # shipped zip, so drivers running from any cwd behave like spark-submit
    from ragflow_spark.packaging import package_zip

    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in a reused session
    return spark
