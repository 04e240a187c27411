"""SparkSession factory tuned for the feature-engineering workload.

Defaults mirror what we would deploy on a multi-executor cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), Arrow
transfer for the pandas kernels, shuffle partitions scaled with cores.
On a real 1000-executor cluster the same settings apply with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` left at 128m so a 100 TB scan yields
~800k input splits.
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession

# Started by Spark as ``python -m <module>``; see _pydaemon.py.
DAEMON_MODULE = "openmldb_spark._pydaemon"


def _workers_import_engine(master: str) -> bool:
    """Whether the Python workers of a session started here can import
    this package before their first task, which the daemon needs (task
    includes such as ``--py-files`` reach a worker only with its task).
    True when this process launches the JVM (so the JVM inherits its cwd
    and PYTHONPATH), the workers run on this host (``local``/``local[N]``),
    and the package root is on a worker's start-up path: the cwd, which
    ``python -m`` puts first, a PYTHONPATH entry, or site-packages."""
    if ("PYSPARK_GATEWAY_PORT" in os.environ
            or not re.fullmatch(r"local(\[[^\]]*\])?", master)):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    return any(p and os.path.abspath(p) == root for p in paths)


def get_spark(
    app_name: str = "openmldb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N-ish shuffle partitions, from the N of the
        # ACTUAL master (an explicitly passed local[32] must not
        # inherit a stale SPARK_GRAFT_CPUS=8); clusters override
        # explicitly.
        lm = re.fullmatch(r"local\[(\d+|\*)\]", master)
        if lm and lm.group(1) != "*":
            n = int(lm.group(1))
        elif master.startswith("local"):
            n = cpus
        else:
            n = 2048
        shuffle_partitions = max(4, n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DataFrame call-site capture for error context costs py4j round
        # trips on every DataFrame/Column call (off, a serve request's plan
        # build measured ~950 instead of ~2,500), and the site it records
        # is inside the engine. Errors keep their class and message; they
        # lose only that call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if _workers_import_engine(master):
        # Python tasks stop re-reading pyspark.zip (see _pydaemon.py).
        b = b.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
