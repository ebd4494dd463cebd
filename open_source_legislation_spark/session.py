"""SparkSession factory with scale-oriented defaults.

The reference is a single-process Python loop (reference
``src/1_SCRAPE_TEMPLATE/2_scrape_regular.py:33-146``); our engine runs on a
multi-executor cluster, so the session is configured for Arrow transfer,
adaptive execution (AQE coalescing + skew-join splitting), and bounded
shuffle partitions. In the sandbox we run ``local[N]``; on a real cluster
the same builder is used by ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[32], 128 GiB). On a 1000-executor
# cluster, shuffle.partitions is overridden via spark-submit conf; AQE
# coalesces the rest.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast the canonical dictionary and small dims automatically.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # FAIR across on-demand pools: concurrent checkpoint buckets (and any
    # multi-threaded job submission) share executors instead of head-of-line
    # blocking behind the first bucket's stages.
    "spark.scheduler.mode": "FAIR",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    # Generated-class cache (Spark's default is 100). One kg build generates
    # ~100 distinct classes; a cold process running one build, the seven
    # kgbench contract_mix queries and a 4-bucket checkpointed build
    # compiles 222. At 100 each warm build re-compiled 42-71 evicted classes
    # with Janino and the JIT compiled them again. 1000 holds that working
    # set with headroom.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # The cache is keyed on the generated source. By default a whole-stage
    # class is named after its codegen stage id, which AQE assigns in the
    # order stages finish, so the same stage under another id missed the
    # cache (0-10 compiles per rebuild). Unnamed, a rebuild compiles 0.
    "spark.sql.codegen.useIdInClassName": "false",
    # PySpark 4 captures the Python call site on every wrapped DataFrame
    # call (~0.4 s of driver time per build); errors lose that context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "osl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    cluster it is supplied by spark-submit and this argument stays None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
