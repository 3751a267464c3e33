"""SparkSession factory with scale-oriented defaults.

Configured for correctness-vs-oracle determinism (UTC session timezone,
LAST_WIN map-key dedup) and for large-cluster behavior (AQE with skew-join
handling, broadcast threshold, Arrow for the pandas-UDF path). On the test
rig this runs local[N]; on a real cluster the same confs apply per-executor.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, not just local tests:
# - AQE coalesces post-shuffle partitions and splits skewed ones at runtime,
#   so a static shuffle.partitions value only needs to be an upper bound.
# - autoBroadcastJoinThreshold 64m: dimension tables (region/nation/customer/
#   supplier/part at warehouse scale) broadcast instead of shuffling lineitem.
# - maxPartitionBytes 128m keeps scan partitions executor-memory-friendly.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # map-family writes upsert qualifiers via map_concat (SURVEY §1.2)
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Hive-layout partition columns are STRINGS everywhere: Spark's
    # default discovery infers int/date/timestamp from numeric-looking
    # path values, which would disagree with both the CLI's footer-only
    # layout validator (cli._layout_from_parquet types synthesized
    # partition columns pa.string()) and the DuckDB oracle
    # (hive_types_autocast=false). One explicit choice, three layers.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Python-worker reuse ON (r15 — back to the Spark default): the
    # poisoned-pool hazard that disabled it (a thread-INTERRUPTED freshen
    # killed Arrow workers mid-protocol and the pool handed them to later
    # pandas stages — CancelledKeyException) was scoped to
    # freshen_with_timeout's interruptOnCancel=True, which is gone. A
    # timed-out pandas producer now stops itself at its deadline and its
    # worker exits instead of returning to the pool; only a producer stuck
    # in native code still waits for PythonRunner's monitor thread to
    # destroy its worker (2 s poll + killTimeout), and the freshen drain
    # barrier covers both. Measured on the Arrow-heavy multimodal paths:
    # per-task forked workers cost 25-35% (module imports per fork),
    # worker reuse amortizes them per executor lifetime — at any scale,
    # not just locally.
    "spark.python.worker.reuse": "true",
    "spark.ui.enabled": "false",
    # saveAsTable targets (bucketed tables for co-located joins) go to a
    # temp warehouse, never the process cwd
    "spark.sql.warehouse.dir": os.path.join(
        tempfile.gettempdir(), "ksspark-warehouse"
    ),
}


_SHIPPED_SESSIONS: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``kiji_scoring_spark`` importable on executor Python workers.

    Pandas-UDF / mapInPandas closures are cloudpickled with references to
    their defining module, so workers must be able to import the package.
    When the driving process runs from outside the repo (as the harness
    does), the package dir is not on the workers' sys.path — shipping a
    zip via ``addPyFile`` fixes that on any cluster manager, not just
    local mode.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # fresh zip per process (mkdtemp): a cached zip would ship stale code
    zip_base = os.path.join(tempfile.mkdtemp(prefix="ksspark_"), "kiji_scoring_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Spark Connect: no sparkContext; workers share driver env
    _SHIPPED_SESSIONS.add(key)


def get_spark(
    app_name: str = "kiji-scoring-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). ``extra_conf`` overrides any default conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to a session we didn't
    build (e.g. the driver's harness session)."""
    for k, v in _DEFAULT_CONF.items():
        if k.startswith("spark.sql."):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # conf not runtime-settable in this deployment
    ship_package(spark)
    return spark
