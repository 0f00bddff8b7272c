"""SparkSession factory with scale-oriented defaults.

The reference tunes SQLite with WAL + synchronous=NORMAL + temp_store=MEMORY
(db.mjs:5-14). The Spark analog is session-level configuration: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF path, and shuffle partitioning sized for the active deployment.

Local testing runs on ``local[N]``; the same builder settings are what we
would ship to a 1000-executor cluster — only ``master`` and the partition
counts change (see the sizing notes above ``DEFAULT_CONFS``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition sizing rationale (100 TB posture):
#   - spark.sql.shuffle.partitions: on a real cluster set it per
#     deployment to max(2x total executor cores, largest shuffle input /
#     128 MB), so every core is busy and no partition sorts more than
#     ~128 MB; AQE coalesces the excess. Locally 32 matches local[32].
#   - files.maxPartitionBytes 128m keeps scan tasks memory-bounded.
#   - autoBroadcastJoinThreshold 64m: the dimension tables here (region,
#     nation, customer, supplier, part at any realistic SF) are the
#     broadcast side of every join in SURVEY §2.3.
DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # The driver's events.parquet stores ts as TIMESTAMP(NANOS), which Spark
    # cannot read natively; read as long nanos, catalog.py converts to
    # timestamp (exact integer div — never float division at 1e18 scale).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Load parquet timestamps as TIMESTAMP (LTZ; session tz is UTC), not
    # TIMESTAMP_NTZ — keeps unix_micros/unix_timestamp applicable and collects
    # identically to DuckDB's naive reading.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ICU case mappings (Spark 4 default) lazily build full-Unicode case
    # tables on the first lower()/upper() inside a task — observed 55+ s of
    # CPU in CollationAwareUTF8String.<clinit>, nondeterministically. The JVM
    # path is semantically identical for ASCII corpora and matches DuckDB.
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # localCheckpoint of a wide cached table ships task results through the
    # driver's result-size accounting; the 1 GiB default aborted a 63-task
    # checkpoint at the 32x scale point. 4 GiB is comfortable inside the
    # 8 GiB driver heap and changes nothing else.
    "spark.driver.maxResultSize": "4g",
}


# Repo root (the directory containing this package). Python workers are
# separate processes that do NOT inherit the driver's sys.path mutations, so
# any pandas-UDF defined in this package fails to unpickle on a worker unless
# the root is on the workers' PYTHONPATH. Harmless when the package is
# pip-installed (site-packages is on every path already); load-bearing when
# run from a checkout with a different cwd.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepend_pythonpath(env: dict[str, str]) -> None:
    parts = env.get("PYTHONPATH", "").split(os.pathsep)
    if _REPO_ROOT not in parts:
        env["PYTHONPATH"] = os.pathsep.join([_REPO_ROOT] + [p for p in parts if p])


def get_spark(app_name: str = "hive-backend-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    _prepend_pythonpath(os.environ)  # before JVM launch: workers inherit it
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_runtime_confs(spark)
    return spark


# Conf keys that are settable on a live session. When the driver hands us an
# externally-built SparkSession (``__spark_entry__.entry``/``queries``), we
# can still enforce these; static confs (driver memory, UI) we cannot.
_RUNTIME_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.icu.caseMappings.enabled",
)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Timezone=UTC is load-bearing for correctness: the DuckDB oracle reads
    parquet timestamps as naive UTC, so Spark must collect them the same way.

    Also threads the repo root into the Python-worker environment
    (``sc.environment`` is snapshotted into every subsequently-created
    Python UDF), so pandas UDFs from this package unpickle on workers even
    when the session was built externally with a different cwd.
    """
    for k in _RUNTIME_CONFS:
        spark.conf.set(k, DEFAULT_CONFS[k])
    _prepend_pythonpath(os.environ)
    _prepend_pythonpath(spark.sparkContext.environment)
    return spark
