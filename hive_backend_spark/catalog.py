"""Table catalog: load the driver's parquet fixtures and register SQL views.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file/dir each under an sf dir.

``events`` stands in for the reference's ``updates`` queue table
(FIXTURES.md §B): id->event_id, created_at->ts, type/target_type->event_type,
priority ordering key -> coalesce(value, 0), content JSON -> props.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should sit on the broadcast side of every join
# at any realistic scale factor (SURVEY §2.3 J1/J2 are all dim lookups).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as TIMESTAMP(NANOS) in the fixture parquet. Spark reads
# them as long nanos (session conf nanosAsLong); we convert to timestamp by
# exact integer division to microseconds — the same ns->us truncation DuckDB
# applies, so oracle values match.
_NANO_TS_COLUMNS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in _NANO_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (idempotent).

    ``load_table`` also normalizes runtime confs (UTC session timezone etc.)
    so results are comparable with the DuckDB oracle regardless of who
    built the session.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def session_cached(cache: dict, spark: SparkSession, sf_dir: str, build):
    """The ``(applicationId, sf_dir)`` entry of a derived-table cache, made
    by ``build()`` on a miss. applicationId is stable per live session and
    never reused by a successor session the way id(spark) can be; entries
    of other (stopped) sessions are evicted on every lookup."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in cache if k[0] != app_id]:
        del cache[k]
    key = (app_id, sf_dir)
    if key not in cache:
        cache[key] = build()
    return cache[key]
