"""Parquet table loading + temp-view registration.

The reference's only data abstraction is "a table addressed by path"
(reference backend/main.py:209-218, iceberg_scan by s3:// path). Here the
same idea over the driver fixtures: a directory holds one parquet file per
table; ``load_table`` reads one, ``register_views`` exposes them all to
``spark.sql``.

Scale notes: ``spark.read.parquet`` is a DSv2 columnar scan — column pruning
and predicate pushdown reach the parquet footers for free as long as queries
stay declarative. Nothing here collects to the driver.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable SQL confs every query depends on, applied defensively so
# the engine behaves identically under a caller-provided SparkSession (the
# driver smoke-checks entry(spark) with its own session, which won't have
# our session-factory defaults).
_REQUIRED_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive parquet timestamps (isAdjustedToUTC=false) must read as plain
    # TIMESTAMP, not TIMESTAMP_NTZ: the raw stored micros are then the epoch
    # value directly (session tz pinned UTC above), matching DuckDB's naive
    # interpretation, and chrono functions like unix_micros() stay valid.
    # Driver-side conversion (collect()/isoformat) uses the driver OS tz,
    # so _pin_driver_utc() below pins TZ=UTC process-wide as well.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


_DRIVER_TZ_PINNED = False


def _pin_driver_utc() -> None:
    """Pin the DRIVER process timezone to UTC (once).

    ``collect()`` converts TIMESTAMP (LTZ) values to Python datetimes using
    the driver OS timezone, NOT spark.sql.session.timeZone — on a non-UTC
    driver the collected/JSON output would shift relative to the raw epoch
    micros the UTC session tz guarantees executor-side (ADVICE r03). A
    process-global mutation, but one the engine's wall-to-wall UTC
    semantics depend on; documented here and in session.get_spark.
    """
    global _DRIVER_TZ_PINNED
    if _DRIVER_TZ_PINNED:
        return
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        try:
            import time

            time.tzset()
        except AttributeError:
            pass  # tzset is POSIX-only; on Windows TZ env alone applies
    _DRIVER_TZ_PINNED = True


def ensure_runtime_conf(spark: SparkSession) -> None:
    _pin_driver_utc()
    for k, v in _REQUIRED_RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; reads may still work
    ensure_package_shipped(spark)


_SHIPPED_CONTEXTS: set[int] = set()
_SHIP_LOCK = threading.Lock()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship ``cloudfloe_spark`` to Python workers via ``addPyFile``.

    Closures referencing this package pickle BY REFERENCE (cloudpickle
    only serializes ``__main__`` functions by value), so executors must be
    able to import it. A caller-provided SparkSession (the driver harness,
    a notebook, a real cluster) won't have the repo on the workers'
    PYTHONPATH — this makes every query self-sufficient regardless of
    deployment layout.

    Concurrent first calls (service request threads) serialize on a lock:
    a second writer rewriting the zip after Spark registered it would
    make every later task fail with "exists and does not match
    contents". Already-shipped contexts return before the lock."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    import tempfile
    import zipfile

    with _SHIP_LOCK:
        if key in _SHIPPED_CONTEXTS:
            return
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zpath = os.path.join(
            tempfile.gettempdir(), f"cloudfloe_spark_pkg_{os.getpid()}.zip"
        )
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirnames, filenames in os.walk(
                os.path.join(pkg_root, "cloudfloe_spark")
            ):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, pkg_root))
        try:
            sc.addPyFile(zpath)
        except Exception:
            pass  # e.g. late addition disallowed; per-closure self-containment
        _SHIPPED_CONTEXTS.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark has no type for
    (read as long via spark.sql.legacy.parquet.nanosAsLong) — convert to a
    microsecond timestamp here, matching DuckDB's own ns→µs truncation so
    oracle comparisons see identical values.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition before a CPU-heavy per-row projection (hashing, vector
    math). Parquet scans of small files arrive in few partitions; an
    embarrassingly-parallel expensive projection should use every core.
    One round-robin shuffle of the (narrow) input — at scale the input is
    already many partitions and this becomes a no-op-sized decision the
    caller can skip via partitions=None heuristics."""
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= partitions:
        return df
    return df.repartition(partitions)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (idempotent)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
