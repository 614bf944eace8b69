"""Fixture-table access.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet each under an sf dir. The engine
always goes through ``load`` so column pruning / predicate pushdown reach the
parquet scan (reading parquet declaratively is the Spark analog of the
reference's whole-file read + split at mapreduce.erl:41-43).
"""

from __future__ import annotations

import functools
import math
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# dimension tables small enough to broadcast at ANY scale factor (they grow
# sublinearly or not at all in TPC-H-style data): always broadcast-join these.
BROADCAST_DIMS = ("region", "nation", "supplier", "part")


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """Parse a Spark byte-size conf ('128m', '4194304', '1g', '134217728b')."""
    v = str(spark.conf.get(key, default)).strip().lower().removesuffix("b")
    if v and v[-1] in _SIZE_SUFFIX:
        return int(float(v[:-1]) * _SIZE_SUFFIX[v[-1]])
    return int(v)


def scan_parallel(df: DataFrame) -> DataFrame:
    """Restore full parallelism after a scan that arrived in fewer partitions
    than the cluster has cores — the case for any operator whose work is
    dominated by post-scan fan-out (explode to n-grams, per-vector math,
    media decode), where one input split would otherwise serialize the whole
    pipeline onto one task. At scale the scan already has >= cores partitions
    and this is a no-op, so the extra shuffle is paid exactly when it's
    cheap (input small) and never when it's expensive.

    The split count is ESTIMATED from the leaf files' sizes with the same
    arithmetic Spark's file-split planning uses (maxPartitionBytes +
    openCostInBytes) — pure driver-side metadata, no `df.rdd` hop (which
    would run full physical planning + RDD DAG construction per call: cheap
    on a fixture, a needless planning cost on a wide 100 TB plan). Callers
    only hand this narrow-over-file-scan inputs (post-shuffle inputs are
    already conf-sized — see _doc_gram_sets); fileless plans (in-memory
    relations in tests) and any metadata error fall back to the RDD path,
    where plans are local and planning is trivially cheap."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if files:
            max_part = _conf_bytes(
                spark, "spark.sql.files.maxPartitionBytes", "134217728"
            )
            open_cost = _conf_bytes(
                spark, "spark.sql.files.openCostInBytes", "4194304"
            )
            padded = sum(
                os.path.getsize(urlparse(f).path) + open_cost for f in files
            )
            est_splits = max(1, math.ceil(padded / max_part))
            return df.repartition(target) if est_splits < target else df
    except (OSError, ValueError):
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fingerprint(sf_dir: str, table: str):
    """Stat-based fingerprint of ``<sf_dir>/<table>.parquet`` (a file, or a
    directory of part files), or None when it cannot be stat'ed. Every
    cache derived from a table keys on it, so a table REWRITTEN at the same
    path misses the cache instead of serving stale state.

    Known limit: the fingerprint is size + mtime_ns, so a rewrite that
    preserves BOTH is indistinguishable. Hashing contents would re-read the
    table on every lookup, which defeats the caches; a pipeline that
    mutates tables in place should version paths instead.
    tests/test_ckpt_guard.py pins the size+mtime case."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            sts = [os.stat(os.path.join(p, e)) for e in sorted(os.listdir(p))]
            return (
                len(sts),
                sum(s.st_size for s in sts),
                max((s.st_mtime_ns for s in sts), default=0),
            )
        st = os.stat(p)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return None


@functools.lru_cache(maxsize=256)
def _inferred_schema(spark: SparkSession, path: str, fp) -> StructType:
    """The RAW schema parquet inference gives ``path``, once per (session,
    path, fingerprint): inference is a Spark job (a parallel footer read),
    and a known schema handed to spark.read.schema() starts none. One
    entry per table version; the parquet inference confs are taken as
    fixed for the life of a session."""
    return spark.read.parquet(path).schema


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    fp = fingerprint(sf_dir, name)
    if fp is None:
        # unreadable or non-local: uncacheable, let the reader raise or infer
        return spark.read.parquet(path)
    schema = _inferred_schema(spark, os.path.abspath(path), fp)
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    # The caller may hand us a vanilla session (the driver does). UTC
    # session tz is correctness-critical and runtime-settable, so pin it
    # here rather than only in our own session factory: timestamp→string
    # formatting must match the (naive/UTC) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Spark < 4.1 rejects parquet TIMESTAMP(NANOS) outright unless this
        # legacy conf is on (read as long of nanos); Spark 4.1+ ignores it
        # and reads NTZ natively — the type-adaptive branch below handles
        # both. Wrapped defensively: a future Spark may drop the conf key.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = _read_parquet(spark, sf_dir, name)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). How Spark surfaces it is
        # version-dependent: 4.1+ reads it natively as TIMESTAMP_NTZ
        # truncated to micros; older versions need
        # spark.sql.legacy.parquet.nanosAsLong=true and emit a long of
        # nanos. Normalize BOTH paths to a session-tz (UTC) TimestampType
        # truncated to micros — exactly DuckDB's value (integer division;
        # values are post-1970 so floor == trunc) — so every downstream
        # operator sees one stable type regardless of Spark version.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            # TIMESTAMP_NTZ → TIMESTAMP is a pure re-tag under UTC tz
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
