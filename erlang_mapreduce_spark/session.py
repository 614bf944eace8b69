"""SparkSession factory tuned for the engine.

The reference hard-codes its "cluster config" (26 mappers / 26 reducers,
random placement — mapreduce.erl:85-93, :149-155). We instead centralize a
session factory whose defaults are chosen for scale-out behavior:

- AQE on (runtime coalescing, skew-join splitting, join-strategy switch) —
  the antidote to the reference's fixed 26-way first-letter partitioning,
  which is a skew object lesson (SURVEY.md §4.3).
- shuffle.partitions sized by env (local test default 32 = driver local[32];
  on a real cluster this is overridden or left to AQE's coalescing).
- UTC session timezone so timestamp semantics are stable across engines.
- Arrow enabled for any pandas-UDF path (the only sanctioned Python hot path).
- Python workers forked from the engine's own daemon
  (``worker_daemon``): each worker inherits the imported package and a
  stat-checked zipimport cache invalidation, so no worker imports the
  package itself and no task re-reads ``pyspark.zip``'s directory.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's partition coalescing is BYTE-based, but the text/gram/sketch
    # ops are CPU-heavy per byte: a 5k-doc fixture shuffle is ~1 MB, which
    # default coalescing (minPartitionSize=1m) folds into ONE partition —
    # serializing interpreted gram builds and Arrow UDF signature math on
    # a single core (measured: dedup_minhash's whole post-rep pipeline ran
    # 1-task). A 32k floor keeps ~20-30 tasks on fixture-sized shuffles
    # while being invisible at scale, where every partition is megabytes.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "32k",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local-test sizing; a 1000-executor deployment overrides via spark-submit
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.parquet.compression.codec": "zstd",
    # driver fixtures carry TIMESTAMP(NANOS) (events.ts); read as long nanos
    # and convert in tables.load (Spark has no ns timestamp type)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # stage-progress bars are console noise here (no interactive user) and
    # they flood the driver's ~2,000-char bench-stdout capture — BENCH_r03
    # lost its official JSON line to exactly that overflow
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": "-Dlog4j2.level=error",
    # the process that forks Python workers; every worker needs the package
    "spark.python.daemon.module": "erlang_mapreduce_spark.worker_daemon",
}


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for the duration of a block, restoring the
    caller's values (or unsetting keys the session never had) on exit,
    also when the block raises.

    Only executions that START inside the block see the scoped values:
    Spark snapshots the session conf when a query begins, so a lazily
    returned plan runs under whatever conf is live when it is forced.

    The values are session-global while the block runs, so this assumes
    one driving thread per session; concurrent drivers need separate
    sessions (``SparkSession.newSession()``)."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        # get(k) with no default falls back to Spark's BUILT-IN default
        # for known keys (it raises only for unknown ones), which would
        # make exit pin that default explicitly instead of unsetting —
        # masking any later session-level retuning. get(k, None) returns
        # None exactly when the session never set the key.
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            try:
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
            except Exception:
                pass


def get_spark(app_name: str = "erlang-mapreduce-spark") -> SparkSession:
    """Build (or fetch) the session. Idempotent: returns the active session
    if one exists (configs are builder-level, so they only apply on first
    creation — tests and the driver both rely on this)."""
    builder = SparkSession.builder.appName(app_name)
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and not os.environ.get("SPARK_MASTER_URL"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # local mode runs all 32 executor threads inside the DRIVER JVM,
        # whose default heap is 1g — at 10× the bench volume that thrashes
        # the GC (observed: GCLocker retry storms in the scaling probe).
        # Size it from the HOST (a quarter of physical RAM, capped at
        # 16g) — a hardcoded 16g would invite the OS OOM-killer on small
        # machines. On a real cluster the resource manager sets executor
        # memory and this branch never fires.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if mem is None:
            try:
                ram_gb = (
                    os.sysconf("SC_PAGE_SIZE")
                    * os.sysconf("SC_PHYS_PAGES")
                ) // (1 << 30)
                mem = f"{max(1, min(16, ram_gb // 4))}g"
            except (ValueError, OSError):
                mem = "4g"
        builder = builder.config("spark.driver.memory", mem)
        # local workers import the package from the driver's checkout,
        # whatever the working directory; Spark merges this into the
        # workers' path after its own pyspark entries
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
