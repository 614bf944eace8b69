"""True Structured Streaming operators (SURVEY.md §2.B: stream_watermark_late,
stream_stateful_dedup) — incremental execution with state, watermarks and
late-data handling, driven by a deterministic file-replay source.

The batch-checkable window semantics live in windows.py; these two ops are
about what ONLY the incremental engine does: advancing an event-time
watermark across micro-batches, dropping late rows, and evicting state.
They are rows-only for the driver (DuckDB has no streaming semantics);
tests/test_streaming.py pins their behavior (late rows dropped, duplicates
suppressed) against exact expectations.

Replay source: `events` is materialized once per sf into time-ordered
parquet chunks; readStream(maxFilesPerTrigger=1) turns each chunk into one
micro-batch, so the watermark advances chunk by chunk — deterministically,
because chunk boundaries are fixed quantiles of ts.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
import uuid
from typing import Callable, NamedTuple

import duckdb
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ckpt import scratch
from ..exact import md5_prefix_int
from ..operators.dedup import _doc_gram_sets_md5, _minhash_ctes, minhash_bands
from ..registry import query
from ..session import scoped_conf
from ..tables import fingerprint, load

CHUNK_ROOT = "/tmp/spark_graft_stream_chunks"

# Grace window before a superseded fingerprint's chunk dir is reclaimed:
# long enough for an in-flight replay (chunks replay in seconds) to drain,
# short enough that a rewritten-corpus leak is bounded to one window.
_PRUNE_GRACE_S = 600.0


def _chunk_ns(sf_dir: str, table: str) -> str:
    """Namespace (two nested path components) for the on-disk chunk cache:
    ``<leaf>-<md5(abspath, table)> / <md5(stat-fingerprint)>``, with the
    fingerprint DELEGATED to ``tables.fingerprint`` so a future
    tightening of the fingerprint (its known size+mtime limit) reaches
    this cache too. Keying by basename alone aliased two corpora sharing
    a leaf name, and a corpus regenerated in place kept serving the STALE
    chunks behind its .done sentinel (round-8 ADVICE).

    Superseded fingerprint dirs are PRUNED on entry: a corpus rewritten
    in place mints a new fingerprint every time, and without the sweep
    each rewrite leaked a full chunk set under CHUNK_ROOT for the
    machine's uptime. The sweep runs INSIDE the (abspath, table) group
    dir — distinct corpus paths occupy distinct groups whatever their
    leaf names (the digest, not the human-readable leaf prefix, is the
    key), so one corpus can never evict another's live cache; the only
    deletable state is an older fingerprint of the SAME path, which a
    concurrent reader could be replaying only if the corpus was rewritten
    mid-run — already undefined for that reader. The sweep is AGE-GATED,
    and the clock starts at SUPERSESSION, not at the dir's last write
    (round-11 ADVICE: gating on st_mtime alone deleted any dir built more
    than _PRUNE_GRACE_S ago the instant the corpus was rewritten — the
    grace only protected young dirs, and the round-9 FileNotFound race
    survived for old ones): the first sweep that sights a stale
    fingerprint dir drops a ``.superseded`` marker in it and skips; only
    a later sweep finding the marker older than _PRUNE_GRACE_S rmtrees.
    Every superseded dir therefore gets one full grace window measured
    from when it was first seen superseded, letting an in-flight replay
    drain, while in-place rewrites still reclaim space on the next entry
    after the window."""
    fp = fingerprint(sf_dir, table)
    gdisc = hashlib.md5(
        repr((os.path.abspath(sf_dir), table)).encode()
    ).hexdigest()[:12]
    group = f"{os.path.basename(os.path.normpath(sf_dir))}-{gdisc}"
    if fp is None:
        # missing/unreadable table: UNCACHEABLE — a per-call namespace,
        # never pruned-into, never sentinel-reused, so every error state
        # stays distinct and a table that appears later cannot inherit a
        # None-keyed chunk set (round-9 ADVICE). The build under it either
        # fails loudly on the absent parquet or serves this call only.
        return os.path.join(group, f"uncached-{uuid.uuid4().hex[:12]}")
    fdisc = hashlib.md5(repr(fp).encode()).hexdigest()[:12]
    gdir = os.path.join(CHUNK_ROOT, group)
    now = time.time()
    try:
        for stale in os.listdir(gdir):
            if stale == fdisc:
                continue
            p = os.path.join(gdir, stale)
            if not os.path.isdir(p):
                # plain-file leftover (e.g. a partially-failed rmtree): the
                # marker protocol can never reclaim it — os.stat(marker)
                # raises NotADirectoryError forever (round-12 ADVICE item
                # 5). Age-gate on the file's own mtime, then unlink.
                try:
                    if now - os.stat(p).st_mtime > _PRUNE_GRACE_S:
                        os.unlink(p)
                except OSError:
                    pass
                continue
            marker = os.path.join(p, ".superseded")
            try:
                if now - os.stat(marker).st_mtime > _PRUNE_GRACE_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                # first sighting since supersession: start the grace
                # clock NOW (never from the dir's build time) and skip
                try:
                    with open(marker, "w") as f:
                        f.write("grace clock: see _chunk_ns docstring")
                except OSError:
                    pass
    except OSError:
        pass
    return os.path.join(group, fdisc)

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# Chunked replay tables: table -> (select list, total replay order).
_CHUNK_TABLES = {
    "events": (
        "event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props",
        "ts, event_id",
    ),
    "documents": ("doc_id, text, lang, source, n_chars", "doc_id"),
}


def _materialize_chunks(sf_dir: str, mode: str) -> str:
    """Split a table into 4 quantile chunks of its total replay order,
    with strictly increasing mtimes so the file source replays them in
    order. Events modes: 'plain' is just the 4 in-order chunks; 'late'
    adds a 5th chunk re-sending the EARLIEST quartile with shifted ids
    (arrives after the watermark has passed → must be dropped); 'dup'
    adds a 5th chunk re-sending chunk 3 verbatim (duplicate event_ids
    within the watermark → must be suppressed by stateful dedup). Mode
    'docs' chunks documents by ascending doc_id: every id smaller than a
    given doc has already streamed by the time that doc arrives — the
    property stream_minhash_dedup's batch-equivalence argument rests on."""
    table = "documents" if mode == "docs" else "events"
    cols, order = _CHUNK_TABLES[table]
    d = os.path.join(CHUNK_ROOT, _chunk_ns(sf_dir, table), mode)
    sentinel = os.path.join(d, ".done")
    if os.path.exists(sentinel):
        return d
    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""CREATE TEMP TABLE t AS
            SELECT {cols}, ntile(4) OVER (ORDER BY {order}) AS q
            FROM '{sf_dir}/{table}.parquet'"""
    )
    chunks = [f"* EXCLUDE (q) FROM t WHERE q = {i}" for i in (1, 2, 3, 4)]
    if mode == "late":
        chunks.append(
            "* EXCLUDE (q) REPLACE (event_id + 10000000 AS event_id) "
            "FROM t WHERE q = 1"
        )
    elif mode == "dup":
        chunks.append(chunks[3])
    base = time.time() - 100
    for i, sel in enumerate(chunks):
        path = os.path.join(d, f"chunk_{i}.parquet")
        con.execute(
            f"COPY (SELECT {sel} ORDER BY {order}) "
            f"TO '{path}' (FORMAT PARQUET)"
        )
        os.utime(path, (base + i, base + i))
    con.close()
    with open(sentinel, "w") as f:
        f.write("ok")
    return d


# The shuffle width of a stateful streaming query is captured into its
# checkpoint at the first micro-batch and becomes the state-store layout:
# one store per partition per stateful operator, each committed every
# batch. A replay therefore runs at min(session width, defaultParallelism),
# and in local mode at most os.cpu_count() (local[N] counts threads, not
# cores): each micro-batch commits its stores in one task wave, and the
# layout still grows with the cluster. Results do not depend on the width
# (every op here is oracle-checked at any width).
def _replay_width(spark: SparkSession) -> int:
    """The shuffle width a replay runs at under the session's live conf."""
    sc = spark.sparkContext
    width = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        sc.defaultParallelism,
    )
    if sc.master.startswith("local"):
        width = min(width, os.cpu_count() or width)
    return width


# Replay checkpoints (offset WAL, commit log, state-store deltas) are
# written through the FileSystem API. The default FileContext manager, on a
# host without native libhadoop (pip PySpark ships none), shells out to
# chmod/stat for every checkpoint file. FileSystem-based writes are safe
# here: the checkpoint is a per-invocation local scratch dir with a single
# writer, and a local rename is atomic.
_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _replay(
    spark: SparkSession, src_dir: str, schema: T.StructType = _EVENT_SCHEMA
) -> DataFrame:
    """One-file-per-trigger streaming read of a replay chunk dir."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def _run_stream(
    spark: SparkSession,
    stream: DataFrame,
    base: str,
    output_mode: str = "append",
    sink: str | Callable[[DataFrame, int], None] = "memory",
) -> DataFrame | None:
    """The one drain: start ``stream`` with availableNow, checkpointing
    under the scratch dir ``base`` through ``_CHECKPOINT_MANAGER``, and
    await it at the replay shuffle width; the caller's confs are back on
    return or raise. ``sink`` is "memory" (returns the result table),
    "parquet" (files under ``base``, exactly-once through the
    ``_spark_metadata`` log; returns their committed read-back, valid
    while ``base`` lives) or a foreachBatch function (returns None)."""
    path = os.path.join(base, "data")
    name = "stream_" + re.sub(r"\W", "_", os.path.basename(base))
    w = (
        stream.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink == "parquet":
        w = w.format("parquet").option("path", path)
    else:
        w = w.format("memory").queryName(name)
    try:
        # held through awaitTermination: micro-batches plan and commit
        # while the query drains
        with scoped_conf(
            spark,
            {
                "spark.sql.shuffle.partitions": str(_replay_width(spark)),
                "spark.sql.streaming.checkpointFileManagerClass": (
                    _CHECKPOINT_MANAGER
                ),
            },
        ):
            w.start().awaitTermination()
        if sink == "parquet":
            return spark.read.schema(stream.schema).parquet(path)
        return spark.table(name) if sink == "memory" else None
    finally:
        # the returned plan holds the memory sink itself: dropping the
        # per-run view keeps finished runs from piling up in the catalog
        spark.catalog.dropTempView(name)


@query(
    "stream_watermark_late",
    oracle="""
WITH w AS (
    SELECT floor(epoch(ts) / 300) * 300 AS ws, count(*) AS cnt
    FROM events
    GROUP BY 1
),
m AS (SELECT epoch(max(ts)) - 1800 AS wm FROM events)
SELECT strftime(to_timestamp(w.ws), '%Y-%m-%d %H:%M:%S') AS win_start, cnt
FROM w, m
WHERE w.ws + 300 <= m.wm
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation with real late-data dropping: the
    replay source sends 4 in-order chunks, then re-sends the earliest
    quartile. By then the 30-minute watermark sits near end-of-stream, so
    every replayed row is late → dropped from the aggregation state.
    Output (append mode): only windows finalized by the watermark — counts
    exclude all late rows (pinned in tests/test_streaming.py).

    SQL-oracle-checkable even though it runs incrementally, by the same
    in-order-replay argument as stream_stream_join: replayed chunks arrive
    in event-time order, so (a) no on-time row is ever late (watermark
    lags the max ts already replayed), (b) every replayed chunk-4 row IS
    late (its quartile passed 30+ min of stream ago), and (c) append mode
    emits exactly the windows whose end ≤ final watermark = max(ts) −
    30 min. The oracle is that batch aggregation with that filter; the
    equality is additionally pinned as a batch-twin test in
    tests/test_streaming.py."""
    d = _materialize_chunks(sf_dir, "late")
    agg = (
        _replay(spark, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "cnt",
        )
    )
    with scratch(spark, sf_dir, "wm_late") as base:
        return _run_stream(spark, agg, base, "append")


@query(
    "stream_stateful_dedup",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dropDuplicates: the replay source re-sends the
    final quartile verbatim (duplicate event_ids, within the watermark).
    Dedup state suppresses them; watermark bounds the state store (at
    100 TB/day the watermark IS what makes streaming dedup feasible —
    unbounded key state otherwise grows forever).

    SQL-oracle-checkable: (event_id, ts) is unique in the source (checked
    by the batch-twin test), the re-sent rows are verbatim copies arriving
    within the watermark (so state suppresses every one), and no on-time
    row is dropped (in-order replay keeps the watermark behind every
    unseen ts) — the streaming output is therefore exactly the source
    projection."""
    d = _materialize_chunks(sf_dir, "dup")
    dedup = (
        _replay(spark, d)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id", "ts"])
        .select("event_id", "user_id", "event_type")
    )
    with scratch(spark, sf_dir, "dedup") as base:
        return _run_stream(spark, dedup, base, "append")


@query(
    "stream_custom_state",
    oracle="""
WITH ev AS (
    SELECT user_id, value, ntile(4) OVER (ORDER BY ts, event_id) AS q
    FROM events
),
batches AS (
    SELECT user_id, value, q AS b FROM ev
    UNION ALL
    SELECT user_id, value, 5 AS b FROM ev WHERE q = 4
),
per AS (
    -- coalesce: the engine side is a running ACCUMULATOR starting at 0
    -- that skips NULL values, so a (user, batch) whose values are all
    -- NULL contributes 0 — plain SQL SUM would yield NULL there and the
    -- cumulative window would emit NULL for all-NULL-so-far users
    SELECT user_id, b,
           count(*) AS c,
           coalesce(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)),
                    0) AS micros
    FROM batches GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(c) OVER (PARTITION BY user_id ORDER BY b) AS BIGINT)
           AS n_events,
       sum(micros) OVER (PARTITION BY user_id ORDER BY b) / 1000000.0
           AS sum_value
FROM per
""",
)
def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (event count, value sum) maintained in explicit group state across
    micro-batches — the escape hatch for stateful semantics the built-in
    windowed aggregates can't express (the generalization of the
    reference's per-reducer ETS accumulation loop, mapreduce.erl:232-255,
    which is likewise keyed mutable state fed by a stream of messages).
    Update-mode emission: one row per (user, batch-where-user-appeared);
    the running counts are cumulative, so the per-user MAX equals the batch
    groupBy total (pinned in tests/test_streaming.py). State is bounded by
    the user-key cardinality; production variants add a timeout to evict
    idle keys.

    SQL-oracle-checkable: the replay chunks are DuckDB ntile(4) quantiles
    plus a verbatim re-send of the last one (_materialize_chunks), so the
    oracle reconstructs the exact (user, micro-batch) emission grid with
    the same ntile and a cumulative window. The running sum accumulates
    per-value MICRO-units as integers, not floats — float addition is
    order-sensitive across batch boundaries and the two engines would
    disagree in the last ulp; integer micros make the cumulative sum
    exact and order-free. The micro conversion is floor(v·1e6 + 0.5) on
    BOTH sides (never each engine's round(): numpy rounds half-to-even,
    DuckDB half-away-from-zero — a half-tie value would silently diverge
    by one micro), and NULL values are skipped like the float sum the
    rewrite replaced (n_events still counts their rows). The accumulator
    STARTS AT ZERO: a user whose values so far are all NULL reports
    sum_value 0.0, not NULL — the oracle coalesces its per-batch sum to
    match (found by corpus fuzz: plain SQL SUM is NULL over an all-NULL
    group)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    d = _materialize_chunks(sf_dir, "dup")

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].dropna().to_numpy()
            micros += int(np.floor(v * 1_000_000.0 + 0.5).astype("int64").sum())
        state.update((n, micros))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [micros / 1_000_000.0],
            }
        )

    running = _replay(spark, d).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, micros long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with scratch(spark, sf_dir, "custom_state") as base:
        return _run_stream(spark, running, base, "update")


@query(
    "stream_stream_join",
    oracle="""
SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream interval join: clicks attributed to the view they
    followed within 10 minutes, per user — both sides are incremental
    streams with 30-minute watermarks, and the time-range predicate is
    what lets the state store evict buffered views once the click-side
    watermark passes view_ts + 10 min (without it, both sides buffer
    forever — THE scale constraint of streaming joins).

    This op gets a full SQL oracle even though it runs incrementally:
    with an in-order replay and an INNER join, no match can be lost —
    a click in batch k is never late (its ts ≥ everything already
    replayed), and its candidate views satisfy view_ts ≥ click_ts − 10 min
    > watermark − 10 min, which is exactly the eviction bound — so the
    availableNow result equals the batch join, row for row."""
    d = _materialize_chunks(sf_dir, "plain")

    def side(event_type: str, prefix: str):
        return (
            _replay(spark, d)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user"),
            )
            .withWatermark(f"{prefix}_ts", "30 minutes")
        )

    views = side("view", "view")
    clicks = side("click", "click")
    joined = views.join(
        clicks,
        F.expr(
            """view_user = click_user
               AND click_ts >= view_ts
               AND click_ts <= view_ts + INTERVAL 10 MINUTES"""
        ),
    ).select(
        "view_id",
        F.col("click_id"),
        F.col("view_user").alias("user_id"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )
    with scratch(spark, sf_dir, "ssjoin") as base:
        return _run_stream(spark, joined, base, "append")


@query(
    "stream_file_sink",
    oracle="""
SELECT event_type, count(*) AS cnt,
       CAST(SUM(CAST((value) AS DECIMAL(29,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
)
def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming FILE sink — the production shape the memory
    sinks above stand in for: raw events append to a parquet directory
    under a checkpointed streaming query, where the `_spark_metadata`
    transaction log is what makes the sink exactly-once (a micro-batch's
    files count only once committed; re-running after a crash replays
    from the checkpoint without double-writing). The read-back goes
    through `spark.read.parquet` on the sink dir — which consults that
    log, so only committed files are aggregated — and the per-type
    count/decimal-sum must equal the batch aggregation of the source
    (the replay is plain in-order chunks: nothing late, nothing
    duplicated). At 100 TB this is the landing-zone pattern: partitioned
    parquet + metadata log, compacted downstream.

    The scratch sink is materialized into the 5-row summary before the
    scratch scope deletes it (same bounded-collect accounting pattern as
    pipeline_dataset_export)."""
    from ..exact import _DEC

    d = _materialize_chunks(sf_dir, "plain")
    with scratch(spark, sf_dir, "file_sink") as base:
        back = _run_stream(spark, _replay(spark, d), base, sink="parquet")
        acct = back.groupBy("event_type").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
        # bounded collect: one row per event_type (O(types)), materialized
        # because the sink it reads is deleted with the scratch dir
        return spark.createDataFrame(acct.collect(), acct.schema)


class _DeltaLog(NamedTuple):
    """State of a foreachBatch op kept as a delta log: each micro-batch
    writes only ``summary(batch)`` — its own mergeable summary — under
    ``v{batch_id}``, and the state is ``fold`` over the union of all
    deltas, taken once after the drain. ``summary`` is a deterministic
    function of the batch, so an at-least-once replay of a batch rewrites
    its own delta with identical content and the fold cannot count it
    twice. ``fold(summary(all rows))`` equals ``fold`` of the per-batch
    deltas for any disjoint batching (mergeability), which is what lets
    these ops carry the one-shot batch aggregate as their oracle."""

    schema: str
    summary: Callable[[DataFrame], DataFrame]
    fold: Callable[[DataFrame], DataFrame]


def _write_delta(log: _DeltaLog, d: str, batch_df: DataFrame, batch_id: int):
    log.summary(batch_df).write.mode("overwrite").parquet(
        os.path.join(d, f"v{batch_id}")
    )


def _deltas(
    spark: SparkSession, d: str, schema: str, upto: int | None = None
) -> DataFrame:
    """Union of the deltas ``v{id}`` under ``d`` with id <= ``upto`` (all
    if None); an empty frame of ``schema`` when there are none."""
    ids = sorted(int(v[1:]) for v in os.listdir(d)) if os.path.isdir(d) else []
    paths = [
        os.path.join(d, f"v{i}") for i in ids if upto is None or i <= upto
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _fold_stream(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    stream: DataFrame,
    log: _DeltaLog,
    finish: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Drain ``stream`` into ``log``'s deltas inside a scratch dir, fold
    them, and return ``finish(state)`` materialized on the driver."""
    with scratch(spark, sf_dir, tag) as base:
        d = os.path.join(base, "deltas")
        _run_stream(
            spark, stream, base, sink=lambda df, i: _write_delta(log, d, df, i)
        )
        out = finish(log.fold(_deltas(spark, d, log.schema)))
        # bounded collect: a per-key summary (O(keys)), materialized
        # because the deltas it reads are deleted with the scratch dir
        return spark.createDataFrame(out.collect(), out.schema)


def _latest_per_user(df: DataFrame, n) -> DataFrame:
    """Per-user latest event by (ts, event_id) via max(struct) argmax,
    plus the event-count aggregate ``n``."""
    return (
        df.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last"),
            n.alias("n"),
        )
        .select("user_id", "last.*", "n")
    )


_UPSERT = _DeltaLog(
    "user_id long, ts timestamp, event_id long, event_type string, "
    "value double, n long",
    lambda batch: _latest_per_user(batch, F.count("*")),
    lambda deltas: _latest_per_user(deltas, F.sum("n")),
)


@query(
    "stream_foreachbatch_upsert",
    oracle="""
WITH ev AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
    FROM events
),
rk AS (
    SELECT *,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM ev
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_events,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_type,
       value AS last_value
FROM rk WHERE rn = 1
""",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE via foreachBatch — the incremental materialized-view
    pattern: each micro-batch is pre-aggregated to a per-user latest event
    + event count (max(struct) argmax and count, both mergeable), the
    foreachBatch escape hatch Spark prescribes for sinks with merge
    semantics (JDBC upserts, Delta MERGE). The state is a delta log
    (``_DeltaLog``): batches write only their own summaries, and the view
    is their max/sum fold — the roll-your-own analog of a transactional
    sink, idempotent under foreachBatch's at-least-once replay.

    Each delta is O(distinct users in the batch), not O(events); at 100 TB
    the fold becomes a MERGE into a bucketed/Delta table so each batch
    touches only matched files. In-order plain replay loses nothing, so
    the folded view must equal the batch argmax/count over all events —
    the oracle. The bounded per-user result is materialized before the
    scratch deltas are deleted (the pipeline_dataset_export pattern)."""
    d = _materialize_chunks(sf_dir, "plain")
    return _fold_stream(
        spark,
        sf_dir,
        "upsert",
        _replay(spark, d),
        _UPSERT,
        lambda view: view.select(
            "user_id",
            F.col("n").alias("n_events"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        ),
    )


from ..operators.relational import _KMV_NUM, KMV_K  # noqa: E402


def _kmv_min_k(df: DataFrame) -> DataFrame:
    """The KMV_K smallest distinct hashes per event_type."""
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        df.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )


_KMV = _DeltaLog(
    "event_type string, h long",
    lambda batch: _kmv_min_k(
        batch.filter(F.col("user_id").isNotNull()).select(
            "event_type", md5_prefix_int("user_id", 15).alias("h")
        )
    ),
    _kmv_min_k,
)


def _kmv_estimate(sketch: DataFrame) -> DataFrame:
    m = F.count("*")
    return sketch.groupBy("event_type").agg(
        m.cast("long").alias("k_used"),
        F.when(m < KMV_K, m.cast("double"))
        .otherwise(F.lit(_KMV_NUM) / F.max("h").cast("double"))
        .alias("est_distinct"),
    )


@query(
    "stream_kmv_distinct",
    oracle=f"""
WITH h AS (
    SELECT DISTINCT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM events WHERE user_id IS NOT NULL
),
r AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS k_used,
       CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
            ELSE {_KMV_NUM!r} / CAST(max(h) AS DOUBLE) END AS est_distinct
FROM r WHERE rn <= {KMV_K} GROUP BY event_type
""",
)
def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-user estimation over the stream — a KMV
    sketch per event_type maintained across micro-batches via
    foreachBatch, the streaming twin of `agg_kmv_distinct`
    (relational.py): each batch writes its k smallest distinct
    md5-hashes per group as its delta (``_DeltaLog``), and the sketch is
    the min-k fold of all deltas.

    Why this streaming op can carry a FULL exact-hash oracle when the
    watermark ops cannot: KMV state is a deterministic function of the
    SET of keys seen — insertion order and duplicates are irrelevant
    (min-k of a union is the min-k of mins-k) — so after any in-order,
    late, or duplicated replay the final sketch equals the one-shot
    batch sketch over all events, which is exactly the SQL the oracle
    runs. This is why a 100 TB pipeline keeps sketches (not raw keys) as
    streaming state: O(k) rows per group and exchange-free merges."""
    d = _materialize_chunks(sf_dir, "plain")
    return _fold_stream(
        spark, sf_dir, "kmv", _replay(spark, d), _KMV, _kmv_estimate
    )


_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@query(
    "stream_minhash_dedup",
    oracle=f"""
WITH {_minhash_ctes()},
own AS (SELECT band_id, bkey, min(doc_id) AS owner FROM bands GROUP BY 1, 2),
fl AS (
    SELECT b.doc_id,
           max(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END) AS dup
    FROM bands b
    JOIN own o ON o.band_id = b.band_id AND o.bkey = b.bkey
    GROUP BY b.doc_id
)
SELECT d.doc_id, coalesce(fl.dup, 0) = 1 AS is_dup
FROM documents d LEFT JOIN fl ON fl.doc_id = d.doc_id
""",
)
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate detection — the incremental twin of
    dedup_minhash: documents replay as ascending-doc_id micro-batches,
    each batch shingles → 64-perm minhash → 8-band LSH keys (the exact
    machinery of the batch op), and a foreachBatch-maintained bucket
    index flags any document whose band bucket is already owned by a
    smaller doc_id. This is the at-ingest dedup gate of a training-data
    pipeline: new crawl shards check against the corpus WITHOUT
    re-scanning it, and the state is the band index (O(docs·bands) keyed
    rows), not the corpus.

    Why a full exact-hash oracle: EVERY document registers its buckets
    (flagged duplicates too, as in any LSH index), so "flagged" ⇔ "some
    band bucket contains a smaller doc_id" — a pure function of the
    document SET. With ascending-id replay, every smaller id is in the
    state (or this batch) when a document arrives, so the incremental
    flags equal the batch predicate the oracle computes. Band keys are
    the raw signature strings here (minhash_bands string_keys mode):
    flags ARE the final output, so the in-engine-only xxhash64 would
    leave an unverifiable collision gap. The owner index is a delta log
    (``_DeltaLog``): each batch writes only its own per-bucket mins, and
    the index a batch probes is the min-fold of the deltas up to it.

    These are LSH-candidate flags (the recall stage): production chains
    the exact-Jaccard verify behind them exactly as dedup_minhash does —
    kept out here so the op isolates the streaming-state semantics."""
    from ..ckpt import (
        guard_result,
        pooled_checkpoint,
        release_transient_storage,
    )

    # Scope the pooled-checkpoint lease snapshot to THIS invocation: without
    # the release, repeated calls accumulate pooled blocks and guard_result
    # below would snapshot leases accrued by earlier runs, so LRU eviction
    # of an unrelated entry could spuriously raise CheckpointReleasedError
    # when this result is forced.
    release_transient_storage()
    d = _materialize_chunks(sf_dir, "docs")
    state_schema = "band_id int, bkey string, owner long"
    with scratch(spark, sf_dir, "sdedup") as base:
        state, flags = os.path.join(base, "state"), os.path.join(base, "flags")

        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            # persist: the shingling + 64-perm minhash is the batch's
            # dominant cost and TWO actions read it (the owner-delta write
            # and the flag join) — without the cache each batch ran the
            # signature pipeline twice (measured ~2x this op's wall time
            # at sf0.1)
            bands = minhash_bands(
                _doc_gram_sets_md5(batch_df), string_keys=True
            ).persist()
            bands.groupBy("band_id", "bkey").agg(
                F.min("doc_id").alias("owner")
            ).write.mode("overwrite").parquet(
                os.path.join(state, f"v{batch_id}")
            )
            owners = (
                _deltas(spark, state, state_schema, upto=batch_id)
                .groupBy("band_id", "bkey")
                .agg(F.min("owner").alias("owner"))
            )
            bands.join(owners, ["band_id", "bkey"]).groupBy("doc_id").agg(
                F.max((F.col("owner") < F.col("doc_id")).cast("int")).alias(
                    "dup"
                )
            ).write.mode("overwrite").parquet(
                os.path.join(flags, f"v{batch_id}")
            )
            bands.unpersist()

        _run_stream(spark, _replay(spark, d, _DOC_SCHEMA), base, sink=on_batch)
        fl = _deltas(spark, flags, "doc_id long, dup int")
        out = (
            load(spark, sf_dir, "documents")
            .join(fl, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("dup") == 1, F.lit(False)).alias("is_dup"),
            )
        )
        # eager pooled checkpoint, NOT an O(docs) driver collect: the
        # result must survive the scratch dir's removal, and checkpoint
        # storage does that distributedly
        return guard_result(pooled_checkpoint(out, "stream_minhash_dedup"))


from ..operators.bpe import (  # noqa: E402 — one tokenizer, one CTE chain
    ORACLE_DOC_TOKENS_CTES,
    doc_token_counts_pre_rejoin,
)


def _token_delta(batch: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens) of one batch. Source rides through
    the wordless-doc left join directly (one batch-keyed shuffle, not a
    second join), and coalesce(n_tokens, 0) keeps wordless docs in n_docs
    with 0 tokens."""
    return (
        batch.select("doc_id", "source")
        .join(doc_token_counts_pre_rejoin(batch), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce("n_tokens", F.lit(0)))
            .cast("long")
            .alias("total_tokens"),
        )
    )


_TOKENS = _DeltaLog(
    "source string, n_docs long, total_tokens long",
    _token_delta,
    lambda deltas: deltas.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
    ),
)


@query(
    "stream_token_budget",
    oracle=f"""
WITH RECURSIVE {ORACLE_DOC_TOKENS_CTES},
src AS (SELECT doc_id, source FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM doc_tokens JOIN src USING (doc_id)
GROUP BY source
""",
)
def stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time TOKEN BUDGET accounting — per-source running BPE token
    totals maintained across micro-batches via foreachBatch, so the
    mixing weights `sample_temperature` / `sample_mix_rebalance` consume
    are available AS data lands, not after a full-corpus re-scan. Each
    batch runs the SAME byte-level tokenizer as the batch path
    (bpe.doc_token_counts_pre_rejoin — real ids for every script) and
    writes its (source, n_docs, total_tokens) as its delta
    (``_DeltaLog``); the totals are the summed fold of all deltas.

    Why this op carries a FULL exact-hash oracle like stream_kmv_distinct:
    per-doc token counts are a deterministic pure function of each doc's
    text, and per-source SUMs are mergeable — any disjoint chunking folds
    to the one-shot batch aggregate, which is exactly what the oracle
    computes (the byte-BPE recursive-CTE chain grouped by source). At
    100 TB each delta is O(sources) rows; the heavy work (the
    per-DISTINCT-word Arrow encode) is per-batch and vocabulary-sized,
    identical to the batch plan shape."""
    d = _materialize_chunks(sf_dir, "docs")
    return _fold_stream(
        spark,
        sf_dir,
        "tokbudget",
        _replay(spark, d, _DOC_SCHEMA),
        _TOKENS,
        lambda totals: totals,
    )


# --- custom PYTHON streaming source (pyspark.sql.datasource stream API) ---

_PYSTREAM_BATCHES = 4
_PYSTREAM_PARTS = 2  # partitions per micro-batch (parallel read() calls)
_PYSTREAM_ROWS = 500  # rows per partition


def _register_synth_stream(spark: SparkSession) -> None:
    """Define + register the `synthstream` Python STREAMING data source —
    the incremental twin of scans._register_synth_source: the same
    Knuth-hash row formula, but produced through the DataSourceStreamReader
    protocol (initialOffset → latestOffset → partitions(start, end) →
    parallel read() per InputPartition → commit). Classes live inside the
    function so the package imports cleanly where the API is absent."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _StreamReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"batch": 0}

        def latestOffset(self):
            # a bounded replay: availableNow drains exactly these batches;
            # a real connector would return its upstream high-watermark
            return {"batch": _PYSTREAM_BATCHES}

        def partitions(self, start, end):
            return [
                InputPartition((b, p))
                for b in range(start["batch"], end["batch"])
                for p in range(_PYSTREAM_PARTS)
            ]

        def read(self, partition):
            b, p = partition.value
            lo = (b * _PYSTREAM_PARTS + p) * _PYSTREAM_ROWS
            for i in range(lo, lo + _PYSTREAM_ROWS):
                # the scan_python_datasource formula: every row derivable
                # from the partition index alone (independently computable
                # splits — what makes replay deterministic AND parallel)
                yield (i, i % 7, (i * 2654435761 % 1000) / 100.0)

        def commit(self, end):
            pass

    class _SynthStream(DataSource):
        @classmethod
        def name(cls):
            return "synthstream"

        def schema(self):
            return "id bigint, bucket int, score double"

        def streamReader(self, schema):
            return _StreamReader()

    spark.dataSource.register(_SynthStream)


_PYSTREAM_N = _PYSTREAM_BATCHES * _PYSTREAM_PARTS * _PYSTREAM_ROWS


@query(
    "stream_python_source",
    oracle=f"""
SELECT CAST(id % 7 AS INTEGER) AS bucket,
       count(*) AS cnt,
       CAST(SUM(CAST(((id * 2654435761 % 1000) / 100.0) AS DECIMAL(29,6)))
            AS DOUBLE) AS sum_score
FROM generate_series(0, {_PYSTREAM_N - 1}) t(id)
GROUP BY 1
""",
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming from a CUSTOM PYTHON SOURCE — the ingest shape
    for any Python-reachable feed (an internal queue, a poll-based API)
    without a JVM connector: the `synthstream` source advances an offset
    per micro-batch, Spark fans each batch's InputPartitions across python
    workers, and an incremental groupBy aggregates across batches in
    complete mode. availableNow drains the bounded offset range, so the
    replay is deterministic and the final aggregate equals the batch
    computation over all generated rows — which is exactly what the DuckDB
    generate_series oracle computes (integer arithmetic + one division +
    decimal sums; the same cross-engine argument as
    scan_python_datasource). sf_dir is unused: the source IS the data.

    Scale notes: offsets are the durability contract — on restart Spark
    replays from the last committed offset, so a real connector maps them
    to upstream positions (Kafka offsets, API cursors); per-batch
    parallelism is the partitions() fan-out; python-worker marshalling is
    the slow path, so a bulk connector emits Arrow batches or lands
    parquet instead (scan_python_datasource's note)."""
    _register_synth_stream(spark)
    agg = (
        spark.readStream.format("synthstream")
        .load()
        .groupBy("bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("score").cast("decimal(29,6)"))
            .cast("double")
            .alias("sum_score"),
        )
    )
    with scratch(spark, sf_dir, "pystream") as base:
        return _run_stream(spark, agg, base, "complete")
