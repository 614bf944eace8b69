"""Semantic pins for the true-streaming (rows-only) operators."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from erlang_mapreduce_spark.ckpt import scratch
from erlang_mapreduce_spark.streaming import streams
from erlang_mapreduce_spark.streaming.streams import (
    stream_stateful_dedup,
    stream_watermark_late,
)
from erlang_mapreduce_spark.tables import load


def test_watermark_drops_late_rows(spark, sf_dir):
    """The replayed first quartile must NOT be counted: emitted (finalized)
    windows carry exactly the on-time counts, and no window exceeds the
    batch ground truth."""
    out = stream_watermark_late(spark, sf_dir)
    emitted = {r.win_start: r.cnt for r in out.collect()}
    assert emitted, "no finalized windows emitted"
    truth = {
        r.win_start: r.cnt
        for r in load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "cnt",
        )
        .collect()
    }
    # if ANY late (replayed) row had been aggregated, its window's count
    # would exceed the batch truth
    for w, c in emitted.items():
        assert c == truth[w], f"window {w}: emitted {c} != on-time {truth[w]}"


def test_watermark_late_equals_batch_twin(spark, sf_dir):
    """FULL equality with the batch twin (not just a per-window subset
    check): with an in-order replay, the availableNow append output must be
    exactly the batch tumbling aggregation restricted to windows the final
    watermark finalized (w.end ≤ max(ts) − 30 min) — the same replay
    argument that gives stream_stream_join its SQL oracle."""
    out = stream_watermark_late(spark, sf_dir)
    emitted = sorted((r.win_start, r.cnt) for r in out.collect())
    ev = load(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    twin = sorted(
        (r.win_start, r.cnt)
        for r in ev.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .filter(
            F.col("w.end")
            <= F.lit(max_ts) - F.expr("INTERVAL 30 MINUTES")
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "cnt",
        )
        .collect()
    )
    assert emitted == twin, (
        f"streaming {len(emitted)} windows != batch twin {len(twin)}"
    )


def test_stateful_dedup_equals_batch_twin(spark, sf_dir):
    """FULL row-level equality with the batch twin: the streaming
    dropDuplicates output must be exactly the batch
    dropDuplicates(event_id, ts) over the replayed rows — which, since the
    re-sent quartile is verbatim, is the source events projection."""
    out = stream_stateful_dedup(spark, sf_dir)
    got = sorted(
        (r.event_id, r.user_id, r.event_type) for r in out.collect()
    )
    twin = sorted(
        (r.event_id, r.user_id, r.event_type)
        for r in load(spark, sf_dir, "events")
        .dropDuplicates(["event_id", "ts"])
        .select("event_id", "user_id", "event_type")
        .collect()
    )
    assert got == twin


def test_stateful_dedup_suppresses_replay(spark, sf_dir):
    """Re-sent final quartile must be fully suppressed: output == distinct
    events."""
    out = stream_stateful_dedup(spark, sf_dir)
    n_out = out.count()
    n_src = load(spark, sf_dir, "events").select("event_id").distinct().count()
    assert n_out == n_src, f"dedup emitted {n_out}, expected {n_src}"


def test_custom_state_running_counts(spark, sf_dir):
    """Per-user running counts: the last (max) emission per user must equal
    the batch ground truth over the replayed stream (chunks 0-3 plus the
    re-sent final quartile = events + duplicated q4 rows)."""
    from erlang_mapreduce_spark.streaming.streams import stream_custom_state

    out = stream_custom_state(spark, sf_dir)
    final = {
        r.user_id: r.n_events
        for r in out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    q4 = n - 3 * (n // 4) - (1 if n % 4 >= 1 else 0) - (
        1 if n % 4 >= 2 else 0
    ) - (1 if n % 4 >= 3 else 0)
    truth_total = sum(final.values())
    # total emitted-event mass = all events + the re-sent final quartile
    assert truth_total == n + q4, f"{truth_total} != {n} + {q4}"
    assert len(final) == ev.select("user_id").distinct().count()


@pytest.mark.parametrize(
    "log_name, table, key",
    [
        ("_UPSERT", "events", "event_id"),
        ("_KMV", "events", "event_id"),
        ("_TOKENS", "documents", "doc_id"),
    ],
)
def test_foreachbatch_delta_log_replay_idempotent(
    spark, sf_dir, tmp_path, log_name, table, key
):
    """At-least-once replay pin for the foreachBatch delta logs (upsert,
    KMV, token budget): foreachBatch may re-deliver a batch whose delta
    already committed. Writing the deltas of batches 0 and 1, replaying
    batch 1, then folding must (a) equal the fold without the replay and
    (b) equal the one-shot batch aggregate over all rows."""
    log = getattr(streams, log_name)
    rows = load(spark, sf_dir, table)
    even = F.coalesce(F.col(key) % 2, F.lit(0)) == 0
    b0, b1 = rows.filter(even), rows.filter(~even)
    d = str(tmp_path / "deltas")

    def fold():
        state = log.fold(streams._deltas(spark, d, log.schema))
        return sorted(map(tuple, state.collect()), key=repr)

    streams._write_delta(log, d, b0, 0)
    streams._write_delta(log, d, b1, 1)
    clean = fold()
    streams._write_delta(log, d, b1, 1)  # the replay
    assert fold() == clean, "replay of a committed batch changed the fold"
    truth = sorted(map(tuple, log.summary(rows).collect()), key=repr)
    assert clean == truth, "folded deltas != one-shot batch aggregate"


def test_stream_minhash_state_versions_are_deltas(spark, sf_dir, monkeypatch):
    """r17: stream_minhash_dedup's versioned state snapshots hold only the
    OWNING batch's per-bucket mins (deltas), never the full cumulative
    owner index — the r16 shape rewrote the entire merged state every
    micro-batch, an O(total_state)-bytes-per-batch constant at any scale.
    Pins (a) no single version holds the full bucket set, (b) the union of
    all deltas re-aggregated by min equals the one-shot batch owner index
    (replay ≡ batch — the merge the op performs per batch), and (c) the
    op's flags are unchanged vs the batch predicate on verbatim texts."""
    import os

    from erlang_mapreduce_spark import ckpt
    from erlang_mapreduce_spark.operators.dedup import (
        _doc_gram_sets_md5,
        minhash_bands,
    )

    captured: dict[str, list[tuple]] = {}
    real_rmtree = ckpt.shutil.rmtree

    def spy_rmtree(path, **kw):
        st = os.path.join(path, "state")
        if os.path.isdir(st):
            for v in sorted(os.listdir(st)):
                captured[v] = [
                    tuple(r)
                    for r in spark.read.schema(
                        "band_id int, bkey string, owner long"
                    )
                    .parquet(os.path.join(st, v))
                    .collect()
                ]
        real_rmtree(path, **kw)

    monkeypatch.setattr(ckpt.shutil, "rmtree", spy_rmtree)
    out = streams.stream_minhash_dedup(spark, sf_dir).collect()
    assert len(captured) >= 2, "expected multiple micro-batch versions"

    docs = load(spark, sf_dir, "documents")
    full_index = {
        (r.band_id, r.bkey): r.owner
        for r in minhash_bands(_doc_gram_sets_md5(docs), string_keys=True)
        .groupBy("band_id", "bkey")
        .agg(F.min("doc_id").alias("owner"))
        .collect()
    }
    # (a) delta property: every version is a strict subset of the full
    # bucket set (each batch introduces only its own docs' buckets)
    for v, rows in captured.items():
        assert len(rows) < len(full_index), (
            f"state {v} holds {len(rows)} rows — looks like a full "
            f"snapshot ({len(full_index)} buckets), not a delta"
        )
    # (b) merged deltas == one-shot batch owner index
    merged: dict[tuple, int] = {}
    for rows in captured.values():
        for band_id, bkey, owner in rows:
            k = (band_id, bkey)
            merged[k] = min(merged.get(k, owner), owner)
    assert merged == full_index, "re-aggregated deltas != batch owner index"
    # (c) flags still match the batch predicate
    flagged = {r.doc_id for r in out if r.is_dup}
    bands_by_doc = minhash_bands(
        _doc_gram_sets_md5(docs), string_keys=True
    ).collect()
    expect = {
        r.doc_id
        for r in bands_by_doc
        if full_index[(r.band_id, r.bkey)] < r.doc_id
    }
    assert flagged == expect


_WIDTH = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("session_width", [2, 64])
def test_replay_runs_one_task_wave_wide(spark, sf_dir, session_width):
    """A replay's state layout (its shuffle width) is min(session width,
    defaultParallelism, cores) on a local master, read from the query's
    own progress, and the caller's width is back in place afterwards."""
    from tools.stream_cost_probe import recorded_progress

    old = spark.conf.get(_WIDTH)
    spark.conf.set(_WIDTH, str(session_width))
    try:
        with recorded_progress(spark) as progress:
            stream_stateful_dedup(spark, sf_dir).collect()
        assert spark.conf.get(_WIDTH) == str(session_width)
    finally:
        spark.conf.set(_WIDTH, old)
    widths = {
        s["numShufflePartitions"]
        for p in progress
        for s in p["stateOperators"]
    }
    assert widths, "no stateful progress recorded"
    assert spark.sparkContext.master.startswith("local")
    expected = min(
        session_width, spark.sparkContext.defaultParallelism, os.cpu_count()
    )
    assert widths == {expected}


_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _set_or_unset(spark, key, value):
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@pytest.mark.parametrize("preset", [None, _FILE_CONTEXT_MANAGER])
def test_replay_checkpoints_through_filesystem_manager(spark, sf_dir, preset):
    """Every micro-batch of a drain runs with the FileSystem-based
    checkpoint manager, read from the batch's own session; afterwards the
    caller's value is back: unset when it was never set, the old value
    when it was."""
    seen = []
    old = spark.conf.get(_MANAGER, None)
    _set_or_unset(spark, _MANAGER, preset)
    try:
        d = streams._materialize_chunks(sf_dir, "plain")
        with scratch(spark, sf_dir, "manager_probe") as base:
            streams._run_stream(
                spark,
                streams._replay(spark, d),
                base,
                sink=lambda df, i: seen.append(
                    df.sparkSession.conf.get(_MANAGER, None)
                ),
            )
        assert spark.conf.get(_MANAGER, None) == preset
    finally:
        _set_or_unset(spark, _MANAGER, old)
    assert seen, "no micro-batch reached the sink"
    assert set(seen) == {streams._CHECKPOINT_MANAGER}


def test_replay_width_restored_when_query_raises(spark, sf_dir):
    old = spark.conf.get(_WIDTH)
    old_manager = spark.conf.get(_MANAGER, None)
    spark.conf.set(_WIDTH, "5")
    spark.conf.unset(_MANAGER)
    try:
        d = streams._materialize_chunks(sf_dir, "plain")
        failing = streams._replay(spark, d).select(
            F.raise_error(F.lit("replay width probe"))
        )
        with pytest.raises(Exception, match="replay width probe"):
            with scratch(spark, sf_dir, "width_probe") as base:
                streams._run_stream(spark, failing, base)
        assert spark.conf.get(_WIDTH) == "5"
        assert spark.conf.get(_MANAGER, None) is None
    finally:
        spark.conf.set(_WIDTH, old)
        _set_or_unset(spark, _MANAGER, old_manager)
