"""Lease-guard and shared-cache-invalidation tests for ckpt.py.

The guard machinery (`ckpt._GuardedDataFrame`, `guard_result`) subclasses a
private Spark class (`pyspark.sql.classic.dataframe.DataFrame`) and
overrides `_jdf` as a checking property — exactly the kind of code a Spark
upgrade breaks silently. These tests force the error path end-to-end so a
regression shows up as a test failure, not as users getting Spark's raw
"checkpoint block not found" (or, worse, silently stale data from the
shared LRU)."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from erlang_mapreduce_spark import ckpt
from erlang_mapreduce_spark.ckpt import (
    CheckpointReleasedError,
    release_transient_storage,
    shared_local_checkpoint,
)


def _pooled_guarded_result(spark):
    """A guard_result over a pooled checkpoint, built straight from the
    ckpt.py primitives — the composition every pooled-checkpoint op has,
    WITHOUT depending on any particular op's current internals (ops have
    migrated between pooled and shared storage across rounds; these tests
    must pin ckpt.py, not an op's composition of the day)."""
    from erlang_mapreduce_spark.ckpt import guard_result, pooled_local_checkpoint

    base = pooled_local_checkpoint(spark.range(100).toDF("n"))
    return guard_result(base.groupBy((base.n % 7).alias("k")).count())


def test_stale_pooled_result_raises_named_error(spark):
    """A pooled-checkpoint-backed result forced AFTER
    release_transient_storage() must raise CheckpointReleasedError — the
    named contract error pointing at the fix — never Spark's raw
    block-not-found internals error."""
    fresh = _pooled_guarded_result(spark)
    assert fresh.count() > 0  # forcing while the blocks are live is fine
    stale = _pooled_guarded_result(spark)
    release_transient_storage()
    with pytest.raises(CheckpointReleasedError):
        stale.count()


def test_stale_after_next_pooled_op(spark, sf_dir):
    """The documented contract violation: holding op A's lazy result across
    op B's invocation (B's entry release_transient_storage() frees A's
    blocks). The violation must surface as the named error when A's result
    is finally touched, while B's own fresh result stays forceable."""
    from erlang_mapreduce_spark.operators.curation import text_decontaminate

    a = _pooled_guarded_result(spark)
    b = text_decontaminate(spark, sf_dir)  # entry release frees a's blocks
    assert b.count() > 0
    with pytest.raises(CheckpointReleasedError):
        a.count()


def test_shared_lru_eviction_kills_dependents(spark):
    """Shared-cache leases die only on LRU eviction — so a guard_result
    depending exclusively on a shared table survives
    release_transient_storage(), but gets the named error once enough NEW
    shared entries push its table out of the LRU. Built straight from
    shared_local_checkpoint + guard_result so the test pins ckpt.py's
    eviction contract, not any op's current storage composition."""
    from erlang_mapreduce_spark.ckpt import guard_result

    release_transient_storage()  # op-entry convention: clean lease slate
    try:
        base = shared_local_checkpoint(
            ("test-evict-subject",),
            lambda: spark.range(100).toDF("n"),
            desc="subject",
        )
        r = guard_result(base.groupBy((base.n % 7).alias("k")).count())
        release_transient_storage()  # shared leases survive this ...
        assert r.count() > 0
        for i in range(ckpt._SHARED_CAP + 1):  # ... but not eviction
            shared_local_checkpoint(
                ("test-evict-dummy", i), lambda: spark.range(1), desc="dummy"
            )
        with pytest.raises(CheckpointReleasedError):
            r.count()
    finally:
        # reset: drop the dummies (and any evicted-but-half-built state) so
        # later dedup tests rebuild from a clean cache instead of mixing
        # dummy keys into their LRU budget
        ckpt.release_shared()
        release_transient_storage()


def test_shared_cache_fingerprint_miss_on_rewrite(spark, sf_dir, tmp_path):
    """Chaos test for the cross-invocation shared LRU: a corpus fixture
    REWRITTEN at the same path — same byte size, bumped mtime, the
    nastiest realistic in-place rewrite — must MISS the cache (a fresh key
    is inserted) instead of serving the old corpus's blocks. The
    fingerprint is stat-based (size + mtime_ns): a rewrite that preserves
    BOTH size and mtime_ns would defeat it — that caveat is documented on
    `tables.fingerprint`; production corpus snapshots are immutable."""
    from erlang_mapreduce_spark.operators.dedup import _shared_members

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    doc = corpus / "documents.parquet"
    shutil.copyfile(os.path.join(sf_dir, "documents.parquet"), doc)

    n1 = _shared_members(spark, str(corpus)).count()
    keys_before = set(ckpt._SHARED.keys())

    st = os.stat(doc)
    os.utime(doc, ns=(st.st_atime_ns, st.st_mtime_ns + 1))  # in-place rewrite

    n2 = _shared_members(spark, str(corpus)).count()
    keys_after = set(ckpt._SHARED.keys())
    assert keys_after - keys_before, (
        "mtime-bumped rewrite was served from the shared cache (stale read)"
    )
    assert n2 == n1  # same bytes -> same member map, freshly rebuilt


def test_stream_chunk_cache_rewrite_miss_and_prune(tmp_path, monkeypatch):
    """The streaming chunk cache must (a) miss when a corpus is rewritten
    in place — round-8 ADVICE: the basename-keyed cache replayed STALE
    chunks behind its .done sentinel — (b) LEAVE the superseded
    fingerprint dir alone for a full grace window measured from
    SUPERSESSION, not from its last write (round-9 ADVICE: an immediate
    rmtree raced concurrent readers mid-replay into FileNotFound;
    round-11 ADVICE: gating on st_mtime deleted any dir BUILT more than
    the grace ago instantly — the first sighting must start the clock via
    a .superseded marker, however old the dir), and (c) prune it once the
    marker ages past the window so in-place rewrites don't leak chunk
    sets under CHUNK_ROOT for the machine's uptime (and never touch
    other corpora's groups)."""
    import duckdb

    from erlang_mapreduce_spark.streaming import streams

    # a chunk root of this test's own: an older fingerprint dir left by
    # an earlier run at the same tmp_path cannot join the group listing
    monkeypatch.setattr(streams, "CHUNK_ROOT", str(tmp_path / "chunks"))

    def write_docs(texts):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d AS SELECT "
            "CAST(row_number() OVER () AS BIGINT) AS doc_id, "
            "t AS text, 'en' AS lang, 's' AS source, "
            "CAST(length(t) AS BIGINT) AS n_chars "
            "FROM (SELECT unnest(?) AS t)",
            [texts],
        )
        con.execute(
            f"COPY d TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
        )
        con.close()

    def chunk_docids(d):
        con = duckdb.connect()
        ids = [
            r[0]
            for r in con.execute(
                f"SELECT doc_id FROM '{d}/chunk_*.parquet' ORDER BY 1"
            ).fetchall()
        ]
        con.close()
        return ids

    write_docs([f"alpha doc {i}" for i in range(8)])
    d1 = streams._materialize_chunks(str(tmp_path), "docs")
    assert chunk_docids(d1) == list(range(1, 9))

    # back-date the FIRST build far past the grace window before
    # superseding it: under the round-11-flagged st_mtime gate this dir
    # would be rmtree'd by the very next sweep, racing live readers
    old = time.time() - streams._PRUNE_GRACE_S - 60
    os.utime(os.path.dirname(d1), (old, old))

    # rewrite IN PLACE with different content (different size => new
    # fingerprint): the cache must rebuild, not replay the stale chunks
    write_docs([f"beta document rewritten {i}" for i in range(12)])
    d2 = streams._materialize_chunks(str(tmp_path), "docs")
    assert d2 != d1
    assert chunk_docids(d2) == list(range(1, 13))

    # d1/d2 share the (abspath, table) group dir; the superseded
    # fingerprint dir must SURVIVE its first sighting no matter how old
    # its own mtime is (a concurrent session may still be replaying it) —
    # the sweep instead starts the grace clock by dropping a marker
    group_dir = os.path.dirname(os.path.dirname(d2))
    assert group_dir == os.path.dirname(os.path.dirname(d1))
    live = os.path.basename(os.path.dirname(d2))
    stale = os.path.basename(os.path.dirname(d1))
    assert sorted(os.listdir(group_dir)) == sorted({live, stale})
    marker = os.path.join(os.path.dirname(d1), ".superseded")
    assert os.path.exists(marker)

    # a sweep INSIDE the grace window (marker is fresh) must still skip
    d2b = streams._materialize_chunks(str(tmp_path), "docs")
    assert d2b == d2
    assert sorted(os.listdir(group_dir)) == sorted({live, stale})

    # back-date the MARKER past the grace window: the next cache entry
    # must reclaim the dir, leaving only the live fingerprint
    os.utime(marker, (old, old))
    d3 = streams._materialize_chunks(str(tmp_path), "docs")
    assert d3 == d2
    assert os.listdir(group_dir) == [live]


def test_none_fingerprint_is_uncacheable(tmp_path):
    """A missing/unreadable corpus must NOT become a cache key: the
    shared materialization falls through to the builder (no entry that a
    later-appearing table could alias), and the streaming chunk namespace
    is unique per call (no .done sentinel reuse across error states)."""
    from erlang_mapreduce_spark.streaming import streams

    missing = str(tmp_path / "no_such_corpus")
    sentinel = object()
    # spark is only touched after the fingerprint gate — None proves the
    # early return happened and nothing was cached
    out = ckpt.shared_checkpoint(None, missing, "x", lambda: sentinel)
    assert out is sentinel

    a = streams._chunk_ns(missing, "documents")
    b = streams._chunk_ns(missing, "documents")
    assert "uncached-" in a and a != b
    assert os.path.dirname(a) == os.path.dirname(b)  # same (path) group


def test_scratch_nested_distinct_removed_and_pruned(
    spark, tmp_path, monkeypatch
):
    """ckpt.scratch is the one lifecycle for per-invocation scratch files:
    two nested calls with the same (sf_dir, tag) get distinct dirs; leaving
    the inner one, normally or by a raised error, removes only that dir
    (the outer dir and its files survive); empty parents are pruned."""
    root = tmp_path / "scratch"
    monkeypatch.setattr(ckpt, "SCRATCH_ROOT", str(root))
    sf = str(tmp_path / "corpus" / "sf0.01")
    app_dir = root / spark.sparkContext.applicationId
    with ckpt.scratch(spark, sf, "t") as outer:
        assert os.path.dirname(outer) == str(app_dir)
        assert os.path.basename(outer).startswith("sf0.01-t-")
        with open(os.path.join(outer, "keep"), "w") as f:
            f.write("x")
        with ckpt.scratch(spark, sf, "t") as inner:
            assert inner != outer and os.path.isdir(inner)
            with open(os.path.join(inner, "f"), "w") as f:
                f.write("x")
        assert not os.path.exists(inner)
        with pytest.raises(RuntimeError, match="scratch body failed"):
            with ckpt.scratch(spark, sf, "t") as failed:
                assert failed not in (inner, outer)
                os.makedirs(os.path.join(failed, "sub"))
                raise RuntimeError("scratch body failed")
        assert not os.path.exists(failed)
        assert os.listdir(outer) == ["keep"]
        assert os.listdir(app_dir) == [os.path.basename(outer)]
    assert not os.path.exists(outer)
    assert not root.exists(), "empty scratch parents were not pruned"


def _snapshots(root, spark, desc):
    return sorted((root / spark.sparkContext.applicationId).glob(f"{desc}-*"))


@pytest.mark.parametrize("op", ["graph_pagerank", "stream_minhash_dedup"])
def test_durable_mode_reaches_pooled_results(
    spark, sf_dir, tmp_path, monkeypatch, op
):
    """With $SPARK_GRAFT_CHECKPOINT_DIR set, an op whose result is a pooled
    checkpoint returns the same rows as in local mode and leaves its
    snapshot under the dir."""
    from erlang_mapreduce_spark.registry import QUERIES

    local = sorted(QUERIES[op](spark, sf_dir).collect())
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    durable = QUERIES[op](spark, sf_dir)
    assert _snapshots(tmp_path, spark, op), f"{op} left no snapshot"
    assert sorted(durable.collect()) == local
    release_transient_storage()


def test_stale_pooled_snapshot_raises_and_is_deleted(
    spark, tmp_path, monkeypatch
):
    """A pooled durable result forced after the next
    release_transient_storage() raises CheckpointReleasedError, like a
    local one, and its snapshot dir is deleted by the release."""
    from erlang_mapreduce_spark.ckpt import guard_result, pooled_checkpoint

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    release_transient_storage()
    base = pooled_checkpoint(spark.range(100).toDF("n"), "stale_probe")
    res = guard_result(base.groupBy((base.n % 7).alias("k")).count())
    (snap,) = _snapshots(tmp_path, spark, "stale_probe")
    assert res.count() == 7
    release_transient_storage()
    assert not snap.exists(), "released snapshot still on disk"
    with pytest.raises(CheckpointReleasedError):
        res.count()


def test_durable_snapshots_removed_at_exit(tmp_path, sf_dir):
    """A process that exits holding durable shared snapshots leaves
    nothing under $SPARK_GRAFT_CHECKPOINT_DIR: its exit hook frees every
    snapshot and removes the emptied ``<dir>/<applicationId>/``."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = tmp_path / "durable"
    script = (
        f"import os, sys; sys.path.insert(0, {repo!r})\n"
        "from erlang_mapreduce_spark import get_spark\n"
        "from erlang_mapreduce_spark.registry import QUERIES\n"
        "spark = get_spark('ckpt-exit-hook')\n"
        f"QUERIES['dedup_simhash'](spark, {sf_dir!r}).collect()\n"
        f"app = os.path.join({str(root)!r}, spark.sparkContext.applicationId)\n"
        "assert os.listdir(app), 'no shared snapshot written'\n"
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_CHECKPOINT_DIR=str(root),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert list(root.iterdir()) == []
