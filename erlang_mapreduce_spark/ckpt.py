"""Materialization lifecycle: pooled, shared and scratch storage.

- Pooled (``pooled_checkpoint``, ``pooled_persist``): a table that one
  operator invocation reads several times. It is held until the next
  ``release_transient_storage()``, which every pooled op calls on entry.
- Shared (``shared_checkpoint``): a table derived from a corpus's
  documents that several operators of one session reuse. It is held in an
  LRU of ``_SHARED_CAP`` entries until evicted.
- Scratch (``scratch``): files an op writes and reads back within one
  invocation, removed when the op's block exits.

``_durable_dir`` alone decides where a checkpoint lives. With
``SPARK_GRAFT_CHECKPOINT_DIR`` unset it is executor-local blocks
(``localCheckpoint``: fast, unreplicated, so losing an executor fails the
query). With it set it is a parquet snapshot at a fresh
``<dir>/<applicationId>/<desc>-<time_ns>``, which survives executor loss.
Snapshots do not outlive the process: the first one registers an exit
hook that frees every held checkpoint and removes the emptied
``<dir>/<applicationId>/``.

Every grant carries a ``BlockLease``. Freeing the storage (dropping the
blocks, or deleting the snapshot through the Hadoop FileSystem API) kills
the lease. Ops wrap their returned plan with ``guard_result``; forcing a
guarded plan whose storage was freed raises ``CheckpointReleasedError`` in
both modes, not a Spark block-not-found or file-not-found error.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import time
import warnings
from collections import OrderedDict
from typing import Callable, Iterator, NamedTuple

from pyspark import SparkContext
from pyspark.sql import DataFrame

from .tables import fingerprint

try:  # Spark 4 layout: the instantiable implementation is the classic one
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
except ImportError:  # pragma: no cover — Spark 3 layout
    _ClassicDataFrame = DataFrame  # type: ignore[misc]


SCRATCH_ROOT = "/tmp/spark_graft_scratch"


@contextlib.contextmanager
def scratch(spark, sf_dir: str, tag: str) -> Iterator[str]:
    """Yield a fresh, existing directory
    ``SCRATCH_ROOT/<applicationId>/<leaf>-<tag>-<time_ns>`` private to this
    invocation: concurrent or nested calls with the same (sf_dir, tag) get
    distinct dirs, so one invocation's cleanup never deletes another's
    files. On exit, also when the body raises, the dir is removed and its
    parents are pruned if empty. Anything the caller returns must already
    be materialized off these files."""
    app_root = os.path.join(SCRATCH_ROOT, spark.sparkContext.applicationId)
    leaf = os.path.basename(os.path.normpath(sf_dir))
    while True:
        d = os.path.join(app_root, f"{leaf}-{tag}-{time.time_ns()}")
        try:
            os.makedirs(d)
            break
        except (FileExistsError, FileNotFoundError):
            continue  # same-ns twin, or a sibling pruned the parent
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
        for parent in (app_root, SCRATCH_ROOT):
            try:
                os.rmdir(parent)
            except OSError:
                break


class CheckpointReleasedError(RuntimeError):
    """A lazy result backed by checkpoint blocks or a snapshot was forced
    after that storage was released (by a later pooled-operator invocation
    or a shared-cache eviction). Force or collect a pooled op's result
    before invoking the next pooled op, or re-run the query."""


class BlockLease:
    """Liveness token for one grant of checkpoint/persist storage."""

    __slots__ = ("alive", "desc")

    def __init__(self, desc: str):
        self.alive = True
        self.desc = desc

    def kill(self) -> None:
        self.alive = False


class _Held(NamedTuple):
    df: DataFrame
    lease: BlockLease
    free: Callable[[], None]  # drops the blocks or deletes the snapshot


# Per-invocation storage, freed by release_transient_storage().
_POOL: list[_Held] = []

# Leases granted since the last release_transient_storage(): the set a
# returned plan built "now" may depend on. guard_result snapshots it.
_CURRENT_LEASES: list[BlockLease] = []

# Cross-invocation keyed cache, least recently used first. Holds at most
# _SHARED_CAP entries; eviction frees the storage and kills the lease.
_SHARED: "OrderedDict[object, _Held]" = OrderedDict()
# One corpus's full shared-table set plus headroom, so a further key does
# not evict a live entry in the middle of a pass.
_SHARED_CAP = 8


def _drop(h: _Held) -> None:
    try:
        h.free()
    except Exception as e:
        # the block handle is Spark-internal API and the snapshot's file
        # system may be gone; leaking storage beats failing a correct query
        warnings.warn(f"could not free {h.lease.desc}: {e!r}")
    h.lease.kill()


def _evict(cap: int) -> None:
    while len(_SHARED) > cap:
        _drop(_SHARED.popitem(last=False)[1])


def set_shared_cap(n: int) -> int:
    """Resize the shared LRU, evicting least-recently-used entries down to
    ``n``; returns the previous cap, which the caller restores."""
    global _SHARED_CAP
    prev, _SHARED_CAP = _SHARED_CAP, n
    _evict(n)
    return prev


def _durable_dir() -> str | None:
    """The one read of ``SPARK_GRAFT_CHECKPOINT_DIR``: a directory any
    Hadoop FileSystem resolves, where checkpoints become parquet snapshots;
    None keeps them as executor-local blocks. Read per call."""
    return os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None


# <root>/<applicationId> dir of every snapshot written -> its SparkContext
_APP_DIRS: dict[str, SparkContext] = {}


def _hadoop_path(sc, path: str):
    """``path`` as a Hadoop Path and the FileSystem that resolves it."""
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(sc._jsc.hadoopConfiguration())


def _release_at_exit() -> None:
    """Free every pooled and shared checkpoint, then remove each snapshot
    app dir left empty. Registered at the first snapshot, after PySpark's
    gateway hook, so it runs first, while the JVM is still up."""
    release_transient_storage()
    release_shared()
    for app_dir, sc in _APP_DIRS.items():
        if sc._jsc is None:  # stopped: its files are out of reach
            continue
        try:
            p, fs = _hadoop_path(sc, app_dir)
            if fs.exists(p) and not fs.listStatus(p):
                fs.delete(p, False)
        except Exception as e:
            warnings.warn(f"could not remove {app_dir}: {e!r}")


def _snapshot(df: DataFrame, root: str, desc: str) -> _Held:
    """Write ``df`` to a fresh parquet dir ``<root>/<applicationId>/
    <desc>-<time_ns>`` and hold the read-back; freeing deletes the dir."""
    spark = df.sparkSession
    sc = spark.sparkContext
    app_dir = os.path.join(root, sc.applicationId)
    if not _APP_DIRS:
        atexit.register(_release_at_exit)
    _APP_DIRS[app_dir] = sc
    path = os.path.join(app_dir, f"{desc}-{time.time_ns()}")
    df.write.parquet(path)  # error-if-exists: never clobbers a twin

    def delete() -> None:
        p, fs = _hadoop_path(sc, path)
        fs.delete(p, True)

    return _Held(
        spark.read.parquet(path), BlockLease(f"snapshot {desc}"), delete
    )


def free_local_checkpoint(df: DataFrame) -> None:
    """Drop the executor-local blocks behind a localCheckpointed DataFrame,
    through the ``LogicalRDD`` the checkpoint produced: the only handle
    that owns the persisted internal RDD (``df.rdd`` builds a new
    conversion RDD, and ``DataFrame.unpersist`` only reaches the
    CacheManager)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _local(ck: DataFrame, desc: str) -> _Held:
    return _Held(
        ck, BlockLease(desc), functools.partial(free_local_checkpoint, ck)
    )


def _pool(h: _Held) -> DataFrame:
    _POOL.append(h)
    _CURRENT_LEASES.append(h.lease)
    return h.df


def park_local_checkpoint(df: DataFrame) -> None:
    """Pool an already-localCheckpointed DataFrame: its blocks are freed at
    the next ``release_transient_storage()``."""
    _pool(_local(df, "pooled localCheckpoint"))


def pooled_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` pooled until the next
    ``release_transient_storage()``. Results derived from it must pass
    through ``guard_result``."""
    ck = df.localCheckpoint(eager)
    park_local_checkpoint(ck)
    return ck


def pooled_checkpoint(
    df: DataFrame, desc: str, eager: bool = True
) -> DataFrame:
    """Truncate ``df``'s lineage, pooled until the next
    ``release_transient_storage()``: ``pooled_local_checkpoint`` in local
    mode, a snapshot (always written eagerly) in durable mode. For a table
    several branches of one query read, eager beats ``persist()``, whose
    consumers race to fill the cache inside one job. Results derived from
    it must pass through ``guard_result``."""
    root = _durable_dir()
    if root is None:
        return pooled_local_checkpoint(df, eager)
    return _pool(_snapshot(df, root, desc))


def release(df: DataFrame) -> None:
    """Free one pooled checkpoint before the next release, for a caller
    that knows nothing reads it any more (a superseded round of an
    iteration). Its lease leaves the current set, so ``guard_result``
    does not see it."""
    for i, h in enumerate(_POOL):
        if h.df is df:
            del _POOL[i]
            _CURRENT_LEASES.remove(h.lease)
            _drop(h)
            return
    raise KeyError("not a pooled checkpoint")


def pooled_persist(df: DataFrame) -> DataFrame:
    """``persist()`` pooled until the next ``release_transient_storage()``.
    Safe for any reuse pattern: an unpersisted plan recomputes from
    lineage, so its lease never enters the set ``guard_result`` checks."""
    p = df.persist()
    _POOL.append(_Held(p, BlockLease("pooled persist"), p.unpersist))
    return p


def _shared(key: object, build: Callable[[], _Held]) -> DataFrame:
    h = _SHARED.get(key)
    if h is None:
        h = _SHARED[key] = build()
        _evict(_SHARED_CAP)
    else:
        _SHARED.move_to_end(key)
    _CURRENT_LEASES.append(h.lease)
    return h.df


def shared_local_checkpoint(
    key: object, builder: Callable[[], DataFrame], desc: str = ""
) -> DataFrame:
    """Eager ``localCheckpoint`` of ``builder()`` in the shared LRU under
    ``key``; a hit skips the build. Entries survive
    ``release_transient_storage`` and die only by eviction."""
    return _shared(
        key,
        lambda: _local(
            builder().localCheckpoint(),
            f"shared localCheckpoint {desc or key!r}",
        ),
    )


def shared_checkpoint(
    spark, sf_dir: str, name: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Materialize a table derived from ``sf_dir``'s documents once per
    (durable dir, applicationId, corpus path, name, documents fingerprint)
    and hand the same table to every later caller: a
    ``shared_local_checkpoint`` in local mode, a snapshot in durable mode.
    A corpus whose fingerprint is None (missing or unreadable) is never
    cached: ``builder()`` is returned as is."""
    fp = fingerprint(sf_dir, "documents")
    if fp is None:
        # a None key would alias every error state, and a corpus that
        # appears later, onto one entry
        return builder()
    root = _durable_dir()
    app = spark.sparkContext.applicationId
    key = (root, app, os.path.abspath(sf_dir), name, fp)
    if root is None:
        return shared_local_checkpoint(key, builder, desc=name)
    return _shared(key, lambda: _snapshot(builder(), root, name))


def release_shared() -> None:
    """Free every shared-cache entry. For teardown and tooling; normal
    operation relies on the LRU cap."""
    _evict(0)


def release_transient_storage() -> None:
    """Free every pooled entry (shared entries stay) and kill its lease.
    Idempotent; pooled ops call it on entry."""
    for h in _POOL:
        _drop(h)
    _POOL.clear()
    _CURRENT_LEASES.clear()


class _GuardedDataFrame(_ClassicDataFrame):
    """DataFrame whose every use re-validates the block leases its plan
    depends on. All DataFrame actions and derivations go through
    ``self._jdf``, so overriding it as a checking property catches
    collect/write/count/show and new-plan construction alike. Derived
    frames are plain DataFrames (unguarded): deriving while fresh is safe
    — the derivation happens against live blocks — and the derived plan's
    own force is covered only if taken before release, which is exactly
    the documented contract; the guard exists to turn the violation into
    a named error at the point the ORIGINAL result is touched."""

    def __new__(cls, jdf, session, leases=None):
        # the base DataFrame.__new__ dispatches hard to the classic class
        # with a fixed arity — bypass it, plain object construction
        return object.__new__(cls)

    def __init__(self, jdf, session, leases: list[BlockLease] | None = None):
        self._sg_leases = list(leases or ())
        super().__init__(jdf, session)

    @property
    def _jdf(self):
        dead = [l for l in self._sg_leases if not l.alive]
        if dead:
            raise CheckpointReleasedError(
                "this result's checkpoint storage was released "
                f"({dead[0].desc}); force pooled-operator results before "
                "invoking the next pooled operator, or re-run the query"
            )
        return self._sg_jdf

    @_jdf.setter
    def _jdf(self, value):
        self._sg_jdf = value


def guard_result(df: DataFrame) -> DataFrame:
    """Wrap an operator's returned plan with the leases granted since the
    operator's entry ``release_transient_storage()`` call. If the plan
    depends on no pooled or shared checkpoint, the wrap is a no-op."""
    if not _CURRENT_LEASES:
        return df
    return _GuardedDataFrame(df._jdf, df.sparkSession, _CURRENT_LEASES)
