"""Transient-storage lifecycle for materialization-heavy operators.

Why this exists (BENCH_r03 lesson): the pair-dedup ops truncate lineage
with ``localCheckpoint`` and pagerank ``cache()``-es its edge table, but
nothing ever FREED those executor-local blocks — repeated invocations in
one long-lived JVM (the bench's median-of-3, the driver's 50-query sweep)
accumulated storage until eviction pressure produced 2× cross-pass
variance on dedup_cluster_cc (5.07/6.26/11.74 s) and dedup_minhash
(2.69/2.37/6.13 s) while every non-checkpointing query stayed stable.

Three tools, matched to three materialization kinds:

- ``pooled_persist(df)`` — for *non-iterative* reuse (a table read by 2-3
  consumers of one query): plain ``persist()`` registered in a pool.
  Unpersisting a persisted plan is ALWAYS safe — if some still-lazy plan
  references it later, Spark just recomputes from lineage (and on a real
  cluster that recompute path is also what makes executor loss survivable,
  unlike localCheckpoint's unreplicated blocks which fail the job).
- ``free_local_checkpoint(df)`` — for *iterative* lineage truncation
  (connected components), where ``localCheckpoint`` is genuinely needed:
  drops the checkpointed blocks through the JVM handle
  (``queryExecution().analyzed().rdd()``), since ``DataFrame.unpersist``
  only talks to the CacheManager and ignores RDD-level persistence.
  Freeing a checkpointed plan's blocks makes RE-executing that exact plan
  impossible (lineage was truncated), so callers only free blocks that are
  provably superseded — see ``connected_components``'s per-round release —
  or park the final round's blocks in the pool for the next invocation.
- ``shared_local_checkpoint(key, builder)`` — for tables REUSED ACROSS
  operator invocations (the verbatim-rep member map and the per-doc gram
  sets feed dedup_ngram_jaccard, dedup_containment, dedup_minhash, and
  dedup_cluster_cc's internal jaccard): a small keyed LRU of eager
  localCheckpoints that ``release_transient_storage`` deliberately does
  NOT drain, so one (session, corpus) pays each build exactly once.
  Keys embed the corpus fingerprint (file stats), so a rewritten
  fixture at the same path misses rather than returning stale data.

``release_transient_storage()`` drains the per-invocation pool. Every
pooled op calls it on entry (so invocation N+1 frees invocation N's blocks
even when nobody else does), and ``bench.py`` calls it between timed
passes (outside the timed region).

Stale-read guard: a returned lazy DataFrame whose plan reads pooled or
parked checkpoint blocks would die with Spark's raw "checkpoint block not
found" if forced after a later pooled op released those blocks. The
contract is now ENFORCED, not conventional: every block grant carries a
``BlockLease``, ops wrap their returned plan with ``guard_result``, and a
guarded DataFrame re-checks its leases on every use — a stale force
raises :class:`CheckpointReleasedError` naming the releasing op instead
of a Spark internals error. Shared-cache leases die only on LRU eviction,
so results that depend exclusively on shared tables stay forceable across
op invocations.

Scratch files: ``scratch(spark, sf_dir, tag)`` is the one lifecycle for
the throwaway files an op writes and reads back within one invocation
(sinks it accounts against, streaming checkpoints, foreachBatch deltas).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections import OrderedDict
from typing import Callable, Iterator

from pyspark.sql import DataFrame

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
    """A lazy result backed by executor-local checkpoint blocks was forced
    after those blocks were released (by a later pooled-operator invocation
    or a shared-cache eviction). Force or collect a pooled op's result
    before invoking the next pooled op, or re-run the query."""


class BlockLease:
    """Liveness token for one grant of checkpoint/persist blocks."""

    __slots__ = ("alive", "desc")

    def __init__(self, desc: str):
        self.alive = True
        self.desc = desc

    def kill(self) -> None:
        self.alive = False


# (kind, df, lease) where kind is "persist" (unpersist is always safe) or
# "ckpt" (blocks are dropped via the JVM handle; plan must be done).
_POOL: list[tuple[str, DataFrame, BlockLease]] = []

# Leases granted since the last release_transient_storage(): the set a
# returned plan built "now" may depend on. guard_result snapshots it.
_CURRENT_LEASES: list[BlockLease] = []

# Cross-invocation keyed cache: key -> (df, lease). Bounded LRU; eviction
# frees blocks and kills the lease.
_SHARED: "OrderedDict[object, tuple[DataFrame, BlockLease]]" = OrderedDict()
# 8 = one corpus's full shared-table set (members, rep docs, 2× gram sets,
# jaccard pairs, substring spans — 6 as of r16) plus headroom: sitting
# exactly at the cap made every additional shared key evict a live LRU
# entry mid-pass (the r13-ADVICE thrash class this cap exists to avoid).
_SHARED_CAP = 8


def set_shared_cap(n: int) -> int:
    """Resize the shared-checkpoint LRU cap; returns the PREVIOUS cap so
    callers restore the caller's value rather than a hardcoded default
    (r14 ADVICE: a hardcoded restore clobbers non-default caps and drifts
    if this module's default changes). Sweep/bench tooling that
    alternates corpora (warmup SF + timed SF ⇒ ~10 live keys) raises this
    so warming one corpus does not evict the other's gram-set/pair-graph
    entries — otherwise every timed dedup cell silently includes a full
    shared-table rebuild (r13 ADVICE item 2). Shrinking evicts LRU-first."""
    global _SHARED_CAP
    prev = _SHARED_CAP
    _SHARED_CAP = n
    while len(_SHARED) > _SHARED_CAP:
        _, (old, old_lease) = _SHARED.popitem(last=False)
        free_local_checkpoint(old)
        old_lease.kill()
    return prev


def free_local_checkpoint(df: DataFrame) -> None:
    """Drop the executor-local blocks behind a localCheckpointed DataFrame.

    Reaches through py4j to the ``LogicalRDD`` the checkpoint produced —
    the only handle that owns the persisted internal RDD (``df.rdd`` would
    build a NEW conversion RDD whose unpersist is a no-op on the blocks).
    Defensive except: the accessor chain is Spark-internal API; on a Spark
    where it moved, leaking the block (old behavior) beats crashing a
    correct query.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def pooled_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` + register the blocks for release at the next
    ``release_transient_storage()``. Use only when lineage truncation is
    required AND the checkpointed plan will not be re-executed after the
    next pooled operator runs — results derived from it must pass through
    ``guard_result`` so a late force fails with a named error."""
    ck = df.localCheckpoint()
    lease = BlockLease("pooled localCheckpoint")
    _POOL.append(("ckpt", ck, lease))
    _CURRENT_LEASES.append(lease)
    return ck


def park_local_checkpoint(df: DataFrame) -> None:
    """Register an ALREADY-localCheckpointed DataFrame whose blocks must
    outlive the current function (a returned plan reads them) but become
    garbage once the next pooled operator starts."""
    lease = BlockLease("parked localCheckpoint")
    _POOL.append(("ckpt", df, lease))
    _CURRENT_LEASES.append(lease)


def pooled_persist(df: DataFrame) -> DataFrame:
    """``persist()`` + register for release at the next
    ``release_transient_storage()``. Safe for any reuse pattern — an
    unpersisted plan silently recomputes (no lease needed for correctness,
    but one is granted so guard semantics stay uniform)."""
    p = df.persist()
    lease = BlockLease("pooled persist")
    _POOL.append(("persist", p, lease))
    return p


def shared_local_checkpoint(
    key: object, builder: Callable[[], DataFrame], desc: str = ""
) -> DataFrame:
    """Keyed, LRU-bounded, eager ``localCheckpoint`` cache for tables that
    several OPERATORS of one session reuse (gram sets, member maps). On a
    hit the build is skipped entirely; on a miss ``builder()`` runs once.
    Entries survive ``release_transient_storage`` — they die only by LRU
    eviction (blocks freed, lease killed, so guarded dependents fail with
    the named error rather than a raw block-not-found)."""
    hit = _SHARED.get(key)
    if hit is not None:
        _SHARED.move_to_end(key)
        df, lease = hit
        _CURRENT_LEASES.append(lease)
        return df
    ck = builder().localCheckpoint()
    lease = BlockLease(f"shared localCheckpoint {desc or key!r}")
    _SHARED[key] = (ck, lease)
    _CURRENT_LEASES.append(lease)
    while len(_SHARED) > _SHARED_CAP:
        _, (old, old_lease) = _SHARED.popitem(last=False)
        free_local_checkpoint(old)
        old_lease.kill()
    return ck


def release_shared() -> None:
    """Drop every shared-cache entry (blocks freed, leases killed). For
    teardown / memory pressure; normal operation relies on the LRU cap."""
    for df, lease in _SHARED.values():
        free_local_checkpoint(df)
        lease.kill()
    _SHARED.clear()


def release_transient_storage() -> None:
    """Free every per-invocation pooled block (shared-cache entries stay).
    Idempotent; called by pooled ops on entry and by bench.py between
    timed passes. Kills the freed blocks' leases, so any still-lazy result
    that depended on them now raises CheckpointReleasedError instead of a
    raw Spark block-not-found when forced."""
    for kind, df, lease in _POOL:
        if kind == "ckpt":
            free_local_checkpoint(df)
        else:
            try:
                df.unpersist()
            except Exception:
                pass
        lease.kill()
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
                "this result's checkpoint blocks were released "
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
    depends on no pooled/parked/shared blocks, the wrap is a no-op."""
    if not _CURRENT_LEASES:
        return df
    return _GuardedDataFrame(df._jdf, df.sparkSession, _CURRENT_LEASES)
