"""Streaming-replay fixed-cost probe: for the replay ops, split each
micro-batch's wall time into FIXED overhead (trigger planning, offset/WAL
bookkeeping, state-store commit) vs DATA work, from the query's own
StreamingQueryProgress — the numbers that decide whether a slow sf0.1
cell is per-batch overhead that amortizes on a real cluster or data work
that won't.

Per-batch accounting (durationMs fields):
  total       = triggerExecution                  (wall)
  fixed_wall  = triggerExecution - addBatch       (driver-serial planning,
                                                   offset log, WAL commit)
  exec_wall   = addBatch                          (source read + plan exec
                                                   + state checkpoint)
  state_task  = sum(stateOperators[].commitTimeMs) — TASK-parallel ms
                across state partitions (one store per replay shuffle
                partition x stateful operators), reported
                separately because it is cumulative CPU, not wall: it
                shows how much of exec_wall is state-checkpoint work

Each op is sampled SAMPLES times; the table reports the median of every
column and the min-max of the op's wall time. Progress is read from a
StreamingQueryListener, drained with the listener bus's waitUntilEmpty.

Writes a marker-delimited section into SCALING.md. Run on an idle box:
    python tools/stream_cost_probe.py
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from erlang_mapreduce_spark.ckpt import release_transient_storage  # noqa: E402
from erlang_mapreduce_spark.registry import QUERIES  # noqa: E402
from erlang_mapreduce_spark.session import get_spark  # noqa: E402
from erlang_mapreduce_spark.streaming import streams  # noqa: E402

OPS = (
    "stream_stateful_dedup",
    "stream_watermark_late",
    "stream_minhash_dedup",
    "stream_stream_join",
    "stream_foreachbatch_upsert",
    "stream_kmv_distinct",
    "stream_token_budget",
    "stream_file_sink",
)
SAMPLES = 5

MARK_S, MARK_E = "<!-- stream-cost:start -->", "<!-- stream-cost:end -->"


@contextlib.contextmanager
def recorded_progress(spark):
    """Yield a list that collects the JSON progress of every micro-batch
    of every streaming query the body runs; the listener bus is drained
    before the body's exit returns, so the list is complete."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        yield progress
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)


def sample(spark, sf_dir: str, op: str) -> dict:
    """One timed run of ``op`` with its per-batch split."""
    with recorded_progress(spark) as prog:
        t0 = time.perf_counter()
        QUERIES[op](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
    release_transient_storage()
    tot = fixed = st_task = 0.0
    for p in prog:
        d = p.get("durationMs", {})
        t = d.get("triggerExecution", 0)
        tot += t
        fixed += t - d.get("addBatch", 0)
        st_task += sum(
            s.get("commitTimeMs", 0) for s in p.get("stateOperators", []) or []
        )
    n = len(prog)
    return {
        "wall": wall,
        "batches": n,
        "batch_ms": tot / n if n else 0.0,
        "fixed_ms": fixed,
        "exec_ms": tot - fixed,
        "state_task_ms": st_task,
        "fixed_pct": 100 * fixed / tot if tot else 0.0,
    }


def probe(spark, sf_dir: str) -> list[dict]:
    rows = []
    for op in OPS:
        runs = [sample(spark, sf_dir, op) for _ in range(SAMPLES)]
        row = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
        walls = [r["wall"] for r in runs]
        row.update(op=op, wall_min=min(walls), wall_max=max(walls))
        rows.append(row)
        print(json.dumps(row), flush=True)
    return rows


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stream-cost-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: one replay op at the smallest SF (JVM + codegen + chunk
    # materialization outside the measured region)
    QUERIES[OPS[0]](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    release_transient_storage()
    rows = probe(spark, sf_dir)
    width = streams._replay_width(spark)

    lines = [
        MARK_S,
        "",
        "## Streaming-replay fixed-cost split (tools/stream_cost_probe.py)",
        "",
        f"Measured on {os.cpu_count()} cores, master"
        f" `{spark.sparkContext.master}`, replay shuffle width {width}"
        " (one state store per width partition per stateful operator),"
        " checkpoints written through"
        f" `{streams._CHECKPOINT_MANAGER.rsplit('.', 1)[-1]}`.",
        "",
        "Per-micro-batch wall split from StreamingQueryProgress at sf0.1:",
        "`fixed` = driver-serial trigger planning + offset-log + WAL",
        "commit (per-batch constants); `exec` = addBatch wall (source",
        "read + plan execution + state checkpoint); `state task-ms` =",
        "cumulative state-store commit time across the state partitions",
        "(one store per core, at most the shuffle width, per stateful",
        "operator; task-parallel CPU inside exec, NOT wall —",
        "it shows how much of exec is state checkpointing when the data",
        "share is tiny). Fixed share at sf0.1 is the 4-5-chunk replay",
        "cadence's per-batch constant, and it does not simply amortize as",
        "batches carry more data: part of it is per checkpoint FILE (one",
        "offset-log and one commit-log entry per batch, one state-store",
        "delta per state partition per batch), so it scales with batches",
        "x state partitions, not rows. Through the default FileContext",
        "checkpoint manager on a host without native libhadoop, each such",
        "file also cost several chmod/stat subprocess launches; the",
        "FileSystem-based manager the drain uses cuts most of those. Exec",
        "minus state commit is what scales with volume.",
        "",
        f"Every column is the median of {SAMPLES} samples per op; the"
        " wall column adds the min-max over those samples.",
        "",
        "| op | wall (s), median (min-max) | batches | avg batch (ms) |"
        " fixed (ms) | exec (ms) | state (task-ms) | fixed % |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['op']} | {r['wall']:.2f} ({r['wall_min']:.2f}-"
            f"{r['wall_max']:.2f}) | {r['batches']:.0f} "
            f"| {r['batch_ms']:.0f} | {r['fixed_ms']:.0f} "
            f"| {r['exec_ms']:.0f} | {r['state_task_ms']:.0f} "
            f"| {r['fixed_pct']:.1f} |"
        )
    lines += [
        "",
        "Within the query, fixed-per-batch (driver planning/WAL plus one",
        "task wave of state-store commits per stateful operator)",
        "dominates exec because sf0.1 batches are tiny.",
        "stream_minhash_dedup is the exception: its exec is real",
        "banding/join/delta-read work, data-proportional. The",
        "foreachBatch ops (upsert, KMV, token budget) and the file sink",
        "keep no state store; their exec is the per-batch delta or file",
        "write.",
        "",
        "Chunk-cadence decision: the 4-quantile (+1 late/dup) replay is",
        "NOT a tunable batch size for these ops — it IS the semantics",
        "under test. stream_watermark_late needs the watermark to advance",
        "chunk-by-chunk so the late chunk arrives after eviction;",
        "stream_stateful_dedup needs the duplicate chunk to arrive in a",
        "LATER batch than its originals (in-batch dedup would not exercise",
        "the state store); stream_stream_join needs multiple batches so",
        "the interval state buffers and evicts across triggers;",
        "stream_minhash_dedup's contract is the cross-batch band index",
        "(each batch probes state built by earlier batches). Raising",
        "maxFilesPerTrigger to coalesce chunks would collapse each of",
        "these into the batch op and void the oracle's premise, so the",
        "per-batch fixed cost stays: its row-independent part grows with",
        "the number of checkpoint files, not with the data.",
        "",
        MARK_E,
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    with open(out) as f:
        text = f.read()
    block = "\n".join(lines)
    if MARK_S in text:
        text = text[: text.index(MARK_S)] + block + text[
            text.index(MARK_E) + len(MARK_E):
        ]
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(out, "w") as f:
        f.write(text)
    print("SCALING.md updated")


if __name__ == "__main__":
    main()
