#!/usr/bin/env python
"""Benchmark harness — the driver's per-round feedback loop.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a ``noop`` format write (full physical
execution, no driver collect — collecting large results is the reference's
own anti-pattern, mapreduce.erl:98). SparkSession startup and a tiny warmup
action are excluded, mirroring the baseline's exclusion of its one-time
file-split phase (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from erlang_mapreduce_spark import QUERIES  # noqa: E402
from erlang_mapreduce_spark.ckpt import release_transient_storage  # noqa: E402
from erlang_mapreduce_spark.session import get_spark  # noqa: E402
from erlang_mapreduce_spark.tables import load  # noqa: E402

# Headline set: one per engine pillar (flagship text workload, scans feed in
# implicitly, hash-agg, ratio-of-total, broadcast + shuffle + as-of joins,
# window frames, top-k, exact & near dedup, similarity, text analysis,
# windowed events) plus the LLM-pipeline north-star ops (ngram dedup,
# connected components, tfidf, dataset export, heavy hitters,
# decontamination, passage dedup, ANN search) so their wall-times get
# round-over-round regression tracking. Names are SURVEY.md §2.B op ids.
HEADLINE = (
    "text_bigram_freq",
    "agg_hash_count",
    "join_sortmerge",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_cluster_cc",
    "text_tfidf",
    "pipeline_dataset_export",
    "agg_heavy_hitters",
    "sim_search_ann",
    "pipeline_seq_pack",
    "text_unigram_logprob",
    "analytics_sessionize",
    "profile_columns",
    "graph_pagerank",
    "compact_small_files",
    "text_ngram_novelty",
    "sql_market_share",
    "analytics_transition_matrix",
    # round-8 additions (sketch + search family) — tracked from BENCH_r08
    # on; BENCH files before r08 lack these keys, so cross-round totals
    # compare the shared subset
    "agg_ngram_df_sketch",
    "text_novelty_sketch",
    "decontaminate_bloom",
    "agg_kmv_distinct",
    "graph_triangle_count",
    "sim_search_ivf",
    "sim_search_pq",
    "ts_motif_match",
    # round-9 additions
    "dedup_substring",
    "dedup_substring_scrub",
    # round-11 additions (the real-BPE tokenizer family)
    "text_bpe_tokenize",
    "bpe_train",
    "text_bpe_tokenize_trained",
    # round-12 additions: the byte-level production tokenizer and the
    # ingest-time budget accounting built on it
    "text_bpe_tokenize_bytes",
    "stream_token_budget",
)

# Timed every run and recorded in BENCH_local_detail.json, but NOT printed
# in the official JSON line: the driver captures only a bounded (~2,000
# char) tail of stdout, and 43 query keys pushed the r8 line to 1,186
# chars — one more round of additions would overflow the capture exactly
# the way BENCH_r03 was lost. These ops rotated out of the official line
# because they have been flat for 4+ rounds (sub-second, alpha ≈ 0 class);
# their regression tracking continues via the detail artifact.
TRACKED_ONLY = (
    "agg_multi",
    "agg_ratio_of_total",
    "join_broadcast",
    "join_asof",
    "win_frame",
    "topk",
    "sim_search",
    "text_quality_score",
    "stream_tumbling",
    "text_decontaminate",
    "dedup_passage",
    "agg_ngram_counts",
    "analytics_cohort_retention",
    "analytics_funnel",
    "analytics_active_users_7d",
    # round-12 additions: TPC-H Q18/Q20 shapes (sql_market_share already
    # represents the SQL pillar in the official line) and the exact
    # companion of agg_approx (an evidence harness, not a 100 TB plan)
    "sql_large_volume_customers",
    "sql_promo_part_suppliers",
    "sql_priority_pipeline",
    "sql_discounted_revenue",
    "sql_top_supplier",
    "sink_python_datasource",
    "scan_python_arrow",
    "agg_approx_exact",
    # byte-level training twins: sample-bounded like bpe_train, and the
    # trained-bytes tokenize plan is text_bpe_tokenize_bytes's (already
    # in the official line) plus the bounded collect
    "bpe_train_bytes",
    "text_bpe_tokenize_trained_bytes",
    # round-13 additions: the raw-web front door, the capstone chain, the
    # three new TPC-H shapes (Q6/Q10/Q9), sentence segmentation, and the
    # bigram-LM perplexity gate
    "text_html_extract",
    "pipeline_pretrain_e2e",
    "sql_forecast_revenue",
    "sql_returned_items",
    "sql_product_profit",
    "text_sentence_split",
    "text_lm_perplexity",
    # round-14 additions: SemDeDup cluster-then-prune semantic dedup and
    # DSIR importance resampling
    "dedup_semantic",
    "sample_dsir",
    # round-15 additions: the model-based quality classifier and the
    # Gopher rule battery
    "quality_classifier_score",
    "text_gopher_rules",
    "dedup_lines_global",
)

# Timing methodology, recorded in the output so cross-round comparisons can
# normalize: r01 = single pass, r02 = best-of-2, r03-r13 = median-of-3
# consecutive passes, r14 = median-of-5 INTERLEAVED passes (round-robin
# over the full op set, so a transient machine-level stall — GC, page
# cache eviction, a noisy neighbor on the shared 32-thread JVM — lands in
# one pass of MANY ops instead of poisoning 2 of one op's 3 consecutive
# passes; the r13 bench showed 7× pass spread on untouched ops under the
# consecutive scheme), r15+ = the same plus ADAPTIVE extension: any op
# whose 5-pass IQR exceeds 25% of its median gets 2 more interleaved
# passes and reports the median of 7 (r14 VERDICT task 2 — the official
# spread target is iqr_pct_med ≤ 15, iqr_pct_max ≤ 30), r16+ = a SECOND
# escalation tier (any op still over 30% after 7 passes gets 2 more →
# median of 9; a HEADLINE op still over 30% after 9 is re-measured by
# tools/isolated_timing.py in a fresh subprocess JVM after the bench
# session stops, and that fresh isolated median becomes the official
# cell, disclosed in the official line under "isolated_substituted" —
# r15 VERDICT task 5: the
# official artifact shipped iqr_pct_max 30.4 against the ≤30 bar), and
# r16 also samples cpu_ref_sec as a STATISTIC — one probe before the
# timed passes and one after EVERY pass (main, stall-rerun, extension),
# median reported, all samples persisted (r15 VERDICT task 2: a single
# pre-pass sample swung −33% between rounds and poisoned the normalized
# chain). r17 (r16 VERDICT what's-wrong #4): the iso fallback no longer
# SUBSTITUTES the fresh-JVM median into the official cell — substituting
# a fresh-JVM number into a suite-context column mixes two populations
# and manufactured a phantom −28% on pipeline_seq_pack in r16 (in-suite
# 0.935 vs substituted 1.337); the official cell stays the in-suite
# median and the isolated re-measure is DISCLOSED ALONGSIDE under
# "isolated_check" as {op: [in_suite, isolated]}, so cross-round
# comparisons are like-for-like and the ambient-vs-code question is
# still answerable from the artifact. r17 also times one COLD (shared
# caches cleared) invocation per shared-cache consumer after the timed
# passes (r16 VERDICT task 2) — headline cells stay warm-context, but
# the one-time shared build cost is now visible per round under
# "shared_cold"/"cold_over_warm" so optimization deltas cannot hide in
# the untimed warmup — and embeds each tail-sweep adjudication value in
# the OFFICIAL line's sweep_reg as [prev, flagged, adjudicated]
# (r16 VERDICT task 5: the 32-core artifact shipped flags whose
# exonerating evidence the next detail-file rewrite destroyed). Two
# machine-noise
# guards complete the instrument: an UNTIMED pass at the bench SF
# before timing (page-cache warm — cold sf0.1 reads ran pass 0 at ~1.5x
# steady state) and STALLED-PASS rejection (a pass whose all-op total
# exceeds 1.4x the median pass total is discarded and rerun, ≤3 times —
# one ambient stall on this shared VM poisoned 14 ops' spreads in the
# first r15 run; r16 extends the same check to the ADAPTIVE extension
# passes — r15 ADVICE item 3: an ambient stall landing in an unguarded
# extension pass re-poisoned exactly the high-IQR ops the median-of-7
# was meant to stabilize). Per-op spread is recorded as the interpolated IQR of
# all passes in BENCH_local_detail.json.
METHODOLOGY = "median-of-5-interleaved+adaptive-9+iso-check"
N_PASSES = 5


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    all_ops = HEADLINE + TRACKED_ONLY
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local_detail.json"
    )
    # Read the PRIOR artifact before anything writes it: the regression
    # screen compares this run's sweep against the previous round's cells,
    # and the isolated re-timings must survive the rewrite.
    prior: dict = {}
    try:
        with open(detail_path) as f:
            prior = json.load(f)
    except (OSError, ValueError):
        pass
    prev_sweep: dict[str, float] = (
        dict(prior["sweep"]) if isinstance(prior.get("sweep"), dict) else {}
    )

    # Full-registry tail sweep FIRST, in a fresh subprocess JVM, BEFORE the
    # bench JVM exists (r14 VERDICT task 1 — the r14 run swept AFTER the
    # 5-pass bench session and the shared-VM context inflated 22 cells >2x;
    # fresh-session re-measures matched the prior round, but the inflated
    # numbers were what got recorded).
    import subprocess

    sweep_rc = None
    tail = [op for op in QUERIES if op not in set(all_ops)]
    if os.environ.get("SPARK_GRAFT_SWEEP", "1") == "1":
        sweep_rc = subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "tools", "registry_sweep.py"), *tail],
            capture_output=True, text=True,
        ).returncode

    spark = get_spark("bench")
    # Warmup: run the headline set once at the smallest SF to trigger JVM
    # class loading + whole-stage codegen for each plan shape, outside the
    # timed region (the baseline likewise excludes its one-time split phase,
    # BASELINE.md). Falls back to the bench dir if sf0.001 is absent.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    load(spark, sf_dir, "lineitem").limit(1).count()
    for name in all_ops:
        _force(QUERIES[name](spark, warm_dir))
    # One UNTIMED pass at the bench SF: the sf0.001 warmup covers JVM +
    # codegen but leaves the sf0.1 parquet page-cache cold, and the r15
    # run measured pass 0 at ~1.5x steady state from cold reads alone —
    # a systematic bias the median mostly hides but the IQR reports.
    for name in all_ops:
        _force(QUERIES[name](spark, sf_dir))
        release_transient_storage()

    # CPU reference: a fixed pure-JVM whole-stage-codegen job (no I/O, no
    # Python) timed alongside the queries. The r14 adjudication found
    # round-over-round totals drift ~1.2-1.9x from AMBIENT machine speed
    # on this shared VM (identical code, isolated sessions, different
    # days) — dividing a round's total by its cpu_ref_sec removes that
    # factor before cross-round comparisons. r16 (r15 VERDICT task 2):
    # cpu_ref is a SAMPLED STATISTIC, not one pre-pass probe — one sample
    # before the timed passes plus one after EVERY pass (main,
    # stall-rerun, extension), interleaved through the whole run exactly
    # like the queries it normalizes; the official scalar is the median
    # and every sample is persisted so the error bar is measured, not
    # asserted (r15's single sample swung 0.415→0.28 between official
    # runs while raw totals moved −13%, flipping the normalized chain).
    cpu_ref_samples: list[float] = []

    def _sample_cpu_ref() -> None:
        t0 = time.perf_counter()
        spark.range(1_500_000_000).selectExpr("sum(id * 3 + 1)").collect()
        cpu_ref_samples.append(round(time.perf_counter() - t0, 3))

    # one untimed warm run (codegen for the ref plan), then the first sample
    spark.range(1_500_000_000).selectExpr("sum(id * 3 + 1)").collect()
    _sample_cpu_ref()

    def _median(ts: list[float]) -> float:
        s = sorted(ts)
        n = len(s)
        if n % 2:
            return s[n // 2]
        return round((s[n // 2 - 1] + s[n // 2]) / 2, 3)

    def _iqr(ts: list[float]) -> float:
        s = sorted(ts)
        n = len(s)

        def q(p: float) -> float:
            idx = p * (n - 1)
            lo = int(idx)
            hi = min(lo + 1, n - 1)
            return s[lo] + (s[hi] - s[lo]) * (idx - lo)

        return round(q(0.75) - q(0.25), 3)

    # Timed passes, with STALLED-PASS REJECTION: the per-pass total over
    # all ops is an op-independent machine-health signal on this shared
    # VM (the r15 run caught one pass at 214 s vs ~95 s steady — a single
    # ambient stall poisoned 14 ops' spreads at once). A pass whose total
    # exceeds 1.4x the median pass total is discarded and rerun, at most
    # 3 times; the methodology string discloses the rule.
    pass_rows: list[dict[str, float]] = []

    def _run_pass(ops) -> dict[str, float]:
        row: dict[str, float] = {}
        for name in ops:
            t0 = time.perf_counter()
            _force(QUERIES[name](spark, sf_dir))
            row[name] = round(time.perf_counter() - t0, 3)
            release_transient_storage()
        return row

    for _ in range(N_PASSES):
        pass_rows.append(_run_pass(all_ops))
        _sample_cpu_ref()
    stalled_reruns = 0
    while stalled_reruns < 3:
        totals = [sum(r.values()) for r in pass_rows]
        med_tot = sorted(totals)[len(totals) // 2]
        bad = [i for i, t in enumerate(totals) if t > 1.4 * med_tot]
        if not bad:
            break
        worst_i = max(bad, key=lambda i: totals[i])
        pass_rows[worst_i] = _run_pass(all_ops)
        _sample_cpu_ref()
        stalled_reruns += 1

    passes: dict[str, list[float]] = {
        name: [r[name] for r in pass_rows] for name in all_ops
    }

    # Adaptive spread control (r14 VERDICT task 2 + r15 task 5 + r15
    # ADVICE item 3): extension passes now carry the SAME stalled-pass
    # guard as the main 5 — a subset pass whose total exceeds 1.4x the
    # median subset total (from the accepted main passes) is discarded
    # and rerun instead of poisoning exactly the high-IQR ops the
    # escalation exists to stabilize. Every extension pass (kept or
    # discarded) lands in ext_pass_totals so a stall is visible in the
    # artifact either way.
    ext_pass_totals: list[dict] = []

    def _ext_passes(ops: list[str], n_ext: int) -> None:
        if not ops:
            return
        sub_med = sorted(
            sum(r[o] for o in ops) for r in pass_rows
        )[len(pass_rows) // 2]
        done, attempts = 0, 0
        while done < n_ext and attempts < n_ext + 3:
            attempts += 1
            row = _run_pass(ops)
            _sample_cpu_ref()
            tot = round(sum(row.values()), 3)
            stalled = tot > 1.4 * sub_med
            ext_pass_totals.append(
                {"ops": len(ops), "total": tot,
                 "median_subset_total": round(sub_med, 3),
                 "stalled_discarded": stalled}
            )
            if stalled:
                continue
            for o in ops:
                passes[o].append(row[o])
            done += 1

    def _spread_pct_of(n: str) -> float:
        med = _median(passes[n])
        return 100.0 * _iqr(passes[n]) / med if med > 0 else 0.0

    # tier 1: >25% after 5 passes → 2 more (median of 7)
    _ext_passes([n for n in all_ops if _spread_pct_of(n) > 25.0], 2)
    # tier 2 (r15 VERDICT task 5): still >30% after 7 → 2 more (median
    # of 9), so the official iqr_pct_max target ≤30 is enforced by the
    # instrument rather than hoped for
    _ext_passes([n for n in all_ops if _spread_pct_of(n) > 30.0], 2)
    timings = {n: _median(ts) for n, ts in passes.items()}
    iqr = {n: _iqr(ts) for n, ts in passes.items()}

    # Cold first-invocation probes for the shared-cache consumers (r16
    # VERDICT task 2): every op below reads at least one table built via
    # ckpt.shared_checkpoint (gram sets, member map, jaccard pairs,
    # substring spans), so its warm official cell NEVER includes the
    # one-time shared build — the untimed warmup pays it. One probe per
    # op, shared caches cleared first, makes the build-inclusive cost a
    # per-round measured figure: an "optimization" that merely moves work
    # into the shared build now shows up as a rising cold/warm ratio.
    # Probes run AFTER the timed passes so cache-clearing cannot poison
    # an official cell, in the same (warm-JVM) session so cold isolates
    # the cache state, not JVM startup.
    from erlang_mapreduce_spark.ckpt import release_shared

    SHARED_CONSUMERS = (
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_cluster_cc",
        "dedup_substring",
        "dedup_substring_scrub",
        "graph_triangle_count",
    )
    shared_cold: dict[str, dict[str, float]] = {}
    for name in SHARED_CONSUMERS:
        release_shared()
        release_transient_storage()
        t0 = time.perf_counter()
        _force(QUERIES[name](spark, sf_dir))
        cold = round(time.perf_counter() - t0, 3)
        release_transient_storage()
        warm = timings.get(name)
        shared_cold[name] = {"cold": cold, "warm": warm}

    # last resort (r15 VERDICT task 5 as amended by r16 what's-wrong #4):
    # a HEADLINE op still over 30% after 9 passes is re-measured by
    # tools/isolated_timing.py in a FRESH subprocess JVM — the bench
    # session is stopped first (the r15 adjudication lesson: a live
    # 32-thread JVM inflated a 3 s op to 26 s). The fresh median is
    # DISCLOSED alongside the in-suite median ("isolated_check"), never
    # substituted into the official cell: substituting mixed two
    # populations and manufactured a phantom −28% regression on
    # pipeline_seq_pack in r16. Never a stale prior-round isolated
    # value: ambient machine speed drifts round-to-round (see
    # cpu_ref_samples), so only a same-run re-measure is comparable.
    noisy_final = [
        n for n in HEADLINE
        if timings[n] > 0 and 100.0 * iqr[n] / timings[n] > 30.0
    ]
    isolated_check: dict[str, list[float]] = {}
    iso_merged: dict | None = None
    if noisy_final and os.environ.get("SPARK_GRAFT_SWEEP", "1") == "1":
        spark.stop()
        subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "tools", "isolated_timing.py"), *noisy_final],
            capture_output=True, text=True,
        )
        try:
            with open(detail_path) as f:
                iso_merged = json.load(f).get("isolated", {})
        except (OSError, ValueError):
            iso_merged = None
        for n in noisy_final:
            iso = (iso_merged or {}).get(n)
            if isinstance(iso, dict) and iso.get("median"):
                isolated_check[n] = [timings[n], iso["median"]]

    cpu_ref = _median(cpu_ref_samples)

    # The driver captures only a bounded tail of stdout, so the official
    # line must stay COMPACT: medians only, HEADLINE ops only (TRACKED_ONLY
    # medians live in the detail artifact). Full per-pass detail goes to a
    # local artifact instead (BENCH_r03 lesson: the passes dict pushed the
    # line past the driver's tail capture and the round's official perf
    # record parsed as null).
    official = {k: timings[k] for k in HEADLINE}
    total = round(sum(official.values()), 3)
    # per-op spread as % of the median, so the official line carries the
    # instrument's error bar (r13 VERDICT task 2) in two scalars instead of
    # a line-busting dict
    spread_pct = sorted(
        round(100.0 * iqr[n] / timings[n], 1) if timings[n] > 0 else 0.0
        for n in HEADLINE
    )
    compact = {
        # r11 rename (was headline_queries_total_wall): the r9 basis change
        # shrank the summed set from 43 to 30 ops while keeping the key, so
        # raw cross-round value-vs-value reads showed a spurious ~30%
        # improvement. The op count now lives IN the key — any consumer
        # comparing totals across a basket change fails loudly on the key
        # mismatch instead of silently comparing different baskets.
        "metric": f"headline{len(official)}_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(official),
        "queries": official,
        "methodology": METHODOLOGY,
        "iqr_pct_med": spread_pct[len(spread_pct) // 2],
        "iqr_pct_max": spread_pct[-1],
        "cpu_ref_sec": cpu_ref,
        "cpu_ref_n": len(cpu_ref_samples),
        "cpu_ref_iqr_pct": (
            round(100.0 * _iqr(cpu_ref_samples) / cpu_ref, 1)
            if cpu_ref else None
        ),
        "sf": sf,
    }
    if isolated_check:
        # disclosure: {op: [official in-suite median, fresh-JVM isolated
        # median]} — the official cell is the FIRST element (no
        # substitution; see the methodology note)
        compact["isolated_check"] = isolated_check
    # VERDICT-checkable cold/warm ratio per shared-cache consumer in the
    # official line (compact — the full {cold, warm} dict is in detail)
    compact["cold_over_warm"] = {
        n: round(v["cold"] / v["warm"], 2)
        for n, v in shared_cold.items()
        if v["warm"]
    }
    detail = {**compact, "tracked_only": {k: timings[k] for k in TRACKED_ONLY},
              "passes": passes, "iqr": iqr,
              "stalled_pass_reruns": stalled_reruns,
              "cpu_ref_samples": cpu_ref_samples,
              "ext_passes": ext_pass_totals,
              "shared_cold": shared_cold}
    # preserve per-op isolated re-timings (tools/isolated_timing.py,
    # "isolated") across full-bench rewrites, so drift adjudications and
    # tail-op evidence stay next to the medians; if the iso-fallback just
    # re-measured, its merged dict (prior + this run's fresh values) wins
    if iso_merged is not None:
        detail["isolated"] = iso_merged
    elif "isolated" in prior:
        detail["isolated"] = prior["isolated"]

    # The full-registry tail sweep already ran in a fresh subprocess BEFORE
    # this JVM started (top of main — r13 VERDICT task 6 established the
    # sweep, r14's run proved it must not share a session with the 5-pass
    # bench: post-bench context inflated 22 cells >2x). Read its cells back,
    # overlay this run's medians for the bench-set ops (strictly better
    # evidence), then screen vs the PREVIOUS round's cells.
    tail_set = set(tail)
    try:
        with open(detail_path) as f:
            swept = json.load(f)
        tail_sweep = {
            op: t for op, t in swept.get("sweep", {}).items()
            if op in tail_set
        }
        detail["sweep_meta"] = swept.get("sweep_meta", {})
    except (OSError, ValueError):
        tail_sweep = {}
    detail["sweep"] = {**tail_sweep, **timings}
    detail.setdefault("sweep_meta", {})["methodology"] = (
        "tail: single warmed pass in a FRESH subprocess JVM run BEFORE "
        f"the bench JVM (screen only; rc={sweep_rc}); bench-set ops: "
        f"{METHODOLOGY} medians from this run"
    )
    regressions = {
        op: [prev_sweep[op], t]
        for op, t in detail["sweep"].items()
        # prev > 0 guards the ratio sort key below: a 0.0 prior cell
        # (sub-ms op rounded to 3 decimals) is not a regression signal
        # and would raise ZeroDivisionError at the end of a full run
        if op in prev_sweep
        and prev_sweep[op] > 0
        and t > 0.5
        and t >= 2.0 * prev_sweep[op]
    }
    worst = sorted(
        regressions, key=lambda o: -regressions[o][1] / regressions[o][0]
    )[:5]
    compact["sweep_reg"] = {o: regressions[o] for o in worst}
    detail["sweep_reg"] = regressions

    # Adjudicate EVERY flagged cell (r14 VERDICT task 1): re-measure each
    # in one more fresh subprocess JVM and PERSIST the re-measures under
    # "adjudication" — the verdict's complaint was that r14's adjudication
    # was asserted in a commit message but recorded nowhere.
    detail["adjudication"] = {}
    if regressions and os.environ.get("SPARK_GRAFT_SWEEP", "1") == "1":
        # Stop the bench session FIRST: the r15 run adjudicated with the
        # 32-thread bench JVM still alive and the contention inflated a
        # 3 s op to 26 s — the adjudication must measure a quiet machine.
        spark.stop()
        subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "tools", "registry_sweep.py"),
             "--key=adjudication", *sorted(regressions)],
            capture_output=True, text=True,
        )
        try:
            with open(detail_path) as f:
                detail["adjudication"] = json.load(f).get("adjudication", {})
        except (OSError, ValueError):
            pass
        # Embed each adjudication IN the official artifact next to its
        # flag (r16 VERDICT task 5): the detail file is single-slot — the
        # r16 8-core run's rewrite destroyed the 32-core run's
        # exonerating evidence — so the official line's sweep_reg rows
        # become [prev, flagged, adjudicated] and survive with the round.
        for o in list(compact["sweep_reg"]):
            adj = detail["adjudication"].get(o)
            if adj is not None:
                compact["sweep_reg"][o] = compact["sweep_reg"][o][:2] + [adj]
        for o in list(detail["sweep_reg"]):
            adj = detail["adjudication"].get(o)
            if adj is not None:
                detail["sweep_reg"][o] = detail["sweep_reg"][o][:2] + [adj]

    # Normalized cross-round table (r14 VERDICT task 1): official totals
    # divided by each round's cpu_ref_sec, so ambient shared-VM speed drops
    # out of round-over-round comparisons. Rounds before r14 lack a
    # cpu_ref_sec and appear with normalized=null.
    rounds: dict[str, dict] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for fn in sorted(os.listdir(here)):
        m2 = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if not m2:
            continue
        try:
            with open(os.path.join(here, fn)) as f:
                parsed = json.load(f).get("parsed") or {}
        except (OSError, ValueError):
            continue
        val, ref = parsed.get("value"), parsed.get("cpu_ref_sec")
        if val is None:
            continue
        rounds[f"r{int(m2.group(1)):02d}"] = {
            "metric": parsed.get("metric"),
            "total": val,
            "cpu_ref_sec": ref,
            "normalized": round(val / ref, 1) if ref else None,
        }
    rounds["this_run"] = {
        "metric": compact["metric"],
        "total": total,
        "cpu_ref_sec": cpu_ref,
        "cpu_ref_n": len(cpu_ref_samples),
        "cpu_ref_iqr_pct": compact["cpu_ref_iqr_pct"],
        "normalized": round(total / cpu_ref, 1) if cpu_ref else None,
    }
    rounds["note"] = (
        "from r16 cpu_ref_sec is the MEDIAN of one probe per pass "
        "(samples persisted under cpu_ref_samples; relative IQR in "
        "cpu_ref_iqr_pct), so this_run's normalized total carries a "
        "MEASURED error bar of about its cpu_ref_iqr_pct. Rounds r14-r15 "
        "used a single pre-pass sample, which swung up to ±33% between "
        "official runs (the r15 normalized 'regression' was the "
        "normalizer, not the engine) — treat pre-r16 normalized cells as "
        "±~15-30% and compare trends, not single cells"
    )
    detail["normalized_rounds"] = rounds

    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
