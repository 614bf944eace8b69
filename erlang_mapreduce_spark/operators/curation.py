"""Training-data curation operators over `documents` — the decontamination
and fine-grained dedup passes a 100 TB LLM pipeline runs between corpus
cleaning and export (north-star extensions beyond SURVEY.md §2.B; the
reference's own domain is word-level text processing, mapreduce.erl:260-295,
generalized here to corpus hygiene).

- text_decontaminate: drop/flag training docs sharing word n-grams with a
  held-out eval set — the standard benchmark-contamination guard. The eval
  gram set is tiny → broadcast; the corpus side stays a narrow scan.
- dedup_passage: position-chunked passage-level exact dedup (keep the
  globally-first occurrence of every repeated passage, reassemble docs) —
  finer than doc-level dedup_exact, coarser than span-level below.
- dedup_span_rolling: rolling fixed-width token-window duplicate detection
  (the signal behind exact-substring dedup à la "Deduplicating Training
  Data Makes Language Models Better"): per-doc count + fraction of
  duplicated windows, intra- and inter-document.
- sample_quality_weighted: deterministic quality-weighted sampling — keep
  probability scales with a quality proxy, decided by an md5-derived
  uniform so both engines (and any two runs) agree bit-for-bit.

All four are single-shuffle shapes: gram/passage/window streams are
generated narrowly per row (explode of a per-doc transform), meet exactly
one hash exchange (broadcast join, window count, or groupBy), and reduce
back to per-doc rows.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exact import md5_prefix_int
from ..registry import query
from ..tables import load, scan_parallel

EVAL_MAX_DOC = 10  # doc_id < 10 = the held-out eval set
DECON_N = 5  # word n-gram width for contamination matching

# Deterministic per-doc uniform in [0, 1): first 8 md5 hex digits of the
# id, scaled — NOT rand(): the same row gets the same draw in both engines,
# every run, any partitioning. _MD5_UNIFORM_SQL is the DuckDB twin of the
# Spark expression; they encode ONE device — edit them together.
_MD5_UNIFORM_SQL = (
    "CAST('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT)"
    " / 4294967296.0"
)


def _md5_uniform(col: Column) -> Column:
    return md5_prefix_int(col, 8).cast("double") / F.lit(4294967296.0)


def _word_ngrams(ws: Column, n: int) -> Column:
    """Positional (overlapping, repeat-preserving) word n-grams of a token
    array, space-joined; empty array when the doc is shorter than n — the
    ONE sliding-gram generator for every such op in this module (span
    windows, LM n-gram counts, repetition bigrams). Its DuckDB twin is the
    ``ws[i : i+n-1]`` slice-over-range idiom in the corresponding oracles;
    each engine/oracle pair is hash-tested, so a semantic change here
    fails every dependent oracle test instead of drifting silently."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _feature_words(text: Column) -> Column:
    """The hashed-feature tokenizer shared by DSIR and the classifier:
    lower, split on ``\\s+``, drop empty words — the ``toks`` CTE of
    `_hashed_feats_ctes` on the DuckDB side."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0)


_TOKS_CTE = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
    FROM documents
)
"""


@query(
    "text_decontaminate",
    oracle=f"""
{_TOKS_CTE.strip()},
grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {DECON_N} - 1 AS INTEGER)], ' ') AS gram
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {DECON_N} + 2)) AS i
          FROM toks)
),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id < {EVAL_MAX_DOC}),
sh AS (
    SELECT g.doc_id, count(*) AS n
    FROM grams g JOIN ev USING (gram)
    WHERE g.doc_id >= {EVAL_MAX_DOC}
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(sh.n, 0) AS BIGINT) AS n_shared_grams,
       coalesce(sh.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id
WHERE d.doc_id >= {EVAL_MAX_DOC}
""",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least one word {DECON_N}-gram with the held-out eval set (doc_id <
    EVAL_MAX_DOC stands in for the benchmark corpus). Gram sets are built
    narrowly per doc (array_distinct(transform(...)), no shuffle — same
    shape as dedup's _doc_gram_sets) and hashed to 8-byte longs; the eval
    gram set is DISTINCT and tiny relative to the corpus, so the
    membership test is a broadcast semi-join against the streaming train
    side — at 100 TB the corpus is scanned exactly once and never
    shuffled. The oracle joins raw gram strings; xxhash64 equality is
    collision-equivalent up to 2^-64."""
    from ..ckpt import (
        guard_result,
        pooled_checkpoint,
        release_transient_storage,
    )
    from .dedup import _doc_gram_sets

    release_transient_storage()  # free the previous invocation's blocks
    docs = scan_parallel(load(spark, sf_dir, "documents"))
    # three consumers (eval grams + train explode + train doc_ids):
    # materialize once as a pooled checkpoint; raw-scan input, so
    # parallelism is restored before the narrow build
    sets = pooled_checkpoint(
        _doc_gram_sets(docs, n=DECON_N), "decon_gram_sets"
    )
    ev_grams = (
        sets.filter(F.col("doc_id") < EVAL_MAX_DOC)
        .select(F.explode("ghs").alias("gh"))
        .distinct()
    )
    train = sets.filter(F.col("doc_id") >= EVAL_MAX_DOC)
    shared = (
        train.select("doc_id", F.explode("ghs").alias("gh"))
        .join(F.broadcast(ev_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return guard_result(
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


BLOOM_M = 4096  # bloom filter size in bits (64 longs)
BLOOM_K = 3  # hash probes per gram
_BLOOM_P = 2147483647  # dedup.MERSENNE_P, literal for the SQL


@query(
    "decontaminate_bloom",
    oracle=f"""
{_TOKS_CTE.strip()},
grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {DECON_N} - 1 AS INTEGER)], ' ') AS gram
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {DECON_N} + 2)) AS i
          FROM toks)
),
h AS (
    SELECT doc_id, gram,
           ('0x' || substr(md5(gram), 1, 15))::BIGINT % {_BLOOM_P} AS a,
           (('0x' || substr(md5(gram), 16, 15))::BIGINT % {_BLOOM_P - 1}) + 1 AS b
    FROM grams
),
cells AS (
    SELECT doc_id, gram, k.k AS k, ((a + k.k * b) % {_BLOOM_P}) % {BLOOM_M} AS bit
    FROM h CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k) k
),
bits AS (SELECT DISTINCT bit FROM cells WHERE doc_id < {EVAL_MAX_DOC}),
hit AS (
    SELECT c.doc_id, c.gram
    FROM cells c JOIN bits USING (bit)
    WHERE c.doc_id >= {EVAL_MAX_DOC}
    GROUP BY 1, 2 HAVING count(*) = {BLOOM_K}
),
n AS (SELECT doc_id, count(*) AS n FROM hit GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(n.n, 0) AS BIGINT) AS n_flagged_grams,
       coalesce(n.n, 0) > 0 AS contaminated_bloom
FROM documents d LEFT JOIN n USING (doc_id)
WHERE d.doc_id >= {EVAL_MAX_DOC}
""",
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_decontaminate answered through a BLOOM FILTER of the eval
    gram set — the sublinear swap a 100 TB deployment runs when the
    held-out corpus itself is large: the probe structure is a FIXED
    BLOOM_M-bit bitset (512 bytes here) regardless of eval size, built
    with one tiny aggregate, OR-mergeable across eval shards, and
    embedded as a 64-long literal array so the MEMBERSHIP TEST itself is
    a pure narrow projection over the rep gram sets — no probe-side join
    against the eval set, no per-doc groupBy (both of which the exact op
    needs). The op's remaining joins are the rep-collapse bookkeeping
    (eval-group semi-join, member expansion), not probe work.

    Bloom guarantee, pinned locally against text_decontaminate: no
    false NEGATIVES — every truly contaminated doc is flagged
    (contaminated ⇒ contaminated_bloom) and n_flagged_grams ≥
    n_shared_grams; false positives are the documented price (k=3,
    m=4096 ⇒ ~3% per-gram FP at the fixture's eval load). The k bit
    positions come from the same md5 double-hash family as the CM
    sketch (Kirsch-Mitzenmacher (a + k·b) mod p), so the 'approximate'
    answer is a deterministic function of the data and the DuckDB
    oracle hash-checks it EXACTLY.

    The .collect() pulls only distinct SET BIT positions — bounded by
    BLOOM_M = 4096 ints at any corpus size (the same bounded-accounting
    class as the IVF training sample).

    Gram hashing runs over verbatim REPRESENTATIVES only (round 9 — the
    md5 per gram per doc was the probe pass's whole cost, alpha ~0.4 on
    the replica probe): identical texts have identical gram sets, so the
    eval bitset ORs the sets of every group with >= 1 eval-side member
    (doc_id < EVAL_MAX_DOC — groups may straddle the split; the semi-join
    runs BEFORE gram hashing so the bitset pass hashes only eval groups)
    and the per-rep flag count expands to the group's train-side members
    through one members-side equi-join — the price of the collapse is
    that join plus the shared _verbatim_reps build; the train probe
    itself remains a narrow projection over the rep gram sets."""
    from .dedup import _doc_gram_sets_md5, _shared_members, _shared_rep_docs

    members = _shared_members(spark, sf_dir)
    rep_docs = _shared_rep_docs(spark, sf_dir)
    gr = F.explode(F.arrays_zip("ghs", "gh2s")).alias("g")
    a = F.col("g.ghs") % F.lit(_BLOOM_P)
    b = (F.col("g.gh2s") % F.lit(_BLOOM_P - 1)) + F.lit(1)
    karr = F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
        lambda k: (a + k.cast("bigint") * b) % _BLOOM_P % BLOOM_M,
    )
    eval_reps = (
        members.filter(F.col("doc_id") < EVAL_MAX_DOC)
        .select(F.col("rep_id").alias("doc_id"))
        .distinct()
    )
    ev_bits = sorted(
        r.bit
        for r in _doc_gram_sets_md5(
            rep_docs.join(eval_reps, "doc_id", "semi"), n=DECON_N
        )
        .select(gr)
        .select(F.explode(karr).alias("bit"))
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_M // 64)
    for bit in ev_bits:
        words[bit >> 6] |= 1 << (bit & 63)
    # signed-long literal fold (Python ints > 2^63-1 won't fit LongType)
    warr = F.array(
        *[F.lit(w - (1 << 64) if w >= 1 << 63 else w).cast("long")
          for w in words]
    )

    def _bit_set(bit: Column) -> Column:
        word = F.element_at(warr, F.shiftright(bit, 6).cast("int") + 1)
        return F.bit_get(word, bit % 64) == 1

    def _probe(g: Column) -> Column:
        pa = g["ghs"] % F.lit(_BLOOM_P)
        pb = (g["gh2s"] % F.lit(_BLOOM_P - 1)) + F.lit(1)
        ok = F.lit(True)
        for k in range(BLOOM_K):
            ok = ok & _bit_set((pa + F.lit(k) * pb) % _BLOOM_P % BLOOM_M)
        return ok

    n_flagged = F.size(F.filter(F.arrays_zip("ghs", "gh2s"), _probe))
    rep_flag = _doc_gram_sets_md5(rep_docs, n=DECON_N).select(
        F.col("doc_id").alias("rep_id"),
        n_flagged.cast("long").alias("n_flagged_grams"),
        (n_flagged > 0).alias("contaminated_bloom"),
    )
    train_members = members.filter(F.col("doc_id") >= EVAL_MAX_DOC)
    return train_members.join(rep_flag, "rep_id").select(
        "doc_id", "n_flagged_grams", "contaminated_bloom"
    )


PASSAGE_W = 8  # tokens per passage chunk


@query(
    "dedup_passage",
    oracle=f"""
{_TOKS_CTE.strip()},
p AS (
    SELECT doc_id, CAST(i AS BIGINT) AS idx,
           array_to_string(
               ws[CAST(i * {PASSAGE_W} + 1 AS INTEGER):CAST((i + 1) * {PASSAGE_W} AS INTEGER)],
               ' ') AS passage
    FROM (SELECT doc_id, ws,
                 unnest(range(0, CAST(ceil(len(ws) / {PASSAGE_W}.0) AS BIGINT))) AS i
          FROM toks)
),
f AS (
    SELECT doc_id, idx, passage,
           row_number() OVER (PARTITION BY passage ORDER BY doc_id, idx) AS rn
    FROM p
)
SELECT doc_id,
       count(*) AS n_passages,
       CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dup_passages,
       coalesce(string_agg(passage, ' ' ORDER BY idx) FILTER (rn = 1), '')
           AS clean_text
FROM f GROUP BY doc_id
""",
)
def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: chunk every document into fixed
    PASSAGE_W-token passages, keep only the globally-FIRST occurrence of
    each repeated passage (ordered by doc_id, then position), and
    reassemble the surviving text per document — the mid-granularity pass
    between doc-level dedup_exact and span-level dedup_span_rolling
    (boilerplate headers/footers dominate real corpora and live exactly
    here). Passage generation is narrow (explode of a per-row transform);
    first-occurrence ranking is ONE hash exchange keyed on the passage;
    reassembly is one groupBy doc with an order-restoring
    array_sort(collect_list(struct(idx, …))) — collection order never
    matters. At 100 TB the passage exchange keys on an 8-byte xxhash of
    the passage instead of the string (same trick as dedup_ngram_jaccard);
    here the raw string keeps the DuckDB oracle exact."""
    toks = scan_parallel(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("ws")
    )
    p = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ws") / F.lit(PASSAGE_W)).cast("long") - 1,
                ),
                lambda i: F.struct(
                    i.cast("long").alias("idx"),
                    F.array_join(
                        F.slice("ws", i * PASSAGE_W + 1, PASSAGE_W), " "
                    ).alias("passage"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.idx", "c.passage")
    rn = F.row_number().over(
        Window.partitionBy("passage").orderBy("doc_id", "idx")
    )
    f = p.withColumn("rn", rn)
    return f.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_passages"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") == 1, F.struct("idx", "passage")
                        )
                    )
                ),
                lambda x: x["passage"],
            ),
            " ",
        ).alias("clean_text"),
    )


SPAN_W = 8  # rolling window width (tokens)


@query(
    "dedup_span_rolling",
    oracle=f"""
{_TOKS_CTE.strip()},
w AS (
    SELECT doc_id,
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {SPAN_W} - 1 AS INTEGER)], ' ') AS win
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {SPAN_W} + 2)) AS i
          FROM toks)
),
c AS (SELECT doc_id, count(*) OVER (PARTITION BY win) AS occ FROM w)
SELECT doc_id,
       count(*) AS n_windows,
       CAST(count(*) FILTER (occ > 1) AS BIGINT) AS n_dup_windows,
       round(CAST(count(*) FILTER (occ > 1) AS DOUBLE) / count(*), 6)
           AS dup_frac
FROM c GROUP BY doc_id
""",
)
def dedup_span_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window duplicate-span detection — the per-document signal
    behind exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): every overlapping SPAN_W-token window
    is checked for repetition anywhere in the corpus (including within the
    same document, so intra-doc boilerplate loops score too); a document's
    dup_frac is the fraction of its windows that recur. Rolling windows
    (stride 1) catch mis-ALIGNED overlap that the chunked dedup_passage
    misses. Window generation is narrow; the occurrence count is ONE hash
    exchange (window count over the span key — the same
    partition-then-count shape as the gram DF cap); per-doc stats are one
    groupBy. Docs shorter than SPAN_W tokens emit no windows and are
    absent, matching the oracle's range() semantics."""
    toks = scan_parallel(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("ws")
    )
    w = toks.select(
        "doc_id",
        F.explode(_word_ngrams(F.col("ws"), SPAN_W)).alias("win"),
    )
    occ = w.withColumn(
        "occ", F.count("*").over(Window.partitionBy("win"))
    )
    return occ.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum((F.col("occ") > 1).cast("long")).alias("n_dup_windows"),
        F.round(
            F.sum((F.col("occ") > 1).cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_frac"),
    )


QUALITY_FULL_CHARS = 400  # docs at/above this length keep with p = 1


@query(
    "sample_quality_weighted",
    oracle=f"""
SELECT doc_id, n_chars,
       round(least(1.0, CAST(n_chars AS DOUBLE) / {QUALITY_FULL_CHARS}), 6)
           AS keep_p
FROM documents
WHERE {_MD5_UNIFORM_SQL.format(col="doc_id")}
      < least(1.0, CAST(n_chars AS DOUBLE) / {QUALITY_FULL_CHARS})
""",
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling — the mixing knob of corpus
    curation: each document's keep probability scales with a quality proxy
    (here length / {QUALITY_FULL_CHARS}, capped at 1; a real pipeline plugs
    in text_quality_score), and the keep decision compares it against an
    md5-derived uniform in [0, 1) — NOT rand(): the same doc gets the same
    verdict in both engines, every run, any partitioning. Entirely narrow
    (a filter over the scan — pushes down to parquet row groups); at
    100 TB this is the cheapest possible shape for corpus downsampling."""
    d = load(spark, sf_dir, "documents")
    keep_p = F.round(
        F.least(
            F.lit(1.0),
            F.col("n_chars").cast("double") / QUALITY_FULL_CHARS,
        ),
        6,
    )
    return (
        d.withColumn("keep_p", keep_p)
        .filter(
            _md5_uniform(F.col("doc_id"))
            < F.least(
                F.lit(1.0),
                F.col("n_chars").cast("double") / QUALITY_FULL_CHARS,
            )
        )
        .select("doc_id", "n_chars", "keep_p")
    )


# Target language mix for sample_mix_rebalance (weights sum to 1; langs
# absent from this map are dropped from the rebalanced corpus)
MIX_TARGET = {"en": 0.35, "zh": 0.20, "es": 0.15, "de": 0.15, "fr": 0.15}

_MIX_CASE_SPARK = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {wt}D" for lang, wt in MIX_TARGET.items()
) + " END"
_MIX_VALUES_SQL = ", ".join(
    f"('{lang}', {wt})" for lang, wt in MIX_TARGET.items()
)


@query(
    "sample_mix_rebalance",
    oracle=f"""
WITH t(lang, w) AS (VALUES {_MIX_VALUES_SQL}),
c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
p AS (
    SELECT c.lang,
           least(1.0, min(c.cnt / CAST(t.w AS DOUBLE)) OVER ()
                      * CAST(t.w AS DOUBLE) / c.cnt) AS keep_p_raw
    FROM c JOIN t USING (lang)
)
SELECT d.doc_id, d.lang, round(p.keep_p_raw, 6) AS keep_p
FROM documents d JOIN p ON p.lang = d.lang
WHERE {_MD5_UNIFORM_SQL.format(col="d.doc_id")} < p.keep_p_raw
""",
)
def sample_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing — the data-mixing step of a training
    pipeline: downsample each language so the kept corpus matches a target
    weight vector exactly in expectation, keeping as many documents as the
    targets allow. The sampled-corpus size S maximizes total kept docs
    subject to kept_l = S·w_l ≤ count_l, i.e. S = min_l(count_l / w_l);
    each language then keeps with p_l = S·w_l / count_l (the binding
    language keeps everything). Languages outside MIX_TARGET are dropped.

    The keep decision compares an md5-derived uniform against p_l — NOT
    rand(): deterministic per doc across runs, engines, partitionings
    (same device as sample_quality_weighted). Scale shape: one tiny
    per-language count (5 rows; partition-less window over those 5 rows
    only), broadcast-joined back to a single corpus scan — the filter is
    narrow, so at 100 TB this costs one pruned column scan for the counts
    plus one full pass."""
    d = load(spark, sf_dir, "documents")
    cnts = (
        d.groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .withColumn("w", F.expr(_MIX_CASE_SPARK))
        .filter(F.col("w").isNotNull())
    )
    p = cnts.select(
        "lang",
        F.least(
            F.lit(1.0),
            F.min(F.col("cnt") / F.col("w")).over(Window.partitionBy())
            * F.col("w")
            / F.col("cnt"),
        ).alias("keep_p_raw"),
    )
    return (
        d.join(F.broadcast(p), "lang")
        .filter(_md5_uniform(F.col("doc_id")) < F.col("keep_p_raw"))
        .select("doc_id", "lang", F.round("keep_p_raw", 6).alias("keep_p"))
    )


SOURCE_CAP = 10  # max documents kept per source


@query(
    "sample_cap_per_source",
    oracle=f"""
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
    FROM documents
) WHERE rn <= {SOURCE_CAP}
""",
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document capping — the "no more than N docs per domain"
    rule every web-scale corpus applies so no single crawl host dominates
    the training mix. Which N survive is decided by a DETERMINISTIC
    priority (md5 of the doc id, doc_id tiebreak — both engines sort the
    same lowercase-hex strings bytewise), never rand() or arrival order:
    the kept set is reproducible across runs, engines, partitionings.

    Scale shape: one hash shuffle on source + per-group row_number; a
    pathologically hot source is exactly the skew AQE's skew-join/agg
    split handles, and the window never materializes a group in memory
    (row_number streams over the sorted run). The md5 priority doubles as
    an unbiased uniform sample WITHIN each source — capping is sampling,
    so the kept subset is representative of the source, not its first N
    doc ids."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source")
    )


TEMP_CAP = 16  # max upsampling copies per doc (pipelines cap repeats so a
#                rare language cannot flood the mix with verbatim clones)


@query(
    "sample_temperature",
    oracle=f"""
WITH c AS (
    SELECT lang, count(*) AS cnt FROM documents
    WHERE lang IS NOT NULL GROUP BY lang
),
w AS (
    SELECT lang, cnt,
           CAST(round(sqrt(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(27,6)) AS wd
    FROM c
),
t AS (
    SELECT lang, cnt,
           CAST(wd AS DOUBLE) / CAST(sum(wd) OVER () AS DOUBLE)
               * CAST(sum(cnt) OVER () AS DOUBLE)
               / CAST(cnt AS DOUBLE) AS r
    FROM w
),
j AS (
    SELECT d.doc_id, d.lang, t.r,
           CAST(floor(t.r) AS BIGINT)
               + CASE WHEN {_MD5_UNIFORM_SQL.format(col="d.doc_id")}
                           < t.r - floor(t.r)
                      THEN 1 ELSE 0 END AS n_copies
    FROM documents d JOIN t ON t.lang = d.lang
)
SELECT doc_id, lang, CAST(g AS INTEGER) AS copy, round(r, 6) AS rate
FROM (SELECT doc_id, lang, r,
             unnest(range(1, CAST(least(n_copies, {TEMP_CAP}) AS BIGINT) + 1))
                 AS g
      FROM j)
""",
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language resampling — the multilingual mixing
    device from mT5 / XLM-R: sampling probability q_l ∝ p_l^T flattens
    the language distribution (T=1 keeps it, T→0 equalizes), UPSAMPLING
    rare languages (docs emitted multiple times, `copy` = 1..n) and
    downsampling dominant ones, at constant total corpus size in
    expectation. T is fixed at 0.5 so the weight is sqrt(count) — an
    IEEE correctly-rounded operation both engines compute bit-identically
    (a general pow(x, T) would need the round-6 transcendental hedge).

    Per-doc copy count = floor(r_l) + one extra Bernoulli(frac(r_l))
    copy decided by the md5-derived per-doc uniform — deterministic
    across runs, engines, partitionings (same device as
    sample_quality_weighted), capped at TEMP_CAP like production
    pipelines cap repeats. Cross-engine exactness of r_l itself: the
    5-ish per-language weights sum via DECIMAL (order-free), and both
    engines evaluate the identical ((w/s)·N)/c double expression on
    identical inputs. NULL-lang docs drop on both sides (inner join on
    lang), mirroring sample_mix_rebalance's contract.

    Scale shape: one pruned-column per-language count (tiny), broadcast
    back over ONE corpus scan; the explode is narrow (no shuffle), so at
    100 TB this is two passes over `lang` + one over kept docs — the
    same cost envelope as sample_mix_rebalance."""
    d = load(spark, sf_dir, "documents")
    c = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
    )
    w = c.withColumn(
        "wd",
        F.round(F.sqrt(F.col("cnt").cast("double")), 6).cast("decimal(27,6)"),
    )
    win = Window.partitionBy()
    t = w.select(
        "lang",
        "cnt",
        (
            F.col("wd").cast("double")
            / F.sum("wd").over(win).cast("double")
            * F.sum("cnt").over(win).cast("double")
            / F.col("cnt").cast("double")
        ).alias("r"),
    )
    j = d.join(F.broadcast(t), "lang").withColumn(
        "n_copies",
        F.floor("r").cast("long")
        + F.when(
            _md5_uniform(F.col("doc_id")) < F.col("r") - F.floor("r"), 1
        ).otherwise(0),
    )
    return (
        j.withColumn("n", F.least(F.col("n_copies"), F.lit(TEMP_CAP)))
        .filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr("sequence(1, int(n))")).alias("copy"),
            F.round("r", 6).alias("rate"),
        )
    )


NGRAM_N = 2  # word n-gram width for corpus LM statistics
NGRAM_MIN_COUNT = 5  # prune grams below this corpus frequency


@query(
    "agg_ngram_counts",
    oracle=f"""
{_TOKS_CTE.strip()},
grams AS (
    SELECT array_to_string(
               ws[CAST(i AS INTEGER):CAST(i + {NGRAM_N} - 1 AS INTEGER)], ' ')
               AS gram
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {NGRAM_N} + 2)) AS i
          FROM toks)
)
SELECT gram, count(*) AS cnt
FROM grams
GROUP BY gram
HAVING count(*) >= {NGRAM_MIN_COUNT}
""",
)
def agg_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-n-gram frequency table with a min-count prune — the
    statistic behind n-gram language models, tokenizer/vocab training and
    corpus QA (the corpus-level generalization of the reference's
    within-word char-bigram counts, mapreduce.erl:260-295: same
    count-overlapping-grams shape, word stream instead of char stream).
    Grams are generated NARROWLY per row (transform over the token array,
    positional — NOT distinct: LM counts weight repeats) over the
    verbatim-REPRESENTATIVE texts only, each weighted by its duplicate
    group's size: a corpus gram count is Σ over distinct texts of
    (occurrences in the text × copies of the text), so summing weights
    over the rep gram stream is exactly the raw count while the explode +
    shuffle scale with DISTINCT text volume (round 9 — the r9 10× probe
    measured alpha 0.44 with the stream still running over all replicas).
    Plan: rep scan → explode → one partial/final hash aggregate summing
    the group-size weight; map-side partial aggregation collapses each
    partition's duplicate grams before the shuffle, and the singleton
    long tail that survives it is exactly what the HAVING prunes after
    the final sum. At 100 TB the long tail IS the shuffle cost — if that
    hurts, front it with agg_heavy_hitters' sketch as a candidate filter;
    the exact contract here keeps the HAVING semantics (on the raw-corpus
    oracle) checkable."""
    from ..operators.dedup import _shared_members, _shared_rep_docs

    members = _shared_members(spark, sf_dir)
    gsize = members.groupBy("rep_id").agg(F.count("*").alias("w"))
    reps = _shared_rep_docs(spark, sf_dir).join(
        gsize.withColumnRenamed("rep_id", "doc_id"), "doc_id"
    )
    grams = reps.select(
        "w",
        F.explode(
            _word_ngrams(F.split(F.lower("text"), r"\s+"), NGRAM_N)
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.sum("w").alias("cnt"))
        .filter(F.col("cnt") >= NGRAM_MIN_COUNT)
    )


HH_K = 256  # Misra-Gries counters per partition; guarantee: no key with
# global count > total/HH_K is ever missed by the candidate set


@query(
    "agg_heavy_hitters",
    oracle=f"""
{_TOKS_CTE.strip()},
w AS (SELECT unnest(ws) AS word FROM toks),
n AS (SELECT count(*) AS total FROM w)
SELECT word, count(*) AS cnt
FROM w, n
GROUP BY word, n.total
HAVING count(*) > n.total / {HH_K}.0
""",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items (heavy hitters) over the corpus token stream via a
    MERGEABLE Misra-Gries sketch — the 100 TB alternative to a full
    groupBy when the key space has billions of distinct keys but only the
    > total/HH_K outliers matter:

    1. each partition summarizes its tokens with an HH_K-counter
       Misra-Gries sketch (mapInPandas, Arrow-batched; ≤ HH_K rows out per
       partition regardless of input size — per-partition error ≤ n_p/HH_K),
    2. partial summaries merge by summing per-key (two-level MG: total
       candidate error ≤ Σ n_p/HH_K = n/HH_K, so any key with true count
       > n/HH_K SURVIVES into the candidate set — no false negatives),
    3. candidates are re-counted EXACTLY with one broadcast semi-join over
       the token stream, and the true threshold filter runs on exact
       counts — no false positives either.

    The output therefore equals the exact groupBy answer (the oracle) while
    shuffling only P·HH_K summary rows plus the bounded candidate recount —
    the same sketch-prune + exact-verify pattern as dedup_minhash. The
    token scan happens twice (sketch + recount); at 100 TB that beats
    shuffling billions of distinct keys once. The exactness guarantee is
    pinned against a 10k-distinct-key adversarial stream in
    tests/test_operators.py (the fixture vocabulary is far below HH_K, so
    only the synthetic test exercises the pruning path)."""
    toks = scan_parallel(load(spark, sf_dir, "documents")).select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    )
    return heavy_hitters(toks, HH_K)


HH_VOCAB_CAP = 1 << 20  # per-partition sketch compresses past ~1M keys


def mg_sketch_partition(k: int, vocab_cap: int):
    """Factory for the per-partition vectorized Misra-Gries sketch pass of
    `heavy_hitters` (see its docstring for the algorithm and guarantee).
    Module-level so the pure-pandas generator is property-testable without
    a Spark session (tests/test_property.py fuzzes the no-false-negative
    and ≤ k-emission invariants over random streams/batchings)."""
    import pandas as pd

    def mg_partition(batches):
        seen = 0
        dec = 0  # total MG decrement applied (exact error bound witness)
        acc = None  # pd.Series: word -> stored count
        pending: list = []
        pending_rows = 0

        def fold(compress: bool):
            nonlocal acc, pending, pending_rows, dec
            parts = ([acc] if acc is not None else []) + pending
            if parts:
                acc = (
                    pd.concat(parts).groupby(level=0).sum()
                    if len(parts) > 1
                    else parts[0]
                )
            pending, pending_rows = [], 0
            if compress and acc is not None and len(acc) > k:
                v = int(acc.nlargest(k + 1).iloc[-1])
                dec += v
                acc = acc[acc > v] - v

        for pdf in batches:
            seen += len(pdf)
            vc = pdf["word"].value_counts()
            pending.append(vc)
            pending_rows += len(vc)
            if pending_rows >= vocab_cap:
                fold(compress=True)
        # compress the FINAL fold too: emission stays ≤ k keys per
        # partition even when earlier compressions drove the threshold
        # n_p/k − D_p low (without this, a post-compression refill could
        # emit up to vocab_cap keys and bloat the candidate broadcast);
        # the no-false-negative argument is unchanged — stored ≥ c_p − D_p
        # still clears the filter for any key with c_p > n_p/k
        fold(compress=True)
        if acc is None:
            cand = pd.Series(dtype="int64")
        else:
            cand = acc[acc > max(seen / k - dec, 0)]
        yield pd.DataFrame(
            {
                "word": list(cand.index) + [None],  # NULL = partition total
                "c": list(cand.to_numpy()) + [seen],
            }
        )

    return mg_partition


def heavy_hitters(
    toks: DataFrame, k: int, vocab_cap: int = HH_VOCAB_CAP
) -> DataFrame:
    """(word) stream → exact (word, cnt) for every key with cnt > total/k,
    via per-partition candidate summaries + exact candidate recount (see
    agg_heavy_hitters for the guarantee argument). The sketch pass also
    emits each partition's raw row count (word = NULL sentinel rows), so
    the global total needs no separate scan: exactly two passes over the
    token stream (sketch + recount). The summary table is small and feeds
    two consumers, so it is materialized once.

    The sketch pass is FULLY VECTORIZED (no per-token Python): each Arrow
    batch collapses to its `value_counts()` in C, pending batch counts
    fold together with one `concat + groupby(level=0).sum()`, and when the
    folded vocabulary exceeds ``vocab_cap`` it is compressed to k counters
    by the Misra-Gries merge rule (Agarwal et al., "Mergeable Summaries"):
    subtract the (k+1)-th largest count from every counter, keep the
    positive ones — a numpy-vectorized equivalent of k-at-a-time MG
    decrements, error ≤ n_p/(k+1) no matter how many compressions run.
    The partition emits keys whose stored count exceeds n_p/k − D_p (D_p =
    total decrement actually applied, 0 when the vocab never hit the cap):
    pigeonhole gives c_p(w) > n_p/k for some partition of any global heavy
    hitter, and stored ≥ c_p − D_p, so no false negatives — the exact
    recount then kills false positives. Replaces a per-token interpreted
    dict loop that was 10-100× slower per byte (round-2 advisory)."""
    from ..ckpt import pooled_persist, release_transient_storage

    release_transient_storage()  # free the previous invocation's blocks
    summaries = pooled_persist(
        toks.mapInPandas(
            mg_sketch_partition(k, vocab_cap), "word string, c long"
        )
    )
    total = (
        summaries.filter(F.col("word").isNull())
        .agg(F.sum("c"))
        .collect()[0][0]
        or 0
    )
    candidates = (
        summaries.filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.sum("c").alias("c"))
        .select("word")
    )
    exact = (
        toks.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return exact.filter(F.col("cnt") > total / k)


REP_FLAG_T = 0.2  # Gopher-style repetition gates


@query(
    "text_repetition_score",
    oracle=f"""
{_TOKS_CTE.strip()},
tc2 AS (
    SELECT doc_id, max(c) AS top_cnt FROM (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS w FROM toks) u
        GROUP BY doc_id, w
    ) GROUP BY doc_id
),
bg AS (
    SELECT doc_id,
           count(*) AS total_bg,
           count(DISTINCT gram) AS distinct_bg
    FROM (
        SELECT doc_id,
               array_to_string(ws[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)], ' ') AS gram
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks)
    ) g GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       round(CAST(tc2.top_cnt AS DOUBLE) / len(t.ws), 6) AS top_token_frac,
       round(CAST(coalesce(bg.total_bg - bg.distinct_bg, 0) AS DOUBLE)
             / greatest(coalesce(bg.total_bg, 0), 1), 6) AS dup_bigram_frac,
       (CAST(tc2.top_cnt AS DOUBLE) / len(t.ws) > {REP_FLAG_T}
        OR CAST(coalesce(bg.total_bg - bg.distinct_bg, 0) AS DOUBLE)
           / greatest(coalesce(bg.total_bg, 0), 1) > {REP_FLAG_T}) AS flagged
FROM toks t
JOIN tc2 ON tc2.doc_id = t.doc_id
LEFT JOIN bg ON bg.doc_id = t.doc_id
WHERE t.ws IS NOT NULL
""",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition gates (the Gopher quality rules'
    repetition family): the most-frequent-token fraction and the duplicate
    word-bigram fraction, plus a flag when either exceeds REP_FLAG_T —
    looping/boilerplate text scores high on both. ENTIRELY NARROW in
    Spark: the top-token count is the longest equal run in the doc's
    SORTED token array, computed by a single `aggregate` fold over
    `array_sort(ws)` (run-length state in a 3-field struct), and bigram
    distinctness is `array_distinct(transform(...))` — per-row expressions
    only, zero shuffles, the cheapest possible shape for a 100 TB quality
    sweep. The oracle computes the same numbers with two grouped
    aggregations; values agree exactly (integer counts, one IEEE divide,
    round 6). NULL-text documents are dropped on BOTH sides (the explicit
    filter here; the tc2 inner join plus explicit WHERE in the oracle) —
    without the engine-side filter a NULL doc would emit a row the oracle
    lacks, the same drop-the-row semantics the explode-based curation ops
    get for free."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split(F.lower("text"), r"\s+").alias("ws"))
    )
    null_s = F.lit(None).cast("string")
    zero = F.lit(0).cast("long")
    top_cnt = F.aggregate(
        F.array_sort("ws"),
        F.struct(
            null_s.alias("prev"), zero.alias("run"), zero.alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_tokens = F.size("ws").cast("long")
    bigrams = _word_ngrams(F.col("ws"), 2)
    scored = toks.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        top_cnt.alias("top_cnt"),
        F.size(bigrams).cast("long").alias("total_bg"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("distinct_bg"),
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    dup_frac = (
        (F.col("total_bg") - F.col("distinct_bg")).cast("double")
        / F.greatest(F.col("total_bg"), F.lit(1).cast("long"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 6).alias("top_token_frac"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        ((top_frac > REP_FLAG_T) | (dup_frac > REP_FLAG_T)).alias("flagged"),
    )


# train/val/test byte thresholds out of 256: ~90 / ~5 / ~5
CHUNK_W = 12  # tokens per chunk
CHUNK_S = 8  # chunk stride (CHUNK_W - CHUNK_S = 4 tokens of overlap)


@query(
    "text_chunk_overlap",
    oracle=f"""
{_TOKS_CTE.strip()},
n AS (
    SELECT doc_id, ws,
           CASE WHEN len(ws) <= {CHUNK_W} THEN 1
                ELSE CAST(ceil((len(ws) - {CHUNK_W}) / {CHUNK_S}.0) AS BIGINT) + 1
           END AS nc
    FROM toks
),
c AS (
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(
               ws[CAST(i * {CHUNK_S} + 1 AS INTEGER):CAST(i * {CHUNK_S} + {CHUNK_W} AS INTEGER)],
               ' ') AS chunk_text,
           CAST(len(ws[CAST(i * {CHUNK_S} + 1 AS INTEGER):CAST(i * {CHUNK_S} + {CHUNK_W} AS INTEGER)])
                AS BIGINT) AS n_tokens
    FROM (SELECT doc_id, ws, unnest(range(0, nc)) AS i FROM n)
)
SELECT doc_id, chunk_idx, chunk_text, n_tokens,
       ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT AS chunk_hash
FROM c
""",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the step that turns cleaned
    documents into model-ready pieces (RAG corpora, long-doc pretraining
    with context-window overlap): CHUNK_W-token windows every CHUNK_S
    tokens, so consecutive chunks share CHUNK_W - CHUNK_S tokens and no
    sentence is ever seen only at a hard boundary. Differs from
    dedup_passage's disjoint chunks (a dedup granularity) — overlap is
    the point here. Each chunk carries a content-addressed 60-bit id
    (md5 of the chunk text — cross-engine exact, same device as
    _doc_gram_sets_md5) so downstream chunk-level dedup or retrieval
    indexing can key on the hash without re-reading text.

    Entirely NARROW: chunks explode from each document's own row — zero
    exchanges at any scale; at 100 TB the chunker runs at parquet-scan
    speed and composes with any upstream filter pushdown. The short
    final chunk is kept (n_tokens reports its true length) — dropping
    tails loses document endings, the classic chunking bug. Docs at or
    under CHUNK_W tokens yield exactly one chunk; NULL texts yield none
    (NULL propagates through the sequence, explode drops it — same on
    both engines)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("ws")
    )
    t = F.size("ws")
    nc = F.when(t <= CHUNK_W, F.lit(1).cast("long")).otherwise(
        F.ceil((t - CHUNK_W) / F.lit(float(CHUNK_S))).cast("long") + 1
    )
    c = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), nc - 1),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.array_join(
                        F.slice("ws", i.cast("int") * CHUNK_S + 1, CHUNK_W),
                        " ",
                    ).alias("chunk_text"),
                    F.size(
                        F.slice("ws", i.cast("int") * CHUNK_S + 1, CHUNK_W)
                    )
                    .cast("long")
                    .alias("n_tokens"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
    return c.withColumn("chunk_hash", md5_prefix_int("chunk_text", 15))


_SPLIT_TRAIN_LT = 230
_SPLIT_VAL_LT = 243


def _split_bucket() -> Column:
    """The source-keyed split bucket in [0, 256): the first md5 byte of the
    source, NULL keyed as '' (train below _SPLIT_TRAIN_LT, val below
    _SPLIT_VAL_LT, test above)."""
    return md5_prefix_int(F.coalesce(F.col("source"), F.lit("")), 2)


@query(
    "sample_split_train_eval",
    oracle=f"""
SELECT doc_id, source, split
FROM (
    SELECT doc_id, source,
           CASE WHEN b < {_SPLIT_TRAIN_LT} THEN 'train'
                WHEN b < {_SPLIT_VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, source,
               ('0x' || substr(md5(coalesce(source, '')), 1, 2))::BIGINT AS b
        FROM documents
    )
)
""",
)
def sample_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split key is the
    document's SOURCE (md5 first byte → ~90/5/5), not the doc id, so every
    document from one domain lands in the same split — near-duplicates
    cluster within sources, and splitting at doc granularity would leak
    them across the train/eval boundary (the classic contamination-by-
    split bug). md5-deterministic like every sampler here: any engine,
    any run, any partitioning produces the identical assignment, and the
    label is a pure narrow projection (zero shuffles, pushdown-friendly).
    NULL sources key as md5('') — deterministic on both engines rather
    than a NULL-propagating no-split."""
    d = load(spark, sf_dir, "documents")
    b = _split_bucket()
    return d.select(
        "doc_id",
        "source",
        F.when(b < _SPLIT_TRAIN_LT, "train")
        .when(b < _SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- DSIR importance resampling (hashed n-gram data selection) ------------

DSIR_NB = 1024  # hashed-feature buckets (DSIR uses 10k at web scale)
DSIR_TARGET_SRC = "src0"  # the small high-quality target corpus proxy
DSIR_K = 100  # fixed selection budget (DSIR selects to a token budget)

def _hashed_feats_ctes(
    src: str = "documents", col: str = "text", p: str = ""
) -> str:
    """The tokenize → unigram+bigram → md5-bucket CTE prefix (toks, feats,
    fb) shared VERBATIM by sample_dsir, quality_classifier_score, and the
    capstone's classifier stage — ONE named source of truth instead of
    string-slicing one oracle out of another (r15 ADVICE item 2). ``p``
    prefixes the CTE names so the chain composes into larger WITH blocks
    without name clashes; ``src``/``col`` retarget the scan (the capstone
    scores its gated scrubbed text, not raw documents)."""
    return f"""{p}toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower({col}), '\\s+'),
                       w -> length(w) > 0) AS ws
    FROM {src}
),
{p}feats AS (
    SELECT doc_id, f
    FROM (
        SELECT doc_id, unnest(ws) AS f FROM {p}toks
        UNION ALL
        SELECT doc_id,
               array_to_string(ws[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)],
                               ' ') AS f
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
              FROM {p}toks)
    )
),
{p}fb AS (
    SELECT doc_id,
           CAST('0x' || substring(md5(f), 1, 8) AS BIGINT) % {DSIR_NB}
               AS bucket
    FROM {p}feats
)"""


# ln terms are computed on INTEGER arguments only (bucket counts + 1,
# totals + NB, and the Gumbel factors 2a+1 / 2^33 / m / 10^6 — the
# double-log is factored into integer-argument lns, see the inline note in
# sample_dsir) and rounded to 6 before any arithmetic — both engines' libm
# agree on round-6 of ln(exact small integer); all sums/differences of the
# rounded terms then run in DECIMAL (order-independent, exact.py).
_DSIR_FEATS_CTE = f"""
WITH {_hashed_feats_ctes()},
lab AS (SELECT doc_id, source = '{DSIR_TARGET_SRC}' AS is_t FROM documents),
tf AS (
    SELECT fb.doc_id, lab.is_t, bucket, count(*) AS tf
    FROM fb JOIN lab USING (doc_id)
    GROUP BY 1, 2, 3
),
bc AS (
    SELECT bucket,
           sum(CASE WHEN is_t THEN tf ELSE 0 END) AS ct,
           sum(CASE WHEN NOT is_t THEN tf ELSE 0 END) AS cr
    FROM tf GROUP BY 1
),
tot AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM bc),
lr AS (
    SELECT bucket,
           CAST(round(ln(CAST(ct + 1 AS DOUBLE)), 6) AS DECIMAL(18,6))
         - CAST(round(ln(CAST(cr + 1 AS DOUBLE)), 6) AS DECIMAL(18,6))
         - CAST((SELECT round(ln(CAST(t_tot + {DSIR_NB} AS DOUBLE)), 6)
                 FROM tot) AS DECIMAL(18,6))
         + CAST((SELECT round(ln(CAST(r_tot + {DSIR_NB} AS DOUBLE)), 6)
                 FROM tot) AS DECIMAL(18,6)) AS lr
    FROM bc
),
scored AS (
    SELECT tf.doc_id,
           CAST(sum(CAST(tf.tf AS DECIMAL(18,0)) * lr.lr) AS DOUBLE)
               AS log_w,
           CAST(sum(CAST(tf.tf AS DECIMAL(18,0)) * lr.lr) AS DECIMAL(29,6))
         + (CAST(round(ln(1000000.0), 6) AS DECIMAL(18,6))
          - CAST(round(ln(CAST(greatest(CAST((
                CAST(round(ln(8589934592.0), 6) AS DECIMAL(18,6))
              - CAST(round(ln(CAST(
                    2 * CAST('0x' || substring(
                            md5(CAST(tf.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) + 1 AS DOUBLE)), 6) AS DECIMAL(18,6))
            ) * 1000000 AS BIGINT), 1) AS DOUBLE)), 6)
            AS DECIMAL(18,6))) AS gkey
    FROM tf JOIN lr USING (bucket)
    WHERE NOT tf.is_t
    GROUP BY tf.doc_id
)
"""


@query(
    "sample_dsir",
    oracle=f"""
{_DSIR_FEATS_CTE.strip()}
SELECT doc_id, round(log_w, 6) AS log_w,
       CAST(gkey AS DOUBLE) AS gumbel_key,
       rn <= {DSIR_K} AS selected
FROM (SELECT *, row_number() OVER (ORDER BY gkey DESC, doc_id) AS rn
      FROM scored)
""",
)
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how target-like its
    hashed n-gram profile is, then Gumbel-top-k sample a fixed budget.
    The standard pretraining-data selection recipe: a small high-quality
    target corpus (source = DSIR_TARGET_SRC here) fits two bag-of-hashed-
    ngram unigram models (target vs raw, add-1 smoothed over DSIR_NB
    buckets), each raw doc's importance log-weight is Σ tf·(ln p_t −
    ln p_r) over its feature buckets, and selection adds per-doc Gumbel
    noise (−ln(−ln u), u = the md5-uniform device) so the draw IS an
    importance-weighted sample rather than a deterministic top slice.

    Spark-first shape, 100 TB story: features (word unigrams + bigrams)
    are a narrow explode; the per-(doc, bucket) tf is one map-side-
    combined hash agg; bucket log-ratios collapse to a DSIR_NB-row table
    (broadcast back — the "model" is 1024 floats, exactly why DSIR scales
    to web corpora); per-doc scores are one more hash agg; the selection
    threshold is a TakeOrdered over DSIR_K rows crossed back as a 1-row
    broadcast — no global sort, no window, no driver collect anywhere,
    corpus scanned once. Every ln takes an INTEGER argument rounded to 6
    (cross-engine exact), sums run in DECIMAL; the Gumbel key is a pure
    function of doc_id, so the whole sample is reproducible on any
    engine, run, or partitioning — the property that makes sampled-corpus
    experiments comparable. Top-k semantics pinned vs the oracle's
    row_number: selected ⇔ (gkey, −doc_id) ≥lex the DSIR_K-th row's."""
    from ..exact import _DEC

    d = load(spark, sf_dir, "documents")
    docs = scan_parallel(d).select(
        "doc_id",
        (F.col("source") == DSIR_TARGET_SRC).alias("is_t"),
        _feature_words(F.col("text")).alias("ws"),
    )
    feats = docs.select(
        "doc_id",
        "is_t",
        F.explode(
            F.concat(F.col("ws"), _word_ngrams(F.col("ws"), 2))
        ).alias("f"),
    )
    tf = (
        feats.select(
            "doc_id",
            "is_t",
            F.pmod(md5_prefix_int("f", 8), F.lit(DSIR_NB)).alias("bucket"),
        )
        .groupBy("doc_id", "is_t", "bucket")
        .agg(F.count("*").alias("tf"))
    )
    bc = tf.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("tf")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_t"), F.col("tf")).otherwise(0)).alias("cr"),
    )
    tot = bc.agg(
        F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot")
    )
    dec6 = "decimal(18,6)"
    lr = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.round(F.log(F.col("ct") + 1.0), 6).cast(dec6)
                - F.round(F.log(F.col("cr") + 1.0), 6).cast(dec6)
                - F.round(F.log(F.col("t_tot") + float(DSIR_NB)), 6).cast(dec6)
                + F.round(F.log(F.col("r_tot") + float(DSIR_NB)), 6).cast(dec6)
            ).alias("lr"),
        )
    )
    # Gumbel noise −ln(−ln u), factored into INTEGER-argument lns only so
    # the module invariant (round-6 of ln(integer) agrees cross-engine)
    # covers it: u = (2a+1)/2^33 with a the 32-bit md5 prefix, so
    # −ln u = ln(2^33) − ln(2a+1) — both integer arguments; round-6 the
    # difference to g1 = m/10^6 (m a BIGINT, clamped ≥ 1 for the u→1 tail
    # where g1 < 5e-7 would floor m to 0 — probability ~5e-7 per doc, a
    # deterministic identical clamp on both engines), and the outer log is
    # −ln(g1) = ln(10^6) − ln(m) — integer arguments again. Every
    # intermediate is DECIMAL, so the key is bit-identical cross-engine.
    a32 = md5_prefix_int("doc_id", 8)
    g1 = F.round(F.log(F.lit(8589934592.0)), 6).cast(dec6) - F.round(
        F.log((2 * a32 + 1).cast("double")), 6
    ).cast(dec6)
    m_int = F.greatest((g1 * 1000000).cast("long"), F.lit(1))
    gum = F.round(F.log(F.lit(1000000.0)), 6).cast(dec6) - F.round(
        F.log(m_int.cast("double")), 6
    ).cast(dec6)
    scored = (
        tf.filter(~F.col("is_t"))
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf").cast("decimal(18,0)") * F.col("lr")).alias(
                "lw_dec"
            )
        )
        .select(
            "doc_id",
            F.col("lw_dec").cast("double").alias("log_w"),
            (F.col("lw_dec").cast("decimal(29,6)") + gum).alias("gkey"),
        )
    )
    # the DSIR_K-th row of (gkey DESC, doc_id ASC) as a 1-row broadcast:
    # TakeOrderedAndProject, never a global sort or single-partition window
    th = (
        scored.orderBy(F.desc("gkey"), "doc_id")
        .limit(DSIR_K)
        .agg(
            F.min(
                F.struct(F.col("gkey"), (-F.col("doc_id")).alias("nd"))
            ).alias("th")
        )
        .select(
            F.col("th.gkey").alias("th_key"), (-F.col("th.nd")).alias("th_doc")
        )
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            F.round("log_w", 6).alias("log_w"),
            F.col("gkey").cast("double").alias("gumbel_key"),
            (
                (F.col("gkey") > F.col("th_key"))
                | (
                    (F.col("gkey") == F.col("th_key"))
                    & (F.col("doc_id") <= F.col("th_doc"))
                )
            ).alias("selected"),
        )
    )


# --- model-based quality filtering (linear classifier scoring) ------------

QC_NB = 1024  # hashed-feature buckets (fastText-style feature hashing)
QC_W_SCALE = 1000  # integer weights in [-QC_W_SCALE, QC_W_SCALE], /1000

# reuse DSIR's tokenize → unigram+bigram → md5-bucket CTE prefix (toks,
# feats, fb) verbatim — same features, same bucketing, one shared source
# of truth; the assert keeps fb's % DSIR_NB modulus valid for this op
assert QC_NB == DSIR_NB, "shared fb CTE hard-codes the DSIR modulus"
_QC_FEATS_CTE = "WITH " + _hashed_feats_ctes()

# the rounded per-doc logit over a qsc-shaped relation (num, n_feats) —
# ONE IEEE divide of exact integers, round-6 (module convention)
_QC_LOGIT_SQL = (
    f"round(CAST(num AS DOUBLE) / CAST(n_feats * {QC_W_SCALE} AS DOUBLE), 6)"
)


def _qc_score_ctes(p: str = "") -> str:
    """The weight-table → per-(doc,bucket) tf → per-doc score CTE chain
    over ``{p}fb`` (from `_hashed_feats_ctes`), shared by the standalone
    op and the capstone's classifier stage."""
    return f"""{p}w AS (
    SELECT CAST(b AS INTEGER) AS bucket,
           CAST('0x' || substring(md5('qcw-' || CAST(b AS VARCHAR)), 1, 8)
                AS BIGINT) % {2 * QC_W_SCALE + 1} - {QC_W_SCALE} AS w
    FROM range(0, {QC_NB}) t(b)
),
{p}qtf AS (
    SELECT doc_id, bucket, count(*) AS tf FROM {p}fb GROUP BY 1, 2
),
{p}qsc AS (
    SELECT doc_id,
           CAST(sum(tf * w) AS BIGINT) AS num,
           CAST(sum(tf) AS BIGINT) AS n_feats
    FROM {p}qtf JOIN {p}w USING (bucket) GROUP BY 1
)"""


# Arrow-vectorized classifier scorer: only the JVM-tokenized word array
# crosses the Arrow boundary (tokenizing stays in Spark, so no Python
# unicode-semantics drift can change a hash), and each batch computes
# per-doc (num, n_feats) in one pass with a word/bigram → weight memo
# (Zipf amortizes the md5 cost to dict lookups). The scorer body is a plain
# module-level function, so the UDF pickles it by reference: a worker looks
# it up in this module, and a reused worker keeps the memo across tasks.
# The logit divide/round stays a Spark expression, so its rounding is
# Spark's own.
_QC_SCORES_STRUCT = T.StructType(
    [
        T.StructField("num", T.LongType()),
        T.StructField("n_feats", T.LongType()),
    ]
)
# the fixed seeded weights: the SAME md5("qcw-"||bucket) derivation as the
# oracle's ``w`` CTE (both operands nonnegative, so Python % and SQL % agree)
_QC_W_TABLE = [
    int(hashlib.md5(f"qcw-{b}".encode()).hexdigest()[:8], 16)
    % (2 * QC_W_SCALE + 1)
    - QC_W_SCALE
    for b in range(QC_NB)
]
_QC_CONTRIB_MEMO: dict[str, int] = {}
# Memo bound in bytes: at most _QC_MEMO_CAP entries, each keyed by a
# feature of at most _QC_MEMO_MAX_LEN chars (about 130 B with the dict
# slot, so about 260 MB per worker at worst). Longer features are rare
# under Zipf and are re-hashed on every use instead of stored.
_QC_MEMO_CAP = 2_000_000
_QC_MEMO_MAX_LEN = 32


def _qc_scores(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    W = _QC_W_TABLE
    memo = _QC_CONTRIB_MEMO

    def contrib(f: str) -> int:
        w = memo.get(f)
        if w is None:
            w = W[int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % QC_NB]
            if len(f) <= _QC_MEMO_MAX_LEN and len(memo) < _QC_MEMO_CAP:
                memo[f] = w
        return w

    for batch in it:
        nums: list[int | None] = []
        nfs: list[int | None] = []
        for ws in batch:
            if ws is None:
                nums.append(None)
                nfs.append(None)
                continue
            s = 0
            prev = None
            for w in ws:
                s += contrib(w)
                if prev is not None:
                    s += contrib(prev + " " + w)
                prev = w
            n = len(ws)
            nums.append(s)
            # feats = words + overlapping bigrams: 2n-1 for n >= 1, 0 for
            # an empty array (== size(concat(ws, _word_ngrams(ws, 2))))
            nfs.append(2 * n - 1 if n else 0)
        yield pd.DataFrame(
            {
                "num": pd.Series(nums, dtype="Int64"),
                "n_feats": pd.Series(nfs, dtype="Int64"),
            }
        )


# Non-deterministic so the optimizer cannot push a consumer's filter on the
# scores below the staged projection, which evaluates the scorer twice:
# without it test_quality_classifier_narrow_zero_exchange sees 2
# ArrowEvalPython nodes.
_qc_scores_arrow = F.pandas_udf(_QC_SCORES_STRUCT)(
    _qc_scores
).asNondeterministic()


def with_qc_scores(df: DataFrame, text_col: str) -> DataFrame:
    """``df`` plus the classifier's ``qc_n_feats`` (hashed unigram+bigram
    feature count) and round-6 ``qc_logit`` over ``text_col`` — the one
    classifier scorer. The Arrow scorer runs in its own projection, so
    the plan carries exactly one ArrowEvalPython however often callers
    reference the two columns. NULL text gives NULL for both; wordless
    text gives qc_n_feats 0 and a NULL logit (the rows the oracle's
    GROUP BY drops)."""
    staged = df.withColumn(
        "_qc", _qc_scores_arrow(_feature_words(F.col(text_col)))
    )
    return staged.withColumns(
        {
            "qc_n_feats": F.col("_qc.n_feats"),
            "qc_logit": F.round(
                F.try_divide(
                    F.col("_qc.num").cast("double"),
                    (F.col("_qc.n_feats") * QC_W_SCALE).cast("double"),
                ),
                6,
            ),
        }
    ).drop("_qc")


@query(
    "quality_classifier_score",
    oracle=f"""
{_QC_FEATS_CTE},
{_qc_score_ctes()}
SELECT doc_id, n_feats,
       {_QC_LOGIT_SQL} AS logit,
       {_QC_LOGIT_SQL} >= 0.0 AS keep
FROM qsc
""",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the linear-classifier curation stage
    real pretraining pipelines run (GPT-3's LR quality filter, Brown et
    al. 2020 §A; CCNet's fastText LM filter, Wenzek et al. 2020; fastText
    linear text classification, Joulin et al. 2016): score every document
    with a bag-of-hashed-ngrams linear model and keep docs scoring above
    the threshold. The classifier WEIGHTS here are fixed public values
    derived from md5("qcw-"||bucket) — the same seeded-artifact device as
    the ANN hyperplanes — because no pretrained fastText weights can ship
    in-sandbox; the Spark-side engineering (feature hashing, broadcast
    weight table, single corpus scan) is exactly what transfers when a
    real trained weight vector is dropped in.

    Spark-first shape, 100 TB story: ONE corpus scan carrying the staged
    Arrow scorer (`with_qc_scores` — JVM tokenize, batched Python
    (num, n_feats), memoized hashed-feature weights) into a narrow
    projection — ZERO exchanges, zero joins, no window, no sort, no
    driver collect (pinned in tests/test_plans.py): the score attaches to
    each row without shuffling the corpus. Docs with zero features (NULL/
    wordless texts) produce no output row, like the oracle's qtf GROUP
    BY. Cross-engine exactness: tf (via per-feature contributions) and
    weights are integers, sums are exact, the logit is ONE IEEE divide of exact
    integers rounded to 6 (the module's established convention), and keep
    compares the rounded value — so the decision is bit-identical on any
    engine, run, or partitioning. Reference scope: beyond mapreduce.erl
    (no reference counterpart); included per the LLM-pipeline brief."""
    d = load(spark, sf_dir, "documents")
    scored = with_qc_scores(scan_parallel(d), "text")
    return scored.filter(F.col("qc_n_feats") >= 1).select(
        "doc_id",
        F.col("qc_n_feats").alias("n_feats"),
        F.col("qc_logit").alias("logit"),
        (F.col("qc_logit") >= 0.0).alias("keep"),
    )


# --- corpus-global line-level boilerplate dedup ----------------------------

_LPACK = 1_000_000_000  # packs (doc_id, pos) into one BIGINT: doc_id*P+pos
_LPACK_DOC_MAX = 9_000_000_000  # doc_id*_LPACK+pos < 2^63 iff doc_id below


def _packed_first_key() -> Column:
    """(doc_id, pos) packed into ONE BIGINT for the keep-first min — with
    a runtime guard (r15 ADVICE item 1): a doc_id >= ~9.2e9 or a doc with
    >= _LPACK lines would overflow/misorder the packing (ANSI error,
    non-ANSI silent wrap corrupting keep-first order), so out-of-range
    rows now raise LOUDLY instead. The oracle omits the guard: it is
    unreachable at any fixture scale, and when it fires the Spark side
    errors before any hash is compared."""
    ok = (
        (F.col("doc_id") >= 0)
        & (F.col("doc_id") < _LPACK_DOC_MAX)
        & (F.col("pos") < _LPACK)
    )
    return F.when(ok, F.col("doc_id") * _LPACK + F.col("pos")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "dedup_lines: (doc_id, pos) outside the exact BIGINT "
                    "packing range: "
                ),
                F.col("doc_id").cast("string"),
                F.lit(", "),
                F.col("pos").cast("string"),
            )
        )
    )


@query(
    "dedup_lines_global",
    oracle=f"""
WITH rows_l AS (
    SELECT doc_id, unnest(range(1, len(lns) + 1)) AS i, lns
    FROM (SELECT doc_id, string_split(text, chr(10)) AS lns
          FROM documents)
),
ls AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           lns[CAST(i AS INTEGER)] AS line,
           trim(lower(lns[CAST(i AS INTEGER)])) AS k
    FROM rows_l
),
fst AS (
    SELECT k, count(*) AS n,
           min(doc_id * {_LPACK} + pos) AS first_pk
    FROM ls WHERE length(k) > 0 GROUP BY k
),
marked AS (
    SELECT ls.doc_id, ls.pos, ls.line,
           coalesce(length(ls.k) > 0 AND fst.n > 1
                    AND ls.doc_id * {_LPACK} + ls.pos <> fst.first_pk,
                    FALSE) AS removed
    FROM ls LEFT JOIN fst ON ls.k = fst.k
),
agg AS (
    SELECT doc_id,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT removed), '') AS ct,
           sum(CASE WHEN removed THEN 1 ELSE 0 END) AS nr
    FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL ELSE agg.ct END AS clean_text,
       CAST(coalesce(agg.nr, 0) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN agg USING (doc_id)
""",
)
def dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-GLOBAL line-level boilerplate dedup — the newline-line
    dedup stage of RefinedWeb (Penedo et al. 2023) / CCNet-style
    paragraph hashing (Wenzek et al. 2020): a trimmed+lowercased
    non-empty line occurring more than once across the corpus survives
    only at its globally-FIRST occurrence (ordered by doc_id, then line
    position — the keep-first rule dedup_passage established for token
    windows); navigation menus, cookie banners, and repeated headers
    vanish from every later document. Complements dedup_passage
    (fixed-width token windows) with the unit real web boilerplate
    actually has: the line.

    Spark-first shape, 100 TB story: posexplode lines (narrow) → ONE
    hash agg keyed on the trimmed line (count + packed first-occurrence
    min — map-side combinable) → equi-join back on the line key → one
    groupBy(doc_id) reassembly with an order-restoring
    array_sort(collect_list(struct(pos, line))). Two key exchanges
    total, no window, no collect; at production scale the join key
    becomes xxhash64(line) exactly as dedup_passage notes (raw string
    here keeps the oracle exact). Cross-engine exactness: keys are
    strings, positions integers, the first-occurrence tiebreak is a
    packed BIGINT min (doc_id·1e9+pos — exact while doc_id < 9e9, now
    RUNTIME-GUARDED by `_packed_first_key`), and reassembly order is pinned
    by pos on both engines. Empty/whitespace-only lines are never
    removed (trim key empty); NULL-text docs pass through with NULL
    clean_text. Reference scope: beyond mapreduce.erl; included per the
    LLM-pipeline brief."""
    d = load(spark, sf_dir, "documents")
    ls = (
        scan_parallel(d)
        .select("doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "line",
            F.trim(F.lower("line")).alias("k"),
        )
    )
    fst = (
        ls.filter(F.length("k") > 0)
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.min(_packed_first_key()).alias("first_pk"),
        )
    )
    marked = ls.join(fst, "k", "left").select(
        "doc_id",
        "pos",
        "line",
        F.coalesce(
            (F.length("k") > 0)
            & (F.col("n") > 1)
            & (_packed_first_key() != F.col("first_pk")),
            F.lit(False),
        ).alias("removed"),
    )
    agg = marked.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("removed"), F.struct(F.col("pos"), F.col("line"))
                )
            )
        ).alias("kept"),
        F.sum(F.col("removed").cast("long")).alias("nr"),
    )
    return (
        d.select("doc_id", "text")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("text").isNotNull(),
                F.concat_ws(
                    "\n",
                    F.transform(F.col("kept"), lambda s: s["line"]),
                ),
            ).alias("clean_text"),
            F.coalesce("nr", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


# --- URL-stage curation (canonicalize → blocklist gate → keep-first) -------

URL_BLOCK_LT = 64  # md5(host) first byte < 0x40 ⇒ blocked (~25% of hosts)


@query(
    "curate_url_dedup",
    oracle=f"""
WITH u AS (
    SELECT doc_id,
           'https://' ||
           CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'WWW.' || source || '.Example.COM'
                WHEN 1 THEN 'www.' || source || '.example.com'
                ELSE source || '.example.com' END
           || '/page/' || CAST(doc_id % 50 AS VARCHAR)
           || '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) AS url
    FROM documents
),
p AS (
    SELECT doc_id, url,
           regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path
    FROM u
),
f AS (
    SELECT doc_id, url,
           'https://' || regexp_replace(lower(host), '^www\\.', '') || path
               AS canonical_url,
           CAST('0x' || substring(
                    md5(regexp_replace(lower(host), '^www\\.', '')), 1, 2)
                AS BIGINT) < {URL_BLOCK_LT} AS blocked
    FROM p
),
k AS (
    SELECT *, min(CASE WHEN NOT blocked THEN doc_id END)
              OVER (PARTITION BY canonical_url) AS first_keep
    FROM f
)
SELECT doc_id, url, canonical_url, blocked,
       coalesce(NOT blocked AND doc_id = first_keep, FALSE) AS kept
FROM k
""",
)
def curate_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-stage curation — the stage RefinedWeb (Penedo et al. 2023 §3.1)
    and CCNet-descended crawl pipelines run BEFORE any content stage:
    parse each document's URL, canonicalize it (lowercase host, strip a
    leading "www.", strip query+fragment — the classic tracking-parameter
    strip), gate against a host blocklist, and keep only the FIRST
    document per canonical URL (crawls re-fetch the same page under
    session-id'd / utm-tagged variants; URL dedup removes them for free
    before any text is touched). Emits the full per-doc decision table
    (url, canonical_url, blocked, kept).

    The fixture's documents carry no URL column, so a well-formed URL is
    SYNTHESIZED deterministically from (source, doc_id) — fn_url's
    established device (functions/scalar.py:303), here with mixed-case
    hosts, www-variants, and per-source path collisions so every branch
    of the canonicalizer and the keep-first rule actually fires. The
    blocklist is the seeded-artifact device (md5(canonical host) first
    byte < URL_BLOCK_LT ⇒ blocked, ~25% of hosts) standing in for a fixed
    public list (e.g. UT1) that no sandbox can ship; at production the
    gate becomes a broadcast semi-join against the real list — same plan
    shape, the broadcast side is just a file.

    Spark-first shape, 100 TB story: URL synthesis + `parse_url` +
    canonicalization are ONE narrow projection over the scan; the ONLY
    exchange is the canonical-URL-keyed window computing the
    keep-first min (no join-back, no global sort, no collect) — the
    cheapest possible crawl-dedup: one keyed shuffle of (url-sized) rows.
    Cross-engine: Spark's `parse_url` (java.net.URI) and the oracle's
    anchored regexes agree on these well-formed URLs; the keep-first min
    is an integer; a NULL source nulls url/canonical/blocked identically
    on both engines (NULL-strict concat), and those rows get
    kept = FALSE via the same coalesce. Reference scope: beyond
    mapreduce.erl; included per the LLM-pipeline brief (r15 VERDICT
    task 3)."""
    d = load(spark, sf_dir, "documents")
    host_raw = (
        F.when(
            (F.col("doc_id") % 3).cast("int") == 0,
            F.concat(F.lit("WWW."), F.col("source"), F.lit(".Example.COM")),
        )
        .when(
            (F.col("doc_id") % 3).cast("int") == 1,
            F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")),
        )
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    )
    url = F.concat(
        F.lit("https://"),
        host_raw,
        F.lit("/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&ref="),
        F.col("doc_id").cast("string"),
    )
    p = d.select("doc_id", url.alias("url"))
    chost = F.regexp_replace(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
    )
    f = p.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("https://"), chost, F.parse_url(F.col("url"), F.lit("PATH"))
        ).alias("canonical_url"),
        (md5_prefix_int(chost, 2) < URL_BLOCK_LT).alias("blocked"),
    )
    w = Window.partitionBy("canonical_url")
    first_keep = F.min(
        F.when(~F.col("blocked"), F.col("doc_id"))
    ).over(w)
    return f.select(
        "doc_id",
        "url",
        "canonical_url",
        "blocked",
        F.coalesce(
            ~F.col("blocked") & (F.col("doc_id") == first_keep),
            F.lit(False),
        ).alias("kept"),
    )


# --- domain-level quality filtering (per-host aggregate decision) ----------

from .analysis import _G_KEEP_SQL, _gopher_arrays, _gopher_ctes  # noqa: E402
from .analysis import _gopher_keep, _gopher_metrics  # noqa: E402

DOM_RULE_FRAC = 0.6  # domain keep needs >= this fraction of rule-passing docs
DOM_CLS_FRAC = 0.4   # ... and >= this fraction of classifier-passing docs
DOM_MIN_DOCS = 3     # domains with fewer docs carry no signal: not kept


@query(
    "curate_domain_filter",
    oracle=f"""
WITH hosts AS (
    SELECT doc_id,
           regexp_replace(lower(
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'WWW.' || source || '.Example.COM'
                    WHEN 1 THEN 'www.' || source || '.example.com'
                    ELSE source || '.example.com' END
           ), '^www\\.', '') AS host
    FROM documents
),
{_gopher_ctes(src="documents", col="text", p="df")},
{_hashed_feats_ctes(src="documents", col="text", p="dc")},
{_qc_score_ctes(p="dc")},
flags AS (
    SELECT h.host,
           CASE WHEN {_G_KEEP_SQL} THEN 1 ELSE 0 END AS rk,
           CASE WHEN {_QC_LOGIT_SQL} >= 0.0 THEN 1 ELSE 0 END AS ck
    FROM hosts h
    LEFT JOIN dfr ON dfr.doc_id = h.doc_id
    LEFT JOIN dcqsc ON dcqsc.doc_id = h.doc_id
),
agg AS (
    SELECT host, count(*) AS n_docs,
           CAST(sum(rk) AS BIGINT) AS n_rule_keep,
           CAST(sum(ck) AS BIGINT) AS n_cls_keep
    FROM flags GROUP BY host
)
SELECT host, n_docs, n_rule_keep, n_cls_keep,
       round(CAST(n_rule_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           AS rule_frac,
       round(CAST(n_cls_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           AS cls_frac,
       round(CAST(n_rule_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           >= {DOM_RULE_FRAC}
       AND round(CAST(n_cls_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           >= {DOM_CLS_FRAC}
       AND n_docs >= {DOM_MIN_DOCS} AS domain_keep
FROM agg
""",
)
def curate_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-LEVEL quality filtering — the aggregation stage RefinedWeb
    (Penedo et al. 2023) and Gopher's MassiveWeb run on top of per-doc
    quality signals: score every document (rule battery + linear
    classifier), aggregate per canonical host, and decide KEEP/DROP for
    the whole domain (a host whose docs mostly fail quality is a spam/SEO
    farm; dropping it removes its future crawls too). Emits one row per
    canonical host: doc count, rule-pass and classifier-pass counts and
    fractions, and the domain decision.

    Composes three proven devices end-to-end: curate_url_dedup's
    deterministic URL synthesis + canonicalization (same host derivation),
    text_gopher_rules' rule battery (shared `_gopher_*` helpers), and
    quality_classifier_score's model through the one staged Arrow scorer
    (`with_qc_scores`: one ArrowEvalPython, pinned in tests/test_plans.py).

    Spark-first shape, 100 TB story: ONE corpus scan carrying THREE
    narrow per-row signals (host parse, rule keep, classifier logit —
    zero joins; the logit crosses the Arrow boundary as one batched
    projection) into ONE host-keyed hash agg (map-side combinable
    integer counts). Nothing else moves:
    the decision table is O(domains), the cheapest possible shape for a
    corpus-wide domain audit; the oracle's LEFT JOINs exist only because
    SQL composes the signals relationally — relationally-absent signals
    (NULL text, zero features) count as failing on both engines (CASE /
    when-otherwise 0). All counts are integers, each fraction is one IEEE
    divide of exact integers rounded to 6, and the decision compares
    rounded values and integers only. Reference scope: beyond
    mapreduce.erl; included per the LLM-pipeline brief."""
    d = load(spark, sf_dir, "documents")
    host_raw = (
        F.when(
            (F.col("doc_id") % 3).cast("int") == 0,
            F.concat(F.lit("WWW."), F.col("source"), F.lit(".Example.COM")),
        )
        .when(
            (F.col("doc_id") % 3).cast("int") == 1,
            F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")),
        )
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    )
    chost = F.regexp_replace(F.lower(host_raw), r"^www\.", "")
    ws, ls, n_sym = _gopher_arrays(F.col("text"))
    per_doc = with_qc_scores(scan_parallel(d), "text").select(
        chost.alias("host"),
        ws.alias("_ws"),
        ls.alias("_ls"),
        n_sym.alias("_sym"),
        "qc_logit",
    )
    rule_keep = _gopher_keep(
        _gopher_metrics(F.col("_ws"), F.col("_ls"), F.col("_sym"))
    )
    flags = per_doc.select(
        "host",
        F.when(rule_keep, 1).otherwise(0).alias("rk"),
        F.when(F.col("qc_logit") >= 0.0, 1).otherwise(0).alias("ck"),
    )
    agg = flags.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.sum("rk").cast("bigint").alias("n_rule_keep"),
        F.sum("ck").cast("bigint").alias("n_cls_keep"),
    )
    rule_frac = F.round(
        F.col("n_rule_keep").cast("double") / F.col("n_docs").cast("double"),
        6,
    )
    cls_frac = F.round(
        F.col("n_cls_keep").cast("double") / F.col("n_docs").cast("double"), 6
    )
    return agg.select(
        "host",
        "n_docs",
        "n_rule_keep",
        "n_cls_keep",
        rule_frac.alias("rule_frac"),
        cls_frac.alias("cls_frac"),
        (
            (rule_frac >= DOM_RULE_FRAC)
            & (cls_frac >= DOM_CLS_FRAC)
            & (F.col("n_docs") >= DOM_MIN_DOCS)
        ).alias("domain_keep"),
    )
