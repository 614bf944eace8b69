"""Near-duplicate detection over `documents` — LLM-data-pipeline north-star
ops (BASELINE.json north_star; SURVEY.md §2.B "Text analysis / LLM-pipeline").

Four detectors, from exact-SQL-checkable to sketch-based:

- dedup_ngram_jaccard: EXACT word-n-gram Jaccard via an inverted-index
  self-join (pairs must share ≥1 gram) — the scalable exact baseline: the
  join is an equi-join on gram, never a cross join.
- dedup_minhash: shingle → 64 minhash permutations (md5-derived double
  hashing, JVM-side + numpy) → 8 bands × 8 rows → band-bucket posting
  lists → exact-Jaccard verification of candidates. At 100 TB only
  colliding buckets emit pairs; memory per doc is 64 longs regardless
  of doc size.
- dedup_simhash: SimHash over md5-derived token hashes, banded for
  candidate generation, verified by hamming distance (bit_count(xor)) ≤ k.
- dedup_embedding: exact cosine near-dup pairs (test scale); the LSH-bucketed
  scale path lives in similarity.py (sim_search_ann shares its machinery).

The sketch ops carry EXACT DuckDB oracles despite being "approximate":
every hash they use is deterministic md5-derived integer arithmetic both
engines compute identically (the sim_search_ann trick), so the driver
hash-checks them end to end. tests/test_dedup.py additionally verifies
candidates against exact Jaccard/hamming ground truth computed in-engine.
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import (
    guard_result,
    pooled_checkpoint,
    release,
    release_transient_storage,
    shared_checkpoint,
)
from ..exact import md5_prefix_int
from ..registry import query
from ..tables import load, scan_parallel
from .curation import _MD5_UNIFORM_SQL


def _shared_members(spark, sf_dir: str) -> DataFrame:
    """Shared (doc_id, rep_id) verbatim-group member map — see
    `_verbatim_reps`."""
    return shared_checkpoint(
        spark,
        sf_dir,
        "verbatim_members",
        lambda: _verbatim_reps(load(spark, sf_dir, "documents"))[0],
    )


def _shared_rep_docs(spark, sf_dir: str) -> DataFrame:
    """Shared (doc_id, text) representative documents — one row per
    distinct text; the input every gram/signature builder shares."""
    return shared_checkpoint(
        spark,
        sf_dir,
        "verbatim_rep_docs",
        lambda: _verbatim_reps(load(spark, sf_dir, "documents"))[1],
    )


def _shared_gram_sets(spark, sf_dir: str) -> DataFrame:
    """Shared xxhash64 gram-set table over the rep docs (jaccard,
    containment, cluster ops)."""
    return shared_checkpoint(
        spark,
        sf_dir,
        "gram_sets_xx",
        lambda: _doc_gram_sets(_shared_rep_docs(spark, sf_dir)),
    )


def _shared_gram_sets_md5(spark, sf_dir: str) -> DataFrame:
    """Shared md5-derived double-hash gram-set table over the rep docs
    (minhash — the cross-engine-exact variant)."""
    return shared_checkpoint(
        spark,
        sf_dir,
        "gram_sets_md5",
        lambda: _doc_gram_sets_md5(_shared_rep_docs(spark, sf_dir)),
    )

N_GRAM = 3
JACCARD_T = 0.5
# Grams with document frequency above this cap are dropped from the
# CANDIDATE index (never from verification): a stop-gram shared by d docs
# fans the pair expansion out to C(d,2) rows while witnessing almost no
# high-Jaccard pairs. The floor this puts on recall is the duplicate
# cluster size — a pair whose EVERY shared gram has DF > cap is invisible,
# which happens when > cap near-copies of one document exist; exact dedup
# (dedup_exact / pipeline_corpus_clean) runs before fuzzy dedup in any
# real pipeline precisely to collapse those. 2 000 keeps a cap-level
# gram's fan-out at ~2e6 pair rows (streamed, never one giant row — see
# _rare_pair_stream), small enough that a handful of cap-level grams
# cannot skew a task for minutes at 100 TB. Fixture headroom: max gram DF
# is 25 at sf0.1 and every true pair shares a gram with DF ≤ 10, so the
# cap is inert for the oracle while bounding the 100 TB expansion.
GRAM_DF_CAP = 2_000

def _grams_ctes(src: str = "documents", col: str = "text", p: str = "") -> str:
    """{p}toks → {p}grams (each doc's distinct word N_GRAM-grams) →
    {p}sizes (gram-set sizes) over any (doc_id, {col}) relation — the
    DuckDB twin of `_doc_gram_sets`; ``p`` prefixes CTE names for
    composition."""
    return f"""{p}toks AS (
    SELECT doc_id, string_split_regex(lower({col}), '\\s+') AS ws
    FROM {src}
),
{p}grams AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {N_GRAM} - 1 AS INTEGER)], ' ') AS gram
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {N_GRAM} + 2)) AS i
          FROM {p}toks)
),
{p}sizes AS (SELECT doc_id, count(*) AS sz FROM {p}grams GROUP BY doc_id)"""


def _jaccard_cte(p: str = "") -> str:
    """{p}pairs: the (doc_a, doc_b, jaccard) rows of {p}inter (doc_a,
    doc_b, ix = shared-gram count) at or above JACCARD_T."""
    return f"""{p}pairs AS (
    SELECT i.doc_a, i.doc_b,
           CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix) AS jaccard
    FROM {p}inter i
    JOIN {p}sizes sa ON sa.doc_id = i.doc_a
    JOIN {p}sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix) >= {JACCARD_T}
)"""


# every document pair sharing a gram, with its shared-gram count ix
_INTER_CTES = f"""{_grams_ctes()},
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""

# exact n-gram Jaccard pairs (dedup_ngram_jaccard's answer) as CTE `pairs`
_JACCARD_CTES = f"{_INTER_CTES},\n{_jaccard_cte()}"


def _verify_jaccard(cands: DataFrame, doc_sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidates × (doc_id, ghs) gram sets → exact-Jaccard
    pairs ≥ JACCARD_T. Intersection is a per-row JVM `array_intersect` —
    no groupBy, no sizes table, no second pass over grams; the only cost
    is the two equi-joins hydrating each pair with its two gram arrays."""
    ga = doc_sets.alias("ga")
    gb = doc_sets.alias("gb")
    return (
        cands.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga.ghs", "gb.ghs")).alias("ix"),
            F.size("ga.ghs").alias("sa"),
            F.size("gb.ghs").alias("sb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("ix").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("ix"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )


def _posting_pairs(
    rows: DataFrame, keys: list[str], item, cap: int | None = None
) -> DataFrame:
    """Posting lists → every pair inside each list: ``rows`` grouped by
    ``keys``, each group's ``item`` values (a column name or Column)
    collected and sorted, then one (*keys, a, b) row per i<j pair of the
    sorted list — so a <= b, and a key shared by d rows yields C(d,2) rows.

    One keyed shuffle builds the lists, never a self-join. The expansion
    is streamed: posexplode emits one (list, i, a) row per member and a
    second explode over slice(list, i + 2, …) emits each b, so no row ever
    holds the C(d,2) pair array — peak per-row memory is one list. With
    ``cap`` set, a count aggregate (fixed-size state) first drops keys
    with fewer than 2 or more than ``cap`` rows, so only surviving keys
    reach the collect and no list is longer than ``cap``; the count, the
    semi-join and the collect all hash on ``keys``, so the partitioning
    is reused rather than re-exchanged."""
    if cap is not None:
        keep = (
            rows.groupBy(*keys)
            .agg(F.count("*").alias("_n"))
            .filter((F.col("_n") >= 2) & (F.col("_n") <= cap))
            .select(*keys)
        )
        rows = rows.join(keep, keys)
    lists = rows.groupBy(*keys).agg(
        F.sort_array(F.collect_list(item)).alias("_l")
    )
    return lists.select(
        *keys, "_l", F.posexplode("_l").alias("_i", "a")
    ).select(
        *keys, "a", F.explode(F.expr("slice(_l, _i + 2, size(_l))")).alias("b")
    )


def _rare_pair_stream(doc_sets: DataFrame, df_cap: int = GRAM_DF_CAP) -> DataFrame:
    """(doc_id, ghs) → one (doc_a, doc_b) row per SHARED rare gram (so a
    pair appears once per gram it shares — `groupBy(pair).count()` on this
    stream IS the rare-gram intersection size): the gram posting lists of
    `_posting_pairs`, with grams of document frequency outside [2, df_cap]
    dropped (singletons witness nothing; stop-grams above the cap fan out
    quadratically while witnessing almost no high-Jaccard pair)."""
    inv = doc_sets.select("doc_id", F.explode("ghs").alias("gh"))
    return _posting_pairs(inv, ["gh"], "doc_id", df_cap).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )


def _nonempty_reps(doc_sets):
    """Representatives eligible for within-group pair emission: those with
    a nonempty gram set (empty docs never pair — in the op or its
    oracle)."""
    return doc_sets.filter(F.size("ghs") > 0).select(
        F.col("doc_id").alias("rep_id")
    )


def _verbatim_reps(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fuse "exact dedup first" into the pair ops: group documents by
    verbatim text (xxhash64 — in-engine grouping only), pick the smallest
    doc_id as each group's REPRESENTATIVE, and return
    (members: (doc_id, rep_id), rep_docs: (doc_id, text) for reps only).

    Why: identical texts have identical gram sets/signatures, so running
    the pair pipeline over all of them redoes the same work and — the
    real killer — emits candidate pairs QUADRATIC in the duplicate-group
    size (an R-clique costs C(R,2) pipeline pairs per shared gram). The
    scaling probe measured exact-pair jaccard at alpha 1.27 on 10× clique
    replicas (SCALING.md); collapsing to representatives makes pipeline
    cost a function of DISTINCT texts while `_expand_rep_pairs`
    reconstructs the full member-level answer exactly. Cost of the
    collapse: ONE (fp, text) aggregate (min(text) is free — every text in
    a group is identical by construction, and min is deterministic where
    first() is not) + one tiny (fp, doc_id) join for the member map — the
    same price pipeline_corpus_clean already pays for its exact-dedup
    stage. NULL texts hash to one group; their gram sets are empty so
    they never reach pair emission (same as before). xxhash64 text
    collisions would merge two distinct texts into one group — the usual
    2^-64 measure-zero class."""
    fpd = docs.select("doc_id", "text", F.xxhash64("text").alias("fp"))
    reps = fpd.groupBy("fp").agg(
        F.min("doc_id").alias("rep_id"), F.min("text").alias("text")
    )
    members = (
        fpd.select("fp", "doc_id")
        .join(reps.select("fp", "rep_id"), "fp")
        .select("doc_id", "rep_id")
    )
    rep_docs = reps.select(F.col("rep_id").alias("doc_id"), "text")
    return members, rep_docs


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    eligible: DataFrame,
    value_name: str,
) -> DataFrame:
    """Representative-level pairs → full member-level pairs.

    - CROSS-group: each (rep_a, rep_b, v) fans out to every member pair
      of the two groups with the SAME value v (identical texts ⇒ identical
      grams ⇒ bit-identical metric — this is why the expansion is exact,
      not approximate). Two equi-joins on rep id, ordered by
      least/greatest.
    - WITHIN-group: ``eligible`` is (rep_id, value_name): the reps whose
      verbatim pairs qualify (a nonempty gram/token set — empty docs
      never pair, matching the oracle) and the metric's value for a
      verbatim pair (jaccard 1.0, hamming 0, or the whole text's token
      count for the longest overlap), which is exactly what the full
      pipeline computes for it. Verbatim pairs are emitted even when
      every shared gram exceeds GRAM_DF_CAP, as the oracle (no cap) does."""
    mem_a = members.select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("da")
    )
    mem_b = members.select(
        F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rep_pairs.join(mem_a, "doc_a")
        .join(mem_b, "doc_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            value_name,
        )
    )
    m1 = members.join(eligible, "rep_id").select(
        "rep_id", F.col("doc_id").alias("da"), value_name
    )
    m2 = members.join(eligible.select("rep_id"), "rep_id").select(
        "rep_id", F.col("doc_id").alias("db")
    )
    within = (
        m1.join(m2, "rep_id")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            value_name,
        )
    )
    return cross.unionByName(within)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup, count-prefiltered: only documents
    sharing a RARE gram ever meet (inverted index with a document-
    frequency cap — never a cross join), their shared-rare-gram COUNT is
    aggregated first (`groupBy(pair).count()` over _rare_pair_stream — the
    count is a lower bound on the true intersection, exact while the cap
    is inert), pairs below the threshold-equivalent count ix ≥
    T·(sa+sb)/(1+T) drop before any array is hydrated, and only the
    handful of survivors get the exact `array_intersect` verification over
    FULL gram sets — so every emitted jaccard is exact. Measured ~2×
    faster than hydrating every candidate pair with its gram arrays
    (candidates outnumber survivors ~4000:1 on the fixtures). With an
    ACTIVE cap the prefilter tightens the recall floor: capped grams count
    toward neither candidacy nor the prefilter bound (see GRAM_DF_CAP's
    comment). Hashing grams (vs joining on strings) is semantics-
    preserving up to 2^-64 collisions — the oracle joins on the raw
    strings and agrees. Verbatim-duplicate groups are collapsed to one
    representative before the pipeline and expanded after
    (`_verbatim_reps` / `_expand_rep_pairs`) — pipeline cost scales with
    DISTINCT texts, not duplicate-clique sizes."""
    release_transient_storage()  # free the previous invocation's blocks
    members = _shared_members(spark, sf_dir)
    doc_sets = _shared_gram_sets(spark, sf_dir)
    rep_pairs = _rep_jaccard_pairs(spark, sf_dir)
    eligible = _nonempty_reps(doc_sets).withColumn("jaccard", F.lit(1.0))
    return guard_result(
        _expand_rep_pairs(rep_pairs, members, eligible, "jaccard")
    )


def _rep_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-level verified jaccard pairs (doc_a, doc_b, jaccard)
    — the pre-expansion near-dup graph shared by dedup_ngram_jaccard
    (which member-expands it) and dedup_cluster_cc (which runs connected
    components on it DIRECTLY: the collapsed graph has the same component
    structure as the expanded one, at a fraction of the edges — see
    dedup_cluster_cc's expansion argument).

    Materialized ONCE per (session, corpus) via ``ckpt.shared_checkpoint``,
    like the gram sets it consumes: FIVE operators walk this graph
    (ngram_jaccard, cluster_cc, cluster_keep_best via cluster_cc,
    cluster_downweight, plus graph_triangle_count), so none of them
    re-runs the inverted-index pair pipeline. The pair graph is orders of
    magnitude smaller than the corpus (pairs over DISTINCT texts,
    threshold-filtered), so the checkpoint is cheap in either storage
    mode."""

    def build() -> DataFrame:
        doc_sets = _shared_gram_sets(spark, sf_dir)
        inter = (
            _rare_pair_stream(doc_sets)
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("ix"))
        )
        sizes = doc_sets.select("doc_id", F.size("ghs").alias("sz"))
        sa, sb = sizes.alias("sa"), sizes.alias("sb")
        prefiltered = (
            inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
            .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
            .filter(
                F.col("ix").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("ix"))
                >= JACCARD_T
            )
            .select("doc_a", "doc_b")
        )
        return _verify_jaccard(prefiltered, doc_sets)

    return shared_checkpoint(spark, sf_dir, "rep_jaccard_pairs", build)


N_HASH = 64
N_BANDS = 8  # 8 bands × 8 rows; P(candidate) = 1-(1-j^8)^8
MERSENNE_P = 2147483647  # 2^31 - 1: permutation arithmetic modulus


def _doc_gram_sets(df: DataFrame, n: int = N_GRAM) -> DataFrame:
    """documents → (doc_id, ghs: array<long>) — the doc's DISTINCT word
    n-grams, each hashed to an 8-byte long with xxhash64 inside the
    transform lambda so gram strings never leave the projection.

    Entirely NARROW: every gram of a doc comes from its own row, so the
    whole set is `array_distinct(transform(...))` with zero shuffles —
    versus explode + global distinct, which shuffles one row per gram
    (~50× the corpus row count). Downstream, Jaccard becomes a JVM-side
    `array_intersect` on two array columns instead of a re-join + groupBy.
    Row-size note for 100 TB: ghs holds 8 bytes/gram ≈ 8 bytes/word, so
    even a 1 MB document stays ~1 MB per row — fine for Spark's 2 GB row
    limit; gram STRINGS in the same shape would not be. The 2^-64
    hash-collision rate is far below the sketch's own error.

    No scan_parallel here: the production input (rep_docs) arrives from
    _verbatim_reps' aggregate already conf-partitioned (shuffle.partitions
    >= cores), so a repartition would only add an exchange."""
    toks = df.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("ws")
    )
    return toks.select(
        "doc_id",
        F.when(
            F.size("ws") >= n,  # sequence(1, k<1) would count DOWN
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                    lambda i: F.xxhash64(F.array_join(F.slice("ws", i, n), " ")),
                )
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("ghs"),
    )


def _doc_gram_sets_md5(df: DataFrame, n: int = N_GRAM) -> DataFrame:
    """documents → (doc_id, ghs, gh2s) — the doc's DISTINCT word n-grams
    as two ALIGNED 60-bit hash arrays derived from disjoint md5 halves
    (hex chars 1-15 → ghs, 16-30 → gh2s). md5 + conv is computable
    bit-identically in DuckDB (``('0x'||substr(md5(g),1,15))::BIGINT``),
    which is what buys dedup_minhash its EXACT cross-engine oracle — the
    xxhash64 twin (`_doc_gram_sets`) has no such twin and stays the choice
    where only in-engine equality matters (dedup_ngram_jaccard hashes are
    an internal join key there; its oracle joins raw strings).

    Same narrow shape as `_doc_gram_sets`: grams never leave the
    projection, zero shuffles, 16 bytes/gram per row. Distinctness is
    taken on the md5 strings so the two hash arrays stay aligned. md5 is
    ~2× the per-gram cost of xxhash64 (both JVM codegen); at 100 TB where
    nothing cross-checks DuckDB, swap back to the xxhash64 variant.
    No scan_parallel — same post-shuffle input note as _doc_gram_sets."""
    toks = df.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("ws")
    )
    ms = F.when(
        F.size("ws") >= n,  # sequence(1, k<1) would count DOWN
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                lambda i: F.md5(F.array_join(F.slice("ws", i, n), " ")),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", ms.alias("ms")).select(
        "doc_id",
        F.transform(
            "ms", lambda m: F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        ).alias("ghs"),
        F.transform(
            "ms", lambda m: F.conv(F.substring(m, 16, 15), 16, 10).cast("long")
        ).alias("gh2s"),
    )


def minhash_signature(ghs, gh2s):
    """The 64 permutation-mins for ONE document: numpy int64 broadcast of
    (h1 + i·h2) mod p over the doc's gram hashes. Module-level (not a UDF
    closure) so the property tests can pin it against a pure-Python
    reference — the numpy arithmetic here must agree element-for-element
    with the DuckDB oracle's integer SQL."""
    import numpy as np

    p = MERSENNE_P
    perm = np.arange(N_HASH, dtype=np.int64)
    h1 = np.asarray(ghs, dtype=np.int64) % p
    # +1 keeps h2 nonzero mod p-1 or permutation i degenerates
    h2 = (np.asarray(gh2s, dtype=np.int64) % (p - 1)) + 1
    return ((h1[None, :] + perm[:, None] * h2[None, :]) % p).min(axis=1)


def _band_keys(
    doc_sets: DataFrame, string_keys: bool = False
) -> tuple[DataFrame, Column]:
    """(doc_id, ghs, gh2s) → ((doc_id, sig) signatures, keys): ``keys`` is
    the array Column of the N_BANDS LSH band keys of ``sig``, in band
    order; a doc with an empty gram set gets no row. Callers explode
    ``keys`` itself, never a projected column of it: Catalyst infers a
    non-empty filter for a generator over a column and pushes it below the
    projection, which would evaluate the signature UDF a second time.

    Standard double-hashing construction (Kirsch & Mitzenmacher): two base
    hashes per gram, permutation i = (h1 + i·h2) mod p — 2 hash
    evaluations per gram instead of 64, with equivalent collision behavior
    for minhash. The bases are the two independent md5 halves from
    `_doc_gram_sets_md5` (reduced mod p / mod p-1), so every intermediate
    is a positive long ≤ 63·(p-1)+p and `%` agrees across numpy, Spark,
    and DuckDB — the whole signature is cross-engine reproducible.

    The 64 permutation-mins are computed in an Arrow-batched pandas UDF
    (one numpy broadcast-matmul per doc). The whole step is NARROW:
    signatures derive from each doc's own row, so no exchange at any
    scale; band keys then hash 8 consecutive signature entries (xxhash64 —
    in-engine equality only; see dedup_minhash's collision note).

    ``string_keys=True`` emits the raw '-'-joined signature slice as the
    band key instead of its xxhash64 (matching the oracle's string_agg
    construction exactly) — for consumers whose FLAGS are the final
    output with no exact-verify stage behind them (stream_minhash_dedup),
    where an in-engine-only hash would leave a (negligible but nonzero)
    collision gap between engine and oracle. ~4× wider keys; at 100 TB
    with no oracle in the loop, xxhash64 keys are the right default."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def sig64(ghs: pd.Series, gh2s: pd.Series) -> pd.Series:
        # Per-doc broadcast (64 × n_grams) matmul-style min. A flattened
        # minimum.reduceat variant (one pass per permutation over the whole
        # batch) was measured ~18% SLOWER at the corpus's ~100-gram doc
        # profile — the 64 full-array modulo passes are memory-bound while
        # these per-doc matrices stay cache-resident; keep the loop.
        return pd.Series(
            [minhash_signature(g, g2) for g, g2 in zip(ghs, gh2s)]
        )

    sig = doc_sets.filter(F.size("ghs") > 0).select(
        "doc_id", sig64("ghs", "gh2s").alias("sig")
    )
    rows_per_band = N_HASH // N_BANDS

    def key(b: int):
        elems = [
            F.element_at("sig", b * rows_per_band + i + 1)
            for i in range(rows_per_band)
        ]
        if string_keys:
            return F.concat_ws("-", *[e.cast("string") for e in elems])
        return F.xxhash64(*elems)

    return sig, F.array(*[key(b) for b in range(N_BANDS)])


def minhash_bands(doc_sets: DataFrame, string_keys: bool = False) -> DataFrame:
    """(doc_id, ghs, gh2s) → (doc_id, band_id, band_hash) — `_band_keys`
    exploded to one row per band (the key column is ``bkey`` with
    ``string_keys=True``)."""
    sig, keys = _band_keys(doc_sets, string_keys)
    out_col = "bkey" if string_keys else "band_hash"
    return sig.select("doc_id", F.posexplode(keys).alias("band_id", out_col))


def _minhash_ctes(src: str = "documents", col: str = "text", p: str = "") -> str:
    """The MinHash chain over any (doc_id, {col}) relation, the DuckDB
    twin of `_minhash_pairs`: `_grams_ctes` → {p}gh (two md5 gram hashes)
    → {p}sig (64 permutation mins) → {p}bands (string band keys) →
    {p}cands (docs sharing a band bucket) → {p}inter → {p}pairs (exact
    Jaccard >= JACCARD_T); ``p`` prefixes CTE names for composition."""
    return f"""{_grams_ctes(src, col, p)},
{p}gh AS (
    SELECT doc_id,
           ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h1,
           ('0x' || substr(md5(gram), 16, 15))::BIGINT AS h2
    FROM {p}grams
),
{p}sig AS MATERIALIZED (
    SELECT doc_id, p.i,
           min(((h1 % {MERSENNE_P})
                + p.i * ((h2 % {MERSENNE_P - 1}) + 1)) % {MERSENNE_P}) AS s
    FROM {p}gh CROSS JOIN (SELECT unnest(range(0, {N_HASH})) AS i) p
    GROUP BY doc_id, p.i
),
{p}bands AS (
    SELECT doc_id, i // {N_HASH // N_BANDS} AS band_id,
           string_agg(s::VARCHAR, '-' ORDER BY i) AS bkey
    FROM {p}sig GROUP BY doc_id, i // {N_HASH // N_BANDS}
),
{p}cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {p}bands a
    JOIN {p}bands b ON a.band_id = b.band_id AND a.bkey = b.bkey
              AND a.doc_id < b.doc_id
),
{p}inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS ix
    FROM {p}cands c
    JOIN {p}grams ga ON ga.doc_id = c.doc_a
    JOIN {p}grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    GROUP BY 1, 2
),
{_jaccard_cte(p)}"""


def _minhash_pairs(doc_sets: DataFrame) -> DataFrame:
    """(doc_id, ghs, gh2s) md5 gram sets → verified (doc_a, doc_b,
    jaccard) near-duplicate pairs. Candidates are the pairs inside each
    LSH band bucket's posting list (`_posting_pairs` keyed on (band_id,
    band_hash), uncapped like the oracle), so the signature UDF runs once
    per doc. A pair sharing several buckets is kept only from its first
    shared band — each list entry carries the doc's band keys — so the
    candidates are distinct without a shuffle. Every candidate is then
    verified with exact Jaccard, so the output has no false positives and
    the bands bound recall only."""
    sig, keys = _band_keys(doc_sets)
    bands = sig.select(
        "doc_id",
        keys.alias("keys"),
        F.posexplode(keys).alias("band_id", "band_hash"),
    )
    first_shared = F.array_position(
        F.zip_with("a.keys", "b.keys", lambda x, y: x == y), True
    )
    cands = (
        _posting_pairs(
            bands, ["band_id", "band_hash"], F.struct("doc_id", "keys")
        )
        .filter(first_shared == F.col("band_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return _verify_jaccard(cands, doc_sets.select("doc_id", "ghs"))


@query(
    "dedup_minhash",
    oracle=f"WITH {_minhash_ctes()}\nSELECT doc_a, doc_b, jaccard FROM pairs",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → 64-perm minhash → 8-band LSH
    bucket posting lists → candidates verified with EXACT Jaccard
    (`_minhash_pairs`). Verified against exact ground truth in
    tests/test_dedup.py AND an exact DuckDB oracle: every ingredient —
    md5-derived double hashes (`_doc_gram_sets_md5`), the (h1 + i·h2)
    mod p permutation mins, band grouping, Jaccard verify — is
    deterministic integer arithmetic both engines compute identically, so
    the "approximate" sketch has an exact cross-engine twin. Sole caveat:
    Spark keys band buckets by xxhash64 of the 8-row slice while the
    oracle compares the slices directly — a false CANDIDATE needs a 2^-64
    band-hash collision and would still have to pass exact-Jaccard
    verification to diverge.

    Shuffle budget — 3 exchanges, every one O(docs) or O(candidates),
    never O(grams): the band posting-list collect keyed on (band_id,
    band_hash), then the two verify joins of candidate pairs back to the
    gram-set table (one per side; candidates are distinct without a
    shuffle, see `_minhash_pairs`). Gram sets and signatures are narrow,
    and the signature UDF runs once per doc. The gram-set table feeds the
    bands and both verify joins; `_shared_gram_sets_md5` builds it once
    per (session, corpus) as a shared checkpoint.

    Like dedup_ngram_jaccard, verbatim-duplicate groups collapse to one
    representative before signing and expand after: identical texts have
    identical signatures, so an R-clique would collide in EVERY band and
    cost C(R,2) candidate rows per band — the collapse makes candidate
    cost a function of distinct texts (verbatim pairs re-enter as exact
    jaccard-1.0 rows, which is what verification yields for them)."""
    release_transient_storage()  # free the previous invocation's blocks
    members = _shared_members(spark, sf_dir)
    doc_sets = _shared_gram_sets_md5(spark, sf_dir)
    eligible = _nonempty_reps(doc_sets).withColumn("jaccard", F.lit(1.0))
    return guard_result(
        _expand_rep_pairs(_minhash_pairs(doc_sets), members, eligible, "jaccard")
    )


HAMMING_T = 3
SIMHASH_BITS = 60  # 15 md5 hex chars — the widest value both engines
#                    parse into a BIGINT without overflow ('0x…'::BIGINT
#                    in DuckDB caps at 63 bits; 60 keeps nibble alignment)
SIMHASH_BANDS = 4  # pigeonhole: hamming ≤ 3 ⟹ ≥1 of 4 bands equal
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << _BAND_BITS) - 1


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document from md5-derived token hashes — fully
    declarative: per-token 60-bit hash (cross-engine, see
    `_doc_gram_sets_md5`), per-bit vote via sign sums, bit-pack. One
    narrow pass + one groupBy doc. Token MULTIPLICITY counts (explode, not
    distinct): a token appearing 10× casts 10 votes, the standard SimHash
    weighting. No scan_parallel — same post-shuffle input note as
    _doc_gram_sets."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.select("doc_id", md5_prefix_int("tok", 15).alias("h"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    packed = votes.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{i}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), i),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return packed


@query(
    "dedup_simhash",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
),
h AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM toks WHERE len(tok) > 0
),
votes AS (
    SELECT doc_id, b.i,
           sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM h CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS i) b
    GROUP BY doc_id, b.i
),
sh AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
),
banded AS (
    SELECT doc_id, simhash,
           (simhash >> ({_BAND_BITS} * b.band_id)) & {_BAND_MASK}
               AS band_val,
           b.band_id
    FROM sh CROSS JOIN
         (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band_id) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {HAMMING_T}
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signature, candidates generated by
    4×15-bit band equality (hamming ≤ 3 ⟹ at least one of 4 bands equal,
    pigeonhole — candidate generation is exact for the verify threshold),
    verified by bit_count(xor) ≤ 3. Every ingredient — md5-derived token
    hash, vote sums, bit-pack, banding, hamming — is deterministic integer
    arithmetic both engines compute identically, so the sketch carries an
    EXACT DuckDB oracle (same construction as dedup_minhash's). A vote tie
    (sum = 0, even token count) packs bit 0 in both engines.

    Verbatim-duplicate groups collapse to one representative before
    signing and expand after (identical text ⇒ identical simhash ⇒ the
    full pipeline would emit every member pair with hamming 0) — see
    `_verbatim_reps`."""
    release_transient_storage()  # free the previous invocation's blocks
    # shared member map: one build per (session, corpus) across the whole
    # dedup family — see ckpt.shared_checkpoint
    members = _shared_members(spark, sf_dir)
    sh = simhash(_shared_rep_docs(spark, sf_dir))
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("simhash"), _BAND_BITS * b)
                        .bitwiseAND(_BAND_MASK)
                        .alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_id", "bb.band_val")
    rep_pairs = (
        _posting_pairs(
            banded, ["band_id", "band_val"], F.struct("doc_id", "simhash")
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_T)
    )
    # a doc appears in sh iff it has ≥1 nonempty token — the oracle's
    # `WHERE len(tok) > 0` stream implies the same membership
    eligible = sh.select(
        F.col("doc_id").alias("rep_id"),
        F.lit(0).cast(rep_pairs.schema["hamming"].dataType).alias("hamming"),
    )
    return guard_result(
        _expand_rep_pairs(rep_pairs, members, eligible, "hamming")
    )


COS_T = 0.4


@query(
    "dedup_embedding",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {COS_T}
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs at oracle scale
    (2000² at sf0.1 — fine); at 100 TB the candidate set comes from the
    same random-hyperplane LSH as sim_search_ann (similarity.py) and this
    exact verify runs only on bucket collisions. Cosine is computed as a
    sequential double fold (zip_with + aggregate), matching DuckDB's loop
    bit-for-bit; round(6) belts-and-suspenders the comparison."""
    from .similarity import cosine_col

    e = scan_parallel(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_col(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= COS_T)
    )


# Shared oracle scaffolding for the cluster ops: dedup_ngram_jaccard's
# oracle pairs (`_JACCARD_CTES`) → undirected edges →
# transitive closure via recursive CTE → per-node component minimum, then
# `labels` assigns every document its cluster id (singletons label
# themselves).
_CC_CTES = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
labels AS (
    SELECT d.doc_id, d.n_chars,
           CAST(least(coalesce(c.mn, d.doc_id), d.doc_id) AS BIGINT)
               AS cluster_id
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
)
"""


@query(
    "dedup_cluster_cc",
    oracle=f"""
{_CC_CTES.strip()}
SELECT doc_id, cluster_id FROM labels
""",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the step
    every real dedup pipeline needs after pair generation (keep one doc per
    CLUSTER, not per pair; pairs alone under-delete transitive groups
    A~B~C). Components are computed with alternating large-star/small-star
    edge rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): O(log²) rounds on ANY graph shape vs O(diameter) for naive
    min-label propagation — see `connected_components`. The oracle walks
    the same graph with a recursive CTE.

    The stars iterate over the COLLAPSED rep-level pair graph, not the
    member-expanded one (round-9; previously the rounds crunched the
    expanded graph, whose verbatim cliques contribute C(R,2) edges each —
    the dominant term in the 10× scaling probe). Collapse is exact for
    components: a verbatim group is internally connected (within-group
    edges exist exactly when the group is gram-eligible) and meets other
    groups only through its representative's edges, so member-level
    components are rep-level components expanded by the member map; and
    because each rep is its group's MIN doc_id, the member-level component
    min equals the rep-level root. Members of gram-INELIGIBLE groups
    (empty docs) have no edges at member level and stay their own
    singletons — the eligibility semi-join below preserves that.

    Each round truncates lineage with a pooled checkpoint
    (``ckpt.pooled_checkpoint``) — see `connected_components`. The pair
    graph is materialized once per (session, corpus) like the gram sets
    it derives from (`_rep_jaccard_pairs`), and sub-cap edge sets finish
    with a bounded local union-find instead of distributed rounds
    (CC_LOCAL_EDGES in `connected_components`) — together these removed
    ~2/3 of this op's measured sf0.1 wall time, which was pair-pipeline
    recompute plus per-round scheduler round-trips on a 241-edge graph."""
    release_transient_storage()  # free the previous invocation's blocks
    docs = load(spark, sf_dir, "documents").select("doc_id")
    members = _shared_members(spark, sf_dir)
    doc_sets = _shared_gram_sets(spark, sf_dir)
    rep_pairs = _rep_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = connected_components(rep_pairs)
    # expand: every member of a gram-ELIGIBLE group gets its rep's root
    # (own rep_id when the rep is an edge-less singleton); ineligible
    # members fall through the left joins and coalesce to themselves
    lab = (
        members.join(_nonempty_reps(doc_sets), "rep_id")
        .join(labels.withColumnRenamed("node", "rep_id"), "rep_id", "left")
        .select(
            "doc_id", F.coalesce("root", F.col("rep_id")).alias("cl")
        )
    )
    return guard_result(
        docs.join(lab, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cl", F.col("doc_id")).alias("cluster_id"),
        )
    )


# Edge count under which connected_components finishes DRIVER-SIDE: one
# bounded collect (100k (long,long) rows ≈ 1.6 MB — the same
# bounded-by-construction class as the BPE training sample or the bloom
# bit positions) plus a union-find replaces every remaining distributed
# round. The decision input is MEASURED (the convergence signature
# already counts the canonical edge set each round, so the check is
# free), making this the AQE pattern — demote to a local strategy when
# runtime stats fit the threshold — applied to iteration: at 100 TB the
# graph starts far above the cap and the star rounds run distributed
# until they SHRINK it under the cap, then one collect finishes the job
# instead of O(log) more full scheduler round-trips. Locally the rep
# graph fits from round 0 and the entire iteration cost disappears.
CC_LOCAL_EDGES = 100_000


def _finish_local(edges: DataFrame) -> DataFrame:
    """Union-find over a sub-cap canonical edge set → (node, root) labels,
    root = component min (identical to the star fixed point's labeling:
    parent[max_root] = min_root keeps every tree rooted at its component
    minimum, so the result is order-independent)."""
    rows = edges.collect()  # bounded: caller checked count <= local_cap
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r.x, r.y
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(
        labels, "node long, root long"
    )


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 64,
    local_cap: int = CC_LOCAL_EDGES,
) -> tuple[DataFrame, int]:
    """Connected components of an undirected edge list via alternating
    large-star / small-star rewrites (Kiveris et al. 2014). Each rewrite is
    one groupBy + one equi-join on the SAME key (node id) — the join reuses
    the aggregation's partitioning — and strictly reduces the potential
    function, converging in O(log² n) rounds on any graph (a chain of
    length d converges in ~log d rounds where min-label needs d). The fixed
    point is a star forest: every edge runs (component-min → member), so
    labels fall straight out of the edge set with no extra pass.

    - large-star: every node links its LARGER neighbors to its smallest
      neighbor-or-self — long tails collapse toward minima without ever
      growing a node's degree beyond its component size.
    - small-star: every node links its smaller neighbors AND itself to
      that minimum — stars re-center onto the true minimum.

    Convergence test: the canonical edge set is a fixed point exactly when
    (count, Σ xxhash64(edge)) is unchanged — one tiny scalar action per
    round. Lineage is truncated per round by a lazy pooled checkpoint
    (``ckpt.pooled_checkpoint``; a snapshot is written eagerly). Once the
    signature has materialized a round, every older round is superseded
    and freed; the newest stays pooled, because the returned labels read
    it, and is freed at the next ``release_transient_storage()``.

    Adaptive local finish: before each round the measured canonical edge
    count (from the convergence signature — no extra action) is compared
    to ``local_cap`` (CC_LOCAL_EDGES); at or under it, one bounded collect
    + union-find replaces every remaining distributed round — the AQE
    demote-when-stats-fit pattern applied to iteration. Pass
    ``local_cap=0`` to force the distributed path (tests of the star
    machinery do).

    Returns (labels: (node, root=component min) for every node with ≥1
    edge, rounds executed). Singletons are absent — the caller left-joins
    and coalesces to self."""
    live: list[DataFrame] = []  # pooled rounds, oldest first

    def truncate(e: DataFrame) -> DataFrame:
        ck = pooled_checkpoint(e, "cc_round", eager=False)
        live.append(ck)
        return ck

    def release_superseded() -> None:
        # the sig() action just materialized the newest round, which holds
        # the full edge set: free every older round now instead of letting
        # O(rounds) of them wait for the next release
        for e in live[:-1]:
            release(e)
        del live[:-1]

    def canon(e: DataFrame, a: str, b: str) -> DataFrame:
        return (
            e.filter(F.col(a) != F.col(b))
            .select(
                F.least(a, b).alias("x"), F.greatest(a, b).alias("y")
            )
            .distinct()
        )

    def nbrs(e: DataFrame) -> DataFrame:
        return e.select(F.col("x").alias("u"), F.col("y").alias("v")).union(
            e.select(F.col("y").alias("u"), F.col("x").alias("v"))
        )

    def star(e: DataFrame, large: bool) -> DataFrame:
        n = nbrs(e)
        mins = (
            n.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        j = n.join(mins, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = j.filter(F.col("v") < F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).union(
                mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return canon(out, "a", "b")

    def sig(e: DataFrame) -> tuple:
        # bit_xor, not sum: order-independent over the distinct edge set
        # and immune to ANSI long-overflow (sums of xxhash64 overflow)
        r = e.agg(
            F.count("*").alias("c"),
            F.expr("bit_xor(xxhash64(x, y))").alias("s"),
        ).collect()[0]
        return (r.c, r.s)

    edges = truncate(canon(pairs, "doc_a", "doc_b"))
    cur = sig(edges)
    release_superseded()
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        if cur[0] <= local_cap:
            # sub-cap graph (measured by the convergence signature, which
            # is computed anyway): finish locally — valid at any round
            # boundary because the star rewrites preserve both the
            # component structure and the non-singleton node set
            return _finish_local(edges), rounds
        edges = truncate(star(edges, large=True))
        edges = truncate(star(edges, large=False))
        rounds += 1
        nxt = sig(edges)
        release_superseded()
        if nxt == cur:
            converged = True
            break
        cur = nxt
    if not converged:
        # label extraction below assumes the star-forest fixed point —
        # running it on an unconverged edge set would silently emit SPLIT
        # clusters. Rounds grow ~2·log2(diameter), so 64 covers any graph
        # that fits on hardware; hitting this means something is wrong.
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # fixed point = star forest: x is the component min on every edge
    labels = (
        nbrs(edges)
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least("mv", F.col("u")).alias("root"),
        )
    )
    return labels, rounds


@query(
    "dedup_levenshtein",
    oracle="""
SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
       levenshtein(a.s_name, b.s_name) AS dist
FROM supplier a
JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
""",
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) duplicate pairs with a BLOCKING key: candidate
    pairs are generated only within a nation (equi-join, hash-shuffled),
    then exact Levenshtein ≤ 2 filters them — the classic blocked
    record-linkage plan. Never an all-pairs cross join: at 100 TB the
    blocking key (here nation; in a real corpus a normalized prefix or
    phonetic key) bounds the quadratic term to the largest block, and both
    engines' levenshtein is the same deterministic integer DP."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
    )
    return pairs.select(
        F.col("a.s_suppkey").alias("supp_a"),
        F.col("b.s_suppkey").alias("supp_b"),
        F.levenshtein(F.col("a.s_name"), F.col("b.s_name")).alias("dist"),
    ).filter(F.col("dist") <= 2)


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
{_CC_CTES.strip()},
best AS (
    SELECT cluster_id, doc_id AS keeper_id
    FROM (SELECT cluster_id, doc_id,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM labels)
    WHERE rn = 1
)
SELECT l.doc_id, l.cluster_id, (l.doc_id = b.keeper_id) AS keep
FROM labels l JOIN best b ON b.cluster_id = l.cluster_id
""",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-dedup ENDPOINT: after near-dup pairs are clustered
    (dedup_cluster_cc), keep exactly one document per cluster — the
    longest (max n_chars, ties to the smallest doc_id) — and flag the
    rest for deletion. This keep/drop decision, not the pair list, is
    what a curation pipeline actually applies to the corpus.

    The keeper is selected with a max(struct(n_chars, -doc_id)) hash
    aggregate + equi-join back on cluster_id — partial aggregation
    collapses each partition to one candidate per cluster before the
    exchange, so the selection costs one O(docs) shuffle regardless of
    cluster-size skew (a sort-based row_number window over a pathological
    billion-doc cluster would funnel it through one task; the oracle uses
    that window shape only because its corpus is small). Singleton
    documents are their own cluster and always kept."""
    labels = dedup_cluster_cc(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lab = labels.join(docs, "doc_id")
    best = (
        lab.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("b")
        )
        .select("cluster_id", (-F.col("b.neg_id")).alias("keeper_id"))
    )
    return guard_result(
        lab.join(best, "cluster_id").select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
        )
    )


@query(
    "dedup_cluster_downweight",
    oracle=f"""
{_CC_CTES.strip()},
csize AS (
    SELECT cluster_id, count(*) AS cluster_size
    FROM labels GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       round(1.0 / s.cluster_size, 6) AS keep_p
FROM labels l JOIN csize s USING (cluster_id)
WHERE {_MD5_UNIFORM_SQL.format(col="l.doc_id")} < 1.0 / s.cluster_size
""",
)
def dedup_cluster_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup by cluster-size DOWN-WEIGHTING — the alternative to
    hard keep-one-per-cluster (dedup_cluster_keep_best) several training
    pipelines prefer: every document in a near-dup cluster of size R
    survives with probability 1/R, so each duplicated CONTENT contributes
    ~one expected copy while which copy survives stays unbiased (hard
    dedup always keeps the same member, concentrating any correlated
    artifacts of the keeper rule). Singletons have keep_p 1.0 and always
    survive.

    The keep decision compares an md5-derived uniform against 1/R — the
    sample_quality_weighted determinism rule (same verdict both engines,
    every run, any partitioning; NOT rand()). Plan: CC labels (see
    dedup_cluster_cc) → one count agg on cluster_id → an equi-join back —
    both keyed on cluster_id so the exchange is reused; the filter is
    narrow. 1/R division and the uniform are bit-identical cross-engine
    (exact int→double conversions, one IEEE divide)."""
    from .curation import _md5_uniform

    labels = dedup_cluster_cc(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    keep_p_raw = F.lit(1.0) / F.col("cluster_size")
    return guard_result(
        labels.join(sizes, "cluster_id")
        .filter(_md5_uniform(F.col("doc_id")) < keep_p_raw)
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            F.round(keep_p_raw, 6).alias("keep_p"),
        )
    )


CONTAIN_T = 0.8  # containment threshold: |A∩B| / |A| for the contained side


@query(
    "dedup_containment",
    oracle=f"""
WITH {_INTER_CTES},
hydrated AS (
    SELECT i.doc_a, i.doc_b, i.ix, sa.sz AS sa, sb.sz AS sb
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT doc_a AS doc_contained, doc_b AS doc_container,
       CAST(ix AS DOUBLE) / sa AS containment
FROM hydrated WHERE CAST(ix AS DOUBLE) / sa >= {CONTAIN_T}
UNION ALL
SELECT doc_b, doc_a, CAST(ix AS DOUBLE) / sb
FROM hydrated WHERE CAST(ix AS DOUBLE) / sb >= {CONTAIN_T}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered (contained, container) pairs
    where the contained document's gram set is ≥ {CONTAIN_T:.0%} inside the
    other's — the partial-copy / quotation / boilerplate-wrapper signal
    symmetric Jaccard misses (a short doc fully quoted inside a long one
    has low Jaccard but containment ~1). Same inverted-index machinery as
    dedup_ngram_jaccard — rare-gram pair stream, count prefilter
    (ix ≥ T·least(sa, sb) keeps every pair that could clear EITHER
    direction; exact while the DF cap is inert), exact array_intersect
    verify — then each direction's containment ix/|contained| filters
    independently, so one unordered candidate can emit zero, one, or both
    ordered rows. Verbatim-duplicate groups collapse to representatives
    (identical sets ⇒ identical containments) and expand ORDERED: both
    directions hold at 1.0 inside a group, and a cross-group rep verdict
    applies member-wise in its own orientation. Exact integer division in
    IEEE doubles — bit-identical cross-engine, no rounding needed."""
    release_transient_storage()  # free the previous invocation's blocks
    # shared member map + gram sets: same tables dedup_ngram_jaccard and
    # dedup_cluster_cc read — one build per (session, corpus)
    members = _shared_members(spark, sf_dir)
    doc_sets = _shared_gram_sets(spark, sf_dir)
    inter = (
        _rare_pair_stream(doc_sets)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("cnt"))
    )
    sizes = doc_sets.select("doc_id", F.size("ghs").alias("sz"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    cands = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            F.col("cnt").cast("double")
            >= CONTAIN_T * F.least("sa.sz", "sb.sz")
        )
        .select("doc_a", "doc_b")
    )
    ga, gb = doc_sets.alias("ga"), doc_sets.alias("gb")
    verified = (
        cands.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga.ghs", "gb.ghs"))
            .cast("double")
            .alias("ix"),
            F.size("ga.ghs").cast("double").alias("sa"),
            F.size("gb.ghs").cast("double").alias("sb"),
        )
    )
    rep_ordered = (
        verified.filter(F.col("ix") / F.col("sa") >= CONTAIN_T).select(
            F.col("doc_a").alias("rep_con"),
            F.col("doc_b").alias("rep_holder"),
            (F.col("ix") / F.col("sa")).alias("containment"),
        )
    ).unionByName(
        verified.filter(F.col("ix") / F.col("sb") >= CONTAIN_T).select(
            F.col("doc_b").alias("rep_con"),
            F.col("doc_a").alias("rep_holder"),
            (F.col("ix") / F.col("sb")).alias("containment"),
        )
    )
    # ordered member expansion: contained members × container members,
    # each in its rep verdict's orientation
    m_con = members.select(
        F.col("rep_id").alias("rep_con"), F.col("doc_id").alias("dc")
    )
    m_hold = members.select(
        F.col("rep_id").alias("rep_holder"), F.col("doc_id").alias("dh")
    )
    cross = (
        rep_ordered.join(m_con, "rep_con")
        .join(m_hold, "rep_holder")
        .select(
            F.col("dc").alias("doc_contained"),
            F.col("dh").alias("doc_container"),
            "containment",
        )
    )
    # within-group: every ORDERED pair of a verbatim group with a
    # nonempty gram set is mutual containment 1.0
    elig = _nonempty_reps(doc_sets)
    w1 = members.join(elig, members.rep_id == elig.rep_id).select(
        members.rep_id.alias("r"), F.col("doc_id").alias("dc")
    )
    w2 = members.select(
        F.col("rep_id").alias("r"), F.col("doc_id").alias("dh")
    )
    within = (
        w1.join(w2, "r")
        .filter(F.col("dc") != F.col("dh"))
        .select(
            F.col("dc").alias("doc_contained"),
            F.col("dh").alias("doc_container"),
            F.lit(1.0).alias("containment"),
        )
    )
    return guard_result(cross.unionByName(within))


# --- cross-document substring dedup (Lee et al. "Deduplicating Training
# Data Makes Language Models Better" — the train-data dedup workload run
# beside minhash in production pipelines) -----------------------------------

SUBSTR_K = 8  # anchor width: a shared run must contain one aligned 8-gram
SUBSTR_MIN_OLAP = 16  # report maximal verbatim overlaps of >= 16 tokens
# Anchor grams with more total positioned occurrences than this are dropped
# from the CANDIDATE index: a boilerplate 8-gram occurring o times fans the
# occurrence-pair expansion out to C(o,2) rows. Unlike GRAM_DF_CAP (which
# caps distinct-document frequency), the cap here is on OCCURRENCES because
# positioned anchors repeat within documents and the quadratic cost is per
# occurrence pair — counting occurrences also keeps the deciding aggregate
# fixed-size (one long per gram) where a distinct-doc count would hold a
# set. Recall floor (the honest one): EACH capped anchor splits the
# diagonal run at its position — a single boilerplate 8-gram mid-overlap
# shortens the reported run(s), and the pair vanishes entirely (and
# dedup_substring_scrub under-removes) when every residual piece falls
# below SUBSTR_MIN_OLAP. Full invisibility does NOT require all anchors
# capped; it requires only that no gap between capped anchors spans
# SUBSTR_MIN_OLAP tokens. Accepted: cap-level grams are boilerplate by
# definition, and overlaps woven through boilerplate every <16 tokens are
# the quote-of-a-quote class this op deliberately leaves to the upstream
# passage/exact ops. Fixture headroom: max
# anchor occurrence count at rep level is ~25 at sf0.1, so the cap is inert
# for the oracle (pinned in tests/test_dedup.py) while bounding the 100 TB
# expansion to C(2000,2) streamed rows per cap-level gram.
SUBSTR_OCC_CAP = 2_000


def _substring_ctes(src: str = "documents", col: str = "text", p: str = "") -> str:
    """The substring chain over any (doc_id, {col}) relation, the DuckDB
    twin of `_substring_spans` + `_scrub_spans`: {p}toks → {p}pg
    (positioned SUBSTR_K-grams) → {p}anch (shared-gram anchor pairs,
    doc_a < doc_b) → {p}runs (gaps-and-islands run ids per diagonal) →
    {p}sp (maximal runs of >= SUBSTR_MIN_OLAP tokens: doc_a, doc_b, sa,
    sb, olap) → {p}remd (positions cut from the later doc) → {p}tokpos →
    {p}kept (doc_id, clean_text, n_removed); ``p`` prefixes CTE names for
    composition."""
    return f"""{p}toks AS MATERIALIZED (
    SELECT doc_id, string_split_regex(lower({col}), '\\s+') AS ws
    FROM {src}
),
{p}pg AS MATERIALIZED (
    SELECT doc_id, CAST(i AS INTEGER) AS pos,
           array_to_string(
               ws[CAST(i AS INTEGER):CAST(i + {SUBSTR_K} - 1 AS INTEGER)],
               ' ') AS gram
    FROM (SELECT doc_id, ws,
                 unnest(range(1, len(ws) - {SUBSTR_K} + 2)) AS i
          FROM {p}toks)
),
{p}anch AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
    FROM {p}pg a JOIN {p}pg b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
{p}runs AS (
    SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
           pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                   ORDER BY pa) AS grp
    FROM {p}anch
),
{p}sp AS (
    SELECT doc_a, doc_b, min(pa) AS sa, min(pb) AS sb,
           max(pa) - min(pa) + {SUBSTR_K} AS olap
    FROM {p}runs GROUP BY doc_a, doc_b, diag, grp
    HAVING max(pa) - min(pa) + {SUBSTR_K} >= {SUBSTR_MIN_OLAP}
),
{p}remd AS (
    SELECT DISTINCT doc_b AS doc_id, CAST(sb + u AS INTEGER) AS pos
    FROM {p}sp, unnest(range(0, olap)) AS t(u)
),
{p}tokpos AS (
    SELECT doc_id, CAST(i AS INTEGER) AS pos, ws[CAST(i AS INTEGER)] AS tok
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
          FROM {p}toks)
),
{p}kept AS MATERIALIZED (
    SELECT t.doc_id,
           coalesce(string_agg(CASE WHEN r.pos IS NULL THEN t.tok END,
                               ' ' ORDER BY t.pos), '') AS clean_text,
           count(r.pos) AS n_removed
    FROM {p}tokpos t
    LEFT JOIN {p}remd r ON r.doc_id = t.doc_id AND r.pos = t.pos
    GROUP BY t.doc_id
)"""


def _word_toks(docs: DataFrame, col: str = "text") -> DataFrame:
    """(doc_id, {col}) → (doc_id, ws, n): the lowercased whitespace token
    array and its length — the tokenization both substring builders and
    their oracle (`{p}toks`) share."""
    return docs.select(
        "doc_id", F.split(F.lower(col), r"\s+").alias("ws")
    ).withColumn("n", F.size("ws"))


def _substring_spans(toks: DataFrame) -> DataFrame:
    """(doc_id, ws, n) token arrays → (doc_a, doc_b, sa, sb, olap): one
    row per maximal shared token run of >= SUBSTR_MIN_OLAP tokens between
    two distinct docs (doc_a < doc_b), where sa/sb are the run's 1-based
    start positions in each doc.

    Matches are maximal chains of positionally-consecutive shared
    SUBSTR_K-gram anchors: two docs share an L-token run iff they share
    L-K+1 consecutive aligned anchors, so maximal anchor runs on a (doc_a,
    doc_b, pos_a - pos_b) diagonal ARE the maximal overlaps — the
    gaps-and-islands identity (run id = pos - row_number over the
    diagonal) both engines state identically (re-proved against brute
    force in tests/test_property.py).

    Never all-pairs: anchors meet only inside a gram's posting list
    (`_posting_pairs` over (doc_id, pos) structs, capped at
    SUBSTR_OCC_CAP occurrences — see its comment). Exchanges downstream
    are keyed by (pair, diagonal) — skew-bounded by real overlap length,
    not corpus size. Anchors are xxhash64 of the gram string (in-engine
    join key only; the oracles join raw strings — the usual 2^-64
    collision class)."""
    pg = (
        toks.filter(F.col("n") >= SUBSTR_K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - (SUBSTR_K - 1)),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("ws", i, SUBSTR_K), " ")
                    ),
                )
            ).alias("p0", "gh"),
        )
        # posexplode is 0-based; the oracle's positions are 1-based
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh")
    )
    anch = (
        _posting_pairs(pg, ["gh"], F.struct("doc_id", "pos"), SUBSTR_OCC_CAP)
        # sorted structs make a.doc_id <= b.doc_id; drop within-doc pairs
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    return (
        anch.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("sa"),
            F.min("pb").alias("sb"),
            (F.max("pa") - F.min("pa") + SUBSTR_K).alias("olap"),
        )
        .filter(F.col("olap") >= SUBSTR_MIN_OLAP)
        .select("doc_a", "doc_b", "sa", "sb", "olap")
    )


def _scrub_spans(toks: DataFrame, spans: DataFrame) -> DataFrame:
    """(doc_id, ws, n) token arrays + `_substring_spans` rows → (doc_id,
    clean_text, n_removed): each doc's tokens joined by single spaces
    with every span where it is the LATER (doc_b) side cut out
    (keep-first), and the number of positions cut. Overlapping spans
    union; a doc with no token row (NULL text) emits no row."""
    rem = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(F.col("sb"), F.col("sb") + F.col("olap") - 1)
            ).alias("pos"),
        )
        .distinct()
        .withColumn("rm", F.lit(1))
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("ws").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    return (
        tokpos.join(rem, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rm").isNull(),
                                F.struct("pos", "tok"),
                            )
                        )
                    ),
                    lambda x: x.tok,
                ),
                " ",
            ).alias("clean_text"),
            F.sum(F.coalesce("rm", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


def _rep_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_substring_spans` over the representative docs — the span table
    dedup_substring (pair-level longest overlap) and dedup_substring_scrub
    (span removal) both start from, materialized once per (session,
    corpus) via ``ckpt.shared_checkpoint``. It is O(overlapping pairs)
    rows, far below the gram sets already cached."""
    return shared_checkpoint(
        spark, sf_dir, "rep_substring_spans",
        lambda: _build_rep_substring_spans(spark, sf_dir),
    )


def _build_rep_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy span plan behind `_rep_substring_spans`."""
    return _substring_spans(_word_toks(_shared_rep_docs(spark, sf_dir)))


@query(
    "dedup_substring",
    oracle=f"""
WITH {_substring_ctes()}
SELECT doc_a, doc_b, CAST(max(olap) AS BIGINT) AS olap_tokens
FROM sp
GROUP BY doc_a, doc_b
""",
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring dedup, pair-level report: for every pair
    of distinct documents sharing a verbatim token run >= SUBSTR_MIN_OLAP,
    the LONGEST such overlap — the maximal spans of `_rep_substring_spans`
    folded to one row per pair and member-expanded (identical texts =>
    identical positioned grams => identical max overlap, so carrying the
    rep value is exact even for texts with internal repeats — the extra
    off-diagonal runs are never the max). A verbatim pair's longest
    overlap is the whole text, so within-group pairs take the rep's token
    count where it reaches SUBSTR_MIN_OLAP."""
    release_transient_storage()  # free the previous invocation's blocks
    members = _shared_members(spark, sf_dir)
    toks = _word_toks(_shared_rep_docs(spark, sf_dir))
    eligible = toks.filter(F.col("n") >= SUBSTR_MIN_OLAP).select(
        F.col("doc_id").alias("rep_id"),
        F.col("n").cast("long").alias("olap_tokens"),
    )
    rep_pairs = (
        _rep_substring_spans(spark, sf_dir)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("olap").cast("long").alias("olap_tokens"))
    )
    return guard_result(
        _expand_rep_pairs(rep_pairs, members, eligible, "olap_tokens")
    )


@query(
    "dedup_substring_scrub",
    oracle=f"""
WITH {_substring_ctes()}
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL ELSE k.clean_text END
           AS clean_text,
       CAST(coalesce(k.n_removed, 0) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
""",
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring REMOVAL — the apply step of Lee et al.'s
    train-data dedup: every maximal verbatim overlap >= SUBSTR_MIN_OLAP
    tokens is deleted from the LATER document (keep-first: the smaller
    doc_id retains its copy), emitting each doc's lowercased
    whitespace-normalized token stream with the duplicated spans cut out
    plus the removed-token count. NULL-text docs emit NULL; a fully-
    duplicated doc emits ''.

    Span discovery is `_rep_substring_spans` (rep-level, inverted-index,
    gaps-and-islands — never all-pairs). Keep-first at MEMBER level
    collapses to a per-CLASS answer, each class exact against the
    raw-document oracle:

    - a REPRESENTATIVE scrubs exactly the spans where its group is the
      LATER (doc_b) side of a rep pair: the earlier group's rep precedes
      every member of the later group (reps are group minima, rep_a <
      rep_b <= member), and the rep itself is never preceded by a later
      group's member (rep_a < rep_b, so "member of A > rep_b" can only
      hold for NON-reps);
    - a NON-representative member whose text is >= SUBSTR_MIN_OLAP tokens
      scrubs EVERYTHING: its whole text is a span shared with the group's
      earlier rep (n >= MIN_OLAP > K also implies the gram eligibility
      the within-edges need), which subsumes every pair-span that could
      touch it;
    - a NON-representative member with a shorter text is untouched — a
      qualifying span needs olap >= MIN_OLAP <= token count, so no span
      can involve its text at all.

    Token-level scrubbing (`_scrub_spans`) therefore runs over DISTINCT
    texts only, and members take their class's answer through the member
    map — the cleaned corpus is emitted per doc (output-linear, this op's
    floor) while the token SHUFFLE scales with distinct text volume."""
    release_transient_storage()  # free the previous invocation's blocks
    members = _shared_members(spark, sf_dir)
    toks = _word_toks(_shared_rep_docs(spark, sf_dir))
    rep_out = _scrub_spans(toks, _rep_substring_spans(spark, sf_dir)).select(
        F.col("doc_id").alias("rep_id"),
        F.col("clean_text").alias("rep_clean"),
        F.col("n_removed").alias("rep_rm"),
    )
    # members take their class's answer (NULL-text groups produce no
    # token rows, so their members fall through both joins to NULL/0,
    # like the oracle)
    full = toks.select(
        F.col("doc_id").alias("rep_id"),
        F.array_join("ws", " ").alias("full_text"),
        "n",
    )
    is_rep = F.col("doc_id") == F.col("rep_id")
    scrub_all = (~is_rep) & (F.col("n") >= SUBSTR_MIN_OLAP)
    return guard_result(
        members.join(full, "rep_id", "left")
        .join(rep_out, "rep_id", "left")
        .select(
            "doc_id",
            F.when(is_rep, F.col("rep_clean"))
            .when(scrub_all, F.lit(""))
            .otherwise(F.col("full_text"))
            .alias("clean_text"),
            F.coalesce(
                F.when(is_rep, F.col("rep_rm")).when(scrub_all, F.col("n")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


# --- SemDeDup-style semantic dedup (cluster-then-prune) -------------------

SEM_COS_T = 0.4  # within-cell near-dup threshold (fixture-scaled; SemDeDup
# uses ~0.95+ on web-image embeddings — the dial, not the algorithm)


def _sem_assign_cte() -> str:
    """DuckDB CTE chain extending similarity._ivf_cte(): assign every
    embedding to its nearest trained centroid (int64-micro distances,
    argmin ties to the lowest cell — the sim_search_ivf oracle shape) and
    build per-cell centroid vectors as double lists for cosine scoring."""
    from .similarity import IVF_DIM

    return f"""
edim AS MATERIALIZED (
    SELECT vec_id, CAST(i AS INTEGER) AS dim, vm[CAST(i AS INTEGER)] AS val
    FROM em, range(1, {IVF_DIM + 1}) t(i)
),
dists AS MATERIALIZED (
    SELECT e.vec_id, c.cell,
           sum((e.val - c.val) * (e.val - c.val)) AS d
    FROM edim e JOIN cen c USING (dim)
    GROUP BY 1, 2
),
assign AS MATERIALIZED (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell) AS rn
        FROM dists
    ) WHERE rn = 1
),
cvec AS MATERIALIZED (
    SELECT cell, list(CAST(val AS DOUBLE) ORDER BY dim) AS cv
    FROM cen GROUP BY cell
),
ev AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""


def _sem_oracle() -> str:
    from .similarity import _ivf_cte

    return f"""
{_ivf_cte().rstrip().rstrip(',')},
{_sem_assign_cte().strip()},
mem AS MATERIALIZED (
    SELECT a.vec_id, a.cell,
           round(list_cosine_similarity(ev.v, cvec.cv), 6) AS cent_cos
    FROM assign a JOIN ev USING (vec_id) JOIN cvec USING (cell)
),
dups AS MATERIALIZED (
    SELECT b.vec_id
    FROM mem a
    JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    JOIN ev ea ON ea.vec_id = a.vec_id
    JOIN ev eb ON eb.vec_id = b.vec_id
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {SEM_COS_T}
      AND (a.cent_cos < b.cent_cos
           OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
    GROUP BY b.vec_id
)
SELECT m.vec_id, m.cell, m.cent_cos,
       d.vec_id IS NOT NULL AS is_dup
FROM mem m LEFT JOIN dups d ON d.vec_id = m.vec_id
"""


@query("dedup_semantic", oracle=_sem_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    arXiv:2303.09540) — the cluster-then-prune corner of the dedup family:
    k-means-cluster the embeddings, then flag within-cell cosine-near
    members, keeping per near-dup relation the member LEAST similar to its
    centroid (the paper's keep rule: prune the redundant core of each
    semantic cluster, keep its periphery). Complements the pairwise
    `dedup_embedding` (which verifies candidate PAIRS): this op never
    compares across cells, so the quadratic term is bounded per cell.

    Spark-first shape: centroid training reuses `ivf_centroids`' bounded
    deterministic sample (driver numpy over ≤IVF_TRAIN_CAP vectors —
    corpus-size-independent); verbatim-identical vectors collapse to one
    representative BEFORE pairing (see the inline proof — crawl corpora
    are full of byte-identical embeddings, and the r14 scaling probe
    measured the uncollapsed pair join at alpha 1.19 on replicated data
    vs 0.03 collapsed); assignment is one narrow Arrow pass; the
    within-cell candidate join is an equi-join on `cell` (no all-pairs,
    no CartesianProduct — the global plan sweep checks) with the
    Arrow-vectorized cosine in the filter. At fixture scale K=16 cells
    bound parallelism; at 100 TB K grows ~sqrt(N) (the IVF_K note,
    similarity.py:309) so cells stay ~constant-size, the equi-join
    shuffles O(N) rows, and per-cell pairwise work is
    O(distinct·cell_size) — SemDeDup's own scaling argument.
    Keep-rule determinism: ranks compare
    round-6 centroid cosines with vec_id ties, so the DuckDB twin
    re-derives identical flags (the integer-micro k-means makes cells
    cross-engine exact; recall vs brute force is pinned in
    tests/test_dedup.py). Reference scope: beyond mapreduce.erl (no
    reference counterpart); included per the LLM-pipeline brief."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from .similarity import _MICRO, IVF_DIM, _cos_pandas, _train_centroids

    e = scan_parallel(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    Cm = _train_centroids(e)
    if Cm.size == 0:  # empty corpus: no row reaches the UDF, but the
        Cm = np.zeros((1, IVF_DIM), dtype=np.int64)  # closure needs a shape

    @pandas_udf("int")
    def nearest_cell(v: pd.Series) -> pd.Series:
        X = np.floor(np.stack(v.to_numpy()) * _MICRO).astype(np.int64)
        d = ((X[:, None, :] - Cm[None, :, :]) ** 2).sum(-1)
        return pd.Series(d.argmin(1))  # ties → lowest cell

    cents = spark.createDataFrame(
        [(cell, [float(x) for x in vec]) for cell, vec in enumerate(Cm.tolist())],
        "cell int, cv array<double>",
    )
    # Arrow-vectorized cosine for BOTH scoring sites — the pair filter is
    # the op's hot path (O(Σ cell²) evaluations) and the interpreted
    # zip_with fold measured 10x the wall time at the probe's replicated
    # 10x scale; round-6 makes numpy's pairwise summation and DuckDB's
    # sequential loop agree (the sim_search precedent, hash-green since r6)
    cos = _cos_pandas()
    # VERBATIM COLLAPSE (the pair-op device of this module): identical
    # vectors share a cell, a centroid cosine, and pairwise cosine 1.0, so
    # the pair pipeline runs on one representative per DISTINCT vector and
    # flags expand to members by rule — exactly, because (a) a non-rep
    # member's own rep is always a same-cell, cos-1.0, higher-priority
    # witness (same cent_cos, smaller vec_id), and (b) any member witness
    # for a rep implies that member's rep is also a witness (equal or
    # better priority). The one exception is a zero-norm vector: numpy
    # scores its cosines NaN, which Arrow's pandas→Spark conversion turns
    # into NULL (and a genuine NaN would compare GREATER than any number
    # in Spark SQL), while DuckDB's list_cosine_similarity returns -1.0
    # for any zero-norm operand. We adopt DuckDB's convention at BOTH
    # scoring sites — coalesce(nanvl(·, -1.0), -1.0) covers the
    # NULL-via-Arrow and literal-NaN paths — so zero-norm rows score
    # cent_cos = -1.0 and never enter a pair relation on either engine,
    # matching norm_pos in the expansion (pinned by
    # test_dedup_semantic_zero_norm_twins). Compute is
    # O(distinct vectors · cell_size), not O(rows · cell_size) — crawl
    # corpora are full of byte-identical embeddings.
    #
    # The collapse window partitions by md5 of the vector's exact JSON
    # rendering, NOT the raw array<double>: the exchange then ships a
    # 32-char digest per row instead of the full embedding (at 100 TB the
    # key bytes dominate that shuffle). Shortest-round-trip double
    # formatting is injective, so the digest is exact up to md5 collisions
    # (~N²·2⁻¹²⁸ — negligible; a collision would only over-collapse two
    # distinct vectors into one rep relation).
    vw = Window.partitionBy(F.md5(F.to_json(F.struct(F.col("v").alias("v")))))
    ve = e.withColumn("rep_id", F.min("vec_id").over(vw))
    reps = ve.filter(F.col("vec_id") == F.col("rep_id")).select("vec_id", "v")
    mem = (
        reps.select("vec_id", "v", nearest_cell("v").alias("cell"))
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            "cell",
            "v",
            F.coalesce(
                F.nanvl(F.round(cos(F.col("v"), F.col("cv")), 6), F.lit(-1.0)),
                F.lit(-1.0),
            ).alias("cent_cos"),
        )
    )
    a, b = mem.alias("a"), mem.alias("b")
    keeper_first = (F.col("a.cent_cos") < F.col("b.cent_cos")) | (
        (F.col("a.cent_cos") == F.col("b.cent_cos"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    dups = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .withColumn(
            "pc",
            F.coalesce(
                F.nanvl(
                    F.round(cos(F.col("a.v"), F.col("b.v")), 6), F.lit(-1.0)
                ),
                F.lit(-1.0),
            ),
        )
        .filter((F.col("pc") >= SEM_COS_T) & keeper_first)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    rep_out = (
        mem.join(dups, "vec_id", "left")
        .select(
            F.col("vec_id").alias("rep_id"),
            "cell",
            "cent_cos",
            F.coalesce("dup", F.lit(False)).alias("rep_dup"),
        )
    )
    norm_pos = (
        F.aggregate(
            "v", F.lit(0.0), lambda acc, x: acc + x * x
        )
        > 0
    )
    return ve.join(rep_out, "rep_id").select(
        "vec_id",
        "cell",
        "cent_cos",
        F.when(F.col("vec_id") != F.col("rep_id"), norm_pos)
        .otherwise(F.col("rep_dup"))
        .alias("is_dup"),
    )
