"""The pretraining-data capstone: the FULL production chain as ONE op.

``pipeline_pretrain_e2e`` composes the engine's curation operators the way
a real 100 TB pretraining pass runs them —

    quality gate → PII scrub → Gopher rule battery → model-based
    quality classifier → corpus-global line dedup → exact dedup →
    MinHash near-dedup → substring scrub → decontaminate → trained
    byte-BPE tokenize → sequence pack → temperature mix →
    leakage-safe split → sharded partitioned export

— and returns ONE per-stage accounting table (stage_ord, stage, docs,
tokens) whose every row is recomputed end-to-end by the DuckDB oracle, so
the hash check proves the operators COMPOSE exactly: any drift in any
stage (or in the export round-trip) moves a downstream count. The
components are the same machinery the standalone ops use
(`pipeline_corpus_clean`'s gate/scrub, `text_gopher_rules`' rule
battery, `quality_classifier_score`'s hashed-ngram linear model (through
the one staged Arrow scorer `with_qc_scores`),
`dedup_lines_global`'s keep-first line dedup, `dedup_exact`'s keep-first,
`dedup_minhash`'s banded LSH + exact-Jaccard verify,
`dedup_substring_scrub`'s gaps-and-islands span removal,
`text_decontaminate`'s broadcast gram semi-join, `bpe_train_bytes` /
`text_bpe_tokenize_trained_bytes`'s trained byte tokenizer,
`pipeline_seq_pack`'s per-shard packing, `sample_temperature`'s mixing,
`sample_split_train_eval`'s source-keyed split,
`pipeline_dataset_export`'s partitioned sink + read-back accounting) —
each independently hash-verified; this op pins their composition.

Scale shape (the point of the exercise): the chain has NO stage that
re-reads the corpus from cold — each stage consumes the previous stage's
(materialized) output; every pair-generating step is the banded /
inverted-index construction (never all-pairs); the tokenizer touches
Python only for the distinct-word vocabulary (Arrow-batched); packing is
a per-shard window; mixing/splitting are md5-deterministic narrow maps;
and the export is a shuffle-free ``partitionBy`` write whose read-back
accounting closes the loop. Between macro-stages the intermediates are
materialized once (`ckpt.pooled_checkpoint`) so no branch recomputes an
upstream shuffle. The lazy composition through the decontaminate stage is
plan-pinned in tests/test_plans.py (exchange budget), proving the stages
fuse without replanning cliffs.

Reference analog: mapreduce.erl:40-55 is the reference's whole pipeline
(read → filter → count → derive → sink); this is the same composition
discipline over the north-star corpus workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import pooled_checkpoint, release_transient_storage, scratch
from ..registry import query
from ..tables import load, scan_parallel
from .analysis import (
    _EMAIL_RE,
    _G_KEEP_SQL,
    _LONGNUM_RE,
    _gopher_arrays,
    _gopher_ctes,
    _gopher_keep,
    _gopher_metrics,
)
from .bpe import (
    N_BYTES,
    PRETOK_BYTES_RE,
    _make_ids_udf,
    _tokenize_docs,
    _train_ctes,
    _trained_tokenize_ctes,
    doc_word_rows_bytes,
    train_merges,
    word_byte_tokens,
    BPE_TRAIN_CAP,
)
from .curation import (
    DECON_N,
    EVAL_MAX_DOC,
    TEMP_CAP,
    _LPACK,
    _MD5_UNIFORM_SQL,
    _QC_LOGIT_SQL,
    _hashed_feats_ctes,
    _md5_uniform,
    _packed_first_key,
    _qc_score_ctes,
    _SPLIT_TRAIN_LT,
    _split_bucket,
    with_qc_scores,
)
from .dedup import (
    JACCARD_T,
    MERSENNE_P,
    N_BANDS,
    N_GRAM,
    N_HASH,
    SUBSTR_K,
    SUBSTR_MIN_OLAP,
    SUBSTR_OCC_CAP,
    _doc_gram_sets,
    _doc_gram_sets_md5,
    _verify_jaccard,
    minhash_bands,
)
from .pipeline import SEQ_BUDGET, _SHARD_SQL, _shard_col

# ---------------------------------------------------------------------------
# Stage builders — pure DataFrame → DataFrame, no materialization, so the
# plan-pin test can compose them lazily and count exchanges.


def gate_and_scrub(docs: DataFrame) -> DataFrame:
    """Stages 2+3: quality gate (word count in [5, 100000], punctuation
    ratio < 0.2) fused with the PII scrub — identical expressions to
    pipeline_corpus_clean (see its try_divide note)."""
    n_words = F.size(F.split(F.lower("text"), r"\s+"))
    punct_ratio = F.try_divide(
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double"),
        F.length("text"),
    )
    return docs.filter(n_words.between(5, 100000) & (punct_ratio < 0.2)).select(
        "doc_id",
        "lang",
        "source",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _LONGNUM_RE,
            "<NUM>",
        ).alias("scrubbed"),
    )


def gopher_filter(gated: DataFrame) -> DataFrame:
    """Stage 4: the Gopher rule battery (Rae et al. 2021 A1.1 —
    text_gopher_rules' exact expressions via the shared `_gopher_*`
    helpers, analysis.py) over the scrubbed text; only rule-passing docs
    survive. NARROW: a projection + filter, zero exchanges."""
    ws, ls, n_sym = _gopher_arrays(F.col("scrubbed"))
    g = gated.withColumns(
        {"_gws": ws, "_gls": ls, "_gsym": n_sym}
    )
    keep = _gopher_keep(
        _gopher_metrics(F.col("_gws"), F.col("_gls"), F.col("_gsym"))
    )
    return g.filter(keep).select("doc_id", "lang", "source", "scrubbed")


def classifier_filter(g4: DataFrame) -> DataFrame:
    """Stage 5: model-based quality filter (quality_classifier_score's
    hashed unigram+bigram linear model) through the one staged Arrow
    scorer `with_qc_scores` — the QC_NB-entry seeded weight table is a
    per-row lookup, so the stage adds ZERO exchanges, ZERO joins and one
    ArrowEvalPython to the pipeline; keep logit >= 0 (the standalone op's
    keep rule)."""
    scored = with_qc_scores(g4, "scrubbed")
    return scored.filter(F.col("qc_logit") >= 0.0).drop(
        "qc_n_feats", "qc_logit"
    )


def quality_flags(gated: DataFrame) -> DataFrame:
    """Stages 4+5 as FLAGS in one narrow projection: the Gopher rule
    battery verdict and the classifier verdict computed side by side over
    the scrubbed text (identical expressions to `gopher_filter` /
    `classifier_filter` — filtering on the conjunction commutes with
    filtering in sequence, so stage counts are unchanged). Exists so
    `pipeline_pretrain_e2e` can materialize ONE corpus pass that feeds
    stages 2-6: the lazy stage chain re-ran the regex-heavy gate+scrub
    three times (stage-2/3 agg, stage-4 count, stage-5 materialize) and
    the Gopher tokenize twice (r16 measurement: those two subtrees were
    the dominant repeated work in the capstone's ~28 s cell). Still
    ZERO exchanges and no joins — the same plan-budget class as the
    filters it fuses; the classifier verdict crosses the Arrow boundary
    as ONE narrow batched projection (`with_qc_scores`)."""
    ws, ls, n_sym = _gopher_arrays(F.col("scrubbed"))
    g = with_qc_scores(gated, "scrubbed").withColumns(
        {"_gws": ws, "_gls": ls, "_gsym": n_sym}
    )
    keep = _gopher_keep(
        _gopher_metrics(F.col("_gws"), F.col("_gls"), F.col("_gsym"))
    )
    return g.select(
        "doc_id",
        "lang",
        "source",
        "scrubbed",
        keep.alias("rule_keep"),
        (F.col("qc_logit") >= 0.0).alias("cls_keep"),
    )


def lines_dedup(g5: DataFrame) -> DataFrame:
    """Stage 6: corpus-GLOBAL keep-first line dedup (dedup_lines_global's
    machinery, curation.py — posexplode lines → one line-key hash agg
    with the guarded packed-BIGINT first-occurrence min → equi-join back
    → order-restoring reassembly), rewriting the scrubbed text; docs
    whose every line was boilerplate drop out. lang/source ride the
    reassembly groupBy as constant-per-group max() so no corpus-wide
    join back is needed."""
    ls = g5.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.split("scrubbed", "\n")).alias("pos0", "line"),
    ).select(
        "doc_id",
        "lang",
        "source",
        F.col("pos0").cast("long").alias("pos"),
        "line",
        F.trim(F.lower("line")).alias("k"),
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
        "lang",
        "source",
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
        F.max("lang").alias("lang"),
        F.max("source").alias("source"),
        F.array_sort(
            F.collect_list(
                F.when(~F.col("removed"), F.struct("pos", "line"))
            )
        ).alias("kept"),
    )
    out = agg.select(
        "doc_id",
        "lang",
        "source",
        F.concat_ws(
            "\n", F.transform("kept", lambda s: s["line"])
        ).alias("scrubbed"),
    )
    return out.filter(F.length(F.trim("scrubbed")) > 0)


def exact_dedup(g6: DataFrame) -> DataFrame:
    """Stage 7: keep the lowest doc_id per verbatim scrubbed text (md5
    grouping — cross-engine, unlike xxhash64)."""
    w = Window.partitionBy(F.md5("scrubbed")).orderBy("doc_id")
    return (
        g6.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def minhash_survivors(dd: DataFrame, sets_md5: DataFrame) -> DataFrame:
    """Stage 8: dedup_minhash's banded-LSH candidates + exact-Jaccard
    verify over the exact-deduped corpus, then drop the LATER side of
    every verified pair (keep-first, like every dedup stage here).
    ``sets_md5`` is `_doc_gram_sets_md5` over dd's scrubbed texts,
    passed in so the op can materialize it once for its three consumers
    (bands + verify ×2)."""
    bands = minhash_bands(sets_md5)
    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    drops = (
        _verify_jaccard(cands, sets_md5.select("doc_id", "ghs"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return dd.join(drops, "doc_id", "left_anti")


def substring_clean(mh: DataFrame) -> DataFrame:
    """Stage 9: cross-document substring removal over the near-dedup
    survivors — dedup_substring_scrub's machinery (positioned
    SUBSTR_K-gram anchors in an occurrence-capped inverted index,
    gaps-and-islands maximal runs, keep-first span deletion), run
    directly at doc level: exact dedup already collapsed verbatim
    groups, so no rep/member indirection is needed. Emits (doc_id, lang,
    source, clean_text) — the lowercased whitespace-normalized token
    stream with every >= SUBSTR_MIN_OLAP-token duplicated span cut from
    the LATER document."""
    toks = mh.select(
        "doc_id",
        "lang",
        "source",
        F.split(F.lower("scrubbed"), r"\s+").alias("ws"),
    ).withColumn("n", F.size("ws"))
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
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh")
    )
    keep = (
        pg.groupBy("gh")
        .agg(F.count("*").alias("occ"))
        .filter((F.col("occ") >= 2) & (F.col("occ") <= SUBSTR_OCC_CAP))
        .select("gh")
    )
    byg = (
        pg.join(keep, "gh")
        .groupBy("gh")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "pos"))).alias("os"))
    )
    anch = (
        byg.select("os", F.posexplode("os").alias("i", "ea"))
        .select(
            "ea",
            F.explode(F.expr("slice(os, i + 2, size(os))")).alias("eb"),
        )
        .filter(F.col("ea.doc_id") != F.col("eb.doc_id"))
        .select(
            F.col("ea.doc_id").alias("doc_a"),
            F.col("eb.doc_id").alias("doc_b"),
            F.col("ea.pos").alias("pa"),
            F.col("eb.pos").alias("pb"),
        )
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    spans = (
        anch.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pb").alias("sb"),
            (F.max("pa") - F.min("pa") + SUBSTR_K).alias("olap"),
        )
        .filter(F.col("olap") >= SUBSTR_MIN_OLAP)
    )
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
    clean = (
        tokpos.join(rem, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rm").isNull(), F.struct("pos", "tok"))
                        )
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("clean_text")
        )
    )
    return toks.select("doc_id", "lang", "source").join(clean, "doc_id")


def decontaminate(raw_docs: DataFrame, docs6: DataFrame) -> DataFrame:
    """Stage 10: drop every training document (doc_id >= EVAL_MAX_DOC)
    whose cleaned text shares a word DECON_N-gram with the held-out eval
    set — text_decontaminate's broadcast gram semi-join, with the eval
    grams taken from the RAW eval documents (the benchmark is fixed; it
    does not get cleaned) and the train grams from the pipeline's
    cleaned texts."""
    ev_grams = (
        _doc_gram_sets(raw_docs.filter(F.col("doc_id") < EVAL_MAX_DOC), DECON_N)
        .select(F.explode("ghs").alias("gh"))
        .distinct()
    )
    train = docs6.filter(F.col("doc_id") >= EVAL_MAX_DOC)
    contam = (
        _doc_gram_sets(
            train.select("doc_id", F.col("clean_text").alias("text")), DECON_N
        )
        .select("doc_id", F.explode("ghs").alias("gh"))
        .join(F.broadcast(ev_grams), "gh")
        .select("doc_id")
        .distinct()
    )
    return train.join(contam, "doc_id", "left_anti")


def compose_through_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The lazy stage-2..10 composition (no materialization) — the
    plan-pin surface: tests/test_plans.py counts exchanges in THIS plan
    to prove the stages compose without replanning cliffs."""
    docs = load(spark, sf_dir, "documents")
    gated = gate_and_scrub(docs)
    g4 = gopher_filter(gated)
    g5 = classifier_filter(g4)
    g6 = lines_dedup(g5)
    dd = exact_dedup(g6)
    sets = _doc_gram_sets_md5(
        dd.select("doc_id", F.col("scrubbed").alias("text"))
    )
    mh = minhash_survivors(dd, sets)
    docs6 = substring_clean(mh)
    return decontaminate(docs, docs6)


# ---------------------------------------------------------------------------
# Oracle — the identical chain in DuckDB. Heavy intermediates MATERIALIZED
# (DuckDB would otherwise re-expand the inlined chain at every reference).

_GATE_SQL = f"""
gated AS MATERIALIZED (
    SELECT doc_id, lang, source,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGNUM_RE}', '<NUM>', 'g') AS scrubbed
    FROM documents
    WHERE len(string_split_regex(lower(text), '\\s+')) BETWEEN 5 AND 100000
      AND CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          / length(text) < 0.2
)"""

# Stages 4-6 — the r15 quality battery composed the order real pipelines
# run it (Gopher rules → model classifier → global line dedup, then the
# document-level dedups): the gopher/classifier/line CTE chains are the
# standalone ops' own shared templates retargeted at the gated scrubbed
# text (one source of truth — `_gopher_ctes`/`_G_KEEP_SQL`,
# `_hashed_feats_ctes`/`_qc_score_ctes`/`_QC_LOGIT_SQL`, and
# dedup_lines_global's ls→fst→marked→agg shape with lang/source riding
# the reassembly as constant-per-group max()).
_QUALITY_SQL = f"""
{_gopher_ctes(src="gated", col="scrubbed", p="gp")},
g4 AS MATERIALIZED (
    SELECT gated.* FROM gated
    JOIN (SELECT doc_id FROM gpr WHERE {_G_KEEP_SQL}) gk USING (doc_id)
),
{_hashed_feats_ctes(src="g4", col="scrubbed", p="qc")},
{_qc_score_ctes(p="qc")},
g5 AS MATERIALIZED (
    SELECT g4.* FROM g4
    JOIN (SELECT doc_id FROM qcqsc WHERE {_QC_LOGIT_SQL} >= 0.0) qk
        USING (doc_id)
),
ldrows AS (
    SELECT doc_id, lang, source, unnest(range(1, len(lns) + 1)) AS i, lns
    FROM (SELECT doc_id, lang, source,
                 string_split(scrubbed, chr(10)) AS lns
          FROM g5)
),
ldls AS (
    SELECT doc_id, lang, source, CAST(i - 1 AS BIGINT) AS pos,
           lns[CAST(i AS INTEGER)] AS line,
           trim(lower(lns[CAST(i AS INTEGER)])) AS k
    FROM ldrows
),
ldfst AS (
    SELECT k, count(*) AS n,
           min(doc_id * {_LPACK} + pos) AS first_pk
    FROM ldls WHERE length(k) > 0 GROUP BY k
),
ldmk AS (
    SELECT l.doc_id, l.lang, l.source, l.pos, l.line,
           coalesce(length(l.k) > 0 AND f.n > 1
                    AND l.doc_id * {_LPACK} + l.pos <> f.first_pk,
                    FALSE) AS removed
    FROM ldls l LEFT JOIN ldfst f ON l.k = f.k
),
ldagg AS (
    SELECT doc_id, max(lang) AS lang, max(source) AS source,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT removed), '') AS ct
    FROM ldmk GROUP BY doc_id
),
g6 AS MATERIALIZED (
    SELECT doc_id, lang, source, ct AS scrubbed
    FROM ldagg WHERE length(trim(ct)) > 0
),
dd AS MATERIALIZED (
    SELECT doc_id, lang, source, scrubbed FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(scrubbed)
                                     ORDER BY doc_id) AS rn
        FROM g6
    ) WHERE rn = 1
)"""

_MINHASH_SQL = f"""
mtoks AS (
    SELECT doc_id, string_split_regex(lower(scrubbed), '\\s+') AS ws FROM dd
),
mgrams AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {N_GRAM} - 1 AS INTEGER)], ' ') AS gram
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {N_GRAM} + 2)) AS i
          FROM mtoks)
),
msizes AS (SELECT doc_id, count(*) AS sz FROM mgrams GROUP BY doc_id),
mgh AS (
    SELECT doc_id,
           ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h1,
           ('0x' || substr(md5(gram), 16, 15))::BIGINT AS h2
    FROM mgrams
),
msig AS MATERIALIZED (
    SELECT doc_id, p.i,
           min(((h1 % {MERSENNE_P})
                + p.i * ((h2 % {MERSENNE_P - 1}) + 1)) % {MERSENNE_P}) AS s
    FROM mgh CROSS JOIN (SELECT unnest(range(0, {N_HASH})) AS i) p
    GROUP BY doc_id, p.i
),
mbands AS (
    SELECT doc_id, i // {N_HASH // N_BANDS} AS band_id,
           string_agg(s::VARCHAR, '-' ORDER BY i) AS bkey
    FROM msig GROUP BY doc_id, i // {N_HASH // N_BANDS}
),
mcands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM mbands a
    JOIN mbands b ON a.band_id = b.band_id AND a.bkey = b.bkey
              AND a.doc_id < b.doc_id
),
minter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS ix
    FROM mcands c
    JOIN mgrams ga ON ga.doc_id = c.doc_a
    JOIN mgrams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    GROUP BY 1, 2
),
mdrop AS MATERIALIZED (
    SELECT DISTINCT i.doc_b AS doc_id
    FROM minter i
    JOIN msizes sa ON sa.doc_id = i.doc_a
    JOIN msizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix) >= {JACCARD_T}
),
mh AS MATERIALIZED (
    SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)
)"""

_SCRUB_SQL = f"""
stoks AS MATERIALIZED (
    SELECT doc_id, lang, source,
           string_split_regex(lower(scrubbed), '\\s+') AS ws
    FROM mh
),
spg AS MATERIALIZED (
    SELECT doc_id, CAST(i AS INTEGER) AS pos,
           array_to_string(
               ws[CAST(i AS INTEGER):CAST(i + {SUBSTR_K} - 1 AS INTEGER)],
               ' ') AS gram
    FROM (SELECT doc_id, ws,
                 unnest(range(1, len(ws) - {SUBSTR_K} + 2)) AS i
          FROM stoks)
),
sanch AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
    FROM spg a JOIN spg b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
sruns AS (
    SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
           pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                   ORDER BY pa) AS grp
    FROM sanch
),
ssp AS (
    SELECT doc_a, doc_b, min(pb) AS sb,
           max(pa) - min(pa) + {SUBSTR_K} AS olap
    FROM sruns GROUP BY doc_a, doc_b, diag, grp
),
sremd AS (
    SELECT DISTINCT doc_b AS doc_id, CAST(sb + u AS INTEGER) AS pos
    FROM ssp, unnest(range(0, olap)) AS t(u)
    WHERE olap >= {SUBSTR_MIN_OLAP}
),
stokpos AS (
    SELECT doc_id, CAST(i AS INTEGER) AS pos, ws[CAST(i AS INTEGER)] AS tok
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM stoks)
),
skept AS MATERIALIZED (
    SELECT t.doc_id,
           coalesce(string_agg(CASE WHEN r.pos IS NULL THEN t.tok END,
                               ' ' ORDER BY t.pos), '') AS clean_text
    FROM stokpos t
    LEFT JOIN sremd r ON r.doc_id = t.doc_id AND r.pos = t.pos
    GROUP BY t.doc_id
),
docs6 AS MATERIALIZED (
    SELECT s.doc_id, s.lang, s.source, k.clean_text
    FROM stoks s JOIN skept k USING (doc_id)
)"""

_DECON_SQL = f"""
egrams AS (
    SELECT DISTINCT
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {DECON_N} - 1 AS INTEGER)], ' ') AS gram
    FROM (SELECT ws, unnest(range(1, len(ws) - {DECON_N} + 2)) AS i
          FROM (SELECT string_split_regex(lower(text), '\\s+') AS ws
                FROM documents WHERE doc_id < {EVAL_MAX_DOC}))
),
tgrams AS (
    SELECT DISTINCT doc_id,
           array_to_string(ws[CAST(i AS INTEGER):CAST(i + {DECON_N} - 1 AS INTEGER)], ' ') AS gram
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {DECON_N} + 2)) AS i
          FROM (SELECT doc_id, string_split_regex(lower(clean_text), '\\s+') AS ws
                FROM docs6 WHERE doc_id >= {EVAL_MAX_DOC}))
),
contam AS MATERIALIZED (
    SELECT DISTINCT t.doc_id FROM tgrams t JOIN egrams e USING (gram)
),
docs7 AS MATERIALIZED (
    SELECT * FROM docs6
    WHERE doc_id >= {EVAL_MAX_DOC}
      AND doc_id NOT IN (SELECT doc_id FROM contam)
)"""

_TOKENIZE_SQL = f"""
dw AS MATERIALIZED (
    SELECT doc_id, i AS pos, words[i] AS word
    FROM (SELECT doc_id,
                 regexp_extract_all(clean_text, '{PRETOK_BYTES_RE}') AS words
          FROM docs7),
         unnest(range(1, len(words)+1)) AS t(i)
),
{_train_ctes(byte_level=True)},
{_trained_tokenize_ctes(byte_level=True)},
dt AS (
    SELECT dw.doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
    FROM dw JOIN wtoks USING (word)
    GROUP BY dw.doc_id
),
docs8 AS MATERIALIZED (
    SELECT d.doc_id, d.lang, d.source, coalesce(dt.n_tokens, 0) AS n_tokens
    FROM docs7 d LEFT JOIN dt USING (doc_id)
)"""

_PACK_MIX_SQL = f"""
cum AS (
    SELECT {_SHARD_SQL.format(col="doc_id")} AS shard, doc_id, n_tokens,
           sum(n_tokens) OVER (PARTITION BY {_SHARD_SQL.format(col="doc_id")}
                               ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM docs8
),
seqs AS (
    SELECT shard,
           CAST(floor((cum_tokens - n_tokens) / {SEQ_BUDGET}.0) AS BIGINT)
               AS seq_id
    FROM cum
),
mc AS (
    SELECT lang, count(*) AS cnt FROM docs8
    WHERE lang IS NOT NULL GROUP BY lang
),
mw AS (
    SELECT lang, cnt,
           CAST(round(sqrt(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(27,6)) AS wd
    FROM mc
),
mt AS (
    SELECT lang, cnt,
           CAST(wd AS DOUBLE) / CAST(sum(wd) OVER () AS DOUBLE)
               * CAST(sum(cnt) OVER () AS DOUBLE)
               / CAST(cnt AS DOUBLE) AS r
    FROM mw
),
mkept AS MATERIALIZED (
    SELECT d.doc_id, d.source, d.n_tokens,
           least(CAST(floor(t.r) AS BIGINT)
                 + CASE WHEN {_MD5_UNIFORM_SQL.format(col="d.doc_id")}
                             < t.r - floor(t.r)
                        THEN 1 ELSE 0 END,
                 {TEMP_CAP}) AS n
    FROM docs8 d JOIN mt t ON t.lang = d.lang
    WHERE least(CAST(floor(t.r) AS BIGINT)
                + CASE WHEN {_MD5_UNIFORM_SQL.format(col="d.doc_id")}
                            < t.r - floor(t.r)
                       THEN 1 ELSE 0 END,
                {TEMP_CAP}) >= 1
),
tr AS MATERIALIZED (
    SELECT * FROM mkept
    WHERE ('0x' || substr(md5(coalesce(source, '')), 1, 2))::BIGINT
          < {_SPLIT_TRAIN_LT}
)"""

_ORACLE = f"""
WITH
{_GATE_SQL.strip()},
{_QUALITY_SQL.strip()},
{_MINHASH_SQL.strip()},
{_SCRUB_SQL.strip()},
{_DECON_SQL.strip()},
{_TOKENIZE_SQL.strip()},
{_PACK_MIX_SQL.strip()}
SELECT * FROM (
    SELECT 1 AS stage_ord, 'ingest' AS stage,
           count(*) AS docs, CAST(NULL AS BIGINT) AS tokens
    FROM documents
    UNION ALL
    SELECT 2, 'quality_gate', count(*), CAST(NULL AS BIGINT) FROM gated
    UNION ALL
    SELECT 3, 'pii_scrub', count(*),
           CAST(coalesce(sum(len(string_split_regex(scrubbed, '\\s+'))), 0)
                AS BIGINT)
    FROM gated
    UNION ALL
    SELECT 4, 'gopher_rules', count(*), CAST(NULL AS BIGINT) FROM g4
    UNION ALL
    SELECT 5, 'quality_classifier', count(*), CAST(NULL AS BIGINT) FROM g5
    UNION ALL
    SELECT 6, 'dedup_lines', count(*),
           CAST(coalesce(sum(len(string_split_regex(scrubbed, '\\s+'))), 0)
                AS BIGINT)
    FROM g6
    UNION ALL
    SELECT 7, 'dedup_exact', count(*), CAST(NULL AS BIGINT) FROM dd
    UNION ALL
    SELECT 8, 'dedup_minhash', count(*), CAST(NULL AS BIGINT) FROM mh
    UNION ALL
    SELECT 9, 'substring_scrub', count(*),
           CAST(coalesce(sum(CASE WHEN clean_text = '' THEN 0
                                  ELSE len(string_split(clean_text, ' '))
                             END), 0) AS BIGINT)
    FROM docs6
    UNION ALL
    SELECT 10, 'decontaminate', count(*), CAST(NULL AS BIGINT) FROM docs7
    UNION ALL
    SELECT 11, 'tokenize_bpe_trained', count(*),
           CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
    FROM docs8
    UNION ALL
    SELECT 12, 'seq_pack', count(DISTINCT (shard, seq_id)),
           (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM docs8)
    FROM seqs
    UNION ALL
    SELECT 13, 'mix_temperature', CAST(coalesce(sum(n), 0) AS BIGINT),
           CAST(coalesce(sum(n * n_tokens), 0) AS BIGINT)
    FROM mkept
    UNION ALL
    SELECT 14, 'split_train', CAST(coalesce(sum(n), 0) AS BIGINT),
           CAST(coalesce(sum(n * n_tokens), 0) AS BIGINT)
    FROM tr
    UNION ALL
    SELECT 15, 'export', CAST(coalesce(sum(n), 0) AS BIGINT),
           CAST(coalesce(sum(n * n_tokens), 0) AS BIGINT)
    FROM tr
)
"""


@query("pipeline_pretrain_e2e", oracle=_ORACLE)
def pipeline_pretrain_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full chain (module docstring) and return the 15-row
    per-stage accounting table. Stages 14 vs 15 differ only in
    provenance: split_train is computed from the plan, export is
    re-counted from the files the partitioned sink wrote — equality IS
    the round-trip proof (pipeline_dataset_export's device)."""
    release_transient_storage()  # free the previous invocation's blocks
    docs = load(spark, sf_dir, "documents")
    rows: list[tuple] = []
    rows.append((1, "ingest", docs.count(), None))

    # ONE materialized corpus pass carries the scrub plus both quality
    # verdicts (guide §1.2 step 1 / §2.4: remove repeated passes before
    # per-task tuning). The lazy chain re-ran gate_and_scrub (two
    # corpus-wide regexp_replace) THREE times — under the stage-2/3 agg,
    # the stage-4 count, and the stage-5 materialize — and the Gopher
    # tokenize twice; flags make stages 2-5 cheap scans of one
    # checkpoint. Filtering rule_keep then cls_keep equals filtering the
    # conjunction, so every stage count (and the oracle hash) is
    # unchanged — verified against the DuckDB oracle after the rewrite.
    # scan_parallel first (guide §2.5 input parallelism): the documents
    # scan is a single ~50 MB split at bench SFs, and the flag pass's
    # per-row work (two scrub regexes + the Gopher arrays + the
    # classifier's interpreted hashed-ngram fold) is the most expensive
    # narrow projection in the engine — left on the scan's own splits it
    # ran on ONE core (measured 6.6 s vs 0.75 s at sf0.1 for this
    # subtree alone). At 100 TB the scan already has >= cores splits and
    # scan_parallel is a no-op.
    flagged = pooled_checkpoint(
        quality_flags(gate_and_scrub(scan_parallel(docs))),
        "pretrain_flags",
    )
    g = flagged.agg(
        F.count("*").alias("c"),
        F.sum(F.size(F.split("scrubbed", r"\s+"))).cast("bigint").alias("t"),
        F.sum(F.col("rule_keep").cast("long")).alias("c4"),
        F.sum((F.col("rule_keep") & F.col("cls_keep")).cast("long")).alias(
            "c5"
        ),
    ).first()
    rows.append((2, "quality_gate", g["c"], None))
    rows.append((3, "pii_scrub", g["c"], g["t"] or 0))

    # stages 4-6: the quality battery (rules → classifier → line dedup),
    # the exact order Gopher/RefinedWeb run before any document dedup —
    # counts come from the flag sums above (same one-pass agg). `or 0`
    # guards the degenerate all-filtered corpus: F.sum over zero rows is
    # NULL where the previous g4.count()/g5.count() (and the oracle's
    # count(*)) return 0 (r16 ADVICE item 1; stage 3 already guards t).
    rows.append((4, "gopher_rules", g["c4"] or 0, None))
    rows.append((5, "quality_classifier", g["c5"] or 0, None))

    g5 = flagged.filter(F.col("rule_keep") & F.col("cls_keep")).select(
        "doc_id", "lang", "source", "scrubbed"
    )
    g6 = pooled_checkpoint(lines_dedup(g5), "pretrain_g6")
    s6l = g6.agg(
        F.count("*").alias("c"),
        F.sum(F.size(F.split("scrubbed", r"\s+"))).cast("bigint").alias("t"),
    ).first()
    rows.append((6, "dedup_lines", s6l["c"], s6l["t"] or 0))

    dd = pooled_checkpoint(exact_dedup(g6), "pretrain_dd")
    rows.append((7, "dedup_exact", dd.count(), None))

    sets = pooled_checkpoint(
        _doc_gram_sets_md5(dd.select("doc_id", F.col("scrubbed").alias("text"))),
        "pretrain_sets",
    )
    mh = pooled_checkpoint(minhash_survivors(dd, sets), "pretrain_mh")
    rows.append((8, "dedup_minhash", mh.count(), None))

    docs6 = pooled_checkpoint(substring_clean(mh), "pretrain_docs6")
    s6 = docs6.agg(
        F.count("*").alias("c"),
        F.sum(
            F.when(F.col("clean_text") == "", 0).otherwise(
                F.size(F.split("clean_text", " "))
            )
        )
        .cast("bigint")
        .alias("t"),
    ).first()
    rows.append((9, "substring_scrub", s6["c"], s6["t"] or 0))

    docs7 = pooled_checkpoint(decontaminate(docs, docs6), "pretrain_docs7")
    rows.append((10, "decontaminate", docs7.count(), None))

    # trained byte-BPE over the CLEANED corpus (production trains the
    # tokenizer on what it will tokenize, not on the raw crawl)
    d7 = docs7.select(
        "doc_id", "lang", "source", F.col("clean_text").alias("text")
    )
    dw = doc_word_rows_bytes(d7)
    sample = (
        dw.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(BPE_TRAIN_CAP)
        .collect()
    )
    trained = train_merges(
        [(r["word"], r["cnt"]) for r in sample], to_tokens=word_byte_tokens
    )
    rank = {(a, b): r for r, (a, b, _) in enumerate(trained)}
    vocab = {f"{i:02X}": i for i in range(N_BYTES)}
    for r, (a, b, _) in enumerate(trained):
        vocab.setdefault(a + b, N_BYTES + r)
    tok = _tokenize_docs(
        d7,
        _make_ids_udf(rank, vocab, to_tokens=word_byte_tokens),
        word_rows=doc_word_rows_bytes,
        n_base=N_BYTES,
    ).select("doc_id", "n_tokens")
    docs8 = pooled_checkpoint(
        d7.join(tok, "doc_id").select(
            "doc_id", "lang", "source", "text",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        ),
        "pretrain_docs8",
    )
    s8 = docs8.agg(
        F.count("*").alias("c"),
        F.sum("n_tokens").cast("bigint").alias("t"),
    ).first()
    rows.append((11, "tokenize_bpe_trained", s8["c"], s8["t"] or 0))

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs8.select(
        "doc_id", _shard_col(F.col("doc_id")).alias("shard"), "n_tokens"
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    n_seqs = (
        packed.select(
            "shard",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")) / float(SEQ_BUDGET)
            ).alias("seq_id"),
        )
        .distinct()
        .count()
    )
    rows.append((12, "seq_pack", n_seqs, s8["t"] or 0))

    # temperature mix (sample_temperature's algebra over the cleaned corpus)
    c = (
        docs8.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
    )
    mw = c.withColumn(
        "wd",
        F.round(F.sqrt(F.col("cnt").cast("double")), 6).cast("decimal(27,6)"),
    )
    win = Window.partitionBy()
    mt = mw.select(
        "lang",
        (
            F.col("wd").cast("double")
            / F.sum("wd").over(win).cast("double")
            * F.sum("cnt").over(win).cast("double")
            / F.col("cnt").cast("double")
        ).alias("r"),
    )
    mkept = (
        docs8.join(F.broadcast(mt), "lang")
        .withColumn(
            "n",
            F.least(
                F.floor("r").cast("long")
                + F.when(
                    _md5_uniform(F.col("doc_id")) < F.col("r") - F.floor("r"),
                    1,
                ).otherwise(0),
                F.lit(TEMP_CAP).cast("long"),
            ),
        )
        .filter(F.col("n") >= 1)
    )
    m = mkept.agg(
        F.sum("n").cast("bigint").alias("c"),
        F.sum(F.col("n") * F.col("n_tokens")).cast("bigint").alias("t"),
    ).first()
    rows.append((13, "mix_temperature", m["c"] or 0, m["t"] or 0))

    tr = mkept.filter(_split_bucket() < _SPLIT_TRAIN_LT)
    t = tr.agg(
        F.sum("n").cast("bigint").alias("c"),
        F.sum(F.col("n") * F.col("n_tokens")).cast("bigint").alias("t"),
    ).first()
    rows.append((14, "split_train", t["c"] or 0, t["t"] or 0))

    # export: explode to physical copies, shuffle-free partitionBy write,
    # re-count from the files (read-back = the round-trip proof)
    out_df = tr.select(
        "doc_id",
        F.explode(F.expr("sequence(1, int(n))")).alias("copy"),
        "source",
        "n_tokens",
        "text",
        _shard_col(F.col("doc_id")).alias("shard"),
    )
    with scratch(spark, sf_dir, "pretrain_export") as out:
        out_df.write.mode("overwrite").partitionBy("shard").parquet(out)
        back = spark.read.schema(out_df.schema).parquet(out)
        e = back.agg(
            F.count("*").alias("c"),
            F.sum("n_tokens").cast("bigint").alias("t"),
        ).first()
        rows.append((15, "export", e["c"], e["t"] or 0))

    # bounded by construction: `rows` is the 15 Python-side stage tuples
    # accumulated above (one per pipeline stage), never a collected corpus
    return spark.createDataFrame(
        [(int(a), b, int(c_) if c_ is not None else None,
          int(d) if d is not None else None)
         for a, b, c_, d in rows],
        "stage_ord int, stage string, docs bigint, tokens bigint",
    )
