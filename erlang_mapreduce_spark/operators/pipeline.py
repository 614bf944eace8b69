"""End-to-end corpus-cleaning pipeline — the operators composed the way a
real training-data pass runs them (quality gate → PII scrub → exact-dup
removal → per-language accounting), in ONE Spark job.

This is the composition showcase the individual ops exist for: the whole
pipeline is declarative, so Catalyst fuses the narrow stages (gate + scrub +
fingerprint are a single WholeStageCodegen span over the scan) and the only
shuffles are (1) the fingerprint hash-partition for dup ranking and (2) the
tiny per-language aggregate. At 100 TB this plan reads the corpus once,
shuffles it once keyed by fingerprint, and reduces to a per-language
summary — there is no materialization between stages to store or re-read.

The reference's pipeline (read → filter → count → derive → sink,
mapreduce.erl:40-55) has the same fused shape; this generalizes it to the
north-star corpus workload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import scratch
from ..registry import query
from ..session import scoped_conf
from ..tables import load
from .analysis import _EMAIL_RE, _LONGNUM_RE
from .bpe import ORACLE_DOC_TOKENS_CTES, doc_token_counts

_FP_SQL = (
    "md5(array_to_string(list_sort(list_distinct("
    "string_split_regex(lower(scrubbed), '\\s+'))), ' '))"
)

# Deterministic shard: first md5 nibble of the doc id, mod N_SHARDS —
# reproducible across runs/engines/partitionings, unlike rand() or Spark's
# internal hash. Shared by pipeline_dataset_export and pipeline_seq_pack so
# packed sequences land inside export shards by construction. _SHARD_SQL is
# the DuckDB twin of the Spark expression; they encode ONE device — edit
# them together. At 100 TB raise N_SHARDS ∝ corpus / target shard size.
N_SHARDS = 8
_SHARD_SQL = (
    "(instr('0123456789abcdef',"
    " substring(md5(CAST({col} AS VARCHAR)), 1, 1)) - 1) % " + str(N_SHARDS)
)


def _shard_col(col: Column) -> Column:
    nib = F.substring(F.md5(col.cast("string")), 1, 1)
    return (F.instr(F.lit("0123456789abcdef"), nib) - 1) % N_SHARDS


@query(
    "pipeline_corpus_clean",
    oracle=f"""
WITH gated AS (
    SELECT doc_id, lang,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGNUM_RE}', '<NUM>', 'g') AS scrubbed
    FROM documents
    WHERE len(string_split_regex(lower(text), '\\s+')) BETWEEN 5 AND 100000
      AND CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          / length(text) < 0.2
),
ranked AS (
    SELECT doc_id, lang,
           len(string_split_regex(scrubbed, '\\s+')) AS n_tokens,
           row_number() OVER (PARTITION BY {_FP_SQL} ORDER BY doc_id) AS rn
    FROM gated
)
SELECT lang,
       count(*) FILTER (WHERE rn = 1) AS n_docs_kept,
       count(*) FILTER (WHERE rn > 1) AS n_dups_dropped,
       CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_kept
FROM ranked
GROUP BY lang
""",
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → PII scrub → fingerprint dedup (keep lowest doc_id per
    content fingerprint) → per-language doc/token accounting. Fully
    oracle-checked: every stage is deterministic and SQL-expressible."""
    d = load(spark, sf_dir, "documents")

    n_words = F.size(F.split(F.lower("text"), r"\s+"))
    # try_divide: an empty-text doc has length 0, and Spark does NOT
    # guarantee conjunct short-circuiting in the gate filter — ANSI `/`
    # could abort the job where DuckDB's NULL silently fails the
    # predicate. NULL < 0.2 is NULL → row gated out, same as the oracle.
    punct_ratio = F.try_divide(
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double"),
        F.length("text"),
    )
    gated = d.filter(n_words.between(5, 100000) & (punct_ratio < 0.2)).select(
        "doc_id",
        "lang",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _LONGNUM_RE,
            "<NUM>",
        ).alias("scrubbed"),
    )
    fp = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(
                F.array_distinct(F.split(F.lower("scrubbed"), r"\s+"))
            ),
        )
    )
    ranked = gated.select(
        "doc_id",
        "lang",
        F.size(F.split("scrubbed", r"\s+")).alias("n_tokens"),
        F.row_number()
        .over(Window.partitionBy(fp).orderBy("doc_id"))
        .alias("rn"),
    )
    return ranked.groupBy("lang").agg(
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_docs_kept"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dups_dropped"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


@query(
    "pipeline_dataset_export",
    oracle=f"""
WITH gated AS (
    SELECT doc_id, text, n_chars FROM documents WHERE n_chars >= 100
),
dd AS (
    SELECT doc_id, text, n_chars FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM gated
    ) WHERE rn = 1
),
sh AS (
    SELECT {_SHARD_SQL.format(col="doc_id")} AS shard,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           n_chars
    FROM dd
)
SELECT shard, count(*) AS docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM sh GROUP BY shard
""",
)
def pipeline_dataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing stage that ends every training-data pipeline: gate →
    exact-dedup (keep lowest doc_id per content hash) → assign each doc a
    DETERMINISTIC shard (md5 nibble of the key, mod 8 — reproducible across
    runs/engines, unlike rand() or Spark's internal hash) → write the
    corpus partitionBy(shard) → read back and account per shard (docs,
    whitespace tokens, chars). The returned accounting hash-matches the
    oracle iff gate+dedup+shard+sink all round-tripped. One narrow span to
    the dedup shuffle, one partitioned write; at 100 TB shard count scales
    to O(corpus/target-file-size) and the sink is the shuffle-free
    partitionBy writer (each task writes its own shard files)."""
    d = load(spark, sf_dir, "documents")
    gated = d.filter(F.col("n_chars") >= 100)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dd = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sharded = dd.select(
        "doc_id",
        "text",
        "n_chars",
        _shard_col(F.col("doc_id")).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    with scratch(spark, sf_dir, "export_shards") as out:
        # Scoped AQE floor override (see session.scoped_conf): the export's
        # dedup-window shuffle is byte-light, and the session-wide 32k
        # floor kept it at ~32 tasks → each task writing its own file per
        # shard → ~256 small files to write and re-list (measured +55% at
        # sf0.1, r6). Spark's default floor coalesces to a few tasks and
        # ~an order of magnitude fewer shard files. Every action of this
        # op STARTS inside the scope (write, read-back count, collect), so
        # the override actually binds — nothing lazy escapes.
        with scoped_conf(
            spark,
            {
                "spark.sql.adaptive.coalescePartitions.minPartitionSize": (
                    "1m"
                )
            },
        ):
            sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
            # writer's schema, not inference: a fully-gated (empty) corpus
            # writes zero data files, and schema inference would fail on
            # them (see sink_partitioned) — an empty export must account
            # as empty, not error
            back = spark.read.schema(sharded.schema).parquet(out)
            acct = back.groupBy("shard").agg(
                F.count("*").alias("docs"),
                F.sum("n_tokens").alias("tokens"),
                F.sum("n_chars").alias("chars"),
            )
            # Materialize the per-shard accounting (bounded: one row per
            # shard, 8 here) so the scratch export can be deleted before
            # returning — the result must not dangle on a temp dir that
            # accumulates per run.
            return spark.createDataFrame(acct.collect(), acct.schema)


SEQ_BUDGET = 512  # tokens per packed training sequence


@query(
    "pipeline_seq_pack",
    oracle=f"""
WITH RECURSIVE {ORACLE_DOC_TOKENS_CTES},
toks AS (
    SELECT doc_id,
           {_SHARD_SQL.format(col="doc_id")} AS shard,
           n_tokens
    FROM doc_tokens
),
cum AS (
    SELECT shard, doc_id, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM toks
)
SELECT shard,
       CAST(floor((cum_tokens - n_tokens) / {SEQ_BUDGET}.0) AS BIGINT)
           AS seq_id,
       count(*) AS docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens
FROM cum
GROUP BY 1, 2
""",
)
def pipeline_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the step that turns a curated corpus into
    fixed-token-budget training examples: documents are concatenated in a
    deterministic order and CUT every {SEQ_BUDGET} tokens (GPT-style
    concat-and-chunk); each document belongs to the sequence its first
    token lands in. Returns per-sequence accounting (docs, tokens).

    The token budget is REAL BPE output (bpe.doc_token_counts — merge
    table applied per distinct word, hash-checked cross-engine), not the
    whitespace estimate rounds ≤9 packed on: a production pipeline packs
    on the model tokenizer's counts, and whitespace undercounts code/
    punctuation-heavy docs by 2-4×, which silently overfills sequences.
    BYTE-level since r12 (bpe.BYTE_MERGES over UTF-8 bytes): the
    char-level budget counted a non-Latin doc as a pile of <unk> chars,
    so multilingual packing was semantically wrong, not approximate.

    Scale shape: packing is per-SHARD (the same md5-nibble shard as
    pipeline_dataset_export), so the running token sum is a window
    partitioned by shard ordered by doc_id — parallel across shards, one
    hash shuffle, and NO global sort or single-partition window anywhere.
    At 100 TB raise the shard count so each shard's window sort fits an
    executor (shard count ∝ corpus / target partition size); determinism
    (md5 shard + doc_id order) makes the packing reproducible across
    runs, engines, and partitionings — rand()-based packing is not."""
    d = load(spark, sf_dir, "documents")
    t = doc_token_counts(d).select(
        "doc_id",
        _shard_col(F.col("doc_id")).alias("shard"),
        "n_tokens",
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    seq_id = F.floor(
        (F.col("cum_tokens") - F.col("n_tokens")) / float(SEQ_BUDGET)
    )
    return cum.groupBy("shard", seq_id.alias("seq_id")).agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
    )
