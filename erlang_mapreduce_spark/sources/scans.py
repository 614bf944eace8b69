"""Sources & sinks (SURVEY.md §2.B "Scans / sources / sinks").

The reference's only source is a line-delimited text file read whole and
split on \\n (mapreduce.erl:41-43), and its only sink is 26 hand-partitioned
text files (mapreduce.erl:73-77, :158-185). Here: columnar parquet scan
(with pushdown), text scan, schema'd csv/json scans, and a partitioned
parquet sink — the write.partitionBy analog of the reference's first-letter
routing, but hash-distributed instead of funneled through one process.

Text/CSV/JSON fixture files are materialized once per sf under
/tmp/spark_graft_fixtures/<sf>/ from the driver's parquet (deterministic:
ordered by key), because the driver ships parquet only. Both the Spark query
and the DuckDB oracle read the same materialized file.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ckpt import scratch
from ..registry import query
from ..tables import load

FIXTURE_ROOT = "/tmp/spark_graft_fixtures"
SINK_ROOT = "/tmp/spark_graft_sink"


def fixture_dir(sf_dir: str) -> str:
    return os.path.join(FIXTURE_ROOT, os.path.basename(os.path.normpath(sf_dir)))


def ensure_fixtures(sf_dir: str) -> str:
    """Materialize documents.txt / nation.csv / region.jsonl from the sf
    parquet, once (sentinel-guarded). Deterministic content+order."""
    d = fixture_dir(sf_dir)
    sentinel = os.path.join(d, ".done")
    if os.path.exists(sentinel):
        return d
    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT text FROM '{sf_dir}/documents.parquet'
               ORDER BY doc_id)
           TO '{d}/documents.txt'
           (FORMAT CSV, HEADER FALSE, QUOTE '', DELIMITER E'\\x01')"""
    )
    con.execute(
        f"""COPY (SELECT * FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey)
           TO '{d}/nation.csv' (FORMAT CSV, HEADER TRUE)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM '{sf_dir}/region.parquet' ORDER BY r_regionkey)
           TO '{d}/region.jsonl' (FORMAT JSON)"""
    )
    con.close()
    with open(sentinel, "w") as f:
        f.write("ok")
    return d


# the driver's t2 correctness pass runs at sf0.01 — oracle strings are static,
# so they reference the sf0.01 fixture paths; tests substitute their own sf.
_ORACLE_FX = os.path.join(FIXTURE_ROOT, "sf0.01")


@query(
    "scan_parquet",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity > 45
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with predicate pushdown + column pruning: the filter and
    the 5-column ReadSchema both reach the parquet reader (verified by
    tests/test_plans.py). Ref analog: A1 (mapreduce.erl:41-43) — which reads
    the whole file into memory; at 100 TB pushdown IS the operator."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate")


@query(
    "scan_text",
    oracle=f"""
WITH lines AS (
    SELECT unnest(string_split(content, chr(10))) AS value
    FROM read_text('{_ORACLE_FX}/documents.txt')
)
SELECT value, length(value) AS n_chars
FROM lines WHERE length(value) > 0
""",
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited text scan — the reference's native source
    (mapreduce.erl:41-43; trailing-empty-line drop ≙ mapreduce.erl:44,
    which spark.read.text never emits)."""
    d = ensure_fixtures(sf_dir)
    df = spark.read.text(os.path.join(d, "documents.txt"))
    return df.filter(F.length("value") > 0).select(
        "value", F.length("value").alias("n_chars")
    )


@query(
    "scan_csv_json",
    oracle=f"""
SELECT n.n_nationkey, n.n_name, r.r_name
FROM read_csv('{_ORACLE_FX}/nation.csv', header = true,
              columns = {{'n_nationkey': 'INTEGER', 'n_name': 'VARCHAR',
                          'n_regionkey': 'INTEGER'}}) n
JOIN read_json('{_ORACLE_FX}/region.jsonl',
               columns = {{'r_regionkey': 'INTEGER', 'r_name': 'VARCHAR'}}) r
  ON n.n_regionkey = r.r_regionkey
""",
)
def scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with explicit schema + JSON-lines scan with explicit schema,
    joined. Explicit schemas avoid the double inference pass — at 100 TB
    schema inference is a full extra read of the data."""
    d = ensure_fixtures(sf_dir)
    nation_schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    region_schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    n = spark.read.csv(
        os.path.join(d, "nation.csv"), schema=nation_schema, header=True
    )
    r = spark.read.json(os.path.join(d, "region.jsonl"), schema=region_schema)
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "sink_partitioned",
    oracle="""
SELECT o_orderpriority, count(*) AS cnt,
       CAST(sum(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS key_sum
FROM orders
GROUP BY o_orderpriority
""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write, then read-back verification aggregate —
    the analog of the reference's 26 per-letter partition files
    (mapreduce.erl:73-77, :158-185). partitionBy on a low-cardinality column
    gives partition pruning to every downstream reader; the read-back
    aggregate hash-matches the source table iff the sink round-trips."""
    out = os.path.join(
        SINK_ROOT, os.path.basename(os.path.normpath(sf_dir)), "orders_by_prio"
    )
    o = load(spark, sf_dir, "orders")
    (
        o.write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    # Read back with the writer's schema: inference needs at least one
    # parquet footer, so an EMPTY source (zero data files under the sink
    # root) would otherwise fail with UNABLE_TO_INFER_SCHEMA — a real
    # hazard at scale where a filtered export can legitimately be empty.
    back = spark.read.schema(o.schema).parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"),
    )


@query(
    "sink_text_formatted",
    oracle="""
WITH words AS (
    SELECT w AS word
    FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents)
    WHERE length(w) > 0
),
kept AS (
    SELECT word FROM words
    WHERE regexp_matches(word, '^[a-z]') AND length(word) >= 2
),
bg AS (
    SELECT substring(word, CAST(i AS INTEGER), 2) AS bigram
    FROM (SELECT word, unnest(range(1, length(word))) AS i FROM kept)
    WHERE regexp_matches(substring(word, CAST(i AS INTEGER), 2), '^[a-z]{2}$')
),
counts AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram)
SELECT bigram || ': ' || chr(9) || chr(9) || ' ' || CAST(cnt AS VARCHAR) AS line
FROM counts
""",
)
def sink_text_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's formatted text sink (saveK, mapreduce.erl:204-210:
    rows printed as "K: \\t\\t V"): bigram counts written as formatted text
    lines, read back, hash-compared against lines the oracle formats from
    scratch — the round trip proves both the formatting and the sink.
    (The reference's \\r\\n endings are an OS artifact, not semantics; the
    text source strips line terminators either way.)"""
    from ..operators.text import bigram_freq, tokenize

    out = os.path.join(
        SINK_ROOT, os.path.basename(os.path.normpath(sf_dir)), "results_txt"
    )
    counts = bigram_freq(tokenize(load(spark, sf_dir, "documents"))).select(
        F.concat_ws(
            "",
            F.col("bigram"),
            F.lit(": \t\t "),
            F.col("cnt").cast("string"),
        ).alias("value")
    )
    counts.write.mode("overwrite").text(out)
    return spark.read.text(out).select(F.col("value").alias("line"))


@query(
    "scan_partition_pruned",
    oracle="""
SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority, o_orderstatus
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning over the hive-layout sink written by
    sink_partitioned: the o_orderpriority predicate is resolved against the
    directory structure, so non-matching partitions are never opened (the
    scan's PartitionFilters — asserted in tests/test_plans.py). At 100 TB
    this is the difference between reading 2/5 of the table and all of it;
    the reference's per-letter files (mapreduce.erl:73-77) are the same
    idea with the pruning done by hand (`main/1` reads only its letter)."""
    out = os.path.join(
        SINK_ROOT, os.path.basename(os.path.normpath(sf_dir)), "orders_by_prio"
    )
    o = load(spark, sf_dir, "orders")
    if not os.path.isdir(out):
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    # explicit schema: see sink_partitioned's empty-source note
    back = spark.read.schema(o.schema).parquet(out)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "scan_orc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip: write the nation table as ORC (once per sf,
    _SUCCESS-guarded) and scan it back. Exercises the second columnar
    format's full write+read path — vectorized reader, predicate-pushdown
    capable — so a deployment standardized on ORC instead of Parquet gets
    the same engine surface. The oracle reads the original parquet: equal
    values prove the round trip is lossless."""
    d = fixture_dir(sf_dir)
    path = os.path.join(d, "nation_orc")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        load(spark, sf_dir, "nation").write.mode("overwrite").orc(path)
    return spark.read.orc(path).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_schema_evolution",
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-upgrade)'
            ELSE coalesce(o_orderpriority, '(pre-upgrade)') END
           AS o_orderpriority,
       count(*) AS cnt,
       CAST(SUM(CAST((o_totalprice) AS DECIMAL(29,6))) AS DOUBLE)
           AS sum_price
FROM orders
GROUP BY 1
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan — the mixed-version table every long-lived
    sink becomes: v1 files were written before a column existed (here:
    even orderkeys, no o_orderpriority), v2 files carry it (odd
    orderkeys), and ONE `mergeSchema` read reconciles them — v1 rows
    surface NULL for the late column, which the report folds into a
    '(pre-upgrade)' bucket. The aggregation proves both file generations
    and the widened schema round-tripped: counts and the decimal price
    sum must equal the source-side reconstruction.

    Scale note: mergeSchema=true infers the union schema by reading a
    parquet FOOTER PER FILE at planning time — O(files) driver work that
    is fine for a partition but wrong for a 100 TB table; production
    keeps the authoritative (evolved) schema in a catalog/metadata layer
    (Delta/Iceberg, or an explicit `.schema(...)` as every other scan op
    here does) and pays the union-schema cost once per DDL, not per
    query. The op demonstrates the reconciliation semantics; the
    accounting collect is ≤ |priorities|+1 rows, and the scratch sink is
    deleted before returning (the pipeline_dataset_export pattern)."""
    from ..exact import _DEC

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    with scratch(spark, sf_dir, "evolve") as base:
        k = F.col("o_orderkey")
        # generation 1: the column does not exist yet. The split must be
        # exhaustive even for NULL keys (k % 2 is NULL for them, which
        # satisfies NEITHER == filter — rows would silently vanish), so
        # NULL keys ride with generation 2; the oracle's CASE routes them
        # the same way (NULL % 2 = 0 is not true → ELSE branch).
        o.filter(k % 2 == 0).select("o_orderkey", "o_totalprice").write.mode(
            "overwrite"
        ).parquet(base)
        # generation 2: schema widened in place, appended to the same dir
        o.filter((k % 2 == 1) | k.isNull()).write.mode("append").parquet(base)
        # an empty source writes zero data files and mergeSchema inference
        # has nothing to merge — an empty table evolves to an empty report
        if not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(base)
            for f in fs
        ):
            return spark.createDataFrame(
                [], "o_orderpriority string, cnt bigint, sum_price double"
            )
        back = spark.read.option("mergeSchema", "true").parquet(base)
        acct = (
            back.groupBy(
                F.coalesce("o_orderpriority", F.lit("(pre-upgrade)")).alias(
                    "o_orderpriority"
                )
            )
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("o_totalprice").cast(_DEC))
                .cast("double")
                .alias("sum_price"),
            )
        )
        # bounded collect: acct is one row per orderpriority (<= 5) —
        # materialized because the mixed-version sink dir is deleted when
        # the scratch scope exits
        return spark.createDataFrame(acct.collect(), acct.schema)


# --- custom Python data source (PySpark 4 pyspark.sql.datasource API) ---

_SYNTH_PARTS = 8
_SYNTH_ROWS_PER = 1000


def _register_synth_source(spark: SparkSession) -> None:
    """Define + register the `synthdocs` Python data source. Classes are
    built inside the function so the engine imports cleanly on any Spark
    that lacks the API (the op itself then fails, not the package)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n_parts = int(options.get("numPartitions", _SYNTH_PARTS))
            self.rows_per = int(
                options.get("rowsPerPartition", _SYNTH_ROWS_PER)
            )

        def partitions(self):
            # one InputPartition per split → Spark schedules reads in
            # parallel, one python worker per split: the contract that
            # makes a custom source scale instead of serializing on one
            # task
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            p = partition.value
            for i in range(p * self.rows_per, (p + 1) * self.rows_per):
                # Knuth-hash score in integer space, divided once — the
                # same double both engines compute
                yield (i, i % 7, (i * 2654435761 % 1000) / 100.0)

    class _SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "synthdocs"

        def schema(self):
            return "id bigint, bucket int, score double"

        def reader(self, schema):
            return _SynthReader(self.options)

    spark.dataSource.register(_SynthSource)


@query(
    "scan_python_datasource",
    oracle=f"""
SELECT CAST(id % 7 AS INTEGER) AS bucket,
       count(*) AS cnt,
       CAST(SUM(CAST(((id * 2654435761 % 1000) / 100.0) AS DECIMAL(29,6)))
            AS DOUBLE) AS sum_score
FROM generate_series(0, {_SYNTH_PARTS * _SYNTH_ROWS_PER - 1}) t(id)
GROUP BY 1
""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON data source — the PySpark 4 `pyspark.sql.datasource`
    extension point that turns any Python-reachable system (an internal
    API, a bespoke file format, a feature store) into a first-class
    `spark.read.format(...)` table. The source declares its schema and an
    InputPartition list; Spark fans the `read(partition)` calls out across
    python workers — 8 parallel splits here, pinned by test — so ingest
    scales with partition count exactly like a file scan (each split must
    be independently computable: the generator derives every row from the
    partition index alone, the property real connectors get from offset
    ranges / shard ids).

    The generated rows are pure integer arithmetic + one division, so the
    DuckDB oracle rebuilds the identical table from generate_series and
    the per-bucket count/decimal-sum report hash-matches end to end.
    Python-worker row marshalling is the slow path vs a JVM scan — at
    scale, pair it with arrow batch emission (the API's iterator-of-
    pa.RecordBatch variant) or land the data to parquet once and scan
    that; this op is the connector showcase, not the bulk path. sf_dir is
    unused: the source IS the data."""
    # re-registration is a silent overwrite (verified on Spark 4.1), so no
    # guard needed — and a guard would swallow the REAL failure mode, the
    # pyspark.sql.datasource API missing on an older Spark, deferring it to
    # a confusing "format not found" at read time
    _register_synth_source(spark)
    df = (
        spark.read.format("synthdocs")
        .option("numPartitions", str(_SYNTH_PARTS))
        .option("rowsPerPartition", str(_SYNTH_ROWS_PER))
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("score").cast("decimal(29,6)"))
        .cast("double")
        .alias("sum_score"),
    )


BINFILE_MAX_DOC = 200  # bounded sample: one file per doc below this id


@query(
    "scan_binary_files",
    oracle=f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha_hex
FROM documents
WHERE doc_id < {BINFILE_MAX_DOC} AND text IS NOT NULL
  AND octet_length(encode(text)) > 0
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingest via Spark's ``binaryFile`` source — the
    entry point for the multimodal family (analysis.py): real image/audio
    corpora land as one opaque file per sample, and this format scans a
    directory tree into (path, modificationTime, length, content) rows
    with one task per file, no decode. Here a bounded, deterministic
    sample of documents is materialized as UTF-8 ``doc_<id>.bin`` files
    (scratch setup, cleaned before returning — the sink-op pattern), and
    the scan reports each file's byte length and sha256 keyed by the id
    parsed from its filename. DuckDB re-derives both straight from the
    table (sha256 over UTF-8 — verified identical to hashing the file
    bytes), so the round trip filesystem→binary-scan→digest is
    hash-checked end to end.

    Scale notes: binaryFile parallelizes per file and caps file size at
    ``spark.sql.sources.binaryFile.maxLength`` (2 GB default) — right for
    media corpora of many medium files; at 100 TB pack tiny samples into
    an indexed container (the multimodal_meta docstring's tar/parquet
    note) rather than scanning millions of KB-sized files, whose listing
    and per-file task overheads dominate. NULL-text docs have no file to
    write, and EMPTY texts are excluded on both sides because Spark's
    binaryFile source silently SKIPS zero-byte files (verified;
    fuzz-found — a real ingest pipeline should know its empty samples
    never arrive through this path). The driver-side writes are bounded
    by BINFILE_MAX_DOC (setup for the demonstrated SCAN, not the data
    path)."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < BINFILE_MAX_DOC)
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        )
        .select("doc_id", "text")
        .collect()
    )
    with scratch(spark, sf_dir, "binfiles") as base:
        for r in docs:
            with open(os.path.join(base, f"doc_{r.doc_id}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        if not docs:
            return spark.createDataFrame(
                [], "doc_id bigint, n_bytes bigint, sha_hex string"
            )
        scanned = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(base)
            .select(
                F.regexp_extract(
                    F.col("path"), r"doc_(\d+)\.bin$", 1
                ).cast("bigint").alias("doc_id"),
                F.col("length").alias("n_bytes"),
                F.sha2(F.col("content"), 256).alias("sha_hex"),
            )
        )
        # the scratch dir is deleted on return, so the accounting must be
        # materialized first (same reason as scan_schema_evolution)
        return spark.createDataFrame(scanned.collect(), scanned.schema)


def _register_pysink(spark: SparkSession) -> None:
    """Define + register the `pysink` Python data source WRITER — the
    write-side twin of scans._register_synth_source's reader: the
    PySpark 4 `pyspark.sql.datasource` extension point that turns any
    Python-reachable system (an internal API, a bespoke format, a
    feature store) into a first-class `df.write.format(...)` target.
    Spark calls `write(iterator)` once per input partition on the python
    workers — each emits ONE newline-delimited-JSON shard named by
    TaskContext ids (no cross-task coordination) and returns a commit
    message; the driver's `commit()` writes the _SUCCESS manifest with
    the per-shard row accounting, and `abort()` is the failure path.
    That is exactly the two-phase protocol JVM file sinks use, so write
    parallelism scales with partition count like any file write — and
    the manifest is LOAD-BEARING: a retried or speculative task attempt
    leaves its orphan shard on disk, but only the attempt whose commit
    message reached `commit()` is listed, so readers that select by
    manifest (``read_committed_shards``) count every row exactly once.
    Readers that glob the directory would double-count after any retry —
    the bug the pysink orphan test pins."""
    import json as _json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _ShardCommit(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int):
            self.filename = filename
            self.n_rows = n_rows

    class _JsonShardWriter(DataSourceWriter):
        def __init__(self, path: str, columns):
            self.path = path
            self.columns = columns

        def write(self, iterator):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            name = f"part-{ctx.partitionId()}-{ctx.taskAttemptId()}.jsonl"
            os.makedirs(self.path, exist_ok=True)
            n = 0
            with open(os.path.join(self.path, name), "w") as f:
                for row in iterator:
                    f.write(
                        _json.dumps(
                            {c: row[i] for i, c in enumerate(self.columns)},
                            sort_keys=True,
                        )
                        + "\n"
                    )
                    n += 1
            return _ShardCommit(name, n)

        def commit(self, messages):
            acct = {
                m.filename: m.n_rows for m in messages if m is not None
            }
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                f.write(_json.dumps(acct, sort_keys=True))

        def abort(self, messages):
            pass  # scratch dir is caller-owned and cleaned unconditionally

    class _PySink(DataSource):
        @classmethod
        def name(cls):
            return "pysink"

        def writer(self, schema, overwrite):
            return _JsonShardWriter(
                self.options["path"], [f.name for f in schema.fields]
            )

    spark.dataSource.register(_PySink)


def read_committed_shards(spark: SparkSession, base: str, schema: str):
    """Read back ONLY the shards the pysink _SUCCESS manifest committed —
    exactly-once under task retries: an orphan shard from a failed or
    speculative attempt sits in the same directory but is not listed, so
    it contributes nothing. An explicit file list (not a glob) is the
    same mechanism JVM committers use (the manifest IS the table)."""
    import json as _json

    with open(os.path.join(base, "_SUCCESS")) as f:
        acct = _json.load(f)
    files = [os.path.join(base, name) for name in sorted(acct)]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


@query(
    "sink_python_datasource",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write THROUGH a custom Python data source, then prove the round
    trip: finalized orders flow out via the `pysink` writer (one JSONL
    shard per partition, two-phase commit — see _register_pysink), the
    COMMITTED shards are read back via the _SUCCESS manifest
    (read_committed_shards — orphan shards from retried attempts never
    count), and the returned per-priority count/key-checksum report must
    equal the same aggregate over the ORIGINAL table — which is exactly
    what the oracle computes, so any row lost or duplicated by the
    writer protocol breaks the hash. Integer/string columns only: JSON text round-trips them
    exactly (doubles would need a binary format — the note every real
    JSON connector carries). Scale: shard count = upstream partition
    count; the python-worker serialization is the slow path vs a JVM
    sink (scan_python_datasource's note) — this is the extension-point
    showcase, production bulk paths land parquet."""
    _register_pysink(spark)
    with scratch(spark, sf_dir, "pysink") as base:
        (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderpriority")
            .write.format("pysink")
            .option("path", base)
            .mode("append")
            .save()
        )
        back = read_committed_shards(
            spark, base, "o_orderkey bigint, o_orderpriority string"
        )
        out = back.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("key_checksum"),
        )
        # scratch shards are deleted on return — materialize first (the
        # scan_binary_files device); ≤ 5 priority rows
        return spark.createDataFrame(out.collect(), out.schema)


_ARROW_PARTS = 8
_ARROW_ROWS_PER = 25_000


def _register_synth_arrow_source(spark: SparkSession) -> None:
    """Define + register `synthdocs_arrow` — the ARROW-BATCH variant of
    `synthdocs`: `read(partition)` yields `pyarrow.RecordBatch`es built
    from vectorized numpy arithmetic instead of per-row Python tuples.
    This is the documented scale path for Python connectors (the
    scan_python_datasource docstring's note made real): batch emission
    amortizes the python↔JVM marshalling that row-at-a-time yield pays
    per row, the same row-vs-Arrow gap as BatchEvalPython vs
    ArrowEvalPython on the UDF side. Row values are the identical Knuth
    hash, so both sources — and the DuckDB oracle — agree bit-for-bit."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _ArrowReader(DataSourceReader):
        def __init__(self, options):
            self.n_parts = int(options.get("numPartitions", _ARROW_PARTS))
            self.rows_per = int(
                options.get("rowsPerPartition", _ARROW_ROWS_PER)
            )

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            p = partition.value
            ids = np.arange(
                p * self.rows_per, (p + 1) * self.rows_per, dtype=np.int64
            )
            # max id * 2654435761 ≈ 5e14 — safely inside int64
            score = (ids * 2654435761 % 1000) / 100.0
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array((ids % 7).astype(np.int32), pa.int32()),
                    pa.array(score, pa.float64()),
                ],
                names=["id", "bucket", "score"],
            )

    class _ArrowSource(DataSource):
        @classmethod
        def name(cls):
            return "synthdocs_arrow"

        def schema(self):
            return "id bigint, bucket int, score double"

        def reader(self, schema):
            return _ArrowReader(self.options)

    spark.dataSource.register(_ArrowSource)


@query(
    "scan_python_arrow",
    oracle=f"""
SELECT CAST(id % 7 AS INTEGER) AS bucket,
       count(*) AS cnt,
       CAST(SUM(CAST(((id * 2654435761 % 1000) / 100.0) AS DECIMAL(29,6)))
            AS DOUBLE) AS sum_score
FROM generate_series(0, {_ARROW_PARTS * _ARROW_ROWS_PER - 1}) t(id)
GROUP BY 1
""",
)
def scan_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source emitting ARROW BATCHES — the bulk-path
    variant of `scan_python_datasource` (whose docstring prescribes
    exactly this for scale): `read()` yields one vectorized
    `pa.RecordBatch` per split instead of 25k per-row tuples, so the
    python→JVM hop is a columnar buffer handoff, not row marshalling.
    200k rows here vs the row source's 4k — the batch path carries 50×
    the volume as the connector showcase at the same test cost. Same
    Knuth-hash row formula, same DuckDB generate_series oracle; sf_dir
    is unused: the source IS the data."""
    _register_synth_arrow_source(spark)
    df = (
        spark.read.format("synthdocs_arrow")
        .option("numPartitions", str(_ARROW_PARTS))
        .option("rowsPerPartition", str(_ARROW_ROWS_PER))
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("score").cast("decimal(29,6)"))
        .cast("double")
        .alias("sum_score"),
    )
