"""Similarity search over `embeddings` (SURVEY.md §2.B `sim_search` +
north-star ANN).

- sim_search: brute-force top-k cosine for a query set — the exact
  baseline, SQL-oracle-checked. Query vectors broadcast; the corpus scan
  is embarrassingly parallel; per-query top-k via window rank.
- sim_search_ann: the 100 TB path — random-hyperplane LSH (deterministic
  hyperplanes from a seeded RNG, broadcast), bucket join on any matching
  band, exact cosine re-rank within candidates. Exact-hash oracle (every
  ingredient is deterministic arithmetic both engines compute
  identically); tests additionally measure recall vs brute force.
- sim_search_ivf / ivf_centroids: centroid-routed ANN. Training, int64
  micro routing (assignment + nprobe probe set), and the round-6 cosine
  re-rank are all cross-engine-exact, so BOTH the trained index table
  and the end-to-end search carry exact-hash oracles.
- sim_search_pq / pq_codebooks: product quantization. IVF is its
  single-subspace case: both train with `_train_codebooks` and both
  oracles render from `_lloyd_ctes` + `_assign_ctes`.

Two cosine implementations, used deliberately:
- `cosine_col`: sequential double fold (zip_with + aggregate) —
  bit-identical to DuckDB's list_cosine_similarity loop; used where exact
  cross-engine parity is the point (dedup_embedding's oracle).
- `_cos_pandas`: Arrow-batched numpy — the hot path for bulk scoring;
  agrees with the fold after the round-to-6 both pipelines apply.
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exact import md5_prefix_int
from ..registry import query
from ..tables import load, scan_parallel

TOP_K = 10
N_QUERIES = 20  # vec_id < 20 are the query set


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    # Zero-norm convention (matches _cos_pandas and DuckDB's
    # list_cosine_similarity): -1.0, never NULL/NaN/divide-by-zero.
    # Under ANSI mode (Spark 4 default) the bare `/` ERRORS on a
    # zero-norm operand — a single zero embedding crashed the whole
    # dedup_embedding job (caught by the zero-twin fuzz pair).
    return F.coalesce(
        F.try_divide(dot_col(a, b), norm_col(a) * norm_col(b)),
        F.lit(-1.0),
    )


def _cos_pandas():
    """Arrow-vectorized cosine: numpy batch matmul instead of the
    interpreted zip_with/aggregate fold. Spark evaluates higher-order
    lambdas per-element OUTSIDE codegen, so at brute-force scale (every
    query × every vector) the fold is the bottleneck; one numpy
    multiply-sum per Arrow batch is 10-100× cheaper. numpy's pairwise
    summation can differ from a sequential fold only at ~1e-15 relative
    error; both engines round to 6 decimals before comparison/ranking, so
    the top-k output is identical (asserted against the fold
    implementation in tests).

    Zero-norm convention: numpy's 0/0 is NaN, which Arrow hands to
    Spark as NULL — while every oracle scores cosine via DuckDB's
    list_cosine_similarity, which returns **-1.0** for any zero-norm
    operand. Unaligned, a zero embedding in a corpus makes top-k outputs
    diverge (a NULL cos row vs a -1.0 cos row) and threshold filters
    disagree. The UDF therefore adopts DuckDB's -1.0 at the source, for
    every consumer (sim_search brute/ANN re-rank, dedup_embedding,
    dedup_semantic); fuzz corpora carry verbatim zero twins to keep this
    pinned."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(qv: pd.Series, v: pd.Series) -> pd.Series:
        import numpy as np

        a = np.stack(qv.to_numpy())
        b = np.stack(v.to_numpy())
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        safe = np.where(den > 0, den, 1.0)
        return pd.Series(
            np.where(den > 0, (a * b).sum(axis=1) / safe, -1.0)
        )

    return cos


@query(
    "sim_search",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.v), 6) AS cos
    FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
""",
)
def sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine: exact ANN baseline. The query set is
    broadcast (tiny); each corpus partition scores independently; the only
    shuffle is the per-query top-k (k·P rows). Rank ties broken by
    neighbor_id; cosine rounded to 6 on BOTH sides before ranking so the
    rank comparison itself is cross-engine stable."""
    e = scan_parallel(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cos = _cos_pandas()
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos(F.col("qv"), F.col("v")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


N_PLANES = 16  # 16-bit signatures, 4 bands × 4 bits
ANN_BANDS = 4


def _hyperplanes(dim: int) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded; generated driver-side and
    broadcast as literals — a few KB regardless of corpus size)."""
    import numpy as np

    rng = np.random.default_rng(20140623)  # the reference's report date
    return rng.standard_normal((N_PLANES, dim)).tolist()


def _ann_oracle_sql(dim: int = 64) -> str:
    """DuckDB twin of sim_search_ann. Everything in the ANN path is
    DETERMINISTIC — seeded hyperplanes (embedded below as double literals;
    repr round-trips bit-exactly through DuckDB's decimal-string→double
    parse), sign-bit signatures, band membership, cosine re-rank rounded
    to 6 — so the "approximate" search has an exact cross-engine oracle.
    The only engine divergence possible is a sign flip on a projection
    within ~1e-15 of zero (numpy pairwise vs sequential summation), the
    same last-ulp class the round-6 already handles for cosine; with O(1)
    projection magnitudes that is a measure-zero coincidence, not a real
    risk. The oracle dedupes band collisions with DISTINCT where the
    engine keeps the first matching band — same pair set either way."""
    planes = _hyperplanes(dim)
    per_band = N_PLANES // ANN_BANDS
    mask = (1 << per_band) - 1
    bit_terms = "\n         + ".join(
        "(CASE WHEN list_inner_product(v, CAST(["
        + ", ".join(repr(x) for x in planes[p])
        + f"] AS DOUBLE[])) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (
    SELECT vec_id, v,
           {bit_terms}
               AS sig
    FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv, sig AS qsig
      FROM sig WHERE vec_id < {N_QUERIES}),
cand AS (
    SELECT DISTINCT q.query_id, q.qv, s.vec_id AS neighbor_id, s.v
    FROM sig s
    JOIN q ON s.vec_id <> q.query_id
    JOIN (SELECT unnest(range(0, {ANN_BANDS})) AS b) bands
      ON ((s.sig >> (bands.b * {per_band})) & {mask})
         = ((q.qsig >> (bands.b * {per_band})) & {mask})
),
scored AS (
    SELECT query_id, neighbor_id,
           round(list_cosine_similarity(qv, v), 6) AS cos
    FROM cand
)
SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


def _sig_pandas(dim: int):
    """Arrow-vectorized LSH signature: one numpy matmul per batch
    ((batch × dim) @ (dim × N_PLANES)), sign bits packed into an int —
    replaces N_PLANES interpreted zip_with/aggregate folds per row (HOF
    lambdas evaluate per-element outside codegen; the matmul is the same
    10-100× win as `_cos_pandas`). The hyperplanes are seeded constants
    captured in the UDF closure (a few KB shipped once per executor)."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(dim)

    @pandas_udf("integer")
    def sig(v: pd.Series) -> pd.Series:
        import numpy as np

        proj = np.stack(v.to_numpy()) @ np.asarray(planes).T
        weights = (1 << np.arange(N_PLANES)).astype(np.int64)
        return pd.Series(((proj > 0) @ weights).astype("int32"))

    return sig


def lsh_bands(e: DataFrame, dim: int) -> DataFrame:
    """vec → (vec_id, v, sig, band_id, band_val) via sign-of-projection
    bits; the full 16-bit signature rides along so consumers can detect
    which OTHER bands a pair also collides in without a second lookup."""
    sig = e.withColumn("sig", _sig_pandas(dim)(F.col("v")))
    per_band = N_PLANES // ANN_BANDS
    mask = (1 << per_band) - 1
    return sig.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("sig"), per_band * b)
                        .bitwiseAND(mask)
                        .alias("band_val"),
                    )
                    for b in range(ANN_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "v", "sig", "bb.band_id", "bb.band_val")


@query("sim_search_ann", oracle=_ann_oracle_sql())
def sim_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: random-hyperplane LSH buckets prune the corpus, exact
    cosine re-ranks candidates. A query only scores vectors sharing ≥1 of
    4 signature bands (~expected candidate fraction (1/16)·4 per band ≈ 25%
    here; at 100 TB use more planes/bands for sharper pruning + multiprobe
    for recall). Recall vs brute force is measured in tests/test_dedup.py.

    A pair colliding in several bands is emitted once per band by the
    bucket join; it is deduplicated NARROWLY by keeping only the FIRST
    band both signatures agree on (both full signatures are in the joined
    row, so "is this the lowest matching band" is a per-row bit test) —
    zero extra shuffle, versus a distinct() that would shuffle and hash
    two 64-dim double arrays per candidate row. The only shuffle in the
    whole plan is the final per-query top-k window over 24-byte rows."""
    dim = 64
    e = scan_parallel(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bands = lsh_bands(e, dim)
    qb = (
        bands.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("sig").alias("q_sig"),
            F.col("band_id").alias("q_band_id"),
            F.col("band_val").alias("q_band_val"),
        )
    )
    per_band = N_PLANES // ANN_BANDS
    mask = (1 << per_band) - 1
    first_match = F.expr(
        f"array_position(transform(sequence(0, {ANN_BANDS - 1}), b -> "
        f"(shiftrightunsigned(sig, {per_band} * b) & {mask}) = "
        f"(shiftrightunsigned(q_sig, {per_band} * b) & {mask})), true) - 1"
    )
    cands = (
        bands.join(
            F.broadcast(qb),
            (F.col("band_id") == F.col("q_band_id"))
            & (F.col("band_val") == F.col("q_band_val"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .filter(F.col("band_id") == first_match)
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "v")
    )
    cos = _cos_pandas()
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cos(F.col("qv"), F.col("v")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


IVF_K = 16  # centroid count; at corpus scale use ~sqrt(N)
IVF_NPROBE = 4  # clusters searched per query
IVF_ITERS = 5
IVF_TRAIN_CAP = 100_000  # absolute bound on vectors collected for training
IVF_DIM = 64  # fixture embedding dimensionality (oracle unrolls over it)
_MICRO = 1_000_000


def _spread_hash(col: Column) -> Column:
    """Deterministic cross-engine 1-in-4 spread: md5-derived 60-bit int
    (the `_doc_gram_sets_md5` trick — xxhash64 has no DuckDB twin) mod 4."""
    return md5_prefix_int(col, 15) % 4


def _sample_df(e: DataFrame) -> DataFrame:
    """The k-means training sample plan: (vec_id, vm) with vm the int64
    micro vector. md5 1-in-4 spread, or the full corpus when the spread
    holds fewer than IVF_K vectors; total-ordered by vec_id and capped by
    LIMIT IVF_TRAIN_CAP, so the driver-side collect is bounded at any
    corpus size. The fallback probe is LIMIT-bounded too: the branch
    decision never scans past IVF_K rows."""
    em = e.select(
        "vec_id",
        F.expr(
            f"transform(v, x -> CAST(floor(x * {_MICRO}) AS BIGINT))"
        ).alias("vm"),
    )
    spread = em.filter(_spread_hash(F.col("vec_id")) == 0)
    base = spread if spread.limit(IVF_K).count() >= IVF_K else em
    return base.orderBy("vec_id").limit(IVF_TRAIN_CAP)


def _sample_micros(e: DataFrame):
    """The collected training sample as an int64 micro matrix (N, dim);
    (0, 0) for an empty corpus."""
    import numpy as np

    sample = _sample_df(e).select("vm").collect()
    if not sample:
        return np.zeros((0, 0), dtype=np.int64)
    return np.array([r.vm for r in sample], dtype=np.int64)


def _micros(v: pd.Series):
    """An Arrow batch of double vectors as an int64 micro matrix:
    floor(x·1e6), the quantization the trainer's sample uses."""
    import numpy as np

    return np.floor(np.stack(v.to_numpy()) * _MICRO).astype(np.int64)


def _sq_dists(X, C):
    """(n, k) int64 squared distances from the rows of X to the rows of C;
    exact, since dim·(2·max micro)² ≪ 2^63."""
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)


def _lloyd(X, k: int, iters: int):
    """Lloyd's k-means on int64 micros: init = the first k rows, each round
    assigns every row to its nearest cell (ties → lowest cell, numpy's
    first-index argmin) and moves each non-empty cell to
    floor(double(Σ micros)/members). Every step is arithmetic DuckDB
    computes bit-identically, which is what `_lloyd_ctes` relies on."""
    import numpy as np

    C = X[:k].copy()
    for _ in range(iters):
        a = _sq_dists(X, C).argmin(1)
        for j in range(k):
            members = a == j
            if members.any():
                C[j] = np.floor(
                    X[members].sum(0).astype(np.float64) / int(members.sum())
                ).astype(np.int64)
    return C


def _train_codebooks(e: DataFrame, m: int, k: int, iters: int):
    """Integer k-means codebooks for every vector index, trained on one
    deterministic bounded sample (`_sample_micros`) with no RNG: the
    vector splits into m subspaces of dim // m dims and each runs
    `_lloyd` independently. IVF is the single-subspace case
    (m=1, k=IVF_K), PQ the m=PQ_M case. The cell count k clamps to the
    sample size, and an empty corpus yields zero cells. Returns int64
    micros of shape (m, k', dim // m)."""
    import numpy as np

    X = _sample_micros(e)
    if X.size == 0:
        return np.zeros((m, 0, IVF_DIM // m), dtype=np.int64)
    k = min(k, len(X))
    return np.stack([_lloyd(S, k, iters) for S in np.split(X, m, axis=1)])


def _nearest_cell_udf(C):
    """Arrow UDF routing each vector to its nearest row of the int64 micro
    centroids C (ties → lowest cell). An empty C (empty corpus) is padded
    to one zero cell: no row reaches the UDF, but its closure needs a
    shape."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    if C.size == 0:
        C = np.zeros((1, IVF_DIM), dtype=np.int64)

    @pandas_udf("int")
    def nearest_cell(v: pd.Series) -> pd.Series:
        return pd.Series(_sq_dists(_micros(v), C).argmin(1))

    return nearest_cell


def _lloyd_ctes(m: int, k: int, iters: int) -> str:
    """DuckDB twin of `_train_codebooks(e, m, k, iters)`: the same sample
    (em → spread → pick → samp), the vector split into per-(sub, dim) long
    rows, and `iters` Lloyd rounds unrolled as chained CTEs (the
    graph_pagerank construction). Each round assigns by row_number ordered
    by (dist, cell) — numpy argmin's first-index tie-break — and moves
    each cell to its floored integer mean, empty cells keeping their
    coordinates. All arithmetic is int64 plus one exact double divide per
    mean (sums < 2^53), so the codebooks hash-match the engine's bit for
    bit. Ends at ``cb(sub, cell, dim, val)``; `pos(i, sub, dim)` maps a
    1-based vector position to its subspace coordinate."""
    dsub = IVF_DIM // m
    rounds = "".join(
        f""",
a{i} AS MATERIALIZED (
    SELECT sid, sub, cell FROM (
        SELECT d.sid, d.sub, d.cell,
               row_number() OVER (PARTITION BY d.sid, d.sub
                                  ORDER BY d.dist, d.cell) AS rn
        FROM (SELECT s.sid, s.sub, c.cell,
                     sum((s.val - c.val) * (s.val - c.val)) AS dist
              FROM sdim s JOIN c{i - 1} c ON c.sub = s.sub AND c.dim = s.dim
              GROUP BY 1, 2, 3) d
    ) WHERE rn = 1
),
c{i} AS MATERIALIZED (
    SELECT c.sub, c.cell, c.dim, coalesce(m.val, c.val) AS val
    FROM c{i - 1} c
    LEFT JOIN (
        SELECT a.sub, a.cell, s.dim,
               CAST(floor(CAST(sum(s.val) AS DOUBLE) / count(*)) AS BIGINT)
                   AS val
        FROM a{i} a JOIN sdim s ON s.sid = a.sid AND s.sub = a.sub
        GROUP BY 1, 2, 3
    ) m ON m.sub = c.sub AND m.cell = c.cell AND m.dim = c.dim
)"""
        for i in range(1, iters + 1)
    )
    return f"""
WITH em AS MATERIALIZED (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * {_MICRO}) AS BIGINT)) AS vm
    FROM embeddings
),
spread AS MATERIALIZED (
    SELECT vec_id, vm FROM em
    WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
          % 4 = 0
),
pick AS (
    SELECT (SELECT count(*) FROM (SELECT 1 FROM spread LIMIT {IVF_K}))
           < {IVF_K} AS use_all
),
samp AS MATERIALIZED (
    SELECT vec_id AS sid, vm FROM (
        SELECT vec_id, vm FROM spread WHERE NOT (SELECT use_all FROM pick)
        UNION ALL
        SELECT vec_id, vm FROM em WHERE (SELECT use_all FROM pick)
    ) ORDER BY vec_id LIMIT {IVF_TRAIN_CAP}
),
pos AS (
    SELECT CAST(i AS INTEGER) AS i,
           CAST((i - 1) // {dsub} AS INTEGER) AS sub,
           CAST((i - 1) % {dsub} + 1 AS INTEGER) AS dim
    FROM range(1, {IVF_DIM + 1}) t(i)
),
sdim AS MATERIALIZED (
    SELECT sid, sub, dim, vm[i] AS val FROM samp, pos
),
ranked AS MATERIALIZED (SELECT vm, row_number() OVER (ORDER BY sid) AS rn FROM samp),
c0 AS MATERIALIZED (
    SELECT sub, CAST(rn - 1 AS INTEGER) AS cell, dim, vm[i] AS val
    FROM ranked, pos
    WHERE rn <= {k}
){rounds},
cb AS MATERIALIZED (SELECT sub, cell, dim, val FROM c{iters})"""


def _assign_ctes() -> str:
    """Continues `_lloyd_ctes`: every embedding's squared micro distance to
    every cell of its subspaces, ``dists(vec_id, sub, cell, d)``, and its
    nearest cell per subspace, ``codes(vec_id, sub, cell)`` (ties → lowest
    cell). For IVF (one subspace) `codes` is the cell assignment."""
    return """,
edim AS MATERIALIZED (
    SELECT vec_id, sub, dim, vm[i] AS val FROM em, pos
),
dists AS MATERIALIZED (
    SELECT e.vec_id, e.sub, c.cell,
           sum((e.val - c.val) * (e.val - c.val)) AS d
    FROM edim e JOIN cb c ON c.sub = e.sub AND c.dim = e.dim
    GROUP BY 1, 2, 3
),
codes AS MATERIALIZED (
    SELECT vec_id, sub, cell FROM (
        SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d, cell) AS rn
        FROM dists
    ) WHERE rn = 1
)"""


@query(
    "ivf_centroids",
    oracle=_lloyd_ctes(1, IVF_K, IVF_ITERS)
    + "\nSELECT cell, dim, val AS c_micro FROM cb",
)
def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained IVF index STRUCTURE as a table — (cell, dim, c_micro)
    per centroid coordinate. This is sim_search_ivf's k-means made
    oracle-checkable end to end: training is deterministic integer-micro
    arithmetic (see `_train_codebooks`), so the DuckDB oracle re-derives
    the identical centroids by unrolling the same Lloyd rounds in SQL.
    Alongside pinning the index for the driver, this is also the shape a
    production pipeline persists/ships: the routing table IS a (small)
    DataFrame, broadcastable to any scorer."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    C = _train_codebooks(e, 1, IVF_K, IVF_ITERS)[0]
    rows = [
        (cell, dim + 1, int(val))
        for cell, vec in enumerate(C.tolist())
        for dim, val in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "cell int, dim int, c_micro bigint"
    )


@query(
    "sim_search_ivf",
    oracle=_lloyd_ctes(1, IVF_K, IVF_ITERS) + _assign_ctes() + f""",
probes AS (
    SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell) AS rn
        FROM dists WHERE vec_id < {N_QUERIES}
    ) WHERE rn <= {IVF_NPROBE}
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
rer AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           round(list_cosine_similarity(qe.v, ne.v), 6) AS cos
    FROM probes p
    JOIN codes a USING (cell)
    JOIN ev qe ON qe.vec_id = p.query_id
    JOIN ev ne ON ne.vec_id = a.vec_id
    WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM rer)
WHERE rn <= {TOP_K}
""",
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the centroid-routed alternative to
    the LSH path in sim_search_ann: k-means centroids partition the
    corpus; each vector is assigned to its nearest centroid (narrow Arrow
    pass); a query probes only its IVF_NPROBE nearest cells and exact
    cosine re-ranks the candidates. Unlike LSH bands a vector lives in
    exactly ONE cell, so the candidate join needs no distinct, and the
    scanned fraction is a direct dial (nprobe/K ≈ 25% here). Skewed cells
    are the scale hazard — AQE skew-join handles moderate imbalance;
    production IVF rebalances by splitting hot cells. Recall vs brute
    force is pinned in tests/test_dedup.py.

    Routing runs on int64 MICROS against the micro centroids, with
    numpy's first-index/stable tie-breaks mirrored by the oracle's
    ``ORDER BY d, cell``; the re-rank is the round-6 cosine both engines
    compute identically. That makes the WHOLE search — routing, probe
    set, approximation error included — exact-hash-checked against the
    DuckDB twin, the same end-to-end guarantee sim_search_pq carries."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    e = scan_parallel(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    C = _train_codebooks(e, 1, IVF_K, IVF_ITERS)[0]

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        # stable sort ⇒ equal distances keep ascending cell order — the
        # oracle's ORDER BY (d, cell)
        order = np.argsort(_sq_dists(_micros(v), C), axis=1, kind="stable")
        return pd.Series(list(order[:, :IVF_NPROBE]))

    corpus = e.select("vec_id", "v", _nearest_cell_udf(C)("v").alias("cell"))
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(probe_cells("v")).alias("cell"),
        )
    )
    cands = corpus.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _cos_pandas()
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos(F.col("qv"), F.col("v")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


PQ_M = 8  # subspaces (64 dims -> 8 sub-vectors of 8)
PQ_DSUB = IVF_DIM // PQ_M
PQ_KS = 16  # sub-centroids per subspace (4-bit codes; 256 in production)
PQ_ITERS = 3
PQ_SHORTLIST = 32  # ADC candidates kept per query before exact re-rank


@query(
    "pq_codebooks",
    oracle=_lloyd_ctes(PQ_M, PQ_KS, PQ_ITERS)
    + "\nSELECT sub, cell, dim, val AS c_micro FROM cb",
)
def pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained PRODUCT-QUANTIZATION index structure as a table —
    (sub, cell, dim, c_micro) per sub-centroid coordinate; the PQ
    counterpart of `ivf_centroids` and the artifact a production
    pipeline persists and broadcasts to every encoder/scorer. Training
    is `_train_codebooks` with PQ_M subspaces on the same bounded sample
    as IVF, so the DuckDB twin re-derives identical codebooks from the
    same `_lloyd_ctes` template."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    C = _train_codebooks(e, PQ_M, PQ_KS, PQ_ITERS)
    rows = [
        (sub, cell, dim + 1, int(val))
        for sub, book in enumerate(C.tolist())
        for cell, vec in enumerate(book)
        for dim, val in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "sub int, cell int, dim int, c_micro bigint"
    )


@query(
    "sim_search_pq",
    oracle=_lloyd_ctes(PQ_M, PQ_KS, PQ_ITERS) + _assign_ctes() + f""",
adc AS (
    SELECT cx.vec_id AS neighbor_id, dq.vec_id AS query_id,
           sum(dq.d) AS adc
    FROM codes cx
    JOIN dists dq ON dq.sub = cx.sub AND dq.cell = cx.cell
    WHERE dq.vec_id < {N_QUERIES} AND cx.vec_id <> dq.vec_id
    GROUP BY 1, 2
),
short AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc, neighbor_id) AS rn
        FROM adc
    ) WHERE rn <= {PQ_SHORTLIST}
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
rer AS (
    SELECT s.query_id, s.neighbor_id,
           round(list_cosine_similarity(qe.v, ne.v), 6) AS cos
    FROM short s
    JOIN ev qe ON qe.vec_id = s.query_id
    JOIN ev ne ON ne.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM rer)
WHERE rn <= {TOP_K}
""",
)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k — the COMPRESSION corner of the
    similarity family (sim_search exact / sim_search_ann LSH-pruned /
    sim_search_ivf centroid-routed): every corpus vector is encoded as
    PQ_M 4-bit codes (4 bytes here vs 512 for the raw doubles — the
    ~100× memory ratio that lets a 100 TB embedding corpus fit a
    RAM-resident scan), queries precompute a per-subspace lookup table,
    and asymmetric-distance (ADC) scoring is a pure table-lookup sum
    over the CODES — the raw vectors are touched only to exact-re-rank
    the PQ_SHORTLIST survivors (broadcast joins on 640 rows). Jégou et
    al., "Product Quantization for Nearest Neighbor Search".

    Plan: encode and LUT passes are NARROW Arrow batches (numpy argmin
    over int64 micros, ties to lowest cell — the `_lloyd`
    determinism recipe); ADC is a broadcast join of the 20-query LUT
    set against the codes stream with one JVM `aggregate` lookup-sum
    per pair (no Python in the scoring loop); the only width-P shuffle
    is the per-query shortlist window over 16-byte (query, neighbor,
    adc) rows. Every quantity — micro quantization, codebooks, codes,
    int64 ADC sums, round-6 cosine re-rank — is computed bit-identically
    by the DuckDB twin, so even the index's approximation error is
    hash-checked exactly; recall vs brute force is additionally pinned
    in tests/test_dedup.py."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    e = scan_parallel(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    C = _train_codebooks(e, PQ_M, PQ_KS, PQ_ITERS)
    if C.shape[1] == 0:  # empty corpus: closure must still broadcast
        C = np.zeros((PQ_M, 1, PQ_DSUB), dtype=np.int64)
    k = C.shape[1]

    def sub_dists(v: pd.Series) -> list:
        X = _micros(v)
        return [_sq_dists(S, Cs) for S, Cs in zip(np.split(X, PQ_M, axis=1), C)]

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        codes = np.stack([d.argmin(1) for d in sub_dists(v)], axis=1)
        return pd.Series(list(codes.astype(np.int32)))

    @pandas_udf("array<long>")
    def lut(v: pd.Series) -> pd.Series:
        return pd.Series(list(np.hstack(sub_dists(v))))

    codes = e.select("vec_id", encode("v").alias("codes"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), lut("v").alias("lut")
    )
    adc_expr = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            F.col("lut"),
            (m * k + F.element_at(F.col("codes"), (m + 1).cast("int")) + 1)
            .cast("int"),
        ),
    )
    adc = (
        codes.join(
            F.broadcast(q), F.col("vec_id") != F.col("query_id")
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc_expr.alias("adc"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    ne = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    cos = _cos_pandas()
    rer = (
        ne.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qe.filter(F.col("query_id") < N_QUERIES)), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos(F.col("qv"), F.col("nv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
