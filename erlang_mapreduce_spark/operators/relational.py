"""Relational core: projection, filters, aggregations, sort, top-k, set ops,
exact dedup (SURVEY.md §2.B).

Each op generalizes a reference capability: projection/derived columns ≙
calcProb (mapreduce.erl:137-141); filters ≙ the split-time predicates
(mapreduce.erl:174-181); hash aggregation ≙ the ETS partial/final combine
(mapreduce.erl:275-282, :236-255); global aggregates ≙ countTotal
(mapreduce.erl:130-134); sort ≙ the orddict ordering (mapreduce.erl:49);
union/merge ≙ the 26-way reducer merge (mapreduce.erl:116-127).

All of these compile to whole-stage-codegen'd HashAggregate / Sort /
Exchange plans — no Python in the hot path. Double-typed sums go through
DECIMAL (see exact.py) so the oracle hash is order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exact import davg, davg_sql, dsum, dsum_sql, md5_prefix_int
from ..registry import query
from ..tables import load


@query(
    "project_select",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
       l_returnflag || '/' || l_linestatus AS flag_status
FROM lineitem
""",
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection + arithmetic + aliasing (ref: calcProb's derived
    column, mapreduce.erl:137-141). Per-row IEEE arithmetic is deterministic
    and identical across engines, so no rounding is needed."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charged"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


@query(
    "filter_pred",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000 AND 200000
  AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
  AND o_custkey IS NOT NULL
""",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicates: IN, BETWEEN, LIKE, IS NOT NULL
    (ref: split-time filters, mapreduce.erl:174-181). All push down to the
    parquet scan (PushedFilters in .explain)."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 200000)
        & (
            F.col("o_orderpriority").like("1%")
            | F.col("o_orderpriority").like("2%")
        )
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "agg_hash_count",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS cnt,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_hash_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy count/sum — Spark's partial+final HashAggregate pair is the
    built-in analog of the reference's mapper-ETS combine + reducer merge
    (mapreduce.erl:275-282, :236-255): shuffle volume is O(distinct keys),
    not O(rows). The integer quantity sum quantizes each row with an
    EXPLICIT floor(): a bare double→bigint cast truncates in Spark but
    rounds in DuckDB (test_sql_fuzz finding — identity on the
    integer-valued fixture, divergent on any fractional quantity)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.floor("l_quantity").cast("bigint")).alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@query(
    "agg_multi",
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS cnt,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       {davg_sql('o_totalprice')} AS avg_price,
       round(stddev_samp(o_totalprice), 4) AS sd_price
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev multi-aggregate (generalizes A9). stddev is
    genuinely order-dependent in float → rounded to 4 on both sides."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice").alias("avg_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
    )


@query(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS nd_part,
       count(DISTINCT l_suppkey) AS nd_supp,
       count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (oracle-checked). The approximate path
    (approx_count_distinct, HLL-based — the 100 TB answer) is exercised in
    tests/test_operators.py since DuckDB's approx_distinct uses a different
    sketch and cannot hash-match."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("nd_part"),
        F.count_distinct("l_suppkey").alias("nd_supp"),
        F.count("*").alias("cnt"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       CAST(sum(CAST(o_custkey AS BIGINT)) AS BIGINT) AS sum_cust
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (subtotals + grand total). Spark expands grouping sets before
    the hash agg; one shuffle, same as a plain groupBy."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("o_custkey").cast("bigint")).alias("sum_cust"),
    )


@query(
    "agg_global",
    oracle=f"""
SELECT count(*) AS cnt,
       {dsum_sql('l_extendedprice')} AS sum_price,
       {davg_sql('l_discount')} AS avg_disc,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-wide scalar aggregate (ref: countTotal fold,
    mapreduce.erl:130-134). Partial aggregation makes this a single-row
    shuffle regardless of input size. Explicit floor() quantization —
    see agg_hash_count's cast-divergence note."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_discount").alias("avg_disc"),
        F.sum(F.floor("l_quantity").cast("bigint")).alias("sum_qty"),
    )


@query(
    "agg_ratio_of_total",
    oracle="""
WITH per_nation AS (
    SELECT n_name, count(*) AS cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
)
SELECT n_name, cnt,
       CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE) AS ratio
FROM per_nation
""",
)
def agg_ratio_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value / global total — the reference's flagship shape (calcProb,
    mapreduce.erl:137-141). The total is a partition-less window over the
    ALREADY-AGGREGATED per-nation rows (≤ 25, bounded by the dimension, at
    any fact-table scale) — O(1) data through the one-partition hop. A
    partition-less window over raw rows would be the reference's
    collect-to-master anti-pattern (mapreduce.erl:98); a scalar-subquery
    crossJoin(broadcast(per_nation.agg(...))) avoids that too but
    RECOMPUTES the whole join+agg branch (ReuseExchange does not fire
    across the two consumers; verified via .explain — customer was scanned
    twice)."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    per_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("cnt"))
    )
    return per_nation.select(
        "n_name",
        "cnt",
        (
            F.col("cnt").cast("double")
            / F.sum("cnt").over(Window.partitionBy())
        ).alias("ratio"),
    )


@query(
    "sort_global",
    oracle="""
SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn,
       o_orderkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F'
""",
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order (ref: orddict ordering, mapreduce.erl:49). The attached
    row_number makes the order observable to the order-insensitive hash.
    Spark's range-partitioned sort scales out; at 100 TB prefer sort + write
    over any single-partition window (this op uses the window only to
    witness the order at test scale)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        F.row_number().over(w).alias("rn"), "o_orderkey", "o_totalprice"
    )


@query(
    "topk",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 25
""",
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k = orderBy + limit → Spark's TakeOrderedAndProject: each
    partition keeps k rows, driver merges k·P — no global sort shuffle.
    Deterministic tie-break on the key."""
    c = load(spark, sf_dir, "customer")
    return (
        c.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(25)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "set_union_intersect_except",
    oracle="""
SELECT 'cust_or_supp' AS tag, n_nationkey FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'cust_and_supp' AS tag, n_nationkey FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'cust_not_supp' AS tag, n_nationkey FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier)
""",
)
def set_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except (ref analog: the 26-reducer result merge,
    mapreduce.erl:116-127, which is a disjoint-range union)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    tag = lambda df, t: df.select(  # noqa: E731
        F.lit(t).alias("tag"), "n_nationkey"
    )
    return (
        tag(c.union(s).distinct(), "cust_or_supp")
        .unionAll(tag(c.intersect(s), "cust_and_supp"))
        .unionAll(tag(c.subtract(s), "cust_not_supp"))
    )


@query(
    "dedup_exact",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
QUALIFY row_number() OVER (
    PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup with a DETERMINISTIC survivor (first by l_linenumber) —
    dropDuplicates picks an arbitrary row, which cannot be oracle-checked;
    the row_number formulation is what you'd run at 100 TB anyway (single
    hash shuffle on the key, no full sort). Pure distinct() is covered by
    set ops above."""
    li = load(spark, sf_dir, "lineitem")
    # the survivor order must be TOTAL — (orderkey, linenumber) alone is not
    # unique in the fixture data, which a nondeterministic tie would turn
    # into a hash mismatch
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    )


@query(
    "agg_pivot",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'O') AS o_cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(29,6)))
            FILTER (o_orderstatus = 'O') AS DOUBLE) AS o_total,
       COUNT(*) FILTER (o_orderstatus = 'F') AS f_cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(29,6)))
            FILTER (o_orderstatus = 'F') AS DOUBLE) AS f_total,
       COUNT(*) FILTER (o_orderstatus = 'P') AS p_cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(29,6)))
            FILTER (o_orderstatus = 'P') AS DOUBLE) AS p_total
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) on order status: one hash-agg shuffle on the
    group key with the pivot values folded into conditional aggregates —
    Spark compiles an explicit-values pivot to exactly that, so the plan is
    scale-identical to agg_hash_count (no extra pass; never call pivot()
    without the value list, which triggers a distinct-scan first)."""
    o = load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            # count(*) is rejected inside a pivot aggregate; count(1) is
            # the same cardinality
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total"),
        )
    )
    # COUNT FILTER yields 0 for an empty bucket; pivot yields null — align
    return piv.select(
        "o_orderpriority",
        *[
            c
            for s in ("O", "F", "P")
            for c in (
                F.coalesce(F.col(f"{s}_cnt"), F.lit(0)).alias(
                    f"{s.lower()}_cnt"
                ),
                F.col(f"{s}_total").alias(f"{s.lower()}_total"),
            )
        ],
    )


@query(
    "agg_percentile",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
       count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation over the sorted
    group). Exact percentiles buffer the group's values; at 100 TB swap in
    `approx_percentile(col, p, accuracy)` — a fixed-size mergeable
    KLL/GK-style sketch with the same call shape."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias(
            "p95_price"
        ),
        F.count("*").alias("cnt"),
    )


@query(
    "sample_hash",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
""",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 hash sample keyed on o_orderkey (first md5
    nibble = 0). Unlike TABLESAMPLE/rand() this is reproducible across
    engines, runs, and partitionings — the only kind of sample a 100 TB
    pipeline should ship (consistent subsets across derived tables keyed
    the same way), and it pushes down as an ordinary predicate."""
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").filter(
        F.md5(F.col("o_orderkey").cast("string")).substr(1, 1) == "0"
    )


@query(
    "fn_agg_collect",
    oracle="""
SELECT o_orderpriority,
       array_to_string(list_sort(list_distinct(array_agg(o_orderstatus))), ',')
           AS statuses,
       count(DISTINCT o_custkey) AS n_custs
FROM orders
GROUP BY o_orderpriority
""",
)
def fn_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List aggregation (collect_set, deterministically sorted) — the
    array-building side of the function surface (fn_array covers the
    array-consuming side). Sorting is mandatory for any cross-engine or
    cross-run comparison: collection order is partition-schedule-dependent.
    The sorted set is emitted as a comma-joined STRING, not a raw
    array<string>: the driver canonicalizes every output column through a
    pandas sort, which cannot hash list cells — array-typed outputs are
    banned repo-wide (tests/test_correctness.py enforces it).
    At scale collect_* is safe only on bounded groups (statuses per
    priority ≤ 3 here); unbounded groups belong in explode-side joins."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count_distinct("o_custkey").alias("n_custs"),
    )


@query(
    "sample_stratified",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN
      (CASE WHEN o_orderpriority = '1-URGENT' THEN '0' ELSE '' END,
       CASE WHEN o_orderpriority = '1-URGENT' THEN '1' ELSE '' END,
       CASE WHEN o_orderpriority = '1-URGENT' THEN '2' ELSE '' END,
       CASE WHEN o_orderpriority = '1-URGENT' THEN '3' ELSE '' END,
       '0')
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: 4/16 of '1-URGENT' orders, 1/16 of
    everything else, keyed on the md5 nibble of the primary key — the
    rebalancing step a training pipeline uses to over-sample rare strata.
    Like sample_hash it is reproducible across engines/runs/partitionings
    and evaluates as an ordinary pushed-down predicate (no rand(), no
    sampleBy seed dependence), so derived tables sampled on the same key
    stay consistent."""
    o = load(spark, sf_dir, "orders")
    nib = F.md5(F.col("o_orderkey").cast("string")).substr(1, 1)
    urgent_rate = nib.isin("0", "1", "2", "3")
    base_rate = nib == "0"
    return o.select("o_orderkey", "o_orderpriority", "o_totalprice").filter(
        F.when(F.col("o_orderpriority") == "1-URGENT", urgent_rate).otherwise(
            base_rate
        )
    )


@query(
    "hist_numeric",
    oracle="""
SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
       CAST(floor(l_extendedprice / 5000) AS BIGINT) * 5000 AS bin_lo,
       count(*) AS cnt,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY 1, 2
""",
)
def hist_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram — the profiling primitive for data
    exploration and skew diagnosis. Binning is a narrow projection
    (floor(x / width): one correctly-rounded double division + exact floor,
    reproducible in any IEEE engine), so the whole plan is one partial/final
    hash-agg on ~tens of bins: shuffle volume is O(bins × partitions),
    independent of table size — this profiles 100 TB with a near-zero
    exchange."""
    li = load(spark, sf_dir, "lineitem")
    bin_ = F.floor(F.col("l_extendedprice") / 5000).alias("bin")
    return (
        li.select(bin_, "l_extendedprice")
        .groupBy("bin")
        .agg(
            F.count("*").alias("cnt"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .select(
            "bin",
            (F.col("bin") * 5000).alias("bin_lo"),
            "cnt",
            "min_price",
            "max_price",
        )
    )


@query(
    "agg_corr_stats",
    oracle="""
SELECT l_returnflag,
       count(*) AS cnt,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: correlation, sample covariance and
    regression slope — the feature-screening aggregates of a training
    pipeline. All three are single-pass co-moment aggregates with
    partial/final combining (Spark merges per-partition (n, Σx, Σy, Σxy)
    states), so one shuffle of O(groups) rows covers all of them. Co-moment
    accumulation order differs between engines → rounded on both sides
    (6 dp for the unit-interval corr, coarser for the magnitude-1e4
    covariance/slope), same policy as agg_multi's stddev."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "slope"
        ),
    )


@query(
    "agg_mode",
    oracle="""
WITH c AS (
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                 ORDER BY cnt DESC, o_orderpriority DESC) AS rn
    FROM c
) WHERE rn = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent value per group with a DETERMINISTIC tie-break
    (highest count, then greatest value — built-in mode() leaves ties
    engine-defined, which is a silent nondeterminism across partitionings).
    Two partial/final hash-aggs: count per (group, value) — shuffle bounded
    by distinct pairs — then max(struct(cnt, value)) per group; no sort, no
    window over full history."""
    o = load(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    m = c.groupBy("o_orderstatus").agg(
        F.max(
            F.struct(F.col("cnt"), F.col("o_orderpriority").alias("v"))
        ).alias("m")
    )
    return m.select(
        "o_orderstatus",
        F.col("m.v").alias("mode_priority"),
        F.col("m.cnt").alias("cnt"),
    )


@query(
    "fn_conditional",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS size_band,
       coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
       least(o_totalprice, 150000.0) AS capped_price,
       greatest(o_totalprice, 50000.0) AS floor_price
FROM orders
""",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-expression family: CASE WHEN chains, nullif→coalesce
    null plumbing, least/greatest clamping. All exact comparisons and value
    selection (no float arithmetic), fully codegen'd narrow projection —
    the branch-heavy business logic that must stay JVM-side rather than
    leak into Python row loops."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_band"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
            "status_label"
        ),
        F.least("o_totalprice", F.lit(150000.0)).alias("capped_price"),
        F.greatest("o_totalprice", F.lit(50000.0)).alias("floor_price"),
    )


@query(
    "agg_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure,
       l_extendedprice AS amount
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide → long), the inverse of agg_pivot and the
    reshape every feature pipeline runs before a per-measure aggregate.
    Spark's native unpivot is a single narrow Expand (each input row emits
    one row per measure in the same task — no shuffle, no N self-scans);
    the oracle states the same relation as the textbook UNION ALL."""
    li = load(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "amount",
    )


@query(
    "agg_approx",
    oracle=None,  # sketch outputs are engine-specific (HLL++ / GK vs t-digest)
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the sketches that replace exact
    distinct/percentile at 100 TB: approx_count_distinct (HLL++, fixed
    ~few-KB state per group instead of a distinct-value hash table) and
    approx_percentile (Greenwald-Khanna, mergeable bounded state). Both are
    partial/final aggregates — one O(groups × sketch-size) shuffle where the
    exact versions shuffle every distinct value.

    No oracle by contract: DuckDB's approx sketches (t-digest) legitimately
    produce different estimates. Instead the op is SELF-EVIDENCING: each row
    carries the exact companion, the relative error, and an 0/1 ok flag
    (``and_ok``: |HLL − exact|/exact ≤ 5·rsd with rsd=0.02; ``pXX_ok``:
    |GK − exact percentile|/exact ≤ 0.05, generous vs the rank-error bound
    N/accuracy), so the driver's recorded row verifies the sketch in-row.
    The exact companions are the evidence harness, not the 100 TB plan —
    production callers take only the apx_* columns and skip the Expand /
    exact-percentile buffer entirely. Bounds also pinned in
    tests/test_operators.py (all ok flags must be 1)."""
    li = load(spark, sf_dir, "lineitem")

    def rel_err(apx, exact):  # |approx-exact|/exact, 6dp for row stability
        return F.round(F.abs(apx - exact) / exact, 6)

    apx_nd = F.approx_count_distinct("l_partkey", 0.02)
    exact_nd = F.count_distinct("l_partkey")
    apx_p50 = F.expr("approx_percentile(l_extendedprice, 0.5, 1000)")
    apx_p95 = F.expr("approx_percentile(l_extendedprice, 0.95, 1000)")
    exact_p50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact_p95 = F.expr("percentile(l_extendedprice, 0.95)")
    out = li.groupBy("l_returnflag").agg(
        apx_nd.alias("and_part"),
        exact_nd.alias("exact_nd_part"),
        F.round(apx_p50, 6).alias("apx_p50"),
        F.round(exact_p50, 6).alias("exact_p50"),
        F.round(apx_p95, 6).alias("apx_p95"),
        F.round(exact_p95, 6).alias("exact_p95"),
        rel_err(apx_nd, exact_nd).alias("and_rel_err"),
        rel_err(apx_p50, exact_p50).alias("p50_rel_err"),
        rel_err(apx_p95, exact_p95).alias("p95_rel_err"),
        F.count("*").alias("cnt"),
    )
    return out.select(
        "*",
        (F.col("and_rel_err") <= 0.10).cast("int").alias("and_ok"),
        (F.col("p50_rel_err") <= 0.05).cast("int").alias("p50_ok"),
        (F.col("p95_rel_err") <= 0.05).cast("int").alias("p95_ok"),
    )


@query(
    "agg_approx_exact",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_nd_part,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95,
       count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_approx_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checkable companion of ``agg_approx``: the SAME group
    keys and the exact aggregates its in-row bound flags compare against
    (exact distinct parts, exact interpolated p50/p95) — but none of the
    engine-specific sketch estimates, so DuckDB twins it exactly and the
    driver records a full value-hash row for this half of the surface
    (the sketches themselves stay self-evidencing in ``agg_approx``,
    rows-only by design). Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the lower+(upper−lower)·frac interpolation;
    both sides round to 6 dp per the registry's transcendental
    convention. The evidence harness, not the 100 TB plan — production
    callers use the sketch columns precisely to avoid the exact
    distinct/percentile shuffle this op pays."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_nd_part"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias(
            "exact_p50"
        ),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias(
            "exact_p95"
        ),
        F.count("*").alias("cnt"),
    )


@query(
    "topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
)
WHERE rn <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITHIN each group (vs topk's global limit): each customer's 3
    most expensive orders. Spark 3.5+ plans the rank-then-filter idiom with
    WindowGroupLimit: each map task keeps only k rows per key BEFORE the
    shuffle, so exchange volume is O(keys × k), not O(rows) — the same
    partial-vs-full leverage as map-side combine, applied to ordering."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


_PROFILE_COLS = (
    "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_partkey", "l_suppkey",
)


@query(
    "profile_columns",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS column,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_v,
       CAST(max({c}) AS DOUBLE) AS max_v
FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column null count, exact distinct count, and
    min/max over lineitem's numeric columns, emitted long-form (one row
    per column) — the quality report a pipeline runs before trusting a new
    snapshot. All metrics compute in ONE aggregate over ONE scan: the
    multi-distinct agg plans as a single Expand (one stream per distinct
    column) feeding a shared partial/final hash-agg pair — map-side
    combining keeps the exchange at O(distinct values), and the 1-row
    result explodes into the long-form report without touching the data
    again. min/max are order statistics (no arithmetic), so doubles hash
    exactly; bigint→double casts are exact below 2^53. At 100 TB swap the
    exact distincts for approx_count_distinct (agg_approx) — same call
    shape, fixed-size sketches instead of an Expand."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"{c}__rows").alias("n_rows"),
                        F.col(f"{c}__null").alias("n_null"),
                        F.col(f"{c}__nd").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_v"),
                        F.col(f"{c}__max").alias("max_v"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")


PARETO_K = 100  # report depth: the top-K revenue customers


@query(
    "analytics_pareto_topk",
    oracle=f"""
WITH rev AS (
    SELECT o_custkey, {dsum_sql('o_totalprice')} AS revenue
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT {dsum_sql('o_totalprice')} AS total FROM orders),
top AS (
    SELECT o_custkey, revenue,
           row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rn
    FROM rev
    ORDER BY revenue DESC, o_custkey
    LIMIT {PARETO_K}
)
SELECT t.o_custkey, t.rn, t.revenue,
       round(CAST(SUM(CAST(t.revenue AS DECIMAL(29,6)))
                      OVER (ORDER BY t.rn
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / tot.total, 6) AS cum_share
FROM top t, tot
""",
)
def analytics_pareto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration report: the top-100 customers by
    total order revenue, each with its CUMULATIVE share of ALL revenue —
    "the top N customers carry X% of the business". A naive global
    running-total window is the classic scale anti-pattern (one
    partition sorts everything); here the global sort touches only K
    rows: per-customer revenue is one hash agg, the top-K survives via
    TakeOrdered (per-partition k-limit, then a K-row merge on the
    driver-side stage — the topk plan shape), and the running share is a
    window over those K rows joined with the broadcast 1-row total.
    Ordering is total (revenue DESC, custkey), sums ride DECIMAL
    (exact.py), and the share divides identical doubles on both engines
    before a round-6."""
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    top = (
        rev.orderBy(F.col("revenue").desc(), "o_custkey")
        .limit(PARETO_K)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("revenue").desc(), "o_custkey")
            ),
        )
    )
    tot = o.agg(dsum("o_totalprice").alias("total"))
    cum = F.sum(F.col("revenue").cast("decimal(29,6)")).over(
        Window.orderBy("rn").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "rn",
        "revenue",
        F.round(cum.cast("double") / F.col("total"), 6).alias("cum_share"),
    )


@query(
    "agg_quantile_bins",
    oracle="""
WITH q AS (
    SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs FROM orders
)
SELECT 1 + CAST(o_totalprice > qs[1] AS INT)
         + CAST(o_totalprice > qs[2] AS INT)
         + CAST(o_totalprice > qs[3] AS INT) AS bin,
       count(*) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders, q
GROUP BY 1
""",
)
def agg_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (quartiles of o_totalprice) — the feature-
    engineering discretization step. The naive exact formulation is
    ntile(4) over a GLOBAL window, which funnels the whole table through
    one sorted partition; the scalable plan used here is two-pass:
    (1) exact quartile BOUNDARIES via one `percentile` aggregate (a
    3-double result, distributed partial agg), (2) broadcast that 1-row
    result and assign bins with three comparisons in a narrow projection,
    then one hash agg. Same shape at 100 TB with approx_percentile
    swapped in (agg_approx is the registry's sketch twin).

    Cross-engine exactness: Spark `percentile` and DuckDB `quantile_cont`
    both interpolate at h=(n-1)p with p dyadic (0.25/0.5/0.75), so h and
    its fractional part are EXACT doubles; an interpolated boundary lies
    strictly between two adjacent distinct data values (ties collapse the
    interpolation to the tied value exactly), so a last-ulp difference in
    the two engines' interpolation arithmetic can never flip a `price >
    boundary` comparison — prices sit ≥ 0.0025 from any interior boundary
    at these fractions. Bin ids, counts, and min/max passthrough are then
    pure integer/exact."""
    o = load(spark, sf_dir, "orders").select("o_totalprice")
    q = o.agg(
        F.expr(
            "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))"
        ).alias("qs")
    )
    binned = o.crossJoin(F.broadcast(q)).select(
        (
            F.lit(1)
            + (F.col("o_totalprice") > F.col("qs")[0]).cast("int")
            + (F.col("o_totalprice") > F.col("qs")[1]).cast("int")
            + (F.col("o_totalprice") > F.col("qs")[2]).cast("int")
        ).alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation — the scale path
    between agg_distinct (Expand-based exact, heavy at high cardinality)
    and agg_approx (HLL, approximate): dense integer keys pack into
    per-bucket bitmaps (bitmap_bucket_number / bitmap_bit_position), the
    bitmaps OR together — a MERGEABLE partial state a few KB per bucket
    regardless of row count — and popcount sums give the exact distinct.
    This is the roaring-bitmap pattern OLAP engines use for exact distinct
    users at billions of rows: two hash aggs, map-side combine collapses
    each partition's rows into bitmap fragments before either exchange,
    and state size is O(key-range/8 bits) not O(rows). Requires
    integer-ish keys (ids here); arbitrary strings hash first, trading
    exactness for the approx path. The oracle is the plain
    count(DISTINCT) the bitmaps must reproduce bit-for-bit."""
    e = load(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("b")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("n_users")
    )


KMV_K = 256  # minima retained per group (KMV standard error ~ 1/sqrt(k-2))
# (k-1) * 2^60 pre-folded to the ONE double literal both engines divide by
# the k-th minimum — rounding happens once here, not per-engine
_KMV_NUM = float((KMV_K - 1) << 60)


def kmv_estimate(m: Column, kth: Column) -> Column:
    """The KMV distinct-count estimate from ``m`` retained minima whose
    KMV_K-th smallest hash is ``kth``: the exact count while m < KMV_K,
    else (k-1)/u_(k) with u the 60-bit hash mapped to (0, 1)."""
    return F.when(m < KMV_K, m.cast("double")).otherwise(
        F.lit(_KMV_NUM) / kth.cast("double")
    )


def kmv_oracle(src: str, item: str, keys: str, key_exprs: str = "") -> str:
    """DuckDB KMV oracle: the KMV_K smallest distinct md5-60 hashes of
    ``item`` per ``keys`` group over ``src`` (a FROM clause, filters
    included), folded by the `kmv_estimate` rule. ``key_exprs`` derives
    the keys from ``src`` columns when they are not plain columns."""
    return f"""
WITH h AS (
    SELECT DISTINCT {key_exprs or keys},
           ('0x' || substr(md5(CAST({item} AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM {src}
),
r AS (
    SELECT {keys}, h,
           row_number() OVER (PARTITION BY {keys} ORDER BY h) AS rn
    FROM h
)
SELECT {keys},
       CAST(count(*) AS BIGINT) AS k_used,
       CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
            ELSE {_KMV_NUM!r} / CAST(max(h) AS DOUBLE) END AS est_distinct
FROM r WHERE rn <= {KMV_K} GROUP BY {keys}
"""


def kmv_sketch_partition(k: int):
    """Factory for the per-partition KMV pass of `agg_kmv_distinct`: fold
    Arrow batches into the k smallest DISTINCT hashes per group, bounded
    state k·groups rows regardless of partition size. Module-level so the
    pure-pandas generator is property-testable without a Spark session."""
    import pandas as pd

    def gen(batches):
        acc = None
        for pdf in batches:
            pdf = pdf.dropna(subset=["h"])
            parts = pd.concat([acc, pdf]) if acc is not None else pdf
            acc = (
                parts.drop_duplicates()
                .sort_values("h", kind="stable")
                # dropna=False: a NULL group key is a real group (SQL
                # GROUP BY semantics) — pandas silently drops it otherwise
                .groupby("grp", sort=False, dropna=False)
                .head(k)
            )
        yield acc if acc is not None else pd.DataFrame(
            {"grp": pd.Series(dtype=object), "h": pd.Series(dtype="int64")}
        )

    return gen


@query(
    "agg_kmv_distinct",
    oracle=kmv_oracle(
        "orders WHERE o_custkey IS NOT NULL", "o_custkey", "o_orderpriority"
    ),
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority via a K-MINIMUM-VALUES
    sketch — the fourth corner of the distinct-count family
    (agg_distinct exact-Expand, agg_bitmap_distinct exact-bitmap,
    agg_approx HLL): like HLL it is O(k) mergeable state, unlike HLL
    the retained minima support SET ALGEBRA (|A∪B| by merging sketches,
    |A∩B| by inclusion-exclusion on the combined k-th minimum) — the
    sketch a dedup pipeline keeps per shard to answer overlap questions
    without re-scanning. Estimator: (k-1)/u_(k) with u the hash mapped
    to (0,1) (Beyer et al., "On Synopses for Distinct-Value Estimation
    under Multiset Operations"); k=256 → ~6% standard error, bound
    pinned against the exact count locally.

    Plan shape (the 100 TB posture): hashes are computed JVM-side
    (md5 → 60-bit long, whole-stage codegen), each partition folds to
    its k smallest distinct per group in a vectorized Arrow pass
    (kmv_sketch_partition — bounded k·groups rows out, the same
    partial-summary pattern as agg_heavy_hitters' Misra-Gries pass),
    and the ONLY exchange carries P·k·groups summary rows into a
    collect_set/array_sort/slice merge — never the raw keys. KMV
    mergeability makes the result PARTITION-INDEPENDENT: each
    partition's k-smallest-distinct is a superset of its contribution
    to the global k smallest, so the merged minima — and therefore the
    estimate — equal the single-machine answer exactly, which is what
    lets DuckDB hash-check an 'approximate' op: the estimate is a
    deterministic function of the md5 family (same device as
    decontaminate_bloom / the CM sketch). NULL keys are excluded on
    both engines (count_distinct semantics)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    hashed = o.select(
        F.col("o_orderpriority").alias("grp"),
        md5_prefix_int("o_custkey", 15).alias("h"),
    )
    sk = hashed.mapInPandas(kmv_sketch_partition(KMV_K), "grp string, h long")
    arr = sk.groupBy("grp").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("arr")
    )
    m = F.size("arr")
    return arr.select(
        F.col("grp").alias("o_orderpriority"),
        m.cast("long").alias("k_used"),
        kmv_estimate(m, F.element_at("arr", KMV_K)).alias("est_distinct"),
    )


@query(
    "rollup_sketch_hierarchy",
    oracle=kmv_oracle(
        "events WHERE user_id IS NOT NULL AND ts IS NOT NULL",
        "user_id",
        "event_type, day",
        "event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day",
    ),
)
def rollup_sketch_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical distinct-count rollup via KMV sketch MERGE — the
    continuous-aggregate pattern for the one aggregate plain rollups
    cannot cascade: sums and counts roll hour→day by addition
    (rollup_time_hypertable), but distinct users do NOT add. Here each
    (event_type, hour) bucket keeps its k smallest distinct user hashes,
    and the DAY level is computed ONLY from those hour sketches (union →
    distinct → k smallest) — never from the raw events. At 100 TB this
    is the difference between a day/month/year dashboard touching
    O(buckets·k) sketch rows and one re-scanning the fact table per
    granularity; the hour sketches are exactly what a pipeline persists
    as its continuous-aggregate state.

    The oracle computes the day level DIRECTLY from raw events, so the
    hash match IS the KMV mergeability theorem (min-k of a union equals
    min-k of the per-part min-k's — Beyer et al.), verified cross-engine
    on every fixture and fuzz corpus rather than assumed. Same hash
    family and estimator as agg_kmv_distinct / stream_kmv_distinct; NULL
    user_id/ts rows are excluded on both sides (no hash, no bucket),
    NULL event_type is a real group.

    Plan shape: ONE data-sized exchange — an explicit repartition on
    (event_type, hour) that the per-bucket dedup AND the hour window
    both reuse (hash-clustering on a subset key co-locates the full
    dedup key, so neither adds its own shuffle; a bare .distinct() here
    cost a second data-sized exchange on the full 4-column key) — then
    everything downstream moves only k-bounded sketch rows: one tiny
    (event_type, day) exchange for the merge. Window rank is sort-based
    streaming state, never an unbounded per-group buffer (the reason
    this shape, not a collect_set, is the 100 TB merge)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    hashed = (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hr"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            md5_prefix_int("user_id", 15).alias("h"),
        )
        .repartition("event_type", "hr")
        .dropDuplicates(["event_type", "hr", "h"])
    )
    w_hr = Window.partitionBy("event_type", "hr").orderBy("h")
    hour_sk = (
        hashed.withColumn("rn", F.row_number().over(w_hr))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "day", "h")
    )
    w_day = Window.partitionBy("event_type", "day").orderBy("h")
    day_sk = (
        hour_sk.distinct()  # one hash can sit in several hours of a day
        .withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= KMV_K)
    )
    m = F.count("*")
    return day_sk.groupBy("event_type", "day").agg(
        m.cast("long").alias("k_used"),
        kmv_estimate(m, F.max("h")).alias("est_distinct"),
    )
