"""Physical-plan assertions — the scale contract, checked, not hoped for.

Each test materializes an operator's final AQE plan (or the static plan
where AQE isn't triggered) and asserts the physical property the docstring
promises: pushdown reaching the scan, dimension joins broadcasting,
partial/final aggregation, bucketed joins running without an Exchange.
"""

from __future__ import annotations

import erlang_mapreduce_spark  # noqa: F401 — populates registry
from erlang_mapreduce_spark.registry import QUERIES


def plan_of(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def final_plan_of(df) -> str:
    """Execute, then explain — AQE rewrites the plan at runtime, and the
    runtime plan is the one that must hold the property."""
    df.write.format("noop").mode("overwrite").save()
    return plan_of(df)


def test_scan_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(QUERIES["scan_parquet"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p or "GreaterThan" in p
    # column pruning: the 16-column lineitem scan reads exactly 5 columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert read_schema.count(",") == 4, read_schema  # 5 columns
    for col in ("l_orderkey", "l_linenumber", "l_shipdate"):
        assert col in read_schema, read_schema


def test_dimension_join_broadcasts(spark, sf_dir):
    p = plan_of(QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def count_nodes(p: str, name: str) -> int:
    """Count plan NODES (formatted explain prints each node twice: once in
    the tree, once in the detail section — count only detail headers)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", p, flags=re.M))


def test_agg_partial_final_pair(spark, sf_dir):
    p = plan_of(QUERIES["agg_hash_count"](spark, sf_dir))
    assert "partial_count" in p  # map-side combine before the Exchange
    assert count_nodes(p, "HashAggregate") == 2
    assert count_nodes(p, "Exchange") == 1  # exactly one keyed shuffle


def test_sortmerge_agg_reuses_join_partitioning(spark, sf_dir):
    # the groupBy on the join key must NOT add a second Exchange
    p = final_plan_of(QUERIES["join_sortmerge"](spark, sf_dir))
    assert count_nodes(p, "Exchange") <= 2  # one per join side, none for agg


def test_bucketed_join_no_exchange(spark, sf_dir):
    p = plan_of(QUERIES["join_bucketed"](spark, sf_dir))
    assert "Bucketed: true" in p
    assert "Exchange" not in p, p  # co-located join AND aggregate


def test_ratio_of_total_single_scan(spark, sf_dir):
    # the global total is a partition-less window over the POST-AGGREGATE
    # rows (bounded by the nation dimension), chosen over a broadcast
    # scalar subquery because the subquery recomputes the join+agg branch:
    # the fact table must appear in the plan exactly once
    p = plan_of(QUERIES["agg_ratio_of_total"](spark, sf_dir))
    assert count_nodes(p, "Window") == 1
    # each scan prints its Location detail once; one mention = one scan
    assert p.count("customer.parquet") == 1, p


def test_partition_pruning_reaches_scan(spark, sf_dir):
    p = plan_of(QUERIES["scan_partition_pruned"](spark, sf_dir))
    assert "PartitionFilters" in p
    line = [l for l in p.splitlines() if "PartitionFilters" in l][0]
    assert "o_orderpriority" in line and "IN (1-URGENT,2-HIGH" in line, line


def nodes_of(df) -> list[str]:
    """Operator names from the numbered node list of the formatted explain
    (the full text prints the plan tree twice under AQE — counting raw
    substrings double-counts)."""
    import re

    return [
        m.group(1)
        for line in plan_of(df).splitlines()
        if (m := re.match(r"\s*\(\d+\) ([A-Za-z]+)", line))
    ]


def test_sql_suite_physical_strategies(spark, sf_dir):
    # Q1 shape: pushed-down filter, no join, partial/final agg pair
    n1 = nodes_of(QUERIES["sql_pricing_summary"](spark, sf_dir))
    assert n1.count("HashAggregate") == 2
    assert not any("Join" in n for n in n1)
    # Q3 shape: dims broadcast, top-k is TakeOrderedAndProject (never a
    # global sort of the full aggregate output)
    n3 = nodes_of(QUERIES["sql_top_revenue_orders"](spark, sf_dir))
    assert n3.count("BroadcastHashJoin") == 2
    assert "TakeOrderedAndProject" in n3
    assert "SortMergeJoin" not in n3
    # Q5 shape: all four dimension hops broadcast
    n5 = nodes_of(QUERIES["sql_revenue_by_nation"](spark, sf_dir))
    assert n5.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in n5
    # Q7 shape: both nation hops (the same table aliased twice) and the
    # supplier/customer dims broadcast; no cartesian anywhere
    n7 = nodes_of(QUERIES["sql_volume_shipping"](spark, sf_dir))
    assert n7.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in n7
    # Q8 shape: 7-table star — everything except the fact⋈orders spine
    # broadcasts (6 broadcast hops at fixture stats)
    n8 = nodes_of(QUERIES["sql_market_share"](spark, sf_dir))
    assert n8.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in n8
    # Q17 shape: per-part aggregate joined back to the detail rows — the
    # join-back must be keyed (hash/sort-merge on l_partkey), never a
    # nested loop, and the aggregate is a partial/final pair
    n17 = nodes_of(QUERIES["sql_small_qty_revenue"](spark, sf_dir))
    assert not any("NestedLoop" in n or "Cartesian" in n for n in n17)
    assert any("HashAggregate" in n for n in n17)
    # Q18 shape: the HAVING subquery decorrelates to a keyed semi join
    # (broadcast at fixture stats), and the top-100 is a
    # TakeOrderedAndProject — a global Sort of the aggregate output
    # would materialize every qualifying order at 100 TB
    n18 = nodes_of(QUERIES["sql_large_volume_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in n18
    assert "Sort" not in n18
    assert not any("NestedLoop" in n or "Cartesian" in n for n in n18)
    assert n18.count("HashAggregate") >= 4  # two partial/final pairs
    # Q20 shape: the nested semi-join chain and the correlated scalar
    # both decorrelate to keyed joins — no nested loop anywhere; the two
    # pair-grained lineitem aggregates are partial/final pairs
    n20 = nodes_of(QUERIES["sql_promo_part_suppliers"](spark, sf_dir))
    assert not any("NestedLoop" in n or "Cartesian" in n for n in n20)
    assert n20.count("HashAggregate") >= 4
    # both pair-grained lineitem exchanges must hash the SAME key order
    # (partkey, suppkey) so the pair join co-partitions at scale —
    # HashPartitioning(a,b) and HashPartitioning(b,a) are NOT compatible
    p20 = plan_of(QUERIES["sql_promo_part_suppliers"](spark, sf_dir))
    import re as _re
    pair_keys = _re.findall(
        r"hashpartitioning\((l_\w+)#\d+L?, (l_\w+)#\d+L?", p20
    )
    assert pair_keys and all(
        k == ("l_partkey", "l_suppkey") for k in pair_keys
    ), pair_keys
    # Q4 shape: the bare EXISTS decorrelates to ONE keyed (semi) join
    # plus the 5-group partial/final pair — nothing else
    n4 = nodes_of(QUERIES["sql_priority_pipeline"](spark, sf_dir))
    assert not any("NestedLoop" in n or "Cartesian" in n for n in n4)
    assert sum("Join" in n for n in n4) == 1
    assert n4.count("HashAggregate") == 2
    # Q19 shape: the disjunction-of-conjunctions predicate pushes a
    # per-table residual into EACH parquet scan — the quantity bounds
    # reach lineitem and the brand disjunct reaches part, so neither
    # side streams unfiltered rows into the join
    p19 = plan_of(QUERIES["sql_discounted_revenue"](spark, sf_dir))
    pushed = [l for l in p19.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), pushed
    assert any("p_brand" in l and "Or(" in l for l in pushed), pushed
    # Q15 shape (window form): ONE lineitem aggregate pair + ONE global
    # window — the scalar-subquery form would show a SECOND aggregate
    # chain under its own AdaptiveSparkPlan (Spark replans the view)
    n15 = nodes_of(QUERIES["sql_top_supplier"](spark, sf_dir))
    assert n15.count("HashAggregate") == 2
    assert n15.count("Window") == 1
    assert n15.count("AdaptiveSparkPlan") == 1  # no subquery replan
    # Q6 shape: the pure pushdown query — ALL THREE range predicates
    # reach the parquet reader, the projection prunes to the 4
    # filtered/aggregated columns, and the whole plan is one scan + one
    # partial/final pair (the query is I/O-bound by construction)
    df6 = QUERIES["sql_forecast_revenue"](spark, sf_dir)
    n6 = nodes_of(df6)
    assert not any("Join" in n for n in n6)
    assert n6.count("HashAggregate") == 2 and n6.count("Exchange") == 1
    p6 = plan_of(df6)
    pushed6 = [l for l in p6.splitlines() if "PushedFilters" in l][0]
    for pred in ("l_shipdate", "GreaterThanOrEqual(l_discou",
                 "LessThan(l_quantity"):
        assert pred in pushed6, pushed6
    rs6 = [l for l in p6.splitlines() if "ReadSchema" in l][0]
    assert rs6.count(",") == 3, rs6  # exactly 4 columns
    # Q10 shape: the date window pushes into the orders scan and the
    # return flag into the lineitem scan BEFORE the join; the top-20 is
    # TakeOrderedAndProject, never a global Sort of the aggregate output
    df10 = QUERIES["sql_returned_items"](spark, sf_dir)
    n10 = nodes_of(df10)
    assert "TakeOrderedAndProject" in n10 and "Sort" not in n10
    assert not any("NestedLoop" in n or "Cartesian" in n for n in n10)
    p10 = plan_of(df10)
    pushed10 = [l for l in p10.splitlines() if "PushedFilters" in l]
    assert any("GreaterThanOrEqual(o_orderdate" in l for l in pushed10)
    assert any("EqualTo(l_returnflag,R)" in l for l in pushed10)
    # Q9 shape: the LIKE filter pushes into the part scan as a
    # StringContains and the pruned part set BROADCASTS — the fact table
    # never shuffles for the part join; supplier/nation broadcast too
    df9 = QUERIES["sql_product_profit"](spark, sf_dir)
    n9 = nodes_of(df9)
    assert n9.count("BroadcastHashJoin") >= 3
    assert not any("NestedLoop" in n or "Cartesian" in n for n in n9)
    p9 = plan_of(df9)
    assert "StringContains(p_name,gear)" in p9, p9


def test_rollup_single_scan_single_expand(spark, sf_dir):
    # both time resolutions come from ONE scan + ONE Expand — adding
    # resolutions must not add scans
    n = nodes_of(QUERIES["rollup_time_hypertable"](spark, sf_dir))
    assert n.count("Scan") == 1
    assert n.count("Expand") == 1


def test_pipeline_fuses_narrow_stages(spark, sf_dir):
    # gate + scrub + fingerprint fuse over a single corpus scan; the only
    # exchanges are the fingerprint partition and the per-language agg
    n = nodes_of(QUERIES["pipeline_corpus_clean"](spark, sf_dir))
    assert n.count("Scan") == 1
    assert n.count("Exchange") == 2


def test_frame_sample_is_narrow(spark, sf_dir):
    # sampling must not shuffle: explode over the scan, zero exchanges
    n = nodes_of(QUERIES["multimodal_frame_sample"](spark, sf_dir))
    assert "Exchange" not in n
    assert "Generate" in n  # the explode


def test_minhash_bands_no_key_exchange(spark, sf_dir):
    """Gram sets and signatures must be NARROW: the only exchange allowed
    before the band posting lists is the round-robin parallelism bootstrap
    (scan_parallel) — never a key-hash exchange over the gram stream."""
    from erlang_mapreduce_spark.operators.dedup import (
        _doc_gram_sets_md5,
        minhash_bands,
    )
    from erlang_mapreduce_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    p = plan_of(minhash_bands(_doc_gram_sets_md5(docs)))
    assert "Exchange hashpartitioning" not in p, p
    assert "ArrowEvalPython" in p  # the numpy signature stage


def test_dedup_minhash_signs_once(spark, sf_dir):
    """dedup_minhash's executed plan evaluates the signature UDF once:
    candidates come from the band posting lists of one signature pass,
    never from a band self-join that signs each side separately."""
    p = final_plan_of(QUERIES["dedup_minhash"](spark, sf_dir))
    assert count_nodes(p, "ArrowEvalPython") == 1, p


def test_tfidf_scalar_broadcast_not_repartition(spark, sf_dir):
    """The corpus-size scalar must ride a broadcast nested-loop join (the
    one-row count legitimately gathers to a single partition — one long
    per upstream partition — but the corpus tables must not); term and
    document frequency aggs must run as partial/final pairs, and the
    top-5-per-doc rank filter must push into WindowGroupLimit so each
    task keeps 5 rows per doc instead of ranking everything."""
    p = plan_of(QUERIES["text_tfidf"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("HashAggregate") >= 4  # 2 aggs x partial/final
    assert "WindowGroupLimit" in p


def test_cdc_latest_aggregates_not_windows(spark, sf_dir):
    """Latest-per-key must be a partial/final aggregate pair (one row per
    key per map partition crosses the shuffle), NOT a row_number window
    that shuffles and sorts every history row."""
    p = plan_of(QUERIES["cdc_latest_by_key"](spark, sf_dir))
    assert count_nodes(p, "Window") == 0
    assert count_nodes(p, "Exchange") == 1
    # struct max compiles to SortAggregate; the partial/final pair is what matters
    assert count_nodes(p, "SortAggregate") + count_nodes(p, "HashAggregate") == 2


def test_hist_numeric_prunes_to_one_column(spark, sf_dir):
    """Histogram binning must read exactly the binned column and combine
    map-side: shuffle is O(bins × partitions), independent of table size."""
    p = plan_of(QUERIES["hist_numeric"](spark, sf_dir))
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema and read_schema.count(",") == 0
    assert count_nodes(p, "HashAggregate") == 2
    assert count_nodes(p, "Exchange") == 1


def test_text_normalize_is_narrow(spark, sf_dir):
    """Normalization is a pure per-row projection: no shuffle, no Python."""
    p = plan_of(QUERIES["text_normalize"](spark, sf_dir))
    assert count_nodes(p, "Exchange") == 0
    assert "Python" not in p


def test_bpe_encodes_vocabulary_not_corpus(spark, sf_dir):
    """text_bpe_tokenize's scale contract: every documents scan prunes to
    exactly the columns its branch reads (text for the vocabulary pass,
    doc_id+text for the fan-out pass, doc_id for the wordless rejoin); the
    single Python stage (ArrowEvalPython) sits ABOVE the distinct-word
    aggregate — the merge loop runs per vocabulary entry, never per word
    occurrence — and the vocab map reaches the fan-out join broadcast."""
    p = plan_of(QUERIES["text_bpe_tokenize"](spark, sf_dir))
    schemas = sorted(
        l.split("struct<")[1].rstrip(">").strip()
        for l in p.splitlines() if "ReadSchema" in l
    )
    assert schemas == [
        "doc_id:bigint", "doc_id:bigint,text:string", "text:string"
    ], schemas
    assert count_nodes(p, "ArrowEvalPython") == 1
    # the Arrow encode consumes the DISTINCT output: its direct child
    # (node id - 1 in the formatted dump) is the final HashAggregate of
    # the distinct's partial/final pair
    import re

    n = int(re.search(r"ArrowEvalPython \((\d+)\)", p).group(1))
    assert f"HashAggregate ({n - 1})" in p, p
    assert "BroadcastExchange" in p


def test_bpe_vocab_join_smj_fallback(spark, sf_dir):
    """word_ids promises AQE broadcasts the vocab map while small and
    falls back to a shuffle join when the vocabulary outgrows the
    threshold at 100 TB — pin the UNTESTED fallback branch: with
    broadcasting disabled the fan-out join plans as SortMergeJoin (no
    BroadcastHashJoin anywhere) and the output stays row-identical to
    the broadcast branch."""
    q = QUERIES["text_bpe_tokenize_bytes"]
    want = {r["doc_id"]: (r["n_tokens"], r["id_checksum"]) for r in
            q(spark, sf_dir).collect()}
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        for k in saved:
            conf.set(k, "-1")
        df = q(spark, sf_dir)
        p = final_plan_of(df)  # runtime plan — AQE must NOT re-broadcast
        assert count_nodes(p, "SortMergeJoin") >= 1, p
        assert "BroadcastHashJoin" not in p, p
        got = {r["doc_id"]: (r["n_tokens"], r["id_checksum"]) for r in
               df.collect()}
    finally:
        for k, v in saved.items():
            conf.set(k, v) if v is not None else conf.unset(k)
    assert got == want


def test_bpe_training_sample_is_take_ordered(spark, sf_dir):
    """bpe_train's only driver-side materialization is the capped
    training sample; its plan must be TakeOrderedAndProject (per-partition
    top-cap merged once) — a global Sort before the limit would
    materialize the full vocabulary ordering at 100 TB."""
    from erlang_mapreduce_spark.operators.bpe import (
        BPE_TRAIN_CAP,
        doc_word_rows,
    )
    from erlang_mapreduce_spark.tables import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    sample = (
        doc_word_rows(docs)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(BPE_TRAIN_CAP)
    )
    p = plan_of(sample)
    assert count_nodes(p, "TakeOrderedAndProject") == 1
    assert "Sort (" not in p, p


def test_agg_mode_two_hash_aggs_no_window(spark, sf_dir):
    """Mode = count-per-pair agg then max(struct) agg — never a sorted
    window over the full table."""
    p = plan_of(QUERIES["agg_mode"](spark, sf_dir))
    assert count_nodes(p, "Window") == 0
    assert count_nodes(p, "Exchange") == 2


def test_dedup_substring_posting_list_shape(spark, sf_dir):
    """The anchor pipeline must stay posting-list shaped: one gram-keyed
    occurrence count + ONE partial/final posting-list collect (the
    ObjectHashAggregate pair), exactly one (pair, diagonal) run window,
    and a bounded exchange budget — a regression to a gram self-join or
    a second window cannot land silently.

    The span table is `ckpt.shared_checkpoint`ed across dedup_substring
    and dedup_substring_scrub, so the pin targets the span BUILDER's lazy
    plan, where the shape lives, and asserts the op plan consumes the
    checkpoint (no private rebuild)."""
    from erlang_mapreduce_spark.operators.dedup import (
        _build_rep_substring_spans,
    )

    p = plan_of(_build_rep_substring_spans(spark, sf_dir))
    assert count_nodes(p, "Window") == 1
    assert count_nodes(p, "ObjectHashAggregate") == 2, p
    assert count_nodes(p, "Exchange") <= 7, p
    po = plan_of(QUERIES["dedup_substring"](spark, sf_dir))
    assert count_nodes(po, "ObjectHashAggregate") == 0, (
        "op plan rebuilt the posting-list pipeline instead of reading "
        "the shared spans checkpoint"
    )


def test_triangle_count_stays_collapsed(spark, sf_dir):
    """Blow-up refactor pin: the triangle plan computes from the
    materialized rep-level edge list — no window pass, and exactly ONE
    Generate (the 3-corner weight explode). A return to member-expanded
    edges would re-introduce the pair-expansion explodes (the
    _rare_pair_stream Generates) into this plan."""
    p = plan_of(QUERIES["graph_triangle_count"](spark, sf_dir))
    assert count_nodes(p, "Window") == 0
    assert count_nodes(p, "Generate") == 1, p


# Ops whose query function executes work eagerly: shared with
# tools/explain_audit.py via the registry so the two lists cannot drift.
from erlang_mapreduce_spark.registry import EAGER_OPS as _EAGER  # noqa: E402

# Non-equi joins where a broadcast nested-loop join IS the documented
# physical strategy (small broadcast side bounds the quadratic term), plus
# text_tfidf / text_unigram_logprob, whose BNLJ is a single-row scalar
# broadcast (corpus N / total token count).
_BNLJ_BY_DESIGN = {
    "join_theta_range",
    "join_asof",
    "dedup_embedding",
    "sim_search",
    "sim_search_ann",
    "text_tfidf",
    "text_unigram_logprob",
    "text_lm_perplexity",  # 1-row broadcast vocabulary size, same shape
    # two 1-row scalar broadcasts: corpus feature totals into the
    # 1024-bucket log-ratio model, and the Gumbel-top-k threshold row
    "sample_dsir",
    "analytics_pareto_topk",  # 1-row broadcast total × K-row report
    "agg_quantile_bins",  # 1-row broadcast boundaries × narrow projection
    "analytics_rfm",  # 1-row broadcast quartile boundaries, same shape
    # ADC scores EVERY code row against the broadcast query LUTs by
    # design (PQ = compressed full scan, not a pruning index); the
    # scanned rows are 4-byte codes, not vectors
    "sim_search_pq",
}


def test_no_cartesian_products_or_row_udfs_anywhere(spark, sf_dir):
    """Sweep EVERY lazily-planned operator: no plan may contain a
    CartesianProduct (unbounded all-pairs — banned at any scale), a
    BroadcastNestedLoopJoin outside the non-equi allowlist, or a
    BatchEvalPython (row-at-a-time Python UDF — only Arrow-batched pandas
    evaluation is sanctioned)."""
    offenders: list[str] = []
    for name in sorted(set(QUERIES) - _EAGER):
        p = plan_of(QUERIES[name](spark, sf_dir))
        if "CartesianProduct" in p:
            offenders.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in p:
            offenders.append(f"{name}: BatchEvalPython (row-at-a-time UDF)")
        if "BroadcastNestedLoopJoin" in p and name not in _BNLJ_BY_DESIGN:
            offenders.append(f"{name}: BroadcastNestedLoopJoin")
    assert not offenders, offenders


def test_html_extract_is_narrow(spark, sf_dir):
    """The web front door must be the cheapest possible shape: one pruned
    parquet scan (doc_id + text only) and a single tag-strip/segment/
    gate/decode projection — zero exchanges, zero Python, no explode
    (the segment array lives and dies inside the row)."""
    p = plan_of(QUERIES["text_html_extract"](spark, sf_dir))
    assert count_nodes(p, "Exchange") == 0, p
    assert "EvalPython" not in p
    assert count_nodes(p, "Generate") == 0  # no explode
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_pretrain_capstone_stage_budgets(spark, sf_dir):
    """Per-stage exchange budgets for pipeline_pretrain_e2e, pinned at
    the materialization boundaries the op actually executes (the lazy
    end-to-end tree re-expands shared inputs, so its node count is not
    the executed cost): gate+scrub fuse narrowly over the scan; the
    gopher rule battery AND the classifier are pure narrow filters
    (ZERO exchanges — the classifier is one Arrow-batched scorer with
    the weight table memoized worker-side, never joined); the global
    line dedup spends <= 4
    (line-key agg + join-back + doc reassembly) with NO window; exact
    dedup is ONE keyed shuffle; the minhash stage spends at most 3 (band
    posting-list collect + drop-set distinct + the anti join back to the
    corpus; verify hydration broadcasts at this scale) and signs each doc
    once (one ArrowEvalPython); substring scrub
    5 with exactly one run window (the dedup_substring posting-list
    shape); decontaminate 2 (train-gram explode agg + the anti join —
    the eval side rides a broadcast). A regression anywhere (a gram
    self-join, a second window, a lost broadcast) lands here."""
    from pyspark.sql import functions as F

    from erlang_mapreduce_spark.operators import pretrain as pt
    from erlang_mapreduce_spark.operators.dedup import _doc_gram_sets_md5
    from erlang_mapreduce_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    gated = pt.gate_and_scrub(docs)
    pg = plan_of(gated)
    assert count_nodes(pg, "Exchange") == 0, pg
    assert count_nodes(pg, "Scan parquet") == 1

    g4 = pt.gopher_filter(gated)
    p4 = plan_of(g4)
    assert count_nodes(p4, "Exchange") == 0, p4
    assert "EvalPython" not in p4

    g5 = pt.classifier_filter(g4)
    p5 = plan_of(g5)
    assert count_nodes(p5, "Exchange") == 0, p5
    # the classifier is the Arrow-vectorized scorer — exactly ONE
    # batched boundary crossing, never the row-at-a-time path
    assert "BatchEvalPython" not in p5, p5
    assert count_nodes(p5, "ArrowEvalPython") == 1, p5
    assert "Join" not in p5  # the weight table is folded, not joined

    g5c = g5.localCheckpoint()
    g6 = pt.lines_dedup(g5c)
    p6l = plan_of(g6)
    assert count_nodes(p6l, "Exchange") <= 4, p6l
    assert count_nodes(p6l, "Window") == 0, p6l

    g6c = g6.localCheckpoint()
    dd = pt.exact_dedup(g6c)
    assert count_nodes(plan_of(dd), "Exchange") == 1

    ddc = dd.localCheckpoint()
    sets = _doc_gram_sets_md5(
        ddc.select("doc_id", F.col("scrubbed").alias("text"))
    ).localCheckpoint()
    mh = pt.minhash_survivors(ddc, sets)
    pm = plan_of(mh)
    assert count_nodes(pm, "Exchange") <= 3, pm
    assert count_nodes(pm, "ArrowEvalPython") == 1, pm

    mhc = mh.localCheckpoint()
    docs6 = pt.substring_clean(mhc)
    p6 = plan_of(docs6)
    assert count_nodes(p6, "Exchange") <= 5, p6
    assert count_nodes(p6, "Window") == 1

    d6c = docs6.localCheckpoint()
    docs7 = pt.decontaminate(docs, d6c)
    p7 = plan_of(docs7)
    assert count_nodes(p7, "Exchange") <= 2, p7
    assert "BroadcastHashJoin" in p7  # eval grams broadcast, never shuffled


def test_capstone_quality_flags_single_arrow_scorer(spark, sf_dir):
    """The capstone's fused stage-4+5 flag pass (`pretrain.quality_flags`)
    scores the classifier through ONE Arrow boundary crossing — never the
    row-at-a-time path, never a second scorer evaluation — and stays
    narrow: no join, no exchange."""
    from erlang_mapreduce_spark.operators import pretrain as pt
    from erlang_mapreduce_spark.tables import load

    gated = pt.gate_and_scrub(load(spark, sf_dir, "documents"))
    p = plan_of(pt.quality_flags(gated))
    assert count_nodes(p, "ArrowEvalPython") == 1, p
    assert "BatchEvalPython" not in p, p
    assert "Join" not in p, p
    assert count_nodes(p, "Exchange") == 0, p


def test_semantic_collapse_key_is_digest_not_vector(spark, sf_dir):
    """The verbatim-collapse window in dedup_semantic must exchange on the
    md5 digest of the embedding (16 bytes/row), never on the raw
    array<double> — at 100 TB the key bytes dominate that shuffle (r14
    VERDICT task 8). The digest lands in a projected `_w0` child, so no
    `hashpartitioning(v#` appears anywhere in the physical plan."""
    p = (
        QUERIES["dedup_semantic"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert not re.search(r"hashpartitioning\(v#", p), p
    assert "md5" in plan_of(QUERIES["dedup_semantic"](spark, sf_dir))


def test_url_dedup_single_keyed_exchange(spark, sf_dir):
    """curate_url_dedup must be ONE narrow projection (synthesize → parse
    → canonicalize → blocklist flag) plus ONE canonical-URL-keyed window
    exchange for the keep-first min — no join, no Python, no global sort:
    the cheapest possible crawl-dedup shape (r15 VERDICT task 3)."""
    df = QUERIES["curate_url_dedup"](spark, sf_dir)
    p = plan_of(df)
    assert count_nodes(p, "Scan parquet") == 1, p
    assert "EvalPython" not in p
    assert "Join" not in p, p
    assert p.count("hashpartitioning(") == 1, p


def test_domain_filter_single_scan_single_agg(spark, sf_dir):
    """curate_domain_filter must carry all three per-doc signals (host,
    rule keep, classifier logit) on ONE corpus scan into ONE host-keyed
    hash agg — no joins, no window; the classifier logit is the ONE
    Arrow-vectorized narrow scorer (r17 — never the row-at-a-time
    BatchEvalPython path, and never more than one boundary crossing)."""
    df = QUERIES["curate_domain_filter"](spark, sf_dir)
    p = plan_of(df)
    assert count_nodes(p, "Scan parquet") == 1, p
    assert "BatchEvalPython" not in p, p
    assert count_nodes(p, "ArrowEvalPython") == 1, p
    assert "Join" not in p, p
    assert count_nodes(p, "Window") == 0
    assert p.count("hashpartitioning(") == 1, p


def test_quality_classifier_narrow_zero_exchange(spark, sf_dir):
    """quality_classifier_score must be ONE corpus scan carrying the
    Arrow-vectorized narrow scorer — zero joins, zero keyed exchanges,
    zero windows, one ArrowEvalPython, no row-at-a-time Python (r17
    rewrite of the explode → 2 hash aggs → broadcast-join plan; guide
    §4.2, r16 VERDICT task 3)."""
    df = QUERIES["quality_classifier_score"](spark, sf_dir)
    p = plan_of(df)
    assert count_nodes(p, "Scan parquet") == 1, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p, p
    assert count_nodes(p, "ArrowEvalPython") == 1, p
    assert count_nodes(p, "Window") == 0
    assert p.count("hashpartitioning(") == 0, p
