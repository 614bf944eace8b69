"""Quality checks for the sketch-based (rows-only) near-dup / ANN operators:
the driver can only count their rows, so these tests pin their semantics
against exact ground truth computed in-engine."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from erlang_mapreduce_spark.operators.dedup import (
    HAMMING_T,
    JACCARD_T,
    dedup_minhash,
    dedup_ngram_jaccard,
    dedup_simhash,
    simhash,
)
from erlang_mapreduce_spark.operators.similarity import (
    TOP_K,
    sim_search,
    sim_search_ann,
    sim_search_ivf,
)
from erlang_mapreduce_spark.tables import load


def test_minhash_no_false_positives_and_recall(spark, sf_dir):
    """Minhash candidates are verified with exact Jaccard → output must be a
    SUBSET of the exact result; recall must be high (8x8 bands at j>=0.5:
    P(miss) = (1-j^8)^8 <= 0.72 per pair — so require >= 25% overall and
    exact containment)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    mh = {(r.doc_a, r.doc_b) for r in dedup_minhash(spark, sf_dir).collect()}
    assert mh <= exact, f"false positives: {mh - exact}"
    if exact:
        assert len(mh) / len(exact) >= 0.25


def test_minhash_self_duplicates_found(spark, sf_dir):
    """A corpus unioned with itself must pair every doc with its clone
    (jaccard 1.0 survives every band) — recall at j=1 is exactly 1."""
    docs = load(spark, sf_dir, "documents").limit(50)
    clones = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionAll(clones)
    both.cache()
    import erlang_mapreduce_spark.operators.dedup as dd

    bands = dd.minhash_bands(dd._doc_gram_sets_md5(both))
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = {(r.doc_a, r.doc_b) for r in cands.collect()}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    missing = [i for i in ids if (i, i + 1_000_000) not in pairs]
    both.unpersist()
    assert not missing, f"clones not found for {missing}"


def test_simhash_hamming_is_exact(spark, sf_dir):
    """Banded candidate generation is complete for hamming <= 3 (pigeonhole
    over 4 bands); verify output pairs against brute-force hamming."""
    sh = {r.doc_id: r.simhash for r in
          simhash(load(spark, sf_dir, "documents")).collect()}
    mask = (1 << 64) - 1  # Spark longs arrive signed; hamming needs unsigned
    brute = {
        (a, b): bin((sh[a] ^ sh[b]) & mask).count("1")
        for a in sh for b in sh if a < b
        if bin((sh[a] ^ sh[b]) & mask).count("1") <= HAMMING_T
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash(spark, sf_dir).collect()
    }
    assert got == brute


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF probes 4 of 16 cells (25% of the corpus); a query's nearest
    neighbors concentrate in its own cell, so recall must beat the
    scanned fraction. Same monotonicity contract as the LSH test."""
    truth = sim_search(spark, sf_dir).collect()
    approx = sim_search_ivf(spark, sf_dir).collect()
    t = {(r.query_id, r.neighbor_id) for r in truth}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(a & t) / len(t) >= 0.3
    per_q: dict[int, list] = {}
    for r in sorted(approx, key=lambda r: (r.query_id, r.rank)):
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i].cos >= rows[i + 1].cos for i in range(len(rows) - 1)
        )
        assert len(rows) <= TOP_K


def test_pandas_cosine_matches_fold(spark, sf_dir):
    """The Arrow/numpy cosine used for bulk scoring must agree with the
    sequential JVM fold (DuckDB-parity reference) after round-to-6 — the
    invariant that lets sim_search use the vectorized path while staying
    oracle-checkable."""
    import erlang_mapreduce_spark.operators.similarity as sim

    e = load(spark, sf_dir, "embeddings").limit(200).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    cos_pd = sim._cos_pandas()
    diff = pairs.select(
        (
            F.round(sim.cosine_col(F.col("qv"), F.col("v")), 6)
            != F.round(cos_pd(F.col("qv"), F.col("v")), 6)
        ).alias("ne")
    ).filter("ne").count()
    assert diff == 0


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """LSH-bucketed ANN must recover a solid fraction of the true top-k
    (4 bands x 4 bits over random data: each band matches 1/16 of corpus,
    union ~23%; for NEAR vectors the match rate is much higher — require
    recall >= 0.3 overall and exact agreement on returned (cos, rank)
    monotonicity)."""
    truth = sim_search(spark, sf_dir).collect()
    approx = sim_search_ann(spark, sf_dir).collect()
    t = {(r.query_id, r.neighbor_id) for r in truth}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(a & t) / len(t) >= 0.3
    # per-query ranks are 1..k' with strictly descending cos
    per_q: dict[int, list] = {}
    for r in sorted(approx, key=lambda r: (r.query_id, r.rank)):
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i].cos >= rows[i + 1].cos for i in range(len(rows) - 1)
        )
        assert len(rows) <= TOP_K


def test_ivf_training_collect_is_bounded(spark, sf_dir):
    """The IVF k-means sample plan must contain a hard LIMIT — the absolute
    cap is what keeps the driver-side collect safe at any corpus size (a
    bare fraction sample would ship 25% of a 100 TB corpus)."""
    from erlang_mapreduce_spark.operators.similarity import (
        IVF_TRAIN_CAP,
        _train_sample,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    plan = _train_sample(e)._jdf.queryExecution().optimizedPlan().toString()
    assert f"GlobalLimit {IVF_TRAIN_CAP}" in plan, plan


def test_ivf_centroids_clamp_to_tiny_corpus(spark, sf_dir):
    """Fewer vectors than IVF_K must not crash training (round-1 advice:
    IndexError at C[k] on thin hash samples); centroid count clamps to the
    corpus size, and an empty corpus degenerates gracefully."""
    from erlang_mapreduce_spark.operators.similarity import (
        IVF_K,
        _train_centroids,
    )

    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .limit(5)
    )
    cents = _train_centroids(e)
    assert 1 <= len(cents) <= 5 < IVF_K
    empty = e.filter(F.lit(False))
    assert _train_centroids(empty).size == 0


def test_gram_df_cap_drops_stop_grams(spark, sf_dir):
    """A gram above the DF cap must generate NO candidate pairs, while
    rare-gram pairs are unaffected. Synthetic corpus: every doc shares the
    stop-gram 'x y z'; only docs 1/2 share a rare gram (and are true
    near-dups). Underneath, `_posting_pairs` must emit exactly the i<j
    pairs of each sorted posting list (a multiset, so repeated items
    count), checked against brute-force combinations over seeded random
    buckets for a plain-id item and a (doc_id, pos) struct item, each
    uncapped and capped."""
    import itertools
    import random
    from collections import Counter, defaultdict

    from erlang_mapreduce_spark.operators.dedup import (
        _doc_gram_sets,
        _posting_pairs,
        _rare_pair_stream,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y z rare gram here alpha"),
            (2, "x y z rare gram here beta"),
            (3, "x y z completely different words one"),
            (4, "x y z utterly other tokens two"),
        ],
        "doc_id long, text string",
    )
    sets = _doc_gram_sets(docs)
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in _rare_pair_stream(sets, df_cap=100).distinct().collect()
    }
    # stop-gram 'x y z' (DF=4) links every pair when uncapped
    assert uncapped == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}
    capped = {
        (r.doc_a, r.doc_b)
        for r in _rare_pair_stream(sets, df_cap=3).distinct().collect()
    }
    # cap 3 kills the stop-gram; only the rare-gram pair survives
    assert capped == {(1, 2)}

    rng = random.Random(11)
    rows = [
        (rng.randrange(12), rng.randrange(40), rng.randrange(30))
        for _ in range(300)
    ]
    buckets = defaultdict(list)
    for k, d, p in rows:
        buckets[k].append((d, p))
    sizes = sorted(len(v) for v in buckets.values())
    cap = sizes[len(sizes) // 2]
    assert sizes[0] < cap < sizes[-1]  # the cap drops some buckets
    df = spark.createDataFrame(rows, "k int, doc_id long, pos int")

    def brute(key, cap):
        out = Counter()
        for vs in buckets.values():
            if cap is None or 2 <= len(vs) <= cap:
                out.update(itertools.combinations(sorted(map(key, vs)), 2))
        return out

    cases = [
        ("doc_id", lambda v: v[0], lambda x: x),
        (F.struct("doc_id", "pos"), lambda v: v, tuple),
    ]
    for item, key, cell in cases:
        for c in (None, cap):
            got = Counter(
                (cell(r.a), cell(r.b))
                for r in _posting_pairs(df, ["k"], item, c).collect()
            )
            assert got == brute(key, c), (item, c)


def test_cc_large_small_star_beats_diameter(spark, sf_dir):
    """A 64-node chain has diameter 63: naive min-label propagation needs
    ~63 rounds, large-star/small-star must finish in O(log² n) — assert
    convergence well under the diameter AND exact labels (everything
    reaches root 0). local_cap=0 forces the distributed path (the default
    adaptive cap would finish this toy graph locally in round 0)."""
    from erlang_mapreduce_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    labels, rounds = connected_components(chain, local_cap=0)
    got = {(r.node, r.root) for r in labels.collect()}
    assert got == {(i, 0) for i in range(64)}
    assert rounds <= 12, f"took {rounds} rounds on a 63-diameter chain"


def test_cc_local_finish_matches_distributed(spark, sf_dir):
    """The adaptive local finish (measured edge count <= CC_LOCAL_EDGES →
    bounded collect + union-find) must label exactly like the distributed
    star fixed point, and must report the rounds it SKIPPED as 0 — the
    default path for any sub-cap graph."""
    from erlang_mapreduce_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    labels, rounds = connected_components(chain)  # default adaptive cap
    got = {(r.node, r.root) for r in labels.collect()}
    assert got == {(i, 0) for i in range(64)}
    assert rounds == 0  # finished locally before any distributed round


def test_cc_two_components_and_singletons(spark, sf_dir):
    from erlang_mapreduce_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (7, 7)], "doc_a long, doc_b long"
    )
    # both paths must agree on semantics: self-loop dropped, singletons
    # absent by contract
    for cap in (0, None):
        labels, _ = (
            connected_components(pairs)
            if cap is None
            else connected_components(pairs, local_cap=cap)
        )
        got = {(r.node, r.root) for r in labels.collect()}
        assert got == {(3, 3), (5, 3), (9, 3), (20, 20), (21, 20)}, cap


def test_cc_matches_union_find_on_random_graphs(spark, sf_dir):
    """connected_components vs a plain union-find oracle on seeded random
    graphs of varying density (including self-loops and duplicate edges) —
    the distributed star rewrites must produce exactly the component-min
    labeling for every node that touches an edge."""
    import random

    from erlang_mapreduce_spark.operators.dedup import connected_components

    for seed, n, m in ((1, 30, 15), (2, 50, 60), (3, 80, 40), (4, 12, 66)):
        rng = random.Random(seed)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for p in pairs if p[0] != p[1] for x in p}
        truth = {x: find(x) for x in touched}

        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        # both paths: the distributed star rewrites (local_cap=0) and the
        # adaptive local finish (default cap) must each reproduce the
        # union-find truth exactly
        for cap in (0, None):
            labels, _ = (
                connected_components(df)
                if cap is None
                else connected_components(df, local_cap=cap)
            )
            got = {r.node: r.root for r in labels.collect()}
            assert got == truth, f"seed {seed} cap {cap}"


def test_cc_durable_checkpoint_mode(spark, sf_dir, tmp_path, monkeypatch):
    """$SPARK_GRAFT_CHECKPOINT_DIR set → durable snapshots per round (the
    100 TB posture: executor loss replays one round, not the whole job).
    Same labels as localCheckpoint mode, and checkpoint files actually
    land in the given directory."""
    from erlang_mapreduce_spark.operators.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "cc_ckpt"))
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    # local_cap=0: this test exercises the durable per-round checkpoint
    # machinery, which the adaptive local finish would skip entirely
    labels, rounds = connected_components(chain, local_cap=0)
    got = {(r.node, r.root) for r in labels.collect()}
    assert got == {(i, 0) for i in range(21)}
    ckpt_files = [p for p in (tmp_path / "cc_ckpt").rglob("*") if p.is_file()]
    assert ckpt_files, "no durable checkpoint files written"


def test_gram_set_durable_mode_same_pairs(spark, sf_dir, tmp_path, monkeypatch):
    """$SPARK_GRAFT_CHECKPOINT_DIR set → ckpt.shared_checkpoint snapshots
    the shared member/rep-doc/gram-set tables to parquet under
    <ckpt_dir>/<applicationId>/<name>-<time_ns> (the durable 100 TB
    posture, mirroring connected_components' two modes) and the op's
    answer is unchanged; unset → the localCheckpoint shared LRU.

    The durable branch is PROVEN taken on a fresh key: the local-mode call
    runs first, but the shared LRU keys on the durable dir (None locally)
    and this test's tmp_path is brand new, so the snapshot dirs below can
    only exist if the env-var branch actually built and wrote them."""
    default = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    durable = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert durable == default
    app_dir = tmp_path / spark.sparkContext.applicationId
    # each snapshot is a fresh "<name>-<time_ns>" dir: the shared LRU key,
    # not the path, discriminates corpora and fingerprint changes
    snaps = sorted(p.name.rsplit("-", 1)[0] for p in app_dir.iterdir())
    assert snaps == [
        "gram_sets_xx",
        "rep_jaccard_pairs",  # shared since round 13
        "verbatim_members",
        "verbatim_rep_docs",
    ], f"durable snapshots missing under {app_dir}: {snaps}"


def test_cluster_cc_durable_mode_end_to_end(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """dedup_cluster_cc end-to-end with $SPARK_GRAFT_CHECKPOINT_DIR set:
    the per-round persist→checkpoint→unpersist path inside
    connected_components AND the durable shared/materialized gram tables
    all run in durable mode, the cluster labels are identical to
    local-checkpoint mode, and checkpoint files actually land under the
    given directory (both the RDD checkpoint tree and the parquet
    snapshots)."""
    from erlang_mapreduce_spark.operators.dedup import dedup_cluster_cc

    local_labels = {
        (r.doc_id, r.cluster_id)
        for r in dedup_cluster_cc(spark, sf_dir).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    durable_labels = {
        (r.doc_id, r.cluster_id)
        for r in dedup_cluster_cc(spark, sf_dir).collect()
    }
    assert durable_labels == local_labels
    written = [p for p in tmp_path.rglob("*") if p.is_file()]
    assert written, "durable mode wrote nothing under the checkpoint dir"


def test_transient_storage_released_between_invocations(spark, sf_dir):
    """The BENCH_r03 variance fix: after a pooled op's result is consumed
    and the next invocation (or bench's between-pass hook) drains the pool,
    NO persisted/checkpointed RDD blocks from the op remain in the JVM —
    repeated same-session invocations start from identical storage state."""
    from erlang_mapreduce_spark.ckpt import release_transient_storage
    from erlang_mapreduce_spark.operators.dedup import dedup_cluster_cc

    jsc = spark.sparkContext._jsc.sc()
    release_transient_storage()
    before = jsc.getPersistentRDDs().size()
    dedup_cluster_cc(spark, sf_dir).count()  # jaccard persists + CC ckpts
    assert jsc.getPersistentRDDs().size() > before  # blocks exist while live
    release_transient_storage()
    assert jsc.getPersistentRDDs().size() <= before


def test_containment_consistent_with_jaccard(spark, sf_dir):
    """Cross-op algebra: for any unordered pair, jaccard = ix/(sa+sb-ix)
    and containment_a = ix/sa ≥ jaccard — so every jaccard-pair must
    appear in the containment output in at least one orientation with a
    value ≥ its jaccard (thresholds 0.5 vs 0.8 permitting: a pair with
    jaccard ≥ 0.8 certainly clears containment in both orientations at
    ≥ 0.8). Also: orientation sanity — (a,b) and (b,a) both present only
    when both directions clear the threshold."""
    from erlang_mapreduce_spark.operators.dedup import (
        CONTAIN_T,
        dedup_containment,
        dedup_ngram_jaccard,
    )

    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    con = {
        (r.doc_contained, r.doc_container): r.containment
        for r in dedup_containment(spark, sf_dir).collect()
    }
    for (a, b), j in jac.items():
        if j >= CONTAIN_T:
            assert (a, b) in con and (b, a) in con, (a, b, j)
        best = max(con.get((a, b), 0.0), con.get((b, a), 0.0))
        if best:
            assert best >= j - 1e-9, (a, b, j, best)
    for (c, h), v in con.items():
        assert CONTAIN_T - 1e-9 <= v <= 1.0 + 1e-9, (c, h, v)


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """PQ-ADC keeps a 32-candidate shortlist from 4-bit codes; exact
    re-rank can only reorder survivors, so (1) recall vs brute force
    must clear the same 0.3 floor as the other ANN paths, (2) every
    returned (cos) must EQUAL the brute-force cos for that pair (the
    re-rank is exact), and (3) ranks are contiguous with monotone cos."""
    from erlang_mapreduce_spark.operators.similarity import sim_search_pq

    truth = sim_search(spark, sf_dir).collect()
    approx = sim_search_pq(spark, sf_dir).collect()
    t = {(r.query_id, r.neighbor_id) for r in truth}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(a & t) / len(t) >= 0.3
    tcos = {(r.query_id, r.neighbor_id): r.cos for r in truth}
    for r in approx:
        if (r.query_id, r.neighbor_id) in tcos:
            assert r.cos == tcos[(r.query_id, r.neighbor_id)], r
    per_q: dict[int, list] = {}
    for r in sorted(approx, key=lambda r: (r.query_id, r.rank)):
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i].cos >= rows[i + 1].cos for i in range(len(rows) - 1)
        )
        assert len(rows) <= TOP_K


def test_substring_known_overlaps(spark, tmp_path):
    """dedup_substring on a hand-built corpus with KNOWN overlaps: a
    20-token run shared at different offsets, a verbatim copy (whole-text
    overlap via the rep-collapse path), a 10-token run below the 16-token
    threshold (must be absent), and an unrelated doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from erlang_mapreduce_spark.operators.dedup import dedup_substring

    w = [f"w{i}" for i in range(40)]
    shared20 = w[10:30]
    docs = {
        1: " ".join(w),                                        # 40 tokens
        2: " ".join([f"x{i}" for i in range(10)] + shared20
                    + [f"y{i}" for i in range(10)]),           # 20-run w/ 1
        3: " ".join(w),                                        # verbatim 1
        4: " ".join(f"z{i}" for i in range(30)),               # unrelated
        5: " ".join([f"q{i}" for i in range(10)] + w[0:10]),   # 10-run w/ 1
    }
    tbl = pa.table(
        {
            "doc_id": pa.array(list(docs), type=pa.int64()),
            "text": pa.array(list(docs.values())),
            "lang": pa.array(["en"] * 5),
            "source": pa.array(["t"] * 5),
            "n_chars": pa.array([len(t) for t in docs.values()],
                                type=pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        (r.doc_a, r.doc_b): r.olap_tokens
        for r in dedup_substring(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): 20, (2, 3): 20, (1, 3): 40}


def test_substring_scrub_known_removals(spark, tmp_path):
    """dedup_substring_scrub keep-first semantics on the same hand-built
    corpus as test_substring_known_overlaps: doc 1 keeps everything (it is
    the earliest holder of every span), doc 2 loses the 20-token run it
    shares with doc 1, doc 3 (verbatim copy of 1) loses ALL 40 tokens,
    docs 4/5 are untouched (no span / below threshold)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from erlang_mapreduce_spark.operators.dedup import dedup_substring_scrub

    w = [f"w{i}" for i in range(40)]
    shared20 = w[10:30]
    docs = {
        1: " ".join(w),
        2: " ".join([f"x{i}" for i in range(10)] + shared20
                    + [f"y{i}" for i in range(10)]),
        3: " ".join(w),
        4: " ".join(f"z{i}" for i in range(30)),
        5: " ".join([f"q{i}" for i in range(10)] + w[0:10]),
    }
    tbl = pa.table(
        {
            "doc_id": pa.array(list(docs), type=pa.int64()),
            "text": pa.array(list(docs.values())),
            "lang": pa.array(["en"] * 5),
            "source": pa.array(["t"] * 5),
            "n_chars": pa.array([len(t) for t in docs.values()],
                                type=pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in dedup_substring_scrub(spark, str(tmp_path)).collect()
    }
    assert got[1] == (docs[1], 0)
    assert got[2] == (
        " ".join([f"x{i}" for i in range(10)] + [f"y{i}" for i in range(10)]),
        20,
    )
    assert got[3] == ("", 40)
    assert got[4] == (docs[4], 0)
    assert got[5] == (docs[5], 0)


def test_substring_occ_cap_inert_on_fixture(spark, sf_dir):
    """SUBSTR_OCC_CAP must be inert for the oracle: the hottest positioned
    anchor gram at rep level stays far below the cap, so dropping capped
    grams (Spark side only — the oracle is capless) cannot change fixture
    results. 10x headroom so fixture regeneration can't silently cross."""
    from erlang_mapreduce_spark.operators.dedup import (
        SUBSTR_K,
        SUBSTR_OCC_CAP,
        _verbatim_reps,
    )

    reps = _verbatim_reps(load(spark, sf_dir, "documents"))[1]
    toks = reps.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("ws")
    ).filter(F.size("ws") >= SUBSTR_K)
    occ = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (SUBSTR_K - 1)),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("ws", i, SUBSTR_K), " ")
                    ),
                )
            ).alias("gh")
        )
        .groupBy("gh")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert occ * 10 <= SUBSTR_OCC_CAP, occ


def test_dedup_semantic_recall_and_keep_rule(spark, sf_dir):
    """SemDeDup pins: (1) every flagged member has a same-cell witness pair
    with verified cosine ≥ SEM_COS_T whose keep-priority is higher —
    precision 1.0 by construction, cross-checked here against brute-force
    numpy cosines; (2) within-cell candidate recall vs brute-force all-pairs
    ≥ 0.2 at the fixture threshold (the synthetic embeddings have NO true
    near-dup structure — pairwise cos p99.9 ≈ 0.38, max ≈ 0.5 — so loose
    τ=0.4 pairs straddle cells; at SemDeDup's production regime, cos ≥ 0.95,
    near-identical vectors share a cell by construction); (3) the keep rule
    leaves the least-centroid-similar member of every flagged relation
    unflagged — no cell prunes ALL its members."""
    import numpy as np

    from erlang_mapreduce_spark.operators.dedup import (
        SEM_COS_T,
        dedup_semantic,
    )

    out = dedup_semantic(spark, sf_dir)
    rows = sorted(out.collect(), key=lambda r: r.vec_id)
    emb = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    ids = [r.vec_id for r in rows]
    assert ids == sorted(emb), "one output row per embedding"
    X = np.stack([emb[i] for i in ids])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = np.round(Xn @ Xn.T, 6)
    cell = {r.vec_id: r.cell for r in rows}
    prio = {r.vec_id: (r.cent_cos, r.vec_id) for r in rows}
    idx = {v: i for i, v in enumerate(ids)}

    flagged = {r.vec_id for r in rows if r.is_dup}
    # (1) every flagged member has a same-cell higher-priority witness
    for v in flagged:
        assert any(
            u != v
            and cell[u] == cell[v]
            and cos[idx[u], idx[v]] >= SEM_COS_T
            and prio[u] < prio[v]
            for u in ids
        ), f"{v} flagged without a same-cell keeper witness"
    # (2) recall of within-cell candidate pairs vs brute force
    iu = np.triu_indices(len(ids), 1)
    brute = cos[iu] >= SEM_COS_T
    same = np.array(
        [cell[ids[a]] == cell[ids[b]] for a, b in zip(*iu)], dtype=bool
    )
    n_brute = int(brute.sum())
    if n_brute:
        recall = float((brute & same).sum()) / n_brute
        assert recall >= 0.2, f"within-cell recall {recall:.3f} < 0.2"
    # (3) the top-priority member of every flagged relation survives
    for v in flagged:
        mates = [
            u
            for u in ids
            if u != v and cell[u] == cell[v] and cos[idx[u], idx[v]] >= SEM_COS_T
        ]
        keeper = min(mates + [v], key=lambda u: prio[u])
        assert keeper not in flagged or any(
            prio[w] < prio[keeper]
            and cell[w] == cell[keeper]
            and cos[idx[w], idx[keeper]] >= SEM_COS_T
            for w in ids
            if w != keeper
        )


def test_dedup_semantic_zero_norm_twins(spark, tmp_path):
    """Pins the zero-norm convention (r14 ADVICE): numpy scores a zero-norm
    vector's cosines as NaN (which Spark SQL compares GREATER than any
    number) while DuckDB's list_cosine_similarity returns -1.0 — unguarded,
    the engines would disagree on duplicated zero embeddings. The op adopts
    DuckDB's -1.0 via nanvl at both scoring sites, so zero-norm twins stay
    unflagged (and cent_cos = -1.0) on BOTH engines. Fixture: 3 zero
    vectors (two verbatim twins + a singleton), one verbatim nonzero twin
    pair, and random fill — run the full driver-style compare, then assert
    the pinned rows."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from erlang_mapreduce_spark.operators.dedup import dedup_semantic
    from erlang_mapreduce_spark.operators.similarity import IVF_DIM
    from tests.oracle import run_compare

    src = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    d = str(tmp_path / "zero_norm")
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(41)
    n = 24
    vecs = rng.standard_normal((n, IVF_DIM)).astype(np.float32)
    vecs[0] = 0.0  # zero twin A
    vecs[1] = 0.0  # zero twin B (verbatim of A)
    vecs[2] = 0.0  # zero singleton — also verbatim here; all three collapse
    vecs[5] = vecs[4]  # nonzero verbatim twin pair
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * n, pa.int32()),
        }),
        os.path.join(d, "embeddings.parquet"),
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"):
        shutil.copyfile(
            os.path.join(src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet")
        )
    run_compare(spark, "dedup_semantic", d)

    rows = {r.vec_id: r for r in dedup_semantic(spark, d).collect()}
    for v in (0, 1, 2):
        assert rows[v].cent_cos == -1.0, rows[v]
        assert rows[v].is_dup is False, rows[v]
    # the nonzero verbatim twin expands to is_dup=true (cos 1.0 ≥ τ)
    assert rows[5].is_dup is True, rows[5]


def test_substring_spans_shared_across_ops(spark, sf_dir):
    """`_rep_substring_spans` is materialized once per (session,
    corpus) via `ckpt.shared_checkpoint` and REUSED by dedup_substring and
    dedup_substring_scrub — the `_rep_jaccard_pairs` dedupe-the-build
    device. Pins (a) a `rep_substring_spans` key lands in the shared LRU
    after the first op, (b) the second op adds NO second spans key (it
    reuses the first build), and (c) both ops' answers over the shared
    table stay non-trivially populated."""
    from erlang_mapreduce_spark import ckpt
    from erlang_mapreduce_spark.operators.dedup import (
        dedup_substring,
        dedup_substring_scrub,
    )

    def span_keys():
        # one LRU serves both storage modes
        return {k for k in ckpt._SHARED if "rep_substring_spans" in str(k)}

    a = dedup_substring(spark, sf_dir).collect()
    keys_after_first = span_keys()
    assert keys_after_first, "first op did not populate the shared key"
    b = dedup_substring_scrub(spark, sf_dir).collect()
    assert span_keys() == keys_after_first, (
        "second op rebuilt the spans under a new key instead of reusing"
    )
    assert a and b
    assert any(r.n_removed > 0 for r in b)
