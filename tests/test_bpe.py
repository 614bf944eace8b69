"""BPE tokenizer pins — the merge-application algorithm itself.

The oracle hash-match (test_correctness) proves Spark ≡ DuckDB; these
tests prove both equal REAL byte-pair encoding: the one-merge-per-step
leftmost-best-rank formulation (what a recursive CTE can express) is
property-tested against an independent textbook implementation that
merges ALL occurrences of the best-ranked pair left-to-right per step
(the GPT-2 ``merges.txt`` semantics). The equivalence argument
(bpe.py module docstring) holds because a pair created by applying
merge p always has rank > p; hypothesis hunts for counterexamples over
random words AND random well-formed merge tables.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from erlang_mapreduce_spark.operators import bpe
from tests.oracle import run_compare


def _textbook_bpe(word: str, rank: dict[tuple[str, str], int]) -> list[str]:
    return _textbook_bpe_toks(list(word), rank)


def _textbook_bpe_toks(
    toks: list[str], rank: dict[tuple[str, str], int]
) -> list[str]:
    """Reference semantics: repeatedly pick the best-RANKED pair present
    anywhere in the token list, then merge ALL its occurrences in one
    left-to-right pass (overlaps consume greedily: 'aaa' + (a,a) → [aa,a]).
    Token-list-parameterized so the byte-level family (hex-byte base
    tokens) checks against the same textbook loop."""
    while len(toks) > 1:
        pairs = {(toks[i], toks[i + 1]) for i in range(len(toks) - 1)}
        ranked = [(rank[p], p) for p in pairs if p in rank]
        if not ranked:
            break
        _, (a, b) = min(ranked)
        out: list[str] = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def _leftmost_bpe(word: str, rank: dict[tuple[str, str], int]) -> list[str]:
    """The engine/oracle semantics: one merge per step, leftmost
    occurrence of the lowest-ranked applicable pair (mirrors bpe.encode
    but parameterized by merge table for the property test)."""
    toks = list(word)
    while len(toks) > 1:
        best = None
        for i in range(len(toks) - 1):
            r = rank.get((toks[i], toks[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        i = best[1]
        toks[i : i + 2] = [toks[i] + toks[i + 1]]
    return toks


@st.composite
def _merge_tables(draw):
    """Random WELL-FORMED merge tables over a 4-letter alphabet: each
    merge's components are base chars or earlier products (the invariant
    real BPE training guarantees and bpe._validate() asserts)."""
    alphabet = "abcd"
    vocab = list(alphabet)
    merges: list[tuple[str, str]] = []
    products = set()
    n = draw(st.integers(min_value=1, max_value=12))
    for _ in range(n):
        a = draw(st.sampled_from(vocab))
        b = draw(st.sampled_from(vocab))
        if a + b in products or len(a + b) > 8:
            continue
        merges.append((a, b))
        products.add(a + b)
        vocab.append(a + b)
    return merges


@settings(max_examples=400, deadline=None)
@given(
    word=st.text(alphabet="abcd", min_size=0, max_size=16),
    merges=_merge_tables(),
)
def test_leftmost_equals_textbook_on_random_tables(word, merges):
    rank = {p: r for r, p in enumerate(merges)}
    assert _leftmost_bpe(word, rank) == _textbook_bpe(word, rank)


@settings(max_examples=300, deadline=None)
@given(word=st.text(alphabet="etaonrishd ,.", min_size=0, max_size=24))
def test_engine_encode_equals_textbook_on_shipped_table(word):
    """bpe.encode (ids) vs textbook strings under the SHIPPED table."""
    toks = _textbook_bpe(word, bpe._MERGE_RANK)
    assert bpe.encode(word) == [bpe.VOCAB_ID.get(t, -1) for t in toks]


def test_known_encodings():
    inv = {v: k for k, v in bpe.VOCAB_ID.items()}

    def dec(word):
        return [inv.get(i, "<unk>") for i in bpe.encode(word)]

    assert dec("the") == ["the"]
    assert dec("anthem") == ["an", "the", "m"]  # leftmost-best: an|the|m
    assert dec("understanding") == ["u", "nd", "er", "st", "and", "ing"]
    assert dec("zzz") == ["z", "z", "z"]  # no applicable merges
    assert bpe.encode("é") == [-1]  # OOV char → unk id, still 1 token
    assert bpe.encode("") == []


def test_merge_table_well_formed():
    # products strictly after components; ids dense over base + merges
    assert len(bpe.VOCAB_ID) == bpe.N_BASE + len(bpe.MERGES)
    assert sorted(bpe.VOCAB_ID.values()) == list(range(len(bpe.VOCAB_ID)))
    for r, (a, b) in enumerate(bpe.MERGES):
        assert bpe.VOCAB_ID[a] < bpe.N_BASE + r
        assert bpe.VOCAB_ID[b] < bpe.N_BASE + r
        # the invariant the oracle-equivalence proof rests on: a merge's
        # product never participates in an EARLIER merge
        assert bpe.VOCAB_ID[a + b] == bpe.N_BASE + r


def test_doc_token_counts_keeps_wordless_docs(spark):
    df = spark.createDataFrame(
        [(1, "the cat"), (2, None), (3, ""), (4, "   ")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.n_tokens for r in
           bpe.doc_token_counts(df).collect()}
    # byte-level, but on lowercase ASCII isomorphic to the char table:
    # 'the' → [the] (1), 'cat' → [c, at] (2); NULL/empty/whitespace → 0
    assert got == {1: 3, 2: 0, 3: 0, 4: 0}


def test_doc_token_counts_budgets_nonlatin_for_real(spark):
    """The round-12 point: a non-Latin doc's budget is real tokens, not
    an <unk> pile — and it reflects the byte merges (5 Cyrillic letters
    with dedicated merges → 5 tokens, not 10 bytes)."""
    df = spark.createDataFrame(
        [(1, "мирно"), (2, "世界"), (3, "the")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.n_tokens for r in
           bpe.doc_token_counts(df).collect()}
    assert got == {1: 5, 2: 2, 3: 1}


# ---------------------------------------------------------------------------
# Byte-level family pins.


def test_byte_merge_table_well_formed():
    assert len(bpe.BYTE_VOCAB_ID) == bpe.N_BYTES + len(bpe.BYTE_MERGES)
    assert sorted(bpe.BYTE_VOCAB_ID.values()) == list(
        range(len(bpe.BYTE_VOCAB_ID))
    )
    for r, (a, b) in enumerate(bpe.BYTE_MERGES):
        assert bpe.BYTE_VOCAB_ID[a] < bpe.N_BYTES + r
        assert bpe.BYTE_VOCAB_ID[b] < bpe.N_BYTES + r
        assert bpe.BYTE_VOCAB_ID[a + b] == bpe.N_BYTES + r


def test_known_byte_encodings():
    # lowercase ASCII is isomorphic to the char-level demo table
    assert bpe.encode_bytes("the") == [bpe.BYTE_VOCAB_ID[bpe._ascii_hex("the")]]
    # case-preserving: 'T' (0x54) has no merges, 'he' still merges
    assert bpe.encode_bytes("The") == [
        0x54, bpe.BYTE_VOCAB_ID[bpe._ascii_hex("he")]
    ]
    # covered non-Latin scripts: one REAL id per letter
    assert bpe.encode_bytes("мир") == [
        bpe.BYTE_VOCAB_ID["D0BC"], bpe.BYTE_VOCAB_ID["D0B8"],
        bpe.BYTE_VOCAB_ID["D180"],
    ]
    assert all(i >= bpe.N_BYTES for i in bpe.encode_bytes("世界"))
    # the char-level family's OOV case is a real token here
    assert bpe.encode_bytes("é") == [bpe.BYTE_VOCAB_ID["C3A9"]]
    # UNcovered scripts budget honestly as per-byte ids — never -1
    assert bpe.encode_bytes("हिन्दी") == [
        b for b in "हिन्दी".encode("utf-8")
    ]
    assert bpe.encode_bytes("") == []


@settings(max_examples=400, deadline=None)
@given(word=st.text(min_size=0, max_size=24))
def test_byte_encode_is_total_and_invertible(word):
    """On ARBITRARY unicode input: every id is real (≥ 0 — totality, the
    property the family exists for) and the token sequence concatenates
    back to the word's exact UTF-8 bytes (merges only ever group adjacent
    bytes, so the encoding is lossless)."""
    ids = bpe.encode_bytes(word)
    assert all(i >= 0 for i in ids)
    inv = {v: k for k, v in bpe.BYTE_VOCAB_ID.items()}
    assert "".join(inv[i] for i in ids) == "".join(
        f"{b:02X}" for b in word.encode("utf-8")
    )


@settings(max_examples=300, deadline=None)
@given(word=st.text(min_size=0, max_size=16))
def test_byte_encode_equals_textbook_on_shipped_byte_table(word):
    """Byte-level engine semantics vs the textbook all-occurrences
    formulation, over the byte token representation."""
    toks = bpe.word_byte_tokens(word)
    want = _textbook_bpe_toks(toks, bpe._BYTE_MERGE_RANK)
    assert bpe._merge_tokens(list(toks), bpe._BYTE_MERGE_RANK) == want


# ---------------------------------------------------------------------------
# Multilingual fixture corpus: the driver's documents table is ASCII-only,
# so the byte family's reason to exist — non-Latin text budgets to real
# token ids, hash-identically in both engines — is pinned here on a
# purpose-built corpus, through the SAME compare the driver runs.

_MULTILINGUAL_DOCS = [
    (0, "Привет мир это русский текст", "ru", "wiki"),
    (1, "κόσμος ελληνικά δεδομένα", "el", "wiki"),
    (2, "هذا نص عربي قصير", "ar", "web"),
    (3, "这是一段中文文本 世界很大", "zh", "web"),
    (4, "日本語のテキストです", "ja", "web"),
    (5, "mixed Latin و عربي and 中文 zusammen", "mixed", "web"),
    (6, "plain ascii control doc", "en", "wiki"),
    (7, "MixedCase ASCII With Upper", "en", "wiki"),
    (8, "emoji 🙂🎉 und Umlaute äöü ß", "de", "web"),
    (9, "हिन्दी पाठ (uncovered script: per-byte ids)", "hi", "web"),
    (10, "", "en", "web"),
    (11, None, "en", "web"),
]


@pytest.fixture(scope="module")
def multilingual_dir(tmp_path_factory, sf_dir):
    import duckdb

    d = str(tmp_path_factory.mktemp("multilingual_fixture"))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO docs VALUES (?, ?, ?, ?, ?)",
        [(i, t, lg, s, len(t) if t else 0) for i, t, lg, s in _MULTILINGUAL_DOCS],
    )
    con.execute(f"COPY docs TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    return d


@pytest.mark.parametrize(
    "name", ["text_bpe_tokenize_bytes", "pipeline_seq_pack"]
)
def test_byte_family_matches_oracle_on_multilingual_corpus(
    spark, multilingual_dir, name
):
    """Spark ≡ DuckDB on non-ASCII content for the byte tokenizer and the
    packer that consumes its budgets (pipeline_seq_pack packs on
    byte-level doc_token_counts)."""
    run_compare(spark, name, multilingual_dir)


def test_multilingual_ids_are_real(spark, multilingual_dir):
    """Every non-empty multilingual doc gets n_tokens > 0, and the id
    checksum certifies no -1 sentinel: Σids ≥ 0 per doc with every id
    ≥ 0 is implied by the preview + totality pins, but assert the
    preview directly — no '-1' anywhere."""
    from erlang_mapreduce_spark.registry import QUERIES

    rows = QUERIES["text_bpe_tokenize_bytes"](
        spark, multilingual_dir
    ).collect()
    got = {r.doc_id: r for r in rows}
    for i, t, _, _ in _MULTILINGUAL_DOCS:
        if t:
            assert got[i].n_tokens > 0
        assert "-1" not in (got[i].preview_ids or "").split(",")


# ---------------------------------------------------------------------------
# Training (bpe_train) pins.


def _windowed_apply(toks, a, b):
    """Pure-Python mirror of the SQL `_apply_round` window construction
    (match flags on the original list → islands of consecutive matches →
    merge at even island offsets → drop each merge's right neighbor), so
    hypothesis can hunt for divergence from the single-pass fold."""
    n = len(toks)
    m = [i + 1 < n and toks[i] == a and toks[i + 1] == b for i in range(n)]
    mg = [False] * n
    i = 0
    while i < n:
        if m[i]:
            start = i
            while i < n and m[i]:
                mg[i] = (i - start) % 2 == 0
                i += 1
        else:
            i += 1
    out, skip = [], False
    for i in range(n):
        if skip:
            skip = False
            continue
        if mg[i]:
            out.append(a + b)
            skip = True
        else:
            out.append(toks[i])
    return out


@settings(max_examples=400, deadline=None)
@given(
    toks=st.lists(st.sampled_from(["a", "b", "aa", "ab", "ba"]),
                  min_size=0, max_size=12),
    a=st.sampled_from(["a", "b", "aa", "ab"]),
    b=st.sampled_from(["a", "b", "aa", "ab"]),
)
def test_windowed_apply_equals_single_pass(toks, a, b):
    assert _windowed_apply(toks, a, b) == bpe._apply_pair(list(toks), a, b)


@settings(max_examples=400, deadline=None)
@given(
    word=st.text(alphabet="abcd", min_size=0, max_size=16),
    merges=_merge_tables(),
)
def test_rank_order_pass_equals_leftmost(word, merges):
    """The trained-tokenize ORACLE applies merges in rank order, one
    all-occurrences pass each (non-recursive — the DuckDB 1.0 workaround);
    the ENGINE applies iterative leftmost-best-rank. Equal for any
    well-formed table: a pair created by merge p has rank > p, so one
    rank-order pass can never re-enable an earlier rank."""
    rank = {p: r for r, p in enumerate(merges)}
    toks = list(word)
    for a, b in merges:
        if len(toks) > 1:
            toks = bpe._apply_pair(toks, a, b)
    assert toks == _leftmost_bpe(word, rank)


@settings(max_examples=200, deadline=None)
@given(
    words=st.lists(
        st.tuples(st.text(alphabet="abcde", min_size=1, max_size=8),
                  st.integers(min_value=1, max_value=9)),
        min_size=0, max_size=12,
    )
)
def test_train_merges_output_well_formed(words):
    """Every learned merge's components must be single input chars or
    earlier products — the invariant `encode_with`'s equivalence argument
    (and the oracle's rank-order pass) rests on."""
    trained = bpe.train_merges(words)
    assert len(trained) <= bpe.BPE_TRAIN_MERGES
    vocab = {c for w, _ in words for c in w}
    for a, b, pc in trained:
        assert a in vocab and b in vocab and pc >= 1
        vocab.add(a + b)


def test_train_merges_known_corpus():
    # ("abab", 2): pairs (a,b) x2, (b,a) x1 per copy; ("ab", 1): (a,b) x1
    # round 0: (a,b) count 5 beats (b,a) count 2 -> abab=[ab,ab], ab=[ab]
    # round 1: (ab,ab) count 2 -> [abab]; round 2: no pairs -> stop
    assert bpe.train_merges([("abab", 2), ("ab", 1)]) == [
        ("a", "b", 5), ("ab", "ab", 2)
    ]
    # count tie between (a,b) and (b,a): lexicographically smaller wins
    assert bpe.train_merges([("ab", 1), ("ba", 1)])[0] == ("a", "b", 1)
    assert bpe.train_merges([]) == []
    # single-char words carry no pairs
    assert bpe.train_merges([("a", 100), ("b", 7)]) == []


def test_trained_table_feeds_encode():
    """encode_with under a trained table reproduces the trainer's own
    final segmentation of its training words (rank-order == best-rank)."""
    corpus = [("the", 10), ("then", 4), ("lathe", 2), ("hen", 5)]
    trained = bpe.train_merges(corpus)
    rank = {(a, b): r for r, (a, b, _) in enumerate(trained)}
    vocab = {c: i for i, c in enumerate(bpe.BASE_CHARS)}
    for r, (a, b, _) in enumerate(trained):
        vocab.setdefault(a + b, bpe.N_BASE + r)
    inv = {v: k for k, v in vocab.items()}
    for word, _ in corpus:
        toks = list(word)
        for a, b, _ in trained:
            toks = bpe._apply_pair(toks, a, b)
        got = [inv.get(i, "<unk>") for i in
               bpe.encode_with(word, rank, vocab)]
        assert got == toks, (word, got, toks)


def test_second_training_on_unchanged_corpus_starts_no_job(
    spark, sf_dir, tmp_path
):
    """The trained merge table is cached per (session, corpus path,
    fingerprint, byte_level): training again on an unchanged corpus
    starts no Spark job and returns the same table."""
    import shutil

    from tests.test_tables import _jobs_started

    shutil.copyfile(
        os.path.join(sf_dir, "documents.parquet"),
        tmp_path / "documents.parquet",
    )
    d = str(tmp_path)
    got = []

    def train():
        got.append(bpe._trained_table(spark, d))

    assert _jobs_started(spark, train) >= 1
    assert _jobs_started(spark, train) == 0, "retrained an unchanged corpus"
    assert got[0] == got[1]


def test_sql_apply_round_matches_apply_pair():
    """Run the ACTUAL `_apply_round` SQL fragment (not its Python mirror)
    in DuckDB over randomized token lists and every pair from the pool —
    including lhs == rhs overlap chains — and require the rewritten lists
    to equal `_apply_pair`'s output word for word. This pins the oracle
    fragment itself; the hypothesis test above pins the algorithm."""
    import duckdb

    rng = __import__("random").Random(77)
    pool = ["a", "b", "aa", "ab", "ba"]
    words = [
        (f"w{i}", [rng.choice(pool) for _ in range(rng.randint(1, 10))])
        for i in range(120)
    ]

    def lit(toks):
        return "[" + ", ".join(f"'{t}'" for t in toks) + "]"

    values = ", ".join(
        f"('{w}', 1, {lit(toks)})" for w, toks in words
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE src (word VARCHAR, cnt BIGINT, toks VARCHAR[]);"
        f"INSERT INTO src VALUES {values}"
    )
    for a in pool:
        for b in pool:
            sql = (
                f"WITH pairx AS (SELECT '{a}' AS a, '{b}' AS b, 1 AS pc),"
                f"{bpe._apply_round('src', 'pairx', 'dst', 'z')} "
                "SELECT word, toks FROM dst"
            )
            got = dict(con.execute(sql).fetchall())
            for w, toks in words:
                want = bpe._apply_pair(list(toks), a, b)
                assert got[w] == want, (w, toks, a, b, got[w], want)
