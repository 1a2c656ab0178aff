import pytest

from miru_spark.query import bm25
from miru_spark.query.parser import parse_query


@pytest.fixture(scope="module")
def reader(spark, built_index):
    from miru_spark.index.reader import IndexReader

    return IndexReader(spark, built_index.index_dir)


@pytest.fixture(scope="module")
def oracle(corpus):
    from tests.oracle import OracleIndex

    docs = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    return OracleIndex(docs)


def _assert_rank_identical(got_rows, expected, tol=1e-9):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert len(got) == len(expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed, (got, expected)
        assert abs(gs - es) < tol, (gd, gs, es)


@pytest.mark.parametrize(
    "terms,k",
    [(["w00000"], 10), (["w00001", "w00004"], 10), (["the0", "w00002"], 25),
     (["w00010", "w00020", "w00030"], 100)],
)
def test_bm25_and_matches_oracle(reader, oracle, terms, k):
    expected = oracle.topk(oracle.candidates_and(terms), terms, k)
    got = bm25.search(reader, " AND ".join(terms), k=k).collect()
    _assert_rank_identical(got, expected)


def test_bm25_or_matches_oracle(reader, oracle):
    terms = ["w00050", "w00003"]
    expected = oracle.topk(oracle.candidates_or(terms), terms, 15)
    got = bm25.search(reader, " OR ".join(terms), k=15).collect()
    _assert_rank_identical(got, expected)


def test_bm25_not(reader, oracle):
    cands = oracle.candidates_and(["w00001"]) - oracle.postings("w00000")
    expected = oracle.topk(cands, ["w00001"], 20)
    got = bm25.search(reader, "w00001 NOT w00000", k=20).collect()
    _assert_rank_identical(got, expected)


def test_bm25_prefix(reader, oracle):
    exp_terms = oracle.expand_prefix("w0000")
    cands = oracle.candidates_or(exp_terms)
    expected = oracle.topk(cands, exp_terms, 10)
    got = bm25.search(reader, "w0000*", k=10, max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_bm25_nested(reader, oracle):
    # (a OR b) AND c
    a, b, c = "w00005", "w00006", "w00001"
    cands = (oracle.postings(a) | oracle.postings(b)) & oracle.postings(c)
    expected = oracle.topk(cands, [a, b, c], 10)
    got = bm25.search(reader, f"({a} OR {b}) AND {c}", k=10).collect()
    _assert_rank_identical(got, expected)


def test_wand_matches_exact(reader, oracle):
    for terms, k in [(["w00001", "w00004"], 10), (["the0", "w00002"], 5),
                     (["w00000"], 50)]:
        exact = bm25.search(reader, " AND ".join(terms), k=k).collect()
        wand = bm25.search_wand(reader, terms, k=k).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in exact] == [
            (r["doc_id"], round(r["score"], 9)) for r in wand
        ]


def test_wand_missing_term_empty(reader):
    assert bm25.search_wand(reader, ["w00001", "zzznope"], k=5).count() == 0


def test_wand_or_matches_exact(reader, oracle):
    for terms, k in [(["w00001", "w00004"], 10), (["the0", "w00002"], 5),
                     (["w00003", "w00007", "w00009"], 12)]:
        exact = bm25.search(reader, " OR ".join(terms), k=k).collect()
        wand = bm25.search_wand(reader, terms, k=k, mode="or").collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in exact] == [
            (r["doc_id"], round(r["score"], 9)) for r in wand
        ]


def test_wand_or_ignores_missing_term(reader, oracle):
    # OR drops the unknown term and still scores the rest (AND would be empty)
    exact = bm25.search(reader, "w00001", k=10).collect()
    wand = bm25.search_wand(reader, ["w00001", "zzznope"], k=10, mode="or").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in exact] == [
        (r["doc_id"], round(r["score"], 9)) for r in wand
    ]


def test_wand_bad_mode(reader):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25.search_wand(reader, ["w00001"], k=5, mode="xor")


def test_time_strategy_newest_first(reader, oracle):
    got = bm25.search_time_newest(reader, "w00001", k=8).collect()
    cands = sorted(oracle.postings("w00001"), reverse=True)[:8]
    assert [r["doc_id"] for r in got] == cands
    assert all(r["score"] == 0.0 for r in got)


def test_parser():
    from miru_spark.query import parser as qp

    ast = parse_query("a b OR c")
    assert isinstance(ast, qp.Or)
    ast2 = parse_query("Hello AND NOT world")
    assert isinstance(ast2, qp.And)
    assert isinstance(ast2.children[1], qp.Not)
    ast3 = parse_query("pre*")
    assert ast3 == qp.Prefix("pre")
    with pytest.raises(qp.QueryParseError):
        parse_query("(a OR b")


def test_search_with_constraint_mask(spark, corpus, built_index):
    """Constraint mask (lang='en') = reference's constraints/authz AND."""
    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.query.bm25 import search

    reader = IndexReader(spark, built_index.index_dir)
    full = {r["doc_id"]: r["score"] for r in search(reader, "w00000 w00001", k=1000).collect()}
    constrained = search(
        reader, "w00000 w00001", k=1000, constraint=F.col("lang") == "en"
    ).collect()
    en_docs = {r["doc_id"] for r in corpus.filter(F.col("lang") == "en").collect()}
    assert constrained, "constraint query returned nothing"
    for r in constrained:
        assert r["doc_id"] in en_docs          # mask applied
        assert r["score"] == full[r["doc_id"]]  # scores unchanged (global stats)
    assert {r["doc_id"] for r in constrained} == set(full) & en_docs


def test_reference_query_set_match_rate(reader, oracle):
    """North-rule framing: rank-identical match rate over a deterministic
    mixed query set must be exactly 1.0 (docIDs AND scores)."""
    import numpy as np

    rng = np.random.default_rng(42)
    vocab = sorted(oracle.df)
    queries = []
    for qi in range(30):
        shape = qi % 5
        k = 100 if qi % 3 == 0 else 10
        n_terms = int(rng.integers(2, 6))
        terms = list(rng.choice(vocab, size=n_terms, replace=False))
        if shape == 0:
            queries.append((" AND ".join(terms), oracle.candidates_and(terms), terms, k))
        elif shape == 1:
            queries.append((" OR ".join(terms), oracle.candidates_or(terms), terms, k))
        elif shape == 2:  # head-term-heavy AND
            ht = ["the0", terms[0]]
            queries.append((" AND ".join(ht), oracle.candidates_and(ht), ht, k))
        elif shape == 3:  # a AND NOT b
            cands = oracle.postings(terms[0]) - oracle.postings(terms[1])
            queries.append((f"{terms[0]} NOT {terms[1]}", cands, [terms[0]], k))
        else:  # single term
            queries.append((terms[0], oracle.candidates_and([terms[0]]), [terms[0]], k))

    matched = 0
    for qstr, cands, score_terms, k in queries:
        expected = oracle.topk(cands, score_terms, k)
        got = [(r["doc_id"], r["score"]) for r in bm25.search(reader, qstr, k=k).collect()]
        ok = len(got) == len(expected) and all(
            gd == ed and abs(gs - es) < 1e-9
            for (gd, gs), (ed, es) in zip(got, expected)
        )
        matched += ok
        assert ok, (qstr, got[:3], expected[:3])
    assert matched == len(queries)  # match rate 1.0


def test_stopword_analyzer_variant(spark, tmp_path):
    """use_stopwords=True index drops stopwords at build AND query time,
    rank-identical to the stopword oracle (TermAnalyzers en_... variant)."""
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader
    from tests.oracle import OracleIndex

    texts = {
        i: f"the quick brown w{i % 7} fox and a lazy dog of w{i % 3} kingdom " * (1 + i % 4)
        for i in range(40)
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "sw_idx")
    build_index(spark, docs, idx, n_shards=2, block_bits=5, use_stopwords=True, overwrite=True)
    reader = IndexReader(spark, idx)
    oracle = OracleIndex(texts, use_stopwords=True)

    assert "the" not in {r["term"] for r in reader.dictionary().collect()}
    assert reader.stats["total_tokens"] == sum(oracle.doclen.values())

    terms = ["quick", "w1"]
    expected = oracle.topk(oracle.candidates_and(terms), terms, 10)
    got = bm25.search(reader, "quick AND w1", k=10).collect()
    _assert_rank_identical(got, expected)


def test_stopword_query_side_pruning(spark, tmp_path):
    """A stopword in the query string is dropped by the query analyzer on
    a stopword index ('the quick' == 'quick'), incl. inside NOT."""
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    texts = {i: f"the quick w{i % 5} and a dog of w{i % 2}" for i in range(20)}
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "swq_idx")
    build_index(spark, docs, idx, n_shards=1, block_bits=5, use_stopwords=True, overwrite=True)
    reader = IndexReader(spark, idx)

    base = [(r["doc_id"], round(r["score"], 9)) for r in bm25.search(reader, "quick AND w1", k=20).collect()]
    with_stop = [(r["doc_id"], round(r["score"], 9)) for r in bm25.search(reader, "the quick AND w1", k=20).collect()]
    assert base == with_stop and base
    # NOT of a pure stopword is a no-op, not an exclusion of everything
    not_stop = [(r["doc_id"], round(r["score"], 9)) for r in bm25.search(reader, "quick AND w1 NOT the", k=20).collect()]
    assert not_stop == base


def test_highlight_fragments(spark, corpus, built_index, reader=None):
    from miru_spark.index.reader import IndexReader
    from miru_spark.query.highlight import highlight

    r = IndexReader(spark, built_index.index_dir)
    hits = bm25.search(r, "w00001 AND w00002", k=5)
    out = highlight(hits, corpus, ["w00001", "w00002"]).collect()
    assert len(out) == 5
    for row in out:
        assert row["fragments"], "expected at least one fragment"
        joined = " ".join(row["fragments"])
        assert "<b>w00001</b>" in joined or "<b>w00002</b>" in joined
        assert row["score"] is not None


def test_removals_hide_and_repair_restores(spark, corpus, oracle, tmp_path):
    """REMOVE hides a doc from every query path; a later REPAIR unhides
    (MiruIndexer.java:103-157 removal-index semantics)."""
    from miru_spark.index.builder import apply_removals, build_index
    from miru_spark.index.reader import IndexReader

    out = str(tmp_path / "idx_rm")
    build_index(spark, corpus, out, n_shards=2, block_bits=7, overwrite=True)
    r = IndexReader(spark, out)
    terms = ["w00001", "w00004"]
    base = bm25.search(reader=r, query=" AND ".join(terms), k=10).collect()
    victim = base[0]["doc_id"]

    apply_removals(
        spark, out,
        spark.createDataFrame([(victim, "remove", 1)], "doc_id long, op string, version long"),
    )
    r2 = IndexReader(spark, out)
    cands = oracle.candidates_and(terms) - {victim}
    expected = oracle.topk(cands, terms, 10)
    _assert_rank_identical(bm25.search(r2, " AND ".join(terms), k=10).collect(), expected)
    # a reader opened BEFORE the removal hides it too: search_wand unions
    # the removal relation only when has_removals() holds, decided when
    # each query is built, never when the reader opens
    _assert_rank_identical(
        bm25.search_wand_query(r, " AND ".join(terms), k=10).collect(), expected)
    _assert_rank_identical(bm25.search_wand(r2, terms, k=10).collect(), expected)
    newest = bm25.search_time_newest(r2, terms[0], k=500).collect()
    assert victim not in {row["doc_id"] for row in newest}

    # repair at a higher version unhides
    apply_removals(
        spark, out,
        spark.createDataFrame([(victim, "repair", 2)], "doc_id long, op string, version long"),
    )
    r3 = IndexReader(spark, out)
    _assert_rank_identical(
        bm25.search(r3, " AND ".join(terms), k=10).collect(),
        [(row["doc_id"], row["score"]) for row in base],
    )
    # remove-wins tie-break at equal version
    apply_removals(
        spark, out,
        spark.createDataFrame([(victim, "remove", 2)], "doc_id long, op string, version long"),
    )
    r4 = IndexReader(spark, out)
    assert victim in {row["doc_id"] for row in r4.removed_docs().collect()}


def test_pagination_keyset(reader, oracle):
    """Keyset continuation: pages tile the full ranking with no overlap
    (reference: report.lowestScore paging, FullText.java:113-135)."""
    terms = ["w00001", "w00004"]
    full = bm25.search(reader, " AND ".join(terms), k=30).collect()
    page1 = bm25.search(reader, " AND ".join(terms), k=10).collect()
    cur = (page1[-1]["score"], page1[-1]["doc_id"])
    page2 = bm25.search(reader, " AND ".join(terms), k=10, after=cur).collect()
    cur2 = (page2[-1]["score"], page2[-1]["doc_id"])
    page3 = bm25.search(reader, " AND ".join(terms), k=10, after=cur2).collect()
    paged = [(r["doc_id"], r["score"]) for r in page1 + page2 + page3]
    assert paged == [(r["doc_id"], r["score"]) for r in full]

    # WAND paging matches the exact path page-for-page
    w1 = bm25.search_wand(reader, terms, k=10).collect()
    w2 = bm25.search_wand(reader, terms, k=10, after=(w1[-1]["score"], w1[-1]["doc_id"])).collect()
    assert [(r["doc_id"], r["score"]) for r in w1 + w2] == paged[:20]


def test_randomized_wand_rank_identity(reader, oracle):
    """Property-style sweep: for random term sets, exact search, AND-WAND,
    and OR-WAND all agree with the pure-Python oracle, for random k."""
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = sorted(oracle.df)
    for trial in range(12):
        n_terms = int(rng.integers(1, 5))
        terms = list(rng.choice(vocab, size=n_terms, replace=False))
        k = int(rng.choice([1, 5, 17, 200]))

        exp_and = oracle.topk(oracle.candidates_and(terms), terms, k)
        got_and = bm25.search_wand(reader, terms, k=k).collect()
        _assert_rank_identical(got_and, exp_and)

        exp_or = oracle.topk(oracle.candidates_or(terms), terms, k)
        got_or = bm25.search_wand(reader, terms, k=k, mode="or").collect()
        _assert_rank_identical(got_or, exp_or)


def test_wand_at_scale_multi_shard(spark, tmp_path):
    """20k-doc Zipfian corpus (bench synth shape), 8 shards, hundreds of
    blocks: WAND (both modes) matches the exact search path on head-term
    and rare-term mixes — the multi-shard/multi-block skew exercise."""
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import synth_corpus

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    docs = synth_corpus(spark, 20_000)
    out = str(tmp_path / "idx_scale")
    build_index(spark, docs, out, n_shards=8, block_bits=9, overwrite=True)
    r = IndexReader(spark, out)
    head = "the0"  # present in ~60% of docs
    # pick mid/rare terms from the dictionary by df
    by_df = {row["term"]: row["df"] for row in r.dictionary().collect()}
    mid = min((t for t, d in by_df.items() if 50 <= d <= 500), key=lambda t: by_df[t])
    rare = min((t for t, d in by_df.items() if 2 <= d <= 20), key=lambda t: by_df[t])

    for terms, mode in [([head, mid], "and"), ([head, rare], "and"),
                        ([mid, rare], "or"), ([head, mid, rare], "or")]:
        q = f" {mode.upper()} ".join(terms)
        exact = bm25.search(r, q, k=25).collect()
        wand = bm25.search_wand(r, terms, k=25, mode=mode).collect()
        assert [(x["doc_id"], round(x["score"], 9)) for x in exact] == [
            (x["doc_id"], round(x["score"], 9)) for x in wand
        ], (terms, mode)
    assert len(bm25.search_wand(r, [head], k=25).collect()) == 25


def test_stopword_wand_pruning(spark, tmp_path):
    """search_wand on a stopword index drops stopword terms like the
    query analyzer does, instead of emptying the AND."""
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    texts = {i: f"the quick brown w{i % 5} fox" for i in range(30)}
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "sw_wand_idx")
    build_index(spark, docs, idx, n_shards=1, block_bits=5, use_stopwords=True, overwrite=True)
    r = IndexReader(spark, idx)
    exact = bm25.search(r, "the AND quick AND w1", k=10).collect()
    wand = bm25.search_wand(r, ["the", "quick", "w1"], k=10).collect()
    assert exact and [(x["doc_id"], round(x["score"], 9)) for x in exact] == [
        (x["doc_id"], round(x["score"], 9)) for x in wand
    ]
    # all-stopword query -> empty, not an error
    assert bm25.search_wand(r, ["the", "and"], k=5).count() == 0


# ---------------------------------------------------------------------
# fielded index / fielded queries (round 2)
# ---------------------------------------------------------------------

import pytest as _pytest


@_pytest.fixture(scope="module")
def fielded_reader(spark, corpus, tmp_path_factory):
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    out = str(tmp_path_factory.mktemp("fielded") / "idx")
    build_index(
        spark, corpus, out,
        stored_cols=["url", "lang", "warc_ts"],
        keyword_fields={"lang": "lang"},
        n_shards=3, block_bits=7, overwrite=True,
    )
    return IndexReader(spark, out)


def test_fielded_term_equals_constraint_mask(spark, fielded_reader):
    """`lang:en AND w00001` must equal the same text query with a stored-
    column constraint mask — composite terms are exact-match masks."""
    from pyspark.sql import functions as F

    from miru_spark.query.bm25 import search

    a = search(fielded_reader, "lang:en AND w00001", k=20, round_to=6).collect()
    b = search(fielded_reader, "w00001", k=20, round_to=6,
               constraint=F.col("lang") == "en").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]
    assert len(a) > 0


def test_fielded_terms_do_not_score(spark, fielded_reader):
    """Adding a mask that every candidate already satisfies must not
    change any score (masks contribute no BM25 weight)."""
    from miru_spark.query.bm25 import search

    plain = {r["doc_id"]: r["score"] for r in
             search(fielded_reader, "w00001", k=1000, round_to=6).collect()}
    fielded = search(fielded_reader, "lang:en AND w00001", k=1000, round_to=6).collect()
    for r in fielded:
        assert plain[r["doc_id"]] == r["score"]


def test_pure_mask_query_is_time_ordered(spark, corpus, fielded_reader):
    """A query of only fielded masks has no scoring terms: newest-first,
    score 0 (the reference's TIME strategy / prime ordering)."""
    from pyspark.sql import functions as F

    from miru_spark.query.bm25 import search

    out = search(fielded_reader, "lang:de", k=5).collect()
    expect = [
        r["doc_id"] for r in corpus.filter(F.col("lang") == "de")
        .orderBy(F.col("doc_id").desc()).limit(5).collect()
    ]
    assert [r["doc_id"] for r in out] == expect
    assert all(r["score"] == 0.0 for r in out)


def test_fielded_prefix_expands(spark, fielded_reader):
    """`lang:d* AND w00001` expands against the dictionary like any
    wildcard, scoped to the composite-term prefix."""
    from miru_spark.query.bm25 import search

    a = search(fielded_reader, "lang:d* AND w00001", k=50, round_to=6).collect()
    b = search(fielded_reader, "lang:de AND w00001", k=50, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]


def test_gather_fields_after_topk(spark, corpus, fielded_reader):
    """gather_fields joins stored columns onto the <=k top-k only, in
    rank order (FullText.java:204-217 lazy gather analogue)."""
    from miru_spark.query.bm25 import search

    plain = search(fielded_reader, "w00001 AND w00004", k=5, round_to=6).collect()
    gathered = search(fielded_reader, "w00001 AND w00004", k=5, round_to=6,
                      gather_fields=["lang", "url"]).collect()
    assert [(r["doc_id"], r["score"]) for r in gathered] == [
        (r["doc_id"], r["score"]) for r in plain]
    by_id = {r["doc_id"]: (r["lang"], r["url"]) for r in corpus.select(
        "doc_id", "lang", "url").collect()}
    for r in gathered:
        assert (r["lang"], r["url"]) == by_id[r["doc_id"]]


def test_dictionary_composite_terms(spark, corpus, fielded_reader):
    from pyspark.sql import functions as F

    want = {
        ("lang:" + r["lang"], r["n"])
        for r in corpus.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {
        (r["term"], r["df"])
        for r in fielded_reader.dictionary().filter(F.col("term").startswith("lang:")).collect()
    }
    assert got == want


@_pytest.fixture(scope="module")
def authz_reader(spark, corpus, tmp_path_factory):
    """Index with a MULTI-VALUED authz label column (array<string>): each
    doc carries [g{doc_id%5}, lang] — the per-label posting lists are the
    reference's per-label authz bitmaps (LabAuthzIndex.java)."""
    from pyspark.sql import functions as F

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    out = str(tmp_path_factory.mktemp("authz") / "idx")
    docs = corpus.withColumn(
        "labels",
        F.array(F.concat(F.lit("g"), (F.col("doc_id") % 5).cast("string")), F.col("lang")),
    )
    build_index(
        spark, docs, out,
        stored_cols=["lang"],
        keyword_fields={"authz": "labels"},
        n_shards=3, block_bits=7, overwrite=True,
    )
    return IndexReader(spark, out)


def test_composite_authz_is_union_of_labels(spark, corpus, authz_reader):
    """getCompositeAuthz = OR of the per-label posting lists
    (MiruAuthzIndex.java:13): docs match if ANY label matches."""
    from pyspark.sql import functions as F

    from miru_spark.query.bm25 import composite_authz

    got = {r["doc_id"] for r in
           composite_authz(authz_reader, ["g2", "de"]).collect()}
    want = {r["doc_id"] for r in corpus.filter(
        (F.col("doc_id") % 5 == 2) | (F.col("lang") == "de")).collect()}
    assert got == want


def test_search_with_authz_mask(spark, corpus, authz_reader):
    """search(authz=[...]) must equal the same query constrained to the
    label-visible doc set, with identical scores (masks don't score)."""
    from pyspark.sql import functions as F

    from miru_spark.query.bm25 import search

    a = search(authz_reader, "w00001", k=1000, round_to=6,
               authz=["g1", "g3"]).collect()
    visible = {r["doc_id"] for r in corpus.filter(
        (F.col("doc_id") % 5).isin(1, 3)).collect()}
    plain = {r["doc_id"]: r["score"] for r in
             search(authz_reader, "w00001", k=1000, round_to=6).collect()}
    assert len(a) > 0
    assert {r["doc_id"] for r in a} == {d for d in plain if d in visible}
    for r in a:
        assert r["score"] == plain[r["doc_id"]]


def test_authz_empty_labels_hides_everything(spark, authz_reader):
    from miru_spark.query.bm25 import search

    assert search(authz_reader, "w00001", k=10, authz=[]).count() == 0


# ---------------------------------------------------------------------
# phrase queries
# ---------------------------------------------------------------------

def _top_bigram(oracle):
    """Most frequent adjacent token pair in the fixture corpus."""
    from collections import Counter

    big = Counter()
    for toks in oracle.tokens.values():
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    (t1, t2), cnt = big.most_common(1)[0]
    assert cnt >= 3  # fixture sanity: the phrase actually occurs
    return t1, t2


def _phrase_docs(oracle, t1, t2):
    return {
        d for d, toks in oracle.tokens.items()
        if any(a == t1 and b == t2 for a, b in zip(toks, toks[1:]))
    }


def test_phrase_matches_python_oracle(reader, oracle, corpus):
    t1, t2 = _top_bigram(oracle)
    cands = _phrase_docs(oracle, t1, t2)
    expected = oracle.topk(cands, [t1, t2], 10)
    got = bm25.search(reader, f'"{t1} {t2}"', k=10, text_df=corpus).collect()
    _assert_rank_identical(got, expected)


def test_phrase_is_stricter_than_and(reader, oracle, corpus):
    t1, t2 = _top_bigram(oracle)
    phrase_docs = _phrase_docs(oracle, t1, t2)
    and_docs = oracle.candidates_and([t1, t2])
    assert phrase_docs <= and_docs
    k = len(and_docs) + 5
    got_phrase = {r["doc_id"] for r in
                  bm25.search(reader, f'"{t1} {t2}"', k=k, text_df=corpus).collect()}
    assert got_phrase == phrase_docs


def test_phrase_combined_with_term(reader, oracle, corpus):
    t1, t2 = _top_bigram(oracle)
    other = "the0"
    cands = _phrase_docs(oracle, t1, t2) & oracle.postings(other)
    expected = oracle.topk(cands, [other, t1, t2], 10)
    got = bm25.search(
        reader, f'{other} AND "{t1} {t2}"', k=10, text_df=corpus
    ).collect()
    _assert_rank_identical(got, expected)


def test_phrase_requires_text_df(reader):
    with pytest.raises(bm25.SearchError, match="text_df"):
        bm25.search(reader, '"w00000 w00001"', k=5)


def test_phrase_absent_bigram_empty(reader, oracle, corpus):
    # two real terms that never occur adjacently in this direction
    from collections import Counter

    big = Counter()
    for toks in oracle.tokens.values():
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    t1, t2 = "w00000", "w00001"
    for cand1 in sorted(oracle.df):
        for cand2 in sorted(oracle.df):
            if cand1 != cand2 and (cand1, cand2) not in big:
                t1, t2 = cand1, cand2
                break
        else:
            continue
        break
    assert (t1, t2) not in big
    got = bm25.search(reader, f'"{t1} {t2}"', k=10, text_df=corpus).collect()
    assert got == []


def test_boosted_term_matches_oracle(reader, oracle):
    terms = ["w00001", "w00004"]
    boosts = {"w00001": 3.0}
    expected = oracle.topk(oracle.candidates_and(terms), terms, 15, boosts=boosts)
    got = bm25.search(reader, "w00001^3 AND w00004", k=15).collect()
    _assert_rank_identical(got, expected)


def test_boost_changes_ranking(reader, oracle):
    terms = ["w00003", "w00050"]
    base = bm25.search(reader, "w00003 OR w00050", k=15).collect()
    boosted = bm25.search(reader, "w00003 OR w00050^10", k=15).collect()
    exp_base = oracle.topk(oracle.candidates_or(terms), terms, 15)
    exp_boost = oracle.topk(
        oracle.candidates_or(terms), terms, 15, boosts={"w00050": 10.0})
    _assert_rank_identical(base, exp_base)
    _assert_rank_identical(boosted, exp_boost)
    assert [r["doc_id"] for r in base] != [r["doc_id"] for r in boosted]


def test_boost_on_duplicate_leaf_takes_max(reader, oracle):
    # `w00001^2 OR w00001` scores the term once with the max boost
    terms = ["w00001"]
    expected = oracle.topk(
        oracle.candidates_and(terms), terms, 10, boosts={"w00001": 2.0})
    got = bm25.search(reader, "w00001^2 OR w00001", k=10).collect()
    _assert_rank_identical(got, expected)


def test_fractional_down_boost_applies(reader, oracle):
    # `term^N` with N < 1 down-weights — no implicit 1.0 floor (the old
    # max(1.0, w) fold silently no-op'd every down-boost); an unboosted
    # duplicate leaf still lifts the max back to 1.0
    terms = ["w00003", "w00050"]
    expected = oracle.topk(
        oracle.candidates_or(terms), terms, 15, boosts={"w00050": 0.1})
    got = bm25.search(reader, "w00003 OR w00050^0.1", k=15).collect()
    _assert_rank_identical(got, expected)
    base = bm25.search(reader, "w00003 OR w00050", k=15).collect()
    assert [r["doc_id"] for r in base] != [r["doc_id"] for r in got]
    # WAND router parity on the same down-boosted query
    _assert_rank_identical(
        bm25.search_wand_query(reader, "w00003 OR w00050^0.1", k=15).collect(),
        expected)
    # unboosted sibling leaf wins the max: ^0.5 OR plain == plain
    dup = bm25.search(reader, "w00050^0.5 OR w00050", k=10).collect()
    _assert_rank_identical(
        dup, oracle.topk(oracle.candidates_or(["w00050"]), ["w00050"], 10))


def test_boosted_prefix_applies_to_expansions(reader, oracle):
    exp_terms = oracle.expand_prefix("w0000")
    boosts = {t: 2.0 for t in exp_terms}
    expected = oracle.topk(oracle.candidates_or(exp_terms), exp_terms, 10, boosts=boosts)
    got = bm25.search(reader, "w0000*^2", k=10, max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_fuzzy_matches_oracle(reader, oracle):
    exp = oracle.expand_fuzzy("w00001", 1)
    assert len(exp) > 5  # a real multi-term expansion on this corpus
    cands = oracle.candidates_or(exp) & oracle.postings("w00004")
    expected = oracle.topk(cands, exp + ["w00004"], 15)
    got = bm25.search(reader, "w00001~1 AND w00004", k=15,
                      max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_fuzzy_two_edits_matches_oracle(reader, oracle):
    exp = oracle.expand_fuzzy("w00001", 2)
    assert len(exp) > len(oracle.expand_fuzzy("w00001", 1))
    expected = oracle.topk(oracle.candidates_or(exp), exp, 10)
    got = bm25.search(reader, "w00001~2", k=10, max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_fuzzy_no_match_is_empty(reader):
    assert bm25.search(reader, "zzzzzzzzzz~1", k=10).collect() == []


def test_range_equals_isin_constraint(spark, fielded_reader):
    from pyspark.sql import functions as F

    a = bm25.search(
        fielded_reader, "lang:[de TO en] AND w00001", k=20, round_to=6
    ).collect()
    b = bm25.search(
        fielded_reader, "w00001", k=20, round_to=6,
        constraint=F.col("lang").isin(["de", "en"])).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]
    assert len(a) > 0


def test_range_exclusive_and_open_bounds(spark, fielded_reader):
    # {de TO fr} excludes both bounds -> only 'en' survives
    a = bm25.search(
        fielded_reader, "lang:{de TO fr} AND w00001", k=20, round_to=6
    ).collect()
    b = bm25.search(
        fielded_reader, "lang:en AND w00001", k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]
    # open upper bound [fr TO *] -> only 'fr'
    c = bm25.search(
        fielded_reader, "lang:[fr TO *] AND w00001", k=20, round_to=6
    ).collect()
    d = bm25.search(
        fielded_reader, "lang:fr AND w00001", k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in c] == [
        (r["doc_id"], r["score"]) for r in d]


def test_slop_matches_oracle(reader, oracle, corpus):
    terms = ["w00003", "w00007"]
    cands = oracle.phrase_slop_docs(terms, 2)
    assert cands
    expected = oracle.topk(cands, terms, 20)
    got = bm25.search(reader, '"w00003 w00007"~2', k=20,
                      text_df=corpus).collect()
    _assert_rank_identical(got, expected)


def test_slop_zero_equals_exact_phrase(reader, oracle, corpus):
    a = bm25.search(reader, '"w00001 w00002"~0', k=50, text_df=corpus).collect()
    b = bm25.search(reader, '"w00001 w00002"', k=50, text_df=corpus).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]


def test_slop_is_superset_of_exact(reader, oracle, corpus):
    exact = oracle.phrase_slop_docs(["w00001", "w00002"], 0)
    sloppy = oracle.phrase_slop_docs(["w00001", "w00002"], 4)
    assert exact <= sloppy
    got = {r["doc_id"] for r in bm25.search(
        reader, '"w00001 w00002"~4', k=600, text_df=corpus).collect()}
    assert got == sloppy


def test_plus_must_marker_is_noop(reader):
    a = bm25.search(reader, "+w00001 +w00004", k=15).collect()
    b = bm25.search(reader, "w00001 AND w00004", k=15).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]


def test_wildcard_matches_oracle(reader, oracle):
    exp = oracle.expand_wildcard("w0000?")
    assert len(exp) >= 5  # a real multi-term expansion on this corpus
    expected = oracle.topk(oracle.candidates_or(exp), exp, 10)
    got = bm25.search(reader, "w0000?", k=10, max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_wildcard_mid_star_matches_oracle(reader, oracle):
    exp = oracle.expand_wildcard("w*91")
    assert len(exp) >= 1
    cands = oracle.candidates_or(exp) & oracle.postings("w00001")
    expected = oracle.topk(cands, exp + ["w00001"], 15)
    got = bm25.search(reader, "w*91 AND w00001", k=15,
                      max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_leading_wildcard_full_dictionary_scan(reader, oracle):
    exp = oracle.expand_wildcard("*0003")
    assert exp == ["w00003"]
    expected = oracle.topk(oracle.candidates_or(exp), exp, 10)
    got = bm25.search(reader, "*0003", k=10, max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_wildcard_no_match_is_empty(reader):
    assert bm25.search(reader, "zz?zz", k=10).collect() == []


def test_fielded_wildcard_equals_exact_mask(spark, fielded_reader):
    """`lang:e?` expands over the keyword vocabulary to exactly
    {lang:en}, so it must equal the exact fielded mask."""
    a = bm25.search(fielded_reader, "lang:e? AND w00001", k=20, round_to=6).collect()
    b = bm25.search(fielded_reader, "lang:en AND w00001", k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]
    assert len(a) > 0


def test_field_group_equals_expanded_or(spark, fielded_reader):
    """`lang:(en OR de)` must equal the hand-expanded boolean form."""
    a = bm25.search(
        fielded_reader, "lang:(en OR de) AND w00001", k=20, round_to=6).collect()
    b = bm25.search(
        fielded_reader, "(lang:en OR lang:de) AND w00001", k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]
    assert len(a) > 0


def test_regexp_matches_oracle(reader, oracle):
    exp = oracle.expand_regexp("w0000[13]|w0001.")
    assert len(exp) >= 5
    expected = oracle.topk(oracle.candidates_or(exp), exp, 10)
    got = bm25.search(reader, "/w0000[13]|w0001./", k=10,
                      max_expansion=1000).collect()
    _assert_rank_identical(got, expected)


def test_regexp_is_whole_term_anchored(reader, oracle):
    # /w0000/ must match NOTHING (no term is exactly "w0000"; Lucene
    # RegexpQuery anchors — substring matches don't count)
    assert bm25.search(reader, "/w0000/", k=10).collect() == []


def test_fielded_regexp_equals_exact_mask(spark, fielded_reader):
    a = bm25.search(fielded_reader, "lang:/e./ AND w00001", k=20, round_to=6).collect()
    b = bm25.search(fielded_reader, "lang:en AND w00001", k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]
    assert len(a) > 0


def test_fielded_regexp_alternation_distributes(spark, fielded_reader):
    """`lang:/en|de/` must equal `(lang:en OR lang:de)` — the field
    prefix distributes over the alternation."""
    a = bm25.search(fielded_reader, "lang:/en|de/ AND w00001", k=20, round_to=6).collect()
    b = bm25.search(fielded_reader, "(lang:en OR lang:de) AND w00001", k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b]
    assert len(a) > 0


def test_wand_gather_fields_matches_search(spark, fielded_reader):
    """WAND's lazy display-field gather must agree with search()'s."""
    a = bm25.search(fielded_reader, "w00001 AND w00004", k=10, round_to=6,
                    gather_fields=["lang", "url"]).collect()
    b = bm25.search_wand(fielded_reader, ["w00001", "w00004"], k=10,
                         gather_fields=["lang", "url"]).collect()
    br = [(r["doc_id"], round(r["score"], 6), r["lang"], r["url"]) for r in b]
    ar = [(r["doc_id"], r["score"], r["lang"], r["url"]) for r in a]
    assert ar == br and len(ar) > 0


def test_match_all_with_negation(reader, oracle, corpus):
    """`*:* -w00001` anchors a pure-negation query: every doc except the
    term's postings, TIME-ordered (pure-mask fallback, score 0)."""
    got = bm25.search(reader, "*:* -w00001", k=10000).collect()
    excluded = oracle.postings("w00001")
    all_ids = set(oracle.tf)
    assert {r["doc_id"] for r in got} == all_ids - excluded
    assert all(r["score"] == 0.0 for r in got)
    # newest-first = descending doc_id on this corpus
    ids = [r["doc_id"] for r in got]
    assert ids == sorted(ids, reverse=True)


def test_facet_counts_matches_oracle(reader, oracle, corpus):
    from collections import Counter

    from miru_spark.query.bm25 import facet_counts

    cands = oracle.candidates_and(["w00001", "w00004"])
    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    exp = Counter(langs[d] for d in cands)
    got = {r["value"]: r["n"] for r in
           facet_counts(reader, "w00001 AND w00004", "lang", k=10).collect()}
    assert got == dict(exp)


def test_facet_counts_respects_boolean_shape(reader, oracle, corpus):
    from collections import Counter

    from miru_spark.query.bm25 import facet_counts

    cands = (oracle.postings("w00003") | oracle.postings("w00050")) - oracle.postings("w00001")
    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    exp = Counter(langs[d] for d in cands)
    got = {r["value"]: r["n"] for r in
           facet_counts(reader, "(w00003 OR w00050) -w00001", "lang", k=10).collect()}
    assert got == dict(exp)


def test_unfielded_expansion_never_matches_composites(spark, fielded_reader):
    """A bare `lang*` / fuzzy / wildcard text expansion must not leak
    into the composite `lang:en` keyword vocabulary (shared dictionary
    namespace): no text term starts with 'lang' on this corpus, so all
    three must come back empty instead of scoring the keyword masks."""
    assert bm25.search(fielded_reader, "lang* AND w00001", k=10).collect() == []
    assert bm25.search(fielded_reader, "langen~2 AND w00001", k=10).collect() == []
    assert bm25.search(fielded_reader, "la?g AND w00001", k=10).collect() == []
    assert bm25.search(fielded_reader, "/lang.*/ AND w00001", k=10).collect() == []
    # the fielded syntax still reaches the composites
    assert len(bm25.search(fielded_reader, "lang:en AND w00001", k=10).collect()) > 0


# ---------------------------------------------------------------------
# search_wand_query: the one-entry-point scale-path router
# ---------------------------------------------------------------------

def _same_ranks(df_a, df_b):
    a = [(r["doc_id"], round(r["score"], 9)) for r in df_a.collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in df_b.collect()]
    assert a == b and a, (a, b)


def test_router_flat_and_matches_exact(reader):
    q = "w00001 AND w00004"
    _same_ranks(bm25.search_wand_query(reader, q, k=10),
                bm25.search(reader, q, k=10))


def test_router_flat_or_matches_exact(reader):
    q = "w00050 OR w00003"
    _same_ranks(bm25.search_wand_query(reader, q, k=15),
                bm25.search(reader, q, k=15))


def test_router_phrase_matches_exact(reader, oracle, corpus):
    t1, t2 = _top_bigram(oracle)
    q = f'"{t1} {t2}"'
    _same_ranks(bm25.search_wand_query(reader, q, k=10, text_df=corpus),
                bm25.search(reader, q, k=10, text_df=corpus))


def test_router_phrase_plus_term_deepens(reader, oracle, corpus):
    # a 1-candidate first pool forces multiple deepening rounds; the
    # result must still be rank-identical to the exact path
    t1, t2 = _top_bigram(oracle)
    q = f'the0 AND "{t1} {t2}"'
    _same_ranks(
        bm25.search_wand_query(reader, q, k=5, text_df=corpus, first_pool=1),
        bm25.search(reader, q, k=5, text_df=corpus),
    )


def test_router_slop_phrase_matches_exact(reader, oracle, corpus):
    t1, t2 = _top_bigram(oracle)
    q = f'"{t1} {t2}"~2'
    _same_ranks(bm25.search_wand_query(reader, q, k=10, text_df=corpus),
                bm25.search(reader, q, k=10, text_df=corpus))


def test_router_fallback_shapes_route_to_search(reader, corpus, monkeypatch):
    """Fielded / NOT / wildcard / nested / boosted / phrase-under-OR
    queries (and any search-only kwarg) must fall back to search()."""
    calls = []
    orig = bm25.search

    def spy(*a, **kw):
        calls.append(a[1] if len(a) > 1 else kw.get("query"))
        return orig(*a, **kw)

    monkeypatch.setattr(bm25, "search", spy)
    shapes = [
        "lang:en",             # pure mask -> TIME path
        '(w00001 AND w00004) OR "w00000 w00002"',  # phrase + all-of mix under OR
        'lang:en OR "w00000 w00002"',  # fielded + phrase under OR
    ]
    for q in shapes:
        bm25.search_wand_query(reader, q, k=5, text_df=corpus).collect()
    assert len(calls) == len(shapes)
    # a WAND-able shape with a search-only mask kwarg also falls back
    from pyspark.sql import functions as F
    bm25.search_wand_query(
        reader, "w00001 AND w00004", k=5, constraint=F.lit(True)
    ).collect()
    assert len(calls) == len(shapes) + 1


def test_router_wandable_shapes_bypass_search(reader, corpus, monkeypatch):
    def boom(*a, **kw):  # pragma: no cover - the assertion is "not called"
        raise AssertionError("flat shapes must not reach search()")

    monkeypatch.setattr(bm25, "search", boom)
    assert bm25.search_wand_query(reader, "w00001 AND w00004", k=5).collect()
    assert bm25.search_wand_query(reader, "w00050 OR w00003", k=5).collect()
    # round-3 router widening: boosts, phrases under OR, fielded AND
    # masks all stay on the WAND path now
    assert bm25.search_wand_query(reader, "w00001^2 AND w00002", k=5).collect()
    assert bm25.search_wand_query(
        reader, '"w00000 w00001" OR w00002', k=5, text_df=corpus).collect()
    assert bm25.search_wand_query(reader, "w00001 NOT w00000", k=5).collect()
    # round-4 router widening: negated phrases (anti-mask on the heap)
    # and fielded-under-OR (zero-score admission) stay on the WAND path
    assert bm25.search_wand_query(
        reader, 'w00001 NOT "w00000 w00002"', k=5, text_df=corpus).collect()
    assert bm25.search_wand_query(reader, "lang:de OR w00050", k=5).collect()


def test_router_round4_shapes_rank_identical(reader, corpus):
    """The round-4 widened shapes answer rank-identically to search():
    negated phrase (NOT "a b") and fielded-under-OR with zero-score
    admission (the composite postings complete the answer)."""
    for q, kw in [
        ('w00001 AND w00004 NOT "w00000 w00002"', {"text_df": corpus}),
        ("w00050 OR lang:de", {}),
        ("lang:de OR lang:fr OR w00050", {}),
    ]:
        exact = bm25.search(reader, q, 15, **kw).collect()
        wand = bm25.search_wand_query(reader, q, 15, **kw).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in wand] == \
            [(r["doc_id"], round(r["score"], 9)) for r in exact], q
    # round-3 widening #2: unfielded expansions under OR (or bare) flatten
    # into the WAND pool as OR-of-expansions
    assert bm25.search_wand_query(reader, "w0000*", k=5).collect()
    assert bm25.search_wand_query(reader, "w0000* OR w00050", k=5).collect()


def test_router_expansion_or_matches_exact(reader):
    """Expansion leaves on the WAND path must stay rank-identical to the
    exact path: bare prefix, prefix OR term, boosted prefix, fuzzy OR,
    wildcard OR, and an all-miss expansion under OR."""
    for q in [
        "w0000*",
        "w0000* OR w00050",
        "w0000*^2 OR w00050",
        "w00001~1 OR w00050",
        "w0000?1 OR w00050",
        "zzznope* OR w00050",
    ]:
        _same_ranks(bm25.search_wand_query(reader, q, k=12),
                    bm25.search(reader, q, k=12))


def test_router_expansion_and_matches_exact(reader):
    """Expansion leaves inside an AND: the run downgrades to disjunctive
    WAND + required any-of groups — still rank-identical to the exact
    path, including boosted and multi-group conjunctions and a tiny
    first pool that forces deepening rounds."""
    for q in [
        "w0000* AND w00001",
        "w0000* AND w00001 AND w00004",
        "w0000*^2 AND w00050",
        "w0000* AND w0005*",
        "w00001~1 AND w00004",
    ]:
        _same_ranks(bm25.search_wand_query(reader, q, k=12),
                    bm25.search(reader, q, k=12))
    # deepening: a 1-candidate first pool must still converge
    _same_ranks(bm25.search_wand_query(reader, "w0000* AND w00001", k=5, first_pool=1),
                bm25.search(reader, "w0000* AND w00001", k=5))


def test_router_bare_expansion_no_match_is_empty(reader):
    assert bm25.search_wand_query(reader, "zzznope*", k=5).collect() == []
    # an AND-required expansion with no dictionary match voids the query
    assert bm25.search_wand_query(reader, "zzznope* AND w00001", k=5).collect() == []


def test_router_nested_groups_match_exact(reader):
    """One-level nested boolean on the WAND path: (a OR b) AND c via the
    required any-of group, (a AND b) OR c via the qualifying all-of
    group — rank-identical to the exact path, incl. tiny-pool deepening."""
    for q in [
        "(w00001 OR w00002) AND w00004",
        "(w00001 OR w0000*) AND w00004",
        "(w00001 AND w00004) OR w00050",
        "(w00001 AND w00004) OR (w00002 AND w00003)",
        "(the0 OR w00002) AND w00001 AND (w00003 OR w00005)",
    ]:
        _same_ranks(bm25.search_wand_query(reader, q, k=12),
                    bm25.search(reader, q, k=12))
    _same_ranks(
        bm25.search_wand_query(reader, "(w00001 AND w00004) OR w00050",
                               k=5, first_pool=1),
        bm25.search(reader, "(w00001 AND w00004) OR w00050", k=5))


def test_router_deep_trees_via_coverage_wand(reader, monkeypatch):
    """Arbitrarily nested fusible trees stay on the scale path through
    the coverage verifier — rank-identical to the exact path and never
    reaching search() (except the documented exhaustion fallback)."""
    deep = [
        "((w00001 AND w00002) OR w00003) AND w00004",
        "(w0000* AND w00001) OR w00002",
        "((w00001 OR w00002) AND NOT w00003) OR w00050",
        "((w00001 OR w00002) AND (w00003 OR w00004)) NOT w00000",
    ]
    for q in deep:
        _same_ranks(bm25.search_wand_query(reader, q, k=12),
                    bm25.search(reader, q, k=12))
    # tiny-pool deepening converges without the exact path
    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("coverage path must not reach search()")
    monkeypatch.setattr(bm25, "search", boom)
    assert bm25.search_wand_query(reader, deep[0], k=5, first_pool=1).collect()
    monkeypatch.undo()
    # exhaustion (1 round, 1-doc pool) falls back to exact — identical
    _same_ranks(
        bm25.search_wand_query(reader, deep[0], k=5, first_pool=1, max_rounds=1),
        bm25.search(reader, deep[0], k=5))


def test_router_phrase_requires_text_df(reader):
    with pytest.raises(bm25.SearchError, match="text_df"):
        bm25.search_wand_query(reader, '"w00000 w00001"', k=5)


def test_router_phrase_exhausted_rounds_fall_back_exact(reader, oracle, corpus):
    """max_rounds exhaustion must never ship a silently-partial answer:
    with a 1-doc pool and a single round the deepening cannot complete,
    so the router falls back to the exact path — still rank-identical."""
    t1, t2 = _top_bigram(oracle)
    q = f'the0 AND "{t1} {t2}"'
    _same_ranks(
        bm25.search_wand_query(
            reader, q, k=5, text_df=corpus, first_pool=1, max_rounds=1),
        bm25.search(reader, q, k=5, text_df=corpus),
    )


def test_router_boosted_terms_stay_on_wand_path(reader):
    """term^N folds into the WAND idf (admissible bound), so boosted
    flat queries no longer fall back to the exact corpus path — and the
    ranks still match it."""
    for q in ("w00001^3 AND w00004", "w00050^2 OR w00003^0.5 OR w00002"):
        ast = bm25._parse_for_index(reader, q)
        assert bm25._wand_shape(ast) is not None, q
        _same_ranks(bm25.search_wand_query(reader, q, k=10),
                    bm25.search(reader, q, k=10))


def test_router_phrase_under_or_matches_exact(reader, oracle, corpus):
    """OR with a phrase disjunct: a doc qualifies by containing the
    plain term OR by phrase adjacency; scores are over all terms present
    (search()'s model), so the WAND pool + leaf-match filter is
    rank-identical to the exact path."""
    t1, t2 = _top_bigram(oracle)
    for q in (
        f'w00050 OR "{t1} {t2}"',
        f'"{t1} {t2}" OR "{t2} {t1}"',
        f'w00003^2 OR "{t1} {t2}"~1',
    ):
        ast = bm25._parse_for_index(reader, q)
        assert bm25._wand_shape(ast) is not None, q
        _same_ranks(
            bm25.search_wand_query(reader, q, k=10, text_df=corpus),
            bm25.search(reader, q, k=10, text_df=corpus),
        )


def test_router_phrase_or_deepens(reader, oracle, corpus):
    """iterative deepening under OR: a 1-doc first pool forces rounds;
    still rank-identical."""
    t1, t2 = _top_bigram(oracle)
    q = f'w00050 OR "{t1} {t2}"'
    _same_ranks(
        bm25.search_wand_query(reader, q, k=5, text_df=corpus, first_pool=1),
        bm25.search(reader, q, k=5, text_df=corpus),
    )


def test_router_fielded_mask_and_matches_exact(fielded_reader, corpus):
    """AND with a fielded exact-match leaf stays on the WAND path: the
    composite posting list masks the bounded heap (non-scoring, like
    search()'s candidate masks) — rank-identical to the exact path."""
    doc_langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    for q in (
        "lang:en AND w00001 AND w00004",
        "w00050^2 AND lang:en",
    ):
        ast = bm25._parse_for_index(fielded_reader, q)
        assert bm25._wand_shape(ast) is not None, q
        got = bm25.search_wand_query(fielded_reader, q, k=10)
        _same_ranks(got, bm25.search(fielded_reader, q, k=10))
        # the mask actually bites: every hit carries the keyword value
        assert all(doc_langs[r["doc_id"]] == "en" for r in got.collect())
    # a non-dominant mask value prunes MOST of the pool -> deepening
    got_de = bm25.search_wand_query(fielded_reader, "lang:de AND the0",
                                    k=5, first_pool=2)
    _same_ranks(got_de, bm25.search(fielded_reader, "lang:de AND the0", k=5))
    # round-4: fielded under OR is WAND-able (zero-score admission) and
    # rank-identical to the exact path, including the score-0 region
    got_or = bm25.search_wand_query(fielded_reader, "lang:de OR w00050", k=20)
    _same_ranks(got_or, bm25.search(fielded_reader, "lang:de OR w00050", k=20))
    # pure-mask queries stay on the exact path (TIME ordering)
    assert bm25._wand_shape(
        bm25._parse_for_index(fielded_reader, "lang:en")) is None


def test_router_fielded_mask_with_phrase(fielded_reader, oracle, corpus):
    t1, t2 = _top_bigram(oracle)
    q = f'lang:en AND "{t1} {t2}"'
    ast = bm25._parse_for_index(fielded_reader, q)
    assert bm25._wand_shape(ast) is not None
    _same_ranks(
        bm25.search_wand_query(fielded_reader, q, k=10, text_df=corpus),
        bm25.search(fielded_reader, q, k=10, text_df=corpus),
    )


def test_router_not_mask_matches_exact(reader, fielded_reader, corpus):
    """NOT term / NOT field:value under AND stay on the WAND path: the
    negated postings anti-mask the bounded heap (non-scoring) — rank-
    identical to the exact path's negative anti-join."""
    for q in ("the0 NOT w00000", "the0 AND w00003 NOT w00001 NOT w00002"):
        ast = bm25._parse_for_index(reader, q)
        assert bm25._wand_shape(ast) is not None, q
        got = [(r["doc_id"], round(r["score"], 9))
               for r in bm25.search_wand_query(reader, q, k=10).collect()]
        want = [(r["doc_id"], round(r["score"], 9))
                for r in bm25.search(reader, q, k=10).collect()]
        assert got == want and got, q
    # negated FIELDED term (composite anti-mask) + deepening pressure
    q = "the0 NOT lang:en"
    ast = bm25._parse_for_index(fielded_reader, q)
    assert bm25._wand_shape(ast) is not None
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           bm25.search_wand_query(fielded_reader, q, k=5, first_pool=2).collect()]
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            bm25.search(fielded_reader, q, k=5).collect()]
    assert got == want and got
    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    assert all(langs[d] != "en" for d, _ in got)


# ---------------------------------------------------------------------
# Round-3 review regressions: tie-break pruning, pure-mask paging,
# OR-mask score-0 admission, unknown-term scan guard, stopword override
# ---------------------------------------------------------------------


def test_wand_tie_break_prune_rank_identity(spark, tmp_path):
    """Uniform corpus (every doc scores exactly the same): block bounds
    tie the heap threshold on every block after the first, and a `<=`
    prune would freeze the heap on the LOWEST doc_ids — the total order
    tie-breaks on doc_id desc, so the top-k must be the HIGHEST ids."""
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    docs = spark.createDataFrame(
        [(i, "same text tokens here") for i in range(64)], "doc_id long, text string"
    )
    idx = str(tmp_path / "uniform_idx")
    build_index(spark, docs, idx, n_shards=1, block_bits=3, overwrite=True)
    r = IndexReader(spark, idx)
    want = [(x["doc_id"], round(x["score"], 9))
            for x in bm25.search(r, "same AND tokens", k=5).collect()]
    got = [(x["doc_id"], round(x["score"], 9))
           for x in bm25.search_wand(r, ["same", "tokens"], k=5).collect()]
    assert [d for d, _ in want] == [63, 62, 61, 60, 59]
    assert got == want
    # OR mode hits the same prune
    got_or = [(x["doc_id"], round(x["score"], 9))
              for x in bm25.search_wand(r, ["same", "tokens"], k=5, mode="or").collect()]
    assert got_or == want


def test_pure_mask_keyset_paging(fielded_reader):
    """The TIME-ordering (pure-mask) path honors the same `after`
    keyset cursor as the scoring path: zero scores make it a doc_id cut."""
    full = bm25.search(fielded_reader, "lang:en", k=1000).collect()
    assert len(full) > 20
    page1 = bm25.search(fielded_reader, "lang:en", k=10).collect()
    cur = (page1[-1]["score"], page1[-1]["doc_id"])
    page2 = bm25.search(fielded_reader, "lang:en", k=10, after=cur).collect()
    ids = [r["doc_id"] for r in page1 + page2]
    assert ids == [r["doc_id"] for r in full[:20]]
    assert all(r["score"] == 0.0 for r in page2)
    # same contract on search_time_newest
    p2b = bm25.search_time_newest(fielded_reader, "lang:en", k=10, after=cur).collect()
    assert [r["doc_id"] for r in p2b] == [r["doc_id"] for r in page2]


def test_or_fielded_mask_admits_score_zero(fielded_reader, corpus):
    """`w00001 OR lang:de`: docs admitted only through the fielded
    disjunct return with score 0 — after every scored hit, doc_id desc
    among themselves — consistent with the pure-mask path and
    facet_counts (which both include them)."""
    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    texts = {r["doc_id"]: set(r["text"].split()) for r in corpus.select("doc_id", "text").collect()}
    rows = bm25.search(fielded_reader, "w00001 OR lang:de", k=1000).collect()
    got_ids = [r["doc_id"] for r in rows]
    want_ids = {d for d in texts if "w00001" in texts[d] or langs[d] == "de"}
    assert set(got_ids) == want_ids
    # scored docs first (desc), then the zero-score mask-only tail
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    zero_tail = [r["doc_id"] for r in rows if r["score"] == 0.0]
    assert zero_tail == sorted(zero_tail, reverse=True)
    assert all(langs[d] == "de" and "w00001" not in texts[d] for d in zero_tail)
    assert zero_tail  # the corpus really has mask-only matches


def test_unknown_term_is_empty_not_a_corpus_scan(fielded_reader, corpus):
    """A query term absent from the dictionary must short-circuit: no
    postings relation is read at all (postings(terms=[]) would be an
    UNFILTERED corpus scan), and an OR with a mask disjunct still
    returns the mask-admitted docs at score 0."""
    assert bm25.search(fielded_reader, "zzqqxxnotaterm", k=5).collect() == []
    rows = bm25.search(fielded_reader, "zzqqxxnotaterm OR lang:de", k=1000).collect()
    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    assert rows and all(r["score"] == 0.0 for r in rows)
    assert {r["doc_id"] for r in rows} == {d for d, l in langs.items() if l == "de"}


def test_wand_stopword_override_parity(spark, tmp_path):
    """Per-query use_stopwords override reaches search_wand: on a
    stopword-analyzed index, use_stopwords=False must NOT re-strip the
    stopword index-side (rank parity with search(), which goes empty on
    the never-indexed term)."""
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    docs = spark.createDataFrame(
        [(i, f"the quick w{i % 4:05d} fox") for i in range(32)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "stop_idx")
    build_index(spark, docs, idx, n_shards=1, block_bits=4,
                use_stopwords=True, overwrite=True)
    r = IndexReader(spark, idx)
    q = "the AND w00001"
    # default: both paths strip 'the' per the index analyzer — non-empty, equal
    want_def = [(x["doc_id"], round(x["score"], 9))
                for x in bm25.search(r, q, k=10).collect()]
    got_def = [(x["doc_id"], round(x["score"], 9))
               for x in bm25.search_wand_query(r, q, k=10).collect()]
    assert got_def == want_def and got_def
    # override: 'the' stays in the query; the index never wrote it, so
    # the AND is empty on BOTH paths (pre-fix, search_wand re-stripped
    # it with the index settings and returned w00001 docs)
    assert bm25.search(r, q, k=10, use_stopwords=False).collect() == []
    assert bm25.search_wand_query(r, q, k=10, use_stopwords=False).collect() == []


def test_fused_plan_matches_general_path(reader, oracle, monkeypatch):
    """The single-pass coverage plan (one postings decode + one groupBy)
    must return the exact rows/scores of the general candidate-join plan
    on every fused-eligible query shape: AND, OR, nested, NOT under AND,
    prefix expansion, boost, and a dictionary-miss term."""
    queries = [
        "w00000",
        "w00001 AND w00004",
        "w00050 OR w00003",
        "(w00001 OR w00002) AND w00004",
        "w00001 NOT w00000",
        "w0000* OR w00050",
        "w00003^2 OR w00003",
        "w00001 AND zzznotaterm",
        "w00001 OR zzznotaterm",
        "w00001 OR (NOT w00002 w00003)",
    ]
    for q in queries:
        assert bm25._fusible(bm25.qp.parse_query(q)), q
        fused = [(r["doc_id"], round(r["score"], 9))
                 for r in bm25.search(reader, q, k=25, max_expansion=1000).collect()]
        monkeypatch.setattr(bm25, "_fusible", lambda *a, **k: False)
        general = [(r["doc_id"], round(r["score"], 9))
                   for r in bm25.search(reader, q, k=25, max_expansion=1000).collect()]
        monkeypatch.undo()
        assert fused == general, q


def test_fused_never_claims_unfusible_shapes():
    """Phrases, fielded masks, *:*, all-negated ANDs, NOT-under-OR, and
    bare root negation all stay on the general path."""
    pq = bm25.qp.parse_query
    for q in ['"w00001 w00002"', "lang:en AND w00001", "*:*",
              "NOT w00001 NOT w00002", "w00001 OR NOT w00002"]:
        ast = pq(q)
        assert not (bm25._fusible(ast) and not isinstance(ast, bm25.qp.Not)), q
    # root Not: _fusible may accept the subtree, but search() must not fuse
    assert isinstance(pq("NOT w00001"), bm25.qp.Not)


def test_pure_negation_raises_on_both_paths(reader):
    with pytest.raises(bm25.SearchError):
        bm25.search(reader, "NOT w00001", k=10).collect()


def test_fused_candidates_match_general_in_facets_and_time(reader, oracle, corpus, monkeypatch):
    """facet_counts and search_time_newest answer fused-eligible queries
    through the single-pass candidate plan; both must equal the general
    _eval_candidates plan row-for-row."""
    from miru_spark.query.bm25 import facet_counts

    for q in ["w00001 AND w00004", "(w00003 OR w00050) -w00001", "w0000*"]:
        fused_f = [(r["value"], r["n"]) for r in
                   facet_counts(reader, q, "lang", k=10, max_expansion=1000).collect()]
        fused_t = [(r["doc_id"], r["score"]) for r in
                   bm25.search_time_newest(reader, q, k=30, max_expansion=1000).collect()]
        monkeypatch.setattr(bm25, "_fusible", lambda *a, **k: False)
        gen_f = [(r["value"], r["n"]) for r in
                 facet_counts(reader, q, "lang", k=10, max_expansion=1000).collect()]
        gen_t = [(r["doc_id"], r["score"]) for r in
                 bm25.search_time_newest(reader, q, k=30, max_expansion=1000).collect()]
        monkeypatch.undo()
        assert fused_f == gen_f, q
        assert fused_t == gen_t, q


def test_time_newest_pruned_matches_full(reader, oracle, monkeypatch):
    """Block-pruned TIME strategy must equal the unpruned plan: multi-
    term boolean shapes, constraint masks, keyset paging, and a 1-block
    first span that forces deepening rounds."""
    for q, kw in [
        ("w00001", {}),
        ("w00001 OR w00004", {}),
        ("w00001 AND w00004 NOT w00000", {}),
        ("w0000*", {"max_expansion": 1000}),
        ("w00001", {"first_span": 1}),
        ("w00001 OR w00004", {"first_span": 1, "k": 100}),
    ]:
        k = kw.pop("k", 12)
        got = [r["doc_id"] for r in
               bm25.search_time_newest(reader, q, k=k, **kw).collect()]
        monkeypatch.setattr(bm25, "_fusible", lambda *a, **kk: False)
        want = [r["doc_id"] for r in
                bm25.search_time_newest(reader, q, k=k, **kw).collect()]
        monkeypatch.undo()
        assert got == want and got, (q, got[:5], want[:5])


def test_time_newest_pruned_with_constraint(spark, corpus, fielded_reader, monkeypatch):
    from pyspark.sql import functions as F

    got = [r["doc_id"] for r in bm25.search_time_newest(
        fielded_reader, "w00001", k=8, constraint=F.col("lang") == "en",
        first_span=1).collect()]
    monkeypatch.setattr(bm25, "_fusible", lambda *a, **kk: False)
    want = [r["doc_id"] for r in bm25.search_time_newest(
        fielded_reader, "w00001", k=8,
        constraint=F.col("lang") == "en").collect()]
    monkeypatch.undo()
    assert got == want and got


def test_fused_only_shapes_never_reach_general_path(reader, monkeypatch):
    """A fused-eligible shape the general evaluator would reject
    (NOT-under-OR inside a negated subtree) must answer consistently
    whether or not its positive terms exist in the dictionary — never
    flip to a data-dependent SearchError."""
    q_hit = "w00001 AND NOT (w00002 OR NOT w00003)"
    q_miss = "zzztypo AND NOT (w00002 OR NOT w00003)"
    assert bm25._fusible(bm25.qp.parse_query(q_hit))

    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("fused query must not reach _eval_candidates")

    monkeypatch.setattr(bm25, "_eval_candidates", boom)
    assert bm25.search(reader, q_hit, k=5).collect()  # answers
    assert bm25.search(reader, q_miss, k=5).collect() == []  # empty, no raise


def test_time_newest_phrase_via_text(reader, corpus, oracle):
    """search_time_newest answers phrase queries like every other entry
    point: newest-k of the adjacency-verified candidate set."""
    t1, t2 = _top_bigram(oracle)
    got = [r["doc_id"] for r in bm25.search_time_newest(
        reader, f'"{t1} {t2}"', k=8, text_df=corpus).collect()]
    want = sorted(
        (d for d, toks in oracle.tokens.items()
         if any(a == t1 and b == t2 for a, b in zip(toks, toks[1:]))),
        reverse=True)[:8]
    assert got and got == want


def test_search_batch_matches_per_query(reader):
    """search_batch answers each query rank- and score-identically to
    search(): shared-scan flat shapes, a fallback (nested) shape, a
    boosted OR, and an AND with an unindexed conjunct (empty)."""
    qs = {
        "a": "w00000 AND w00001",
        "b": "w00050 OR w00003",
        "c": "w00001^2 OR w00004",
        "d": "zzzabsent AND w00001",
        "e": "(w00000 OR w00001) AND w00002",
    }
    rows = bm25.search_batch(reader, qs, k=12).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, q in qs.items():
        exp = bm25.search(reader, q, k=12).collect()
        got = by_q.get(qid, [])
        assert [r["rank"] for r in got] == list(range(1, len(exp) + 1))
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], qid
        for g, e in zip(got, exp):
            assert abs(g["score"] - e["score"]) < 1e-9
    assert "d" not in by_q  # unindexed conjunct voids the query


def test_search_batch_block_prune_identical(reader):
    """The shared block-coverage prune (an AND query's matches live only
    in blocks containing ALL its terms) never changes an answer —
    forced on (the test index is below the auto threshold) it is row-
    identical to the unpruned shared scan across AND/OR mixes."""
    qs = {
        "a": "w00000 AND w00001 AND w00002",
        "b": "w00050 OR w00003",
        "c": "the0 AND w00007",
        "d": "w00001^2 AND w00004",
    }
    base = bm25.search_batch(reader, qs, k=12, block_prune=False).collect()
    pruned = bm25.search_batch(reader, qs, k=12, block_prune=True).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in pruned] == \
        [(r["query_id"], r["rank"], r["doc_id"]) for r in base]
    for p, b in zip(pruned, base):  # float-sum order may differ by ULPs
        assert abs(p["score"] - b["score"]) < 1e-9


def test_search_batch_empty_and_stopword_queries(reader):
    assert bm25.search_batch(reader, {}, k=5).collect() == []
    # an all-stopword query contributes nothing; the other query answers
    rows = bm25.search_batch(
        reader, {"s": "the", "t": "w00002"}, k=5, use_stopwords=True,
    ).collect()
    assert rows and all(r["query_id"] == "t" for r in rows)


def _batch_vs_search(rd, qs, k=12, **kw):
    rows = bm25.search_batch(rd, qs, k=k, **kw).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, q in qs.items():
        exp = bm25.search(rd, q, k=k, **{x: v for x, v in kw.items()
                                         if x not in ("block_prune",)}).collect()
        got = by_q.get(qid, [])
        assert [r["rank"] for r in got] == list(range(1, len(exp) + 1)), qid
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], qid
        for g, e in zip(got, exp):
            assert abs(g["score"] - e["score"]) < 1e-9, qid
    return by_q


def test_search_batch_phrase_and_fielded_shared(
        spark, fielded_reader, corpus, oracle, monkeypatch):
    """Round 5: phrase and fielded AND shapes ride the SHARED scan —
    per-query rank/score-identical to search(), with exactly ONE
    postings decode in the batch plan and NO per-query search()
    delegation for these shapes."""
    t1, t2 = _top_bigram(oracle)
    qs = {
        "ph": f'w00001 AND "{t1} {t2}"',       # phrase + term
        "bare_ph": f'"{t1} {t2}"',             # bare phrase
        "slop": f'"{t1} {t2}"~1',              # sloppy phrase
        "fld": "lang:en AND w00001",           # fielded mask + term
        "both": f'lang:en AND w00001 AND "{t1} {t2}"',
        "void": "lang:zz AND w00001",          # unindexed mask -> empty
        "flat": "w00000 AND w00001",
        "not_t": "w00001 NOT w00000",          # negated plain term
        "not_f": "w00001 AND NOT lang:de",     # negated fielded mask
        "not_p": f'w00001 NOT "{t1} {t2}"',    # negated phrase
        "not_u": "w00001 NOT zzzabsent",       # unindexed negation: no-op
    }
    decode_calls = []
    real_decode = type(fielded_reader).decode

    def counting_decode(self, *a, **k):
        decode_calls.append(1)
        return real_decode(self, *a, **k)

    monkeypatch.setattr(type(fielded_reader), "decode", counting_decode)

    def no_fallback(*a, **k):
        raise AssertionError("shared shape must not delegate to search()")

    monkeypatch.setattr(bm25, "search", no_fallback)
    plan = bm25.search_batch(fielded_reader, qs, k=12, text_df=corpus)
    rows = plan.collect()
    assert len(decode_calls) == 1  # one shared postings decode
    monkeypatch.undo()
    by_q = _batch_vs_search(fielded_reader, qs, k=12, text_df=corpus)
    assert "void" not in by_q
    assert by_q["ph"] and by_q["fld"] and by_q["both"] and by_q["bare_ph"]
    assert by_q["not_t"] and by_q["not_f"] and by_q["not_p"] and by_q["not_u"]
    # negations actually bite: docs holding the negated term are gone
    not_t_ids = {r["doc_id"] for r in by_q["not_t"]}
    flat_ids = {r["doc_id"] for r in by_q["flat"]}
    assert not (not_t_ids & flat_ids)  # w00000-holders excluded
    assert len(rows) == sum(len(v) for v in by_q.values())


def test_search_batch_phrase_fielded_prune_identical(
        spark, fielded_reader, corpus, oracle):
    """Block-coverage pruning with phrases + masks in the batch never
    changes an answer (phrase matches are a subset of their constituent
    AND, and mask terms are conjuncts like any other)."""
    t1, t2 = _top_bigram(oracle)
    qs = {
        "ph": f'w00001 AND "{t1} {t2}"',
        "fld": "lang:en AND w00001 AND w00002",
        "or2": "w00050 OR w00003",
        "not_t": "w00001 AND w00002 NOT w00000",
        "not_p": f'w00001 NOT "{t1} {t2}"',
    }
    base = bm25.search_batch(
        fielded_reader, qs, k=12, text_df=corpus, block_prune=False).collect()
    pruned = bm25.search_batch(
        fielded_reader, qs, k=12, text_df=corpus, block_prune=True).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in pruned] == \
        [(r["query_id"], r["rank"], r["doc_id"]) for r in base]
    for p, b in zip(pruned, base):
        assert abs(p["score"] - b["score"]) < 1e-9


def test_sidecar_prune_path_matches_unpruned(spark, built_index, monkeypatch):
    """The test indexes are far below the sidecar-prune threshold, so no
    other test takes the doclens semi-join. Forced on, every index-backed
    entry point must answer exactly as the unpruned scan does."""
    from miru_spark.index.reader import IndexReader

    q_and, q_or = "w00001 AND w00004", "w00002 OR w00005 OR w00010"
    batch = {"a": q_and, "b": q_or, "c": "the0 AND w00003"}

    def answers(r):
        rows = sorted(bm25.search_batch(r, batch, k=10).collect(),
                      key=lambda x: (x["query_id"], x["rank"]))
        return {
            "wand_and": bm25.search_wand_query(r, q_and, k=10).collect(),
            "wand_or": bm25.search_wand_query(r, q_or, k=10).collect(),
            "exact": bm25.search(r, q_and, k=10).collect(),
            "time": bm25.search_time_newest(r, q_or, k=10).collect(),
            **{f"batch_{q}": [x for x in rows if x["query_id"] == q] for q in batch},
        }

    plain = IndexReader(spark, built_index.index_dir)
    assert plain.n_docs <= IndexReader._SIDECAR_SCAN_MAX_DOCS
    assert plain.pruned_doclens(["w00001"]) is plain.doclens_blocks()
    want = answers(plain)

    monkeypatch.setattr(IndexReader, "_SIDECAR_SCAN_MAX_DOCS", 0)
    pruned = IndexReader(spark, built_index.index_dir)
    assert pruned.pruned_doclens(["w00001"]) is not pruned.doclens_blocks()
    got = answers(pruned)
    for name, rows in want.items():
        assert rows, name
        _assert_rank_identical(got[name], [(x["doc_id"], x["score"]) for x in rows])


def _jobs_and_plans(spark, group: str, fn) -> tuple[int, list[str]]:
    """Run ``fn`` under a job group; return its job count and the
    physical plans of the SQL executions it started."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in executions()), default=-1)
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > before]
    return len(sc.statusTracker().getJobIdsForGroup(group)), plans


# Spark jobs per query shape on the test indexes, on a reader whose base
# relations are already open (opening one infers its parquet schema in a
# job of its own, once per reader). A ceiling may only go down: more
# jobs for a shape is a regression of its fixed per-query cost.
_JOB_CEILINGS = {
    "and_wand": 2,
    "or_wand": 2,
    "and_exact": 4,
    "time_newest": 10,
    "fielded": 10,
    "router_nested": 31,
    "batch": 7,
}


def test_query_job_ceilings_and_local_relations(spark, reader, fielded_reader):
    """Pin the job count of each query shape, and that no shape plans a
    Python-list relation: a Scan ExistingRDD over anything but a local
    checkpoint is a createDataFrame that fell out of Arrow, and costs a
    Python-worker stage per query."""
    import re

    for r in (reader, fielded_reader):
        for rel in ("postings", "doclens", "docs", "dictionary"):
            r._rel(rel)
    shapes = {
        "and_wand": lambda r: bm25.search_wand_query(r, "the0 AND w00002", k=10),
        "or_wand": lambda r: bm25.search_wand_query(r, "w00002 OR w00005 OR w00010", k=10),
        "and_exact": lambda r: bm25.search(r, "the0 AND w00002", k=10),
        "time_newest": lambda r: bm25.search_time_newest(r, "the0 AND w00002", k=10),
        "fielded": lambda r: bm25.search_wand_query(r, "w00003 AND lang:en", k=10),
        "router_nested": lambda r: bm25.search_wand_query(
            r, "the0 AND (w00004 OR w00006) AND NOT w00001", k=10),
        "batch": lambda r: bm25.search_batch(
            r, {"a": "the0 AND w00002", "b": "w00002 OR w00005", "c": "w00007 AND w00009"},
            k=10),
    }
    counts = {}
    for name, shape in shapes.items():
        r = fielded_reader if name == "fielded" else reader
        n, plans = _jobs_and_plans(spark, f"ceiling-{name}", lambda: shape(r).collect())
        counts[name] = n
        for plan in plans:
            for rdd in re.findall(r"Arguments: .*, ExistingRDD, .*", plan):
                assert "localCheckpoint" in rdd, (name, rdd)
    assert all(counts[s] <= c for s, c in _JOB_CEILINGS.items()), (counts, _JOB_CEILINGS)
