"""Benchmark-side checks: seeded generators and the DuckDB oracle.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

No Spark session is started.
"""

import math
import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import corpus  # noqa: E402
from corpus import Q, QueryGen, render, term  # noqa: E402
from oracle import Oracle, same_newest, same_topk  # noqa: E402

SHAPES = QueryGen.SINGLE + ("phrase",)


def test_same_seed_reproduces_and_seeds_differ():
    a, b = corpus.generate(300, 7), corpus.generate(300, 7)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(corpus.generate(300, 8)["text"])
    qa = [render(QueryGen(a, 7, 30000).make(s)) for s in SHAPES]
    qb = [render(QueryGen(b, 7, 30000).make(s)) for s in SHAPES]
    qc = [render(QueryGen(a, 8, 30000).make(s)) for s in SHAPES]
    assert qa == qb and qa != qc


def test_corpus_shape():
    f = corpus.generate(2000, 3)
    lens = f["text"].str.split(" ").map(len) - f["text"].str.startswith("the0 ")
    assert lens.between(50, 150).all()
    assert abs(corpus.shape(f, 30000, 1)["head_share"] - corpus.HEAD_SHARE) <= 0.05
    assert list(f.columns) == ["doc_id", "text", "lang", "source"]
    tail = corpus.generate(100, 3, first_id=2000)
    assert tail["doc_id"].tolist() == list(range(2000, 2100))


def test_whitespace_split_equals_analyzer():
    from miru_spark.analysis.tokenizer import tokenize

    for text in corpus.generate(200, 5)["text"]:
        assert tokenize(text) == text.split(" ")


def _bm25(frame, q_terms, must):
    """Hand-rolled BM25 over a tiny frame, for cross-checking the SQL."""
    toks = {d: t.split(" ") for d, t in zip(frame["doc_id"], frame["text"])}
    n = len(toks)
    avgdl = sum(map(len, toks.values())) / n
    df = Counter(t for ts in toks.values() for t in set(ts))
    out = []
    for d, ts in toks.items():
        tf = Counter(ts)
        if not must(set(ts), d):
            continue
        s = 0.0
        for t in set(q_terms):
            if tf[t]:
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf[t] * 2.2 / (tf[t] + 1.2 * (0.25 + 0.75 * len(ts) / avgdl))
        out.append((d, s))
    return sorted(out, key=lambda x: (-x[1], -x[0]))


TINY = pd.DataFrame({
    "doc_id": [0, 1, 2, 3, 4],
    "text": ["a b c", "a a d", "b c a e", "d e", "c a b a"],
    "lang": ["en", "de", "en", "de", "en"],
})


def test_oracle_scores_match_hand_bm25():
    o = Oracle(TINY)
    try:
        q = Q("and", (term("a"), Q("or", (term("b"), term("d"))), Q("not", (term("e"),))))
        want = _bm25(TINY, ["a", "b", "d"],
                     lambda ts, d: "a" in ts and ("b" in ts or "d" in ts) and "e" not in ts)
        got = o.topk(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want]
        assert all(math.isclose(g, w, rel_tol=1e-12) for (_, g), (_, w) in zip(got, want))
        fielded = Q("and", (term("a"), Q("field", ("lang", "en"))))
        assert {d for d, _ in o.topk(fielded, 10)} == {0, 2, 4}
        phrase = Q("phrase", ("b", "c"))
        assert {d for d, _ in o.topk(phrase, 10)} == {0, 2}
        assert o.topk(Q("and", (term("a"), term("c"))), 2, newest=True)[:2] == [
            (4, 0.0), (2, 0.0)]
        assert o.stats(["a", "zz"]) == {"n_docs": 5, "n_terms": 5, "df": {"a": 4, "zz": 0}}
        o.remove([4])
        assert o.stats(["a"])["df"] == {"a": 3}
    finally:
        o.close()


def test_oracle_catches_a_corrupted_answer():
    f = corpus.generate(1500, 11)
    o = Oracle(f)
    try:
        q = QueryGen(f, 11, 30000).make("or3")
        want = o.topk(q, 10)
        good = want[:10]
        assert same_topk(good, want, 10)
        swapped = [good[1], good[0]] + good[2:]
        if not math.isclose(good[0][1], good[1][1]):
            assert not same_topk(swapped, want, 10)
        assert not same_topk(good[:9], want, 10)  # a hit went missing
        assert not same_topk([(good[0][0], good[0][1] * 1.001)] + good[1:], want, 10)
        assert not same_topk([(10**9, good[0][1])] + good[1:], want, 10)  # unknown doc
        assert not same_topk(good[:9] + [good[8]], want, 10)  # duplicate
    finally:
        o.close()


def test_oracle_catches_a_wrong_time_window():
    f = corpus.generate(1500, 13)
    o = Oracle(f)
    try:
        q = QueryGen(f, 13, 30000).make("time_newest")
        want = o.topk(q, 10, newest=True)
        ids = [d for d, _ in want]
        assert len(ids) == 30 and ids == sorted(ids, reverse=True)
        assert same_newest(want[:10], want, 10)
        assert not same_newest(want[10:20], want, 10)  # ranks 11-20
        assert not same_newest(want[:10][::-1], want, 10)  # oldest first
        assert not same_newest(want[:9], want, 10)
    finally:
        o.close()


def test_tied_scores_may_swap():
    want = [(9, 2.0), (5, 1.0), (4, 1.0), (1, 0.5)]
    assert same_topk([(9, 2.0), (4, 1.0 + 1e-13), (5, 1.0)], want, 3)
    assert same_topk([(9, 2.0), (5, 1.0), (4, 1.0)], want, 3)
    assert not same_topk([(9, 2.0), (5, 1.0), (1, 0.5)], want, 3)
