"""Seeded Common-Crawl-shaped corpora and query mixes.

Everything the program under test receives is made here from a seed:
document rows ``(doc_id, text, lang, source)`` and query strings. The
shape follows ``bench.synth_corpus``: a Zipf-like vocabulary
``w00000 .. w{V-1}`` (token id = floor(V * u^3), so low ids are frequent),
doc length 50..150 tokens, and a head term ``the0`` prepended to ~60% of
docs. Tokens are lowercase ASCII words separated by one space, so
whitespace splitting equals the engine analyzer's output (the oracle
relies on that; ``run.py`` re-checks it on a sample every run).

Queries are small trees (``Q``) rendered to the engine's query syntax by
``render`` and to SQL by ``oracle.py``, so the oracle never goes through
the engine's parser.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

HEAD = "the0"
HEAD_SHARE = 0.6
LANGS = ("en", "de", "fr", "es", "it")
SOURCES = ("cc", "news", "forum", "wiki")
_WORD = 7  # "w00042 " — fixed-width word plus its separator

# token-id bands of the Zipf vocabulary used to pick query terms
HEAD_IDS = (0, 30)
MID_IDS = (30, 1000)
TAIL_MIN = 1000


def word(i: int) -> str:
    return f"w{i:05d}"


def generate(n_docs: int, seed: int, *, vocab: int = 30000, first_id: int = 0) -> pd.DataFrame:
    """``n_docs`` rows with ids ``first_id ..``; a pure function of its arguments."""
    if not 0 < vocab <= 100000:
        raise ValueError("vocab must be in 1..100000 (five-digit words)")
    rng = np.random.default_rng([seed, first_id, vocab])
    lens = rng.integers(50, 151, n_docs)
    ids = np.floor(vocab * rng.random(int(lens.sum())) ** 3).astype(np.int64)
    table = np.frombuffer(
        "".join(word(i) + " " for i in range(vocab)).encode(), dtype=np.uint8
    ).reshape(vocab, _WORD)
    buf = table[ids].reshape(-1).tobytes().decode("ascii")
    ends = np.cumsum(lens) * _WORD
    starts = ends - lens * _WORD
    head = rng.random(n_docs) < HEAD_SHARE
    text = [
        (HEAD + " " if h else "") + buf[s:e - 1]
        for s, e, h in zip(starts.tolist(), ends.tolist(), head.tolist())
    ]
    return pd.DataFrame({
        "doc_id": np.arange(first_id, first_id + n_docs, dtype=np.int64),
        "text": text,
        "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": np.asarray(SOURCES)[rng.integers(0, len(SOURCES), n_docs)],
    })


def shape(frame: pd.DataFrame, vocab: int, shards: int) -> dict:
    """The corpus shape a result records."""
    return {
        "docs": int(len(frame)),
        "vocab": vocab,
        "head_share": round(float(frame["text"].str.startswith(HEAD + " ").mean()), 4),
        "shards": shards,
    }


@dataclass(frozen=True)
class Q:
    """A query tree node: op is term | field | phrase | and | or | not."""

    op: str
    args: tuple

    def terms(self, positive: bool = True) -> list[str]:
        """Text terms under this node; ``positive`` skips NOT subtrees."""
        if self.op == "term":
            return [self.args[0]]
        if self.op == "phrase":
            return list(self.args)
        if self.op == "field":
            return []
        if self.op == "not":
            return [] if positive else self.args[0].terms(False)
        return [t for a in self.args for t in a.terms(positive)]


def term(t: str) -> Q:
    return Q("term", (t,))


def render(q: Q, top: bool = True) -> str:
    if q.op == "term":
        return q.args[0]
    if q.op == "field":
        return f"{q.args[0]}:{q.args[1]}"
    if q.op == "phrase":
        return '"' + " ".join(q.args) + '"'
    if q.op == "not":
        return "NOT " + render(q.args[0], False)
    s = f" {q.op.upper()} ".join(render(a, False) for a in q.args)
    return s if top else f"({s})"


class QueryGen:
    """Seeded query shapes over one corpus. Terms that must co-occur are
    taken from one random document, so every AND shape has hits."""

    SINGLE = ("and_head", "and_head_exact", "and_rare", "or3", "router_nested",
              "fielded", "time_newest")
    FLAT = ("and_head", "and_rare", "or3", "fielded")

    def __init__(self, frame: pd.DataFrame, seed: int, vocab: int):
        self.rng = np.random.default_rng([seed, 7919])
        self.text = frame["text"].to_numpy()
        self.vocab = vocab

    def _doc_tokens(self, pred) -> list[str]:
        while True:
            toks = self.text[self.rng.integers(len(self.text))].split(" ")
            picked = [t for t in dict.fromkeys(toks) if t != HEAD and pred(int(t[1:]))]
            if len(picked) >= 2:
                return picked

    def _band(self, lo: int, hi: int) -> str:
        return word(int(self.rng.integers(lo, min(hi, self.vocab))))

    def make(self, shape_name: str) -> Q:
        r = self.rng
        if shape_name in ("and_head", "and_head_exact", "time_newest"):
            return Q("and", (term(HEAD), term(self._band(*HEAD_IDS))))
        if shape_name == "and_rare":
            a, b = r.choice(self._doc_tokens(lambda i: i >= TAIL_MIN), 2, replace=False)
            return Q("and", (term(str(a)), term(str(b))))
        if shape_name == "or3":
            tail = self._doc_tokens(lambda i: i >= TAIL_MIN)[0]
            return Q("or", (term(self._band(*HEAD_IDS)), term(self._band(*MID_IDS)), term(tail)))
        if shape_name == "router_nested":
            a, b = (self._band(*MID_IDS) for _ in range(2))
            c = self._band(*HEAD_IDS)
            return Q("and", (term(HEAD), Q("or", (term(a), term(b))), Q("not", (term(c),))))
        if shape_name == "fielded":
            lang = LANGS[int(r.integers(len(LANGS)))]
            return Q("and", (term(self._band(*MID_IDS)), Q("field", ("lang", lang))))
        if shape_name == "phrase":
            toks = self.text[r.integers(len(self.text))].split(" ")
            i = int(r.integers(len(toks) - 1))
            return Q("phrase", (toks[i], toks[i + 1]))
        raise ValueError(f"unknown query shape {shape_name!r}")

    def batch(self, n: int, shapes: tuple = FLAT) -> dict[str, Q]:
        """``n`` queries for ``search_batch``, keyed q00..; ``shapes`` cycle."""
        return {f"q{i:02d}": self.make(shapes[i % len(shapes)]) for i in range(n)}
