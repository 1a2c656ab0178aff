"""Pure-Python BM25 oracle — the rank-identity reference for pytest.

Computes top-k (doc_id, score) over a corpus dict with the exact same
analyzer, idf, and tie-break as the engine. Any divergence between the
Spark pipeline and this oracle is a correctness bug.
"""

from __future__ import annotations

import math
from collections import Counter

from miru_spark.analysis.tokenizer import tokenize

K1 = 1.2
B = 0.75


class OracleIndex:
    def __init__(self, docs: dict[int, str], use_stopwords: bool = False):
        self.tokens = {d: tokenize(t, use_stopwords=use_stopwords) for d, t in docs.items()}
        self.tf = {d: Counter(toks) for d, toks in self.tokens.items()}
        self.doclen = {d: len(toks) for d, toks in self.tokens.items()}
        self.n_docs = len(docs)
        self.avgdl = sum(self.doclen.values()) / self.n_docs if self.n_docs else 0.0
        self.df = Counter()
        for c in self.tf.values():
            self.df.update(c.keys())

    def idf(self, term: str) -> float:
        df = self.df.get(term, 0)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def postings(self, term: str) -> set[int]:
        return {d for d, c in self.tf.items() if term in c}

    def expand_prefix(self, prefix: str) -> list[str]:
        return sorted(t for t in self.df if t.startswith(prefix))

    def expand_fuzzy(self, term: str, max_edits: int) -> list[str]:
        return sorted(t for t in self.df if levenshtein(t, term) <= max_edits)

    def expand_wildcard(self, pattern: str) -> list[str]:
        from fnmatch import fnmatchcase

        return sorted(t for t in self.df if fnmatchcase(t, pattern))

    def expand_regexp(self, pattern: str) -> list[str]:
        import re as _re

        return sorted(t for t in self.df if _re.fullmatch(pattern, t))

    def phrase_slop_docs(self, terms: list[str], slop: int) -> set[int]:
        """Docs where ``terms`` appear in order within a window of
        len(terms)+slop tokens (the engine's ordered-sloppy semantics)."""
        n = len(terms)
        w = n + slop
        hits: set[int] = set()
        for d, toks in self.tokens.items():
            for i in range(max(len(toks) - n + 1, 0)):
                st = 0
                for x in toks[i:i + w]:
                    if st < n and x == terms[st]:
                        st += 1
                if st == n:
                    hits.add(d)
                    break
        return hits

    def candidates_and(self, terms: list[str]) -> set[int]:
        sets = [self.postings(t) for t in terms]
        return set.intersection(*sets) if sets else set()

    def candidates_or(self, terms: list[str]) -> set[int]:
        out: set[int] = set()
        for t in terms:
            out |= self.postings(t)
        return out

    def score(
        self, doc: int, terms: list[str], k1: float = K1, b: float = B,
        boosts: dict[str, float] | None = None,
    ) -> float:
        s = 0.0
        for t in dict.fromkeys(terms):
            tf = self.tf[doc].get(t, 0)
            if tf == 0:
                continue
            norm = k1 * (1.0 - b + b * self.doclen[doc] / self.avgdl)
            w = (boosts or {}).get(t, 1.0)
            s += w * self.idf(t) * tf * (k1 + 1.0) / (tf + norm)
        return s

    def topk(
        self, candidates: set[int], terms: list[str], k: int,
        boosts: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        scored = [(self.score(d, terms, boosts=boosts), d) for d in candidates]
        scored.sort(key=lambda x: (-x[0], -x[1]))
        return [(d, s) for s, d in scored[:k]]

    def match(self, node, fields: dict | None = None) -> set[int]:
        """Docs satisfying a parsed query tree: And / Or / Not over terms,
        prefixes, wildcards, fuzzy terms, ``*:*`` and fielded exact terms
        (``fields``: field -> {doc_id: value}). The set algebra of the
        engine's boolean model, evaluated doc by doc."""
        from miru_spark.query import parser as qp

        every = set(self.tf)
        if isinstance(node, qp.Not):
            return every - self.match(node.child, fields)
        if isinstance(node, qp.And):
            out = every
            for c in node.children:
                out = out & self.match(c, fields)
            return out
        if isinstance(node, qp.Or):
            out: set[int] = set()
            for c in node.children:
                out |= self.match(c, fields)
            return out
        if isinstance(node, qp.MatchAll):
            return every
        if isinstance(node, qp.Term) and node.field is not None:
            value = node.term.split(":", 1)[1]
            return {d for d, v in (fields or {})[node.field].items() if v == value}
        return self.candidates_or(self.leaf_terms(node))

    def leaf_terms(self, leaf) -> list[str]:
        from miru_spark.query import parser as qp

        if isinstance(leaf, qp.Term):
            return [leaf.term]
        if isinstance(leaf, qp.Prefix):
            return self.expand_prefix(leaf.prefix)
        if isinstance(leaf, qp.Wildcard):
            return self.expand_wildcard(leaf.pattern)
        if isinstance(leaf, qp.Fuzzy):
            return self.expand_fuzzy(leaf.term, leaf.max_edits)
        raise NotImplementedError(leaf)

    def search(self, node, k: int, fields: dict | None = None,
               removed: set[int] = frozenset()) -> list[tuple[int, float]]:
        """Top-k of a parsed query tree: the docs it matches minus
        ``removed``, scored over its positive unfielded leaves' terms,
        each term once with its largest boost."""
        from miru_spark.query import parser as qp

        boosts: dict[str, float] = {}
        for leaf in qp.positive_leaves(node):
            if getattr(leaf, "field", None) is None and not isinstance(leaf, qp.MatchAll):
                for t in self.leaf_terms(leaf):
                    w = getattr(leaf, "boost", 1.0)
                    boosts[t] = max(boosts.get(t, w), w)
        return self.topk(self.match(node, fields) - set(removed), list(boosts), k,
                         boosts=boosts)


def levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance (the pytest twin of F.levenshtein)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
