"""Independent DuckDB BM25 oracle over the generated corpus.

Tokens are whitespace-split in SQL (the generated text is lowercase ASCII
words, so this equals the engine analyzer — ``run.py`` asserts it on a
sample). Scoring is Lucene-style BM25 with k1=1.2, b=0.75 and
``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``; ties break by score desc,
then doc_id desc. Positive terms score once each (NOT terms and fielded
masks do not score); phrases require adjacent tokens and their terms
score like plain terms.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from corpus import Q

K1 = 1.2
B = 0.75
REL_TOL = 1e-9  # float-summation-order slack when comparing scores
EXTRA = 20  # rows past k that topk returns, so a comparison sees ties at the cut


class Oracle:
    def __init__(self, frame: pd.DataFrame):
        self.con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        self.con.register("src", frame[["doc_id", "text", "lang"]])
        self.con.execute(
            "CREATE TABLE toks AS SELECT doc_id, unnest(string_split(text, ' ')) AS term, "
            "unnest(range(len(string_split(text, ' ')))) AS pos FROM src")
        self.con.execute(
            "CREATE TABLE docs AS SELECT s.doc_id, s.lang, t.doclen FROM src s JOIN "
            "(SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id) t USING (doc_id)")
        self.con.execute(
            "CREATE TABLE post AS SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY ALL")
        self.con.unregister("src")

    def close(self) -> None:
        self.con.close()

    def remove(self, doc_ids) -> None:
        """Drop docs, as compaction does (stats become exact again)."""
        self.con.register("gone", pd.DataFrame({"doc_id": list(doc_ids)}))
        for t in ("toks", "docs", "post"):
            self.con.execute(f"DELETE FROM {t} WHERE doc_id IN (SELECT doc_id FROM gone)")
        self.con.unregister("gone")

    def stats(self, terms: list[str]) -> dict:
        n, n_terms = self.con.execute(
            "SELECT (SELECT count(*) FROM docs), (SELECT count(DISTINCT term) FROM post)"
        ).fetchone()
        df = dict(self.con.execute(
            "SELECT term, count(*) FROM post WHERE list_contains(?, term) GROUP BY term",
            [terms]).fetchall())
        return {"n_docs": n, "n_terms": n_terms, "df": {t: df.get(t, 0) for t in terms}}

    def _having(self, q: Q) -> str:
        if q.op == "term":
            return f"bool_or(term = {_lit(q.args[0])})"
        if q.op == "field":
            if q.args[0] != "lang":
                raise ValueError(f"oracle knows only the lang field, not {q.args[0]!r}")
            return f"any_value(lang) = {_lit(q.args[1])}"
        if q.op == "phrase":
            a, b = q.args
            return (f"doc_id IN (SELECT x.doc_id FROM toks x JOIN toks y ON x.doc_id = y.doc_id "
                    f"AND y.pos = x.pos + 1 WHERE x.term = {_lit(a)} AND y.term = {_lit(b)})")
        if q.op == "not":
            return f"NOT ({self._having(q.args[0])})"
        return "(" + f" {q.op.upper()} ".join(self._having(a) for a in q.args) + ")"

    def topk(self, q: Q, k: int, *, newest: bool = False) -> list[tuple[int, float]]:
        """Top ``k + EXTRA`` (doc_id, score). ``newest``: the TIME
        strategy — newest matching ids, score 0."""
        scoring = sorted(set(q.terms()))
        every = sorted(set(q.terms(False)) | set(scoring))
        order = "doc_id DESC" if newest else "score DESC, doc_id DESC"
        sql = f"""
        WITH st AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM docs),
        df AS (SELECT term, count(*)::DOUBLE AS df FROM post
               WHERE list_contains($every, term) GROUP BY term),
        hits AS (SELECT p.doc_id, p.term, p.tf::DOUBLE AS tf, d.doclen, d.lang,
                        ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) AS idf, st.avgdl
                 FROM post p JOIN docs d USING (doc_id) JOIN df USING (term), st)
        SELECT doc_id, sum(CASE WHEN list_contains($scoring, term)
            THEN idf * tf * {K1 + 1.0} / (tf + {K1} * ({1.0 - B} + {B} * doclen / avgdl))
            ELSE 0.0 END) AS score
        FROM hits GROUP BY doc_id HAVING {self._having(q)}
        ORDER BY {order} LIMIT {int(k + EXTRA)}"""
        rows = self.con.execute(sql, {"every": every, "scoring": scoring}).fetchall()
        return [(int(d), 0.0 if newest else float(s)) for d, s in rows]


def _lit(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def same_newest(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> bool:
    """TIME answers: exactly the k newest matching ids, newest first."""
    return [d for d, _ in got] == [d for d, _ in want[:k]]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> bool:
    """Rank identity of the engine's top-k against the oracle's ranking
    (``want`` may run past k). Exact id order is required except inside a
    run of scores equal within REL_TOL, whose members may swap; at the
    cut, any member of the tied run may fill the last places."""
    if len(got) != min(k, len(want)):
        return False
    if [d for d, _ in got] == [d for d, _ in want[:k]]:
        return all(_close(g, w) for (_, g), (_, w) in zip(got, want))
    score = dict(want)
    for i, (d, s) in enumerate(got):
        if d not in score or not _close(s, score[d]) or not _close(s, want[i][1]):
            return False
    return len({d for d, _ in got}) == len(got)
