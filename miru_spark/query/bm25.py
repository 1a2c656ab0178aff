"""BM25 top-k search over the block-max posting index.

The reference scores fulltext matches with a linear tf model
(multiplier = queryTermCount / global Σtf; score += multiplier * tf) over
a bounded top-k heap with (score desc, id desc) tie-break (reference:
miru-stream-plugins ``.../fulltext/FullText.java:99-219`` — multiplier
118-127, batched tf lookups 172-219, heap 129-135; tie-break
``RawBitScore.compareTo`` 295-303). Per SURVEY §2.11 / the north rule we
upgrade the scorer to real BM25 (k1=1.2, b=0.75, Lucene-style idf) while
keeping the same candidate-set semantics and total ordering.

Two physical strategies:

- The block-max WAND kernel (``_wand_topk``) answers every query whose
  answers all hold a scoring term (:func:`_wand_shape` ``filter``), from
  every entry point: ``search``, ``search_wand``, ``search_wand_query``,
  ``search_batch``, ``search_time_newest`` and ``facet_counts``. Blocks
  of all query terms are co-grouped by ``block_key`` (for an AND only
  doc ranges where *every* required term has postings survive —
  posting-list intersection at block granularity), then a
  ``mapInPandas`` pass keeps a per-partition bounded heap and skips
  decoding any block group whose block-max BM25 upper bound cannot beat
  the current heap threshold (block-max WAND). The query's boolean
  filter (fielded masks, NOT terms, nested groups) is decided in the
  same pass, per block. A batch shares the pass: one exchange over the
  union of its queries' terms, a heap per query. Per-partition top-k is
  safe: the global top-k is contained in the union of per-partition
  top-k's. search()'s ``authz`` labels join the filter as one more
  conjunct; the ``constraint`` mask, rounding and the TIME and facet
  orders take every answer of an unbounded run instead of a heap. The
  kernel's Spark code does not depend on the query: term lists reach it
  as literal values, so a new query reuses the compiled classes.
- The candidate join (``_eval_candidates``) answers phrases, pure masks
  and ungrounded ORs: boolean algebra over decoded posting doc-sets
  (AND -> inner join, OR -> union distinct, NOT -> left_anti — the
  or/and/andNot bitmap family, ``MiruBitmaps.java:87-131``), then score
  = sum of per-term BM25 contributions grouped by doc_id, then Spark's
  distributed TakeOrderedAndProject (``orderBy().limit(k)``) — a
  per-partition bounded heap merged on the driver, exactly the
  reference's heap + sorted answer merge (``FullTextAnswerMerger.java``).
"""

from __future__ import annotations

import functools
import heapq
import math
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from miru_spark.index import codec
from miru_spark.index.builder import _DOCLENS_SCHEMA, _POSTINGS_SCHEMA
from miru_spark.index.reader import IndexReader, sql_strings
from miru_spark.query import parser as qp

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def _bm25_score_col(idf_col, k1: float, b: float, avgdl: float):
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.lit(avgdl))
    return idf_col * tf * F.lit(k1 + 1.0) / (tf + norm)


class SearchError(ValueError):
    pass


@functools.lru_cache(maxsize=64)  # keyed by this module's DDL literals
def _arrow_schema(ddl: str) -> pa.Schema:
    return to_arrow_schema(T._parse_datatype_string(ddl))


def _local_rel(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side relation (query maps, idf tables, empty
    answers) built through Arrow. It plans as a LocalTableScan; a
    ``createDataFrame(<python list>)`` plans as Scan ExistingRDD, a
    Python-worker stage that costs ~0.3 s per query before any work."""
    sch = _arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(sch)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, sch)], schema=sch))


def _max_boost_fold(pairs) -> dict[str, float]:
    """Per-term max clause weight over the (term, weight) pairs of the
    leaves containing the term — the engine's dedup-terms-then-sum boost
    model (Lucene `term^N`): a term reached through several leaves
    scores once with the MAX weight, no implicit 1.0 floor (fractional
    down-boosts apply; an unboosted sibling lifts the max back to 1.0).
    Shared by search() and the WAND kernel's compile step
    (:func:`_compile_wand`) so the rule cannot drift between paths."""
    out: dict[str, float] = {}
    for t, w in pairs:
        out[t] = max(out[t], w) if t in out else w
    return out


def composite_authz(
    reader: IndexReader, values: list[str], field: str = "authz"
) -> DataFrame:
    """Union of per-label posting lists — the reference's
    ``MiruAuthzIndex.getCompositeAuthz`` (OR of the label bitmaps,
    ``MiruAuthzIndex.java:13``; per-label inverted indexes
    ``LabAuthzIndex.java``; the expression is a flat value list,
    ``MiruAuthzExpression.java:11-18``).

    Each label's "bitmap" is the posting list of the composite keyword
    term ``field:value`` (built by ``build_index(keyword_fields=...)`` —
    array-typed columns give multi-label docs). The composite is their
    distinct union; removals are folded by the caller's answer mask, as
    in the reference (authz AND ¬removal applied to the answer)."""
    if not values:  # empty expression grants nothing (terms=[] would
        # mean "no term filter" to the reader, i.e. everything)
        return _local_rel(reader.spark, [], "doc_id long")
    terms = [f"{field}:{v}" for v in values]
    return reader.postings(terms=terms).select("doc_id").distinct()


def _expand(reader: IndexReader, node, max_expansion: int) -> dict:
    """Map each expanding leaf (Prefix / Fuzzy / TermRange) to its
    dictionary expansion, computed once per query. Prefixes key by their
    prefix string; Fuzzy / TermRange leaves are frozen dataclasses and
    key by the leaf itself."""
    out = {}
    for leaf in qp._all_leaves(node):
        if isinstance(leaf, qp.Prefix) and leaf.prefix not in out:
            out[leaf.prefix] = reader.expand_prefix(leaf.prefix, max_expansion)
        elif isinstance(leaf, qp.Wildcard) and leaf not in out:
            # fielded-ness rides the AST leaf, never a ':'-in-pattern guess
            # (a bare pattern containing ':' must stay in the text vocab)
            out[leaf] = reader.expand_wildcard(
                leaf.pattern, max_expansion, fielded=leaf.field is not None)
        elif isinstance(leaf, qp.Regexp) and leaf not in out:
            out[leaf] = reader.expand_regexp(
                leaf.pattern, max_expansion, fielded=leaf.field is not None)
        elif isinstance(leaf, qp.Fuzzy) and leaf not in out:
            # same cap knob as wildcards; Lucene FuzzyQuery's own default
            # (maxExpansions=50) is the caller's to request
            out[leaf] = reader.expand_fuzzy(
                leaf.term, leaf.max_edits, max_expansion=max_expansion)
        elif isinstance(leaf, qp.TermRange) and leaf not in out:
            out[leaf] = reader.expand_range(
                leaf.field, leaf.lo, leaf.hi,
                include_lo=leaf.include_lo, include_hi=leaf.include_hi,
                max_expansion=max(max_expansion, 1000))
    return out


def _leaf_terms(leaf, expansions) -> list[str]:
    if isinstance(leaf, qp.Term):
        return [leaf.term]
    if isinstance(leaf, qp.Phrase):
        return list(leaf.terms)
    if isinstance(leaf, (qp.Wildcard, qp.Regexp, qp.Fuzzy, qp.TermRange)):
        return expansions.get(leaf, [])
    if isinstance(leaf, qp.Prefix):
        return expansions.get(leaf.prefix, [])
    # total over LEAF_TYPES: MatchAll (and any future leaf) contributes no
    # scoring terms — it is a candidate-set construct, not a term source
    return []


def _phrase_hit_col(terms: list[str], text_col: str, use_stopwords: bool,
                    slop: int = 0, locale: str | None = None):
    """JVM predicate: the analyzed token stream of ``text_col`` contains
    ``terms`` consecutively (slop=0), or in order within a window of
    ``len(terms) + slop`` tokens (ordered sloppy phrase, ``"a b"~N``).
    Whole-stage-codegen expression (tokens_col is the parity-tested JVM
    twin of the Arrow tokenizer — per locale, so non-en analyzers verify
    phrases too) — no Python in the verify path."""
    from miru_spark.analysis.tokenizer import tokens_col

    n = len(terms)
    pat = F.array(*[F.lit(t) for t in terms])
    # sloppy: greedy subsequence automaton over each (n + slop)-token
    # window — greedy matching is exact for subsequence containment, and
    # any in-order occurrence spanning <= n + slop tokens is contained in
    # the window starting at its first matched token
    w = n + slop

    def _hit(toks):
        # greatest(...,1) keeps the sequence ascending for docs shorter
        # than the phrase; their (short) slice never equals pat
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
        if slop <= 0:
            return F.exists(idx, lambda i: F.slice(toks, i, n) == pat)
        return F.exists(idx, lambda i: F.aggregate(
            F.slice(toks, i, w),
            F.lit(0),
            lambda acc, x: F.when(
                (acc < n) & (x == F.element_at(pat, acc + 1)), acc + 1
            ).otherwise(acc),
        ) >= n)

    # bind the token array ONCE per row: the tokenizer expression used
    # inside the per-start-index lambda would be evaluated again for
    # every index. A lambda variable is never substituted back by the
    # optimizer (a projected column can be, when a filter is pushed
    # through the alias), so a one-element outer exists binds it.
    toks = tokens_col(F.col(text_col), use_stopwords=use_stopwords, locale=locale)
    return F.exists(F.array(toks), _hit)


def _parse_for_index(reader: IndexReader, query, *, locale=None, use_stopwords=None):
    """Parse/normalize a query through an analyzer consistent with the
    index. Defaults come from the index's stored build settings, but the
    reference carries ``locale`` and ``useStopWords`` on the QUERY
    (``FullTextQuery.java:22-44`` -> ``FullText.parseQuery`` ->
    ``TermAnalyzers.findAnalyzer``), so both are overridable per call —
    e.g. a stopword-keeping index still answers a stopword-stripping
    query by dropping the stopwords from the query side only.

    Returns None when the whole query vanishes (all stopwords).
    """
    from miru_spark.analysis.tokenizer import find_analyzer

    if locale is None:
        locale = reader.stats.get("locale")
    if use_stopwords is None:
        use_stopwords = bool(reader.stats.get("use_stopwords"))
    ast = qp.parse_query(query, locale=locale) if isinstance(query, str) else query
    if use_stopwords:
        ast = qp.prune_stopwords(ast, find_analyzer(locale).stopwords)
    return ast


def _eval_candidates(reader: IndexReader, node, expansions, phrase_ctx=None) -> DataFrame:
    """Boolean evaluation -> DataFrame of distinct candidate doc_ids."""
    if isinstance(node, qp.Phrase):
        # candidates: posting-list AND over the phrase's terms (cheap,
        # index-side); adjacency then verified against the doc TEXT with
        # one codegen expression — verification cost is O(candidates),
        # never a corpus scan. This is the positional-index-free phrase
        # plan: the AND intersection is exactly what a positional index
        # would walk, and the verify join replaces position-list decode.
        if phrase_ctx is None:
            raise SearchError(
                "phrase query needs text_df= (a (doc_id, text) relation — "
                "the doc store or source table) for adjacency verification"
            )
        text_df, text_col, use_stop, loc, use_pos = phrase_ctx
        if use_pos:
            # positional sidecar: the phrase is answered from the index
            # alone — term filter pushed to the positions scan, adjacency
            # decided by the vectorized greedy-chain kernel per block. No
            # doc-text relation in the plan at all.
            from miru_spark.index.positions import phrase_match_ids

            return phrase_match_ids(
                reader, list(node.terms), getattr(node, "slop", 0)
            ).select("doc_id")
        acc = None
        for t in dict.fromkeys(node.terms):
            df = reader.postings(terms=[t]).select("doc_id")
            acc = df if acc is None else acc.join(df, "doc_id", "inner")
        verified = (
            text_df.select(F.col("doc_id").cast("long").alias("doc_id"), F.col(text_col))
            .join(acc, "doc_id", "left_semi")
            .filter(_phrase_hit_col(
                list(node.terms), text_col, use_stop,
                slop=getattr(node, "slop", 0), locale=loc))
            .select("doc_id")
        )
        return verified
    if isinstance(node, qp.MatchAll):
        # every live doc (MatchAllDocsQuery): the doc store's id column,
        # a columnar scan of one slim column; removals/constraints fold
        # in the callers like any candidate set
        return reader.doc_store().select("doc_id")
    if isinstance(node, (qp.Term, qp.Prefix, qp.Wildcard, qp.Regexp, qp.Fuzzy, qp.TermRange)):
        terms = _leaf_terms(node, expansions)
        if not terms:
            # unmatched prefix / fuzzy / range -> empty set
            return reader.spark.range(0).select(F.col("id").alias("doc_id"))
        df = reader.postings(terms=terms).select("doc_id")
        multi = not isinstance(node, qp.Term) and len(terms) > 1
        return df.distinct() if multi else df
    if isinstance(node, qp.And):
        positives = [c for c in node.children if not isinstance(c, qp.Not)]
        negatives = [c.child for c in node.children if isinstance(c, qp.Not)]
        if not positives:
            raise SearchError("pure-negation query not supported (as in Lucene)")
        acc = _eval_candidates(reader, positives[0], expansions, phrase_ctx)
        for c in positives[1:]:
            acc = acc.join(
                _eval_candidates(reader, c, expansions, phrase_ctx), "doc_id", "inner")
        for c in negatives:
            acc = acc.join(
                _eval_candidates(reader, c, expansions, phrase_ctx), "doc_id", "left_anti")
        return acc
    if isinstance(node, qp.Or):
        if any(isinstance(c, qp.Not) for c in node.children):
            raise SearchError("NOT directly under OR not supported")
        acc = _eval_candidates(reader, node.children[0], expansions, phrase_ctx)
        for c in node.children[1:]:
            acc = acc.union(_eval_candidates(reader, c, expansions, phrase_ctx))
        return acc.distinct()
    raise SearchError(f"cannot evaluate node {node!r}")


def _grounded(node) -> bool:
    """True when every doc satisfying ``node`` holds a posting of one of
    its positive unfielded (scoring) leaves: such a tree's answers are
    all among the docs the WAND kernel enumerates. Fielded leaves,
    ``*:*`` and negations ground nothing; an And is grounded by any
    child, an Or only by all of them."""
    if isinstance(node, qp.And):
        return any(_grounded(c) for c in node.children)
    if isinstance(node, qp.Or):
        return all(_grounded(c) for c in node.children)
    if isinstance(node, (qp.Not, qp.MatchAll)):
        return False
    return getattr(node, "field", None) is None


def _eval_rejects(node, inside_not: bool = True) -> bool:
    """True when :func:`_eval_candidates` rejects the tree loudly: an And
    of negations only, or a Not directly under an Or, anywhere (with
    ``inside_not=False``: outside every Not). :func:`_wand_shape` refuses
    these, so every entry point raises on them alike."""
    if isinstance(node, qp.Not):
        return inside_not and _eval_rejects(node.child)
    if not isinstance(node, (qp.And, qp.Or)):
        return False
    negs = [isinstance(c, qp.Not) for c in node.children]
    if all(negs) if isinstance(node, qp.And) else any(negs):
        return True
    return any(_eval_rejects(c, inside_not) for c in node.children)


def _masked(reader: IndexReader, cands: DataFrame, constraint, authz,
            authz_field: str) -> DataFrame:
    """The ``constraint`` and ``authz`` masks as semi-joins on a
    candidate relation (doc_id, ...)."""
    if constraint is not None:
        mask = reader.doc_store().filter(constraint).select("doc_id")
        cands = cands.join(mask, "doc_id", "left_semi")
    if authz is not None:
        cands = cands.join(
            composite_authz(reader, authz, authz_field), "doc_id", "left_semi")
    return cands


def _zero_score_topk(
    reader: IndexReader, cands: DataFrame, k: int, *,
    constraint=None, authz=None, authz_field="authz",
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Shared tail of every zero-score (TIME-ordering) answer over
    removal-free candidates: the constraint / authz masks, the keyset
    cursor, and the newest-first top-k. Every row scores 0, so
    ``after=(s, d)`` reduces to: all rows qualify when s > 0, rows with
    doc_id < d when s == 0, none when s < 0 (the cursor outranks every
    zero-score row)."""
    cands = _masked(reader, cands, constraint, authz, authz_field)
    if after is not None:
        a_score, a_doc = float(after[0]), int(after[1])
        if a_score == 0.0:
            cands = cands.filter(F.col("doc_id") < a_doc)
        elif a_score < 0.0:
            cands = cands.filter(F.lit(False))
    return (
        cands.withColumn("score", F.lit(0.0))
        .orderBy(F.col("doc_id").desc())
        .limit(k)
    )


def search(
    reader: IndexReader,
    query: str,
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    max_expansion: int = 100,
    round_to: int | None = None,
    constraint=None,
    after: tuple[float, int] | None = None,
    locale: str | None = None,
    use_stopwords: bool | None = None,
    gather_fields: list[str] | None = None,
    authz: list[str] | None = None,
    authz_field: str = "authz",
    text_df: DataFrame | None = None,
    text_col: str = "text",
    phrase_via: str = "auto",
) -> DataFrame:
    """Top-k BM25: returns DataFrame(doc_id long, score double), ordered
    (score desc, doc_id desc), limited to k.

    Plan: a query whose answers all hold a scoring term
    (:func:`_wand_shape` ``filter``: terms, boosts, expansions, fielded
    masks and NOT terms under an AND, nested groups) runs the block-max
    WAND kernel (:func:`_wand_topk`), as :func:`search_wand_query` does;
    ``authz`` rides the kernel's filter as one more conjunct. With
    ``constraint`` or ``round_to`` the kernel keeps every answer instead
    of a heap: the constraint semi-joins its answers, and rounding can
    reorder the top-k. Phrases, pure masks and ORs with a
    fielded disjunct take the candidate join (:func:`_eval_candidates`)
    and a scoring decode.

    ``text_df``: (doc_id, <text_col>) relation — the doc store or the
    source table — required only when the query contains a quoted
    ``"exact phrase"``. Phrase candidates come from the posting-list AND
    of the phrase's terms; adjacency is then verified against this
    relation with one JVM expression (O(candidates), no corpus scan).
    Phrase terms also contribute BM25 weight like ordinary terms.

    ``gather_fields``: stored doc-store columns joined back AFTER the
    top-k limit — the reference's lazy Promise gather, which only
    materializes display fields for surviving hits
    (``FullText.java:204-217, 316-333``; project-after-limit).

    ``after``: continuation cursor ``(score, doc_id)`` of the last hit of
    the previous page — only strictly-lower-ranked hits return (keyset
    pagination on the total order). The reference pages the same way via
    ``report.lowestScore`` + collected ids (``FullText.java:113-135``,
    ``FullTextQuery/Report``); a keyset cursor needs no id list because
    our (score desc, doc_id desc) order is total.

    ``authz``: visibility label list — a doc survives if ANY of its
    indexed ``authz_field`` labels is in the list. Resolved INDEX-side
    as the union of the labels' composite-term posting lists
    (:func:`composite_authz`), never by scanning the doc store — the
    reference ANDs the composite authz bitmap into every answer
    (``MiruAuthzIndex.getCompositeAuthz``).

    ``constraint``: optional mask over the doc store's stored columns
    (a Column expression, e.g. ``F.col("lang") == "en"`` or a
    ``warc_ts`` BETWEEN range), ANDed into the candidate set exactly
    like the reference's constraints/time-range/authz masks
    (``FullTextCustomQuestion.java:89-114``). The mask is a semi-join
    against the (slim) doc store.
    """
    empty = "doc_id long, score double"
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], empty)
    expansions = _expand(reader, ast, max_expansion)

    shape = _wand_shape(ast)
    if shape is not None and shape.kind == "filter":
        if authz is not None:
            # the authz mask as one more filter conjunct: any label's
            # composite term (composite_authz's postings), no scoring
            ast = qp.And(children=[ast, qp.Or(children=[
                qp.Term(term=f"{authz_field}:{v}", field=authz_field) for v in authz])])
        plan, _ = _compile_wand(reader, ast, expansions)
        if plan is None or not plan.idf or k <= 0:
            # unsatisfiable, or no scoring term in the dictionary
            return _gather(reader, _local_rel(reader.spark, [], empty), gather_fields)
        if constraint is None and round_to is None:
            return _gather(reader, _wand_one(reader, plan, k, k1=k1, b=b, after=after),
                           gather_fields)
        scored = _masked(reader, _wand_topk(
            reader, {"": plan._replace(bounded=False)}, k, k1=k1, b=b,
        ).select("doc_id", "score"), constraint, None, authz_field)
        return _ranked_topk(reader, scored, k, round_to, after, gather_fields)

    phrase_ctx = _phrase_ctx_for(
        reader, ast, locale=locale, use_stopwords=use_stopwords,
        text_df=text_df, text_col=text_col, phrase_via=phrase_via)
    # candidate set: the boolean tree's docs, masked; tombstoned docs
    # never reach the scorer (the reference ANDs ¬removal into every
    # answer, FullTextCustomQuestion.java:89)
    candidates = _anti_removed(reader, _masked(
        reader, _eval_candidates(reader, ast, expansions, phrase_ctx),
        constraint, authz, authz_field))

    # fielded leaves (``lang:en``) are exact-match candidate MASKS — they
    # intersect the answer like the reference's constraints/authz filters
    # but contribute no BM25 weight; only default-field text terms score.
    # Under OR a mask disjunct ADMITS docs instead of filtering them:
    # those docs carry no scoring signal and return with score 0 (below
    # every scored hit; doc_id-desc among themselves) — consistent with
    # the pure-mask TIME path and with facet_counts, which counts them.
    pos_terms: list[str] = []
    for leaf in qp.positive_leaves(ast):
        if leaf.field is not None:
            continue
        for t in _leaf_terms(leaf, expansions):
            if t not in pos_terms:
                pos_terms.append(t)
    if not pos_terms:
        # pure-mask query (every positive leaf is fielded): no scoring
        # terms, so fall back to the TIME ordering — newest-first with
        # score 0 (the reference's prime ordering / TIME strategy,
        # ``FullText.java:222-251``). The keyset cursor applies here
        # too — zero scores make it a pure doc_id cut.
        out = _zero_score_topk(reader, candidates, k, after=after)
        return _gather(reader, out, gather_fields, time_order=True)

    stats = reader.term_stats(pos_terms)
    # Lucene-classic `term^N` boost: the clause weight multiplies the
    # term's score contribution (BoostQuery semantics), folded into the
    # broadcast idf relation with the kernel's rule (_max_boost_fold).
    # NB: the weight variable must NOT be named `b` — that is the BM25
    # length-normalization parameter in this scope.
    tboost = _max_boost_fold(
        (t, float(getattr(leaf, "boost", 1.0)))
        for leaf in qp.positive_leaves(ast) if leaf.field is None
        for t in _leaf_terms(leaf, expansions))
    idf_rows = [
        (t, reader.idf(stats[t]["df"]) * tboost.get(t, 1.0))
        for t in pos_terms if t in stats
    ]
    if not idf_rows:
        # no query term exists in the dictionary: skip the scoring scan
        # entirely — postings(terms=[]) would otherwise read the WHOLE
        # postings relation (an empty isin is no filter), a corpus scan
        # per typo'd query at 10^12 docs. Whatever candidates survive
        # (mask-admitted disjuncts) rank as score 0.
        scored = candidates.withColumn("score", F.lit(0.0))
    else:
        idf_df = _local_rel(reader.spark, idf_rows, "term string, idf double")
        scored = (
            reader.postings(
                terms=[t for t, _ in idf_rows],
                df_bound=sum(stats[t]["df"] for t, _ in idf_rows),
            )
            .join(F.broadcast(idf_df), "term")
            .withColumn("contrib", _bm25_score_col(F.col("idf"), k1, b, reader.avgdl))
            .join(candidates, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
        if not _grounded(ast):
            # `spark OR lang:en`: a doc admitted only through the fielded
            # disjunct has no scoring-term posting row — complete it with
            # score 0 (matching the pure-mask path and facet_counts,
            # which both count such docs). Left join from the already-
            # masked candidate set; scored docs keep their BM25 sum.
            scored = (
                candidates.join(scored, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("score", F.lit(0.0)).alias("score"),
                )
            )
    return _ranked_topk(reader, scored, k, round_to, after, gather_fields)


def _ranked_topk(reader: IndexReader, scored: DataFrame, k: int, round_to,
                 after, gather_fields) -> DataFrame:
    """search()'s tail over every (doc_id, score) answer: rounding, the
    keyset cursor on the rounded score, the top-k and the gather."""
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    if after is not None:
        a_score, a_doc = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < a_score)
            | ((F.col("score") == a_score) & (F.col("doc_id") < a_doc))
        )
    out = scored.orderBy(F.col("score").desc(), F.col("doc_id").desc()).limit(k)
    return _gather(reader, out, gather_fields)


def _gather(reader: IndexReader, topk: DataFrame, gather_fields, *, time_order=False) -> DataFrame:
    """Join stored display fields onto an already-limited top-k — the
    gather runs over <= k rows, never over the candidate set."""
    if not gather_fields:
        return topk
    # broadcast the <=k-row top-k side; inner join (every posting doc_id
    # exists in the doc store) so the big side streams past the tiny hash
    out = F.broadcast(topk).join(
        reader.doc_store().select("doc_id", *gather_fields), "doc_id"
    ).select("doc_id", "score", *gather_fields)
    order = [F.col("doc_id").desc()] if time_order else [
        F.col("score").desc(), F.col("doc_id").desc()]
    return out.orderBy(*order)


def _phrase_ctx_for(reader, ast, *, locale, use_stopwords, text_df, text_col,
                    phrase_via: str = "auto"):
    """Shared phrase-verification context for every query entry point
    (search / facet_counts / search_wand_query): a missing text relation
    fails loudly, not silently, and the index's analyzer locale rides
    along so the JVM verify expression tokenizes the text exactly as the
    index did (``tokens_col`` has a parity-tested twin per analyzer —
    non-en locales verify phrases too).

    ``phrase_via`` picks the adjacency-verification plan:
      - ``"text"``       — re-analyze candidate docs' text (requires
                           ``text_df``; the positional-index-free plan)
      - ``"positions"``  — the positional sidecar (index-native; fails
                           loudly if absent or built under a different
                           analyzer than this query's effective one)
      - ``"auto"``       — positions when usable, else text
    Both plans compute the same match set (pytest-pinned parity), so the
    switch never changes results — only which relation the verify touches.
    """
    if not any(isinstance(l, qp.Phrase) for l in qp._all_leaves(ast)):
        return None
    from miru_spark.index.positions import positions_usable

    eff_locale = locale if locale is not None else reader.stats.get("locale")
    eff_stop = (
        use_stopwords if use_stopwords is not None
        else bool(reader.stats.get("use_stopwords"))
    )
    if phrase_via == "text":
        use_pos = False
    elif phrase_via == "positions":
        if not positions_usable(reader.index_dir, eff_locale, eff_stop):
            raise SearchError(
                "phrase_via='positions' but the index has no positional "
                "sidecar usable for this query: missing, built under a "
                f"different analyzer (locale={eff_locale!r}, "
                f"use_stopwords={eff_stop}), or stale after an index "
                "mutation (append/compaction) — re-run build_positions, "
                "or drop the per-query analyzer override"
            )
        use_pos = True
    elif phrase_via == "auto":
        use_pos = positions_usable(reader.index_dir, eff_locale, eff_stop)
    else:
        raise SearchError(
            f"phrase_via must be 'auto', 'text' or 'positions', got {phrase_via!r}")
    if not use_pos and text_df is None:
        raise SearchError(
            "phrase query needs text_df= (doc store or source table)"
        )
    return (text_df, text_col, eff_stop, eff_locale, use_pos)


def facet_counts(
    reader: IndexReader,
    query: str,
    field: str,
    k: int = 10,
    *,
    max_expansion: int = 100,
    locale: str | None = None,
    use_stopwords: bool | None = None,
    text_df: DataFrame | None = None,
    text_col: str = "text",
    phrase_via: str = "auto",
) -> DataFrame:
    """Top-k values of a stored field over the query's matching docs —
    faceting, the reference's ``AggregateCounts``/``Distincts`` answer
    shape applied to a fulltext candidate set (``MiruAggregateUtil.
    gather`` over the answer bitmap). Returns DataFrame(value, n),
    ordered (n desc, value) and limited to k.

    Plan: the query's docs from one unbounded WAND kernel run (a
    ``filter`` shape, :func:`_wand_shape`) or the candidate join
    (:func:`_eval_candidates`, removals anti-joined), then one
    semi-pruned doc-store join, one partial-aggregated groupBy, top-k
    via TakeOrderedAndProject. Cost is O(candidates), never a corpus
    scan."""
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], "value string, n long")
    expansions = _expand(reader, ast, max_expansion)
    shape = _wand_shape(ast)
    if shape is not None and shape.kind == "filter":
        plan, _ = _compile_wand(reader, ast, expansions)
        if plan is None or not plan.idf:
            return _local_rel(reader.spark, [], "value string, n long")
        cands = _kernel_ids(reader, plan)
    else:
        phrase_ctx = _phrase_ctx_for(
            reader, ast, locale=locale, use_stopwords=use_stopwords,
            text_df=text_df, text_col=text_col, phrase_via=phrase_via)
        cands = _anti_removed(reader, _eval_candidates(reader, ast, expansions, phrase_ctx))
    # docs missing the facet field are SKIPPED, as Lucene/miru faceting
    # does — without this a corpus-scale null bucket can occupy the top-k
    return (
        reader.doc_store()
        .select("doc_id", F.col(field).cast("string").alias("value"))
        .filter(F.col("value").isNotNull())
        .join(cands, "doc_id", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("value"))
        .limit(k)
    )


def _anti_removed(reader: IndexReader, df: DataFrame) -> DataFrame:
    """Anti-join the removal mask — skipped entirely on a removal-free
    index (the common case): an empty-relation anti-join still plans a
    sort-merge join with two exchanges before AQE collapses it at
    runtime, pure stage latency on every query."""
    if not reader.has_removals():
        return df
    return df.join(reader.removed_docs(), "doc_id", "left_anti")


def search_batch(
    reader: IndexReader,
    queries: dict[str, str],
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    round_to: int | None = None,
    locale: str | None = None,
    use_stopwords: bool | None = None,
    gather_fields: list[str] | None = None,
    text_df: DataFrame | None = None,
    text_col: str = "text",
    phrase_via: str = "auto",
) -> DataFrame:
    """Answer MANY queries in ONE block-max WAND kernel pass.

    Returns DataFrame(query_id string, rank long, doc_id long,
    score double), per-query rank-identical to :func:`search`, ordered
    (query_id, rank), <= k rows per query.

    The serving-scale shape the reference's solver takes for free — many
    concurrent tenant queries against one partition
    (``MiruLowestLatencySolver``) — with one decode shared among queries
    that have terms in common. Each query is classified by
    :func:`_wand_shape` and compiled as :func:`search_wand_query`
    compiles it (:func:`_compile_wand`: scoring terms with their max
    boost folded into the idf, and a boolean filter tree). Every
    ``filter`` query (terms, boosts, expansions, fielded masks, NOT
    terms, nested groups) and every ``phrase_and`` query rides ONE
    :func:`_wand_topk` pass: one ``groupBy(block_key)`` exchange over
    the union of the queries' terms, each block group decoded once per
    term, a heap and a block-max skip per query. A phrase query — and,
    with ``round_to``, every query, because rounding can reorder the
    top-k — keeps no heap bound and emits every doc that passes its
    tree (phrases relaxed to their terms' AND); phrase adjacency then
    comes from ONE shared phrase-match relation per distinct phrase
    (:func:`_batch_phrase_filter`). Any other shape (a root OR with
    fielded disjuncts, phrases under an OR or deeper, pure-mask queries,
    and the shapes search() rejects) is answered by :func:`search` per
    query and unioned in. A query whose filter is unsatisfiable (a
    conjunct absent from the dictionary) is empty without a scan. The
    top-k per query is a window partitioned by query_id — bounded
    per-group state, no global sort — and its exchange is the last one:
    the (query_id, rank) order is sorted in the window's own stage.
    """
    out_schema = "query_id string, rank long, doc_id long, score double"
    kernel: dict[str, tuple] = {}  # qid -> (shape, expansions)
    fallback: dict[str, object] = {}
    for qid, q in queries.items():
        ast = _parse_for_index(
            reader, q, locale=locale, use_stopwords=use_stopwords)
        if ast is None:
            continue  # all-stopword query: empty, like search()
        shape = _wand_shape(ast)
        if shape is not None and shape.kind in ("filter", "phrase_and"):
            kernel[qid] = (shape, _expand(reader, shape.kernel, 100))
        else:
            fallback[qid] = ast
    # one dictionary read for every kernel query's terms
    reader.term_stats([t for shape, ex in kernel.values()
                       for leaf in qp._all_leaves(shape.kernel)
                       for t in _leaf_terms(leaf, ex)])
    plans: dict[str, _WandPlan] = {}
    for qid, (shape, ex) in kernel.items():
        plan, _ = _compile_wand(reader, shape.kernel, ex)
        if plan is not None and plan.idf:  # else provably empty
            plans[qid] = plan._replace(
                bounded=shape.kind == "filter" and round_to is None)

    parts: list[DataFrame] = []
    if plans and k > 0:
        scored = _wand_topk(reader, plans, k, k1=k1, b=b)
        phrased = {qid: kernel[qid][0] for qid in plans
                   if kernel[qid][0].kind == "phrase_and"}
        if phrased:
            scored = _batch_phrase_filter(
                reader, scored, phrased, locale=locale,
                use_stopwords=use_stopwords, text_df=text_df,
                text_col=text_col, phrase_via=phrase_via)
        parts.append(scored)
    for qid, ast in fallback.items():
        # round_to passes through: the delegate's top-k cut must happen
        # on the same (rounded) scores as the kernel queries' window, or
        # a rounded tie at the k boundary breaks rank-identity
        parts.append(
            search(
                reader, ast, k, k1=k1, b=b, round_to=round_to,
                locale=locale, use_stopwords=use_stopwords, text_df=text_df,
                text_col=text_col, phrase_via=phrase_via,
            ).select(F.lit(qid).alias("query_id"), "doc_id", "score")
        )
    if not parts:
        return _local_rel(reader.spark, [], out_schema)
    allq = functools.reduce(DataFrame.unionByName, parts)
    if round_to is not None:
        allq = allq.withColumn("score", F.round("score", round_to))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").desc())
    out = (
        allq.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    if gather_fields:
        # lazy gather, batch shape: join stored fields onto the already
        # bounded (<= N*k rows) result — broadcast the tiny side, stream
        # the doc store past it (same discipline as _gather)
        out = F.broadcast(out).join(
            reader.doc_store().select("doc_id", *gather_fields), "doc_id"
        ).select("query_id", "rank", "doc_id", "score", *gather_fields)
    # presentation order with no exchange of its own: the window's
    # query_id exchange is the last one. For k up to the optimizer's
    # windowGroupLimitThreshold, Spark plans a partial WindowGroupLimit
    # below that exchange, so each map task ships at most k rows per
    # query and coalesce(1) merges into a window stage whose input is
    # bounded by partitions x queries x k. A larger k, or a gather join
    # (it streams the doc store, which must stay parallel), keeps the
    # shuffle boundary of repartition(1) instead.
    limited = k <= int(reader.spark.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold"))
    one = out.coalesce(1) if limited and not gather_fields else out.repartition(1)
    return one.sortWithinPartitions("query_id", "rank")


def _batch_phrase_filter(reader, scored, shapes, *, locale, use_stopwords,
                         text_df, text_col, phrase_via):
    """Phrase adjacency for the batch's ``phrase_and`` queries over the
    kernel's (query_id, doc_id, score) output: a (query, doc) survives
    when every phrase conjunct of the query matches the doc and no
    negated one does; phrase-free queries pass untouched. ONE
    phrase-match relation per distinct (terms, slop) across the batch:
    the positions sidecar (index-native), or the doc text of the phrase
    queries' kernel answers (docs known to hold every constituent term,
    so the text verify costs O(candidates) and reads no postings)."""
    def key(p):
        return tuple(p.terms), int(getattr(p, "slop", 0))

    keys = list(dict.fromkeys(key(p) for s in shapes.values()
                              for p in (*s.phrases, *s.neg_phrases)))
    ix = {kk: i for i, kk in enumerate(keys)}
    # (query_id, phrase, good): good=1 for a conjunct, 0 for a negation
    req = F.broadcast(_local_rel(reader.spark, list(dict.fromkeys(
        [(qid, ix[key(p)], 1) for qid, s in shapes.items() for p in s.phrases]
        + [(qid, ix[key(p)], 0) for qid, s in shapes.items() for p in s.neg_phrases])),
        "query_id string, ph int, good int"))
    first = next(p for s in shapes.values() for p in (*s.phrases, *s.neg_phrases))
    tdf, tcol, eff_stop, eff_locale, use_pos = _phrase_ctx_for(
        reader, first, locale=locale, use_stopwords=use_stopwords,
        text_df=text_df, text_col=text_col, phrase_via=phrase_via)
    if use_pos:
        from miru_spark.index.positions import phrase_match_ids

        hits = functools.reduce(DataFrame.unionByName, [
            phrase_match_ids(reader, list(terms), slop)
            .select("doc_id", F.lit(i).alias("ph"))
            for (terms, slop), i in ix.items()])
    else:
        # the kernel's answers feed both the text candidates and the
        # result. Both read them through ONE exchange, which AQE reuses,
        # so the kernel runs once. The exchange keeps that form only if
        # nothing is pushed below it: it partitions on every column (no
        # column can be pruned under it), the candidate side filters
        # after an aggregate (no predicate moves under it), and the
        # kernel's columns are non-null (no inferred isnotnull filter).
        # test_search_batch_phrase_and_fielded_shared pins this.
        scored = scored.repartition(*scored.columns)
        cand = (scored.groupBy("doc_id")
                .agg(F.max(F.expr(f"query_id IN ({sql_strings(shapes)})")).alias("need"))
                .filter("need").select("doc_id"))
        hit_ix = F.array(*[
            F.when(_phrase_hit_col(list(terms), tcol, eff_stop, slop=slop,
                                   locale=eff_locale), F.lit(i))
            for (terms, slop), i in ix.items()])
        hits = (
            tdf.select(F.col("doc_id").cast("long").alias("doc_id"), F.col(tcol))
            .join(cand, "doc_id", "left_semi")
            .select("doc_id", F.explode(F.filter(hit_ix, lambda i: i.isNotNull())).alias("ph"))
        )
    agg = (hits.join(req, "ph").groupBy("query_id", "doc_id")
           .agg(F.sum("good").alias("n_ok"),
                (F.count(F.lit(1)) - F.sum("good")).alias("n_bad")))
    n_ph = F.broadcast(_local_rel(
        reader.spark, [(qid, len({key(p) for p in s.phrases})) for qid, s in shapes.items()],
        "query_id string, n_ph int"))
    return (
        scored.join(n_ph, "query_id", "left")
        .join(agg, ["query_id", "doc_id"], "left")
        .filter((F.coalesce("n_ok", F.lit(0)) == F.coalesce("n_ph", F.lit(0)))
                & (F.coalesce("n_bad", F.lit(0)) == 0))
        .select("query_id", "doc_id", "score")
    )


def search_time_newest(
    reader: IndexReader, query: str, k: int = 10, *, max_expansion: int = 100,
    constraint=None, locale: str | None = None, use_stopwords: bool | None = None,
    authz: list[str] | None = None, authz_field: str = "authz",
    after: tuple[float, int] | None = None, first_span: int | None = None,
    max_rounds: int = 32, text_df: DataFrame | None = None,
    text_col: str = "text", phrase_via: str = "auto",
) -> DataFrame:
    """TIME strategy: newest-k matching docs, score = 0 (reference:
    ``FullText.java:222-251`` — descending docId, zero scores).
    ``after``: the same keyset cursor as :func:`search` (zero scores
    make it a pure doc_id cut).

    A ``filter`` shape (:func:`_wand_shape`) answers with newest-first
    EARLY TERMINATION — the reference's descending-iterator behavior
    made physical: each round is one unbounded WAND kernel run whose
    postings and sidecar scans are pruned to the newest blocks
    (``block_key >= floor``, a parquet row-group predicate), the window
    quadrupling until k answers survive the constraint/authz masks or
    the index is exhausted. Doc ids are monotone in block_key, so a full
    window's top-k is the global top-k; at 10^12 docs a TIME query
    touches O(k) recent blocks, never the full posting lists. The kernel
    decides each doc within its own block, where every posting of the
    doc lives, so the floor never changes a doc's membership. Window
    sizes are powers of 4, so an index has only a few distinct floors
    and the scans' compiled code is reused across queries.
    ``first_span`` seeds the window (blocks, rounded up to a power of
    4); tests shrink it to force deepening rounds. Other shapes take
    the candidate join (:func:`_eval_candidates`)."""
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    expansions = _expand(reader, ast, max_expansion)
    masks = {"constraint": constraint, "authz": authz, "authz_field": authz_field,
             "after": after}
    shape = _wand_shape(ast)
    if shape is None or shape.kind != "filter":
        # phrase-bearing (or otherwise non-kernel) trees: the same phrase
        # context every other entry point builds — positional sidecar
        # when usable, text verify otherwise, loud error when neither
        phrase_ctx = _phrase_ctx_for(
            reader, ast, locale=locale, use_stopwords=use_stopwords,
            text_df=text_df, text_col=text_col, phrase_via=phrase_via)
        cands = _anti_removed(reader, _eval_candidates(reader, ast, expansions, phrase_ctx))
        return _zero_score_topk(reader, cands, k, **masks)
    plan, stats = _compile_wand(reader, ast, expansions)
    if plan is None or not plan.idf:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    hi = reader.max_block_key()
    if first_span:
        want = int(first_span)
    else:
        # seed the window so ~4k candidates are expected inside it: Σdf
        # over the scoring terms spread across all blocks upper-bounds
        # the answers' density (every answer holds a scoring term)
        density = sum(stats[t]["df"] for t in plan.idf) / (hi + 1)
        want = max(1, math.ceil(4 * k / max(density, 0.25)))
    span = 1
    while span < want:
        span *= 4
    for _ in range(max_rounds):
        floor = max(0, hi - span + 1)
        # one bounded collect per round: the (<= k, newest-first) answer
        # comes back through Arrow and is served as a local relation (a
        # LocalTableScan), so the caller's collect runs no job
        out = _zero_score_topk(
            reader, _kernel_ids(reader, plan, block_floor=floor), k, **masks).toArrow()
        if floor == 0 or out.num_rows >= k:
            return reader.spark.createDataFrame(out)
        span *= 4
    # pathological miss-rate (masks rejecting nearly everything): answer
    # from the full index rather than looping further
    return _zero_score_topk(reader, _kernel_ids(reader, plan), k, **masks)


# ----------------------------------------------------------------------
# Block-max WAND scale path
# ----------------------------------------------------------------------

def search_wand(
    reader: IndexReader,
    terms: list[str],
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    mode: str = "and",
    after: tuple[float, int] | None = None,
    gather_fields: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    locale: str | None = None,
    use_stopwords: bool | None = None,
    stem_terms: bool = True,
) -> DataFrame:
    """Top-k BM25 for a flat AND/OR-of-terms query with block-max pruning.

    ``locale`` / ``use_stopwords``: per-query analyzer overrides, same
    contract as :func:`search` — they default to the INDEX's stored
    settings, and the stopword strip below must honor the override or
    the two entry points diverge on stopword-bearing AND queries.

    ``boosts``: optional per-term clause weights (Lucene ``term^N``).
    BM25's per-term contribution is linear in idf, so the boost folds
    into the per-term idf exactly as :func:`search` does — and because
    the block-max upper bound is linear in the same idf, the folded
    bound stays admissible (a boosted term's bound scales with its
    boost), so pruning never skips a block that could reach the heap.

    The terms become a ``qp.And`` / ``qp.Or`` of boosted terms, compiled
    (:func:`_compile_wand`) and run like any :func:`search_wand_query`
    filter query; an AND with a term missing from the dictionary is
    empty without a scan.

    Physical plan (:func:`_wand_topk`, the kernel every WAND answer
    runs): blocks of the query terms -> groupBy(block_key); with
    ``mode="and"`` only groups containing all |terms| survive
    (block-granular posting-list intersection; work is proportional to
    co-occurring doc ranges, not to the head term's full posting list);
    with ``mode="or"`` every group survives but the block-max upper bound
    of the terms *present in the group* still prunes groups that cannot
    beat the current heap threshold — classic (block-max) WAND, where the
    pruning does the most work for disjunctions. Per-doc scores are
    complete within one group either way: a doc's block_key is a function
    of its doc_id, so all its query-term postings co-group.
    """
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    if k <= 0:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    eff_stop = (
        use_stopwords if use_stopwords is not None
        else bool(reader.stats.get("use_stopwords"))
    )
    from miru_spark.analysis.tokenizer import find_analyzer

    eff_locale = locale if locale is not None else reader.stats.get("locale")
    analyzer = find_analyzer(eff_locale)
    if eff_stop:
        # a stopword-analyzed index never indexed these terms; the
        # reference's analyzer strips them from the query too — without
        # this an AND would go empty on a term the index dropped by design
        terms = [t for t in terms if t not in analyzer.stopwords]
    if stem_terms and analyzer.stem_lang is not None:
        # stemming index: the dictionary holds STEMS, so RAW query terms
        # must pass through the same analyzer (stop filter first, then
        # stem — the order tokenize() uses). AST-driven callers
        # (search_wand_query) never come through here: the parser
        # already analyzed the leaves, and the light stemmers are NOT
        # idempotent ("fitting" -> "fitt"), so a second application
        # would look up the wrong dictionary terms.
        from miru_spark.analysis.stem import stem

        terms = [stem(t, analyzer.stem_lang) for t in terms]
    node = qp.And if mode == "and" else qp.Or
    plan, _ = _compile_wand(reader, node(children=[
        qp.Term(t, boost=boosts.get(t, 1.0) if boosts else 1.0)
        for t in dict.fromkeys(terms)]), {})
    if plan is None or not plan.idf:
        # a missing AND term, or no term in the dictionary at all
        return _local_rel(reader.spark, [], "doc_id long, score double")
    # lazy display-field gather, same as search(): joins AFTER the limit
    return _gather(reader, _wand_one(reader, plan, k, k1=k1, b=b, after=after),
                   gather_fields)


def _tree_terms(tree) -> list[str]:
    """The terms a :func:`_filter_tree` result reads."""
    if not isinstance(tree, tuple):
        return []
    if tree[0] == "t":
        return [tree[1]]
    if tree[0] == "not":
        return _tree_terms(tree[1])
    return [t for c in tree[1] for t in _tree_terms(c)]


class _WandPlan(NamedTuple):
    """One query compiled for :func:`_wand_topk`.

    ``idf``: scoring term -> boost-weighted idf (dictionary terms only);
    a doc's score sums its scoring terms. ``required``: distinct terms
    every answer holds (:func:`_filter_tree` names each once; the
    kernel's group prefilter counts them); their intersection seeds
    each block's candidates (without any, the union of the scoring
    terms' doc ids does).
    ``tree``: the rest of the boolean filter (:func:`_filter_tree`),
    decided per block over those candidates. ``bounded``: False for a
    query whose answer is filtered (phrase adjacency) or re-ordered
    (``round_to``) after the kernel: it keeps no heap and no block-max
    skip, and emits every doc that passes its tree."""
    idf: dict
    required: tuple = ()
    tree: object = None
    bounded: bool = True


def _compile_wand(reader: IndexReader, kernel, expansions):
    """Compile a query tree for the WAND kernel: ``(plan, stats)``.

    Scoring terms are the positive unfielded leaves' dictionary terms,
    each with its max clause boost folded into the idf (search()'s
    model). The filter is :func:`_filter_tree` over every leaf's terms;
    its top-level required terms seed the candidates and the rest is
    the plan's residual tree. ``plan`` is None when the filter is
    unsatisfiable (a missing AND term, an unmatched required
    expansion): the query is empty without a scan."""
    boosts = _max_boost_fold(
        (t, float(getattr(leaf, "boost", 1.0)))
        for leaf in qp.positive_leaves(kernel) if leaf.field is None
        for t in _leaf_terms(leaf, expansions))
    stats = reader.term_stats(
        [t for leaf in qp._all_leaves(kernel) for t in _leaf_terms(leaf, expansions)])
    tree = _filter_tree(kernel, expansions, stats)
    if tree is False:
        return None, stats
    conj = tree[1] if isinstance(tree, tuple) and tree[0] == "and" else (tree,)
    rest = [c for c in conj if isinstance(c, tuple) and c[0] != "t"]
    return _WandPlan(
        idf={t: reader.idf(stats[t]["df"]) * w for t, w in boosts.items() if t in stats},
        required=tuple(c[1] for c in conj if isinstance(c, tuple) and c[0] == "t"),
        tree=None if not rest else rest[0] if len(rest) == 1 else ("and", tuple(rest)),
    ), stats


# The kernel's block-assembly struct types, from the builder's fixed
# schemas: a postings block and a doclens sidecar block
_PB_COLS = ("term", "n", "max_tf", "codec", "doc_ids", "tfs")
_SB_COLS = ("doc_ids", "doclens")
_PB_TYPE = T.StructType([_POSTINGS_SCHEMA[c] for c in _PB_COLS]).simpleString()
_SB_TYPE = T.StructType([_DOCLENS_SCHEMA[c] for c in _SB_COLS]).simpleString()


def _sql_lits(values) -> str:
    """:func:`sql_strings` for a ``spark.sql(text, **dfs)`` text, which
    passes through ``str.format``: braces in a value are doubled."""
    return sql_strings(values).replace("{", "{{").replace("}", "}}")


def _wand_topk(
    reader: IndexReader, plans: dict[str, _WandPlan], k: int, *,
    k1: float, b: float, after: tuple[float, int] | None = None,
    block_floor: int | None = None,
) -> DataFrame:
    """The block-max WAND kernel over a batch of compiled queries:
    DataFrame(query_id, doc_id, score) holding, per partition, each
    bounded query's top-k and every answer of an unbounded one. The
    caller takes the global top-k per query.

    All queries share ONE pass: the blocks of the union of their terms
    (scoring and filter) and the doclens sidecar gather in one
    ``groupBy(block_key)`` exchange, and each block group decodes a
    term's postings at most once, for every query that reads it. Per
    query, a group is skipped unless it holds every required term and
    some scoring term, and (bounded queries) unless its block-max upper
    bound can beat the query's heap threshold. The filter's terms are
    exact per block: every posting of a doc lives in the doc's own
    block. The upper bound sums scoring terms only, so it stays
    admissible, and a heap holds only docs that pass the filter: one
    run with ``k`` is exact. ``after``: keyset cursor, applied to every
    query. ``block_floor``: only blocks with ``block_key >= floor``
    (the TIME strategy's newest-first window).

    The plan is one SQL text, and its generated code does not depend on
    the queries: the group prefilter reads the per-query term lists
    from one array literal, which Spark passes to the generated code as
    a value. Only the scan's ``term IN (...)`` list, which keeps the
    parquet pushdown, compiles once per term count (up to the
    optimizer's InSet threshold) and once per floor.
    """
    terms = list(dict.fromkeys(t for p in plans.values() for t in p.idf))
    scoring = set(terms)
    filt = [t for t in dict.fromkeys(
        t for p in plans.values() for t in (*p.required, *_tree_terms(p.tree)))
        if t not in scoring]
    # ONE exchange for the whole block assembly: postings blocks (scoring
    # and filter terms), the doclens sidecar, and the removal log union
    # into a single relation tagged by nullable struct columns, then ONE
    # groupBy(block_key) gathers everything a block group needs
    # (collect_list / collect_set / min all skip nulls, so each source
    # lands only in its own slot). Round 2 ran two groupBys + two joins
    # here — three exchanges plus an explicit repartition — and the
    # fixed overhead showed up as a +56%/+47% WAND regression at sf0.1
    # (VERDICT r2); the union plan is also the 100-TB shape for the
    # scoring terms: everything co-partitions on block_key in one
    # shuffle. Filter terms (masks, NOT terms, group members) shuffle
    # ALL their blocks, including blocks no scoring term touches, which
    # the group prefilter drops only after the exchange: shuffle bytes
    # grow with the filter terms' df. That cost is measured only on
    # indexes of a few blocks (see ROADMAP item 1).
    #
    # An incrementally-built index may hold several blocks of the same
    # term under one block_key (one per shard touching that doc range),
    # so presence is a collect_set of terms, not a row count. The
    # sidecar may likewise contribute one row per shard; min over its
    # per-block min_doclen stays an admissible bound for the block-max
    # upper bound. pruned_doclens pushes the scoring terms' block set
    # down to the sidecar scan via a broadcast semi-join (the sidecar
    # has no term column of its own).
    #
    # The removal mask rides the same exchange (NOT a driver-collected
    # closure — the removal log is usually a small delta, but nothing
    # bounds it at 100x scale): each surviving block group carries only
    # ITS removed ids, sorted for searchsorted. Whether a removal log
    # exists is decided here, when the query is built (as _anti_removed
    # does): a removal-free index unions no removal relation at all.
    rels = {
        "posts": reader.blocks(terms=terms + filt),
        "side": reader.pruned_doclens(
            terms=terms, df_bound=sum(reader.term_stats(terms)[t]["df"] for t in terms)),
    }
    floor = f" WHERE block_key >= {int(block_floor)}" if block_floor else ""
    pb = "named_struct(" + ", ".join(f"'{c}', {c}" for c in _PB_COLS) + ")"
    sb = "named_struct(" + ", ".join(f"'{c}', {c}" for c in _SB_COLS) + ")"
    parts = [
        f"SELECT block_key, {pb} AS pb, CAST(NULL AS {_SB_TYPE}) AS sb,"
        f" CAST(NULL AS INT) AS mdl, CAST(NULL AS BIGINT) AS rm_id FROM {{posts}}{floor}",
        f"SELECT block_key, CAST(NULL AS {_PB_TYPE}), {sb}, min_doclen,"
        f" CAST(NULL AS BIGINT) FROM {{side}}{floor}",
    ]
    if reader.has_removals():
        rels["removed"] = reader.removed_docs()
        parts.append(
            f"SELECT shiftright(doc_id, {reader.block_bits}), CAST(NULL AS {_PB_TYPE}),"
            f" CAST(NULL AS {_SB_TYPE}), CAST(NULL AS INT), doc_id FROM {{removed}}")
    # a group is answerable for a query when every required term (r) and
    # some scoring term (s) is present; this also drops sidecar-,
    # removal- and filter-only groups
    answerable = ", ".join(
        f"named_struct('r', CAST(array({_sql_lits(p.required)}) AS array<string>),"
        f" 's', array({_sql_lits(p.idf)}))" for p in plans.values())
    grouped = reader.spark.sql(
        "SELECT block_key, blocks, side, min_doclen, removed_ids FROM ("
        " SELECT block_key, collect_set(pb.term) AS present,"
        " collect_list(pb) AS blocks, collect_list(sb) AS side,"
        " min(mdl) AS min_doclen, sort_array(collect_list(rm_id)) AS removed_ids"
        f" FROM ({' UNION ALL '.join(parts)}) GROUP BY block_key)"
        f" WHERE exists(array({answerable}), p ->"
        " size(array_intersect(present, p.r)) = size(p.r)"
        " AND arrays_overlap(present, p.s))",
        **rels)
    kernel = functools.partial(
        _wand, plans=plans, k=k, k1=k1, b=b, avgdl=reader.avgdl,
        block_bits=reader.block_bits,
        # continuation cursor: only items strictly below it in the
        # (score desc, doc_id desc) total order are answers
        cursor=(float(after[0]), int(after[1])) if after is not None else None)
    kernel.__name__ = "_wand"  # the plan's MapInPandas node names it
    # non-null columns: no inferred isnotnull filter lands between the
    # kernel and a consumer (see _batch_phrase_filter's exchange reuse)
    return grouped.mapInPandas(
        kernel, schema="query_id string not null, doc_id long not null, score double not null")


def _member(ids, cand):
    pos = np.minimum(np.searchsorted(ids, cand), ids.size - 1)
    return ids[pos] == cand


def _wand(pdf_iter, *, plans, k, k1, b, avgdl, block_bits, cursor):
    """The Python side of :func:`_wand_topk`, bound by
    ``functools.partial``: a module-level function pickles by reference."""
    scoring = {t for p in plans.values() for t in p.idf}

    def _ub(idf_t: float, max_tf: int, min_doclen: int) -> float:
        norm = k1 * (1.0 - b + b * min_doclen / avgdl)
        return idf_t * max_tf * (k1 + 1.0) / (max_tf + norm)

    # per query: a min-heap of (score, doc_id), size <= k (bounded),
    # or the (doc_ids, scores) chunks of every answer (unbounded)
    found: dict[str, list] = {q: [] for q in plans}

    for pdf in pdf_iter:
        for block_key, blocks, rem_ids, min_dl, side_chunks in zip(
            pdf["block_key"], pdf["blocks"], pdf["removed_ids"],
            pdf["min_doclen"], pdf["side"]
        ):
            base = int(block_key) << block_bits
            by_term: dict[str, list] = {}
            for blk in blocks:
                by_term.setdefault(blk["term"], []).append(blk)
            max_tf = {t: max(int(blk["max_tf"]) for blk in bl)
                      for t, bl in by_term.items() if t in scoring}
            decoded: dict[str, tuple] = {}

            def dec(t):
                # a term's postings, decoded once per group and only
                # for a query that survives the skip; tf only for a
                # scoring term. Same-key blocks from different
                # shards (disjoint ids in one doc range) concat+sort
                if t not in decoded:
                    chunks = [(
                        codec.decode_block_docids_codec(
                            blk["doc_ids"], base, int(blk["codec"])),
                        codec.decode_counts(blk["tfs"]) if t in scoring else None,
                    ) for blk in by_term[t]]
                    if len(chunks) == 1:
                        decoded[t] = chunks[0]
                    else:
                        ids = np.concatenate([c[0] for c in chunks])
                        order = np.argsort(ids, kind="stable")
                        tfs = (np.concatenate([c[1] for c in chunks])[order]
                               if t in scoring else None)
                        decoded[t] = (ids[order], tfs)
                return decoded[t]

            def _eval(node, cand):
                if node[0] == "t":
                    return (_member(dec(node[1])[0], cand) if node[1] in by_term
                            else np.zeros(cand.size, dtype=bool))
                if node[0] == "not":
                    return ~_eval(node[1], cand)
                fold = np.logical_and if node[0] == "and" else np.logical_or
                return fold.reduce([_eval(c, cand) for c in node[1]])

            removed = side = None
            for q, p in plans.items():
                present = [t for t in p.idf if t in by_term]
                if not present or any(t not in by_term for t in p.required):
                    continue
                heap = found[q]
                if p.bounded and len(heap) >= k:
                    ub = sum(_ub(p.idf[t], max_tf[t], int(min_dl)) for t in present)
                    # STRICT compare: the heap's total order is
                    # (score, doc_id) — a block whose bound exactly
                    # ties theta can still hold a doc scoring theta
                    # with a higher doc_id, which outranks heap[0] on
                    # the tie-break. `<=` would prune it and break
                    # rank-identity on uniform-score corpora.
                    if ub < heap[0][0]:
                        continue  # block-max skip: cannot beat this top-k
                if p.required:
                    # intersect the required terms' ids, smallest first
                    req = sorted((dec(t)[0] for t in p.required), key=len)
                    cand = req[0]
                    for ids in req[1:]:
                        cand = np.intersect1d(cand, ids, assume_unique=True)
                else:
                    cand = np.unique(np.concatenate([dec(t)[0] for t in present]))
                if p.tree is not None and cand.size:
                    cand = cand[_eval(p.tree, cand)]
                if removed is None:
                    # null from an absent removal log arrives as None/NaN
                    removed = (
                        np.asarray(rem_ids, dtype=np.int64)
                        if isinstance(rem_ids, (list, np.ndarray)) and len(rem_ids)
                        else np.empty(0, dtype=np.int64)
                    )
                if removed.size and cand.size:
                    cand = cand[~_member(removed, cand)]
                if cand.size == 0:
                    continue
                if side is None:
                    # sidecar doclens: one decode per block group,
                    # shared by every query — doclen depends only on
                    # the doc, so it is NOT fetched per term
                    s_parts = [
                        (
                            np.cumsum(
                                codec.varbyte_decode(sc["doc_ids"]).astype(np.int64)
                            ) + base,
                            codec.decode_counts(sc["doclens"]),
                        )
                        for sc in side_chunks
                    ]
                    side_ids = np.concatenate([c[0] for c in s_parts])
                    side_dls = np.concatenate([c[1] for c in s_parts])
                    if len(s_parts) > 1:
                        s_order = np.argsort(side_ids, kind="stable")
                        side_ids, side_dls = side_ids[s_order], side_dls[s_order]
                    side = (side_ids, side_dls)
                dl = side[1][np.searchsorted(side[0], cand)].astype(np.float64)
                norm = k1 * (1.0 - b + b * dl / avgdl)
                scores = np.zeros(cand.size, dtype=np.float64)
                for t in present:
                    ids, tfs = dec(t)
                    pos = np.minimum(np.searchsorted(ids, cand), ids.size - 1)
                    tf = tfs[pos].astype(np.float64)
                    contrib = p.idf[t] * tf * (k1 + 1.0) / (tf + norm)
                    scores += np.where(ids[pos] == cand, contrib, 0.0)
                if cursor is not None:
                    # keyset continuation: drop what was already served
                    below = (scores < cursor[0]) | (
                        (scores == cursor[0]) & (cand < cursor[1]))
                    cand, scores = cand[below], scores[below]
                if not p.bounded:
                    heap.append((cand, scores))
                    continue
                for s, d in zip(scores, cand):
                    item = (float(s), int(d))
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
    qids, ids, scores = [], [], []
    for q, got in found.items():
        if plans[q].bounded:
            got = [(np.array([d for _, d in got], dtype=np.int64),
                    np.array([s for s, _ in got], dtype=np.float64))]
        for d, s in got:
            qids.extend([q] * d.size)
            ids.append(d)
            scores.append(s)
    yield pd.DataFrame({
        "query_id": pd.Series(qids, dtype=object),
        "doc_id": np.concatenate(ids) if ids else np.empty(0, np.int64),
        "score": np.concatenate(scores) if scores else np.empty(0, np.float64),
    }).astype({"doc_id": "int64", "score": "float64"})


def _wand_one(reader: IndexReader, plan: _WandPlan, k: int, *, k1: float, b: float,
              after: tuple[float, int] | None = None) -> DataFrame:
    """One query through the kernel: DataFrame(doc_id, score), the top-k
    in (score desc, doc_id desc) order."""
    return (_wand_topk(reader, {"": plan}, k, k1=k1, b=b, after=after)
            .select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").desc()).limit(k))


def _kernel_ids(reader: IndexReader, plan: _WandPlan,
                block_floor: int | None = None) -> DataFrame:
    """DataFrame(doc_id) of every answer of one query, removals
    excluded: an unbounded kernel run (the scores go unused)."""
    return _wand_topk(reader, {"": plan._replace(bounded=False)}, 0,
                      k1=K1_DEFAULT, b=B_DEFAULT,
                      block_floor=block_floor).select("doc_id")


def _filter_tree(node, expansions, present):
    """``node`` as the WAND kernel's filter over term postings:
    ``("t", term)``, ``("and"|"or", children)``, ``("not", child)``, or
    the constants True / False. A leaf is the OR of its dictionary
    terms; a phrase is the AND of its terms (adjacency is checked after
    the kernel); ``*:*`` is True. Terms outside ``present`` (the
    dictionary) are False and constants fold, so an unsatisfiable query
    is False before any scan. Nested groups of the same operator
    flatten and repeated children drop (``a AND (b AND a)`` is
    ``("and", (a, b))``), so each required term is named once."""
    def fold(op, kids):
        unit = op == "and"  # And's identity is True, Or's is False
        out = []
        for c in kids:
            if c is (not unit):
                return c
            if c is not unit:
                for x in c[1] if c[0] == op else [c]:
                    if x not in out:
                        out.append(x)
        return unit if not out else out[0] if len(out) == 1 else (op, tuple(out))

    if isinstance(node, (qp.And, qp.Or)):
        op = "and" if isinstance(node, qp.And) else "or"
        return fold(op, [_filter_tree(c, expansions, present) for c in node.children])
    if isinstance(node, qp.Not):
        c = _filter_tree(node.child, expansions, present)
        return (not c) if isinstance(c, bool) else ("not", c)
    if isinstance(node, qp.MatchAll):
        return True
    ts = list(dict.fromkeys(_leaf_terms(node, expansions)))
    op = "and" if isinstance(node, qp.Phrase) else "or"
    return fold(op, [("t", t) if t in present else False for t in ts])


class _WandShape(NamedTuple):
    """How :func:`search_wand_query` answers a query on the WAND path.

    ``kind``: ``"filter"`` (one kernel pass), ``"or_masks"`` (one kernel
    pass, then zero-score mask docs), ``"phrase_and"`` / ``"phrase_or"``
    (kernel pool + adjacency check, deepening). ``kernel``: the tree the
    kernel filters by (phrases relaxed to their terms' AND, ``NOT
    "a b"`` conjuncts left to the adjacency check)."""
    kind: str
    kernel: object
    phrases: tuple = ()
    neg_phrases: tuple = ()
    or_masks: tuple = ()


_OR_PHRASE_LEAVES = (qp.Term, qp.Phrase, qp.Prefix, qp.Wildcard, qp.Regexp, qp.Fuzzy)


def _wand_shape(ast) -> _WandShape | None:
    """Classify a parsed query for the WAND scale path (None: the caller
    falls back to :func:`search`).

    - ``filter``: any phrase-free tree whose answers all hold a scoring
      term (:func:`_grounded`), at any nesting depth: AND/OR/NOT over
      plain, boosted and expansion terms, fielded masks and ranges under
      an AND, ``NOT field:value``, ``*:*`` beside a scoring conjunct.
      The whole boolean filter runs inside the kernel: one pass, exact.
    - ``or_masks``: a root OR whose ungrounded disjuncts are fielded
      exact terms (``w OR lang:de``). The kernel ranks the scored docs
      exactly; docs admitted only by a mask complete the answer at
      score 0 (search()'s zero-score completion of an ungrounded tree).
    - ``phrase_and``: a phrase or a root AND whose phrase leaves are
      conjuncts (``"a b"`` or ``NOT "a b"``) beside phrase-free
      subtrees. ``phrase_or``: a root OR of unfielded terms, expansion
      leaves and phrases. Both deepen: adjacency needs the positions
      sidecar or the doc text, so the kernel yields a pool and the
      adjacency check filters it.

    Anything else — phrases nested deeper, phrases beside masks or
    groups under an OR, pure-mask or pure-negation queries, and the
    shapes :func:`_eval_candidates` rejects (:func:`_eval_rejects`) — is
    None. Every entry point answers a ``filter`` shape on the kernel.
    """
    phrased = any(isinstance(l, qp.Phrase) for l in qp._all_leaves(ast))
    grounded = not phrased and _grounded(ast)
    # the kernel decides any boolean inside a Not, so a filter tree is
    # refused only for what _eval_candidates rejects outside every Not;
    # the other shapes can reach _eval_candidates, which rejects anywhere
    if isinstance(ast, qp.Not) or _eval_rejects(ast, inside_not=not grounded):
        return None
    if grounded:
        return _WandShape("filter", ast)
    kids = ast.children if isinstance(ast, (qp.And, qp.Or)) else [ast]
    if not phrased:
        masks = [c for c in kids if not _grounded(c)]
        if (isinstance(ast, qp.Or) and len(masks) < len(kids) and all(
                isinstance(c, qp.Term) and c.field is not None for c in masks)):
            return _WandShape("or_masks", ast, or_masks=tuple(c.term for c in masks))
        return None
    if isinstance(ast, (qp.And, qp.Phrase)):
        pos = [c for c in kids if isinstance(c, qp.Phrase)]
        neg = [c.child for c in kids
               if isinstance(c, qp.Not) and isinstance(c.child, qp.Phrase)]
        rest = [c for c in kids if not isinstance(c, qp.Phrase)
                and not (isinstance(c, qp.Not) and isinstance(c.child, qp.Phrase))]
        if any(isinstance(l, qp.Phrase) for c in rest for l in qp._all_leaves(c)):
            return None
        if not pos and not any(_grounded(c) for c in rest):
            return None
        return _WandShape("phrase_and", qp.And(children=pos + rest),
                          tuple(pos), tuple(neg))
    if isinstance(ast, qp.Or) and all(
            isinstance(c, _OR_PHRASE_LEAVES) and c.field is None for c in kids):
        return _WandShape("phrase_or", ast,
                          tuple(c for c in kids if isinstance(c, qp.Phrase)))
    return None


def _phrase_check(reader, ast, shape, expansions, stats, *, locale,
                  use_stopwords, text_df, text_col, phrase_via):
    """The adjacency check of a phrase shape: a function from a
    (doc_id, score) pool to the pool docs that satisfy the query.
    ``phrase_and``: every phrase conjunct matches and no negated one
    does. ``phrase_or``: a plain disjunct's term is present or some
    phrase matches. The pool is small and broadcast; the phrase-match
    relation or the doc text streams past it."""
    tdf, tcol, eff_stop, eff_locale, use_pos = _phrase_ctx_for(
        reader, ast, locale=locale, use_stopwords=use_stopwords,
        text_df=text_df, text_col=text_col, phrase_via=phrase_via)
    or_terms = [
        t for c in ast.children if not isinstance(c, qp.Phrase)
        for t in _leaf_terms(c, expansions) if t in stats
    ] if shape.kind == "phrase_or" else []
    if use_pos:
        # positional sidecar: adjacency decided index-side — no doc-text
        # scan on the WAND path either
        from miru_spark.index.positions import phrase_match_ids

        def match(p):
            return phrase_match_ids(reader, list(p.terms), getattr(p, "slop", 0))

        if shape.kind == "phrase_and":
            def check(pool):
                for p in shape.phrases:
                    pool = match(p).join(F.broadcast(pool), "doc_id").select("doc_id", "score")
                for p in shape.neg_phrases:
                    hit = match(p).join(F.broadcast(pool.select("doc_id")), "doc_id").distinct()
                    pool = pool.join(F.broadcast(hit), "doc_id", "left_anti")
                return pool
            return check
        qual = match(shape.phrases[0])
        for p in shape.phrases[1:]:
            qual = qual.union(match(p))
        if or_terms:
            qual = qual.union(reader.postings(terms=or_terms).select("doc_id"))
        # a doc may qualify via several disjuncts; scores are per doc
        return lambda pool: (qual.join(F.broadcast(pool), "doc_id")
                             .select("doc_id", "score").dropDuplicates(["doc_id"]))
    hits = [_phrase_hit_col(list(p.terms), tcol, eff_stop,
                            slop=getattr(p, "slop", 0), locale=eff_locale)
            for p in shape.phrases]
    if shape.kind == "phrase_and":
        hit = functools.reduce(lambda x, y: x & y, hits + [
            ~_phrase_hit_col(list(p.terms), tcol, eff_stop,
                             slop=getattr(p, "slop", 0), locale=eff_locale)
            for p in shape.neg_phrases])
    else:
        from miru_spark.analysis.tokenizer import tokens_col

        toks = tokens_col(F.col(tcol), use_stopwords=eff_stop, locale=eff_locale)
        hit = functools.reduce(lambda x, y: x | y, hits + [
            F.array_contains(toks, F.lit(t)) for t in or_terms])
    text = tdf.select(F.col("doc_id").cast("long").alias("doc_id"), F.col(tcol))
    return lambda pool: (text.join(F.broadcast(pool), "doc_id").filter(hit)
                         .select("doc_id", "score"))


def search_wand_query(
    reader: IndexReader,
    query: str,
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    locale: str | None = None,
    use_stopwords: bool | None = None,
    text_df: DataFrame | None = None,
    text_col: str = "text",
    phrase_via: str = "auto",
    gather_fields: list[str] | None = None,
    after: tuple[float, int] | None = None,
    first_pool: int | None = None,
    max_rounds: int = 8,
    **search_kwargs,
) -> DataFrame:
    """One query entry point for the scale path: parse a Lucene-classic
    query string and answer it with block-max WAND whenever its shape
    allows (:func:`_wand_shape`), falling back to :func:`search`
    otherwise. Rank-identical to :func:`search` on every query, by
    construction.

    Phrase-free queries answer in ONE kernel pass (:func:`_wand_topk`);
    a ``filter`` shape goes to :func:`search`, which runs that pass.
    The query compiles (:func:`_compile_wand`, shared with
    :func:`search_batch`) to scoring terms — the positive unfielded leaves'
    terms, each with its max clause boost folded into the idf, exactly
    search()'s model — and a boolean filter tree over every leaf's
    dictionary terms (:func:`_filter_tree`): fielded masks and ranges,
    ``NOT term`` / ``NOT field:value``, expansion leaves (prefix,
    wildcard, ``/regexp/``, fuzzy; search()'s default cap of 100) and
    nested AND/OR/NOT groups at any depth. The filter's terms ride the
    kernel's exchange and the kernel decides membership per block, so
    the heap holds only answers and its top-k is exact: no candidate
    pool, no verify round. An unsatisfiable filter (a missing AND term,
    an unmatched required expansion) answers empty without a scan.

    Two shapes still take more than the kernel run:

    - a root OR with fielded disjuncts (``w OR lang:de``): docs admitted
      only by a mask carry no scoring term, so when the kernel finds
      fewer than k scored docs, the mask postings complete the answer
      at score 0, doc_id desc (search()'s zero-score completion);
      with ``after`` it falls back to search();
    - phrases (``"a b"``, ``"a b"~N``, ``NOT "a b"`` as AND conjuncts;
      phrases as OR disjuncts beside plain terms and expansions):
      adjacency needs the positions sidecar or ``text_df``, so the
      kernel (phrases relaxed to their terms' AND) yields a pool of
      ``first_pool`` docs (default ``max(4k, 64)``) that the adjacency
      check filters. Every pool doc outranks every non-pool doc, so
      filtering preserves rank; with fewer than k survivors the pool
      deepens x4, up to ``max_rounds`` rounds, and the loop stops early
      once a run returns fewer docs than asked for (the pool was
      complete). Exhaustion falls back to search() — never a
      silently-partial answer. Each round collects the pool and the
      survivors once each (bounded, via Arrow) and the top-k is taken
      on the driver.

    Anything else (phrases deeper in the tree, pure-mask or pure-
    negation queries, or any of ``search``'s mask kwargs) -> search().
    """
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None or k <= 0:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    shape = None if search_kwargs else _wand_shape(ast)
    if shape is None or shape.kind == "filter" or (
            shape.kind == "or_masks" and after is not None):
        # search() runs a filter shape on the same kernel pass (keyset
        # paging through the zero-score admission region needs the exact
        # path's cursor semantics — rare shape)
        return search(
            reader, ast, k, k1=k1, b=b, locale=locale,
            use_stopwords=use_stopwords, text_df=text_df, text_col=text_col,
            phrase_via=phrase_via, gather_fields=gather_fields, after=after,
            **search_kwargs,
        )
    expansions = _expand(reader, shape.kernel, 100)
    plan, stats = _compile_wand(reader, shape.kernel, expansions)
    if plan is None or (not plan.idf and shape.kind != "or_masks"):
        return _local_rel(reader.spark, [], "doc_id long, score double")

    def run(n):
        return _wand_one(reader, plan, n, k1=k1, b=b, after=after)

    spark = reader.spark
    if shape.kind == "or_masks":
        sch = _arrow_schema("doc_id long, score double")
        out = run(k).toArrow().cast(sch) if plan.idf else sch.empty_table()
        masks = [m for m in shape.or_masks if m in stats]
        if out.num_rows < k and masks:
            # mask-only docs: mask postings minus docs holding any
            # scoring term, minus removals — all score 0, so they rank
            # below every scored doc, doc_id desc among themselves
            zero = reader.postings(terms=masks).select("doc_id").distinct()
            if plan.idf:
                zero = zero.join(
                    reader.postings(terms=list(plan.idf)).select("doc_id"), "doc_id", "left_anti")
            zero = (_anti_removed(reader, zero).withColumn("score", F.lit(0.0))
                    .orderBy(F.col("doc_id").desc()).limit(k - out.num_rows))
            out = pa.concat_tables([out, zero.toArrow().cast(sch)])
        return _gather(reader, spark.createDataFrame(out), gather_fields)

    check = _phrase_check(
        reader, ast, shape, expansions, stats, locale=locale,
        use_stopwords=use_stopwords, text_df=text_df, text_col=text_col,
        phrase_via=phrase_via)
    pool = int(first_pool) if first_pool else max(4 * k, 64)
    for _ in range(max_rounds):
        cand = run(pool).toArrow()  # <= pool rows
        verified = check(spark.createDataFrame(cand)).toArrow()
        if cand.num_rows < pool or verified.num_rows >= k:
            # the pool was complete, or enough survivors
            top = verified.sort_by(
                [("score", "descending"), ("doc_id", "descending")]).slice(0, k)
            return _gather(reader, spark.createDataFrame(top), gather_fields)
        pool *= 4
    # max_rounds exhausted without either completeness condition: the
    # survivors may miss docs the exact path would return — answer from
    # the exact path (one corpus-scale scan, the price of a
    # pathologically phrase-sparse query)
    return search(
        reader, ast, k, k1=k1, b=b, locale=locale,
        use_stopwords=use_stopwords, text_df=text_df,
        text_col=text_col, phrase_via=phrase_via,
        gather_fields=gather_fields, after=after,
    )
