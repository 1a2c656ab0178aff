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

- ``search`` (exact): candidate set from boolean algebra over decoded
  posting doc-sets (AND -> inner join, OR -> union distinct, NOT ->
  left_anti — the or/and/andNot bitmap family, ``MiruBitmaps.java:87-131``),
  then score = sum of per-term BM25 contributions grouped by doc_id, then
  Spark's distributed TakeOrderedAndProject (``orderBy().limit(k)``) —
  a per-partition bounded heap merged on the driver, exactly the
  reference's heap + sorted answer merge (``FullTextAnswerMerger.java``).
- ``search_wand`` (scale path, flat-AND queries): blocks of all query
  terms are co-grouped by ``block_key`` (only doc ranges where *every*
  term has postings survive — posting-list intersection at block
  granularity), then a ``mapInPandas`` pass keeps a per-partition bounded
  heap and skips decoding any block group whose block-max BM25 upper
  bound cannot beat the current heap threshold (block-max WAND).
  Per-partition top-k is safe: the global top-k is contained in the
  union of per-partition top-k's.
"""

from __future__ import annotations

import functools
import heapq
import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from miru_spark.index.reader import IndexReader
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
    Shared by search(), search_batch() and the WAND router so the rule
    cannot drift between paths."""
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

    toks = tokens_col(F.col(text_col), use_stopwords=use_stopwords, locale=locale)
    n = len(terms)
    pat = F.array(*[F.lit(t) for t in terms])
    # greatest(...,1) keeps the sequence ascending for docs shorter than
    # the phrase; their (short) slice never equals pat
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    if slop <= 0:
        return F.exists(idx, lambda i: F.slice(toks, i, n) == pat)
    # sloppy: greedy subsequence automaton over each (n + slop)-token
    # window — greedy matching is exact for subsequence containment, and
    # any in-order occurrence spanning <= n + slop tokens is contained in
    # the window starting at its first matched token
    w = n + slop

    def _window_matches(i):
        win = F.slice(toks, i, w)
        state = F.aggregate(
            win,
            F.lit(0),
            lambda acc, x: F.when(
                (acc < n) & (x == F.element_at(pat, acc + 1)), acc + 1
            ).otherwise(acc),
        )
        return state >= n

    return F.exists(idx, _window_matches)


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


def _has_scoring_leaf(node) -> bool:
    """True when the subtree contains at least one positive unfielded
    leaf — the only leaves that contribute BM25 weight (fielded terms
    and ``*:*`` are non-scoring masks; negations never score)."""
    if isinstance(node, (qp.And, qp.Or)):
        return any(_has_scoring_leaf(c) for c in node.children)
    if isinstance(node, qp.Not):
        return False
    if isinstance(node, qp.MatchAll):
        return False
    return getattr(node, "field", None) is None


def _or_admits_nonscoring(node) -> bool:
    """True when some OR branch can admit a candidate through a subtree
    with no scoring leaf (``spark OR lang:en``): such docs match the
    boolean query but have no posting row under any scoring term, so
    the scoring aggregation alone would silently drop them — the caller
    must complete them with score 0. Conservative: an enclosing AND may
    still guarantee a scoring term for every candidate, in which case
    the completion join is redundant but harmless."""
    if isinstance(node, qp.Or):
        if any(not _has_scoring_leaf(c) for c in node.children):
            return True
        return any(_or_admits_nonscoring(c) for c in node.children)
    if isinstance(node, qp.And):
        return any(_or_admits_nonscoring(c) for c in node.children)
    if isinstance(node, qp.Not):
        return _or_admits_nonscoring(node.child)
    return False


def _fusible(node, under_not: bool = False) -> bool:
    """True when the whole tree is answerable by the SINGLE-PASS coverage
    plan in :func:`search` (one postings decode + one groupBy instead of
    a per-leaf candidate join plus a second scoring decode): every leaf
    is an unfielded term-bearing leaf (no phrase / MatchAll / fielded
    mask), every And outside a NOT keeps a positive child, and no Not
    sits directly under an Or outside a NOT (the last two mirror
    _eval_candidates' loud rejections, which the general path still
    owns). Under these rules every doc satisfying the tree matches at
    least one positive leaf's term — root leaf: itself; grounded And: its
    positive child, recursively; Not-free Or: some child, recursively —
    so the posting rows of the query's own terms are a COMPLETE candidate
    source and no separate candidate evaluation is needed. Anything goes
    inside a Not: no rows are ever needed from a negated subtree."""
    if isinstance(node, qp.And):
        if not under_not and all(isinstance(c, qp.Not) for c in node.children):
            return False
        return all(_fusible(c, under_not) for c in node.children)
    if isinstance(node, qp.Or):
        if not under_not and any(isinstance(c, qp.Not) for c in node.children):
            return False
        return all(_fusible(c, under_not) for c in node.children)
    if isinstance(node, qp.Not):
        return _fusible(node.child, True)
    if isinstance(node, (qp.Phrase, qp.MatchAll)):
        return False
    return getattr(node, "field", None) is None


def _coverage_plan(ast, expansions):
    """(leaf -> coverage-bit index, term -> sorted bit list) for the
    fused plan. Leaves are frozen dataclasses, so equal leaves in
    different tree positions share a bit (same term set, same truth
    value). A leaf whose expansion is empty gets a bit no term carries —
    its array_contains is constantly false, exactly the general path's
    empty candidate set for an unmatched prefix/fuzzy/range."""
    leaf_ix: dict = {}
    term_leaves: dict[str, set[int]] = {}

    def walk(n):
        if isinstance(n, (qp.And, qp.Or)):
            for c in n.children:
                walk(c)
        elif isinstance(n, qp.Not):
            walk(n.child)
        else:
            ix = leaf_ix.setdefault(n, len(leaf_ix))
            for t in _leaf_terms(n, expansions):
                term_leaves.setdefault(t, set()).add(ix)

    walk(ast)
    return leaf_ix, term_leaves


def _coverage_expr(node, leaf_ix, covered):
    """The boolean tree re-expressed over the per-doc covered-bit array:
    leaf -> array_contains(covered, bit), And/Or/Not -> & | ~."""
    if isinstance(node, qp.And):
        cols = [_coverage_expr(c, leaf_ix, covered) for c in node.children]
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out
    if isinstance(node, qp.Or):
        cols = [_coverage_expr(c, leaf_ix, covered) for c in node.children]
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    if isinstance(node, qp.Not):
        return ~_coverage_expr(node.child, leaf_ix, covered)
    return F.array_contains(covered, leaf_ix[node])


def _coverage_agg(
    reader: IndexReader, ast, expansions, *,
    idf_by_term: dict | None = None, heap: DataFrame | None = None,
    block_floor: int | None = None, plan: tuple | None = None,
    k1: float = K1_DEFAULT, b: float = B_DEFAULT,
) -> DataFrame | None:
    """The ONE coverage pipeline behind every fused answer: decode the
    query terms' postings once (``block_floor`` prunes to the newest
    blocks; a broadcast ``heap`` restricts to a bounded pool), join the
    broadcast (term -> [idf,] leaf-bits) map, fold per-doc covered bits
    in one groupBy (summing BM25 when ``idf_by_term`` is given — terms
    absent from the map score 0), and evaluate the boolean tree over the
    bits. Returns DataFrame(doc_id[, score]); None when NO query term
    exists in the dictionary (the caller's provably-empty case — never
    scan with an empty term filter). ``plan`` reuses a precomputed
    ``(leaf_ix, term_leaves, stats)`` across deepening rounds."""
    if plan is None:
        leaf_ix, term_leaves = _coverage_plan(ast, expansions)
        stats = reader.term_stats(list(term_leaves))
    else:
        leaf_ix, term_leaves, stats = plan
    cov_terms = [t for t in term_leaves if t in stats]
    if not cov_terms:
        return None
    if idf_by_term is not None:
        map_df = _local_rel(
            reader.spark,
            [(t, float(idf_by_term.get(t, 0.0)), sorted(term_leaves[t]))
             for t in cov_terms],
            "term string, idf double, leaf_ids array<int>")
    else:
        map_df = _local_rel(
            reader.spark, [(t, sorted(term_leaves[t])) for t in cov_terms],
            "term string, leaf_ids array<int>")
    rows = reader.postings(
        terms=cov_terms,
        df_bound=sum(stats[t]["df"] for t in cov_terms),
        block_floor=block_floor,
    )
    if heap is not None:
        rows = rows.join(F.broadcast(heap.select("doc_id")), "doc_id")
    rows = rows.join(F.broadcast(map_df), "term")
    covered = F.array_distinct(F.flatten(F.collect_list("leaf_ids"))).alias("covered")
    if idf_by_term is not None:
        out = (
            rows.withColumn(
                "contrib", _bm25_score_col(F.col("idf"), k1, b, reader.avgdl))
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"), covered)
        )
    else:
        out = rows.groupBy("doc_id").agg(covered)
    out = out.filter(_coverage_expr(ast, leaf_ix, F.col("covered")))
    return (out.select("doc_id", "score") if idf_by_term is not None
            else out.select("doc_id"))


def _fused_candidate_set(
    reader: IndexReader, ast, expansions, block_floor: int | None = None,
    plan: tuple | None = None,
) -> DataFrame | None:
    """Score-free twin of :func:`search`'s fused plan: the distinct
    candidate doc_ids of a fused-eligible boolean tree from ONE postings
    decode + ONE groupBy, for callers that need candidates without BM25
    weights (facet_counts, the TIME strategy). None when the tree isn't
    fused-eligible — callers fall back to :func:`_eval_candidates`,
    which keeps the loud rejections (pure negation, NOT under OR)."""
    if not _fusible(ast) or isinstance(ast, qp.Not):
        return None
    out = _coverage_agg(
        reader, ast, expansions, block_floor=block_floor, plan=plan)
    if out is None:
        # no query term exists in the dictionary -> empty candidate set
        return reader.spark.range(0).select(F.col("id").alias("doc_id"))
    return out


def _zero_score_topk(
    reader: IndexReader, cands: DataFrame, k: int, *,
    constraint=None, authz=None, authz_field="authz",
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Shared tail of every zero-score (TIME-ordering) answer: the
    constraint / authz / removal masks, the keyset cursor, and the
    newest-first top-k. Every row scores 0, so ``after=(s, d)`` reduces
    to: all rows qualify when s > 0, rows with doc_id < d when s == 0,
    none when s < 0 (the cursor outranks every zero-score row)."""
    if constraint is not None:
        mask = reader.doc_store().filter(constraint).select("doc_id")
        cands = cands.join(mask, "doc_id", "left_semi")
    if authz is not None:
        cands = cands.join(
            composite_authz(reader, authz, authz_field), "doc_id", "left_semi")
    cands = _anti_removed(reader, cands)
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
    against the (slim) doc store, so postings of excluded docs never
    reach the scorer.
    """
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    expansions = _expand(reader, ast, max_expansion)

    phrase_ctx = _phrase_ctx_for(
        reader, ast, locale=locale, use_stopwords=use_stopwords,
        text_df=text_df, text_col=text_col, phrase_via=phrase_via)

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
        cands = _eval_candidates(reader, ast, expansions, phrase_ctx)
        out = _zero_score_topk(
            reader, cands, k, constraint=constraint, authz=authz,
            authz_field=authz_field, after=after)
        return _gather(reader, out, gather_fields, time_order=True)

    # single-pass eligibility: when the whole tree is unfielded
    # non-phrase leaves under grounded and/or/not, candidates and scores
    # come from ONE postings decode + ONE groupBy (coverage aggregation)
    # instead of a per-leaf candidate join plus a second scoring decode.
    # a bare root-level Not is a pure-negation query — the general path
    # rejects it loudly (SearchError, like Lucene); never fuse it into a
    # silently-empty answer.
    fused = _fusible(ast) and not isinstance(ast, qp.Not)
    if fused:
        leaf_ix, term_leaves = _coverage_plan(ast, expansions)
        all_terms = list(term_leaves)  # includes negated leaves' terms
        stats = reader.term_stats(all_terms)
    else:
        stats = reader.term_stats(pos_terms)
    # Lucene-classic `term^N` boost: the clause weight multiplies the
    # term's score contribution (BoostQuery semantics). BM25's per-term
    # contribution is linear in idf, so the boost folds into the
    # broadcast idf relation; a term reached through several leaves
    # (e.g. `spark^2 OR spark`) scores once with the max boost, matching
    # this engine's dedup-terms-then-sum scoring model. The max ranges
    # over the leaves that CONTAIN the term only — no implicit 1.0 floor,
    # so a down-boost (`noise^0.1`, N < 1) genuinely down-weights.
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
    idf_df = _local_rel(reader.spark, idf_rows, "term string, idf double")

    if fused and idf_rows:
        # fused plan: decode the query terms' postings ONCE; each row
        # joins the broadcast (term, idf, leaf-bits) map (negated-leaf-
        # only terms carry idf 0 — present for coverage, scoreless);
        # one groupBy sums BM25 and folds the covered-bit set; the
        # boolean tree evaluates over the bits. Identical result set and
        # scores to the general path (dedup-terms-then-sum model), one
        # decode and one exchange instead of three decodes and two.
        # (idf_rows non-empty => >=1 indexed term => never None here)
        scored = _coverage_agg(
            reader, ast, expansions, idf_by_term=dict(idf_rows),
            plan=(leaf_ix, term_leaves, stats), k1=k1, b=b)
        if constraint is not None:
            scored = scored.join(
                reader.doc_store().filter(constraint).select("doc_id"),
                "doc_id", "left_semi")
        if authz is not None:
            scored = scored.join(
                composite_authz(reader, authz, authz_field), "doc_id", "left_semi")
        scored = _anti_removed(reader, scored)
        candidates = None
    elif fused:
        # fused tree, but no positive term exists in the dictionary:
        # provably empty (every satisfying doc contains a positive leaf
        # term — the _fusible invariant). Answer directly rather than
        # routing to _eval_candidates, whose loud shape rejections don't
        # cover every fused-only shape — the general path must never be
        # reached on data-dependent conditions for a fused query.
        scored = _local_rel(reader.spark, [], "doc_id long, score double")
        candidates = None
    else:
        candidates = _eval_candidates(reader, ast, expansions, phrase_ctx)
        if constraint is not None:
            mask = reader.doc_store().filter(constraint).select("doc_id")
            candidates = candidates.join(mask, "doc_id", "left_semi")
        if authz is not None:
            candidates = candidates.join(
                composite_authz(reader, authz, authz_field), "doc_id", "left_semi")
        # removal mask: tombstoned docs never reach the scorer (the
        # reference ANDs ¬removal into every answer, FullTextCustomQuestion.java:89)
        candidates = _anti_removed(reader, candidates)

    if candidates is None:
        pass  # fused: scored is complete
    elif not idf_rows:
        # no query term exists in the dictionary: skip the scoring scan
        # entirely — postings(terms=[]) would otherwise read the WHOLE
        # postings relation (an empty isin is no filter), a corpus scan
        # per typo'd query at 10^12 docs. Whatever candidates survive
        # (mask-admitted disjuncts) rank as score 0.
        scored = candidates.withColumn("score", F.lit(0.0))
    else:
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
        if _or_admits_nonscoring(ast):
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

    Plan: boolean candidate evaluation (same index-side machinery as
    :func:`search` — no scoring pass), removals anti-joined, one
    semi-pruned doc-store join, one partial-aggregated groupBy, top-k
    via TakeOrderedAndProject. Cost is O(candidates), never a corpus
    scan."""
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], "value string, n long")
    expansions = _expand(reader, ast, max_expansion)
    phrase_ctx = _phrase_ctx_for(
        reader, ast, locale=locale, use_stopwords=use_stopwords,
        text_df=text_df, text_col=text_col, phrase_via=phrase_via)
    cands = _fused_candidate_set(reader, ast, expansions)
    if cands is None:
        cands = _eval_candidates(reader, ast, expansions, phrase_ctx)
    cands = _anti_removed(reader, cands)
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


def _flat_terms_shape(ast):
    """``(mode, [(term, boost)])`` when ``ast`` is a single unfielded
    term or a flat AND/OR of unfielded plain terms (the head shape of a
    production query log), else None."""
    def _plain(c):
        return isinstance(c, qp.Term) and c.field is None
    if _plain(ast):
        return "and", [(ast.term, float(getattr(ast, "boost", 1.0)))]
    if isinstance(ast, (qp.And, qp.Or)) and all(_plain(c) for c in ast.children):
        mode = "and" if isinstance(ast, qp.And) else "or"
        return mode, [
            (c.term, float(getattr(c, "boost", 1.0))) for c in ast.children]
    return None


def _batch_shape(ast):
    """Shared-scan eligibility classifier for :func:`search_batch`
    (round 5 widens it past flat term lists): returns
    ``(mode, score_terms, mask_terms, phrases, neg_terms, neg_phrases)``
    or None (fallback).

    - ``score_terms``: {unfielded term: max boost} — plain terms plus
      every positive phrase's constituent terms (phrase terms
      contribute BM25 weight like ordinary terms, exactly as in
      :func:`search`);
    - ``mask_terms``: composite ``field:value`` terms of exact fielded
      conjuncts — candidate MASKS that never score (search()'s fielded
      semantics), folded into the coverage count with idf weight 0;
    - ``phrases``: [(terms tuple, slop)] — adjacency requirements,
      verified against ONE shared phrase-match relation over the
      coverage-passed candidates;
    - ``neg_terms``: terms (plain or composite) under NOT — a posting
      row under any of them EXCLUDES the (query, doc), implemented as
      pos=0 rows in the same coverage aggregation (never scored,
      never counted toward n_req);
    - ``neg_phrases``: [(terms tuple, slop)] under NOT — adjacency
      matches exclude, via the same shared phrase relation.

    Eligible: a single plain term / phrase, a flat OR of plain terms,
    or a flat AND whose conjuncts are plain terms, unfielded phrases,
    exact fielded terms, and NOTs of any of those — with at least one
    scoring term (a pure-mask query takes search()'s TIME path, not a
    BM25 scan; a pure-negation query is a loud error, as in search()).
    Everything else (expansions, ranges, nesting, OR with masks)
    delegates to search().
    """
    def _plain(c):
        return isinstance(c, qp.Term) and c.field is None

    def _mask(c):
        return isinstance(c, qp.Term) and c.field is not None

    def _phrase(c):
        return isinstance(c, qp.Phrase)

    def _neg(c):
        return isinstance(c, qp.Not) and (
            _plain(c.child) or _mask(c.child) or _phrase(c.child))

    if isinstance(ast, (qp.Term, qp.Phrase)):
        children = [ast]
        mode = "and"
    elif isinstance(ast, qp.Or) and all(_plain(c) for c in ast.children):
        return ("or",
                _max_boost_fold((c.term, float(getattr(c, "boost", 1.0)))
                                for c in ast.children),
                [], [], [], [])
    elif isinstance(ast, qp.And) and all(
            _plain(c) or _mask(c) or _phrase(c) or _neg(c)
            for c in ast.children):
        children = ast.children
        mode = "and"
    else:
        return None
    score: list[tuple[str, float]] = []
    masks: list[str] = []
    phrases: list[tuple[tuple, int]] = []
    neg_terms: list[str] = []
    neg_phrases: list[tuple[tuple, int]] = []
    for c in children:
        if _plain(c):
            score.append((c.term, float(getattr(c, "boost", 1.0))))
        elif _mask(c):
            masks.append(c.term)
        elif _phrase(c):
            w = float(getattr(c, "boost", 1.0))
            score.extend((t, w) for t in dict.fromkeys(c.terms))
            phrases.append((tuple(c.terms), int(getattr(c, "slop", 0))))
        elif _neg(c):
            n = c.child
            if _phrase(n):
                neg_phrases.append(
                    (tuple(n.terms), int(getattr(n, "slop", 0))))
            else:
                neg_terms.append(n.term)
        else:
            return None
    if not score:
        return None  # pure-mask: TIME-ordered zero-score path, not BM25
    # dedup repeated phrases: each distinct requirement produces ONE
    # coverage pseudo-row, so n_req must count it once
    return (mode, _max_boost_fold(score), sorted(set(masks)),
            list(dict.fromkeys(phrases)), sorted(set(neg_terms)),
            list(dict.fromkeys(neg_phrases)))



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
    block_prune: bool | None = None,
) -> DataFrame:
    """Answer MANY queries from ONE shared postings scan.

    Returns DataFrame(query_id string, rank long, doc_id long,
    score double), per-query rank-identical to :func:`search` by
    construction, ordered (query_id, rank), <= k rows per query.

    The serving-scale shape the reference's solver takes for free — many
    concurrent tenant queries against one partition
    (``MiruLowestLatencySolver``) — re-expressed declaratively: the
    union of every flat query's terms prunes ONE postings decode, each
    posting row fans out to the queries containing its term via a
    broadcast (query_id, term, weighted-idf) map, and one
    groupBy(query_id, doc_id) both sums BM25 and counts matched terms
    (AND coverage). Per-query cost amortizes the scan: N queries share
    a single pass over the index instead of N passes.

    Flat AND/OR term queries (incl. ``term^N`` boosts) ride the shared
    scan, and — round 5 — so do AND queries with quoted PHRASES and
    exact FIELDED conjuncts: phrase constituent terms score through the
    same union-term decode (they weigh like ordinary terms, as in
    search()), fielded masks join the coverage count as zero-weight
    composite-term posting rows, and adjacency is enforced by ONE
    shared phrase-match relation whose (query, doc) hits enter the same
    coverage count as zero-weight pseudo-rows — so the single
    groupBy(query_id, doc_id) still decides candidacy AND score for
    every shared shape. NOT conjuncts ride too: negated terms (plain or
    fielded) join the same aggregation as pos=0 rows whose presence
    excludes the pair, and negated phrases anti-mask through the same
    shared phrase relation. Any other parse (expansions, ranges,
    nesting, OR over masks) is answered by :func:`search` per query and
    unioned in — correct by delegation, still one Spark job. AND
    semantics match search()'s fused plan: a conjunct absent from the
    dictionary voids that query (coverage can never complete). Removals
    are anti-joined once for the whole batch. The top-k per query is a
    window partitioned by query_id — bounded per-group state, no global
    sort.
    """
    out_schema = "query_id string, rank long, doc_id long, score double"
    if not queries:
        return _local_rel(reader.spark, [], out_schema)

    # shared[qid] = (mode, {score term: boost}, [mask terms], [phrases],
    #                [negated terms], [negated phrases])
    shared: dict[str, tuple] = {}
    fallback: dict[str, object] = {}
    for qid, q in queries.items():
        ast = _parse_for_index(
            reader, q, locale=locale, use_stopwords=use_stopwords)
        if ast is None:
            continue  # all-stopword query: empty, like search()
        shape = _batch_shape(ast)
        if shape is None:
            fallback[qid] = ast
            continue
        shared[qid] = shape

    parts: list[DataFrame] = []
    if shared:
        union_terms = sorted(
            {t for _, tb, mk, _p, ng, _np in shared.values()
             for t in (*tb, *mk, *ng)})
        stats = reader.term_stats(union_terms)
        # (query_id, term, idf*boost, pos) for indexed terms — mask
        # terms ride with weight 0 (present for coverage, scoreless,
        # the fused plan's trick), NEGATED terms with weight 0 and
        # pos=0 (a posting row under one EXCLUDES the pair; they never
        # count toward n_req — an unindexed negated term excludes
        # nothing, like search()'s empty anti-join). n_req counts all
        # POSITIVE conjuncts (terms, masks; indexed or not), so an
        # unindexed AND conjunct leaves the query's coverage forever
        # short — provably empty, like search()
        qt_rows = [
            (qid, t, reader.idf(stats[t]["df"]) * w, 1)
            for qid, (_, tb, _mk, _p, _ng, _np) in shared.items()
            for t, w in tb.items() if t in stats
        ] + [
            (qid, t, 0.0, 1)
            for qid, (_, _tb, mk, _p, _ng, _np) in shared.items()
            for t in mk if t in stats
        ] + [
            (qid, t, 0.0, 0)
            for qid, (_, _tb, _mk, _p, ng, _np) in shared.items()
            for t in ng if t in stats
        ]
        # n_req counts term + mask conjuncts (phrase ADJACENCY is
        # enforced separately below, over the coverage-passed candidate
        # set — but the phrase's constituent TERMS are conjuncts here)
        req_rows = [
            (qid, (len(tb) + len(mk)) if mode == "and" else 1)
            for qid, (mode, tb, mk, _ph, _ng, _np) in shared.items()
        ]
        if qt_rows:
            qt = F.broadcast(_local_rel(
                reader.spark, qt_rows,
                "query_id string, term string, widf double, pos int"))
            req = F.broadcast(_local_rel(
                reader.spark, req_rows, "query_id string, n_req int"))
            union_idx_terms = sorted({t for _, t, _w, _pos in qt_rows})
            # Block-coverage pruning (the shared-scan twin of
            # search_wand's block-granular intersection): an AND query's
            # matches can only live in blocks containing ALL its terms —
            # a block is a doc-id range, so every posting of a matching
            # doc co-locates. Computing the covered (query, block) set
            # from the BLOCK-level relation (no decode) and restricting
            # both the decode and each AND query's fan-out to it makes
            # the decode volume proportional to co-occurring doc ranges,
            # not to the union terms' full posting lists. The block
            # relation pass costs ~2 extra small stages, so it pays only
            # when the index actually has many blocks — "auto" turns it
            # on past 64 blocks (a 5k-doc test index has 1-80; a
            # 10^12-doc index has ~10^8).
            # AND conjunct terms for block pruning: scoring terms AND
            # mask terms are all required, so a covered block must hold
            # every one of them (phrase constituents are in the scoring
            # set; the phrase-match set is a subset of its terms' AND, so
            # pruning by constituents never drops a phrase hit)
            and_terms = {
                qid: set(tb) | set(mk)
                for qid, (mode, tb, mk, _p, _ng, _np) in shared.items()
                if mode == "and"
            }
            # populated doc-block count from the manifests (driver-side);
            # block_prune=True/False overrides the auto threshold
            prune = (
                block_prune if block_prune is not None
                else reader.max_block_key() + 1 > 64
            ) and bool(and_terms)
            cov = None
            if prune:
                blk = reader.blocks(terms=union_idx_terms).select(
                    "term", "block_key")
                qt_and = F.broadcast(_local_rel(
                    reader.spark,
                    [(qid, t) for qid, ts in and_terms.items()
                     for t in ts if t in stats],
                    "query_id string, term string"))
                req_and = F.broadcast(_local_rel(
                    reader.spark, [(qid, len(ts)) for qid, ts in and_terms.items()],
                    "query_id string, n_req int"))
                # NO broadcast hint on cov/needed: their size scales with
                # covered blocks (up to queries x blocks on wide-df AND
                # terms over a 10^8-block index) — AQE picks broadcast
                # when the runtime stats are small and a shuffled join
                # when they are not, instead of a forced-collect OOM
                cov = (
                    blk.join(qt_and, "term")
                    .groupBy("query_id", "block_key")
                    .agg(F.size(F.collect_set("term")).alias("ntb"))
                    .join(req_and, "query_id")
                    .filter(F.col("ntb") >= F.col("n_req"))
                    .select("query_id", "block_key")
                )
                or_terms = sorted({
                    t for qid, (mode, tb, _mk, _p, _ng, _np) in shared.items()
                    if mode == "or" for t in tb if t in stats
                })
                # blocks ANY query still needs: every block of an OR
                # term, plus the AND-covered blocks
                needed = cov.select("block_key").distinct()
                if or_terms:
                    needed = needed.union(
                        blk.filter(F.col("term").isin(or_terms))
                        .select("block_key")
                    ).distinct()
            src_blocks = reader.blocks(terms=union_idx_terms)
            if prune:
                src_blocks = src_blocks.join(needed, "block_key", "left_semi")
            scored = (
                reader.decode(
                    src_blocks,
                    sidecar=reader.pruned_doclens(
                        union_idx_terms,
                        df_bound=sum(stats[t]["df"] for t in union_idx_terms),
                    ),
                )
                .join(qt, "term")
                .withColumn(
                    "contrib", _bm25_score_col(F.col("widf"), k1, b, reader.avgdl))
            )
            if prune:
                # restrict each AND query's fan-out to its covered
                # blocks (OR queries pass; the nt coverage filter below
                # keeps correctness either way — this only drops rows
                # that could never complete their conjunction)
                or_qids = [qid for qid, (m, _t, _mk, _p, _ng, _np) in shared.items()
                           if m == "or"]
                scored = (
                    scored.withColumn(
                        "block_key",
                        F.shiftright(F.col("doc_id"), reader.block_bits))
                    .join(
                        cov.withColumn("cv", F.lit(1)),
                        ["query_id", "block_key"], "left")
                    .filter(
                        F.col("cv").isNotNull()
                        | F.col("query_id").isin(or_qids))
                )
            # one aggregation decides candidacy AND score: nt counts
            # POSITIVE conjunct rows (terms + masks), nbad counts
            # negated-term rows — a doc survives with full positive
            # coverage and zero negative hits
            scored = (
                scored.select("query_id", "doc_id", "contrib", "pos")
                .groupBy("query_id", "doc_id")
                .agg(F.sum("contrib").alias("score"),
                     F.sum("pos").alias("nt"),
                     (F.count(F.lit(1)) - F.sum("pos")).alias("nbad"))
                .join(req, "query_id")
                .filter((F.col("nt") >= F.col("n_req"))
                        & (F.col("nbad") == 0))
                .select("query_id", "doc_id", "score")
            )
            # shared phrase adjacency: ONE match relation per DISTINCT
            # (terms, slop) across the whole batch, verified over the
            # coverage-PASSED candidates (docs already known to hold
            # every constituent term) — so the text-verify plan touches
            # no postings at all (the batch keeps its single decode) and
            # costs O(candidates), and the positions plan stays
            # index-native. A (query, doc) survives when ALL its
            # phrases verified (n_ph_ok == n_ph); phrase-free queries
            # pass untouched.
            ph_keys = sorted(
                {ph for _, _tb, _mk, phs, _ng, nphs in shared.values()
                 for ph in (*phs, *nphs)})
            if ph_keys:
                pctx = _phrase_ctx_for(
                    reader,
                    qp.Phrase(terms=tuple(ph_keys[0][0]), slop=ph_keys[0][1]),
                    locale=locale, use_stopwords=use_stopwords,
                    text_df=text_df, text_col=text_col,
                    phrase_via=phrase_via)
                _tdf, _tcol, p_stop, p_loc, use_pos = pctx
                ph_rows = None
                for terms, slop in ph_keys:
                    # (query_id, good) pairs requiring this phrase:
                    # good=1 when the phrase is a positive conjunct,
                    # good=0 when negated — both verify over the SAME
                    # shared match relation
                    qids = [
                        (qid, 1)
                        for qid, (_m, _tb, _mk, phs, _ng, _np)
                        in shared.items() if (terms, slop) in phs
                    ] + [
                        (qid, 0)
                        for qid, (_m, _tb, _mk, _p, _ng, nphs)
                        in shared.items() if (terms, slop) in nphs
                    ]
                    qids_df = F.broadcast(_local_rel(
                        reader.spark, qids, "query_id string, good int"))
                    if use_pos:
                        from miru_spark.index.positions import phrase_match_ids

                        verified = phrase_match_ids(
                            reader, list(terms), slop).select("doc_id")
                    else:
                        cand = (
                            scored.join(qids_df.select("query_id"),
                                        "query_id", "left_semi")
                            .select("doc_id").distinct()
                        )
                        verified = (
                            _tdf.select(
                                F.col("doc_id").cast("long").alias("doc_id"),
                                F.col(_tcol))
                            .join(cand, "doc_id", "left_semi")
                            .filter(_phrase_hit_col(
                                list(terms), _tcol, p_stop,
                                slop=slop, locale=p_loc))
                            .select("doc_id")
                        )
                    hit = verified.crossJoin(qids_df).select(
                        "query_id", "doc_id", "good")
                    ph_rows = hit if ph_rows is None else ph_rows.unionByName(hit)
                phr_req = F.broadcast(_local_rel(
                    reader.spark,
                    [(qid, len(phs))
                     for qid, (_m, _tb, _mk, phs, _ng, _np)
                     in shared.items()],
                    "query_id string, n_ph int"))
                # a (query, doc) survives when ALL its positive phrases
                # verified (n_ph_ok == n_ph) and NO negated phrase did
                scored = (
                    scored.join(phr_req, "query_id")
                    .join(
                        ph_rows.groupBy("query_id", "doc_id")
                        .agg(F.sum("good").alias("n_ph_ok"),
                             (F.count(F.lit(1)) - F.sum("good"))
                             .alias("n_ph_bad")),
                        ["query_id", "doc_id"], "left")
                    .filter(((F.col("n_ph") == 0)
                             | (F.coalesce("n_ph_ok", F.lit(0))
                                == F.col("n_ph")))
                            & (F.coalesce("n_ph_bad", F.lit(0)) == 0))
                    .select("query_id", "doc_id", "score")
                )
            parts.append(scored)
    for qid, ast in fallback.items():
        # round_to passes through: the delegate's top-k cut must happen
        # on the same (rounded) scores as the flat path's, or a rounded
        # tie at the k boundary breaks the rank-identity contract
        parts.append(
            search(
                reader, ast, k, k1=k1, b=b, round_to=round_to,
                locale=locale, use_stopwords=use_stopwords, text_df=text_df,
                text_col=text_col, phrase_via=phrase_via,
            ).select(F.lit(qid).alias("query_id"), "doc_id", "score")
        )
    if not parts:
        return _local_rel(reader.spark, [], out_schema)
    allq = parts[0]
    for p in parts[1:]:
        allq = allq.unionByName(p)
    allq = _anti_removed(reader, allq)
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
    # presentation order WITHOUT a range exchange: orderBy() samples for
    # range partitioning — an extra pass for <= N*k result rows. NOTE:
    # repartition(1), not coalesce(1) — coalesce is narrow and would
    # merge INTO the window stage, running the whole per-query ranking
    # (corpus-scale candidate sets) and any gather join as one serial
    # task; repartition keeps the shuffle boundary so the window stays
    # parallel and only the <= N*k final rows funnel into one sorter.
    return out.repartition(1).sortWithinPartitions("query_id", "rank")


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

    Fused-eligible trees answer with newest-first EARLY TERMINATION —
    the reference's descending-iterator behavior made physical: the
    postings/sidecar scans are pruned to the newest blocks
    (``block_key >= floor``, a parquet row-group predicate), the window
    quadrupling until k answers survive the constraint/authz/removal
    masks or the index is exhausted. Doc ids are monotone in block_key,
    so a full window's top-k is the global top-k; at 10^12 docs a TIME
    query touches O(k) recent blocks, never the full posting lists.
    Per-doc coverage stays complete under the floor because every
    posting of a doc (any term) lives in the doc's own block.
    ``first_span`` seeds the window (blocks); tests shrink it to force
    deepening rounds."""
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    expansions = _expand(reader, ast, max_expansion)

    if _fusible(ast) and not isinstance(ast, qp.Not):
        hi = reader.max_block_key()
        total = hi + 1
        # one dictionary collect + one broadcast map, shared by every
        # deepening round (only the block floor varies)
        leaf_ix, term_leaves = _coverage_plan(ast, expansions)
        stats = reader.term_stats(list(term_leaves))
        plan = (leaf_ix, term_leaves, stats)
        if first_span:
            span = int(first_span)
        else:
            # seed the window so ~4k candidates are expected inside it:
            # Σdf over the query's terms spread across all blocks is an
            # upper-bound density (exact for single terms, optimistic
            # for ANDs — the x4 deepening absorbs the miss)
            density = sum(s["df"] for s in stats.values()) / max(total, 1)
            span = max(1, math.ceil(4 * k / max(density, 0.25)))
        for _ in range(max_rounds):
            floor = max(0, hi - span + 1)
            cands = _fused_candidate_set(
                reader, ast, expansions, block_floor=floor or None, plan=plan)
            out = _zero_score_topk(
                reader, cands, k, constraint=constraint, authz=authz,
                authz_field=authz_field, after=after,
            ).localCheckpoint(eager=True)
            if floor == 0 or out.count() >= k:
                return out
            span *= 4
        # pathological miss-rate (masks rejecting nearly everything):
        # answer from the full index rather than looping further
        cands = _fused_candidate_set(reader, ast, expansions, plan=plan)
    else:
        # phrase-bearing (or otherwise non-fused) trees: the same phrase
        # context every other entry point builds — positional sidecar
        # when usable, text verify otherwise, loud error when neither
        phrase_ctx = _phrase_ctx_for(
            reader, ast, locale=locale, use_stopwords=use_stopwords,
            text_df=text_df, text_col=text_col, phrase_via=phrase_via)
        cands = _eval_candidates(reader, ast, expansions, phrase_ctx)
    return _zero_score_topk(
        reader, cands, k, constraint=constraint, authz=authz,
        authz_field=authz_field, after=after)


# ----------------------------------------------------------------------
# Block-max WAND scale path (flat AND conjunctions)
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

    Physical plan: blocks of the query terms -> groupBy(block_key); with
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
        # (search_wand_query and friends) pass stem_terms=False: the
        # parser already analyzed the leaves, and the light stemmers are
        # NOT idempotent ("fitting" -> "fitt"), so a second application
        # would look up the wrong dictionary terms.
        from miru_spark.analysis.stem import stem

        terms = [stem(t, analyzer.stem_lang) for t in terms]
    terms = list(dict.fromkeys(terms))
    n_terms = len(terms)
    stats = reader.term_stats(terms)
    if mode == "and" and len(stats) < n_terms:
        # a term is missing -> empty AND
        return _local_rel(reader.spark, [], "doc_id long, score double")
    terms = [t for t in terms if t in stats]
    if not terms:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    idf = {
        t: reader.idf(stats[t]["df"]) * (boosts.get(t, 1.0) if boosts else 1.0)
        for t in terms
    }
    avgdl, block_bits = reader.avgdl, reader.block_bits
    conjunctive = mode == "and"
    # continuation cursor: only items strictly below it in the
    # (score desc, doc_id desc) total order enter the heap
    cursor = (float(after[0]), int(after[1])) if after is not None else None

    # ONE exchange for the whole block assembly: postings blocks, the
    # doclens sidecar, and the removal log union into a single relation
    # tagged by nullable struct columns, then ONE groupBy(block_key)
    # gathers everything a block group needs (collect_list / collect_set
    # / min all skip nulls, so each source lands only in its own slot).
    # Round 2 ran two groupBys + two joins here — three exchanges plus an
    # explicit repartition — and the fixed overhead showed up as a
    # +56%/+47% WAND regression at sf0.1 (VERDICT r2); the union plan is
    # also the 100-TB shape: everything co-partitions on block_key in one
    # shuffle whose volume is the same bytes the old plan moved three times.
    #
    # DISTINCT posting terms, not a row count: an incrementally-built
    # index may hold several blocks of the same term under one block_key
    # (one per shard touching that doc range); presence means >=1 block
    # per query term. size(collect_set) counts them without the second
    # exchange of countDistinct's distinct-aggregate rewrite. The
    # sidecar may likewise contribute one row per shard; min over its
    # per-block min_doclen stays an
    # admissible bound for the block-max upper bound. pruned_doclens
    # pushes the touched-block set down to the sidecar scan via a
    # broadcast semi-join (the sidecar has no term column of its own).
    posts_raw = reader.blocks(terms=terms)
    pb_t = posts_raw.select(
        F.struct("term", "n", "max_tf", "codec", "doc_ids", "tfs").alias("pb")
    ).schema["pb"].dataType.simpleString()
    side_raw = reader.pruned_doclens(
        terms=terms, df_bound=sum(stats[t]["df"] for t in terms)
    )
    sb_t = side_raw.select(
        F.struct("doc_ids", "doclens").alias("sb")
    ).schema["sb"].dataType.simpleString()
    posts = posts_raw.select(
        "block_key",
        F.struct("term", "n", "max_tf", "codec", "doc_ids", "tfs").alias("pb"),
        F.lit(None).cast(sb_t).alias("sb"),
        F.lit(None).cast("int").alias("mdl"),
        F.lit(None).cast("long").alias("rm_id"),
    )
    side = side_raw.select(
        "block_key",
        F.lit(None).cast(pb_t).alias("pb"),
        F.struct("doc_ids", "doclens").alias("sb"),
        F.col("min_doclen").cast("int").alias("mdl"),
        F.lit(None).cast("long").alias("rm_id"),
    )
    # removal mask rides the same exchange (NOT a driver-collected
    # closure — the removal log is usually a small delta, but nothing
    # bounds it at 100x scale): each surviving block group carries only
    # ITS removed ids, sorted for searchsorted. Whether a removal log
    # exists is decided here, when the query is built (as _anti_removed
    # does): a removal-free index unions no removal relation at all.
    assembled = posts.unionByName(side)
    if reader.has_removals():
        assembled = assembled.unionByName(reader.removed_docs().select(
            F.shiftright(F.col("doc_id"), block_bits).alias("block_key"),
            F.lit(None).cast(pb_t).alias("pb"),
            F.lit(None).cast(sb_t).alias("sb"),
            F.lit(None).cast("int").alias("mdl"),
            F.col("doc_id").alias("rm_id"),
        ))
    grouped = (
        assembled
        .groupBy("block_key")
        .agg(
            F.size(F.collect_set("pb.term")).alias("n_terms_present"),
            F.collect_list("pb").alias("blocks"),
            F.collect_list("sb").alias("side"),
            F.min("mdl").alias("min_doclen"),
            F.sort_array(F.collect_list("rm_id")).alias("removed_ids"),
        )
    )
    # conjunctive: only doc ranges where EVERY term has postings survive
    # (block-granular intersection); disjunctive: any query-term posting
    # qualifies the group — either filter also drops sidecar-/removal-only
    # groups (blocks none of the query terms touch)
    if conjunctive:
        grouped = grouped.filter(F.col("n_terms_present") == len(terms))
    else:
        grouped = grouped.filter(F.col("n_terms_present") >= 1)

    def _ub(idf_t: float, max_tf: int, min_doclen: int) -> float:
        norm = k1 * (1.0 - b + b * min_doclen / avgdl)
        return idf_t * max_tf * (k1 + 1.0) / (max_tf + norm)

    from miru_spark.index import codec

    def _wand(pdf_iter):
        heap: list[tuple[float, int]] = []  # min-heap of (score, doc_id), size <= k

        def theta():
            return heap[0][0] if len(heap) >= k else -math.inf

        for pdf in pdf_iter:
            for block_key, blocks, rem_ids, min_dl, side_chunks in zip(
                pdf["block_key"], pdf["blocks"], pdf["removed_ids"],
                pdf["min_doclen"], pdf["side"]
            ):
                # null from the left join arrives as None/NaN
                removed = (
                    np.asarray(rem_ids, dtype=np.int64)
                    if isinstance(rem_ids, (list, np.ndarray)) and len(rem_ids)
                    else np.empty(0, dtype=np.int64)
                )
                per_term_ub: dict[str, float] = {}
                for blk in blocks:
                    u = _ub(idf[blk["term"]], blk["max_tf"], int(min_dl))
                    t = blk["term"]
                    per_term_ub[t] = max(per_term_ub.get(t, 0.0), u)
                ub = sum(per_term_ub.values())
                # STRICT compare: the heap's total order is (score,
                # doc_id) — a block whose bound exactly ties theta can
                # still hold a doc scoring theta with a higher doc_id,
                # which outranks heap[0] on the tie-break. `<=` would
                # prune it and break rank-identity with search() on
                # uniform-score corpora.
                if ub < theta():
                    continue  # block-max skip: cannot beat current top-k
                base = int(block_key) << block_bits
                # sidecar doclens decode only AFTER the block survives
                # pruning (one copy per block, shared by every term)
                s_parts = [
                    (
                        np.cumsum(
                            codec.varbyte_decode(sc["doc_ids"]).astype(np.int64)
                        ) + base,
                        codec.decode_counts(sc["doclens"]),
                    )
                    for sc in side_chunks
                ]
                if len(s_parts) == 1:
                    side_ids, side_dls = s_parts[0]
                else:
                    side_ids = np.concatenate([c[0] for c in s_parts])
                    side_dls = np.concatenate([c[1] for c in s_parts])
                    s_order = np.argsort(side_ids, kind="stable")
                    side_ids, side_dls = side_ids[s_order], side_dls[s_order]
                parts: dict[str, list] = {}
                for blk in blocks:
                    parts.setdefault(blk["term"], []).append(
                        (
                            codec.decode_block_docids_codec(
                                blk["doc_ids"], base, int(blk["codec"])
                            ),
                            codec.decode_counts(blk["tfs"]),
                        )
                    )
                decoded = {}
                for term, chunks in parts.items():
                    if len(chunks) == 1:
                        decoded[term] = chunks[0]
                    else:
                        # merge same-key blocks from different shards
                        # (disjoint ids within one doc range): concat + sort
                        ids = np.concatenate([c[0] for c in chunks])
                        tfs = np.concatenate([c[1] for c in chunks])
                        order = np.argsort(ids, kind="stable")
                        decoded[term] = (ids[order], tfs[order])
                present = [t for t in terms if t in decoded]
                if conjunctive:
                    # intersect doc ids across terms (AND)
                    inter = decoded[present[0]][0]
                    for t in present[1:]:
                        inter = np.intersect1d(inter, decoded[t][0], assume_unique=True)
                        if inter.size == 0:
                            break
                else:
                    # union of doc ids (OR)
                    inter = decoded[present[0]][0]
                    for t in present[1:]:
                        inter = np.union1d(inter, decoded[t][0])
                if removed.size and inter.size:
                    pos_r = np.searchsorted(removed, inter)
                    hit = (pos_r < removed.size) & (removed[np.minimum(pos_r, removed.size - 1)] == inter)
                    inter = inter[~hit]
                if inter.size == 0:
                    continue
                # one doclen gather per block group — doclen depends only
                # on the doc, so it is NOT re-fetched per term
                dl = side_dls[np.searchsorted(side_ids, inter)].astype(np.float64)
                norm = k1 * (1.0 - b + b * dl / avgdl)
                scores = np.zeros(inter.size, dtype=np.float64)
                for t in present:
                    ids, tfs = decoded[t]
                    if conjunctive:
                        member = np.full(inter.size, True)
                        pos = np.searchsorted(ids, inter)
                    else:
                        pos = np.searchsorted(ids, inter)
                        member = (pos < ids.size) & (ids[np.minimum(pos, ids.size - 1)] == inter)
                        pos = np.minimum(pos, ids.size - 1)
                    tf = tfs[pos].astype(np.float64)
                    contrib = idf[t] * tf * (k1 + 1.0) / (tf + norm)
                    scores += np.where(member, contrib, 0.0)
                for s, d in zip(scores, inter):
                    item = (float(s), int(d))
                    if cursor is not None and item >= cursor:
                        continue  # keyset continuation: already served
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
        yield pd.DataFrame(
            {"doc_id": [d for _, d in heap], "score": [s for s, _ in heap]}
        ).astype({"doc_id": "int64", "score": "float64"})

    local = grouped.mapInPandas(_wand, schema="doc_id long, score double")
    out = local.orderBy(F.col("score").desc(), F.col("doc_id").desc()).limit(k)
    # lazy display-field gather, same as search(): joins AFTER the limit
    return _gather(reader, out, gather_fields)


def _wand_shape(ast, expander=None):
    """Classify a parsed query for the WAND scale path.

    Returns ``(mode, terms, phrases, boosts, plain_terms, masks)`` when
    the query is a flat AND/OR of unfielded plain terms (optionally
    boosted, ``term^N``), quoted phrases, and (AND only) fielded
    exact-match terms — the shapes whose top-k is exactly a WAND run
    plus an order-preserving post-filter. ``terms`` is every scoring
    term (plain + phrase constituents, deduped), ``boosts`` the per-term
    max clause weight (only terms with a non-1 weight appear),
    ``plain_terms`` the Term-leaf terms (the OR post-filter needs them:
    a doc qualifies through a plain disjunct by CONTAINING that term,
    through a phrase disjunct only by adjacency), ``masks`` the fielded
    leaves' composite ``field:value`` vocabulary terms (candidate masks
    that never score — search()'s semantics), ``neg_masks`` the
    NOT-leaves' vocabulary terms (plain or composite: anti-masks, also
    non-scoring, AND only — Lucene rejects NOT directly under OR).
    Everything else returns None and the caller falls back to
    :func:`search`:

    - nested boolean / expansion / negated-phrase leaves change scoring
      or candidate semantics in ways a flat WAND cannot express;
    - a fielded leaf under OR admits docs with no scoring-term ranking
      signal of their own (the disjunct alone qualifies them), which a
      terms-only WAND pool cannot enumerate;
    - at least one scoring term is required (a pure-mask query takes
      search()'s TIME-ordering path, not a WAND run).
    """
    def _leaves_of(node, mode):
        terms: list[str] = []
        plain: list[str] = []
        phrases: list[tuple[list[str], int]] = []
        boosts: dict[str, float] = {}
        masks: list[str] = []
        neg_masks: list[str] = []
        neg_phrases: list[tuple[list[str], int]] = []  # AND: NOT "a b"~N
        req_groups: list[list[str]] = []  # AND mode: required any-of groups
        all_groups: list[list[str]] = []  # OR mode: qualifying all-of groups

        def _group_terms(child):
            """Flatten a one-level nested group's member leaf into its
            term list with boosts, or None when the member shape (Not /
            fielded / phrase / deeper nesting / MatchAll) can't ride the
            WAND path."""
            if isinstance(child, qp.Not) or isinstance(
                child, (qp.Phrase, qp.MatchAll, qp.And, qp.Or)
            ):
                return None
            if getattr(child, "field", None) is not None:
                return None
            wb = float(getattr(child, "boost", 1.0))
            if isinstance(child, qp.Term):
                ts = [child.term]
            elif expander is not None:
                ts = expander(child)
            else:
                return None
            for t in ts:
                if t not in terms:
                    terms.append(t)
                boosts[t] = max(boosts[t], wb) if t in boosts else wb
            return ts
        children = node.children if isinstance(node, (qp.And, qp.Or)) else [node]
        for c in children:
            if isinstance(c, qp.Not):
                # negated plain/fielded exact term = non-scoring
                # anti-mask (search() anti-joins its postings); a negated
                # PHRASE anti-masks via the phrase-match relation
                # (positions sidecar or text verify) the same way —
                # negated expansions need the dictionary — fallback
                if mode == "and" and isinstance(c.child, qp.Term):
                    if c.child.term not in neg_masks:
                        neg_masks.append(c.child.term)
                    continue
                if mode == "and" and isinstance(c.child, qp.Phrase) \
                        and getattr(c.child, "field", None) is None:
                    neg_phrases.append(
                        (list(c.child.terms),
                         int(getattr(c.child, "slop", 0))))
                    continue
                return None
            if getattr(c, "field", None) is not None:
                # fielded exact term = non-scoring candidate mask. Under
                # AND it post-filters the heap (required); under OR it is
                # a qualifying disjunct that also ADMITS zero-score docs
                # — the router unions the composite postings into the
                # answer the same way search()'s _or_admits_nonscoring
                # completes the exact path. Fielded expansion leaves need
                # the dictionary — fallback.
                if isinstance(c, qp.Term):
                    if c.term not in masks:
                        masks.append(c.term)
                    continue
                return None
            if isinstance(c, qp.Or):
                # one-level (a OR b) inside an AND = a required any-of
                # group — the same shape as an expansion leaf's group;
                # members may themselves be terms or expansions (any-of
                # of any-ofs flattens). Deeper nesting falls back.
                if mode != "and":
                    return None
                group: list[str] = []
                for cc in c.children:
                    ts = _group_terms(cc)
                    if ts is None:
                        return None
                    for t in ts:
                        if t not in group:
                            group.append(t)
                req_groups.append(group)
                continue
            if isinstance(c, qp.And):
                # one-level (a AND b) inside an OR = a qualifying all-of
                # group: a pool doc qualifies through this disjunct only
                # by containing EVERY member term, so members must be
                # plain terms (an expansion member would nest any-of
                # inside all-of — fallback).
                if mode != "or":
                    return None
                group = []
                for cc in c.children:
                    if not isinstance(cc, qp.Term) or cc.field is not None:
                        return None
                    ts = _group_terms(cc)
                    if ts is None:
                        return None
                    for t in ts:
                        if t not in group:
                            group.append(t)
                all_groups.append(group)
                continue
            wboost = float(getattr(c, "boost", 1.0))
            if isinstance(c, qp.Term):
                leaf_terms = [c.term]
                if c.term not in plain:
                    plain.append(c.term)
            elif isinstance(c, qp.Phrase):
                leaf_terms = list(c.terms)
                phrases.append((leaf_terms, int(getattr(c, "slop", 0))))
            elif expander is not None and isinstance(
                c, (qp.Prefix, qp.Wildcard, qp.Regexp, qp.Fuzzy)
            ):
                # (TermRange never lands here: the grammar requires a
                # field on ranges, so the fielded-leaf check above owns
                # every range leaf)
                # an expansion leaf is a disjunction of its dictionary
                # terms: under OR (or alone at the root) it flattens into
                # the WAND term pool, each expanded term scoring with the
                # leaf's boost — exactly search()'s model. Inside an AND
                # it becomes a REQUIRED any-of group: the run downgrades
                # to disjunctive WAND (full-score order, so filtering
                # stays rank-preserving) and the group post-filters the
                # bounded heap like a mask.
                leaf_terms = expander(c)
                if mode == "and":
                    req_groups.append(list(leaf_terms))
                else:
                    for t in leaf_terms:
                        if t not in plain:
                            plain.append(t)
                if not leaf_terms:
                    # unmatched expansion: under OR it contributes no
                    # candidates and no terms (the exact path's empty
                    # set); under AND its empty req group voids the query
                    continue
            else:
                return None
            for t in leaf_terms:
                if t not in terms:
                    terms.append(t)
                # max over the leaves containing t, exactly like search()'s
                # tboost — no 1.0 floor, so down-boosts (N < 1) apply; an
                # unboosted sibling leaf still lifts the max back to 1.0
                boosts[t] = max(boosts[t], wboost) if t in boosts else wboost
        if not terms and not req_groups:
            return None
        if phrases and all_groups:
            # phrase qualification (text/positions) and all-of group
            # qualification (postings coverage) under one OR would need
            # a union of two verify machineries — rare shape, fallback
            return None
        if mode == "or" and masks and phrases:
            # zero-score admission + phrase qualification under one OR:
            # the text-verify path cannot express mask membership in a
            # per-doc expression — rare shape, fallback
            return None
        boosts = {t: w for t, w in boosts.items() if w != 1.0}
        return (terms, phrases, boosts, plain, masks, neg_masks,
                neg_phrases, req_groups, all_groups)

    if isinstance(ast, qp.Or):
        r = _leaves_of(ast, "or")
        return None if r is None else ("or", *r)
    if isinstance(ast, (qp.Prefix, qp.Wildcard, qp.Regexp, qp.Fuzzy)):
        # a bare unfielded expansion leaf is an OR of its expanded terms
        r = _leaves_of(ast, "or")
        return None if r is None else ("or", *r)
    if isinstance(ast, (qp.And, qp.Term, qp.Phrase)):
        r = _leaves_of(ast, "and")
        return None if r is None else ("and", *r)
    return None


def _heap_group_filter(
    reader: IndexReader, heap: DataFrame, groups: list[list[str]],
    *, require_all_groups: bool,
) -> DataFrame:
    """Filter a bounded (doc_id, score) heap by term-group coverage from
    ONE term-pruned postings scan streamed against the broadcast heap
    (the unbounded side never broadcasts).

    ``require_all_groups=True`` — conjunctive: a doc survives when EVERY
    group has >=1 member present (any-of groups under an AND; plain
    required terms are singleton groups). ``False`` — disjunctive: a doc
    survives when SOME group has ALL members present (all-of qualifier
    groups under an OR; plain disjuncts are singleton groups)."""
    gmap = _local_rel(
        reader.spark, [(t, gi) for gi, g in enumerate(groups) for t in g],
        "term string, gid int",
    )
    hits = (
        reader.postings(terms=sorted({t for g in groups for t in g}))
        .select("doc_id", "term")
        .join(F.broadcast(heap.select("doc_id")), "doc_id")
        .join(F.broadcast(gmap), "term")
    )
    if require_all_groups:
        passing = (
            hits.groupBy("doc_id")
            .agg(F.size(F.collect_set("gid")).alias("ng"))
            .filter(F.col("ng") == len(groups))
            .select("doc_id")
        )
    else:
        sizes = _local_rel(
            reader.spark, [(gi, len(g)) for gi, g in enumerate(groups)],
            "gid int, sz int")
        passing = (
            hits.groupBy("doc_id", "gid")
            .agg(F.size(F.collect_set("term")).alias("nt"))
            .join(F.broadcast(sizes), "gid")
            .filter(F.col("nt") == F.col("sz"))
            .select("doc_id")
            .distinct()
        )
    return heap.join(F.broadcast(passing), "doc_id")


def _search_wand_coverage(
    reader: IndexReader, ast, k: int, *, k1: float, b: float,
    locale: str | None, use_stopwords: bool | None,
    gather_fields: list[str] | None, after: tuple[float, int] | None,
    first_pool: int | None, max_rounds: int,
    text_df: DataFrame | None = None, text_col: str = "text",
    phrase_via: str = "auto", max_expansion: int = 100,
) -> DataFrame:
    """Scale path for ANY fused-eligible boolean tree (see
    :func:`_fusible`) that isn't one of the flat WAND shapes: arbitrary
    nesting, NOT anywhere a grounded And allows. Enumeration and rank
    come from disjunctive block-max WAND over the POSITIVE leaf terms —
    every satisfying doc contains at least one (the _fusible invariant)
    and negated terms never score, so the pool is ordered by the exact
    path's full BM25 score. Candidacy is decided by the same coverage
    machinery as :func:`search`'s fused plan, restricted to the bounded
    heap: one term-pruned postings scan (positive AND negated terms)
    streamed against the broadcast pool folds per-doc leaf-coverage
    bits, and the boolean tree evaluates over them. Filtering a
    full-score-ordered pool preserves global rank; shortfall deepens
    the pool x4 (same loop as the phrase/mask router), and exhaustion
    falls back to the exact path — never a silently-partial answer."""
    expansions = _expand(reader, ast, max_expansion)
    leaf_ix, term_leaves = _coverage_plan(ast, expansions)
    all_terms = list(term_leaves)

    pos_terms: list[str] = []
    tboost: dict[str, float] = {}
    for leaf in qp.positive_leaves(ast):
        if leaf.field is not None:  # pragma: no cover - excluded by _fusible
            continue
        wb = float(getattr(leaf, "boost", 1.0))
        for t in _leaf_terms(leaf, expansions):
            if t not in pos_terms:
                pos_terms.append(t)
            tboost[t] = max(tboost[t], wb) if t in tboost else wb
    if not pos_terms:
        return _local_rel(reader.spark, [], "doc_id long, score double")
    boosts = {t: w for t, w in tboost.items() if w != 1.0}

    stats = reader.term_stats(all_terms)
    plan = (leaf_ix, term_leaves, stats)

    pool = int(first_pool) if first_pool else max(4 * k, 64)
    for _ in range(max_rounds):
        cand = search_wand(
            reader, pos_terms, pool, k1=k1, b=b, mode="or", after=after,
            boosts=boosts or None, locale=locale, use_stopwords=use_stopwords,
            stem_terms=False,  # parser-analyzed leaves: already stemmed
        ).localCheckpoint(eager=True)
        n_cand = cand.count()
        covered = _coverage_agg(reader, ast, expansions, heap=cand, plan=plan)
        if covered is None:
            verified = cand  # no query term indexed: cand is empty anyway
        else:
            # eager checkpoint: the shortfall test below COUNTS verified,
            # and the caller's collect would otherwise re-run the whole
            # coverage aggregation a second time — materialize once,
            # serve both (same lifecycle as cand's checkpoint above)
            verified = cand.join(
                F.broadcast(covered), "doc_id").localCheckpoint(eager=True)
        if n_cand < pool or verified.count() >= k:
            out = verified.orderBy(
                F.col("score").desc(), F.col("doc_id").desc()).limit(k)
            return _gather(reader, out, gather_fields)
        pool *= 4
    return search(
        reader, ast, k, k1=k1, b=b, locale=locale,
        use_stopwords=use_stopwords, text_df=text_df, text_col=text_col,
        phrase_via=phrase_via, gather_fields=gather_fields, after=after,
    )


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
    allows, falling back to :func:`search` otherwise. Rank-identical to
    :func:`search` on every query, by construction:

    - flat AND / OR of plain terms (optionally boosted, ``term^N`` —
      the clause weight folds into the per-term idf, keeping the
      block-max bound admissible) -> :func:`search_wand` directly;
    - AND / OR of terms + quoted phrases (incl. ``"a b"~N`` slop) ->
      WAND over the constituent terms (phrase terms score like ordinary
      terms, exactly as :func:`search` — ``FullText.java:99-219``
      model), then leaf-match-verify the bounded candidate heap against
      ``text_df`` with the same JVM expressions the exact path uses
      (AND: every phrase adjacency; OR: any phrase adjacency or any
      plain term contained). Because every candidate outranks every
      non-candidate in the (score desc, doc_id desc) total order,
      filtering candidates preserves global rank; if fewer than k
      survive, the pool is deepened (x4) and re-run — iterative
      deepening, O(log(result rank)) bounded WAND rounds, each touching
      only block-pruned postings, never the corpus. The loop also
      terminates the moment a WAND round returns fewer rows than it
      asked for (the candidate set is then complete). If ``max_rounds``
      deepenings exhaust without either completeness condition, the
      query falls back to the exact :func:`search` path rather than
      returning a silently-partial answer.
    - AND with fielded exact-match terms (``lang:en AND spark ...``) ->
      WAND over the scoring terms, then each fielded leaf's composite
      posting list masks the bounded heap (a non-scoring candidate
      filter, exactly search()'s semantics — same deepening loop);
    - AND with ``NOT term`` / ``NOT field:value`` clauses -> the negated
      postings anti-mask the bounded heap (intersect-then-anti, so the
      unbounded posting list streams against the broadcast heap);
    - unfielded expansion leaves (prefix / wildcard / ``/regexp/`` /
      fuzzy; ranges are always fielded in this grammar): under OR (or bare at the root) the leaf flattens
      into the WAND pool as an OR of its dictionary expansions, each
      expanded term scoring with the leaf's boost (search()'s exact
      model, same default expansion cap); under AND the leaf becomes a
      REQUIRED any-of group — the run downgrades to disjunctive WAND
      (the pool is then ordered by the full BM25 score, so filtering
      preserves rank) and one term-pruned postings scan against the
      broadcast heap checks that every plain term and >=1 term of each
      group is present, with the same deepening loop on shortfall;
    - one-level nested boolean over unfielded terms: ``(a OR b) AND c``
      -> the OR group rides the same required any-of machinery as an
      expansion leaf (members may be terms or expansions);
      ``(a AND b) OR c`` -> the AND group is a qualifying all-of
      disjunct — the pool post-filters on per-(doc, group) coverage
      from one term-pruned postings scan (plain disjuncts are
      singleton groups);
    - anything else (fielded leaves under OR, fielded expansions,
      negated phrases, deeper nesting, phrase + all-of-group mixes
      under OR, or any of ``search``'s mask kwargs) -> :func:`search`.

    ``first_pool`` seeds the candidate pool size (default
    ``max(4k, 64)``); tests shrink it to force deepening rounds.
    """
    ast = _parse_for_index(reader, query, locale=locale, use_stopwords=use_stopwords)
    if ast is None:
        return _local_rel(reader.spark, [], "doc_id long, score double")

    # lazy leaf expander: the dictionary is scanned only for expansion
    # leaves _wand_shape actually reaches in an eligible position, at
    # the same cap as search()'s default (shapes that fall back re-use
    # search()'s own expansion; explicit max_expansion lands in
    # search_kwargs and forces the fallback anyway)
    _exp_cache: dict = {}

    def _expander(leaf):
        key = leaf.prefix if isinstance(leaf, qp.Prefix) else leaf
        if key not in _exp_cache:
            _exp_cache.update(_expand(reader, leaf, 100))
        return _exp_cache.get(key, [])

    shape = None if search_kwargs else _wand_shape(ast, _expander)
    if shape is None:
        if (not search_kwargs and _fusible(ast)
                and not isinstance(ast, qp.Not)):
            # not a flat shape, but still a pure boolean over unfielded
            # text terms (arbitrary nesting, NOT inside): the fused
            # coverage verifier answers it on the WAND scale path
            return _search_wand_coverage(
                reader, ast, k, k1=k1, b=b, locale=locale,
                use_stopwords=use_stopwords, gather_fields=gather_fields,
                after=after, first_pool=first_pool, max_rounds=max_rounds,
                text_df=text_df, text_col=text_col, phrase_via=phrase_via,
            )
        return search(
            reader, ast, k, k1=k1, b=b, locale=locale,
            use_stopwords=use_stopwords, text_df=text_df, text_col=text_col,
            gather_fields=gather_fields, after=after, **search_kwargs,
        )
    (mode, terms, phrases, boosts, plain_terms, masks, neg_masks,
     neg_phrases, req_groups, all_groups) = shape
    if any(not g for g in req_groups):
        # an AND-required expansion matched nothing in the dictionary:
        # the conjunction is unsatisfiable (exact path: empty candidate
        # intersection) — answer without touching postings
        return _local_rel(reader.spark, [], "doc_id long, score double")
    if mode == "or" and masks and after is not None:
        # keyset paging through the zero-score admission region needs
        # the exact path's cursor semantics — rare shape, fallback
        return search(
            reader, ast, k, k1=k1, b=b, locale=locale,
            use_stopwords=use_stopwords, text_df=text_df, text_col=text_col,
            gather_fields=gather_fields, after=after,
        )
    if (not phrases and not masks and not neg_masks and not neg_phrases
            and not req_groups and not all_groups):
        return search_wand(
            reader, terms, k, k1=k1, b=b, mode=mode, after=after,
            gather_fields=gather_fields, boosts=boosts or None,
            locale=locale, use_stopwords=use_stopwords,
            stem_terms=False,  # parser-analyzed leaves: already stemmed
        )

    # phrase/mask-bearing boolean: WAND candidates + leaf-match
    # post-filter. AND: every phrase must verify and every fielded mask
    # must contain the doc (plain terms are already guaranteed by the
    # conjunctive WAND run). OR: a doc qualifies by CONTAINING any plain
    # disjunct's term, or by adjacency of any phrase disjunct — the same
    # candidate union search()'s _eval_candidates takes, and scores are
    # over all terms present either way, so filtering the
    # (total-order-ranked) WAND pool preserves global rank.
    hit = None
    pos_semi: list[DataFrame] = []  # AND mode: one semi-filter per phrase
    neg_pos: list[DataFrame] = []  # AND mode: one anti-filter per NOT-phrase
    pos_union: DataFrame | None = None  # OR mode: any-qualifier doc set
    if phrases or neg_phrases:
        # same resolution (and the same loud missing-text error) as every
        # other entry point — _phrase_ctx_for is never None here because
        # the shape carries phrase leaves (negated ones included)
        tdf, tcol, eff_stop, eff_locale, use_pos = _phrase_ctx_for(
            reader, ast, locale=locale, use_stopwords=use_stopwords,
            text_df=text_df, text_col=text_col, phrase_via=phrase_via)
        if use_pos:
            # positional sidecar: adjacency decided index-side, so the
            # verify step becomes posting-relation joins against the
            # broadcast heap — no doc-text scan on the WAND path either
            from miru_spark.index.positions import phrase_match_ids

            if mode == "and":
                pos_semi = [
                    phrase_match_ids(reader, list(p_terms), p_slop)
                    for p_terms, p_slop in phrases
                ]
                neg_pos = [
                    phrase_match_ids(reader, list(p_terms), p_slop)
                    for p_terms, p_slop in neg_phrases
                ]
            else:
                pos_union = phrase_match_ids(
                    reader, list(phrases[0][0]), phrases[0][1])
                for p_terms, p_slop in phrases[1:]:
                    pos_union = pos_union.union(
                        phrase_match_ids(reader, list(p_terms), p_slop))
                if plain_terms:
                    pos_union = pos_union.union(
                        reader.postings(terms=plain_terms).select("doc_id"))
        else:
            text = tdf.select(
                F.col("doc_id").cast("long").alias("doc_id"), F.col(tcol)
            )
            for p_terms, p_slop in phrases:
                c = _phrase_hit_col(p_terms, text_col, eff_stop, slop=p_slop,
                                    locale=eff_locale)
                if hit is None:
                    hit = c
                else:
                    hit = (hit & c) if mode == "and" else (hit | c)
            for p_terms, p_slop in neg_phrases:  # AND-only by the shape
                c = _phrase_hit_col(p_terms, text_col, eff_stop, slop=p_slop,
                                    locale=eff_locale)
                hit = ~c if hit is None else (hit & ~c)
            if mode == "or" and plain_terms:
                from miru_spark.analysis.tokenizer import tokens_col

                toks = tokens_col(F.col(text_col), use_stopwords=eff_stop,
                                  locale=eff_locale)
                for t in plain_terms:
                    hit = hit | F.array_contains(toks, F.lit(t))

    # AND with required any-of-expansion groups: conjunctive WAND cannot
    # require "one of these terms", so the RUN downgrades to disjunctive
    # WAND over all scoring terms — the pool is then ordered by the FULL
    # BM25 score (identical to the exact path's), so post-filtering it
    # by the requirements preserves global rank. The requirements — every
    # plain term present, plus >=1 term of each expansion group — apply
    # below as ONE term-pruned postings scan against the broadcast heap.
    run_mode = "or" if req_groups else mode
    req_all: list[list[str]] = (
        [[t] for t in plain_terms] + req_groups if req_groups else []
    )

    pool = int(first_pool) if first_pool else max(4 * k, 64)
    verified = None
    for _ in range(max_rounds):
        cand = search_wand(
            reader, terms, pool, k1=k1, b=b, mode=run_mode, after=after,
            boosts=boosts or None, locale=locale, use_stopwords=use_stopwords,
            stem_terms=False,  # parser-analyzed leaves: already stemmed
        ).localCheckpoint(eager=True)  # <= pool rows; reused twice below
        n_cand = cand.count()
        verified = cand
        if all_groups:
            # OR mode with all-of disjunct groups: a pool doc qualifies
            # by containing any plain disjunct's term OR every member of
            # some (a AND b) disjunct (plain terms are singleton groups)
            # OR membership in a fielded mask's composite posting list
            # (masks are singleton groups over the composite vocabulary)
            verified = _heap_group_filter(
                reader, verified,
                [[t] for t in plain_terms] + all_groups
                + ([[m] for m in masks] if mode == "or" else []),
                require_all_groups=False)
        if req_all:
            # AND mode: a doc survives by covering ALL groups — every
            # plain term (singleton groups) and >=1 member per any-of group
            verified = _heap_group_filter(
                reader, verified, req_all, require_all_groups=True)
        if mode == "and":
            for m in masks:
                # composite-postings mask: stream the (term-pruned)
                # postings scan against the broadcast <= pool-row heap —
                # never the other way around; at corpus scale a keyword
                # value's posting list is unbounded, the heap is not.
                # (OR-mode masks never REMOVE pool docs — they only
                # qualify/admit; handled above and in the zero-score
                # completion below.)
                verified = (
                    reader.postings(terms=[m]).select("doc_id")
                    .join(F.broadcast(verified), "doc_id")
                    .select("doc_id", "score")
                )
        if neg_masks:
            # NOT terms anti-mask the heap, exactly search()'s negative
            # anti-join — but keep the big side streaming: a negated
            # term's posting list is unbounded at corpus scale, so first
            # intersect it with the broadcast heap (one term-pruned scan
            # for all negated terms), then anti-join the tiny hit set
            hit_neg = (
                reader.postings(terms=neg_masks).select("doc_id")
                .join(F.broadcast(verified.select("doc_id")), "doc_id")
                .distinct()
            )
            verified = verified.join(
                F.broadcast(hit_neg), "doc_id", "left_anti")
        if hit is not None:
            verified = (
                text.join(F.broadcast(verified), "doc_id")
                .filter(hit)
                .select("doc_id", "score")
            )
        for m_df in pos_semi:
            # stream the (term-pruned) phrase-match relation against the
            # broadcast <= pool-row heap — same shape as the mask joins
            verified = (
                m_df.join(F.broadcast(verified), "doc_id")
                .select("doc_id", "score")
            )
        for m_df in neg_pos:
            # NOT "a b": the phrase-match relation anti-masks the heap —
            # intersect the (unbounded) match relation with the
            # broadcast heap first, then anti-join the tiny hit set
            # (the neg_masks shape, with phrase adjacency as the mask)
            hit_neg = (
                m_df.join(F.broadcast(verified.select("doc_id")), "doc_id")
                .distinct()
            )
            verified = verified.join(
                F.broadcast(hit_neg), "doc_id", "left_anti")
        if pos_union is not None:
            verified = (
                pos_union.join(F.broadcast(verified), "doc_id")
                .select("doc_id", "score")
                .dropDuplicates(["doc_id"])  # a doc may qualify via
                # several disjuncts; scores are per-doc so any row wins
            )
        if verified is not cand:
            # eager checkpoint of the filtered pool: the shortfall test
            # below counts it, the OR-mask completion may count it
            # again, and the caller's collect re-executes the whole
            # mask/phrase verify chain otherwise — materialize once
            # (<= pool rows), serve all three
            verified = verified.localCheckpoint(eager=True)
        if n_cand < pool or verified.count() >= k:
            break  # candidate set complete, or enough survivors
        pool *= 4
    else:
        # max_rounds exhausted without either completeness condition:
        # the survivor set may be missing docs the exact path would
        # return. Never ship a silently-partial answer — fall back to
        # the exact path (one corpus-scale scan, the price of a
        # pathologically phrase-sparse conjunction).
        return search(
            reader, ast, k, k1=k1, b=b, locale=locale,
            use_stopwords=use_stopwords, text_df=text_df,
            text_col=text_col, phrase_via=phrase_via,
            gather_fields=gather_fields, after=after,
        )
    if mode == "or" and masks:
        # fielded disjuncts ADMIT docs with no scoring-term signal: when
        # fewer than k scored docs qualify, the answer completes with
        # zero-score members of the composite posting lists — exactly
        # search()'s _or_admits_nonscoring completion, expressed as
        # term-pruned postings scans (mask postings minus docs holding
        # any scoring term, minus removals), ordered doc_id desc. Every
        # scored doc outranks every zero-score doc in the (score desc,
        # doc_id desc) total order, so appending preserves rank.
        have = verified.count()
        if have < k:
            scored_docs = reader.postings(terms=terms).select("doc_id").distinct()
            zero = (
                reader.postings(terms=masks).select("doc_id").distinct()
                .join(scored_docs, "doc_id", "left_anti")
                .transform(lambda d: _anti_removed(reader, d))
                .withColumn("score", F.lit(0.0))
                .orderBy(F.col("doc_id").desc())
                .limit(k - have)
            )
            verified = verified.select("doc_id", "score").unionByName(zero)
    out = verified.orderBy(F.col("score").desc(), F.col("doc_id").desc()).limit(k)
    return _gather(reader, out, gather_fields)
