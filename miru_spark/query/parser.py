"""Query-string parser: Lucene-classic-style boolean grammar -> AST.

Mirrors the reference's parser semantics (reference: miru-stream-plugins
``.../fulltext/LuceneBackedQueryParser.java:47-53, 76-144``): default
operator is AND (47-53); TermQuery -> term leaf, PrefixQuery -> ``value*``
leaf, BooleanQuery MUST/SHOULD/MUST_NOT -> And/Or/Not nodes (76-144).
Terms are run through the same analyzer as indexing so query tokens match
index tokens byte-for-byte.

Grammar::

    query  := orExpr
    orExpr := andExpr ('OR' andExpr)*
    andExpr:= unary (('AND')? unary)*          # adjacency = AND
    unary  := ('NOT' | '-') unary | atom
    atom   := '(' orExpr ')' | FIELD':(' orExpr ')' | WORD'*' | WORD

Inside ``field:(...)`` every bare clause is fielded (classic QueryParser
distributes the field over the group); an inner explicit ``other:value``
overrides it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from miru_spark.analysis.tokenizer import tokenize


class Node:
    pass


@dataclass(frozen=True)
class Term(Node):
    term: str
    field: str | None = None  # non-None -> composite "field:value" term
    boost: float = 1.0  # Lucene classic ``term^N`` query-time weight


@dataclass(frozen=True)
class Prefix(Node):
    prefix: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase(Node):
    """Quoted ``"exact phrase"``: consecutive analyzed tokens. The
    reference's makeFilter handles only Term/Prefix/Boolean
    (``LuceneBackedQueryParser.java:76-144``) — phrases are an extension
    this engine adds for web-corpus search. ``field`` is always the
    default text field (fielded keyword values are exact-match already).

    ``slop`` (``"a b"~N``): ordered sloppy match — the terms must appear
    in order with at most ``slop`` extra tokens interleaved (no
    transpositions; Lucene's slop additionally buys reorderings at
    slop >= 2, a semantics this engine deliberately narrows).
    """

    terms: tuple = ()
    boost: float = 1.0
    slop: int = 0
    field = None  # class attr: phrases always live in the default field


@dataclass(frozen=True)
class Fuzzy(Node):
    """``term~N``: matches indexed terms within Levenshtein distance
    ``max_edits`` of ``term`` (Lucene classic FuzzyQuery; bare ``term~``
    defaults to 2 edits). Default text field only."""

    term: str
    max_edits: int = 2
    boost: float = 1.0
    field = None  # class attr: fuzzy applies to the default text field


@dataclass(frozen=True)
class Wildcard(Node):
    """``te?t`` / ``s*rk`` — Lucene WildcardQuery: ``*`` matches any
    token substring, ``?`` exactly one character, anywhere in the term
    (a trailing-``*``-only pattern parses as :class:`Prefix` instead).
    Bare patterns match analyzed text terms; ``field:pat`` patterns
    match the fielded keyword vocabulary and act as candidate masks.
    Leading wildcards are allowed but cost a full dictionary scan (the
    df-ranked expansion cap still bounds the result) — the same
    trade-off Lucene documents for ``allowLeadingWildcard``."""

    pattern: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Regexp(Node):
    """``/pat/`` — Lucene RegexpQuery: the pattern must match the WHOLE
    indexed term (Lucene anchors regexps implicitly). The dialect here
    is Java regex (Spark ``rlike``), a documented deviation from
    Lucene's own regexp dialect: the shared core (``. * + ? [] | ()``)
    behaves identically; Lucene's exotic operators (``~ # @`` under
    extended flags) are not supported. Bare patterns match analyzed
    text terms; ``field:/pat/`` matches the fielded keyword vocabulary
    as a candidate mask."""

    pattern: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAll(Node):
    """``*:*`` — Lucene MatchAllDocsQuery. A candidate MASK matching
    every live doc (useful to anchor pure-negation or pure-constraint
    queries); contributes no BM25 weight, so a query of only ``*:*`` and
    fielded masks falls back to the TIME ordering like any pure-mask
    query."""

    field: str = "*"  # non-None -> mask semantics (never scores)
    boost: float = 1.0


@dataclass(frozen=True)
class TermRange(Node):
    """``field:[lo TO hi]`` / ``{lo TO hi}``: lexicographic keyword-value
    range over a fielded keyword vocabulary (Lucene TermRangeQuery —
    square bracket = inclusive, curly = exclusive, ``*`` = open bound).
    Like all fielded leaves it is an exact-match candidate MASK and
    contributes no BM25 weight."""

    field: str = ""
    lo: str | None = None
    hi: str | None = None
    include_lo: bool = True
    include_hi: bool = True
    boost: float = 1.0


@dataclass
class And(Node):
    children: list = field(default_factory=list)


@dataclass
class Or(Node):
    children: list = field(default_factory=list)


@dataclass
class Not(Node):
    child: Node = None


# '-' is the NOT prefix only at a term boundary (start / after space /
# after '('): Lucene treats `foo -bar` as MUST_NOT but analyzes
# `hello-world` into two AND'd terms — a mid-word hyphen is a token
# separator, not a negation.
# '!' gets the same boundary guard: `foo!bar` is two AND'd terms (the
# analyzer treats '!' as a token separator), not foo AND NOT bar.
# `field:value` (and `field:pre*`) lexes as ONE token — Lucene's fielded
# TermQuery/PrefixQuery syntax (``LuceneBackedQueryParser.java:76-144``
# routes term.field() into the field filter).
# A trailing `~N` (fuzzy / slop) then `^N` / `^N.N` (boost) stays
# attached to its term / phrase / fielded token, in Lucene's suffix
# order (`"a b"~2^3`, `term~1^2`); atom() peels them off into
# Node.{max_edits,slop,boost}. `field:[lo TO hi]` / `{lo TO hi}` lexes
# as ONE range token (Lucene TermRangeQuery syntax).
_BOOST = r"(?:\^\d+(?:\.\d+)?)?"
_FUZZ = r"(?:~\d*)?"
_LEX = re.compile(
    r"\"[^\"]*\"" + _FUZZ + _BOOST
    + r"|\(|\)|&&|\|\|"
    + r"|\*:\*"  # MatchAllDocsQuery
    + r"|\w+:/[^/]*/" + _BOOST  # fielded regexp: `field:/pat/`
    + r"|/[^/]*/" + _BOOST  # Lucene RegexpQuery: `/pat/`
    + r"|\w+:\("  # field-grouped clause opener: `field:(a OR b)`
    + r"|\w+:\"[^\"]*\"" + _BOOST  # fielded quoted value: `field:"two words"`
    + r"|\w+:[\[{][^\]}]*[\]}]" + _BOOST
    + r"|\w+:[\w*?]*" + _FUZZ + _BOOST
    + r"|[\w*?]+" + _FUZZ + _BOOST
    + r"|(?<![\w*?])-|(?<![\w*?])!|(?<![\w*?])\+",
    re.UNICODE,
)

_BOOST_SUFFIX = re.compile(r"\^(\d+(?:\.\d+)?)$")
_FUZZ_SUFFIX = re.compile(r"~(\d*)$")
_RANGE_BODY = re.compile(r"^(\w+):([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$")


class QueryParseError(ValueError):
    pass


def _only_trailing_star(s: str) -> bool:
    """True when the token's sole wildcard is one trailing ``*`` — the
    PrefixQuery special case (dictionary range scan, no LIKE match)."""
    return s.endswith("*") and "*" not in s[:-1] and "?" not in s


class _Parser:
    def __init__(self, tokens: list[str], locale: str | None = None):
        self.toks = tokens
        self.locale = locale
        self.i = 0
        # inside a `field:(...)` group every bare clause is fielded —
        # Lucene classic distributes the field over the group
        self.cur_field: str | None = None

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self) -> Node:
        node = self.or_expr()
        if self.peek() is not None:
            raise QueryParseError(f"trailing input at token {self.i}: {self.peek()!r}")
        return node

    # Lucene-classic operators are CASE-SENSITIVE: only uppercase
    # AND/OR/NOT are keywords; lowercase variants are ordinary terms.
    def or_expr(self) -> Node:
        parts = [self.and_expr()]
        while self.peek() in ("OR", "||"):
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else Or(parts)

    def and_expr(self) -> Node:
        parts = [self.unary()]
        while True:
            t = self.peek()
            if t is None or t == ")" or t in ("OR", "||"):
                break
            if t in ("AND", "&&"):
                self.next()
                continue
            parts.append(self.unary())
        return parts[0] if len(parts) == 1 else And(parts)

    def unary(self) -> Node:
        t = self.peek()
        if t is not None and t in ("NOT", "-", "!"):
            self.next()
            return Not(self.unary())
        if t == "+":
            # Lucene's MUST marker: under this engine's AND-default
            # grammar every non-negated clause is already required, so
            # `+` is consumed as a no-op (as classic QueryParser does
            # when defaultOperator=AND)
            self.next()
            return self.unary()
        return self.atom()

    def atom(self) -> Node:
        t = self.next()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t == "(":
            node = self.or_expr()
            if self.next() != ")":
                raise QueryParseError("unbalanced parenthesis")
            return node
        if t == ")":
            raise QueryParseError("unexpected ')'")
        if t == "*:*":
            return MatchAll()
        gm = re.fullmatch(r"(\w+):\(", t)
        if gm:
            # `field:(a OR b)` — classic QueryParser distributes the
            # field over every bare clause in the group (an inner
            # explicit `other:value` overrides it). Groups nest; the
            # innermost field wins.
            prev, self.cur_field = self.cur_field, gm.group(1)
            try:
                node = self.or_expr()
            finally:
                self.cur_field = prev
            if self.next() != ")":
                raise QueryParseError("unbalanced parenthesis in field group")
            return node
        boost = 1.0
        bm = _BOOST_SUFFIX.search(t)
        if bm:  # peel `^N` off any boostable token (quoted / fielded / bare)
            boost = float(bm.group(1))
            t = t[: bm.start()]
        # peel `~N` (fuzzy edits on a term, slop on a phrase); a bare
        # `~` means "default": 2 edits for fuzzy, 0 slop for phrases
        has_tilde = False
        tilde_n: int | None = None
        fm = _FUZZ_SUFFIX.search(t)
        if fm:
            has_tilde = True
            tilde_n = int(fm.group(1)) if fm.group(1) else None
            t = t[: fm.start()]
        if t.startswith('"'):
            if self.cur_field is not None:
                # quoted value inside a field group: ONE exact keyword
                # value (may contain spaces) — keyword fields are
                # unanalyzed, so no phrase semantics apply
                if has_tilde:
                    raise QueryParseError(
                        f"slop not supported on fielded value {t!r}")
                return Term(f"{self.cur_field}:{t.strip(chr(34))}",
                            field=self.cur_field, boost=boost)
            toks = tokenize(t.strip('"'), locale=self.locale)
            if not toks:
                raise QueryParseError(f"empty phrase {t!r}")
            if len(toks) == 1:  # one-token "phrase" degrades to a Term
                return Term(toks[0], boost=boost)
            return Phrase(tuple(toks), boost=boost, slop=tilde_n or 0)
        if t.startswith("/") and t.endswith("/") and len(t) >= 2:
            pat = t[1:-1]
            if not pat:
                raise QueryParseError("empty regexp //")
            if has_tilde:
                raise QueryParseError(f"cannot combine regexp and fuzzy in {t!r}")
            if self.cur_field is not None:
                # wrap so the field prefix distributes over any
                # top-level alternation in the value pattern
                return Regexp(f"{self.cur_field}:(?:{pat})",
                              field=self.cur_field, boost=boost)
            # like wildcards, regexp terms bypass analysis but literal
            # characters are lowercased (lowercaseExpandedTerms). Escape
            # sequences must survive verbatim — naively lowercasing
            # would turn \D into \d (inverting its meaning).
            pat = re.sub(
                r"\\.|[A-Z]",
                lambda m: m.group(0) if m.group(0)[0] == "\\" else m.group(0).lower(),
                pat,
            )
            return Regexp(pat, boost=boost)
        rm = _RANGE_BODY.match(t)
        if rm:
            fname, ob, lo, hi, cb = rm.groups()
            return TermRange(
                field=fname,
                lo=None if lo == "*" else lo,
                hi=None if hi == "*" else hi,
                include_lo=ob == "[",
                include_hi=cb == "]",
                boost=boost,
            )
        if ":" in t:
            fname, _, value = t.partition(":")
            # a quoted value is one exact keyword value, braces included
            if ("[" in t or "{" in t) and not value.startswith('"'):
                raise QueryParseError(f"bad range {t!r} (expected field:[lo TO hi])")
            if has_tilde:
                raise QueryParseError(
                    f"fuzzy not supported on fielded term {t!r} (keyword "
                    "fields are exact-match)")
            # fielded term: keyword fields are exact-match (no analysis,
            # KeywordAnalyzer semantics) against the composite
            # "field:value" posting term the builder wrote
            if value.startswith("/") and value.endswith("/") and len(value) >= 2:
                pat = value[1:-1]
                if not pat:
                    raise QueryParseError("empty regexp //")
                # fielded regexp: the anchored pattern matches the whole
                # composite "field:value" vocabulary term (the field
                # prefix is regex-literal — field names are \w+; the
                # (?:) wrap distributes the prefix over top-level
                # alternations in the value pattern)
                return Regexp(f"{fname}:(?:{pat})", field=fname, boost=boost)
            if value.startswith('"') and value.endswith('"') and len(value) >= 2:
                # `field:"two words"` — one exact keyword value
                return Term(f"{fname}:{value[1:-1]}", field=fname, boost=boost)
            if _only_trailing_star(value):
                return Prefix(f"{fname}:{value[:-1]}", field=fname, boost=boost)
            if "*" in value or "?" in value:
                # fielded wildcard: keyword values are unanalyzed, so the
                # pattern stays verbatim inside the composite term
                return Wildcard(f"{fname}:{value}", field=fname, boost=boost)
            if not value:
                raise QueryParseError(f"bad fielded term {t!r}")
            return Term(t, field=fname, boost=boost)
        if self.cur_field is not None:
            # bare clause inside `field:(...)`: fielded exact-match
            # keyword semantics, same as the `field:value` syntax
            if has_tilde:
                raise QueryParseError(
                    f"fuzzy not supported on fielded term {t!r} (keyword "
                    "fields are exact-match)")
            f = self.cur_field
            if "*" in t or "?" in t:
                if _only_trailing_star(t):
                    return Prefix(f"{f}:{t[:-1]}", field=f, boost=boost)
                if not any(c not in "*?" for c in t):
                    raise QueryParseError(
                        f"wildcard {t!r} needs at least one literal")
                return Wildcard(f"{f}:{t}", field=f, boost=boost)
            return Term(f"{f}:{t}", field=f, boost=boost)
        if "*" in t or "?" in t:
            if has_tilde:
                raise QueryParseError(f"cannot combine wildcard and fuzzy in {t!r}")
            if _only_trailing_star(t):
                body = t[:-1]
                toks = tokenize(body, locale=self.locale)
                if len(toks) != 1:
                    raise QueryParseError(f"bad prefix term {t!r}")
                return Prefix(toks[0], boost=boost)
            # general wildcard: the pattern bypasses analysis (Lucene
            # does not analyze wildcard terms) but is lowercased, like
            # classic QueryParser's lowercaseExpandedTerms default
            pat = t.lower()
            if not any(c not in "*?" for c in pat):
                raise QueryParseError(f"wildcard {t!r} needs at least one literal")
            return Wildcard(pat, boost=boost)
        if has_tilde:
            # fuzzy term: analyze the body (it must stay one token);
            # bare `term~` defaults to 2 edits as in Lucene classic
            toks = tokenize(t, locale=self.locale)
            if len(toks) != 1:
                raise QueryParseError(f"bad fuzzy term {t!r}")
            return Fuzzy(toks[0], max_edits=2 if tilde_n is None else tilde_n,
                         boost=boost)
        toks = tokenize(t, locale=self.locale)
        if not toks:
            raise QueryParseError(f"bad term {t!r}")
        if len(toks) == 1:
            return Term(toks[0], boost=boost)
        # the analyzer split one input word into several terms (e.g.
        # "Brücke" under the frozen ASCII analyzer) — Lucene's parser
        # turns that into a boolean sub-query over the produced terms
        return And([Term(tk, boost=boost) for tk in toks])


def parse_query(q: str, *, locale: str | None = None) -> Node:
    """Parse a query string; ``locale`` selects the analyzer used to
    normalize term text — it must match the analyzer the target index
    was built with (the reference resolves both sides through the same
    ``TermAnalyzers.findAnalyzer``)."""
    toks = _LEX.findall(q)
    if not toks:
        raise QueryParseError("empty query")
    return _Parser(toks, locale=locale).parse()


def prune_stopwords(node: Node, stopwords=None) -> Node | None:
    """Drop stopword Term leaves — the query-side analyzer step for a
    stopword-stripped index (reference: the "useStopWords" analyzer
    variants strip them at query time too, ``TermAnalyzers.java:45-138``).
    ``stopwords`` defaults to the English set; pass the index locale's
    set for non-"en" indexes.

    Returns None when the whole node vanishes; a NOT over a vanished
    child is a no-op (a stopword can never exclude anything).
    """
    if stopwords is None:
        from miru_spark.analysis.tokenizer import STOPWORDS_EN

        stopwords = STOPWORDS_EN

    if isinstance(node, Term):
        # fielded terms are exact-match keyword values, never stopwords
        return None if (node.field is None and node.term in stopwords) else node
    if isinstance(node, (Prefix, Wildcard, Regexp, Fuzzy, TermRange, MatchAll)):
        return node
    if isinstance(node, Phrase):
        # a stopword-stripped index has no stopword tokens to be adjacent
        # to — the phrase matches over the stripped token stream, so the
        # query side strips too (Lucene's stopword analyzers leave a
        # position gap; over a stripped index the gap-free match is the
        # only answerable semantics)
        kept = tuple(t for t in node.terms if t not in stopwords)
        if not kept:
            return None
        if len(kept) == 1:
            return Term(kept[0], boost=node.boost)
        return Phrase(kept, boost=node.boost, slop=node.slop)
    if isinstance(node, Not):
        child = prune_stopwords(node.child, stopwords)
        return Not(child) if child is not None else None
    kept = [
        c for c in (prune_stopwords(c, stopwords) for c in node.children)
        if c is not None
    ]
    if not kept:
        return None
    if len(kept) == 1 and not isinstance(kept[0], Not):
        return kept[0]
    return And(kept) if isinstance(node, And) else Or(kept)


LEAF_TYPES = (Term, Prefix, Wildcard, Regexp, Phrase, Fuzzy, TermRange, MatchAll)


def positive_leaves(node: Node) -> list[Node]:
    """All leaves not under a NOT — the scoring terms."""
    if isinstance(node, LEAF_TYPES):
        return [node]
    if isinstance(node, Not):
        return []
    out = []
    for c in node.children:
        out.extend(positive_leaves(c))
    return out


def negative_leaves(node: Node) -> list[Node]:
    if isinstance(node, LEAF_TYPES):
        return []
    if isinstance(node, Not):
        return [leaf for leaf in _all_leaves(node.child)]
    out = []
    for c in node.children:
        out.extend(negative_leaves(c))
    return out


def _all_leaves(node: Node) -> list[Node]:
    if isinstance(node, LEAF_TYPES):
        return [node]
    if isinstance(node, Not):
        return _all_leaves(node.child)
    out = []
    for c in node.children:
        out.extend(_all_leaves(c))
    return out
