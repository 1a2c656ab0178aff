"""Query-parser unit tests (pure Python, no Spark).

Grammar semantics mirror the reference parser: default operator AND,
MUST/SHOULD/MUST_NOT -> And/Or/Not, `value*` -> Prefix (reference:
miru-stream-plugins ``.../fulltext/LuceneBackedQueryParser.java:47-53,
76-144``).
"""

import pytest

from miru_spark.query.parser import (
    And,
    Not,
    Or,
    Prefix,
    QueryParseError,
    Term,
    parse_query,
    positive_leaves,
)


def test_single_term():
    assert parse_query("Spark") == Term("spark")


def test_adjacency_is_and():
    node = parse_query("spark query data")
    assert isinstance(node, And)
    assert node.children == [Term("spark"), Term("query"), Term("data")]


def test_explicit_and_equivalent():
    assert parse_query("spark AND query") == parse_query("spark query")


def test_or_precedence_below_and():
    node = parse_query("a b OR c d")
    # (a AND b) OR (c AND d) — default-AND binds tighter than OR
    assert isinstance(node, Or)
    assert node.children == [
        And([Term("a"), Term("b")]),
        And([Term("c"), Term("d")]),
    ]


def test_not_and_dash():
    n1 = parse_query("a NOT b")
    n2 = parse_query("a -b")
    assert n1 == n2
    assert isinstance(n1, And)
    assert n1.children == [Term("a"), Not(Term("b"))]


def test_parens_group():
    node = parse_query("a AND (b OR c)")
    assert node == And([Term("a"), Or([Term("b"), Term("c")])])


def test_prefix_leaf():
    node = parse_query("quer* AND spark")
    assert node.children[0] == Prefix("quer")


def test_case_normalized_through_analyzer():
    assert parse_query("SPARK Query") == And([Term("spark"), Term("query")])


def test_positive_leaves_exclude_not():
    node = parse_query("a b NOT c OR d")
    assert [leaf.term for leaf in positive_leaves(node)] == ["a", "b", "d"]


@pytest.mark.parametrize("bad", ["", "(a", "a)", "()", "a ("])
def test_parse_errors(bad):
    with pytest.raises(QueryParseError):
        parse_query(bad)


def test_bare_operator_word_is_a_term():
    # a solitary AND/OR token with no right operand is analyzed as the
    # literal word (matches docs containing "and"), not a syntax error
    assert parse_query("AND") == Term("and")


def test_nested_parens():
    node = parse_query("((a OR b)) c")
    assert node == And([Or([Term("a"), Term("b")]), Term("c")])


def test_hyphen_is_not_only_at_term_boundary():
    from miru_spark.query import parser as qp

    # mid-word hyphen = token separator (Lucene analyzer behavior)
    ast = qp.parse_query("hello-world")
    assert ast == qp.And([qp.Term("hello"), qp.Term("world")])
    assert qp.parse_query("state-of-the-art") == qp.And(
        [qp.Term("state"), qp.Term("of"), qp.Term("the"), qp.Term("art")]
    )
    # boundary hyphen = MUST_NOT
    ast2 = qp.parse_query("foo -bar")
    assert isinstance(ast2.children[1], qp.Not)
    ast3 = qp.parse_query("a (-b)")
    assert isinstance(ast3.children[1], qp.Not)


def test_lowercase_operator_words_are_terms():
    # Lucene classic: only uppercase AND/OR/NOT are operators
    assert parse_query("ping and pong") == And(
        [Term("ping"), Term("and"), Term("pong")]
    )
    assert parse_query("x or y") == And([Term("x"), Term("or"), Term("y")])
    node = parse_query("x OR y")
    assert isinstance(node, Or)


def test_symbolic_operators():
    from miru_spark.query.parser import Not, Or

    assert parse_query("a || b") == Or([Term("a"), Term("b")])
    assert parse_query("a && b") == And([Term("a"), Term("b")])
    node = parse_query("a && !b")
    assert isinstance(node.children[1], Not)


def test_bang_boundary_matches_hyphen_rule():
    from miru_spark.query import parser as qp

    # mid-word '!' = token separator, same rule as '-' (ADVICE r01)
    assert qp.parse_query("foo!bar") == qp.And([qp.Term("foo"), qp.Term("bar")])
    # boundary '!' = MUST_NOT
    ast = qp.parse_query("foo !bar")
    assert isinstance(ast.children[1], qp.Not)
    ast2 = qp.parse_query("a (!b)")
    assert isinstance(ast2.children[1], qp.Not)


def test_fielded_term_and_prefix():
    from miru_spark.query import parser as qp

    ast = qp.parse_query("lang:en AND spark")
    assert ast == qp.And([qp.Term("lang:en", field="lang"), qp.Term("spark")])
    ast2 = qp.parse_query("lang:e* spark")
    assert ast2.children[0] == qp.Prefix("lang:e", field="lang")
    # fielded values are exact-match: no analysis, never stopword-pruned
    pruned = qp.prune_stopwords(qp.parse_query("lang:the the spark"))
    assert pruned == qp.And([qp.Term("lang:the", field="lang"), qp.Term("spark")])


def test_phrase_parses_quoted():
    from miru_spark.query.parser import And, Phrase, Term, parse_query

    node = parse_query('"Big Data" AND fast')
    assert isinstance(node, And)
    assert node.children[0] == Phrase(("big", "data"))
    assert node.children[1] == Term("fast")


def test_single_word_phrase_degrades_to_term():
    from miru_spark.query.parser import Term, parse_query

    assert parse_query('"Spark"') == Term("spark")


def test_phrase_stopword_pruning():
    from miru_spark.query.parser import Phrase, Term, prune_stopwords

    assert prune_stopwords(Phrase(("the", "data"))) == Term("data")
    assert prune_stopwords(Phrase(("the", "a"))) is None
    assert prune_stopwords(Phrase(("big", "the", "data"))) == Phrase(("big", "data"))


def test_empty_phrase_raises():
    import pytest

    from miru_spark.query.parser import QueryParseError, parse_query

    with pytest.raises(QueryParseError):
        parse_query('""')


def test_boost_suffix_on_term():
    from miru_spark.query.parser import Term

    node = parse_query("spark^2")
    assert node == Term("spark", boost=2.0)
    node = parse_query("spark^2.5")
    assert node == Term("spark", boost=2.5)


def test_boost_default_is_one():
    from miru_spark.query.parser import Term

    assert parse_query("spark") == Term("spark", boost=1.0)


def test_boost_on_prefix_fielded_and_phrase():
    from miru_spark.query.parser import Phrase, Prefix, Term

    assert parse_query("quer*^3") == Prefix("quer", boost=3.0)
    assert parse_query("lang:en^2") == Term("lang:en", field="lang", boost=2.0)
    assert parse_query('"hello world"^4') == Phrase(("hello", "world"), boost=4.0)


def test_boost_in_boolean_context():
    from miru_spark.query.parser import And, Term

    node = parse_query("spark^2 AND query")
    assert node == And([Term("spark", boost=2.0), Term("query")])


def test_boost_survives_stopword_pruning():
    from miru_spark.query.parser import Phrase, Term, prune_stopwords

    node = parse_query('"the spark"^2')
    assert isinstance(node, Phrase) and node.boost == 2.0
    pruned = prune_stopwords(node)
    assert pruned == Term("spark", boost=2.0)


def test_fuzzy_parses():
    from miru_spark.query.parser import Fuzzy

    assert parse_query("spark~1") == Fuzzy("spark", max_edits=1)
    assert parse_query("spark~") == Fuzzy("spark", max_edits=2)
    assert parse_query("spark~1^2") == Fuzzy("spark", max_edits=1, boost=2.0)


def test_range_parses():
    from miru_spark.query.parser import TermRange

    assert parse_query("lang:[de TO en]") == TermRange(
        "lang", "de", "en", include_lo=True, include_hi=True)
    assert parse_query("lang:{de TO fr}") == TermRange(
        "lang", "de", "fr", include_lo=False, include_hi=False)
    assert parse_query("lang:[fr TO *]") == TermRange(
        "lang", "fr", None, include_lo=True, include_hi=True)
    assert parse_query("lang:[* TO de}") == TermRange(
        "lang", None, "de", include_lo=True, include_hi=False)


def test_slop_parses():
    from miru_spark.query.parser import Phrase

    node = parse_query('"hello big world"~2')
    assert node == Phrase(("hello", "big", "world"), slop=2)
    assert parse_query('"hello world"~2^3') == Phrase(
        ("hello", "world"), slop=2, boost=3.0)


def test_plus_marker_consumed():
    from miru_spark.query.parser import And, Term

    assert parse_query("+spark +query") == And([Term("spark"), Term("query")])


def test_fuzzy_and_wildcard_rejections():
    import pytest as _pytest

    from miru_spark.query.parser import QueryParseError

    for bad in ["lang:en~1", "quer*~1"]:
        with _pytest.raises(QueryParseError):
            parse_query(bad)


def test_wildcard_parses():
    from miru_spark.query.parser import Wildcard

    assert parse_query("te?t") == Wildcard("te?t")
    assert parse_query("s*rk") == Wildcard("s*rk")
    assert parse_query("*ark") == Wildcard("*ark")  # leading allowed
    assert parse_query("qu*y^2") == Wildcard("qu*y", boost=2.0)
    # lowercaseExpandedTerms: pattern is lowercased, not analyzed
    assert parse_query("Te?T") == Wildcard("te?t")


def test_trailing_star_only_is_prefix_not_wildcard():
    assert parse_query("quer*") == Prefix("quer")


def test_fielded_wildcard_keeps_composite_term():
    from miru_spark.query.parser import Wildcard

    assert parse_query("source:sr?1") == Wildcard("source:sr?1", field="source")
    # trailing-star-only fielded value stays the cheap Prefix scan
    assert parse_query("source:src*") == Prefix("source:src", field="source")


def test_all_wildcard_rejected():
    with pytest.raises(QueryParseError):
        parse_query("*?*")


def test_field_group_distributes():
    node = parse_query("lang:(en OR de)")
    assert node == Or([Term("lang:en", field="lang"), Term("lang:de", field="lang")])


def test_field_group_default_and():
    node = parse_query("lang:(en de)")
    assert node == And([Term("lang:en", field="lang"), Term("lang:de", field="lang")])


def test_field_group_mixes_prefix_and_wildcard():
    from miru_spark.query.parser import Wildcard

    node = parse_query("source:(src* OR sr?2)")
    assert node == Or([
        Prefix("source:src", field="source"),
        Wildcard("source:sr?2", field="source"),
    ])


def test_field_group_inner_field_overrides():
    node = parse_query("lang:(en OR source:src1)")
    assert node == Or([
        Term("lang:en", field="lang"),
        Term("source:src1", field="source"),
    ])


def test_field_group_negation_and_nesting():
    node = parse_query("lang:(en -de)")
    assert node == And([
        Term("lang:en", field="lang"),
        Not(Term("lang:de", field="lang")),
    ])
    nested = parse_query("lang:((en OR de) fr)")
    assert nested == And([
        Or([Term("lang:en", field="lang"), Term("lang:de", field="lang")]),
        Term("lang:fr", field="lang"),
    ])


def test_field_group_scope_ends_at_paren():
    # the term after the group is an ordinary analyzed text term
    node = parse_query("lang:(en) spark")
    assert node == And([Term("lang:en", field="lang"), Term("spark")])


def test_fielded_quoted_value():
    assert parse_query('source:"src 1"') == Term("source:src 1", field="source")
    node = parse_query('source:("src 1" OR src2)')
    assert node == Or([
        Term("source:src 1", field="source"),
        Term("source:src2", field="source"),
    ])
    # a quoted value is one exact keyword value, braces included
    assert parse_query('tag:"${spark.app.name}"') == Term(
        "tag:${spark.app.name}", field="tag")


def test_field_group_rejects_fuzzy_and_unclosed():
    with pytest.raises(QueryParseError):
        parse_query("lang:(en~1)")
    with pytest.raises(QueryParseError):
        parse_query("lang:(en")


def test_regexp_parses():
    from miru_spark.query.parser import Regexp

    assert parse_query("/qu.ry/") == Regexp("qu.ry")
    assert parse_query("/ab+c/^2") == Regexp("ab+c", boost=2.0)
    assert parse_query("/QU.RY/") == Regexp("qu.ry")  # lowercased
    assert parse_query("lang:/e./") == Regexp("lang:(?:e.)", field="lang")
    node = parse_query("lang:(/e./ OR de)")
    from miru_spark.query.parser import Or, Term as T
    assert node == Or([Regexp("lang:(?:e.)", field="lang"), T("lang:de", field="lang")])


def test_regexp_in_boolean_context():
    from miru_spark.query.parser import Regexp

    node = parse_query("/qu.ry/ AND spark")
    assert node == And([Regexp("qu.ry"), Term("spark")])


def test_empty_regexp_rejected():
    with pytest.raises(QueryParseError):
        parse_query("// AND spark")


def test_regexp_required_prefix():
    from miru_spark.index.reader import _regexp_required_prefix as rp

    assert rp("qu.ry") == "qu"
    assert rp("ab|cd") == ""          # top-level alternation voids the prune
    assert rp("ab(c|d)e") == "ab"     # grouped alternation keeps it
    assert rp(r"ab\|cd") == "ab"      # escaped pipe is literal
    assert rp("lang:(?:en|de)") == "lang:"
    assert rp(".*x") == ""


# ---- property: the parser is total over arbitrary input ----------------
# Any string must either parse to a Node or raise QueryParseError — no
# other exception type, ever (the reference wraps Lucene's ParseException
# the same way). Alphabet is biased toward grammar metacharacters to hit
# the interesting corners.

from hypothesis import given, settings
from hypothesis import strategies as st

_QUERY_ALPHABET = st.sampled_from(
    list("abqw 019_*?~^:()[]{}\"'/\\|&!+-.TOANDR")
)


@given(st.text(alphabet=_QUERY_ALPHABET, min_size=0, max_size=40))
@settings(max_examples=500, deadline=None)
def test_parser_total_no_crashes(q):
    from miru_spark.query.parser import Node, parse_query

    try:
        node = parse_query(q)
    except QueryParseError:
        return
    assert isinstance(node, Node)


@given(st.text(alphabet=_QUERY_ALPHABET, min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_prune_stopwords_total(q):
    from miru_spark.query.parser import Node, parse_query, prune_stopwords

    try:
        node = parse_query(q)
    except QueryParseError:
        return
    pruned = prune_stopwords(node)
    assert pruned is None or isinstance(pruned, Node)


def test_match_all_parses():
    from miru_spark.query.parser import And, MatchAll, Not

    assert parse_query("*:*") == MatchAll()
    node = parse_query("*:* -spark")
    assert node == And([MatchAll(), Not(Term("spark"))])


def test_regexp_lowercase_preserves_escapes():
    from miru_spark.query.parser import Regexp

    assert parse_query(r"/\D+X/") == Regexp(r"\D+x")
    assert parse_query(r"/A\WB/") == Regexp(r"a\Wb")


def test_regexp_required_prefix_quantifier_and_class_soundness():
    from miru_spark.index.reader import _regexp_required_prefix as rp

    assert rp("spar?k") == "spa"   # '?' makes the 'r' optional
    assert rp("abc*") == "ab"
    assert rp("ab{0,2}c") == "a"
    assert rp("ab+c") == "ab"      # '+' still requires one 'b'
    assert rp("a[(]b|cd") == ""    # '|' is top-level despite '(' in class
    assert rp("a[|]b") == "a"      # '|' inside a class is literal


def test_prune_stopwords_keeps_slop():
    from miru_spark.query.parser import Phrase, prune_stopwords

    node = parse_query('"quick the brown fox"~4')
    pruned = prune_stopwords(node)
    assert pruned == Phrase(("quick", "brown", "fox"), slop=4)
