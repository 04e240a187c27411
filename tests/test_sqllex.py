"""The SQL lexer (openmldb_spark/sqllex.py) and the one literal rule it
gives every consumer: a backslash escapes the next character inside a
quoted literal, comments and backquoted identifiers are opaque."""

import pytest
from hypothesis import given, settings, strategies as st

from openmldb_spark import sqllex
from openmldb_spark.sqllex import SqlUnsupported


def kinds(text):
    return [(t.kind, t.text) for t in sqllex.tokenize(text)
            if t.kind != "ws"]


def test_token_kinds():
    assert kinds("select `a b`, 'x\\'y' from {0} where c >= ? -- note\n"
                 "/* (block) */ and f(1.5e3, [2])") == [
        ("id", "select"), ("qid", "`a b`"), ("comma", ","),
        ("str", "'x\\'y'"), ("id", "from"), ("table", "{0}"),
        ("id", "where"), ("id", "c"), ("op", ">="), ("param", "?"),
        ("comment", "-- note"), ("comment", "/* (block) */"),
        ("id", "and"), ("id", "f"), ("paren", "("), ("num", "1.5e3"),
        ("comma", ","), ("bracket", "["), ("num", "2"), ("bracket", "]"),
        ("paren", ")")]


def test_depth_counts_parens_outside_the_token():
    toks = [t for t in sqllex.tokenize("f(a, (b)), c") if t.kind != "ws"]
    assert [(t.text, t.depth) for t in toks] == [
        ("f", 0), ("(", 0), ("a", 1), (",", 1), ("(", 1), ("b", 2),
        (")", 1), (")", 0), (",", 0), ("c", 0)]


def test_unterminated_literal_runs_to_the_end():
    assert kinds("a = 'b, c") == [("id", "a"), ("op", "="),
                                  ("str", "'b, c")]
    assert sqllex.split("x, 'a, b") == ["x", " 'a, b"]


def test_join_dotted():
    toks = sqllex.join_dotted(sqllex.tokenize("{0}.c1 + t.* - `a`.b"))
    assert [t.text for t in toks if t.kind == "id"] == \
        ["{0}.c1", "t.*", "`a`.b"]


def test_mask_literals_keeps_quotes_and_length():
    text = "a = 'x)y' and b = \"p\\\"q\""
    masked = sqllex.mask_literals(text)
    assert len(masked) == len(text)
    assert masked == "a = '   ' and b = \"    \""


def test_map_code_and_sub_code_skip_literals():
    assert sqllex.sub_code(r"\bt1\.", "T.", "t1.a = 't1.a'") == \
        "T.a = 't1.a'"
    assert sqllex.map_code("a || 'b || c'", str.upper) == "A || 'b || c'"


def test_strip_comments():
    assert sqllex.strip_comments("select a -- x\nfrom /* y */ t") == \
        "select a \nfrom   t"
    assert sqllex.strip_comments("select '-- no', `a--b` from t") == \
        "select '-- no', `a--b` from t"
    with pytest.raises(SqlUnsupported, match="unterminated block comment"):
        sqllex.strip_comments("select 1 /* open")


def test_match_paren_and_wrapped():
    text = "f(a, ')', [1, (2)])"
    assert sqllex.match_paren(text, 1) == len(text) - 1
    assert sqllex.match_paren(text, text.index("[")) == len(text) - 2
    with pytest.raises(SqlUnsupported, match="unbalanced parens"):
        sqllex.match_paren("f(a", 1)
    assert sqllex.wrapped(" (a + (b)) ")
    assert not sqllex.wrapped("(a) + (b)")
    assert not sqllex.wrapped("((a)")


def test_split_on_punctuation_and_keywords():
    assert sqllex.split("a, f(b, c), 'x,y'") == ["a", " f(b, c)", " 'x,y'"]
    assert sqllex.split("a; b", ";") == ["a", " b"]
    assert sqllex.split("x = 1 AND (y = 2 and z) and w", "and") == \
        ["x = 1 ", " (y = 2 and z) ", " w"]
    # CASE ... END is one operand
    assert sqllex.split("case when a and b then 1 end and c", "and",
                        case_end=True) == \
        ["case when a and b then 1 end ", " c"]
    # the AND of BETWEEN x AND y does not split
    assert sqllex.split("a between 1 and 2 and c", "and", between=True) == \
        ["a between 1 and 2 ", " c"]
    # a stray ')' ends depth 0 for the rest of the text
    assert sqllex.split("a), b") == ["a), b"]


def test_split_binary():
    assert sqllex.split_binary("a + b * (c - d) - -e", "+-") == \
        [("", "a"), ("+", "b * (c - d)"), ("-", "-e")]
    assert sqllex.split_binary("x * -y / 'a/b' % f(1/2)", "*/%") == \
        [("", "x"), ("*", "-y"), ("/", "'a/b'"), ("%", "f(1/2)")]
    with pytest.raises(SqlUnsupported, match="unbalanced parens"):
        sqllex.split_binary("(a + b", "+")


def test_depth0_matches():
    sql = "select (select x from a) from b where c = 'from'"
    assert [m.start() for m in sqllex.depth0(sql, r"\bfrom\b")] == \
        [sql.index(") from") + 2]


def test_calls_reports_outermost_calls():
    text = "f(a, g(b)) + `string`(x) + h (y) + ``name`` (z) + 'k(1)'"
    assert [(name, text[lp:rp + 1]) for _, name, lp, rp in
            sqllex.calls(text)] == [("f", "(a, g(b))"), ("string", "(x)"),
                                    ("h", "(y)")]


def test_placeholders():
    sql = "insert into t values (?, '?', \"?\", ?) -- ?"
    assert sqllex.placeholders(sql) == 2
    assert sqllex.fill_placeholders(sql, ["1", "2"]) == \
        "insert into t values (1, '?', \"?\", 2) -- ?"


def test_drop_calls():
    assert sqllex.drop_calls("select 1 from t  CONFIG(a=')', b=(1))",
                             "config") == "select 1 from t"
    # inside a literal, or unbalanced: untouched
    assert sqllex.drop_calls("select 'config(x)'", "config") == \
        "select 'config(x)'"
    assert sqllex.drop_calls("select 1 config(a", "config") == \
        "select 1 config(a"


# -- the backslash-escape rule now holds in io.py too (these three failed
# -- while io.py scanned quotes with its own escape-blind loops) ---------

def test_config_strip_keeps_escaped_literal_whole():
    from openmldb_spark.sources.io import _strip_config_clauses
    sql = "select 'it\\'s config(x)' as c from t"
    assert _strip_config_clauses(sql) == sql


def test_config_strip_after_escaped_outfile_path():
    from openmldb_spark.sources.io import _strip_config_clauses
    sql = ("select * from t into outfile 'a\\'b' "
           "options(format='csv') config(spark.x='1')")
    assert _strip_config_clauses(sql) == \
        "select * from t into outfile 'a\\'b' options(format='csv')"


def test_stmt_options_escaped_quote_value():
    from openmldb_spark.sources.io import _parse_stmt_options
    assert _parse_stmt_options("delimiter='\\'', header=true") == {
        "delimiter": ("\\'", True), "header": ("true", False)}


# -- properties -----------------------------------------------------------

_word = st.sampled_from(["a", "b1", "select", "and", "12", "1.5", "+", "-",
                         "*", "/", "=", ",", ";", "?", "{0}", ".", "!="])
_lit_body = st.text(alphabet=st.sampled_from(list("ab ()'\"\\,;-*/")),
                    max_size=8)


@st.composite
def _literal(draw):
    q = draw(st.sampled_from(["'", '"']))
    body = draw(_lit_body).replace("\\", "\\\\").replace(q, "\\" + q)
    return q + body + q


_comment = st.one_of(
    _lit_body.map(lambda s: "-- " + s.replace("\n", " ") + "\n"),
    _lit_body.map(lambda s: "/* " + s.replace("*/", "* /") + " */"))
_qid = st.text(alphabet=st.sampled_from(list("ab (),'-")), max_size=5) \
    .map(lambda s: f"`{s}`")


def _balanced(children):
    return st.one_of(children.map(lambda s: f"({s})"),
                     st.lists(children, max_size=4).map(" ".join))


_text = st.recursive(st.one_of(_word, _literal(), _comment, _qid),
                     _balanced, max_leaves=12)


@settings(max_examples=300, deadline=None)
@given(_text)
def test_tokens_partition_the_text_and_depth_stays_nonnegative(text):
    toks = sqllex.tokenize(text)
    assert "".join(t.text for t in toks) == text
    assert all(a.end == b.start for a, b in zip(toks, toks[1:]))
    assert all(t.depth >= 0 for t in toks)
    # every group closes: the text ends back at depth 0
    assert not toks or toks[-1].depth + (toks[-1].text == "(") == 0


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40))
def test_tokens_partition_any_text(text):
    assert "".join(t.text for t in sqllex.tokenize(text)) == text
    assert len(sqllex.mask_literals(text)) == len(text)
