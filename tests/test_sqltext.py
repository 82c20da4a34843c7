"""The SQL lexer (``mcp_clickhouse_spark.sqltext``): quote and comment
rules, and the bracket structure ``Scan`` answers from one pass."""

import pytest

from mcp_clickhouse_spark.sqltext import Scan, split_args, strip_comments


def test_bare_hash_token_is_not_a_comment():
    # CH needs '#!' or '# ' — '#7' must survive as text
    assert "#7" in strip_comments("SELECT '#7', a #7")
    # ... inside a string it always survives
    assert strip_comments("SELECT '#! x'") == "SELECT '#! x'"


def test_unterminated_block_runs_to_end():
    assert strip_comments("SELECT 1 /* dangling") == "SELECT 1  "


def test_token_boundary_preserved():
    assert strip_comments("SELECT a/*c*/b") == "SELECT a b"


def test_code_follows_the_quote_rule():
    sql = r"SELECT 'it\'s', 'a''b', r'x\', `c``d`, x -- 'no"
    sc = Scan(sql)
    assert [sql[a:b] for a, b in sc.quoted] == [
        r"'it\'s'", "'a''b'", r"'x\'", "`c``d`",
    ]
    assert sc.comments == [(sql.index("--"), len(sql))]
    assert sc.code(sql.index("x -")) and not sc.code(sql.index("s'"))
    assert sc.code_text == sql.replace(r"'it\'s'", " " * 7).replace(
        "'a''b'", " " * 6
    ).replace(r"'x\'", " " * 4).replace("`c``d`", " " * 6).replace(
        "-- 'no", " " * 6
    )


def test_depth_and_partner():
    sql = "f(a[1], '(', (b))"
    sc = Scan(sql)
    assert [sc.depth(i) for i in (0, 2, 4, 9, 14, 16)] == [0, 1, 2, 1, 2, 1]
    assert sc.partner(1) == len(sql) - 1 and sc.partner(len(sql) - 1) == 1
    assert sc.partner(3) == 5  # brackets pair on the same stack
    assert sc.partner(9) is None  # quoted, not code
    assert sc.end_of(13) == 16
    assert sc.top(0) and not sc.top(2)


@pytest.mark.parametrize("sql, pos", [("(a", 0), ("a)", 1), ("(a]]", 3)])
def test_end_of_unbalanced_raises(sql, pos):
    with pytest.raises(ValueError, match="unbalanced"):
        Scan(sql).end_of(pos)


def test_span_and_word_before():
    sql = "SELECT x, 'a b' AS  y"
    sc = Scan(sql)
    assert sc.span(sql.index("b")) == (10, 15)
    assert sc.word_before(sql.index("y")) == (sql.index("AS") + 1, "AS")
    assert sc.word_before(sql.index("'")) == (sql.index(","), "")
    assert sc.word_before(0) == (-1, "")


@pytest.mark.parametrize(
    "text, parts",
    [
        ("a, b", ["a", "b"]),
        ("f(a, b), [1, 2], 'x, y'", ["f(a, b)", "[1, 2]", "'x, y'"]),
        (r"'a\', b', c", [r"'a\', b'", "c"]),
        ("a,", ["a"]),
        (",a", ["", "a"]),
        ("", []),
        ("(a, b", ["(a, b"]),  # an unclosed bracket keeps the rest together
    ],
)
def test_split_args(text, parts):
    assert split_args(text) == parts


def test_args_reads_one_span_of_a_scan():
    sql = "SELECT f(a, g(b, c), 'd,e') FROM t"
    sc = Scan(sql)
    lo = sql.index("(") + 1
    assert sc.args(lo, sql.rindex(")")) == ["a", "g(b, c)", "'d,e'"]
