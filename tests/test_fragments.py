"""SQL-fragment parser unit tests: quote-state tracking across the SQL
``''`` escape (close+reopen), ref ``sql/fragment.py`` delegates this to
sqlglot."""

from __future__ import annotations

from sidemantic_spark.core.consumption import qualify_expression_fields
from sidemantic_spark.sql.fragments import (
    close_paren,
    find_refs,
    split_alias,
    split_conjuncts,
    split_items,
    split_top,
    tokens,
)


def test_doubled_quote_keeps_state_for_toplevel_or():
    # 'a''b' is ONE literal (a'b); the OR after it IS top-level
    assert len(split_top("x = 'a''b' OR y = 1", "OR")) == 2
    # ... and an OR *inside* a literal containing '' is NOT
    assert len(split_top("x = 'a'' OR ''b' AND y = 1", "OR")) == 1


def test_split_conjuncts_after_doubled_quote_literal():
    assert split_conjuncts("x = 'it''s fine' AND y = 2") == [
        "x = 'it''s fine'",
        "y = 2",
    ]
    # AND inside the escaped literal must not split
    assert split_conjuncts("x = 'it''s AND more' AND y = 2") == [
        "x = 'it''s AND more'",
        "y = 2",
    ]


def test_backslash_escaped_quote_stays_inside_the_literal():
    # Spark reads \' as an escaped quote: the literal runs on to the
    # next quote, so what follows it is code
    assert [k for _t, k, _d in tokens("s = 'x\\'' OR b")] == [
        "code", "string", "code",
    ]
    assert split_top(
        "SELECT a FROM t WHERE s = 'it\\'s' ORDER BY a", "ORDER BY"
    ) == ["SELECT a FROM t WHERE s = 'it\\'s' ", " a"]
    # an escaped backslash does not escape the closing quote
    assert split_top("s = 'a\\\\' OR b", "OR") == ["s = 'a\\\\' ", " b"]


def test_find_refs_ignores_refs_inside_escaped_literal():
    refs = find_refs(
        "orders.status = 'it''s orders.fake' AND orders.priority = 1",
        {"orders"},
    )
    assert ("orders", "status", None) in refs
    assert ("orders", "priority", None) in refs
    assert not any(f == "fake" for _m, f, _g in refs)


def test_select_list_alias_equal_to_model_does_not_shadow_fragment():
    # ADVICE r10: `CAST(x AS INT) AS orders` (or any top-level select-list
    # alias equal to a model name) must NOT suppress classification of
    # genuine orders.* refs in the same fragment — only a derived-table
    # alias `(SELECT ...) AS orders` shadows whole-fragment.
    refs = find_refs(
        "CAST(orders.amount AS INT) AS orders", {"orders"},
    )
    assert ("orders", "amount", None) in refs
    # a real derived-table alias still shadows the whole fragment
    refs2 = find_refs(
        "(SELECT max(x) FROM audit) AS orders WHERE orders.amount > 0",
        {"orders"},
    )
    assert ("orders", "amount", None) not in refs2
    # ...but shadowing=False (security scans) still sees everything
    refs3 = find_refs(
        "(SELECT max(x) FROM audit) AS orders WHERE orders.amount > 0",
        {"orders"}, shadowing=False,
    )
    assert ("orders", "amount", None) in refs3


def test_double_paren_derived_table_alias_still_shadows():
    # Review #7: extra wrapping parens around the derived table must
    # not defeat whole-fragment shadowing
    refs = find_refs(
        "((SELECT id FROM audit)) AS orders WHERE orders.revenue > 10",
        {"orders"},
    )
    assert ("orders", "revenue", None) not in refs
    # a function call alias is still NOT a derived table
    refs2 = find_refs(
        "CAST(f(x) AS INT) AS orders WHERE orders.revenue > 10", {"orders"}
    )
    assert ("orders", "revenue", None) in refs2


def test_quoted_names_are_single_tokens():
    # an AND inside a quoted name is no conjunction boundary
    assert split_conjuncts('"a and b" = 1 AND c = 2') == ['"a and b" = 1', "c = 2"]
    # a paren inside a quoted name does not end the subquery: `t` is the
    # subquery's table, not the model's field
    assert qualify_expression_fields(
        ['x IN (SELECT "a)b" FROM t) AND t = 1'], "orders", {"t"}
    ) == ['x IN (SELECT "a)b" FROM t) AND orders.t = 1']
    sql = "f('a)b', \"c)\", `d)`) -- e)\n, g /* h, */ FROM x"
    assert close_paren(sql, 1) == sql.index(") --")
    assert split_items(sql) == [sql[: sql.index("\n,")], "g /* h, */ FROM x"]
    assert split_top(sql, "FROM") == [sql[: sql.index("FROM")], " x"]
    assert "".join(t for t, _k, _d in tokens(sql)) == sql
    assert [k for _t, k, _d in tokens("'it''s'\"a\"\"b\"`c``d`")] == [
        "string", "ident", "ident",
    ]


def test_split_alias_carries_quoted_names_as_backticks():
    assert split_alias("orders.revenue AS rev") == ("orders.revenue", "rev")
    assert split_alias('x AS "rev, total"') == ("x", "`rev, total`")
    assert split_alias("x as `order by`") == ("x", "`order by`")
    assert split_alias('x AS "a""b`c"') == ("x", '`a"b``c`')
    assert split_alias("x AS `a``b`") == ("x", "`a``b`")
    # no alias: a string literal, a cast's type, an implicit alias
    for item in ("x AS 'y'", "CAST(x AS INT)", 'x "y"', "x AS 1y"):
        assert split_alias(item) == (item, None)
