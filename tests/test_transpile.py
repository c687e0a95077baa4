"""SQL front-end tests: the DuckDB-dialect transpiler
(functions/transpile.py) and the one lexer every rewrite reads.

Pure-Python unit tests need no Spark session; the tests that take the
``spark`` fixture also run the transpiled text on Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from sql4pandas_spark.functions.transpile import (
    _MAX_ASOF_JOINS,
    _Lex,
    transpile_duckdb,
)
from sql4pandas_spark.plans.recursive import _UNION


# ----------------------------------------- renames and protected tokens


def test_transpile_renames_call_position_only():
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    out = transpile_duckdb(
        "SELECT len(xs) AS n, substr(s, 1, 2) AS p FROM t "
        "WHERE regexp_matches(s, 'a+') AND power(x, 2) > sign(y)"
    )
    assert out == (
        "SELECT size(xs) AS n, substring(s, 1, 2) AS p FROM t "
        "WHERE rlike(s, 'a+') AND pow(x, 2) > signum(y)"
    )


def test_transpile_protects_literals_identifiers_and_bare_names():
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    # 'len(x)' is a string; "len" a quoted identifier; bare `len` a column
    out = transpile_duckdb(
        """SELECT 'len(x)' AS lit, "len", len FROM t WHERE a // b > 2"""
    )
    assert "'len(x)'" in out and "`len`" in out  # ident → Spark backticks
    assert " size" not in out  # no call position, no rename
    assert " DIV " in out and "//" not in out
    # '//' inside a literal survives
    out2 = transpile_duckdb("SELECT 'a//b' AS s, x // 3 AS d FROM t")
    assert "'a//b'" in out2 and " DIV 3" in out2.replace("  ", " ")


def test_transpile_unknown_dialect_rejected():
    import pytest as _pytest

    from sql4pandas_spark.functions.transpile import to_spark_sql

    with _pytest.raises(ValueError, match="unknown dialect"):
        to_spark_sql("SELECT 1", dialect="oracle11g")
    assert to_spark_sql("SELECT len(x) FROM t") == "SELECT len(x) FROM t"


def test_transpile_bare_varchar_cast(spark):
    """DuckDB CAST(x AS VARCHAR) is legal without a length; Spark demands
    one — the transpiler rewrites the bare type to STRING (VARCHAR(n)
    passes through, both engines accept it)."""
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    out = transpile_duckdb(
        "SELECT CAST(x AS VARCHAR) AS s, CAST(y AS VARCHAR(10)) AS v, "
        "'VARCHAR' AS lit FROM t"
    )
    assert "CAST(x AS STRING)" in out
    assert "VARCHAR(10)" in out
    assert "'VARCHAR'" in out
    got = [
        tuple(r)
        for r in spark.sql(
            transpile_duckdb("SELECT CAST(42 AS VARCHAR) AS s")
        ).collect()
    ]
    assert got == [("42",)]


def test_transpile_protects_quoted_identifiers_in_second_pass():
    """'//' and bare VARCHAR inside double-quoted identifiers must
    survive (the rename pass already protected them; the operator/type
    pass must too)."""
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    out = transpile_duckdb(
        'SELECT "a//b", "VARCHAR", x // 2 AS d, CAST(y AS VARCHAR) AS s FROM t'
    )
    # identifiers convert to Spark backticks (Spark reads "..." as a
    # string literal) with their contents byte-preserved
    assert "`a//b`" in out and "`VARCHAR`" in out
    assert " DIV " in out and "AS STRING" in out and "x //" not in out


def test_transpile_empty_and_no_op_statements(spark):
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    assert transpile_duckdb("") == ""
    s = "SELECT a, b FROM t WHERE a > 1 ORDER BY b"
    assert transpile_duckdb(s) == s  # nothing to rename -> byte-identical


# ----------------------------------------------------- malformed input


@pytest.mark.parametrize(
    "sql, message",
    [
        ("SELECT string_split(a, ','", "unbalanced string_split call"),
        ("SELECT [1, 2", "unbalanced '\\['"),
        ("SELECT {'a': 1", "unbalanced '\\{'"),
        ("SELECT INTERVAL (1 DAY", "unbalanced '\\('"),
        ("SELECT CAST(unnest(x AS INT) FROM t", "cannot parse CAST\\(unnest"),
        ("SELECT INTERVAL (1) WEEK", "must be followed by DAY/HOUR/MINUTE/SECOND"),
        ("SELECT xs[1:2] FROM t", "list slice syntax"),
        ("SELECT {'a' 1}", "struct literal field"),
        ("SELECT {a: 1}", "struct literal field"),
        (
            "SELECT * FROM a ASOF JOIN b x WHERE a.t >= x.t",
            "expected ON after ASOF JOIN relation",
        ),
    ],
)
def test_malformed_statement_raises(sql, message):
    """Each rewrite that needs a bracket's partner, or a shape it cannot
    read, raises its own descriptive error."""
    with pytest.raises(ValueError, match=message):
        transpile_duckdb(sql)


@pytest.mark.parametrize("sql", ["SELECT (1", "SELECT 1)", "SELECT 'abc"])
def test_untouched_malformed_statement_passes_through(sql):
    """Unbalanced brackets or an unterminated literal that no rewrite
    reads are left for Catalyst to reject."""
    assert transpile_duckdb(sql) == sql


def test_asof_join_cap_is_named_in_its_error():
    def joins(n: int) -> str:
        return "SELECT * FROM t0" + "".join(
            f" ASOF JOIN t{k} ON t0.ts >= t{k}.ts" for k in range(1, n + 1)
        )

    assert transpile_duckdb(joins(_MAX_ASOF_JOINS)).count("JOIN LATERAL") == (
        _MAX_ASOF_JOINS
    )
    with pytest.raises(ValueError, match=f"more than {_MAX_ASOF_JOINS} ASOF JOINs"):
        transpile_duckdb(joins(_MAX_ASOF_JOINS + 1))


# ------------------------------------------------- the lexer's meanings
#
# Inputs no real statement produces, pinned to the one meaning the lexer
# gives them.


@pytest.mark.parametrize("sql", ["SELECT [1)", "SELECT {'a': (1]}"])
def test_closer_of_another_kind_closes_nothing(sql):
    with pytest.raises(ValueError, match=r"unbalanced '(\[|\{)'"):
        transpile_duckdb(sql)


def test_unmatched_closer_does_not_lower_the_top_level():
    out = transpile_duckdb(
        "SELECT a FROM t) QUALIFY row_number() OVER (ORDER BY a) = 1"
    )
    assert "QUALIFY" not in out and out.endswith(") WHERE __qualify")


def test_subquery_spelled_in_a_literal_does_not_hide_a_real_one():
    out = transpile_duckdb(
        "SELECT list_transform(xs, x -> x || '(SELECT' || "
        "(SELECT max(s) FROM u)) AS y FROM t"
    )
    assert "'(SELECT' || __sqt0.__sq0" in out
    assert "CROSS JOIN (SELECT (SELECT max(s) FROM u) AS __sq0) __sqt0" in out


def test_union_split_bounds_words_with_identifier_characters():
    """Recursive-CTE bodies split on UNION like every transpiler keyword
    scan: a word boundary is any character outside [A-Za-z0-9_]."""
    body = "SELECT 1 AS éUNION SELECT 2"
    lex = _Lex(body)
    assert [body[a:b] for a, b in lex.split(_UNION)] == [
        "SELECT 1 AS é", " SELECT 2"
    ]


def test_lexer_pairs_brackets_and_reads_levels():
    text = "f(a, '(', [b, (c)], {d}) -- )\n, g"
    lex = _Lex(text)
    assert lex.partner(1) == text.index("}") + 1
    assert lex.partner(text.index("[")) == text.index("]")
    assert lex.protected_at(text.index("'(")) == (5, 8)
    assert lex.protected_at(text.index("--")) is not None
    c = text.index("c")
    assert lex.enclosing(c) == c - 1 and lex.enclosing(c - 1) == 1
    assert lex.enclosing(len(text) - 1) is None
    assert [text[a:b] for a, b in lex.split(",", 2, lex.partner(1))] == [
        "a", " '('", " [b, (c)]", " {d}"
    ]
    assert [text[a:b] for a, b in lex.split(",")] == [text[:-3], " g"]
    assert lex.segments()[1::2] == ["'('", "-- )"]
    assert lex.skip(lex.partner(1) + 1) == len(text) - 3


# --------------------------------------------------------- one lexer

_LEXER_NAMES = {"_PROTECTED", "_PROTECTED_SRC"}
#: top-level definitions of functions/transpile.py allowed to name them
_LEXER_OWNERS = {"_PROTECTED_SRC", "_Lex"}


def _lexer_name_uses(tree: ast.AST):
    """(enclosing top-level definition, line) of each use of a protected-
    token pattern name in ``tree``."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        if isinstance(top, ast.Assign) and isinstance(top.targets[0], ast.Name):
            owner = top.targets[0].id
        for node in ast.walk(top):
            names = []
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            if _LEXER_NAMES.intersection(names):
                yield owner, node.lineno


def test_protected_tokens_are_read_only_by_the_lexer():
    """Which characters are protected, and which bracket closes which, is
    decided in one place: functions/transpile.py's _Lex."""
    root = Path(__file__).resolve().parents[1]
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("tests/", ".")):
            continue
        for owner, line in _lexer_name_uses(ast.parse(path.read_text())):
            if rel != "sql4pandas_spark/functions/transpile.py" or (
                owner not in _LEXER_OWNERS
            ):
                offenders.append(f"{rel}:{line} ({owner})")
    assert not offenders, f"protected-token patterns outside _Lex: {offenders}"


# ------------------------------------------- catalog-wide, no Spark

_BACKTICKED = re.compile(r"`(?:[^`]|``)*`")
#: DuckDB-only spellings that a rewrite must have removed
_DUCKDB_ONLY = {
    "{": re.compile(r"\{"),
    "**": re.compile(r"\*\*"),
    "//": re.compile(r"//"),
    "QUALIFY": re.compile(r"\bQUALIFY\b", re.IGNORECASE),
    "ASOF JOIN": re.compile(r"\bASOF\s+(?:\w+\s+)?JOIN\b", re.IGNORECASE),
    "* EXCLUDE": re.compile(r"\*\s*EXCLUDE\b", re.IGNORECASE),
}


def test_every_catalog_oracle_transpiles_to_spark_spelling():
    """Every catalog oracle transpiles, and no DuckDB-only spelling is left
    in its code (outside literals, comments and backticked identifiers):
    a rewrite that silently stopped applying shows up here without Spark."""
    from sql4pandas_spark.queries.catalog import load_catalog

    oracles = {n: s.oracle for n, s in load_catalog().items() if s.oracle}
    assert len(oracles) >= 280
    failures = {}
    for name, oracle in oracles.items():
        try:
            out = transpile_duckdb(oracle)
        except Exception as e:  # noqa: BLE001 — every failure is reported
            failures[name] = f"{type(e).__name__}: {e}"
            continue
        code = " ".join(_BACKTICKED.sub(" ", p) for p in _Lex(out).segments()[::2])
        left = [k for k, pat in _DUCKDB_ONLY.items() if pat.search(code)]
        if left:
            failures[name] = f"left {left}"
    assert not failures, failures
