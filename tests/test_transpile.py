"""SQL front-end tests: the DuckDB-dialect transpiler
(functions/transpile.py) and the one lexer every rewrite reads.

Pure-Python unit tests need no Spark session; the tests that take the
``spark`` fixture also run the transpiled text on Spark.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import duckdb
import pytest

from sql4pandas_spark.functions.transpile import (
    _MAX_ASOF_JOINS,
    _MAX_HOF_SUBQUERIES,
    _MAX_QUALIFY_CLAUSES,
    _Lex,
    transpile_duckdb,
)
from sql4pandas_spark.plans.recursive import _UNION
from tests.conftest import SF_SMALL


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
        ("SELECT * FROM a ASOF JOIN", "expected relation after ASOF JOIN"),
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


def _nested_qualify(n: int) -> str:
    sql = "SELECT x FROM t QUALIFY row_number() OVER (ORDER BY x) = 1"
    for k in range(1, n):
        sql = f"SELECT x FROM ({sql}) q{k} QUALIFY row_number() OVER (ORDER BY x) = 1"
    return sql


def _hof_subqueries(n: int) -> str:
    items = (f"list_transform(xs, x -> x + (SELECT {k})) AS c{k}" for k in range(n))
    return "SELECT " + ", ".join(items) + " FROM t"


def test_qualify_cap_is_named_in_its_error():
    out = transpile_duckdb(_nested_qualify(_MAX_QUALIFY_CLAUSES))
    assert "QUALIFY" not in out
    assert out.count("EXCEPT (__qualify)") == _MAX_QUALIFY_CLAUSES
    with pytest.raises(
        ValueError, match=f"more than {_MAX_QUALIFY_CLAUSES} QUALIFY clauses"
    ):
        transpile_duckdb(_nested_qualify(_MAX_QUALIFY_CLAUSES + 1))


def test_hof_subquery_cap_is_named_in_its_error():
    out = transpile_duckdb(_hof_subqueries(_MAX_HOF_SUBQUERIES))
    assert out.count("CROSS JOIN") == _MAX_HOF_SUBQUERIES
    with pytest.raises(
        ValueError, match=f"more than {_MAX_HOF_SUBQUERIES} scalar subqueries"
    ):
        transpile_duckdb(_hof_subqueries(_MAX_HOF_SUBQUERIES + 1))


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


# --------------------------------------------------- one rewrite loop

_BOUND_WORDS = ("more than", "did not stabilize")


def test_rewrite_passes_share_one_loop():
    """Every rewrite pass is a step in functions/transpile.py's _PASSES
    table, run by one loop: exactly one raise names a bound (the loop's),
    and no step is referenced anywhere but the table."""
    path = Path(__file__).resolve().parents[1] / "sql4pandas_spark/functions/transpile.py"
    tree = ast.parse(path.read_text())
    bound_raises = []
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Raise) and node.exc is not None:
                words = " ".join(
                    c.value for c in ast.walk(node.exc)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                )
                if any(w in words for w in _BOUND_WORDS):
                    bound_raises.append((getattr(top, "name", None), node.lineno))
    assert [owner for owner, _ in bound_raises] == ["_rewrite_each"], bound_raises

    table = next(
        top.value for top in tree.body
        if isinstance(top, (ast.Assign, ast.AnnAssign)) and any(
            isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store) and n.id == "_PASSES"
            for n in ast.walk(top)
        )
    )
    steps = [row.elts[0].id for row in table.elts]
    uses = Counter(n.id for n in ast.walk(tree) if isinstance(n, ast.Name))
    elsewhere = {s: uses[s] - 1 for s in steps if uses[s] != 1}
    assert not elsewhere, f"steps referenced outside _PASSES: {elsewhere}"


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


# ---------------------------------------------- string_split separators


def test_string_split_regex_metachar_separator(spark):
    """DuckDB string_split splits on a LITERAL separator; Spark split takes
    a Java regex. A '.' or '|' separator must be regex-escaped or the
    transpiled statement silently splits on everything."""
    stmt = "SELECT string_split(s, '.') AS parts FROM (SELECT 'a.b.c' AS s)"
    duck = duckdb.connect().execute(stmt).fetchone()[0]
    got = spark.sql(transpile_duckdb(stmt)).collect()[0]["parts"]
    assert list(got) == list(duck) == ["a", "b", "c"]

    stmt2 = "SELECT string_split(s, '|') AS parts FROM (SELECT 'x|y' AS s)"
    duck2 = duckdb.connect().execute(stmt2).fetchone()[0]
    got2 = spark.sql(transpile_duckdb(stmt2)).collect()[0]["parts"]
    assert list(got2) == list(duck2) == ["x", "y"]


def test_string_split_quote_and_backslash_separators(spark):
    """Separators containing the two escaping-scheme trouble chars (' and
    backslash) round-trip: the emitted Spark literal uses '' doubling for
    quotes (parseable by both Spark and this module's own tokenizer) and
    doubled backslashes."""
    stmt = (
        "SELECT string_split(s, '''') AS parts, x // 2 AS d "
        "FROM (SELECT 'a''b' AS s, 5 AS x)"
    )
    duck = duckdb.connect().execute(stmt).fetchone()[0]
    out = transpile_duckdb(stmt)
    assert " DIV " in out  # second pass stayed in sync after the literal
    got = spark.sql(out).collect()[0]["parts"]
    assert list(got) == list(duck) == ["a", "b"]

    # data built via chr(92) because a backslash inside a plain literal
    # parses differently in the two engines (Spark escape vs DuckDB raw)
    stmt2 = (
        r"SELECT string_split(s, '\') AS parts "
        "FROM (SELECT concat('p', chr(92), 'q') AS s)"
    )
    duck2 = duckdb.connect().execute(stmt2).fetchone()[0]
    got2 = spark.sql(transpile_duckdb(stmt2)).collect()[0]["parts"]
    assert list(got2) == list(duck2) == ["p", "q"]


def test_string_split_non_literal_separator_rejected():
    with pytest.raises(ValueError, match="string_split separator"):
        transpile_duckdb("SELECT string_split(s, sep_col) FROM t")
    with pytest.raises(ValueError, match="string_split separator"):
        transpile_duckdb("SELECT string_split(s, upper('.')) FROM t")


def test_string_split_nested_and_protected_occurrences():
    # nested in first arg: both calls rewritten, inner first
    out = transpile_duckdb(
        "SELECT string_split(array_to_string(string_split(s, '.'), '-'), '-') FROM t"
    )
    assert "string_split" not in out
    assert out.count("split(") >= 2 and r"'\\.'" in out
    # inside a comment / literal: untouched
    out2 = transpile_duckdb(
        "SELECT 'string_split(a, ''.'')' AS lit -- string_split(b, '.')\n FROM t"
    )
    assert "'string_split(a, ''.'')'" in out2
    assert "-- string_split(b, '.')" in out2


def test_string_split_chr_out_of_range_is_descriptive():
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    with pytest.raises(ValueError, match="outside the encodable Unicode"):
        transpile_duckdb("SELECT string_split(x, chr(1114112)) FROM t")
    with pytest.raises(ValueError, match="outside the encodable Unicode"):
        transpile_duckdb("SELECT string_split(x, chr(99999999)) FROM t")
    # surrogates pass chr() but can't be UTF-8-encoded — rejected HERE
    # with the descriptive error, not later as an encode failure (r13
    # advice fix)
    with pytest.raises(ValueError, match="outside the encodable Unicode"):
        transpile_duckdb("SELECT string_split(x, chr(55296)) FROM t")
    with pytest.raises(ValueError, match="outside the encodable Unicode"):
        transpile_duckdb("SELECT string_split(x, chr(57343)) FROM t")
    # boundary values still fold
    assert "split" in transpile_duckdb("SELECT string_split(x, chr(1114111)) FROM t")
    assert "split" in transpile_duckdb("SELECT string_split(x, chr(0)) FROM t")
    assert "split" in transpile_duckdb("SELECT string_split(x, chr(55295)) FROM t")
    assert "split" in transpile_duckdb("SELECT string_split(x, chr(57344)) FROM t")


# ------------------------------ comments, casts, intervals and brackets


def test_transpile_comment_with_apostrophe_does_not_desync():
    """An apostrophe inside a comment must not flip string-literal
    tracking: renames and the second pass still apply after it, and real
    literals after the comment stay protected."""
    out = transpile_duckdb(
        "SELECT len(xs) AS n -- it's a note\n"
        ", power(x, 2) AS p, 'len(q)' AS lit, y // 3 AS d FROM t"
    )
    assert "size(xs)" in out and "pow(x, 2)" in out
    assert "'len(q)'" in out and "DIV" in out and "// 3" not in out
    assert "-- it's a note" in out  # comment text untouched


def test_transpile_block_comment_masked():
    out = transpile_duckdb(
        "SELECT /* don't rename len(a) or a // b here */ len(b) AS n, "
        "c // 2 AS d FROM t"
    )
    assert "/* don't rename len(a) or a // b here */" in out
    assert "size(b)" in out and "DIV" in out and "// 2" not in out


def test_transpile_cast_unnest_param_interval_ignore_nulls(spark):
    """The late-round dialect rewrites: cast pushed inside the array
    (generators are top-level-only in Spark), parameterized intervals,
    and in-parens IGNORE NULLS."""
    out = transpile_duckdb("SELECT CAST(unnest(range(0, 3)) AS INT) AS b")
    assert [r["b"] for r in spark.sql(out).collect()] == [0, 1, 2]

    out2 = transpile_duckdb(
        "SELECT TIMESTAMP '2024-01-01' + INTERVAL (7 % 4) MINUTE AS t"
    )
    assert "make_dt_interval(0, 0, (7 % 4), 0)" in out2
    assert str(spark.sql(out2).collect()[0]["t"]) == "2024-01-01 00:03:00"
    # literal intervals are shared syntax: untouched
    assert "INTERVAL 15 MINUTE" in transpile_duckdb(
        "SELECT ts + INTERVAL 15 MINUTE FROM t"
    )

    out3 = transpile_duckdb(
        "SELECT last_value(x IGNORE NULLS) OVER (ORDER BY i) AS lv "
        "FROM (SELECT 1 AS i, 10 AS x UNION ALL SELECT 2, NULL)"
    )
    assert "last_value(x) IGNORE NULLS" in out3
    assert [r["lv"] for r in spark.sql(out3).collect()] == [10, 10]


def test_transpile_string_literal_bracket_passthrough(spark):
    """A string-literal key rides Spark's own bracket accessor — struct
    field access AND map lookup (NULL on missing, like DuckDB); only
    non-literal indexes become try_element_at."""
    out = transpile_duckdb("SELECT ({'pos': 4, 'gram': 'g'})['pos'] AS p")
    assert "try_element_at" not in out
    assert spark.sql(out).collect()[0]["p"] == 4
    out2 = transpile_duckdb("SELECT xs[i] FROM t")
    assert "try_element_at(xs, i)" in out2


def test_transpile_comparison_against_list_rejected_loudly():
    """`x > [1]` cannot be classified (a '>' before a bracket is only an
    access base when it closes an ARRAY<...> type) — must raise, never
    emit a garbled base expression."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot determine the access base"):
        transpile_duckdb("SELECT 1 FROM t WHERE x > [1, 2]")
    # the legitimate '>' base still works: DOUBLE[][] nests fine
    out = transpile_duckdb("SELECT CAST(e AS DOUBLE[][]) FROM t")
    assert "ARRAY<ARRAY<DOUBLE>>" in out


# ------------------------------------------- same values as DuckDB


def _both(spark, stmt: str):
    sp = [tuple(r) for r in spark.sql(transpile_duckdb(stmt)).collect()]
    dk = duckdb.sql(stmt).fetchall()
    return sp, dk


# ------------------------------------- 3-arg regexp_replace (ADVICE #1)

def test_regexp_replace_three_arg_raises_loudly():
    with pytest.raises(ValueError, match="first-occurrence"):
        transpile_duckdb("SELECT regexp_replace(s, 'a', 'X') AS x FROM t")


def test_regexp_replace_three_arg_nested_still_raises():
    with pytest.raises(ValueError, match="first-occurrence"):
        transpile_duckdb(
            "SELECT length(regexp_replace(s, 'a', 'X')) AS x FROM t"
        )


def test_regexp_replace_global_flag_still_rewrites(spark):
    stmt = "SELECT regexp_replace('aaa', 'a', 'X', 'g') AS x"
    assert "'g'" not in transpile_duckdb(stmt)
    sp, dk = _both(spark, stmt)
    assert sp == dk == [("XXX",)]


# ---------------------------------------- 2-arg regexp_extract (ADVICE #3)

def test_regexp_extract_two_arg_pins_group_zero(spark):
    # DuckDB default group is 0 (whole match); Spark's is 1 — unpinned,
    # this returned 'a' instead of 'ab'
    stmt = "SELECT regexp_extract('xaby', 'a(b)') AS x"
    sp, dk = _both(spark, stmt)
    assert sp == dk == [("ab",)]


def test_regexp_extract_explicit_group_untouched(spark):
    stmt = "SELECT regexp_extract('xaby', 'a(b)', 1) AS x"
    sp, dk = _both(spark, stmt)
    assert sp == dk == [("b",)]


# ------------------------------------------- fractional epoch (ADVICE #4)

def test_epoch_preserves_subsecond_precision(spark):
    stmt = "SELECT epoch(TIMESTAMP '2024-01-01 00:00:00.250') AS e"
    sp, dk = _both(spark, stmt)
    assert sp[0][0] == dk[0][0] == 1704067200.25


def test_epoch_whole_second_unchanged(spark):
    stmt = "SELECT epoch(TIMESTAMP '2024-06-15 12:30:00') AS e"
    sp, dk = _both(spark, stmt)
    assert float(sp[0][0]) == float(dk[0][0])


# ------------------------------- fixpoint shadowing (found fixing #4)

def test_nested_call_inside_passthrough_rewriter_is_rewritten(spark):
    """epoch(…) nested in a pass-through-shaped registered call
    (last_value without IGNORE NULLS) used to be shadowed by the outer
    identity edit on every fixpoint pass and never rewritten."""
    out = transpile_duckdb(
        "SELECT last_value(epoch(ts)) OVER (ORDER BY ts) AS e FROM t"
    )
    assert "unix_micros" in out and "epoch(" not in out


def test_nested_call_inside_ignore_nulls_struct_is_rewritten():
    """The gapfill oracle shape that caught the bug in the parity sweep."""
    out = transpile_duckdb(
        "SELECT last_value(CASE WHEN v IS NOT NULL THEN "
        "{'t': epoch(w), 'v': v} END IGNORE NULLS) OVER (ORDER BY w) AS x "
        "FROM t"
    )
    assert "unix_micros" in out and "epoch(" not in out
    assert out.count("IGNORE NULLS") == 1


# ------------------------------------------------------- index lambdas


def test_transpile_rejects_index_lambdas():
    """(x, i) lambdas are 1-based in DuckDB, 0-based in Spark, and the
    body passes through unchanged — a silent off-by-one. Rejected
    loudly; single-arg lambdas and list_reduce's legitimate (acc, x)
    fold lambda are untouched."""
    import pytest as _pytest

    from sql4pandas_spark.functions.transpile import transpile_duckdb

    for sql in [
        "SELECT list_transform(['a'], (x, i) -> x || CAST(i AS VARCHAR))",
        "SELECT list_filter([1,2,3], (x, i) -> i % 2 = 1)",
    ]:
        with _pytest.raises(ValueError, match="index lambdas"):
            transpile_duckdb(sql)
    assert "transform" in transpile_duckdb(
        "SELECT list_transform([1,2], x -> x + 1)"
    )
    assert "aggregate" in transpile_duckdb(
        "SELECT list_reduce([1,2,3], (a, b) -> a + b)"
    )


# ------------------------------------------------ plans like native SQL


def test_transpiled_statement_plans_like_native_sql(spark):
    """A transpiled reference-dialect statement must optimize like
    hand-written Spark SQL: q6's filters reach the parquet scan
    (PushedFilters) and the scan reads only the four referenced columns
    — no wrapper nodes, no pushdown loss through the front end."""
    from sql4pandas_spark.queries.catalog import load_catalog
    from sql4pandas_spark.sources.parquet import register_tables

    register_tables(spark, SF_SMALL)
    oracle = load_catalog()["q6_forecast_revenue"].oracle
    plan = (
        spark.sql(transpile_duckdb(oracle))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    # column pruning: exactly the four referenced lineitem columns
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in scan
    assert "l_orderkey" not in scan and "l_comment" not in scan
