"""Reference-dialect SQL → Spark SQL transpilation (SURVEY.md §1.1: the
reference's identity is "SQL strings in, frames out"; checkout empty this
round, reconstruction per SURVEY.md §3.1 — its dialect is the
pandas/DuckDB-flavored ANSI surface our oracles are written in).

The divergence between that dialect and Spark SQL is, for the query shapes
the reference supports, almost entirely surface spelling — function names
(the same data-driven rename table the test harness uses, applied in
reverse), a handful of argument-shape differences handled by explicit
call rewriters, and the two literal-escaping rules (DuckDB string literals
are raw where Spark treats backslash as an escape; DuckDB double-quotes
identifiers where Spark uses backticks). Everything structural
(SELECT/JOIN/GROUP BY/window/CTE syntax, CASE, CAST, operators) is shared
ANSI that Catalyst parses directly, so the transpiler deliberately does NOT
parse SQL: it rewrites tokens outside string literals, quoted identifiers
and comments, and leaves the rest to Spark's own parser. A construct
neither engine shares (e.g. DuckDB list comprehensions) fails loudly in
Catalyst's analyzer rather than silently misbehaving; call shapes that
cannot be made safe (a non-literal string_split separator, a non-'g'
regexp flag) raise here.

One lexer, :class:`_Lex`, is the only place that decides which characters
are protected (string literals, quoted identifiers, comments) and which
bracket closes which. Every rewrite builds it once per version of the text
and asks it for protected spans, bracket partners, the enclosing
parenthesis, keyword matches at the top of a range or at any depth, and
top-level splits; plans/recursive.py parses WITH RECURSIVE with the same
lexer.

One loop, :func:`_rewrite_each`, applies every rewrite pass. A pass is a
step ``step(lex, n)`` that rewrites one occurrence of its construct (the
call pass: one round over all call sites) and returns the new text, or
None when none is left; ``n`` counts the step's rewrites so far. The
ordered table :data:`_PASSES` gives each step its bound and the words of
its one error, ``more than <bound> <what>``. Each step keeps its own rule
for an occurrence it does not rewrite: the lateral-unnest step stops at
one of another shape, the ASOF step skips an ``ASOF`` identifier, the
bracket step skips a string-keyed access, and the others raise.

Statement-level parity is proven at catalog width by
tools/transpile_sweep.py: every sql-oracled entry's own DuckDB oracle text
runs through this module on Spark and value-hash-matches DuckDB's result
(tests/test_transpile_parity.py pins the count and the skip list).

Scale note: transpilation is a driver-side string pass (microseconds,
O(|statement|)); the resulting plan is whatever Catalyst makes of the
rewritten text — no UDFs, no wrapper nodes, zero runtime cost.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from collections.abc import Callable, Iterator

from sql4pandas_spark.functions import SPARK_TO_DUCKDB_FN

#: DuckDB-name → Spark-name, derived (not hand-maintained) from the same
#: table the oracle harness reads, so the two directions can never drift.
#: Reverse-only synonyms: DuckDB spellings with no distinct Spark partner
#: (their Spark target is already claimed by another reverse pair) plus
#: pure renames that only ever appear reference-side.
#: ``string_split`` is deliberately ABSENT from the rename table: DuckDB's
#: separator is a literal string while Spark's is a Java regex, so it gets
#: argument-aware handling in :data:`_ARG_REWRITERS` (a pure rename would
#: silently change semantics for separators like '.' or '|').
DUCKDB_TO_SPARK_FN: dict[str, str] = {
    v: k for k, v in SPARK_TO_DUCKDB_FN.items() if v != "string_split"
} | {
    "regexp_split_to_array": "split",  # Spark split IS regex-based
    "epoch_us": "unix_micros",         # µs since epoch, BIGINT in both
    "strpos": "instr",                 # 1-based find, same arg order
    # generate_series is NOT a pure rename: both ends are inclusive in both
    # dialects, but an empty series ([] in DuckDB) becomes a DESCENDING
    # sequence in Spark — argument-aware handling in _ARG_REWRITERS
    "quantile_cont": "percentile",     # exact interpolated quantile
    "json_keys": "json_object_keys",
    "list": "collect_list",            # aggregate; DISTINCT rides through
    "list_min": "array_min",
    "list_max": "array_max",
    "unicode": "ascii",                # both: codepoint of first char
    "starts_with": "startswith",       # same 2-arg prefix test
    "ends_with": "endswith",           # same 2-arg suffix test
    # set semantics (distinct elements in both) shared; element ORDER is
    # engine-specific, so oracles emitting the array itself (not a
    # len()/membership over it) must wrap it in list_sort
    "list_intersect": "array_intersect",
    # epoch is NOT a pure rename: DuckDB returns DOUBLE seconds (sub-second
    # precision preserved) while unix_timestamp truncates to BIGINT —
    # argument-aware handling in _ARG_REWRITERS emits unix_micros/1e6
}

_JAVA_REGEX_META = set("\\.[]{}()*+-?^$|")


def _java_regex_quote(literal: str) -> str:
    """Escape a literal string so Java's regex engine matches it verbatim."""
    return "".join("\\" + c if c in _JAVA_REGEX_META else c for c in literal)


def _sql_string_literal(value: str) -> str:
    """Render a Python string as a DuckDB-spelling SQL literal ('' doubling,
    raw backslashes) — the final literal-escaping pass converts every
    literal, including emitted ones, to Spark spelling in one place."""
    return "'" + value.replace("'", "''") + "'"


# --------------------------------------------------------------- tokenizer

# Protected token classes, matched FIRST so a function name inside a
# literal ('size matters') or a comment is never rewritten — and, just as
# important, an apostrophe inside a comment (``-- it's a note``) cannot
# desynchronize string-literal tracking for the code that follows.
_PROTECTED_SRC = r"""
    '(?:[^']|'')*'                     # 'string literal'
  | "(?:[^"]|"")*"                     # "quoted identifier"
  | --[^\n]*                           # -- line comment
  | /\*(?:[^*]|\*(?!/))*\*/            # /* block comment */
"""
_IDENT_CHARS = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_")
_OPENER = {")": "(", "]": "[", "}": "{"}


class _Lex:
    """One scan of one SQL text: its protected tokens and its brackets.

    Built once per text version and handed to every rewrite that reads
    that version. Outside protected tokens, each ``(``, ``[`` and ``{`` is
    paired with the next closer of its own kind, innermost first. A closer
    whose kind does not match the innermost open bracket pairs with
    nothing and closes nothing, so an unmatched bracket never moves the
    nesting of the text around it.

    A position's *level* is its innermost open bracket of any kind (None
    at the top). Matches "at the top" of a range ``[a, b)`` are those at
    the level of ``a``: for a range inside one bracket group, exactly the
    depth-0 matches of the substring.
    """

    _TOKENS = re.compile(
        rf"(?P<protected>{_PROTECTED_SRC})|[()\[\]{{}}]", re.VERBOSE
    )

    def __init__(self, text: str):
        self.text = text
        self._starts: list[int] = []  # protected spans, in order
        self._ends: list[int] = []
        self._at: list[int] = []  # unprotected brackets, in order
        self._level: list[int | None] = []  # innermost open bracket after each
        self._paren: list[int | None] = []  # innermost open '(' after each
        self._partner: dict[int, int] = {}
        stack: list[int] = []
        parens: list[int] = []
        for m in self._TOKENS.finditer(text):
            i = m.start()
            if m.lastgroup:
                self._starts.append(i)
                self._ends.append(m.end())
                continue
            c = text[i]
            if c in "([{":
                stack.append(i)
                if c == "(":
                    parens.append(i)
            elif stack and text[stack[-1]] == _OPENER[c]:
                j = stack.pop()
                self._partner[i], self._partner[j] = j, i
                if c == ")":
                    parens.pop()
            self._at.append(i)
            self._level.append(stack[-1] if stack else None)
            self._paren.append(parens[-1] if parens else None)

    def protected_at(self, i: int) -> tuple[int, int] | None:
        """The (start, end) of the protected token holding ``i``, if any."""
        k = bisect_right(self._starts, i) - 1
        if k >= 0 and i < self._ends[k]:
            return self._starts[k], self._ends[k]
        return None

    def partner(self, i: int, error: str | None = None) -> int | None:
        """Index of the bracket paired with the one at ``i``. An unpaired
        bracket gives None, or raises ``ValueError(error)`` when given."""
        j = self._partner.get(i)
        if j is None and error is not None:
            raise ValueError(error)
        return j

    def _level_of(self, i: int) -> int | None:
        k = bisect_left(self._at, i) - 1
        return self._level[k] if k >= 0 else None

    def enclosing(self, i: int) -> int | None:
        """Index of the innermost ``(`` opened before ``i`` and still open."""
        k = bisect_left(self._at, i) - 1
        return self._paren[k] if k >= 0 else None

    def matches(self, pattern: re.Pattern, a: int = 0, b: int | None = None,
                *, top: bool = True) -> Iterator[re.Match]:
        """Matches of ``pattern`` in ``[a, b)`` that start outside protected
        tokens: at the top of the range, or at any depth if not ``top``."""
        b = len(self.text) if b is None else b
        level = self._level_of(a)
        for m in pattern.finditer(self.text, a, b):
            i = m.start()
            if self.protected_at(i) is None and (
                not top or self._level_of(i) == level
            ):
                yield m

    def keywords(self, words: str, a: int = 0, b: int | None = None,
                 *, top: bool = True) -> Iterator[re.Match]:
        """:meth:`matches` of the case-insensitive keyword alternation
        ``words``, bounded as whole words."""
        pattern = re.compile(rf"(?<![0-9A-Za-z_])(?:{words})\b", re.IGNORECASE)
        return self.matches(pattern, a, b, top=top)

    def split(self, sep: str, a: int = 0, b: int | None = None) -> list[tuple[int, int]]:
        """(start, end) of the pieces of ``[a, b)`` between the separators
        at its top: ``sep`` is one punctuation character or a keyword."""
        b = len(self.text) if b is None else b
        if sep[0] in _IDENT_CHARS:
            cuts = self.keywords(sep, a, b)
        else:
            cuts = self.matches(re.compile(re.escape(sep)), a, b)
        edges = [a]
        for m in cuts:
            edges += m.span()
        edges.append(b)
        return list(zip(edges[::2], edges[1::2]))

    def segments(self) -> list[str]:
        """The text cut at its protected tokens: code at even indexes,
        protected tokens at odd ones."""
        out, pos = [], 0
        for s, e in zip(self._starts, self._ends):
            out += [self.text[pos:s], self.text[s:e]]
            pos = e
        out.append(self.text[pos:])
        return out

    def skip(self, i: int) -> int:
        """First index at or after ``i`` that is neither whitespace nor in
        a comment."""
        while i < len(self.text):
            if self.text[i].isspace():
                i += 1
                continue
            span = self.protected_at(i)
            if not span or self.text[span[0]] not in "-/":
                break
            i = span[1]
        return i

# ------------------------------------------------- argument-aware rewrites


def _rw_string_split(args: list[str]) -> str:
    """DuckDB splits on a LITERAL separator; Spark split takes a Java
    regex — the separator literal is regex-escaped. A separator that is
    not a plain string literal (a column, a concat, …) cannot be escaped
    at transpile time and is rejected loudly."""
    if len(args) != 2:
        raise ValueError(
            f"transpile_duckdb: string_split expects 2 args, got {len(args)}"
        )
    arg = args[1].strip()
    lit = re.fullmatch(r"'((?:[^']|'')*)'", arg)
    chr_call = re.fullmatch(r"(?i)chr\s*\(\s*(\d+)\s*\)", arg)
    if lit:
        sep = lit.group(1).replace("''", "'")  # undo SQL '' doubling
    elif chr_call:
        # chr(N) with an integer literal is a compile-time constant —
        # fold it to the character and escape like any literal (the
        # oracles' portable newline spelling, since a raw newline can't
        # sit inside a one-line SQL string)
        code_point = int(chr_call.group(1))
        if not 0 <= code_point <= 0x10FFFF or 0xD800 <= code_point <= 0xDFFF:
            # Surrogates pass chr() but a lone surrogate cannot be
            # UTF-8-encoded — reject here with the descriptive error
            # instead of letting it resurface as an encode failure.
            raise ValueError(
                "transpile_duckdb: string_split separator "
                f"chr({code_point}) is outside the encodable Unicode "
                "code-point range ([0, 0x10FFFF] minus the surrogate "
                "block 0xD800-0xDFFF) and cannot be folded to a character"
            )
        sep = chr(code_point)
    else:
        raise ValueError(
            "transpile_duckdb: string_split separator must be a plain "
            f"string literal or chr(<int>) (got {arg!r}) — DuckDB splits "
            "on a literal but Spark split takes a regex, so a non-constant "
            "separator cannot be made safe at transpile time"
        )
    return f"split({args[0]},{_sql_string_literal(_java_regex_quote(sep))})"


def _rw_list_sum(args: list[str]) -> str:
    """list_sum(xs) → aggregate with an init that inherits the element
    type: ``0L * try_element_at(xs, 1)`` is BIGINT 0 for integer lists and
    DOUBLE 0.0 for double lists, so integer sums keep 64-bit exactness
    (a DOUBLE accumulator would corrupt >2^53 hash sums). NULL elements
    poison the sum here but not in DuckDB — acceptable because the sweep
    value-checks every oracle, and our oracles sum non-null lists."""
    if len(args) != 1:
        raise ValueError("transpile_duckdb: list_sum expects 1 arg")
    x = args[0]
    return f"aggregate({x}, 0L * try_element_at({x}, 1), (a, v) -> a + v)"


def _rw_list_slice(args: list[str]) -> str:
    """list_slice(x, a, b) is end-INCLUSIVE; Spark slice takes a length."""
    if len(args) != 3:
        raise ValueError("transpile_duckdb: list_slice expects 3 args")
    x, a, b = args
    return f"slice({x}, {a}, ({b}) - ({a}) + 1)"


def _bounded_sequence(a: str, b: str, step: str | None, var: str,
                      inclusive: bool) -> str:
    """Emit a Spark sequence over [a, b) / [a, b] that yields the EMPTY
    array when the range is empty, exactly like DuckDB's range /
    generate_series. A bare ``sequence(a, (b)-1)`` is a trap: when b <= a
    Spark infers step -1 and produces a DESCENDING array (e.g.
    range(0, 0) → sequence(0, -1) → [0, -1]) instead of []. Clamping the
    stop to ``greatest(a, …)`` keeps sequence's direction non-negative and
    the trailing lambda filter drops the clamp artifact, so the empty case
    returns [] with the correct element type (no ``array()`` type hole).
    ``var`` must be unique per caller: Spark rejects shadowed lambda
    variable names when one emitted sequence nests inside another
    higher-order function."""
    cmp = "<=" if inclusive else "<"
    stop = f"({b})" if inclusive else f"({b}) - 1"
    tail = f", {step}" if step else ""
    return (
        f"filter(sequence({a}, greatest(({a}), {stop}){tail}), "
        f"{var} -> {var} {cmp} ({b}))"
    )


def _rw_range(args: list[str]) -> str:
    """Scalar-position range(…) is end-EXCLUSIVE in DuckDB; Spark sequence
    is inclusive — and an EMPTY DuckDB range must stay empty on Spark (see
    :func:`_bounded_sequence`). (FROM-position range is left alone —
    Spark's range TVF is also end-exclusive.)"""
    if len(args) == 1:
        return _bounded_sequence("0", args[0], None, "rg_i", inclusive=False)
    if len(args) == 2:
        return _bounded_sequence(args[0], args[1], None, "rg_i",
                                 inclusive=False)
    if len(args) == 3:
        step = args[2].strip()
        m = re.fullmatch(r"(-?)\s*\d+", step)
        if m:
            if not m.group(1):  # positive literal step
                return _bounded_sequence(args[0], args[1], step, "rg_i",
                                         inclusive=False)
            # negative step: stops > b in DuckDB, >= b+1 in sequence;
            # least-clamp + filter mirrors the empty-range guard
            a, b = args[0], args[1]
            return (
                f"filter(sequence({a}, least(({a}), ({b}) + 1), {step}), "
                f"rg_i -> rg_i > ({b}))"
            )
        raise ValueError(
            "transpile_duckdb: stepped range(a, b, s) needs a literal "
            "integer step to fix up the exclusive end (got "
            f"{step!r}) — use generate_series for inclusive semantics"
        )
    raise ValueError("transpile_duckdb: range expects 1-3 args")


_POSITIVE_INTERVAL = re.compile(r"INTERVAL\s+'?\d+'?\s+\w+", re.IGNORECASE)


def _rw_generate_series(args: list[str]) -> str:
    """generate_series is end-INCLUSIVE in both dialects, but DuckDB
    returns [] when the stop precedes the start while Spark's sequence
    infers step -1 and descends — same empty-range trap as range() (see
    :func:`_bounded_sequence`). Positive literal steps (integers and the
    oracle spines' ``INTERVAL 1 DAY`` forms) get the clamp+filter guard;
    a non-literal step has unknowable direction and fails loudly."""
    if len(args) == 1:
        return _bounded_sequence("0", args[0], None, "gs_i", inclusive=True)
    if len(args) == 2:
        return _bounded_sequence(args[0], args[1], None, "gs_i",
                                 inclusive=True)
    if len(args) == 3:
        step = args[2].strip()
        m = re.fullmatch(r"(-?)\s*\d+", step)
        if m and m.group(1):  # negative literal step: stops >= b
            a, b = args[0], args[1]
            return (
                f"filter(sequence({a}, least(({a}), ({b})), {step}), "
                f"gs_i -> gs_i >= ({b}))"
            )
        if m or _POSITIVE_INTERVAL.fullmatch(step):
            return _bounded_sequence(args[0], args[1], step, "gs_i",
                                     inclusive=True)
        raise ValueError(
            "transpile_duckdb: generate_series(a, b, s) needs a literal "
            "integer or positive INTERVAL step so the empty-range "
            f"direction is known at transpile time (got {step!r})"
        )
    raise ValueError("transpile_duckdb: generate_series expects 1-3 args")


def _rw_encode(args: list[str]) -> str:
    """DuckDB encode(s) → UTF-8 blob; Spark's encode demands the charset."""
    if len(args) == 1:
        return f"encode({args[0]}, 'UTF-8')"
    return f"encode({', '.join(a.strip() for a in args)})"


def _rw_regexp_replace(args: list[str]) -> str:
    """DuckDB's 4th arg is a flags string; Spark replaces globally by
    default, so 'g' simply drops. The 3-arg (flagless) form is a TRAP —
    DuckDB replaces only the FIRST occurrence while Spark replaces ALL —
    but it must stay an identity PASS-THROUGH here because the 4-arg
    rewrite EMITS a Spark-form 3-arg call that later fixpoint passes
    re-scan; the loud rejection of source-level 3-arg calls lives in
    :func:`_validate_regexp_replace`, which only ever sees the ORIGINAL
    statement. Any other flag has no Spark spelling."""
    if len(args) == 3:
        return f"regexp_replace({', '.join(a.strip() for a in args)})"
    if len(args) == 4 and args[3].strip() in ("'g'", "'G'"):
        return f"regexp_replace({', '.join(a.strip() for a in args[:3])})"
    raise ValueError(
        "transpile_duckdb: regexp_replace flags other than 'g' "
        f"(got {args[3:] if len(args) > 3 else args}) have no Spark equivalent"
    )


def _validate_regexp_replace(args: list[str]) -> None:
    """Reject the 3-arg form in SOURCE statements: DuckDB without the 'g'
    flag replaces only the FIRST occurrence (regexp_replace('aaa','a','X')
    = 'Xaa') while Spark replaces ALL ('XXX') — silent value divergence,
    so it fails loudly per the module contract."""
    if len(args) == 3:
        raise ValueError(
            "transpile_duckdb: 3-arg regexp_replace is first-occurrence-"
            "only in DuckDB but replace-ALL in Spark; add the 'g' flag if "
            "you mean global replacement (no Spark spelling exists for "
            "first-only)"
        )


_INDEX_LAMBDA_RE = re.compile(r"^\(\s*\w+\s*,\s*\w+\s*\)\s*->")


def _validate_no_index_lambda(args: list[str]) -> None:
    """Reject (element, index) lambdas in list_transform/list_filter:
    DuckDB's index is 1-BASED while Spark transform/filter's is 0-BASED,
    and the lambda body passes through the transpiler UNCHANGED — a
    silent off-by-one on every element. No rewrite is attempted (the
    index variable's use sites inside an arbitrary body can't be safely
    rebased textually); restructure with list_slice / explicit ranges,
    which transpile exactly."""
    for a in args:
        if _INDEX_LAMBDA_RE.match(a.strip()):
            raise ValueError(
                "transpile_duckdb: (x, i) index lambdas are 1-based in "
                "DuckDB but 0-based in Spark — a silent off-by-one; "
                "restructure with list_slice/range instead "
                f"(got {a.strip()[:60]!r})"
            )


#: name → validator(args) run over the ORIGINAL statement's call sites only
#: (first fixpoint pass) — rejects argument shapes whose DuckDB semantics
#: have no Spark spelling, without tripping on Spark-form text that the
#: rewriters themselves emit.
_SOURCE_SHAPE_VALIDATORS: dict[str, Callable[[list[str]], None]] = {
    "regexp_replace": _validate_regexp_replace,
    "list_transform": _validate_no_index_lambda,
    "list_filter": _validate_no_index_lambda,
}


def _rw_regexp_extract(args: list[str]) -> str:
    """DuckDB's default group is 0 (whole match); Spark's default is 1 —
    pin group 0 explicitly when the statement omitted it (the same
    divergence :func:`_rw_regexp_extract_all` already guards)."""
    if len(args) == 2:
        return f"regexp_extract({args[0]}, {args[1]}, 0)"
    return f"regexp_extract({', '.join(a.strip() for a in args)})"


def _rw_epoch(args: list[str]) -> str:
    """DuckDB epoch(ts) is DOUBLE seconds with sub-second precision; Spark
    unix_timestamp() is BIGINT and silently truncates fractional seconds.
    unix_micros gives exact µs, so µs/1e6 reproduces DuckDB's double
    exactly (µs counts < 2^53 are double-lossless — ~285 years)."""
    if len(args) != 1:
        raise ValueError("transpile_duckdb: epoch expects 1 arg")
    return f"(unix_micros({args[0]}) / 1000000.0)"


def _rw_regexp_extract_all(args: list[str]) -> str:
    """DuckDB's default group is 0 (whole match); Spark's default is 1 —
    pin group 0 explicitly when the statement omitted it."""
    if len(args) == 2:
        return f"regexp_extract_all({args[0]}, {args[1]}, 0)"
    return f"regexp_extract_all({', '.join(a.strip() for a in args)})"


def _rw_struct_pack(args: list[str]) -> str:
    """struct_pack(a := x, b := y) → named_struct('a', x, 'b', y)."""
    fields = []
    for a in args:
        m = re.match(r"\s*([A-Za-z_]\w*)\s*:=", a)
        if not m:
            raise ValueError(
                f"transpile_duckdb: struct_pack field without ':=' ({a!r})"
            )
        fields.append(f"'{m.group(1)}', {a[m.end():].strip()}")
    return f"named_struct({', '.join(fields)})"


def _rw_list_reduce(args: list[str]) -> str:
    """DuckDB list_reduce(xs, (acc, x) -> …) seeds the accumulator with
    the FIRST element and folds the rest left-to-right; Spark's aggregate
    wants an explicit init, so emit aggregate(rest, first, λ). Callers
    wanting an explicit seed prepend it (``[0] || xs``) — the shared-
    syntax idiom both engines parse. Empty-list divergence: DuckDB raises,
    the Spark emission yields NULL (NULL init over an empty slice) — the
    value-checked sweeps keep any such use honest."""
    if len(args) != 2:
        raise ValueError(
            "transpile_duckdb: list_reduce expects 2 args (list, lambda)"
        )
    xs, lam = args[0].strip(), args[1].strip()
    return (
        f"aggregate(slice({xs}, 2, greatest(size({xs}) - 1, 0)), "
        f"try_element_at({xs}, 1), {lam})"
    )


def _rw_list_avg(args: list[str]) -> str:
    """list_avg(xs) → sum/size with try_divide so the empty list yields
    NULL (DuckDB's behavior) instead of an ANSI divide-by-zero."""
    if len(args) != 1:
        raise ValueError("transpile_duckdb: list_avg expects 1 arg")
    x = args[0]
    return (
        f"try_divide(aggregate({x}, 0D, (a, v) -> a + v), size({x}))"
    )


def _rw_list_cosine(args: list[str]) -> str:
    """list_cosine_similarity(a, b) → dot/(|a|·|b|) over zip_with/aggregate
    (double math, matching DuckDB's double result)."""
    if len(args) != 2:
        raise ValueError(
            "transpile_duckdb: list_cosine_similarity expects 2 args"
        )
    a, b = (x.strip() for x in args)
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    na = f"sqrt(aggregate(transform({a}, x -> x * x), 0D, (s, v) -> s + v))"
    nb = f"sqrt(aggregate(transform({b}, x -> x * x), 0D, (s, v) -> s + v))"
    return f"({dot} / ({na} * {nb}))"


_IGNORE_NULLS_TAIL = re.compile(r"\s+IGNORE\s+NULLS\s*$", re.IGNORECASE)


def _make_rw_ignore_nulls(fn: str):
    """DuckDB puts IGNORE NULLS INSIDE the window function's parens
    (``last_value(x IGNORE NULLS)``); Spark wants it outside
    (``last_value(x) IGNORE NULLS``)."""

    def rw(args: list[str]) -> str:
        if args and _IGNORE_NULLS_TAIL.search(args[-1]):
            cleaned = args[:-1] + [_IGNORE_NULLS_TAIL.sub("", args[-1])]
            return (
                f"{fn}({', '.join(a.strip() for a in cleaned)}) IGNORE NULLS"
            )
        return f"{fn}({', '.join(a.strip() for a in args)})"

    return rw


def _rw_xor(args: list[str]) -> str:
    """DuckDB spells bitwise xor as a function; Spark as the ^ operator."""
    if len(args) != 2:
        raise ValueError("transpile_duckdb: xor expects 2 args")
    return f"(({args[0]}) ^ ({args[1]}))"


def _rw_date_diff(args: list[str]) -> str:
    """DuckDB quotes the unit ('day'); Spark's date_diff wants it bare.
    NOTE both engines count BOUNDARY CROSSINGS for date_diff? They do not:
    DuckDB counts boundaries, Spark's 3-arg date_diff counts complete
    units (timestampdiff semantics) — identical for DATE-typed arguments,
    divergent for intra-day timestamps. The parity sweep value-checks
    every use; a timestamp-granularity use must be skip-listed."""
    if len(args) == 3:
        unit = args[0].strip()
        m = re.fullmatch(r"'(\w+)'", unit)
        if m:
            return (
                f"date_diff({m.group(1).upper()}, "
                f"{args[1].strip()}, {args[2].strip()})"
            )
    return f"date_diff({', '.join(a.strip() for a in args)})"


def _rw_to_microseconds(args: list[str]) -> str:
    """µs count → day-time interval (make_dt_interval stores µs exactly
    for any magnitude a double represents losslessly, i.e. < 2^53 µs
    ≈ 285 years — beyond every fixture horizon)."""
    if len(args) != 1:
        raise ValueError("transpile_duckdb: to_microseconds expects 1 arg")
    return f"make_dt_interval(0, 0, 0, ({args[0]}) / 1000000.0)"


#: name → rewriter(args) for calls whose ARGUMENT SHAPE differs between the
#: dialects (a pure rename would change semantics). Applied before the
#: rename pass; case-insensitive; occurrences inside literals/comments are
#: untouched; nested registered calls are rewritten via fixpoint recursion.
_ARG_REWRITERS: dict[str, Callable[[list[str]], str]] = {
    "string_split": _rw_string_split,
    "list_sum": _rw_list_sum,
    "list_slice": _rw_list_slice,
    "range": _rw_range,
    "generate_series": _rw_generate_series,
    "encode": _rw_encode,
    "epoch": _rw_epoch,
    "regexp_replace": _rw_regexp_replace,
    "regexp_extract": _rw_regexp_extract,
    "regexp_extract_all": _rw_regexp_extract_all,
    "to_microseconds": _rw_to_microseconds,
    "xor": _rw_xor,
    "date_diff": _rw_date_diff,
    "datediff": _rw_date_diff,
    "struct_pack": _rw_struct_pack,
    "list_reduce": _rw_list_reduce,
    "list_avg": _rw_list_avg,
    "list_cosine_similarity": _rw_list_cosine,
    "first_value": _make_rw_ignore_nulls("first_value"),
    "last_value": _make_rw_ignore_nulls("last_value"),
    "nth_value": _make_rw_ignore_nulls("nth_value"),
    "lag": _make_rw_ignore_nulls("lag"),
    "lead": _make_rw_ignore_nulls("lead"),
}

#: validate-only names: visited for _SOURCE_SHAPE_VALIDATORS but with no
#: rewriter — their call text is left untouched (the later rename pass
#: handles list_transform→transform etc.)
_VALIDATE_ONLY = sorted(set(_SOURCE_SHAPE_VALIDATORS) - set(_ARG_REWRITERS))

_ARG_CALL = re.compile(
    r"\b(" + "|".join((*_ARG_REWRITERS, *_VALIDATE_ONLY)) + r")\s*\(",
    re.IGNORECASE,
)
#: range/generate_series in FROM position are table functions; Spark's own
#: range TVF matches DuckDB's end-exclusive semantics, so those stay.
_FROM_TAIL = re.compile(r"\b(?:FROM|JOIN)\s*$", re.IGNORECASE)


def _in_from_position(statement: str, at: int) -> bool:
    """Whether only whitespace separates a FROM or JOIN keyword from
    ``at``. Reads back over that whitespace and the one four-letter word
    before it, never the whole prefix (``\\b`` still sees the character
    before the word)."""
    end = at
    while end and statement[end - 1].isspace():
        end -= 1
    return _FROM_TAIL.match(statement, max(end - 4, 0), at) is not None


def _rewrite_calls(lex: _Lex, n: int) -> str | None:
    """One pass of :data:`_ARG_REWRITERS` over every unprotected call site,
    parsing balanced top-level argument lists (protected regions are
    opaque, so a ')' or ',' inside a literal never splits args). The first
    pass (``n == 0``), where every call site is still source text, also
    runs the :data:`_SOURCE_SHAPE_VALIDATORS`.

    Passes repeat because an outer rewrite copies nested registered calls
    verbatim. Pass-through rewriters (3-arg regexp_replace, 2-arg encode,
    …) leave matching names in the output, so a pass that changes nothing
    returns None: the passes stop on an unchanged text, not on match
    absence."""
    statement = lex.text
    validate = n == 0
    edits: list[tuple[int, int, str]] = []  # (start, end, replacement)
    for m in _ARG_CALL.finditer(statement):
        if lex.protected_at(m.start()):
            continue
        name = m.group(1).lower()
        if name == "range" and _in_from_position(statement, m.start()):
            continue  # table-function position: Spark range TVF matches
        close = lex.partner(
            m.end() - 1,
            f"transpile_duckdb: unbalanced {name} call at: "
            f"{statement[m.start():m.start() + 60]!r}",
        )
        i = close + 1
        args = [statement[a:b] for a, b in lex.split(",", m.end(), close)]
        if args == [""]:
            args = []
        if validate and name in _SOURCE_SHAPE_VALIDATORS:
            _SOURCE_SHAPE_VALIDATORS[name](args)
        if name not in _ARG_REWRITERS:
            continue  # validate-only name: no rewrite, no edit
        text = _ARG_REWRITERS[name](args)
        # An identity rewrite (pass-through shape, e.g. last_value without
        # IGNORE NULLS or an already-3-arg regexp_extract) must NOT become
        # an edit: its span would shadow nested registered calls in the
        # drop-nested step below on EVERY fixpoint pass, so an epoch(…)
        # inside a pass-through last_value(…) would never be rewritten.
        if text != statement[m.start():i]:
            edits.append((m.start(), i, text))
    # Apply right-to-left so earlier offsets stay valid; drop edits nested
    # inside another edit's span (the outer rewrite copied the inner text
    # verbatim — the next pass rewrites it).
    out = statement
    for start, end, text in sorted(edits, reverse=True):
        if any(s < start and end <= e for s, e, _ in edits if (s, e) != (start, end)):
            continue
        out = out[:start] + text + out[end:]
    return None if out == statement else out


# ------------------------------------------------------- bracket rewrites
#
# DuckDB uses square brackets three ways Spark doesn't:
#   CAST(x AS DOUBLE[])   array TYPE suffix      → ARRAY<DOUBLE>
#   ['a', 'b']            list literal           → array('a', 'b')
#   xs[i]                 1-based element access → try_element_at(xs, i)
# try_element_at is exact for the access case: both are 1-based, both
# support negative from-the-end indexes, and both return NULL out of
# bounds (ansi-safe). DuckDB slice syntax xs[a:b] has no textual Spark
# equivalent and raises.

#: words that can directly precede a LIST LITERAL — a bracket after one of
#: these is never an element access on the keyword itself
_KEYWORDS_BEFORE_LITERAL = {
    "SELECT", "WHERE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT",
    "IN", "ON", "BY", "HAVING", "RETURN", "RETURNS", "UNION", "ALL",
    "DISTINCT", "AS", "CASE", "BETWEEN", "LIMIT", "OFFSET",
}


_LBRACKET = re.compile(r"\[")
_LBRACE = re.compile(r"\{")
_POWER = re.compile(r"\*\*")


def _rewrite_brackets(lex: _Lex, n: int) -> str | None:
    """Rewrite the first unprotected ``[`` that is not a string-keyed
    access (those pass through)."""
    statement = lex.text
    for mb in lex.matches(_LBRACKET, top=False):
        i = mb.start()
        # classify by previous non-space character (protected span counts
        # as a token: string-literal or quoted-identifier base)
        j = i - 1
        while j >= 0 and statement[j].isspace():
            j -= 1
        prev_span = lex.protected_at(j) if j >= 0 else None
        is_access = j >= 0 and (
            prev_span is not None
            or statement[j] in ")]"
            or statement[j] in _IDENT_CHARS
            or statement[j] == ">"  # ARRAY<...> from an earlier pass
        )
        if is_access and prev_span is None and statement[j] in _IDENT_CHARS:
            w = j
            while w >= 0 and statement[w] in _IDENT_CHARS:
                w -= 1
            if statement[w + 1 : j + 1].upper() in _KEYWORDS_BEFORE_LITERAL:
                is_access = False
        k = 1 + lex.partner(
            i, f"transpile_duckdb: unbalanced '[' at: {statement[i:i + 40]!r}"
        )
        inner = statement[i + 1 : k - 1]
        if not is_access:
            comp = _parse_comprehension(lex, i + 1, k - 1)
            if comp is not None:
                expr, var, src, cond = comp
                if cond is not None:
                    repl = (
                        f"transform(filter({src}, {var} -> {cond}), "
                        f"{var} -> {expr})"
                    )
                else:
                    repl = f"transform({src}, {var} -> {expr})"
                return statement[:i] + repl + statement[k:]
            return statement[:i] + "array(" + inner + ")" + statement[k:]
        if len(lex.split(":", i + 1, k - 1)) > 1:
            raise ValueError(
                "transpile_duckdb: list slice syntax xs[a:b] has no Spark "
                f"equivalent at: {statement[i - 10 if i >= 10 else 0:k]!r}"
            )
        if re.fullmatch(r"'(?:[^']|'')*'", inner.strip()):
            # string-literal key: Spark's own bracket accessor handles
            # BOTH structs (field access) and maps (NULL when missing,
            # matching DuckDB) — pass through verbatim. try_element_at
            # would reject structs.
            continue
        base_start = _base_start(lex, j)
        base = statement[base_start : j + 1]
        if inner.strip() == "":
            # TYPE[] array-type suffix (an empty index is never valid SQL)
            return (
                statement[:base_start]
                + "ARRAY<"
                + base
                + ">"
                + statement[k:]
            )
        return (
            statement[:base_start]
            + f"try_element_at({base}, {inner})"
            + statement[k:]
        )
    return None


def _rewrite_struct_literals(lex: _Lex, n: int) -> str | None:
    """The first DuckDB ``{'k': v, …}`` struct literal → named_struct('k',
    v, …); a ``MAP {'k': v}`` prefix → map('k', v, …)."""
    statement = lex.text
    m = next(lex.matches(_LBRACE, top=False), None)
    if m is None:
        return None
    i = m.start()
    k = 1 + lex.partner(
        i, f"transpile_duckdb: unbalanced '{{' at: {statement[i:i+40]!r}"
    )
    fields: list[str] = []
    for a, b in lex.split(",", i + 1, k - 1):
        kv = [statement[x:y].strip() for x, y in lex.split(":", a, b)]
        if len(kv) != 2 or not re.fullmatch(r"'(?:[^']|'')*'", kv[0]):
            raise ValueError(
                "transpile_duckdb: struct literal field must be "
                f"'key': value (got {statement[a:b].strip()!r})"
            )
        fields.append(f"{kv[0]}, {kv[1]}")
    # MAP {'k': v} prefix → a map, not a struct
    j = i - 1
    while j >= 0 and statement[j].isspace():
        j -= 1
    w = j
    while w >= 0 and statement[w] in _IDENT_CHARS:
        w -= 1
    if statement[w + 1 : j + 1].upper() == "MAP":
        return (
            statement[: w + 1]
            + f"map({', '.join(fields)})"
            + statement[k:]
        )
    return (
        statement[:i]
        + f"named_struct({', '.join(fields)})"
        + statement[k:]
    )


def _rewrite_power(lex: _Lex, n: int) -> str | None:
    """The first DuckDB ``**`` operator → power(l, r) (Spark's ``^`` is
    xor)."""
    statement = lex.text
    m = next(lex.matches(_POWER, top=False), None)
    if m is None:
        return None
    pos = m.start()
    j = pos - 1
    while j >= 0 and statement[j].isspace():
        j -= 1
    ls = _base_start(lex, j)
    r0 = pos + 2
    while r0 < len(statement) and statement[r0].isspace():
        r0 += 1
    re_ = _forward_primary(lex, r0)
    left = statement[ls : j + 1]
    right = statement[r0:re_]
    return statement[:ls] + f"power({left}, {right})" + statement[re_:]


def _forward_primary(lex: _Lex, i: int) -> int:
    """End index of the primary expression starting at ``i``: an optional
    sign, then a literal / identifier chain / call / parenthesized group,
    with trailing ``(…)``, ``[…]`` and ``.field`` links."""
    s = lex.text
    if i < len(s) and s[i] in "+-":
        i += 1
        while i < len(s) and s[i].isspace():
            i += 1
    pr = lex.protected_at(i)
    if pr:
        i = pr[1]
    elif i < len(s) and (s[i].isdigit() or s[i] == "."):
        while i < len(s) and (s[i].isdigit() or s[i] == "."):
            i += 1
    elif i < len(s) and s[i] in _IDENT_CHARS:
        while i < len(s) and s[i] in _IDENT_CHARS:
            i += 1
    elif i < len(s) and s[i] in "([":
        pass  # handled by the trailing-link loop below
    else:
        raise ValueError(
            f"transpile_duckdb: cannot parse '**' right operand at: {s[i:i+40]!r}"
        )
    while i < len(s):
        if s[i] in "([":
            close = lex.partner(i)
            i = len(s) if close is None else close + 1
        elif s[i] == "." and i + 1 < len(s) and s[i + 1] in _IDENT_CHARS:
            i += 1
            while i < len(s) and s[i] in _IDENT_CHARS:
                i += 1
        else:
            break
    return i


_LATERAL_UNNEST = re.compile(r",\s*unnest\s*\(", re.IGNORECASE)


def _rewrite_lateral_unnest(lex: _Lex, n: int) -> str | None:
    """The first ``FROM t, unnest(arr) AS u(x)`` → ``FROM t LATERAL VIEW
    explode(arr) u AS x`` (the comma-join lateral table function). A first
    comma ``unnest(`` of any other shape ends the pass: it is left for
    Catalyst, and so is every later one."""
    statement = lex.text
    m = next(lex.matches(_LATERAL_UNNEST, top=False), None)
    if m is None:
        return None
    close = lex.partner(m.end() - 1)
    if close is None:
        return None  # not the narrow shape — leave for Catalyst
    k = close + 1
    alias = re.match(
        r"\s+AS\s+(\w+)\s*\(\s*(\w+)\s*\)", statement[k:], re.IGNORECASE
    )
    if not alias:
        return None  # not the narrow shape — leave for Catalyst
    args = statement[m.end() : k - 1]
    return (
        statement[: m.start()]
        + f" LATERAL VIEW explode({args}) {alias.group(1)} "
        + f"AS {alias.group(2)}"
        + statement[k + alias.end() :]
    )


_CAST_UNNEST = re.compile(r"\bCAST\s*\(\s*unnest\s*\(", re.IGNORECASE)
_PARAM_INTERVAL = re.compile(r"\bINTERVAL\s*\(", re.IGNORECASE)
#: make_dt_interval(days, hours, mins, secs) argument slot per unit
_DT_INTERVAL_SLOT = {"DAY": 0, "HOUR": 1, "MINUTE": 2, "SECOND": 3}


def _past_close(lex: _Lex, open_idx: int) -> int:
    """Index just past the ')' paired with the '(' at ``open_idx``."""
    n = len(lex.text)
    return 1 + lex.partner(
        open_idx, f"transpile_duckdb: unbalanced '(' near: {lex.text[n - 40:n]!r}"
    )


def _rewrite_cast_unnest(lex: _Lex, n: int) -> str | None:
    """The first ``CAST(unnest(X) AS T)`` → ``unnest(transform(X, v ->
    CAST(v AS T)))``: Spark generators must be top-level select items, so
    the enclosing cast is pushed INSIDE the array instead — identical
    semantics, and the later rename pass turns unnest into explode."""
    statement = lex.text
    m = next(lex.matches(_CAST_UNNEST, top=False), None)
    if m is None:
        return None
    inner_end = _past_close(lex, m.end() - 1)  # past unnest's ')'
    tail = re.match(
        r"\s*AS\s+(\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*\)",
        statement[inner_end:],
        re.IGNORECASE,
    )
    if not tail:
        raise ValueError(
            "transpile_duckdb: cannot parse CAST(unnest(...) AS T) at: "
            f"{statement[m.start():m.start() + 60]!r}"
        )
    x = statement[m.end() : inner_end - 1]
    t = tail.group(1)
    return (
        statement[: m.start()]
        + f"unnest(transform({x}, __v -> CAST(__v AS {t})))"
        + statement[inner_end + tail.end() :]
    )


def _rewrite_param_interval(lex: _Lex, n: int) -> str | None:
    """The first ``INTERVAL (expr) UNIT`` (DuckDB's parameterized
    interval) → ``make_dt_interval(...)`` with ``expr`` in the unit's slot
    — Spark interval literals take constants only. Literal ``INTERVAL 15
    MINUTE`` spellings (no parenthesis) are shared syntax and pass
    through untouched."""
    statement = lex.text
    m = next(lex.matches(_PARAM_INTERVAL, top=False), None)
    if m is None:
        return None
    end = _past_close(lex, m.end() - 1)
    unit = re.match(
        r"\s*(DAY|HOUR|MINUTE|SECOND)S?\b", statement[end:], re.IGNORECASE
    )
    if not unit:
        raise ValueError(
            "transpile_duckdb: INTERVAL (expr) must be followed by "
            f"DAY/HOUR/MINUTE/SECOND at: {statement[m.start():m.start()+60]!r}"
        )
    expr = statement[m.end() : end - 1]
    args = ["0", "0", "0", "0"]
    args[_DT_INTERVAL_SLOT[unit.group(1).upper()]] = f"({expr})"
    return (
        statement[: m.start()]
        + f"make_dt_interval({', '.join(args)})"
        + statement[end + unit.end() :]
    )


_EXCLUDE_PARENS = re.compile(r"(\*\s*)EXCLUDE\s*\(", re.IGNORECASE)
_EXCLUDE_BARE = re.compile(r"(\*\s*)EXCLUDE\s+([A-Za-z_][A-Za-z0-9_]*)", re.IGNORECASE)


def _rewrite_exclude(statement: str) -> str:
    """DuckDB ``* EXCLUDE (a, b)`` / ``* EXCLUDE a`` → Spark
    ``* EXCEPT (a, b)`` — same column-subtraction star, different
    keyword. Only the star-adjacent spelling rewrites; EXCLUDE as a
    plain identifier elsewhere is untouched."""
    parts = _Lex(statement).segments()
    for i in range(0, len(parts), 2):
        p = _EXCLUDE_PARENS.sub(r"\1EXCEPT (", parts[i])
        parts[i] = _EXCLUDE_BARE.sub(r"\1EXCEPT (\2)", p)
    return "".join(parts)


#: clause keywords that terminate a QUALIFY predicate at depth 0.
_QUALIFY_TERMINATORS = "ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT"
_AS_ALIAS = re.compile(r"\bAS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", re.IGNORECASE)


def _select_alias_map(lex: _Lex, a: int, b: int) -> dict[str, str]:
    """alias (lowercased) -> defining expression, for explicit ``expr AS
    alias`` items of the select list at ``[a, b)``."""
    out: dict[str, str] = {}
    for x, y in lex.split(",", a, b):
        m = _AS_ALIAS.search(lex.text, x, y)
        if m and not lex.protected_at(m.start()):
            out[m.group(1).lower()] = lex.text[x : m.start()].strip()
    return out


def _expand_aliases(pred: str, aliases: dict[str, str]) -> str:
    """Replace word-bounded select-list alias references in ``pred`` with
    their parenthesized defining expressions (repeatedly, for aliases
    defined in terms of earlier aliases). Qualified references (``t.x``)
    and call positions (``x(...)``) are left alone. This removes every
    lateral-column-alias dependency from the injected predicate — Spark
    resolves lateral aliases in plain expressions but rejects them INSIDE
    window expressions (LATERAL_COLUMN_ALIAS_IN_WINDOW), and substitution
    sidesteps the whole class."""
    if not aliases:
        return pred
    for _ in range(5):
        changed = False
        parts = _Lex(pred).segments()
        for i in range(0, len(parts), 2):
            def _sub(m: re.Match) -> str:
                nonlocal changed
                name = m.group(0)
                repl = aliases.get(name.lower())
                if repl is None:
                    return name
                start = m.start()
                before = m.string[:start].rstrip()
                after = m.string[m.end() :].lstrip()
                if before.endswith(".") or after.startswith("("):
                    return name
                changed = True
                return f"({repl})"

            parts[i] = re.sub(r"\b[A-Za-z_][A-Za-z0-9_]*\b", _sub, parts[i])
        pred = "".join(parts)
        if not changed:
            return pred
    return pred


def _rewrite_qualify_branch(lex: _Lex, a: int, b: int) -> str:
    """Rewrite the first depth-0 QUALIFY in the text at ``[a, b)`` (a
    SELECT statement or set-operation branch) into the subquery-plus-WHERE
    form, and return the rewritten text of that range::

        SELECT <list> FROM … QUALIFY <pred> <tail>
        → SELECT * EXCEPT (__qualify) FROM
            (SELECT <list>, (<pred>) AS __qualify FROM …) WHERE __qualify <tail>

    The predicate is computed INSIDE the subquery with select-list alias
    references textually EXPANDED to their defining expressions
    (:func:`_expand_aliases`), so alias references (aggregate and window
    aliases included, even inside OVER clauses), inline window
    expressions, and base columns absent from the select list all work —
    the three QUALIFY idioms. Catalyst de-duplicates the repeated window
    spec, so expansion costs nothing at runtime."""
    s = lex.text
    q = next(lex.keywords("QUALIFY", a, b), None)
    assert q is not None
    q_start = q.start()
    term = next(lex.keywords(_QUALIFY_TERMINATORS, q.end(), b), None)
    pred_end = term.start() if term else b
    pred = s[q.end() : pred_end].strip()
    tail = s[pred_end:b]

    sel_positions = [m.start() for m in lex.keywords("SELECT", a, q_start)]
    if not sel_positions:
        raise ValueError("transpile_duckdb: QUALIFY without an owning SELECT")
    sp = sel_positions[-1]
    if re.compile(r"SELECT\s+DISTINCT\b", re.IGNORECASE).match(s, sp, q_start):
        raise ValueError(
            "transpile_duckdb: QUALIFY combined with SELECT DISTINCT is "
            "not supported (DISTINCT applies after QUALIFY and the "
            "subquery rewrite cannot preserve that ordering) — "
            "deduplicate in an outer query instead"
        )
    group_by_all = re.compile(r"GROUP\s+BY\s+ALL\b", re.IGNORECASE)
    if any(
        group_by_all.match(s, m.start(), q_start)
        for m in lex.keywords("GROUP", sp, q_start)
    ):
        raise ValueError(
            "transpile_duckdb: QUALIFY combined with GROUP BY ALL is not "
            "supported (the injected predicate column would change what "
            "ALL resolves to) — spell out the grouping keys"
        )
    from_kw = next(lex.keywords("FROM", sp, q_start), None)
    if from_kw is None:
        raise ValueError(
            "transpile_duckdb: QUALIFY requires a FROM clause in its SELECT"
        )
    fp = from_kw.start()
    pred = _expand_aliases(pred, _select_alias_map(lex, sp + len("SELECT"), fp))
    extended = s[sp:fp].rstrip() + f", ({pred}) AS __qualify " + s[fp:q_start]
    return (
        s[a:sp]
        + "SELECT * EXCEPT (__qualify) FROM ("
        + extended
        + ") WHERE __qualify"
        + (" " if tail and not tail[0].isspace() else "")
        + tail
    )


#: function names whose argument-shape rewrites expand into higher-order
#: lambdas — a scalar subquery in their arguments must be hoisted first
#: (Catalyst: UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.HIGHER_ORDER_FUNCTION).
_HOF_EXPANDING = (
    "list_cosine_similarity",
    "list_sum",
    "list_avg",
    "list_reduce",
    "list_transform",
    "list_filter",
)

_SELECT_CLAUSE_END = (
    "WHERE|GROUP|HAVING|WINDOW|QUALIFY|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT"
)
_CALL_NAME = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(")
_SUBQUERY = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
_UNBALANCED = "transpile_duckdb: unbalanced parentheses"


def _find_subq_in_hof(lex: _Lex) -> tuple[int, int] | None:
    """Span (start, end_exclusive) of the first ``(SELECT …)`` nested in
    the argument list of a HOF-expanding call; None when absent."""
    for m in _CALL_NAME.finditer(lex.text):
        if m.group(1).lower() not in _HOF_EXPANDING:
            continue
        if lex.protected_at(m.start()):
            continue
        open_idx = m.end() - 1
        close_idx = lex.partner(open_idx, _UNBALANCED)
        sm = next(lex.matches(_SUBQUERY, open_idx + 1, close_idx, top=False), None)
        if sm is None:
            continue
        return sm.start(), lex.partner(sm.start(), _UNBALANCED) + 1
    return None


#: the most scalar subqueries one statement may hold inside
#: higher-order-function arguments
_MAX_HOF_SUBQUERIES = 16


def _hoist_hof_scalar_subqueries(lex: _Lex, n: int) -> str | None:
    """Hoist the first scalar subquery out of a HOF-expanding call's
    arguments: ``list_cosine_similarity(a, (SELECT …))`` becomes a 1-row
    ``CROSS JOIN (SELECT (SELECT …) AS __sqN) __sqtN`` on the owning
    SELECT plus a plain column reference in the argument — Catalyst
    broadcasts the row, and the lambda the call expands into no longer
    contains a subquery expression. ``n`` numbers the hoist. Assumes the
    subquery is uncorrelated (DuckDB's in-lambda subqueries in this
    dialect are); a correlated one fails loudly at analysis as an
    unresolved column."""
    statement = lex.text
    found = _find_subq_in_hof(lex)
    if found is None:
        return None
    sub_start, sub_end = found
    subq = statement[sub_start:sub_end]
    # owning SELECT scope: nearest enclosing paren group that opens
    # with SELECT (a subquery), else the whole statement
    scope_a, scope_b = 0, len(statement)
    open_idx = lex.enclosing(sub_start)
    while open_idx is not None:
        close_idx = lex.partner(open_idx, _UNBALANCED)
        inner_start = _ws(statement, open_idx + 1)
        if re.compile(r"SELECT\b", re.IGNORECASE).match(statement, inner_start):
            scope_a, scope_b = open_idx + 1, close_idx
            break
        open_idx = lex.enclosing(open_idx)
    sels = [
        m.start()
        for m in lex.keywords("SELECT", scope_a, scope_b)
        if m.start() <= sub_start
    ]
    if not sels:
        raise ValueError(
            "transpile_duckdb: cannot hoist subquery out of HOF — no "
            "owning SELECT found"
        )
    from_kw = next(lex.keywords("FROM", sels[-1] + 1, scope_b), None)
    if from_kw is None:
        raise ValueError(
            "transpile_duckdb: cannot hoist subquery out of HOF — the "
            "owning SELECT has no FROM clause to attach the 1-row join"
        )
    end = next(lex.keywords(_SELECT_CLAUSE_END, from_kw.start() + 1, scope_b), None)
    inject = end.start() if end else scope_b
    ref = f"__sqt{n}.__sq{n}"
    joined = f" CROSS JOIN (SELECT {subq} AS __sq{n}) __sqt{n} "
    if inject <= sub_start:  # subquery sits after FROM (e.g. in WHERE)
        return (
            statement[:inject]
            + joined
            + statement[inject:sub_start]
            + ref
            + statement[sub_end:]
        )
    # subquery sits in the select list, before the join point
    return (
        statement[:sub_start]
        + ref
        + statement[sub_end:inject]
        + joined
        + statement[inject:]
    )


#: clause keywords that terminate an ASOF ON condition at depth 0.
_ASOF_COND_END = (
    "WHERE|GROUP|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|HAVING|WINDOW|"
    "QUALIFY|JOIN|ASOF|LEFT|RIGHT|INNER|CROSS|FULL"
)
#: the most ASOF JOINs one statement may hold
_MAX_ASOF_JOINS = 64

_INEQ = re.compile(r"(<=|>=|<|>)")
_QUAL_COL = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*$")


def _rewrite_asof_join(lex: _Lex, n: int) -> str | None:
    """The first DuckDB ``ASOF [LEFT] JOIN rel alias ON <eq-keys AND
    ineq>`` → Spark ``[LEFT] JOIN LATERAL (SELECT * FROM rel alias WHERE
    <cond> ORDER BY <asof col> <dir> LIMIT 1) alias ON true``.

    The as-of match ("the single right row with the greatest/least
    timestamp satisfying the condition") is exactly a per-left-row
    ORDER BY + LIMIT 1 — Spark has no ASOF spelling but decorrelates the
    LATERAL form to the WindowGroupLimit + join plan (plan-asserted by
    ``lateral_top_orders``), so nothing here is a nested loop. The
    inequality conjunct names the as-of column and its direction:
    ``l.ts >= r.ts`` (right side small) → latest-at-or-before → DESC;
    ``l.ts <= r.ts`` → earliest-at-or-after → ASC. Strictness rides along
    in the WHERE untouched. Left-side text before ASOF is untouched —
    outer references stay correlated into the lateral subquery.
    RIGHT/FULL ASOF variants and multi-inequality conditions raise."""
    s = lex.text
    for hit in lex.keywords("ASOF", top=False):
        pos = hit.start()
        i = _ws(s, hit.end())
        left_kw = ""
        m = re.compile(r"(LEFT|RIGHT|FULL|INNER)\b", re.IGNORECASE).match(s, i)
        if m:
            kw = m.group(1).upper()
            if kw in ("RIGHT", "FULL"):
                raise ValueError(
                    f"transpile_duckdb: ASOF {kw} JOIN is not supported"
                )
            left_kw = "LEFT " if kw == "LEFT" else ""
            i = _ws(s, m.end())
        mj = re.compile(r"JOIN\b", re.IGNORECASE).match(s, i)
        if not mj:
            # ASOF used as an ordinary identifier (DuckDB keeps it
            # contextual) — not a join; skip this occurrence
            continue
        i = _ws(s, mj.end())
        if s.startswith("(", i):
            j = lex.partner(i, _UNBALANCED)
            rel = s[i : j + 1]
            i = _ws(s, j + 1)
        else:
            mr = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*").match(s, i)
            if not mr:
                raise ValueError("transpile_duckdb: expected relation after ASOF JOIN")
            rel = mr.group(0)
            i = _ws(s, mr.end())
        ma = re.compile(r"(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\b", re.IGNORECASE).match(s, i)
        if not ma or ma.group(1).upper() == "ON":
            # a bare table/CTE name is its own alias (``ASOF LEFT JOIN c
            # ON …``); a parenthesized subquery has no name to fall back on
            if rel[0] == "(":
                raise ValueError(
                    "transpile_duckdb: ASOF JOIN on a subquery requires "
                    "an alias on the right relation"
                )
            alias = rel.rsplit(".", 1)[-1]
            rel_with_alias = rel
        else:
            alias = ma.group(1)
            rel_with_alias = f"{rel} {alias}"
            i = _ws(s, ma.end())
        mo = re.compile(r"ON\b", re.IGNORECASE).match(s, i)
        if not mo:
            raise ValueError("transpile_duckdb: expected ON after ASOF JOIN relation")
        cond_start = mo.end()
        # condition runs to the next depth-0 clause keyword or scope end
        end = next(lex.keywords(_ASOF_COND_END, cond_start), None)
        cond_end = end.start() if end else len(s)
        # ... but never past the enclosing scope's closing paren
        scope = lex.enclosing(cond_start)
        close = None if scope is None else lex.partner(scope)
        if close is not None:
            cond_end = min(cond_end, close)
        cond = s[cond_start:cond_end].strip()

        ineq_conjs = []
        for x, y in lex.split("AND", cond_start, cond_end):
            mi = _ineq_on_alias(s[x:y], alias)
            if mi is not None:
                ineq_conjs.append(mi)
        if len(ineq_conjs) != 1:
            raise ValueError(
                "transpile_duckdb: ASOF JOIN needs exactly one inequality "
                f"conjunct on the right alias, found {len(ineq_conjs)}"
            )
        asof_col, direction = ineq_conjs[0]
        replacement = (
            f"{left_kw}JOIN LATERAL (SELECT * FROM {rel_with_alias} "
            f"WHERE {cond} ORDER BY {alias}.{asof_col} {direction} LIMIT 1) "
            f"{alias} ON true "
        )
        return s[:pos] + replacement + s[cond_end:]
    return None


def _ws(s: str, i: int) -> int:
    while i < len(s) and s[i].isspace():
        i += 1
    return i


def _ineq_on_alias(conj: str, alias: str) -> tuple[str, str] | None:
    """If ``conj`` is ``x <op> y`` with exactly one side a qualified column
    of ``alias``, return (column, sort direction): the right side must be
    the LATEST at-or-before (DESC) when it sits on the small side of the
    inequality, the EARLIEST at-or-after (ASC) when on the large side."""
    m = _INEQ.search(conj)
    if not m:
        return None
    lhs, op, rhs = conj[: m.start()], m.group(1), conj[m.end() :]
    lq, rq = _QUAL_COL.match(lhs), _QUAL_COL.match(rhs)
    l_is = lq is not None and lq.group(1).lower() == alias.lower()
    r_is = rq is not None and rq.group(1).lower() == alias.lower()
    if l_is == r_is:  # both or neither side is the right alias
        return None
    if r_is:  # other <op> alias.col
        col = rq.group(2)
        return col, ("DESC" if op in (">", ">=") else "ASC")
    col = lq.group(2)  # alias.col <op> other
    return col, ("DESC" if op in ("<", "<=") else "ASC")


#: the most QUALIFY clauses one statement may hold
_MAX_QUALIFY_CLAUSES = 32


def _rewrite_qualify(lex: _Lex, n: int) -> str | None:
    """Rewrite the first QUALIFY clause (any nesting depth, innermost
    scope first) into the subquery form — Spark has no QUALIFY spelling."""
    statement = lex.text
    hit = next(lex.keywords("QUALIFY", top=False), None)
    if hit is None:
        return None
    open_idx = lex.enclosing(hit.start())
    if open_idx is None:
        return _rewrite_qualify_branch(lex, 0, len(statement))
    close = lex.partner(open_idx, _UNBALANCED)
    return (
        statement[: open_idx + 1]
        + _rewrite_qualify_branch(lex, open_idx + 1, close)
        + statement[close:]
    )


def _parse_comprehension(
    lex: _Lex, a: int, b: int
) -> tuple[str, str, str, str | None] | None:
    """DuckDB list comprehension ``[expr FOR var IN src [IF cond]]`` at
    ``[a, b)`` → (expr, var, src, cond) — mapped to transform(+filter),
    which is its exact semantics. Returns None for a plain literal."""
    s = lex.text
    f = next(lex.keywords("FOR", a, b), None)
    if f is None:
        return None
    expr = s[a : f.start()].strip()
    n = next(lex.keywords("IN", f.end(), b), None)
    if n is None:
        raise ValueError(
            f"transpile_duckdb: comprehension without IN: {s[a:b][:60]!r}"
        )
    var = s[f.end() : n.start()].strip()
    if not re.fullmatch(r"[A-Za-z_]\w*", var):
        raise ValueError(
            f"transpile_duckdb: comprehension variable {var!r} is not a "
            "plain identifier"
        )
    cnd = next(lex.keywords("IF", n.end(), b), None)
    if cnd is None:
        return expr, var, s[n.end() : b].strip(), None
    return expr, var, s[n.end() : cnd.start()].strip(), s[cnd.end() : b].strip()


def _base_start(lex: _Lex, j: int) -> int:
    """Start index of the expression ending at ``j`` (inclusive): an
    identifier chain (a.b.c), a call/paren group (f(x), (expr)), a prior
    bracket access (xs[1]), a quoted identifier or string literal, an
    ARRAY<...> type, or any dot-joined mix of these."""
    statement = lex.text
    while True:
        pr = lex.protected_at(j)
        if pr:
            j = pr[0] - 1
        elif statement[j] in ")]":
            opener = lex.partner(j)
            j = (0 if opener is None else opener) - 1
            # a call: include the function name before '('
            while j >= 0 and statement[j] in _IDENT_CHARS:
                j -= 1
        elif statement[j] == ">":
            # ARRAY<...> type from an earlier bracket pass
            depth = 1
            j -= 1
            while j >= 0 and depth:
                if statement[j] == ">":
                    depth += 1
                elif statement[j] == "<":
                    depth -= 1
                j -= 1
            if depth:
                # a bare comparison like `x > [1]` reaches here: refuse
                # loudly instead of returning a garbled base expression
                raise ValueError(
                    "transpile_duckdb: '>' before a bracket is not an "
                    "ARRAY<...> type — cannot determine the access base at: "
                    f"{statement[max(j, 0):max(j, 0) + 40]!r}"
                )
            while j >= 0 and statement[j] in _IDENT_CHARS:
                j -= 1
        elif statement[j] in _IDENT_CHARS:
            while j >= 0 and statement[j] in _IDENT_CHARS:
                j -= 1
        else:
            raise ValueError(
                "transpile_duckdb: cannot find the base expression of a "
                f"bracket access before: {statement[j:j + 40]!r}"
            )
        if j >= 0 and statement[j] == ".":
            j -= 1
            continue
        return j + 1


# ---------------------------------------------------- non-call rewrites

#: Dialect-isms that are neither renames nor call rewrites (kept tiny and
#: explicit; anything not listed rides through to Catalyst unchanged).
#: ``//`` is DuckDB integer division; Spark spells it the ANSI way.
_FN_NAME = re.compile(r"\b[A-Za-z_][A-Za-z0-9_]*\b(?=\s*\()")  # name followed by (
_INT_DIV = re.compile(r"//")
_BARE_VARCHAR = re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE)
# DuckDB CTE materialization hints (WITH x AS [NOT] MATERIALIZED (...)) are
# pure physical advice — Spark's parser has no spelling for them and the
# semantics without the hint are identical, so they are dropped.
_CTE_MATERIALIZED = re.compile(
    r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(", re.IGNORECASE
)
# A bare decimal-point literal is DECIMAL in Spark but behaves as float in
# DuckDB arithmetic (DuckDB's '/' always returns DOUBLE; Spark's decimal
# division stays DECIMAL and *renders* with trailing zeros — '100.0000' vs
# '100.0'). Suffixing 'D' makes the literal a Spark DOUBLE, reproducing
# the reference dialect's float arithmetic. Not applied when the literal
# is already part of a larger token (1.5e3, x1.0) — and literals inside
# strings/comments are protected like everything else.
_FLOAT_LITERAL = re.compile(
    r"(?<![\w.])(\d+\.\d+)(?![\w.eE])"
)

# ------------------------------------------------------ the rewrite loop

#: The rewrite passes, in the order they run: (step, the most rewrites one
#: statement may need, what one rewrite is). A step reads one version of
#: the text and returns the next, or None when it has nothing left to do.
_PASSES: tuple[tuple[Callable[[_Lex, int], str | None], int, str], ...] = (
    (_rewrite_brackets, 200, "bracket rewrites"),
    (_rewrite_struct_literals, 100, "struct literals"),
    (_rewrite_power, 100, "'**' operators"),
    (_rewrite_lateral_unnest, 100, "lateral unnests"),
    (_rewrite_cast_unnest, 100, "CAST(unnest(...)) casts"),
    (_rewrite_param_interval, 100, "parameterized intervals"),
    (
        _hoist_hof_scalar_subqueries,
        _MAX_HOF_SUBQUERIES,
        "scalar subqueries inside higher-order-function arguments",
    ),
    (_rewrite_asof_join, _MAX_ASOF_JOINS, "ASOF JOINs"),
    (_rewrite_qualify, _MAX_QUALIFY_CLAUSES, "QUALIFY clauses"),
    (_rewrite_calls, 50, "call-rewriting passes"),
)


def _rewrite_each(statement: str, step: Callable[[_Lex, int], str | None],
                  cap: int, what: str) -> str:
    """Apply ``step`` to a fresh lexing of the text, with ``n`` counting
    its rewrites from 0, until it returns None; a rewrite beyond ``cap``
    raises."""
    for n in range(cap + 1):  # + the step that finds none left
        nxt = step(_Lex(statement), n)
        if nxt is None:
            return statement
        statement = nxt
    raise ValueError(f"transpile_duckdb: more than {cap} {what}")


def transpile_duckdb(statement: str) -> str:
    """Rewrite a DuckDB-dialect (reference-dialect) SQL string to Spark SQL.

    Mechanics, in order:

    1. the :data:`_PASSES`, each to its end: brackets (``TYPE[]`` →
       ``ARRAY<TYPE>``, list literals → ``array(…)``, 1-based element
       access → ``try_element_at``, also 1-based and NULL out of bounds),
       struct literals, ``**``, lateral and cast unnests, parameterized
       intervals, HOF subquery hoists, ASOF JOINs, QUALIFY, and last the
       argument-shape rewrites (:data:`_ARG_REWRITERS`: string_split,
       list_sum, scalar range, encode, regexp flags, xor, date_diff …);
    2. ``* EXCLUDE`` → ``* EXCEPT``;
    3. function-call renames found in :data:`DUCKDB_TO_SPARK_FN`
       (case-insensitive, word-boundary, call-position only — ``len(x)``
       rewrites, a column named ``len`` does not);
    4. ``extract('unit' FROM x)`` unquotes its unit (Spark wants it bare);
    5. non-call spellings outside protected tokens: ``//`` → ``DIV``, bare
       ``VARCHAR`` → ``STRING``, CTE ``MATERIALIZED`` hints dropped;
    6. literal re-escaping: DuckDB string literals are RAW where Spark
       treats backslash as an escape, so backslashes double; DuckDB
       ``"quoted identifiers"`` become Spark backticks (Spark reads
       double-quoted text as a string literal).

    String literals, quoted identifiers and comments are protected token
    classes throughout — a function name, ``//`` or apostrophe inside one
    never affects the code around it.
    """
    for step, cap, what in _PASSES:
        statement = _rewrite_each(statement, step, cap, what)
    statement = _rewrite_exclude(statement)

    def _rename(m: re.Match) -> str:
        return DUCKDB_TO_SPARK_FN.get(m.group(0).lower(), m.group(0))

    parts = _Lex(statement).segments()
    for i in range(0, len(parts), 2):
        parts[i] = _FN_NAME.sub(_rename, parts[i])
    # extract('minute' FROM ts) → extract(MINUTE FROM ts): the unit sits in
    # a protected literal, so the rewrite matches the (code, literal, code)
    # part triple around it.
    for i in range(0, len(parts) - 2, 2):
        if (
            re.search(r"\bextract\s*\(\s*$", parts[i], re.IGNORECASE)
            and parts[i + 1].startswith("'")
            and re.match(r"\s*FROM\b", parts[i + 2], re.IGNORECASE)
            and re.fullmatch(r"'(\w+)'", parts[i + 1])
        ):
            parts[i + 1] = parts[i + 1][1:-1].upper()
    for i, p in enumerate(parts):
        if i % 2 == 0:  # unprotected code
            p = _CTE_MATERIALIZED.sub(
                "AS (", _BARE_VARCHAR.sub("STRING", _INT_DIV.sub(" DIV ", p))
            )
            parts[i] = _FLOAT_LITERAL.sub(r"\1D", p)
        elif p.startswith("'"):  # string literal: raw → backslash-escaped
            parts[i] = p.replace("\\", "\\\\")
        elif p.startswith('"'):  # quoted identifier → backticks
            inner = p[1:-1].replace('""', '"')
            parts[i] = "`" + inner.replace("`", "``") + "`"
    return "".join(parts)


_DIALECTS = {
    None: lambda s: s,
    "spark": lambda s: s,
    "duckdb": transpile_duckdb,
}


def to_spark_sql(statement: str, dialect: str | None = None) -> str:
    """Dispatch a statement through the named dialect's rewriter."""
    try:
        fn = _DIALECTS[dialect]
    except KeyError:
        raise ValueError(
            f"unknown dialect {dialect!r}; supported: "
            f"{sorted(k for k in _DIALECTS if k)}"
        ) from None
    return fn(statement)
