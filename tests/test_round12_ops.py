"""Round-12 pins: the empty-range transpiler divergence (round-11 ADVICE;
the 3-arg regexp_replace, 2-arg regexp_extract, fractional epoch and
fixpoint-shadowing pins live in tests/test_transpile.py), the
extended PII classes (Luhn-gated cards, mod-97-gated IBANs, secrets), the
list_reduce→aggregate mapping, the per-language bigram surprisal gate, the
vacuum/crash-replay interlock on both versioned stores, the NULL
contracts on the asof / range / interval joins, and the session-2 crawl
stations: per-domain boilerplate strip, chr(N) string_split separators,
and line-preserving HTML extraction. The registered-domain, Gopher
quality-rule and boilerplate-strip pins live in tests/test_text.py."""

from __future__ import annotations

import pytest

from sql4pandas_spark.functions.transpile import transpile_duckdb
from tests.test_transpile import _both


# --------------------------------------------- empty-range trap (ADVICE #2)

EMPTY_RANGE_CASES = [
    "SELECT range(0, 0) AS r",                      # the literal trap
    "SELECT range(5, 2) AS r",                      # descending span
    "SELECT range(2, 5) AS r",                      # normal
    "SELECT range(3) AS r",
    "SELECT range(0) AS r",                         # 1-arg empty
    "SELECT range(0, 10, 3) AS r",
    "SELECT range(0, 2, 3) AS r",                   # step overshoots
    "SELECT range(10, 2, -3) AS r",
    "SELECT range(2, 10, -3) AS r",                 # negative-step empty
    "SELECT generate_series(1, 0) AS r",            # inclusive empty
    "SELECT generate_series(1, 5) AS r",
    "SELECT generate_series(4) AS r",
    "SELECT generate_series(0, 10, 4) AS r",
    "SELECT generate_series(10, 0, -4) AS r",
    "SELECT generate_series(0, 10, -4) AS r",       # negative-step empty
]


@pytest.mark.parametrize("stmt", EMPTY_RANGE_CASES)
def test_range_empty_and_stepped_match_duckdb(spark, stmt):
    sp, dk = _both(spark, stmt)
    assert sp == dk, f"{stmt}: spark={sp} duckdb={dk}"


def test_range_on_expression_bound_hits_empty_case(spark):
    """The ADVICE repro shape: range(2, len(w)+1) over a 1-token list used
    to emit sequence(2, 1) = [2, 1] instead of []."""
    stmt = (
        "SELECT w, range(2, len(string_split(w, ' ')) + 1) AS r "
        "FROM (VALUES ('one'), ('two words here')) AS t(w) ORDER BY w"
    )
    sp, dk = _both(spark, stmt)
    assert sp == dk
    assert dk[0][1] == []  # the single-token row really is the empty case


def test_generate_series_interval_empty_spine_matches(spark):
    stmt = (
        "SELECT generate_series(TIMESTAMP '2024-01-02 00:00:00', "
        "TIMESTAMP '2024-01-01 00:00:00', INTERVAL 1 HOUR) AS r"
    )
    sp, dk = _both(spark, stmt)
    assert sp == dk == [([],)]


def test_generate_series_nonliteral_step_raises():
    with pytest.raises(ValueError, match="generate_series"):
        transpile_duckdb("SELECT generate_series(0, 9, n) AS r FROM t")


# --------------------------------------- extended PII classes (round 12)

def test_pii_scrub_luhn_counts_but_redacts_all_card_shapes(spark):
    """Counts are Luhn-gated; redaction is conservative (every card-shaped
    candidate is replaced whether or not the checksum verifies)."""
    from sql4pandas_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "pay 4532015112830366 today"),           # Luhn-valid
            (2, "typo 4532015112830367 today"),          # Luhn-invalid
            (3, "spaced 4111 1111 1111 1111 ok"),        # valid, separators
            (4, "amex 3714 496353 98431 ok"),            # 15-digit valid
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_ccs"] == 1 and "<CC>" in rows[1]["text"]
    assert rows[2]["n_ccs"] == 0 and "<CC>" in rows[2]["text"]  # redacted anyway
    assert "4532015112830367" not in rows[2]["text"]
    assert rows[3]["n_ccs"] == 1 and "1111" not in rows[3]["text"]
    assert rows[4]["n_ccs"] == 1 and "<CC>" in rows[4]["text"]


def test_pii_scrub_iban_and_secret_shapes(spark):
    """IBAN counts are ISO 7064 mod-97-gated (letters in the BBAN map to
    their two-digit A=10..Z=35 expansion); redaction stays conservative
    for invalid shapes. Secrets cover prefixed keys and bare hex."""
    from sql4pandas_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "wire to DE89370400440532013000 please"),
            (2, "token key_A7fK2mQ9xP4wL8vB3n leaked"),
            (3, "hash c0ffee5ca1ab1efacade90d15ea5edeadbeef000 in log"),
            (4, "short key_abc and tiny beef00 are fine"),
            (5, "typo DE89370400440532013001 checksum fails"),
            (6, "letters GB82WEST12345698765432 valid"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_ibans"] == 1 and "<IBAN>" in rows[1]["text"]
    assert rows[2]["n_secrets"] == 1 and "<SECRET>" in rows[2]["text"]
    assert rows[3]["n_secrets"] == 1 and "c0ffee" not in rows[3]["text"]
    assert rows[4]["n_pii"] == 0 and "key_abc" in rows[4]["text"]
    assert rows[5]["n_ibans"] == 0 and "<IBAN>" in rows[5]["text"]  # redacted anyway
    assert rows[6]["n_ibans"] == 1 and "GB82" not in rows[6]["text"]


def test_pii_scrub_first_class_attribution_of_card_digits(spark):
    """A card number consumed by the ccs stage must not re-count as an
    IBAN/secret, and the IBAN's 18-digit tail must not pre-count as a
    card (no word boundary after the country code)."""
    from sql4pandas_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "acct DE89370400440532013000 card 4532015112830366")],
        "doc_id long, text string",
    )
    r = pii_scrub(df).collect()[0]
    assert (r["n_ccs"], r["n_ibans"], r["n_secrets"]) == (1, 1, 0)
    assert "<CC>" in r["text"] and "<IBAN>" in r["text"]


# ------------------------------------ bigram calibrated gate (round 12)

def test_bigram_gate_keeps_about_p75_per_language(spark):
    """Each language keeps ~75% of its own scored docs by construction of
    the per-language p75 threshold, and the thresholds genuinely differ
    across languages (a global threshold would collapse them)."""
    from sql4pandas_spark.queries.catalog import load_catalog

    build = load_catalog()["bigram_gate_per_lang"].build
    rows = build(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 2  # multiple languages scored
    for r in rows:
        frac = r["n_kept"] / r["n_docs"]
        assert 0.65 <= frac <= 0.85, f"{r['lang']}: kept {frac:.2f}"
    assert len({r["threshold_e6x4"] for r in rows}) > 1


# ------------------------------- asof NULL contract (round 12)

def _asof_fixture(spark):
    left = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 10:00:00"),
            (2, "a", None),                      # NULL left ts
            (3, None, "2024-01-01 10:00:00"),    # NULL left key
            (4, "b", "2024-01-01 10:00:00"),     # key with only-NULL rights
        ],
        "id long, k string, ts string",
    ).selectExpr("id", "k", "CAST(ts AS TIMESTAMP) AS ts")
    right = spark.createDataFrame(
        [
            ("a", "2024-01-01 09:00:00", 100),
            ("a", None, 999),                    # NULL right ts
            (None, "2024-01-01 09:00:00", 888),  # NULL right key
            ("b", None, 777),
        ],
        "k string, ts string, v long",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_null_ts_and_null_key_never_match(spark, direction):
    """SQL semantics in every direction: NULL ts / NULL key rows never
    match on either side; left rows are all preserved. Pre-round-12, row 4
    got v=777 (NULL-ts leak through the ignorenulls carry), rows 2/3
    variously matched via the NULL window partition."""
    from sql4pandas_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    rows = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_cols=["v"], direction=direction,
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4}, "every left row must be preserved"
    expected_1 = 100 if direction in ("backward", "nearest") else None
    assert rows[1] == expected_1
    assert rows[2] is None  # NULL left ts
    assert rows[3] is None  # NULL left key
    assert rows[4] is None  # only NULL-ts rights on this key


def test_list_reduce_transpiles_to_aggregate(spark):
    """list_reduce (seedless fold) maps onto Spark aggregate with the
    first element as init; the [seed] || xs prepend idiom gives an
    explicit seed in shared syntax."""
    stmt = (
        "SELECT list_reduce([9, 1, 2, 3], (acc, x) -> acc * 10 + x) AS a, "
        "list_reduce([0] || range(1, 5), (acc, x) -> acc * 10 + x) AS b"
    )
    sp, dk = _both(spark, stmt)
    assert sp == dk == [(9123, 1234)]


def test_interval_overlap_join_drops_null_boundaries(spark):
    """NULL interval boundaries never match — correct BY CONSTRUCTION in
    the bucket-explosion formulation (sequence over a NULL epoch is NULL
    and explode emits no bucket rows), matching SQL inner-join
    comparison semantics. Pinned so a reformulation can't regress it."""
    from sql4pandas_spark.operators.joins import interval_overlap_join

    l = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "2024-01-01 10:30:00"),
         (2, None, "2024-01-01 10:30:00"),
         (3, "2024-01-01 10:00:00", None)],
        "lid long, ls string, le string",
    ).selectExpr("lid", "CAST(ls AS TIMESTAMP) AS ls",
                 "CAST(le AS TIMESTAMP) AS le")
    r = spark.createDataFrame(
        [(10, "2024-01-01 10:15:00", "2024-01-01 10:45:00"),
         (11, None, None)],
        "rid long, rs string, re string",
    ).selectExpr("rid", "CAST(rs AS TIMESTAMP) AS rs",
                 "CAST(re AS TIMESTAMP) AS re")
    out = interval_overlap_join(l, r, "ls", "le", "rs", "re", 3600)
    assert sorted(
        (x["lid"], x["rid"]) for x in out.select("lid", "rid").collect()
    ) == [(1, 10)]


# -------------------------------- token entropy + stream scrub (round 12)

def test_token_entropy_known_values(spark):
    """Uniform repetition → 0; all-unique n tokens → ln(n); empty → NULL."""
    import math

    from sql4pandas_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "one two three four"),
            (3, ""),
            (4, "a a b b"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert rows[1]["entropy_e6"] == 0
    assert rows[2]["entropy_e6"] == int(round(math.log(4) * 1e6) * 4) // 4
    assert rows[3]["n_tokens"] == 0 and rows[3]["entropy_e6"] is None
    assert rows[4]["entropy_e6"] == int(round(2 * math.log(2) * 1e6) * 2) // 4


def test_stream_pii_totals_equal_batch_totals(spark):
    """The streaming scrub's store totals must equal the batch operator's
    aggregated counts — exactly-once over the 3-file drain."""
    from sql4pandas_spark.queries.catalog import load_catalog

    cat = load_catalog()
    stream_row = cat["stream_pii_scrub_counts"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    batch = cat["pii_scrub_documents"].build(
        spark, "/root/testdata/sf0.001"
    )
    from pyspark.sql import functions as F

    batch_row = batch.agg(
        *[F.sum(c).cast("long").alias(c) for c in stream_row.asDict() if c != "n_docs"],
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    ).collect()[0]
    assert stream_row.asDict() == batch_row.asDict()


# ------------------------------- string_split chr(N) constant separators


def test_string_split_chr_separator_folds(spark):
    """chr(N) with an integer literal is a compile-time constant — the
    newline spelling every multi-line oracle needs (a raw newline can't
    sit inside a one-line SQL string). Regex metachar codepoints must be
    escaped like any literal separator."""
    cases = [
        "SELECT string_split('a' || chr(10) || 'b', chr(10)) AS r",
        "SELECT string_split('a.b.c', chr(46)) AS r",   # '.' must be quoted
        "SELECT string_split('x|y', chr(124)) AS r",    # '|' must be quoted
    ]
    for stmt in cases:
        sp, dk = _both(spark, stmt)
        assert sp == dk, f"{stmt}: spark={sp} duckdb={dk}"


def test_string_split_non_constant_separator_still_loud(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="string_split separator"):
        transpile_duckdb("SELECT string_split(a, b) FROM t")
    with _pytest.raises(ValueError, match="string_split separator"):
        transpile_duckdb("SELECT string_split(a, chr(n)) FROM t")


# ---------------------------------------------------- HTML text extraction


def test_html_to_text_known_values(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import html_to_text

    cases = [
        (1, "<p>hello <b>world</b></p>", "hello world"),
        # script body with a bare '<' must vanish entirely, not poison
        # the tag strip
        (2, "a<script>if (1 < 2) x();</script>b", "a b"),
        (3, "<style>p {color:red}</style>text", "text"),
        (4, "<head><title>t</title></head><body>x</body>", "x"),
        (5, "one<!-- note -->two", "one two"),
        # one-level entity decode: &amp;lt; -> &lt;  but &lt; -> <
        (6, "&amp;lt;keep&amp;gt; &lt;i&gt;", "&lt;keep&gt; <i>"),
        (7, "a&nbsp;b &quot;q&quot; &#39;s&#39;", "a b \"q\" 's'"),
        # newline runs collapse to ONE newline (line structure preserved),
        # horizontal runs to one space
        (8, "  spaced\n\n\tout  ", "spaced\nout"),
        (9, "<SCRIPT>x</SCRIPT><STYLE>y</STYLE>z", "z"),  # case-insensitive
        # block closers become line breaks — the structure the line-based
        # boilerplate strip downstream depends on
        (10, "<p>a</p><p>b</p><ul><li>c</li></ul>d<br>e", "a\nb\nc\nd\ne"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in cases], "id long, html string"
    )
    got = {
        r["id"]: r["t"]
        for r in df.select("id", html_to_text(F.col("html")).alias("t")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


# ----------------------------------------------------- integer PageRank


def test_pagerank_hand_computed_round(spark):
    """One round over a 3-node graph, every floor division checked by
    hand: N=3, init 333,333,333, base 50,000,000; b collects both other
    nodes' full contributions."""
    from sql4pandas_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank_e9"] for r in pagerank(edges, iterations=1).collect()}
    assert got == {
        "a": 50_000_000 + 85 * 333_333_333 // 100,
        "b": 50_000_000 + 85 * (333_333_333 + 333_333_333) // 100,
        "c": 50_000_000,
    }


def test_pagerank_two_node_cycle_is_fixed_point(spark):
    """A symmetric 2-cycle sits exactly at the update's fixed point
    (5e8 = 75e6 + 85·5e8//100), so any number of iterations returns the
    uniform rank unchanged — pins that no mass leaks on the happy path."""
    from sql4pandas_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank_e9"] for r in pagerank(edges, iterations=4).collect()}
    assert got == {"a": 500_000_000, "b": 500_000_000}


def test_pagerank_empty_graph(spark):
    from sql4pandas_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(edges, iterations=3).count() == 0


# ----------------------------------------------------- BPE merge training


def test_bpe_learn_merges_iterates_on_merged_corpus(spark):
    """Round 2 must count the MERGED corpus: after (a,b)→ab, the pair
    (ab, c) exists only post-merge, and round 3's winner contains two
    prior merges."""
    from sql4pandas_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "ab c ab c")],
        "doc_id long, text string",
    )
    assert bpe_learn_merges(df, n_merges=3) == [
        ("a", "b", 3),
        ("ab", "c", 3),
        ("ab", "abc", 1),
    ]


def test_bpe_merge_tokens_is_greedy_left_to_right(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import bpe_merge_tokens

    df = spark.createDataFrame(
        [(1, ["a", "a", "a"]), (2, ["a", "a", "a", "a"]), (3, ["b"])],
        "id long, w array<string>",
    )
    got = {
        r["id"]: list(r["m"])
        for r in df.select(
            "id", bpe_merge_tokens(F.col("w"), "a", "a").alias("m")
        ).collect()
    }
    assert got[1] == ["aa", "a"]
    assert got[2] == ["aa", "aa"]
    assert got[3] == ["b"]


def test_bpe_tie_break_and_alphabet_filter(spark):
    """Equal-count pairs resolve lexicographically, and tokens outside
    the lowercase-alnum alphabet never enter the training corpus."""
    from sql4pandas_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "z y"), (2, "b a"), (3, "<tag> b a !!")],
        "doc_id long, text string",
    )
    # 'b a' appears twice (doc 2 and doc 3 with markup dropped), 'z y' once
    assert bpe_learn_merges(df, n_merges=1) == [("b", "a", 2)]
    df2 = spark.createDataFrame(
        [(1, "z y"), (2, "b a")], "doc_id long, text string"
    )
    # one count each -> lexicographically smaller pair 'b a' wins
    assert bpe_learn_merges(df2, n_merges=1)[0][:2] == ("b", "a")
