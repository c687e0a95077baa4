"""Text-analysis invariants over the documents fixture — the fixture carries
ground-truth `lang` labels, so lang-id is measured, not assumed."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sql4pandas_spark.operators import text
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_lang_id_recovers_planted_languages(spark):
    """Synthetic docs dominated by each language's stopwords must classify
    correctly. (The FIXTURE's `lang` labels are independent of its text — all
    docs share one English-ish vocabulary, measured accuracy 0.37 — so label
    accuracy is not a valid oracle there; planted text is.)"""
    rows = []
    for i, (lang, words) in enumerate(sorted(text.LANG_STOPWORDS.items())):
        body = " ".join(words * 3) + " data table query"
        rows.append((i, body, lang))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    scored = text.lang_id(df)
    wrong = scored.filter(F.col("lang") != F.col("lang_pred")).collect()
    assert not wrong, f"misclassified planted docs: {wrong}"


def test_lang_id_deterministic_on_ties(spark):
    """A document with zero stopword hits must resolve to the SAME language
    every run (lexicographic tiebreak), or the driver's determinism check
    flaps."""
    df = spark.createDataFrame(
        [(1, "zzz qqq xxx"), (2, "zzz qqq xxx")], "doc_id long, text string"
    )
    out = {r.doc_id: r.lang_pred for r in
           text.lang_id(df.withColumn("lang", F.lit("??"))).collect()}
    assert out[1] == out[2] == "de", (
        "zero-hit tiebreak must pick the lexicographically first language"
    )


def test_quality_features_bounds(docs):
    q = text.quality_features(docs)
    bad = q.filter(
        (F.col("punct_ratio") < 0) | (F.col("punct_ratio") > 1)
        | (F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)
        | (F.col("n_tokens") <= 0) | (F.col("avg_token_len") <= 0)
    ).count()
    assert bad == 0


def test_winnow_fingerprint_blocking_property(docs):
    """Identical texts share a fingerprint (it's a pure function of content);
    the fingerprint is stable across runs."""
    fp1 = {r.doc_id: r.fingerprint for r in text.winnow_fingerprint(docs).collect()}
    fp2 = {r.doc_id: r.fingerprint for r in text.winnow_fingerprint(docs).collect()}
    assert fp1 == fp2
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    by_text: dict[str, set] = {}
    for did, t in texts.items():
        by_text.setdefault(t, set()).add(fp1[did])
    dup_groups = [fps for fps in by_text.values() if len(fps) > 1]
    assert not dup_groups, "same text must yield the same fingerprint"


def test_bpe_token_count_matches_python_regex(docs):
    import re

    pat = re.compile(text.BPE_TOKEN_RE)
    rows = docs.select("doc_id", "text").limit(50).collect()
    got = {
        r.doc_id: r.n
        for r in docs.limit(50)
        .select("doc_id", text.bpe_token_count("text").alias("n"))
        .collect()
    }
    for r in rows:
        assert got[r.doc_id] == len(pat.findall(r.text)), r.doc_id


def test_repetition_stats_edges_and_values(spark):
    import pandas as pd

    from sql4pandas_spark.operators.text import repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a a a a",          # one distinct word, one distinct bigram
                "one",               # single token: no bigrams -> NULL frac
                "x y x y z",         # 'x y' appears twice of 4 bigrams
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in repetition_stats(spark.createDataFrame(pdf)).collect()
    }
    assert out[1]["dup_word_frac"] == 0.75 and out[1]["top_bigram_frac"] == 1.0
    assert out[2]["top_bigram_frac"] is None and out[2]["dup_word_frac"] == 0.0
    assert out[3]["n_tokens"] == 5 and out[3]["top_bigram_frac"] == 0.5


def test_canonical_url_tracking_params_and_normalization(spark):
    from sql4pandas_spark.operators.text import canonical_url

    cases = [
        # valueless ?gclid must canonicalize the same as ?gclid=x (the
        # param NAME decides, not a literal `gclid=` prefix)
        ("https://Ex.COM/a/?gclid", "https://ex.com/a"),
        ("https://ex.com/a/?gclid=123", "https://ex.com/a"),
        ("https://ex.com/a?fbclid&b=1", "https://ex.com/a?b=1"),
        # but a param merely STARTING with the name is a different param
        ("https://ex.com/a?gclidx=1", "https://ex.com/a?gclidx=1"),
        ("http://ex.com:80/p?utm_source=x&z=1&a=2", "http://ex.com/p?a=2&z=1"),
        ("https://ex.com:443/p#frag", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


# ----------------------------- domain blocklist station (round 12)

def test_registered_domain_edge_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import registered_domain

    df = spark.createDataFrame(
        [
            (1, "https://News.Site.com/articles/9?id=2"),
            (2, "http://spam.bad-ads.net:8080/click"),
            (3, "blog.example.org/post"),          # schemeless
            (4, "localhost/admin"),                 # no dot -> NULL
            (5, "ftp://a.b.c.d.example.net/x"),    # deep subdomain
            (6, None),
        ],
        "id long, url string",
    )
    rows = {
        r["id"]: r["d"]
        for r in df.select("id", registered_domain(F.col("url")).alias("d")).collect()
    }
    assert rows[1] == "site.com"
    assert rows[2] == "bad-ads.net"
    assert rows[3] == "example.org"
    assert rows[4] is None
    assert rows[5] == "example.net"
    assert rows[6] is None


# ------------------------------------------------ Gopher quality-rule gate


def test_gopher_rules_known_values(spark):
    """Hand-built docs hit each rule exactly: degenerate short text,
    bullet-dominated, ellipsis-dominated, stopword-free, and one clean
    passing doc."""
    from sql4pandas_spark.operators.text import gopher_rules

    clean = (
        "the quick brown fox jumps over that lazy dog and then runs "
        "to be with all of them again today because every good line "
        "needs enough plain words to clear the floor easily in the end"
    )
    no_stop = " ".join(f"word{i:02d}" for i in range(40))
    bullets = clean + "".join(f"\n- item {i}" for i in range(30))
    ellipsis = clean + "\nwait...\nmore...\nsoon...\nlater...\nnever..."
    df = spark.createDataFrame(
        [
            (1, clean),
            (2, "aa bb"),
            (3, no_stop),
            (4, bullets),
            (5, ellipsis),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(df, min_words=30).collect()}
    assert out[1]["keep"]
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[3]["r_stopwords"]
    assert out[3]["r_word_count"] and out[3]["r_mean_word_len"]
    assert out[3]["r_alpha_words"]          # digits allowed, alpha present
    assert not out[4]["r_bullet_lines"] and out[4]["r_ellipsis_lines"]
    assert not out[5]["r_ellipsis_lines"] and out[5]["r_bullet_lines"]


def test_gopher_rules_extra_cols_passthrough(spark):
    """extra_cols carries input columns through unchanged and yields
    exactly what the old join-back formulation computed (the round-14
    optimization replaced a 1:1 self-join on doc_id with the
    passthrough; the gate columns themselves must not move)."""
    from sql4pandas_spark.operators.text import gopher_rules

    clean = (
        "the quick brown fox jumps over that lazy dog and then runs "
        "to be with all of them again today because every good line "
        "needs enough plain words to clear the floor easily in the end"
    )
    df = spark.createDataFrame(
        [(1, "en", clean), (2, "de", "aa bb"), (3, "fr", clean + " extra")],
        "doc_id long, lang string, text string",
    )
    through = gopher_rules(df, min_words=30, extra_cols=("lang",))
    joined = df.select("doc_id", "lang").join(
        gopher_rules(df, min_words=30), "doc_id"
    ).select(*through.columns)
    assert through.columns[:3] == ["doc_id", "lang", "n_words"]
    assert sorted(map(tuple, through.collect())) == sorted(
        map(tuple, joined.collect())
    )
    # default stays column-identical to the pre-change contract
    assert gopher_rules(df, min_words=30).columns[0:2] == [
        "doc_id", "n_words",
    ]


def test_gopher_rules_integer_threshold_edges(spark):
    """The exact cross-multiplied boundaries: mean word length exactly 3
    and exactly 10 pass (inclusive); alpha fraction exactly 0.8 fails
    (strict >)."""
    from sql4pandas_spark.operators.text import gopher_rules

    mean3 = " ".join(["abc"] * 40)           # mean exactly 3
    mean10 = " ".join(["abcdefghij"] * 40)   # mean exactly 10
    mean11 = " ".join(["abcdefghijk"] * 40)  # mean 11 -> fail
    alpha45 = " ".join(["word"] * 32 + ["1234"] * 8)  # 32/40 = 0.8 exactly
    df = spark.createDataFrame(
        [(1, mean3), (2, mean10), (3, mean11), (4, alpha45)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(df, min_words=30).collect()}
    assert out[1]["r_mean_word_len"] and out[2]["r_mean_word_len"]
    assert not out[3]["r_mean_word_len"]
    assert not out[4]["r_alpha_words"]  # exactly 80% is not > 80%


# --------------------------------- PSL-aware registered_domain station


def test_registered_domain_psl_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import registered_domain

    cases = [
        (1, "https://Shop.Example.co.uk/basket?d=1", "example.co.uk"),
        (2, "http://spam.tracker.co.uk:80/px", "tracker.co.uk"),
        (3, "news.com.au/story/3", "news.com.au"),
        # longest suffix wins: k12.ca.us, never ca.us
        (4, "https://school.k12.ca.us/home", "school.k12.ca.us"),
        (5, "https://district.ca.us/board", "district.ca.us"),
        # private-section hosted platform: per-site key
        (6, "myblog.blogspot.com/post", "myblog.blogspot.com"),
        # a bare public suffix has no registrable part
        (7, "co.uk", None),
        (8, "https://k12.ca.us/", None),
        # fallback arm unchanged for plain TLDs
        (9, "https://docs.example.com/ref", "example.com"),
        (10, "ftp://a.b.c.d.example.net/x", "example.net"),
        (11, "localhost/admin", None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "id long, url string"
    )
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", registered_domain(F.col("url")).alias("d")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_psl_keying_differs_from_last_two_labels(spark):
    """The load-bearing guarantee of domain_blocklist_psl: on its planted
    hosts a last-two-labels extractor produces a DIFFERENT keying (pools
    distinct co.uk sites, misses the blocklisted tracker), so that
    implementation cannot pass the entry's hash."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import (
        REGISTERED_DOMAIN_RE,
        URL_HOST_RE,
        registered_domain,
    )

    urls = [
        "https://Shop.Example.co.uk/basket?d=0",
        "http://spam.tracker.co.uk:80/px",
        "news.com.au/story/2",
        "https://school.k12.ca.us/home",
        "myblog.blogspot.com/post",
        "co.uk",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    host = F.lower(F.regexp_extract(F.trim(F.col("url")), URL_HOST_RE, 1))
    last_two = F.regexp_extract(host, REGISTERED_DOMAIN_RE, 1)
    rows = df.select(
        registered_domain(F.col("url")).alias("psl"),
        F.when(last_two != "", last_two).alias("naive"),
    ).collect()
    assert all(r["psl"] != r["naive"] for r in rows), rows
    # and the naive keying pools the two distinct co.uk sites
    naive = [r["naive"] for r in rows]
    assert naive.count("co.uk") == 3


def test_public_suffix_snapshot_shape():
    """Every bundled suffix is multi-label, lowercase, and dedup'd —
    single-label TLDs belong to the fallback arm, not the snapshot."""
    from sql4pandas_spark.operators.text import PUBLIC_SUFFIXES_MULTI

    assert len(set(PUBLIC_SUFFIXES_MULTI)) == len(PUBLIC_SUFFIXES_MULTI)
    for s in PUBLIC_SUFFIXES_MULTI:
        assert "." in s and s == s.lower() and not s.startswith(".")
        assert all(lbl and lbl.replace("-", "").isalnum() for lbl in s.split("."))


# ---------------------- PSL wildcard (`*.ck`) / exception (`!www.ck`)


def test_registered_domain_wildcard_exception_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import registered_domain

    cases = [
        # wildcard base: registration one level deeper
        (1, "https://Store.Shop.ck/buy?x=1", "store.shop.ck"),
        (2, "deep.sub.store.shop.ck", "store.shop.ck"),
        # one label + base IS a wildcard-generated suffix → NULL
        (3, "shop.ck", None),
        # bare base: wildcard doesn't match, fallback needs two labels
        (4, "ck", None),
        # exception cancels the wildcard, for itself and subdomains
        (5, "https://www.ck/home", "www.ck"),
        (6, "foo.www.ck/page", "www.ck"),
        (7, "a.b.www.ck", "www.ck"),
        # NOT the exception (no label boundary): wildcard suffix → NULL
        (8, "xwww.ck", None),
        # Japanese geographic wildcards + the !city exceptions
        (9, "www.city.kobe.jp/ward", "city.kobe.jp"),
        (10, "city.kobe.jp", "city.kobe.jp"),
        (11, "blog.foo.kobe.jp", "blog.foo.kobe.jp"),
        (12, "foo.kobe.jp", None),
        # the base itself has no wildcard match → plain fallback
        (13, "kobe.jp", "kobe.jp"),
        # other wildcard ccTLDs
        (14, "https://example.gov.bd/forms", "example.gov.bd"),
        (15, "deep.sub.example.mm", "sub.example.mm"),
        # plain-snapshot and fallback arms unchanged
        (16, "https://Shop.Example.co.uk/basket", "example.co.uk"),
        (17, "https://docs.example.com/ref", "example.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "id long, url string"
    )
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", registered_domain(F.col("url")).alias("d")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_wildcard_keying_differs_from_plain_snapshot(spark):
    """The load-bearing guarantee of psl_wildcard_exception_domains: on
    its planted hosts the ROUND-13 implementation (plain snapshot +
    fallback, no wildcard/exception arms) produces a DIFFERENT keying
    for every case except the .com control, so that implementation
    cannot pass the entry's hash."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import (
        PSL_DOMAIN_RE,
        PSL_SUFFIX_ONLY_RE,
        REGISTERED_DOMAIN_RE,
        URL_HOST_RE,
        registered_domain,
    )

    urls = [
        "https://Store.Shop.ck/buy?x=0",   # r13: shop.ck
        "shop.ck",                          # r13: shop.ck (not NULL)
        "foo.www.ck/page",                  # r13: www.ck — agrees, but
        #   a wildcard-only impl says foo.www.ck (exception precedence)
        "https://WWW.City.Kobe.jp:443/ward",  # r13: kobe.jp
        "blog.foo.kobe.jp",                 # r13: kobe.jp
        "https://example.gov.bd/forms",     # r13: gov.bd
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    host = F.lower(F.regexp_extract(F.trim(F.col("url")), URL_HOST_RE, 1))
    psl = F.regexp_extract(host, PSL_DOMAIN_RE, 1)
    fallback = F.regexp_extract(host, REGISTERED_DOMAIN_RE, 1)
    r13 = (
        F.when(host.rlike(PSL_SUFFIX_ONLY_RE), F.lit(None).cast("string"))
        .when(psl != "", psl)
        .when(fallback != "", fallback)
    )
    rows = df.select(
        registered_domain(F.col("url")).alias("now"), r13.alias("r13")
    ).collect()
    diff = [r for r in rows if r["now"] != r["r13"]]
    assert len(diff) == len(urls) - 1, rows  # all but foo.www.ck differ


def test_psl_wildcard_exception_snapshot_shape():
    """Wildcard bases and exceptions share the plain snapshot's
    alphabet contract (the spliced-SQL safety pin); every exception
    sits strictly under a wildcard base, and neither list overlaps the
    plain multi-label snapshot."""
    from sql4pandas_spark.operators.text import (
        PSL_EXCEPTIONS,
        PSL_WILDCARD_BASES,
        PUBLIC_SUFFIXES_MULTI,
    )

    assert len(set(PSL_WILDCARD_BASES)) == len(PSL_WILDCARD_BASES)
    assert len(set(PSL_EXCEPTIONS)) == len(PSL_EXCEPTIONS)
    for s in (*PSL_WILDCARD_BASES, *PSL_EXCEPTIONS):
        assert s == s.lower() and not s.startswith(".") and not s.endswith(".")
        assert all(lbl and lbl.replace("-", "").isalnum() for lbl in s.split("."))
    for exc in PSL_EXCEPTIONS:
        assert any(exc.endswith("." + b) for b in PSL_WILDCARD_BASES), exc
    plain = set(PUBLIC_SUFFIXES_MULTI)
    assert not plain & set(PSL_WILDCARD_BASES)
    assert not plain & set(PSL_EXCEPTIONS)
    # no base is a suffix of another (the alternation-order-immaterial
    # argument in text.py relies on it)
    for a in PSL_WILDCARD_BASES:
        for b in PSL_WILDCARD_BASES:
            assert a == b or not a.endswith("." + b), (a, b)


# ------------------------------- one spelling of each replay in queries/


def _query_sql_literals() -> list[tuple[str, str]]:
    """(file, text) of every string constant in sql4pandas_spark/queries,
    f-string pieces included."""
    root = Path(__file__).resolve().parents[1] / "sql4pandas_spark" / "queries"
    return [
        (path.name, node.value)
        for path in sorted(root.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    ]


def test_queries_spell_each_text_replay_once():
    """The oracles generate the Gopher stopword list from
    text.GOPHER_STOPWORDS instead of retyping it as SQL, and the
    word-3-gram shingle replay of dedup.shingles is written once."""
    literals = _query_sql_literals()
    retyped = [
        name for name, lit in literals
        if "'the', 'be', 'to', 'of'" in " ".join(lit.split())
    ]
    assert not retyped, f"Gopher stopwords retyped as SQL in {retyped}"
    shingle = "array_to_string(list_slice(w, i, i+2)"
    spelled = [name for name, lit in literals if shingle in lit]
    assert len(spelled) == 1, f"shingle replay spelled in {spelled}"


def _operator_calls():
    """(file, top-level owner, position, unparsed call) of every call in
    sql4pandas_spark/operators and sql4pandas_spark/streaming."""
    root = Path(__file__).resolve().parents[1] / "sql4pandas_spark"
    for path in sorted([*root.glob("operators/*.py"), *root.glob("streaming/*.py")]):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    pos = (node.lineno, node.col_offset)
                    yield rel, getattr(top, "name", None), pos, ast.unparse(node)


#: the DuckDB replay of text.tokens, as text.DUCKDB_TOKENS_SQL spells it
_DUCKDB_TOKENIZER = r"list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')"


def test_operators_spell_each_rule_once():
    """One body per operator rule: the whitespace tokenizer is text.tokens
    and its DuckDB replay text.DUCKDB_TOKENS_SQL, the fixed-grid bin is one
    expression, shingle rows are exploded in one place, and only the store
    module advances a versioned store."""
    root = Path(__file__).resolve().parents[1] / "sql4pandas_spark"
    tokenizer = "".join(_DUCKDB_TOKENIZER.split())
    spelled = [
        path.relative_to(root).as_posix()
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and tokenizer in "".join(node.value.split())
    ]
    assert spelled == ["operators/text.py"], f"DuckDB tokenizer spelled in {spelled}"
    calls = list(_operator_calls())

    def owners(prefix):
        # a chained call (``f(...).alias(...)``) starts where f does: one site
        sites = {(rel, owner, pos) for rel, owner, pos, c in calls if c.startswith(prefix)}
        return [(rel, owner) for rel, owner, _ in sorted(sites)]

    assert owners("F.split(F.lower(") == [("operators/text.py", "tokens")]
    assert len(owners("F.floor((x - F.lit(lo))")) == 1, owners("F.floor(")
    assert len(owners("F.explode(shingles(")) == 1, owners("F.explode(shingles(")
    advances = owners("stores.advance(") + owners("advance(")
    assert not advances, f"versioned store advanced outside stores.py: {advances}"


# ------------------------------------------- per-domain boilerplate strip


def _bp_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, domain string, text string")


def test_strip_boilerplate_frequency_threshold(spark):
    """A line in 100% of a domain's docs goes; a line in 1/3 stays at
    min_pct=50; domains are scoped independently."""
    from sql4pandas_spark.operators.text import strip_boilerplate

    rows = [
        (1, "a.com", "NAV\nrare\nbody one"),
        (2, "a.com", "NAV\nbody two"),
        (3, "a.com", "NAV\nbody three"),
        # same NAV text on b.org appears in only 1 of 3 docs (33% < 50,
        # the threshold is >=) -> kept there; 'other' is 3/3 -> stripped
        (4, "b.org", "NAV\nother"),
        (5, "b.org", "footer\nother"),
        (6, "b.org", "header\nother"),
    ]
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate(
            _bp_frame(spark, rows), min_pct=50, min_docs=2
        ).collect()
    }
    assert out[1]["clean_text"] == "rare\nbody one"
    assert out[1]["n_lines_removed"] == 1
    assert out[4]["clean_text"] == "NAV"
    assert out[4]["n_lines_removed"] == 1
    assert out[5]["clean_text"] == "footer"
    assert out[6]["clean_text"] == "header"


def test_strip_boilerplate_within_doc_duplicates_all_removed(spark):
    """Per-doc distinct voting: a line repeated 3x in one doc votes once
    for the count, but once boilerplate, ALL copies are removed."""
    from sql4pandas_spark.operators.text import strip_boilerplate

    rows = [
        (1, "a.com", "AD\nx\nAD\ny\nAD"),
        (2, "a.com", "AD\nz"),
    ]
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate(
            _bp_frame(spark, rows), min_pct=100, min_docs=2
        ).collect()
    }
    assert out[1]["clean_text"] == "x\ny"
    assert out[1]["n_lines_removed"] == 3
    assert out[2]["clean_text"] == "z"


def test_strip_boilerplate_min_docs_and_null_domain(spark):
    """A domain below min_docs is never stripped, and NULL-domain docs
    pass through untouched (they join no decision row)."""
    from sql4pandas_spark.operators.text import strip_boilerplate

    rows = [
        (1, "solo.net", "NAV\nbody"),
        (2, None, "NAV\nbody"),
    ]
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate(
            _bp_frame(spark, rows), min_pct=10, min_docs=2
        ).collect()
    }
    assert out[1]["clean_text"] == "NAV\nbody"
    assert out[1]["n_lines_removed"] == 0
    assert out[2]["clean_text"] == "NAV\nbody"
    assert out[2]["n_lines_removed"] == 0


def test_incremental_boilerplate_threshold_flip(spark):
    """The cumulative vote state must FLIP a decision between batches: a
    banner rare in batch 1 (kept there) crosses the frequency threshold
    once batch 2's votes land, so batch 2's copies are stripped while
    batch 1's documents keep theirs — frequencies, not fixed lists."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import (
        BOILERPLATE_STATE_SCHEMA,
        boilerplate_votes,
        merge_boilerplate_votes,
        strip_boilerplate_with_state,
    )
    from sql4pandas_spark.streaming import sketches

    rows = (
        # batch 1 (ids 0-9): banner only in doc 0 -> 10% < 50%
        [(0, "a.com", "BANNER\nbody-0")]
        + [(i, "a.com", f"body-{i}") for i in range(1, 10)]
        # batch 2 (ids 10-19): banner in 9 of 10 -> cumulative 50% >= 50%
        + [(i, "a.com", f"BANNER\nbody-{i}") for i in range(10, 19)]
        + [(19, "a.com", "body-19")]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string, text string")
    b1 = df.filter(F.col("doc_id") < 10)
    b2 = df.filter(F.col("doc_id") >= 10)
    import tempfile

    root = tempfile.mkdtemp(prefix="bp_flip_")
    sketches.empty_state(spark, BOILERPLATE_STATE_SCHEMA, root)
    sketches.sketch_apply_batch(
        boilerplate_votes(b1), root, merge_boilerplate_votes, 0
    )
    s1 = spark.read.parquet(f"{root}/v1")
    out1 = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_with_state(b1, s1, min_pct=50).collect()
    }
    assert out1[0] == "BANNER\nbody-0"  # 10% — kept in batch 1
    sketches.sketch_apply_batch(
        boilerplate_votes(b2), root, merge_boilerplate_votes, 1
    )
    s2 = spark.read.parquet(f"{root}/v2")
    out2 = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_with_state(b2, s2, min_pct=50).collect()
    }
    assert out2[10] == "body-10"  # cumulative 50% — stripped in batch 2
    assert out2[19] == "body-19"


def test_boilerplate_psl_grouping_differs_from_pooled(spark):
    """Per-PSL-site voting must strip each shop's 100% banner and
    shopa's 60% delivery line; pooling the two co.uk shops into one
    'domain' (the last-two-labels failure mode) dilutes both below the
    threshold and strips NOTHING from those rows."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import (
        REGISTERED_DOMAIN_RE,
        URL_HOST_RE,
        registered_domain,
        strip_boilerplate,
    )
    from sql4pandas_spark.queries.catalog import load_catalog
    from sql4pandas_spark.queries.pipeline import _BP_PSL_PLANTED_SQL
    from sql4pandas_spark.sources.parquet import register_tables

    rows = load_catalog()["boilerplate_psl_domains"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    shopa = [r for r in rows if r["domain"] == "shopa.co.uk"]
    shopb = [r for r in rows if r["domain"] == "shopb.co.uk"]
    assert shopa and shopb
    # PSL grouping: every banner stripped, delivery line stripped where
    # planted (60% of shopa rows → those rows lose 2 lines, rest 1)
    assert all("BannerA" not in r["clean_text"] for r in shopa)
    assert all("BannerB" not in r["clean_text"] for r in shopb)
    assert {r["n_lines_removed"] for r in shopa} == {1, 2}
    assert all(r["n_lines_removed"] == 1 for r in shopb)
    # the naive pooled grouping strips nothing from the co.uk shops
    register_tables(spark, "/root/testdata/sf0.001", ("documents",))
    u = spark.sql(_BP_PSL_PLANTED_SQL)
    host = F.lower(F.regexp_extract(F.trim(F.col("url")), URL_HOST_RE, 1))
    last_two = F.regexp_extract(host, REGISTERED_DOMAIN_RE, 1)
    naive_docs = u.select(
        "doc_id", F.when(last_two != "", last_two).alias("domain"), "text"
    )
    naive = {
        r["doc_id"]: r["n_lines_removed"]
        for r in strip_boilerplate(naive_docs, min_pct=60, min_docs=2).collect()
        if r["domain"] == "co.uk"
    }
    assert naive and all(v == 0 for v in naive.values())


# ------------------------------------------------ unigram-LM surprisal


def test_unigram_surprisal_rare_tokens_score_higher(spark):
    """A doc of corpus-rare tokens must out-score a doc of corpus-common
    tokens, empty docs survive with 0/NULL, and the per-token integer
    surprisals must agree with a pure-Python replay of the model."""
    import math

    docs = [
        (1, "the the the the the the"),
        (2, "the the the zyzzyva"),
        (3, "   "),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    from sql4pandas_spark.operators.text import unigram_surprisal

    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    assert out[3]["n_tokens"] == 0
    assert out[3]["avg_surprisal_e6"] is None
    assert out[2]["avg_surprisal_e6"] > out[1]["avg_surprisal_e6"]

    # replay: N=10 tokens, V=2 vocab; c(the)=9, c(zyzzyva)=1
    s_the = round(math.log(12 / 10.0) * 1e6)
    s_z = round(math.log(12 / 2.0) * 1e6)
    assert out[1]["surprisal_sum_e6"] == 6 * s_the
    assert out[2]["surprisal_sum_e6"] == 3 * s_the + s_z
    assert out[2]["avg_surprisal_e6"] == (3 * s_the + s_z) // 4


def test_crossmodel_surprisal_oov_arm(spark):
    """A token absent from the model slice prices at ln(N+V) — the OOV
    arm; a model-slice token prices at ln((N+V)/(c+1))."""
    import math

    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import crossmodel_surprisal

    df = spark.createDataFrame(
        [
            (1, "alpha alpha beta", True),   # model slice: N=3, V=2
            (2, "alpha gamma", False),        # gamma is OOV
        ],
        "doc_id long, text string, m boolean",
    )
    got = {
        r["doc_id"]: r
        for r in crossmodel_surprisal(df, F.col("m")).collect()
    }
    s_alpha = round(math.log((3 + 2) / (2 + 1.0)) * 1e6)
    s_beta = round(math.log((3 + 2) / (1 + 1.0)) * 1e6)
    s_oov = round(math.log(3 + 2) * 1e6)
    assert got[1]["surprisal_sum_e6"] == 2 * s_alpha + s_beta
    assert got[2]["surprisal_sum_e6"] == s_alpha + s_oov
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 2
