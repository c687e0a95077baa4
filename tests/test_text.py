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
