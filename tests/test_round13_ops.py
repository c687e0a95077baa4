"""Round-13 pins: the four round-12 ADVICE findings, fixed and frozen.

1. ``_sq8_quantize_py`` half-away-from-zero must match Spark round
   (BigDecimal HALF_UP) and DuckDB round at FP edge cases — the old
   ``floor(x+0.5)`` formulation ties-rounded 0.49999999999999994 UP.
   (Those two pins live in tests/test_similarity.py.)
2. ``bpe_learn_merges`` on a corpus that exhausts adjacent pairs before
   ``n_merges`` rounds must fail LOUDLY (the generated oracles unroll a
   fixed round count, so a silently-short result would fail the
   differential confusingly).
3. The transpiler's ``chr(N)`` separator fold must reject out-of-range
   code points with the module's descriptive error, not a bare
   ``chr()`` ValueError.
4. ``HTML_WS_STAGES`` must use explicit engine-shared character classes:
   Java regex ``\\s`` includes U+000B while DuckDB's RE2 ``\\s`` does
   not, so a bare ``\\s`` in the shared stage tables broke the
   pattern-for-pattern oracle replay on vertical-tab inputs.
"""

from __future__ import annotations

import duckdb
import pytest


# ------------------------------------------- 2. BPE exhaustion is loud


def test_bpe_learn_merges_exhausted_corpus_raises(spark):
    from sql4pandas_spark.operators.text import bpe_learn_merges

    # one 2-token doc: round 1 merges the only pair, round 2 finds none
    df = spark.createDataFrame([("ab cd",)], "text string")
    with pytest.raises(ValueError, match="exhausted adjacent pairs"):
        bpe_learn_merges(df, n_merges=2)


def test_bpe_learn_merges_exact_round_count_ok(spark):
    from sql4pandas_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame([("ab cd",)], "text string")
    merges = bpe_learn_merges(df, n_merges=1)
    assert merges == [("ab", "cd", 1)]


# ------------------------------ character-level BPE on (word, count)


def _py_sennrich_bpe(texts, n_merges):
    """Pure-Python Sennrich et al. 2016 learn_bpe over a (word, count)
    vocab — character symbols, pair counts weighted by word frequency
    with within-word multiplicity, argmax (count desc, pair asc),
    greedy left-to-right merge within words. No </w> sentinel (the
    engine's documented divergence, mirrored here)."""
    import re
    from collections import Counter

    vocab = Counter(
        w
        for t in texts
        for w in re.split(r"\s+", t.lower())
        if re.fullmatch("[a-z0-9]+", w)
    )
    symbols = {w: tuple(w) for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, cnt in vocab.items():
            s = symbols[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            return merges
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), n = best
        merges.append((left, right, n))
        for w, s in symbols.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            symbols[w] = tuple(out)
    return merges


def test_bpe_chars_matches_sennrich_reference(spark):
    from sql4pandas_spark.operators.text import bpe_learn_merges_chars

    corpora = [
        ["the theme there", "the other theme", "a b the"],
        # within-word multiplicity: 'aaaa' holds three 'a a' pairs
        ["aaaa aaaa bb", "aaab"],
        # merged symbols must merge further (multi-char pairs)
        ["lower lower lowest low", "newer newest new"],
        # weighted counts: one frequent short word vs many rare long ones
        ["of of of of of", "offer office official"],
    ]
    for texts in corpora:
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = bpe_learn_merges_chars(df, n_merges=3)
        want = _py_sennrich_bpe(texts, 3)
        assert got == want, f"texts={texts!r}: {got} != {want}"


def test_bpe_chars_exhaustion_is_loud(spark):
    from sql4pandas_spark.operators.text import bpe_learn_merges_chars

    # single 2-char word: one merge possible, round 2 finds no pairs
    df = spark.createDataFrame([("ab ab",)], "text string")
    assert bpe_learn_merges_chars(df, n_merges=1) == [("a", "b", 2)]
    with pytest.raises(ValueError, match="exhausted adjacent symbol pairs"):
        bpe_learn_merges_chars(df, n_merges=2)


def test_bpe_chars_vocab_weighting_differs_from_word_level(spark):
    """The char trainer counts pairs weighted by word FREQUENCY over a
    reduced vocab — pin that a repeated word contributes its full count
    (i.e. the vocab reduction keeps counts, does not dedup them away)."""
    from sql4pandas_spark.operators.text import bpe_learn_merges_chars

    df = spark.createDataFrame(
        [("zz zz zz",), ("xy",)], "text string"
    )
    # 'z z' appears once per zz occurrence = 3; 'x y' = 1
    assert bpe_learn_merges_chars(df, n_merges=1) == [("z", "z", 3)]


# ----------------------------- BPE application / compression census


def test_bpe_apply_merges_matches_python_fold(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import bpe_apply_merges

    merges = [("h", "e", 0), ("t", "he", 0), ("the", "m", 0)]
    words = ["the", "theme", "there", "other", "them", "xyz", "hehe"]

    def py_apply(word):
        syms = list(word)
        for left, right, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["w"]
        for r in df.select(
            "word",
            bpe_apply_merges(
                F.filter(F.split("word", ""), lambda c: c != ""), merges
            ).alias("w"),
        ).collect()
    }
    for w in words:
        assert got[w] == py_apply(w), f"word={w}: {got[w]}"


def test_bpe_compression_census_invariants(spark):
    """Merging can only shrink symbol counts, never below one symbol per
    word occurrence, and at least one language must actually compress
    (the corpus guarantees pairs with count >= 2)."""
    from sql4pandas_spark.queries.catalog import load_catalog

    rows = load_catalog()["bpe_compression_by_lang"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["n_symbols_after"] <= r["n_symbols_before"]
        assert r["n_symbols_after"] >= r["n_words"]
    assert any(r["n_symbols_after"] < r["n_symbols_before"] for r in rows)


# ------------------------------------ shard assignment manifest


def test_shard_assignment_deterministic_and_complete(spark):
    """Hash sharding must (a) assign every packed sequence to exactly
    one shard, (b) be idempotent across runs, and (c) actually spread
    load (more than one shard in use; no shard holds everything)."""
    from sql4pandas_spark.queries.catalog import load_catalog

    build = load_catalog()["shard_assign_manifest"].build
    rows1 = build(spark, "/root/testdata/sf0.001").collect()
    rows2 = build(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    assert all(0 <= r["shard_id"] < 8 for r in rows1)
    assert len(rows1) > 1
    total = sum(r["n_docs"] for r in rows1)
    assert max(r["n_docs"] for r in rows1) < total


# ---------------------------- canonical_url property differential


_URL_SCHEMES = ["https://", "http://", "HTTPS://", ""]
_URL_HOSTS = ["Site.com", "news.site.com:443", "a.b.org:80", "x.io"]
# round-14 families: percent-encoded unreserved (%7E/%7e → ~), reserved
# encodings case-folding UPPER (%2f → %2F), and malformed % sequences
_URL_PATHS = ["", "/", "/p", "/p/", "/a/b", "/p%7Ea", "/p%7ea/", "/x%2fy",
              "/x%2Fy", "/%zz", "/a%"]
_URL_QUERIES = ["", "?id=2", "?utm_source=f", "?z=2&id=1", "?id=1&utm_a=b&z=9",
                "?gclid", "?fbclid=x&id=3", "?id=%41", "?id=%4a&z=%2E"]
_URL_FRAGS = ["", "#sec", "#a?b"]

_PCT_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _py_percent_normalize(s: str) -> str:
    """Independent percent normalization: int(hex, 16) + chr(), not the
    operator's separator-triplet lookup string."""
    import re

    parts = s.split("%")
    out = [parts[0]]
    for p in parts[1:]:
        if re.match(r"^[0-9A-Fa-f]{2}", p):
            ch = chr(int(p[:2], 16))
            if ch in _PCT_UNRESERVED:
                out.append(ch + p[2:])
            else:
                out.append("%" + p[:2].upper() + p[2:])
        else:
            out.append("%" + p)
    return "".join(out)


def _py_canonical_url(url: str) -> str:
    """Independent Python implementation of the canonicalization rules
    (string ops, not the operator's regexes)."""
    import re

    u = _py_percent_normalize(re.sub(r"#.*$", "", url.strip()))
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", u)
    scheme = (m.group(1).lower() if m else "")
    rest = u[m.end():] if m else u
    m2 = re.match(r"^([^/?]*)", rest)
    hostport = m2.group(1).lower()
    host = hostport
    if scheme == "https" and host.endswith(":443"):
        host = host[:-4]
    elif scheme == "http" and host.endswith(":80"):
        host = host[:-3]
    pathq = rest[len(hostport):]
    path = pathq.split("?", 1)[0]
    query = pathq.split("?", 1)[1] if "?" in pathq else ""
    params = sorted(
        p for p in query.split("&")
        if p and not p.startswith("utm_")
        and not re.match(r"^(gclid|fbclid)(=|$)", p)
    )
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    return (
        scheme + "://" + host + path
        + ("?" + "&".join(params) if params else "")
    )


def test_canonical_url_matches_python_reference(spark):
    from itertools import product

    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import canonical_url

    urls = [
        s + h + p + q + f
        for s, h, p, q, f in product(
            _URL_SCHEMES, _URL_HOSTS, _URL_PATHS, _URL_QUERIES, _URL_FRAGS
        )
    ][::7]  # every 7th of the 4752-case grid — 679 cases, all dimensions
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == _py_canonical_url(u), f"url={u!r}: {got[i]!r}"


# --------------------------------- vocabulary coverage census


def test_vocab_coverage_invariants(spark):
    """Coverage can't exceed token count; OOV types + vocab size bound
    the distinct universe; every language shares the SAME global vocab
    (so a language whose tokens are all OOV still reports n_tokens)."""
    from sql4pandas_spark.queries.catalog import load_catalog

    rows = load_catalog()["vocab_coverage_by_lang"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_in_vocab"] <= r["n_tokens"]
        assert r["n_oov_types"] >= 0
    # the synthetic corpus shares a small global word pool: the top-25
    # vocab must cover a majority of tokens overall
    assert sum(r["n_in_vocab"] for r in rows) * 2 > sum(
        r["n_tokens"] for r in rows
    )


# ------------------------------- PageRank dangling-mass redistribution


def _py_pagerank(edges, iterations, damping_pct=85, redistribute=False):
    """Pure-Python integer replay of operators/graph.pagerank — floor
    division at every step, dangling share = sum(dangling ranks) // n."""
    scale = 10**9
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    dangling = [v for v in nodes if v not in outdeg]
    base = (scale * (100 - damping_pct) // 100) // n
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += rank[s] // outdeg[s]
        share = sum(rank[v] for v in dangling) // n if redistribute else 0
        rank = {
            v: base + damping_pct * (contrib[v] + share) // 100
            for v in nodes
        }
    return rank


_SINK_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
    ("a", "sink"), ("b", "sink"), ("c", "sink2"),
]


def test_pagerank_redistribution_matches_python_replay(spark):
    from sql4pandas_spark.operators.graph import pagerank

    df = spark.createDataFrame(_SINK_EDGES, "src string, dst string")
    got = {
        r["node"]: r["rank_e9"]
        for r in pagerank(df, iterations=7, redistribute_dangling=True).collect()
    }
    assert got == _py_pagerank(_SINK_EDGES, 7, redistribute=True)


def test_pagerank_mass_conserved_with_sinks(spark):
    """With redistribution, total mass stays SCALE up to floor-rounding
    losses; without it, the planted sinks drain mass far below that
    bound — the contract the round-12 verdict asked to close."""
    from sql4pandas_spark.operators.graph import PAGERANK_SCALE, pagerank

    df = spark.createDataFrame(_SINK_EDGES, "src string, dst string")
    nodes, edges, iters = 5, len(_SINK_EDGES), 10
    # each round loses < 1 per floor: per-edge contrib, per-node DIV 100,
    # the share DIV n, and the base floors (loose, conservative bound)
    floor_bound = iters * (edges + 3 * nodes + 10)
    with_fix = sum(
        r["rank_e9"]
        for r in pagerank(df, iterations=iters, redistribute_dangling=True).collect()
    )
    assert PAGERANK_SCALE - floor_bound <= with_fix <= PAGERANK_SCALE
    without = sum(
        r["rank_e9"]
        for r in pagerank(df, iterations=iters).collect()
    )
    # the two sinks hold ~2/5 of the graph's mass per round; draining it
    # leaves the total well below the floor-rounding band
    assert without < PAGERANK_SCALE - floor_bound - 10**8


def test_pagerank_no_dangling_redistribution_is_identity(spark):
    """On a graph with NO dangling nodes the redistribute flag must not
    change a single rank (share is exactly 0 every round)."""
    from sql4pandas_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    plain = {
        r["node"]: r["rank_e9"] for r in pagerank(df, iterations=5).collect()
    }
    fixed = {
        r["node"]: r["rank_e9"]
        for r in pagerank(df, iterations=5, redistribute_dangling=True).collect()
    }
    assert plain == fixed


# ----------------------------------- full corpus-assembly composition


def test_corpus_assembly_census_stage_monotonicity(spark):
    """Each stage can only shrink the per-language corpus (gate ⊇ dedup
    ⊇ mix), the temperature mix must up-weight rare languages (a rarer
    language keeps a HIGHER fraction of its deduped docs), and the
    packed stage must report every mixed doc exactly once across
    source streams."""
    from sql4pandas_spark.queries.catalog import load_catalog

    rows = load_catalog()["corpus_assembly_e2e"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_stage: dict = {}
    for r in rows:
        by_stage.setdefault(r["stage"], {})[r["key"]] = r
    g, d, x = by_stage["p1_gated"], by_stage["p2_deduped"], by_stage["p3_mixed"]
    for lang in d:
        assert d[lang]["n_docs"] <= g[lang]["n_docs"]
    for lang in x:
        assert x[lang]["n_docs"] <= d[lang]["n_docs"]
    # temperature alpha=0.5: keep-fraction ordering is inverse to size
    fracs = sorted(
        (d[lang]["n_docs"], x.get(lang, {"n_docs": 0})["n_docs"] / d[lang]["n_docs"])
        for lang in d
    )
    assert fracs[0][1] >= fracs[-1][1], fracs
    packed_docs = sum(r["n_docs"] for r in by_stage["p4_packed"].values())
    mixed_docs = sum(r["n_docs"] for r in x.values())
    assert packed_docs == mixed_docs
    for r in by_stage["p4_packed"].values():
        # each doc lands in exactly one sequence (its start offset's bin)
        assert r["n_seqs"] is not None
        assert 1 <= r["n_seqs"] <= r["n_docs"]


# ----------------------------- URL dedup in front of the curation chain


def test_url_variants_collapse_to_one_canonical(spark):
    """The planted family: tracking params, param order, default port,
    fragment, case, trailing slash — all four variants must key to the
    SAME canonical URL (each rule load-bearing)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import canonical_url

    variants = [
        "https://News.Site.com/article/9?utm_source=feed&id=2&z=2",
        "https://news.site.com:443/article/9?z=2&id=2&utm_campaign=x",
        "https://news.site.com/article/9?id=2&z=2#sec",
        "HTTPS://NEWS.SITE.COM/article/9/?z=2&id=2",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    got = {
        r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    }
    assert got == {"https://news.site.com/article/9?id=2&z=2"}


def test_url_dedup_curation_group_counts(spark):
    """At sf0.001 (500 docs) the dedup must keep exactly 125 survivors
    (one per 4-variant group), every group fully collapsed, and the
    survivor must be the FIRST crawl (min doc_id ≡ 0 mod 4)."""
    from sql4pandas_spark.queries.catalog import load_catalog

    rows = load_catalog()["url_dedup_curation"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 125
    assert all(r["n_dup_urls"] == 4 for r in rows)
    assert all(r["doc_id"] % 4 == 0 for r in rows)
    assert len({r["curl"] for r in rows}) == 125


# ---------------------------------- rank-weighted crawl curation


def test_crawl_curation_ranked_gate_is_load_bearing(spark):
    """The authority gate must (a) equal keep AND decile<=8 row-for-row,
    (b) actually FLIP documents (quality-pass docs in the bottom two
    authority deciles exist and are dropped), and (c) key deciles off
    the pagerank ordering (decile 1 holds the max rank)."""
    from sql4pandas_spark.queries.catalog import load_catalog

    cat = load_catalog()
    rows = cat["crawl_curation_ranked"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "empty result"
    for r in rows:
        assert r["keep_ranked"] == (r["keep"] and r["rank_decile"] <= 8)
    flips = [r for r in rows if r["keep"] and not r["keep_ranked"]]
    assert flips, "authority gate never fired — planting is vacuous"
    top = max(rows, key=lambda r: (r["rank_e9"], r["doc_id"]))
    assert top["rank_decile"] == 1
    low = min(rows, key=lambda r: (r["rank_e9"], r["doc_id"]))
    assert low["rank_decile"] == 10


# --------------------- 4. HTML whitespace stages: \x0B oracle parity


def test_html_ws_stages_have_no_bare_backslash_s():
    from sql4pandas_spark.operators.text import HTML_WS_STAGES

    for pat, _ in HTML_WS_STAGES:
        assert r"\s" not in pat, (
            f"stage pattern {pat!r} uses \\s, which differs between Java "
            "regex (includes \\x0B) and DuckDB RE2 (does not)"
        )


def test_html_to_text_vertical_tab_matches_duckdb_replay(spark):
    """A document containing U+000B must extract identically in the
    engine and in the generated DuckDB oracle — the divergence the old
    ``\\s``-based stages had."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import html_to_text
    from sql4pandas_spark.queries.pipeline import _html_oracle_expr

    cases = [
        "<p>a\x0bb</p>",            # lone vertical tab mid-line
        "<p>a \x0b\nb</p>",         # vertical tab inside a newline run
        "\x0b<p>x</p>\x0b",         # leading/trailing
        "a\x0b\x0c b",              # with form feed
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(cases)], "id long, html string"
    )
    got = {
        r["id"]: r["t"]
        for r in df.select("id", html_to_text(F.col("html")).alias("t")).collect()
    }
    con = duckdb.connect()
    for i, h in enumerate(cases):
        want = con.execute(
            f"SELECT {_html_oracle_expr('?')}", [h]
        ).fetchone()[0]
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"
