"""Round-14 operator pins.

Each test pins behavior the round-14 catalog entries rely on, in the
same known-value style as the earlier round files. The PSL
wildcard/exception and cross-model surprisal pins live in
tests/test_text.py, the incremental DSIR stats pins in
tests/test_sketches.py."""

from __future__ import annotations

import pytest


# ---------------------- percent-encoding normalization (RFC 3986 §6.2.2)


def test_percent_normalize_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import percent_normalize

    cases = [
        # unreserved octets decode, either hex case
        (1, "a%7Eb", "a~b"),
        (2, "a%7eb", "a~b"),
        (3, "%41%62%39%2D%2e%5F", "Ab9-._"),
        # reserved octets keep their encoding, hex case-folded UPPER
        (4, "x%2fy", "x%2Fy"),
        (5, "x%2Fy", "x%2Fy"),
        (6, "q%3D1%26r", "q%3D1%26r"),
        # %25 is the escape itself — reserved, never double-decoded
        (7, "100%25%41", "100%25A"),
        # malformed sequences pass through byte-for-byte
        (8, "a%zz", "a%zz"),
        (9, "a%", "a%"),
        (10, "a%%41", "a%A"),
        (11, "%4", "%4"),
        # no % at all: identity
        (12, "plain", "plain"),
        (13, "", ""),
        # multi-byte UTF-8 octets are reserved pairs: stay encoded
        (14, "%c3%a9", "%C3%A9"),
        # idempotence witness: already-normal input is a fixed point
        (15, "a~b%2F%C3", "a~b%2F%C3"),
    ]
    df = spark.createDataFrame([(i, s) for i, s, _ in cases], "id long, s string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", percent_normalize(F.col("s")).alias("n")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_canonical_url_percent_variants_collapse(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import canonical_url

    variants = [
        "https://CDN.Example.com:443/assets/p%7Eq?id=%41",
        "https://cdn.example.com/assets/p%7eq/?id=A#top",
        "https://cdn.example.com/assets/p~q?id=A&utm_c=x",
        "https://cdn.example.com/assets/p~q?id=%41",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    keys = {r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()}
    assert keys == {"https://cdn.example.com/assets/p~q?id=A"}
    # and the reserved-octet boundary: %2F never merges with literal /
    df2 = spark.createDataFrame(
        [("https://f.org/a%2fb",), ("https://f.org/a%2Fb",), ("https://f.org/a/b",)],
        "url string",
    )
    keys2 = [r["c"] for r in df2.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert keys2[0] == keys2[1] == "https://f.org/a%2Fb"
    assert keys2[2] == "https://f.org/a/b"


# ---------------------- IDN / punycode host folding


def test_idn_fold_host_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import idn_fold_host

    cases = [
        # RFC 3492-style worked examples, Unicode → ACE
        (1, "https://München.de/p", "xn--mnchen-3ya.de"),
        (2, "https://BÜCHER.example/x", "xn--bcher-kva.example"),
        (3, "http://日本語.jp/", "xn--wgv71a119e.jp"),
        # already-ACE input is a fixed point (pools with case 1)
        (4, "https://xn--mnchen-3ya.de/q", "xn--mnchen-3ya.de"),
        # pure ASCII takes the codec-free path, lowercased
        (5, "ascii.Example.com/y", "ascii.example.com"),
        # IDN TLD: every label folds independently
        (6, "пример.испытание", "xn--e1afmkfd.xn--80akhbyknj4f"),
        # mixed: only the non-ASCII label is encoded
        (7, "https://shop.münchen.de:8080/x", "shop.xn--mnchen-3ya.de"),
        (8, None, None),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "id long, url string")
    got = {
        r["id"]: r["h"]
        for r in df.select("id", idn_fold_host(F.col("url")).alias("h")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_idn_fold_matches_python_codec(spark):
    """Spark-side folding equals a direct driver-side computation with
    the same stdlib codec — pins the UDF plumbing (Arrow batching, NULL
    handling) rather than the codec itself."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import idn_fold_host

    hosts = ["münchen.de", "café.fr", "bücher.example", "plain.org",
             "日本語.jp", "ös.terreich.at"]
    urls = [f"https://{h}/p" for h in hosts]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "id long, url string")
    got = {
        r["id"]: r["h"]
        for r in df.select("id", idn_fold_host(F.col("url")).alias("h")).collect()
    }
    for i, h in enumerate(hosts):
        want = ".".join(
            lbl if lbl.isascii() else lbl.encode("idna").decode("ascii")
            for lbl in h.lower().split(".")
        )
        assert got[i] == want, (h, got[i], want)


# ---------------------- malformed-HTML recovery


_MALFORMED_HTML_CASES = [
    # (html, expected clean text with the round-14 recovery stages)
    ('<p>Real intro</p><script>var hidden = "SELL NOW"; if (a<b) { x(); }',
     "Real intro"),
    ("<p>Before</p><![CDATA[raw > bits <tag> more]]><p>After</p>",
     "Before\nAfter"),
    ("<p>Visible</p><!-- tracking pixel <img src=x> and the rest",
     "Visible"),
    ('<a href="/x?a>b" title="q">Link</a> tail text', "Link tail text"),
    ("math: 1 < 2 > 0 and <b>bold</b> stays",
     "math: 1 < 2 > 0 and bold stays"),
    ("<head><title>Site - Secret Title</title><meta a=b>Body text only",
     "Body text only"),
    # closed pairs keep working exactly as before
    ("<script>var x = 1 < 2;</script><p>kept</p>", "kept"),
    ("<style>p { color: red }</style>prose", "prose"),
]


def test_html_malformed_recovery_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import html_to_text

    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(_MALFORMED_HTML_CASES)],
        "id long, html string",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", html_to_text(F.col("html")).alias("c")).collect()
    }
    for i, (h, want) in enumerate(_MALFORMED_HTML_CASES):
        assert got[i] == want, f"case {i} {h!r}: {got[i]!r} != {want!r}"


def test_html_recovery_differs_from_r13_table(spark):
    """The load-bearing guarantee of html_malformed_recovery: the
    round-13 stage table (no unclosed-block recovery, quote-blind
    `<[^>]+>` generic strip) produces DIFFERENT output on every planted
    pathology, so that extractor cannot pass the entry's hash."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import HTML_ENTITIES, HTML_WS_STAGES

    r13_strip = (
        r"(?is)<script[^>]*>.*?</script>",
        r"(?is)<style[^>]*>.*?</style>",
        r"(?is)<head[^>]*>.*?</head>",
        r"(?s)<!--.*?-->",
    )

    def r13_html_to_text(col):
        out = col
        for pat in r13_strip:
            out = F.regexp_replace(out, pat, " ")
        out = F.regexp_replace(
            out, r"(?i)</(?:p|h1|h2|h3|li|div|tr)>|<br[^>]*>", "\n"
        )
        out = F.regexp_replace(out, r"<[^>]+>", " ")
        for ent, ch in HTML_ENTITIES:
            out = F.replace(out, F.lit(ent), F.lit(ch))
        for pat, repl in HTML_WS_STAGES:
            out = F.regexp_replace(out, pat, repl)
        return out

    from sql4pandas_spark.operators.text import html_to_text

    pathological = [h for h, _ in _MALFORMED_HTML_CASES[:6]]
    df = spark.createDataFrame([(h,) for h in pathological], "html string")
    rows = df.select(
        html_to_text(F.col("html")).alias("now"),
        r13_html_to_text(F.col("html")).alias("r13"),
    ).collect()
    assert all(r["now"] != r["r13"] for r in rows), rows


# ---------------------- MinHash-LSH calibration


def test_lsh_calibration_tracks_theory(spark):
    """Empirical band-collision rates must sit within binomial noise of
    the analytic 1-(1-j^4)^4 curve at every planted level — the
    calibration entry's reason to exist. 3.5 sigma tolerance on ~35
    pairs per level keeps the pin tight but non-flaky (the planting is
    deterministic, so this can only fail if the hash family or banding
    changes)."""
    import math

    from sql4pandas_spark.queries import load_catalog

    cat = load_catalog()
    rows = cat["lsh_calibration_curve"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 7
    for r in rows:
        p, n = r["p_theory"], r["n_pairs"]
        sigma = math.sqrt(max(p * (1 - p) * n, 1.0))
        assert abs(r["n_hits"] - p * n) <= 3.5 * sigma, dict(r.asDict())
    # the curve is a monotone S: hits never decrease with jaccard
    hits = [r["n_hits"] for r in sorted(rows, key=lambda r: r["level"])]
    assert hits == sorted(hits)
    assert hits[0] == 0 and hits[-1] >= 0.9 * rows[-1]["n_pairs"]


def test_portable_minhash_bands_shape(spark):
    """Band keys: 4 per doc, 60-bit-range, deterministic across calls."""
    from sql4pandas_spark.operators.dedup import portable_minhash_bands

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "wholly different words here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["band_keys"]
           for r in portable_minhash_bands(df).collect()}
    assert all(len(v) == 4 for v in out.values())
    assert out[1] == out[2]          # identical text → identical bands
    assert out[1] != out[3]
    assert all(0 <= k < 2 ** 60 for v in out.values() for k in v)


# ---------------------- epoch shuffle + curriculum anneal


def test_epoch_shuffle_orders_differ_and_lose_nothing(spark):
    from sql4pandas_spark.queries import load_catalog

    cat = load_catalog()
    rows = cat["epoch_shuffle_manifest"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], {})[r["shard_id"]] = r
    assert set(by_epoch) == {0, 1}
    for shard in by_epoch[0]:
        a, b = by_epoch[0][shard], by_epoch[1][shard]
        # shuffling loses nothing: per-shard sequence counts identical
        assert a["n_seqs"] == b["n_seqs"]
        # and the read order genuinely changes between epochs
        assert a["first3"] != b["first3"], shard
    # determinism: a rebuild produces the identical manifest
    again = cat["epoch_shuffle_manifest"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_curriculum_anneal_shape(spark):
    """Epoch 0 is uniform ~50% everywhere; epoch 2 keep-rate rises with
    decile and keeps the top decile outright (p=1.0 — the draw can
    never exceed the 2^60 threshold)."""
    from sql4pandas_spark.queries import load_catalog

    cat = load_catalog()
    rows = cat["curriculum_anneal_mix"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    e0 = {r["decile"]: r for r in rows if r["epoch"] == 0}
    e2 = {r["decile"]: r for r in rows if r["epoch"] == 2}
    assert set(e0) == set(range(1, 11))
    for d, r in e0.items():
        assert 0.3 <= r["n_kept"] / r["n_total"] <= 0.7, (d, r)
    assert e2[10]["n_kept"] == e2[10]["n_total"]  # p = 1.0 exactly
    # monotone-ish rise: decile 9-10 keep far more than decile 1-2
    top = e2[9]["n_kept"] + e2[10]["n_kept"]
    bottom = e2[1]["n_kept"] + e2[2]["n_kept"]
    assert top > 2 * bottom


# ---------------------- BPE artifact lifecycle


def test_bpe_artifact_rank_order_is_load_bearing(spark):
    """Applying the same merges in a DIFFERENT order produces a
    different tokenization on a crafted vocab — the reason the artifact
    persists rank and the reload sorts on it."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import bpe_apply_merges

    # merges: (a,b) then (ab,c). Reversed order can never form 'abc'
    # because 'ab' does not exist yet when (ab,c) is applied first.
    df = spark.createDataFrame([("abc",)], "word string")
    sym = F.filter(F.split("word", ""), lambda c: c != "")
    in_order = df.select(
        bpe_apply_merges(sym, [("a", "b", 9), ("ab", "c", 5)]).alias("w")
    ).collect()[0]["w"]
    reversed_order = df.select(
        bpe_apply_merges(sym, [("ab", "c", 5), ("a", "b", 9)]).alias("w")
    ).collect()[0]["w"]
    assert in_order == ["abc"]
    assert reversed_order == ["ab", "c"]
    assert in_order != reversed_order


# ---------------------- shard export: files on disk match the manifest


def test_shard_export_layout_and_pruning(spark):
    """The export writes one directory per shard (the layout a training
    job reads) and a single-shard read prunes to that partition."""
    from sql4pandas_spark.queries.pipeline import (
        _scratch_dirs,
        _shard_assign_df,
    )

    a = _shard_assign_df(spark, "/root/testdata/sf0.001")
    (out,) = _scratch_dirs("shard_layout_test")
    a.write.mode("overwrite").partitionBy("shard_id").parquet(out)
    import os

    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard_id="))
    assert dirs == [f"shard_id={k}" for k in range(8)]
    one = spark.read.parquet(out).filter("shard_id = 3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan's partition filter names shard_id
    assert "shard_id" in plan
    assert one.count() == a.filter("shard_id = 3").count()


def test_shard_export_detects_lossy_write(spark):
    """manifest_match flips when a shard's files lose rows — the audit
    the entry exists for is actually capable of failing."""
    import shutil

    from pyspark.sql import functions as F

    from sql4pandas_spark.queries.pipeline import (
        _scratch_dirs,
        _shard_assign_df,
        _shard_census,
    )

    a = _shard_assign_df(spark, "/root/testdata/sf0.001")
    manifest = _shard_census(a)
    (out,) = _scratch_dirs("shard_corrupt_test")
    a.write.mode("overwrite").partitionBy("shard_id").parquet(out)
    shutil.rmtree(f"{out}/shard_id=5")  # lose one whole shard
    files = _shard_census(spark.read.parquet(out))
    m = manifest.select(
        "shard_id", F.col("n_docs").alias("m_docs")
    )
    joined = files.join(m, "shard_id", "full_outer").select(
        "shard_id",
        F.col("n_docs").eqNullSafe(F.col("m_docs")).alias("ok"),
    )
    rows = {r["shard_id"]: r["ok"] for r in joined.collect()}
    assert rows[5] is False  # vanished shard still surfaces, mismatched
    assert all(v for k, v in rows.items() if k != 5)


@pytest.mark.parametrize(
    "name",
    [
        "psl_wildcard_exception_domains",
        "url_percent_dedup",
        "idn_host_fold_domains",
        "shard_export_files",
        "html_malformed_recovery",
        "lsh_calibration_curve",
        "epoch_shuffle_manifest",
        "curriculum_anneal_mix",
        "bpe_artifact_lifecycle",
        "unicode_dedup_normalize",
        "data_card_by_source",
    ],
)
def test_round14_entries_registered(name):
    from sql4pandas_spark.queries import load_catalog
    from sql4pandas_spark.queries.catalog import DRIVER_PRIORITY

    cat = load_catalog()
    assert name in cat and cat[name].oracle
    assert name in DRIVER_PRIORITY[:50]


# ---------------------- unicode normalization


def test_nfc_casefold_cases(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import nfc_casefold

    cases = [
        (1, "Café", "café"),          # composed
        (2, "Café", "café"),         # decomposed → composed
        (3, "CAFÉ", "café"),
        (4, "Straße", "strasse"),          # ß → ss (lower() keeps ß)
        (5, "ﬁle", "file"),                # fi ligature folds
        (6, "plain ascii", "plain ascii"),
        (7, None, None),
    ]
    df = spark.createDataFrame([(i, s) for i, s, _ in cases], "id long, s string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", nfc_casefold(F.col("s")).alias("n")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"
    # and the divergence that makes the entry load-bearing: lower()
    # splits what casefold pools
    lowered = {
        r["id"]: r["l"]
        for r in df.select("id", F.lower(F.col("s")).alias("l")).collect()
    }
    assert lowered[4] == "straße" != got[4]
    assert lowered[2] == "café" != got[2]


def test_data_card_columns_are_load_bearing(spark):
    """Gate-pass and dup-rate both take non-trivial values somewhere in
    the census (an all-zeros column would be a vacuous pin)."""
    from sql4pandas_spark.queries import load_catalog

    cat = load_catalog()
    rows = cat["data_card_by_source"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert any(r["gate_pass_rate"] > 0.5 for r in rows)
    assert any(r["dup_rate"] > 0.5 for r in rows)
    assert any(r["dup_rate"] == 0.0 for r in rows)
    assert all(r["n_langs"] >= 1 and r["top_lang"] for r in rows)


# ---------------------- label propagation: communities vs components


def test_lpa_splits_bridged_cliques(spark):
    """The planted two-clique bridge graph: LPA must report exactly two
    communities while the graph is a SINGLE connected component — the
    distinction that makes the operator worth having next to
    label_components."""
    from sql4pandas_spark.operators.graph import label_propagation
    from sql4pandas_spark.queries.pipeline import _LPA_GRAPH_SQL
    from sql4pandas_spark.sources.parquet import register_tables

    register_tables(spark, "/root/testdata/sf0.001", ("documents",))
    edges = spark.sql(_LPA_GRAPH_SQL)
    out = {r["node"]: r["community"] for r in label_propagation(edges, rounds=4).collect()}
    assert len(out) == 15
    assert {out[n] for n in out if n.startswith("a")} == {"a0"}
    assert {out[n] for n in out if n.startswith("b")} == {"b0"}
    # same graph, connected-components view: ONE component
    from sql4pandas_spark.operators.dedup import connected_components

    pairs = edges.selectExpr("src AS id_a", "dst AS id_b")
    comp = connected_components(pairs)
    n_comp = comp.select("cluster_id").distinct().count()
    assert n_comp == 1


def test_lpa_self_loops_dropped_and_two_cycle_oscillates(spark):
    """Self-loop-only nodes are NOT communities (the node frame derives
    from the filtered symmetric edge frame — same contract as
    connected_components); a 2-cycle oscillates under synchronous
    updates (the documented LPA behavior the even round count hides)."""
    from sql4pandas_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([("x", "y"), ("z", "z")], ["src", "dst"])
    out = {r["node"]: r["community"] for r in label_propagation(edges, rounds=2).collect()}
    # z appears only in a self-loop → absent; x and y trade labels round
    # 1 (each other's only neighbor) and trade back round 2
    assert out == {"x": "x", "y": "y"}
    out1 = {r["node"]: r["community"] for r in label_propagation(edges, rounds=1).collect()}
    assert out1 == {"x": "y", "y": "x"}


# ---------------------- DSIR importance weights + Gumbel top-k


def test_dsir_target_lang_mean_logw_tops(spark):
    """The deterministic half of the DSIR pin: the target language's mean
    importance weight strictly exceeds every other language's (the
    Gumbel-noised sample composition is statistical; the weights are
    not)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import dsir_importance_weights
    from sql4pandas_spark.sources.parquet import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    w = dsir_importance_weights(d, F.col("lang") == "en")
    rows = (
        w.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg("logw").alias("m"))
        .collect()
    )
    means = {r["lang"]: r["m"] for r in rows}
    assert set(means) == {"en", "de", "es", "fr", "zh"}
    others = [v for k, v in means.items() if k != "en"]
    assert all(means["en"] > v for v in others), means


def test_dsir_logw_is_exact_integer_micronats(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import dsir_importance_weights
    from sql4pandas_spark.sources.parquet import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    w = dsir_importance_weights(d, F.col("lang") == "en")
    bad = w.filter(
        F.abs(F.col("logw") - F.col("logw_e6").cast("double") / 1e6) > 1e-12
    ).count()
    assert bad == 0
    # zero-token docs are dropped, not scored
    tiny = spark.createDataFrame(
        [(1, "hello world", True), (2, "   ", True)],
        ["doc_id", "text", "t"],
    )
    got = dsir_importance_weights(tiny, F.col("t")).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_gumbel_topk_contract(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import gumbel_topk

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).cast("double").alias("lw")
    )
    with _pytest.raises(ValueError):
        gumbel_topk(df, "lw", 0)
    a = [r["doc_id"] for r in gumbel_topk(df, "lw", 10).collect()]
    b = [r["doc_id"] for r in gumbel_topk(df, "lw", 10).collect()]
    assert a == b and len(a) == 10
    # NULL logw rows never selected
    withnull = df.withColumn(
        "lw", F.when(F.col("doc_id") < 90, F.col("lw"))
    )
    sel = gumbel_topk(withnull, "lw", 20).filter(F.col("lw").isNull()).count()
    assert sel == 0


# ---------------------- IVF recall census


def test_ivf_recall_census_shape(spark):
    from sql4pandas_spark.queries.pipeline import ivf_recall_census

    rows = ivf_recall_census(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r["n_cand"] < 499  # probed a strict subset of the corpus
        assert abs(r["recall"] - r["n_hits"] / 10.0) < 1e-9
        assert 0.0 <= r["recall"] <= 1.0
    # the approximation is real at probe 2-of-8: not every query is perfect
    assert any(r["recall"] < 1.0 for r in rows)


# ---------------------- DoReMi domain reweighting


def test_doremi_weights_ordered_and_mass_conserved(spark):
    """Weights after 10 rounds are strictly increasing in loss (mass
    flows toward the worst-served domain — the group-DRO direction) and
    total mass stays DOREMI_SCALE up to |domains| floor units."""
    from sql4pandas_spark.operators.sampling import DOREMI_SCALE
    from sql4pandas_spark.queries.pipeline import doremi_domain_weights

    rows = doremi_domain_weights(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    by_loss = sorted(rows, key=lambda r: r["loss_e6"])
    ws = [r["weight_e9"] for r in by_loss]
    assert ws == sorted(ws) and len(set(ws)) == len(ws), by_loss
    total = sum(r["weight_e9"] for r in rows)
    assert DOREMI_SCALE - len(rows) <= total <= DOREMI_SCALE


def test_doremi_reweight_contract(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import DOREMI_SCALE, doremi_reweight

    loss = spark.createDataFrame(
        [("a", 5_000_000), ("b", 5_000_000), ("c", 5_000_000)],
        "domain string, loss_e6 long",
    )
    with _pytest.raises(ValueError):
        doremi_reweight(loss, rounds=0)
    with _pytest.raises(ValueError):
        doremi_reweight(loss, eta_denom=7)  # not a divisor of the offset
    # equal losses: zero excess everywhere -> weights stay exactly uniform
    out = {r["domain"]: r["weight_e9"] for r in doremi_reweight(loss, rounds=3).collect()}
    assert out == {"a": DOREMI_SCALE // 3, "b": DOREMI_SCALE // 3, "c": DOREMI_SCALE // 3}
    # one hot domain takes weight from the others, which stay tied
    loss2 = spark.createDataFrame(
        [("a", 5_000_000), ("b", 5_000_000), ("c", 9_000_000)],
        "domain string, loss_e6 long",
    )
    out2 = {r["domain"]: r["weight_e9"] for r in doremi_reweight(loss2, rounds=3).collect()}
    assert out2["c"] > DOREMI_SCALE // 3 > out2["a"] == out2["b"]


# ---------------------- retrieval NDCG@10 audit


def test_ndcg_audit_bounds_and_disagreement(spark):
    """NDCG is a true fraction (0 < ndcg_e6 <= 1e6), IDCG >= DCG by
    construction, and at least one term's system ranking disagrees with
    the ideal (the audit's reason to exist)."""
    from sql4pandas_spark.queries.pipeline import retrieval_ndcg_audit

    rows = retrieval_ndcg_audit(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 < r["ndcg_e6"] <= 1_000_000
        assert r["idcg_e6"] >= r["dcg_e6"] > 0
        assert r["n_rel"] > 0
        assert r["ndcg_e6"] == r["dcg_e6"] * 1_000_000 // r["idcg_e6"]
    assert any(r["ndcg_e6"] < 1_000_000 for r in rows)


def test_dcg_expr_known_value(spark):
    """Hand-computed DCG@3: gains (3, 2, 0) at ranks 1..3 under the e6
    discount table."""
    from sql4pandas_spark.operators.retrieval import NDCG_DISC_E6, dcg_e6_expr

    df = spark.createDataFrame(
        [(1, 3), (2, 2), (3, 0)], "r int, gain long"
    )
    got = df.agg(dcg_e6_expr("r", "gain").alias("d")).collect()[0]["d"]
    assert got == 3 * NDCG_DISC_E6[0] + 2 * NDCG_DISC_E6[1]


# ---------------------- lang-ID confusion audit


def test_langid_confusion_exposes_collapse(spark):
    """The audit's reason to exist on this fixture: shared vocabulary
    collapses most non-English docs to 'en' — off-diagonal mass is
    large, recall shares per true class sum to ~1e6, and every cell
    count is positive."""
    from sql4pandas_spark.queries.pipeline import langid_confusion_audit

    rows = langid_confusion_audit(spark, "/root/testdata/sf0.001").collect()
    assert all(r["n"] > 0 for r in rows)
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, cells in by_lang.items():
        total = sum(c["recall_e6"] for c in cells)
        # integer DIV per cell: the shares under-sum by < |cells| units
        assert 1_000_000 - len(cells) <= total <= 1_000_000
        for c in cells:
            assert c["recall_e6"] == c["n"] * 1_000_000 // sum(x["n"] for x in cells)
    offdiag = sum(r["n"] for r in rows if r["lang"] != r["lang_pred"])
    diag = sum(r["n"] for r in rows if r["lang"] == r["lang_pred"])
    assert offdiag > 0 and diag > 0
    # the collapse the audit must surface: some non-en class has recall
    # below one half while en stays above
    en = [r for r in rows if r["lang"] == "en" and r["lang_pred"] == "en"]
    assert en and en[0]["recall_e6"] > 500_000
    assert any(
        r["lang"] == r["lang_pred"] and r["recall_e6"] < 500_000
        for r in rows
        if r["lang"] != "en"
    ) or any(
        lang != "en" and all(c["lang_pred"] != lang for c in cells)
        for lang, cells in by_lang.items()
    )


def test_doremi_mix_apply_quotas_and_membership(spark):
    """Quota arithmetic (weight·100 DIV 1e9), exact fill (n_kept ==
    min(quota, n_domain)), and the membership checksum actually moves
    under a different salt (i.e. it pins the SET, not just the count)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.queries.pipeline import (
        doremi_domain_weights,
        doremi_mix_apply,
    )
    from sql4pandas_spark.sources.parquet import table

    sf = "/root/testdata/sf0.001"
    rows = {r["domain"]: r for r in doremi_mix_apply(spark, sf).collect()}
    weights = {
        r["domain"]: r["weight_e9"]
        for r in doremi_domain_weights(spark, sf).collect()
    }
    d = table(spark, sf, "documents")
    sizes = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(rows) == set(weights)
    for dom, r in rows.items():
        assert r["quota"] == weights[dom] * 100 // 10**9
        assert r["n_kept"] == min(r["quota"], sizes[dom])
        assert r["kept_id_sum"] > 0
    # budget: quotas sum to <= 100 and > 90 (floor losses only)
    total_q = sum(r["quota"] for r in rows.values())
    assert 90 < total_q <= 100


def test_fact_refresh_changes_are_load_bearing(spark):
    """The refresh genuinely moves the Q1 summary: post-state differs
    from the unmaintained summary in count_order for at least one group,
    and inserted keys live strictly above the shift while deleted keys
    are gone."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.maintenance import merge_upsert
    from sql4pandas_spark.queries.pipeline import fact_refresh_merge_q1
    from sql4pandas_spark.queries.relational import q1_pricing_summary
    from sql4pandas_spark.sources.parquet import table

    sf = "/root/testdata/sf0.001"
    post = {(r["l_returnflag"], r["l_linestatus"]): r["count_order"]
            for r in fact_refresh_merge_q1(spark, sf).collect()}
    pre = {(r["l_returnflag"], r["l_linestatus"]): r["count_order"]
           for r in q1_pricing_summary(spark, sf).collect()}
    assert post != pre
    li = table(spark, sf, "lineitem")
    ins = li.filter(F.col("l_orderkey") % 37 == 3).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(100_000_000)
    ).withColumn("op", F.lit(None).cast("string"))
    key_cols = ["l_orderkey", "l_linenumber"]
    dels = li.filter(F.col("l_orderkey") % 97 == 0).select(
        *[F.col(c) if c in key_cols else F.lit(None).cast(f.dataType).alias(c)
          for c, f in zip(li.columns, li.schema.fields)]
    ).withColumn("op", F.lit("delete"))
    out = merge_upsert(li, ins.unionByName(dels), key_cols)
    assert out.filter(F.col("l_orderkey") % 97 == 0).filter(
        F.col("l_orderkey") < 100_000_000).count() == 0
    n_ins = li.filter(F.col("l_orderkey") % 37 == 3).count()
    assert out.filter(F.col("l_orderkey") >= 100_000_000).count() == n_ins


def test_doremi_null_loss_raises(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.sampling import doremi_reweight

    loss = spark.createDataFrame(
        [("a", 5_000_000), ("b", None)], "domain string, loss_e6 long"
    )
    with _pytest.raises(ValueError, match="NULL loss_e6"):
        doremi_reweight(loss)


# ------------------- distinct-n diversity / Zipf slope (session 3)


def test_distinct_n_diversity_known_values(spark):
    from sql4pandas_spark.operators.profile import distinct_n_diversity

    df = spark.createDataFrame(
        [
            # degenerate: one token repeated -> distinct1 = 1/4, distinct2 = 1/3
            (1, "loop", "a a a a"),
            # fully diverse: all tokens and bigrams unique
            (2, "rich", "w x y z"),
            # too short for bigrams
            (3, "tiny", "solo"),
        ],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    out = {r["lang"]: r.asDict() for r in distinct_n_diversity(df).collect()}
    assert out["loop"]["distinct1_e6"] == 250_000      # 1/4
    assert out["loop"]["distinct2_e6"] == 333_333      # 1/3 floored
    assert out["rich"]["distinct1_e6"] == 1_000_000
    assert out["rich"]["distinct2_e6"] == 1_000_000
    assert out["tiny"]["n_2grams"] == 0
    assert out["tiny"]["distinct2_e6"] is None


def test_zipf_slope_exact_power_law_is_minus_one(spark):
    """A planted corpus with freq(rank r) = 64 >> (r-1) (exact halving)
    regresses ln f on ln r with slope ln(1/2)/ln(2) ... not constant —
    instead use f(r) = C / r exactly at ranks 1,2,4: ln f = ln C - ln r,
    slope exactly -1 up to the e6 quantization of ln."""
    from sql4pandas_spark.operators.profile import zipf_slope_by_group

    # counts 12, 6, 3 at ranks 1, 2, 3 is NOT 1/r; build true 1/r with
    # counts 12, 6, 4, 3 at ranks 1, 2, 3, 4 (12/r integral for r<=4)
    rows = []
    words = ["w1", "w2", "w3", "w4"]
    for rank, w in enumerate(words, start=1):
        rows.extend((i, "zz", w) for i in range(12 // rank))
    df = spark.createDataFrame(
        [(i, lang, w) for i, (j, lang, w) in enumerate(rows)],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    out = zipf_slope_by_group(df, top_ranks=10).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_ranks"] == 4
    assert abs(row["slope"] + 1.0) < 1e-3  # -1 up to ln-quantization
    assert row["r2"] > 0.999999


def test_zipf_rank_tiebreak_deterministic(spark):
    """Equal counts order by token ascending — the rank assignment (and
    so the quantized ln(rank) sums) cannot depend on shuffle order."""
    from sql4pandas_spark.operators.profile import zipf_slope_by_group

    df = spark.createDataFrame(
        [(i, "aa", w) for i, w in enumerate(["b", "a", "c", "a", "b", "c"])],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    out1 = zipf_slope_by_group(df.repartition(8)).collect()
    out2 = zipf_slope_by_group(df.coalesce(1)).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]


# ------------------------------------------- HITS hubs & authorities


def test_hits_mass_conservation_and_separation(spark):
    from sql4pandas_spark.operators.graph import HITS_SCALE, hits

    # star: hub h points at authorities a1..a3; a1 also points at a2
    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("h", "a3"), ("a1", "a2")],
        "src STRING, dst STRING",
    )
    out = {r["node"]: (r["auth_e8"], r["hub_e8"]) for r in hits(edges, 4).collect()}
    n = len(out)
    for total in (sum(a for a, _ in out.values()), sum(h for _, h in out.values())):
        assert HITS_SCALE - n <= total <= HITS_SCALE  # floor slack only
    # the pure hub dominates hub scores, never authority
    assert out["h"][1] > max(v[1] for k, v in out.items() if k != "h")
    assert out["h"][0] == 0
    # a2 (cited by both h and a1) is the top authority
    assert out["a2"][0] == max(a for a, _ in out.values())


def test_hits_empty_edges_fails_loudly(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src STRING, dst STRING")
    with _pytest.raises(ValueError, match="empty edge frame"):
        hits(empty)


def test_hits_partitioning_invariant(spark):
    from sql4pandas_spark.operators.graph import hits

    rows = [(f"n{i % 7}", f"n{(i * i + 1) % 7}") for i in range(40) if i % 7 != (i * i + 1) % 7]
    df = spark.createDataFrame(sorted(set(rows)), "src STRING, dst STRING")
    a = [tuple(r) for r in hits(df.repartition(16), 4).collect()]
    b = [tuple(r) for r in hits(df.coalesce(1), 4).collect()]
    assert a == b


# --------------------------------- incremental join-view maintenance


def test_join_view_refresh_equals_rebuild(spark):
    from sql4pandas_spark.operators.maintenance import (
        init_join_view,
        refresh_join_view,
    )

    left = spark.createDataFrame(
        [(k, f"l{k}") for k in range(12)], "k BIGINT, lv STRING"
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(0, 12, 2)], "k BIGINT, rv STRING"
    )
    lb = left.filter("k % 3 = 0")
    l1 = left.filter("k % 3 = 1")
    l2 = left.filter("k % 3 = 2")
    rb, r1 = right.filter("k < 6"), right.filter("k >= 6")
    state = init_join_view(lb, rb, ["k"])
    state = refresh_join_view(state, ["k"], l1, r1)
    state = refresh_join_view(state, ["k"], l2, None)
    got = sorted(tuple(r) for r in state[2].collect())
    exp = sorted(tuple(r) for r in left.join(right, ["k"]).collect())
    assert got == exp


def test_join_view_delta_terms_broadcast(spark):
    """Every delta term must broadcast the batch side — a refresh that
    shuffles the snapshot is a rebuild in disguise."""
    from sql4pandas_spark.operators.maintenance import init_join_view

    from pyspark.sql import functions as F

    left = spark.range(1000).withColumnRenamed("id", "k")
    right = spark.range(500).withColumnRenamed("id", "k")
    state = init_join_view(left, right, ["k"])
    delta = spark.range(5).withColumnRenamed("id", "k")
    term = F.broadcast(delta).join(state[1], ["k"])
    plan = term._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_join_view_all_three_terms_load_bearing(spark):
    """Dropping any delta-join term loses rows: old-left x new-right,
    new-left x old-right, and new x new pairs all exist in the fixture."""
    from sql4pandas_spark.operators.maintenance import (
        init_join_view,
        refresh_join_view,
    )

    left = spark.createDataFrame([(1, "old_l"), (2, "new_l"), (3, "new_l")], "k BIGINT, lv STRING")
    right = spark.createDataFrame([(2, "old_r"), (1, "new_r"), (3, "new_r")], "k BIGINT, rv STRING")
    state = init_join_view(left.filter("lv = 'old_l'"), right.filter("rv = 'old_r'"), ["k"])
    state = refresh_join_view(
        state, ["k"], left.filter("lv = 'new_l'"), right.filter("rv = 'new_r'")
    )
    got = sorted((r["k"]) for r in state[2].collect())
    assert got == [1, 2, 3]  # L⋈ΔR, ΔL⋈R, ΔL⋈ΔR one row each


# --------------------------------------- stream-stream LEFT OUTER join


def test_stream_stream_left_join_matches_oracle_contract(spark, duck):
    """Drained outer-join census equals the oracle's spelled-out
    watermark contract (matched = batch inner join; null-pads below the
    combined-watermark horizon) — run twice to pin drain determinism."""
    import tests.conftest as cf
    from sql4pandas_spark.queries.catalog import load_catalog

    spec = load_catalog()["stream_stream_left_join"]
    exp = duck.execute(spec.oracle).fetchall()
    for _ in range(2):
        got = [tuple(r) for r in spec.build(spark, cf.SF_SMALL).collect()]
        assert got == [tuple(r) for r in exp]


def test_stream_stream_left_join_tail_is_withheld(spark, duck):
    """The unmatched click nearest the stream end must NOT null-pad (its
    window never passes the final watermark) — the census would drift by
    exactly that row if the drain over-emitted."""
    import tests.conftest as cf
    from sql4pandas_spark.queries.catalog import load_catalog

    spec = load_catalog()["stream_stream_left_join"]
    got = spec.build(spark, cf.SF_SMALL).collect()[0]
    unmatched_all = duck.execute("""
        WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT count(*) FROM c WHERE NOT EXISTS
          (SELECT 1 FROM p WHERE p.user_id = c.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
    """).fetchone()[0]
    assert got["n_nullpad"] < unmatched_all  # the tail stays buffered
