"""Tier-C declared queries: dedup / similarity / text analysis / multimodal /
sinks (SURVEY.md §2.9) — the LLM-training-data-pipeline surface.

SQL-expressible ops carry DuckDB oracles; the genuinely non-SQL ones
(MinHash-LSH clustering, SimHash, ANN, HLL sketches, the decode stub) are
declared without an oracle → the driver records the weaker rows-only check,
and tests/test_dedup.py + tests/test_similarity.py hold the real invariants
(brute-force recall at sf0.001, determinism, cluster sanity).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql4pandas_spark.operators import dedup, joins, multimodal, similarity, text
from sql4pandas_spark.queries.catalog import query
from sql4pandas_spark.sources.parquet import register_tables

#: process-scoped root for incremental-dedup digest stores; created lazily,
#: removed at interpreter exit so repeated builds can't leak /tmp dirs
_INCR_STORE_ROOT: str | None = None


def _incr_store_root() -> str:
    global _INCR_STORE_ROOT
    if _INCR_STORE_ROOT is None:
        _INCR_STORE_ROOT = tempfile.mkdtemp(prefix="s4ps_incr_")
        atexit.register(shutil.rmtree, _INCR_STORE_ROOT, True)
    return _INCR_STORE_ROOT


def _scratch_dirs(*names: str) -> list[str]:
    """Per-invocation scratch paths under the atexit-cleaned process root.

    uuid-keyed so concurrent runs (bench + correctness driver, or two scale
    factors in one process) can never clobber each other's src/dst mid-read
    — the same hazard class the round-6 incremental-dedup fix closed, now
    applied to every fixed-path scratch user (round-7 advice fix)."""
    base = os.path.join(_incr_store_root(), uuid.uuid4().hex)
    return [os.path.join(base, n) for n in names]


@query(
    "dedup_exact_documents",
    oracle="SELECT count(*) AS total, count(DISTINCT text) AS distinct_texts FROM documents",
    tags=("tier-c", "dedup_exact"),
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("documents",))
    return t["documents"].agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("text").alias("distinct_texts"),
    )


@query(
    "dedup_exact_keepers",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text ORDER BY keep_id LIMIT 50
    """,
    tags=("tier-c", "dedup_exact"),
)
def dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-list via content-hash groupBy (operators/dedup.py —
    shuffles 32-byte digests, not document bodies)."""
    t = register_tables(spark, sf_dir, ("documents",))
    return (
        dedup.exact_dedup(t["documents"])
        .orderBy("keep_id")
        .limit(50)
    )


@query(
    "wordcount_documents",
    oracle="""
    SELECT w AS word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
    WHERE w <> '' GROUP BY w ORDER BY n DESC, word LIMIT 25
    """,
    tags=("tier-c", "text_tokenize"),
)
def wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical tokenize+explode+count — partial aggregation on the map
    side keeps the shuffle at one row per distinct word per task."""
    t = register_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(25)
    )


@query(
    "stratified_sample_mix",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en_kept,
           true AS others_frac_ok
    FROM documents
    """,
    tags=("tier-c", "sample", "data_mix"),
)
def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (df.sampleBy) — the data-mixing primitive: set a
    per-stratum keep fraction to hit a target corpus mix (here: keep all
    'en', downsample other languages hard).

    The kept ROW SET is per-partition-RNG-specific, so the declared
    contract is the statistical form (tablesample_orders pattern): a
    fraction-1.0 stratum keeps EVERY row (hash-checked exactly — en_kept
    equals the en total), and the pooled non-en kept fraction sits within
    0.25 ± 0.1 (>=4σ of binomial noise at sf0.001, wider at larger SFs;
    per-language fractions swing ±3σ at these stratum sizes — measured
    zh 0.413 at sf0.01 — so the bound pools them). For reproducible
    auditable mixes use stratified_mix_hash, which is fully hash-checked."""
    t = register_tables(spark, sf_dir, ("documents",))
    fractions = {"en": 1.0, "fr": 0.25, "es": 0.25, "de": 0.25, "zh": 0.25}
    mixed = t["documents"].sampleBy("lang", fractions, seed=7)
    kept = mixed.agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("en_kept"),
        F.count(F.when(F.col("lang") != "en", 1)).alias("others_kept"),
    )
    others_total = (
        t["documents"]
        .filter(F.col("lang") != "en")
        .agg(F.count(F.lit(1)).alias("others_total"))
    )
    return kept.crossJoin(others_total).select(
        "en_kept",
        (
            F.abs(F.col("others_kept") / F.col("others_total") - 0.25) <= 0.1
        ).alias("others_frac_ok"),
    )


@query(
    "scrub_patterns_events",
    oracle="""
    SELECT regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
           count(*) AS n,
           CAST(sum(length(props) - length(regexp_replace(props, '[0-9]+', '', 'g'))) AS BIGINT)
             AS digits_removed
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("tier-c", "text_scrub", "string_fns"),
)
def scrub_patterns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrubbing — the PII-masking shape of a training-data pipeline
    (swap '[0-9]+' for email/phone/SSN patterns in production). Spark
    regexp_replace replaces ALL matches by default = DuckDB's 'g' flag; the
    masked shape becomes the group key, plus an audit count of removed
    characters. Pure JVM string ops, one scan."""
    t = register_tables(spark, sf_dir, ("events",))
    masked = F.regexp_replace("props", "[0-9]+", "#")
    stripped = F.regexp_replace("props", "[0-9]+", "")
    return (
        t["events"]
        .select(
            masked.alias("masked"),
            (F.length("props") - F.length(stripped)).alias("d"),
        )
        .groupBy("masked")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("d").cast("long").alias("digits_removed"))
        .orderBy("masked")
    )


@query(
    "chunk_documents_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents),
    starts AS (
      SELECT doc_id, w, unnest([s FOR s IN range(1, len(w) + 1, 24)]) AS s1
      FROM toks)
    SELECT doc_id,
           CAST((s1 - 1) / 24 AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(w, s1, s1 + 31), ' ') AS chunk_text,
           CAST(least(len(w) - s1 + 1, 32) AS INTEGER) AS n_tokens
    FROM starts ORDER BY doc_id, chunk_idx LIMIT 300
    """,
    tags=("tier-c", "text_chunk"),
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking (32-token windows, 8-token overlap) — the
    pre-embedding chunker (operators/text.chunk_documents), entirely JVM
    higher-order functions, one row fanning out per chunk with no shuffle."""
    t = register_tables(spark, sf_dir, ("documents",))
    return (
        text.chunk_documents(t["documents"], chunk_tokens=32, overlap=8)
        .orderBy("doc_id", "chunk_idx")
        .limit(300)
    )


@query(
    "text_stats_by_lang",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(CAST(length(text) AS DOUBLE)), 4) AS avg_chars,
           round(avg(CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS DOUBLE)), 4) AS avg_tokens
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    tags=("tier-c", "text_stats"),
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("documents",))
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text").cast("double")), 4).alias("avg_chars"),
            F.round(F.avg(F.size(toks).cast("double")), 4).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


@query(
    "text_quality_scores",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(length(text) AS INTEGER) AS n_chars_actual,
             list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks,
             CAST(length(text) - length(translate(text, '.,!?;:''"', '')) AS INTEGER) AS n_punct
      FROM documents)
    SELECT doc_id, n_chars_actual,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           round(list_sum(list_transform(toks, t -> CAST(length(t) AS DOUBLE))) / len(toks), 4) AS avg_token_len,
           round(CAST(n_punct AS DOUBLE) / n_chars_actual, 4) AS punct_ratio,
           round(CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','join','filter'))) AS DOUBLE) / len(toks), 4) AS stopword_ratio
    FROM q ORDER BY doc_id LIMIT 100
    """,
    tags=("tier-c", "text_stats", "quality"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality features (operators/text.quality_features)."""
    t = register_tables(spark, sf_dir, ("documents",))
    return text.quality_features(t["documents"]).orderBy("doc_id").limit(100)


@query(
    "token_count_bpe",
    oracle=f"""
    SELECT lang,
           round(avg(CAST(len(regexp_extract_all(text, '{text.BPE_TOKEN_RE}')) AS DOUBLE)), 4) AS avg_bpe_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "text_tokenize"),
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization counts — regexp_extract_all exists in both
    engines with compatible pattern syntax for this character-class regex."""
    t = register_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .groupBy("lang")
        .agg(F.round(F.avg(text.bpe_token_count("text").cast("double")), 4).alias("avg_bpe_tokens"))
        .orderBy("lang")
    )


# Shared DuckDB CTE fragments for the text-pipeline oracles: whitespace
# tokens (mirrors operators/text.tokens) and the md5-based 60-bit token hash
# (mirrors operators/text.portable_hash60 — same value bit-for-bit).
_TOKS_CTE = (
    "SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),"
    " t -> t <> '') AS w FROM documents"
)
_HASH60 = text.DUCKDB_HASH60_SQL.format(expr="t")

_LANG_VALUES = ", ".join(
    "('{lang}', [{words}])".format(
        lang=lang, words=", ".join(f"'{w}'" for w in words)
    )
    for lang, words in sorted(text.LANG_STOPWORDS.items())
)

_LANG_ID_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text), '\\s+'),
             t -> t <> '') AS w
      FROM documents),
    cand AS (SELECT * FROM (VALUES {_LANG_VALUES}) AS c(cl, stop)),
    scored AS (
      SELECT t.doc_id, t.lang, c.cl,
             CAST(len(list_filter(t.w, x -> list_contains(c.stop, x))) AS INTEGER) AS hits
      FROM toks t CROSS JOIN cand c),
    ranked AS (
      SELECT doc_id, lang, cl, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cl ASC) AS rn
      FROM scored)
    SELECT doc_id, lang, cl AS lang_pred, hits
    FROM ranked WHERE rn = 1 ORDER BY doc_id LIMIT 200
"""


@query("lang_id_documents", oracle=_LANG_ID_ORACLE, tags=("tier-c", "text_analysis"))
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (deterministic heuristic; invariants in
    tests/test_text.py). The tiebreak is plain ``ORDER BY hits DESC, lang
    ASC`` semantics, so the oracle replays the exact argmax rule with a
    row_number window over the per-language scores."""
    t = register_tables(spark, sf_dir, ("documents",))
    return text.lang_id(t["documents"]).orderBy("doc_id").limit(200)


@query(
    "langid_confusion_audit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    cand AS (SELECT * FROM (VALUES {{lang_values}}) AS c(cl, stop)),
    scored AS (
      SELECT t.doc_id, t.lang, c.cl,
             CAST(len(list_filter(t.w, x -> list_contains(c.stop, x)))
                  AS INTEGER) AS hits
      FROM toks t CROSS JOIN cand c),
    ranked AS (
      SELECT doc_id, lang, cl,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY hits DESC, cl ASC) AS rn
      FROM scored),
    conf AS (
      SELECT lang, cl AS lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM ranked WHERE rn = 1 GROUP BY 1, 2)
    SELECT lang, lang_pred, n,
           n * 1000000 // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
             AS recall_e6
    FROM conf ORDER BY lang, lang_pred
    """.replace("{lang_values}", _LANG_VALUES),
    tags=("tier-c", "text_analysis", "audit", "classifier"),
)
def langid_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix census for the stopword-vote language ID against
    the labeled ``lang`` column — the model-eval layer every heuristic
    gate needs before it filters 100 TB: per (true, predicted) cell the
    count and the e6-integer recall share of the true class. On THIS
    fixture the audit's verdict is damning by design — the languages
    share one 31-token vocabulary, so the voter collapses most
    non-English docs to 'en' (en recall ≈ 0.95, de ≈ 0.07 at sf0.01)
    — which is precisely the failure a census must surface before
    anyone trusts lang_id-gated mixes; the off-diagonal mass is
    pytest-pinned. Plan: one scan through the existing lang_id argmax
    (JVM struct-max, no explode), one (lang, pred) aggregate, recall
    shares via a |langs|-partition window over the 25-cell frame —
    integer DIV end-to-end, no float."""
    t = register_tables(spark, sf_dir, ("documents",))
    pred = text.lang_id(t["documents"])
    conf = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    return conf.selectExpr(
        "lang",
        "lang_pred",
        "n",
        "n * 1000000 DIV sum(n) OVER (PARTITION BY lang) AS recall_e6",
    ).orderBy("lang", "lang_pred")


_FINGERPRINT_ORACLE = f"""
    WITH toks AS ({_TOKS_CTE}),
    h AS (SELECT doc_id, list_transform(w, t -> {_HASH60}) AS hs FROM toks),
    m AS (SELECT doc_id, hs,
                 [list_min(list_slice(hs, i + 1, i + 4))
                  FOR i IN range(0, greatest(len(hs) - 4, 0) + 1)] AS mins
          FROM h)
    SELECT doc_id, list_min(mins) AS fingerprint,
           CAST(CASE WHEN len(hs) = 0 THEN 1
                ELSE len(list_distinct(mins)) END AS INTEGER) AS n_windows
    FROM m ORDER BY doc_id LIMIT 200
"""


@query("doc_fingerprints", oracle=_FINGERPRINT_ORACLE, tags=("tier-c", "fingerprint"))
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (operators/text.winnow_fingerprint,
    window=4). Token hashes are portable_hash60, so the oracle recomputes the
    identical rolling minima in DuckDB (the empty-doc CASE mirrors Spark's
    array_distinct keeping a NULL that DuckDB's list_distinct drops)."""
    t = register_tables(spark, sf_dir, ("documents",))
    return text.winnow_fingerprint(t["documents"]).orderBy("doc_id").limit(200)


# Exact-Jaccard ≥ 0.7 pairs (same shingle fallback as operators/dedup.shingles)
# + recursive-CTE transitive closure → smallest-id cluster labels. This is the
# ground-truth replay of the whole MinHash-LSH pipeline: banding at 16×4 has
# ~99%+ collision probability at j≥0.7 and the fixture's near-dup pairs sit
# well above the threshold, so LSH recall is exact on the fixtures (asserted
# against brute force in tests/test_dedup.py).
#: Shared CTE chain: tokenize → shingle → exact Jaccard pairs at 0.7 →
#: transitive closure. Three oracles build on it (cluster labels, best-copy
#: representative, split-leakage audit) — the ground truth is computed once
#: in SQL and each consumer adds only its final projection.
_MINHASH_REACH_CTES = """
    WITH RECURSIVE toks AS ({toks}),
    sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 3
                          THEN [array_to_string(list_slice(w, i, i+2), ' ') FOR i IN range(1, len(w)-1)]
                          ELSE [array_to_string(w, ' ')] END) AS shingle
            FROM toks)),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN card ca ON inter.id_a = ca.doc_id
                 JOIN card cb ON inter.id_b = cb.doc_id
      WHERE round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 4) >= 0.7),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
""".format(toks=_TOKS_CTE)

_MINHASH_CLUSTER_ORACLE = _MINHASH_REACH_CTES + """
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id
"""


@query("dedup_near_minhash", oracle=_MINHASH_CLUSTER_ORACLE, tags=("tier-c", "dedup_near", "bench-heavy"))
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup clusters (word-3-gram shingles, 64 hashes,
    16 bands × 4 rows, verify-then-cluster at jaccard ≥ 0.7). The oracle is
    the exact ground truth: brute-force Jaccard pairs + transitive closure —
    a hash match proves the banded candidate generation lost no pair AND the
    label-propagation clustering equals true connected components."""
    t = register_tables(spark, sf_dir, ("documents",))
    return dedup.near_dedup_minhash(t["documents"]).orderBy("doc_id")


#: LSH calibration planting: 7 Jaccard levels via shared-word counts m
#: of 20 (j = m/(40-m) ∈ {.05,.18,.33,.54,.67,.82,.90} — spanning the
#: 16-hash/4-band S-curve from ~0 to ~0.99 collision probability); each
#: 14-doc block yields one pair per level, words made pair-unique by
#: replacing the P marker with the pair id so every pair draws fresh
#: hashes from the same fixed family
_LSH_CAL_SHARED_M = (2, 6, 10, 14, 16, 18, 19)


def _lsh_cal_template(m: int, side: int) -> str:
    return " ".join(
        f"sPw{i}" if i < m else f"d{side}Pw{i}" for i in range(20)
    )


_LSH_CAL_PLANTED_SQL = (
    "SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS level,"
    " CAST(floor(doc_id / 14) AS BIGINT) AS pid,"
    " CASE WHEN doc_id % 14 < 7 THEN 0 ELSE 1 END AS side,"
    " replace(CASE CAST(doc_id % 14 AS INT) "
    + "".join(
        f"WHEN {k} THEN '{_lsh_cal_template(_LSH_CAL_SHARED_M[k % 7], k // 7)}' "
        for k in range(14)
    )
    + "END, 'P', CAST(CAST(floor(doc_id / 14) AS BIGINT) AS STRING)) AS text"
    " FROM documents"
)


def _lsh_cal_oracle() -> str:
    """DuckDB replay of operators/dedup.portable_minhash_bands over the
    calibration planting — base hashes (portable md5-60), the 16 affine
    permutations (the SAME _affine_params constants the operator
    splices), 4 band keys, pair join, exact Jaccard, and the
    1-(1-j^4)^4 theory column, all value-for-value."""
    from sql4pandas_spark.operators.dedup import MERSENNE31, _affine_params

    h60 = text.DUCKDB_HASH60_SQL
    sig_cols = ", ".join(
        f"list_min(list_transform(base, h ->"
        f" (CAST({a} AS BIGINT) * h + {b}) % {MERSENNE31})) AS s{i}"
        for i, (a, b) in enumerate(_affine_params(16))
    )
    band_exprs = ", ".join(
        "("
        + h60.format(
            expr="CAST(s{0} AS STRING) || ',' || CAST(s{1} AS STRING)"
            " || ',' || CAST(s{2} AS STRING) || ',' || CAST(s{3} AS STRING)"
            .format(i * 4, i * 4 + 1, i * 4 + 2, i * 4 + 3)
        )
        + ")"
        for i in range(4)
    )
    return f"""
    WITH u AS ({_LSH_CAL_PLANTED_SQL}),
    w AS (SELECT doc_id, level, pid, side,
                 list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   t -> t <> '')) AS words
          FROM u),
    bse AS (SELECT doc_id, level, pid, side, words,
                   list_transform(words,
                     s -> ({h60.format(expr="s")}) % {MERSENNE31}) AS base
            FROM w),
    sg AS (SELECT doc_id, level, pid, side, words, {sig_cols} FROM bse),
    bnd AS (SELECT doc_id, level, pid, side, words,
                   [{band_exprs}] AS band_keys
            FROM sg),
    p0 AS (SELECT pid, level, words, band_keys FROM bnd WHERE side = 0),
    p1 AS (SELECT pid, level, words AS words_b, band_keys AS bands_b
           FROM bnd WHERE side = 1),
    pr AS (SELECT p0.level,
                  CAST(len(list_intersect(p0.words, p1.words_b)) AS DOUBLE)
                    / len(list_distinct(p0.words || p1.words_b)) AS jac,
                  CASE WHEN len(list_intersect(p0.band_keys, p1.bands_b)) > 0
                       THEN 1 ELSE 0 END AS hit
           FROM p0 JOIN p1 USING (pid, level))
    SELECT level, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           round(avg(jac), 4) AS jaccard,
           round(avg(1 - pow(1 - pow(jac, 4), 4)), 4) AS p_theory
    FROM pr GROUP BY level ORDER BY level
    """


@query(
    "lsh_calibration_curve",
    oracle=_lsh_cal_oracle(),
    tags=("tier-c", "dedup_near", "lsh", "calibration", "quality"),
)
def lsh_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH S-CURVE, measured and fully value-checked
    (operators/dedup.portable_minhash_bands — the calibration variant
    whose every hash is the engine-portable md5-60, so base hashes,
    signature minima, and band keys replay in DuckDB value-for-value;
    the production xxhash64 path is instead ground-truthed by the
    exact-Jaccard oracle of dedup_near_minhash): planted pairs at 7
    controlled Jaccard levels (shared-word construction, j from .05 to
    .90), per level the census reports pairs, band-collision HITS, the
    measured exact Jaccard, and the analytic collision probability
    1-(1-j^r)^b for the 16-hash/4-band scheme. This is the artifact a
    dedup owner reads before choosing (bands, rows) for a corpus: where
    the curve's knee sits vs the dedup threshold, and how fat the
    false-candidate tail below it is. Theory-conformance (empirical hit
    rate within binomial noise of p_theory at every level) is
    pytest-pinned; the driver hash pins determinism of the whole
    pipeline. Row-local signatures, one (pid, level)-keyed pair join —
    no all-pairs anywhere."""
    from sql4pandas_spark.operators.dedup import portable_minhash_bands

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_LSH_CAL_PLANTED_SQL)
    b = portable_minhash_bands(u, id_col="doc_id", text_col="text")
    j = u.select("doc_id", "level", "pid", "side").join(b, "doc_id")
    p0 = j.filter(F.col("side") == 0).select(
        "pid", "level", "words", "band_keys"
    )
    p1 = j.filter(F.col("side") == 1).select(
        "pid", "level",
        F.col("words").alias("words_b"), F.col("band_keys").alias("bands_b"),
    )
    jac = (
        F.size(F.array_intersect("words", "words_b")).cast("double")
        / F.size(F.array_union("words", "words_b"))
    )
    hit = F.when(
        F.size(F.array_intersect("band_keys", "bands_b")) > 0, 1
    ).otherwise(0)
    pr = p0.join(p1, ["pid", "level"]).select(
        "level", jac.alias("jac"), hit.alias("hit")
    )
    return (
        pr.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_hits"),
            F.round(F.avg("jac"), 4).alias("jaccard"),
            F.round(
                F.avg(
                    F.lit(1.0)
                    - F.pow(F.lit(1.0) - F.pow(F.col("jac"), F.lit(4.0)), F.lit(4.0))
                ),
                4,
            ).alias("p_theory"),
        )
        .orderBy("level")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents),
    sh AS (
      -- CASE mirrors operators/dedup.shingles(): docs shorter than n tokens
      -- fall back to one whole-text shingle instead of zero shingles
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 3
                          THEN [array_to_string(list_slice(w, i, i+2), ' ') FOR i IN range(1, len(w)-1)]
                          ELSE [array_to_string(w, ' ')] END) AS shingle
            FROM toks)),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 4) AS jaccard
    FROM inter JOIN card ca ON inter.id_a = ca.doc_id
               JOIN card cb ON inter.id_b = cb.doc_id
    WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5
    ORDER BY jaccard DESC, id_a, id_b
    """,
    tags=("tier-c", "dedup_near"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard near-dup pairs (≥ 0.5) via the inverted
    shingle index (operators/dedup.ngram_jaccard_pairs) — the ground truth
    the MinHash-LSH recall tests measure against, and itself fully
    SQL-expressible so it carries a DuckDB oracle."""
    t = register_tables(spark, sf_dir, ("documents",))
    return (
        dedup.ngram_jaccard_pairs(t["documents"], threshold=0.5)
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
    )


@query(
    "dedup_embedding_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(a.emb, b.emb) AS DOUBLE), 4) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(CAST(list_cosine_similarity(a.emb, b.emb) AS DOUBLE), 4) >= 0.45
    ORDER BY sim DESC, id_a, id_b
    """,
    tags=("tier-c", "dedup_near", "embedding"),
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.45; the fixture's max
    pairwise cosine is ~0.51, so 0.45 exercises a non-degenerate cut).
    Broadcast-matmul scorer (operators/similarity.cosine_near_pairs); feed
    to dedup.connected_components for cluster assignment at scale."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    return similarity.cosine_near_pairs(t["embeddings"], threshold=0.45)


def _query_vector(sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch the demo query vector DRIVER-SIDE with pyarrow — zero Spark
    jobs before the declared query's own action (the earlier
    ``emb.filter(...).first()`` spelling ran a Spark job per query build).
    In production the query vector arrives from outside the cluster anyway;
    reading one row of local parquet is the honest stand-in."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "==", vec_id)],
    )
    return [float(x) for x in tbl.column("embedding")[0].as_py()]


@query(
    "ann_ivf_query_top10",
    oracle="SELECT CAST(10 AS BIGINT) AS n_ann, true AS recall_ok",
    tags=("tier-c", "sim_search_ann"),
)
def ann_ivf_query_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 neighbors of vec_id=0 (16 hash-sampled
    centroids, probe 4). The ANN result itself is engine-specific, so the
    declared contract is the approx_distinct_events pattern: deterministic
    facts (result cardinality) plus a recall-vs-exact bound the oracle
    replays as literal true. Measured recall@10 is 0.5 at sf0.001 AND
    sf0.01; the declared floor is 0.3 (same as tests/test_similarity.py).
    Everything stays declarative — the recall join is a left join marking
    the exact top-10 (TakeOrderedAndProject both sides, no driver
    collect), and n_ann + hits fold in ONE aggregate over it so the ANN
    probe subtree is planned and executed once instead of twice (the
    ann_lsh_top10 restructure; exact's vec_ids are unique so the left
    join preserves ann's cardinality). The index (centroids + persisted
    cell assignment) builds once per session per dataset
    (cache_key=sf_dir) — see operators/similarity.build_ivf_index for
    the partitionBy("cell") scale path."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"].filter(F.col("vec_id") != 0)
    qvec = _query_vector(sf_dir)
    ann = similarity.ann_ivf_query_topk(
        emb, qvec, k=10, cache_key=f"{sf_dir}:no_vec0"
    )
    exact = similarity.cosine_query_topk(emb, qvec, k=10)
    marked = ann.select("vec_id").join(
        exact.select("vec_id").withColumn("_hit", F.lit(True)), "vec_id", "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_ann"), F.count("_hit").alias("hits")
    ).select("n_ann", (F.col("hits") >= 3).alias("recall_ok"))


@query(
    "ivf_full_probe_top10",
    oracle="""
    SELECT e.vec_id,
           round(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
                 AS DOUBLE), 4) AS sim
    FROM embeddings e
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    tags=("tier-c", "sim_search_ann"),
)
def ivf_full_probe_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe = n_cells: every cell is probed, so the candidate set
    is the whole table and the result is MATHEMATICALLY exact — identical to
    brute force. This gives the IVF machinery (train → assign → probe →
    rescore) a hash-checked oracle; `ann_ivf_query_top10` is the same engine
    at n_probe=4, where recall is asserted statistically instead. Reuses the
    session-cached index built for the ANN entry (same cache_key)."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    return similarity.ann_ivf_query_topk(
        emb.filter(F.col("vec_id") != 0),
        _query_vector(sf_dir),
        k=10,
        n_cells=16,
        n_probe=16,
        cache_key=f"{sf_dir}:no_vec0",
    )


#: DuckDB spellings of the IVF-census seed hashes (centroid / query picks)
_IVFC_HASH = "({})".format(
    text.DUCKDB_HASH60_SQL.format(expr="'ivfc:' || CAST(vec_id AS VARCHAR)")
)
_IVFQ_HASH = "({})".format(
    text.DUCKDB_HASH60_SQL.format(expr="'ivfq:' || CAST(vec_id AS VARCHAR)")
)
_IVF_COS = (
    "round(CAST(list_cosine_similarity(CAST({a} AS DOUBLE[]),"
    " {b}) AS DOUBLE), 4)"
)


@query(
    "ivf_recall_census",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb,
             row_number() OVER (ORDER BY {_IVFC_HASH}, vec_id) AS cidx
      FROM embeddings ORDER BY {_IVFC_HASH}, vec_id LIMIT 8),
    qry AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qemb
      FROM embeddings ORDER BY {_IVFQ_HASH}, vec_id LIMIT 5),
    asg AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cidx AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a="e.embedding", b="c.cemb")} DESC,
                          c.cidx) AS rn
        FROM embeddings e, cent c) AS t WHERE rn = 1),
    probe AS (
      SELECT qid, qemb, cell FROM (
        SELECT q.qid, q.qemb, c.cidx AS cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_IVF_COS.format(a="q.qemb", b="c.cemb")} DESC,
                          c.cidx) AS rn
        FROM qry q, cent c) AS t WHERE rn <= 2),
    cand AS (
      SELECT p.qid, a.vec_id,
             {_IVF_COS.format(a="a.embedding", b="p.qemb")} AS sim
      FROM asg a JOIN probe p USING (cell) WHERE a.vec_id <> p.qid),
    ann AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
          ORDER BY sim DESC, vec_id) AS rn FROM cand) AS t WHERE rn <= 10),
    ex AS (
      SELECT q.qid, e.vec_id,
             {_IVF_COS.format(a="e.embedding", b="q.qemb")} AS sim
      FROM embeddings e, qry q WHERE e.vec_id <> q.qid),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
          ORDER BY sim DESC, vec_id) AS rn FROM ex) AS t WHERE rn <= 10),
    nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand
           FROM cand GROUP BY qid),
    nh AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n_hits
           FROM ann a JOIN exact x ON a.qid = x.qid AND a.vec_id = x.vec_id
           GROUP BY a.qid)
    SELECT q.qid,
           coalesce(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
           coalesce(nh.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           round(coalesce(nh.n_hits, CAST(0 AS BIGINT)) / 10.0, 4) AS recall
    FROM qry q
    LEFT JOIN nc ON nc.qid = q.qid
    LEFT JOIN nh ON nh.qid = q.qid
    ORDER BY q.qid
    """,
    tags=("tier-c", "sim_search_ann", "audit", "recall"),
)
def ivf_recall_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 census for a FULLY-DETERMINISTIC IVF: centroids
    are the 8 hash-picked corpus vectors (no k-means — assignment becomes
    a pure function of the data, so DuckDB replays the ENTIRE index:
    assignment, probe choice, candidate set, and the recall fractions are
    all value-checked, where ann_ivf_query_top10's trained-centroid
    recall can only be bounded as a literal). This is the audit a 100 TB
    deployment runs on a sample before trusting an ANN index: per query
    (5 hash-picked), n_cand = how much of the corpus 2-of-8 probing
    scanned, n_hits/recall = how much of the exact top-10 it found.
    Plan shape: centroid/query frames are 8- and 5-row broadcasts; the
    corpus-side work is one broadcast nested loop per frame (map-side,
    no shuffle of embeddings), per-vec argmax and per-query top-k are
    node-partitioned WindowGroupLimit windows; the exact side is the
    documented small-Q brute-force audit path (N×5). Zero driver
    collects — even the centroids stay a broadcast frame."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.similarity import cosine_cols
    from sql4pandas_spark.operators.text import portable_hash60

    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"].select("vec_id", "embedding")

    def _picks(salt: str, n: int, idc: str, embc: str) -> DataFrame:
        h = portable_hash60(
            F.concat(F.lit(salt), F.col("vec_id").cast("string"))
        )
        base = (
            emb.select(
                F.col("vec_id").alias(idc),
                F.col("embedding").alias(embc),
                h.alias("_h"),
            )
            .orderBy("_h", idc)
            .limit(n)
        )
        return base

    cent = (
        _picks("ivfc:", 8, "cid", "cemb")
        .withColumn(
            "cidx", F.row_number().over(Window.orderBy("_h", "cid"))
        )
        .drop("_h")
    )
    qry = _picks("ivfq:", 5, "qid", "qemb").drop("_h")

    w_vec = Window.partitionBy("vec_id").orderBy(
        F.desc("csim"), F.col("cidx")
    )
    asg = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cidx",
            F.round(cosine_cols(F.col("embedding"), F.col("cemb")), 4).alias(
                "csim"
            ),
        )
        .withColumn("_rn", F.row_number().over(w_vec))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", F.col("cidx").alias("cell"))
    )
    w_q = Window.partitionBy("qid").orderBy(F.desc("qsim"), F.col("cidx"))
    probe = (
        qry.crossJoin(F.broadcast(cent))
        .select(
            "qid",
            "qemb",
            "cidx",
            F.round(cosine_cols(F.col("qemb"), F.col("cemb")), 4).alias(
                "qsim"
            ),
        )
        .withColumn("_rn", F.row_number().over(w_q))
        .filter(F.col("_rn") <= 2)
        .select("qid", "qemb", F.col("cidx").alias("cell"))
    )
    cand = (
        asg.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_cols(F.col("embedding"), F.col("qemb")), 4).alias(
                "sim"
            ),
        )
        # cand carries the corpus x 8-centroid assignment subtree and
        # feeds BOTH the ANN top-k and the n_cand census — materialize
        # it once (skinny (qid, vec_id, sim) rows) instead of running
        # the assignment twice. cent/qry stay lazy: checkpointing the
        # 8/5-row picks A/B'd slower (three extra job barriers for
        # frames whose recompute is one TakeOrdered pass).
        .localCheckpoint(eager=True)
    )
    w_topk = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    ann = (
        cand.withColumn("_rn", F.row_number().over(w_topk))
        .filter(F.col("_rn") <= 10)
        .select("qid", "vec_id")
    )
    exact = (
        emb.crossJoin(F.broadcast(qry))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_cols(F.col("embedding"), F.col("qemb")), 4).alias(
                "sim"
            ),
        )
        .withColumn("_rn", F.row_number().over(w_topk))
        .filter(F.col("_rn") <= 10)
        .select("qid", "vec_id")
    )
    zero = F.lit(0).cast("long")
    n_cand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand"))
    n_hits = (
        ann.join(exact, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        qry.select("qid")
        .join(n_cand, "qid", "left")
        .join(n_hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_cand"), zero).alias("n_cand"),
            F.coalesce(F.col("n_hits"), zero).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), zero) / F.lit(10.0), 4
            ).alias("recall"),
        )
        .orderBy("qid")
    )


# DuckDB replay of the full 60-bit SimHash signature: per-bit ±1 vote sums
# over the portable_hash60 token hashes. The banded candidate generation has
# EXACT recall at Hamming ≤ 3 (pigeonhole over 4 chunks), so the oracle can
# skip the banding and compare all pairs directly — identical result set.
_SIMHASH_BIT_TERMS = " + ".join(
    "(CASE WHEN list_sum(list_transform(hs, x -> ((x >> {b}) & 1) * 2 - 1)) > 0"
    " THEN CAST({v} AS BIGINT) ELSE CAST(0 AS BIGINT) END)".format(b=b, v=1 << b)
    for b in range(60)
)

_SIMHASH_PAIRS_ORACLE = f"""
    WITH toks AS ({_TOKS_CTE}),
    h AS (SELECT doc_id, list_transform(w, t -> {_HASH60}) AS hs FROM toks),
    sig AS (SELECT doc_id, ({_SIMHASH_BIT_TERMS}) AS s FROM h)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    ORDER BY id_a, id_b LIMIT 500
"""


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE, tags=("tier-c", "dedup_near"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + exact-recall chunk-banded near pairs (Hamming ≤ 3).
    portable_hash60 token hashes make the signature DuckDB-replayable; the
    oracle recomputes every signature and takes all-pairs Hamming ≤ 3, which
    equals the banded result because chunk banding is pigeonhole-exact."""
    t = register_tables(spark, sf_dir, ("documents",))
    # both sides of the banded self-join read the signature frame — without
    # materialization the 60-bit signature expression is compiled and
    # computed twice (measured 10 s vs 4 s cold at sf0.01; signatures are
    # 16 B/doc). localCheckpoint, not persist: the blocks are GC-cleaned
    # after the result is consumed, where a persist in a lazily-returned
    # builder has no unpersist point and pins storage per call.
    sim = dedup.simhash(t["documents"]).localCheckpoint(eager=True)
    return dedup.simhash_near_pairs(sim).orderBy("id_a", "id_b").limit(500)


@query(
    "cosine_top20_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 4) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY sim DESC, id_a, id_b LIMIT 20
    """,
    tags=("tier-c", "sim_topk_bruteforce", "bench"),
)
def cosine_top20_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 cosine pairs via broadcast-matrix NumPy matmul
    (operators/similarity.cosine_pairs_topk — the 68×-faster rewrite of the
    naive theta join, BASELINE.md note ²)."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    return similarity.cosine_pairs_topk(t["embeddings"], k=20)


@query(
    "sim_query_top10",
    oracle="""
    SELECT e.vec_id,
           round(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
                 AS DOUBLE), 4) AS sim
    FROM embeddings e
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    tags=("tier-c", "sim_search_query"),
)
def sim_query_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of vec_id=0: the query vector is inlined as a literal
    array (fetched driver-side via pyarrow — no Spark job at build time);
    dot product runs as a JVM zip_with/aggregate inside codegen."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    return similarity.cosine_query_topk(
        emb.filter(F.col("vec_id") != 0), _query_vector(sf_dir), k=10
    )


@query(
    "ann_lsh_top10",
    oracle="SELECT CAST(10 AS BIGINT) AS n_ann, true AS recall_ok",
    tags=("tier-c", "sim_search_ann", "bench-heavy"),
)
def ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 cosine pairs via random-hyperplane LSH buckets,
    declared in recall-bounded boolean form (same pattern as
    ann_ivf_query_top10): the oracle hash-checks result cardinality plus a
    pair-recall-vs-exact floor of 0.4 (measured 0.6 at sf0.001, 0.7 at
    sf0.01; tests/test_similarity.py asserts ≥0.5 at k=20). The recall
    join is a left join marking the exact top-10 pair keys — fully
    declarative, no driver collect; n_ann and hits fold in ONE aggregate
    over that join so the LSH subtree (explode × 8 tables + bucket
    self-join + rescoring) is planned and executed once instead of twice
    (Catalyst does not dedupe repeated non-exchange subtrees — measured
    2× at sf0.01)."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    lsh = similarity.ann_lsh_topk(emb, k=10)
    exact = similarity.cosine_pairs_topk(emb, k=10)
    # exact's pair keys are unique (top-k of distinct pairs), so the left
    # join preserves lsh's cardinality: count(*) = n_ann, count(_hit) = hits
    marked = lsh.select("id_a", "id_b").join(
        exact.select("id_a", "id_b").withColumn("_hit", F.lit(True)),
        ["id_a", "id_b"],
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_ann"), F.count("_hit").alias("hits")
    ).select("n_ann", (F.col("hits") >= 4).alias("recall_ok"))


@query(
    "heavy_hitters_events",
    oracle="""
    SELECT user_id AS item, count(*) AS n
    FROM events GROUP BY user_id ORDER BY n DESC, item LIMIT 10
    """,
    tags=("tier-c", "agg_approx", "heavy_hitters"),
)
def heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy hitters (operators/sketches.heavy_hitters_topk):
    per-Arrow-batch candidate top-M map-side, then an exact recount
    restricted to the broadcast candidate set — the high-cardinality-safe
    top-k by frequency. M=2048 exceeds the fixture's user cardinality at
    every SF (1,500 at sf0.1), so the result is provably EXACT here and
    the oracle is the plain SQL top-10; the approximate regime
    (cardinality >> M, skewed) is pinned in tests/test_sketches.py."""
    from sql4pandas_spark.operators.sketches import heavy_hitters_topk

    t = register_tables(spark, sf_dir, ("events",))
    return heavy_hitters_topk(
        t["events"], "user_id", k=10, candidates_per_batch=2048
    )


@query(
    "approx_distinct_events",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users, true AS users_approx_ok,
           count(DISTINCT event_id) AS exact_events, true AS events_approx_ok
    FROM events
    """,
    tags=("tier-c", "agg_approx"),
)
def approx_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx_count_distinct next to the exact count — the 100 TB way to
    count uniques (no distinct-expand shuffle). The sketch value itself is
    engine-specific, so the declared contract is the exact count (hash-
    matched) plus a ≤5%-relative-error boolean the oracle replays as literal
    true; the tighter rsd bound is asserted in tests."""
    t = register_tables(spark, sf_dir, ("events",))
    users_err = (
        F.abs(
            F.approx_count_distinct("user_id", 0.02) - F.countDistinct("user_id")
        ).cast("double")
        / F.countDistinct("user_id")
    )
    events_err = (
        F.abs(
            F.approx_count_distinct("event_id", 0.02) - F.countDistinct("event_id")
        ).cast("double")
        / F.countDistinct("event_id")
    )
    return t["events"].agg(
        F.countDistinct("user_id").alias("exact_users"),
        (users_err <= 0.05).alias("users_approx_ok"),
        F.countDistinct("event_id").alias("exact_events"),
        (events_err <= 0.05).alias("events_approx_ok"),
    )


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT lang, count(*) AS n,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "multimodal_cols"),
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload columns surviving aggregation — byte-length stats over
    the attached payload (operators/multimodal.attach_payload)."""
    t = register_tables(spark, sf_dir, ("documents",))
    with_payload = multimodal.attach_payload(t["documents"])
    return (
        with_payload.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.max(F.length("payload")).cast("long").alias("max_bytes"),
        )
        .orderBy("lang")
    )


_MOMENT_SQL = "round(list_avg(list_transform(ch, c -> unicode(c) ** {p})) / (255.0 ** {p}), 6)"
_FEATURE_COLS_SQL = ", ".join(
    _MOMENT_SQL.format(p=1 + i % 3) + f" AS f{i + 1}" for i in range(8)
)


@query(
    "multimodal_decode_features",
    oracle=f"""
    WITH p AS (SELECT doc_id, CAST(length(text) AS INTEGER) AS n_bytes,
                      string_split(text, '') AS ch FROM documents)
    SELECT doc_id, n_bytes, {_FEATURE_COLS_SQL}
    FROM p ORDER BY doc_id LIMIT 100
    """,
    tags=("tier-c", "multimodal_cols"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract plumbing (deterministic STUB body,
    real mapInPandas batch shape — operators/multimodal.extract_features).

    Declared output = scalar columns (doc_id, n_bytes, f1..f8): the feature
    moments unpacked via element_at (array columns crash the driver's
    canonicalizer). DuckDB replays each byte-histogram moment char-by-char
    (fixture text is pure ASCII, so code point == byte) — bit-exact because
    both engines sum the same float64 values in the same order. The
    hash-derived width/height metadata stays out of the declared output
    (Spark xxhash64 has no DuckDB spelling); it is covered by
    tests/test_text.py's multimodal unit tests instead."""
    t = register_tables(spark, sf_dir, ("documents",))
    feats = multimodal.extract_features(multimodal.attach_payload(t["documents"]))
    return (
        feats.select(
            "doc_id",
            "n_bytes",
            *[F.element_at("features", i + 1).alias(f"f{i + 1}") for i in range(8)],
        )
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "multimodal_resize_stats",
    oracle="SELECT count(*) AS n_resized FROM documents",
    tags=("tier-c", "multimodal_cols", "resize"),
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: every payload must land at exactly 32×32=1024 bytes
    with updated metadata after the mapInPandas resize pass. The Spark side
    counts only rows satisfying that invariant, so any resize defect shows
    up as a count mismatch against the oracle's total."""
    t = register_tables(spark, sf_dir, ("documents",))
    resized = multimodal.resize_payloads(multimodal.attach_payload(t["documents"]))
    return resized.filter(
        (F.length("payload") == 32 * 32) & (F.col("width") == 32) & (F.col("height") == 32)
    ).agg(F.count(F.lit(1)).alias("n_resized"))


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH p AS (SELECT doc_id, text, length(text) AS nb FROM documents),
    f AS (SELECT doc_id, text, nb,
                 unnest([i FOR i IN range(0, greatest(nb // 64, 1), 4)]) AS fi
          FROM p)
    SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
           CAST(least(64, nb - fi*64) AS INTEGER) AS frame_bytes,
           round(list_avg(list_transform(
                 string_split(substr(text, CAST(fi*64 + 1 AS INTEGER), 64), ''),
                 c -> unicode(c))) / 255.0, 6) AS brightness
    FROM f ORDER BY doc_id, frame_idx LIMIT 200
    """,
    tags=("tier-c", "multimodal_cols"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: one payload row fans out to
    variable per-frame rows inside a mapInPandas batch (deterministic STUB
    decode — operators/multimodal.sample_frames).

    The stub "decodes" the payload (the doc's UTF-8 bytes) as 64-byte
    frames with a mean-byte brightness, which DuckDB can replay char-by-char
    because the fixture text is pure ASCII (code point == byte; verified:
    octet_length == length for every row). A real codec body keeps the
    Spark-side contract but would drop this oracle back to rows-only."""
    t = register_tables(spark, sf_dir, ("documents",))
    frames = multimodal.sample_frames(multimodal.attach_payload(t["documents"]))
    return frames.orderBy("doc_id", "frame_idx").limit(200)


@query(
    "scan_python_datasource",
    oracle="""
    SELECT * FROM (VALUES
        ('click',    CAST(3834 AS BIGINT), CAST(187605.03 AS DOUBLE), CAST(983 AS BIGINT)),
        ('purchase', CAST(4082 AS BIGINT), CAST(203472.08 AS DOUBLE), CAST(979 AS BIGINT)))
    AS t(event_type, n, total_value, n_users) ORDER BY event_type
    """,
    tags=("tier-c", "scan_custom"),
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 plugin API, sources/synthetic.py):
    deterministic generator with partition planning + event_type filter
    pushdown. Every row is a pure function of its global index (splitmix64),
    so the expected aggregate is a CONSTANT — the oracle pins it as a VALUES
    list computed from sources/synthetic.row_at (re-derived in
    tests/test_synthetic_source.py, so a generator change fails tests before
    it can silently invalidate this oracle)."""
    from sql4pandas_spark.sources.synthetic import read_synthetic

    ev = read_synthetic(spark, n_rows=20_000, n_partitions=8)
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_python_datasource",
    oracle="""
    SELECT * FROM (VALUES
        ('click',    CAST(3834 AS BIGINT)),
        ('error',    CAST(4038 AS BIGINT)),
        ('purchase', CAST(4082 AS BIGINT)),
        ('signup',   CAST(4051 AS BIGINT)),
        ('view',     CAST(3995 AS BIGINT)))
    AS t(event_type, n) ORDER BY event_type
    """,
    tags=("tier-c", "scan_custom", "scan_stream"),
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read of the custom Python source (SimpleDataSourceStreamReader
    with dict offsets): availableNow drains the finite generator and the
    grouped counts equal the batch read — asserted with checkpoint-resume
    exactly-once semantics in tests/test_synthetic_source.py. Rows are a pure
    splitmix64 function of the index, so the fully-drained aggregate is a
    CONSTANT, pinned as a VALUES oracle (constants re-derived from row_at in
    tests/test_synthetic_source.py)."""
    from sql4pandas_spark.sources.synthetic import register_synthetic_source
    from sql4pandas_spark.streaming.windows import run_available_now

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 20_000)
        .option("batch_rows", 20_000)
        .load()
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_available_now(agg, mode="complete").orderBy("event_type")


_PIPELINE_E2E_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents),
    q AS (
      SELECT * FROM toks
      WHERE len(w) >= 20
        AND CAST(length(text) - length(translate(text, '.,!?;:''"', '')) AS DOUBLE)
              / length(text) <= 0.2),
    kept AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                     FROM q) WHERE rn = 1),
    samp AS (
      SELECT * FROM kept
      WHERE ({text.DUCKDB_HASH60_SQL.format(expr="CAST(doc_id AS VARCHAR)")}) % 10 < 8),
    chunks AS (
      SELECT doc_id, least(len(w) - s1 + 1, 32) AS c_tokens
      FROM (SELECT doc_id, w, unnest([s FOR s IN range(1, len(w) + 1, 24)]) AS s1
            FROM samp))
    SELECT s.lang,
           count(DISTINCT c.doc_id) AS n_docs,
           count(*) AS n_chunks,
           round(avg(CAST(c_tokens AS DOUBLE)), 4) AS avg_chunk_tokens
    FROM chunks c JOIN samp s ON c.doc_id = s.doc_id
    GROUP BY s.lang ORDER BY s.lang
"""


#: assembly planting — the synthetic corpus contains at most ONE Gopher
#: stopword per doc, so the unmodified gate would empty the build (and
#: make every downstream stage vacuous); two thirds of the docs get a
#: stopword-bearing clause appended so the gate keeps ~2/3 and DROPS the
#: rest — both outcomes load-bearing in the census hash
_ASSEMBLY_PLANTED_SQL = """
      SELECT doc_id, lang, source,
             text || CASE WHEN doc_id % 3 <> 0
                          THEN ' of the data that we have with it'
                          ELSE '' END AS text
      FROM documents
"""


_CORPUS_ASSEMBLY_ORACLE = f"""
    WITH pl AS ({{planted}}),
    toks AS (
      SELECT doc_id, lang, source, text,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '') AS w,
             string_split(text, chr(10)) AS lines
      FROM pl),
    m AS (SELECT doc_id, lang, source, text,
                 len(w) AS n,
                 list_sum(list_transform(w, x -> length(x)))::BIGINT
                   AS sum_len,
                 len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(lines) AS n_lines,
                 len(list_filter(lines, l -> starts_with(l, '- ')))
                   AS n_bullet,
                 len(list_filter(lines, l -> l LIKE '%...')) AS n_ell,
                 len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
                                  'have', 'with'],
                                 s -> list_contains(
                                        list_transform(w, x -> lower(x)), s)))
                   AS n_stop
          FROM toks),
    gated AS (
      SELECT doc_id, lang, source, text, n FROM m
      WHERE (n >= 20 AND n <= 100000) AND (sum_len >= 3 * n AND
             sum_len <= 10 * n) AND (5 * n_alpha > 4 * n) AND
            (10 * n_bullet < 9 * n_lines) AND (10 * n_ell < 3 * n_lines)
            AND (n_stop >= 2)),
    deduped AS (
      SELECT doc_id, lang, source, text, n
      FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id)
                      AS rn FROM gated) WHERE rn = 1),
    counts AS (SELECT lang AS c_lang, count(*) AS n_s
               FROM deduped GROUP BY lang),
    rates AS (SELECT c_lang,
                     least(1.0, pow(n_s, 0.5) / sum(pow(n_s, 0.5)) OVER ()
                           * 300.0 / n_s) AS frac
              FROM counts),
    mixed AS (
      SELECT d.doc_id, d.lang, d.source, d.text, d.n
      FROM deduped d JOIN rates r ON r.c_lang = d.lang
      WHERE ({text.DUCKDB_HASH60_SQL.format(expr="CAST(doc_id AS VARCHAR)")})::DOUBLE
              < r.frac * 1152921504606846976.0),
    packedw AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_off
      FROM (SELECT source, doc_id,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS n_tok
            FROM mixed))
    SELECT 'p1_gated' AS stage, lang AS key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(NULL AS BIGINT) AS n_seqs
    FROM gated GROUP BY lang
    UNION ALL
    SELECT 'p2_deduped', lang, CAST(count(*) AS BIGINT),
           CAST(sum(n) AS BIGINT), CAST(NULL AS BIGINT)
    FROM deduped GROUP BY lang
    UNION ALL
    SELECT 'p3_mixed', lang, CAST(count(*) AS BIGINT),
           CAST(sum(n) AS BIGINT), CAST(NULL AS BIGINT)
    FROM mixed GROUP BY lang
    UNION ALL
    SELECT 'p4_packed', source, CAST(count(*) AS BIGINT),
           CAST(sum(n_tok) AS BIGINT),
           CAST(count(DISTINCT start_off // 256) AS BIGINT)
    FROM packedw GROUP BY source
    ORDER BY stage, key
""".format(planted=_ASSEMBLY_PLANTED_SQL)


@query(
    "corpus_assembly_e2e",
    oracle=_CORPUS_ASSEMBLY_ORACLE,
    tags=("tier-c", "pipeline", "gopher_rules", "dedup_exact",
          "temperature_mix", "pack_sequences", "data_mix", "quality"),
)
def corpus_assembly_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pretraining-corpus build at today's catalog width, one
    hash-checked census (the round-12 verdict's deployment-glue ask):
    Gopher quality gate (word floor 20, the published integer rule set)
    → exact dedup keep-first per content (row_number over the sha2
    digest partition) → temperature mix at alpha=0.5 / target 300 (the
    mT5-style rare-language up-weighting, deterministic via the
    portable-hash threshold) → 256-token sequence packing per source
    stream (window cumsum, concat-then-chunk). The output is the
    per-stage / per-stratum census — (stage, key, n_docs, n_tokens,
    n_seqs) — so corpus shrinkage is attributable stage by stage, and
    one value hash pins all four stages AND their composition order.
    Token conventions per stage: corpus stages report the gate's
    whitespace word count; the packed stage reports the packer's
    space-split tokens (its budget unit). Plan: one scan feeds the gate
    (row-local HOFs), one dedup shuffle on 32-byte digests, a broadcast rate join
    for the mix, one source-keyed window for packing — the same shapes
    the standalone entries declare.

    Each stage frame is materialized ONCE (localCheckpoint) before the
    next stage and the census union read it: the four per-stage censuses
    otherwise each re-instantiate the whole upstream chain (measured: the
    gate executed 4x, the dedup window 3x, the mix 2x — Catalyst does not
    dedupe repeated non-exchange subtrees), exactly what a production
    assembly avoids by writing each stage out. The gate itself rides the
    planted frame via gopher_rules extra_cols instead of the old 1:1
    join-back of the verdict onto its own input."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.sampling import temperature_sample
    from sql4pandas_spark.operators.text import gopher_rules, pack_sequences

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.sql(_ASSEMBLY_PLANTED_SQL)
    gated = (
        gopher_rules(
            docs, min_words=20, extra_cols=("lang", "source", "text")
        )
        .filter(F.col("keep"))
        .select(
            "doc_id", "lang", "source", "text",
            F.col("n_words").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    # Dedup window keys on the 32-byte sha2 digest, not the raw text —
    # same groups (the collision caveat operators/dedup.py documents),
    # but the shuffle/sort comparator never touches multi-KB keys. The
    # oracle's PARTITION BY text is the same grouping stated directly.
    w = Window.partitionBy(
        F.sha2(F.col("text").cast("binary"), 256)
    ).orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    mixed = temperature_sample(
        deduped, "lang", alpha=0.5, target_total=300
    ).localCheckpoint(eager=True)
    packed = pack_sequences(mixed, budget_tokens=256)

    def census(df: DataFrame, stage: str, key: str) -> DataFrame:
        return df.groupBy(F.col(key).alias("key")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        ).select(
            F.lit(stage).alias("stage"), "key", "n_docs", "n_tokens",
            F.lit(None).cast("long").alias("n_seqs"),
        )

    packed_census = packed.groupBy(F.col("source").alias("key")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_doc").cast("long").alias("n_tokens"),
        F.countDistinct("seq_id").alias("n_seqs"),
    ).select(F.lit("p4_packed").alias("stage"), "key", "n_docs", "n_tokens", "n_seqs")
    return (
        census(gated, "p1_gated", "lang")
        .unionByName(census(deduped, "p2_deduped", "lang"))
        .unionByName(census(mixed, "p3_mixed", "lang"))
        .unionByName(packed_census)
        .orderBy("stage", "key")
    )


@query(
    "pipeline_end_to_end",
    oracle=_PIPELINE_E2E_ORACLE,
    tags=("tier-c", "pipeline", "dedup_exact", "quality", "sample", "text_chunk"),
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline in ONE declared query:
    quality gate (≥20 tokens, punctuation ratio ≤ 0.2) → exact dedup
    keep-list (smallest doc_id per sha2 content digest) → deterministic
    80% hash sample (portable_hash60 % 10 < 8 — auditable, engine-
    independent) → overlapping 32/8 token chunking → per-language corpus
    stats. Every stage is the same operator the standalone entries declare;
    the oracle replays the whole chain, so a hash match proves the stages
    compose without semantic drift. Plan: one scan, one dedup shuffle (on
    32-byte digests), one broadcast-able join of chunks to doc metadata —
    the chunker itself is a no-shuffle flatMap shape."""
    from pyspark.sql import Window

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    toks = text.tokens("text")
    n_punct = F.length("text") - F.length(F.translate(F.col("text"), ".,!?;:'\"", ""))
    quality = docs.filter(
        (F.size(toks) >= 20)
        & (n_punct.cast("double") / F.length("text") <= 0.2)
    )
    w = Window.partitionBy(F.sha2(F.col("text").cast("binary"), 256)).orderBy("doc_id")
    kept = quality.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    sampled = kept.filter(
        F.pmod(text.portable_hash60(F.col("doc_id").cast("string")), F.lit(10)) < 8
    ).select("doc_id", "lang", "text")
    chunks = text.chunk_documents(sampled, chunk_tokens=32, overlap=8)
    return (
        chunks.join(sampled.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias("avg_chunk_tokens"),
        )
        .orderBy("lang")
    )


_SEG_JOIN_ORACLE = """
    SELECT c.c_mktsegment, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""


@query(
    "salted_join_segments",
    oracle=_SEG_JOIN_ORACLE,
    tags=("tier-c", "join_salted", "skew"),
)
def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer through the skew-salting path
    (operators/joins.salted_join) — must be value-identical to the plain
    join the oracle runs."""
    t = register_tables(spark, sf_dir, ("orders", "customer"))
    j = joins.salted_join(t["orders"], t["customer"], "o_custkey", "c_custkey")
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("c_mktsegment")
    )


@query(
    "bucketed_join_segments",
    oracle=_SEG_JOIN_ORACLE,
    tags=("tier-c", "join_bucketed"),
)
def bucketed_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same join via pre-bucketed tables (operators/joins.write_bucketed):
    both sides hash-bucketed on their join key, so the join itself needs no
    exchange — the write is the once-per-dataset shuffle that every later
    join reuses. Shuffle elimination is asserted in tests/test_joins.py."""
    t = register_tables(spark, sf_dir, ("orders", "customer"))
    joins.write_bucketed(
        t["orders"].select("o_custkey", "o_totalprice"), "b_orders", "o_custkey"
    )
    joins.write_bucketed(
        t["customer"].select("c_custkey", "c_mktsegment"), "b_customer", "c_custkey"
    )
    j = spark.table("b_orders").join(
        spark.table("b_customer"), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("c_mktsegment")
    )


@query(
    "approx_quantiles_orders",
    oracle="""
    SELECT CAST(0.5 AS DOUBLE) AS p, round(quantile_cont(o_totalprice, 0.5), 2) AS exact_q, true AS approx_ok FROM orders
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE), round(quantile_cont(o_totalprice, 0.9), 2), true FROM orders
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE), round(quantile_cont(o_totalprice, 0.99), 2), true FROM orders
    ORDER BY p
    """,
    tags=("tier-c", "agg_approx"),
)
def approx_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch) next to the exact
    percentile — the mergeable-sketch way to get quantiles in one pass at
    100 TB. One row per quantile (the earlier array-typed output crashed the
    driver's canonicalizer): the exact interpolated percentile hash-matches
    DuckDB's quantile_cont, and the sketch is asserted within 5% relative
    error as a boolean the oracle replays as literal true."""
    t = register_tables(spark, sf_dir, ("orders",))
    qs = [0.5, 0.9, 0.99]
    agg = t["orders"].agg(
        F.percentile_approx("o_totalprice", qs, 10_000).alias("aq"),
        F.expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").alias("eq"),
    )
    exact = F.element_at("eq", F.col("i") + 1)
    approx = F.element_at("aq", F.col("i") + 1)
    return (
        agg.select(
            F.posexplode(F.array(*[F.lit(p) for p in qs])).alias("i", "p"), "aq", "eq"
        )
        .select(
            "p",
            F.round(exact, 2).alias("exact_q"),
            (F.abs(approx - exact) / exact <= 0.05).alias("approx_ok"),
        )
        .orderBy("p")
    )


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("tier-c", "scan_csv", "sink_csv"),
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink: write customer as CSV, re-read with an EXPLICIT
    schema (schema inference is an extra full pass over the data — never at
    100 TB), aggregate. Spark's CSV writer emits round-trippable shortest
    representations for doubles, so the 2dp-rounded sums match the parquet
    oracle exactly."""
    t = register_tables(spark, sf_dir, ("customer",))
    (out,) = _scratch_dirs("csv_roundtrip")
    t["customer"].write.mode("overwrite").option("header", True).csv(out)
    schema = "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    return (
        spark.read.schema(schema)
        .option("header", True)
        .csv(out)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
        .orderBy("c_mktsegment")
    )


@query(
    "scan_json_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "scan_json", "sink_json"),
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink with explicit schema on re-read — same
    no-inference rule as CSV; integer columns survive exactly."""
    t = register_tables(spark, sf_dir, ("documents",))
    (out,) = _scratch_dirs("json_roundtrip")
    t["documents"].select("doc_id", "lang", "n_chars").write.mode("overwrite").json(out)
    return (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .json(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


_ZONES = [(k, f"Z{k % 5}") for k in range(25)]


@query(
    "scan_pandas_join",
    oracle="""
    WITH zones (n_nationkey, zone) AS (VALUES {values})
    SELECT z.zone, count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c JOIN zones z ON c.c_nationkey = z.n_nationkey
    GROUP BY z.zone ORDER BY z.zone
    """.format(values=", ".join(f"({k}, '{z}')" for k, z in _ZONES)),
    tags=("tier-c", "scan_pandas"),
)
def scan_pandas_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference's core API (SURVEY.md §2.1 scan_pandas): an in-memory
    pandas DataFrame registered as a table and joined against a parquet
    fixture in one query. The pandas frame travels over Arrow
    (spark.createDataFrame) and — being dimension-sized by construction —
    is broadcast into the join. The oracle replays the same constants as a
    VALUES list, so this entry is fully hash-checked despite the Python-side
    source object."""
    import pandas as pd

    t = register_tables(spark, sf_dir, ("customer",))
    zones_pdf = pd.DataFrame(_ZONES, columns=["n_nationkey", "zone"])
    zones = F.broadcast(
        spark.createDataFrame(zones_pdf).withColumn(
            "n_nationkey", F.col("n_nationkey").cast("int")
        )
    )
    return (
        t["customer"]
        .join(zones, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("zone")
    )


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("tier-c", "scan_orc", "sink_orc"),
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink (Spark's built-in vectorized ORC reader/writer):
    write a projection of orders as ORC, re-read, aggregate. Same
    no-schema-inference rule as the CSV/JSON roundtrips; ORC preserves
    types natively so the re-read needs no explicit schema. The oracle
    aggregates the original parquet — value equality proves the ORC
    round-trip is lossless."""
    t = register_tables(spark, sf_dir, ("orders",))
    (out,) = _scratch_dirs("orc_roundtrip")
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .orc(out)
    )
    return (
        spark.read.orc(out)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "sink_parquet_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang IN ('en', 'fr') GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "sink_parquet", "scan_parquet"),
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered projection to parquet, re-read it, aggregate — proves
    the sink path (df.write.parquet) preserves values/schema. Output parquet
    is partitioned by lang (partition pruning on re-read)."""
    t = register_tables(spark, sf_dir, ("documents",))
    (out,) = _scratch_dirs("sink_roundtrip")
    (
        t["documents"]
        .filter(F.col("lang").isin("en", "fr"))
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@query(
    "compact_documents_files",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "maintenance", "compact_files"),
)
def compact_documents_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/maintenance.compact_parquet_dir):
    deliberately fragment documents into 64 tiny files, compact the
    directory into ceil(rows/target) evenly-sized files, and aggregate the
    compacted copy. The oracle aggregates the ORIGINAL table — a hash match
    proves compaction is lossless; the file-count collapse itself is
    asserted in tests/test_maintenance.py."""
    from sql4pandas_spark.operators.maintenance import compact_parquet_dir

    t = register_tables(spark, sf_dir, ("documents",))
    frag, comp = _scratch_dirs("compact_frag", "compact_out")
    t["documents"].select("doc_id", "lang", "n_chars").repartition(64).write.mode(
        "overwrite"
    ).parquet(frag)
    out = compact_parquet_dir(spark, frag, comp, target_records_per_file=500_000)
    return (
        out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@query(
    "cluster_documents_files",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "maintenance", "cluster_files"),
)
def cluster_documents_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range clustering (operators/maintenance.cluster_parquet_dir):
    rewrite documents range-clustered + sorted on n_chars so row-group
    min/max stats enable data skipping for n_chars predicates, then
    aggregate the clustered copy. The oracle aggregates the ORIGINAL
    table — a hash match proves the clustering rewrite is lossless; the
    footer-stats tightening itself (the point of the operator) is
    asserted on the parquet metadata in tests/test_maintenance.py."""
    from sql4pandas_spark.operators.maintenance import cluster_parquet_dir

    t = register_tables(spark, sf_dir, ("documents",))
    src, dst = _scratch_dirs("cluster_src", "cluster_out")
    t["documents"].select("doc_id", "lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(src)
    out = cluster_parquet_dir(
        spark, src, dst, ["n_chars"], target_records_per_file=500
    )
    return (
        out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@query(
    "zorder_documents_files",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "maintenance", "cluster_files", "zorder"),
)
def zorder_documents_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column Z-order rewrite (operators/maintenance.zorder_parquet_dir):
    Morton-interleave (doc_id, n_chars) so BOTH dimensions' row-group
    min/max stats tighten — predicates on either column (or both) skip row
    groups, which single-column clustering cannot give. The oracle
    aggregates the ORIGINAL table: hash match proves the rewrite is
    lossless; the per-dimension footer-stats property is asserted in
    tests/test_maintenance.py."""
    from sql4pandas_spark.operators.maintenance import zorder_parquet_dir

    t = register_tables(spark, sf_dir, ("documents",))
    src, dst = _scratch_dirs("zorder_src", "zorder_out")
    t["documents"].select("doc_id", "lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(src)
    out = zorder_parquet_dir(
        spark, src, dst, ["doc_id", "n_chars"], target_records_per_file=500
    )
    return (
        out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@query(
    "quality_repetition_documents",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w FROM documents),
    bg AS (SELECT doc_id, w,
                  CASE WHEN len(w) >= 2
                       THEN [array_to_string(list_slice(w, i, i + 1), ' ') FOR i IN range(1, len(w))]
                  END AS b
           FROM toks)
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_tokens,
           round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS dup_word_frac,
           CASE WHEN len(w) >= 2
                THEN round(CAST(list_max(list_transform(list_distinct(b),
                                d -> len(list_filter(b, x -> x = d)))) AS DOUBLE) / (len(w) - 1), 4)
           END AS top_bigram_frac
    FROM bg ORDER BY doc_id LIMIT 100
    """,
    tags=("tier-c", "quality", "repetition"),
)
def quality_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (operators/text.repetition_stats):
    duplicate-word fraction and top-bigram fraction — the boilerplate /
    degenerate-text filters a pretraining pipeline runs next to the cheap
    quality features. All JVM higher-order expressions, one scan."""
    t = register_tables(spark, sf_dir, ("documents",))
    return text.repetition_stats(t["documents"]).orderBy("doc_id").limit(100)


@query(
    "decontaminate_documents",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 3
                          THEN [array_to_string(list_slice(w, i, i+2), ' ') FOR i IN range(1, len(w)-1)]
                          ELSE [array_to_string(w, ' ')] END) AS shingle
            FROM toks)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    ov AS (SELECT s.doc_id, count(*) AS n_overlap
           FROM sh s JOIN bench b ON s.shingle = b.shingle
           WHERE s.doc_id >= 20 GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(ov.n_overlap, 0) >= 5 AS contaminated
    FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
    WHERE d.doc_id >= 20 ORDER BY d.doc_id LIMIT 100
    """,
    tags=("tier-c", "decontamination", "dedup_ngram_jaccard"),
)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.contamination_overlap):
    treat the 20 lowest-id documents as the "benchmark corpus" and audit
    every other document's distinct-shingle overlap with it. The benchmark
    shingle set is broadcast — at 100 TB the big side only explodes,
    broadcast-joins, and counts; document text never shuffles."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") < 20)
    cand = docs.filter(F.col("doc_id") >= 20)
    return (
        dedup.contamination_overlap(cand, bench)
        .orderBy("doc_id")
        .limit(100)
    )


_MIX_HASH_PRED = text.DUCKDB_HASH60_SQL.format(expr="CAST(doc_id AS VARCHAR)")


@query(
    "stratified_mix_hash",
    oracle=f"""
    WITH kept AS (
      SELECT lang, n_chars FROM documents
      WHERE ({_MIX_HASH_PRED}) % 100 <
            CASE lang WHEN 'en' THEN 100 ELSE 25 END)
    SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM kept GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "data_mix", "sample_hash"),
)
def stratified_mix_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified data mix: per-stratum keep fractions via
    portable_hash60(doc_id) % 100 < pct[lang] (keep all 'en', ~25% of every
    other language). The auditable alternative to seeded sampleBy
    (`stratified_sample_mix`, rows-only): the SAME documents are kept on
    every engine, partitioning, and run — which is what a reproducible
    training-data mix actually requires — so this form is fully
    hash-checked against DuckDB."""
    t = register_tables(spark, sf_dir, ("documents",))
    pct = F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(25))
    kept = t["documents"].filter(
        F.pmod(text.portable_hash60(F.col("doc_id").cast("string")), F.lit(100)) < pct
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@query(
    "incremental_dedup_batches",
    oracle="""
    WITH evens AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
         odds  AS (SELECT text FROM documents WHERE doc_id % 2 = 1)
    SELECT CAST((SELECT count(DISTINCT text) FROM evens) AS BIGINT) AS batch1_kept,
           CAST((SELECT count(DISTINCT text) FROM odds
                 WHERE text NOT IN (SELECT text FROM evens)) AS BIGINT) AS batch2_kept,
           CAST((SELECT count(DISTINCT text) FROM documents) AS BIGINT) AS store_size
    """,
    tags=("tier-c", "dedup_exact", "incremental"),
)
def incremental_dedup_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental dedup (operators/dedup.incremental_exact_dedup):
    ingest the corpus in two batches against a persistent digest store.
    Batch 1 = even doc_ids; batch 2 = odd doc_ids PLUS 50 re-ided copies of
    batch-1 texts (planted duplicates on top of the corpus's own: sf0.1
    ships 8 naturally-duplicated texts — measured round 5 — so the oracle
    counts DISTINCT texts rather than rows). The copies must be dropped by
    the store anti-join; a failed cross-batch check surfaces as
    batch2_kept inflated by 50 and a hash mismatch. The store lives in a
    fresh per-invocation subdirectory of a process-scoped temp root
    (cleaned by atexit), so concurrent runs on the same fixture (bench +
    correctness driver) can't race on shared mutable state, the declared
    result is deterministic per run, and repeated builds don't leak /tmp
    directories beyond the process lifetime."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    store = os.path.join(_incr_store_root(), uuid.uuid4().hex, "digests")
    batch1 = docs.filter(F.col("doc_id") % 2 == 0)
    replayed = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .orderBy("doc_id")
        .limit(50)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    batch2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(replayed)
    # batch_id engages the exactly-once store path (per-batch partition
    # overwrite + self-exclusion on replay) — the production foreachBatch form
    kept1 = dedup.incremental_exact_dedup(batch1, store, batch_id=0)
    n1 = kept1.agg(F.count(F.lit(1)).alias("batch1_kept"))
    kept2 = dedup.incremental_exact_dedup(batch2, store, batch_id=1)
    n2 = kept2.agg(F.count(F.lit(1)).alias("batch2_kept"))
    store_n = (
        spark.read.parquet(store)
        .agg(F.count(F.lit(1)).alias("store_size"))
    )
    return n1.crossJoin(n2).crossJoin(store_n)


@query(
    "pack_sequences_bins",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
      FROM documents),
    s AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      FROM d)
    SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM s GROUP BY source, seq_id ORDER BY source, seq_id
    """,
    tags=("tier-c", "pack_sequences", "data_mix"),
)
def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for fixed-length training batches: concat-then-chunk
    documents per source stream into 512-token sequences
    (operators/text.pack_sequences), then report per-sequence fill. The
    oracle replays the identical window-cumsum assignment in DuckDB, so
    packing is fully hash-checked — deterministic by construction (ordered
    by doc_id, no RNG)."""
    t = register_tables(spark, sf_dir, ("documents",))
    packed = text.pack_sequences(t["documents"], budget_tokens=512)
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_doc").cast("long").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "seq_id")
    )


@query(
    "hll_sketch_users",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_total, true AS merged_ok FROM events
    """,
    tags=("tier-c", "agg_approx", "sketch_merge"),
)
def hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Spark 4 Apache DataSketches HLL):
    build one sketch per event_type (hll_sketch_agg), then union the
    sketches (hll_union_agg) into a global estimate WITHOUT rescanning the
    data — the pre-aggregation pattern for distincts at 100 TB: a KB-sized
    sketch table maintained per ingest batch answers global distinct
    queries with no shuffle of raw ids. The sketch bytes are
    engine-specific, so the declared contract is the exact count
    (hash-matched) plus a ≤5%-relative-error boolean on the merged
    estimate, replayed by the oracle as literal true."""
    t = register_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    est = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_total"))
    rel_err = (
        F.abs(F.col("est") - F.col("exact_total")).cast("double")
        / F.col("exact_total")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_total", (rel_err <= 0.05).alias("merged_ok")
    )


@query(
    "sink_custom_jsonl",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("tier-c", "sink_custom", "scan_json"),
)
def sink_custom_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (sources/jsonl_sink.py): write a
    projection of orders through the plugin sink (two-phase commit: per-task
    part files + driver-side _SUCCESS manifest), read it back with an
    explicit schema (house rule: no inference pass), aggregate. The oracle
    aggregates the original parquet — equality proves the custom sink wrote
    every row, once, losslessly."""
    import shutil

    from sql4pandas_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    t = register_tables(spark, sf_dir, ("orders",))
    (out,) = _scratch_dirs("sink_custom_jsonl")
    shutil.rmtree(out, ignore_errors=True)
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format("jsonl_sink")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).json(os.path.join(out, "*.jsonl"))
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "dynamic_partition_overwrite",
    oracle="""
    SELECT lang,
           count(*) AS n,
           CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END) AS BIGINT)
             AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "sink_parquet", "partition_overwrite"),
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level upsert on plain parquet (dynamic partition overwrite):
    seed a lang-partitioned table, then INSERT OVERWRITE with ONLY updated
    'en' rows (n_chars doubled) under
    spark.sql.sources.partitionOverwriteMode=dynamic — Spark rewrites just
    the partitions present in the incoming data and leaves every other
    partition's files untouched. This is the idempotent batch-upsert
    pattern for hive-layout tables at 100 TB (each run replaces exactly the
    partitions it produced; no table-format dependency). The oracle
    computes the expected post-state: en doubled, others original."""
    t = register_tables(spark, sf_dir, ("documents",))
    (out,) = _scratch_dirs("dyn_overwrite")
    base = t["documents"].select("doc_id", "lang", "n_chars")
    base.write.mode("overwrite").partitionBy("lang").parquet(out)

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        updated_en = base.filter(F.col("lang") == "en").withColumn(
            "n_chars", F.col("n_chars") * 2
        )
        updated_en.write.mode("overwrite").partitionBy("lang").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


_BM25_TERMS = ("spark", "merge", "window")
_BM25_STATS = ", ".join(
    f"sum(CASE WHEN list_contains(w, '{t}') THEN 1 ELSE 0 END) AS df{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_TFS = ", ".join(
    f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_SCORE = " + ".join(
    f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
    f" * tf{i} * 2.2 / (tf{i} + nrm)"
    for i in range(len(_BM25_TERMS))
)


@query(
    "bm25_top15_documents",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(w)) AS avgdl, {_BM25_STATS}
      FROM toks),
    scored AS (
      SELECT doc_id, round({_BM25_SCORE}, 4) AS bm25
      FROM (SELECT doc_id, {_BM25_TFS},
                   1.2 * (0.25 + 0.75 * len(w) / avgdl) AS nrm,
                   n_docs, {", ".join(f"df{i}" for i in range(len(_BM25_TERMS)))}
            FROM toks, stats))
    SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
    ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
    tags=("tier-c", "retrieval", "text_analysis"),
)
def bm25_top15_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 against a 3-term query (operators/retrieval.bm25_topk) —
    the quality-targeted selection primitive of a data pipeline. One
    tokenized scan produces ALL corpus statistics (N, avgdl, per-term df)
    in a single aggregate; the 1-row stats frame broadcast-joins back and
    scoring is pure JVM arithmetic (tf via size(filter(tokens))); top-15
    compiles to TakeOrderedAndProject. The score is rounded to 4dp BEFORE
    ordering so the cut is engine-reproducible; the oracle replays the
    identical operation order (idf*tf*2.2/(tf+norm), terms summed
    left-to-right)."""
    from sql4pandas_spark.operators.retrieval import bm25_topk

    t = register_tables(spark, sf_dir, ("documents",))
    return bm25_topk(t["documents"], list(_BM25_TERMS), k=15)


def _ndcg_oracle() -> str:
    """Per-term NDCG@10 replay: for each of the three BM25 terms, the
    SYSTEM ranking (single-term BM25, the exact _BM25_SCORE operation
    order) and the IDEAL ranking (raw tf desc) truncate at 10, join the
    e6-integer discount VALUES table, and reduce to exact BIGINT
    DCG/IDCG. Every multiply-read frame is either toks/stats (constant
    fan-out, 6 scans) or a ≤10-row CTE — no exponential inlining."""
    from sql4pandas_spark.operators.retrieval import NDCG_DISC_E6

    disc_vals = ", ".join(
        f"({r}, CAST({d} AS BIGINT))"
        for r, d in enumerate(NDCG_DISC_E6, start=1)
    )
    ctes = [
        f"toks AS ({_TOKS_CTE})",
        f"""stats AS (
      SELECT count(*) AS n_docs, avg(len(w)) AS avgdl, {_BM25_STATS}
      FROM toks)""",
        f"disc AS (SELECT * FROM (VALUES {disc_vals}) AS t(r, disc_e6))",
    ]
    rows = []
    for i, term in enumerate(_BM25_TERMS):
        tf_d = f"CAST(len(list_filter(w, x -> x = '{term}')) AS DOUBLE)"
        score = (
            f"round(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
            f" * {tf_d} * 2.2"
            f" / ({tf_d} + 1.2 * (0.25 + 0.75 * len(w) / avgdl)), 4)"
        )
        gain = f"CAST(len(list_filter(w, x -> x = '{term}')) AS BIGINT)"
        ctes.append(
            f"""s{i} AS (
      SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r, gain
      FROM (SELECT doc_id, {gain} AS gain, {score} AS bm25
            FROM toks, stats) AS sc{i}
      WHERE gain > 0 ORDER BY bm25 DESC, doc_id LIMIT 10)"""
        )
        ctes.append(
            f"""i{i} AS (
      SELECT row_number() OVER (ORDER BY gain DESC, doc_id) AS r, gain
      FROM (SELECT doc_id, {gain} AS gain FROM toks) AS ic{i}
      WHERE gain > 0 ORDER BY gain DESC, doc_id LIMIT 10)"""
        )
        ctes.append(
            f"n{i} AS (SELECT CAST(count(*) AS BIGINT) AS n_rel"
            f" FROM toks WHERE len(list_filter(w, x -> x = '{term}')) > 0)"
        )
        ctes.append(
            f"d{i} AS (SELECT CAST(sum(gain * disc_e6) AS BIGINT)"
            f" AS dcg_e6 FROM s{i} JOIN disc USING (r))"
        )
        ctes.append(
            f"g{i} AS (SELECT CAST(sum(gain * disc_e6) AS BIGINT)"
            f" AS idcg_e6 FROM i{i} JOIN disc USING (r))"
        )
        rows.append(
            f"SELECT '{term}' AS term, n_rel, dcg_e6, idcg_e6,"
            f" dcg_e6 * 1000000 // idcg_e6 AS ndcg_e6"
            f" FROM d{i}, g{i}, n{i}"
        )
    joined = ",\n    ".join(ctes)
    body = " UNION ALL ".join(rows)
    return f"WITH {joined}\n    SELECT * FROM ({body}) AS u ORDER BY term"


@query(
    "retrieval_ndcg_audit",
    oracle=_ndcg_oracle(),
    tags=("tier-c", "retrieval", "audit", "quality"),
)
def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 census for the BM25 ranker — the ranking-quality audit
    that closes the retrieval loop the way ivf_recall_census closes the
    ANN loop: per query term, graded relevance = raw term frequency,
    system ranking = single-term BM25 (LENGTH-NORMALIZED, so it
    genuinely disagrees with the ideal tf ordering — the gap IS the
    signal), ideal ranking = tf desc, both truncated at 10. Discounts
    1/log2(r+1) are e6-quantized module constants
    (operators/retrieval.NDCG_DISC_E6) spliced identically into both
    engines, so DCG, IDCG, and ndcg_e6 = DCG·1e6 DIV IDCG are exact
    BIGINT — no float accumulation anywhere. At least one term scores
    ndcg_e6 < 1e6 (pytest-pinned): a census where system == ideal
    everywhere would audit nothing. Plan: ONE tokenized scan feeds all
    corpus stats (1-row broadcast); a second single pass scores EVERY
    term at once (a row-local term-struct explode) and materializes the
    skinny (term, doc_id, gain, bm25) frame, so the nine per-term
    consumers (n_rel, system top-10, ideal top-10 x 3 terms) read the
    checkpointed leaf instead of each re-running scan+stats (measured:
    18 corpus scans -> 2); the top-10s compile to TakeOrderedAndProject
    (per-partition heaps) with the rank window running over the 10
    surviving rows; the discount join is a 10-row literal array
    lookup."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.retrieval import dcg_e6_expr

    t = register_tables(spark, sf_dir, ("documents",))
    toks_df = t["documents"].select("doc_id", text.tokens("text").alias("_toks"))
    stats = toks_df.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg(F.size("_toks")).alias("_avgdl"),
        *[
            F.sum(
                F.when(F.array_contains("_toks", term), 1).otherwise(0)
            ).alias(f"_df_{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    base = toks_df.crossJoin(F.broadcast(stats))
    nrm = F.lit(1.2) * (
        F.lit(0.25)
        + F.lit(0.75) * F.size("_toks").cast("double") / F.col("_avgdl")
    )

    def term_struct(i: int, term: str):
        tf_d = F.size(
            F.filter("_toks", lambda x: x == F.lit(term))
        ).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
        )
        return F.struct(
            F.lit(term).alias("term"),
            tf_d.cast("long").alias("gain"),
            F.round(idf * tf_d * F.lit(2.2) / (tf_d + nrm), 4).alias("bm25"),
        )

    scored_all = (
        base.select(
            "doc_id",
            F.explode(
                F.array(
                    *[term_struct(i, tm) for i, tm in enumerate(_BM25_TERMS)]
                )
            ).alias("_s"),
        )
        .select("doc_id", "_s.term", "_s.gain", "_s.bm25")
        .filter(F.col("gain") > 0)
        .localCheckpoint(eager=True)
    )
    out = None
    for term in _BM25_TERMS:
        scored = scored_all.filter(F.col("term") == term).drop("term")
        w_sys = Window.orderBy(F.desc("bm25"), F.col("doc_id"))
        sys10 = (
            scored.orderBy(F.desc("bm25"), "doc_id")
            .limit(10)
            .withColumn("r", F.row_number().over(w_sys))
        )
        w_idl = Window.orderBy(F.desc("gain"), F.col("doc_id"))
        ideal10 = (
            scored.orderBy(F.desc("gain"), "doc_id")
            .limit(10)
            .withColumn("r", F.row_number().over(w_idl))
        )
        row = (
            scored.agg(F.count(F.lit(1)).alias("n_rel"))
            .crossJoin(sys10.agg(dcg_e6_expr("r", "gain").alias("dcg_e6")))
            .crossJoin(
                ideal10.agg(dcg_e6_expr("r", "gain").alias("idcg_e6"))
            )
            .select(
                F.lit(term).alias("term"),
                "n_rel",
                "dcg_e6",
                "idcg_e6",
                F.expr("dcg_e6 * 1000000 DIV idcg_e6").alias("ndcg_e6"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("term")


_RRF_LEX_BUDGET, _RRF_SEM_BUDGET, _RRF_K0 = 50, 50, 60


@query(
    "hybrid_rrf_top10",
    oracle=f"""
    WITH toks AS ({{toks}}),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(w)) AS avgdl, {{bm25_stats}}
      FROM toks),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM (SELECT doc_id, round({{bm25_score}}, 4) AS bm25
            FROM (SELECT doc_id, {{bm25_tfs}},
                         1.2 * (0.25 + 0.75 * len(w) / avgdl) AS nrm,
                         n_docs, {{bm25_dfs}}
                  FROM toks, stats))
      WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT {_RRF_LEX_BUDGET}),
    sem AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY sim DESC, vec_id) AS r
      FROM (SELECT e.vec_id,
                   round(CAST(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[])
                          FROM embeddings WHERE vec_id = 0)) AS DOUBLE), 4)
                     AS sim
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY sim DESC, e.vec_id LIMIT {_RRF_SEM_BUDGET})),
    contrib AS (
      SELECT doc_id, CAST(floor(1000000000.0 / ({_RRF_K0} + r)) AS BIGINT) AS c
      FROM lex
      UNION ALL
      SELECT doc_id, CAST(floor(1000000000.0 / ({_RRF_K0} + r)) AS BIGINT)
      FROM sem)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
           CAST(count(*) AS BIGINT) AS n_sources
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_micro DESC, n_sources DESC, doc_id LIMIT 10
    """.format(
        toks=_TOKS_CTE,
        bm25_stats=_BM25_STATS,
        bm25_score=_BM25_SCORE,
        bm25_tfs=_BM25_TFS,
        bm25_dfs=", ".join(f"df{i}" for i in range(len(_BM25_TERMS))),
    ),
    tags=("tier-c", "retrieval", "hybrid", "sim_search", "rrf"),
)
def hybrid_rrf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (operators/retrieval.rrf_fuse) — the RAG-era default: a lexical BM25
    ranking (3-term query, candidate budget 50) fused with a semantic
    cosine ranking (query = vec_id 0's embedding, full-probe IVF → exact,
    budget 50) by `Σ floor(1e9/(60+rank))` integer micro-scores, so the
    fused total is bit-exact and order-independent across engines. Ranks
    come from windows over the two ALREADY-truncated candidate frames
    (≤50 rows each — never the corpora); the fuse itself is one union +
    one ≤100-row groupBy. The oracle replays BOTH rankings (the BM25
    operation order AND the brute-force cosine order the full-probe IVF
    provably equals) and the exact micro-score sum. The embeddings side
    reuses the session-cached no-vec0 IVF index (same cache_key as
    ann_ivf_query_top10 / ivf_full_probe_top10 — one build per session)."""
    from sql4pandas_spark.operators.retrieval import bm25_topk, rrf_fuse

    t = register_tables(spark, sf_dir, ("documents", "embeddings"))
    lex = bm25_topk(t["documents"], list(_BM25_TERMS), k=_RRF_LEX_BUDGET)
    sem = similarity.ann_ivf_query_topk(
        t["embeddings"].filter(F.col("vec_id") != 0),
        _query_vector(sf_dir),
        k=_RRF_SEM_BUDGET,
        n_cells=16,
        n_probe=16,
        cache_key=f"{sf_dir}:no_vec0",
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse([lex, sem], id_col="doc_id", k=10, k0=_RRF_K0)


@query(
    "dedup_keep_best_doc",
    oracle=_MINHASH_REACH_CTES + """
    , labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
                 FROM reach GROUP BY src)
    SELECT cluster_id, doc_id AS rep_doc_id, n_docs FROM (
      SELECT l.cluster_id, d.doc_id,
             count(*) OVER (PARTITION BY l.cluster_id) AS n_docs,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM labels l JOIN documents d USING (doc_id))
    WHERE rn = 1 ORDER BY cluster_id
    """,
    tags=("tier-c", "dedup_near", "dedup_keep_best"),
)
def dedup_keep_best_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax canonicalization of near-dup clusters
    (operators/dedup.keep_best_representative): per MinHash-LSH cluster,
    keep the longest document (ties → smallest id) instead of an arbitrary
    copy. The oracle recomputes exact-Jaccard ground-truth clusters via the
    shared recursive closure and picks the representative with the same
    deterministic window — a hash match proves both the clustering AND the
    argmax. Join + one windowed shuffle on cluster_id; text never moves."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    labels = dedup.near_dedup_minhash(docs)
    return dedup.keep_best_representative(docs, labels).orderBy("cluster_id")


@query(
    "split_leakage_audit",
    oracle=_MINHASH_REACH_CTES + f"""
    , labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
                 FROM reach GROUP BY src),
    sides AS (SELECT l.cluster_id, ({_MIX_HASH_PRED}) % 100 < 90 AS is_train
              FROM labels l JOIN documents d USING (doc_id)),
    per AS (SELECT cluster_id,
                   sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS tr,
                   sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS va
            FROM sides GROUP BY cluster_id)
    SELECT CAST(sum(tr) AS BIGINT) AS n_train,
           CAST(sum(va) AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN tr > 0 AND va > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaky_clusters,
           CAST(sum(CASE WHEN tr > 0 THEN va ELSE 0 END) AS BIGINT)
             AS leaked_val_docs
    FROM per
    """,
    tags=("tier-c", "decontaminate", "data_mix", "dedup_near"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across a deterministic 90/10 train/val split
    (operators/dedup.split_leakage_audit): a near-copy of a val document
    sitting in train defeats the holdout even after exact dedup, so the
    audit counts clusters spanning the boundary and the val docs that must
    be dropped. Split = portable_hash60(doc_id) % 100 < 90 — the same
    engine-portable hash as stratified_mix_hash, so the oracle reproduces
    membership exactly; clusters come from the shared exact-Jaccard
    closure. At sf0.01 this is a REAL positive: 3 of 25 near-dup pairs
    cross the boundary."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    labels = dedup.near_dedup_minhash(docs)
    split = (
        F.pmod(text.portable_hash60(F.col("doc_id").cast("string")), F.lit(100))
        < 90
    )
    return dedup.split_leakage_audit(docs, labels, split)


@query(
    "quota_sample_by_lang",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY ({_MIX_HASH_PRED}), doc_id) AS rn
      FROM documents)
    SELECT doc_id, lang FROM ranked WHERE rn <= 60 ORDER BY lang, doc_id
    """,
    tags=("tier-c", "data_mix", "sample_hash", "quota_sample"),
)
def quota_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample (operators/sampling.quota_sample): keep
    exactly min(60, n_lang) docs per language, hash-ordered so membership is
    engine/run/partitioning-invariant — the fixed-budget-per-stratum mix a
    fraction sampler can't deliver. The two-phase plan (broadcast counts →
    map-side hash pre-filter → windowed trim over ~2×quota survivors) keeps
    the window shuffle O(strata×quota) regardless of input size; the oracle
    ranks everything, so a hash match also proves the pre-filter lost no
    winner. sf ladder: at sf0.001 most strata are under quota (keep-all
    branch), at sf0.01+ every stratum trims."""
    from sql4pandas_spark.operators.sampling import quota_sample

    t = register_tables(spark, sf_dir, ("documents",))
    kept = quota_sample(t["documents"], "lang", quota=60, id_col="doc_id")
    return kept.select("doc_id", "lang").orderBy("lang", "doc_id")


@query(
    "embedding_outlier_audit",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    ex AS (SELECT vec_id, label, v[pos] AS val, pos
           FROM e, (SELECT unnest(range(1, 65)) AS pos)),
    cent AS (SELECT label, pos, avg(val) AS m FROM ex GROUP BY label, pos),
    dots AS (SELECT ex.vec_id, ex.label,
                    sum(ex.val * cent.m) AS dot,
                    sum(ex.val * ex.val) AS nv,
                    sum(cent.m * cent.m) AS nc
             FROM ex JOIN cent USING (label, pos) GROUP BY 1, 2),
    cos AS (SELECT label,
                   CASE WHEN nv > 0 AND nc > 0 THEN
                     CAST(round(dot / (sqrt(nv) * sqrt(nc)) * 10000) AS BIGINT)
                   END AS ce4
            FROM dots)
    SELECT label, count(*) AS n_vecs, CAST(sum(ce4) AS BIGINT) AS sum_cos_e4,
           round(min(ce4) / 10000.0, 4) AS min_cos,
           round(max(ce4) / 10000.0, 4) AS max_cos,
           CAST(sum(CASE WHEN ce4 IS NULL OR ce4 < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM cos GROUP BY label ORDER BY label
    """,
    tags=("tier-c", "dedup_embedding", "multimodal_cols", "quality"),
)
def embedding_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid-cosine audit
    (operators/similarity.centroid_outlier_stats): flags vectors
    anti-aligned with their own class centroid — the mislabeled/garbage
    screen run over an embedded corpus before training. Cosines are
    quantized to 1e-4 BIGINTs so the per-label sum is exact integer
    arithmetic (order-independent where a double sum is not). Plan: one
    partial-agg'd posexplode shuffle of |labels|x64 rows for the centroids,
    broadcast back, fixed-order JVM fold per vector, one map-combined
    groupBy — nothing scales with N but the scan."""
    from sql4pandas_spark.operators.similarity import centroid_outlier_stats

    t = register_tables(spark, sf_dir, ("embeddings",))
    return centroid_outlier_stats(t["embeddings"])


@query(
    "temperature_mix_documents",
    oracle=f"""
    WITH counts AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
    rates AS (SELECT lang,
                     least(1.0, pow(n_s, 0.5) / sum(pow(n_s, 0.5)) OVER ()
                           * 300.0 / n_s) AS frac
              FROM counts),
    kept AS (SELECT d.lang FROM documents d JOIN rates r USING (lang)
             WHERE ({_MIX_HASH_PRED})::DOUBLE
                   < r.frac * 1152921504606846976.0)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "data_mix", "sample_hash", "temperature_mix"),
)
def temperature_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced language mix at alpha=0.5, target 300 docs
    (operators/sampling.temperature_sample) — the multilingual up-weighting
    of rare languages used by mT5/XLM-style training mixes, made
    deterministic via the portable-hash threshold so the oracle reproduces
    the exact kept set. Rates come from a 5-row window; the corpus side is
    one map-side filter behind a broadcast join — zero data-row shuffles
    before the audit aggregate."""
    from sql4pandas_spark.operators.sampling import temperature_sample

    t = register_tables(spark, sf_dir, ("documents",))
    kept = temperature_sample(
        t["documents"], "lang", alpha=0.5, target_total=300
    )
    return (
        kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")
    )


_PROFILE_COL_SQL = """
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM documents"""


@query(
    "profile_documents_table",
    oracle=" UNION ALL ".join(
        _PROFILE_COL_SQL.format(c=c)
        for c in ("doc_id", "lang", "n_chars", "source", "text")
    )
    + " ORDER BY col_name",
    tags=("tier-c", "profile_table", "agg_global"),
)
def profile_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of documents (operators/profile.profile_columns):
    null counts, exact distinct cardinality, min/max rendered to string —
    one aggregate pass (the exact multi-column DISTINCT plans a single
    Expand+shuffle; approx_count_distinct is the declared 100 TB path).
    The oracle recomputes every cell per column in DuckDB."""
    from sql4pandas_spark.operators.profile import profile_columns

    t = register_tables(spark, sf_dir, ("documents",))
    return profile_columns(
        t["documents"], ["doc_id", "lang", "n_chars", "source", "text"]
    ).withColumnRenamed("column", "col_name").orderBy("col_name")


@query(
    "tfidf_top_terms_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents),
    tc AS (SELECT doc_id, unnest(w) AS term FROM toks WHERE len(w) > 0),
    cnt AS (SELECT doc_id, term, count(*) AS tf FROM tc GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS dfc FROM cnt GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM toks WHERE len(w) > 0),
    scored AS (
      SELECT c.doc_id, c.term,
             round(c.tf * (ln((1.0 + n_docs) / (1.0 + dfc)) + 1.0), 4) AS tfidf
      FROM cnt c JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn
    """,
    tags=("tier-c", "tfidf_terms", "win_rank"),
)
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/retrieval.tfidf_top_terms)
    — full-vocabulary keyword extraction: (doc,term) counts in one shuffle,
    vocabulary-keyed df stats in a second, 1-row broadcast N, then a
    WindowGroupLimit top-k per doc. Scores round to 4dp BEFORE ranking so
    the DuckDB replay cuts identically (term asc breaks ties)."""
    from sql4pandas_spark.operators.retrieval import tfidf_top_terms

    t = register_tables(spark, sf_dir, ("documents",))
    return tfidf_top_terms(t["documents"], k_terms=3).orderBy("doc_id", "rn")


@query(
    "top_bigrams_documents",
    oracle="""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents),
    g AS (
      SELECT unnest(CASE WHEN len(w) >= 2
                    THEN [array_to_string(list_slice(w, i, i + 1), ' ') FOR i IN range(1, len(w))]
                    ELSE CAST([] AS VARCHAR[]) END) AS ngram
      FROM toks)
    SELECT ngram, count(*) AS n_occurrences
    FROM g GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT 20
    """,
    tags=("tier-c", "ngram_stats", "agg_group"),
)
def top_bigrams_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word bigrams by exact occurrence count
    (operators/text.top_ngrams) — the classic corpus-stats job: row-local
    n-gram assembly (JVM HOFs), one map-combined count shuffle keyed by
    n-gram, TakeOrdered top-k. heavy_hitters_topk is the declared
    approximate path when the n-gram key space outgrows the combiners."""
    from sql4pandas_spark.operators.text import top_ngrams

    t = register_tables(spark, sf_dir, ("documents",))
    return top_ngrams(t["documents"], n=2, k=20)


@query(
    "weighted_sample_merged_docs",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, text, lang, source, n_chars,
             round(ln((({_MIX_HASH_PRED}) + 1) / 1152921504606846976.0)
                   / n_chars, 6) AS skey,
             ({_MIX_HASH_PRED}) AS tb
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, text, lang, source, n_chars, skey
    FROM keyed ORDER BY skey DESC, tb, doc_id LIMIT 50
    """,
    tags=("tier-c", "weighted_sample", "incr_agg", "sample_hash"),
)
def weighted_sample_merged_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL weighted sampling
    (operators/sampling.merge_weighted_samples): the corpus arrives in
    three batches, each contributing only its k-row A-ES top-k state
    (zero data-row shuffles per batch), and the merge re-ranks the
    <= 3k state rows — the mergeable-state property of
    Efraimidis-Spirakis keys (a row's ln(u)/w never changes, and every
    global winner wins its own batch). The oracle draws the sample
    from-scratch over ALL documents: the hash match proves
    batch-merged == global — the "keep a curation sample current under
    continuous ingestion without re-scanning history" primitive."""
    from sql4pandas_spark.operators.sampling import (
        merge_weighted_samples,
        weighted_sample_topk,
    )

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    states = [
        weighted_sample_topk(d.filter(F.col("doc_id") % 3 == b), "n_chars", k=50)
        for b in range(3)
    ]
    return merge_weighted_samples(states, k=50)


#: DuckDB spellings of the DSIR hashes — the token-bucket hash and the
#: salted Gumbel draw hash (salt 'dsir:' matches gumbel_topk's default)
_DSIR_TOK_HASH = text.DUCKDB_HASH60_SQL.format(expr="w")
_DSIR_ID_HASH = text.DUCKDB_HASH60_SQL.format(
    expr="'dsir:' || CAST(doc_id AS VARCHAR)"
)


#: from-scratch DSIR replay — shared by the one-shot entry AND the
#: incremental-stats entry (whose whole claim is batch-merged ==
#: from-scratch, so the SAME oracle must hash-match both)
_DSIR_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> t <> '')) AS w
      FROM documents),
    b AS (SELECT doc_id, is_t, ({_DSIR_TOK_HASH}) % 64 AS bucket FROM tok),
    stats AS (
      SELECT bucket,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
             CAST(count(*) AS BIGINT) AS r_cnt
      FROM b GROUP BY bucket),
    terms AS (
      SELECT bucket,
             CAST(floor((ln((t_cnt + 1.0)
                            / (CAST(sum(t_cnt) OVER () AS DOUBLE) + 64.0))
                       - ln((r_cnt + 1.0)
                            / (CAST(sum(r_cnt) OVER () AS DOUBLE) + 64.0)))
                       * 1e6 + 0.5) AS BIGINT) AS term_e6
      FROM stats),
    docw AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(term_e6) AS BIGINT) AS logw_e6
      FROM b JOIN terms USING (bucket) GROUP BY b.doc_id),
    keyed AS (
      SELECT d.doc_id, d.lang, d.source, n_tok,
             round(CAST(logw_e6 AS DOUBLE) / 1e6, 6) AS logw,
             round(CAST(logw_e6 AS DOUBLE) / 1e6
                   - ln(-ln((({_DSIR_ID_HASH}) + 1)
                            / 1152921504606846976.0)), 6) AS skey,
             ({_DSIR_ID_HASH}) AS tb
      FROM docw JOIN documents d USING (doc_id))
    SELECT doc_id, lang, source, n_tok, logw, skey
    FROM keyed ORDER BY skey DESC, tb, doc_id LIMIT 50
    """


@query(
    "dsir_importance_resample",
    oracle=_DSIR_ORACLE,
    tags=("tier-c", "data_mix", "sample_hash", "quality", "dsir", "bench-heavy"),
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023) —
    score every document by how much its hashed-unigram distribution
    looks like a TARGET slice (here lang='en', the paper's
    "formal-text" stand-in), then Gumbel-top-k resample proportional to
    exp(logw): the principled replacement for hand-rule quality gates
    when "like Wikipedia" is the actual curation goal. Per-bucket
    log-ratios quantize to integer micro-nats (the e6 convention) so the
    per-document reduction is an exact BIGINT sum — partitioning- and
    engine-independent — and the Gumbel draw comes from the salted
    portable hash, so all 50 winners, their weights, AND their sort keys
    value-check against the from-scratch oracle replay. Plan: one
    exploded-token aggregate (64-row stats frame, broadcast back), one
    map-combined per-doc sum, TakeOrderedAndProject for the cut — the
    corpus shuffles only 8-byte (doc_id, term) partials, never text.
    The weight tilt is pytest-pinned where it is deterministic: the
    target language's MEAN logw strictly tops every other language's
    (the Gumbel-noised sample share itself is a statistical quantity —
    at fixture scale the noise, σ≈1.28 nats, rightly dominates the
    ~0.2-nat per-doc signal, so the pin lives on the weights)."""
    from sql4pandas_spark.operators.sampling import (
        dsir_importance_weights,
        gumbel_topk,
    )

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    w = dsir_importance_weights(d, F.col("lang") == "en")
    scored = w.join(d.select("doc_id", "lang", "source"), "doc_id")
    return gumbel_topk(scored, "logw", k=50).select(
        "doc_id", "lang", "source", "n_tok", "logw", "skey"
    )


def _doremi_ctes(rounds: int) -> list[str]:
    """DuckDB replay of operators/sampling.doremi_reweight over the
    per-language cross-model loss frame, rounds UNROLLED into generated
    CTEs (the _pagerank_oracle recipe): per round one weighted-mean
    1-row aggregate, the clamped linear MW factor, one renormalizing
    1-row sum — all BIGINT. The loss CTEs replay
    text.crossmodel_surprisal including its OOV arm (LEFT JOIN +
    coalesce to the ln(N+V) scalar)."""
    ctes = [
        """toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents)""",
        "ex AS (SELECT doc_id, lang, unnest(w) AS t FROM toks)",
        "c AS (SELECT t, count(*) AS c FROM ex WHERE lang = 'en' GROUP BY 1)",
        """nv AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v,
              CAST(round(ln(sum(c) + count(*)) * 1000000) AS BIGINT) AS s_oov
      FROM c)""",
        """vocab AS (
      SELECT t, CAST(round(ln((n + v) / (c + 1.0)) * 1000000) AS BIGINT)
                AS s_e6
      FROM c, nv)""",
        "per_lt AS (SELECT lang, t, count(*) AS k FROM ex GROUP BY 1, 2)",
        """dom AS (
      SELECT lang AS domain,
             CAST(sum(k * coalesce(s_e6, s_oov)) AS BIGINT)
               // CAST(sum(k) AS BIGINT) AS loss_e6
      FROM per_lt LEFT JOIN vocab USING (t) CROSS JOIN nv GROUP BY lang)""",
        # each round references its predecessor exactly ONCE, with the
        # two 1-row scalars (weighted mean, renormalizer) as
        # unpartitioned window sums — both engines INLINE
        # multiply-referenced CTEs, so the m/u/s-CTE spelling would
        # expand 2^rounds copies of the base scan (the
        # domain_pagerank_sinks lesson; it manifests here as DuckDB
        # exhausting file handles on the 1024 parquet re-opens)
        """w0 AS (
      SELECT domain, loss_e6,
             CAST(1000000000 AS BIGINT) // count(*) OVER () AS weight_e9
      FROM dom)""",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        ctes.append(
            f"w{k} AS (SELECT domain, loss_e6,"
            f" (u * 1000000000) // CAST(sum(u) OVER () AS BIGINT)"
            f" AS weight_e9 FROM ("
            f"SELECT domain, loss_e6,"
            f" (weight_e9 * greatest(CAST(1 AS BIGINT),"
            f" CAST(-99000000 AS BIGINT)"
            f" + (loss_e6"
            f" - CAST(sum(weight_e9 * loss_e6) OVER () AS BIGINT)"
            f" // CAST(sum(weight_e9) OVER () AS BIGINT)"
            f" + 100000000) // 1)) // 1000000 AS u"
            f" FROM w{p}) AS t{k})"
        )
    return ctes


def _doremi_oracle(rounds: int) -> str:
    joined = ",\n    ".join(_doremi_ctes(rounds))
    return (
        f"WITH {joined}\n    SELECT domain, loss_e6, weight_e9"
        f" FROM w{rounds} ORDER BY domain"
    )


@query(
    "doremi_domain_weights",
    oracle=_doremi_oracle(10),
    tags=("tier-c", "data_mix", "doremi", "lm_surprisal", "iterative"),
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) end-to-end: the
    reference loss is each language's token-weighted surprisal under a
    unigram model trained on the en slice ONLY
    (operators/text.crossmodel_surprisal — OOV mass priced at ln(N+V),
    not dropped), and operators/sampling.doremi_reweight runs 10
    multiplicative-weights rounds on the 5-row loss frame: mass flows
    toward the languages the reference model serves worst (the
    group-DRO direction), giving the mix weights a training pipeline
    feeds to quota/temperature sampling. All arithmetic is e6/e9
    integer fixed-point, so the oracle replays loss derivation AND all
    10 rounds value-exactly in unrolled CTEs (sweeps verbatim).
    Fixture honesty: the synthetic corpus shares one 31-token
    vocabulary across languages, so per-domain excess is small
    (~6e3 micro-nats) — η is 1/nat to make the trajectory visibly
    separate; ordering (weights strictly increasing in loss, mass
    conserved to |domains| floor units) is pytest-pinned. Plan: the
    loss frame is 5 rows; per round two 1-row broadcast scalars ride
    the plan (pagerank's dangling-mass shape), zero driver collects
    beyond the |domains| count."""
    from sql4pandas_spark.operators.sampling import doremi_reweight
    from sql4pandas_spark.operators.text import crossmodel_surprisal

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    sc = crossmodel_surprisal(docs, F.col("lang") == "en")
    dom = (
        sc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("domain"))
        .agg(
            F.expr("sum(surprisal_sum_e6) DIV sum(n_tokens)").alias(
                "loss_e6"
            )
        )
    )
    return doremi_reweight(dom, rounds=10, eta_denom=1).orderBy("domain")


@query(
    "dsir_incremental_stats",
    oracle=_DSIR_ORACLE,
    tags=("tier-c", "data_mix", "dsir", "incremental", "incr_agg"),
)
def dsir_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch INCREMENTAL DSIR (operators/sampling.merge_dsir_stats):
    the corpus arrives in three hash-disjoint batches, each contributing
    only its |buckets|-row (t_cnt, r_cnt) counter frame — the mergeable
    state — and the merged stats drive term derivation and scoring. The
    oracle is the from-scratch replay VERBATIM (_DSIR_ORACLE, same
    statement as dsir_importance_resample): the hash match IS the claim
    that batch-merged stats equal a full re-scan, i.e. the importance
    model of a continuously-ingested corpus stays current without
    touching history — the weighted_sample_merged_docs discipline
    applied to distribution state rather than sample state. Per batch
    the persisted state is 64 rows of integers; the only full-corpus
    pass is the final scoring scan, which any refresh needs anyway."""
    from sql4pandas_spark.operators.sampling import (
        dsir_bucket_stats,
        dsir_bucket_tokens,
        dsir_score,
        dsir_terms,
        gumbel_topk,
        merge_dsir_stats,
    )

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    is_t = F.col("lang") == "en"
    parts = [
        dsir_bucket_stats(
            dsir_bucket_tokens(d.filter(F.col("doc_id") % 3 == b), is_t)
        )
        for b in range(3)
    ]
    terms = dsir_terms(merge_dsir_stats(parts))
    w = dsir_score(dsir_bucket_tokens(d, is_t), terms)
    scored = w.join(d.select("doc_id", "lang", "source"), "doc_id")
    return gumbel_topk(scored, "logw", k=50).select(
        "doc_id", "lang", "source", "n_tok", "logw", "skey"
    )


_DOREMI_MIX_HASH = text.DUCKDB_HASH60_SQL.format(
    expr="'mix:' || CAST(doc_id AS VARCHAR)"
)


def _doremi_mix_oracle() -> str:
    ctes = _doremi_ctes(10) + [
        "q AS (SELECT domain, weight_e9 * 100 // 1000000000 AS quota"
        " FROM w10)",
        f"""ranked AS (
      SELECT lang AS domain, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY ({_DOREMI_MIX_HASH}), doc_id) AS rn
      FROM documents)""",
        "kept AS (SELECT r.domain, r.doc_id FROM ranked r"
        " JOIN q USING (domain) WHERE rn <= quota)",
    ]
    joined = ",\n    ".join(ctes)
    return (
        f"WITH {joined}\n"
        "    SELECT q.domain, q.quota,"
        " CAST(count(k.doc_id) AS BIGINT) AS n_kept,"
        " CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS kept_id_sum\n"
        "    FROM q LEFT JOIN kept k ON k.domain = q.domain\n"
        "    GROUP BY q.domain, q.quota ORDER BY q.domain"
    )


@query(
    "doremi_mix_apply",
    oracle=_doremi_mix_oracle(),
    tags=("tier-c", "data_mix", "doremi", "quota", "sample_hash"),
)
def doremi_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DoReMi loop CLOSED: the learned domain weights become the mix
    a training job actually consumes — per-language quota =
    weight_e9·100 DIV 1e9 of a 100-doc budget, filled by deterministic
    hash order (salted portable hash, doc_id tie-break) so the kept SET
    is engine- and partitioning-stable. The census row per domain
    carries the quota, the kept count, AND kept_id_sum — a membership
    checksum, so swapping even one document flips the hash (counts
    alone would pass a wrong-membership mix). Oracle replays loss →
    10 MW rounds → quotas → ranked fill in one statement. Plan note:
    the per-domain rank runs as a |langs|-partition window at fixture
    scale; at 100 TB the documented swap-in is quota_sample's two-phase
    hash pre-filter generalized to per-stratum quotas (the broadcast
    quota frame already has the per-stratum cutoffs)."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.sampling import doremi_reweight
    from sql4pandas_spark.operators.text import crossmodel_surprisal, portable_hash60

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    sc = crossmodel_surprisal(docs, F.col("lang") == "en")
    dom = (
        sc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("domain"))
        .agg(
            F.expr("sum(surprisal_sum_e6) DIV sum(n_tokens)").alias(
                "loss_e6"
            )
        )
    )
    w = doremi_reweight(dom, rounds=10, eta_denom=1)
    q = w.select(
        "domain", F.expr("weight_e9 * 100 DIV 1000000000").alias("quota")
    )
    h = portable_hash60(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    )
    win = Window.partitionBy("domain").orderBy(h.asc(), F.col("doc_id"))
    ranked = docs.select(
        F.col("lang").alias("domain"), "doc_id"
    ).withColumn("rn", F.row_number().over(win))
    kept = ranked.join(F.broadcast(q), "domain").filter(
        F.col("rn") <= F.col("quota")
    )
    agg = kept.groupBy("domain").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("doc_id").alias("_s")
    )
    zero = F.lit(0).cast("long")
    return (
        q.join(agg, "domain", "left")
        .select(
            "domain",
            "quota",
            F.coalesce(F.col("_n"), zero).alias("n_kept"),
            F.coalesce(F.col("_s"), zero).alias("kept_id_sum"),
        )
        .orderBy("domain")
    )


@query(
    "weighted_sample_docs",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, text, lang, source, n_chars,
             round(ln((({_MIX_HASH_PRED}) + 1) / 1152921504606846976.0)
                   / n_chars, 6) AS skey,
             ({_MIX_HASH_PRED}) AS tb
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, text, lang, source, n_chars, skey
    FROM keyed ORDER BY skey DESC, tb, doc_id LIMIT 50
    """,
    tags=("tier-c", "weighted_sample", "sample_hash", "limit"),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample_topk, Efraimidis-Spirakis keys
    from the portable hash): 50 documents with inclusion odds proportional
    to n_chars. Map-side key + TakeOrderedAndProject — zero data-row
    shuffles; the oracle rebuilds the identical keys (6dp pre-ranking
    rounding) so the hash match proves the exact kept set and order."""
    from sql4pandas_spark.operators.sampling import weighted_sample_topk

    t = register_tables(spark, sf_dir, ("documents",))
    return weighted_sample_topk(t["documents"], "n_chars", k=50)


_INCR_NEAR_ORACLE = """
WITH RECURSIVE
planted AS (
  SELECT doc_id + 2000000 AS doc_id, text || ' near duplicate copy' AS text
  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        ORDER BY doc_id LIMIT 30)),
all_docs AS (
  SELECT doc_id, text, doc_id % 2 = 0 AS in_b1 FROM documents
  UNION ALL SELECT doc_id, text, false FROM planted),
toks AS (
  SELECT doc_id, in_b1,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
  FROM all_docs),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                      THEN [array_to_string(list_slice(w, i, i+2), ' ') FOR i IN range(1, len(w)-1)]
                      ELSE [array_to_string(w, ' ')] END) AS shingle
        FROM toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN card ca ON inter.id_a = ca.doc_id
             JOIN card cb ON inter.id_b = cb.doc_id
  WHERE round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 4) >= 0.7),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
b1_edges AS (
  SELECT e.src, e.dst FROM edges e
  JOIN all_docs s ON e.src = s.doc_id AND s.in_b1
  JOIN all_docs d ON e.dst = d.doc_id AND d.in_b1),
b1_reach(src, dst) AS (
  SELECT doc_id, doc_id FROM all_docs WHERE in_b1
  UNION
  SELECT r.src, e.dst FROM b1_reach r JOIN b1_edges e ON r.dst = e.src),
admitted1 AS (
  SELECT DISTINCT rep AS doc_id
  FROM (SELECT src, min(dst) AS rep FROM b1_reach GROUP BY src)),
rejected2 AS (
  SELECT DISTINCT e.src AS doc_id
  FROM edges e
  JOIN all_docs x ON e.src = x.doc_id AND NOT x.in_b1
  JOIN admitted1 a ON e.dst = a.doc_id),
surv2 AS (
  SELECT doc_id FROM all_docs WHERE NOT in_b1
  AND doc_id NOT IN (SELECT doc_id FROM rejected2)),
s2_edges AS (
  SELECT e.src, e.dst FROM edges e
  JOIN surv2 s ON e.src = s.doc_id
  JOIN surv2 d ON e.dst = d.doc_id),
s2_reach(src, dst) AS (
  SELECT doc_id, doc_id FROM surv2
  UNION
  SELECT r.src, e.dst FROM s2_reach r JOIN s2_edges e ON r.dst = e.src),
admitted2 AS (
  SELECT DISTINCT rep AS doc_id
  FROM (SELECT src, min(dst) AS rep FROM s2_reach GROUP BY src))
SELECT CAST((SELECT count(*) FROM admitted1) AS BIGINT) AS batch1_admitted,
       CAST((SELECT count(*) FROM admitted2) AS BIGINT) AS batch2_admitted,
       CAST((SELECT count(*) FROM admitted1)
            + (SELECT count(*) FROM admitted2) AS BIGINT) AS store_docs
"""


@query(
    "incremental_near_dedup_batches",
    oracle=_INCR_NEAR_ORACLE,
    tags=("tier-c", "dedup_near", "incremental", "bench-heavy"),
)
def incremental_near_dedup_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental NEAR-dedup
    (operators/dedup.incremental_near_dedup): ingest the corpus in two
    batches against a persistent band-key + shingle store. Batch 1 = even
    doc_ids; batch 2 = odd doc_ids PLUS 30 re-ided, lightly-edited copies
    of batch-1 docs (3 appended tokens — true Jaccard stays >= 0.7 for all
    but the shortest docs, and the oracle decides every edge case
    exactly). The copies must be rejected by the banded store join +
    exact shingle verify; a failed cross-batch check surfaces as
    batch2_admitted inflated and a hash mismatch. The oracle replays the
    full greedy-by-batch admission rule in SQL: exact pair graph,
    per-batch transitive closure, min-id representatives, cross-batch
    rejection against batch 1's admitted set. Store in a per-invocation
    uuid dir under the atexit-cleaned process root."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    store = os.path.join(_incr_store_root(), uuid.uuid4().hex, "near_store")
    batch1 = docs.filter(F.col("doc_id") % 2 == 0)
    planted = (
        batch1.orderBy("doc_id")
        .limit(30)
        .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit(" near duplicate copy")))
    )
    batch2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(planted)
    kept1 = dedup.incremental_near_dedup(batch1, store)
    n1 = kept1.agg(F.count(F.lit(1)).alias("batch1_admitted"))
    kept2 = dedup.incremental_near_dedup(batch2, store)
    n2 = kept2.agg(F.count(F.lit(1)).alias("batch2_admitted"))
    store_n = (
        spark.read.parquet(os.path.join(store, "shingles"))
        .agg(F.count(F.lit(1)).alias("store_docs"))
    )
    return n1.crossJoin(n2).crossJoin(store_n)


@query(
    "profile_documents_approx",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS col_name, true AS within_10pct"
        for c in sorted(("doc_id", "lang", "n_chars", "source", "text"))
    )
    + " ORDER BY col_name",
    tags=("tier-c", "profile_table", "agg_approx"),
)
def profile_documents_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profile's declared 100 TB path under driver check: HLL++
    distinct counts (exact_distinct=False — single map-side pass, no
    Expand) must land within 10% of the exact counts on every column
    (default rsd 0.05; the fixture's cardinalities make 10% a conservative
    floor at every SF). The bounded-property oracle replays the expected
    booleans — the same literal-boolean pattern as the ANN recall floors,
    so a sketch regression (or an accidental fall-back to exact) surfaces
    as a hash mismatch."""
    from sql4pandas_spark.operators.profile import profile_columns

    t = register_tables(spark, sf_dir, ("documents",))
    cols = ["doc_id", "lang", "n_chars", "source", "text"]
    exact = profile_columns(t["documents"], cols).select(
        F.col("column").alias("col_name"), F.col("n_distinct").alias("_exact")
    )
    approx = profile_columns(t["documents"], cols, exact_distinct=False).select(
        F.col("column").alias("col_name"), F.col("n_distinct").alias("_approx")
    )
    return (
        exact.join(approx, "col_name")
        .select(
            "col_name",
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= F.lit(0.10) * F.col("_exact")
            ).alias("within_10pct"),
        )
        .orderBy("col_name")
    )


@query(
    "snapshot_diff_documents",
    oracle="""
    WITH old_t AS (SELECT doc_id, lang, n_chars FROM documents),
    new_t AS (
      SELECT doc_id,
             lang,
             CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END AS n_chars
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id + 3000000, lang, n_chars FROM documents WHERE doc_id % 100 = 7),
    d AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.lang IS NOT DISTINCT FROM n.lang
                       AND o.n_chars IS NOT DISTINCT FROM n.n_chars
                  THEN 'unchanged' ELSE 'changed' END AS status
      FROM old_t o FULL OUTER JOIN new_t n USING (doc_id))
    SELECT status, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY status ORDER BY status
    """,
    tags=("tier-c", "snapshot_diff", "join_full"),
)
def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/maintenance.snapshot_diff): today's load =
    yesterday's with every 'en' doc's n_chars doubled, every doc_id%10==3
    dropped, and doc_id%100==7 re-ingested under new ids. One full-outer
    join on the key; NULL-safe column compares row-local. The oracle
    rebuilds both snapshots and the per-status counts exactly."""
    from sql4pandas_spark.operators.maintenance import snapshot_diff

    t = register_tables(spark, sf_dir, ("documents",))
    old = t["documents"].select("doc_id", "lang", "n_chars")
    updated = old.filter(F.col("doc_id") % 10 != 3).withColumn(
        "n_chars",
        F.when(F.col("lang") == "en", F.col("n_chars") * 2).otherwise(
            F.col("n_chars")
        ),
    )
    reingested = old.filter(F.col("doc_id") % 100 == 7).withColumn(
        "doc_id", F.col("doc_id") + F.lit(3_000_000)
    )
    new = updated.unionByName(reingested)
    return (
        snapshot_diff(old, new, ["doc_id"])
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# Substring / passage-level exact dedup (round 8)
# --------------------------------------------------------------------------

#: 60 distinct lowercase tokens — the planted boilerplate passage. Distinct
#: tokens keep the passage aperiodic (every 50-gram inside it is unique *as
#: a position*, shared only ACROSS plant sites), so expected spans are easy
#: to reason about; the fixture's own text supplies the surrounding noise.
_BOILER60 = " ".join(f"boilerp{i:02d}" for i in range(60))
#: The first 55 tokens of the boilerplate — planted as a PARTIAL (prefix)
#: share to exercise spans shorter than the full passage.
_BOILER55 = " ".join(_BOILER60.split()[:55])
#: 20-token negative control: shared verbatim by every doc_id%3==0 doc but
#: below min_tokens=50, so no 50-gram ever lies inside it — it must NOT
#: produce spans (50-grams straddling it include doc-specific context).
_SHORT20 = " ".join(f"shortc{i:02d}" for i in range(20))

#: Shared corpus-planting CASE — Spark and DuckDB build the identical
#: derived corpus: full boilerplate appended (%5) or prepended (%7), the
#: 55-token prefix appended (%11), plus the short control appended (%3).
_PASSAGE_CORPUS_SQL = f"""
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN text || ' {_BOILER60}'
               WHEN doc_id % 7 = 0 THEN '{_BOILER60} ' || text
               WHEN doc_id % 11 = 0 THEN text || ' {_BOILER55}'
               ELSE text END)
         || (CASE WHEN doc_id % 3 = 0 THEN ' {_SHORT20}' ELSE '' END) AS text
  FROM documents
"""


def _passage_corpus(docs: DataFrame) -> DataFrame:
    base = (
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER60))
        )
        .when(
            F.col("doc_id") % 7 == 0, F.concat(F.lit(_BOILER60 + " "), F.col("text"))
        )
        .when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER55))
        )
        .otherwise(F.col("text"))
    )
    planted = F.when(
        F.col("doc_id") % 3 == 0, F.concat(base, F.lit(" " + _SHORT20))
    ).otherwise(base)
    return docs.select("doc_id", planted.alias("text"))


#: DuckDB replay of the k-gram inverted index + run-merge (grams compared
#: by VALUE where Spark joins on their 60-bit hash — identical sets absent
#: a 2^-60 collision, which the hash-match would expose).
_PASSAGE_SITES_SQL = f"""
corpus AS ({_PASSAGE_CORPUS_SQL}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
  FROM corpus),
sites AS (
  SELECT doc_id, s['pos'] AS pos, s['gram'] AS gram
  FROM (SELECT doc_id,
               unnest([{{'pos': i,
                        'gram': array_to_string(list_slice(w, i, i + 49), ' ')}}
                       FOR i IN range(1, len(w) - 48)]) AS s
        FROM toks WHERE len(w) >= 50))
"""


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_PASSAGE_SITES_SQL},
    dup AS (SELECT gram FROM sites GROUP BY gram HAVING count(*) >= 2),
    cov AS (SELECT s.doc_id, s.pos FROM sites s JOIN dup USING (gram)),
    runs AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                  THEN 0 ELSE 1 END AS brk
      FROM cov),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM runs),
    spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 49 AS span_end
      FROM grp GROUP BY doc_id, run_id)
    SELECT sp.doc_id,
           CAST(sp.span_start AS BIGINT) AS span_start,
           CAST(sp.span_end AS BIGINT) AS span_end,
           CAST(sp.span_end - sp.span_start + 1 AS BIGINT) AS n_tokens,
           array_to_string(list_slice(t.w, sp.span_start, sp.span_end), ' ')
             AS passage
    FROM spans sp JOIN toks t USING (doc_id)
    ORDER BY sp.doc_id, span_start
    """,
    tags=("tier-c", "dedup_substring", "text_analysis", "win_frame"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring/passage-level exact dedup, detection
    (operators/dedup.duplicate_passage_spans — the Lee et al. 2021
    "deduplicate-text-datasets" shape): maximal >=50-token spans whose
    every 50-gram repeats elsewhere in the corpus. Fixture plants a
    60-token boilerplate passage appended (%5) / prepended (%7) and a
    55-token prefix of it (%11) across otherwise-distinct docs, plus a
    20-token negative control (%3) that must stay silent. The suffix-array
    original is re-expressed as a bucketed k-gram inverted index: one
    count shuffle on 8-byte gram hashes, covered sites joined back narrow,
    one window run-merge — document text never shuffles. The oracle
    replays grams by value and the identical run-merge, and re-slices each
    span's passage text from the tokens, so the hash match proves spans
    AND their content."""
    from sql4pandas_spark.operators.dedup import duplicate_passage_spans
    from sql4pandas_spark.operators.text import tokens

    t = register_tables(spark, sf_dir, ("documents",))
    corpus = _passage_corpus(t["documents"])
    spans = duplicate_passage_spans(corpus, min_tokens=50)
    toks = corpus.select("doc_id", tokens(F.col("text")).alias("w"))
    return (
        spans.join(toks, "doc_id")
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.array_join(
                F.slice(F.col("w"), F.col("span_start"), F.col("n_tokens")), " "
            ).alias("passage"),
        )
        .orderBy("doc_id", "span_start")
    )


@query(
    "scrub_passages_documents",
    oracle=f"""
    WITH {_PASSAGE_SITES_SQL},
    flagged AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS n_sites,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      FROM sites),
    positions AS (
      SELECT doc_id, unnest(range(pos, pos + 50)) AS p, rn = 1 AS canon
      FROM flagged WHERE n_sites >= 2),
    rm AS (
      SELECT doc_id, p FROM positions
      GROUP BY doc_id, p HAVING NOT bool_or(canon)),
    rml AS (SELECT doc_id, list(p) AS rm FROM rm GROUP BY doc_id),
    final AS (
      SELECT t.doc_id,
             [t.w[i] FOR i IN range(1, len(t.w) + 1)
              IF NOT list_contains(coalesce(r.rm, CAST([] AS BIGINT[])), i)]
               AS kept,
             t.w AS w
      FROM toks t LEFT JOIN rml r USING (doc_id))
    SELECT doc_id,
           -- array_to_string = string_agg: NULL on an empty list, where
           -- Spark's array_join gives '' — coalesce (fully-scrubbed docs
           -- DO occur: the fixture holds whole-doc exact duplicates)
           coalesce(array_to_string(kept, ' '), '') AS text,
           CAST(len(w) AS BIGINT) AS n_tokens_before,
           CAST(len(kept) AS BIGINT) AS n_tokens_after
    FROM final ORDER BY doc_id
    """,
    tags=("tier-c", "dedup_substring", "text_scrub"),
)
def scrub_passages_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup, removal half
    (operators/dedup.scrub_duplicate_passages): rewrite every doc with
    duplicated >=50-token passages removed except at their canonical
    (lexicographically first (doc_id, pos)) site — the corpus keeps ONE
    copy of each boilerplate passage. Same planted corpus as
    dedup_substring_spans. Covered positions fan out only from duplicated
    sites; removal sets return to docs as one array join on doc_id. The
    oracle replays the canonical-site policy and rebuilds every cleaned
    text token-by-token — full value match on the rewritten corpus."""
    from sql4pandas_spark.operators.dedup import scrub_duplicate_passages

    t = register_tables(spark, sf_dir, ("documents",))
    corpus = _passage_corpus(t["documents"])
    out = scrub_duplicate_passages(corpus, min_tokens=50)
    return out.select(
        "doc_id",
        "text",
        F.col("n_tokens_before").cast("long").alias("n_tokens_before"),
        F.col("n_tokens_after").cast("long").alias("n_tokens_after"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Keyed MERGE/upsert (CDC apply) + quality-classifier scoring (round 8)
# --------------------------------------------------------------------------


@query(
    "fact_refresh_merge_q1",
    oracle="""
    WITH ins AS (
      SELECT l_orderkey + 100000000 AS l_orderkey, l_partkey, l_suppkey,
             l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
             l_returnflag, l_linestatus, l_shipdate
      FROM lineitem WHERE l_orderkey % 37 = 3),
    post AS (
      SELECT * FROM lineitem WHERE l_orderkey % 97 <> 0
      UNION ALL SELECT * FROM ins)
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                         AS sum_qty,
           round(sum(l_extendedprice), 2)                    AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4)                         AS avg_qty,
           count(*)                                          AS count_order
    FROM post
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("tier-c", "merge_upsert", "pipeline", "agg_group"),
)
def fact_refresh_merge_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh-function-style maintenance on the FACT table: an
    RF1-like insert batch (shifted-key copies of the %37 residue orders'
    lines) and an RF2-like delete batch (every line of the %97 residue
    orders) flow through the same keyed MERGE the CDC family uses
    (operators/maintenance.merge_upsert on (l_orderkey, l_linenumber)),
    and the post-state is verified by RE-RUNNING the Q1 pricing summary
    — every sum/avg/count is load-bearing against a mis-applied insert
    or an un-deleted line. This is the warehouse-maintenance loop on the
    biggest table: changes are orders smaller than the snapshot, so the
    anti-join side broadcasts and the fact table never shuffles (the
    merge_upsert scale note); the summary is q1's own one-scan
    aggregate shape. Insert keys shift by 1e8 — disjoint from live and
    deleted keys at any test SF, so the changeset is key-unique and the
    no-seq_col contract holds."""
    from sql4pandas_spark.operators.maintenance import merge_upsert

    t = register_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    ins = li.filter(F.col("l_orderkey") % 37 == 3).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(100_000_000)
    )
    key_cols = ["l_orderkey", "l_linenumber"]
    dels = li.filter(F.col("l_orderkey") % 97 == 0).select(
        *[
            F.col(c)
            if c in key_cols
            else F.lit(None).cast(f.dataType).alias(c)
            for c, f in zip(li.columns, li.schema.fields)
        ]
    )
    changes = (
        ins.withColumn("op", F.lit(None).cast("string"))
        .unionByName(dels.withColumn("op", F.lit("delete")))
    )
    post = merge_upsert(li, changes, key_cols)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        post.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "merge_upsert_documents",
    oracle="""
    WITH snap AS (SELECT doc_id, lang, n_chars FROM documents),
    changes AS (
      SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'update' AS op
      FROM snap WHERE doc_id % 10 = 2
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete' AS op
      FROM snap WHERE doc_id % 10 = 5
      UNION ALL
      SELECT doc_id + 5000000, lang, n_chars, 'insert' AS op
      FROM snap WHERE doc_id % 100 = 9
      UNION ALL
      SELECT doc_id + 6000000, lang, n_chars, 'update' AS op
      FROM snap WHERE doc_id % 100 = 13),
    post AS (
      SELECT s.doc_id, s.lang, s.n_chars FROM snap s
      WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.doc_id = s.doc_id)
      UNION ALL
      SELECT doc_id, lang, n_chars FROM changes WHERE op <> 'delete')
    SELECT doc_id, lang, n_chars FROM post ORDER BY doc_id
    """,
    tags=("tier-c", "merge_upsert", "join_anti"),
)
def merge_upsert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed row-level MERGE / CDC apply (operators/maintenance.merge_upsert
    — the write-side dual of snapshot_diff): a changeset of updates
    (%10==2: n_chars+1000), deletes (%10==5), inserts (%100==9 under new
    ids), and an update-on-missing-key (%100==13 — must upsert-insert)
    applied to the documents snapshot. One anti-join on the narrow key +
    one union; AQE broadcasts the (small) change keys so the snapshot
    never shuffles. The oracle rebuilds the post-state row-for-row;
    idempotent replay and snapshot_diff composition are pinned in
    tests/test_round8_ops.py."""
    from sql4pandas_spark.operators.maintenance import merge_upsert

    t = register_tables(spark, sf_dir, ("documents",))
    snap = t["documents"].select("doc_id", "lang", "n_chars")
    changes = (
        snap.filter(F.col("doc_id") % 10 == 2)
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .withColumn("op", F.lit("update"))
        .unionByName(
            snap.filter(F.col("doc_id") % 10 == 5).withColumn("op", F.lit("delete"))
        )
        .unionByName(
            snap.filter(F.col("doc_id") % 100 == 9)
            .withColumn("doc_id", F.col("doc_id") + F.lit(5_000_000))
            .withColumn("op", F.lit("insert"))
        )
        .unionByName(
            snap.filter(F.col("doc_id") % 100 == 13)
            .withColumn("doc_id", F.col("doc_id") + F.lit(6_000_000))
            .withColumn("op", F.lit("update"))
        )
    )
    return merge_upsert(snap, changes, ["doc_id"]).orderBy("doc_id")


@query(
    "classifier_scores_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           {text.DUCKDB_CLF_SCORE_SQL.format(w="w", n=256)} AS score,
           {text.DUCKDB_CLF_SCORE_SQL.format(w="w", n=256)} >= 0.5 AS kept
    FROM toks ORDER BY doc_id
    """,
    tags=("tier-c", "quality", "classifier", "text_analysis"),
)
def classifier_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-shape quality-classifier scoring
    (operators/text.hashed_logistic_score): hashed bag-of-tokens features
    x a weight-vector literal -> logistic score, one map-side JVM
    expression, zero shuffles at any scale. Integer milli-weight summation
    makes the logit bit-identical across engines; the oracle replays
    hash, bucket, weights, sigmoid, and the 0.5 keep-gate exactly. Feeds
    operators/audit.filter_with_audit as the model-based quality gate
    (composition pinned in tests/test_round8_ops.py)."""
    from sql4pandas_spark.operators.text import hashed_logistic_score

    t = register_tables(spark, sf_dir, ("documents",))
    scored = hashed_logistic_score(t["documents"], n_buckets=256)
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "score",
        (F.col("score") >= 0.5).alias("kept"),
    ).orderBy("doc_id")


@query(
    "incremental_passage_scrub_batches",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, doc_id % 2 = 0 AS in_b1,
             CASE WHEN doc_id % 10 IN (0, 1) THEN text || ' {_BOILER60}'
                  ELSE text END AS text
      FROM documents),
    toks AS (
      SELECT doc_id, in_b1,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM corpus),
    sites AS (
      SELECT doc_id, in_b1, s['pos'] AS pos, s['gram'] AS gram
      FROM (SELECT doc_id, in_b1,
                   unnest([{{'pos': i,
                            'gram': array_to_string(list_slice(w, i, i + 49), ' ')}}
                           FOR i IN range(1, len(w) - 48)]) AS s
            FROM toks WHERE len(w) >= 50)),
    store1 AS (SELECT DISTINCT gram FROM sites WHERE in_b1),
    f1 AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS n_sites,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      FROM sites WHERE in_b1),
    flag1 AS (SELECT doc_id, pos, rn = 1 AS canon FROM f1 WHERE n_sites >= 2),
    s2 AS (
      SELECT s.doc_id, s.pos, s.gram, st.gram IS NOT NULL AS seen
      FROM (SELECT * FROM sites WHERE NOT in_b1) s
      LEFT JOIN store1 st USING (gram)),
    f2 AS (
      SELECT doc_id, pos, seen,
             count(*) OVER (PARTITION BY gram) AS n_sites,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      FROM s2),
    flag2 AS (
      SELECT doc_id, pos, (NOT seen AND rn = 1) AS canon
      FROM f2 WHERE seen OR n_sites >= 2),
    flags AS (SELECT * FROM flag1 UNION ALL SELECT * FROM flag2),
    positions AS (
      SELECT doc_id, unnest(range(pos, pos + 50)) AS p, canon FROM flags),
    rm AS (
      SELECT doc_id, p FROM positions
      GROUP BY doc_id, p HAVING NOT bool_or(canon)),
    rml AS (SELECT doc_id, list(p) AS rm FROM rm GROUP BY doc_id),
    final AS (
      SELECT t.doc_id, t.in_b1,
             [t.w[i] FOR i IN range(1, len(t.w) + 1)
              IF NOT list_contains(coalesce(r.rm, CAST([] AS BIGINT[])), i)]
               AS kept,
             t.w AS w
      FROM toks t LEFT JOIN rml r USING (doc_id))
    SELECT CAST(CASE WHEN in_b1 THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
           doc_id,
           coalesce(array_to_string(kept, ' '), '') AS text,
           CAST(len(w) AS BIGINT) AS n_tokens_before,
           CAST(len(kept) AS BIGINT) AS n_tokens_after
    FROM final ORDER BY batch_id, doc_id
    """,
    tags=("tier-c", "dedup_substring", "incremental", "text_scrub"),
)
def incremental_passage_scrub_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental passage scrub
    (operators/dedup.incremental_passage_scrub — completes the incremental
    trio: exact, near, and now substring): ingest the corpus in two
    batches (even doc_ids then odd) with a 60-token boilerplate planted in
    BOTH batches (%10 in (0,1)). Batch 1 keeps its first copy and scrubs
    its internal repeats; batch 2 must scrub every copy — including docs
    whose passage appears only ONCE in batch 2, detectable only through
    the persistent gram store. Store writes use batch_id dynamic
    partition overwrite (exactly-once on replay, pytest-pinned). The
    oracle replays both batches' site flags, the store handoff, the
    canonical-site policy, and every rebuilt text."""
    from sql4pandas_spark.operators.dedup import incremental_passage_scrub

    t = register_tables(spark, sf_dir, ("documents",))
    planted = F.when(
        (F.col("doc_id") % 10).isin(0, 1),
        F.concat(F.col("text"), F.lit(" " + _BOILER60)),
    ).otherwise(F.col("text"))
    corpus = t["documents"].select("doc_id", planted.alias("text"))
    store = os.path.join(_incr_store_root(), uuid.uuid4().hex, "gram_store")
    r1 = incremental_passage_scrub(
        corpus.filter(F.col("doc_id") % 2 == 0), store, min_tokens=50, batch_id=0
    )
    r2 = incremental_passage_scrub(
        corpus.filter(F.col("doc_id") % 2 == 1), store, min_tokens=50, batch_id=1
    )
    out = r1.withColumn("batch_id", F.lit(0)).unionByName(
        r2.withColumn("batch_id", F.lit(1))
    )
    return out.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "doc_id",
        "text",
        F.col("n_tokens_before").cast("long").alias("n_tokens_before"),
        F.col("n_tokens_after").cast("long").alias("n_tokens_after"),
    ).orderBy("batch_id", "doc_id")


@query(
    "drift_psi_documents",
    oracle="""
    WITH old_t AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents),
    new_t AS (
      SELECT CAST(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END
                  AS DOUBLE) AS x
      FROM documents WHERE doc_id % 10 <> 3),
    b AS (SELECT min(x) AS lo, max(x) AS hi FROM old_t),
    ho AS (
      SELECT LEAST(9, GREATEST(0,
               CAST(floor((x - lo) * 10.0 / (hi - lo)) AS INT))) AS bin,
             count(*) AS n_old
      FROM old_t, b GROUP BY 1),
    hn AS (
      SELECT LEAST(9, GREATEST(0,
               CAST(floor((x - lo) * 10.0 / (hi - lo)) AS INT))) AS bin,
             count(*) AS n_new
      FROM new_t, b GROUP BY 1),
    bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
    h AS (
      SELECT bin, coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      FROM bins LEFT JOIN ho USING (bin) LEFT JOIN hn USING (bin)),
    t AS (SELECT sum(n_old) AS so, sum(n_new) AS sn FROM h)
    SELECT bin, n_old, n_new,
           round((n_old + 0.5) / (so + 5.0), 6) AS p,
           round((n_new + 0.5) / (sn + 5.0), 6) AS q,
           round(((n_old + 0.5) / (so + 5.0) - (n_new + 0.5) / (sn + 5.0))
                 * ln(((n_old + 0.5) / (so + 5.0))
                      / ((n_new + 0.5) / (sn + 5.0))), 6) AS psi
    FROM h, t ORDER BY bin
    """,
    tags=("tier-c", "profile_table", "drift", "quality"),
)
def drift_psi_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate (operators/profile.distribution_drift):
    Population Stability Index of n_chars between the documents snapshot
    and a refeed where every 'en' doc doubled in length and doc_id%10==3
    dropped (the snapshot_diff scenario, seen at distribution level —
    "same-ish row count, quietly different corpus"). Fixed-width bins
    from the old snapshot's min/max, add-half smoothing, identical
    single-expression bin assignment on both engines — the oracle
    replays bins, shares, and every PSI contribution exactly. Two
    |bins|-sized count shuffles, nothing else moves."""
    from sql4pandas_spark.operators.profile import distribution_drift

    t = register_tables(spark, sf_dir, ("documents",))
    old = t["documents"].select("doc_id", "lang", "n_chars")
    new = old.filter(F.col("doc_id") % 10 != 3).withColumn(
        "n_chars",
        F.when(F.col("lang") == "en", F.col("n_chars") * 2).otherwise(
            F.col("n_chars")
        ),
    )
    return distribution_drift(old, new, "n_chars", n_bins=10)


@query(
    "drift_lang_mix_documents",
    oracle="""
    WITH old_esc AS (
      SELECT CASE WHEN lang LIKE '<%' THEN '<' || lang ELSE lang END AS v
      FROM documents),
    old_t AS (SELECT coalesce(v, '<null>') AS c FROM old_esc),
    new_raw AS (
      SELECT CASE WHEN source = 'src0' THEN 'xx' ELSE lang END AS v
      FROM documents WHERE doc_id % 10 <> 3),
    new_t AS (
      SELECT coalesce(CASE WHEN v LIKE '<%' THEN '<' || v ELSE v END,
                      '<null>') AS c
      FROM new_raw),
    topk AS (
      SELECT c FROM (
        SELECT c, count(*) AS n FROM old_t GROUP BY c
        ORDER BY n DESC, c LIMIT 50)),
    cats AS (
      SELECT DISTINCT category FROM (
        SELECT c AS category FROM topk
        UNION ALL SELECT '<other>')),
    ho AS (
      SELECT CASE WHEN c IN (SELECT c FROM topk) THEN c
                  ELSE '<other>' END AS category,
             count(*) AS n_old
      FROM old_t GROUP BY 1),
    hn AS (
      SELECT CASE WHEN c IN (SELECT c FROM topk) THEN c
                  ELSE '<other>' END AS category,
             count(*) AS n_new
      FROM new_t GROUP BY 1),
    h AS (
      SELECT category, coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      FROM cats LEFT JOIN ho USING (category) LEFT JOIN hn USING (category)),
    t AS (SELECT sum(n_old) AS so, sum(n_new) AS sn, count(*) AS nb FROM h)
    SELECT category, n_old, n_new,
           round((n_old + 0.5) / (so + 0.5 * nb), 6) AS p,
           round((n_new + 0.5) / (sn + 0.5 * nb), 6) AS q,
           round(((n_old + 0.5) / (so + 0.5 * nb)
                  - (n_new + 0.5) / (sn + 0.5 * nb))
                 * ln(((n_old + 0.5) / (so + 0.5 * nb))
                      / ((n_new + 0.5) / (sn + 0.5 * nb))), 6) AS psi
    FROM h, t ORDER BY category
    """,
    tags=("tier-c", "profile_table", "drift", "data_mix"),
)
def drift_lang_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift gate (operators/profile.categorical_drift): PSI
    of the language mix between the documents snapshot and a refeed where
    every src0 doc was re-identified as a NEW language 'xx' (it lands in
    the '<other>' bucket — the top-K membership comes from the OLD
    snapshot) and doc_id%10==3 dropped. The mix-share counterpart of
    drift_psi_documents; the oracle replays top-K selection, bucketing,
    smoothing, and every PSI contribution exactly."""
    from sql4pandas_spark.operators.profile import categorical_drift

    t = register_tables(spark, sf_dir, ("documents",))
    old = t["documents"].select("doc_id", "lang", "source")
    new = old.filter(F.col("doc_id") % 10 != 3).withColumn(
        "lang",
        F.when(F.col("source") == "src0", F.lit("xx")).otherwise(F.col("lang")),
    )
    return categorical_drift(old, new, "lang")


@query(
    "drift_timeline_events",
    oracle="""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             LEAST(9, GREATEST(0, CAST(floor(
               (CASE WHEN day(ts) >= 16 THEN value * 1.5 ELSE value END)
               * 10.0 / 500.0) AS INT))) AS bin
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    counts AS (SELECT bucket, bin, count(*) AS n FROM e GROUP BY 1, 2),
    bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
    spine AS (
      SELECT bucket, bin
      FROM (SELECT DISTINCT bucket FROM counts) CROSS JOIN bins),
    h AS (
      SELECT spine.bucket, spine.bin, coalesce(counts.n, 0) AS n
      FROM spine LEFT JOIN counts USING (bucket, bin)),
    ref AS (SELECT bin, n AS n_ref FROM h
            WHERE bucket = (SELECT min(bucket) FROM h)),
    tot AS (SELECT bucket, sum(n) AS tb FROM h GROUP BY bucket),
    tr AS (SELECT sum(n_ref) AS trr FROM ref),
    j AS (
      SELECT h.bucket, h.n,
             (ref.n_ref + 0.5) / (tr.trr + 5.0) AS p,
             (h.n + 0.5) / (tot.tb + 5.0) AS q
      FROM h JOIN ref USING (bin) JOIN tot USING (bucket), tr)
    SELECT bucket, CAST(sum(n) AS BIGINT) AS n_rows,
           round(sum(CAST(round((p - q) * ln(p / q) * 1000000.0) AS BIGINT))
                 / 1000000.0, 6) AS psi
    FROM j GROUP BY bucket ORDER BY bucket
    """,
    tags=("tier-c", "profile_table", "drift", "streaming"),
)
def drift_timeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift TIMELINE (operators/profile.drift_timeline): PSI of the
    events value distribution per DAY against the earliest day — the
    "when did this feed start drifting?" monitor, completing the drift
    family (snapshot-vs-snapshot PSI, categorical mix, and now the time
    series). A mid-month regime change is planted (values up 50% from
    day 16) so the timeline must read ~0 for days 1-15 and spike after —
    the oracle replays bucketing, binning, smoothing, and the
    1e-6-quantized contribution sums bucket-for-bucket. One map-combined
    (bucket, bin) count shuffle; everything downstream operates on the
    |days|x|bins| histogram."""
    from sql4pandas_spark.operators.profile import drift_timeline

    t = register_tables(spark, sf_dir, ("events",))
    ev = t["events"].withColumn(
        "value",
        F.when(F.dayofmonth("ts") >= 16, F.col("value") * 1.5).otherwise(
            F.col("value")
        ),
    )
    return drift_timeline(ev, "ts", "value", n_bins=10, lo=0.0, hi=500.0)


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY 1),
    c AS (SELECT (SELECT count(*) FROM s1) AS n1,
                 (SELECT count(*) FROM s2) AS n2,
                 (SELECT count(*) FROM s3) AS n3)
    SELECT step, event_type, n_users,
           CASE WHEN n1 > 0 THEN round(n_users * 100.0 / n1, 4) END
             AS pct_of_first
    FROM (
      SELECT 1 AS step, 'view' AS event_type, n1 AS n_users, n1 FROM c
      UNION ALL SELECT 2, 'click', n2, n1 FROM c
      UNION ALL SELECT 3, 'purchase', n3, n1 FROM c)
    ORDER BY step
    """,
    tags=("tier-c", "behavior", "funnel", "agg_group", "array_fns"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (operators/behavior.funnel): users who
    viewed, then clicked strictly after within 24h of the first view,
    then purchased strictly after the click inside the same 24h window
    (first-touch anchoring — 150 -> 60 -> 14 at sf0.01, so every stage
    of the chain discriminates). ONE groupBy(user) shuffle of
    step-type-filtered events folded through a JVM higher-order
    aggregate; the oracle replays the equivalent iterative
    min-strictly-after definition."""
    from sql4pandas_spark.operators.behavior import funnel

    t = register_tables(spark, sf_dir, ("events",))
    return funnel(
        t["events"],
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within_seconds=24 * 3600,
    )


@query(
    "cohort_retention_purchases",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS period
      FROM events
      WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    f AS (SELECT user_id, min(period) AS cohort FROM p GROUP BY 1),
    sz AS (SELECT cohort, count(*) AS n_cohort FROM f GROUP BY 1),
    r AS (
      SELECT f.cohort,
             CAST(date_diff('day', CAST(f.cohort AS DATE),
                            CAST(p.period AS DATE)) / 7 AS INT)
               AS period_offset,
             count(DISTINCT p.user_id) AS n_active
      FROM p JOIN f USING (user_id) GROUP BY 1, 2)
    SELECT r.cohort, r.period_offset, r.n_active,
           round(r.n_active * 100.0 / sz.n_cohort, 4) AS retention_pct
    FROM r JOIN sz USING (cohort)
    ORDER BY cohort, period_offset
    """,
    tags=("tier-c", "behavior", "cohort", "agg_distinct", "date_fns"),
)
def cohort_retention_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/behavior.cohort_retention) on
    PURCHASE events: users cohorted by their first-purchase week, counted
    in every later week they purchased again — the repeat-buyer matrix
    (two cohorts at sf0.01: 143 week-1 and 7 week-2 buyers, retention
    decaying below 100, so offsets and percentages both discriminate).
    Activity collapses to distinct (user, week) pairs before any join;
    all shuffles carry (user, period) only."""
    from sql4pandas_spark.operators.behavior import cohort_retention

    t = register_tables(spark, sf_dir, ("events",))
    return cohort_retention(
        t["events"].filter(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        bucket="week",
    )


@query(
    "classifier_calibrated_gate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {text.DUCKDB_CLF_SCORE_SQL.format(w="w", n=256)} AS score
      FROM toks),
    se6 AS (
      SELECT doc_id, lang, CAST(round(score * 1000000) AS BIGINT) AS score_e6
      FROM scored),
    thresh AS (
      -- integer-space p25 (see classifier_gate_per_lang): exact, no
      -- 6dp rounding for a 1-ulp interpolation difference to flip
      SELECT CAST(quantile_cont(score_e6, 0.25) * 4 AS BIGINT) AS t
      FROM se6)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score_e6 * 4 >= t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           t AS threshold_e6x4
    FROM se6, thresh
    GROUP BY lang, t ORDER BY lang
    """,
    tags=("tier-c", "quality", "classifier", "agg_stats"),
)
def classifier_calibrated_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-calibrated quality gate: instead of a hand-picked 0.5,
    the keep-threshold is the corpus's exact p25 of the classifier score
    (drop the worst quartile — calibration by observed distribution, the
    way production quality gates are actually tuned). One scoring pass
    (zero shuffles); the threshold is ONE exact-percentile aggregate whose
    buffer holds all scores on the final reducer — oracle-exact here, and
    at the 100 TB design point the same plan takes F.approx_percentile
    (fixed-size sketch state) instead, exactly as profile_columns'
    exact/approx split. The 1-row threshold broadcasts back via crossJoin
    into one grouped count — per-language kept/total accounting. The
    oracle replays scores, quantile_cont interpolation, and the gate
    exactly."""
    from sql4pandas_spark.operators.text import hashed_logistic_score

    t = register_tables(spark, sf_dir, ("documents",))
    scored = hashed_logistic_score(t["documents"]).select(
        "doc_id",
        "lang",
        F.round(F.col("score") * 1e6).cast("long").alias("score_e6"),
    )
    thresh = scored.agg(
        (F.percentile("score_e6", F.lit(0.25)) * 4)
        .cast("long")
        .alias("threshold_e6x4")
    )
    return (
        scored.crossJoin(F.broadcast(thresh))
        .groupBy("lang", "threshold_e6x4")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("score_e6") * 4 >= F.col("threshold_e6x4")).cast("long")
            ).alias("n_kept"),
        )
        .select("lang", "n_docs", "n_kept", "threshold_e6x4")
        .orderBy("lang")
    )


def _stage_changeset_file(df: DataFrame, landing_dir: str, fname: str) -> None:
    """Land a changeset as ONE plain parquet file (what a CDC feed drops
    into the landing directory the file stream source watches). Spark
    writes a part-file directory; the single part file is copied out."""
    stage = os.path.join(landing_dir, f"_stage_{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.makedirs(landing_dir, exist_ok=True)
    shutil.copyfile(os.path.join(stage, part), os.path.join(landing_dir, fname))
    shutil.rmtree(stage, ignore_errors=True)


@query(
    "stream_cdc_apply",
    oracle="""
    WITH snap0 AS (SELECT doc_id, lang, n_chars FROM documents),
    c1 AS (
      SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'update' AS op
      FROM snap0 WHERE doc_id % 10 = 2
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete' AS op
      FROM snap0 WHERE doc_id % 10 = 5
      UNION ALL
      SELECT doc_id + 5000000, lang, n_chars, 'insert' AS op
      FROM snap0 WHERE doc_id % 100 = 9),
    snap1 AS (
      SELECT s.doc_id, s.lang, s.n_chars FROM snap0 s
      WHERE NOT EXISTS (SELECT 1 FROM c1 WHERE c1.doc_id = s.doc_id)
      UNION ALL
      SELECT doc_id, lang, n_chars FROM c1 WHERE op <> 'delete'),
    c2 AS (
      SELECT doc_id + 5000000 AS doc_id, lang, n_chars + 7 AS n_chars,
             'update' AS op
      FROM snap0 WHERE doc_id % 100 = 9
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete' AS op
      FROM snap0 WHERE doc_id % 100 = 2
      UNION ALL
      SELECT doc_id, lang, n_chars * 2 AS n_chars, 'insert' AS op
      FROM snap0 WHERE doc_id % 10 = 7
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete' AS op
      FROM snap0 WHERE doc_id % 100 = 55),
    post AS (
      SELECT s.doc_id, s.lang, s.n_chars FROM snap1 s
      WHERE NOT EXISTS (SELECT 1 FROM c2 WHERE c2.doc_id = s.doc_id)
      UNION ALL
      SELECT doc_id, lang, n_chars FROM c2 WHERE op <> 'delete')
    SELECT doc_id, lang, n_chars FROM post ORDER BY doc_id
    """,
    tags=("tier-c", "merge_upsert", "scan_stream", "foreach_batch", "incremental"),
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC apply (streaming/cdc.py): a changeset stream merged
    into a versioned keyed snapshot via readStream -> foreachBatch ->
    merge_upsert, exactly-once by construction (batch k reads v{k},
    overwrites v{k+1}; a replayed batch rewrites the same version from
    the same input). Two real availableNow drains share one checkpoint —
    the second RESUMES batch numbering and picks up only the newly-landed
    file, the periodic-ingest production shape. Batch 1: updates
    (%10==2: +1000), deletes (%10==5), inserts (%100==9 under +5M ids).
    Batch 2: updates the batch-1 inserts (+7), deletes %100==2,
    insert-on-present-key replaces %10==7 (doubled n_chars), and a
    delete of an already-deleted key (%100==55 — must no-op). The oracle
    rebuilds both snapshot generations sequentially and replays the
    final state row-for-row; crash-replay idempotence and seq_col
    ordering are pinned in tests/test_round8_ops.py."""
    from sql4pandas_spark.streaming import cdc

    t = register_tables(spark, sf_dir, ("documents",))
    snap = t["documents"].select("doc_id", "lang", "n_chars")
    root, land, ckpt = _scratch_dirs("cdc_snapshot", "cdc_landing", "cdc_ckpt")
    os.makedirs(land, exist_ok=True)
    cdc.seed_snapshot(snap, root)

    c1 = (
        snap.filter(F.col("doc_id") % 10 == 2)
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        .withColumn("op", F.lit("update"))
        .unionByName(
            snap.filter(F.col("doc_id") % 10 == 5).withColumn("op", F.lit("delete"))
        )
        .unionByName(
            snap.filter(F.col("doc_id") % 100 == 9)
            .withColumn("doc_id", F.col("doc_id") + F.lit(5_000_000))
            .withColumn("op", F.lit("insert"))
        )
    )
    c2 = (
        snap.filter(F.col("doc_id") % 100 == 9)
        .withColumn("doc_id", F.col("doc_id") + F.lit(5_000_000))
        .withColumn("n_chars", F.col("n_chars") + F.lit(7))
        .withColumn("op", F.lit("update"))
        .unionByName(
            snap.filter(F.col("doc_id") % 100 == 2).withColumn("op", F.lit("delete"))
        )
        .unionByName(
            snap.filter(F.col("doc_id") % 10 == 7)
            .withColumn("n_chars", F.col("n_chars") * F.lit(2))
            .withColumn("op", F.lit("insert"))
        )
        .unionByName(
            snap.filter(F.col("doc_id") % 100 == 55).withColumn("op", F.lit("delete"))
        )
    )

    _stage_changeset_file(c1, land, "changes_00.parquet")
    stream = spark.readStream.schema(c1.schema).parquet(land)
    cdc.run_cdc_stream(stream, root, ["doc_id"], checkpoint=ckpt)

    _stage_changeset_file(c2, land, "changes_01.parquet")
    stream = spark.readStream.schema(c1.schema).parquet(land)
    cdc.run_cdc_stream(stream, root, ["doc_id"], checkpoint=ckpt)

    return cdc.latest_snapshot(spark, root).orderBy("doc_id")


_SPLIT_HASH = text.DUCKDB_HASH60_SQL.format(expr="CAST(doc_id AS VARCHAR)")


@query(
    "dataset_split_assign",
    oracle=f"""
    WITH b AS (
      SELECT lang, ({_SPLIT_HASH}) % 1000000 AS bucket FROM documents),
    a AS (
      SELECT lang,
             CASE WHEN bucket < 900000 THEN 'train'
                  WHEN bucket < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM b)
    SELECT split, lang, count(*) AS n_docs
    FROM a GROUP BY split, lang ORDER BY split, lang
    """,
    tags=("tier-c", "data_mix", "sample", "split"),
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed train/val/test split
    (operators/sampling.split_assign): 90/5/5 by a portable hash of
    doc_id against integer bucket boundaries — the same document lands in
    the same split on every run, engine, and corpus refeed (the
    assignment-time prevention of the train→test contamination that
    split_leakage_audit detects after the fact). One map-side expression,
    zero shuffles; the entry reports the per-(split, lang) mix and the
    oracle replays hash, bucketing, and boundaries exactly."""
    from sql4pandas_spark.operators.sampling import split_assign

    t = register_tables(spark, sf_dir, ("documents",))
    assigned = split_assign(
        t["documents"], "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


@query(
    "outlier_docs_by_lang",
    oracle="""
    WITH m AS (
      SELECT lang AS g, CAST(round(median(n_chars) * 2) AS BIGINT) AS med_x2
      FROM documents GROUP BY 1),
    d AS (
      SELECT doc_id, d.lang, n_chars, med_x2,
             abs(n_chars * 2 - med_x2) AS dev_x2
      FROM documents d JOIN m ON d.lang = m.g),
    mad AS (
      SELECT lang, CAST(round(median(dev_x2) * 2) AS BIGINT) AS mad_x4
      FROM d GROUP BY 1)
    SELECT doc_id, d.lang, n_chars, med_x2, mad.mad_x4, dev_x2
    FROM d JOIN mad USING (lang)
    WHERE dev_x2 * 2 > 2 * mad_x4
    ORDER BY doc_id
    """,
    tags=("tier-c", "anomaly", "outlier", "profile", "quality"),
)
def outlier_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level robust outliers (operators/profile.robust_outlier_rows):
    documents whose n_chars sits more than 2 MADs from their language's
    median — the "absurd length for its language" data-cleaning flag that
    mean/stddev z-scores miss under skew. Per-lang median and MAD are
    |langs|-row aggregates broadcast back; exact-half medians ride as
    ×2/×4 BIGINTs and the flag is pure integer arithmetic, replayed
    bit-for-bit by the oracle (21 real outliers at sf0.01). The declared
    100 TB path is exact=False (approx_percentile medians, fixed sketch
    state per group)."""
    from sql4pandas_spark.operators.profile import robust_outlier_rows

    t = register_tables(spark, sf_dir, ("documents",))
    return (
        robust_outlier_rows(t["documents"], "n_chars", "lang", k=2)
        .select("doc_id", "lang", "n_chars", "med_x2", "mad_x4", "dev_x2")
        .orderBy("doc_id")
    )


@query(
    "chisq_lang_source",
    oracle="""
    WITH c AS (
      SELECT CAST(lang AS VARCHAR) AS a, CAST(source AS VARCHAR) AS b,
             count(*) AS n
      FROM documents GROUP BY 1, 2),
    ra AS (SELECT a, sum(n) AS n_a FROM c GROUP BY 1),
    cb AS (SELECT b, sum(n) AS n_b FROM c GROUP BY 1),
    tot AS (SELECT sum(n) AS n_tot FROM c),
    grid AS (SELECT ra.a, cb.b FROM ra, cb),
    filled AS (
      SELECT g.a, g.b, coalesce(c.n, 0) AS n
      FROM grid g LEFT JOIN c ON g.a = c.a AND g.b = c.b)
    SELECT f.a AS lang, f.b AS source, f.n,
           CAST(round(n_a * n_b / n_tot * 1000000) AS BIGINT) AS expected_e6,
           CAST(round((f.n - n_a * n_b / n_tot) * (f.n - n_a * n_b / n_tot)
                      / (n_a * n_b / n_tot) * 1000000) AS BIGINT) AS chi2_e6
    FROM filled f JOIN ra USING (a) JOIN cb USING (b), tot
    ORDER BY lang, source
    """,
    tags=("tier-c", "profile", "association", "chisq"),
)
def chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency analysis
    (operators/profile.categorical_association) between lang and source —
    "did language mix become correlated with source?", the ASSOCIATION
    sibling of the PSI drift gates (those compare one column across
    snapshots; this crosses two columns in one snapshot). All 100 cells
    (20 sources × 5 langs) including zero-observed ones (which still
    contribute (0−e)²/e = e); one map-combined groupBy(lang, source)
    count is the only pass over data rows, marginals are aggregates over
    the once-materialized bounded counts frame, and every expected value /
    contribution is 1e-6-quantized to BIGINT so the oracle replays the
    statistic bit-for-bit. sum(chi2_e6)/1e6 vs χ²((|a|−1)(|b|−1)) is the
    headline independence test."""
    from sql4pandas_spark.operators.profile import categorical_association

    t = register_tables(spark, sf_dir, ("documents",))
    return categorical_association(t["documents"], "lang", "source")


@query(
    "anomaly_hours_events",
    oracle="""
    WITH b AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS bucket_ts,
             count(*) AS n_events
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT grp, CAST(round(median(n_events) * 2) AS BIGINT) AS med_x2
      FROM b GROUP BY 1),
    d AS (
      SELECT b.grp, bucket_ts, n_events, med_x2,
             abs(n_events * 2 - med_x2) AS dev_x2
      FROM b JOIN m USING (grp)),
    mad AS (
      SELECT grp, CAST(round(median(dev_x2) * 2) AS BIGINT) AS mad_x4
      FROM d GROUP BY 1)
    SELECT d.grp AS event_type, bucket_ts, n_events, med_x2, mad_x4, dev_x2
    FROM d JOIN mad USING (grp)
    WHERE dev_x2 * 2 > 3 * mad_x4
    ORDER BY event_type, bucket_ts
    """,
    tags=("tier-c", "anomaly", "timeseries", "profile"),
)
def anomaly_hours_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection (operators/profile.mad_anomalies)
    over hourly event counts per type: buckets whose count deviates from
    the type's median by more than 3 median-absolute-deviations — the
    outage/spike/bot-burst detector a mean/stddev z-score misses (a big
    spike inflates the stddev enough to hide itself; the MAD has
    breakdown point 0.5). One map-combined groupBy over events is the
    only data pass; medians/MADs are |types|-row aggregates over the
    shuffle-reused bucket-count frame, broadcast back. Exact-half medians ride
    as ×2/×4 BIGINTs so the flag is pure integer arithmetic — the oracle
    replays every statistic bit-for-bit (the sf0.01 fixture has ~90 real
    anomalous hours across the 5 types)."""
    from sql4pandas_spark.operators.profile import mad_anomalies

    t = register_tables(spark, sf_dir, ("events",))
    return mad_anomalies(t["events"], "ts", "event_type", bucket="hour", k=3).orderBy(
        "event_type", "bucket_ts"
    )


@query(
    "key_skew_profile_events",
    oracle="""
    WITH counts AS (
      SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
      FROM events GROUP BY 1),
    stats AS (
      SELECT sum(n_rows) AS total_rows, count(*) AS n_keys FROM counts),
    top AS (
      SELECT key, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, key ASC NULLS FIRST)
               AS rnk
      FROM counts ORDER BY n_rows DESC, key ASC NULLS FIRST LIMIT 10)
    SELECT CAST(rnk AS INT) AS rank, key, n_rows,
           CAST(floor(n_rows * 10000 / total_rows) AS BIGINT) AS share_bp,
           CAST(floor(n_rows * 100 * n_keys / total_rows) AS BIGINT)
             AS skew_x100,
           CAST(total_rows AS BIGINT) AS total_rows,
           CAST(n_keys AS BIGINT) AS n_keys
    FROM top, stats ORDER BY rank
    """,
    tags=("tier-c", "profile", "skew", "diagnostics"),
)
def key_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (operators/profile.key_skew_profile) over
    the event log's user key — the report a 100 TB pipeline reads BEFORE
    shuffling on a key, deciding plain equi-join vs salted_join vs AQE
    skew handling. One map-combined groupBy(key) count is the only pass
    over data rows; the summary is a 1-row aggregate over the |keys|
    frame, the hot-key list a TakeOrdered top-10, and every derived
    metric (basis-point share, ×100 mean-multiple) is integer arithmetic
    so the report hash-matches across engines."""
    from sql4pandas_spark.operators.profile import key_skew_profile

    t = register_tables(spark, sf_dir, ("events",))
    return key_skew_profile(t["events"], "user_id", top_k=10).orderBy("rank")


_CLUSTER_SPLIT_HASH = text.DUCKDB_HASH60_SQL.format(
    expr="CAST(cluster_id AS VARCHAR)"
)


@query(
    "cluster_safe_split",
    oracle=_MINHASH_REACH_CTES + f"""
    , labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
                 FROM reach GROUP BY src),
    assigned AS (
      SELECT cluster_id,
             CASE WHEN h < 900000 THEN 'train'
                  WHEN h < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, cluster_id,
                   ({_CLUSTER_SPLIT_HASH}) % 1000000 AS h
            FROM labels))
    SELECT split, count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters
    FROM assigned GROUP BY split ORDER BY split
    """,
    tags=("tier-c", "split", "dedup_near", "leakage"),
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment
    (operators/sampling.group_safe_split): the 90/5/5 split is keyed on
    the near-dup CLUSTER id (operators/dedup.near_dedup_minhash), so a
    near-copy of a train document can never land in val/test — the
    assignment-time PREVENTION of the contamination `split_leakage_audit`
    detects post-hoc (its sf0.01 fixture really has 3/25 near-dup pairs
    crossing a doc-keyed boundary; cluster-keying makes that count
    structurally zero, pytest-pinned). Scale shape: clustering is the
    standalone banded near-dedup (ids shuffle, text doesn't), then ONE
    ids-only equi-join and the zero-shuffle hash-vs-integer-bounds
    assignment. The oracle recomputes exact-Jaccard ground-truth
    clusters via the shared recursive closure, replays the identical
    cluster-id hash and boundaries, and checks per-split doc AND cluster
    counts — Σ n_clusters across splits equals the total cluster count
    exactly because no cluster spans two splits."""
    from sql4pandas_spark.operators.sampling import group_safe_split

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    labels = dedup.near_dedup_minhash(docs)
    assigned = group_safe_split(
        docs, labels, {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


@query(
    "scan_schema_evolution",
    oracle="""
    WITH a AS (
      SELECT doc_id, lang, CAST(NULL AS DOUBLE) AS quality_score
      FROM documents WHERE doc_id % 2 = 0),
    b AS (
      SELECT doc_id, lang, round(n_chars / 1000.0, 4) AS quality_score
      FROM documents WHERE doc_id % 2 = 1),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(quality_score) AS BIGINT) AS n_scored,
           round(sum(CAST(round(quality_score * 10000) AS BIGINT)) / 10000.0, 2)
             AS total_score
    FROM u GROUP BY lang ORDER BY lang
    """,
    tags=("tier-c", "scan_parquet", "schema_evolution"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the 100 TB lake reality
    that a dataset's early files predate columns its later files carry.
    Generation 1 (even doc_ids) is written WITHOUT quality_score;
    generation 2 (odd doc_ids) adds it. ``mergeSchema=true`` unions the
    footer schemas at read time, old files yielding NULL for the new
    column — no rewrite of the old petabytes. (Spark only pays the
    footer-merge when asked: the option is per-read, and at scale the
    merged schema comes from a bounded sample of footers, not a full
    listing scan.) The aggregate counts scored vs unscored docs per lang;
    the oracle replays the generation split and NULL semantics exactly."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    (out,) = _scratch_dirs("schema_evolution")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        F.round(F.col("n_chars") / F.lit(1000.0), 4).alias("quality_score"),
    )
    gen1.write.mode("overwrite").parquet(out)
    gen2.write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    # sum the 4dp-quantized scores as INTEGERS (×10000) so the group
    # total is partition-order-independent, then scale back once — the
    # repo-wide integer-summation convention (a double sum could land on
    # a .005 midpoint where the 2dp round flips between engines/runs)
    score_e4 = F.round(F.col("quality_score") * F.lit(10000)).cast("long")
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("quality_score").alias("n_scored"),
            F.round(F.sum(score_e4) / F.lit(10000.0), 2).alias("total_score"),
        )
        .orderBy("lang")
    )


@query(
    "ann_ivf_persistent_top10",
    oracle="""
    SELECT e.vec_id,
           round(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
                 AS DOUBLE), 4) AS sim
    FROM embeddings e
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    tags=("tier-c", "sim_search_ann", "incremental"),
)
def ann_ivf_persistent_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTENT IVF index lifecycle (operators/similarity.save/add/load):
    build on the even vec_ids, SAVE as parquet sidecar metadata
    (centroids + 8-byte-per-vector assignments partitioned by
    (batch_id, cell) — probed-cell filters prune partitions on disk),
    incrementally ADD the odd vec_ids against the frozen centroids
    (faiss add() semantics, batch-partition overwrite = exactly-once on
    replay), LOAD in a fresh index object, and query at full probe —
    mathematically exact regardless of how vectors were batched in, so
    the brute-force oracle hash-checks the whole build→save→add→load→
    query chain. Narrow-probe recall and replay idempotence are pinned in
    tests/test_similarity.py."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"].filter(F.col("vec_id") != 0)
    (root,) = _scratch_dirs("ivf_index")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    added = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.build_ivf_index(base, n_cells=16)
    similarity.save_ivf_index(idx, root)
    idx.assigned.unpersist()
    similarity.add_to_ivf_index(added, root, batch_id=1)
    loaded = similarity.load_ivf_index(emb, root)
    return similarity.ivf_query_topk(
        loaded, _query_vector(sf_dir), k=10, n_probe=16
    )


@query(
    "classifier_gate_per_lang",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {text.DUCKDB_CLF_SCORE_SQL.format(w="w", n=256)} AS score
      FROM toks),
    se6 AS (
      SELECT doc_id, lang, CAST(round(score * 1000000) AS BIGINT) AS score_e6
      FROM scored),
    th AS (
      -- integer-space p25: scores are 6dp-quantized, so interpolating
      -- their e6 integers at 0.25 (lo + (hi-lo)/4) is EXACTLY
      -- representable and x4 recovers an integer — no float rounding for
      -- a threshold to flip on (a round(quantile, 6) threshold flipped
      -- by 1 ulp on one language at sf0.1)
      SELECT lang, CAST(quantile_cont(score_e6, 0.25) * 4 AS BIGINT)
               AS threshold_e6x4
      FROM se6 GROUP BY lang)
    SELECT s.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score_e6 * 4 >= threshold_e6x4
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           threshold_e6x4
    FROM se6 s JOIN th USING (lang)
    GROUP BY s.lang, threshold_e6x4 ORDER BY s.lang
    """,
    tags=("tier-c", "quality", "classifier", "data_mix"),
)
def classifier_gate_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE calibrated quality gate: each language's
    keep-threshold is ITS OWN p25 score — the production multilingual
    form, because a single global threshold systematically drops
    low-resource languages whose score distribution sits lower (an
    artifact of token statistics, not quality). Same plan shape as
    classifier_calibrated_gate but the threshold aggregate is per-stratum
    (|langs| rows, broadcast equi-join back instead of a scalar
    crossJoin) — and the same exact-percentile honesty note applies:
    swap F.approx_percentile at the 100 TB design point. The threshold
    lives in e6-INTEGER space: p25 interpolation of integers
    (lo + (hi-lo)/4) is exactly representable and x4 recovers a BIGINT,
    so no float rounding exists for engines to disagree on (the previous
    round(quantile, 6) form flipped by 1 ulp on one language at sf0.1 —
    caught by this round's sf0.1 rehearsal). Every language keeps ~75%
    of its own docs by construction; the oracle replays the integer
    interpolation and the gate exactly."""
    from sql4pandas_spark.operators.text import hashed_logistic_score

    t = register_tables(spark, sf_dir, ("documents",))
    scored = hashed_logistic_score(t["documents"]).select(
        "doc_id",
        "lang",
        F.round(F.col("score") * 1e6).cast("long").alias("score_e6"),
    )
    th = scored.groupBy("lang").agg(
        (F.percentile("score_e6", F.lit(0.25)) * 4)
        .cast("long")
        .alias("threshold_e6x4")
    )
    return (
        scored.join(F.broadcast(th), "lang")
        .groupBy("lang", "threshold_e6x4")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("score_e6") * 4 >= F.col("threshold_e6x4")).cast("long")
            ).alias("n_kept"),
        )
        .select("lang", "n_docs", "n_kept", "threshold_e6x4")
        .orderBy("lang")
    )


_INCR_PIPE_ORACLE = f"""
WITH RECURSIVE
base AS (SELECT doc_id, text, n_chars FROM documents),
corpus AS MATERIALIZED (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 10 IN (0, 1) AND n_chars >= 300
              THEN text || ' {_BOILER60}' ELSE text END AS text
  FROM base),
plants AS (
  SELECT doc_id + 7000000 AS doc_id, text FROM corpus WHERE doc_id % 40 = 2
  UNION ALL
  SELECT doc_id + 8000000, text || ' near duplicate copy'
  FROM corpus WHERE doc_id % 40 = 4 AND n_chars >= 300),
allb AS (
  SELECT CAST(0 AS BIGINT) AS b, doc_id, text FROM corpus WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 1, doc_id, text FROM corpus WHERE doc_id % 2 = 1
  UNION ALL
  SELECT 1, doc_id, text FROM plants),
toks AS MATERIALIZED (
  SELECT b, doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS w
  FROM allb),
gated AS MATERIALIZED (
  SELECT * FROM toks
  WHERE {text.DUCKDB_CLF_SCORE_SQL.format(w="w", n=256)} >= 0.5),
ex_store1 AS (SELECT DISTINCT text FROM gated WHERE b = 0),
ex1 AS (
  SELECT b, doc_id, text, w FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gated WHERE b = 0) WHERE rn = 1),
ex2 AS (
  SELECT b, doc_id, text, w FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gated
    WHERE b = 1 AND text NOT IN (SELECT text FROM ex_store1)) WHERE rn = 1),
ex AS MATERIALIZED (SELECT * FROM ex1 UNION ALL SELECT * FROM ex2),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                      THEN [array_to_string(list_slice(w, i, i+2), ' ')
                            FOR i IN range(1, len(w)-1)]
                      ELSE [array_to_string(w, ' ')] END) AS shingle
        FROM ex)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN card ca ON inter.id_a = ca.doc_id
             JOIN card cb ON inter.id_b = cb.doc_id
  WHERE round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 4) >= 0.7),
edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
b1_edges AS (
  SELECT e.src, e.dst FROM edges e
  JOIN ex s ON e.src = s.doc_id AND s.b = 0
  JOIN ex d ON e.dst = d.doc_id AND d.b = 0),
b1_reach(src, dst) AS (
  SELECT doc_id, doc_id FROM ex WHERE b = 0
  UNION
  SELECT r.src, e.dst FROM b1_reach r JOIN b1_edges e ON r.dst = e.src),
adm1 AS (
  SELECT DISTINCT rep AS doc_id
  FROM (SELECT src, min(dst) AS rep FROM b1_reach GROUP BY src)),
rej2 AS (
  SELECT DISTINCT e.src AS doc_id
  FROM edges e
  JOIN ex x ON e.src = x.doc_id AND x.b = 1
  JOIN adm1 a ON e.dst = a.doc_id),
surv2 AS (
  SELECT doc_id FROM ex WHERE b = 1
  AND doc_id NOT IN (SELECT doc_id FROM rej2)),
s2_edges AS (
  SELECT e.src, e.dst FROM edges e
  JOIN surv2 s ON e.src = s.doc_id
  JOIN surv2 d ON e.dst = d.doc_id),
s2_reach(src, dst) AS (
  SELECT doc_id, doc_id FROM surv2
  UNION
  SELECT r.src, e.dst FROM s2_reach r JOIN s2_edges e ON r.dst = e.src),
adm2 AS (
  SELECT DISTINCT rep AS doc_id
  FROM (SELECT src, min(dst) AS rep FROM s2_reach GROUP BY src)),
adm AS MATERIALIZED (
  SELECT e.b, e.doc_id, e.w FROM ex e JOIN adm1 a ON e.doc_id = a.doc_id
  UNION ALL
  SELECT e.b, e.doc_id, e.w FROM ex e JOIN adm2 a ON e.doc_id = a.doc_id),
sites AS MATERIALIZED (
  SELECT b, doc_id, s['pos'] AS pos, s['gram'] AS gram
  FROM (SELECT b, doc_id,
               unnest([{{'pos': i,
                        'gram': array_to_string(list_slice(w, i, i + 49), ' ')}}
                       FOR i IN range(1, len(w) - 48)]) AS s
        FROM adm WHERE len(w) >= 50)),
gstore1 AS MATERIALIZED (SELECT DISTINCT gram FROM sites WHERE b = 0),
f1 AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY gram) AS n_sites,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM sites WHERE b = 0),
flag1 AS (SELECT doc_id, pos, rn = 1 AS canon FROM f1 WHERE n_sites >= 2),
s2s AS (
  SELECT s.doc_id, s.pos, s.gram, g.gram IS NOT NULL AS seen
  FROM (SELECT * FROM sites WHERE b = 1) s
  LEFT JOIN gstore1 g USING (gram)),
f2 AS (
  SELECT doc_id, pos, seen,
         count(*) OVER (PARTITION BY gram) AS n_sites,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM s2s),
flag2 AS (
  SELECT doc_id, pos, (NOT seen AND rn = 1) AS canon
  FROM f2 WHERE seen OR n_sites >= 2),
flags AS MATERIALIZED (SELECT * FROM flag1 UNION ALL SELECT * FROM flag2),
poss AS (
  SELECT doc_id, unnest(range(pos, pos + 50)) AS p, canon FROM flags),
rmc AS (
  SELECT doc_id, count(*) AS n_rm
  FROM (SELECT doc_id, p FROM poss
        GROUP BY doc_id, p HAVING NOT bool_or(canon))
  GROUP BY doc_id),
scrubbed AS MATERIALIZED (
  SELECT a.b, a.doc_id,
         CAST(len(a.w) AS BIGINT) AS n_before,
         CAST(len(a.w) - coalesce(r.n_rm, 0) AS BIGINT) AS n_after
  FROM adm a LEFT JOIN rmc r USING (doc_id)),
spl AS MATERIALIZED (
  SELECT b, doc_id,
         CASE WHEN ({_SPLIT_HASH}) % 1000000 < 900000 THEN 'train'
              WHEN ({_SPLIT_HASH}) % 1000000 < 950000 THEN 'val'
              ELSE 'test' END AS split
  FROM scrubbed),
metrics AS (
  SELECT b AS batch_id, 'gate_seen' AS metric,
         CAST(count(*) AS BIGINT) AS value FROM toks GROUP BY b
  UNION ALL SELECT b, 'gate_kept', CAST(count(*) AS BIGINT)
    FROM gated GROUP BY b
  UNION ALL SELECT b, 'exact_kept', CAST(count(*) AS BIGINT)
    FROM ex GROUP BY b
  UNION ALL SELECT b, 'near_admitted', CAST(count(*) AS BIGINT)
    FROM adm GROUP BY b
  UNION ALL SELECT b, 'tokens_before', CAST(sum(n_before) AS BIGINT)
    FROM scrubbed GROUP BY b
  UNION ALL SELECT b, 'tokens_after', CAST(sum(n_after) AS BIGINT)
    FROM scrubbed GROUP BY b
  UNION ALL SELECT b, 'split_' || split, CAST(count(*) AS BIGINT)
    FROM spl GROUP BY b, split)
SELECT batch_id, metric, value FROM metrics ORDER BY batch_id, metric
"""


@query(
    "incremental_pipeline_batches",
    oracle=_INCR_PIPE_ORACLE,
    tags=(
        "tier-c", "pipeline", "incremental", "quality", "dedup_exact",
        "dedup_near", "dedup_substring", "split", "audit_gate",
    ),
)
def incremental_pipeline_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED incremental-ingestion pipeline — one batch function
    chaining every cross-batch curation stage the incremental family
    provides, in the order a production corpus feed runs them:

      classifier gate (hashed_logistic_score >= 0.5, observe-audited)
        -> incremental EXACT dedup   (persistent digest store, batch_id
                                      dynamic-overwrite exactly-once)
        -> incremental NEAR dedup    (persistent band+shingle store)
        -> incremental PASSAGE scrub (persistent gram store, batch_id)
        -> deterministic split assignment (90/5/5 keyed hash)

    Two batches (even doc_ids, then odd) with three plant families making
    every cross-batch path load-bearing: a 60-token boilerplate appended
    in BOTH batches (%10 in (0,1), n_chars >= 300 so boiler-sharing docs
    stay far below the 0.7 near threshold), re-ided EXACT copies of
    batch-1 docs (%40==2 -> +7M, must be rejected by the digest store),
    and re-ided NEAR copies (%40==4, n_chars >= 300 -> +8M, 4 appended
    tokens, must be rejected by the band-store join + exact verify).

    Per-stage counters ride the EXISTING actions via the Observation API
    (operators/audit.filter_with_audit for the gate; observe() taps on
    the exact/near outputs) — zero extra scans, the 100 TB accounting
    discipline. The returned frame is the pipeline's run report:
    (batch_id, metric, value) covering batch sizes, per-stage survivors,
    pre/post-scrub token totals, and the split mix; the oracle replays
    the ENTIRE two-batch chain — gate scores, text-equality exact dedup
    with store handoff, the exact Jaccard pair graph with per-batch
    transitive closure and cross-batch rejection, gram-level passage
    flags against the batch-1 gram store, and the split hash — so a hash
    match proves the five stages compose without semantic drift.

    Scale shape: every stage is the same operator its standalone entry
    declares (574fe30:tools/dedup_scale_probe.py, passage_skew_probe.py); the
    composition adds NO new shuffle — stage outputs hand off as narrow
    (doc_id, text) frames, stores stay digest/gram-sized, and the report
    is bounded driver-side metadata assembled from observations.
    """
    from pyspark.sql import Observation

    from sql4pandas_spark.operators.audit import (
        filter_with_audit,
        observation_or_recount,
    )
    from sql4pandas_spark.operators.sampling import split_assign
    from sql4pandas_spark.operators.text import hashed_logistic_score

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    boiler = F.when(
        (F.col("doc_id") % 10).isin(0, 1) & (F.col("n_chars") >= 300),
        F.concat(F.col("text"), F.lit(" " + _BOILER60)),
    ).otherwise(F.col("text"))
    corpus = docs.select("doc_id", boiler.alias("text"), "n_chars")
    exact_plants = corpus.filter(F.col("doc_id") % 40 == 2).select(
        (F.col("doc_id") + F.lit(7_000_000)).alias("doc_id"), "text"
    )
    near_plants = corpus.filter(
        (F.col("doc_id") % 40 == 4) & (F.col("n_chars") >= 300)
    ).select(
        (F.col("doc_id") + F.lit(8_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate copy")).alias("text"),
    )
    b1 = corpus.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b2 = (
        corpus.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(exact_plants)
        .unionByName(near_plants)
    )

    root = os.path.join(_incr_store_root(), uuid.uuid4().hex)
    rows: list[tuple[int, str, int]] = []
    for k, batch in ((0, b1), (1, b2)):
        scored = hashed_logistic_score(batch, n_buckets=256)
        gated, gate_obs = filter_with_audit(
            scored, F.col("score") >= 0.5, f"pipe_gate_b{k}"
        )
        # Stage-leaf discipline (round 15): each stage's OUTPUT is
        # materialized ONCE, so every downstream consumer — the next
        # stage's operator jobs, the store writes inside it, the final
        # split aggregate, and the observation recount fallbacks — reads
        # a checkpointed leaf instead of replaying the whole upstream
        # lineage (profiled at sf0.01: the scan+score+gate subtree
        # re-executed 4-6x per batch through the chain's lazy returns).
        # The gate observation rides the gated checkpoint's job; the
        # stage checkpoints below fire ex_obs/near_obs the same way.
        gated = gated.select("doc_id", "text").localCheckpoint(eager=True)
        kept_base = dedup.incremental_exact_dedup(
            gated, os.path.join(root, "exact"), batch_id=k
        )
        ex_obs = Observation(f"pipe_exact_b{k}")
        kept = kept_base.observe(
            ex_obs, F.count(F.lit(1)).alias("n")
        ).localCheckpoint(eager=True)
        adm_base = dedup.incremental_near_dedup(kept, os.path.join(root, "near"))
        near_obs = Observation(f"pipe_near_b{k}")
        adm = adm_base.observe(
            near_obs, F.count(F.lit(1)).alias("n")
        ).localCheckpoint(eager=True)
        scrubbed = dedup.incremental_passage_scrub(
            adm, os.path.join(root, "grams"), min_tokens=50, batch_id=k
        )
        final = split_assign(
            scrubbed, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
        )
        agg = (
            final.groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_tokens_before").alias("before"),
                F.sum("n_tokens_after").alias("after"),
            )
            .collect()
        )
        g = observation_or_recount(
            gate_obs,
            # score is 1:1 with the batch and the gated leaf holds exactly
            # the score>=0.5 rows, so these counts equal the observation's
            # values without re-running the scoring pass (a pruned scan
            # count + a cached-leaf count instead)
            lambda: {
                "rows_seen": batch.count(),
                "rows_kept": gated.count(),
            },
        )
        rows.append((k, "gate_seen", int(g["rows_seen"])))
        rows.append((k, "gate_kept", int(g["rows_kept"])))
        rows.append(
            (
                k,
                "exact_kept",
                int(observation_or_recount(ex_obs, lambda: {"n": kept_base.count()})["n"]),
            )
        )
        rows.append(
            (
                k,
                "near_admitted",
                int(observation_or_recount(near_obs, lambda: {"n": adm_base.count()})["n"]),
            )
        )
        rows.append((k, "tokens_before", int(sum(r["before"] for r in agg))))
        rows.append((k, "tokens_after", int(sum(r["after"] for r in agg))))
        for r in agg:
            rows.append((k, f"split_{r['split']}", int(r["n"])))
    out = spark.createDataFrame(rows, "batch_id long, metric string, value long")
    return out.orderBy("batch_id", "metric")


@query(
    "fuzzy_join_parts",
    oracle="""
    WITH clean AS MATERIALIZED (
      SELECT p_partkey AS clean_key,
             lower(trim(p_name || ' ' || p_brand || ' ' || p_type)) AS clean_name
      FROM part),
    dirty AS MATERIALIZED (
      SELECT p_partkey AS dirty_key,
             substr(nm, 1, pos - 1) || substr(nm, pos + 1) AS dirty_name
      FROM (SELECT p_partkey, nm,
                   CAST(p_partkey % length(nm) AS INT) + 1 AS pos
            FROM (SELECT p_partkey,
                         lower(trim(p_name || ' ' || p_brand || ' ' || p_type)) AS nm
                  FROM part)
            WHERE p_partkey % 20 = 3))
    SELECT d.dirty_key, c.clean_key,
           CAST(levenshtein(d.dirty_name, c.clean_name) AS BIGINT)
             AS key_distance
    FROM dirty d JOIN clean c
      ON abs(length(d.dirty_name) - length(c.clean_name)) <= 2
    WHERE levenshtein(d.dirty_name, c.clean_name) <= 2
    ORDER BY dirty_key, clean_key
    """,
    tags=("tier-c", "join_fuzzy", "entity_resolution", "lsh", "bench-heavy"),
)
def fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-key / entity-resolution join (operators/joins.fuzzy_key_join):
    a "dirty" feed of part ENTITY strings (name + brand + type, 21-30
    chars — the realistic multi-attribute blocking key; the bare 7-12
    char p_name is the documented gram-LSH degenerate case) each with ONE
    character deleted at a key-determined position, re-joined to the
    clean part table through the LSH-banded candidate join + exact
    Levenshtein verify. Every dirty entity recovers its source part
    (distance 1) plus the fixture's legitimate distance<=2 neighbours
    (including a few distance-0 collisions where the deletion lands on a
    brand digit). The oracle is the EXACT all-pairs edit-distance join
    (length-difference prefiltered), so a hash match proves the banded
    path achieves exact recall on this corpus; the entry runs 48 bands x
    1 row (per-pair miss probability ~1e-14 at the weakest J~0.5 match)
    while the Spark side still never materializes all-pairs."""
    t = register_tables(spark, sf_dir, ("part",))
    part = t["part"]
    ent = F.lower(
        F.trim(F.concat_ws(" ", F.col("p_name"), F.col("p_brand"), F.col("p_type")))
    )
    clean = part.select(
        F.col("p_partkey").alias("clean_key"), ent.alias("clean_name")
    )
    pos = (F.col("p_partkey") % F.length(ent) + F.lit(1)).cast("int")
    dirty = part.filter(F.col("p_partkey") % 20 == 3).select(
        F.col("p_partkey").alias("dirty_key"),
        F.concat(
            ent.substr(F.lit(1), pos - 1),
            ent.substr(pos + 1, F.length(ent)),
        ).alias("dirty_name"),
    )
    j = joins.fuzzy_key_join(
        dirty, clean, "dirty_name", "clean_name",
        max_distance=2, n_hashes=48, n_bands=48,
    )
    return j.select(
        "dirty_key",
        "clean_key",
        F.col("key_distance").cast("long").alias("key_distance"),
    ).orderBy("dirty_key", "clean_key")


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (round 9)
# --------------------------------------------------------------------------


@query(
    "incr_agg_orders_state",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             * 100 // count(*) AS avg_price_e4
    FROM orders GROUP BY 1 ORDER BY o_custkey
    """,
    tags=("tier-c", "incr_agg", "matview", "agg_group"),
)
def incr_agg_orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance
    (operators/maintenance.merge_agg_states): a per-customer order-stats
    state (count / integer-cent sum / min / max dates) built from the
    pre-1996 history, then folded forward through the 1996 batch and the
    1997+ batch WITHOUT rescanning history — each merge is one
    O(|keys|) exchange over narrow state rows, the materialized-view
    delta-refresh that replaces a full-history groupBy per refresh at
    100 TB. avg_price_e4 (an exact e4-scaled integer division) is derived
    algebraically from the distributive state AFTER the final merge (averaging per-batch averages would be
    wrong under unequal batch sizes). The oracle is the ground-truth
    full recompute over all of orders — equality proves the maintained
    state is indistinguishable from a from-scratch rebuild."""
    from sql4pandas_spark.operators.maintenance import (
        merge_agg_states,
        partial_agg_state,
    )

    t = register_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    measures = {
        "n_orders": ("count", "o_orderkey"),
        "sum_cents": ("sum", "CAST(round(o_totalprice * 100) AS BIGINT)"),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    merges = {
        "n_orders": "count",
        "sum_cents": "sum",
        "first_order": "min",
        "last_order": "max",
    }
    base = o.filter(F.col("o_orderdate") < "1996-01-01")
    b1 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    b2 = o.filter(F.col("o_orderdate") >= "1997-01-01")
    state = partial_agg_state(base, ["o_custkey"], measures)
    for batch in (b1, b2):
        state = merge_agg_states(
            state,
            partial_agg_state(batch, ["o_custkey"], measures),
            ["o_custkey"],
            merges,
        )
    return state.select(
        "o_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        "sum_cents",
        "first_order",
        "last_order",
        # integer e4-scaled average (cents*100 DIV n): exact integer
        # division in BOTH engines — a float round(x, 4) here diverged on
        # true .00005 midpoints (Spark HALF_UP vs DuckDB half-even)
        F.expr("sum_cents * 100 DIV n_orders").alias("avg_price_e4"),
    ).orderBy("o_custkey")


@query(
    "fk_integrity_audit",
    oracle="""
    WITH dirty AS (
      SELECT CASE WHEN o_custkey % 89 = 0 THEN NULL
                  WHEN o_custkey % 97 = 0 THEN o_custkey + 9000000
                  ELSE o_custkey END AS fk
      FROM orders)
    SELECT 'customer->nation' AS edge, count(*) AS n_rows,
           count(*) FILTER (WHERE c_nationkey IS NULL) AS n_null_fk,
           count(*) FILTER (WHERE c_nationkey IS NOT NULL AND c_nationkey
             NOT IN (SELECT n_nationkey FROM nation)) AS n_orphan_rows,
           count(DISTINCT c_nationkey) FILTER (WHERE c_nationkey
             NOT IN (SELECT n_nationkey FROM nation)) AS n_orphan_keys
    FROM customer
    UNION ALL
    SELECT 'dirty_orders->customer', count(*),
           count(*) FILTER (WHERE fk IS NULL),
           count(*) FILTER (WHERE fk IS NOT NULL AND fk
             NOT IN (SELECT c_custkey FROM customer)),
           count(DISTINCT fk) FILTER (WHERE fk
             NOT IN (SELECT c_custkey FROM customer))
    FROM dirty
    UNION ALL
    SELECT 'lineitem->orders', count(*),
           count(*) FILTER (WHERE l_orderkey IS NULL),
           count(*) FILTER (WHERE l_orderkey IS NOT NULL AND l_orderkey
             NOT IN (SELECT o_orderkey FROM orders)),
           count(DISTINCT l_orderkey) FILTER (WHERE l_orderkey
             NOT IN (SELECT o_orderkey FROM orders))
    FROM lineitem
    UNION ALL
    SELECT 'nation->region', count(*),
           count(*) FILTER (WHERE n_regionkey IS NULL),
           count(*) FILTER (WHERE n_regionkey IS NOT NULL AND n_regionkey
             NOT IN (SELECT r_regionkey FROM region)),
           count(DISTINCT n_regionkey) FILTER (WHERE n_regionkey
             NOT IN (SELECT r_regionkey FROM region))
    FROM nation
    UNION ALL
    SELECT 'orders->customer', count(*),
           count(*) FILTER (WHERE o_custkey IS NULL),
           count(*) FILTER (WHERE o_custkey IS NOT NULL AND o_custkey
             NOT IN (SELECT c_custkey FROM customer)),
           count(DISTINCT o_custkey) FILTER (WHERE o_custkey
             NOT IN (SELECT c_custkey FROM customer))
    FROM orders
    ORDER BY edge
    """,
    tags=("tier-c", "integrity", "audit", "join_anti", "profile"),
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit
    (operators/profile.referential_integrity_audit): orphan / NULL-FK
    report over four real TPC-H foreign-key edges (all must audit clean
    — zeros ARE the assertion) plus one deliberately corrupted edge
    (orders with %97 custkeys remapped out of range and %89 custkeys
    NULLed) proving the audit detects both violation kinds and counts
    rows vs distinct keys separately. Per edge: one map-combined
    groupBy(fk) so the exchange carries distinct keys only, then a
    LEFT join indicator against the parent PK feeding a single
    aggregate — no scalar cross join, no second child scan. The oracle
    recomputes every count with NOT IN subqueries."""
    from sql4pandas_spark.operators.profile import referential_integrity_audit

    t = register_tables(
        spark, sf_dir, ("orders", "lineitem", "customer", "nation", "region")
    )
    orders = t["orders"]
    dirty = orders.select(
        F.when(F.col("o_custkey") % 89 == 0, F.lit(None))
        .when(F.col("o_custkey") % 97 == 0, F.col("o_custkey") + 9000000)
        .otherwise(F.col("o_custkey"))
        .alias("fk")
    )
    edges = [
        ("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        ("dirty_orders->customer", dirty, "fk", t["customer"], "c_custkey"),
        ("lineitem->orders", t["lineitem"], "l_orderkey", orders, "o_orderkey"),
        ("nation->region", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
        ("orders->customer", orders, "o_custkey", t["customer"], "c_custkey"),
    ]
    return referential_integrity_audit(edges).orderBy("edge")


@query(
    "lm_surprisal_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    ex AS (SELECT doc_id, unnest(w) AS t FROM toks),
    c AS (SELECT t, count(*) AS c FROM ex GROUP BY 1),
    nv AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c),
    vocab AS (
      SELECT t, CAST(round(ln((n + v) / (c + 1.0)) * 1000000) AS BIGINT)
               AS s_e6
      FROM c, nv),
    per_dt AS (
      SELECT doc_id, t, count(*) AS k FROM ex GROUP BY 1, 2),
    d AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS nt,
             CAST(sum(k * s_e6) AS BIGINT) AS s
      FROM per_dt JOIN vocab USING (t) GROUP BY 1)
    SELECT t.doc_id,
           coalesce(d.nt, 0) AS n_tokens,
           coalesce(d.s, 0) AS surprisal_sum_e6,
           CASE WHEN coalesce(d.nt, 0) > 0 THEN d.s // d.nt
           END AS avg_surprisal_e6
    FROM toks t LEFT JOIN d USING (doc_id) ORDER BY doc_id
    """,
    tags=("tier-c", "quality", "lm_score", "text_analysis"),
)
def lm_surprisal_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality scoring
    (operators/text.unigram_surprisal): the CCNet/KenLM-style
    "perplexity against the corpus itself" filter — add-one-smoothed
    unigram probabilities from the corpus' own counts, per-token
    surprisal ln(1/p) e6-quantized ONCE per vocabulary entry, then
    integer-only document sums (order-independent, bit-exact vs the
    oracle). Docs pre-reduce to (doc, token, count) before the vocab
    join so stopwords join once per document, never once per position.
    High avg_surprisal = unusual-token docs (the drop/down-weight
    tail); the trained-classifier complement is
    classifier_scores_documents."""
    from sql4pandas_spark.operators.text import unigram_surprisal

    t = register_tables(spark, sf_dir, ("documents",))
    return unigram_surprisal(t["documents"]).orderBy("doc_id")


@query(
    "sessionize_events",
    oracle="""
    WITH l AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      -- mirror the operator's NULL drops (unstamped/anonymous events
      -- can't sessionize) so the contract is pinned, not coincidental
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM l)
    SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
             AS duration_secs
    FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx
    """,
    tags=("tier-c", "sessionize", "win_lag", "behavior", "timeseries"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (operators/behavior.sessionize):
    a new session after >30 idle minutes, per-session start/end/count/
    duration — the at-rest complement of the watermarked streaming
    session windows (events_session_windows), for replaying history or
    backfilling. Gap compares exact epoch microseconds (no per-timestamp
    second truncation); ONE exchange on user_id serves both the lag
    window and the (user, session) rollup. The oracle replays the
    lag-flag / running-sum construction identically."""
    from sql4pandas_spark.operators.behavior import sessionize

    t = register_tables(spark, sf_dir, ("events",))
    return sessionize(t["events"]).orderBy("user_id", "session_idx")


@query(
    "winsorize_docs_by_lang",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents),
    t AS (
      SELECT lang,
             max(CASE WHEN rn = (5 * n + 99) // 100 THEN n_chars END)
               AS lo_val,
             max(CASE WHEN rn = (95 * n + 99) // 100 THEN n_chars END)
               AS hi_val
      FROM r GROUP BY 1)
    SELECT doc_id, r.lang, n_chars, lo_val, hi_val,
           least(greatest(n_chars, lo_val), hi_val) AS n_chars_winsorized
    FROM r JOIN t USING (lang) ORDER BY doc_id
    """,
    tags=("tier-c", "winsorize", "quality", "win_frame", "profile"),
)
def winsorize_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators/profile.winsorize_by_group):
    n_chars clipped to each language's [p5, p95] — the heavy-tail repair
    applied before using length as a training feature
    (robust_outlier_rows flags the tail; this clamps it). Discrete
    percentiles at exact integer rank (p*n+99) DIV 100 — no
    interpolation, bit-exact across engines. One exchange on lang serves
    the rank window, the partition count, and the threshold pick-out
    (full-frame max(CASE) windows instead of a join-back re-scan). The
    oracle replays rank, thresholds, and clamps row-for-row."""
    from sql4pandas_spark.operators.profile import winsorize_by_group

    t = register_tables(spark, sf_dir, ("documents",))
    out = winsorize_by_group(
        t["documents"].select("doc_id", "lang", "n_chars"),
        "n_chars",
        "lang",
        lo_pct=5,
        hi_pct=95,
    )
    return out.select(
        "doc_id", "lang", "n_chars", "lo_val", "hi_val", "n_chars_winsorized"
    ).orderBy("doc_id")


_NEG_HASH = text.DUCKDB_HASH60_SQL.format(expr="CAST(doc_id AS VARCHAR)")


@query(
    "negative_samples_docs",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, ({_NEG_HASH}) % 64 AS bkt FROM documents),
    reps AS (SELECT bkt, min(doc_id) AS neg_id FROM b GROUP BY 1),
    fanned AS (
      SELECT doc_id, j AS neg_rank, (bkt + j) % 64 AS tb
      FROM b, unnest([1, 2, 3]) AS t(j))
    SELECT f.doc_id, CAST(f.neg_rank AS BIGINT) AS neg_rank, r.neg_id
    FROM fanned f JOIN reps r ON f.tb = r.bkt
    ORDER BY f.doc_id, neg_rank
    """,
    tags=("tier-c", "negative_sampling", "sample", "contrastive"),
)
def negative_samples_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling
    (operators/sampling.negative_samples): 3 pseudo-random contrastive
    negatives per document via hash-bucket representatives — no cross
    join, no RNG state, same draws on every engine/run/refeed (the
    property that makes training data diffable). Offsets start at 1 so
    an anchor never draws itself; per-anchor cost is k broadcast
    lookups against a 64-row representative table. The oracle replays
    hash, bucketing, representative election, and offsets exactly."""
    from sql4pandas_spark.operators.sampling import negative_samples

    t = register_tables(spark, sf_dir, ("documents",))
    out = negative_samples(t["documents"], "doc_id", k=3, n_buckets=64)
    return out.select(
        "doc_id", F.col("neg_rank").cast("long").alias("neg_rank"), "neg_id"
    ).orderBy("doc_id", "neg_rank")


@query(
    "source_cap_report",
    oracle="""
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE rn <= 20) AS n_kept,
           count(*) FILTER (WHERE rn > 20) AS n_dropped,
           min(n_chars) FILTER (WHERE rn <= 20) AS kept_cutoff_chars
    FROM r GROUP BY 1 ORDER BY source
    """,
    tags=("tier-c", "cap", "curation", "sample", "data_mix"),
)
def source_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source volume cap audit (operators/sampling.cap_per_group):
    at most 20 documents per source, longest-first with doc_id
    tie-break — the over-crawled-domain trim every pretraining mix
    applies, reported as kept/dropped counts and the quality cutoff per
    source (the report a curation run logs before committing the trim).
    One exchange on source; the oracle replays rank, cap, and cutoff
    exactly."""
    from sql4pandas_spark.operators.sampling import cap_per_group

    t = register_tables(spark, sf_dir, ("documents",))
    capped = cap_per_group(
        t["documents"], "source", 20, "n_chars", "doc_id"
    )
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
            F.count(F.when(~F.col("kept"), 1)).alias("n_dropped"),
            F.min(F.when(F.col("kept"), F.col("n_chars"))).alias(
                "kept_cutoff_chars"
            ),
        )
        .orderBy("source")
    )


@query(
    "incr_quantile_orders",
    oracle="""
    WITH b AS (
      SELECT least(999, greatest(0, CAST(floor(
               (o_totalprice - 0.0) * 1000.0 / 600000.0) AS BIGINT)))
               AS bin
      FROM orders WHERE o_totalprice IS NOT NULL),
    h AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
    c AS (
      SELECT bin,
             sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER () AS tot
      FROM h)
    SELECT CAST(p.pct AS BIGINT) AS pct, CAST(max(tot) AS BIGINT) AS n_total,
           min(CASE WHEN cum >= (p.pct * tot + 99) // 100 THEN bin END)
             AS bin,
           0.0 + min(CASE WHEN cum >= (p.pct * tot + 99) // 100
                     THEN bin END) * 600.0 AS est_value
    FROM c, (SELECT unnest([50, 95, 99]) AS pct) p
    GROUP BY p.pct ORDER BY pct
    """,
    tags=("tier-c", "incr_agg", "quantile", "sketch", "agg_approx"),
)
def incr_quantile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch percentile maintenance
    (operators/sketches.value_histogram + merge_histograms +
    quantiles_from_histogram): p50/p95/p99 of o_totalprice kept current
    across three order-date batches by merging fixed-grid histogram
    states (1000 bins over [0, 600000]) with pure per-bin addition —
    the MERGEABLE-sketch answer to "exact percentiles need a full
    re-sort per refresh" (exact median is holistic;
    merge_agg_states's distributive columns can't carry it). Answers
    are discrete bin lower edges, exact to one bin width (600 here) and
    bit-replayable; the oracle rebuilds the same grid over all of
    orders — equality proves batch-merged state == from-scratch state."""
    from sql4pandas_spark.operators.sketches import (
        merge_histograms,
        quantiles_from_histogram,
        value_histogram,
    )

    t = register_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    grid = dict(value_col="o_totalprice", lo=0.0, hi=600000.0, n_bins=1000)
    state = value_histogram(
        o.filter(F.col("o_orderdate") < "1996-01-01"), **grid
    )
    for pred in (
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01"),
        F.col("o_orderdate") >= "1997-01-01",
    ):
        state = merge_histograms(state, value_histogram(o.filter(pred), **grid))
    return quantiles_from_histogram(
        state, [50, 95, 99], lo=0.0, hi=600000.0, n_bins=1000
    ).orderBy("pct")


@query(
    "constraint_gate_orders",
    oracle="""
    WITH checks(name, v) AS (
      SELECT 'orderdate_in_range',
             count(*) FILTER (WHERE (o_orderdate BETWEEN DATE '1992-01-01'
               AND DATE '1998-12-31') IS DISTINCT FROM TRUE) FROM orders
      UNION ALL
      SELECT 'orderkey_not_null',
             count(*) FILTER (WHERE (o_orderkey IS NOT NULL)
               IS DISTINCT FROM TRUE) FROM orders
      UNION ALL
      SELECT 'status_in_set',
             count(*) FILTER (WHERE (o_orderstatus IN ('O', 'F', 'P'))
               IS DISTINCT FROM TRUE) FROM orders
      UNION ALL
      SELECT 'totalprice_positive',
             count(*) FILTER (WHERE (o_totalprice > 0)
               IS DISTINCT FROM TRUE) FROM orders
      UNION ALL
      SELECT 'totalprice_under_500k',
             count(*) FILTER (WHERE (o_totalprice < 500000)
               IS DISTINCT FROM TRUE) FROM orders),
    n AS (SELECT count(*) AS n_rows FROM orders)
    SELECT name AS "check", n_rows, CAST(v AS BIGINT) AS n_violations,
           v * 1000000 // n_rows AS violation_ppm
    FROM checks, n ORDER BY name
    """,
    tags=("tier-c", "contract", "audit", "quality", "profile"),
)
def constraint_gate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract gate (operators/audit.check_constraints):
    five named constraints over orders — key non-null, positive price,
    status enum, date range, price ceiling — evaluated in ONE
    map-combined aggregate scan (a count() per contract would re-scan
    the table per check) and reported as named violation counts +
    integer ppm rates. The date-range contract REALLY fails on this
    corpus (fixture dates run past 1998; ~399k ppm) — the report proves
    detection, not just green checkmarks. NULL
    conditions count as violations (unknown does not satisfy a
    contract). The oracle recomputes every count with
    IS DISTINCT FROM TRUE semantics."""
    from sql4pandas_spark.operators.audit import check_constraints

    t = register_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    checks = [
        (
            "orderdate_in_range",
            F.col("o_orderdate").between("1992-01-01", "1998-12-31"),
        ),
        ("orderkey_not_null", F.col("o_orderkey").isNotNull()),
        ("status_in_set", F.col("o_orderstatus").isin("O", "F", "P")),
        ("totalprice_positive", F.col("o_totalprice") > 0),
        ("totalprice_under_500k", F.col("o_totalprice") < 500000),
    ]
    return check_constraints(o, checks).orderBy("check")


def _proj_oracle_sql() -> str:
    from sql4pandas_spark.operators.similarity import projection_signs

    signs = projection_signs(64, 16)
    dims = ",\n             ".join(
        "CAST(list_sum(list_transform(range(1, 65), i -> q[i] * "
        f"([{', '.join(map(str, s))}])[i])) AS BIGINT)"
        for s in signs
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS q
      FROM embeddings)
    SELECT vec_id,
           -- CSV-serialized: the driver's pandas canonicalizer cannot
           -- hash array cells (round-9 err), so both sides emit scalars
           array_to_string([{dims}], ',') AS proj_e6_csv
    FROM qv ORDER BY vec_id
    """


@query(
    "random_projection_embeddings",
    oracle=_proj_oracle_sql(),
    tags=("tier-c", "embedding", "projection", "ann", "array_fns"),
)
def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection
    (operators/similarity.random_projection_e6): 64-dim float embeddings
    -> 16 integer-exact components via a deterministic md5-derived
    Rademacher sign matrix — the shrink step before ANN indexing (4x
    less index I/O per probe). Inputs e6-quantize once, then every
    component is a pure integer sum: order-independent, zero shuffles,
    no UDF — just zip_with/aggregate JVM expressions. The oracle
    replays quantization, the identical sign literals, and the integer
    sums. The 16 components are CSV-serialized into one string column —
    the driver's canonicalizer hashes scalar cells only (array cells are
    unhashable in pandas sort_values; round-9 gate err)."""
    from sql4pandas_spark.operators.similarity import random_projection_e6

    t = register_tables(spark, sf_dir, ("embeddings",))
    proj = random_projection_e6(t["embeddings"], in_dim=64, out_dim=16)
    return proj.select(
        "vec_id",
        F.array_join(
            F.transform("proj_e6", lambda x: x.cast("string")), ","
        ).alias("proj_e6_csv"),
    ).orderBy("vec_id")


@query(
    "top_movers_events",
    oracle="""
    WITH c AS (
      -- CAST: DuckDB date_trunc('week') yields DATE where Spark
      -- yields TIMESTAMP; the driver's string hash sees the difference
      SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP)
               AS bucket_ts,
             count(*) AS n_events
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    l AS (
      -- prev only when the previous OCCUPIED bucket is the
      -- calendar-adjacent one: growth after a silent gap is undefined
      SELECT event_type, bucket_ts, n_events,
             CASE WHEN lag(bucket_ts) OVER w = bucket_ts - INTERVAL 1 WEEK
                  THEN lag(n_events) OVER w END AS prev_events
      FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts))
    SELECT event_type, bucket_ts, n_events, prev_events,
           CASE WHEN n_events >= prev_events THEN
             (n_events - prev_events) * 1000000 // prev_events
           ELSE
             -((prev_events - n_events) * 1000000 // prev_events)
           END AS growth_ppm
    FROM l WHERE prev_events >= 1
    ORDER BY event_type, bucket_ts
    """,
    tags=("tier-c", "trending", "timeseries", "win_lag", "behavior"),
)
def top_movers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending / top-movers detection (operators/behavior.top_movers):
    weekly activity per event type with previous-week counts and
    sign-magnitude integer growth ppm — the "what surged this week"
    telemetry review, directional where mad_anomalies is absolute. One
    map-combined groupBy over raw events; the lag window runs over the
    bounded counts frame partitioned by group. Growth divides the
    ABSOLUTE change and re-applies the sign because Spark DIV truncates
    while DuckDB // floors — a bare signed division diverges on every
    declining bucket. The oracle replays buckets, lag, and the division
    exactly."""
    from sql4pandas_spark.operators.behavior import top_movers

    t = register_tables(spark, sf_dir, ("events",))
    return top_movers(t["events"], "event_type").orderBy(
        "event_type", "bucket_ts"
    )


@query(
    "ohlc_hourly_events",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts, value,
             row_number() OVER (PARTITION BY event_type,
                                  date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type,
                                  date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT event_type, bucket_ts,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM r GROUP BY 1, 2 ORDER BY event_type, bucket_ts
    """,
    tags=("tier-c", "ohlc", "timeseries", "agg_group", "resample"),
)
def ohlc_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (operators/behavior.ohlc_resample): hourly
    open/high/low/close/count bars of the event value stream per event
    type — the resample that turns raw ticks into chartable bars. Open
    and Close come from min_by/max_by over a (ts, event_id) struct in
    the SAME single aggregate as High/Low (no self-join, no window
    re-sort; the id tie-break pins same-timestamp ticks). The oracle
    replays the extremes with rank windows — a deliberately different
    construction proving the semantics, not the implementation."""
    from sql4pandas_spark.operators.behavior import ohlc_resample

    t = register_tables(spark, sf_dir, ("events",))
    return ohlc_resample(t["events"]).orderBy("event_type", "bucket_ts")


@query(
    "pct_rank_docs_by_lang",
    oracle="""
    SELECT doc_id, lang, n_chars,
           count(*) OVER (PARTITION BY lang ORDER BY n_chars
                          RANGE UNBOUNDED PRECEDING) * 1000000
             // count(*) OVER (PARTITION BY lang) AS pct_rank_ppm
    FROM documents ORDER BY doc_id
    """,
    tags=("tier-c", "calibration", "win_rangeframe", "quality"),
)
def pct_rank_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile-rank calibration
    (operators/text.percentile_rank_by_group): n_chars mapped to integer
    ppm cume_dist within each language — the step that makes scores
    comparable ACROSS languages so one global threshold treats a
    low-resource language fairly (continuous generalization of the
    per-language p25 gate). Ties share a rank (deterministic under any
    partitioning); one exchange on lang serves the range-frame
    cumulative count and the group size. The oracle replays the window
    arithmetic exactly."""
    from sql4pandas_spark.operators.text import percentile_rank_by_group

    t = register_tables(spark, sf_dir, ("documents",))
    return (
        percentile_rank_by_group(
            t["documents"].select("doc_id", "lang", "n_chars"),
            "n_chars",
            "lang",
        )
        .select("doc_id", "lang", "n_chars", "pct_rank_ppm")
        .orderBy("doc_id")
    )


@query(
    "cdc_extract_documents",
    oracle="""
    WITH snap AS (SELECT doc_id, lang, n_chars FROM documents),
    new AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 500
                  ELSE n_chars END AS n_chars
      FROM snap WHERE doc_id % 10 <> 7
      UNION ALL
      SELECT doc_id + 7000000, lang, n_chars FROM snap
      WHERE doc_id % 100 = 11),
    j AS (
      SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
             n.lang, n.n_chars,
             CASE WHEN o.doc_id IS NULL THEN 'insert'
                  WHEN n.doc_id IS NULL THEN 'delete'
                  WHEN n.lang IS DISTINCT FROM o.lang
                    OR n.n_chars IS DISTINCT FROM o.n_chars THEN 'update'
             END AS op
      FROM snap o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT doc_id, lang, n_chars, op FROM j WHERE op IS NOT NULL
    ORDER BY doc_id
    """,
    tags=("tier-c", "cdc_extract", "snapshot_diff", "join_full"),
)
def cdc_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changeset extraction
    (operators/maintenance.extract_changeset — the inverse of
    merge_upsert): diff the documents snapshot against a recomputed
    version (updates on %10==3, deletes of %10==7, inserts from
    %100==11 under new ids) into the minimal insert/update/delete
    op-log; unchanged keys emit nothing. This is backfill-diff
    publishing: consumers apply the small op-log instead of re-ingesting
    the table, and the roundtrip law merge_upsert(old, changeset) == new
    is pinned in tests/test_round9_ops.py. One full-outer join on the
    key; output volume is change volume."""
    from sql4pandas_spark.operators.maintenance import extract_changeset

    t = register_tables(spark, sf_dir, ("documents",))
    snap = t["documents"].select("doc_id", "lang", "n_chars")
    new = (
        snap.filter(F.col("doc_id") % 10 != 7)
        .withColumn(
            "n_chars",
            F.when(
                F.col("doc_id") % 10 == 3, F.col("n_chars") + 500
            ).otherwise(F.col("n_chars")),
        )
        .unionByName(
            snap.filter(F.col("doc_id") % 100 == 11).withColumn(
                "doc_id", F.col("doc_id") + F.lit(7_000_000)
            )
        )
    )
    return extract_changeset(snap, new, ["doc_id"]).orderBy("doc_id")


@query(
    "scd2_doc_versions",
    oracle="""
    WITH changes AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS seq, n_chars FROM documents
      UNION ALL
      SELECT doc_id, 2, n_chars + 100 FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, 3, n_chars + 200 FROM documents WHERE doc_id % 4 = 0)
    SELECT doc_id, seq, n_chars,
           lead(seq) OVER (PARTITION BY doc_id ORDER BY seq)
             AS valid_to_seq,
           lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) IS NULL
             AS is_current
    FROM changes ORDER BY doc_id, seq
    """,
    tags=("tier-c", "scd2", "history", "win_lag", "merge_upsert"),
)
def scd2_doc_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build (operators/maintenance.scd2_history):
    a three-version change log of documents (all docs at seq 1, evens
    re-changed at seq 2, every fourth at seq 3) turned into validity
    intervals — valid_to_seq = the next change's sequence, NULL while
    current — so any as-of-version query is a plain range predicate, no
    log replay. ONE exchange on doc_id serves the lead window and the
    is_current flag. The oracle replays the window identically."""
    from sql4pandas_spark.operators.maintenance import scd2_history

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    changes = (
        d.select("doc_id", F.lit(1).cast("long").alias("seq"), "n_chars")
        .unionByName(
            d.filter(F.col("doc_id") % 2 == 0).select(
                "doc_id",
                F.lit(2).cast("long").alias("seq"),
                (F.col("n_chars") + 100).alias("n_chars"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 4 == 0).select(
                "doc_id",
                F.lit(3).cast("long").alias("seq"),
                (F.col("n_chars") + 200).alias("n_chars"),
            )
        )
    )
    return scd2_history(changes, ["doc_id"], "seq").orderBy("doc_id", "seq")


@query(
    "active_users_rolling7",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    b AS (SELECT min(d) AS mn, max(d) AS mx FROM ud),
    days AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      FROM b),
    w AS (
      SELECT day,
             count(DISTINCT user_id) AS wau,
             count(DISTINCT CASE WHEN d = day THEN user_id END) AS dau
      FROM days LEFT JOIN ud
        ON ud.d BETWEEN day - INTERVAL 6 DAY AND day
      GROUP BY 1)
    SELECT day, dau, wau,
           CASE WHEN wau > 0 THEN dau * 1000000 // wau
           END AS stickiness_ppm
    FROM w ORDER BY day
    """,
    tags=("tier-c", "active_users", "behavior", "agg_distinct", "timeseries"),
)
def active_users_rolling7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / 7-day WAU / stickiness per day
    (operators/behavior.rolling_active_users): rolling DISTINCT users —
    the aggregation a sliding sum-of-dailies gets WRONG (repeat users
    overcount; distinct state doesn't fold). Spark fans each distinct
    (user, day) pair out to the 7 window-end days it feeds (bounded x7
    on collapsed pairs, never raw events) and re-deduplicates per end
    day; the oracle computes the same metric with a range join — two
    deliberately different constructions agreeing value-for-value,
    including zero-filled gap days from the calendar spine."""
    from sql4pandas_spark.operators.behavior import rolling_active_users

    t = register_tables(spark, sf_dir, ("events",))
    return rolling_active_users(t["events"]).orderBy("day")


@query(
    "join_fanout_orders_lineitem",
    oracle="""
    WITH lc AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS key, count(*) AS n_left
      FROM orders GROUP BY 1),
    rc AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS key, count(*) AS n_right
      FROM lineitem GROUP BY 1),
    pk AS (
      SELECT key, n_left, n_right,
             CAST(n_left * n_right AS BIGINT) AS rows_out
      FROM lc JOIN rc USING (key)),
    st AS (
      SELECT CAST(sum(rows_out) AS BIGINT) AS total_rows_out,
             count(*) AS n_matching_keys
      FROM pk),
    top AS (SELECT * FROM pk ORDER BY rows_out DESC, key LIMIT 10)
    SELECT CAST(row_number() OVER (ORDER BY rows_out DESC, key)
             AS INTEGER) AS rank,
           key, n_left, n_right, rows_out,
           rows_out * 10000 // total_rows_out AS share_bp,
           total_rows_out, n_matching_keys
    FROM top, st ORDER BY rank
    """,
    tags=("tier-c", "join_audit", "fanout", "profile", "skew"),
)
def join_fanout_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join explosion audit (operators/profile.join_fanout_estimate):
    the exact output cardinality of orders JOIN lineitem ON orderkey
    computed from two per-key count frames WITHOUT running the join,
    plus the top-10 contributing keys — the pre-flight that catches a
    many-to-many key blow-up as a report instead of a dead cluster.
    Only the two map-combined groupBys touch data rows; totals ride the
    allowlisted scalar-broadcast shape. The oracle replays counts,
    products, ordering, and integer shares exactly."""
    from sql4pandas_spark.operators.profile import join_fanout_estimate

    t = register_tables(spark, sf_dir, ("orders", "lineitem"))
    return join_fanout_estimate(
        t["orders"], t["lineitem"], ["o_orderkey"], ["l_orderkey"], top_k=10
    ).orderBy("rank")


@query(
    "k_anonymity_customers",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_groups,
           count(*) FILTER (WHERE n < 10) AS n_small_groups,
           CAST(coalesce(sum(n) FILTER (WHERE n < 10), 0) AS BIGINT)
             AS n_rows_below_k,
           min(n) AS min_group_size,
           CAST(coalesce(sum(n) FILTER (WHERE n < 10), 0) * 1000000
                // sum(n) AS BIGINT) AS risk_ppm
    FROM g
    """,
    tags=("tier-c", "privacy", "k_anonymity", "audit", "profile"),
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit (operators/profile.k_anonymity_audit): how many
    customer rows sit in a (nation, market-segment) quasi-identifier
    group smaller than k=10 — the privacy gate a dataset passes before
    publication (an attacker joining on those two columns narrows such
    rows to <10 candidates). One map-combined groupBy + one 1-row
    aggregate, integer ppm risk; the oracle replays group sizes and
    every count. Fix for a failing audit = coarsen the
    quasi-identifiers and re-run (one pass per iteration)."""
    from sql4pandas_spark.operators.profile import k_anonymity_audit

    t = register_tables(spark, sf_dir, ("customer",))
    return k_anonymity_audit(
        t["customer"], ["c_nationkey", "c_mktsegment"], k=10
    )


_RERANK_HASH = text.DUCKDB_HASH60_SQL.format(expr="'data | ' || text")


@query(
    "rerank_stub_documents",
    oracle=f"""
    WITH cand AS (
      SELECT doc_id, text FROM documents
      WHERE contains(lower(text), 'data')
      ORDER BY doc_id LIMIT 50),
    scored AS (
      SELECT doc_id, ({_RERANK_HASH}) % 1000001 AS rerank_score_e6
      FROM cand)
    SELECT doc_id, rerank_score_e6
    FROM scored ORDER BY rerank_score_e6 DESC, doc_id LIMIT 10
    """,
    tags=("tier-c", "retrieval", "rerank", "udf_pandas", "multimodal_stub"),
)
def rerank_stub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, precision hop
    (operators/retrieval.rerank_with_model): a cheap deterministic
    recall pass (50 lowest-doc_id docs containing 'data') re-scored
    pairwise against the query by an Arrow-batched mapInPandas
    "cross-encoder" — the model-inference plumbing is real (per-batch
    vectorized scoring, schema extension, no shuffle, model never sees
    the corpus); the scorer is the documented md5 stub this container's
    lack of torch/ONNX imposes, which is exactly what lets the oracle
    replay the whole stage bit-for-bit (the multimodal decode-stub
    discipline). Top-10 by (score desc, doc_id)."""
    from sql4pandas_spark.operators.retrieval import rerank_with_model

    t = register_tables(spark, sf_dir, ("documents",))
    cand = (
        t["documents"]
        .filter(F.lower(F.col("text")).contains("data"))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(50)
    )
    scored = rerank_with_model(cand, query="data")
    return (
        scored.select("doc_id", "rerank_score_e6")
        .orderBy(F.desc("rerank_score_e6"), "doc_id")
        .limit(10)
    )


@query(
    "dedup_cluster_stats",
    oracle=_MINHASH_REACH_CTES + """
    , labels AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    sizes AS (SELECT cluster_id, count(*) AS n FROM labels GROUP BY 1)
    SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           count(*) AS n_clusters,
           count(*) FILTER (WHERE n = 1) AS n_singletons,
           CAST(coalesce(sum(n) FILTER (WHERE n >= 2), 0) AS BIGINT)
             AS n_dup_docs,
           CAST(coalesce(sum(n - 1) FILTER (WHERE n >= 2), 0) AS BIGINT)
             AS n_removable,
           max(n) AS max_cluster_size,
           CAST(coalesce(sum(n - 1) FILTER (WHERE n >= 2), 0) * 1000000
                // sum(n) AS BIGINT) AS removable_ppm
    FROM sizes
    """,
    tags=("tier-c", "dedup_near", "profile", "audit"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication report (operators/dedup.dedup_report over the
    MinHash-LSH near-dedup labels): total docs, clusters, singletons,
    docs in multi-doc clusters, rows a keep-one pass would remove, the
    largest cluster, and removable ppm — the "X% of the crawl is
    duplicates" headline that decides whether dedup ships. One groupBy
    over the labels frame + one 1-row aggregate; the oracle recomputes
    the stats over the exact-Jaccard ground-truth closure, so the hash
    also re-proves LSH cluster equivalence end-to-end."""
    t = register_tables(spark, sf_dir, ("documents",))
    from sql4pandas_spark.operators.dedup import dedup_report

    return dedup_report(dedup.near_dedup_minhash(t["documents"]))


@query(
    "event_transitions_matrix",
    oracle="""
    WITH p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      -- mirror the operator's NULL drops so the contract is pinned
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    c AS (
      SELECT from_type, to_type, count(*) AS n_transitions
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions * 1000000
                // sum(n_transitions) OVER (PARTITION BY from_type)
                AS BIGINT) AS share_ppm
    FROM c ORDER BY from_type, to_type
    """,
    tags=("tier-c", "behavior", "transitions", "win_lag", "markov"),
)
def event_transitions_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix
    (operators/behavior.event_transitions): how often each event type
    immediately follows each other type within a user stream, with
    row-normalized integer-ppm shares — the empirical Markov chain that
    funnels get hypothesized from. Same-ts ties order by event_id
    (deterministic adjacency); one user exchange for the lead window,
    then a |types|²-row counts frame whose share window partitions by
    source type. The oracle replays adjacency, counts, and shares."""
    from sql4pandas_spark.operators.behavior import event_transitions

    t = register_tables(spark, sf_dir, ("events",))
    return event_transitions(t["events"]).orderBy("from_type", "to_type")


@query(
    "incr_heavy_hitters_tokens",
    oracle="""
    WITH ex AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> t <> '')) AS item
      FROM documents)
    SELECT item, count(*) AS n FROM ex
    GROUP BY 1 ORDER BY n DESC, item LIMIT 10
    """,
    tags=("tier-c", "heavy_hitters", "incr_agg", "sketch", "agg_approx"),
)
def incr_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch heavy-hitters maintenance
    (operators/sketches.heavy_hitter_state + merge_heavy_hitter_states):
    top-10 corpus tokens kept current across three document batches by
    merging bounded per-batch candidate states (top-64 per batch) with
    per-item addition — the frequency member of the incremental-state
    family (merge_agg_states: distributive aggs; value_histogram:
    quantiles; this: top-k). The fixture vocabulary (31 tokens) sits
    under the batch budget, so the merged state is provably EXACT and
    the oracle is the ground-truth full recount; the miss-bound
    contract for vocab > m is pinned adversarially in
    tests/test_round9_ops.py."""
    from sql4pandas_spark.operators.sketches import (
        heavy_hitter_state,
        merge_heavy_hitter_states,
    )
    from sql4pandas_spark.operators.text import tokens as tok

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select("doc_id", F.explode(tok("text")).alias("item"))
    state = None
    for b in range(3):
        part = heavy_hitter_state(
            d.filter(F.col("doc_id") % 3 == b), "item", m=64
        )
        state = part if state is None else merge_heavy_hitter_states(state, part)
    return (
        state.select("item", F.col("n").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("item"))
        .limit(10)
    )


@query(
    "lexicon_tags_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    h AS (
      SELECT doc_id,
             list_filter(w, t -> list_contains(
               ['data', 'filter', 'join', 'window'], t)) AS hits
      FROM toks)
    SELECT doc_id,
           -- CSV-serialized: the driver's pandas canonicalizer cannot
           -- hash array cells (round-9 err), so both sides emit scalars.
           -- coalesce: DuckDB array_to_string([]) is NULL, Spark
           -- array_join(empty) is ''
           coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '')
             AS matched_terms_csv,
           CAST(len(list_distinct(hits)) AS BIGINT) AS n_matched_terms,
           CAST(len(hits) AS BIGINT) AS n_hits
    FROM h ORDER BY doc_id
    """,
    tags=("tier-c", "lexicon", "moderation", "text_analysis", "array_fns"),
)
def lexicon_tags_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon tagging (operators/text.lexicon_tag): which terms of a
    4-word lexicon each document contains and how often —
    token-boundary matched ("class" never hits "ass"), the tag-and-route
    moderation primitive that precedes scrubbing. Lexicon rides the plan
    as an array literal; one JVM filter over the token array, zero
    shuffles. The oracle replays tokenization, boundary matching,
    distinct/sort, and counts exactly. matched_terms is CSV-serialized —
    the driver's canonicalizer hashes scalar cells only (array cells
    crashed the round-9 gate)."""
    from sql4pandas_spark.operators.text import lexicon_tag

    t = register_tables(spark, sf_dir, ("documents",))
    out = lexicon_tag(
        t["documents"], ["data", "filter", "join", "window"]
    )
    return out.select(
        "doc_id",
        F.array_join("matched_terms", ",").alias("matched_terms_csv"),
        "n_matched_terms",
        "n_hits",
    ).orderBy("doc_id")


@query(
    "pmi_pairs_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''))
               AS w
      FROM documents),
    n AS (SELECT count(*) AS n_docs FROM toks),
    ex AS (SELECT doc_id, unnest(w) AS t FROM toks),
    tdf AS (SELECT t, count(*) AS df FROM ex GROUP BY 1),
    prs AS (
      SELECT a.t AS a, b.t AS b, count(*) AS n_docs_pair
      FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY 1, 2 HAVING count(*) >= 5)
    SELECT p.a, p.b, n_docs_pair,
           ta.df AS df_a, tb.df AS df_b,
           CAST(round(ln(n_docs * n_docs_pair / (ta.df * tb.df))
                      * 1000000) AS BIGINT) AS pmi_e6
    FROM prs p JOIN tdf ta ON p.a = ta.t JOIN tdf tb ON p.b = tb.t, n
    ORDER BY a, b
    """,
    tags=("tier-c", "cooccurrence", "pmi", "text_analysis", "corpus_stats"),
)
def pmi_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI collocations (operators/text.pmi_cooccurrence):
    unordered distinct-token pairs appearing together in >= 5 documents,
    scored by e6-quantized pointwise mutual information over document
    frequencies — collocation mining / topic-anchor discovery. Pairs fan
    out row-locally (per-doc vocabulary squared, never corpus vocabulary
    squared), one map-combined pair count, |vocab|-row marginals
    broadcast back; the oracle recomputes pairs with a self-join — a
    different construction agreeing value-for-value, including the
    quantized logarithm."""
    from sql4pandas_spark.operators.text import pmi_cooccurrence

    t = register_tables(spark, sf_dir, ("documents",))
    return pmi_cooccurrence(t["documents"], min_pair_docs=5).orderBy("a", "b")


# --------------------------------------------------------------------------
# Round 10: SQL front-end, streaming sketch maintenance, salted fuzzy join
# --------------------------------------------------------------------------

#: ONE statement text, two engines: the oracle runs this string verbatim in
#: DuckDB; the Spark side feeds the SAME string through the reference-dialect
#: front end (Engine.sql(dialect="duckdb") → functions/transpile.py). The
#: driver's hash match is then a direct proof of statement-level parity —
#: the reference's actual identity ("SQL strings in, frames out").
_FRONTEND_SQL = """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN regexp_matches(text, 'data|join')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_regex_docs,
           CAST(sum(n_chars // 100) AS BIGINT) AS hecto_chars,
           max(substr(text, 1, 12)) AS max_prefix
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""


@query(
    "sql_frontend_duckdb",
    oracle=_FRONTEND_SQL,
    tags=("tier-a", "sql_frontend", "transpile", "engine_api", "agg_group"),
)
def sql_frontend_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-dialect SQL front end (engine.Engine.sql +
    functions/transpile.py): the oracle's OWN DuckDB statement — len over
    string_split, regexp_matches, integer //, substr — is transpiled
    through the reverse SPARK_TO_DUCKDB_FN rename table (call-position,
    literal-safe) and handed to Catalyst. No wrapper nodes, no UDFs: the
    rewritten text plans exactly like hand-written Spark SQL (one
    map-combined aggregate over a pruned 3-column scan). Entry and oracle
    share one string constant, so the value hash proves statement-level
    engine parity, not just operator parity."""
    from sql4pandas_spark.engine import Engine

    register_tables(spark, sf_dir, ("documents",))
    eng = Engine(spark)
    return eng.sql(_FRONTEND_SQL, dialect="duckdb").df


@query(
    "fuzzy_join_salted_parts",
    oracle="""
    WITH clean AS MATERIALIZED (
      SELECT p_partkey AS clean_key,
             lower(trim(p_name || ' ' || p_brand || ' ' || p_type)) AS clean_name
      FROM part),
    dirty AS MATERIALIZED (
      SELECT p_partkey AS dirty_key,
             substr(nm, 1, pos - 1) || substr(nm, pos + 1) AS dirty_name
      FROM (SELECT p_partkey, nm,
                   CAST(p_partkey % length(nm) AS INT) + 1 AS pos
            FROM (SELECT p_partkey,
                         lower(trim(p_name || ' ' || p_brand || ' ' || p_type)) AS nm
                  FROM part)
            WHERE p_partkey % 20 = 7))
    SELECT d.dirty_key, c.clean_key,
           CAST(levenshtein(d.dirty_name, c.clean_name) AS BIGINT)
             AS key_distance
    FROM dirty d JOIN clean c
      ON abs(length(d.dirty_name) - length(c.clean_name)) <= 2
    WHERE levenshtein(d.dirty_name, c.clean_name) <= 2
    ORDER BY dirty_key, clean_key
    """,
    tags=("tier-c", "join_fuzzy", "join_salted", "entity_resolution", "lsh"),
)
def fuzzy_join_salted_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fuzzy-key join (operators/joins.fuzzy_key_pairs with
    salt_hot_bands — the hot-band mitigation its docstring documents):
    same dirty-entity reconstruction as fuzzy_join_parts (different
    cohort, %20==7) but with hot_band_product=1 so EVERY band takes the
    salted path — hot-band counts, broadcast hot set, left rows salted
    by key hash, right rows replicated 8x, equi-join on (band_key,
    salt). The oracle is the exact all-pairs edit-distance join, so the
    hash match proves the salted rewrite is row-identical to the plain
    band join at full recall; mixed hot/cold equality is pinned in
    tests/test_round10_ops.py."""
    t = register_tables(spark, sf_dir, ("part",))
    part = t["part"]
    ent = F.lower(
        F.trim(F.concat_ws(" ", F.col("p_name"), F.col("p_brand"), F.col("p_type")))
    )
    clean = part.select(
        F.col("p_partkey").alias("clean_key"), ent.alias("clean_name")
    )
    pos = (F.col("p_partkey") % F.length(ent) + F.lit(1)).cast("int")
    dirty = part.filter(F.col("p_partkey") % 20 == 7).select(
        F.col("p_partkey").alias("dirty_key"),
        F.concat(
            ent.substr(F.lit(1), pos - 1),
            ent.substr(pos + 1, F.length(ent)),
        ).alias("dirty_name"),
    )
    j = joins.fuzzy_key_join(
        dirty, clean, "dirty_name", "clean_name",
        max_distance=2, n_hashes=48, n_bands=48,
        salt_hot_bands=8, hot_band_product=1,
    )
    return j.select(
        "dirty_key",
        "clean_key",
        F.col("key_distance").cast("long").alias("key_distance"),
    ).orderBy("dirty_key", "clean_key")


@query(
    "stream_heavy_hitters_tokens",
    oracle="""
    WITH ex AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> t <> '')) AS item
      FROM documents)
    SELECT item, CAST(count(*) AS BIGINT) AS n FROM ex
    GROUP BY 1 ORDER BY n DESC, item LIMIT 10
    """,
    tags=("tier-c", "heavy_hitters", "scan_stream", "foreach_batch", "incr_agg"),
)
def stream_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy-hitters maintenance (streaming/sketches.py): a
    document stream folded into a versioned top-k candidate store via
    readStream -> foreachBatch -> heavy_hitter_state merged by per-item
    addition — exactly-once by the same version-chain construction as
    the CDC store (batch k reads v{k}, overwrites v{k+1}; additive
    states make exactly-once LOAD-BEARING: a replayed merge would
    double-count, pinned in tests/test_round10_ops.py). Two real
    availableNow drains share one checkpoint — the second RESUMES batch
    numbering and folds only the newly-landed file. Per-batch vocab (31
    tokens) sits under m=64, so the maintained state is provably EXACT
    and the oracle is the ground-truth full recount."""
    from sql4pandas_spark.operators.sketches import (
        heavy_hitter_state,
        merge_heavy_hitter_states,
    )
    from sql4pandas_spark.operators.text import tokens as tok
    from sql4pandas_spark.streaming import sketches as sk

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select("doc_id", "text")
    root, land, ckpt = _scratch_dirs("hh_store", "hh_landing", "hh_ckpt")
    os.makedirs(land, exist_ok=True)
    sk.empty_state(spark, "item string, n long", root)

    def batch_state(df: DataFrame) -> DataFrame:
        return heavy_hitter_state(
            df.select(F.explode(tok("text")).alias("item")), "item", m=64
        )

    for i, pred in enumerate(
        (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)
    ):
        _stage_changeset_file(d.filter(pred), land, f"docs_{i:02d}.parquet")
        stream = spark.readStream.schema(d.schema).parquet(land)
        sk.run_sketch_stream(
            stream, root, batch_state, merge_heavy_hitter_states, checkpoint=ckpt
        )

    return (
        sk.latest_state(spark, root)
        .select("item", F.col("n").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("item"))
        .limit(10)
    )


@query(
    "stream_quantile_orders",
    oracle="""
    WITH b AS (
      SELECT least(999, greatest(0, CAST(floor(
               (o_totalprice - 0.0) * 1000.0 / 600000.0) AS BIGINT)))
               AS bin
      FROM orders WHERE o_totalprice IS NOT NULL),
    h AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
    c AS (
      SELECT bin,
             sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER () AS tot
      FROM h)
    SELECT CAST(p.pct AS BIGINT) AS pct, CAST(max(tot) AS BIGINT) AS n_total,
           min(CASE WHEN cum >= (p.pct * tot + 99) // 100 THEN bin END)
             AS bin,
           0.0 + min(CASE WHEN cum >= (p.pct * tot + 99) // 100
                     THEN bin END) * 600.0 AS est_value
    FROM c, (SELECT unnest([50, 95, 99]) AS pct) p
    GROUP BY p.pct ORDER BY pct
    """,
    tags=("tier-c", "quantile", "scan_stream", "foreach_batch", "incr_agg"),
)
def stream_quantile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING percentile maintenance (streaming/sketches.py): an order
    stream folded into a versioned fixed-grid histogram store (1000 bins
    over [0, 600000]) via readStream -> foreachBatch -> value_histogram
    merged by per-bin addition; p50/p95/p99 read off the latest state
    with quantiles_from_histogram, exact to one bin width, raw history
    never re-scanned. Two availableNow drains share one checkpoint
    (resume), split on order date — the same batches as the batch-form
    incr_quantile_orders, now flowing through the exactly-once version
    chain. The oracle rebuilds the grid over ALL of orders: the hash
    match proves stream-maintained state == from-scratch state."""
    from sql4pandas_spark.operators.sketches import quantiles_from_histogram
    from sql4pandas_spark.streaming import sketches as sk

    t = register_tables(spark, sf_dir, ("orders",))
    o = t["orders"].select("o_orderkey", "o_orderdate", "o_totalprice")
    root, land, ckpt = _scratch_dirs("vh_store", "vh_landing", "vh_ckpt")
    os.makedirs(land, exist_ok=True)
    sk.empty_state(spark, "bin long, n long", root)

    for i, pred in enumerate(
        (
            F.col("o_orderdate") < "1996-01-01",
            F.col("o_orderdate") >= "1996-01-01",
        )
    ):
        _stage_changeset_file(o.filter(pred), land, f"orders_{i:02d}.parquet")
        stream = spark.readStream.schema(o.schema).parquet(land)
        sk.run_histogram_stream(
            stream, root, "o_totalprice", 0.0, 600000.0, 1000, checkpoint=ckpt
        )

    return quantiles_from_histogram(
        sk.latest_state(spark, root), [50, 95, 99],
        lo=0.0, hi=600000.0, n_bins=1000,
    ).orderBy("pct")


@query(
    "stream_dsir_stats",
    oracle=_DSIR_ORACLE,
    tags=("tier-c", "scan_stream", "foreach_batch", "dsir", "incr_agg"),
)
def stream_dsir_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DSIR stats maintenance
    (streaming/sketches.run_dsir_stats_stream): documents arrive as a
    file stream in two micro-batches and fold into the versioned
    bucket-counter store — per batch a 64-row integer frame, merged by
    per-bucket addition through the exactly-once version chain (additive
    counters double-count under renumbered replay, so the misalignment
    guard is load-bearing). Terms derive from the LATEST state and score
    the corpus; the oracle is the from-scratch replay VERBATIM
    (_DSIR_ORACLE, shared with the one-shot and batch-incremental
    entries): one hash now pins all three maintenance disciplines —
    one-shot == batch-merged == stream-maintained. This is the
    production shape: the importance model of a continuously-ingested
    corpus stays current per drain without re-scanning history."""
    from sql4pandas_spark.operators.sampling import (
        dsir_score,
        dsir_bucket_tokens,
        dsir_terms,
        gumbel_topk,
    )
    from sql4pandas_spark.streaming import sketches as sk

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    is_t = F.col("lang") == "en"
    root, land, ckpt = _scratch_dirs("dsir_store", "dsir_landing", "dsir_ckpt")
    os.makedirs(land, exist_ok=True)
    sk.empty_state(spark, "_b long, _t_cnt long, _r_cnt long", root)

    for i, pred in enumerate(
        (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)
    ):
        _stage_changeset_file(d.filter(pred), land, f"docs_{i:02d}.parquet")
        stream = spark.readStream.schema(d.schema).parquet(land)
        sk.run_dsir_stats_stream(stream, root, is_t, checkpoint=ckpt)

    terms = dsir_terms(sk.latest_state(spark, root))
    w = dsir_score(dsir_bucket_tokens(d, is_t), terms)
    scored = w.join(d.select("doc_id", "lang", "source"), "doc_id")
    return gumbel_topk(scored, "logw", k=50).select(
        "doc_id", "lang", "source", "n_tok", "logw", "skey"
    )


#: Second front-end statement — the array/JSON/math rename families
#: (list_* higher-order lambdas, json_extract_string, the log()-is-log10
#: semantic trap, to_hex), again ONE string for both engines.
_FRONTEND_EVENTS_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_e2_sum,
           CAST(sum(CASE WHEN list_contains(
                  string_split('view click purchase', ' '), event_type)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_rows,
           CAST(sum(len(list_filter(string_split(event_type, 'e'),
                                    x -> x <> ''))) AS BIGINT)
             AS n_e_segments,
           max(array_to_string(list_sort(list_distinct(
                 string_split(event_type, 'e'))), '|')) AS seg_sig,
           CAST(sum(CAST(floor(log10(CAST(user_id + 10 AS DOUBLE)))
                AS BIGINT)) AS BIGINT) AS log10_sum,
           max(to_hex(user_id % 255)) AS hex_max
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "sql_frontend_events_json",
    oracle=_FRONTEND_EVENTS_SQL,
    tags=("tier-a", "sql_frontend", "transpile", "json_fns", "array_fns"),
)
def sql_frontend_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-dialect front end, harder families
    (functions/transpile.py): one DuckDB statement exercising
    json_extract_string→get_json_object, the list_* higher-order family
    with shared `x -> expr` lambda syntax (list_filter→filter,
    list_contains→array_contains, list_sort→sort_array,
    list_distinct→array_distinct, array_to_string→array_join), the
    log()-means-log10 semantic trap (log10↔log mapping keeps both sides'
    meaning), and to_hex→hex — transpiled and handed to Catalyst, then
    hash-matched against DuckDB running the IDENTICAL string. Split
    empty-segment semantics (leading/trailing '') agree engine-to-engine
    and are covered by the n_e_segments / seg_sig columns."""
    from sql4pandas_spark.engine import Engine

    register_tables(spark, sf_dir, ("events",))
    eng = Engine(spark)
    return eng.sql(_FRONTEND_EVENTS_SQL, dialect="duckdb").df


@query(
    "jaccard_prefix_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 3
                          THEN [array_to_string(list_slice(w, i, i+2), ' ') FOR i IN range(1, len(w)-1)]
                          ELSE [array_to_string(w, ' ')] END) AS shingle
            FROM toks)),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 4) AS jaccard
    FROM inter JOIN card ca ON inter.id_a = ca.doc_id
               JOIN card cb ON inter.id_b = cb.doc_id
    WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5
    ORDER BY jaccard DESC, id_a, id_b
    """,
    tags=("tier-c", "dedup_near", "prefix_filter", "set_similarity"),
)
def jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs (≥ 0.5) via PREFIX FILTERING
    (operators/dedup.prefix_filter_jaccard_pairs — the PPJoin-family
    candidate generation): each document joins only on the rarest
    ``|X| - ceil(t·|X|) + 1`` shingles under a global rare-first order,
    provably meeting every qualifying pair while boilerplate shingles —
    the AllPairs hot-bucket failure mode — effectively vanish from the
    join. The oracle is the SAME exact all-shared-shingles construction
    that checks dedup_ngram_jaccard, so the hash match proves the
    prefix-filtered candidate algebra is lossless on this corpus;
    threshold-boundary exactness is pinned in tests/test_round10_ops.py."""
    t = register_tables(spark, sf_dir, ("documents",))
    return (
        dedup.prefix_filter_jaccard_pairs(t["documents"], threshold=0.5)
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
    )


@query(
    "stream_drift_psi_events",
    oracle="""
    WITH ref AS (
      SELECT least(19, greatest(0, CAST(floor(value * 20.0 / 600.0)
               AS BIGINT))) AS bin, count(*) AS n_old
      FROM events
      WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-11'
      GROUP BY 1),
    cur AS (
      SELECT least(19, greatest(0, CAST(floor(value * 20.0 / 600.0)
               AS BIGINT))) AS bin, count(*) AS n_new
      FROM events
      WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-11'
      GROUP BY 1),
    spine AS (SELECT unnest(range(0, 20)) AS bin),
    h AS (
      SELECT s.bin, coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      FROM spine s LEFT JOIN ref USING (bin) LEFT JOIN cur USING (bin)),
    t AS (SELECT sum(n_old) AS tot_o, sum(n_new) AS tot_n FROM h)
    SELECT bin, n_old, n_new,
           round((n_old + 0.5) / (tot_o + 10.0), 6) AS p,
           round((n_new + 0.5) / (tot_n + 10.0), 6) AS q,
           round(((n_old + 0.5) / (tot_o + 10.0)
                  - (n_new + 0.5) / (tot_n + 10.0))
                 * ln(((n_old + 0.5) / (tot_o + 10.0))
                      / ((n_new + 0.5) / (tot_n + 10.0))), 6) AS psi
    FROM h, t ORDER BY bin
    """,
    tags=("tier-c", "drift_monitor", "scan_stream", "foreach_batch", "incr_agg"),
)
def stream_drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitoring (streaming/sketches.py +
    operators/profile.psi_from_histograms): a frozen reference histogram
    (events days 1-10, 20 bins over value [0, 600]) against a
    stream-maintained current histogram — two availableNow drains
    (days 11-20, then the rest) fold into the versioned store via
    foreachBatch per-bin addition, and the PSI gate reads off the two
    |bins|-row states with zero raw re-scans. This is the production
    drift loop: the reference is a pinned store version, the current
    side advances with ingestion, every read-out is O(n_bins). The
    oracle rebuilds both histograms over ALL raw rows and replays the
    add-half-smoothed PSI formula — the hash match proves
    stream-maintained drift == from-scratch drift."""
    from sql4pandas_spark.operators.profile import psi_from_histograms
    from sql4pandas_spark.operators.sketches import value_histogram
    from sql4pandas_spark.streaming import sketches as sk

    t = register_tables(spark, sf_dir, ("events",))
    e = t["events"].select("event_id", "ts", "value")
    grid = dict(value_col="value", lo=0.0, hi=600.0, n_bins=20)
    ref = value_histogram(e.filter(F.col("ts") < "2024-01-11"), **grid)

    root, land, ckpt = _scratch_dirs("psi_store", "psi_landing", "psi_ckpt")
    os.makedirs(land, exist_ok=True)
    sk.empty_state(spark, "bin long, n long", root)
    for i, pred in enumerate(
        (
            (F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21"),
            F.col("ts") >= "2024-01-21",
        )
    ):
        _stage_changeset_file(e.filter(pred), land, f"events_{i:02d}.parquet")
        stream = spark.readStream.schema(e.schema).parquet(land)
        sk.run_histogram_stream(
            stream, root, "value", 0.0, 600.0, 20, checkpoint=ckpt
        )
    return psi_from_histograms(ref, sk.latest_state(spark, root), 20)


def _cms_oracle_sql(depth: int = 4, width: int = 256) -> str:
    """DuckDB replay of the count-min grid: same portable_hash60, same
    affine params (seed 29), same mod discipline — generated from the
    one Python source of the constants so the two engines cannot drift."""
    from sql4pandas_spark.operators.dedup import MERSENNE31, _affine_params

    h60 = text.DUCKDB_HASH60_SQL.format(expr="item")
    case = " ".join(
        f"WHEN {r} THEN (({a} * hm + {b}) % {MERSENNE31}) % {width}"
        for r, (a, b) in enumerate(_affine_params(depth, seed=29))
    )
    return f"""
    WITH ex AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> t <> '')) AS item
      FROM documents),
    exact AS (SELECT item, count(*) AS exact_n FROM ex GROUP BY 1),
    h AS (SELECT item, exact_n, ({h60}) % {MERSENNE31} AS hm FROM exact),
    pc AS (
      SELECT item, exact_n, r,
             CAST(CASE r {case} END AS INT) AS col_
      FROM h, (SELECT unnest(range(0, {depth})) AS r)),
    cells AS (SELECT r, col_, sum(exact_n) AS cn FROM pc GROUP BY 1, 2),
    est AS (
      SELECT item, CAST(min(cn) AS BIGINT) AS cms_n
      FROM pc JOIN cells USING (r, col_) GROUP BY item)
    SELECT e.item, CAST(e.exact_n AS BIGINT) AS exact_n, est.cms_n
    FROM exact e JOIN est USING (item)
    ORDER BY item
    """


@query(
    "cms_token_counts",
    oracle=_cms_oracle_sql(),
    tags=("tier-c", "count_min", "sketch", "incr_agg", "agg_approx"),
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates
    (operators/sketches.count_min_state / merge_cms_states /
    cms_lookup): a 4×256 CMS built over corpus tokens in three merged
    batches, then probed for every vocabulary item — reported next to
    the exact count as (item, exact_n, cms_n). The CMS completes the
    mergeable-state family (histogram: quantiles; top-m: heavy hitters;
    HLL: distinct; CMS: any-item frequency from a constant-size state
    that never undercounts). The oracle replays the identical grid —
    portable_hash60, seed-29 affine rows, the mod-before-multiply
    int64-overflow discipline — from a from-scratch full recount, so the
    hash match proves batch-merged state == global state AND the lookup
    path; the never-undercount and 2N/width bounds are pinned
    adversarially in tests/test_round10_ops.py."""
    from sql4pandas_spark.operators.sketches import (
        cms_lookup,
        count_min_state,
        merge_cms_states,
    )
    from sql4pandas_spark.operators.text import tokens as tok

    t = register_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select("doc_id", F.explode(tok("text")).alias("item"))
    state = None
    for b in range(3):
        part = count_min_state(d.filter(F.col("doc_id") % 3 == b), "item")
        state = part if state is None else merge_cms_states(state, part)
    exact = d.groupBy("item").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_lookup(state, exact.select("item"), "item")
    return (
        exact.join(est, "item")
        .select("item", F.col("exact_n").cast("long"), F.col("cms_n").cast("long"))
        .orderBy("item")
    )


def _set_sig_oracle_sql(n_hashes: int = 64) -> str:
    """DuckDB replay of the per-key MinHash set signatures (same
    portable_hash60, same seed-17 affine rows) in relational form: a
    perms VALUES table cross-joined under a (key, i) min — plus the
    exact distinct-set Jaccard the estimate is judged against."""
    from sql4pandas_spark.operators.dedup import MERSENNE31, _affine_params

    h60 = text.DUCKDB_HASH60_SQL.format(expr="CAST(item AS VARCHAR)")
    perms = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)"
        for i, (a, b) in enumerate(_affine_params(n_hashes, seed=17))
    )
    return f"""
    WITH d AS (
      SELECT DISTINCT event_type AS key, user_id AS item
      FROM events WHERE user_id IS NOT NULL),
    h AS (SELECT key, item, ({h60}) % {MERSENNE31} AS hm FROM d),
    perms(i, a, b) AS (VALUES {perms}),
    sc AS (
      SELECT key, i, min((a * hm + b) % {MERSENNE31}) AS mn
      FROM h CROSS JOIN perms GROUP BY 1, 2),
    m AS (
      SELECT x.key AS key_a, y.key AS key_b,
             sum(CASE WHEN x.mn = y.mn THEN 1 ELSE 0 END) AS est_matches
      FROM sc x JOIN sc y ON x.i = y.i AND x.key < y.key
      GROUP BY 1, 2),
    ca AS (SELECT key, count(*) AS c FROM d GROUP BY 1),
    inter AS (
      SELECT a.key AS key_a, b.key AS key_b, count(*) AS i
      FROM d a JOIN d b ON a.item = b.item AND a.key < b.key
      GROUP BY 1, 2)
    SELECT m.key_a, m.key_b,
           CAST(est_matches AS BIGINT) AS est_matches,
           -- sum() promotes to HUGEINT in DuckDB, which pandas renders
           -- float64 — the driver's canonicalizer stringifies '123.0'
           -- vs Spark's '123' (the round-9 err class); cast the whole
           -- derived expression back to BIGINT
           CAST(est_matches * 10000 // {n_hashes} AS BIGINT)
             AS est_jaccard_e4,
           coalesce(i, 0) * 10000 // (x.c + y.c - coalesce(i, 0))
             AS exact_jaccard_e4
    FROM m JOIN ca x ON m.key_a = x.key
           JOIN ca y ON m.key_b = y.key
           LEFT JOIN inter ON m.key_a = inter.key_a AND m.key_b = inter.key_b
    ORDER BY m.key_a, m.key_b
    """


@query(
    "segment_overlap_events",
    oracle=_set_sig_oracle_sql(),
    tags=("tier-c", "set_sketch", "minhash", "sketch", "incr_agg"),
)
def segment_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation between segments without pairwise set
    intersection (operators/sketches.minhash_set_signatures /
    merge_set_signatures / estimated_jaccard_pairs): each event_type's
    distinct-user set collapses to a 64-long MinHash signature
    (mergeable by elementwise min — built here in two merged batches),
    and every segment pair's Jaccard is estimated from two 64-long
    arrays. At 100 TB this replaces |segments|² billion-row set
    intersections with one map-combined groupBy(key) and an
    O(|segments|²·n) compare. The entry reports the estimate NEXT TO the
    exact distinct-set Jaccard (integer e4 both) — honest error
    accounting; the oracle replays signatures (seed-17 affine rows over
    portable_hash60, relational perms-table form) AND the exact
    intersection, so the hash match proves the signature arithmetic,
    the merge law, and the estimator wiring."""
    from sql4pandas_spark.operators.sketches import (
        estimated_jaccard_pairs,
        merge_set_signatures,
        minhash_set_signatures,
    )

    t = register_tables(spark, sf_dir, ("events",))
    # materialize the distinct (key, item) set ONCE: five subtrees below
    # reference it (two signature batches, the per-key counts, both sides
    # of the exact-intersection self-join) and ReuseExchange only shares
    # the shuffle, not the post-shuffle dedup aggregate — unmaterialized,
    # the distinct pass executes five times per run (same discipline as
    # doc_fingerprints' simhash checkpoint at pipeline.py:991)
    d = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("key"), F.col("user_id").alias("item"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    s1 = minhash_set_signatures(d.filter(F.col("item") % 2 == 0), "key", "item")
    s2 = minhash_set_signatures(d.filter(F.col("item") % 2 == 1), "key", "item")
    sigs = merge_set_signatures(s1, s2)
    est = estimated_jaccard_pairs(sigs, 64)

    ca = d.groupBy("key").agg(F.count(F.lit(1)).alias("c"))
    inter = (
        d.select(F.col("key").alias("key_a"), "item")
        .join(d.select(F.col("key").alias("key_b"), F.col("item").alias("i2")),
              (F.col("item") == F.col("i2")) & (F.col("key_a") < F.col("key_b")))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        est.join(ca.select(F.col("key").alias("key_a"), F.col("c").alias("c_a")), "key_a")
        .join(ca.select(F.col("key").alias("key_b"), F.col("c").alias("c_b")), "key_b")
        .join(inter, ["key_a", "key_b"], "left")
        .fillna(0, ["i"])
        .select(
            "key_a",
            "key_b",
            "est_matches",
            "est_jaccard_e4",
            F.expr("CAST(i * 10000 DIV (c_a + c_b - i) AS BIGINT)").alias(
                "exact_jaccard_e4"
            ),
        )
        .orderBy("key_a", "key_b")
    )


@query(
    "decontaminate_bloom_documents",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 3
                          THEN [array_to_string(list_slice(w, i, i+2), ' ') FOR i IN range(1, len(w)-1)]
                          ELSE [array_to_string(w, ' ')] END) AS shingle
            FROM toks)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    ov AS (SELECT s.doc_id, count(*) AS n_overlap
           FROM sh s JOIN bench b ON s.shingle = b.shingle
           WHERE s.doc_id >= 20 GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(ov.n_overlap, 0) >= 5 AS contaminated
    FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
    WHERE d.doc_id >= 20 ORDER BY d.doc_id LIMIT 100
    """,
    tags=("tier-c", "decontamination", "bloom_filter", "sketch"),
)
def decontaminate_bloom_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination
    (operators/dedup.bloom_prefiltered_contamination +
    operators/sketches.bloom_build/bloom_contains): the benchmark
    collapses to a fixed 8 KB bit-array LITERAL riding the plan — the
    scale path for GB-sized holdout corpora whose distinct shingle
    strings exceed broadcast limits — and the corpus-side membership
    test is pure JVM expression; only possibly-present shingles enter
    the exact verify join. The Bloom filter has no false negatives, so
    the composition is LOSSLESS and the oracle is the SAME exact
    all-shingles construction that checks decontaminate_documents; the
    entry uses deliberately tight bits (63*256, k=5) so real false
    positives flow through and must be eliminated by the verify."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") < 20)
    cand = docs.filter(F.col("doc_id") >= 20)
    return (
        dedup.bloom_prefiltered_contamination(
            cand, bench, n_bits=63 * 256, k=5
        )
        .orderBy("doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Round 11: load-bearing NULL/NaN contracts. The fixture tables carry no
# NULLs in the NULL-sensitive columns, so until now the operators' NULL
# drops (sessionize/top_movers/event_transitions) and the histogram's
# ~isnan guard were pinned only textually (mirrored WHERE clauses) and in
# pytest. These entries PLANT deterministic NULLs and NaNs with a shared
# ANSI CTE that both engines execute verbatim, then run the same public
# operators over the null-bearing frame — a green driver row now breaks if
# any NULL filter or the NaN guard is removed on either side.

#: deterministic NULL/NaN planting over events — shared ANSI text, used
#: byte-identically as the Spark input frame and the oracle CTE
_EVENTS_NULLS_SQL = """
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END
               AS user_id,
             CASE WHEN event_id % 11 = 3 THEN NULL ELSE ts END AS ts,
             CASE WHEN event_id % 13 = 5 THEN NULL ELSE event_type END
               AS event_type,
             CASE WHEN event_id % 17 = 2 THEN CAST('NaN' AS DOUBLE)
                  WHEN event_id % 19 = 4 THEN NULL
                  ELSE value END AS value
      FROM events
"""


def _events_with_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("events",))
    return spark.sql(_EVENTS_NULLS_SQL)


@query(
    "sessionize_events_nulls",
    oracle=f"""
    WITH ev AS ({_EVENTS_NULLS_SQL}),
    l AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM ev WHERE user_id IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM l)
    SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
             AS duration_secs
    FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx
    """,
    tags=("tier-c", "sessionize", "null_contract", "win_lag", "behavior"),
)
def sessionize_events_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionize over a null-bearing stream (operators/behavior
    .sessionize on the planted frame): anonymous (NULL user_id) and
    unstamped (NULL ts) events must be DROPPED, not sessionized — if the
    operator's filter disappears, Spark emits NULL-user sessions and
    reorders lag() around NULL timestamps while the oracle does not,
    and the hash breaks. This makes the round-10 textual mirror of the
    NULL contract load-bearing."""
    from sql4pandas_spark.operators.behavior import sessionize

    ev = _events_with_nulls(spark, sf_dir)
    return sessionize(ev).orderBy("user_id", "session_idx")


@query(
    "top_movers_events_nulls",
    oracle=f"""
    WITH ev AS ({_EVENTS_NULLS_SQL}),
    c AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP)
               AS bucket_ts,
             count(*) AS n_events
      FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2),
    l AS (
      SELECT event_type, bucket_ts, n_events,
             CASE WHEN lag(bucket_ts) OVER w = bucket_ts - INTERVAL 1 WEEK
                  THEN lag(n_events) OVER w END AS prev_events
      FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts))
    SELECT event_type, bucket_ts, n_events, prev_events,
           CASE WHEN n_events >= prev_events THEN
             (n_events - prev_events) * 1000000 // prev_events
           ELSE
             -((prev_events - n_events) * 1000000 // prev_events)
           END AS growth_ppm
    FROM l WHERE prev_events >= 1
    ORDER BY event_type, bucket_ts
    """,
    tags=("tier-c", "trending", "null_contract", "win_lag", "behavior"),
)
def top_movers_events_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_movers over a null-bearing stream: unstamped events drop
    (operator filter, mirrored above), while a NULL event_type is a
    REAL GROUP that flows straight through the groupBy + lag window on
    both engines — the entry pins that NULL group keys survive the
    operator identically (Spark groupBy and DuckDB GROUP BY both keep
    one NULL group), not just that NULLs get filtered."""
    from sql4pandas_spark.operators.behavior import top_movers

    ev = _events_with_nulls(spark, sf_dir)
    return top_movers(ev, "event_type").orderBy("event_type", "bucket_ts")


@query(
    "event_transitions_nulls",
    oracle=f"""
    WITH ev AS ({_EVENTS_NULLS_SQL}),
    p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM ev
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    c AS (
      SELECT from_type, to_type, count(*) AS n_transitions
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions * 1000000
                // sum(n_transitions) OVER (PARTITION BY from_type)
                AS BIGINT) AS share_ppm
    FROM c ORDER BY from_type, to_type
    """,
    tags=("tier-c", "behavior", "null_contract", "win_lag", "markov"),
)
def event_transitions_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_transitions over a null-bearing stream: NULL user/ts/type
    rows must vanish BEFORE adjacency is computed — dropping them after
    lead() (or not at all) splices B→C into B→NULL→C and shifts every
    count; the planted frame makes that distinction observable, so the
    operator's pre-window filter is now hash-pinned against the
    oracle's identical WHERE."""
    from sql4pandas_spark.operators.behavior import event_transitions

    ev = _events_with_nulls(spark, sf_dir)
    return event_transitions(ev).orderBy("from_type", "to_type")


@query(
    "value_histogram_nulls",
    oracle=f"""
    WITH ev AS ({_EVENTS_NULLS_SQL}),
    b AS (
      SELECT least(15, greatest(0, CAST(floor(
               (value - 0.0) * 16.0 / 400.0) AS BIGINT))) AS bin
      FROM ev WHERE value IS NOT NULL AND NOT isnan(value))
    SELECT bin, count(*) AS n FROM b GROUP BY 1 ORDER BY bin
    """,
    tags=("tier-c", "histogram", "null_contract", "sketch", "agg_approx"),
)
def value_histogram_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_histogram over a value column with planted NULLs AND NaNs
    (operators/sketches.value_histogram): NULL has no value to bin, and
    NaN passes isNotNull while greatest/least order it above every
    number — without the operator's ~isnan guard every planted NaN
    lands silently in the TOP bin and reads back as a max-range
    observation. The oracle drops both explicitly, so this green row is
    exactly the guard's load-bearing test (previously pytest-only,
    sketches.py:116)."""
    from sql4pandas_spark.operators.sketches import value_histogram

    ev = _events_with_nulls(spark, sf_dir)
    return (
        value_histogram(ev, "value", lo=0.0, hi=400.0, n_bins=16)
        .select("bin", F.col("n").cast("long").alias("n"))
        .orderBy("bin")
    )


@query(
    "dedup_components_documents",
    oracle="""
    WITH RECURSIVE r AS (
      SELECT doc_id, lang, doc_id % 7 AS g,
             row_number() OVER (PARTITION BY lang, doc_id % 7
                                ORDER BY doc_id) AS rn
      FROM documents),
    e0 AS (
      SELECT c.doc_id AS id_a, p.doc_id AS id_b
      FROM r c JOIN r p ON c.lang = p.lang AND c.g = p.g
                       AND p.rn = c.rn // 2
      WHERE c.rn >= 2),
    edges AS (SELECT id_a AS src, id_b AS dst FROM e0
              UNION SELECT id_b, id_a FROM e0),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r2.src, e.dst FROM reach r2 JOIN edges e ON r2.dst = e.src)
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    tags=("tier-c", "dedup_near", "connected_components", "graph"),
)
def dedup_components_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connected-components labeler as a standalone public operator
    (operators/dedup.label_components): a deterministic binary-forest
    pair graph — each doc links to the doc at rank rn DIV 2 within its
    (lang, doc_id % 7) group — is labeled directly, with no dedup
    pipeline in front. The forest's depth is log2 of the largest group,
    so min-label propagation (O(diameter) rounds, lineage-checkpointed)
    converges quickly at every scale factor while still exercising
    multi-round merging; singletons (groups of one) must coalesce to
    their own id. The oracle recomputes true components as a recursive
    transitive closure over the identical edge set — a hash match proves
    the iterative Spark labeler equals the declarative fixpoint,
    independent of any upstream candidate generation (the labeler was
    previously driver-proven only THROUGH near_dedup_minhash)."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.dedup import label_components

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    w = Window.partitionBy("lang", "g").orderBy("doc_id")
    r = (
        docs.select("doc_id", "lang", (F.col("doc_id") % 7).alias("g"))
        .withColumn("rn", F.row_number().over(w))
    )
    child = r.filter(F.col("rn") >= 2).select(
        F.col("doc_id").alias("id_a"), "lang", "g",
        F.expr("rn DIV 2").alias("prn"),
    )
    parent = r.select(
        F.col("doc_id").alias("id_b"), "lang", "g",
        F.col("rn").alias("prn"),
    )
    pairs = child.join(parent, ["lang", "g", "prn"]).select("id_a", "id_b")
    return label_components(docs, pairs).orderBy("doc_id")


@query(
    "store_vacuum_retention",
    oracle="""
    WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
    g1 AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 10 = 3 THEN n_chars + 100
                       ELSE n_chars END AS n_chars
           FROM base),
    g2 AS (SELECT * FROM g1 WHERE doc_id % 10 <> 6),
    g3 AS (SELECT * FROM g2
           UNION ALL
           SELECT doc_id + 1000000, lang, n_chars + 1
           FROM base WHERE doc_id % 100 = 1),
    g4 AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 100 = 9 THEN n_chars * 3
                       ELSE n_chars END AS n_chars
           FROM g3)
    SELECT 'v2' AS version, doc_id, lang, n_chars FROM g2
    UNION ALL
    SELECT 'v4' AS version, doc_id, lang, n_chars FROM g4
    ORDER BY version, doc_id
    """,
    tags=("tier-c", "merge_upsert", "vacuum", "retention", "incremental"),
)
def store_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM retention for the versioned exactly-once stores
    (streaming/cdc.vacuum_versions + snapshot_at): seed v0, advance the
    CDC chain through three batches (update / delete / insert) to v3,
    vacuum to keep_last=2 — deleting v0 and v1 ON DISK — then prove the
    storage side of the exactly-once story survives: (a) the chain still
    ADVANCES after the sweep (batch 3 reads the retained v3 and commits
    v4), and (b) time travel still answers exactly for every RETAINED
    version (the v2 generation is read back via snapshot_at and compared
    row-for-row). The oracle rebuilds generations 2 and 4 declaratively,
    so the hash pins both the post-vacuum merge chain and the retained
    time-travel read; reads of VACUUMED versions raising (not falling
    back) is pinned in tests/test_round11_ops.py."""
    from sql4pandas_spark.streaming import cdc

    t = register_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "lang", "n_chars")
    (root,) = _scratch_dirs("vacuum_snapshot")
    cdc.seed_snapshot(base, root)

    b0 = (
        base.filter(F.col("doc_id") % 10 == 3)
        .withColumn("n_chars", F.col("n_chars") + F.lit(100))
        .withColumn("op", F.lit("update"))
    )
    b1 = base.filter(F.col("doc_id") % 10 == 6).withColumn("op", F.lit("delete"))
    b2 = (
        base.filter(F.col("doc_id") % 100 == 1)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        .withColumn("n_chars", F.col("n_chars") + F.lit(1))
        .withColumn("op", F.lit("insert"))
    )
    for bid, changes in enumerate((b0, b1, b2)):
        cdc.cdc_apply_batch(changes, root, ["doc_id"], batch_id=bid)

    removed = cdc.vacuum_versions(root, keep_last=2)
    assert removed == [0, 1], f"vacuum removed {removed}, expected [0, 1]"

    # the chain must still advance off the retained head
    b3 = (
        base.filter(F.col("doc_id") % 100 == 9)
        .withColumn("n_chars", F.col("n_chars") * F.lit(3))
        .withColumn("op", F.lit("update"))
    )
    cdc.cdc_apply_batch(b3, root, ["doc_id"], batch_id=3)

    v2 = cdc.snapshot_at(spark, root, 2).withColumn("version", F.lit("v2"))
    v4 = cdc.snapshot_at(spark, root, 4).withColumn("version", F.lit("v4"))
    return (
        v2.unionByName(v4)
        .select("version", "doc_id", "lang", "n_chars")
        .orderBy("version", "doc_id")
    )


@query(
    "stream_pipeline_chain",
    oracle="""
    WITH base AS (
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
      WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-11'
      GROUP BY 1),
    upd AS (
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
      WHERE user_id IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
      GROUP BY 1)
    -- the drifted third window NEVER lands: its PSI gate fails
    SELECT b.user_id, b.n_events, b.sum_cents FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.user_id = b.user_id)
    UNION ALL
    SELECT user_id, n_events, sum_cents FROM upd
    ORDER BY user_id
    """,
    tags=(
        "tier-c", "scan_stream", "foreach_batch", "drift_monitor",
        "merge_upsert", "incremental", "pipeline",
    ),
)
def stream_pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming pipeline: stream → versioned sketch store →
    PSI drift gate → CDC apply — the streaming mirror of
    incremental_pipeline_batches, chaining the round-10/11 pieces into
    the production ingest loop:

    1. two availableNow drains fold the landed event windows into the
       versioned histogram store (streaming/sketches.run_histogram_stream,
       shared checkpoint — v1, v2);
    2. each drain's OWN distribution is recovered as the per-bin DIFF of
       adjacent retained store versions (cdc.snapshot_at — the sketch
       store shares the v{k} layout), so the gate never re-scans raw
       rows;
    3. the PSI gate (psi_from_histograms vs the frozen days-1-to-10
       reference) passes the clean days-11-to-20 window and REJECTS the
       third window, whose values are planted +300 up the [0,600] grid —
       a distribution shift that dominates sampling noise at every scale
       factor, so the gate decision is deterministic across SFs (both
       decisions are asserted in-builder, never silent);
    4. only the passing window's per-user summary is CDC-applied
       (cdc_apply_batch upsert) onto the profile snapshot seeded from
       the reference window.

    The final snapshot therefore contains base users overwritten by the
    clean window and NO trace of the drifted one; the oracle rebuilds
    exactly that from raw events, so the hash pins the store folding,
    the version-diff read-back, the gate, and the quarantine in one row
    set."""
    from sql4pandas_spark.operators.profile import psi_from_histograms
    from sql4pandas_spark.operators.sketches import value_histogram
    from sql4pandas_spark.streaming import cdc
    from sql4pandas_spark.streaming import sketches as sk

    t = register_tables(spark, sf_dir, ("events",))
    e = t["events"].select("event_id", "ts", "user_id", "value")
    grid = dict(value_col="value", lo=0.0, hi=600.0, n_bins=20)
    ref_hist = value_histogram(e.filter(F.col("ts") < "2024-01-11"), **grid)

    def user_summary(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
                .cast("long")
                .alias("sum_cents"),
            )
        )

    hist_root, snap_root, land, ckpt = _scratch_dirs(
        "chain_hist", "chain_snap", "chain_landing", "chain_ckpt"
    )
    os.makedirs(land, exist_ok=True)
    sk.empty_state(spark, "bin long, n long", hist_root)
    cdc.seed_snapshot(
        user_summary(e.filter(F.col("ts") < "2024-01-11")), snap_root
    )

    win_a = e.filter(
        (F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21")
    )
    win_b = e.filter(F.col("ts") >= "2024-01-21").withColumn(
        "value", F.col("value") + F.lit(300.0)  # planted drift
    )

    applied = 0
    decisions = []
    for i, win in enumerate((win_a, win_b)):
        _stage_changeset_file(win, land, f"window_{i:02d}.parquet")
        stream = spark.readStream.schema(e.schema).parquet(land)
        sk.run_histogram_stream(
            stream, hist_root, "value", 0.0, 600.0, 20, checkpoint=ckpt
        )
        prev = cdc.snapshot_at(spark, hist_root, i).withColumnRenamed("n", "n_prev")
        cur = cdc.snapshot_at(spark, hist_root, i + 1)
        drain_hist = (
            cur.join(prev, "bin", "left")
            .select(
                "bin",
                (F.col("n") - F.coalesce("n_prev", F.lit(0))).alias("n"),
            )
            .filter(F.col("n") > 0)
        )
        psi_total = (
            psi_from_histograms(ref_hist, drain_hist, 20)
            .agg(F.sum("psi"))
            .collect()[0][0]
        )
        passes = psi_total < 0.25
        decisions.append(passes)
        if passes:
            changes = user_summary(win).withColumn("op", F.lit("update"))
            cdc.cdc_apply_batch(changes, snap_root, ["user_id"], batch_id=applied)
            applied += 1
    assert decisions == [True, False], (
        f"PSI gate decisions {decisions} flipped — the planted +300 shift "
        "or the clean-window noise crossed the 0.25 threshold"
    )
    return cdc.latest_snapshot(spark, snap_root).orderBy("user_id")


#: shared bigram Stupid-Backoff scoring CTEs (reference partition counts,
#: e6 quantization, per-doc integer sums) — composed by BOTH the per-doc
#: surprisal oracle and the per-language calibrated gate oracle, so the
#: two entries replay the identical scoring pipeline
_BIGRAM_SCORE_CTES = f"""toks AS ({_TOKS_CTE}),
    ref AS (SELECT * FROM toks WHERE doc_id % 3 <> 0),
    rbg_raw AS (
      SELECT unnest([{{'p': w[i-1], 'c': w[i]}}
                     FOR i IN range(2, len(w) + 1)]) AS bg
      FROM ref WHERE len(w) >= 2),
    rbg AS (SELECT bg['p'] AS p, bg['c'] AS c, count(*) AS cbg
            FROM rbg_raw GROUP BY 1, 2),
    ruc AS (SELECT t, count(*) AS cu
            FROM (SELECT unnest(w) AS t FROM ref) GROUP BY 1),
    nv AS (SELECT CAST(sum(cu) AS BIGINT) AS n, count(*) AS v FROM ruc),
    db_raw AS (
      SELECT doc_id, unnest([{{'p': w[i-1], 'c': w[i]}}
                             FOR i IN range(2, len(w) + 1)]) AS bg
      FROM toks WHERE len(w) >= 2),
    db AS (SELECT doc_id, bg['p'] AS p, bg['c'] AS c, count(*) AS k
           FROM db_raw GROUP BY 1, 2, 3),
    sc AS (
      SELECT doc_id, k,
             CASE WHEN cbg IS NULL THEN 1 ELSE 0 END AS is_bo,
             CAST(round(CASE WHEN cbg IS NOT NULL
                  THEN ln(up.cu / cbg)
                  ELSE ln((n + v) / (0.4 * (coalesce(uc.cu, 0) + 1.0)))
                  END * 1000000.0) AS BIGINT) AS s_e6
      FROM db LEFT JOIN rbg USING (p, c)
           LEFT JOIN ruc up ON up.t = db.p
           LEFT JOIN ruc uc ON uc.t = db.c
           CROSS JOIN nv),
    pd AS (SELECT doc_id, sum(k) AS nb, sum(k * is_bo) AS nbo,
                  sum(k * s_e6) AS ssum
           FROM sc GROUP BY 1)"""


@query(
    "bigram_surprisal_documents",
    oracle=f"""
    WITH {_BIGRAM_SCORE_CTES}
    SELECT d.doc_id,
           CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(nbo, 0) AS BIGINT) AS n_backoff,
           CAST(coalesce(ssum, 0) AS BIGINT) AS surprisal_sum_e6,
           CASE WHEN coalesce(nb, 0) > 0
                THEN CAST(ssum // nb AS BIGINT) END AS avg_surprisal_e6
    FROM documents d LEFT JOIN pd USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("tier-c", "quality", "lm_surprisal", "text_analysis", "agg_group"),
)
def bigram_surprisal_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid-Backoff surprisal (operators/text
    .bigram_backoff_surprisal — Brants et al. 2007): counts trained on
    the doc_id %% 3 != 0 reference partition, scores applied to EVERY
    document, so the held-out third genuinely exercises the backoff
    path (a corpus scored on its own counts never backs off; n_backoff
    is reported per doc). The context-sensitive upgrade of
    lm_surprisal_documents: repeated-token degenerate text gets
    expensive, fluent rare-vocabulary prose stops being punished —
    the KenLM-style filter shape of real pretraining pipelines.
    Per-distinct-bigram e6 quantization then pure integer sums/DIV;
    doc-distinct (prev, cur, k) pre-reduction keeps hot stopword pairs
    to one join row per document. The oracle replays counts, backoff
    rule, and quantization bigram-for-bigram."""
    from sql4pandas_spark.operators.text import bigram_backoff_surprisal

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    return bigram_backoff_surprisal(
        docs, docs.filter(F.col("doc_id") % 3 != 0)
    ).orderBy("doc_id")



@query(
    "bigram_gate_per_lang",
    oracle=f"""
    WITH {_BIGRAM_SCORE_CTES},
    avgs AS (
      SELECT d.doc_id, d.lang, CAST(ssum // nb AS BIGINT) AS avg_e6
      FROM documents d JOIN pd USING (doc_id) WHERE nb > 0),
    th AS (
      -- integer-space p75 (the classifier_gate_per_lang trick mirrored):
      -- avg_e6 is already an integer, so lo + 3*(hi-lo)/4 times 4 is an
      -- exact BIGINT — no float rounding for a threshold to flip on
      SELECT lang, CAST(quantile_cont(avg_e6, 0.75) * 4 AS BIGINT)
               AS threshold_e6x4
      FROM avgs GROUP BY lang)
    SELECT a.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN avg_e6 * 4 <= threshold_e6x4
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           threshold_e6x4
    FROM avgs a JOIN th USING (lang)
    GROUP BY a.lang, threshold_e6x4 ORDER BY a.lang
    """,
    tags=("tier-c", "quality", "lm_surprisal", "classifier", "data_mix"),
)
def bigram_gate_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style deployment of bigram surprisal: a PER-LANGUAGE
    calibrated keep-gate on avg Stupid-Backoff surprisal (keep the 75%
    most-fluent docs of EACH language — a global threshold would
    systematically drop whichever language's n-gram statistics sit
    higher, an artifact of tokenization, not quality). Composes
    operators/text.bigram_backoff_surprisal (reference-partition counts,
    held-out docs genuinely back off) with the e6-integer p75 gate from
    classifier_gate_per_lang: avg_e6 is an integer, so the interpolated
    quantile x4 is an exact BIGINT — both engines compute the threshold
    bit-identically. Scale shape: the scoring plan is the bigram entry's
    (corpus-bigram-bounded counts, doc-distinct join pre-reduction); the
    gate adds one per-language aggregate (|langs| rows, broadcast back)
    — nothing new shuffles document text. The oracle replays counts,
    backoff, quantization, threshold interpolation, and the keep rule."""
    from sql4pandas_spark.operators.text import bigram_backoff_surprisal

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    from pyspark.sql import Window

    scored = (
        bigram_backoff_surprisal(docs, docs.filter(F.col("doc_id") % 3 != 0))
        .filter(F.col("n_bigrams") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("avg_surprisal_e6").alias("avg_e6"))
    )
    # the p75 threshold rides a per-language window over the scored frame
    # instead of a groupBy + broadcast join-back: the join-back formulation
    # referenced `scored` twice, re-executing the whole bigram-count/
    # backoff subtree per reference (Catalyst does not dedupe repeated
    # non-exchange subtrees) — the window computes the identical
    # percentile over the identical per-language rows in ONE pass, on the
    # same (doc_id, lang, avg_e6)-skinny shuffle the rollup needs anyway
    return (
        scored.withColumn(
            "threshold_e6x4",
            (F.percentile("avg_e6", F.lit(0.75)).over(
                Window.partitionBy("lang")
            ) * 4).cast("long"),
        )
        .groupBy("lang", "threshold_e6x4")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("avg_e6") * 4 <= F.col("threshold_e6x4")).cast("long")
            ).alias("n_kept"),
        )
        .select("lang", "n_docs", "n_kept", "threshold_e6x4")
        .orderBy("lang")
    )


#: deterministic PII planting over documents — shared ANSI text executed
#: byte-identically by both engines (the fixtures carry no real PII, so
#: without planting the scrub would be a no-op and prove nothing)
#: the planting as a bare shared-ANSI COLUMN EXPRESSION over (doc_id,
#: text) — the batch oracle wraps it in a SELECT over `documents`, the
#: streaming entry applies it per micro-batch via F.expr, so batch and
#: stream plant byte-identical PII
_PII_PLANTED_EXPR = """text || CASE WHEN doc_id % 5 = 0
                     THEN ' contact user' || CAST(doc_id AS STRING)
                          || '@example.com now' ELSE '' END
                  || CASE WHEN doc_id % 7 = 0
                     THEN ' from 10.0.' || CAST(doc_id % 256 AS STRING)
                          || '.1' ELSE '' END
                  || CASE WHEN doc_id % 11 = 0
                     THEN ' ssn 123-45-6789' ELSE '' END
                  || CASE WHEN doc_id % 13 = 0
                     THEN ' call 555-123-4567' ELSE '' END
                  || CASE WHEN doc_id % 17 = 0
                     THEN ' pay 4532015112830366 or 4532015112830367 now'
                     ELSE '' END
                  || CASE WHEN doc_id % 19 = 0
                     THEN ' iban DE89370400440532013000 not'
                          || ' DE89370400440532013001 ref' ELSE '' END
                  || CASE WHEN doc_id % 23 = 0
                     THEN ' key_A7fK2mQ9xP4wL8vB3n and digest '
                          || 'c0ffee5ca1ab1efacade90d15ea5edeadbeef000'
                     ELSE '' END"""

_PII_PLANTED_SQL = f"""
      SELECT doc_id,
             {_PII_PLANTED_EXPR}
               AS text
      FROM documents
"""


def _pii_oracle() -> str:
    """Generate the stagewise DuckDB replay from the SAME stage-expression
    source the operator compiles (operators/text.pii_stage_sql over
    PII_PATTERNS — counts, Luhn gate, and replacements alike) — one
    source, two engines, no drift."""
    from sql4pandas_spark.operators.text import PII_PATTERNS, pii_stage_sql

    stages, cur = [], "text"
    for i, (name, token, pat, validator) in enumerate(PII_PATTERNS):
        nxt = f"t{i}"
        count_sql, next_sql = pii_stage_sql(cur, name, token, pat, validator)
        stages.append(
            f"{count_sql} AS n_{name},\n           {next_sql} AS {nxt}"
        )
        cur = nxt
    inner = "SELECT doc_id,\n           " + ",\n           ".join(stages)
    totals = " + ".join(f"n_{name}" for name, _, _, _ in PII_PATTERNS)
    names = ", ".join(f"n_{name}" for name, _, _, _ in PII_PATTERNS)
    return f"""
    WITH p AS ({_PII_PLANTED_SQL}),
    s AS ({inner} FROM p)
    SELECT doc_id, {cur} AS text, {names},
           CAST({totals} AS BIGINT) AS n_pii
    FROM s ORDER BY doc_id
    """


@query(
    "pii_scrub_documents",
    oracle=_pii_oracle(),
    tags=("tier-c", "pii", "scrub", "quality", "compliance"),
)
def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction station (operators/text.pii_scrub): emails, IPv4s,
    SSN-shaped and phone-shaped numbers, card-shaped numbers
    (Luhn-gated counts), IBAN shapes (ISO 7064 mod-97-gated counts),
    and secret/API-key shapes replaced with typed sentinels and counted
    per document — for both checksummed classes a valid AND an invalid
    instance are planted, so the checksums are load-bearing —
    stagewise (each class counts on the text already scrubbed by
    earlier classes, so an email's host can never double-count as an
    IP). The fixture corpus carries no real PII, so deterministic PII
    is PLANTED via a shared ANSI expression both engines execute — the
    scrub is load-bearing, not vacuously zero. Pure row-local regexp
    chains plus one higher-order Luhn filter, zero shuffles, zero UDFs;
    oracle AND operator are GENERATED from the same stage-expression
    source (pii_stage_sql), so the two engines replay identical
    automata and checksums by construction."""
    from sql4pandas_spark.operators.text import pii_scrub

    register_tables(spark, sf_dir, ("documents",))
    planted = spark.sql(_PII_PLANTED_SQL)
    return pii_scrub(planted).orderBy("doc_id")


# ---------------------------------------------------------------------------
# round 12: the reference's end-to-end identity in ONE hash-checked row
# ---------------------------------------------------------------------------

#: deterministic in-memory rows for the lifecycle entry — Python is the
#: single source; the builder uploads them as a pandas frame, the oracle
#: replays them as a VALUES list
_LIFECYCLE_ROWS: list[tuple[str, int, int]] = [
    (
        "|".join(["apple", "bread", "milk", "eggs", "tea"][: k % 4 + 1]),
        k % 5 + 1,
        99 + 7 * k,
    )
    for k in range(30)
]

#: the reference-dialect statement text — executed VERBATIM by DuckDB (in
#: the oracle) and by Engine.sql(dialect="duckdb") (in the builder), so the
#: dialect front end is load-bearing: string_split with a regex-metachar
#: separator, 1-based [1] access, len(), and // integer division all
#: require rewriting before Spark will accept it
_LIFECYCLE_STMT = """
    SELECT CAST(len(string_split(basket, '|')) AS BIGINT) AS basket_size,
           string_split(basket, '|')[1] AS first_item,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(qty * price_cents) // 100 AS BIGINT) AS rev_units
    FROM purchases
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@query(
    "engine_lifecycle_pandas",
    oracle="""
    WITH purchases (basket, qty, price_cents) AS (VALUES {values})
    {stmt}
    """.format(
        values=", ".join(
            f"('{b}', {q}, {p})" for b, q, p in _LIFECYCLE_ROWS
        ),
        stmt=_LIFECYCLE_STMT,
    ),
    tags=("tier-a", "scan_pandas", "sink_pandas", "sql_frontend",
          "engine_api", "transpile"),
)
def engine_lifecycle_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's EXACT identity — pandas in, reference-dialect SQL,
    pandas out — proven end-to-end in a single hash-checked row instead
    of the two pieces (scan_pandas_join + sql_frontend_*) that proved it
    separately. The builder walks the full user path: ``Engine.register``
    (Arrow upload of an in-memory pandas frame), ``Engine.sql(stmt,
    dialect="duckdb")`` (the dialect front end rewrites string_split /
    1-based access / len / ``//`` before Catalyst sees the text), then
    ``Result.to_pandas()`` (Arrow download). The collected pandas frame
    is re-uploaded only so the driver can hash a DataFrame — the oracle
    replays the same rows as a VALUES CTE and runs the SAME statement
    text natively on DuckDB, so any drift in upload, transpile, execution,
    or download breaks the hash. Result size is group-bounded (4 rows);
    the heavy lifting upstream of to_pandas stays distributed."""
    import pandas as pd

    from sql4pandas_spark.engine import Engine

    eng = Engine(spark)
    eng.register(
        "purchases",
        pd.DataFrame(
            _LIFECYCLE_ROWS, columns=["basket", "qty", "price_cents"]
        ),
    )
    result_pdf = eng.sql(_LIFECYCLE_STMT, dialect="duckdb").to_pandas()
    return spark.createDataFrame(result_pdf)


_ER_OFFSET = 10_000_000  # dirty-entity id space, disjoint from part keys


@query(
    "entity_resolution_parts",
    oracle=f"""
    WITH RECURSIVE clean AS MATERIALIZED (
      SELECT p_partkey AS clean_key,
             lower(trim(p_name || ' ' || p_brand || ' ' || p_type)) AS clean_name
      FROM part),
    dirty AS MATERIALIZED (
      SELECT p_partkey + {_ER_OFFSET} AS dirty_key,
             substr(nm, 1, pos - 1) || substr(nm, pos + 1) AS dirty_name
      FROM (SELECT p_partkey, nm,
                   CAST(p_partkey % length(nm) AS INT) + 1 AS pos
            FROM (SELECT p_partkey,
                         lower(trim(p_name || ' ' || p_brand || ' ' || p_type)) AS nm
                  FROM part)
            WHERE p_partkey % 20 = 3)),
    m AS MATERIALIZED (
      -- MATERIALIZED is load-bearing for runtime, not correctness: inside
      -- a WITH RECURSIVE chain DuckDB otherwise inlines the all-pairs
      -- levenshtein join into both edge directions and loses parallelism
      -- (~18x slower at sf0.1)
      SELECT d.dirty_key AS id_a, c.clean_key AS id_b
      FROM dirty d JOIN clean c
        ON abs(length(d.dirty_name) - length(c.clean_name)) <= 2
      WHERE levenshtein(d.dirty_name, c.clean_name) <= 2),
    edges AS (SELECT id_a AS src, id_b AS dst FROM m
              UNION SELECT id_b, id_a FROM m),
    -- closure over MATCHED nodes only: the HAVING n_members > 1 output is
    -- composed entirely of matched nodes, so singleton seeds would only
    -- inflate the recursion
    nodes AS (SELECT DISTINCT id_a AS id FROM m
              UNION SELECT DISTINCT id_b FROM m),
    reach(src, dst) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    lab AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT cluster_id AS canonical_key,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN id >= {_ER_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dirty
    FROM lab GROUP BY cluster_id HAVING count(*) > 1
    ORDER BY canonical_key
    """,
    tags=("tier-c", "entity_resolution", "join_fuzzy", "connected_components",
          "dedup_near", "graph"),
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END: the fuzzy-join candidate+verify path
    (operators/joins.fuzzy_key_join — LSH-banded, exact Levenshtein
    verify) feeds its matched pairs straight into the public clustering
    API (operators/dedup.label_components), and each multi-member
    cluster reports its canonical representative — the smallest member
    id, which is always a CLEAN part key because dirty entities live in
    an offset id space. This is the production ER shape (match →
    cluster → canonicalize) in one driver-checked row, composing two
    already-proven operators with zero new shuffles beyond their own:
    pairs are fuzzy-match-bounded, propagation is edge-frame-bounded
    (O(diameter) rounds over star-shaped clusters here), the final
    rollup is one groupBy. The oracle recomputes the exact all-pairs
    fuzzy matches and the declarative transitive-closure components, so
    a hash match proves candidate recall, clustering, and canonical
    choice simultaneously."""
    from sql4pandas_spark.operators.dedup import label_components

    t = register_tables(spark, sf_dir, ("part",))
    part = t["part"]
    ent = F.lower(
        F.trim(F.concat_ws(" ", F.col("p_name"), F.col("p_brand"), F.col("p_type")))
    )
    clean = part.select(
        F.col("p_partkey").alias("clean_key"), ent.alias("clean_name")
    )
    pos = (F.col("p_partkey") % F.length(ent) + F.lit(1)).cast("int")
    dirty = part.filter(F.col("p_partkey") % 20 == 3).select(
        (F.col("p_partkey") + F.lit(_ER_OFFSET)).alias("dirty_key"),
        F.concat(
            ent.substr(F.lit(1), pos - 1),
            ent.substr(pos + 1, F.length(ent)),
        ).alias("dirty_name"),
    )
    pairs = joins.fuzzy_key_join(
        dirty, clean, "dirty_name", "clean_name",
        max_distance=2, n_hashes=48, n_bands=48,
    ).select(F.col("dirty_key").alias("id_a"), F.col("clean_key").alias("id_b"))
    nodes = clean.select(F.col("clean_key").alias("id")).unionByName(
        dirty.select(F.col("dirty_key").alias("id"))
    )
    labeled = label_components(nodes, pairs, id_col="id")
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum((F.col("doc_id") >= _ER_OFFSET).cast("long")).alias("n_dirty"),
        )
        .filter(F.col("n_members") > 1)
        .select(
            F.col("cluster_id").alias("canonical_key"), "n_members", "n_dirty"
        )
        .orderBy("canonical_key")
    )


@query(
    "asof_join_nulls",
    oracle=f"""
    WITH ev AS ({_EVENTS_NULLS_SQL}),
    p AS (SELECT event_id, user_id, ts FROM ev
          WHERE event_type = 'purchase'),
    -- the operator's NULL contract, spelled out: NULL-ts clicks never
    -- match (DuckDB's bare ASOF would treat their NULL as +infinity —
    -- a sort-merge artifact, not a contract)...
    c AS (SELECT user_id, ts FROM ev
          WHERE event_type = 'click' AND ts IS NOT NULL)
    -- ...and a NULL-ts purchase keeps its row with a NULL match (bare
    -- ASOF would hand it the latest click)
    SELECT p.event_id, p.user_id,
           CASE WHEN p.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000::BIGINT
                THEN c.ts END AS click_ts
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id LIMIT 300
    """,
    tags=("tier-c", "join_asof", "null_contract"),
)
def asof_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join under PLANTED NULL timestamps AND NULL keys (the shared
    _EVENTS_NULLS_SQL CTE both engines execute): the round-12 NULL
    contract on operators/joins.asof_join — a NULL ts or NULL key never
    matches. Before this round, NULL-ts clicks sorted first in the carry
    window and leaked values through last(ignorenulls) on keys with no
    real match, and NULL-user purchases matched NULL-user clicks through
    the window PARTITION BY (group semantics where equi-join semantics
    were promised) — two silent wrong answers this entry caught while
    being built. The oracle spells the ts contract out around DuckDB's
    ASOF (whose own NULL-ts handling is +infinity, an implementation
    artifact) and gets the key contract from the equi-join itself, so
    the green is load-bearing: removing the right-side filter, the
    left-ts gate, or the key filter from the operator breaks the hash.
    Same one-shuffle union+window plan and exact-microsecond tolerance
    as asof_join_tolerance."""
    ev = _events_with_nulls(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        joins.asof_join(
            purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
            value_cols=["click_ts"], tolerance_seconds=3600,
        )
        .select("event_id", "user_id", "click_ts")
        .orderBy("event_id")
        .limit(300)
    )


@query(
    "range_join_nulls",
    oracle=f"""
    WITH ev AS ({_EVENTS_NULLS_SQL})
    SELECT a.user_id, count(*) AS n_close
    FROM ev a
    JOIN ev b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE
    GROUP BY a.user_id ORDER BY a.user_id
    """,
    tags=("tier-c", "join_range", "null_contract"),
)
def range_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval self-join under PLANTED NULL keys and timestamps
    (shared _EVENTS_NULLS_SQL CTE): inner-join comparison semantics must
    drop every NULL-key and NULL-ts row on BOTH sides — `NULL = x` and
    `NULL > x` are unknown — and the NULL user_id group must not appear
    in the output at all (no NULL-key pairing through the hash join,
    the same class of bug the asof window formulation had). Same
    equi-key + residual-range plan as range_join_close_events; the
    planted rows make the drop load-bearing rather than vacuous."""
    ev = _events_with_nulls(spark, sf_dir)
    a = ev.select(F.col("user_id"), F.col("ts").alias("ts_a"))
    b = ev.select(F.col("user_id").alias("user_b"), F.col("ts").alias("ts_b"))
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 MINUTE")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_close"))
        .orderBy("user_id")
    )


#: deterministic per-doc URL planting for the domain entries — shared ANSI
#: both engines execute; hosts exercise mixed case, ports, schemeless
#: forms, paths, and queries
_URL_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN 'https://News.Site.com/articles/' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'http://spam.bad-ads.net:80/click?id=' || CAST(doc_id AS STRING)
               WHEN 2 THEN 'blog.example.org/post'
               WHEN 3 THEN 'https://tracker.bad-ads.net/px'
               ELSE 'https://docs.example.org:443/ref'
             END AS url
      FROM documents
"""

#: the blocklist — Python is the single source; the builder uploads it as
#: a broadcast frame, the oracle replays it as VALUES
_DOMAIN_BLOCKLIST: tuple[str, ...] = ("bad-ads.net", "malware.example")


def _psl_domain_oracle_cte(url_src: str) -> str:
    """DuckDB replay of operators/text.registered_domain, generated from
    the SAME module constants the operator reads (URL_HOST_RE and the
    five PSL patterns) — the exception, wildcard-suffix NULL, wildcard
    domain, pure-suffix NULL, longest-PSL-match, and last-two-labels
    fallback arms pattern-for-pattern, in the operator's precedence
    order. Emits two CTEs ``h``/``d`` over ``url_src`` (a CTE name
    providing doc_id, url)."""
    return """
    h AS (
      SELECT doc_id,
             lower(regexp_extract(trim(url), '{host_re}', 1)) AS host
      FROM {src}),
    d AS (
      SELECT doc_id,
             CASE WHEN regexp_extract(host, '{exc_re}', 1) <> ''
                    THEN regexp_extract(host, '{exc_re}', 1)
                  WHEN regexp_extract(host, '{wild_pure_re}') <> '' THEN NULL
                  WHEN regexp_extract(host, '{wild_re}', 1) <> ''
                    THEN regexp_extract(host, '{wild_re}', 1)
                  WHEN regexp_extract(host, '{pure_re}') <> '' THEN NULL
                  WHEN regexp_extract(host, '{psl_re}', 1) <> ''
                    THEN regexp_extract(host, '{psl_re}', 1)
                  WHEN regexp_extract(host, '{dom_re}', 1) <> ''
                    THEN regexp_extract(host, '{dom_re}', 1) END AS domain
      FROM h)""".format(
        src=url_src,
        # Every spliced pattern is quote-escaped, not just the host one:
        # the snapshot alphabet is pinned alphanumeric today, but a PSL
        # refresh with an unexpected character must not corrupt the SQL.
        host_re=text.URL_HOST_RE.replace("'", "''"),
        exc_re=text.PSL_EXCEPTION_RE.replace("'", "''"),
        wild_pure_re=text.PSL_WILDCARD_SUFFIX_ONLY_RE.replace("'", "''"),
        wild_re=text.PSL_WILDCARD_DOMAIN_RE.replace("'", "''"),
        pure_re=text.PSL_SUFFIX_ONLY_RE.replace("'", "''"),
        psl_re=text.PSL_DOMAIN_RE.replace("'", "''"),
        dom_re=text.REGISTERED_DOMAIN_RE.replace("'", "''"),
    )


@query(
    "domain_blocklist_documents",
    oracle="""
    WITH u AS ({planted}),
    {psl_ctes},
    b (domain) AS (VALUES {blocked})
    SELECT d.domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           (b.domain IS NOT NULL) AS blocked
    FROM d LEFT JOIN b USING (domain)
    GROUP BY d.domain, blocked ORDER BY d.domain
    """.format(
        planted=_URL_PLANTED_SQL,
        psl_ctes=_psl_domain_oracle_cte("u"),
        blocked=", ".join(f"('{b}')" for b in _DOMAIN_BLOCKLIST),
    ),
    tags=("tier-c", "domain_filter", "blocklist", "quality", "text_analysis"),
)
def domain_blocklist_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist station (operators/text.registered_domain): the
    standard web-corpus source filter — extract each document's
    registered domain (lowercased host, port stripped, longest bundled
    public suffix + one label, last-two-labels fallback; see
    domain_blocklist_psl for the entry where the PSL arm is
    load-bearing) and flag it against a broadcast blocklist, reporting the
    per-domain doc counts and blocked status that feed the source-mix
    audit (the kept corpus is the blocked=false side). URLs are PLANTED
    via a shared ANSI expression exercising mixed-case hosts, explicit
    ports, schemeless forms, and query strings; the blocklist rides the
    plan as one broadcast frame (the blocklist-sized dim of every
    crawl pipeline — never a shuffle); extraction is two shared-subset
    regexes replayed verbatim by the oracle. Output is
    |domains|-bounded."""
    from sql4pandas_spark.operators.text import registered_domain

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_URL_PLANTED_SQL)
    d = u.select("doc_id", registered_domain(F.col("url")).alias("domain"))
    bl = F.broadcast(
        spark.createDataFrame(
            [(b,) for b in _DOMAIN_BLOCKLIST], "domain string"
        ).withColumn("_blocked", F.lit(True))
    )
    return (
        d.join(bl, "domain", "left")
        .groupBy("domain", F.coalesce("_blocked", F.lit(False)).alias("blocked"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("domain", "n_docs", "blocked")
        .orderBy("domain")
    )


#: URL planting for the PSL-load-bearing entry: every case keys
#: DIFFERENTLY under the public-suffix rule than under last-two-labels —
#: ccTLD second-level sites (two DISTINCT .co.uk sites that last-two
#: would pool as one `co.uk` key), a 3-label US k12 registry host (must
#: take the LONGEST suffix, not stop at `ca.us`), a 2-label state host,
#: a hosted-platform subdomain, and a bare public suffix (NULL key).
_URL_PSL_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'https://Shop.Example.co.uk/basket?d=' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'http://spam.tracker.co.uk:80/px'
               WHEN 2 THEN 'news.com.au/story/' || CAST(doc_id AS STRING)
               WHEN 3 THEN 'https://school.k12.ca.us/home'
               WHEN 4 THEN 'https://district.ca.us/board'
               WHEN 5 THEN 'myblog.blogspot.com/post'
               WHEN 6 THEN 'co.uk'
               ELSE 'https://docs.example.com/ref'
             END AS url
      FROM documents
"""

#: blocklist for the PSL entry — `tracker.co.uk` is ONLY matchable when
#: the extractor keys PSL-correctly (last-two keys the host as `co.uk`)
_PSL_BLOCKLIST: tuple[str, ...] = ("tracker.co.uk", "myblog.blogspot.com")


@query(
    "domain_blocklist_psl",
    oracle="""
    WITH u AS ({planted}),
    {psl_ctes},
    b (domain) AS (VALUES {blocked})
    SELECT d.domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           (b.domain IS NOT NULL) AS blocked
    FROM d LEFT JOIN b USING (domain)
    GROUP BY d.domain, blocked ORDER BY d.domain
    """.format(
        planted=_URL_PSL_PLANTED_SQL,
        psl_ctes=_psl_domain_oracle_cte("u"),
        blocked=", ".join(f"('{b}')" for b in _PSL_BLOCKLIST),
    ),
    tags=("tier-c", "domain_filter", "blocklist", "psl", "text_analysis"),
)
def domain_blocklist_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The public-suffix-aware domain keying, LOAD-BEARING
    (operators/text.registered_domain over the bundled
    PUBLIC_SUFFIXES_MULTI snapshot): planted URLs where every case keys
    differently under PSL than under last-two-labels — two distinct
    `*.co.uk` sites that must NOT pool (one of them blocklisted, so a
    last-two implementation both merges the groups AND misses the
    block), a `school.k12.ca.us` host that must take the LONGEST
    matching suffix, a `district.ca.us` 2-label state host, a
    `myblog.blogspot.com` hosted-platform site (private-section
    suffix, itself blocklisted), a bare `co.uk` (a public suffix with
    no registrable part → NULL key, grouped as its own NULL row), and
    a plain `.com` control through the fallback arm. Same broadcast
    blocklist join + |domains|-bounded group as
    domain_blocklist_documents; the oracle replays the pure-suffix /
    longest-PSL / fallback CASE from the same module constants. This
    is the entry the round-12 verdict demanded: a last-two-labels
    extractor FAILS this hash."""
    from sql4pandas_spark.operators.text import registered_domain

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_URL_PSL_PLANTED_SQL)
    d = u.select("doc_id", registered_domain(F.col("url")).alias("domain"))
    bl = F.broadcast(
        spark.createDataFrame(
            [(b,) for b in _PSL_BLOCKLIST], "domain string"
        ).withColumn("_blocked", F.lit(True))
    )
    return (
        d.join(bl, "domain", "left")
        .groupBy("domain", F.coalesce("_blocked", F.lit(False)).alias("blocked"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("domain", "n_docs", "blocked")
        .orderBy("domain")
    )


#: URL planting for the wildcard/exception entry (round-14): every case
#: keys differently under the FULL PSL rule set than under the plain
#: multi-label snapshot — `*.ck`-class wildcard hosts key one level
#: deeper, one-label-plus-base hosts ARE suffixes (NULL), `!`-exception
#: domains cancel the wildcard (and two of the cases distinguish
#: exception handling from wildcard-only handling), plus a fallback
#: `.com` control
_URL_PSL_WILD_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'https://Store.Shop.ck/buy?x=' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'shop.ck'
               WHEN 2 THEN 'https://www.ck/home'
               WHEN 3 THEN 'foo.www.ck/page'
               WHEN 4 THEN 'https://WWW.City.Kobe.jp:443/ward'
               WHEN 5 THEN 'blog.foo.kobe.jp'
               WHEN 6 THEN 'https://example.gov.bd/forms'
               ELSE 'https://docs.example.com/ref'
             END AS url
      FROM documents
"""

#: blocklist for the wildcard/exception entry — `city.kobe.jp` is ONLY
#: matchable via the exception arm (fallback keys the host as
#: `kobe.jp`), `store.shop.ck` only via the wildcard arm (the plain
#: snapshot keys it `shop.ck`)
_PSL_WILD_BLOCKLIST: tuple[str, ...] = ("city.kobe.jp", "store.shop.ck")


@query(
    "psl_wildcard_exception_domains",
    oracle="""
    WITH u AS ({planted}),
    {psl_ctes},
    b (domain) AS (VALUES {blocked})
    SELECT d.domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           (b.domain IS NOT NULL) AS blocked
    FROM d LEFT JOIN b USING (domain)
    GROUP BY d.domain, blocked ORDER BY d.domain
    """.format(
        planted=_URL_PSL_WILD_PLANTED_SQL,
        psl_ctes=_psl_domain_oracle_cte("u"),
        blocked=", ".join(f"('{b}')" for b in _PSL_WILD_BLOCKLIST),
    ),
    tags=("tier-c", "domain_filter", "blocklist", "psl", "text_analysis"),
)
def psl_wildcard_exception_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSL WILDCARD (`*.ck`) and EXCEPTION (`!city.kobe.jp`) rules,
    LOAD-BEARING (operators/text.registered_domain, round-14 arms over
    PSL_WILDCARD_BASES / PSL_EXCEPTIONS): planted URLs where the
    round-13 snapshot provably mis-keys — `Store.Shop.ck` must key as
    `store.shop.ck` (wildcard adds a level; the plain snapshot said
    `shop.ck`), bare `shop.ck` IS a wildcard-generated suffix (NULL
    key), `www.ck` and `foo.www.ck` hit the `!www.ck` exception (a
    wildcard-only implementation returns NULL / `foo.www.ck`
    respectively — the precedence is what this hash pins),
    `WWW.City.Kobe.jp:443` keys as the blocklisted `city.kobe.jp`
    (fallback said `kobe.jp`, missing the block), `blog.foo.kobe.jp`
    keys four-label under the `*.kobe.jp` wildcard, `example.gov.bd`
    keys three-label under `*.bd`, and a `.com` control rides the
    fallback arm. Same broadcast blocklist join + |domains|-bounded
    group as domain_blocklist_psl; the oracle replays all six CASE
    arms from the same module constants in the same precedence
    order."""
    from sql4pandas_spark.operators.text import registered_domain

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_URL_PSL_WILD_PLANTED_SQL)
    d = u.select("doc_id", registered_domain(F.col("url")).alias("domain"))
    bl = F.broadcast(
        spark.createDataFrame(
            [(b,) for b in _PSL_WILD_BLOCKLIST], "domain string"
        ).withColumn("_blocked", F.lit(True))
    )
    return (
        d.join(bl, "domain", "left")
        .groupBy("domain", F.coalesce("_blocked", F.lit(False)).alias("blocked"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("domain", "n_docs", "blocked")
        .orderBy("domain")
    )


#: boilerplate-under-PSL planting: two DISTINCT .co.uk shops plus a
#: hosted-platform site and a .com control. 'Free UK delivery' sits in
#: exactly 60% of shopa's pages (≥ the 60% threshold → stripped when
#: grouped per PSL site) but a last-two-labels grouping pools shopa and
#: shopb into one `co.uk` "domain" where the line is ~30% (< 60 → kept)
#: and each shop's 100% banner dilutes to ~50% (< 60 → kept) — so the
#: naive grouping produces a DIFFERENT clean_text on most rows
_BP_PSL_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'https://shopa.co.uk/p/' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'https://shopb.co.uk/p/' || CAST(doc_id AS STRING)
               WHEN 2 THEN 'https://mysite.github.io/p/' || CAST(doc_id AS STRING)
               ELSE 'https://example.com/p/' || CAST(doc_id AS STRING)
             END AS url,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN CASE WHEN doc_id % 10 < 6
                                THEN 'Free UK delivery' || chr(10)
                                ELSE '' END
                           || 'BannerA' || chr(10)
                           || 'content-' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'BannerB' || chr(10)
                           || 'content-' || CAST(doc_id AS STRING)
               WHEN 2 THEN 'BannerG' || chr(10)
                           || 'content-' || CAST(doc_id AS STRING)
               ELSE 'BannerE' || chr(10)
                    || 'content-' || CAST(doc_id AS STRING)
             END AS text
      FROM documents
"""


@query(
    "boilerplate_psl_domains",
    oracle=f"""
    WITH u AS ({_BP_PSL_PLANTED_SQL}),
    {_psl_domain_oracle_cte("u")},
    docs AS (SELECT u.doc_id, d.domain, u.text
             FROM u JOIN d ON d.doc_id = u.doc_id),
    l AS (SELECT domain,
                 unnest(list_distinct(string_split(text, chr(10)))) AS line
          FROM docs WHERE domain IS NOT NULL),
    lc AS (SELECT domain, line, count(*) AS n FROM l GROUP BY 1, 2),
    dd AS (SELECT domain, count(*) AS nd FROM docs
           WHERE domain IS NOT NULL GROUP BY 1),
    bl AS (SELECT lc.domain, list(lc.line) AS bll
           FROM lc JOIN dd USING (domain)
           WHERE dd.nd >= 2 AND lc.n * 100 >= dd.nd * 60
           GROUP BY 1)
    SELECT docs.doc_id, docs.domain,
           array_to_string(list_filter(string_split(docs.text, chr(10)),
             x -> NOT coalesce(list_contains(b.bll, x), false)), chr(10))
             AS clean_text,
           CAST(len(string_split(docs.text, chr(10)))
                - len(list_filter(string_split(docs.text, chr(10)),
                    x -> NOT coalesce(list_contains(b.bll, x), false)))
                AS INT) AS n_lines_removed
    FROM docs LEFT JOIN bl b USING (domain)
    ORDER BY docs.doc_id
    """,
    tags=("tier-c", "boilerplate", "psl", "domain_filter", "quality",
          "text_analysis"),
)
def boilerplate_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate voting grouped by the PSL-aware registered domain —
    the second station the round-12 verdict said must inherit correct
    grouping: URLs key through operators/text.registered_domain, and
    the per-domain line votes run per REGISTERED SITE, not per ccTLD
    registry. The planting makes the grouping load-bearing both ways:
    'Free UK delivery' sits in exactly 60% of shopa.co.uk's pages
    (stripped per-site; a last-two-labels pool of shopa+shopb dilutes
    it to ~30% → kept) and each shop's 100% banner dilutes to ~50% in
    the pooled group (→ kept), so the naive grouping changes
    clean_text on most rows and fails the hash. Same scale shape as
    strip_boilerplate: votes shuffle as 8-byte (domain, line-hash)
    partials, text never moves, decision arrays broadcast back;
    the hash-free oracle replays votes on the LINE STRINGS, so an
    xxhash64 collision would fail the entry rather than hide in it."""
    from sql4pandas_spark.operators.text import (
        registered_domain,
        strip_boilerplate,
    )

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_BP_PSL_PLANTED_SQL)
    docs = u.select(
        "doc_id", registered_domain(F.col("url")).alias("domain"), "text"
    )
    return (
        strip_boilerplate(docs, min_pct=60, min_docs=2)
        .select("doc_id", "domain", "clean_text", "n_lines_removed")
        .orderBy("doc_id")
    )


@query(
    "semantic_dedup_clusters",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    m AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(CAST(list_cosine_similarity(a.emb, b.emb) AS DOUBLE), 4)
              >= 0.45),
    edges AS (SELECT id_a AS src, id_b AS dst FROM m
              UNION SELECT id_b, id_a FROM m),
    nodes AS (SELECT DISTINCT id_a AS id FROM m
              UNION SELECT DISTINCT id_b FROM m),
    reach(src, dst) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.src, x.dst FROM reach r JOIN edges x ON r.dst = x.src),
    lab AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT cluster_id AS canonical_vec,
           CAST(count(*) AS BIGINT) AS n_members
    FROM lab GROUP BY cluster_id HAVING count(*) > 1
    ORDER BY canonical_vec
    """,
    tags=("tier-c", "dedup_near", "embedding", "connected_components",
          "sim_search"),
)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end — the embedding-space mirror of
    entity_resolution_parts: cosine near-pairs (broadcast-matmul scorer,
    operators/similarity.cosine_near_pairs — candidates never all-pairs
    materialized on the Spark side at scale) feed the public clustering
    API (operators/dedup.label_components), and each multi-member
    cluster reports its canonical member (smallest vec_id) and size —
    the keep-one-per-cluster decision of embedding-based near-dedup
    (SemDeDup's deployment shape). The oracle recomputes exact cosine
    pairs and the recursive-closure components, so one hash proves
    scoring threshold, clustering, and canonical choice together.
    Fixture cosine ceiling is ~0.51, so the 0.45 cut is a real
    discriminator, not keep-everything."""
    from sql4pandas_spark.operators.dedup import label_components

    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    pairs = similarity.cosine_near_pairs(emb, threshold=0.45).select(
        "id_a", "id_b"
    )
    labeled = label_components(
        emb.select(F.col("vec_id").alias("id")), pairs, id_col="id"
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
        .select(F.col("cluster_id").alias("canonical_vec"), "n_members")
        .orderBy("canonical_vec")
    )


def _pii_totals_oracle() -> str:
    """Corpus-total replay of the stagewise scrub — the streaming entry's
    oracle: sum each class's Luhn/mod-97-gated counts over the planted
    corpus. Same stage-expression source as the per-doc oracle."""
    from sql4pandas_spark.operators.text import PII_PATTERNS

    names = ",\n           ".join(
        f"CAST(sum(n_{name}) AS BIGINT) AS n_{name}"
        for name, _, _, _ in PII_PATTERNS
    )
    return f"""
    WITH per_doc AS ({_pii_oracle()})
    SELECT {names},
           CAST(sum(n_pii) AS BIGINT) AS n_pii,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM per_doc
    """


@query(
    "stream_pii_scrub_counts",
    oracle=_pii_totals_oracle(),
    tags=("tier-c", "pii", "scrub", "scan_stream", "foreach_batch",
          "incr_agg", "compliance"),
)
def stream_pii_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII redaction station IN THE STREAM — the deployment shape
    where scrubbing happens on ingestion, not in a batch sweep: the
    planted corpus lands in three files, a file stream drains them with
    foreachBatch, each micro-batch runs the SAME row-local pii_scrub
    (the planting expression applied per batch via the shared ANSI
    column expression, so batch and stream plant byte-identically) and
    folds its per-class count deltas into a versioned additive state
    store (streaming/sketches.sketch_apply_batch — crash-replay
    idempotent, the vacuum interlock applies). The declared result is
    the final corpus-total census read off the store — hash-equal to
    the batch oracle's totals, proving the stream saw every document
    exactly once and scrubbed it identically. Per-batch work is
    row-local scrub + a 1-row aggregate; state is ONE row per version."""
    from sql4pandas_spark.operators.text import PII_PATTERNS, pii_scrub
    from sql4pandas_spark.streaming import cdc, sketches

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"].select("doc_id", "text")
    land, root, ckpt = _scratch_dirs(
        "pii_stream_land", "pii_stream_store", "pii_stream_ckpt"
    )
    for i in range(3):
        _stage_changeset_file(
            docs.filter(F.col("doc_id") % 3 == i), land, f"docs_{i:02d}.parquet"
        )
    count_cols = [f"n_{name}" for name, _, _, _ in PII_PATTERNS] + [
        "n_pii", "n_docs",
    ]
    zero = spark.createDataFrame(
        [tuple(0 for _ in count_cols)],
        ", ".join(f"{c} long" for c in count_cols),
    )
    sketches.seed_state(zero, root)

    def batch_counts(batch: DataFrame) -> DataFrame:
        planted = batch.select(
            "doc_id", F.expr(_PII_PLANTED_EXPR).alias("text")
        )
        scrubbed = pii_scrub(planted)
        aggs = [
            F.sum(c).cast("long").alias(c) for c in count_cols[:-1]
        ] + [F.count(F.lit(1)).cast("long").alias("n_docs")]
        return scrubbed.agg(*aggs)

    def merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        both = prev.unionByName(cur)
        return both.agg(
            *[F.sum(c).cast("long").alias(c) for c in count_cols]
        )

    stream = spark.readStream.schema(docs.schema).parquet(land)
    sketches.run_sketch_stream(stream, root, batch_counts, merge,
                               checkpoint=ckpt)
    return cdc.latest_snapshot(spark, root).select(*count_cols)


@query(
    "token_entropy_documents",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    t AS (SELECT doc_id, w, len(w) AS n FROM toks)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(CASE WHEN n > 0 THEN
             list_sum(list_transform(
               list_transform(list_distinct(w),
                              d -> len(list_filter(w, x -> x = d))),
               c -> CAST(round(c * ln(CAST(n AS DOUBLE) / c) * 1000000.0)
                         AS BIGINT)
             )) // n
           END AS BIGINT) AS entropy_e6
    FROM t ORDER BY doc_id
    """,
    tags=("tier-c", "quality", "entropy", "text_analysis"),
)
def token_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy
    (operators/text.token_entropy) — the continuous randomness signal of
    the quality family: near-zero flags degenerate repetition, near-ln(n)
    flags gibberish. Per-distinct-token e6 quantization of c·ln(n/c)
    then integer sum and floor division (the surprisal/PSI convention —
    no float accumulation order for engines to disagree on); the oracle
    replays tokenizer, counts, quantization, and the division
    term-for-term. Row-local HOFs only: one scan, zero shuffles."""
    from sql4pandas_spark.operators.text import token_entropy

    t = register_tables(spark, sf_dir, ("documents",))
    return token_entropy(t["documents"]).orderBy("doc_id")


# --------------------------------------------------------------------------
# Round 12 (cont.): per-domain boilerplate-line removal — the RefinedWeb /
# CCNet crawl station between domain filtering and dedup.

#: deterministic multi-line page planting for the boilerplate entry —
#: shared ANSI both engines execute verbatim. Per domain: a nav line in
#: 100% of docs and a copyright footer in 100% (stripped at min_pct=30),
#: a newsletter line in ~50% (stripped), a store line in ~20% (KEPT — the
#: threshold is a real discriminator), plus a content prefix and a
#: guaranteed-unique line (kept).
_BOILERPLATE_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'news.site.com'
               WHEN 1 THEN 'blog.example.org'
               ELSE 'docs.example.org'
             END AS domain,
             'Home | About | Contact' || chr(10)
               || CASE WHEN doc_id % 2 = 0
                       THEN 'Subscribe to our newsletter' || chr(10)
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN 'Visit our store' || chr(10)
                       ELSE '' END
               || substr(text, 1, 40 + CAST(doc_id % 7 AS INT)) || chr(10)
               || 'unique-' || CAST(doc_id AS STRING) || chr(10)
               || 'Copyright ' ||
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'news.site.com'
               WHEN 1 THEN 'blog.example.org'
               ELSE 'docs.example.org'
             END AS text
      FROM documents
"""


@query(
    "boilerplate_strip_documents",
    oracle=f"""
    WITH p AS ({_BOILERPLATE_PLANTED_SQL}),
    l AS (SELECT domain,
                 unnest(list_distinct(string_split(text, chr(10)))) AS line
          FROM p),
    lc AS (SELECT domain, line, count(*) AS n FROM l GROUP BY 1, 2),
    dd AS (SELECT domain, count(*) AS nd FROM p GROUP BY 1),
    bl AS (SELECT lc.domain, list(lc.line) AS bll
           FROM lc JOIN dd USING (domain)
           WHERE dd.nd >= 2 AND lc.n * 100 >= dd.nd * 30
           GROUP BY 1)
    SELECT p.doc_id,
           array_to_string(
             list_filter(string_split(p.text, chr(10)),
                         x -> NOT coalesce(list_contains(b.bll, x), false)),
             chr(10)) AS clean_text,
           CAST(len(string_split(p.text, chr(10)))
                - len(list_filter(string_split(p.text, chr(10)),
                      x -> NOT coalesce(list_contains(b.bll, x), false)))
                AS INT) AS n_lines_removed
    FROM p LEFT JOIN bl b USING (domain)
    ORDER BY p.doc_id LIMIT 300
    """,
    tags=("tier-c", "boilerplate", "quality", "text_analysis",
          "domain_filter"),
)
def boilerplate_strip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain boilerplate-line removal
    (operators/text.strip_boilerplate) — the crawl-cleaning station
    between the domain blocklist and dedup: lines appearing in >= 30% of
    a domain's documents (nav bars, cookie banners, copyright footers)
    are stripped from every document of that domain; rarer lines and
    unique content survive. Pages are PLANTED via a shared ANSI
    expression so every frequency band is load-bearing: two 100% lines
    and a ~50% line must go, a ~20% line and the per-doc unique line
    must stay — removing the threshold, the per-doc distinct vote, or
    the domain scoping on either side breaks the hash. Counting shuffles
    only (domain, xxhash64(line)) pairs with map-side combine; the
    decision frame is ONE frequent-line hash array per domain broadcast
    back; removal is a row-local higher-order re-hash filter — document
    text never shuffles, zero UDFs. The oracle replays votes, the exact
    integer-percent threshold, and the rebuild line-for-line on the raw
    line strings (hash-free — so a Spark-side hash collision would fail
    the entry rather than hide in it)."""
    from sql4pandas_spark.operators.text import strip_boilerplate

    register_tables(spark, sf_dir, ("documents",))
    p = spark.sql(_BOILERPLATE_PLANTED_SQL)
    return (
        strip_boilerplate(p, min_pct=30, min_docs=2)
        .select("doc_id", "clean_text", "n_lines_removed")
        .orderBy("doc_id")
        .limit(300)
    )


def _sq8_dq_expr(vec: str) -> str:
    """DuckDB quantize→clamp→dequantize of one vector through the shared
    scale list `sl` — the oracle snippet both SQ8 entries compose. Clamp
    mirrors operators/similarity.sq8_code_col (frozen-scale add batches
    saturate at ±127 instead of overflowing the byte)."""
    return (
        "[CASE WHEN sl[i] > 0 THEN greatest(-127.0, least(127.0, "
        f"round({vec}[i] * 127.0 / sl[i]))) * sl[i] / 127.0 "
        f"ELSE 0.0 END FOR i IN range(1, len({vec}) + 1)]"
    )


@query(
    "ann_sq8_top10",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    one AS (SELECT max(len(emb)) AS dim FROM e),
    idx AS (SELECT unnest(range(1, dim + 1)) AS i FROM one),
    sc AS (SELECT i, max(abs(emb[i])) AS s FROM e, idx GROUP BY i),
    sl AS (SELECT list_transform(list_sort(list([CAST(i AS DOUBLE), s])),
                                 p -> p[2]) AS sl FROM sc),
    q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
    rq AS (SELECT qe, {_sq8_dq_expr("qe")} AS qdq FROM q, sl),
    v AS (SELECT vec_id, emb, {_sq8_dq_expr("emb")} AS da
          FROM e, sl WHERE vec_id <> 0)
    SELECT vec_id,
           round(CAST(list_cosine_similarity(da, qdq) AS DOUBLE), 4)
             AS sim_q8,
           round(CAST(list_cosine_similarity(emb, qe) AS DOUBLE), 4)
             AS sim_exact
    FROM v, rq
    ORDER BY sim_q8 DESC, vec_id LIMIT 10
    """,
    tags=("tier-c", "sim_search_ann", "quantization"),
)
def ann_sq8_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) top-10 — the compressed-vector scoring tier
    of the ANN family (operators/similarity.sq8_query_topk): per-dimension
    max-abs scales train on the WHOLE corpus (dim-sized bounded metadata,
    the IVF-centroid footprint), every vector quantizes to int8 codes
    (1 byte/dim — the 4-8x memory/scan lever that keeps a 100 TB embedding
    store in hot storage), and cosine is scored over the shared-scale
    reconstructions with the exact cosine reported alongside so the
    quantization error is visible in the result. Unlike PQ's k-means
    codebooks the quantizer is fully deterministic, so the oracle replays
    scales, codes, reconstruction, scoring, and the top-k VALUE-EXACTLY —
    the hash-checked member of the ANN family (IVF at n_probe=4 gets the
    statistical-recall contract instead). Row-local JVM expressions;
    top-k is TakeOrderedAndProject."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    scales = similarity.sq8_scales(emb)
    return similarity.sq8_query_topk(
        emb.filter(F.col("vec_id") != 0),
        _query_vector(sf_dir),
        k=10,
        scales=scales,
    )


#: deterministic planting for the Gopher gate — shared ANSI both engines
#: execute. Bands are arranged so every rule fires both ways AND the final
#: keep is a real mix: %11=0 docs shrink to 3 words (word-count floor),
#: %7=2 docs become a 40-word stopword-free salad that passes every OTHER
#: rule (r_stopwords fails alone — attribution visible), %4=0 docs get 10
#: bullet lines (10/11 lines >= 90%), odd %6=1 docs get 3 ellipsis lines
#: of 4+ (>= 30%; disjoint from the even bullet band); every other doc
#: gets a stopword-bearing English preamble in front of the fixture word
#: salad so the stopword rule passes independently of the planted bands.
_GOPHER_PLANTED_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'aa bb cc'
                  ELSE CASE WHEN doc_id % 7 = 2
                            THEN 'alpha bravo charlie delta echo foxtrot'
                              || ' golf hotel india juliet kilo lima mike'
                              || ' november oscar papa quebec romeo sierra'
                              || ' tango uniform victor whiskey xray yankee'
                              || ' zulu apple banana cherry durian elder'
                              || ' fig grape honey iris jasmine kiwi lemon'
                              || ' mango nectar'
                            ELSE 'the notes that follow describe the data '
                              || text END
                    || CASE WHEN doc_id % 4 = 0
                            THEN chr(10) || '- one' || chr(10) || '- two'
                              || chr(10) || '- three' || chr(10) || '- four'
                              || chr(10) || '- five' || chr(10) || '- six'
                              || chr(10) || '- seven' || chr(10) || '- eight'
                              || chr(10) || '- nine' || chr(10) || '- ten'
                            ELSE '' END
                    || CASE WHEN doc_id % 6 = 1
                            THEN chr(10) || 'nx continued...'
                              || chr(10) || 'more soon...'
                              || chr(10) || 'yet more...'
                            ELSE '' END
             END AS text
      FROM documents
"""


@query(
    "gopher_quality_gate",
    oracle=f"""
    WITH p AS ({_GOPHER_PLANTED_SQL}),
    t AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS w,
                 string_split(text, chr(10)) AS lines
          FROM p),
    m AS (SELECT doc_id,
                 len(w) AS n,
                 list_sum(list_transform(w, x -> length(x)))::BIGINT
                   AS sum_len,
                 len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(lines) AS n_lines,
                 len(list_filter(lines, l -> starts_with(l, '- ')))
                   AS n_bullet,
                 len(list_filter(lines, l -> l LIKE '%...')) AS n_ell,
                 len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
                                  'have', 'with'],
                                 s -> list_contains(
                                        list_transform(w, x -> lower(x)), s)))
                   AS n_stop
          FROM t)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_words,
           (n >= 30 AND n <= 100000) AS r_word_count,
           (sum_len >= 3 * n AND sum_len <= 10 * n) AS r_mean_word_len,
           (5 * n_alpha > 4 * n) AS r_alpha_words,
           (10 * n_bullet < 9 * n_lines) AS r_bullet_lines,
           (10 * n_ell < 3 * n_lines) AS r_ellipsis_lines,
           (n_stop >= 2) AS r_stopwords,
           ((n >= 30 AND n <= 100000) AND (sum_len >= 3 * n AND
             sum_len <= 10 * n) AND (5 * n_alpha > 4 * n) AND
            (10 * n_bullet < 9 * n_lines) AND (10 * n_ell < 3 * n_lines)
            AND (n_stop >= 2)) AS keep
    FROM m ORDER BY doc_id
    """,
    tags=("tier-c", "quality", "gopher_rules", "text_analysis"),
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher heuristic quality gate (operators/text.gopher_rules;
    Rae et al. 2021 §A1.1) — the published rule set every English
    pretraining pipeline starts from, with PER-RULE attribution columns
    so a drop is debuggable, not just counted: word-count bounds
    (floor 30 here — the fixture's word-salad docs straddle it), mean
    word length in [3, 10], >80% alphabetic words, <90% bullet lines,
    <30% ellipsis lines, >= 2 required stopwords. The planted corpus
    makes every rule load-bearing in BOTH directions (bands in
    _GOPHER_PLANTED_SQL). Every threshold is an exact integer
    cross-multiplication, so the oracle replays the gate bit-exactly —
    no float ratios anywhere. One scan, row-local HOFs, zero UDFs."""
    from sql4pandas_spark.operators.text import gopher_rules

    register_tables(spark, sf_dir, ("documents",))
    p = spark.sql(_GOPHER_PLANTED_SQL)
    return gopher_rules(p, min_words=30).orderBy("doc_id")


#: deterministic HTML wrapping for the extraction entry — shared ANSI both
#: engines execute: head/style payloads that must vanish, a script band
#: (whose body contains a bare '<' that would poison a naive tag-strip),
#: a comment band, and an entity paragraph exercising one-level decode
#: (incl. the '&amp;lt;' double-decode trap)
_HTML_PLANTED_SQL = """
      SELECT doc_id,
             '<html><head><title>t</title><style>p '
               || CASE WHEN doc_id >= 0 THEN '{' ELSE '' END
               || 'color:red}</style></head><body>'
               || '<h1>Doc ' || CAST(doc_id AS STRING) || '</h1>'
               || CASE WHEN doc_id % 3 = 0
                       THEN '<script>var x = 1 < 2;</script>' ELSE '' END
               || '<p>' || text || '</p>'
               || CASE WHEN doc_id % 4 = 1
                       THEN '<!-- hidden comment -->' ELSE '' END
               || '<p>5 &amp; 6 &amp;lt;keep&amp;gt; &lt;i&gt;lit&lt;/i&gt;'
               || ' &quot;q&quot; &#39;s&#39; x&nbsp;y</p>'
               || '</body></html>' AS html
      FROM documents
"""


def _html_oracle_expr(col: str) -> str:
    """DuckDB replay of operators/text.html_to_text, generated from the
    SAME stage tables the operator reads — pattern-for-pattern."""
    from sql4pandas_spark.operators.text import (
        HTML_ENTITIES,
        HTML_STRIP_STAGES,
        HTML_WS_STAGES,
    )

    out = col
    # patterns are quote-escaped on splice (round-14: the quote-aware
    # tag stage carries literal ' and " inside the pattern)
    for pat, repl in HTML_STRIP_STAGES:
        p, r = pat.replace("'", "''"), repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    for pat, repl in HTML_WS_STAGES:
        p, r = pat.replace("'", "''"), repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


@query(
    "html_extract_documents",
    oracle=f"""
    WITH p AS ({_HTML_PLANTED_SQL}),
    c AS (SELECT doc_id, {_html_oracle_expr("html")} AS clean_text FROM p)
    SELECT doc_id, clean_text,
           CAST(length(clean_text) AS BIGINT) AS n_chars_clean
    FROM c ORDER BY doc_id LIMIT 300
    """,
    tags=("tier-c", "html_extract", "text_analysis", "scrub"),
)
def html_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible-text extraction (operators/text.html_to_text) — the
    WET-generation step in front of every crawl-curation pipeline, so the
    quality gates and dedup downstream score prose, not markup. Pages are
    PLANTED via a shared ANSI wrapper making every stage load-bearing:
    head/style payloads must vanish entirely (a naive tag-strip leaves
    'color:red' behind as fake prose), the script band's body contains a
    bare '<' that poisons tag-stripping if script removal is skipped or
    ordered late, a comment band, and an entity paragraph where
    '&amp;lt;' must decode ONE level (to '&lt;') while real '&lt;i&gt;'
    decodes to a visible literal tag — the double-decode trap. The
    operator is chained row-local JVM regexp/replace stages over
    module-constant tables; the oracle is GENERATED from those same
    tables, and both engines execute the identical pattern list. Zero
    UDFs, zero shuffles."""
    from sql4pandas_spark.operators.text import html_to_text

    register_tables(spark, sf_dir, ("documents",))
    p = spark.sql(_HTML_PLANTED_SQL)
    return (
        p.select(
            "doc_id",
            html_to_text(F.col("html")).alias("clean_text"),
        )
        .withColumn("n_chars_clean", F.length("clean_text").cast("long"))
        .orderBy("doc_id")
        .limit(300)
    )


#: malformed-HTML planting (round-14): every case is a real-crawl
#: pathology the round-13 extractor provably mishandles — unclosed
#: script (JS leaks as prose), CDATA payload containing `>` (tail
#: leaks), unclosed comment (rest of page was kept), `>` inside a
#: quoted attribute (attribute tail leaks), bare `<`/`>` prose eaten as
#: a pseudo-tag, and a title inside an unclosed head (title leaked)
_HTML_MALFORMED_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN '<p>Real intro</p><script>var hidden = "SELL NOW"; if (a<b) { trackUser(); }'
               WHEN 1 THEN '<p>Before</p><![CDATA[raw > bits <tag> more]]><p>After</p>'
               WHEN 2 THEN '<p>Visible</p><!-- tracking pixel <img src=x> and the rest of the page'
               WHEN 3 THEN '<a href="/x?a>b" title="q">Link</a> tail text'
               WHEN 4 THEN 'math: 1 < 2 > 0 and <b>bold</b> stays'
               ELSE '<head><title>Site - Secret Title</title><meta a=b>Body text only'
             END AS html
      FROM documents
"""


@query(
    "html_malformed_recovery",
    oracle=f"""
    WITH p AS ({_HTML_MALFORMED_PLANTED_SQL}),
    c AS (SELECT doc_id, CAST(doc_id % 6 AS BIGINT) AS case_id,
                 {_html_oracle_expr("html")} AS clean_text FROM p)
    SELECT case_id, clean_text, CAST(count(*) AS BIGINT) AS n_docs
    FROM c GROUP BY case_id, clean_text ORDER BY case_id, clean_text
    """,
    tags=("tier-c", "html_extract", "text_analysis", "scrub", "quality"),
)
def html_malformed_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-HTML recovery in the extractor (round-14 stages in
    operators/text.HTML_STRIP_STAGES), each planted case mishandled by
    the round-13 table: an UNCLOSED <script> consumes to end-of-document
    (browser tokenizer behavior) instead of leaking
    'var hidden = "SELL NOW"…' as prose; a CDATA section whose payload
    contains `>` strips whole instead of leaking its tail; an UNCLOSED
    comment consumes the rest of the page (the HTML5 EOF-in-comment
    rule); a `>` inside a quoted attribute no longer truncates the tag
    (the quote-aware generic matcher); prose `1 < 2 > 0` is no longer
    eaten as a pseudo-tag; and a <title> inside an unclosed <head> is
    stripped as metadata. The oracle is generated from the same stage
    tables (quote-escaped splice), so a hash match proves both engines
    run the identical recovery; the expected clean strings themselves
    are pinned as literals in tests/test_round14_ops.py, with an
    old-vs-new divergence test proving the r13 table fails every
    case."""
    from sql4pandas_spark.operators.text import html_to_text

    register_tables(spark, sf_dir, ("documents",))
    p = spark.sql(_HTML_MALFORMED_PLANTED_SQL)
    return (
        p.select(
            (F.col("doc_id") % 6).cast("long").alias("case_id"),
            html_to_text(F.col("html")).alias("clean_text"),
        )
        .groupBy("case_id", "clean_text")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("case_id", "clean_text")
    )


#: the crawl-curation chain's planted pages — shared ANSI: per-domain nav
#: and copyright boilerplate (100% of the domain → stripped), a content
#: paragraph with a stopword-bearing preamble (normal docs), a 3-word
#: %11 band (fails the gopher word floor), a 40-word stopword-free %7=2
#: band (fails ONLY r_stopwords), and a per-doc unique line (kept)
_CRAWL_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'news.site.com'
               WHEN 1 THEN 'blog.example.org'
               ELSE 'docs.example.org'
             END AS domain,
             '<html><head><title>x</title></head><body>'
               || '<p>Home | About | Contact</p>'
               || '<p>'
               || CASE WHEN doc_id % 11 = 0 THEN 'aa bb cc'
                       WHEN doc_id % 7 = 2
                       THEN 'alpha bravo charlie delta echo foxtrot golf'
                         || ' hotel india juliet kilo lima mike november'
                         || ' oscar papa quebec romeo sierra tango uniform'
                         || ' victor whiskey xray yankee zulu apple banana'
                         || ' cherry durian elder fig grape honey iris'
                         || ' jasmine kiwi lemon mango nectar'
                       ELSE 'the notes that follow describe the data '
                         || text END
               || '</p>'
               || '<p>unique-' || CAST(doc_id AS STRING) || '</p>'
               || '<p>Copyright '
               || CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'news.site.com'
                    WHEN 1 THEN 'blog.example.org'
                    ELSE 'docs.example.org'
                  END
               || '</p></body></html>' AS html
      FROM documents
"""


def _crawl_chain_oracle() -> str:
    """The chain's DuckDB replay, composed from the SAME sources the
    operators read: html stages (generated), the boilerplate vote /
    threshold / rebuild, and the gopher integer rules."""
    ctes, final = _crawl_chain_parts()
    return f"\n    WITH {ctes}\n    {final}\n    ORDER BY doc_id\n    "


def _crawl_chain_parts(p_sql: str | None = None) -> tuple[str, str]:
    """(cte_block, final_select) of the curation-chain replay — exposed
    separately so composed oracles (rank-weighted curation, URL-dedup
    front end) can splice the chain into a larger WITH clause.
    ``p_sql`` overrides the planted source; it must yield
    (doc_id, domain, html) and may reference CTEs the caller emits
    BEFORE this block."""
    strip = (
        "list_filter(string_split({t}, chr(10)),"
        " x -> NOT coalesce(list_contains(b.bll, x), false))"
    )
    if p_sql is None:
        p_sql = _CRAWL_PLANTED_SQL
    ctes = f"""p AS ({p_sql}),
    x AS (SELECT doc_id, domain, {_html_oracle_expr("html")} AS text FROM p),
    l AS (SELECT domain,
                 unnest(list_distinct(string_split(text, chr(10)))) AS line
          FROM x),
    lc AS (SELECT domain, line, count(*) AS n FROM l GROUP BY 1, 2),
    dd AS (SELECT domain, count(*) AS nd FROM x GROUP BY 1),
    bl AS (SELECT lc.domain, list(lc.line) AS bll
           FROM lc JOIN dd USING (domain)
           WHERE dd.nd >= 2 AND lc.n * 100 >= dd.nd * 60
           GROUP BY 1),
    s AS (SELECT x.doc_id, x.domain,
                 array_to_string({strip.format(t="x.text")}, chr(10))
                   AS clean_text,
                 CAST(len(string_split(x.text, chr(10)))
                      - len({strip.format(t="x.text")}) AS INT)
                   AS n_lines_removed
          FROM x LEFT JOIN bl b USING (domain)),
    t AS (SELECT doc_id, domain, n_lines_removed,
                 list_filter(regexp_split_to_array(clean_text, '\\s+'),
                             w -> w <> '') AS w,
                 string_split(clean_text, chr(10)) AS lines
          FROM s),
    m AS (SELECT doc_id, domain, n_lines_removed,
                 len(w) AS n,
                 list_sum(list_transform(w, x -> length(x)))::BIGINT
                   AS sum_len,
                 len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(lines) AS n_lines,
                 len(list_filter(lines, q -> starts_with(q, '- ')))
                   AS n_bullet,
                 len(list_filter(lines, q -> q LIKE '%...')) AS n_ell,
                 len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
                                  'have', 'with'],
                                 s2 -> list_contains(
                                         list_transform(w, x -> lower(x)),
                                         s2))) AS n_stop
          FROM t)"""
    final = """SELECT doc_id, domain, n_lines_removed,
           CAST(n AS BIGINT) AS n_words,
           ((n >= 30 AND n <= 100000) AND (sum_len >= 3 * n AND
             sum_len <= 10 * n) AND (5 * n_alpha > 4 * n) AND
            (10 * n_bullet < 9 * n_lines) AND (10 * n_ell < 3 * n_lines)
            AND (n_stop >= 2)) AS keep
    FROM m"""
    return ctes, final


@query(
    "crawl_curation_chain",
    oracle=_crawl_chain_oracle(),
    tags=("tier-c", "html_extract", "boilerplate", "gopher_rules",
          "pipeline", "quality", "bench-heavy"),
)
def crawl_curation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-curation front end END-TO-END in one hash-checked row
    per document — the composition every web-corpus pipeline runs before
    dedup: html_to_text (block closers become line breaks, so the line
    structure survives) → strip_boilerplate per registered domain (nav +
    copyright lines planted in 100% of each domain's pages must go) →
    gopher_rules on the CLEANED text (the word floor and stopword rule
    judge prose, not markup or boilerplate). One chain hash proves the
    three stations compose: extraction feeding lines the stripper can
    vote on, stripping feeding prose the gate can score. Every stage is
    row-local except the boilerplate vote (8-byte (domain, line-hash)
    partials + a per-domain broadcast array — document text never
    shuffles); the oracle is composed from the operators' OWN stage
    tables and shared integer thresholds."""
    return _crawl_chain_df(spark, sf_dir).orderBy("doc_id")


def _crawl_chain_df(
    spark: SparkSession, sf_dir: str, planted: DataFrame | None = None
) -> DataFrame:
    """The extract → strip → gate chain frame (doc_id, domain,
    n_lines_removed, n_words, keep) — shared by the plain, the
    rank-weighted, and the URL-dedup-fronted entries. ``planted``
    overrides the (doc_id, domain, html) source frame.

    Shape (round-14): html_to_text is the chain's per-row CPU wall and
    strip_boilerplate references its input THREE times (line votes,
    domain counts, removal join) — so the extracted frame is spread to
    the session width (the scan is single-row-group at fixture scale)
    and materialized ONCE via localCheckpoint instead of re-running the
    regex extractor per reference. The gate then rides the stripped
    frame directly (gopher_rules extra_cols) — the old 1:1 self-join on
    doc_id executed the whole extract+strip subtree twice and added an
    Exchange for nothing."""
    from sql4pandas_spark.operators.spread import spread_for_compute
    from sql4pandas_spark.operators.text import (
        gopher_rules,
        html_to_text,
        strip_boilerplate,
    )

    register_tables(spark, sf_dir, ("documents",))
    p = planted if planted is not None else spark.sql(_CRAWL_PLANTED_SQL)
    extracted = spread_for_compute(
        p.select("doc_id", "domain", "html")
    ).select(
        "doc_id", "domain", html_to_text(F.col("html")).alias("text")
    ).localCheckpoint(eager=True)
    stripped = strip_boilerplate(extracted, min_pct=60, min_docs=2)
    return gopher_rules(
        stripped.select(
            "doc_id", "domain", "n_lines_removed",
            F.col("clean_text").alias("text"),
        ),
        min_words=30,
        extra_cols=("domain", "n_lines_removed"),
    ).select("doc_id", "domain", "n_lines_removed", "n_words", "keep")


@query(
    "ann_sq8_persistent_top10",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    one AS (SELECT max(len(emb)) AS dim FROM e),
    idx AS (SELECT unnest(range(1, dim + 1)) AS i FROM one),
    sc AS (SELECT i, max(abs(emb[i])) AS s FROM e, idx
           WHERE vec_id < 250 GROUP BY i),
    sl AS (SELECT list_transform(list_sort(list([CAST(i AS DOUBLE), s])),
                                 p -> p[2]) AS sl FROM sc),
    q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
    rq AS (SELECT {_sq8_dq_expr("qe")} AS qdq FROM q, sl),
    v AS (SELECT vec_id, {_sq8_dq_expr("emb")} AS da
          FROM e, sl WHERE vec_id <> 0)
    SELECT vec_id,
           round(CAST(list_cosine_similarity(da, qdq) AS DOUBLE), 4)
             AS sim_q8
    FROM v, rq
    ORDER BY sim_q8 DESC, vec_id LIMIT 10
    """,
    tags=("tier-c", "sim_search_ann", "quantization", "index_lifecycle"),
)
def ann_sq8_persistent_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 index LIFECYCLE end-to-end (the faiss deployment shape,
    mirroring ann_ivf_persistent_top10): train scales on the first 250
    vectors and save (int8 codes parquet + dim-sized scales sidecar,
    operators/similarity.save_sq8_index) → add the rest with FROZEN
    scales (add_to_sq8_index — the quantizer never retrains on add;
    out-of-range values saturate at ±127, and the oracle computing its
    scale CTE over vec_id < 250 only makes BOTH contracts load-bearing
    in the hash) → load → serve the query from STORED CODES alone
    (sq8_recon_topk — 1 byte/dim scans, raw vectors never touched on
    the read path). Batch directories are overwrite-idempotent, so
    ingestion replay is exactly-once."""
    t = register_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    (root,) = _scratch_dirs("sq8_index")
    similarity.save_sq8_index(emb.filter(F.col("vec_id") < 250), root)
    similarity.add_to_sq8_index(
        emb.filter(F.col("vec_id") >= 250), root, batch_id=1
    )
    codes, scales = similarity.load_sq8_index(spark, root)
    return similarity.sq8_recon_topk(
        codes.filter(F.col("vec_id") != 0),
        scales,
        _query_vector(sf_dir),
        k=10,
    )


#: the domain link graph for the PageRank entry — shared ANSI: 20 domain
#: nodes, two deterministic edge families (a squaring map with SKEWED
#: in-degrees — some nodes collect many citations, some none — plus a
#: +7 rotation keeping the graph connected), self-loops excluded,
#: multi-edges deduped
_LINKGRAPH_SQL = """
      SELECT DISTINCT
             'd' || CAST(doc_id % 20 AS STRING) AS src,
             'd' || CAST((doc_id * doc_id + 1) % 20 AS STRING) AS dst
      FROM documents
      WHERE doc_id % 20 <> (doc_id * doc_id + 1) % 20
      UNION
      SELECT DISTINCT
             'd' || CAST(doc_id % 20 AS STRING),
             'd' || CAST((doc_id + 7) % 20 AS STRING)
      FROM documents
      WHERE doc_id % 20 <> (doc_id + 7) % 20
"""


def _pagerank_oracle(
    iters: int,
    damping_pct: int = 85,
    edges_sql: str | None = None,
    dangling: bool = False,
) -> str:
    """DuckDB replay of operators/graph.pagerank with the iteration loop
    UNROLLED into generated CTEs — plain aggregate joins, no recursion,
    so the whole statement stays inside the verbatim transpile sweep.
    base/contrib/update use the operator's exact integer floor-division
    forms; ``dangling=True`` adds the per-round dangling-mass fold and
    the uniform ``DIV n`` share inside the damped term, the
    redistribute_dangling form."""
    ctes = _pagerank_ctes(iters, damping_pct, edges_sql, dangling)
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, rank_e9 FROM pr{iters} ORDER BY node"
    )


def _pagerank_ctes(
    iters: int,
    damping_pct: int = 85,
    edges_sql: str | None = None,
    dangling: bool = False,
) -> list[str]:
    """The unrolled PageRank CTE list — exposed separately so composed
    oracles (rank-weighted curation) can splice the rounds into a larger
    WITH clause."""
    ctes = [
        # MATERIALIZED: the unrolled rounds reference e/deg/nodes dozens
        # of times; without it DuckDB inlines the CTE and re-opens the
        # parquet per reference (EMFILE at 10 rounds with the sink arms).
        # The transpiler drops the hint for the Spark replay.
        f"e AS MATERIALIZED ({edges_sql if edges_sql is not None else _LINKGRAPH_SQL})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1)",
        "params AS (SELECT count(*) AS n,"
        f" (CAST(1000000000 AS BIGINT) * (100 - {damping_pct}) // 100)"
        " // count(*) AS base FROM nodes)",
        "pr0 AS (SELECT node, CAST(1000000000 // (SELECT n FROM params)"
        " AS BIGINT) AS rank_e9 FROM nodes)",
    ]
    # No dangling-node CTE: the dangling mass is derived inside each
    # round's c{k} via the LEFT JOIN CASE (a NOT IN formulation would
    # also be a NULL-trap if src were ever nullable).
    for k in range(1, iters + 1):
        # ONE reference to pr{k-1} per round — mandatory: BOTH engines
        # inline multiply-referenced CTEs here (Spark's InlineCTE
        # re-expands refs under the unrolled chain), so a second ref
        # makes the plan 2^iters. The dangling path folds the held mass
        # into the SAME aggregate pass: state LEFT JOINs its out-edges,
        # a dangling row (no match) groups under ITS OWN node via
        # COALESCE(e.dst, r.node) carrying dmass instead of a
        # contribution, and the uniform share is an unpartitioned
        # window sum over the |nodes|-sized joined frame (an
        # ORACLE-side construct — the operator broadcasts the 1-row
        # aggregate instead).
        if dangling:
            ctes.append(
                f"""c{k} AS (
      SELECT COALESCE(e.dst, r.node) AS node,
             sum(CASE WHEN e.dst IS NOT NULL
                      THEN r.rank_e9 // d.outdeg
                      ELSE CAST(0 AS BIGINT) END) AS s,
             sum(CASE WHEN e.dst IS NULL THEN r.rank_e9
                      ELSE CAST(0 AS BIGINT) END) AS dmass
      FROM pr{k - 1} r
      LEFT JOIN e ON e.src = r.node
      LEFT JOIN deg d ON d.src = r.node
      GROUP BY COALESCE(e.dst, r.node))"""
            )
            ctes.append(
                f"""pr{k} AS (
      SELECT node,
             CAST((SELECT base FROM params)
                  + {damping_pct} * (s + share) // 100
                  AS BIGINT) AS rank_e9
      FROM (
        SELECT n.node, COALESCE(c.s, CAST(0 AS BIGINT)) AS s,
               sum(COALESCE(c.dmass, CAST(0 AS BIGINT))) OVER ()
                 // (SELECT n FROM params) AS share
        FROM nodes n
        LEFT JOIN c{k} c ON c.node = n.node) j)"""
            )
        else:
            ctes.append(
                f"""pr{k} AS (
      SELECT n.node,
             CAST((SELECT base FROM params)
                  + {damping_pct} * COALESCE(c.s, 0) // 100
                  AS BIGINT) AS rank_e9
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS s
        FROM pr{k - 1} r
        JOIN e ON e.src = r.node
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) c ON c.node = n.node)"""
            )
    return ctes


@query(
    "domain_pagerank",
    oracle=_pagerank_oracle(10),
    tags=("tier-c", "graph", "pagerank", "quality", "iterative"),
)
def domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a domain link graph (operators/graph.pagerank) —
    the source-authority signal crawl pipelines weight domains by
    (the harmonic-centrality idea CommonCrawl publishes, as the classic
    power iteration). Integer e9 fixed-point with floor division at
    every step, so all 10 rounds replay bit-exactly: the oracle UNROLLS
    the loop into generated CTEs (one aggregate join per round, no
    recursion — it even runs verbatim through the dialect front end).
    The planted graph's squaring edge family gives genuinely skewed
    in-degrees, so ranks separate instead of staying uniform. Per-round
    work is one edge-frame join + one dst aggregate; rank state is
    |nodes| rows; lineage localCheckpoint-truncated — label_components'
    scale discipline."""
    from sql4pandas_spark.operators.graph import pagerank

    register_tables(spark, sf_dir, ("documents",))
    edges = spark.sql(_LINKGRAPH_SQL)
    return pagerank(edges, iterations=10).orderBy("node")


#: the link graph with PLANTED SINKS: two pure-sink nodes that several
#: residue-class domains link to but which link nowhere ('sinkA' drawing
#: from 5 residues, 'sinkB' from 4) on top of the strongly-connected
#: residue graph — without redistribution their mass drains every round
_LINKGRAPH_SINKS_SQL = (
    _LINKGRAPH_SQL
    + """
      UNION
      SELECT DISTINCT 'd' || CAST(doc_id % 20 AS STRING), 'sinkA'
      FROM documents WHERE doc_id % 4 = 0
      UNION
      SELECT DISTINCT 'd' || CAST(doc_id % 20 AS STRING), 'sinkB'
      FROM documents WHERE doc_id % 5 = 1
"""
)


@query(
    "domain_pagerank_sinks",
    oracle=_pagerank_oracle(10, edges_sql=_LINKGRAPH_SINKS_SQL, dangling=True),
    tags=("tier-c", "graph", "pagerank", "dangling_mass", "iterative"),
)
def domain_pagerank_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with the dangling-mass fix, LOAD-BEARING
    (operators/graph.pagerank redistribute_dangling=True): the planted
    graph adds two pure-SINK nodes the residue domains link into, so
    without redistribution total mass drains toward the teleport floor
    — here each round one 1-row aggregate sums the sink-held rank and
    every node receives ``dangling_mass DIV N`` inside the damped term
    (the standard uniform re-spread, kept in e9 integer floor
    discipline so the unrolled-CTE oracle replays all 10 rounds
    bit-exactly and sweeps verbatim through the dialect front end;
    total mass stays SCALE up to floor-rounding, pytest-pinned against
    a pure-Python replay). The scalar rides the plan as a broadcast
    1-row crossJoin — per-round work stays edge-frame bounded, no
    driver collect."""
    from sql4pandas_spark.operators.graph import pagerank

    register_tables(spark, sf_dir, ("documents",))
    edges = spark.sql(_LINKGRAPH_SINKS_SQL)
    return pagerank(
        edges, iterations=10, redistribute_dangling=True
    ).orderBy("node")


#: PLANTED two-community graph for label propagation: an 8-clique (the
#: doc_id % 8 residue domains) and a 7-clique (% 7) joined by ONE bridge
#: edge a0—b0. Connected components would merge everything into a single
#: component; LPA's mode-vote must hold the bridge and report exactly two
#: communities — the distinguishing fixture (pytest-pinned both ways).
_LPA_GRAPH_SQL = """
      SELECT 'a' || x.r AS src, 'a' || y.r AS dst
      FROM (SELECT DISTINCT CAST(doc_id % 8 AS STRING) AS r FROM documents) x,
           (SELECT DISTINCT CAST(doc_id % 8 AS STRING) AS r FROM documents) y
      WHERE x.r < y.r
      UNION
      SELECT 'b' || x.r, 'b' || y.r
      FROM (SELECT DISTINCT CAST(doc_id % 7 AS STRING) AS r FROM documents) x,
           (SELECT DISTINCT CAST(doc_id % 7 AS STRING) AS r FROM documents) y
      WHERE x.r < y.r
      UNION
      SELECT DISTINCT 'a0' AS src, 'b0' AS dst FROM documents
"""


def _lpa_oracle(rounds: int, edges_sql: str = _LPA_GRAPH_SQL) -> str:
    """DuckDB replay of operators/graph.label_propagation with the
    synchronous rounds UNROLLED into generated CTEs (the _pagerank_oracle
    recipe): per round one neighbor-vote aggregate, one per-node argmax
    (row_number over votes DESC, label ASC — the operator's exact tie
    order), one keep-own-label fold for isolated nodes. Plain joins and
    window functions only, so the statement also sweeps verbatim through
    the dialect front end."""
    ctes = [
        f"eraw AS ({edges_sql})",
        "e AS (SELECT src AS s, dst AS d FROM eraw WHERE src <> dst"
        " UNION SELECT dst AS s, src AS d FROM eraw WHERE src <> dst)",
        "n AS (SELECT DISTINCT s AS node FROM e)",
        "l0 AS (SELECT node, node AS community FROM n)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        ctes.append(
            f"c{k} AS (SELECT e.d AS node, l.community AS cand,"
            f" count(*) AS votes FROM e JOIN l{p} l ON e.s = l.node"
            " GROUP BY e.d, l.community)"
        )
        ctes.append(
            f"w{k} AS (SELECT node, cand FROM (SELECT node, cand,"
            " row_number() OVER (PARTITION BY node"
            f" ORDER BY votes DESC, cand) AS rn FROM c{k}) AS t"
            " WHERE rn = 1)"
        )
        ctes.append(
            f"l{k} AS (SELECT p.node,"
            f" coalesce(w.cand, p.community) AS community"
            f" FROM l{p} p LEFT JOIN w{k} w ON w.node = p.node)"
        )
    joined = ",\n    ".join(ctes)
    return (
        f"WITH {joined}\n"
        f"    SELECT node, community FROM l{rounds} ORDER BY node"
    )


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(4),
    tags=("tier-c", "graph", "label_propagation", "community", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (operators/graph.label_propagation) —
    the density-based grouping a curation pipeline wants where connected
    components is too blunt: near-dup clusters, link-farm detection, and
    domain neighborhoods all bleed into one giant component through a few
    bridge edges, while LPA's neighbor-mode vote keeps locally-dense
    groups apart. The planted graph (two cliques, one bridge) makes that
    distinction LOAD-BEARING: components says 1 group, this entry must
    say exactly 2 ('a0' and 'b0'), every one of the 15 per-node rows
    value-checked. Synchronous rounds with min-label tie-break replay
    value-exactly in the unrolled-CTE oracle; per-round work is one edge
    join + one (node, label) aggregate + a node-partitioned argmax —
    pagerank's scale discipline (|nodes|-row state, localCheckpoint
    lineage truncation, zero driver collects)."""
    from sql4pandas_spark.operators.graph import label_propagation

    register_tables(spark, sf_dir, ("documents",))
    edges = spark.sql(_LPA_GRAPH_SQL)
    return label_propagation(edges, rounds=4).orderBy("node")


def _crawl_ranked_oracle() -> str:
    """The rank-weighted curation replay: ONE WITH clause splicing the
    chain CTEs (p…m), a gate CTE g, the 10 unrolled PageRank rounds
    (e…pr10 — disjoint CTE names by construction), a decile CTE over
    the final ranks, and the authority-gated join."""
    chain_ctes, chain_final = _crawl_chain_parts()
    pr_ctes = ",\n    ".join(_pagerank_ctes(10))
    return f"""
    WITH {chain_ctes},
    g AS ({chain_final}),
    {pr_ctes},
    dec AS (SELECT node, rank_e9,
                   CAST(ntile(10) OVER (ORDER BY rank_e9 DESC, node)
                        AS INT) AS rank_decile
            FROM pr10)
    SELECT g.doc_id, g.domain, g.n_lines_removed, g.n_words, g.keep,
           dec.rank_e9, dec.rank_decile,
           (g.keep AND dec.rank_decile <= 8) AS keep_ranked
    FROM g JOIN dec
      ON dec.node = 'd' || CAST(g.doc_id % 20 AS STRING)
    ORDER BY g.doc_id
    """


#: URL variants for the dedup-fronted entry — every group of four
#: doc_ids is the SAME page arriving four ways (tracking params,
#: param order, default port, fragment, scheme/host case, trailing
#: slash), so each canonicalization rule is load-bearing: dropping any
#: one leaves some variant un-collapsed and the group count wrong
_URL_VARIANTS_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'https://News.Site.com/article/' || CAST(g AS STRING)
                           || '?utm_source=feed&id=' || CAST(g % 7 AS STRING)
                           || '&z=2'
               WHEN 1 THEN 'https://news.site.com:443/article/' || CAST(g AS STRING)
                           || '?z=2&id=' || CAST(g % 7 AS STRING)
                           || '&utm_campaign=x'
               WHEN 2 THEN 'https://news.site.com/article/' || CAST(g AS STRING)
                           || '?id=' || CAST(g % 7 AS STRING)
                           || '&z=2#sec'
               ELSE 'HTTPS://NEWS.SITE.COM/article/' || CAST(g AS STRING)
                    || '/?z=2&id=' || CAST(g % 7 AS STRING)
             END AS url
      FROM (SELECT doc_id, CAST(floor(doc_id / 4) AS BIGINT) AS g
            FROM documents)
"""


def _canonical_url_ctes(url_src: str) -> str:
    """DuckDB replay of operators/text.canonical_url as a CTE pipeline
    over ``url_src`` (doc_id, url) — fragment drop, percent-encoding
    normalization (round-14: the same `_`-separated hex-triplet lookup
    as operators/text.percent_normalize, spliced from the SAME module
    constants), scheme/host lowercase, default-port strip,
    tracking-param drop + param SORT, one-trailing-slash strip — ending
    in ``canon`` (doc_id, curl)."""
    return """
    c0 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '', 'g') AS u0
           FROM {src}),
    c1 AS (SELECT doc_id,
                  CASE WHEN len(string_split(u0, '%')) <= 1 THEN u0
                       ELSE (string_split(u0, '%'))[1] ||
                            array_to_string(list_transform(
                              list_slice(string_split(u0, '%'), 2,
                                         len(string_split(u0, '%'))),
                              p -> CASE
                                WHEN regexp_matches(p, '^[0-9A-Fa-f]{{2}}')
                                     AND strpos('{sephex}',
                                           '_' || upper(substr(p, 1, 2))) > 0
                                  THEN substr('{unreserved}',
                                         (strpos('{sephex}',
                                            '_' || upper(substr(p, 1, 2)))
                                          + 2) // 3, 1) || substr(p, 3)
                                WHEN regexp_matches(p, '^[0-9A-Fa-f]{{2}}')
                                  THEN '%' || upper(substr(p, 1, 2))
                                       || substr(p, 3)
                                ELSE '%' || p END), '')
                  END AS u
           FROM c0),
    c2 AS (SELECT doc_id, u,
                  lower(regexp_extract(u,
                    '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                  regexp_replace(u,
                    '^[A-Za-z][A-Za-z0-9+.\\-]*://', '', 'g') AS rest
           FROM c1),
    c3 AS (SELECT doc_id, scheme, rest,
                  lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport
           FROM c2),
    c4 AS (SELECT doc_id, scheme,
                  CASE WHEN scheme = 'https'
                         THEN regexp_replace(hostport, ':443$', '', 'g')
                       WHEN scheme = 'http'
                         THEN regexp_replace(hostport, ':80$', '', 'g')
                       ELSE hostport END AS host,
                  substr(rest, length(hostport) + 1) AS pathq
           FROM c3),
    c5 AS (SELECT doc_id, scheme, host,
                  regexp_extract(pathq, '^([^?]*)', 1) AS path,
                  regexp_extract(pathq, '\\?(.*)$', 1) AS query
           FROM c4),
    c6 AS (SELECT doc_id, scheme, host, path,
                  list_sort(list_filter(string_split(query, '&'),
                    q -> q <> '' AND NOT starts_with(q, 'utm_')
                         AND NOT regexp_matches(q, '^(gclid|fbclid)(=|$)')))
                    AS params
           FROM c5),
    canon AS (SELECT doc_id,
                     scheme || '://' || host
                     || CASE WHEN length(path) > 1 AND ends_with(path, '/')
                             THEN substr(path, 1, length(path) - 1)
                             ELSE path END
                     || CASE WHEN len(params) > 0
                             THEN '?' || array_to_string(params, '&')
                             ELSE '' END AS curl
              FROM c6)""".format(
        src=url_src,
        sephex=text._URL_UNRESERVED_SEPHEX.replace("'", "''"),
        unreserved=text._URL_UNRESERVED.replace("'", "''"),
    )


def _url_dedup_curation_oracle() -> str:
    """URL-dedup front end + chain replay in ONE statement: planted
    variants → canonical_url CTE pipeline → keep-min-doc_id per
    canonical URL → the chain CTEs over the survivors → chain output
    joined back to (curl, n_dup_urls)."""
    chain_ctes, chain_final = _crawl_chain_parts(
        "SELECT s.doc_id, b.domain, b.html FROM surv s"
        " JOIN base b ON b.doc_id = s.doc_id"
    )
    return f"""
    WITH base AS ({_CRAWL_PLANTED_SQL}),
    u AS ({_URL_VARIANTS_SQL}),
    {_canonical_url_ctes("u")},
    surv AS (SELECT curl, min(doc_id) AS doc_id,
                    CAST(count(*) AS BIGINT) AS n_dup_urls
             FROM canon GROUP BY curl),
    {chain_ctes},
    g AS ({chain_final})
    SELECT g.doc_id, g.domain, g.n_lines_removed, g.n_words, g.keep,
           s.curl, s.n_dup_urls
    FROM g JOIN surv s ON s.doc_id = g.doc_id
    ORDER BY g.doc_id
    """


@query(
    "url_dedup_curation",
    oracle=_url_dedup_curation_oracle(),
    tags=("tier-c", "dedup_exact", "url_canonical", "html_extract",
          "boilerplate", "gopher_rules", "pipeline", "quality"),
)
def url_dedup_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact URL dedup as the station IN FRONT of
    the curation chain — the first thing a crawl pipeline does with a
    fetched URL list (operators/text.canonical_url, until now tested
    but not deployed in a chain): every planted group of four doc_ids
    is the SAME page arriving under tracking params, shuffled param
    order, an explicit default port, a fragment, upper-case scheme and
    host, and a trailing slash, so each canonicalization rule is
    load-bearing in the group counts; dedup keeps the first crawl
    (min doc_id per canonical URL — one |URLs|-keyed groupBy, the
    exact-dedup shape) and ONLY the survivors flow into extract →
    strip → gate (the boilerplate votes are counted over the DEDUPED
    corpus, as production curation does — duplicate pages must not
    multiply votes). Output: chain columns + canonical URL +
    n_dup_urls, replayed end-to-end by one spliced oracle."""
    from sql4pandas_spark.operators.spread import spread_for_compute
    from sql4pandas_spark.operators.text import canonical_url

    register_tables(spark, sf_dir, ("documents",))
    base = spark.sql(_CRAWL_PLANTED_SQL)
    urls = spread_for_compute(spark.sql(_URL_VARIANTS_SQL))
    canon = urls.select("doc_id", canonical_url(F.col("url")).alias("curl"))
    # The survivor frame is referenced twice (chain source + the final
    # join-back) and sits on top of the whole canonicalizer pipeline —
    # materialize it once; it is |unique URLs|-bounded and skinny.
    surv = canon.groupBy("curl").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_dup_urls"),
    ).localCheckpoint(eager=True)
    planted = surv.join(base, "doc_id").select("doc_id", "domain", "html")
    chain = _crawl_chain_df(spark, sf_dir, planted=planted)
    return (
        chain.join(surv.select("doc_id", "curl", "n_dup_urls"), "doc_id")
        .select(
            "doc_id", "domain", "n_lines_removed", "n_words", "keep",
            "curl", "n_dup_urls",
        )
        .orderBy("doc_id")
    )


#: percent-encoding variant planting (round-14): family A is ONE page
#: under four spellings where the unreserved decode (%7E/%7e → ~), hex
#: case, %41→A in a query value, fragment, port, host case, trailing
#: slash, and a tracking param are EACH load-bearing; family B pins the
#: reserved-octet rule BOTH ways — %2f and %2F case-fold together but
#: must NOT collapse with the literally-decoded `/` spelling (RFC 3986:
#: %2F is data, / is structure); the last case keeps malformed `%zz`
#: stable while still decoding a trailing %7e
_URL_PCT_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'https://CDN.Example.com:443/assets/p%7Eq?id=%41'
               WHEN 1 THEN 'https://cdn.example.com/assets/p%7eq/?id=A#top'
               WHEN 2 THEN 'https://cdn.example.com/assets/p~q?id=A&utm_c=x'
               WHEN 3 THEN 'https://cdn.example.com/assets/p~q?id=%41'
               WHEN 4 THEN 'https://files.example.org/a%2fb?dl=1'
               WHEN 5 THEN 'https://files.example.org/a%2Fb?dl=1'
               WHEN 6 THEN 'https://files.example.org/a/b?dl=1'
               ELSE 'https://files.example.org/x%zz%7e'
             END AS url
      FROM documents
"""


@query(
    "url_percent_dedup",
    oracle=f"""
    WITH u AS ({_URL_PCT_PLANTED_SQL}),
    {_canonical_url_ctes("u")}
    SELECT curl, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM canon GROUP BY curl ORDER BY curl
    """,
    tags=("tier-c", "dedup_exact", "url_canonical", "pipeline", "quality"),
)
def url_percent_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-encoding normalization LOAD-BEARING in URL dedup
    (operators/text.percent_normalize inside canonical_url, round-14):
    four spellings of the same page — `%7E` vs `%7e` vs literal `~`,
    `%41` vs `A` in a query value, plus the round-13 rules (port, case,
    fragment, slash, tracking param) — collapse to ONE canonical key
    with the first crawl kept; `%2f`/`%2F` case-fold together but do
    NOT merge with the literally-decoded `/` spelling (a reserved octet
    is data, not structure — a canonicalizer that percent-DECODES
    everything fails this hash from the other side); malformed `%zz`
    passes through stably. Same |URLs|-keyed groupBy shape as
    url_dedup_curation; the oracle replays the full canonicalizer CTE
    pipeline including the hex-triplet lookup spliced from the same
    module constants."""
    from sql4pandas_spark.operators.text import canonical_url

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_URL_PCT_PLANTED_SQL)
    return (
        u.select("doc_id", canonical_url(F.col("url")).alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .orderBy("curl")
    )


#: IDN planting (round-14): Unicode hosts whose punycode ACE forms are
#: pinned as independent literals in the oracle — including one host
#: planted in BOTH spellings (Unicode and already-ACE) that must pool
_URL_IDN_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'https://München.de/p?x=' || CAST(doc_id AS STRING)
               WHEN 1 THEN 'https://BÜCHER.example/x'
               WHEN 2 THEN 'http://日本語.jp/'
               WHEN 3 THEN 'https://xn--mnchen-3ya.de/q'
               WHEN 4 THEN 'ascii.Example.com/y'
               ELSE 'пример.испытание'
             END AS url
      FROM documents
"""


@query(
    "idn_host_fold_domains",
    oracle=f"""
    WITH u AS ({_URL_IDN_PLANTED_SQL}),
    folded AS (
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'xn--mnchen-3ya.de'
               WHEN 1 THEN 'xn--bcher-kva.example'
               WHEN 2 THEN 'xn--wgv71a119e.jp'
               WHEN 3 THEN 'xn--mnchen-3ya.de'
               WHEN 4 THEN 'ascii.example.com'
               ELSE 'xn--e1afmkfd.xn--80akhbyknj4f'
             END AS host
      FROM u)
    SELECT host, CAST(count(*) AS BIGINT) AS n_docs
    FROM folded GROUP BY host ORDER BY host
    """,
    tags=("tier-c", "url_canonical", "domain_filter", "idn",
          "text_analysis"),
)
def idn_host_fold_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN/punycode host folding (operators/text.idn_fold_host — the URL
    family's one Arrow-batched pandas UDF; punycode's adaptive
    insertion-order encoding is genuinely non-SQL): Unicode hosts fold
    to their ACE form so `München.de` and its already-punycode spelling
    `xn--mnchen-3ya.de` POOL under one key (the planted %6 cases 0 and
    3 land in the same group — that pooling is what blocklists
    and per-domain votes need), Japanese and Cyrillic hosts (incl. an
    IDN TLD) fold per-label, and pure-ASCII hosts take the UDF-free
    lowercase path. Oracle strategy: the expected ACE forms are pinned
    as INDEPENDENT literals (RFC 3492 worked examples, verifiable
    against any punycode implementation) — DuckDB replays the expected
    VALUES, not the algorithm, so this is a full value-hash gate on the
    codec's output. |hosts|-bounded output."""
    from sql4pandas_spark.operators.text import idn_fold_host

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_URL_IDN_PLANTED_SQL)
    return (
        u.select("doc_id", idn_fold_host(F.col("url")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("host")
    )


@query(
    "crawl_curation_ranked",
    oracle=_crawl_ranked_oracle(),
    tags=("tier-c", "html_extract", "boilerplate", "gopher_rules",
          "pagerank", "graph", "pipeline", "quality", "data_mix"),
)
def crawl_curation_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl curation WEIGHTED BY SOURCE AUTHORITY — the composition the
    round-12 verdict asked for (the harmonic-centrality weighting
    CommonCrawl publishes): the extract → strip → gate chain joined to
    the 10-round integer PageRank over the domain link graph, each doc
    keyed to its graph node, ranks cut into authority DECILES (ntile
    over the |nodes|-bounded rank frame, deterministic tie-break on
    node), and the final keep gate requiring BOTH the Gopher quality
    pass AND authority decile ≤ 8 — the bottom-20%-of-authority drop a
    production corpus mix applies. Everything reuses the proven pieces:
    the chain frame, the pagerank operator (rank frame broadcasts into
    the doc-side join — node-count sized, never a shuffle of the
    corpus), and an oracle that splices the chain CTEs and the unrolled
    PageRank rounds into ONE statement replaying extraction, votes,
    gates, ranks, deciles, and the composed keep bit value-exactly."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.graph import pagerank

    chain = _crawl_chain_df(spark, sf_dir)
    ranks = pagerank(spark.sql(_LINKGRAPH_SQL), iterations=10)
    dec = ranks.select(
        "node",
        "rank_e9",
        F.ntile(10)
        .over(Window.orderBy(F.col("rank_e9").desc(), "node"))
        .alias("rank_decile"),
    )
    node = F.concat(F.lit("d"), (F.col("doc_id") % 20).cast("string"))
    return (
        chain.join(F.broadcast(dec), node == dec["node"])
        .select(
            "doc_id", "domain", "n_lines_removed", "n_words", "keep",
            "rank_e9", "rank_decile",
            (F.col("keep") & (F.col("rank_decile") <= 8)).alias("keep_ranked"),
        )
        .orderBy("doc_id")
    )



def _bpe_oracle(n_merges: int = 3) -> str:
    """DuckDB replay of operators/text.bpe_learn_merges, rounds UNROLLED:
    per round a pair-count CTE, a deterministic argmax CTE, and the
    SAME double-space regexp merge application (greedy left-to-right —
    global replace semantics shared by both engines)."""
    ctes = [
        "t0 AS (SELECT list_filter("
        "regexp_split_to_array(lower(text), '\\s+'),"
        " t -> regexp_matches(t, '^[a-z0-9]+$')) AS w FROM documents)"
    ]
    for k in range(1, n_merges + 1):
        prev = f"t{k - 1}"
        ctes.append(
            f"""p{k} AS (
      SELECT unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))])
               AS pair
      FROM {prev})"""
        )
        ctes.append(
            f"b{k} AS (SELECT pair, count(*) AS n FROM p{k}"
            " GROUP BY pair ORDER BY n DESC, pair LIMIT 1)"
        )
        if k < n_merges:
            ctes.append(
                f"""s{k} AS (
      SELECT trim(regexp_replace(' ' || array_to_string(w, '  ') || ' ',
                  (SELECT ' ' || replace(pair, ' ', '  ') || ' '
                   FROM b{k}),
                  (SELECT ' ' || replace(pair, ' ', '') || ' '
                   FROM b{k}), 'g')) AS s
      FROM {prev})"""
            )
            ctes.append(
                f"t{k} AS (SELECT list_filter(regexp_split_to_array(s,"
                f" ' +'), t -> t <> '') AS w FROM s{k})"
            )
    rows = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, (SELECT pair FROM b{k}) AS pair,"
        f" (SELECT CAST(n AS BIGINT) FROM b{k}) AS pair_count"
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + rows
        + "\n    ORDER BY merge_rank"
    )


@query(
    "bpe_merges_documents",
    oracle=_bpe_oracle(3),
    tags=("tier-c", "tokenizer", "bpe_train", "text_analysis",
          "iterative"),
)
def bpe_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING over the corpus (operators/text.
    bpe_learn_merges; Sennrich et al. 2016 at word granularity) — the
    tokenizer-pipeline station token_count_bpe only consumes: three
    rounds of count-every-adjacent-pair corpus-wide → deterministic
    argmax (count desc, pair asc) → merge everywhere → recount on the
    MERGED corpus (round 2's winner can contain round 1's merge — the
    oracle proves the iteration, not three independent counts). Pair
    counting is a distributed explode + map-combined groupBy; only the
    1-row argmax collects per round; application is the row-local
    double-space regexp pass whose global-replace semantics ARE BPE's
    greedy left-to-right rule on both engines. The oracle unrolls the
    three rounds into generated CTEs and replays counts, tie-breaks,
    and application value-exactly."""
    from sql4pandas_spark.operators.text import bpe_learn_merges

    t = register_tables(spark, sf_dir, ("documents",))
    merges = bpe_learn_merges(t["documents"], n_merges=3)
    return spark.createDataFrame(
        [
            (k + 1, f"{left} {right}", int(n))
            for k, (left, right, n) in enumerate(merges)
        ],
        "merge_rank int, pair string, pair_count long",
    )


def _bpe_chars_oracle(n_merges: int = 3) -> str:
    """DuckDB replay of operators/text.bpe_learn_merges_chars, rounds
    UNROLLED: the corpus reduces once to a (word, count) vocab, words
    split to character symbol arrays, then per round a COUNT-WEIGHTED
    pair aggregate, the deterministic argmax, and the same double-space
    regexp merge — applied to the VOCAB, so each round's CTEs are
    |vocab|-sized. c{{k-1}} is referenced twice per round (pair count +
    merge application, the shape the word-level oracle also has) —
    tolerable only because n_merges stays small (2^n inlining); the
    production path is the operator, not this replay."""
    ctes = [
        "v0 AS (SELECT word, count(*) AS cnt FROM ("
        "SELECT unnest(list_filter("
        "regexp_split_to_array(lower(text), '\\s+'),"
        " t -> regexp_matches(t, '^[a-z0-9]+$'))) AS word"
        " FROM documents) GROUP BY word)",
        "c0 AS (SELECT list_filter(regexp_split_to_array(word, ''),"
        " t -> t <> '') AS w, cnt FROM v0)",
    ]
    for k in range(1, n_merges + 1):
        prev = f"c{k - 1}"
        ctes.append(
            f"""p{k} AS (
      SELECT unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))])
               AS pair, cnt
      FROM {prev})"""
        )
        ctes.append(
            f"b{k} AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n"
            f" FROM p{k} GROUP BY pair ORDER BY n DESC, pair LIMIT 1)"
        )
        if k < n_merges:
            ctes.append(
                f"""s{k} AS (
      SELECT trim(regexp_replace(' ' || array_to_string(w, '  ') || ' ',
                  (SELECT ' ' || replace(pair, ' ', '  ') || ' '
                   FROM b{k}),
                  (SELECT ' ' || replace(pair, ' ', '') || ' '
                   FROM b{k}), 'g')) AS s, cnt
      FROM {prev})"""
            )
            ctes.append(
                f"c{k} AS (SELECT list_filter(regexp_split_to_array(s,"
                f" ' +'), t -> t <> '') AS w, cnt FROM s{k})"
            )
    rows = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, (SELECT pair FROM b{k}) AS pair,"
        f" (SELECT n FROM b{k}) AS pair_count"
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + rows
        + "\n    ORDER BY merge_rank"
    )


@query(
    "bpe_char_merges_documents",
    oracle=_bpe_chars_oracle(3),
    tags=("tier-c", "tokenizer", "bpe_train", "text_analysis",
          "iterative", "vocab_bounded"),
)
def bpe_char_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-level BPE training on the (word, count) frequency frame
    (operators/text.bpe_learn_merges_chars) — the production
    tokenizer-training shape the round-12 verdict asked for: the corpus
    reduces ONCE to distinct words with counts, then every round's pair
    count, argmax, and merge run over the |vocab|-sized symbol frame
    with pair counts WEIGHTED by word frequency (within-word
    multiplicity counts, per Sennrich et al. 2016) — per-round work no
    longer touches the corpus, which is what makes 30k-merge training
    plausible at 100 TB. Deterministic argmax (count desc, pair asc),
    double-space greedy merge application, 1-row collect per round; no
    ``</w>`` sentinel (outside the alnum alphabet contract — documented
    divergence shared by oracle and the pure-Python Sennrich reference
    in the pytest differential). The oracle unrolls all three
    char-level rounds and replays weighted counts, tie-breaks, and
    application value-exactly."""
    from sql4pandas_spark.operators.text import bpe_learn_merges_chars

    t = register_tables(spark, sf_dir, ("documents",))
    merges = bpe_learn_merges_chars(t["documents"], n_merges=3)
    return spark.createDataFrame(
        [
            (k + 1, f"{left} {right}", int(n))
            for k, (left, right, n) in enumerate(merges)
        ],
        "merge_rank int, pair string, pair_count long",
    )


def _bpe_compression_oracle(n_merges: int = 3) -> str:
    """DuckDB replay of train-then-APPLY: the char-BPE rounds carrying
    (lang, word) through the chain (pair counts sum over the split rows
    to the same word-frequency weights), application of ALL merges
    including the last, and the per-language compression census —
    symbols before = word length in chars, after = merged symbol
    count, both weighted by word frequency."""
    ctes = [
        "v0 AS (SELECT lang, word, count(*) AS cnt FROM ("
        "SELECT lang, unnest(list_filter("
        "regexp_split_to_array(lower(text), '\\s+'),"
        " t -> regexp_matches(t, '^[a-z0-9]+$'))) AS word"
        " FROM documents) GROUP BY lang, word)",
        "c0 AS (SELECT lang, word, list_filter(regexp_split_to_array(word, ''),"
        " t -> t <> '') AS w, cnt FROM v0)",
    ]
    for k in range(1, n_merges + 1):
        prev = f"c{k - 1}"
        ctes.append(
            f"""p{k} AS (
      SELECT unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))])
               AS pair, cnt
      FROM {prev})"""
        )
        ctes.append(
            f"b{k} AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n"
            f" FROM p{k} GROUP BY pair ORDER BY n DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"""s{k} AS (
      SELECT lang, word,
             trim(regexp_replace(' ' || array_to_string(w, '  ') || ' ',
                  (SELECT ' ' || replace(pair, ' ', '  ') || ' '
                   FROM b{k}),
                  (SELECT ' ' || replace(pair, ' ', '') || ' '
                   FROM b{k}), 'g')) AS s, cnt
      FROM {prev})"""
        )
        ctes.append(
            f"c{k} AS (SELECT lang, word, list_filter("
            f"regexp_split_to_array(s, ' +'), t -> t <> '') AS w, cnt"
            f" FROM s{k})"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT lang,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(length(word) * cnt) AS BIGINT) AS n_symbols_before,
           CAST(sum(len(w) * cnt) AS BIGINT) AS n_symbols_after
    FROM c{n_merges} GROUP BY lang ORDER BY lang
    """
    )


@query(
    "bpe_compression_by_lang",
    oracle=_bpe_compression_oracle(3),
    tags=("tier-c", "tokenizer", "bpe_train", "bpe_apply",
          "text_analysis", "iterative", "data_mix"),
)
def bpe_compression_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-APPLY — the tokenizer deliverable: learn the 3
    char-level merges corpus-wide (operators/text.
    bpe_learn_merges_chars), apply the merge list in order to the
    (lang, word, count) vocab (operators/text.bpe_apply_merges — one
    row-local greedy regexp pass per merge, the inference-side
    contract), and report the per-language compression census: word
    occurrences, character symbols before, merged symbols after —
    exactly the fertility/compression table a tokenizer-training run
    publishes per language, and the number that decides whether a
    merge budget is spent fairly across languages. Merges come from
    the GLOBAL vocab; application and the census stay |vocab|-bounded
    (the corpus is touched once, in the word count). The oracle
    carries (lang, word) through the same unrolled rounds and applies
    ALL merges including the last."""
    from sql4pandas_spark.operators.text import (
        BPE_ALNUM_RE,
        bpe_apply_merges,
        bpe_learn_merges_chars,
        tokens,
    )

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    merges = bpe_learn_merges_chars(docs, n_merges=3)
    vocab = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word").rlike(BPE_ALNUM_RE))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    applied = vocab.select(
        "lang",
        "word",
        "cnt",
        bpe_apply_merges(
            F.filter(F.split("word", ""), lambda c: c != ""), merges
        ).alias("w"),
    )
    return (
        applied.groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.length("word") * F.col("cnt")).cast("long")
            .alias("n_symbols_before"),
            F.sum(F.size("w") * F.col("cnt")).cast("long")
            .alias("n_symbols_after"),
        )
        .orderBy("lang")
    )


@query(
    "bpe_artifact_lifecycle",
    oracle="SELECT lang, n_words, n_symbols_before, n_symbols_after,"
           " CAST(3 AS BIGINT) AS n_merges_applied FROM ("
           + _bpe_compression_oracle(3) + ") ORDER BY lang",
    tags=("tier-c", "tokenizer", "bpe_train", "bpe_apply", "sink_parquet",
          "text_analysis", "iterative"),
)
def bpe_artifact_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ARTIFACT lifecycle — train, PERSIST, reload, apply
    (the missing glue between bpe_learn_merges_chars and a training job
    that tokenizes months later on a different cluster): the learned
    merge list is written as a versionable parquet artifact
    (rank, left, right, weighted_count — rank IS the application
    order, the part of a BPE vocab that must never be lost or
    reordered), re-read from disk, re-sorted by rank (a |merges|-row
    bounded collect, the 1-row-argmax class), and applied via
    bpe_apply_merges. The census must equal the train-then-apply path
    of bpe_compression_by_lang exactly — the oracle IS that entry's
    unrolled replay plus the applied-merge count, so a lossy artifact
    round-trip (dropped merge, shuffled rank, truncated pair) flips
    the hash. Reload-order corruption is additionally pytest-pinned."""
    from sql4pandas_spark.operators.text import (
        BPE_ALNUM_RE,
        bpe_apply_merges,
        bpe_learn_merges_chars,
        tokens,
    )

    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    merges = bpe_learn_merges_chars(docs, n_merges=3)
    (store,) = _scratch_dirs("bpe_artifact")
    spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, weighted_count long",
    ).write.mode("overwrite").parquet(store)
    reloaded = [
        (r["left"], r["right"], r["weighted_count"])
        for r in spark.read.parquet(store).orderBy("rank").collect()
    ]
    vocab = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word").rlike(BPE_ALNUM_RE))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    applied = vocab.select(
        "lang",
        "word",
        "cnt",
        bpe_apply_merges(
            F.filter(F.split("word", ""), lambda c: c != ""), reloaded
        ).alias("w"),
    )
    return (
        applied.groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.length("word") * F.col("cnt")).cast("long")
            .alias("n_symbols_before"),
            F.sum(F.size("w") * F.col("cnt")).cast("long")
            .alias("n_symbols_after"),
        )
        .withColumn("n_merges_applied", F.lit(len(reloaded)).cast("long"))
        .orderBy("lang")
    )


#: Unicode-normalization planting: three families that a bytes-equal or
#: lowercase-only dedup key provably splits — composed/decomposed/case
#: variants of one word (4 spellings), sharp-s vs SS (2), and an fi
#: ligature vs plain fi (2) — each must collapse to ONE normalized key
_UNICODE_PLANTED_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'Café'
               WHEN 1 THEN 'Café'
               WHEN 2 THEN 'CAFÉ'
               WHEN 3 THEN 'café'
               WHEN 4 THEN 'Straße'
               WHEN 5 THEN 'STRASSE'
               WHEN 6 THEN 'file'
               ELSE 'ﬁle'
             END AS text
      FROM documents
"""


@query(
    "unicode_dedup_normalize",
    oracle=f"""
    WITH u AS ({_UNICODE_PLANTED_SQL}),
    n AS (
      SELECT doc_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'café' WHEN 1 THEN 'café'
               WHEN 2 THEN 'café' WHEN 3 THEN 'café'
               WHEN 4 THEN 'strasse' WHEN 5 THEN 'strasse'
               WHEN 6 THEN 'file' ELSE 'file'
             END AS norm_text
      FROM u)
    SELECT norm_text, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM n GROUP BY norm_text ORDER BY norm_text
    """,
    tags=("tier-c", "dedup_exact", "unicode", "text_analysis", "scrub"),
)
def unicode_dedup_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-canonical exact dedup (operators/text.nfc_casefold —
    casefold + NFC, the second Arrow-batched UDF alongside
    idn_fold_host; normalization tables are genuinely non-SQL): planted
    spellings that byte-equality and lowercase() both split — composed
    U+00E9 vs decomposed e+U+0301 vs case variants of one word (all
    four pool), ``Straße``/``STRASSE`` (casefold's ß→ss, which
    lower() does NOT do), and the ﬁ ligature vs plain ``fi``
    (compatibility folding) — collapse to one key each, keep-first by
    min doc_id, the exact-dedup shape. Oracle strategy: the expected
    normalized forms are pinned as INDEPENDENT literals (Unicode-
    standard foldings) over the same planted frame — a full value-hash
    gate on the codec output, as idn_host_fold_domains."""
    from sql4pandas_spark.operators.text import nfc_casefold

    register_tables(spark, sf_dir, ("documents",))
    u = spark.sql(_UNICODE_PLANTED_SQL)
    return (
        u.select("doc_id", nfc_casefold(F.col("text")).alias("norm_text"))
        .groupBy("norm_text")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .orderBy("norm_text")
    )


#: data-card planting: 2/3 of docs get the stopword tail that makes the
#: Gopher gate pass (the corpus_assembly idiom — raw synthetic text
#: fails the stopword rule, which would pin every source's pass rate at
#: a vacuous 0.0), and every doc_id%5==4 within a source shares ONE
#: page body so the dup-rate column is load-bearing too
_DATA_CARD_PLANTED_SQL = """
      SELECT doc_id, lang, source,
             CASE WHEN doc_id % 5 = 4
                  THEN 'duplicate page body for ' || source
                  ELSE text || CASE WHEN doc_id % 3 <> 0
                               THEN ' of the data that we have with it'
                               ELSE '' END
             END AS text
      FROM documents
"""

_DATA_CARD_ORACLE = f"""
    WITH pl AS ({_DATA_CARD_PLANTED_SQL}),
    toks AS (
      SELECT doc_id, lang, source, text,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '') AS w,
             string_split(text, chr(10)) AS lines
      FROM pl),
    m AS (SELECT doc_id, lang, source, text,
                 len(w) AS n,
                 list_sum(list_transform(w, x -> length(x)))::BIGINT
                   AS sum_len,
                 len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(lines) AS n_lines,
                 len(list_filter(lines, l -> starts_with(l, '- ')))
                   AS n_bullet,
                 len(list_filter(lines, l -> l LIKE '%...')) AS n_ell,
                 len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
                                  'have', 'with'],
                                 s -> list_contains(
                                        list_transform(w, x -> lower(x)), s)))
                   AS n_stop
          FROM toks),
    flags AS (
      SELECT source, lang, n,
             CASE WHEN (n >= 20 AND n <= 100000) AND (sum_len >= 3 * n AND
                  sum_len <= 10 * n) AND (5 * n_alpha > 4 * n) AND
                  (10 * n_bullet < 9 * n_lines) AND (10 * n_ell < 3 * n_lines)
                  AND (n_stop >= 2) THEN 1 ELSE 0 END AS keep,
             CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id)
                  > 1 THEN 1 ELSE 0 END AS is_dup
      FROM m),
    lc AS (SELECT source, lang, count(*) AS nl FROM flags GROUP BY 1, 2),
    top AS (SELECT source, lang AS top_lang FROM (
              SELECT source, lang,
                     row_number() OVER (PARTITION BY source
                        ORDER BY nl DESC, lang) AS r
              FROM lc) WHERE r = 1)
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f.n) AS BIGINT) AS n_tokens,
           round(avg(CAST(f.keep AS DOUBLE)), 4) AS gate_pass_rate,
           round(avg(CAST(f.is_dup AS DOUBLE)), 4) AS dup_rate,
           CAST(count(DISTINCT f.lang) AS BIGINT) AS n_langs,
           max(t.top_lang) AS top_lang
    FROM flags f JOIN top t ON t.source = f.source
    GROUP BY f.source ORDER BY f.source
    """


@query(
    "data_card_by_source",
    oracle=_DATA_CARD_ORACLE,
    tags=("tier-c", "profile", "gopher_rules", "dedup_exact", "data_mix",
          "quality", "audit"),
)
def data_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATA CARD — the one-row-per-source datasheet a
    corpus release publishes (and the table a mix designer reads before
    setting source weights): document and token counts, Gopher-gate
    pass rate, exact-duplicate rate (keep-first digest convention —
    first copy is not a dup), language count and the modal language
    (deterministic count-desc/lang-asc tie-break). Composes three real
    stations (gopher_rules row-local HOFs, digest-window dup flag, a
    |source×lang|-bounded mode) into ONE |sources|-bounded frame; at
    100 TB the only wide operations are the dup-flag window on 32-byte
    digests and the card's own groupBy. Oracle replays every flag from
    the same integer thresholds."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.text import gopher_rules

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.sql(_DATA_CARD_PLANTED_SQL)
    g = docs.join(
        gopher_rules(docs, min_words=20).select(
            "doc_id", "n_words", F.col("keep").cast("int").alias("keep")
        ),
        "doc_id",
    ).select("doc_id", "lang", "source", "text", "n_words", "keep")
    w = Window.partitionBy(
        F.sha2(F.col("text").cast("binary"), 256)
    ).orderBy("doc_id")
    flags = g.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    lc = flags.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))
    top = (
        lc.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("nl").desc(), F.col("lang")
                )
            ),
        )
        .filter(F.col("r") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        flags.join(top, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.round(F.avg(F.col("keep").cast("double")), 4)
            .alias("gate_pass_rate"),
            F.round(F.avg(F.col("is_dup").cast("double")), 4)
            .alias("dup_rate"),
            F.countDistinct("lang").alias("n_langs"),
            F.max("top_lang").alias("top_lang"),
        )
        .orderBy("source")
    )


@query(
    "vocab_coverage_by_lang",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               t -> t <> '')) AS word
      FROM documents),
    freq AS (SELECT word, count(*) AS n FROM w GROUP BY word),
    vocab AS (SELECT word FROM (
                SELECT word, row_number() OVER (ORDER BY n DESC, word) AS r
                FROM freq) WHERE r <= 25)
    SELECT w.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           CAST(count(DISTINCT CASE WHEN v.word IS NULL THEN w.word END)
                AS BIGINT) AS n_oov_types
    FROM w LEFT JOIN vocab v ON v.word = w.word
    GROUP BY w.lang ORDER BY w.lang
    """,
    tags=("tier-c", "tokenizer", "vocab_coverage", "text_analysis",
          "data_mix"),
)
def vocab_coverage_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage census — the fairness audit run after any
    frequency-truncated vocabulary is chosen: take the top-25 words by
    CORPUS frequency (deterministic rank: count desc, word asc — the
    truncation every classical vocab build applies), then report per
    language the token count, the tokens covered by the vocab, and the
    distinct OOV word types — the table that shows which languages a
    shared vocab under-serves (the fertility complement to
    bpe_compression_by_lang). Plan: one token explode feeds both the
    global frequency rank (|vocab|-bounded top-k) and the coverage
    join; the 25-word vocab BROADCASTS, so the corpus-side work is one
    map-side left join + aggregate."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.text import tokens

    t = register_tables(spark, sf_dir, ("documents",))
    w = t["documents"].select(
        "lang", F.explode(tokens("text")).alias("word")
    )
    freq = w.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        freq.withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.col("n").desc(), "word")),
        )
        .filter(F.col("r") <= 25)
        .select(F.col("word").alias("v_word"))
    )
    return (
        w.join(F.broadcast(vocab), w["word"] == F.col("v_word"), "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("v_word").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_in_vocab"),
            F.countDistinct(
                F.when(F.col("v_word").isNull(), F.col("word"))
            ).alias("n_oov_types"),
        )
        .orderBy("lang")
    )


#: the per-shard census CTE chain — packing window, hash assignment,
#: manifest aggregate; shared verbatim by the manifest entry and the
#: round-14 file-writing entry (the latter appends a manifest_match
#: projection)
#: the packing + hash-assignment CTE chain (ends in ``a``), shared by
#: the manifest, file-export, and epoch-shuffle oracles
_SHARD_ASSIGN_CTES = f"""d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tokens
      FROM documents),
    s AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_off
      FROM d),
    q AS (
      SELECT source, doc_id, n_tokens,
             CAST(start_off // 256 AS BIGINT) AS seq_id
      FROM s),
    a AS (
      SELECT source, doc_id, n_tokens, seq_id,
             CAST(({text.DUCKDB_HASH60_SQL.format(
                 expr="source || ':' || CAST(seq_id AS VARCHAR)")}) % 8
               AS BIGINT) AS shard_id
      FROM q)"""

_SHARD_CENSUS_SELECT = f"""
    WITH {_SHARD_ASSIGN_CTES}
    SELECT shard_id,
           CAST(count(DISTINCT source || ':' || CAST(seq_id AS VARCHAR))
                AS BIGINT) AS n_seqs,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM a GROUP BY shard_id"""


def _shard_assign_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed sequences with their hash-assigned shard_id — shared by
    the manifest entry and the round-14 file-writing entry, so the
    manifest and the files are provably computed from the SAME
    assignment."""
    from sql4pandas_spark.operators.text import pack_sequences, portable_hash60

    t = register_tables(spark, sf_dir, ("documents",))
    packed = pack_sequences(t["documents"], budget_tokens=256)
    seq_key = F.concat_ws(":", F.col("source"), F.col("seq_id").cast("string"))
    return packed.select(
        "source", "doc_id", "n_tokens_doc", "seq_id",
        F.pmod(portable_hash60(seq_key), F.lit(8)).cast("long").alias("shard_id"),
    )


def _shard_census(a: DataFrame) -> DataFrame:
    """The per-shard export manifest: the numbers a training job
    validates before reading a shard."""
    return (
        a.groupBy("shard_id")
        .agg(
            F.countDistinct(
                F.concat_ws(":", F.col("source"), F.col("seq_id").cast("string"))
            ).alias("n_seqs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_doc").cast("long").alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("shard_id")
    )


@query(
    "shard_assign_manifest",
    oracle=_SHARD_CENSUS_SELECT + " ORDER BY shard_id",
    tags=("tier-c", "pack_sequences", "shard_export", "data_mix",
          "sample_hash"),
)
def shard_assign_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assignment + export manifest — the step AFTER packing in a
    corpus build: every 256-token training sequence is assigned to one
    of 8 output shards by the portable content hash of its
    (source, seq_id) identity — deterministic, engine-independent,
    restart-safe (a re-run assigns identically, so shard writes are
    idempotent), and requiring NO total order: hash sharding is the
    100 TB answer where a global row_number round-robin would serialize
    on one task. The manifest is the per-shard census every export
    publishes next to its files: sequence count, document count, token
    count, distinct sources — the numbers a training job validates
    before reading a shard. One window for packing (source-keyed, as
    pack_sequences), one map-side hash, one |shards|-bounded
    aggregate."""
    return _shard_census(_shard_assign_df(spark, sf_dir))


@query(
    "shard_export_files",
    oracle="SELECT shard_id, n_seqs, n_docs, n_tokens, n_sources,"
           " true AS manifest_match FROM (" + _SHARD_CENSUS_SELECT
           + ") ORDER BY shard_id",
    tags=("tier-c", "pack_sequences", "shard_export", "sink_parquet",
          "data_mix", "sample_hash"),
)
def shard_export_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shards actually WRITTEN and audited (round-14, closing the
    manifest entry's gap): the hash-assigned sequence frame is exported
    with ``partitionBy("shard_id")`` — one directory per shard, the
    layout a training job reads, written in ONE pass with no
    pre-shuffle (the writer splits partitions by the column; shard
    files stay restart-safe because the assignment is content-hashed) —
    then the export is RE-READ from disk and censused again, and each
    shard row carries ``manifest_match``: whether the file census
    equals the pre-write manifest on all four numbers. A lossy or
    misrouted write (dropped rows, a sequence split across shards,
    partition-column corruption) flips the flag or drops a row, and the
    oracle — which replays the census once and asserts match=true —
    catches either. FULL OUTER join on shard_id so a shard directory
    that vanishes entirely still produces a (mismatched) row rather
    than silently thinning the join."""
    a = _shard_assign_df(spark, sf_dir)
    manifest = _shard_census(a)
    (out,) = _scratch_dirs("shard_export")
    a.write.mode("overwrite").partitionBy("shard_id").parquet(out)
    files = _shard_census(spark.read.parquet(out))
    m = manifest.select(
        F.col("shard_id"),
        F.col("n_seqs").alias("m_seqs"),
        F.col("n_docs").alias("m_docs"),
        F.col("n_tokens").alias("m_tokens"),
        F.col("n_sources").alias("m_sources"),
    )
    return (
        files.join(m, "shard_id", "full_outer")
        .select(
            "shard_id", "n_seqs", "n_docs", "n_tokens", "n_sources",
            (
                F.col("n_seqs").eqNullSafe(F.col("m_seqs"))
                & F.col("n_docs").eqNullSafe(F.col("m_docs"))
                & F.col("n_tokens").eqNullSafe(F.col("m_tokens"))
                & F.col("n_sources").eqNullSafe(F.col("m_sources"))
            ).alias("manifest_match"),
        )
        .orderBy("shard_id")
    )


_EPOCH_SHUFFLE_ORACLE = f"""
    WITH {_SHARD_ASSIGN_CTES},
    seqs AS (SELECT source, seq_id, shard_id, count(*) AS n_docs
             FROM a GROUP BY 1, 2, 3),
    eps AS (SELECT 0 AS epoch UNION ALL SELECT 1),
    k AS (SELECT epoch, shard_id, source, seq_id,
                 ({text.DUCKDB_HASH60_SQL.format(
                     expr="source || ':' || CAST(seq_id AS VARCHAR)"
                          " || ':' || CAST(epoch AS VARCHAR)")}) AS okey
          FROM seqs CROSS JOIN eps),
    r AS (SELECT epoch, shard_id, source, seq_id,
                 row_number() OVER (PARTITION BY epoch, shard_id
                    ORDER BY okey, source, seq_id) AS rn
          FROM k)
    SELECT CAST(epoch AS BIGINT) AS epoch, shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           array_to_string(list_sort(
             list(CAST(rn AS STRING) || ':' || source || ':'
                  || CAST(seq_id AS STRING)) FILTER (WHERE rn <= 3)), '|')
             AS first3
    FROM r GROUP BY epoch, shard_id ORDER BY epoch, shard_id
    """


@query(
    "epoch_shuffle_manifest",
    oracle=_EPOCH_SHUFFLE_ORACLE,
    tags=("tier-c", "shard_export", "sample_hash", "data_mix",
          "pack_sequences"),
)
def epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PER-EPOCH data ordering — the reproducibility
    contract a trainer needs (epoch N's read order must be recomputable
    after a restart, differ from epoch N-1's, and never require a
    global shuffle): each training sequence's order key for epoch e is
    the portable content hash of (source, seq_id, e), and the read
    order is a SORT WITHIN SHARD on that key (per-shard windows — the
    100 TB shape; a global row_number would serialize). The manifest
    pins, per (epoch, shard): the sequence count (identical across
    epochs — shuffling must lose nothing) and the first three
    sequences in read order (the restart-check literal a trainer logs);
    epochs 0 and 1 provably order differently (pytest). Oracle replays
    hash, window, and head-of-order census exactly; collected heads are
    sorted post-collect (the cross-engine ordered-collect rule)."""
    from sql4pandas_spark.operators.text import portable_hash60

    a = _shard_assign_df(spark, sf_dir)
    seqs = a.groupBy("source", "seq_id", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # epoch expansion is a row-local explode, not a crossJoin — same
    # rows, no BroadcastNestedLoopJoin in the plan
    e = seqs.withColumn(
        "epoch", F.explode(F.array(F.lit(0), F.lit(1)))
    )
    okey = portable_hash60(
        F.concat_ws(
            ":",
            F.col("source"),
            F.col("seq_id").cast("string"),
            F.col("epoch").cast("string"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("epoch", "shard_id").orderBy(
        okey, F.col("source"), F.col("seq_id")
    )
    r = e.withColumn("rn", F.row_number().over(w))
    head = F.when(
        F.col("rn") <= 3,
        F.concat_ws(
            ":",
            F.col("rn").cast("string"),
            F.col("source"),
            F.col("seq_id").cast("string"),
        ),
    )
    return (
        r.groupBy(F.col("epoch").cast("long").alias("epoch"), F.col("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.array_join(F.array_sort(F.collect_list(head)), "|").alias("first3"),
        )
        .orderBy("epoch", "shard_id")
    )


_CURRICULUM_ORACLE = f"""
    WITH sc AS (
      SELECT doc_id, length(text) AS score FROM documents),
    dec AS (
      SELECT doc_id,
             CAST(ntile(10) OVER (ORDER BY score, doc_id) AS BIGINT)
               AS decile
      FROM sc),
    eps AS (SELECT 0 AS epoch UNION ALL SELECT 1 UNION ALL SELECT 2),
    p AS (
      SELECT epoch, doc_id, decile,
             (1.0 - epoch / 2.0) * 0.5
               + (epoch / 2.0) * (decile / 10.0) AS keep_p
      FROM dec CROSS JOIN eps),
    k AS (
      SELECT epoch, decile,
             CASE WHEN ({text.DUCKDB_HASH60_SQL.format(
                 expr="CAST(doc_id AS VARCHAR) || ':'"
                      " || CAST(epoch AS VARCHAR)")})::DOUBLE
                  < keep_p * 1152921504606846976.0
                  THEN 1 ELSE 0 END AS kept
      FROM p)
    SELECT CAST(epoch AS BIGINT) AS epoch, decile,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_kept
    FROM k GROUP BY epoch, decile ORDER BY epoch, decile
    """


@query(
    "curriculum_anneal_mix",
    oracle=_CURRICULUM_ORACLE,
    tags=("tier-c", "data_mix", "sample_hash", "quality", "curriculum"),
)
def curriculum_anneal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-CURRICULUM annealing — the multi-epoch mixing schedule a
    pretraining run uses to shift from broad coverage to quality-heavy
    data: documents are cut into quality deciles (exact ntile over a
    deterministic score with doc_id tie-break), and epoch e's keep
    probability interpolates linearly from UNIFORM 0.5 (epoch 0 — see
    everything) to DECILE-PROPORTIONAL d/10 (epoch 2 — top decile kept
    outright, bottom at 10%). Keeps are deterministic portable-hash
    draws on (doc_id, epoch) — restart-safe, no RNG state, a different
    but reproducible subset each epoch — the same threshold idiom as
    temperature_mix. Census: (epoch, decile) → total/kept, the table a
    training-run owner reads to verify the anneal. Scale note: exact
    ntile is ONE global sort, fine at fixture scale and exact for the
    oracle; at 100 TB swap the decile cut for broadcast approxQuantile
    cutpoints (map-side bucketing, same census contract) — the same
    swap crawl_curation_ranked documents for its rank deciles."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.text import portable_hash60

    t = register_tables(spark, sf_dir, ("documents",))
    dec = t["documents"].select(
        "doc_id",
        F.ntile(10)
        .over(Window.orderBy(F.length("text"), F.col("doc_id")))
        .cast("long")
        .alias("decile"),
    )
    e = dec.withColumn(
        "epoch", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
    )
    keep_p = (F.lit(1.0) - F.col("epoch") / F.lit(2.0)) * F.lit(0.5) + (
        F.col("epoch") / F.lit(2.0)
    ) * (F.col("decile") / F.lit(10.0))
    draw = portable_hash60(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
        )
    ).cast("double")
    kept = F.when(draw < keep_p * F.lit(1152921504606846976.0), 1).otherwise(0)
    return (
        e.select(
            F.col("epoch").cast("long").alias("epoch"),
            "decile",
            kept.alias("kept"),
        )
        .groupBy("epoch", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .orderBy("epoch", "decile")
    )


#: the incremental entry's corpus: the batch pages PLUS a banner line
#: that is rare in the even batch (~10% — below the 30% threshold, so
#: batch 1 KEEPS it) but common in the odd batch (~71%), so the
#: CUMULATIVE frequency crosses the threshold and batch 2 STRIPS it —
#: the decision genuinely flips between versions, which is the entire
#: point of incremental voting
_BOILERPLATE_INCR_SQL = f"""
      SELECT doc_id, domain,
             text || CASE WHEN (doc_id % 2 = 1 AND doc_id % 7 < 5)
                            OR doc_id % 20 = 0
                          THEN chr(10) || 'Flash sale banner'
                          ELSE '' END AS text
      FROM ({_BOILERPLATE_PLANTED_SQL})
"""


@query(
    "incremental_boilerplate_batches",
    oracle=f"""
    WITH p AS ({_BOILERPLATE_INCR_SQL}),
    b1 AS (SELECT * FROM p WHERE doc_id % 2 = 0),
    b2 AS (SELECT * FROM p WHERE doc_id % 2 = 1),
    l1 AS (SELECT domain, line, count(*) AS n
           FROM (SELECT domain,
                        unnest(list_distinct(string_split(text, chr(10))))
                          AS line FROM b1)
           GROUP BY 1, 2),
    d1 AS (SELECT domain, count(*) AS nd FROM b1 GROUP BY 1),
    bl1 AS (SELECT l1.domain, list(l1.line) AS bll
            FROM l1 JOIN d1 USING (domain)
            WHERE d1.nd >= 2 AND l1.n * 100 >= d1.nd * 30 GROUP BY 1),
    r1 AS (SELECT count(*) AS n_docs,
                  CAST(sum(len(string_split(b.text, chr(10)))
                       - len(list_filter(string_split(b.text, chr(10)),
                             x -> NOT coalesce(list_contains(c.bll, x),
                                               false)))) AS BIGINT)
                    AS lines_removed
           FROM b1 b LEFT JOIN bl1 c USING (domain)),
    l12 AS (SELECT domain, line, count(*) AS n
            FROM (SELECT domain,
                         unnest(list_distinct(string_split(text, chr(10))))
                           AS line FROM p)
            GROUP BY 1, 2),
    d12 AS (SELECT domain, count(*) AS nd FROM p GROUP BY 1),
    bl12 AS (SELECT l12.domain, list(l12.line) AS bll
             FROM l12 JOIN d12 USING (domain)
             WHERE d12.nd >= 2 AND l12.n * 100 >= d12.nd * 30 GROUP BY 1),
    r2 AS (SELECT count(*) AS n_docs,
                  CAST(sum(len(string_split(b.text, chr(10)))
                       - len(list_filter(string_split(b.text, chr(10)),
                             x -> NOT coalesce(list_contains(c.bll, x),
                                               false)))) AS BIGINT)
                    AS lines_removed
           FROM b2 b LEFT JOIN bl12 c USING (domain)),
    s1 AS (SELECT count(*) AS store_line_rows FROM l1),
    s2 AS (SELECT count(*) AS store_line_rows FROM l12)
    SELECT 1 AS batch_id, (SELECT n_docs FROM r1) AS n_docs,
           (SELECT lines_removed FROM r1) AS lines_removed,
           (SELECT CAST(store_line_rows AS BIGINT) FROM s1)
             AS store_line_rows
    UNION ALL
    SELECT 2, (SELECT n_docs FROM r2),
           (SELECT lines_removed FROM r2),
           (SELECT CAST(store_line_rows AS BIGINT) FROM s2)
    ORDER BY batch_id
    """,
    tags=("tier-c", "boilerplate", "incr_agg", "incremental", "scrub"),
)
def incremental_boilerplate_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping under CONTINUOUS ingestion
    (operators/text.boilerplate_votes / merge_boilerplate_votes /
    strip_boilerplate_with_state): per-(domain, line-hash) vote counts
    and per-domain doc counters fold into the versioned exactly-once
    additive store batch by batch, and each batch is scrubbed with the
    decision computed from the CUMULATIVE state — a nav bar that only
    crosses the frequency threshold once enough of its domain has
    arrived starts being stripped from that batch on (CCNet's
    periodic-recompute shape; batch 1 here strips with half the
    corpus's votes, batch 2 with all of them — the oracle replays both
    decision points). Votes shuffle as 8-byte hashes; state is
    |distinct (domain, line)| rows; replay misalignment raises via the
    store's interlock. store_line_rows pins that the state dedups."""
    from sql4pandas_spark.operators.text import (
        BOILERPLATE_STATE_SCHEMA,
        boilerplate_votes,
        merge_boilerplate_votes,
        strip_boilerplate_with_state,
    )
    from sql4pandas_spark.streaming import sketches

    register_tables(spark, sf_dir, ("documents",))
    p = spark.sql(_BOILERPLATE_INCR_SQL)
    (root,) = _scratch_dirs("bp_votes")
    sketches.empty_state(spark, BOILERPLATE_STATE_SCHEMA, root)
    rows = []
    for k, batch in enumerate(
        (p.filter(F.col("doc_id") % 2 == 0), p.filter(F.col("doc_id") % 2 == 1))
    ):
        sketches.sketch_apply_batch(
            boilerplate_votes(batch), root, merge_boilerplate_votes, k
        )
        state = spark.read.parquet(f"{root}/v{k + 1}")
        stripped = strip_boilerplate_with_state(
            batch, state, min_pct=30, min_docs=2
        )
        agg = stripped.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines_removed").cast("long").alias("lines_removed"),
        ).collect()[0]
        n_lines = state.filter(F.col("line_hash").isNotNull()).count()
        rows.append((k + 1, agg["n_docs"], agg["lines_removed"], n_lines))
    return spark.createDataFrame(
        rows,
        "batch_id int, n_docs long, lines_removed long, store_line_rows long",
    )


@query(
    "diversity_distinct_n",
    oracle="""
    WITH toks AS (
      SELECT lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    uni AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_1grams,
             CAST(count(DISTINCT g) AS BIGINT) AS uniq_1grams
      FROM (SELECT lang, unnest(w) AS g FROM toks) GROUP BY lang),
    bi AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_2grams,
             CAST(count(DISTINCT g) AS BIGINT) AS uniq_2grams
      FROM (SELECT lang,
                   unnest(CASE WHEN len(w) >= 2
                          THEN [array_to_string(list_slice(w, i, i + 1), ' ')
                                FOR i IN range(1, len(w))]
                          ELSE CAST([] AS VARCHAR[]) END) AS g
            FROM toks) GROUP BY lang)
    SELECT u.lang, u.n_1grams, u.uniq_1grams,
           CAST(floor(CAST(u.uniq_1grams AS DOUBLE) * 1000000.0 / u.n_1grams)
                AS BIGINT) AS distinct1_e6,
           COALESCE(b.n_2grams, 0) AS n_2grams,
           COALESCE(b.uniq_2grams, 0) AS uniq_2grams,
           CASE WHEN b.n_2grams > 0
                THEN CAST(floor(CAST(b.uniq_2grams AS DOUBLE) * 1000000.0
                                / b.n_2grams) AS BIGINT) END AS distinct2_e6
    FROM uni u LEFT JOIN bi b ON u.lang = b.lang
    ORDER BY u.lang
    """,
    tags=("tier-c", "text_analysis", "profile", "ngram_stats", "diversity"),
)
def diversity_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-1 / distinct-2 lexical diversity per language
    (operators/profile.distinct_n_diversity; Li et al. 2016's diversity
    metric) — the degenerate-text detector a corpus owner reads next to
    the Zipf audit: template loops and synthetic floods collapse the
    unique-over-total n-gram ratio while natural prose stays high. Ratios
    are e6 fixed-point (floor of an exact-double quotient), so the census
    hash-matches; per-n cost is one two-stage distinct aggregate keyed by
    (lang, gram) with map-side partials."""
    from sql4pandas_spark.operators.profile import distinct_n_diversity

    t = register_tables(spark, sf_dir, ("documents",))
    return distinct_n_diversity(t["documents"])


@query(
    "zipf_slope_by_lang",
    oracle="""
    WITH toks AS (
      SELECT lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    counts AS (
      SELECT lang, g AS t, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(w) AS g FROM toks) GROUP BY lang, g),
    ranked AS (
      SELECT lang,
             CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
      FROM (SELECT lang, c,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY c DESC, t) AS r
            FROM counts)
      WHERE r <= 50),
    m AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM ranked GROUP BY lang)
    SELECT lang, n AS n_ranks,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
             round((CAST(n * sxy - sx * sy AS DOUBLE)
                    * CAST(n * sxy - sx * sy AS DOUBLE))
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
    FROM m ORDER BY lang
    """,
    tags=("tier-c", "profile", "text_analysis", "audit", "zipf"),
)
def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-conformance audit per language
    (operators/profile.zipf_slope_by_group): OLS slope of ln(freq) vs
    ln(rank) over each language's top-50 token ranks, with r^2 — natural
    text sits near slope -1, and a source whose slope or fit drifts is
    the first thing to quarantine before a mix. ln() is e6-quantized once
    per (lang, token) row (the PSI discipline: integer sums after the
    transcendental), the five regression moments are order-free integer
    sums, and the final division happens on exactly-equal doubles in both
    engines. The rank<=50 window filter rides WindowGroupLimit — no
    language ever sorts its full vocabulary."""
    from sql4pandas_spark.operators.profile import zipf_slope_by_group

    t = register_tables(spark, sf_dir, ("documents",))
    return zipf_slope_by_group(t["documents"])


def _hits_oracle(iters: int = 8) -> str:
    """DuckDB replay of operators/graph.hits, loop UNROLLED into CTEs
    (the _pagerank_ctes discipline): each half-round references its
    predecessor exactly ONCE — the L1 total is an unpartitioned window
    sum inside the same scan (the oracle-side spelling of the operator's
    broadcast 1-row aggregate), never a second scalar-subquery reference
    that would make both engines inline the chain exponentially."""
    S = 100000000
    ctes = [
        f"e AS MATERIALIZED ({_LINKGRAPH_SQL})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "h0 AS (SELECT node, CAST(100000000 // (SELECT count(*) FROM nodes)"
        " AS BIGINT) AS hub FROM nodes)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""ar{k} AS (
      SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS raw
      FROM h{k - 1} h JOIN e ON e.src = h.node GROUP BY e.dst)"""
        )
        ctes.append(
            f"""a{k} AS (
      SELECT node, CAST(raw * {S} // tot AS BIGINT) AS auth FROM (
        SELECT n.node, COALESCE(ar.raw, CAST(0 AS BIGINT)) AS raw,
               sum(COALESCE(ar.raw, CAST(0 AS BIGINT))) OVER () AS tot
        FROM nodes n LEFT JOIN ar{k} ar ON ar.node = n.node) t)"""
        )
        ctes.append(
            f"""hr{k} AS (
      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS raw
      FROM a{k} a JOIN e ON e.dst = a.node GROUP BY e.src)"""
        )
        ctes.append(
            f"""h{k} AS (
      SELECT node, CAST(raw * {S} // tot AS BIGINT) AS hub FROM (
        SELECT n.node, COALESCE(hr.raw, CAST(0 AS BIGINT)) AS raw,
               sum(COALESCE(hr.raw, CAST(0 AS BIGINT))) OVER () AS tot
        FROM nodes n LEFT JOIN hr{k} hr ON hr.node = n.node) t)"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT a.node, a.auth AS auth_e8, h.hub AS hub_e8
    FROM a{iters} a JOIN h{iters} h ON h.node = a.node
    ORDER BY a.node"""
    )


@query(
    "domain_hits_scores",
    oracle=_hits_oracle(8),
    tags=("tier-c", "graph", "hits", "quality", "iterative"),
)
def domain_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the domain link graph
    (operators/graph.hits) — the mutually-reinforcing complement of
    domain_pagerank's single authority signal: index/directory domains
    score high HUB (they point at good content), canonical-content
    domains high AUTHORITY (good hubs point at them); crawl curation
    reads both before deciding what a domain is FOR. Integer e8
    fixed-point with L1 normalization per half-round, so all 8 rounds
    replay bit-exactly in the unrolled oracle. The squaring edge family
    concentrates in-degree on quadratic-residue domains, so authorities
    genuinely separate from hubs (pinned). Per round: two edge joins +
    two 8-byte aggregates; the L1 total broadcasts as a 1-row frame."""
    from sql4pandas_spark.operators.graph import hits

    register_tables(spark, sf_dir, ("documents",))
    return hits(spark.sql(_LINKGRAPH_SQL), iterations=8)


@query(
    "incr_join_view_batches",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    tags=("tier-c", "incr_agg", "matview", "join_inner", "pipeline"),
)
def incr_join_view_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance
    (operators/maintenance.refresh_join_view): the orders ⋈ customer view
    starts from the pre-1996 orders and the %3=0 customer cohort, then
    folds forward two append batches on EACH side through the delta-join
    identity ΔV = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR — never recomputing the base
    join. Both cross terms are load-bearing: later customer batches must
    pick up EARLIER orders (L⋈ΔR) and later orders earlier customers
    (ΔL⋈R), and same-refresh pairs only via ΔL⋈ΔR — drop any term and
    the census hash breaks. Deltas broadcast so the snapshots never
    shuffle (plan-pinned in pytest). The oracle is the ground-truth full
    join over the complete tables — equality proves the maintained view
    is indistinguishable from a rebuild."""
    from sql4pandas_spark.operators.maintenance import (
        init_join_view,
        refresh_join_view,
    )

    t = register_tables(spark, sf_dir, ("orders", "customer"))
    o, c = t["orders"], t["customer"]
    o_base = o.filter(F.col("o_orderdate") < "1996-01-01")
    o_b1 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    o_b2 = o.filter(F.col("o_orderdate") >= "1997-01-01")
    c = c.withColumnRenamed("c_custkey", "o_custkey")
    c_base = c.filter(F.col("o_custkey") % 3 == 0)
    c_b1 = c.filter(F.col("o_custkey") % 3 == 1)
    c_b2 = c.filter(F.col("o_custkey") % 3 == 2)

    state = init_join_view(o_base, c_base, ["o_custkey"])
    state = refresh_join_view(state, ["o_custkey"], o_b1, c_b1)
    state = refresh_join_view(state, ["o_custkey"], o_b2, c_b2)
    view = state[2]
    return (
        view.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "truncation_loss_census",
    oracle="""
    WITH n AS (
      SELECT CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS nt
      FROM documents),
    l AS (SELECT CAST(max_len AS BIGINT) AS max_len
          FROM (VALUES (128), (512), (2048)) AS t(max_len))
    SELECT l.max_len,
           CAST(count(CASE WHEN n.nt > l.max_len THEN 1 END) AS BIGINT)
             AS n_truncated,
           CAST(sum(n.nt) AS BIGINT) AS tokens_total,
           CAST(sum(greatest(n.nt - l.max_len, 0)) AS BIGINT) AS tokens_lost,
           CAST(sum(greatest(n.nt - l.max_len, 0)) * 1000000
                // sum(n.nt) AS BIGINT) AS lost_ppm
    FROM n CROSS JOIN l GROUP BY l.max_len ORDER BY l.max_len
    """,
    tags=("tier-c", "text_analysis", "profile", "text_tokenize"),
)
def truncation_loss_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length decision census: for each candidate max sequence
    length, how many documents would truncate and what integer-ppm share
    of corpus tokens is lost — the number a pretraining owner reads
    before fixing the context window (the complement of
    pack_sequences_bins, which assumes the length and measures packing
    efficiency). One token-count scan cross-joined with a 3-row literal
    length dim (broadcast); the ppm is an exact integer division."""
    t = register_tables(spark, sf_dir, ("documents",))
    from sql4pandas_spark.operators.text import tokens

    n = t["documents"].select(
        F.size(tokens(F.col("text"))).cast("long").alias("nt")
    )
    lens = spark.createDataFrame([(128,), (512,), (2048,)], "max_len BIGINT")
    lost = F.greatest(F.col("nt") - F.col("max_len"), F.lit(0))
    return (
        n.crossJoin(F.broadcast(lens))
        .groupBy("max_len")
        .agg(
            F.count(F.when(F.col("nt") > F.col("max_len"), 1)).alias(
                "n_truncated"
            ),
            F.sum("nt").alias("tokens_total"),
            F.sum(lost).alias("tokens_lost"),
            F.expr(
                "CAST(sum(greatest(nt - max_len, 0)) * 1000000"
                " DIV sum(nt) AS BIGINT)"
            ).alias("lost_ppm"),
        )
        .orderBy("max_len")
    )


@query(
    "dup_source_matrix",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, 'mirror', text
      FROM documents WHERE doc_id % 37 = 5),
    d AS (SELECT doc_id, source, md5(text) AS h FROM corpus),
    p AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b
      FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id)
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b
    """,
    tags=("tier-c", "dedup_exact", "profile", "audit"),
)
def dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-provenance matrix: exact-duplicate PAIRS counted per
    unordered source pair — the audit that tells a corpus owner WHERE
    duplication comes from (mirrors within one source vs cross-source
    scraping overlap), read next to dedup_cluster_stats' headline rate.
    The fixture corpus has NO exact duplicates below sf0.1, so a planted
    'mirror' source (a shifted-id replica of the %37=5 cohort — the
    cross-source scraping-overlap scenario) keeps the matrix non-vacuous
    at every scale; sf0.1's natural duplicate groups ride along. Pairs
    join on the text digest (narrow key, the dedup_exact discipline —
    document text never shuffles), doc_id < doc_id kills self/reversed
    pairs, least/greatest folds the matrix to its upper triangle. Output
    is |sources|^2-bounded."""
    t = register_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    corpus = docs.select("doc_id", "source", "text").unionByName(
        docs.filter(F.col("doc_id") % 37 == 5).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.lit("mirror").alias("source"),
            "text",
        )
    )
    d = corpus.select("doc_id", "source", F.md5(F.col("text")).alias("h"))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.least(F.col("a.source"), F.col("b.source")).alias("source_a"),
        F.greatest(F.col("a.source"), F.col("b.source")).alias("source_b"),
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )
