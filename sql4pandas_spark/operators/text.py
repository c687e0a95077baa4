"""Text-analysis operators over the `documents` table (SURVEY.md §2.9).

Everything is built from JVM higher-order functions (split/transform/filter/
aggregate/xxhash64) — zero Python UDFs in these paths, so they run inside
whole-stage codegen and scale linearly with input splits.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword lang-id heuristic.
#: Deliberately deterministic + dependency-free; real pipelines would swap in
#: fastText/CLD3 behind the same column contract.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "join", "filter"),
    "fr": ("le", "la", "et", "de", "jointure", "filtre"),
    "es": ("el", "la", "y", "de", "union", "filtro"),
    "de": ("der", "die", "und", "von", "verbund", "fenster"),
    "zh": ("的", "和", "是", "在", "连接", "过滤"),
}

#: BPE-ish tokenizer regex: runs of word chars OR single non-space symbols —
#: the classic pre-tokenization split used before byte-pair merging.
BPE_TOKEN_RE = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"

#: SUPPORTED INPUT ALPHABET for the ``\s``-splitting tokenizer paths
#: (:func:`tokens`, :data:`BPE_TOKEN_RE`, the gopher word split): U+000B
#: (vertical tab) is EXCLUDED. Java regex ``\s`` includes \x0B while
#: DuckDB's RE2 ``\s`` does not, so a document containing \x0B would
#: tokenize differently in engine vs oracle. The pattern is replicated
#: verbatim in ~30 oracle SQL strings, so rather than rewriting ``\s`` as
#: an explicit class on BOTH sides everywhere, \x0B is declared outside
#: the alphabet (testdata verified \x0B-free at all SFs; a real crawl
#: front end strips it in html_to_text's HTML_WS_STAGES, which DO use
#: explicit engine-shared classes).


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(col), "\\s+"), lambda t: t != "")


#: DuckDB spelling of :func:`tokens` over the ``text`` column, for oracles.
DUCKDB_TOKENS_SQL = r"list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')"


def let_col(bound: Column, body) -> Column:
    """Row-local LET: evaluate ``body(x)`` with ``x`` bound ONCE per row.

    Catalyst does not common-subexpression-eliminate inside higher-order
    lambdas: referencing an expensive expression (a split token array)
    inside ``transform(sequence(...), lambda i: ...slice(expr, i)...)``
    re-evaluates it PER ELEMENT — O(tokens²) per doc for n-gram builders,
    O(tokens³) when the result feeds a second lambda. Binding through a
    1-element array transform makes it a lambda variable, evaluated once
    (measured round 7: shingle extraction 3.45 s → 0.45 s at sf0.1,
    top-bigram stats 6.9 s → 0.8 s)."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish regex (regexp_extract_all, JVM-side)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0)))


def portable_hash60(col: Column) -> Column:
    """60-bit token hash computable identically in Spark AND DuckDB.

    ``conv(substr(md5(x), 1, 15), 16, 10)`` — the first 15 hex digits of the
    md5 digest parsed as an integer (< 2^60, so it always fits a positive
    int64, ANSI-safe). md5 produces identical hex in both engines, which is
    what lets simhash / winnowing fingerprints carry value-checked DuckDB
    oracles. The DuckDB spelling of the same value is
    :data:`DUCKDB_HASH60_SQL`. Still JVM-side and codegen-friendly; for
    oracle-free hot paths xxhash64 is ~2× cheaper.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: DuckDB expression template for :func:`portable_hash60` — format with the
#: token expression, e.g. ``DUCKDB_HASH60_SQL.format(expr="t")``.
DUCKDB_HASH60_SQL = (
    "list_sum(list_transform(range(1, 16), i ->"
    " (strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1)::BIGINT"
    " << (4 * (15 - i))))::BIGINT"
)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char/token counts, mean token length,
    punctuation ratio, stopword ratio — the standard cheap quality filters of
    a pretraining data pipeline. Pure column expressions (one scan, no UDF)."""
    toks = tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = n_chars - F.length(F.translate(F.col(text_col), ".,!?;:'\"", ""))
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / n_tokens,
            4,
        ).alias("avg_token_len"),
        F.round(n_punct.cast("double") / n_chars, 4).alias("punct_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-word fraction and
    top-bigram fraction (high values flag boilerplate / degenerate text — a
    standard pretraining filter alongside :func:`quality_features`).

    All higher-order JVM expressions over the token array — one scan, no
    UDF, no shuffle, so it composes into any quality gate for free. The
    top-bigram count is O(d²) in DISTINCT bigrams per document, evaluated
    row-local — fine for document-sized rows at any corpus scale. Token
    and bigram arrays are let_col-bound: the inline form re-evaluated the
    bigram builder per distinct bigram — O(tokens³) per doc (round 7).
    """

    def per_tokens(w):
        n_tokens = F.size(w)
        # guard BEFORE building: sequence(1, 0) descends for 1-token docs
        # and element_at(w, 2) then throws INVALID_ARRAY_INDEX (the old
        # inline form hid this under the lazy when() of the output column)
        bigrams_expr = F.when(
            n_tokens >= 2,
            F.transform(
                F.sequence(F.lit(1), n_tokens - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(w, i), F.element_at(w, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

        def per_bigrams(bg):
            top_bigram_n = F.array_max(
                F.transform(
                    F.array_distinct(bg),
                    lambda d: F.size(F.filter(bg, lambda x: x == d)),
                )
            )
            return F.struct(
                n_tokens.alias("n_tokens"),
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(w)).cast("double") / n_tokens,
                    4,
                ).alias("dup_word_frac"),
                F.when(
                    n_tokens >= 2,
                    F.round(top_bigram_n.cast("double") / (n_tokens - 1), 4),
                ).alias("top_bigram_frac"),
            )

        return let_col(bigrams_expr, per_bigrams)

    stats = let_col(tokens(text_col), per_tokens)
    return df.select("doc_id", stats.alias("_s")).select(
        "doc_id", "_s.n_tokens", "_s.dup_word_frac", "_s.top_bigram_frac"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-embedding/pretraining chunker. Output: one row per chunk with
    (doc_id, chunk_idx, chunk_text, n_tokens).

    Stride = chunk_tokens - overlap. Chunk starts are a `sequence`, chunk
    bodies are `slice`+`array_join` — all JVM higher-order functions, so the
    row fan-out happens inside whole-stage codegen with no Python and no
    shuffle (a pure flatMap shape: input splits stay independent at 100 TB).
    The final (short) chunk is kept iff it starts before the token end.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")

    def per_tokens(w):
        n = F.size(w)
        starts = F.filter(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
            lambda s: s < n,
        )
        return F.transform(
            starts,
            lambda s: F.struct(
                F.array_join(F.slice(w, s + 1, chunk_tokens), " ").alias(
                    "chunk_text"
                ),
                F.least(n - s, F.lit(chunk_tokens)).alias("n_tokens"),
            ),
        )

    # token array let_col-bound: the inline slice(tokens, ...) form
    # re-split the text per chunk (O(tokens²/stride) per doc, round 7)
    chunks = let_col(tokens(text_col), per_tokens)
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of stopword hits per language.

    Scale: builds one score column per language (5 JVM expressions) then takes
    a deterministic argmax — ties go to the lexicographically FIRST language
    (plain SQL ``ORDER BY hits DESC, lang ASC`` semantics, so the DuckDB
    oracle can replay the exact rule). One scan, no shuffle, no UDF.
    """
    toks = tokens(text_col)
    langs = sorted(LANG_STOPWORDS)

    def _contains(words: tuple[str, ...]):
        # closure factory: Spark HOF lambdas must have exactly one parameter,
        # so the stopword array is captured, not passed as a default arg
        arr = F.array(*[F.lit(w) for w in words])
        return lambda t: F.array_contains(arr, t)

    # struct max compares fields in order: (hits, rank) where rank is the
    # language's position in REVERSE alphabetical order — on a hits tie the
    # max rank wins, i.e. the alphabetically first language.
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, _contains(LANG_STOPWORDS[lang]))).alias("hits"),
                F.lit(len(langs) - 1 - i).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(scored)
    return df.select(
        "doc_id", "lang", best.getField("lang").alias("lang_pred"), best.getField("hits").alias("hits")
    )


def winnow_fingerprint(
    df: DataFrame, text_col: str = "text", window: int = 4
) -> DataFrame:
    """Winnowing-style document fingerprint (rolling min over token hashes).

    Each document maps to (a) a single fingerprint (min token-window hash —
    usable as a cheap near-dup blocking key) and (b) the count of distinct
    window minima. All array ops, no explode, no shuffle. Token hashes use
    :func:`portable_hash60` so the DuckDB oracle reproduces values exactly.
    """
    def per_hashes(hashes):
        n = F.size(hashes)
        mins = F.transform(
            F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
            lambda i: F.array_min(F.slice(hashes, i + 1, window)),
        )
        return F.struct(
            F.array_min(mins).alias("fingerprint"),
            F.size(F.array_distinct(mins)).alias("n_windows"),
        )

    from sql4pandas_spark.operators.spread import spread_for_compute

    # hash array let_col-bound: the inline form recomputed EVERY token's
    # md5 hash per window position — O(tokens² md5 calls) per doc
    # (measured 20 s → see BASELINE.md round-7; round-7 fix)
    fp = let_col(F.transform(tokens(text_col), portable_hash60), per_hashes)
    # project + spread before the per-token md5 rolls (operators/spread.py)
    return spread_for_compute(df.select("doc_id", F.col(text_col))).select(
        "doc_id", fp.alias("_fp")
    ).select("doc_id", "_fp.fingerprint", "_fp.n_windows")


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    token_count: Column | None = None,
) -> DataFrame:
    """Contiguous-fill sequence packing: assign each document to a training
    sequence of ~`budget_tokens` tokens (the concat-then-chunk packing used
    to build fixed-length pretraining batches).

    Documents are laid end-to-end in deterministic `order_col` order within
    each `group_col` stream; a document belongs to the sequence its START
    offset falls in (``seq_id = start_offset // budget``), so a straddling
    document counts toward the sequence it begins in. This is the scalable
    declarative form of packing: ONE shuffle on `group_col`, a single-pass
    window cumsum, no sequential greedy loop — bin-packing variants that
    need global first-fit state don't distribute, and real pipelines use
    concat-then-chunk for exactly that reason.

    Returns the input columns plus `n_tokens_doc` and `seq_id`. Aggregate
    per (group, seq_id) for fill curves; at 100 TB the group column keys the
    only shuffle and skewed groups split fine because the window is a
    running sum (AQE handles the rest).
    """
    from pyspark.sql import Window

    tok = (
        token_count
        if token_count is not None
        else F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    )
    w = Window.partitionBy(group_col).orderBy(order_col)
    start = F.coalesce(
        F.sum(tok).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return df.select(
        "*",
        tok.alias("n_tokens_doc"),
        F.floor(start / budget_tokens).cast("long").alias("seq_id"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Global top-k word n-grams by exact corpus frequency — the classic
    corpus-statistics job (boilerplate discovery, contamination probes,
    stopword-list induction). Returns (ngram, n_occurrences) ordered by
    (count desc, ngram asc), counting OCCURRENCES (a doc repeating an
    n-gram counts each time).

    Scale shape: n-grams assemble row-locally from the token array (JVM
    HOFs, no UDF), then ONE count aggregate keyed by n-gram — map-side
    combine collapses each partition's counts before the shuffle, and the
    final top-k is TakeOrderedAndProject (no global sort). The n-gram key
    space is the scale risk (it grows with corpus size, unlike a fixed
    query-term list); when even the combined map output is too wide, the
    approximate path is operators/sketches.heavy_hitters_topk over the
    exploded n-gram stream — same output contract, omission-only error.
    Documents shorter than ``n`` tokens contribute nothing (no whole-text
    fallback here — unlike dedup shingles, frequency stats must not
    conflate a 1-token doc with an n-gram).
    """
    # project the token array ONCE: referencing the tokens() expression
    # inline inside the transform lambda makes Catalyst re-split the text
    # per element_at (O(tokens²) per doc — measured 6.9 s vs 0.9 s at sf0.1)
    tokd = df.select(tokens(text_col).alias("_w"))
    w = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]
        ),
    )
    return (
        tokd.select(F.explode(F.when(F.size(w) >= n, grams)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(k)
    )


#: RFC 3986 unreserved characters — the set whose percent-encodings are
#: semantically identical to the bare character and must decode during
#: canonicalization (%7E ≡ ~); everything else keeps its encoding with
#: the hex digits case-folded UPPER (%2f → %2F). Reserved separators
#: (/?#&=%) are NOT in this set, so decoding can never change how a URL
#: parses.
_URL_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
#: `_XX` triplets (separator + 2 UPPER hex digits) for each unreserved
#: char, concatenated. Lookup searches for `_` + upper(hexpair): hex
#: digits never contain `_`, so every match is entry-aligned by
#: construction — no crossing-pair false hit, no modular position check.
#: Entry i sits at 1-based position 3i+1, so char index = (pos + 2) / 3.
_URL_UNRESERVED_SEPHEX = "".join(f"_{ord(c):02X}" for c in _URL_UNRESERVED)


def percent_normalize(col: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization, pure expressions
    (no UDF): split on ``%``, and for each following segment whose first
    two chars are hex digits, either DECODE (when the octet is an
    unreserved character — ``%7E``/``%7e`` → ``~``) or UPPERCASE the hex
    digits (``%2f`` → ``%2F``); malformed ``%`` sequences pass through
    untouched. Idempotent (decoded unreserved chars contain no ``%``),
    row-local, codegen-friendly; replayed in DuckDB list ops by
    ``_canonical_url_ctes``. ASCII-only by design: multi-byte UTF-8
    encodings are reserved-octet pairs and correctly keep their (now
    upper-cased) encoding."""
    def seg(p: Column) -> Column:
        hexu = F.upper(F.substring(p, 1, 2))
        is_hex = p.rlike("^[0-9A-Fa-f]{2}")
        pos = F.call_function(
            "instr", F.lit(_URL_UNRESERVED_SEPHEX), F.concat(F.lit("_"), hexu)
        )
        ch = F.substring(
            F.lit(_URL_UNRESERVED),
            ((pos + F.lit(2)) / F.lit(3)).cast("int"),
            F.lit(1),
        )
        rest = F.substring(p, F.lit(3), F.lit(1 << 20))
        return (
            F.when(is_hex & (pos > 0), F.concat(ch, rest))
            .when(is_hex, F.concat(F.lit("%"), hexu, rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    # bind the split array once (round-15 let_col discipline): the inline
    # form duplicated split(col) four times per reference site, and this
    # operator is itself nested inside canonical_url
    return let_col(
        F.split(col, "%", -1),
        lambda parts: F.when(F.size(parts) <= 1, col).otherwise(
            F.concat(
                F.element_at(parts, 1),
                F.array_join(
                    F.transform(
                        F.slice(parts, F.lit(2), F.size(parts) - F.lit(1)), seg
                    ),
                    "",
                ),
            )
        ),
    )


def canonical_url(col: Column) -> Column:
    """Canonical form of a URL — the dedup key of web-corpus curation
    (the same page arrives under tracking params, mixed-case hosts,
    default ports, fragments, and trailing slashes; exact text dedup
    misses all of them).

    Rules (each replayable in DuckDB — see the `url_canonical_dedup`
    oracle): lowercase scheme and host; strip the scheme's default port
    (:443 https, :80 http); drop the fragment; normalize percent
    encodings (round-14: unreserved octets decode — %7E/%7e → ~ — and
    surviving encodings case-fold their hex UPPER, per RFC 3986 §6.2.2,
    see :func:`percent_normalize`); drop utm_*/gclid/fbclid tracking
    params and SORT the survivors (query-param order is not identity);
    strip one trailing slash from a non-root path. Pure regexp/HOF
    expressions, whole-stage-codegen-friendly. IDN hosts: see
    :func:`idn_fold_host` (a genuinely non-SQL algorithm — the one
    Arrow-batched UDF in the URL family), composed BEFORE this
    canonicalizer by the idn entry.

    Tree shape (round-15): every intermediate (the percent-normalized
    url, the scheme-stripped rest, hostport, path, query) is bound ONCE
    via :func:`let_col` instead of inlined per reference. Column
    composition DUPLICATES subtrees multiplicatively — the inline form
    nested percent_normalize ~30× and planned/compiled a multi-hundred-KB
    projection, ~20 s of one-time driver planning+codegen per session
    (profiled round 15: url_dedup_curation cold 23.8 s → warm 2.7 s with
    jstack pinning GenerateUnsafeProjection/CodeFormatter). Value-
    identical: let_col is evaluation-order restructuring only, and the
    driver oracle hash-checks every URL-family entry at both SFs.
    """
    trimmed = F.regexp_replace(F.trim(col), "#.*$", "")

    def canon(u: Column) -> Column:
        scheme_e = F.lower(
            F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
        )
        rest_e = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
        return let_col(
            scheme_e,
            lambda scheme: let_col(rest_e, lambda rest: with_rest(scheme, rest)),
        )

    def with_rest(scheme: Column, rest: Column) -> Column:
        hostport_e = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
        return let_col(
            hostport_e, lambda hostport: with_hostport(scheme, rest, hostport)
        )

    def with_hostport(scheme: Column, rest: Column, hostport: Column) -> Column:
        host = (
            F.when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
            .when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
            .otherwise(hostport)
        )
        pathq_e = F.substring(rest, F.length(hostport) + F.lit(1), F.lit(1 << 20))
        return let_col(
            pathq_e, lambda pathq: with_pathq(scheme, host, pathq)
        )

    def with_pathq(scheme: Column, host: Column, pathq: Column) -> Column:
        path_e = F.regexp_extract(pathq, r"^([^?]*)", 1)
        query_e = F.regexp_extract(pathq, r"\?(.*)$", 1)
        # Tracking params match on the NAME (the part before any `=`): a
        # valueless `?gclid` must drop the same as `?gclid=x`, else two
        # otherwise-identical URLs canonicalize apart.
        params = F.array_sort(
            F.filter(
                F.split(query_e, "&"),
                lambda p: (p != "")
                & ~p.startswith("utm_")
                & ~p.rlike("^(gclid|fbclid)(=|$)"),
            )
        )
        path_n = let_col(
            path_e,
            lambda path: F.when(
                (F.length(path) > 1) & path.endswith("/"),
                F.substring(path, F.lit(1), F.length(path) - F.lit(1)),
            ).otherwise(path),
        )
        return F.concat(
            scheme,
            F.lit("://"),
            host,
            path_n,
            F.when(
                F.size(params) > 0,
                F.concat(F.lit("?"), F.array_join(params, "&")),
            ).otherwise(F.lit("")),
        )

    return let_col(percent_normalize(trimmed), canon)


def idn_fold_host(col: Column) -> Column:
    """Host of a URL with internationalized (non-ASCII) labels folded to
    their punycode ACE form (IDNA 2003: ``München.de`` →
    ``xn--mnchen-3ya.de``), lowercased — so the SAME site crawled under
    its Unicode and ACE spellings keys identically for blocklists,
    per-domain boilerplate votes, and URL dedup.

    Punycode is a genuinely non-SQL algorithm (adaptive basic-code
    insertion-order encoding), so this is the URL family's ONE
    Arrow-batched pandas UDF — per-row work is a codec call, no state,
    so it scales embarrassingly; compose it BEFORE the pure-expression
    :func:`canonical_url` / :func:`registered_domain` stations, which
    stay UDF-free on the already-ASCII fast path. Hosts that are pure
    ASCII never enter the codec. A label the codec rejects (overlong,
    empty, bidi violations) falls back to the lowercased original —
    curation wants a stable key, not an exception, for garbage hosts.
    Oracle strategy: planted-input entries pin the codec's OUTPUT as
    independent literals (DuckDB replays the expected VALUES, not the
    algorithm)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    host_re = _re.compile(r"^(?:[A-Za-z][A-Za-z0-9+.\-]*://)?([^/?#:]+)")

    def fold_one(url: str | None) -> str | None:
        if url is None:
            return None
        m = host_re.match(url.strip())
        host = (m.group(1) if m else "").lower()
        if not host:
            return None
        if host.isascii():
            return host
        out = []
        for label in host.split("."):
            if label.isascii():
                out.append(label)
                continue
            try:
                out.append(label.encode("idna").decode("ascii"))
            except UnicodeError:
                out.append(label)
        return ".".join(out)

    @pandas_udf("string")
    def fold(urls: pd.Series) -> pd.Series:
        return urls.map(fold_one)

    return fold(col)


def nfc_casefold(col: Column) -> Column:
    """Unicode-canonical dedup key: full case folding then NFC
    composition (``unicodedata.normalize("NFC", s.casefold())``) — so
    the SAME text under composed vs decomposed accents (``é`` vs
    ``e``+U+0301), case variants, ``ß``→``ss``, and compatibility
    ligatures (``ﬁ``→``fi``, which casefold maps) keys identically for
    exact dedup. Lowercase alone misses every one of these; Unicode
    normalization tables are a genuinely non-SQL algorithm, so like
    :func:`idn_fold_host` this is an Arrow-batched pandas UDF with a
    VALUES-literal oracle strategy (the expected forms are Unicode-
    standard foldings, independently verifiable). Stateless per row —
    scales embarrassingly; NULL passes through."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    def one(s: str | None) -> str | None:
        if s is None:
            return None
        return unicodedata.normalize("NFC", s.casefold())

    @pandas_udf("string")
    def fold(texts: pd.Series) -> pd.Series:
        return texts.map(one)

    return fold(col)


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of the per-document token distribution — the
    continuous randomness signal completing the quality family (length /
    punctuation / stopword ratios, Gopher repetition fractions, the
    classifier, unigram+bigram LM surprisal): near-zero entropy flags
    degenerate repetition, abnormally HIGH entropy (every token unique,
    approaching ln(n)) flags gibberish/random strings — the two tails the
    discrete dup_word_frac can't separate from normal prose.

    e6-integer convention (the PSI/surprisal discipline): each distinct
    token's term c·ln(n/c) is quantized to an e6 integer ONCE, then only
    integer sums and floor division — bit-exact across engines, no float
    accumulation order to disagree on. Row-local higher-order expressions
    (two chained transforms over the let_col-bound token array — counts
    first, then terms, so the count filter runs once per distinct token),
    O(distinct²) per doc like repetition_stats, zero shuffles/UDFs.
    entropy_e6 is NULL for token-less docs.
    """

    def per_tokens(w):
        n = F.size(w)
        counts = F.transform(
            F.array_distinct(w),
            lambda d: F.size(F.filter(w, lambda x: x == d)),
        )
        terms = F.transform(
            counts,
            lambda c: F.round(
                c.cast("double")
                * F.log(n.cast("double") / c.cast("double"))
                * F.lit(1000000.0)
            ).cast("long"),
        )
        total = F.aggregate(terms, F.lit(0).cast("long"), lambda a, v: a + v)
        # floor(double-div) is exact here: |s| < 2^53 and s/n sits at
        # least 1/n away from any integer it isn't, far beyond one ulp
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.when(n > 0, F.floor(total / n).cast("long")).alias(
                "entropy_e6"
            ),
        )

    stats = let_col(tokens(text_col), per_tokens)
    return df.select(id_col, stats.alias("_e")).select(
        id_col, "_e.n_tokens", "_e.entropy_e6"
    )


#: host part of a URL (scheme optional), stopping at path/query/port —
#: Java-regex/RE2-shared subset so the DuckDB oracles replay it verbatim
URL_HOST_RE = r"^(?:[A-Za-z][A-Za-z0-9+.\-]*://)?([^/?#:]+)"
#: last two dot-labels of a host — the FALLBACK registered-domain rule
#: for hosts whose TLD has no bundled multi-label registry entry
REGISTERED_DOMAIN_RE = r"([^.]+\.[^.]+)$"

#: Bundled public-suffix snapshot: the MULTI-LABEL suffixes under which
#: registration happens one level deeper than the TLD. Without these,
#: a last-two-labels rule maps every `*.co.uk` site to the single key
#: `co.uk`, so blocklists over-block and per-domain boilerplate votes
#: pool unrelated sites — the round-12 verdict's top functional gap.
#: Contents are the ccTLD second-level registries of the public-suffix
#: list (publicsuffix.org, ICANN section) for the registries large web
#: crawls actually hit, the US state / k12 3-label registries (which
#: exercise longest-suffix-wins ordering), plus a small sample of the
#: PRIVATE section (hosted-platform suffixes like `github.io`, where
#: per-site grouping is what curation wants). Single-label TLDs are
#: deliberately ABSENT — they are the fallback rule. A full-list
#: refresh is a constant swap; operator, oracles, and the pure-Python
#: property reference all read THIS tuple.
PUBLIC_SUFFIXES_MULTI: tuple[str, ...] = (
    # .uk
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk", "sch.uk",
    # .au
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    # .nz
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "health.nz",
    "iwi.nz", "kiwi.nz", "maori.nz", "mil.nz", "net.nz", "org.nz",
    "parliament.nz", "school.nz",
    # .jp
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    # .br
    "art.br", "blog.br", "com.br", "edu.br", "gov.br", "mil.br",
    "net.br", "org.br",
    # .cn
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    # .kr
    "ac.kr", "co.kr", "es.kr", "go.kr", "hs.kr", "kg.kr", "mil.kr",
    "ms.kr", "ne.kr", "or.kr", "pe.kr", "re.kr", "sc.kr",
    # .in
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    # .za
    "ac.za", "co.za", "edu.za", "gov.za", "law.za", "mil.za", "net.za",
    "nom.za", "org.za", "school.za", "web.za",
    # .tw
    "club.tw", "com.tw", "ebiz.tw", "edu.tw", "game.tw", "gov.tw",
    "idv.tw", "mil.tw", "net.tw", "org.tw",
    # .hk / .sg / .mx
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg", "per.sg",
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    # .ar / .tr
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar",
    "net.ar", "org.ar",
    "av.tr", "bel.tr", "biz.tr", "com.tr", "dr.tr", "edu.tr", "gen.tr",
    "gov.tr", "info.tr", "k12.tr", "mil.tr", "name.tr", "net.tr",
    "org.tr", "pol.tr", "tel.tr", "tv.tr", "web.tr",
    # .il / .th / .my / .id / .ph / .vn / .ua
    "ac.il", "co.il", "gov.il", "idf.il", "k12.il", "muni.il", "net.il",
    "org.il",
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "com.my", "edu.my", "gov.my", "mil.my", "name.my", "net.my",
    "org.my",
    "ac.id", "biz.id", "co.id", "desa.id", "go.id", "mil.id", "my.id",
    "net.id", "or.id", "sch.id", "web.id",
    "com.ph", "edu.ph", "gov.ph", "mil.ph", "net.ph", "ngo.ph",
    "org.ph",
    "ac.vn", "biz.vn", "com.vn", "edu.vn", "gov.vn", "health.vn",
    "info.vn", "int.vn", "name.vn", "net.vn", "org.vn", "pro.vn",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    # .pl / .ru / .eg / .sa / .ae / .ng / .ke
    "com.pl", "edu.pl", "gov.pl", "info.pl", "net.pl", "org.pl",
    "waw.pl",
    "ac.ru", "edu.ru", "gov.ru", "int.ru", "mil.ru", "test.ru",
    "com.eg", "edu.eg", "eun.eg", "gov.eg", "mil.eg", "name.eg",
    "net.eg", "org.eg", "sci.eg",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa",
    "pub.sa", "sch.sa",
    "ac.ae", "co.ae", "gov.ae", "mil.ae", "net.ae", "org.ae", "sch.ae",
    "com.ng", "edu.ng", "gov.ng", "mil.ng", "mobi.ng", "name.ng",
    "net.ng", "org.ng", "sch.ng",
    "ac.ke", "co.ke", "go.ke", "info.ke", "me.ke", "mobi.ke", "ne.ke",
    "or.ke", "sc.ke",
    # .us state registries (2-label) + the k12/cc/lib 3-label registries
    "ca.us", "fl.us", "il.us", "ma.us", "mi.us", "ny.us", "oh.us",
    "pa.us", "tx.us", "wa.us",
    "cc.ca.us", "cc.ny.us", "k12.ca.us", "k12.fl.us", "k12.il.us",
    "k12.ma.us", "k12.mi.us", "k12.ny.us", "k12.oh.us", "k12.pa.us",
    "k12.tx.us", "k12.wa.us", "lib.ca.us", "lib.ny.us",
    # private-section hosted platforms (per-site keys, what curation wants)
    "azurewebsites.net", "blogspot.com", "cloudfront.net",
    "firebaseapp.com", "github.io", "gitlab.io", "herokuapp.com",
    "netlify.app", "pages.dev", "s3.amazonaws.com", "vercel.app",
    "web.app",
)

#: one label + a bundled multi-label suffix, anchored at end. Because
#: `[^.]+` is exactly one label and the alternation is anchored at `$`,
#: the LEFTMOST match is automatically the LONGEST suffix (an earlier
#: start = one more label = a longer suffix — `x.k12.ca.us` matches via
#: `k12.ca.us`, never `ca.us`), so alternation order is immaterial and
#: Java's leftmost-first vs RE2's semantics agree. Suffix labels are
#: alphanumeric, so the spliced literals need no escaping beyond the dot.
_PSL_ALT = "|".join(s.replace(".", r"\.") for s in PUBLIC_SUFFIXES_MULTI)
PSL_DOMAIN_RE = rf"([^.]+\.(?:{_PSL_ALT}))$"
#: a host that IS a public suffix exactly — no registrable part → NULL
PSL_SUFFIX_ONLY_RE = rf"^(?:{_PSL_ALT})$"

#: PSL WILDCARD rule bases (`*.<base>` in the published list): EVERY
#: label directly under the base is itself a public suffix, so
#: registration happens one level deeper than under a plain multi-label
#: entry — `foo.anything.ck` keys as `foo.anything.ck`, and a 2-label
#: host `anything.ck` IS a suffix (NULL key). Contents are the ICANN
#: wildcard ccTLDs a web crawl actually hits plus the Japanese
#: geographic-prefecture wildcards (the canonical exception-rule
#: exercisers). Same refresh contract as PUBLIC_SUFFIXES_MULTI.
PSL_WILDCARD_BASES: tuple[str, ...] = (
    "bd", "ck", "er", "fk", "mm", "np", "pg",
    "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp",
)
#: PSL EXCEPTION rules (`!<domain>` in the published list): carve-outs
#: that cancel a wildcard — the named domain is NOT a public suffix, it
#: IS the registered domain for itself and everything under it
#: (`www.city.kobe.jp` keys as `city.kobe.jp`). Every entry must sit
#: under a PSL_WILDCARD_BASES base (shape-pinned in tests).
PSL_EXCEPTIONS: tuple[str, ...] = (
    "www.ck",
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp",
)
_PSL_WILD_ALT = "|".join(s.replace(".", r"\.") for s in PSL_WILDCARD_BASES)
_PSL_EXC_ALT = "|".join(s.replace(".", r"\.") for s in PSL_EXCEPTIONS)
#: host equals an exception domain or any subdomain of one → the
#: exception domain is the registered domain (group 1)
PSL_EXCEPTION_RE = rf"(?:^|\.)((?:{_PSL_EXC_ALT}))$"
#: one label + one label + a wildcard base — the registrable name under
#: a wildcard suffix (group 1); matched AFTER the exception arm
PSL_WILDCARD_DOMAIN_RE = rf"([^.]+\.[^.]+\.(?:{_PSL_WILD_ALT}))$"
#: exactly one label + a wildcard base: the host IS a wildcard-generated
#: public suffix — no registrable part → NULL (unless an exception)
PSL_WILDCARD_SUFFIX_ONLY_RE = rf"^[^.]+\.(?:{_PSL_WILD_ALT})$"


def registered_domain(url: Column) -> Column:
    """Registered domain of a URL (or bare host) — the blocklist /
    source-mix key of web-corpus curation: lowercase host, port
    stripped, then ONE label plus the longest matching public suffix
    from the bundled :data:`PUBLIC_SUFFIXES_MULTI` snapshot (`foo.co.uk`
    keys as `foo.co.uk`; `school.k12.ca.us` as `school.k12.ca.us`),
    falling back to the last two labels for TLDs with no multi-label
    registry entry. A host that IS a public suffix exactly (`co.uk`)
    has no registrable part and keys as NULL, as does any input with
    no dotted host. PSL wildcard and exception rules (round-14) follow
    the published algorithm's precedence: an exception rule wins
    outright (`www.city.kobe.jp` keys as `city.kobe.jp`), otherwise a
    wildcard base adds one level (`foo.anything.ck` keys as
    `foo.anything.ck`; bare `anything.ck` is a suffix → NULL), then
    the plain multi-label snapshot, then the last-two-labels fallback.
    Pure shared-subset regexp expressions over the module-constant
    snapshot, replayed pattern-for-pattern by the DuckDB oracles and
    independently by the pure-Python label-walking property
    reference. A full-list refresh is a constant swap, same plan — up
    to JVM regex-size limits; past a few thousand rules swap the
    mega-regex for the broadcast suffix-candidate join documented in
    strip_boilerplate (measured cost curve in BASELINE.md)."""
    host = F.lower(
        F.regexp_extract(F.trim(url), URL_HOST_RE, 1)
    )
    exc = F.regexp_extract(host, PSL_EXCEPTION_RE, 1)
    wild = F.regexp_extract(host, PSL_WILDCARD_DOMAIN_RE, 1)
    psl = F.regexp_extract(host, PSL_DOMAIN_RE, 1)
    fallback = F.regexp_extract(host, REGISTERED_DOMAIN_RE, 1)
    return (
        F.when(exc != "", exc)
        .when(
            host.rlike(PSL_WILDCARD_SUFFIX_ONLY_RE),
            F.lit(None).cast("string"),
        )
        .when(wild != "", wild)
        .when(host.rlike(PSL_SUFFIX_ONLY_RE), F.lit(None).cast("string"))
        .when(psl != "", psl)
        .when(fallback != "", fallback)
    )


def strip_boilerplate(
    df: DataFrame,
    domain_col: str = "domain",
    text_col: str = "text",
    min_pct: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Per-domain boilerplate-line removal — the RefinedWeb/CCNet crawl
    station that strips nav bars, cookie banners, and copyright footers:
    a line is boilerplate WITHIN a domain when it appears in at least
    ``min_pct`` percent of that domain's documents (integer-percent
    threshold — ``count*100 >= n_docs*min_pct`` keeps the cut exact on
    every engine, no float ratio to disagree on) and the domain has at
    least ``min_docs`` documents. Returns ``df`` plus ``clean_text``
    (surviving lines re-joined with ``\\n``) and ``n_lines_removed``.

    Scale shape: document text never shuffles. Counting explodes 8-byte
    ``xxhash64`` line hashes (hashed INSIDE the row before explode, and
    per-doc ``array_distinct`` first so a line repeated within one doc
    votes once), map-side combines on ``(domain, hash)``, and the
    decision frame collapses to ONE row per domain carrying its frequent
    -line hash array — domain-count bounded, broadcast back so the
    corpus side never moves. Removal is then a row-local higher-order
    filter re-hashing each line against the broadcast array. At extreme
    domain cardinality swap the broadcast for a domain-bucketed join —
    same frames, one co-partitioned shuffle of the hash arrays.
    Duplicate copies of a boilerplate line inside one doc are ALL
    removed; NULL-domain documents pass through untouched (they join
    nothing). Zero UDFs.

    This is the incremental form applied once: the whole frame's
    :func:`boilerplate_votes` fed to :func:`strip_boilerplate_with_state`."""
    return strip_boilerplate_with_state(
        df,
        boilerplate_votes(df, domain_col, text_col),
        domain_col,
        text_col,
        min_pct,
        min_docs,
    )


#: DDL schema of the incremental boilerplate vote state — line rows carry
#: a non-NULL hash, the per-domain document counter rides as the NULL-hash
#: row of its domain (one state frame, one additive merge)
BOILERPLATE_STATE_SCHEMA = "domain string, line_hash bigint, n bigint"


def boilerplate_votes(
    batch: DataFrame, domain_col: str = "domain", text_col: str = "text"
) -> DataFrame:
    """One batch's additive vote state: per-(domain, line-hash) distinct
    document counts plus the NULL-hash per-domain doc counter —
    mergeable by plain sum, so it folds into the versioned exactly-once
    store like every other additive state."""
    dom = F.col(domain_col)
    lines = (
        batch.filter(dom.isNotNull())
        .select(
            dom.alias("domain"),
            F.explode(
                F.transform(
                    F.array_distinct(F.split(F.col(text_col), "\n")),
                    lambda line: F.xxhash64(line),
                )
            ).alias("line_hash"),
        )
        .groupBy("domain", "line_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    docs = (
        batch.filter(dom.isNotNull())
        .groupBy(dom.alias("domain"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("domain", F.lit(None).cast("bigint").alias("line_hash"), "n")
    )
    return lines.unionByName(docs)


def merge_boilerplate_votes(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Additive merge of two vote states (NULL-hash doc counters group
    like any other key)."""
    return (
        prev.unionByName(cur)
        .groupBy("domain", "line_hash")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def strip_boilerplate_with_state(
    batch: DataFrame,
    state: DataFrame,
    domain_col: str = "domain",
    text_col: str = "text",
    min_pct: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Strip a batch using the CUMULATIVE vote state (the incremental
    deployment: votes accumulate across ingestion batches, so a nav bar
    that only becomes frequent in batch 3 starts being stripped from
    batch 3's documents on — CCNet's periodic-recompute shape). The one
    body of the threshold and the row-local removal;
    :func:`strip_boilerplate` applies it once to a frame's own votes."""
    dd = state.filter(F.col("line_hash").isNull()).select(
        F.col("domain").alias("_bp_dom"), F.col("n").alias("_bp_nd")
    )
    frequent = (
        state.filter(F.col("line_hash").isNotNull())
        .select(
            F.col("domain").alias("_bp_dom"),
            F.col("line_hash").alias("_bp_lh"),
            F.col("n").alias("_bp_n"),
        )
        .join(dd, "_bp_dom")
        .filter(
            (F.col("_bp_nd") >= min_docs)
            & (F.col("_bp_n") * 100 >= F.col("_bp_nd") * min_pct)
        )
        .groupBy("_bp_dom")
        .agg(F.collect_set("_bp_lh").alias("_bp_bl"))
    )
    joined = batch.join(
        F.broadcast(frequent), F.col(domain_col) == F.col("_bp_dom"), "left"
    ).drop("_bp_dom")
    blcol = F.coalesce(F.col("_bp_bl"), F.array().cast("array<bigint>"))

    def per_lines(arr):
        kept = F.filter(
            arr, lambda line: ~F.array_contains(blcol, F.xxhash64(line))
        )
        return F.struct(
            F.array_join(kept, "\n").alias("clean_text"),
            (F.size(arr) - F.size(kept)).cast("int").alias("n_lines_removed"),
        )

    out = let_col(F.split(F.col(text_col), "\n"), per_lines)
    return joined.withColumn("_bp_out", out).drop("_bp_bl").select(
        *batch.columns, "_bp_out.clean_text", "_bp_out.n_lines_removed"
    )


#: HTML-strip stages, applied IN ORDER — each a (pattern, replacement)
#: regexp over the Java/RE2 shared subset (lazy quantifiers and inline
#: flags, NO backreferences — RE2 has none, so script/style/head get one
#: pattern each instead of a back-referenced pair). Blocks whose CONTENT
#: must vanish (script/style/head) strip before the generic tag strip,
#: which would otherwise leave their payload behind as fake prose.
HTML_STRIP_STAGES: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    # UNCLOSED script (round-14 malformed-HTML recovery): a <script>
    # with no closer consumes to end-of-document, exactly as a browser
    # tokenizer does — without this stage the JS payload leaks into
    # "prose" and poisons every downstream quality signal. `.*` under
    # (?s) reaches true end in Java and RE2 alike (no `$`-semantics
    # divergence to manage). Same recovery for style/CDATA/comments.
    (r"(?is)<script[^>]*>.*", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?is)<style[^>]*>.*", " "),
    # <title> is metadata, not prose — stripped as a PAIR before <head>
    # so a malformed/unclosed head (which the pair stage below can't
    # catch) at least never leaks its title into the text
    (r"(?is)<title[^>]*>.*?</title>", " "),
    (r"(?is)<head[^>]*>.*?</head>", " "),
    # CDATA is foreign (XML) content, never rendered prose; the payload
    # may contain `>` so the generic tag regex would leak its tail
    (r"(?s)<!\[CDATA\[.*?\]\]>", " "),
    (r"(?s)<!\[CDATA\[.*", " "),
    (r"(?s)<!--.*?-->", " "),
    # unclosed comment consumes to EOF (the HTML5 spec's EOF-in-comment
    # rule)
    (r"(?s)<!--.*", " "),
    # block-level closers become NEWLINES before the generic strip — the
    # WET convention that preserves document line structure, which the
    # line-based stations downstream (boilerplate strip) depend on
    (r"(?i)</(?:p|h1|h2|h3|li|div|tr)>|<br[^>]*>", "\n"),
    # generic tag strip, QUOTE-AWARE (round-14): a `>` inside a quoted
    # attribute value no longer truncates the tag and leaks the rest
    # (`<a href="x>y">` strips whole); first char restricted to
    # [a-zA-Z/!] so prose like `1 < 2 > 0` is no longer eaten as a
    # pseudo-tag. Alternation branches are first-char disjoint — no
    # backtracking blow-up, RE2-safe (no backreferences/lookahead).
    ("<[a-zA-Z/!][^>\"']*(?:\"[^\"]*\"[^>\"']*|'[^']*'[^>\"']*)*>", " "),
)

#: whitespace normalization, applied LAST and in order: newline runs
#: (with any surrounding space) collapse to one newline, horizontal runs
#: to one space, then leading/trailing whitespace drops — all regexes so
#: the oracle generator replays them from this table
#: NOTE the explicit character classes instead of ``\s``: Java regex
#: ``\s`` is ``[ \t\n\x0B\f\r]`` while DuckDB's RE2 ``\s`` is
#: ``[ \t\n\f\r]`` (no vertical tab), so a bare ``\s`` in a shared stage
#: table would collapse whitespace differently in engine vs oracle on a
#: document containing U+000B. Spelling the Java set out keeps the engine
#: byte-identical and makes the oracle replay exact on ANY input.
HTML_WS_STAGES: tuple[tuple[str, str], ...] = (
    (r"[ \t\x0B\f\r]*\n[ \t\n\x0B\f\r]*", "\n"),
    (r"[ \t\x0B\f\r]+", " "),
    (r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""),
)

#: entity decode table, applied AFTER tag stripping and in order — '&amp;'
#: is deliberately LAST so '&amp;lt;' decodes to '&lt;' (one level), not
#: to '<' (double-decode, the classic entity bug)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_to_text(col: Column) -> Column:
    """HTML → visible text — the WET-file extraction step in front of
    every crawl-curation pipeline (quality gates and dedup score PROSE,
    not markup): script/style/head payloads removed, comments and tags
    stripped, the common entities decoded one level, whitespace
    collapsed and trimmed. Pure chained ``regexp_replace``/``replace``
    JVM expressions over the Java/RE2 shared subset (module-constant
    stage tables both engines read) — row-local, zero UDFs, replayed
    pattern-for-pattern by the DuckDB oracles. A real deployment swaps
    in a DOM extractor (trafilatura-class) behind the same column
    contract; this is the regex tier used for bulk WET generation.

    Block-level closers (``</p>``, headings, ``<br>``, …) become
    NEWLINES, so the output keeps the page's line structure — the WET
    convention the line-based stations downstream (per-domain
    boilerplate strip) depend on."""
    out = col
    for pat, repl in HTML_STRIP_STAGES:
        out = F.regexp_replace(out, pat, repl)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    for pat, repl in HTML_WS_STAGES:
        out = F.regexp_replace(out, pat, repl)
    return out


#: tokens the BPE trainer accepts — lowercase alphanumeric only, so a
#: learned pair can be spliced into a regex pattern with zero escaping on
#: BOTH engines (the shared-subset discipline applied to generated
#: patterns instead of literal ones)
BPE_ALNUM_RE = "^[a-z0-9]+$"


def bpe_merge_tokens(w, left: str, right: str):
    """Apply ONE learned merge (left, right) → left+right to a token
    array with greedy left-to-right non-overlapping semantics — the BPE
    application rule — as a single row-local regexp pass.

    The double-space framing trick: tokens joined with TWO spaces and
    one space at each edge make every boundary donate one space to each
    neighbor, so the global pattern `' left  right '` consumes exactly
    one boundary space per side and adjacent occurrences
    (`a b a b` under merge (a,b)) still both match — global
    `regexp_replace` IS greedy left-to-right non-overlapping, which is
    exactly BPE's rule. Re-splitting on space runs restores the array.
    Tokens are restricted to :data:`BPE_ALNUM_RE`, so the spliced
    pattern needs no escaping."""
    s = F.concat(F.lit(" "), F.array_join(w, "  "), F.lit(" "))
    merged = F.regexp_replace(
        s, f" {left}  {right} ", f" {left}{right} "
    )
    return F.filter(F.split(F.trim(merged), " +"), lambda t: t != "")


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> list[tuple[str, str, int]]:
    """Learn the top-``n_merges`` BPE merges over a corpus — the
    TRAINING side of the tokenizer pipeline (token_count_bpe is the
    counting side): each round counts every adjacent token pair
    corpus-wide, takes the most frequent (ties broken lexicographically
    — deterministic across engines and partitionings), merges it
    everywhere, and repeats on the merged corpus, exactly the
    Sennrich et al. 2016 procedure at word granularity.

    Scale shape: the pair counting is a distributed explode +
    map-combined groupBy per round; only the 1-row argmax is collected
    (bounded metadata, the IVF-centroid/PSI-gate class); the merge
    application is the row-local regexp pass of
    :func:`bpe_merge_tokens`. Tokens not matching
    :data:`BPE_ALNUM_RE` are dropped up front (the alphabet contract
    that keeps generated patterns escape-free). Returns
    ``[(left, right, count), ...]`` in merge order."""
    w0 = F.filter(
        tokens(text_col), lambda t: t.rlike(BPE_ALNUM_RE)
    )
    return _bpe_train(
        df.select(w0.alias("w"), F.lit(1).alias("cnt")),
        n_merges,
        "bpe_learn_merges: corpus exhausted adjacent pairs",
    )


def bpe_learn_merges_chars(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> list[tuple[str, str, int]]:
    """Character-level BPE merge training over a (word, count) frequency
    frame — the PRODUCTION tokenizer-training shape (Sennrich et al.
    2016's actual algorithm): the corpus reduces ONCE to distinct words
    with counts (one shuffle), each word becomes its character symbol
    array, and every round counts adjacent SYMBOL pairs weighted by
    word count (multiplicity within a word counts, as published), takes
    the deterministic argmax (count desc, pair asc), and merges within
    words only. Per-round work is |vocab|-bounded instead of
    corpus-bounded — the property that makes 30k-merge training
    plausible where :func:`bpe_learn_merges`'s per-merge full-corpus
    rewrite does not extrapolate.

    Same alphabet contract (words restricted to :data:`BPE_ALNUM_RE`,
    so spliced merge patterns need no escaping), same double-space
    greedy-non-overlap merge application (:func:`bpe_merge_tokens` on
    the symbol array), same loud exhaustion error, same 1-row argmax as
    the only driver collect. Divergence from the published form: no
    ``</w>`` end-of-word sentinel (it is outside the alnum alphabet),
    so merges do not distinguish word-final position — documented, and
    mirrored by the oracle and the pure-Python reference. Returns
    ``[(left, right, weighted_count), ...]`` in merge order."""
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word").rlike(BPE_ALNUM_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bpe_learn_merges_from_vocab(vocab, n_merges)


def bpe_learn_merges_from_vocab(
    vocab_df: DataFrame,
    n_merges: int,
) -> list[tuple[str, str, int]]:
    """The trainer loop of :func:`bpe_learn_merges_chars`, taking the
    (word, cnt) frequency frame DIRECTLY — the entry point for
    pipelines that already maintain word counts. Same contract as the
    corpus wrapper: per-round work is |vocab|-bounded, one 1-row argmax
    collect per merge, loud exhaustion error."""
    return _bpe_train(
        vocab_df.select(
            F.filter(F.split("word", ""), lambda c: c != "").alias("w"),
            "cnt",
        ),
        n_merges,
        "bpe_learn_merges_chars: vocabulary exhausted adjacent symbol pairs",
    )


def _bpe_train(
    words: DataFrame, n_merges: int, exhausted: str
) -> list[tuple[str, str, int]]:
    """The one BPE trainer loop over (w symbol array, cnt weight) rows:
    each round sums ``cnt`` over every adjacent symbol pair, takes the
    argmax (count desc, pair asc — deterministic across engines and
    partitionings), and merges it everywhere with :func:`bpe_merge_tokens`.

    A corpus that runs out of adjacent pairs before ``n_merges`` rounds
    raises, with ``exhausted`` opening the message: the generated oracles
    unroll a FIXED n_merges rounds, so a short result would fail the
    differential confusingly (the catalog corpora keep thousands of pairs
    alive at n_merges=3; this guards ad-hoc callers)."""
    words = words.localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                        F.slice(F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))),
                        lambda a, b: F.concat_ws(" ", a, b),
                    )
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            raise ValueError(
                f"{exhausted} after {len(merges)} merges "
                f"(< n_merges={n_merges}); the fixed-round unrolled "
                f"oracles require a corpus that survives all rounds"
            )
        left, right = best[0]["pair"].split(" ")
        merges.append((left, right, int(best[0]["n"])))
        words = words.select(
            bpe_merge_tokens(F.col("w"), left, right).alias("w"), "cnt"
        ).localCheckpoint(eager=True)
    return merges


def bpe_apply_merges(w, merges: list[tuple[str, str, int]]):
    """Apply a learned merge list IN ORDER to a symbol-array column —
    the tokenizer INFERENCE side: a fold of :func:`bpe_merge_tokens`,
    one row-local regexp pass per merge (same greedy left-to-right
    rule as training), zero UDFs. At 30k merges a production tokenizer
    replaces the pass-per-merge fold with a trie/linmerge kernel, but
    the semantics pinned here are the contract it must match."""
    for left, right, _ in merges:
        w = bpe_merge_tokens(w, left, right)
    return w


#: the stopword set the Gopher rules require (≥ 2 distinct present) — the
#: published list; lowercase-matched
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher quality-rule gate (Rae et al. 2021 §A1.1 — the published
    heuristic filter every English pretraining pipeline starts from):
    word-count bounds, mean word length in [3, 10], >80% of words contain
    an alphabetic character, <90% of lines start with a bullet, <30% of
    lines end with an ellipsis, and at least 2 of the required stopwords
    present. Returns one boolean per rule plus the conjunction ``keep`` —
    keeping per-rule attribution visible (a real pipeline tunes rules
    individually, and a drop you can't attribute is a drop you can't
    debug).

    Every threshold is an exact integer cross-multiplication
    (``sum_len >= 3·n`` for the mean bound, ``5·n_alpha > 4·n`` for the
    fraction, …) — no float ratio for engines to disagree on, so the
    whole gate is value-replayable bit-exactly. Row-local higher-order
    expressions over the let_col-bound token and line arrays; one scan,
    zero shuffles, zero UDFs.

    ``extra_cols`` names input columns carried through to the output
    unchanged (between ``id_col`` and the rule columns) — the gate is
    row-local, so a caller that needs upstream columns alongside the
    verdict passes them through here instead of re-joining the gate
    output back to its own input (a 1:1 self-join that would execute
    the upstream subtree twice; Catalyst does not dedupe repeated
    non-exchange subtrees)."""
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])

    def per_doc(w):
        def per_lines(lines):
            n = F.size(w)
            sum_len = F.aggregate(
                F.transform(w, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            n_alpha = F.size(F.filter(w, lambda t: t.rlike("[A-Za-z]")))
            n_lines = F.size(lines)
            n_bullet = F.size(
                F.filter(lines, lambda line: line.startswith("- "))
            )
            n_ell = F.size(F.filter(lines, lambda line: line.endswith("...")))
            lw = F.transform(w, lambda t: F.lower(t))
            n_stop = F.size(
                F.filter(stop_arr, lambda s: F.array_contains(lw, s))
            )
            return F.struct(
                n.cast("long").alias("n_words"),
                ((n >= min_words) & (n <= max_words)).alias("r_word_count"),
                ((sum_len >= 3 * n) & (sum_len <= 10 * n)).alias(
                    "r_mean_word_len"
                ),
                (5 * n_alpha > 4 * n).alias("r_alpha_words"),
                (10 * n_bullet < 9 * n_lines).alias("r_bullet_lines"),
                (10 * n_ell < 3 * n_lines).alias("r_ellipsis_lines"),
                (n_stop >= 2).alias("r_stopwords"),
            )

        return let_col(F.split(F.col(text_col), "\n"), per_lines)

    raw = F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != "")
    g = let_col(raw, per_doc)
    rules = [
        "r_word_count", "r_mean_word_len", "r_alpha_words",
        "r_bullet_lines", "r_ellipsis_lines", "r_stopwords",
    ]
    # extra_cols are passed through NEXT TO the generated columns — an
    # extra col named like one of them would silently produce duplicate/
    # ambiguous columns that break the keep fold or a consumer select
    reserved = {id_col, "n_words", "keep", *rules}
    clash = sorted(set(extra_cols) & reserved)
    if clash:
        raise ValueError(
            f"gopher_rules: extra_cols {clash} collide with generated "
            f"output columns (reserved: {sorted(reserved)})"
        )
    out = df.select(id_col, *extra_cols, g.alias("_g")).select(
        id_col, *extra_cols, "_g.n_words", *[f"_g.{r}" for r in rules]
    )
    keep_col = F.col(rules[0])
    for r in rules[1:]:
        keep_col = keep_col & F.col(r)
    return out.withColumn("keep", keep_col)


# ---------------------------------------------------------------------------
# Hashed-feature logistic quality classifier (round 8)
# ---------------------------------------------------------------------------

#: Multiplier for the deterministic stand-in weight table (Knuth's 2^32
#: golden-ratio constant — scatters consecutive buckets).
_CLF_MULT = 2654435761


def classifier_milliweights(n_buckets: int = 256) -> list[int]:
    """Deterministic per-bucket INTEGER milli-weights in [-1000, 1000] —
    the stand-in for a trained linear model's weight vector (a real
    pipeline loads fasttext/logreg weights into the same list and nothing
    else changes). Integers on purpose: token contributions then sum
    EXACTLY (no float association order), so Spark and a DuckDB oracle
    agree bit-for-bit before the single final division."""
    return [((b * _CLF_MULT) % 2001) - 1000 for b in range(n_buckets)]


def hashed_logistic_score(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 256,
    milliweights: list[int] | None = None,
    out_col: str = "score",
) -> DataFrame:
    """Fasttext-shape quality classifier: hashed bag-of-tokens features x a
    weight vector -> logistic score in (0, 1) — the "model-based quality
    filter" stage of LLM corpus curation (CCNet/Gopher-style wordlists are
    rule-based cousins; this is the learned-linear-model form).

    Per doc: every token hashes (portable_hash60 % n_buckets) into a
    bucket, the bucket weights sum, and ``score = sigmoid(mean weight)``.
    The weight vector rides into the plan as an array LITERAL (the
    broadcast-a-small-model pattern — no join, no shuffle), the token fold
    is a JVM higher-order ``aggregate``, and the whole operator is one
    map-side expression: ZERO shuffles at any scale. Integer milli-weight
    summation keeps the pre-sigmoid logit bit-identical across engines
    (see :func:`classifier_milliweights`); the score rounds to 6dp.

    Token-less docs score 0.5 (zero logit) rather than tripping ANSI
    divide-by-zero. Output: ``df`` + ``n_tokens`` + ``out_col``.
    """
    mw = milliweights if milliweights is not None else classifier_milliweights(n_buckets)
    if len(mw) != n_buckets:
        raise ValueError(f"expected {n_buckets} weights, got {len(mw)}")
    arr = F.array(*[F.lit(int(v)) for v in mw])
    n_tok = F.size(tokens(F.col(text_col)))
    msum = let_col(
        tokens(F.col(text_col)),
        lambda w: F.aggregate(
            w,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.element_at(
                arr, (portable_hash60(t) % F.lit(n_buckets) + F.lit(1)).cast("int")
            ),
        ),
    )
    logit = F.when(
        n_tok > 0, msum.cast("double") / (F.lit(1000.0) * n_tok)
    ).otherwise(F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return df.withColumn("n_tokens", n_tok).withColumn(out_col, score)


#: DuckDB replay of :func:`hashed_logistic_score` (format with the token-
#: array expression ``w``): identical hash, bucket, integer sum, division,
#: sigmoid, and 6dp rounding.
DUCKDB_CLF_SCORE_SQL = (
    "round(1.0 / (1.0 + exp(-(CASE WHEN len({w}) > 0 THEN "
    "list_sum(list_transform({w}, t -> ((((" + DUCKDB_HASH60_SQL.format(expr="t")
    + ") % {n}) * " + str(_CLF_MULT) + ") % 2001) - 1000))::DOUBLE"
    " / (1000.0 * len({w})) ELSE 0.0 END))), 6)"
)


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model surprisal scoring — the CCNet/KenLM-style
    "perplexity vs the corpus itself" quality signal: documents whose
    tokens are collectively RARE in the corpus score high (gibberish,
    boilerplate headers, foreign fragments); fluent common prose scores
    low. The practical pretraining filter is "drop/down-weight the top
    surprisal tail per language" — the model-free complement of
    hashed_logistic_score's trained classifier.

    Model: add-one-smoothed unigram, p(t) = (c_t + 1) / (N + V) over the
    corpus' own counts; per-token surprisal ln(1/p) is quantized to an
    e6 integer ONCE per DISTINCT vocabulary token (the PSI convention:
    quantize after the transcendental, then only integer arithmetic —
    document sums become order-independent and bit-exact across engines).

    Scale shape: (1) one exchange to token counts, map-side combined;
    (2) a 1-row (N, V) corpus aggregate broadcast back onto the vocab
    frame (the BM25/tfidf scalar pattern); (3) docs pre-reduced to
    (doc, token, in-doc count) so the vocab join carries each DOC-DISTINCT
    token once, not every occurrence — the stopword-skew buster: "the"
    joins once per document, not once per position, and AQE's skew join
    splits whatever hot vocab rows remain; (4) one groupBy(doc) of
    integer products. No raw-token-level join anywhere.

    This is :func:`crossmodel_surprisal` with the whole corpus as the
    model (no token is out of vocabulary), plus ``avg_surprisal_e6``.
    """
    scored = crossmodel_surprisal(df, F.lit(True), text_col, id_col)
    return scored.withColumn(
        "avg_surprisal_e6",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN surprisal_sum_e6 DIV n_tokens END"
        ),
    )


def crossmodel_surprisal(
    df: DataFrame,
    model_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram surprisal of EVERY document under a model trained on only
    the ``model_pred`` slice (a boolean Column, e.g. ``F.col("lang") ==
    "en"``) — the cross-domain loss signal domain-reweighting needs:
    :func:`unigram_surprisal` scores the corpus against itself, this
    scores raw domains against a TARGET/reference distribution, so
    out-of-model domains surface as excess loss.

    Same conventions as :func:`unigram_surprisal` (add-one smoothing,
    per-token ln(1/p) e6-quantized once per vocabulary entry, integer
    document sums), plus the one thing cross-model scoring forces: an
    OUT-OF-VOCABULARY arm. A token the model never saw has c = 0 →
    p = 1/(N + V) → surprisal ln(N + V), carried as a 1-row broadcast
    scalar and coalesced in at the doc-distinct join (so OOV mass is
    priced exactly, not dropped — dropping it would make foreign text
    look FLUENT). V is the model slice's vocabulary size; the smoothing
    is over seen types (the unigram_surprisal convention), documented
    rather than re-normalized over unseen types, whose count is unknown.

    Scale shape unchanged: model counts are one map-combined aggregate
    over the slice, (N, V, s_oov) one broadcast row, docs pre-reduced to
    (doc, token, count) before the vocab join. Returns
    (id_col, n_tokens, surprisal_sum_e6).

    Precondition: the model slice must contain at least one token —
    an empty slice has N + V = 0 and ln(0) NULLs the OOV scalar, which
    then NULLs every score through the coalesce; there is no defined
    "surprisal under no model" to return instead (the round-14 property
    differential pins the guard input shape)."""
    toks = df.select(
        id_col, model_pred.alias("_in_model"), tokens(text_col).alias("_w")
    )
    ex = toks.select(id_col, "_in_model", F.explode("_w").alias("_t"))
    counts = (
        ex.filter(F.col("_in_model"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nv = counts.agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_v"),
        F.round(F.log(F.sum("_c") + F.count(F.lit(1))) * 1e6)
        .cast("long")
        .alias("_s_oov"),
    )
    vocab = counts.crossJoin(F.broadcast(nv.select("_n", "_v"))).select(
        "_t",
        F.round(
            F.log((F.col("_n") + F.col("_v")) / (F.col("_c") + F.lit(1.0)))
            * 1e6
        )
        .cast("long")
        .alias("_s_e6"),
    )
    per_dt = ex.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_k"))
    perdoc = (
        per_dt.join(vocab, "_t", "left")
        .crossJoin(F.broadcast(nv.select("_s_oov")))
        .groupBy(id_col)
        .agg(
            F.sum("_k").alias("_nt"),
            F.sum(
                F.col("_k") * F.coalesce(F.col("_s_e6"), F.col("_s_oov"))
            ).alias("_sum"),
        )
    )
    return (
        toks.select(id_col)
        .join(perdoc, id_col, "left")
        .select(
            id_col,
            F.coalesce("_nt", F.lit(0)).alias("n_tokens"),
            F.coalesce("_sum", F.lit(0)).alias("surprisal_sum_e6"),
        )
    )


def bigram_backoff_surprisal(
    df: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Bigram language-model surprisal with Stupid Backoff (Brants et al.
    2007, the web-scale scoring rule: no normalization, no held-out
    tuning — S(w|p) = c(p,w)/c(p) when the bigram was seen in the
    REFERENCE corpus, else α · p_uni(w) with the same add-one unigram
    the corpus-LM filter uses). The context-sensitive upgrade of
    :func:`unigram_surprisal`: "the the the" is cheap under unigrams but
    expensive under bigrams, and fluent rare-word prose stops being
    punished for vocabulary alone — the closer analogue of the
    KenLM-perplexity filters real pretraining pipelines run.

    Counts come from ``ref`` (a reference/train partition), scores apply
    to ``df`` — scoring held-out docs is what makes the backoff path
    REAL (a corpus scored against its own counts never backs off).
    Output per doc: ``(id, n_bigrams, n_backoff, surprisal_sum_e6,
    avg_surprisal_e6)``; docs with < 2 tokens score 0/0/0/NULL.

    Quantization: per-distinct-bigram surprisal ln(c(p)/c(p,w)) — and
    per-distinct backoff token ln((N+V)/(α·(c(w)+1))) — is rounded to an
    e6 integer ONCE, then only integer sums/DIV (the PSI convention:
    document totals are order-independent and bit-exact across engines).

    Scale shape: (1) one exchange each for reference bigram and unigram
    counts, map-side combined; (2) a 1-row (N, V) aggregate broadcast
    onto the scoring join; (3) docs pre-reduced to (doc, prev, cur, k)
    DISTINCT bigrams so the counts join carries each doc-distinct pair
    once, not every position (the stopword-pair skew buster — "of the"
    joins once per document); (4) one groupBy(doc) of integer products.
    The bigram count frame is corpus-bigram-bounded, never positional.
    """
    bigrams = F.expr(
        "transform(sequence(2, size(_w)), i -> "
        "struct(element_at(_w, i - 1) AS prev, element_at(_w, i) AS cur))"
    )

    def _doc_bigrams(frame: DataFrame) -> DataFrame:
        return (
            frame.select(id_col, tokens(text_col).alias("_w"))
            .filter(F.size("_w") >= 2)
            .select(id_col, F.explode(bigrams).alias("_bg"))
            .select(id_col, F.col("_bg.prev").alias("_p"), F.col("_bg.cur").alias("_c"))
        )

    ref_bg = _doc_bigrams(ref).groupBy("_p", "_c").agg(
        F.count(F.lit(1)).alias("_cbg")
    )
    ref_toks = ref.select(tokens(text_col).alias("_w")).select(
        F.explode("_w").alias("_t")
    )
    ref_u = ref_toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_cu"))
    # the unigram count frame feeds THREE consumers (the (N, V)
    # normalizer and both context/token count joins) and each reference
    # re-runs the full reference-corpus explode + count (Catalyst does
    # not dedupe repeated non-exchange subtrees) — materialize the
    # |vocab|-bounded skinny frame once. Batch-only guard: a streaming
    # reference cannot checkpoint (none exists today; the guard keeps
    # the operator honest if one appears).
    if not ref.isStreaming:
        ref_u = ref_u.localCheckpoint(eager=True)
    nv = ref_u.agg(F.sum("_cu").alias("_n"), F.count(F.lit(1)).alias("_v"))

    per_db = _doc_bigrams(df).groupBy(id_col, "_p", "_c").agg(
        F.count(F.lit(1)).alias("_k")
    )
    scored = (
        per_db.join(ref_bg, ["_p", "_c"], "left")
        .join(ref_u.select(F.col("_t").alias("_p"), F.col("_cu").alias("_cup")), "_p", "left")
        .join(ref_u.select(F.col("_t").alias("_c"), F.col("_cu").alias("_cuc")), "_c", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            id_col,
            "_k",
            F.col("_cbg").isNull().cast("int").alias("_is_backoff"),
            F.when(
                F.col("_cbg").isNotNull(),
                F.round(F.log(F.col("_cup") / F.col("_cbg")) * 1e6),
            )
            .otherwise(
                F.round(
                    F.log(
                        (F.col("_n") + F.col("_v"))
                        / (F.lit(float(alpha)) * (F.coalesce("_cuc", F.lit(0)) + F.lit(1.0)))
                    )
                    * 1e6
                )
            )
            .cast("long")
            .alias("_s_e6"),
        )
    )
    perdoc = scored.groupBy(id_col).agg(
        F.sum("_k").alias("_nb"),
        F.sum(F.col("_k") * F.col("_is_backoff")).alias("_nbo"),
        F.sum(F.col("_k") * F.col("_s_e6")).alias("_sum"),
    )
    return (
        df.select(id_col)
        .join(perdoc, id_col, "left")
        .select(
            id_col,
            F.coalesce("_nb", F.lit(0)).alias("n_bigrams"),
            F.coalesce("_nbo", F.lit(0)).alias("n_backoff"),
            F.coalesce("_sum", F.lit(0)).alias("surprisal_sum_e6"),
            F.expr(
                "CASE WHEN coalesce(_nb, 0) > 0 THEN _sum DIV _nb END"
            ).alias("avg_surprisal_e6"),
        )
    )


def percentile_rank_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Quantile-normalize a score WITHIN each group: adds
    ``pct_rank_ppm`` = (rows in the group with value <= this row's)
    * 1e6 DIV group size — integer parts-per-million cume_dist. The
    cross-group calibration step: a raw quality score of 0.8 means
    different things in English (huge corpus, tight distribution) and
    Swahili (small corpus); per-language percentile ranks ARE
    comparable, which is what lets one global keep-threshold treat
    languages fairly (the continuous generalization of the per-language
    p25 gate in classifier_gate_per_lang).

    ``value_col`` must be NULL-free (engines disagree on NULL sort
    placement, so NULL ranks would diverge — filter or impute first).
    Ties share a rank (all equal values get the count of values <= the
    tie), so the output is deterministic under any partitioning —
    row_number-based percentiles would not be. Integer DIV keeps it
    engine-exact (cume_dist()'s float division is replayable too, but
    ppm matches the repo convention and sorts stably).

    Scale shape: one exchange on the group column; the cumulative count
    is a RANGE frame over the in-partition sort (no second pass), group
    size is a full-frame window on the same partitioning.
    """
    wr = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    le = F.count(F.lit(1)).over(wr)
    n = F.count(F.lit(1)).over(wf)
    return df.withColumn(
        "pct_rank_ppm",
        (le * F.lit(1_000_000) / n).cast("long"),
    )


def lexicon_tag(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexicon tagging — the content-policy/moderation primitive: match a
    term list (blocklist, topic lexicon, compliance vocabulary) against
    each document's TOKENS and report which terms hit and how often.
    Adds ``matched_terms`` (sorted distinct hits), ``n_matched_terms``,
    and ``n_hits`` (total occurrences). The tag-and-route complement of
    scrub_patterns (which rewrites): policy pipelines usually TAG first
    (route to review, compute per-source violation rates via
    check_constraints) and scrub second.

    Token-boundary matching, not substring: "class" does not hit an
    "ass" blocklist entry — the standard word-boundary discipline that
    keeps false-positive rates usable. Case-insensitive via the shared
    tokens() lowercasing.

    Scale shape: the lexicon rides the plan as an array literal (the
    broadcast-a-small-model pattern of hashed_logistic_score) and the
    match is one JVM filter over the token array — zero shuffles, zero
    joins, whole-stage codegen. For lexicons beyond literal-size
    (~10k+ terms) switch to a broadcast join against an exploded token
    frame; same semantics, one exchange.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    lex = F.array(*[F.lit(t.lower()) for t in sorted(set(terms))])
    toks = tokens(text_col)
    hits = F.filter(toks, lambda t: F.array_contains(lex, t))

    def per_hits(h):
        return F.struct(
            F.array_sort(F.array_distinct(h)).alias("matched_terms"),
            F.size(F.array_distinct(h)).alias("n_matched_terms"),
            F.size(h).alias("n_hits"),
        )

    tagged = let_col(hits, per_hits)
    return df.withColumn("_t", tagged).select(
        *df.columns,
        F.col("_t.matched_terms").alias("matched_terms"),
        F.col("_t.n_matched_terms").cast("long").alias("n_matched_terms"),
        F.col("_t.n_hits").cast("long").alias("n_hits"),
    ).drop("_t")


def pmi_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_docs: int = 5,
) -> DataFrame:
    """Document-level co-occurrence statistics with pointwise mutual
    information — collocation mining: which token pairs appear in the
    same document far more often than their individual frequencies
    predict (multi-word expressions, topic anchors) or far less
    (complementary-distribution signals). PMI(a,b) =
    ln(N * d_ab / (d_a * d_b)) over DOCUMENT frequencies, e6-quantized
    per distinct pair (the PSI/LM-surprisal transcendental discipline —
    integer once quantized, order-independent).

    Pairs are UNORDERED distinct-token pairs per document (a < b
    lexicographically, presence not multiplicity — the standard doc-level
    collocation definition); ``min_pair_docs`` prunes the unstable
    low-count tail before PMI amplifies it.

    Scale shape: per-document DISTINCT tokens fan out row-locally into
    |d|*(|d|-1)/2 pairs (bounded by per-doc vocabulary squared — cap
    document token counts upstream, the funnel module's bot discipline;
    never corpus-vocabulary squared), then ONE map-combined
    groupBy(a, b) count; marginal doc-frequencies are a second
    groupBy over exploded distinct tokens whose |vocab|-sized result
    broadcasts back onto the pair frame; N is the 1-row corpus size
    (allowlisted scalar shape).
    """
    toks = df.select(
        F.col(id_col), F.array_distinct(tokens(text_col)).alias("_w")
    )
    n_docs = toks.agg(F.count(F.lit(1)).alias("_n"))
    term_df = toks.select(F.explode("_w").alias("_t")).groupBy("_t").agg(
        F.count(F.lit(1)).alias("_df")
    )

    def pair_list(w):
        s = F.array_sort(w)
        return F.flatten(
            F.transform(
                s,
                lambda a, i: F.transform(
                    F.slice(s, i + 2, F.size(s)),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            )
        )

    pairs = (
        toks.select(F.explode(let_col(F.col("_w"), pair_list)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_docs_pair"))
        .filter(F.col("n_docs_pair") >= min_pair_docs)
    )
    with_margins = (
        pairs.join(
            F.broadcast(term_df.withColumnRenamed("_t", "a")), "a"
        )
        .withColumnRenamed("_df", "df_a")
        .join(F.broadcast(term_df.withColumnRenamed("_t", "b")), "b")
        .withColumnRenamed("_df", "df_b")
        .crossJoin(F.broadcast(n_docs))
    )
    pmi = F.round(
        F.log(
            F.col("_n")
            * F.col("n_docs_pair")
            / (F.col("df_a") * F.col("df_b"))
        )
        * 1e6
    ).cast("long")
    return with_margins.select(
        "a",
        "b",
        "n_docs_pair",
        F.col("df_a").cast("long").alias("df_a"),
        F.col("df_b").cast("long").alias("df_b"),
        pmi.alias("pmi_e6"),
    )


#: Ordered PII patterns: (column suffix, replacement token, regex,
#: validator). One Python source generates BOTH the Spark expressions and
#: the DuckDB oracle text (queries/pipeline.pii_scrub_documents), so the
#: two engines can never drift. The regex subset used (\\d, \\b, {m,n},
#: non-capturing groups, classes, alternation) behaves identically in Java
#: regex and RE2. ORDER is semantics: each stage counts on the text AS
#: ALREADY SCRUBBED by the previous stages, so an email's host can never
#: double-count as an IP, and a card number consumed by the ccs stage can
#: never re-count as a 13+-digit secret. ``validator`` (None | "luhn")
#: refines the COUNT only: redaction always replaces every shape-matched
#: candidate (conservative scrub — a card-shaped number you can't verify
#: still must not ship in a training corpus), while the count reports
#: checksum-verified instances only, so n_ccs is a true card census.
PII_PATTERNS: tuple[tuple[str, str, str, str | None], ...] = (
    ("emails", "<EMAIL>",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", None),
    ("ips", "<IP>", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", None),
    ("ssns", "<SSN>", r"\b\d{3}-\d{2}-\d{4}\b", None),
    ("phones", "<PHONE>", r"\b\d{3}-\d{3}-\d{4}\b", None),
    # 13-19 digits with optional single space/dash separators; counts are
    # Luhn-gated (the checksum every real PAN satisfies)
    ("ccs", "<CC>", r"\b\d(?:[ -]?\d){12,18}\b", "luhn"),
    # IBAN shape: country code + 2 check digits + 11-30 BBAN chars;
    # counts are mod-97-gated (ISO 7064, the checksum every real IBAN
    # satisfies)
    ("ibans", "<IBAN>", r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b", "iban97"),
    # secret/API-key shapes: prefixed keys (sk_/pk_/api-/key_/token_) and
    # bare 32-64 char hex tokens (digests, session ids, hex-encoded keys)
    ("secrets", "<SECRET>",
     r"\b(?:sk|pk|api|key|token)[-_][A-Za-z0-9]{16,}\b"
     r"|\b[A-Fa-f0-9]{32,64}\b", None),
)

#: digits-only normalization of one candidate match (lambda var pii_c)
_PII_DIGITS = "regexp_replace(pii_c, '[^0-9]', '', 'g')"
_PII_D = f"(ascii(substring(reverse({_PII_DIGITS}), pii_i, 1)) - 48)"
#: Luhn-validity lambda over one candidate string, DuckDB dialect: sum
#: digits right-to-left, doubling every second and folding >9 via
#: 2d - 9*((2d)//10) (pure integer arithmetic — no per-digit CASE chain);
#: valid iff sum % 10 == 0. Shared-subset SQL: the oracle embeds it
#: verbatim and the operator runs it through transpile_duckdb, so the two
#: engines execute the same checksum by construction.
PII_LUHN_LAMBDA = (
    f"pii_c -> list_sum(list_transform("
    f"generate_series(1, length({_PII_DIGITS})), "
    f"pii_i -> CASE WHEN pii_i % 2 = 0 "
    f"THEN 2 * {_PII_D} - 9 * ((2 * {_PII_D}) // 10) "
    f"ELSE {_PII_D} END)) % 10 = 0"
)


#: IBAN rearrangement (first 4 chars moved to the end) of one candidate
_PII_REARR = "(substring(pii_c, 5) || substring(pii_c, 1, 4))"
_PII_CH = f"substring({_PII_REARR}, pii_i, 1)"
#: ISO 7064 mod-97 validity lambda over one candidate string, DuckDB
#: dialect: fold the rearranged string char-by-char — a digit contributes
#: (acc*10 + d) % 97, a letter its two-digit A=10..Z=35 expansion via
#: (acc*100 + v) % 97 — valid iff the fold ends at 1. acc stays < 97 so
#: the arithmetic never leaves int32. ``[0] || positions`` seeds DuckDB's
#: seedless list_reduce; the transpiler maps list_reduce onto Spark's
#: aggregate, so this too is one source for both engines.
PII_IBAN97_LAMBDA = (
    f"pii_c -> list_reduce([0] || generate_series(1, length({_PII_REARR})), "
    f"(acc, pii_i) -> CASE WHEN {_PII_CH} BETWEEN '0' AND '9' "
    f"THEN (acc * 10 + (ascii({_PII_CH}) - 48)) % 97 "
    f"ELSE (acc * 100 + (ascii({_PII_CH}) - 55)) % 97 END) = 1"
)

#: validator name -> candidate-filter lambda (DuckDB dialect). Counts are
#: checksum-gated; redaction stays conservative (every shape match is
#: replaced) — see the PII_PATTERNS docstring.
_PII_VALIDATORS: dict[str, str] = {
    "luhn": PII_LUHN_LAMBDA,
    "iban97": PII_IBAN97_LAMBDA,
}


def pii_stage_sql(
    cur: str, name: str, token: str, pat: str, validator: str | None
) -> tuple[str, str]:
    """DuckDB-dialect ``(count_expr, scrubbed_text_expr)`` for one PII
    stage over the text expression/column ``cur`` — the single source both
    engines consume (the oracle verbatim, the operator through
    :func:`~sql4pandas_spark.functions.transpile.transpile_duckdb`)."""
    cands = f"regexp_extract_all({cur}, '{pat}')"
    if validator is None:
        count = f"CAST(len({cands}) AS BIGINT)"
    elif validator in _PII_VALIDATORS:
        count = (
            f"CAST(len(list_filter({cands}, {_PII_VALIDATORS[validator]}))"
            f" AS BIGINT)"
        )
    else:
        raise ValueError(f"unknown PII validator {validator!r} for {name}")
    return count, f"regexp_replace({cur}, '{pat}', '{token}', 'g')"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII detection + scrubbing — the redaction station every shareable
    training corpus passes through: emails, IPv4s, SSN-shaped and
    phone-shaped numbers, card-shaped numbers (counts Luhn-verified),
    IBAN shapes, and secret/API-key shapes are replaced with typed
    sentinel tokens and counted per document (the counts feed the
    k-anonymity/release audits; the sentinels keep sequence structure
    intact for the LM instead of leaving holes).

    Stagewise semantics: stage k counts occurrences on the text as
    scrubbed by stages 1..k-1, then replaces — overlap between classes
    (an email whose host looks like an IP) is attributed to the FIRST
    matching class only, deterministically. Pure row-local
    `regexp_extract_all` + `regexp_replace` chains (the Luhn gate is a
    filter/transform higher-order expression over the matched
    candidates): zero shuffles, zero UDFs, whole-stage-codegen at any
    scale. Every stage expression is BUILT from the same DuckDB-dialect
    source the oracle embeds (:func:`pii_stage_sql`, through
    transpile_duckdb), so the two engines can never drift — automata,
    checksum, and replacement order alike.
    """
    from sql4pandas_spark.functions.transpile import transpile_duckdb

    cur = text_col
    counts = []
    for name, token, pat, validator in PII_PATTERNS:
        count_sql, next_sql = pii_stage_sql(cur, name, token, pat, validator)
        counts.append(
            F.expr(transpile_duckdb(count_sql)).alias(f"n_{name}")
        )
        cur = next_sql
    out = df.select(
        id_col, F.expr(transpile_duckdb(cur)).alias(text_col), *counts
    )
    total = None
    for name, _, _, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("n_pii", total.cast("long"))
