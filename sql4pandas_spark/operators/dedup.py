"""Deduplication operators (SURVEY.md §2.9): exact, MinHash-LSH, SimHash.

Scale design:

- Exact dedup is a hash groupBy (one shuffle on the content hash). We never
  `dropDuplicates` on the raw text column at scale — group on sha2(text,256)
  so the shuffle key is 32 bytes, not document bodies.
- MinHash-LSH is the standard shingle → minhash signature → band → bucket
  self-join pipeline. Every signature (and every sketch probe) comes from
  one kernel: :func:`minhash` over the affine map :func:`affine_hash`, as
  JVM higher-order functions — no Python in the row path; callers differ
  only in base hash and seed. Candidate generation explodes b band keys per
  doc and self-joins on the band key: the only shuffle is on those 8-byte
  keys. Verification re-checks true shingle Jaccard on candidates only.
- Duplicate clusters are connected components of the verified-pair graph,
  each labeled by its smallest id, on one of two paths. A graph of at most
  ``DRIVER_GRAPH_MAX_EDGES`` pairs is collected once and labeled on the
  driver by vectorised hook-and-jump (no Spark job per round). A larger one
  runs distributed smallest-id label propagation: O(graph diameter) rounds,
  each a join+groupBy checkpointed to keep the plan bounded. Both paths
  stop by one rule, for every id type: no edge has different labels at its
  two ends. On the distributed path non-convergence within ``max_iter``
  rounds raises instead of returning wrong labels; ``max_iter`` bounds only
  that path.
- SimHash: 60-bit signature via per-bit weighted sums; near-dup candidates by
  banding the bits into 4 chunks of (16, 16, 16, 12) meaningful bits —
  Hamming ≤ 3 guarantees a shared chunk by pigeonhole — verified with
  bit_count(xor). Token hashes use the
  md5-based portable_hash60 so DuckDB can replay the whole signature pipeline
  as a value-checked oracle.
- Every similarity operator here and in ``similarity.ann_lsh_topk`` finds
  its pairs by one candidate-pair join: :func:`key_pairs` self-joins rows
  on a shared key (band key, shingle, prefix shingle, SimHash chunk, LSH
  bucket) into ``(id_a, id_b)`` with ``id_a < id_b``, :func:`attach`
  joins each end's payload onto the pair as ``<col>_a`` / ``<col>_b``,
  and the caller verifies on those columns (Jaccard, Hamming, cosine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql4pandas_spark.operators.text import let_col, portable_hash60, tokens
from sql4pandas_spark.stores import read_batches, write_batch

MERSENNE31 = 2_147_483_647  # 2^31 - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per distinct content hash.

    Returns (keep_id, n_copies). Grouping key is sha2-256 of the content, so
    at 100 TB the shuffle moves 32-byte digests; collision probability is
    negligible (2^-128 scale).
    """
    return (
        df.groupBy(F.sha2(F.col(text_col).cast("binary"), 256).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH
# ---------------------------------------------------------------------------


def _affine_params(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i*x + b_i) mod 2^31-1.

    A splitmix-style integer scramble keyed by (seed, i) — reproducible across
    sessions without RNG state (a must be non-zero mod p).
    """
    params = []
    for i in range(n_hashes):
        z = (seed * 0x9E3779B97F4A7C15 + (i + 1) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        z ^= z >> 31
        a = (z % (MERSENNE31 - 1)) + 1
        b = (z >> 33) % MERSENNE31
        params.append((a, b))
    return params


def affine_hash(h, a: int, b: int):
    """``(a·h + b) mod 2^31-1`` for a base hash ``h`` in [0, 2^31-1): a·h
    stays < 2^62, so the product cannot overflow ANSI int64. The DuckDB
    oracles in ``queries/pipeline.py`` spell the same map in SQL."""
    return F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE31))


def affine_hashes(h, n: int, seed: int = 7) -> list:
    """The ``n`` seeded permutations of one base-hash column."""
    return [affine_hash(h, a, b) for a, b in _affine_params(n, seed)]


def minhash(base, n_hashes: int, seed: int = 7) -> list:
    """The MinHash kernel: the ``n_hashes`` minima ``array_min(transform(
    base, affine_hash_i))`` over ``base``, an ``array<long>`` column of base
    hashes in [0, 2^31-1) that callers bind once per row."""

    def _perm(a: int, b: int):
        # closure factory (HOF lambdas must be single-parameter)
        return lambda h: affine_hash(h, a, b)

    return [
        F.array_min(F.transform(base, _perm(a, b)))
        for a, b in _affine_params(n_hashes, seed)
    ]


def _rows_per_band(n_hashes: int, n_bands: int) -> int:
    """Signature rows per LSH band; every banding path calls this, so an
    uneven split raises instead of silently dropping the tail minima."""
    if n_bands < 1 or n_hashes % n_bands:
        raise ValueError(f"n_hashes {n_hashes} not divisible by n_bands {n_bands}")
    return n_hashes // n_bands


def shingles(text_col, n: int = 3):
    """Word n-gram shingles (n≥3 — token-set Jaccard is degenerate on the
    fixture's ~30-word vocabulary, FIXTURES.md). Token array bound once per
    row via let_col — the inline form re-split the text per slice() call,
    O(tokens²) per doc (7.7× slower, measured round 7)."""
    return let_col(
        tokens(text_col),
        lambda w: F.when(
            F.size(w) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - n),
                    lambda i: F.array_join(F.slice(w, i + 1, n), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(w, " "))),
    )


def shingle_rows(df: DataFrame, text_col: str, n: int, *cols) -> DataFrame:
    """One ``shingle`` row per (row, distinct word n-gram) of ``df``,
    beside ``cols`` — the exploded shingle index every pair join and
    overlap count starts from."""
    return df.select(*cols, F.explode(shingles(F.col(text_col), n)).alias("shingle"))


def portable_minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """(id, words, band_keys) — the CALIBRATION variant of the MinHash-LSH
    station: the same :func:`minhash` kernel and banding structure as
    :func:`minhash_signatures` + :func:`band_keys`, but every hash is the
    md5-based :func:`portable_hash60` instead of xxhash64, so the ENTIRE
    pipeline — base hashes, signature minima, band keys — replays
    value-for-value in a DuckDB oracle (xxhash64 has no DuckDB spelling;
    the production path keeps it because it is ~2× cheaper and its census
    is ground-truthed by the exact-Jaccard oracle instead). Shingles are
    distinct lowercase whitespace words (1-gram) — the calibration
    entry's planted pairs control Jaccard through shared word counts, so
    word-granularity keeps the planted level exact. ``n_hashes`` must
    split evenly into ``n_bands``. Row-local, zero UDFs, zero shuffles."""
    rows_per_band = _rows_per_band(n_hashes, n_bands)
    words = F.array_distinct(tokens(text_col))
    base = F.transform(
        F.col("words"), lambda s: F.pmod(portable_hash60(s), F.lit(MERSENNE31))
    )
    sig = minhash(F.col("base"), n_hashes)
    bands = F.array(
        *[
            portable_hash60(
                F.concat_ws(
                    ",",
                    *[
                        s.cast("string")
                        for s in sig[i * rows_per_band : (i + 1) * rows_per_band]
                    ],
                )
            )
            for i in range(n_bands)
        ]
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), words.alias("words"))
        .withColumn("base", base)
        .select("doc_id", "words", bands.alias("band_keys"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingles, sig: array<long>[n_hashes]) — signature entirely
    JVM-side: the :func:`minhash` kernel over xxhash64(shingle) folded
    into [0, 2^31-1).
    """
    from sql4pandas_spark.operators.spread import spread_for_compute

    sh = shingles(text_col, shingle_n).alias("shingles")
    base = F.transform(F.col("shingles"), lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE31)))
    sig = F.array(*minhash(F.col("base_hashes"), n_hashes))
    # project to the two needed columns, then spread: the n_hashes
    # affine-min passes per document dwarf one exchange of (id, text)
    # rows, and without the spread a single-row-group scan serializes
    # the whole signature stage (operators/spread.py)
    spread = spread_for_compute(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
    return (
        spread.select("doc_id", sh)
        .withColumn("base_hashes", base)
        .withColumn("sig", sig)
        .drop("base_hashes")
    )


def band_keys(
    sigs: DataFrame, n_bands: int = 16, *, n_hashes: int = 64
) -> DataFrame:
    """(doc_id, band_key) — one row per band per doc of an
    ``n_hashes``-long ``sig``. The band key is xxhash64(band_index,
    sig-slice): the 8-byte join/shuffle key that the self-join, the
    cross-batch store join and the fuzzy key join bucket on."""
    rows_per_band = _rows_per_band(n_hashes, n_bands)
    bands = F.array(
        *[
            F.xxhash64(F.lit(i), F.slice("sig", i * rows_per_band + 1, rows_per_band))
            for i in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band_key"))


def key_pairs(
    rows: DataFrame, key: str, *carry: str, id_col: str = "doc_id"
) -> DataFrame:
    """The candidate-pair self-join: ``(id_a, id_b, <c>_a, <c>_b, …)``, one
    row for each ``key`` value two rows of ``rows`` share, with ``id_a <
    id_b``, each ``carry`` column taken from both rows. A pair sharing
    several key values appears once per value; callers that want each
    pair once take ``distinct()`` or aggregate."""
    a, b = (
        rows.select(
            F.col(key).alias(f"{key}_{side}"),
            F.col(id_col).alias(f"id_{side}"),
            *[F.col(c).alias(f"{c}_{side}") for c in carry],
        )
        for side in "ab"
    )
    return a.join(
        b, (F.col(f"{key}_a") == F.col(f"{key}_b")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b", *[f"{c}_{side}" for c in carry for side in "ab"])


def attach(
    pairs: DataFrame, side: str, frame: DataFrame, *cols: str, id_col: str = "doc_id"
) -> DataFrame:
    """``pairs`` with ``frame``'s ``cols`` joined onto ``id_<side>`` as
    ``<c>_<side>`` — one end's payload for the verify step (an inner
    join: a pair whose id ``frame`` lacks drops)."""
    return pairs.join(
        frame.select(
            F.col(id_col).alias(f"id_{side}"),
            *[F.col(c).alias(f"{c}_{side}") for c in cols],
        ),
        f"id_{side}",
    )


def _shingle_jaccard():
    """Exact shingle-set Jaccard of two attached ``shingles`` ends,
    rounded to 4 places."""
    inter = F.size(F.array_intersect("shingles_a", "shingles_b")).cast("double")
    union = F.size(F.array_union("shingles_a", "shingles_b")).cast("double")
    return F.round(inter / union, 4)


def lsh_candidate_pairs(
    sigs: DataFrame, n_bands: int = 16, *, n_hashes: int = 64
) -> DataFrame:
    """Band the signature and self-join on band keys → candidate (a, b) pairs.

    Output: distinct (id_a < id_b) candidate pairs. The band key is
    xxhash64(band_index, sig-slice), so the join/shuffle key is 8 bytes.
    """
    return key_pairs(band_keys(sigs, n_bands, n_hashes=n_hashes), "band_key").distinct()


def verified_near_pairs(
    sigs: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Verify candidates with true shingle-set Jaccard (array_intersect/union
    on the already-computed distinct shingle arrays). Only candidate pairs —
    never all O(n²) pairs — reach this join."""
    return (
        attach(attach(candidates, "a", sigs, "shingles"), "b", sigs, "shingles")
        .withColumn("jaccard", _shingle_jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Largest pair graph, in pairs, that :func:`connected_components` labels
#: on the driver; a larger one runs the distributed label propagation.
#: Read at call time. Set by measurement (CHANGES.md): at this size the
#: driver path still takes no longer than the distributed one.
DRIVER_GRAPH_MAX_EDGES = 1_000_000


def min_id_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, labels) of the undirected graph with edges ``a[i]–b[i]``:
    every id once, ascending, and its component's smallest id.

    Vectorised hook-and-jump: ids become ranks in ascending order, each
    round hooks the larger root of every edge whose ends still differ
    under the smaller one (``np.minimum.at``), then pointer jumping
    compresses every node onto its root. A parent is never larger than
    its node, so each root is its tree's smallest rank, and the rounds
    stop when every edge's ends share one root. ``np.unique`` sorts
    strings by code point, the order of Spark's UTF-8 byte comparison,
    so the labels keep their meaning for numeric, decimal and string ids.
    """
    nodes, ranks = np.unique(np.concatenate([a, b]), return_inverse=True)
    src, dst = ranks[: len(a)], ranks[len(a) :]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[src], parent[dst]
        if (ra == rb).all():
            return nodes, nodes[parent]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if (grand == parent).all():
                break
            parent = grand


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Smallest-id labels over an undirected pair graph: (doc_id,
    cluster_id) for every id in a pair, cluster_id being the smallest id in
    its connected component.

    Two paths, one answer:

    - **Driver.** A graph of at most :data:`DRIVER_GRAPH_MAX_EDGES` pairs
      is collected once through Arrow, behind a ``limit(cap + 1)`` guard
      that costs no extra job, and labeled by :func:`min_id_labels`. The
      result is a local relation; no propagation round runs, so
      ``max_iter`` does not apply and a chain of any length labels.
    - **Distributed.** A larger graph runs :func:`_propagate_labels`,
      min-label propagation that raises after ``max_iter`` rounds. The
      guard's partial collect is dropped, so the pairs are evaluated
      again there.

    A NULL id is no node and links nothing, on both paths: a pair with one
    NULL end keeps its other end as a self-loop, and a pair of two NULLs
    drops.
    """
    closed = pairs.select(
        F.coalesce("id_a", "id_b").alias("id_a"),
        F.coalesce("id_b", "id_a").alias("id_b"),
    ).filter(F.col("id_a").isNotNull())
    cap = DRIVER_GRAPH_MAX_EDGES
    local = closed.limit(cap + 1).toPandas()
    if len(local) > cap:
        return _propagate_labels(closed, max_iter)
    nodes, labels = min_id_labels(local["id_a"].to_numpy(), local["id_b"].to_numpy())
    id_type = closed.schema["id_a"].dataType
    return pairs.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": nodes, "cluster_id": labels}),
        T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
        ),
    )


def _propagate_labels(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Smallest-id label propagation over a NULL-free pair graph — the
    distributed path of :func:`connected_components`.

    Each round, labels flow across edges via join + min-aggregate;
    min-label propagation converges in O(graph diameter) rounds (NOT
    O(log n) — a chain of d near-dups needs d rounds; use
    pointer-doubling/large-star if log-round convergence is ever needed).
    localCheckpoint truncates lineage each round so the plan stays bounded —
    the standard iterative-algorithm pattern on Spark (GraphX/GraphFrames do
    the same under the hood).

    The rounds stop by the driver path's rule: no edge has different
    labels at its two ends, one ``limit(1).count()`` over edges ⋈ labels ⋈
    labels, for every id type. That is enough: a label always names a
    member of its node's component and is never larger than the node, so
    once every edge agrees each component carries its smallest id. Raises
    RuntimeError if an edge still disagrees after `max_iter` rounds —
    silently returning partial clusters would under-merge duplicates
    downstream.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize ONCE: edges usually carry an expensive lineage (the
        # banded self-join + exact-Jaccard verify), and every propagation
        # round joins against them — without this, the whole candidate
        # pipeline re-executes per iteration (measured round 7:
        # dedup_near_minhash 10.5 s → 4.6 s at sf0.1)
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    for _ in range(max_iter):
        # label of each node <- min(own label, min neighbor label)
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select(F.col("src").alias("doc_id"), F.col("cluster_id"))
        )
        labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        ).localCheckpoint(eager=True)
        disagreeing = (
            edges.join(labels.toDF("src", "src_label"), "src")
            .join(labels.toDF("dst", "dst_label"), "dst")
            .filter(F.col("src_label") != F.col("dst_label"))
            .limit(1)
            .count()
        )
        if disagreeing == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "the candidate-pair graph has a longer chain than expected; "
        "raise max_iter or switch to pointer-doubling"
    )


def label_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """First-class clustering API over an ARBITRARY pair graph: label every
    node in ``nodes`` with its connected component's smallest member id —
    (doc_id, cluster_id), singletons keeping their own id.

    This is :func:`connected_components` (labels on the driver for a
    graph of at most ``DRIVER_GRAPH_MAX_EDGES`` pairs; beyond that,
    distributed smallest-id label propagation, whose non-convergence
    within ``max_iter`` rounds raises) plus the singleton coalesce every
    caller needs: nodes that appear in no pair never enter the labeling —
    the edge frame, not the node frame, bounds its work — and re-join as
    their own 1-clusters at the end. near_dedup_minhash is exactly this
    operator applied to verified MinHash pairs; exposing it separately
    lets any pair source (fuzzy joins, embedding near-pairs, explicit
    entity matches) reuse the labeler without re-deriving the pattern.
    """
    components = connected_components(pairs, max_iter=max_iter)
    all_ids = nodes.select(F.col(id_col).alias("doc_id")).distinct()
    return all_ids.join(components, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dedup: (doc_id, cluster_id) for every input row;
    docs with no near-duplicate keep their own id as cluster_id.

    The signature frame feeds three consumers (banding + both sides of the
    verify join), so it is persisted for the duration of the pipeline —
    33% faster end-to-end (measured at sf0.01). At 100 TB the equivalent is
    writing signatures to storage once and reusing them across the banding
    and verification stages. Clustering is :func:`connected_components`
    on the verified pairs: labeled on the driver up to
    ``DRIVER_GRAPH_MAX_EDGES`` pairs, else by distributed label propagation
    within its default ``max_iter`` rounds. Either way it materializes its
    result (a local relation, or an eager localCheckpoint), so the persist
    can be released before returning the (lazy) final join.
    """
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n).persist()
    try:
        cands = lsh_candidate_pairs(sigs, n_bands, n_hashes=n_hashes)
        verified = verified_near_pairs(sigs, cands, threshold)
        components = connected_components(verified)
    finally:
        sigs.unpersist()
    all_ids = df.select(F.col(id_col).alias("doc_id"))
    return (
        all_ids.join(components, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index AllPairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via an inverted shingle index.

    The classic AllPairs shape: explode distinct word n-grams, self-join on
    the shingle (only docs sharing ≥1 shingle ever meet — never the O(n²)
    cross product), count intersections per pair, then
    ``jaccard = |∩| / (|A| + |B| - |∩|)``. Output: (id_a, id_b, jaccard)
    with id_a < id_b and jaccard ≥ threshold, jaccard rounded to 4dp.

    Scale: the shuffles are (a) explode+groupBy on shingle strings and
    (b) groupBy on (id_a, id_b) int pairs. The failure mode at 100 TB is a
    *hot shingle* (a boilerplate phrase shared by millions of docs → a
    quadratic bucket); ``max_doc_freq`` drops shingles appearing in more
    than that many documents — the standard stopword-shingle cap. Under
    the cap, jaccard is computed over the REDUCED shingle sets: pairs
    whose overlap was only boilerplate disappear, and surviving pairs are
    re-scored on distinctive content alone — the score can move in either
    direction (dropping shared boilerplate shrinks |∩| too), so the cap is
    a re-weighting toward distinctive content, not an under- or
    over-approximation (pinned in tests/test_dedup.py). Leave None for
    exact semantics (the oracle-checked mode).
    """
    sh = shingle_rows(df, text_col, shingle_n, F.col(id_col).alias("doc_id"))
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    inter = (
        key_pairs(sh, "shingle").groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("i"))
    )
    # Filter on the UNROUNDED ratio: both engines derive it from identical
    # int64 counts, so the doubles are bit-identical — no boundary flakes.
    jac = F.col("i").cast("double") / (F.col("c_a") + F.col("c_b") - F.col("i"))
    return (
        attach(attach(inter, "a", card, "c"), "b", card, "c")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the PPJoin-family
    candidate generation; Xiao et al., WWW'08; Bayardo et al., WWW'07) —
    same contract as :func:`ngram_jaccard_pairs` (exact, (id_a, id_b,
    jaccard≥t) with jaccard 4dp), different candidate algebra.

    The inverted-index AllPairs join meets every pair once per SHARED
    shingle — candidate volume Σ_shingle df², quadratic in each hot
    shingle's document frequency. Prefix filtering joins only on each
    document's PREFIX under a global rarest-first shingle order: sort
    each doc's shingle set by (corpus df, shingle) ascending and keep the
    first ``|X| - ceil(t·|X|) + 1`` entries. Completeness: for J(A,B) ≥ t
    the globally-smallest element m of A∩B has at most |A| - |A∩B| ≤
    |A| - ceil(t·|A|) A-only elements before it, so m sits inside BOTH
    prefixes — every qualifying pair meets on m (no recall loss; pinned
    against the AllPairs output in tests/test_dedup.py). ceil(t·|X|) is
    computed integer-exactly from the e6-quantized threshold so a float
    ulp can never shorten a prefix.

    Scale shape: boilerplate shingles (the hot-bucket failure mode that
    needs max_doc_freq capping in the AllPairs form) are the LAST
    candidates for a rare-first prefix — they effectively vanish from
    the join, uncapped and still exact. Shuffles: df-count groupBy, one
    doc-level groupBy carrying the shingle set once, the prefix
    self-join, and the verify join on int pairs; the verify reads the
    full sets as JVM arrays (array_intersect), never re-exploding.
    Lineage note: the doc-array frame feeds three consumers (prefix
    explode + both verify sides); the two verify sides are
    plan-identical so Catalyst serves them from one exchange, leaving
    ~one extra tokenize+sort recompute for the prefix branch — at
    warehouse scale, persist the doc-array frame TO STORAGE once and
    reuse it (the near-dedup signature pattern, dedup.py:259). An
    in-memory localCheckpoint of that frame was A/B'd in round 14 and
    LOST 2x at sf0.1 (8.2 -> 18.1 s): serializing every document's full
    sorted shingle-set array costs more than recomputing the one
    duplicated branch. So did a window-based df-count replacing the
    groupBy + join-back (15.2 s): millions of tiny per-shingle window
    groups buffer where the hash aggregate map-side combines. Both
    stay as-is on purpose.
    """
    t_e6 = round(threshold * 1_000_000)
    sh = shingle_rows(df, text_col, shingle_n, F.col(id_col).alias("doc_id"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    docs = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df_", "shingle"))).alias("_ord"),
            F.count(F.lit(1)).alias("c"),
        )
        # rarest-first shingle list + integer-exact prefix length
        .select(
            "doc_id",
            F.transform("_ord", lambda s: s["shingle"]).alias("sset"),
            "c",
            F.expr(
                f"CAST(c - ({t_e6} * c + 999999) DIV 1000000 + 1 AS INT)"
            ).alias("p"),
        )
    )
    pref = docs.select(
        "doc_id", F.explode(F.slice("sset", F.lit(1), F.col("p"))).alias("shingle")
    )
    cand = key_pairs(pref, "shingle").distinct()
    i = F.size(F.array_intersect("sset_a", "sset_b")).cast("long")
    # same unrounded int64-derived ratio as ngram_jaccard_pairs — the two
    # constructions (and the DuckDB oracle) produce bit-identical doubles
    jac = let_col(i, lambda ic: ic.cast("double") / (F.col("c_a") + F.col("c_b") - ic))
    return (
        attach(attach(cand, "a", docs, "sset", "c"), "b", docs, "sset", "c")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # portable_hash60 provides 60 hash bits


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over whitespace tokens: bit_i = sign of the sum of ±1
    votes from each token hash's bit_i. Explode-free and SINGLE-PASS: one
    aggregate folds every token hash into a 60-element vote vector
    (zip_with accumulate), then one zip_with turns positive votes into set
    bits. The earlier per-bit spelling (60 independent aggregates over the
    hash array) produced a codegen blob that took ~8.6 s for 500 docs at
    sf0.01; this form is ~12× faster with bit-identical output. Uses
    portable_hash60 so the DuckDB oracle can recompute identical signatures.
    """
    hashes = F.transform(tokens(text_col), portable_hash60)
    # shiftright(h, b) with a COLUMN shift amount is SQL-only (the F.shiftright
    # python wrapper requires an int literal), hence the expr spelling.
    sig = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(_hashes, array_repeat(0, {SIMHASH_BITS}),
                      (acc, h) -> zip_with(acc,
                          transform(sequence(0, {SIMHASH_BITS - 1}),
                                    b -> CAST(shiftright(h, b) & 1 AS INT) * 2 - 1),
                          (a, v) -> a + v)),
            sequence(0, {SIMHASH_BITS - 1}),
            (v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (acc, x) -> acc + x)
        """
    )
    from sql4pandas_spark.operators.spread import spread_for_compute

    # project + spread before the per-token md5 hashing and 60-bit vote
    # fold — the dominant per-doc CPU (operators/spread.py)
    spread = spread_for_compute(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    )
    return (
        spread.withColumn("_hashes", hashes)
        .select("doc_id", sig.alias("simhash"))
    )


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by chunk banding + exact Hamming verification.

    The 60 signature bits band into 4 chunks at 16-bit shifts — (16, 16, 16,
    12) meaningful bits, since bits 60-63 are always zero. Any pair within
    Hamming distance 3 shares at least one chunk (pigeonhole) — recall is
    exact, not probabilistic.
    """
    chunks = F.array(
        *[
            F.xxhash64(F.lit(i), F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)))
            for i in range(4)
        ]
    )
    banded = sim.select("doc_id", "simhash", F.explode(chunks).alias("chunk_key"))
    xor = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    return (
        key_pairs(banded, "chunk_key", "simhash")
        .select("id_a", "id_b", F.bit_count(xor).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def contamination_overlap(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per candidate document, the number of
    distinct word n-gram shingles it shares with a benchmark corpus, plus a
    contamination flag at ``min_overlap`` — the standard n-gram-overlap
    check run before training on scraped data (eval questions leaking into
    the corpus).

    Shape for 100 TB: the benchmark side is always small (eval suites are
    KBs-to-MBs), so its distinct shingle set is BROADCAST and the only work
    over the big side is explode + broadcast hash join + per-doc count —
    no shuffle of document text, no driver collect. Candidates with zero
    overlap are kept via a left join so the output is a complete audit
    table, not just the hits.
    """
    bench_sh = shingle_rows(bench, text_col, shingle_n).distinct()
    doc_sh = shingle_rows(docs, text_col, shingle_n, id_col).distinct()
    return _overlap_audit(docs, doc_sh, F.broadcast(bench_sh), id_col, min_overlap)


def _overlap_audit(
    docs: DataFrame,
    doc_sh: DataFrame,
    bench_sh: DataFrame,
    id_col: str,
    min_overlap: int,
) -> DataFrame:
    """(id, n_overlap, contaminated) for every row of ``docs``: its
    distinct ``doc_sh`` shingles found in ``bench_sh``, zero-overlap
    documents kept by a left join so the output is a complete audit."""
    overlap = (
        doc_sh.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n = F.coalesce(F.col("n_overlap"), F.lit(0))
    return (
        docs.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            F.col(id_col),
            n.cast("long").alias("n_overlap"),
            (n >= min_overlap).alias("contaminated"),
        )
    )


def bloom_prefiltered_contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_overlap: int = 5,
    n_bits: int = 63 * 1024,
    k: int = 7,
) -> DataFrame:
    """:func:`contamination_overlap` with a BLOOM prefilter on the big
    side — result-identical (the Bloom filter has no false negatives, so
    pre-dropping definite non-members before the exact join can never
    lose a hit; false positives are removed by the join itself — the
    same lossless-composition proof as the prefix-filter Jaccard join).

    What it buys at 100 TB: the plain form broadcasts the benchmark's
    distinct shingle STRINGS — fine for KB-scale eval suites, but a
    multi-GB holdout corpus (dedup against the validation SPLIT, not
    just eval questions) exceeds broadcast limits and would force the
    corpus shingles through a shuffle join. Here the benchmark collapses
    to a fixed n_bits/63-word bit array riding the plan as a literal
    (8 KB at the default), the corpus-side membership test is pure JVM
    expression, and only the surviving ~fp-rate fraction of shingles
    enters the (now tiny) exact join. Corpus text still never shuffles.
    That join carries no broadcast hint on the benchmark side: AQE
    broadcasts it when its measured size allows, and a holdout past the
    broadcast limit takes a shuffle join of the surviving shingles.
    """
    from sql4pandas_spark.operators.sketches import bloom_build, bloom_contains

    bench_sh = shingle_rows(bench, text_col, shingle_n).distinct()
    words = bloom_build(bench_sh, "shingle", n_bits=n_bits, k=k)
    doc_sh = (
        shingle_rows(docs, text_col, shingle_n, id_col)
        .distinct()
        .filter(bloom_contains("shingle", words, n_bits=n_bits, k=k))
    )
    return _overlap_audit(docs, doc_sh, bench_sh, id_col, min_overlap)


#: Store-write file sizing for :func:`incremental_near_dedup` (guide §6:
#: aim for output files in the 128 MB - 1 GB range). Records-per-file
#: targets are scale-INDEPENDENT — they cap file size whether the batch
#: admits 200 docs (one file) or 10^9 (thousands of bounded files):
#: a shingle row is one distinct-shingle array per admitted doc (~KBs),
#: a band row is one 8-byte key — so ~256Ki docs/file and ~8Mi band
#: rows/file both land near the low end of the target range.
_STORE_DOCS_PER_SHINGLE_FILE = 1 << 18
_STORE_ROWS_PER_BAND_FILE = 1 << 23

#: Digest assigned to NULL-text rows: under this operator's contract all
#: NULL texts are the same content (IS NOT DISTINCT FROM semantics), so the
#: first NULL-text row ever ingested wins and later ones are duplicates.
#: Cannot collide with sha2 output (not hex, wrong length).
NULL_TEXT_DIGEST = "null-text"


def incremental_exact_dedup(
    batch: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> DataFrame:
    """Cross-batch exact dedup against a persistent digest store — the
    continuous-ingestion primitive: each arriving batch keeps only content
    never seen in ANY earlier batch (and once within itself, smallest id
    wins), then appends its new digests to the store.

    Scale shape: the store holds ONLY 32-byte sha2 digests — ~3 orders of
    magnitude smaller than the corpus — so at 100 TB the anti-join shuffles
    digests, never text, and the store stays a compact parquet directory
    that every ingestion job shares. The text column never moves: the batch
    is hashed in place, winners are chosen per digest, and the original
    rows are recovered with a left-semi join on the id.

    NULL contract: rows whose ``text_col`` is NULL all map to
    :data:`NULL_TEXT_DIGEST` — they dedup against each other (and across
    batches) exactly like any other content class instead of slipping
    through a never-matching NULL join key.

    Delivery semantics: with ``batch_id`` (foreachBatch's argument) the
    digests live in the batch-keyed store of sql4pandas_spark/stores.py —
    each batch overwrites its own partition and the anti-join reads the
    store without it — so a crash-replayed batch reproduces exactly
    its original output and the store never accumulates duplicate digests
    (exactly-once store semantics on top of foreachBatch's at-least-once
    replay). Without ``batch_id`` the store is a flat append: idempotent
    against full replays only because replayed digests are filtered by the
    anti-join, but a crash BETWEEN the store append and the downstream sink
    commit would drop the batch on replay — use batch_id in any restartable
    pipeline. A store must be used consistently with or without batch_id.

    Returns the kept subset of ``batch`` (all original columns). Call once
    per batch; wrap in foreachBatch for a streaming ingestion pipeline.
    """
    spark = batch.sparkSession
    hashed = batch.select(
        F.col(id_col),
        F.coalesce(
            F.sha2(F.col(text_col).cast("binary"), 256), F.lit(NULL_TEXT_DIGEST)
        ).alias("content_hash"),
    )
    # a replay of batch_id must see the store as it was BEFORE its
    # original (possibly half-committed) run
    store = read_batches(spark, store_dir, exclude_batch=batch_id)
    seen = store.select("content_hash") if store is not None else None
    fresh = (
        hashed.join(seen, "content_hash", "left_anti") if seen is not None else hashed
    )
    # materialize winners ONCE, before appending digests: the store append
    # must not race the (lazy) anti-join against the store it extends, and
    # the digest write + the returned join must not recompute the lineage
    winners = (
        fresh.groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
        .localCheckpoint(eager=True)
    )
    # skip the write for an EMPTY batch: a zero-row write creates a store
    # dir holding only _SUCCESS, and the next batch's read then fails
    # UNABLE_TO_INFER_SCHEMA instead of seeing an empty store (the same
    # defect the round-8 property differential caught in the passage
    # store; an absent partition is replay-equivalent to an empty one)
    if not winners.isEmpty():
        write_batch(winners.select("content_hash"), store_dir, batch_id)
    return batch.join(winners.select(id_col), id_col, "left_semi")


def keep_best_representative(
    docs: DataFrame,
    labels: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonicalize near-duplicate clusters: per ``cluster_id``, keep the
    highest-``quality_col`` document (ties broken on smallest id) — the
    FineWeb-style "keep the best copy, not an arbitrary one" refinement of
    near-dedup. ``labels`` is ``(id_col, cluster_id)`` from
    :func:`near_dedup_minhash` (or any clustering with the same shape).

    Returns one row per cluster: ``(cluster_id, rep_<id_col>, n_docs)``.

    Scale shape: one equi-join of labels back to the (quality, id) columns
    — never the text — then a single window pass partitioned by cluster_id
    (rank + count share the one shuffle). Cluster cardinality ~= corpus
    cardinality, so no skew beyond the clusters themselves; a pathological
    mega-cluster is bounded by the same banding that produced it.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    ranked = (
        docs.select(id_col, quality_col)
        .join(labels, id_col)
        .select(
            "cluster_id",
            F.col(id_col),
            F.row_number()
            .over(w.orderBy(F.desc(quality_col), id_col))
            .alias("_rn"),
            F.count(F.lit(1)).over(w).alias("n_docs"),
        )
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .select("cluster_id", F.col(id_col).alias(f"rep_{id_col}"), "n_docs")
    )


def split_leakage_audit(
    docs: DataFrame,
    labels: DataFrame,
    split_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """Audit a train/eval split for NEAR-duplicate leakage: content that is
    near-identical across the split boundary lets the model "see" eval data
    during training even after exact dedup. ``labels`` is
    ``(id_col, cluster_id)`` near-dup clustering; ``split_col`` is a boolean
    Column (true = train) — deterministic (hash-based) in any reproducible
    pipeline.

    Returns ONE row: ``(n_train, n_val, leaky_clusters, leaked_val_docs)``
    where leaky_clusters counts clusters spanning both sides and
    leaked_val_docs counts eval documents sharing a cluster with ≥1 train
    document — the rows you must drop (or move) before the split is clean.

    Scale shape: join on ids only (text never moves), one groupBy on
    cluster_id with conditional counters, then a global fold of the (tiny)
    per-cluster frame. Two shuffles total, both on narrow keys.
    """
    sides = docs.select(id_col, split_col.alias("_is_train")).join(labels, id_col)
    per_cluster = sides.groupBy("cluster_id").agg(
        F.sum(F.when(F.col("_is_train"), 1).otherwise(0)).alias("_tr"),
        F.sum(F.when(~F.col("_is_train"), 1).otherwise(0)).alias("_va"),
    )
    leaky = (F.col("_tr") > 0) & (F.col("_va") > 0)
    return per_cluster.agg(
        F.sum("_tr").alias("n_train"),
        F.sum("_va").alias("n_val"),
        F.sum(F.when(leaky, 1).otherwise(0)).alias("leaky_clusters"),
        F.sum(F.when(F.col("_tr") > 0, F.col("_va")).otherwise(0)).alias(
            "leaked_val_docs"
        ),
    )


def incremental_near_dedup(
    batch: DataFrame,
    store_dir: str,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-batch NEAR-dedup against a persistent admitted-docs store —
    the continuous-ingestion form of :func:`near_dedup_minhash`: each
    arriving batch admits only content that is not a near-duplicate of
    anything admitted in ANY earlier batch, then near-dedups within
    itself. The deterministic admission rule (each step SQL-replayable, so
    the whole multi-batch run carries an exact DuckDB oracle):

    1. **Cross-batch rejection** — a batch doc is rejected iff its TRUE
       shingle-set Jaccard with some already-admitted doc is >= threshold.
       Candidates come from an 8-byte band-key join of the batch's LSH
       bands against the store's (bucketed, never batch x store all-pairs);
       the verify uses the stored distinct-shingle arrays, so the decision
       is exact, not sketch-approximate.
    2. **Within-batch near-dedup of the survivors** — banded candidate
       pairs, exact verify, connected components; each cluster admits its
       smallest id (the component label IS the min id, so admitted ids =
       distinct cluster labels).
    3. **Store append** — admitted docs write (doc_id, band_key) rows and
       (doc_id, shingles) rows; bands are written LAST so a torn write
       leaves at-worst orphan shingle rows that can never become
       candidates.

    Store scale shape: band keys are 8 bytes x n_bands per admitted doc
    (the join side); the shingle arrays are the exact-verification sidecar
    — O(admitted tokens), the declared price of an exact contract (a
    signature-only store would verify approximately at ~n_hashes ints per
    doc instead). Both sides of every join shuffle ids/keys, never text.

    Delivery: plain store append — idempotent against FULL replays (a
    replayed batch's docs all reject against their own admitted rows), but
    a crash between the two store writes needs the batch re-run; wrap in
    foreachBatch with the batch-keyed store of sql4pandas_spark/stores.py
    (as :func:`incremental_exact_dedup` does) for exactly-once at scale.

    Returns the admitted subset of ``batch`` (original columns).
    """
    import os as _os

    spark = batch.sparkSession
    sigs = minhash_signatures(batch, text_col, id_col, n_hashes, shingle_n).persist()
    try:
        bands_dir = _os.path.join(store_dir, "bands")
        sh_dir = _os.path.join(store_dir, "shingles")
        store_bands = read_batches(spark, bands_dir)
        survivors = sigs
        if store_bands is not None:
            store_sh = spark.read.parquet(sh_dir)
            # two-sided (batch bands ⋈ store bands), so not key_pairs:
            # side a is the batch document, side b the admitted one
            cand = (
                band_keys(sigs, n_bands, n_hashes=n_hashes)
                .join(store_bands.withColumnRenamed("doc_id", "id_b"), "band_key")
                .select(F.col("doc_id").alias("id_a"), "id_b")
                .distinct()
            )
            rejected = (
                attach(attach(cand, "a", sigs, "shingles"), "b", store_sh, "shingles")
                .filter(_shingle_jaccard() >= threshold)
                .select(F.col("id_a").alias("doc_id"))
                .distinct()
            )
            survivors = sigs.join(rejected, "doc_id", "left_anti")
        pairs = lsh_candidate_pairs(survivors, n_bands, n_hashes=n_hashes)
        verified = verified_near_pairs(survivors, pairs, threshold)
        components = connected_components(verified)
        # min-label components => the cluster label IS the representative;
        # singletons (no verified pair) represent themselves
        admitted_ids = (
            survivors.select("doc_id")
            .join(components, "doc_id", "left")
            .select(F.coalesce("cluster_id", "doc_id").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)  # materialize BEFORE the store append
        )
        # persist the admitted-signature semi-join: the two store writes
        # below are independent actions over the same lineage — unpersisted,
        # each would re-run the full sigs⋈admitted pass (one extra scan of
        # the cached signature frame per batch)
        adm_sigs = sigs.join(admitted_ids, "doc_id", "left_semi").persist()
        # an empty batch must not write: zero-row appends create dirs
        # holding only _SUCCESS and the NEXT batch's store read fails
        # UNABLE_TO_INFER_SCHEMA instead of seeing an empty store (same
        # defect class the round-8 property differential caught in the
        # passage-gram store). The count is probed on admitted_ids — it is
        # already checkpointed (a scan of cached blocks) and adm_sigs is
        # empty iff admitted_ids is (admitted ids are drawn from sigs' own
        # doc_ids), so the probe costs no semi-join job — and it doubles
        # as the store-write SIZING input below.
        try:
            n_adm = admitted_ids.count()
            if n_adm:
                # Size the store files instead of inheriting adm_sigs'
                # compute width: the semi-join output keeps the spread
                # signature frame's partitioning (no exchange follows, so
                # AQE never coalesces it), and writing it directly strews
                # each batch's store across width-many tiny part files —
                # profiled at sf0.01: 16 files/batch, 52 of 64 under 8 KiB,
                # paying width write tasks + commits per batch and a
                # many-file listing+open on EVERY later batch's store read
                # (guide §6 small-files). The coalesce targets are
                # records-per-file constants (scale-independent file-size
                # rules, not cluster-size knobs): shingle rows are one
                # array per admitted doc, band rows n_bands 8-byte keys
                # per doc.
                sh_files = max(1, -(-n_adm // _STORE_DOCS_PER_SHINGLE_FILE))
                band_files = max(
                    1, -(-(n_adm * n_bands) // _STORE_ROWS_PER_BAND_FILE)
                )
                adm_sigs.select("doc_id", "shingles").coalesce(
                    sh_files
                ).write.mode("append").parquet(sh_dir)
                band_keys(adm_sigs, n_bands, n_hashes=n_hashes).coalesce(
                    band_files
                ).write.mode("append").parquet(bands_dir)
        finally:
            adm_sigs.unpersist()
        return batch.join(
            admitted_ids.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
        )
    finally:
        sigs.unpersist()


# ---------------------------------------------------------------------------
# Substring / passage-level exact dedup (round 8)
# ---------------------------------------------------------------------------


def _kgram_sites(
    df: DataFrame, min_tokens: int, text_col: str, id_col: str
) -> DataFrame:
    """One row per L-token-gram site: (doc_id, pos, gram hash), pos 1-based.

    The gram is hashed to 8 bytes row-local (portable_hash60 so a DuckDB
    oracle can replay it by value), which is what makes the inverted index
    narrow: at 100 TB the exploded stream is (id, int, 8B) per token, the
    document text itself never shuffles. Docs shorter than L contribute no
    sites (the ``when`` guard — a descending ``sequence`` would otherwise
    fabricate out-of-range slices, the §2.12 #9a pitfall).
    """
    L = min_tokens
    grams = let_col(
        tokens(F.col(text_col)),
        lambda w: F.when(
            F.size(w) >= L,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - L),
                lambda i: portable_hash60(F.array_join(F.slice(w, i + 1, L), " ")),
            ),
        ),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("pos0", "gram")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")


def duplicate_passage_spans(
    df: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring/passage-level exact dedup, detection half: for every doc,
    the maximal token spans whose every L-token window also occurs at some
    OTHER site in the corpus (another doc, or another position in the same
    doc) — the Lee et al. 2021 "Deduplicating Training Data Makes Language
    Models Better" notion of a duplicated >=L-token passage, the shape that
    catches boilerplate living INSIDE otherwise-distinct pages, which
    whole-document exact/near dedup (exact_dedup, near_dedup_minhash)
    cannot see.

    Distributed plan — the suffix-array of the single-node original is
    re-expressed as a bucketed k-gram inverted index (same skeleton as
    :func:`ngram_jaccard_pairs`):

    1. row-local L-gram hashing (JVM HOFs, one 8-byte hash per token) —
       text never leaves its scan task;
    2. one count shuffle keyed by gram hash -> grams with >=2 sites
       ("duplicated grams"; map-side combine collapses the heavy keys);
    3. join sites back to the duplicated set (narrow: id, pos, 8B) — only
       duplicated sites survive, a tiny fraction of real corpora;
    4. per-doc run-merge of consecutive duplicated start positions via one
       window on (doc_id, pos): starts p, p+1, ..., q merge into the span
       [p, q+L-1]. Output: (doc_id, span_start, span_end, n_tokens),
       positions 1-based over the whitespace-lowercase token stream.

    A span's n_tokens is >= L by construction; overlapping occurrences and
    partial (prefix/suffix) sharing fall out of the windowing naturally.
    At 100 TB the one skew consideration is a gram shared by millions of
    sites (one large window partition) — but unlike ngram_jaccard's
    pair-join (quadratic in a hot shingle's doc count, hence its
    max_doc_freq cap) this stays LINEAR: a hot gram's partition holds
    (id, pos, 8B) rows only, so a million-site boilerplate gram is ~24 MB
    of sortable rows, and dropping hot grams would be wrong here anyway —
    they are exactly the boilerplate the operator exists to find.

    The duplicated-site filter is a count-over-window on the gram key,
    NOT groupBy(gram)+join-back: the join form puts the sites subtree on
    BOTH join sides, so Spark scans the corpus and md5-hashes every gram
    twice and shuffles three times; the window form computes sites once
    and shuffles twice (measured at sf0.1: 2.77 s -> 1.93 s, values
    identical).
    """
    sites = _kgram_sites(df, min_tokens, text_col, id_col)
    gwin = Window.partitionBy("gram")
    covered = (
        sites.withColumn("n_sites", F.count(F.lit(1)).over(gwin))
        .filter(F.col("n_sites") >= 2)
        .select("doc_id", "pos")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    runs = covered.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(win) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("run_id", F.sum("brk").over(win))
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_tokens - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        )
    )


def scrub_duplicate_passages(
    df: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring dedup, removal half: rewrite each doc's text with every
    duplicated->=L-token passage removed EXCEPT at its canonical (first)
    occurrence — dedup that keeps one copy of shared boilerplate in the
    corpus instead of deleting the information outright.

    Canonicality is per gram: of all sites sharing a gram value, the
    lexicographically smallest (doc_id, pos) is canonical. A token
    position survives iff it is covered by no duplicated gram at all, or
    by at least one canonical site (so the first occurrence of a passage
    keeps its text even when a later doc repeats it). Deterministic on
    every engine/partitioning — no "whichever task got there first".

    Scale shape: on top of :func:`duplicate_passage_spans` steps 1-3, the
    canonical flag is one more window over gram (duplicated sites only),
    covered positions fan out xL from duplicated sites only, and the
    removal sets come back to the docs as one aggregated array join on
    doc_id. Output: (doc_id, text, n_tokens_before, n_tokens_after) with
    ``text`` rebuilt from the surviving tokens (single-space joined).
    """
    L = min_tokens
    sites = _kgram_sites(df, min_tokens, text_col, id_col)
    gwin = Window.partitionBy("gram").orderBy("doc_id", "pos")
    flagged = (
        sites.withColumn("n_sites", F.count(F.lit(1)).over(gwin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(F.col("n_sites") >= 2)
        .withColumn("canon", F.row_number().over(gwin) == 1)
    )
    removals = _removal_sets(flagged, L)
    return _apply_removals(df, removals, text_col, id_col)


def _removal_sets(flagged: DataFrame, L: int) -> DataFrame:
    """(doc_id, rm: array<int>) — token positions to drop, from flagged
    duplicated sites carrying a ``canon`` boolean: a position is removed
    iff covered by >=1 redundant site and no canonical one."""
    positions = flagged.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))).alias("p"),
        "canon",
    )
    return (
        positions.groupBy("doc_id", "p")
        .agg(F.max("canon").alias("keep"))
        .filter(~F.col("keep"))
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("rm"))
    )


def _apply_removals(
    df: DataFrame, removals: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rebuild each doc's text without the removed token positions: one
    array join on the id, one index-aware filter HOF — text stays
    row-local."""
    w = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), w.alias("w"))
    joined = base.join(removals, "doc_id", "left").withColumn(
        "rm", F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    )
    # Surviving positions via array_except (hash-set: O(tokens + |rm|)) then
    # an O(1)-per-element gather — replaces the original
    # filter(w, (t,i) -> !array_contains(rm, i+1)) HOF, whose linear
    # membership scan made the rebuild O(tokens x |rm|) per row (quadratic
    # row-local when a long doc is mostly boilerplate; round-8 verdict
    # watch-list). array_except keeps first-array order, so positions stay
    # ascending; the sequence is guarded because sequence(1, 0) counts DOWN.
    # A/B at the 30x worst-case regime (every position removed) in
    # BASELINE.md; values bit-identical (same entries hash-green).
    keptpos = F.array_except(
        F.sequence(F.lit(1), F.size("w")), F.col("rm")
    )
    kept = F.when(
        F.size("w") > 0,
        F.transform(keptpos, lambda p: F.element_at(F.col("w"), p)),
    ).otherwise(F.slice(F.col("w"), F.lit(1), F.lit(0)))
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias(text_col),
        F.size("w").alias("n_tokens_before"),
        F.size(kept).alias("n_tokens_after"),
    )


def incremental_passage_scrub(
    batch: DataFrame,
    store_dir: str,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> DataFrame:
    """Cross-batch substring/passage dedup — the continuous-ingestion form
    of :func:`scrub_duplicate_passages`, completing the incremental trio
    (exact: :func:`incremental_exact_dedup`, near:
    :func:`incremental_near_dedup`, passage: this): each arriving batch is
    scrubbed of every >=L-token passage already INGESTED in any earlier
    batch (history holds the canonical copy) or repeated within the batch
    itself (batch-first occurrence kept), then the batch's gram hashes
    append to the store.

    Store = one 8-byte gram hash per ingested token position (distinct) —
    text never enters it. That is the honest cost of passage-level
    history (Lee et al. run suffix arrays over the full corpus offline
    for the same reason); it is still ~an order smaller than the corpus
    and shuffles as fixed-width longs. Site flags come from ONE gram-keyed
    exchange (store left-join + count/first windows share the
    partitioning); covered positions fan out xL from duplicated sites
    only.

    Canonicality across batches: a gram already in the store is
    historical — every batch site of it is redundant. A gram new to the
    store keeps its first (doc_id, pos) batch site. Deterministic on
    every engine/partitioning.

    Delivery semantics mirror :func:`incremental_exact_dedup`: with
    ``batch_id`` the gram store is the batch-keyed store of
    sql4pandas_spark/stores.py (own partition overwritten, read without
    it) — crash-replaying a batch reproduces its original output byte-for-byte
    (exactly-once store on top of foreachBatch's at-least-once replay).
    The removal sets are materialized (localCheckpoint) BEFORE the store
    append so the lazy plan can never read its own appended grams (which
    would mark the whole batch historical and scrub everything).

    Returns (doc_id, text, n_tokens_before, n_tokens_after) for the batch,
    scrubbed. NULL-text rows pass through like :func:`scrub_duplicate_passages`.
    """
    L = min_tokens
    spark = batch.sparkSession
    sites = _kgram_sites(batch, min_tokens, text_col, id_col)
    store = read_batches(spark, store_dir, exclude_batch=batch_id)
    seen = store.select("gram").distinct() if store is not None else None
    if seen is not None:
        sites = sites.join(
            seen.withColumn("_seen", F.lit(True)), "gram", "left"
        ).withColumn("_seen", F.coalesce(F.col("_seen"), F.lit(False)))
    else:
        sites = sites.withColumn("_seen", F.lit(False))
    gwin = Window.partitionBy("gram").orderBy("doc_id", "pos")
    full = gwin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # persist the store-joined sites: the removals and new-grams
    # checkpoints below are two independent jobs over the same lineage —
    # unpersisted, each would re-scan the batch, re-md5 every gram, and
    # re-read the store (the sibling incremental_near_dedup persists its
    # shared sigs subtree for the same reason)
    sites = sites.persist()
    try:
        flagged = (
            sites.withColumn("n_sites", F.count(F.lit(1)).over(full))
            .filter(F.col("_seen") | (F.col("n_sites") >= 2))
            .withColumn(
                "canon", ~F.col("_seen") & (F.row_number().over(gwin) == 1)
            )
        )
        removals = _removal_sets(flagged, L).localCheckpoint(eager=True)
        new_grams = (
            sites.filter(~F.col("_seen"))
            .select("gram")
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        sites.unpersist()
    # A gram-less batch (empty, or every doc shorter than L) must not
    # write: a zero-row dynamic-overwrite creates a store dir holding only
    # _SUCCESS, and the NEXT batch's read then fails UNABLE_TO_INFER_SCHEMA
    # instead of seeing an empty store (found by the round-8 property
    # differential). An absent partition is replay-equivalent to an empty
    # one, so skipping preserves the exactly-once semantics.
    if not new_grams.isEmpty():
        write_batch(new_grams, store_dir, batch_id)
    return _apply_removals(batch, removals, text_col, id_col)


def dedup_report(
    clusters: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """Corpus duplication report — the headline numbers quoted from any
    dedup run, computed from a (row, cluster_id) labeling (exact, LSH,
    or SimHash — any of this module's cluster outputs): total docs,
    cluster count, singletons, docs in multi-doc clusters, how many
    rows a keep-one-per-cluster pass would REMOVE, the largest cluster,
    and the removable fraction in integer ppm. "removable_ppm = 180000"
    is the '18% of the crawl is duplicates' number that decides whether
    dedup runs at all.

    Scale shape: one map-combined groupBy(cluster) over the labels
    frame (narrow rows out), then a single 1-row aggregate over the
    |clusters|-sized frame. No joins, no text, no second pass.
    """
    sizes = clusters.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return sizes.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_docs"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.count(F.when(F.col("_n") == 1, 1)).alias("n_singletons"),
        F.coalesce(
            F.sum(F.when(F.col("_n") >= 2, F.col("_n"))), F.lit(0)
        ).alias("n_dup_docs"),
        F.coalesce(
            F.sum(F.when(F.col("_n") >= 2, F.col("_n") - 1)), F.lit(0)
        ).alias("n_removable"),
        F.max("_n").alias("max_cluster_size"),
    ).select(
        "n_docs",
        "n_clusters",
        "n_singletons",
        "n_dup_docs",
        "n_removable",
        "max_cluster_size",
        F.expr(
            "CASE WHEN n_docs > 0 THEN n_removable * 1000000 DIV n_docs"
            " ELSE 0 END"
        ).alias("removable_ppm"),
    )
