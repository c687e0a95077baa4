"""Approximate-aggregation sketches beyond the built-ins (SURVEY.md §2.4:
HLL distinct counts and KLL quantiles are Spark built-ins; heavy hitters —
approximate top-k by frequency — is not).

heavy_hitters_topk is the two-phase candidate/recount shape used at scale:

1. **Candidate generation, map-side only**: every Arrow batch counts its
   own values in pandas and emits just its top-M items (the per-batch
   counts are discarded — phase 2 recounts exactly, so shipping them
   would be dead data). No shuffle, no aggregation state proportional to
   global cardinality — the reason this exists: a plain groupBy+count
   over a high-cardinality column (URLs, doc hashes) carries every
   distinct item through partial-agg hash maps and the shuffle, while
   this carries at most M rows per batch.
2. **Exact recount of candidates only**: the (tiny) candidate set
   broadcast-semi-joins the input, and the exact groupBy runs over rows of
   candidate items alone → TakeOrdered top-k.

Accuracy contract: the result can only miss a true top-k item that failed
to make the per-batch top-M in EVERY batch it appears in. With batch rows
≤ R, an item of global frequency f spread over B batches averages f/B per
batch, so M ≥ (distinct items that can out-count f/B in one batch) makes a
miss impossible; in particular cardinality ≤ M makes the result EXACT
(how the catalog oracle checks it), and under Zipfian skew M = 4k is the
standard working choice. Counts reported are exact for every returned
item (phase 2 recounts), so errors can only be omissions, never wrong
counts — the property tests/test_sketches.py pins under adversarial skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def heavy_hitters_topk(
    df: DataFrame,
    item_col: str,
    k: int = 10,
    candidates_per_batch: int | None = None,
) -> DataFrame:
    """Approximate top-k most frequent values of ``item_col``.

    Output: (item, n) ordered by (n desc, item) — tie-broken so the row
    set is deterministic. ``candidates_per_batch`` (M) defaults to
    ``max(64, 4 * k)``.
    """
    m = candidates_per_batch or max(64, 4 * k)

    def batch_topm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # dropna=False: NULL is a countable value class (SQL GROUP BY
            # has a NULL group) — dropping it would silently omit a
            # NULL-heavy column's true top hitter
            top = pdf[item_col].value_counts(dropna=False).head(m)
            yield pd.DataFrame({"item": top.index})

    candidates = (
        df.select(item_col)
        .mapInPandas(
            batch_topm,
            schema=f"item {df.schema[item_col].dataType.simpleString()}",
        )
        .distinct()
    )
    return (
        df.join(
            F.broadcast(candidates),
            df[item_col].eqNullSafe(candidates["item"]),  # NULL must survive
            "left_semi",
        )
        .groupBy(F.col(item_col).alias("item"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "item")
        .limit(k)
    )


def grid_bin(value_col: str, lo: float, hi: float, n_bins: int) -> Column:
    """Bin of ``value_col`` on the fixed grid of ``n_bins`` equal bins over
    [lo, hi): ``floor((x - lo) * n_bins / (hi - lo))`` clamped to
    [0, n_bins - 1], float-exact arithmetic that DuckDB replays
    bit-for-bit. Out-of-range values, +/-Infinity included, clamp into
    the edge bins. NULL and NaN have no bin: the result is NULL, and
    every histogram drops it (profile_columns' n_nulls is the NULL
    signal). Unguarded, NaN passes isNotNull and floor(NaN) casts to 0,
    so it would silently land in bin 0."""
    if n_bins < 1 or not hi > lo:
        raise ValueError(
            f"need n_bins >= 1 and hi > lo, got {n_bins} over [{lo}, {hi}]"
        )
    x = F.col(value_col).cast("double")
    raw = F.floor((x - F.lit(lo)) * F.lit(float(n_bins)) / F.lit(hi - lo))
    return F.when(
        x.isNotNull() & ~F.isnan(x),
        F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw)),
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Fixed-width MERGEABLE histogram of a numeric column: one row per
    occupied bin ``(bin, n)`` of :func:`grid_bin` — the same binning as
    distribution_drift's PSI, so DuckDB replays it bit-for-bit.

    This is the mergeable-state form of a quantile sketch: histograms of
    DISJOINT batches over the SAME [lo, hi, n_bins] grid combine by pure
    per-bin addition (merge_histograms / merge_agg_states), which is what
    makes cross-batch percentile maintenance possible without any raw
    re-scan — the [lo, hi] grid must therefore be FIXED up front (domain
    knowledge), not derived per batch, or states stop being addable.
    Resolution contract: quantile answers are exact to one bin width.
    """
    return (
        df.select(grid_bin(value_col, lo, hi, n_bins).cast("long").alias("bin"))
        .dropna()
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histograms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Combine two value_histogram states over the same grid: per-bin
    addition (one groupBy over <= 2*n_bins narrow rows, and Catalyst
    adds no new exchange when both sides are already hash-partitioned
    on bin — the merge_agg_states property)."""
    return a.unionByName(b).groupBy("bin").agg(F.sum("n").alias("n"))


def quantiles_from_histogram(
    hist: DataFrame,
    pcts: list[int],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Read discrete percentile estimates off a value_histogram state:
    for each integer percentile p, the first bin whose cumulative count
    reaches rank ``ceil(p/100 * n)`` (integer-exact as (p*n+99) DIV 100)
    and that bin's LOWER edge as the estimate — no interpolation, so the
    answer is deterministic and engine-replayable; error is bounded by
    one bin width by construction.

    Returns one row per requested percentile: ``(pct, n_total, bin,
    est_value)``. The cumulative sum is a single-partition window over
    the |bins|-row state — bounded metadata by design (n_bins is a
    constant, never data-sized), the same justification as the PSI
    histogram tails.
    """
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bin",
        F.sum("n").over(w).alias("_cum"),
        F.sum("n").over(wf).alias("_tot"),
    )
    width = (hi - lo) / float(n_bins)
    per_pct = F.array(
        *[
            F.struct(
                F.lit(p).cast("long").alias("pct"),
                F.max("_tot").alias("n_total"),
                F.min(
                    F.when(
                        F.col("_cum")
                        >= F.expr(f"({p} * _tot + 99) DIV 100"),
                        F.col("bin"),
                    )
                ).alias("bin"),
            )
            for p in pcts
        ]
    )
    agg = cum.agg(per_pct.alias("_a")).select(F.explode("_a").alias("q"))
    return agg.select(
        "q.pct",
        "q.n_total",
        "q.bin",
        (F.lit(lo) + F.col("q.bin") * F.lit(width)).alias("est_value"),
    )


def heavy_hitter_state(
    df: DataFrame, item_col: str, m: int
) -> DataFrame:
    """One batch's heavy-hitter candidate state: exact per-item counts
    truncated to the top ``m`` items by (count desc, item) — the
    bounded, MERGEABLE unit of cross-batch top-k maintenance (the
    frequency sibling of value_histogram's quantile state). Determinism:
    the truncation tie-breaks on the item itself.
    """
    counts = df.groupBy(F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.orderBy(F.desc("n"), F.asc("item")).limit(m)


#: Bloom words hold 63 bits each — the sign bit is never used, so the
#: membership test's bitwiseAND stays positive-arithmetic in BOTH engines
#: (no signed-overflow spelling differences to reconcile).
BLOOM_WORD_BITS = 63


def _bloom_positions(item, n_bits: int, k: int) -> list:
    """The ``k`` probe bit positions of ``item``: seed-43 affine
    permutations of portable_hash60 reduced mod 2^31-1, then mod n_bits."""
    from sql4pandas_spark.operators.dedup import MERSENNE31, affine_hashes
    from sql4pandas_spark.operators.text import portable_hash60

    hm = F.pmod(portable_hash60(item.cast("string")), F.lit(MERSENNE31))
    return [F.pmod(p, F.lit(n_bits)) for p in affine_hashes(hm, k, seed=43)]


def bloom_build(
    items: DataFrame, item_col: str, n_bits: int = 63 * 1024, k: int = 7
) -> list[int]:
    """Collect a Bloom filter over the DISTINCT values of ``item_col`` as
    a bounded list of 63-bit words — the set-MEMBERSHIP member of the
    sketch family: "is this item possibly in the set" in O(k) bit probes
    from a FIXED-size state, with false positives (rate
    ~(1 - e^{-kn/m})^k) but NEVER false negatives. That asymmetry is the
    scale lever: a prefilter that can only over-keep composes LOSSLESSLY
    with an exact verify (:func:`sql4pandas_spark.operators.dedup.`
    ``bloom_prefiltered_contamination``), the same proof shape as the
    prefix-filter Jaccard join.

    The collect is bounded METADATA (n_bits/63 int64 words — 8 KB at the
    default, never data-sized; the IVF-centroid justification class), so
    the filter rides query plans as an array literal and the membership
    test is pure JVM expression — zero shuffles, zero broadcast of the
    underlying strings. Bits come from the MinHash kernel's k affine
    permutations of portable_hash60 (operators/dedup.affine_hashes, seed
    43): fully deterministic and DuckDB-replayable. Merge law: filters
    over the same (n_bits, k) grid OR together.
    """
    if n_bits % BLOOM_WORD_BITS:
        raise ValueError(f"n_bits must be a multiple of {BLOOM_WORD_BITS}")
    pos = _bloom_positions(F.col(item_col), n_bits, k)
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    (p / BLOOM_WORD_BITS).cast("int").alias("w"),
                    F.pmod(p, F.lit(BLOOM_WORD_BITS)).cast("int").alias("b"),
                )
                for p in pos
            ]
        )
    )
    # 2^b via an array literal: shiftleft's bit count must be a Python
    # int in the DataFrame API, and 63 positive longs cover every word bit
    pow2 = F.array(*[F.lit(1 << i) for i in range(BLOOM_WORD_BITS)])
    rows = (
        items.filter(F.col(item_col).isNotNull())
        .select(cells.alias("c"))
        .groupBy(F.col("c.w").alias("w"))
        .agg(F.bit_or(F.element_at(pow2, F.col("c.b") + 1)).alias("word"))
        .collect()
    )
    words = [0] * (n_bits // BLOOM_WORD_BITS)
    for r in rows:
        words[r["w"]] = r["word"]
    return words


def bloom_contains(
    item, words: list[int], n_bits: int = 63 * 1024, k: int = 7
):
    """JVM membership predicate against a :func:`bloom_build` word list:
    TRUE iff all ``k`` probe bits are set (possibly-present; definitely
    absent on FALSE). Probes the same affine bit positions as
    :func:`bloom_build`. The word list rides the plan as an array literal —
    whole-stage-codegen-friendly, no shuffle, no UDF."""
    item = F.col(item) if isinstance(item, str) else item
    arr = F.array(*[F.lit(w) for w in words])
    pow2 = F.array(*[F.lit(1 << i) for i in range(BLOOM_WORD_BITS)])
    cond = F.lit(True)
    for p in _bloom_positions(item, n_bits, k):
        w = F.element_at(arr, (p / BLOOM_WORD_BITS).cast("int") + 1)
        bit = F.element_at(pow2, F.pmod(p, F.lit(BLOOM_WORD_BITS)).cast("int") + 1)
        cond = cond & (w.bitwiseAND(bit) != 0)
    return cond


def minhash_set_signatures(
    df: DataFrame, key_col: str, item_col: str, n_hashes: int = 64
) -> DataFrame:
    """Per-key MinHash signature of the key's DISTINCT item set —
    ``(key, sig array<long>)`` with ``sig[i] = min over items of
    perm_i(h60(item) mod M31)`` — the set-overlap member of the
    mergeable-sketch family: signatures of disjoint batches combine by
    ELEMENTWISE MIN (:func:`merge_set_signatures`), because min over a
    union is the min of mins. P(sig_a[i] == sig_b[i]) = Jaccard(A, B),
    so ``matches / n_hashes`` estimates set overlap between any two keys
    from two n_hashes-long vectors — no pairwise set intersection, which
    at 100 TB is the difference between joining two billion-row item
    sets per key pair and comparing two 64-long arrays
    (:func:`estimated_jaccard_pairs`). Standard error ~ sqrt(J(1-J)/n).

    Deterministic end-to-end (portable_hash60 + the MinHash kernel's
    affine map, operators/dedup.affine_hashes, seed 17; items arrive as
    rows, so the min is an aggregate) so a DuckDB oracle replays every
    signature component bit-for-bit. Scale shape: one map-combined
    groupBy(key) carrying n_hashes longs — items never meet each other.
    """
    from sql4pandas_spark.operators.dedup import MERSENNE31, affine_hashes
    from sql4pandas_spark.operators.text import portable_hash60

    hm = F.pmod(portable_hash60(F.col(item_col).cast("string")), F.lit(MERSENNE31))
    mins = [
        F.min(p).alias(f"_h{i}")
        for i, p in enumerate(affine_hashes(hm, n_hashes, seed=17))
    ]
    return (
        df.filter(F.col(item_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(*mins)
        .select(
            "key", F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("sig")
        )
    )


def merge_set_signatures(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two per-key signature states: elementwise min per key (keys
    absent from one side pass through — min over an empty batch is the
    identity). One groupBy over narrow (key, n_hashes·8B) rows."""
    return (
        a.unionByName(b)
        .groupBy("key")
        .agg(
            F.reduce(
                F.collect_list("sig"),
                F.lit(None).cast("array<long>"),
                lambda acc, s: F.when(acc.isNull(), s).otherwise(
                    F.zip_with(acc, s, lambda x, y: F.least(x, y))
                ),
            ).alias("sig")
        )
    )


def estimated_jaccard_pairs(sigs: DataFrame, n_hashes: int) -> DataFrame:
    """All key-pair overlap estimates from a signature frame:
    ``(key_a, key_b, est_matches, est_jaccard_e4)`` for key_a < key_b.
    The pair join is |keys|² over n_hashes-long arrays — keys are
    segments/cohorts (bounded), never items; the match count is one JVM
    ``aggregate(zip_with(...))`` fold per pair, and the estimate is
    integer-exact (matches and e4-quantized ratio)."""
    a = sigs.select(F.col("key").alias("key_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("key").alias("key_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .withColumn("est_matches", matches)
        .select(
            "key_a",
            "key_b",
            "est_matches",
            F.expr(f"CAST(est_matches * 10000 DIV {n_hashes} AS BIGINT)").alias(
                "est_jaccard_e4"
            ),
        )
    )


def _cms_cols(item_col: str, depth: int, width: int):
    """The ``depth`` deterministic cell columns of a count-min sketch:
    ``col_r(x) = ((a_r·(h60(x) mod M31) + b_r) mod M31) mod width`` — the
    seed-29 affine permutations of the MinHash kernel
    (operators/dedup.affine_hashes) over portable_hash60 reduced below 2^31
    FIRST, so every product stays under 2^62 (int64-exact in Spark AND
    DuckDB). Returns a list of (row, col) structs.
    """
    from sql4pandas_spark.operators.dedup import MERSENNE31, affine_hashes
    from sql4pandas_spark.operators.text import portable_hash60

    hm = F.pmod(portable_hash60(F.col(item_col)), F.lit(MERSENNE31))
    return [
        F.struct(
            F.lit(r).cast("int").alias("row"),
            F.pmod(p, F.lit(width)).cast("int").alias("col"),
        )
        for r, p in enumerate(affine_hashes(hm, depth, seed=29))
    ]


def count_min_state(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """One batch's count-min sketch: per-cell counts ``(row, col, n)`` over
    a fixed ``depth × width`` grid — the point-frequency member of the
    mergeable-state family (value_histogram: quantiles;
    heavy_hitter_state: top-k; HLL: distinct; this: "how often did THIS
    item occur", answerable for ANY item in O(depth) from a state of at
    most depth·width rows regardless of cardinality).

    Error contract (the classic CMS guarantee, opposite sign to
    heavy-hitters): estimates NEVER undercount — an item's cell can only
    gain counts from hash-colliding items — and overcount by more than
    2N/width in any single row with probability < 1/2 per row, so the
    min over ``depth`` rows exceeds true+2N/width with probability
    < 2^-depth. Fully deterministic (portable_hash60 + fixed affine
    params), so a DuckDB oracle replays every cell bit-for-bit.

    Scale shape: one map-combined groupBy over depth×|rows| narrow
    fan-out; the state is ≤ depth·width cells — constant-size, like the
    histogram grid, and merges by pure per-cell addition.
    """
    cells = F.explode(F.array(*_cms_cols(item_col, depth, width)))
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(cells.alias("cell"))
        .groupBy(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_cms_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two count-min states over the same (depth, width, seed) grid:
    per-cell addition — same mergeability law as merge_histograms, same
    exactly-once requirement under streaming replay (additive)."""
    return a.unionByName(b).groupBy("row", "col").agg(F.sum("n").alias("n"))


def cms_lookup(
    state: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for ``items`` against a count-min state:
    recompute each item's ``depth`` cells, join the state, take the MIN
    — ``(item, cms_n)``. An item absent from the corpus reads 0 only if
    one of its cells is empty; otherwise it reads the colliders' mass
    (the never-undercount contract). The join is |items|·depth narrow
    rows against a ≤ depth·width-row state — broadcast-sized by
    construction."""
    probes = items.select(
        F.col(item_col).alias("item"),
        F.explode(F.array(*_cms_cols(item_col, depth, width))).alias("cell"),
    ).select("item", F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    return (
        probes.join(F.broadcast(state), ["row", "col"], "left")
        .fillna(0, ["n"])
        .groupBy("item")
        .agg(F.min("n").alias("cms_n"))
    )


def merge_heavy_hitter_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two candidate states by per-item addition (one groupBy over
    <= |a|+|b| narrow rows). Accuracy contract, inherited from
    heavy_hitters_topk and now applied ACROSS batches: a merged count
    can undercount an item only by the contributions of batches where
    it missed that batch's top-m — so with per-batch distinct items
    <= m the merged state is EXACT (how the catalog oracle checks it),
    and under Zipfian skew m = 4k is the standard working choice. An
    item that misses every batch is absent. Counts present are sums of
    exact per-batch counts — never inflated. State stays bounded at
    <= batches x m rows; re-truncate periodically at scale.
    """
    return a.unionByName(b).groupBy("item").agg(F.sum("n").alias("n"))
