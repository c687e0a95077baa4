"""Exact-quota stratified sampling (SURVEY.md §2.9 data_mix family).

`quota_sample` keeps EXACTLY min(quota, stratum_size) rows per stratum,
deterministically (hash-ordered, so the same rows on every engine, run, and
partitioning) — the "fixed token budget per language/domain" shape of a
training-data mix, where fraction-based sampling (`sampleBy`,
`stratified_mix_hash`) can't hit a hard per-stratum count.

The naive plan — row_number over a window partitioned by the stratum —
shuffles EVERY row into as many tasks as there are strata. With 5 languages
over 100 TB that is 5 tasks doing all the work: the definition of a skew
bottleneck. The two-phase shape here keeps the bulk scan map-side:

1. **Tiny stats + broadcast**: per-stratum counts (one map-combined agg,
   |strata| rows), broadcast back.
2. **Map-side pre-filter**: the 60-bit portable hash is ~uniform on
   [0, 2^60), so rows with `hash < m/n_s * 2^60` for
   `m = safety*quota + 16 + 4*sqrt(safety*quota)` are a superset of the
   quota winners with overwhelming probability (binomial lower tail
   < 1e-9 at EVERY quota — the additive slack covers the small-quota
   regime a bare multiplicative margin misses). Everything else — the
   vast majority — never shuffles.
3. **Exact trim of survivors only**: the window runs over ~m rows per
   stratum, i.e. O(strata × quota) shuffle volume independent of input
   size.
4. **Shortfall guard**: with `verify=True` the kept-vs-expected counts are
   checked with one extra action and a shortfall RAISES (telling the
   caller to raise `safety`) instead of silently under-filling a stratum.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sql4pandas_spark.operators.text import portable_hash60, tokens

_HASH_SPAN = float(1 << 60)


def quota_sample(
    df: DataFrame,
    stratum_col: str,
    quota: int,
    id_col: str = "doc_id",
    safety: float = 2.0,
    verify: bool = False,
) -> DataFrame:
    """Keep exactly ``min(quota, n_stratum)`` rows per stratum, chosen by
    portable-hash order (ties impossible: ``id_col`` breaks them). Returns
    the kept rows with their original columns. ``id_col`` must be non-NULL
    and unique (a NULL id hashes to NULL and would be dropped); a NULL
    stratum is a stratum like any other (SQL GROUP BY semantics — the
    counts join is null-safe).
    """
    if quota <= 0:
        raise ValueError("quota must be positive")
    h = portable_hash60(F.col(id_col).cast("string"))
    counts = df.groupBy(F.col(stratum_col).alias("_stratum")).agg(
        F.count(F.lit(1)).alias("_n_s")
    )
    want: dict | None = None
    if verify:
        # materialize the counts ONCE: the expectation below and the join
        # both reuse the collected rows, so verification costs exactly one
        # extra action (the kept-counts aggregate), not extra input scans
        rows = counts.collect()
        want = {r["_stratum"]: min(quota, r["_n_s"]) for r in rows}
        counts = df.sparkSession.createDataFrame(rows, counts.schema)
    joined = df.join(
        F.broadcast(counts), F.col(stratum_col).eqNullSafe(F.col("_stratum"))
    ).drop("_stratum")

    # strata at-or-under quota keep everything (no pre-filter — and no
    # float comparison: a 60-bit hash within one double-ulp of 2^60 would
    # round up and drop a keep-all row); larger strata keep the hash
    # prefix below an integer cutoff (rounding is safe: the pre-filter is
    # a superset heuristic and the guard below catches any shortfall).
    # The expected survivor count is safety*quota PLUS an additive
    # 16 + 4*sqrt(safety*quota) slack: a purely multiplicative margin is a
    # large-quota asymptotic — at quota=1 the winner's hash beats a
    # 1.5/n_s cutoff only ~83% of the time (found by the property
    # differential; the Chernoff tail of the slacked form is < 1e-9 at
    # every quota)
    m = float(safety) * quota
    frac = F.least(  # cap at 1 BEFORE scaling: small strata push m/n_s
        F.lit(1.0),  # past 8 and the uncapped product past long range
        F.lit(m + 16.0 + 4.0 * math.sqrt(m)) / F.col("_n_s"),
    )
    cutoff = (frac * F.lit(_HASH_SPAN)).cast("long")
    survivors = joined.filter((F.col("_n_s") <= quota) | (h < cutoff))

    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    kept = (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn", "_n_s")
    )
    if verify:
        got = {
            r[0]: r[1]
            for r in kept.groupBy(stratum_col)
            .agg(F.count(F.lit(1)))
            .collect()
        }
        if got != want:
            short = {s: (got.get(s, 0), w) for s, w in want.items() if got.get(s, 0) != w}
            raise RuntimeError(
                f"quota_sample pre-filter shortfall {short} (kept, expected) "
                f"— raise safety (currently {safety})"
            )
    return kept


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    target_total: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-rebalanced corpus mix: sample so stratum l's share of the
    output is proportional to ``n_l**alpha`` (alpha < 1 up-weights rare
    strata — the standard multilingual rebalancing; alpha=1 keeps the
    natural mix, alpha=0 targets uniform). Per-stratum keep probability is
    ``min(1, q_l * target_total / n_l)`` with ``q_l = n_l^alpha / Σ n_k^alpha``,
    realized as the deterministic portable-hash threshold (same kept set on
    every engine/run/partitioning, like :func:`quota_sample`).

    Rates are computed on the |strata|-row count frame (a window over a
    handful of rows) and broadcast back; the corpus-side work is one
    map-side filter — no shuffle of data rows at all. Note the exact-count
    variant is :func:`quota_sample`; this one preserves
    independent-per-row inclusion (expected counts), which is what a
    temperature mix specifies.
    """
    counts = df.groupBy(F.col(stratum_col).alias("_stratum")).agg(
        F.count(F.lit(1)).alias("_n_s")
    )
    w = F.pow(F.col("_n_s").cast("double"), F.lit(float(alpha)))
    denom = F.sum(w).over(Window.partitionBy())
    frac = F.least(
        F.lit(1.0), w / denom * F.lit(float(target_total)) / F.col("_n_s")
    )
    rates = counts.select("_stratum", "_n_s", frac.alias("_frac"))
    h = portable_hash60(F.col(id_col).cast("string")).cast("double")
    return (
        df.join(
            F.broadcast(rates), F.col(stratum_col).eqNullSafe(F.col("_stratum"))
        )
        .filter(h < F.col("_frac") * F.lit(_HASH_SPAN))
        .drop("_stratum", "_n_s", "_frac")
    )


def _hash_topk(
    df: DataFrame, k: int, id_col: str, hashed: Column, key=None
) -> DataFrame:
    """The one hash-keyed top-k cut of the A-ES and Gumbel samples. Each
    row's ``h`` is the portable 60-bit hash of ``hashed`` (the id, or the
    salted id), its draw ``u = (h + 1) / 2^60`` lies in (0, 1], and
    ``skey = key(u)``; with no ``key`` the rows already carry their skey
    (merged states). The k rows first by (skey desc, h, id) are kept.
    Per-batch samples and their merge cut in this one order, which is
    what makes the merged sample exact."""
    if k <= 0:
        raise ValueError("k must be positive")
    h = portable_hash60(hashed)
    if key is not None:
        u = (h + F.lit(1)).cast("double") / F.lit(_HASH_SPAN)
        df = df.withColumn("skey", key(u))
    return (
        df.withColumn("_tb", h)
        .orderBy(F.desc("skey"), F.col("_tb"), F.col(id_col))
        .limit(k)
        .drop("_tb")
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws u uniform in (0, 1] from the portable
    60-bit hash of its id and gets key ``ln(u) / w`` — taking the k
    LARGEST keys samples k rows where each row's inclusion odds are
    proportional to its weight, exactly the "sample by quality score /
    token count" primitive of corpus curation. Hash-derived u makes the
    sample identical on every engine, run, and partitioning (and
    incrementally stable: a row's key never changes as the corpus grows).

    Scale shape: the key is one map-side expression; top-k compiles to
    TakeOrderedAndProject (per-partition k-row heaps, one tiny reduce) —
    ZERO data-row shuffles, the cheapest possible distributed sample.
    Compare :func:`quota_sample` (exact per-stratum counts) and
    :func:`temperature_sample` (per-stratum rates): this one is global
    and weight-proportional.

    Keys round to 6dp BEFORE ranking so the cut replays identically in
    the DuckDB oracle. For very large weights ln(u)/w compresses toward 0
    and many rounded keys tie, so the tie-break must not be systematic:
    ties fall to the row's portable hash (pseudorandom, engine-stable),
    then id only for the 2^-60 hash-collision case — an id-ascending
    tie-break would deterministically over-include low ids. Rows with
    NULL or non-positive weight are excluded — they have no defined
    inclusion probability.
    """
    return _hash_topk(
        df.filter(F.col(weight_col) > 0),
        k,
        id_col,
        F.col(id_col).cast("string"),
        lambda u: F.round(F.log(u) / F.col(weight_col).cast("double"), 6),
    )


def merge_weighted_samples(
    states: list[DataFrame], k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Fold per-batch A-ES top-k samples into the global weighted sample —
    the MERGEABLE-state property of Efraimidis–Spirakis keys, and the
    round-10 member of the incremental family for SAMPLING: a row's key
    ``ln(u)/w`` is a pure function of (id, weight), so it never changes
    as the corpus grows, and the global top-k is necessarily contained
    in the union of per-batch top-ks (any global winner wins its own
    batch too). Union the ≤ batches·k state rows, re-rank with the SAME
    (skey desc, portable-hash, id) order, keep k — EXACTLY the sample a
    from-scratch pass over all batches would draw (pinned against the
    global build in tests and by the driver oracle).

    Scale shape: each batch contributes a k-row state
    (TakeOrderedAndProject, zero data-row shuffles); the merge sorts
    ≤ batches·k rows — bounded metadata, never corpus-sized. This is how
    a curation sample stays current under continuous ingestion without
    re-scanning history (foreachBatch-able like every mergeable state;
    exactly-once NOT required here — re-merging the same batch state is
    idempotent, unlike the additive sketches).
    """
    if not states:
        raise ValueError("need at least one state")
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    # id-dedup before ranking: a replayed or overlapping batch state
    # contributes byte-identical rows (keys are pure functions of the
    # row), and orderBy+limit would otherwise keep the duplicates —
    # this is what makes re-merging the same state idempotent.
    # The survivor per id is chosen DETERMINISTICALLY (max skey, then the
    # remaining columns as tie-break), not by dropDuplicates' arbitrary
    # first-seen row: if the same id ever appears with different
    # weight/skey across states (a weight changed between ingests), the
    # merged sample must not depend on run/partitioning order. Note the
    # A-ES containment proof itself still assumes stable (id, weight) —
    # under a changed weight the max-skey row is a documented convention
    # (it favors the higher-priority observation), not a from-scratch
    # equivalence.
    tiebreak = [F.col(c) for c in sorted(out.columns) if c not in (id_col, "skey")]
    w = Window.partitionBy(id_col).orderBy(F.desc("skey"), *tiebreak)
    survivors = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return _hash_topk(survivors, k, id_col, F.col(id_col).cast("string"))


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    salt: str = "",
    n_buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic keyed train/val/test split assignment — adds a
    ``split`` column from a hash of the key, never from randomness.

    Keyed hashing is the leakage-safety property random splits lack: the
    same document lands in the same split on every run, engine, cluster
    size, and corpus REFEED (a re-ingested or re-scored copy of a train
    doc can never drift into test — the contamination mode
    dedup.split_leakage_check audits after the fact, prevented here at
    assignment time). ``salt`` re-rolls the whole assignment when a fresh
    split is genuinely wanted; splits are dict-ordered, so boundaries are
    reproducible from the call site alone.

    Mechanics: ``portable_hash60(salt || key) % n_buckets`` (uniform on
    [0, 2^60), md5-based — bit-identical in DuckDB via
    text.DUCKDB_HASH60_SQL) against cumulative INTEGER boundaries
    ``round(cum_frac * n_buckets)`` — float fractions quantize to 1e-6
    resolution once, driver-side, so the per-row comparison is pure
    integer arithmetic. One map-side expression, zero shuffles at any
    scale; the assignment survives repartitioning by construction.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    names = list(splits)
    fracs = [splits[n] for n in names]
    if any(f < 0 for f in fracs):
        raise ValueError(f"negative split fraction in {splits}")
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {sum(fracs)}")
    bounds, cum = [], 0.0
    for f in fracs:
        cum += f
        bounds.append(round(cum * n_buckets))
    bounds[-1] = n_buckets  # float cum may round to n_buckets-1; close the range

    bucket = portable_hash60(
        F.concat(F.lit(salt), F.col(key_col).cast("string"))
    ) % F.lit(n_buckets)
    expr = F.when(bucket < F.lit(bounds[0]), F.lit(names[0]))
    for name, b in zip(names[1:], bounds[1:]):
        expr = expr.when(bucket < F.lit(b), F.lit(name))
    return df.withColumn("split", expr)


def group_safe_split(
    df: DataFrame,
    labels: DataFrame,
    splits: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "cluster_id",
    salt: str = "",
) -> DataFrame:
    """Leakage-safe split assignment: hash the GROUP id, not the row id, so
    every member of a group lands in the same split.

    :func:`split_assign` keyed on the row id already prevents the REFEED
    leakage mode (the same doc drifting across splits between runs), but a
    NEAR-duplicate of a train doc still lands wherever its own id hashes —
    exactly the contamination `dedup.split_leakage_audit` keeps finding
    after the fact. Keying on the near-dup cluster id (or any grouping:
    source domain, article family, user id for per-user holdout) makes
    cross-split leakage structurally impossible for everything the
    grouping captures: a cluster is train or it is val, never both.

    ``labels`` is a ``(id_col, group_col)`` frame (e.g. the output of
    :func:`~sql4pandas_spark.operators.dedup.near_dedup_minhash`). Scale
    shape: ONE equi-join on the id (labels are ids-only — text never
    moves) and then the same zero-shuffle map-side hash-vs-integer-bounds
    assignment as :func:`split_assign`; deterministic across engines,
    runs, partitionings, and corpus refeeds.
    """
    joined = df.join(labels.select(id_col, group_col), id_col)
    return split_assign(joined, group_col, splits, salt=salt)


def negative_samples(
    df: DataFrame, id_col: str, k: int = 3, n_buckets: int = 64
) -> DataFrame:
    """Deterministic hash-bucketed negative sampling — k pseudo-random
    "negative" partners per anchor row for contrastive training pairs
    (anchor, positive, negative) or ranking evaluation, with NO cross
    join and NO RNG state: every engine, run, and refeed draws the same
    negatives.

    Construction: each row lands in bucket ``portable_hash(id) %
    n_buckets``; each bucket elects one representative (its min id —
    determinism is the point, the randomness already came from the
    hash); anchor ``a`` draws its j-th negative from bucket
    ``(bucket(a) + j) % n_buckets`` for j = 1..k. Offsets start at 1,
    so an anchor never draws from its OWN bucket — a negative can never
    be the anchor itself (requires k < n_buckets). An empty target
    bucket silently yields no pair for that (anchor, j) — size
    n_buckets well below the expected row count (or accept sparse
    draws).

    Scale shape: one |buckets|-sized groupBy for representatives,
    broadcast back onto an explode(sequence(1, k)) fan-out of the
    anchors — the per-anchor cost is k broadcast-hash lookups, zero
    wide shuffles. This trades sampling-without-replacement rigor for
    O(1) per-row work: at 100 TB a per-anchor uniform draw over ALL
    rows would need a global index (sort or zipWithIndex); bucket
    representatives approximate it with bounded state.
    """
    if not 0 < k < n_buckets:
        raise ValueError("need 0 < k < n_buckets")
    h = portable_hash60(F.col(id_col).cast("string"))
    bucketed = df.select(
        F.col(id_col), F.pmod(h, F.lit(n_buckets)).alias("_b")
    )
    reps = bucketed.groupBy("_b").agg(F.min(id_col).alias("neg_id"))
    fanned = bucketed.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_rank"),
        "_b",
    ).select(
        id_col,
        "neg_rank",
        F.pmod(F.col("_b") + F.col("neg_rank"), F.lit(n_buckets)).alias(
            "_tb"
        ),
    )
    return (
        fanned.join(
            F.broadcast(reps.withColumnRenamed("_b", "_tb")), "_tb"
        )
        .select(id_col, "neg_rank", "neg_id")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_col: str,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Per-group volume cap, keep-best-first — "at most ``cap`` documents
    per domain, best quality first", the curation primitive that stops a
    handful of over-crawled domains from dominating a pretraining mix
    (the per-GROUP complement of quota_sample's per-STRATUM exact
    quotas: a quota PICKS a target count, a cap only TRIMS the excess).

    ``order_col`` must be NULL-free within rows you intend to keep
    (Spark and DuckDB place NULLs at opposite ends of a sort, so a NULL
    quality score would rank differently per engine — score it or drop
    it first).

    Adds ``_rank`` (1-based within group, best first) and boolean
    ``kept`` (= rank <= cap) to every row rather than dropping — callers
    filter for the trimmed corpus or aggregate for the audit report
    (kept/dropped per group). Ordering ties break on ``id_col`` so the
    cut is deterministic across engines and refeeds.

    Scale shape: one hash exchange on the group column + in-partition
    sort; Spark rewrites the rank filter form to WindowGroupLimit when
    callers filter early, and the hot-group skew bound is the biggest
    group's rows in one task — same discipline as topk_per_group
    (queries/windows.py).
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    oc = F.col(order_col)
    w = Window.partitionBy(group_col).orderBy(
        oc.desc() if descending else oc.asc(), F.col(id_col)
    )
    return df.withColumn("_rank", F.row_number().over(w)).withColumn(
        "kept", F.col("_rank") <= cap
    )


#: hashed-feature space for DSIR importance weights. 64 buckets is the
#: fixture-scale stand-in for the paper's 10k-bucket hashed n-grams —
#: the stats frame stays |buckets| rows and broadcasts either way.
DSIR_BUCKETS = 64


def dsir_importance_weights(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Hashed-feature importance weights for Data Selection via Importance
    Resampling (DSIR, Xie et al. 2023): score every raw document by how
    much its hashed-unigram distribution looks like a TARGET slice
    (``is_target`` is a boolean Column over ``df``'s rows, e.g.
    ``F.col("lang") == "en"``), so resampling by the weight tilts the
    corpus toward the target domain without hand-written rules.

    Per document: ``log w(x) = Σ_tokens [ln p_target(b) − ln p_raw(b)]``
    where ``b = portable_hash60(token) % n_buckets`` and both bucket
    distributions are Laplace-smoothed ``(count + 1) / (total +
    n_buckets)``. The per-bucket log-ratio is quantized ONCE to integer
    micro-nats (``floor(x·1e6 + 0.5)``, the e6 convention) so the
    per-document reduction is an exact BIGINT sum — no float
    accumulation order for engines or partitionings to disagree on.

    Scale shape: one exploded-token aggregate builds the |buckets|-row
    stats frame (map-side combined, 8-byte keys); totals ride a window
    over that tiny frame; the stats broadcast back onto the exploded
    tokens, and the per-document sum is one map-combined groupBy on the
    id. Documents with zero tokens have no defined distribution and are
    dropped (inner semantics on the explode), matching the SQL replay.

    Returns (id_col, n_tok, logw_e6, logw) — ``logw`` is the e6 integer
    divided back to nats, rounded 6dp (exact: it IS the integer/1e6).
    Feed to :func:`gumbel_topk` for the paper's resampling step.

    Composed from :func:`dsir_bucket_tokens` → :func:`dsir_bucket_stats`
    → :func:`dsir_terms` → :func:`dsir_score` — the stats frame is a
    pair of per-bucket COUNTERS, i.e. mergeable state: summing partial
    frames from independent batches gives exactly the global frame, so
    the cross-batch incremental form needs no re-scan of history
    (entry `dsir_incremental_stats` pins batch-merged == from-scratch).
    """
    toks = dsir_bucket_tokens(df, is_target, text_col, id_col, n_buckets)
    terms = dsir_terms(dsir_bucket_stats(toks), n_buckets)
    return dsir_score(toks, terms, id_col)


def dsir_bucket_tokens(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(id, is_target, bucket) exploded-token frame — the shared input of
    the stats and scoring passes."""
    return df.select(
        F.col(id_col),
        is_target.alias("_is_t"),
        F.explode(tokens(text_col)).alias("_w"),
    ).select(
        id_col,
        "_is_t",
        F.pmod(portable_hash60(F.col("_w")), F.lit(n_buckets)).alias("_b"),
    )


def dsir_bucket_stats(toks: DataFrame) -> DataFrame:
    """Per-bucket (target count, raw count) — plain integer counters, so
    partial frames from independent batches MERGE by re-aggregation
    (:func:`merge_dsir_stats`); one map-combined aggregate, 8-byte keys."""
    return toks.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_t_cnt"),
        F.count(F.lit(1)).alias("_r_cnt"),
    )


def merge_dsir_stats(parts: list[DataFrame]) -> DataFrame:
    """Merge per-batch bucket-stat frames into the global frame — counter
    addition, exactly what a cross-batch incremental DSIR store replays
    instead of re-scanning history. Input order is immaterial."""
    if not parts:
        raise ValueError("no stats frames to merge")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("_b").agg(
        F.sum("_t_cnt").alias("_t_cnt"), F.sum("_r_cnt").alias("_r_cnt")
    )


def dsir_terms(stats: DataFrame, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-bucket integer micro-nat log-ratio terms from the stats frame
    (Laplace smoothing, e6 quantization AFTER the transcendental)."""
    tot = Window.partitionBy()
    return stats.select(
        "_b",
        F.floor(
            (
                F.log(
                    (F.col("_t_cnt") + F.lit(1.0))
                    / (F.sum("_t_cnt").over(tot) + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("_r_cnt") + F.lit(1.0))
                    / (F.sum("_r_cnt").over(tot) + F.lit(float(n_buckets)))
                )
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_term_e6"),
    )


def dsir_score(
    toks: DataFrame, terms: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document exact BIGINT term sums from the exploded-token frame
    and the broadcast terms frame; returns (id, n_tok, logw_e6, logw)."""
    return (
        toks.join(F.broadcast(terms), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("_term_e6").alias("logw_e6"),
        )
        .withColumn(
            "logw", F.round(F.col("logw_e6").cast("double") / F.lit(1e6), 6)
        )
    )


def gumbel_topk(
    df: DataFrame,
    logw_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "dsir:",
) -> DataFrame:
    """Deterministic Gumbel top-k: sample ``k`` rows WITHOUT replacement
    with inclusion odds proportional to ``exp(logw)`` — the resampling
    step of DSIR, taken in LOG space so astronomically small importance
    ratios never underflow the way exponentiating for A-ES would
    (:func:`weighted_sample_topk` needs the weight itself; this needs
    only its log). The Gumbel-max trick: ``key = logw − ln(−ln(u))``
    with u uniform from the salted portable hash of the id, largest k
    keys win.

    Keys round to 6dp before ranking (the A-ES convention) and ties
    fall to the hash then the id, so the cut replays identically in a
    DuckDB oracle. One map-side expression + TakeOrderedAndProject —
    zero data-row shuffles. NULL logw rows are excluded (no defined
    weight). u shares A-ES's (hash + 1) / 2^60 draw; its u = 1 corner
    (the all-ones hash, 2^-60 per row) would send the double log to
    +inf here where A-ES degrades gracefully — accepted: both engines
    produce the same infinity, and the next salt is one character away.
    """
    return _hash_topk(
        df.filter(F.col(logw_col).isNotNull()),
        k,
        id_col,
        F.concat(F.lit(salt), F.col(id_col).cast("string")),
        lambda u: F.round(F.col(logw_col) - F.log(-F.log(u)), 6),
    )


#: e9 fixed-point scale for DoReMi domain weights (the PageRank
#: convention — integer mass end-to-end, floors deterministic).
DOREMI_SCALE = 10**9

#: offset making the eta division's dividend non-negative: Spark DIV and
#: DuckDB // both truncate toward zero, which is floor ONLY for
#: non-negative dividends — a negative excess would round the two
#: engines' factors differently. Must stay a multiple of every allowed
#: eta_denom (asserted) so the shift cancels exactly.
_DOREMI_OFF = 100_000_000


def doremi_reweight(
    loss: DataFrame,
    rounds: int = 10,
    eta_denom: int = 1,
    domain_col: str = "domain",
    loss_col: str = "loss_e6",
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "Domain
    Reweighting with Minimax Optimization") as deterministic
    multiplicative weights: given one reference LOSS per domain (integer
    micro-nats, e.g. per-language cross-model surprisal from
    ``text.crossmodel_surprisal``), iterate ``w_d ∝ w_d · (1 +
    η·(L_d − L̄))`` with ``L̄`` the current WEIGHT-AVERAGED loss, and
    renormalize — mass flows toward domains the reference model serves
    worst (the group-DRO direction), which is the published method's
    shape with the proxy-model training loop replaced by a fixed loss
    frame (documented simplification: the full method re-measures L_d
    per round under a model trained on the current mix; a fixed frame
    gives the update's exact arithmetic a value-checked oracle).

    The linear (1 + η·excess) update is the standard Arora–Hazan–Kale
    MW variant of exp(η·excess) — chosen because it stays in INTEGER
    arithmetic: per round, the mean is ``Σ(w·L) DIV Σw`` (self-
    normalizing, so floor drift never compounds), the factor is
    ``1e6 + (L − L̄ + OFF) DIV eta_denom − OFF DIV eta_denom`` (the
    offset keeps the truncating division on non-negative ground; with
    eta_denom=1 it cancels to ``1e6 + L − L̄`` exactly), clamped ≥ 1,
    and weights renormalize to DOREMI_SCALE by integer division. Every
    round replays bit-exactly in an unrolled-CTE oracle.

    Scale shape: the loss frame is |domains| rows — per round two 1-row
    aggregates ride the plan as crossJoin(broadcast) scalars
    (pagerank's dangling-mass shape), state is |domains| rows,
    localCheckpoint truncates lineage. Returns (domain_col, loss_col,
    weight_e9) with Σ weight_e9 = DOREMI_SCALE up to |domains| floor
    units (pytest-pinned)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if eta_denom < 1 or _DOREMI_OFF % eta_denom != 0:
        raise ValueError(
            f"eta_denom must be a positive divisor of {_DOREMI_OFF}"
        )
    counts = loss.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count(loss_col).alias("_nn"),
    ).collect()[0]
    n = counts["_n"]
    if n == 0:
        return loss.withColumn("weight_e9", F.lit(0).cast("long"))
    if counts["_nn"] != n:
        # a NULL loss would propagate through the weighted mean and NULL
        # every weight three expressions later — fail at the source with
        # the domain count instead (the same one action derives n)
        raise ValueError(
            f"doremi_reweight: {n - counts['_nn']} of {n} domains have "
            f"NULL {loss_col} — score or drop them first"
        )
    w = loss.select(
        domain_col,
        F.col(loss_col).cast("long").alias(loss_col),
        F.lit(DOREMI_SCALE // n).cast("long").alias("weight_e9"),
    ).localCheckpoint(eager=True)
    base = 1_000_000 - _DOREMI_OFF // eta_denom
    for _ in range(rounds):
        mean = w.agg(
            F.expr(
                f"sum(weight_e9 * {loss_col}) DIV sum(weight_e9)"
            ).alias("_mean_e6")
        )
        u = (
            w.crossJoin(F.broadcast(mean))
            .withColumn(
                "_u",
                F.expr(
                    f"(weight_e9 * greatest(CAST(1 AS BIGINT),"
                    f" CAST({base} AS BIGINT)"
                    f" + ({loss_col} - _mean_e6 + {_DOREMI_OFF})"
                    f" DIV {eta_denom})) DIV 1000000"
                ),
            )
        )
        tot = u.agg(F.sum("_u").alias("_tot"))
        w = (
            u.crossJoin(F.broadcast(tot))
            .select(
                domain_col,
                loss_col,
                F.expr(f"(_u * {DOREMI_SCALE}) DIV _tot")
                .cast("long")
                .alias("weight_e9"),
            )
            .localCheckpoint(eager=True)
        )
    return w
