"""Per-column data profiling — the first job anyone runs on an unfamiliar
100 TB table: null rates, distinct cardinality, and value bounds per column,
in as few passes as the exactness contract allows.

Reference parity: the reference (in-memory pandas SQL layer, SURVEY.md §1.1)
had `df.describe()` a method call away; a distributed engine needs the same
answer as a query. This is the data-quality companion to
operators/audit.py's pipeline counters.

Scale shape: everything except distinct counts is ONE map-combined aggregate
pass (count/nulls/min/max all fold associatively). Exact multi-column
DISTINCT counts make Spark plan an Expand (one input row becomes one row per
counted column) feeding a single shuffled aggregate — |cols| × rows expand
volume, the honest price of exactness in one job. At the 100 TB design point
switch ``exact_distinct=False``: approx_count_distinct (HLL++, 2% default
error) collapses the whole profile back to the single map-side pass with
fixed-size sketch state per column. The catalog entry uses the exact form
(DuckDB replays it verbatim); the approx form is the declared scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sql4pandas_spark.operators.sketches import grid_bin, value_histogram


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """One row per profiled column:
    ``(column, n_rows, n_nulls, n_distinct, min_val, max_val)``.

    min/max are computed on the NATIVE type (so string columns compare
    lexically, numerics numerically) and then rendered to string for the
    uniform schema. NULL-only columns yield NULL min/max. ``n_distinct``
    counts distinct NON-NULL values (SQL COUNT(DISTINCT col) semantics).
    """
    cols = cols or df.columns
    distinct_fn = F.countDistinct if exact_distinct else F.approx_count_distinct
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            e
            for c in cols
            for e in (
                # SQL SUM over zero rows is NULL — an empty table has 0
                # nulls, not unknown nulls
                F.coalesce(
                    F.sum(F.col(c).isNull().cast("long")), F.lit(0)
                ).alias(f"nulls_{c}"),
                distinct_fn(F.col(c)).alias(f"dist_{c}"),
                F.min(c).cast("string").alias(f"min_{c}"),
                F.max(c).cast("string").alias(f"max_{c}"),
            )
        ],
    )
    # fan the single aggregated row out with explode, NOT a union of
    # per-column selects: Catalyst plans each union branch as its own
    # aggregate over the source (measured: one full input scan per
    # profiled column), while explode-of-a-struct-array keeps exactly one
    # aggregate in the plan and fans out 1 row → |cols| rows for free
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"nulls_{c}").alias("n_nulls"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_val"),
                F.col(f"max_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return agg.select(
        F.col("_n").alias("n_rows"), F.explode(per_col).alias("p")
    ).select(
        "p.column", "n_rows", "p.n_nulls", "p.n_distinct", "p.min_val", "p.max_val"
    )


def _psi_tail(h: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Shared PSI tail for both drift gates: add-half-smoothed shares
    p/q over a (key, n_old, n_new) histogram and the per-bucket
    contribution ``(p - q) * ln(p / q)``, rounded to 6dp so the DuckDB
    oracle replays every value exactly; ordered by the bucket key.
    ``sum(psi)`` over the result is the headline index."""
    tot_o = F.sum("n_old").over(Window.partitionBy())
    tot_n = F.sum("n_new").over(Window.partitionBy())
    # add-half smoothing keeps ln() finite on empty buckets and stays
    # exact integer-derived arithmetic until the single division
    p = (F.col("n_old") + F.lit(0.5)) / (tot_o + F.lit(0.5 * n_buckets))
    q = (F.col("n_new") + F.lit(0.5)) / (tot_n + F.lit(0.5 * n_buckets))
    return h.select(
        key,
        "n_old",
        "n_new",
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round((p - q) * F.log(p / q), 6).alias("psi"),
    ).orderBy(key)


def distribution_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard drift gate between corpus refeeds (PSI < 0.1 ~
    stable, 0.1-0.25 ~ shifting, > 0.25 ~ investigate): fixed-width bins
    over [lo, hi], per-bin shares p (old) and q (new), contribution
    ``(p - q) * ln(p / q)`` with add-half smoothing so empty bins stay
    finite and the whole computation is engine-exact.

    Companion to :func:`profile_columns` (one snapshot) and
    snapshot_diff (row-level): this is the DISTRIBUTION-level check that
    catches "same row count, quietly different corpus".

    [lo, hi] defaults to the OLD snapshot's non-NaN min/max (a 1-row
    aggregate — bounded metadata, like zorder's quantization bounds);
    out-of-range new-side values clamp into the edge bins so a drifted
    tail is counted, not dropped. The gate IS
    :func:`psi_from_histograms` over the two snapshots'
    :func:`~sql4pandas_spark.operators.sketches.value_histogram` states,
    so the raw-row and the streaming-store read-outs share one body; bin
    assignment is ``grid_bin``, identical arithmetic in Spark and DuckDB.
    NULLs and NaNs are excluded from both sides (they have no bin).

    Scale shape: two map-combined groupBy(bin) count shuffles of
    |bins|-sized output, joined onto the dense bin spine — nothing else
    moves. Output: one row per bin (bin int, n_old, n_new, p, q, psi)
    ordered by bin; sum(psi) is the headline index.
    """
    if lo is None or hi is None:
        x = F.col(col).cast("double")
        x = F.when(~F.isnan(x), x)  # Spark orders NaN above every number
        b = old.agg(F.min(x).alias("mn"), F.max(x).alias("mx")).collect()[0]
        if b["mn"] is None:
            raise ValueError(
                f"column {col!r} has no non-NULL, non-NaN value in the old snapshot"
            )
        lo = b["mn"] if lo is None else lo
        hi = b["mx"] if hi is None else hi
    return psi_from_histograms(
        value_histogram(old, col, lo, hi, n_bins),
        value_histogram(new, col, lo, hi, n_bins),
        n_bins,
    ).withColumn("bin", F.col("bin").cast("int"))


def psi_from_histograms(
    old_hist: DataFrame, new_hist: DataFrame, n_bins: int
) -> DataFrame:
    """PSI read-out over two MERGEABLE histogram states
    (operators/sketches.value_histogram ``(bin, n)`` rows on the same
    fixed grid) — the read-side adapter that turns the streaming sketch
    store (streaming/sketches.run_histogram_stream) into the same drift
    gate :func:`distribution_drift` computes from raw rows. Because the
    states merge by per-bin addition, the reference side can be a frozen
    store version and the current side the live one: continuous drift
    monitoring with O(n_bins) work per read-out and zero raw re-scans.

    Same add-half smoothing and 6dp rounding as every PSI gate
    (:func:`_psi_tail`); bins absent from a state count 0.
    """
    spark = old_hist.sparkSession
    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    h = (
        bins.join(old_hist.withColumnRenamed("n", "n_old"), "bin", "left")
        .join(new_hist.withColumnRenamed("n", "n_new"), "bin", "left")
        .fillna(0, ["n_old", "n_new"])
    )
    return _psi_tail(h, "bin", n_bins)


def drift_timeline(
    df: DataFrame,
    time_col: str,
    value_col: str,
    n_bins: int,
    lo: float,
    hi: float,
    bucket: str = "day",
) -> DataFrame:
    """PSI as a TIME SERIES: one row per time bucket with the PSI of that
    bucket's value distribution against the EARLIEST bucket as reference
    — the monitorable form of :func:`distribution_drift` for a feed
    ("when did this stream start drifting?"), the batch twin of the
    foreachBatch streaming monitor (tests/test_round8_ops.py).

    [lo, hi] is explicit (SLA bounds, or profile_columns on the reference
    window) so every bucket bins identically; bin assignment is the same
    ``grid_bin`` as :func:`distribution_drift`. Per-bucket
    PSI sums the per-bin contributions AS 1e-6-QUANTIZED INTEGERS — the
    contribution doubles are bit-identical across engines (identical
    arithmetic), and integer summation removes the floating-point
    ORDER-dependence a double sum would reintroduce, so the DuckDB
    oracle replays every bucket's index exactly.

    Scale shape: ONE map-combined groupBy(bucket, bin) count shuffle of
    |buckets|×|bins| output; everything after (spine densify, reference
    join, window totals) operates on that tiny histogram. Output:
    ``(bucket, n_rows, psi)`` ordered by bucket; the reference bucket
    scores 0 by construction.
    """
    counts = (
        df.select(
            F.date_trunc(bucket, F.col(time_col)).alias("bucket"),
            grid_bin(value_col, lo, hi, n_bins).cast("int").alias("bin"),
        )
        .dropna()
        .groupBy("bucket", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # densify row-locally: explode a 0..n_bins-1 sequence per distinct
    # bucket — no crossJoin, so no BroadcastNestedLoopJoin in the plan
    # (round-8 shipped the crossJoin form and tripped the plan-audit gate)
    spine = (
        counts.select("bucket")
        .distinct()
        .select("bucket", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"))
        .select("bucket", F.col("bin").cast("int").alias("bin"))
    )
    h = spine.join(counts, ["bucket", "bin"], "left").fillna(0, ["n"])
    ref = (
        h.join(h.agg(F.min("bucket").alias("bucket")), "bucket")
        .select("bin", F.col("n").alias("n_ref"))
    )
    j = h.join(ref, "bin")
    tot_b = F.sum("n").over(Window.partitionBy("bucket"))
    # n_ref repeats once per bin within a bucket, so its windowed sum IS
    # the reference total — no second scan or driver collect needed
    p = (F.col("n_ref") + F.lit(0.5)) / (
        F.sum("n_ref").over(Window.partitionBy("bucket")) + F.lit(0.5 * n_bins)
    )
    q = (F.col("n") + F.lit(0.5)) / (tot_b + F.lit(0.5 * n_bins))
    c_e6 = F.round((p - q) * F.log(p / q) * F.lit(1_000_000.0)).cast("long")
    # windowed expressions can't sit inside agg() — materialize the
    # per-bin contribution first, then fold
    per_bin = j.select("bucket", "n", c_e6.alias("c_e6"))
    return (
        per_bin.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_rows"),
            F.round(F.sum("c_e6") / F.lit(1_000_000.0), 6).alias("psi"),
        )
        .orderBy("bucket")
    )


def categorical_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    max_categories: int = 50,
) -> DataFrame:
    """PSI over a CATEGORICAL column (lang, source, domain): one row per
    category with old/new shares and the PSI contribution — the sibling
    of :func:`distribution_drift` for the columns a corpus is actually
    mixed by. NULL is its own category (rendered '<null>'); categories
    beyond the ``max_categories`` most frequent in the OLD snapshot
    collapse into '<other>' so a high-cardinality column (URL domains)
    yields a bounded, stable report instead of millions of rows — and the
    '<other>' bucket itself drifts when the tail shifts.

    The sentinels are RESERVED, not assumed absent: any real value
    starting with ``<`` gains one more ``<`` (``'<null>'`` renders
    ``'<<null>'``), an injective escape, so a category literally named
    ``'<null>'`` / ``'<other>'`` can never collide with the NULL /
    overflow buckets — escaped values start ``<<``, sentinels don't.

    Scale shape: ONE old-side scan (groupBy(category) map-combined count
    shuffle, persisted at |categories| rows) feeds two metadata jobs —
    the top-K via sort-limit, which Spark plans as TakeOrderedAndProject
    (each task keeps only its local top K; K rows per task reach the
    driver — NO global single-partition window, so a millions-of-domains
    column never funnels through one task), and a map-combined total for
    the '<other>' remainder. The new side is one map-combined
    groupBy(bucket) count shuffle against the broadcast membership.
    Add-half smoothing as in :func:`distribution_drift`.
    """
    if max_categories < 1:
        raise ValueError("max_categories must be positive")

    raw = F.col(col).cast("string")
    esc = F.when(raw.startswith("<"), F.concat(F.lit("<"), raw)).otherwise(raw)
    cat = F.coalesce(esc, F.lit("<null>"))

    # persist the grouped histogram so the top-K job and the total job
    # share one scan of `old` (the heavy side); the cached frame is
    # |categories| rows of (string, long) — bounded metadata
    counts = old.groupBy(cat.alias("c")).agg(F.count(F.lit(1)).alias("n")).persist()
    try:
        top_rows = (
            counts.orderBy(F.desc("n"), "c").limit(max_categories).collect()
        )
        total = counts.agg(F.sum("n")).collect()[0][0] or 0
    finally:
        counts.unpersist()
    top = sorted(r.c for r in top_rows)
    n_old_map = {r.c: r.n for r in top_rows}
    n_old_map["<other>"] = total - sum(n_old_map.values())
    buckets = sorted(set(top) | {"<other>"})
    cats = old.sparkSession.createDataFrame(
        [(b, int(n_old_map.get(b, 0))) for b in buckets],
        "category string, n_old long",
    )

    new_bucket = (
        F.when(F.array_contains(F.array(*[F.lit(c) for c in top]), cat), cat)
        if top
        else F.when(F.lit(False), cat)
    ).otherwise(F.lit("<other>"))
    new_hist = new.groupBy(new_bucket.alias("category")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    h = cats.join(new_hist, "category", "left").fillna(0, ["n_new"])
    return _psi_tail(h, "category", len(buckets))


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Join/agg-key skew diagnostic — the profiling step a 100 TB pipeline
    runs BEFORE shuffling on a key: per-key row counts reduced to the
    hot-key report that decides between a plain equi-join, ``salted_join``
    (operators/joins.py), or AQE skew handling. A key carrying 10% of a
    100 TB table means one 10 TB shuffle partition; this report is how
    that is seen in a |keys|-sized frame instead of discovered as a hung
    task.

    Scale shape: ONE map-combined groupBy(key) count (the only pass over
    data rows — |keys| output rows), then a 1-row summary aggregate over
    the COUNTS frame and a TakeOrdered top-k of it; the report is the
    top-k joined to the broadcast 1-row stats (the allowlisted
    scalar-subquery BNLJ shape). NULL keys profile like any other key —
    at scale NULL is the classic hidden hot key.

    Determinism: all derived metrics are INTEGER arithmetic —
    ``share_bp = floor(n_rows * 10000 / total_rows)`` (basis points),
    ``skew_x100 = floor(n_rows * 100 * n_keys / total_rows)`` (the key's
    count as a multiple of the mean, ×100) — so the report hash-matches
    any engine. Output: (rank, key, n_rows, share_bp, skew_x100,
    total_rows, n_keys), rank ordered by (count desc, key asc).
    """
    # counts feeds two consumers (summary + top-k); both branches live in
    # the ONE returned plan, so AQE's ReusedExchange serves the second
    # branch from the first's shuffle files — data rows are scanned once
    # WITHOUT persist (a .persist() here pinned executor storage for the
    # session lifetime since the lazy result can't unpersist after itself;
    # tests/test_round9_ops.py asserts the ReusedExchange)
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(F.desc("n_rows"), F.asc_nulls_first("key")).limit(top_k)
    w = Window.orderBy(F.desc("n_rows"), F.asc_nulls_first("key"))
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "key",
            "n_rows",
            F.floor(F.col("n_rows") * F.lit(10000) / F.col("total_rows"))
            .cast("long")
            .alias("share_bp"),
            F.floor(
                F.col("n_rows") * F.lit(100) * F.col("n_keys") / F.col("total_rows")
            )
            .cast("long")
            .alias("skew_x100"),
            "total_rows",
            "n_keys",
        )
    )


def mad_anomalies(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    bucket: str = "hour",
    k: int = 3,
) -> DataFrame:
    """Robust time-series anomaly detection over an event stream: per-group
    per-time-bucket counts flagged where the count deviates from the
    group's median by more than ``k`` times the median absolute deviation
    — the outage/spike/bot-burst detector that mean/stddev z-scores miss
    (one huge spike inflates a stddev enough to hide itself; the MAD is
    breakdown-point-0.5 robust).

    The plan IS :func:`robust_outlier_rows` over the bucket-count frame:
    ONE map-combined groupBy(group, bucket) count is the only pass over
    data rows; the |groups × buckets| counts frame (shuffle reused across
    branches, never cached) feeds the per-group median and MAD (|groups|
    rows each, broadcast back) — tiny aggregates/joins over bucket
    counts, nothing over events. The group joins are null-safe, so a NULL
    group's buckets are scored as one group, not dropped. The
    distribution-level sibling of drift_timeline (which compares value
    HISTOGRAMS per bucket; this flags VOLUME outliers).

    Determinism: the median of integer counts is an exact half, so the
    group median is carried ×2 (``med_x2``, exact BIGINT), deviations ×2
    (``dev_x2 = |2n − med_x2|``), and the MAD — a median of the integer
    ``dev_x2`` values, itself an exact half — ×4 (``mad_x4``). The flag
    is pure integer arithmetic, ``2·dev_x2 > k·mad_x4`` ⇔ dev > k·MAD —
    bit-exact on any engine/partitioning, no rounding anywhere. Output:
    the anomalous buckets only,
    ``(group, bucket_ts, n_events, med_x2, mad_x4, dev_x2)``.
    """
    # the counts frame feeds every branch of robust_outlier_rows (median,
    # deviations, MAD) inside the ONE returned plan — AQE's ReusedExchange
    # serves them all from the first shuffle, so no persist (which would
    # pin executor storage past the query with nobody to unpersist)
    counts = df.groupBy(
        F.col(group_col).alias("grp"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return robust_outlier_rows(counts, "n_events", "grp", k).select(
        F.col("grp").alias(group_col),
        "bucket_ts",
        "n_events",
        "med_x2",
        "mad_x4",
        "dev_x2",
    )


def categorical_association(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-square contingency analysis between two categorical columns —
    "is lang independent of source?", "did quality tier become correlated
    with domain?": the ASSOCIATION sibling of categorical_drift (which
    compares one column across two snapshots; this crosses two columns in
    one snapshot). Reports every (a, b) cell with observed count,
    expected count under independence, and the cell's chi-square
    contribution ``(o − e)² / e``; ``sum(chi2_e6)/1e6`` against the
    chi-square distribution at ``(|a|−1)(|b|−1)`` dof is the headline
    test statistic.

    Cells with ZERO observed count still contribute (``(0−e)²/e = e``),
    so the full |a|×|b| grid is built — distinct a-values crossed with
    the 1-row collected b-value array (the allowlisted scalar-broadcast
    shape, then a row-local explode; both sides are category metadata,
    data-volume-independent). NULL categories count like any other (SQL
    GROUP BY semantics).

    Scale shape: ONE map-combined groupBy(a, b) count is the only pass
    over data rows; marginals are aggregates OVER the shuffle-reused
    |a|×|b|-bounded counts frame, broadcast back. Determinism: expected
    values and contributions are 1e-6-quantized to BIGINTs (the PSI
    discipline) — identical IEEE arithmetic both engines, and the
    order-independent integer sum is safe to total at any parallelism.
    """
    # five consumers (marginals, total, grid spine, the cell join) share
    # the counts frame; their column-pruned subplans differ, so exchange
    # reuse can't dedup them. localCheckpoint materializes the
    # |a|x|b|-bounded frame ONCE (single pass over data rows) WITHOUT
    # registering in the CacheManager: the blocks are RDD-level storage
    # the ContextCleaner releases when the result frame is GC'd — unlike
    # .persist(), which pinned executor storage for the session lifetime
    # (round-9 ADVICE). Non-fault-tolerant lineage truncation is fine
    # for a profiling report: an executor loss fails the job, re-run.
    counts = (
        df.groupBy(
            F.col(col_a).cast("string").alias("a"),
            F.col(col_b).cast("string").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    row_tot = counts.groupBy("a").agg(F.sum("n").alias("n_a"))
    col_tot = counts.groupBy("b").agg(F.sum("n").alias("n_b"))
    total = counts.agg(F.sum("n").alias("n_tot"))
    grid = (
        counts.select("a")
        .distinct()
        .crossJoin(F.broadcast(counts.agg(F.sort_array(F.collect_set("b")).alias("_bs"))))
        .select("a", F.explode("_bs").alias("b"))
    )
    e = F.col("n_a") * F.col("n_b") / F.col("n_tot")
    contrib = (F.col("n") - e) * (F.col("n") - e) / e
    return (
        grid.join(counts, ["a", "b"], "left")
        .fillna(0, ["n"])
        .join(F.broadcast(row_tot), "a")
        .join(F.broadcast(col_tot), "b")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("a").alias(col_a),
            F.col("b").alias(col_b),
            "n",
            F.round(e * 1_000_000).cast("long").alias("expected_e6"),
            F.round(contrib * 1_000_000).cast("long").alias("chi2_e6"),
        )
        .orderBy(col_a, col_b)
    )


def robust_outlier_rows(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 3,
    exact: bool = True,
) -> DataFrame:
    """Row-level robust outlier flagging — the VALUE sibling of
    :func:`mad_anomalies` (that flags time buckets by volume; this flags
    individual ROWS whose integer value sits more than ``k`` MADs from
    their group's median): "documents with absurd n_chars for their
    language", "orders priced far outside their priority band" — the
    data-cleaning primitive that survives the skew that breaks
    mean/stddev z-scores.

    Exactness contract: ``value_col`` must be integer-valued; medians are
    then exact halves and ride as ×2/×4 BIGINTs with the pure-integer
    flag ``2·dev_x2 > k·mad_x4`` — engine-bit-exact (the mad_anomalies
    discipline). Scale shape: per-group median and MAD are |groups|-row
    aggregates broadcast back; the flag is map-side. Three passes over
    data rows total (median → deviations/MAD → flag) — irreducible for
    an exact MAD, whose deviations depend on the finished median. The
    100 TB path is ``exact=False``: ``approx_percentile`` medians
    (fixed-size sketch state per group, same pass structure) trading
    bit-exactness for bounded memory — the profile_table exact-vs-HLL
    trade, declared the same way.
    """
    med_fn = (
        (lambda c: F.median(c))
        if exact
        else (lambda c: F.expr(f"approx_percentile({c}, 0.5)"))
    )
    v2 = (F.col(value_col) * 2).cast("long")
    med = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.round(med_fn(value_col) * 2).cast("long").alias("med_x2")
    )
    withdev = df.join(
        F.broadcast(med), F.col(group_col).eqNullSafe(F.col("_g"))
    ).withColumn("dev_x2", F.abs(v2 - F.col("med_x2")))
    mad = withdev.groupBy(F.col("_g").alias("_g2")).agg(
        F.round(med_fn("dev_x2") * 2).cast("long").alias("mad_x4")
    )
    return (
        withdev.join(F.broadcast(mad), F.col("_g").eqNullSafe(F.col("_g2")))
        .filter(F.col("dev_x2") * 2 > F.lit(k) * F.col("mad_x4"))
        .drop("_g", "_g2")
    )


def referential_integrity_audit(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity (foreign-key) audit: for each declared
    ``(edge_name, child, fk_col, parent, pk_col)`` edge, count the child
    rows whose FK has no matching parent key — the "orphan" rows that
    break every downstream join — plus NULL FKs (which joins silently
    drop rather than violate). One report row per edge:
    ``(edge, n_rows, n_null_fk, n_orphan_rows, n_orphan_keys)``.

    A healthy warehouse returns all-zero orphan columns; a non-zero row
    pinpoints which ingest edge broke and how widely. This is the audit
    every pipeline should run between load and publish — the relational
    sibling of the split-leakage and decontamination audits.

    Scale shape, per edge: the child is first reduced map-side to
    ``groupBy(fk) -> count`` (the exchange carries |distinct fk| narrow
    rows, never raw child rows), then LEFT-joined against the parent's
    key column with a hit indicator — a keyed join of two key-sized
    sides (AQE broadcasts whichever is small) feeding ONE final
    aggregate, so all four stats come from a single lineage with no
    scalar cross join. ``pk_col`` must be unique (it is the parent's
    primary key — duplicate-PK detection is profile_columns'
    distinct-count job); a duplicated pk would fan the indicator join
    out and overcount. Edges audit independently and union into one
    action, so the scheduler overlaps their jobs.
    """
    reports = []
    for edge, child, fk, parent, pk in edges:
        per_key = child.groupBy(F.col(fk).alias("_k")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        hit = parent.select(F.col(pk).alias("_k"), F.lit(1).alias("_hit"))
        joined = per_key.join(hit, "_k", "left")
        is_orphan = F.col("_k").isNotNull() & F.col("_hit").isNull()
        stats = joined.agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("_k").isNull(), F.col("_n"))), F.lit(0)
            ).alias("n_null_fk"),
            F.coalesce(
                F.sum(F.when(is_orphan, F.col("_n"))), F.lit(0)
            ).alias("n_orphan_rows"),
            F.count(F.when(is_orphan, F.lit(1))).alias("n_orphan_keys"),
        )
        reports.append(
            stats.select(
                F.lit(edge).alias("edge"),
                "n_rows",
                "n_null_fk",
                "n_orphan_rows",
                "n_orphan_keys",
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def winsorize_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Winsorize (percentile-clip) a numeric column within each group:
    values below the group's lo_pct-th / above its hi_pct-th percentile
    are clamped to those thresholds — the standard heavy-tail taming
    before training on metric features (robust_outlier_rows FLAGS the
    tail; this REPAIRS it). Adds ``lo_val``, ``hi_val`` and
    ``{value_col}_winsorized`` to every row.

    ``value_col`` must be NULL-free (filter first; profile_columns
    counts them): engines disagree on NULL sort placement (Spark ASC =
    nulls first, DuckDB = nulls last), so ranks — and with them the
    thresholds — would silently diverge.

    Percentiles are DISCRETE (the value at 1-based sorted position
    ``ceil(p/100 * n)``, computed as the exact integer
    ``(p*n + 99) DIV 100``) — no interpolation, so thresholds are actual
    data values and bit-exact across engines; ties collapse to the same
    picked value whatever the tie order, keeping the result
    deterministic.

    Scale shape: ONE exchange on the group column serves everything —
    row_number + partition count + the threshold pick-out are all
    windows over the same partitioning, and the thresholds ride back to
    rows as full-partition-frame max(CASE) windows instead of a
    join-back (which would re-scan the input; cohort_retention learned
    that lesson). Skew = the largest group sorts in one task — for a
    single global group use the approx-quantile path
    (approx_quantiles_orders) instead.
    """
    if not (0 < lo_pct < hi_pct < 100):
        raise ValueError("need 0 < lo_pct < hi_pct < 100")
    wo = Window.partitionBy(group_col).orderBy(value_col)
    wf = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rn = F.row_number().over(wo)
    n = F.count(F.lit(1)).over(wf)
    with_rank = df.withColumn("_rn", rn).withColumn("_n", n)
    lo_at = F.expr(f"({lo_pct} * _n + 99) DIV 100")
    hi_at = F.expr(f"({hi_pct} * _n + 99) DIV 100")
    v = F.col(value_col)
    lo_val = F.max(F.when(F.col("_rn") == lo_at, v)).over(wf)
    hi_val = F.max(F.when(F.col("_rn") == hi_at, v)).over(wf)
    return (
        with_rank.withColumn("lo_val", lo_val)
        .withColumn("hi_val", hi_val)
        .withColumn(
            f"{value_col}_winsorized",
            F.least(F.greatest(v, F.col("lo_val")), F.col("hi_val")),
        )
        .drop("_rn", "_n")
    )


def join_fanout_estimate(
    left: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str] | None = None,
    top_k: int = 10,
) -> DataFrame:
    """Pre-join explosion audit — the JOIN-level sibling of
    :func:`key_skew_profile`: exact output cardinality of an equi-join
    computed WITHOUT running the join (sum over matching keys of
    n_left * n_right) plus the top keys by contribution. This is the
    pre-flight that catches "this join outputs 400x its inputs" as a
    |keys|-sized report instead of as a dead cluster — many-to-many key
    duplication is the usual cause, and the top-key list names the
    offenders to dedup or salt first.

    Scale shape: one map-combined groupBy per side (the only passes over
    data rows), an inner join of the two COUNTS frames on ALL key
    columns (AQE broadcasts the smaller), a 1-row total aggregate over
    the product frame, and a TakeOrdered top-k joined to the broadcast
    1-row total (the allowlisted scalar BNLJ shape). The product frame
    feeds two consumers but is NOT persisted: both branches sit in the
    one returned plan, so AQE's ReusedExchange serves the second branch
    from the first's shuffle files — single scan, and no cache pinned
    past the query (a .persist() here leaked executor storage for the
    session lifetime). Integer share metrics only.

    Multi-column keys group and join on the actual columns — never a
    separator-less string concat, which would merge distinct tuples like
    ('ab','c') and ('a','bc') within a side and fabricate matches across
    sides. The report's ``key`` column renders the tuple with a 0x1f
    unit separator (unambiguous: cast values never contain it); for a
    single key column this is just the value's string form.

    Output: ``(rank, key, n_left, n_right, rows_out, share_bp,
    total_rows_out, n_matching_keys)`` ordered by (rows_out desc, key).
    """

    right_keys = right_keys or left_keys
    if len(right_keys) != len(left_keys):
        raise ValueError("left_keys and right_keys must have equal length")

    def non_null(df: DataFrame, cols: list[str]) -> DataFrame:
        # an equi-join DROPS null keys, so they contribute zero output
        # rows — counting them would overestimate
        cond = F.lit(True)
        for c in cols:
            cond = cond & F.col(c).isNotNull()
        return df.filter(cond)

    lc = (
        non_null(left, left_keys)
        .groupBy(*left_keys)
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        non_null(right, right_keys)
        .groupBy(*right_keys)
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    for i, c in enumerate(right_keys):
        rc = rc.withColumnRenamed(c, f"_rk_{i}")
    cond = [
        F.col(lk) == F.col(f"_rk_{i}") for i, lk in enumerate(left_keys)
    ]
    per_key = (
        lc.join(rc, cond)
        .select(
            F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in left_keys]
            ).alias("key"),
            "n_left",
            "n_right",
        )
        .withColumn("rows_out", F.col("n_left") * F.col("n_right"))
    )
    stats = per_key.agg(
        F.coalesce(F.sum("rows_out"), F.lit(0)).alias("total_rows_out"),
        F.count(F.lit(1)).alias("n_matching_keys"),
    )
    top = per_key.orderBy(F.desc("rows_out"), F.asc("key")).limit(top_k)
    w = Window.orderBy(F.desc("rows_out"), F.asc("key"))
    return top.crossJoin(F.broadcast(stats)).select(
        F.row_number().over(w).cast("int").alias("rank"),
        "key",
        "n_left",
        "n_right",
        "rows_out",
        F.floor(F.col("rows_out") * F.lit(10000) / F.col("total_rows_out"))
        .cast("long")
        .alias("share_bp"),
        "total_rows_out",
        "n_matching_keys",
    )


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """K-anonymity audit before publishing a dataset: how many rows sit
    in a quasi-identifier group smaller than ``k`` — i.e. how many
    records an attacker could narrow to fewer than k candidates by
    joining on the quasi-identifiers (the privacy-publication gate;
    k=5 is the common release bar). One report row:
    ``(n_rows, n_groups, n_small_groups, n_rows_below_k,
    min_group_size, risk_ppm)`` with risk_ppm = rows-below-k per
    million, integer.

    NULLs group together per SQL GROUP BY — correct here: NULL values
    are still a joinable fingerprint.

    Scale shape: one map-combined groupBy over the quasi-identifier
    columns (|groups| narrow rows out), then a single 1-row aggregate
    over the counts frame. No joins, no second scan. The fix for a
    failing audit is coarsening the quasi-identifiers (bucket ages,
    truncate zips) and re-running — each iteration costs one pass.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    counts = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("_n"))
    return counts.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("_n") < k, 1)).alias("n_small_groups"),
        F.coalesce(
            F.sum(F.when(F.col("_n") < k, F.col("_n"))), F.lit(0)
        ).alias("n_rows_below_k"),
        F.min("_n").alias("min_group_size"),
    ).select(
        "n_rows",
        "n_groups",
        "n_small_groups",
        "n_rows_below_k",
        "min_group_size",
        F.expr(
            "CASE WHEN n_rows > 0 THEN n_rows_below_k * 1000000 DIV n_rows"
            " ELSE 0 END"
        ).alias("risk_ppm"),
    )


def distinct_n_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """distinct-n lexical diversity per group (Li et al. 2016's distinct-1
    / distinct-2): unique n-grams over total n-gram occurrences, the
    standard degenerate-text detector — template-generated or looping
    sources collapse toward 0 while natural prose stays high. The ratios
    are e6 fixed-point integers (floor of an exact-double quotient whose
    distance to any integer is >= 1/total, far above ulp at these
    magnitudes), so the census hash-compares across engines.

    Scale: n-grams assemble row-locally from the token array (JVM HOFs,
    no UDF); each n needs one two-stage distinct-count aggregate keyed by
    (group, gram) — map-side partials, no data-sized driver state.
    Documents shorter than n tokens contribute nothing to distinct-n
    (the top_ngrams contract)."""
    from sql4pandas_spark.operators.text import tokens

    tokd = df.select(F.col(group_col).alias("grp"), tokens(text_col).alias("_w"))
    w = F.col("_w")

    def _census(gram_col, n: int) -> DataFrame:
        return (
            tokd.select("grp", F.explode(gram_col).alias("gram"))
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias(f"n_{n}grams"),
                F.countDistinct("gram").alias(f"uniq_{n}grams"),
            )
        )

    uni = _census(w, 1)
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        ),
    )
    bi = _census(bigrams, 2)
    ratio = lambda u, t: F.floor(  # noqa: E731
        u.cast("double") * F.lit(1000000.0) / t.cast("double")
    ).cast("long")
    return (
        uni.join(bi, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_1grams",
            "uniq_1grams",
            ratio(F.col("uniq_1grams"), F.col("n_1grams")).alias("distinct1_e6"),
            F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
            F.coalesce("uniq_2grams", F.lit(0)).alias("uniq_2grams"),
            F.when(
                F.col("n_2grams") > 0,
                ratio(F.col("uniq_2grams"), F.col("n_2grams")),
            ).alias("distinct2_e6"),
        )
        .orderBy(group_col)
    )


def zipf_slope_by_group(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    top_ranks: int = 50,
) -> DataFrame:
    """Zipf-conformance audit per group: the OLS slope of ln(frequency)
    against ln(rank) over the top-R token ranks. Natural language sits
    near slope -1; templated/synthetic sources bend the curve — this is
    the corpus-health check a data owner runs per source/language before
    mixing.

    Determinism discipline (the PSI/e6 convention): ln() is quantized to
    an e6 INTEGER once per (group, token) row — after the transcendental,
    before any cross-row arithmetic — so the regression's five sums are
    order-free integer sums; the final slope/r2 divide the exact integer
    moments in double (identical int64→double conversion both engines)
    and round to 6dp. Ranks tie-break (count DESC, token ASC); the
    rank<=R window filter takes Spark's WindowGroupLimit pushdown, so no
    group ever fully sorts its vocabulary."""
    from pyspark.sql import Window

    from sql4pandas_spark.operators.text import tokens

    counts = (
        df.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("t"))
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("t"))
    ranked = (
        counts.withColumn("r", F.row_number().over(win))
        .filter(F.col("r") <= top_ranks)
        .select(
            "grp",
            F.round(F.log(F.col("r").cast("double")) * 1e6).cast("long").alias("x"),
            F.round(F.log(F.col("c").cast("double")) * 1e6).cast("long").alias("y"),
        )
    )
    m = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate moments go NULL, not divide-by-zero: den = 0 means a
    # single rank (no regression), deny = 0 a perfectly flat frequency
    # profile (r2 undefined)
    return m.select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_ranks"),
        F.when(
            den != 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).alias("slope"),
        F.when(
            (den != 0) & (deny != 0),
            F.round(
                (num.cast("double") * num.cast("double"))
                / (den.cast("double") * deny.cast("double")),
                6,
            ),
        ).alias("r2"),
    ).orderBy(group_col)
