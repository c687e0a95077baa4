"""heavy_hitters_topk: accuracy contract under adversarial cardinality.

The catalog oracle proves exactness when cardinality ≤ M; these tests pin
the interesting regime — cardinality ≫ M — where the two-phase shape must
still find the true heavy hitters because skewed items dominate every
batch's top-M."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

from pyspark.sql import functions as F

from sql4pandas_spark.operators.sketches import heavy_hitters_topk


def _zipfy(spark, n_rows: int):
    """~Zipfian items: item j is hit with weight ∝ 1/(j+1) via a nested
    pmod trick — deterministic, no RNG."""
    return spark.range(n_rows).select(
        F.concat(
            F.lit("item_"),
            F.pmod(F.xxhash64("id"), F.pmod(F.xxhash64("id", F.lit(7)), F.lit(400)) + 1)
            .cast("string"),
        ).alias("item")
    )


def test_matches_exact_topk_under_skew(spark):
    df = _zipfy(spark, 200_000).repartition(16)  # many batches, 400+ items
    approx = [(r.item, r.n) for r in heavy_hitters_topk(df, "item", k=10).collect()]
    exact = [
        (r.item, r.n)
        for r in df.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "item")
        .limit(10)
        .collect()
    ]
    assert approx == exact


def test_counts_are_exact_for_returned_items(spark):
    """Errors can only be omissions: every returned count must equal the
    true global count (phase 2 recounts candidates exactly)."""
    df = _zipfy(spark, 50_000).repartition(8)
    got = {r.item: r.n for r in heavy_hitters_topk(df, "item", k=5).collect()}
    truth = {
        r.item: r.n
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got and all(truth[i] == n for i, n in got.items())


def test_candidate_side_is_broadcast(spark):
    df = _zipfy(spark, 10_000)
    plan = (
        heavy_hitters_topk(df, "item", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:1500]


def test_empty_input_yields_empty_topk(spark):
    empty = spark.createDataFrame([], "item string")
    assert heavy_hitters_topk(empty, "item", k=5).count() == 0


def test_null_heavy_column_keeps_null_in_topk(spark):
    """Round-6 review finding: NULL is a countable value class (SQL GROUP
    BY has a NULL group). A column whose most frequent value is NULL must
    report it — value_counts(dropna=False) + an eqNullSafe semi-join."""
    df = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, None)
        .otherwise(F.concat(F.lit("v"), (F.col("id") % 50).cast("string")))
        .alias("item")
    ).repartition(4)
    top = [(r.item, r.n) for r in heavy_hitters_topk(df, "item", k=3).collect()]
    assert top[0] == (None, 500), top


# ---------------------------------------------------------------------------
# key skew profile (round 9)
# ---------------------------------------------------------------------------


def test_key_skew_profile_hand_computed(spark):
    """20 rows over 4 keys (one deliberately hot, one NULL): counts, integer
    basis-point shares, and the x100 mean-multiple all match hand math;
    NULL profiles as a key and sorts first among count ties."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.profile import key_skew_profile

    rows = [("a",)] * 12 + [("b",)] * 4 + [(None,)] * 2 + [("c",)] * 2
    df = spark.createDataFrame(rows, "k string")
    got = [tuple(r) for r in key_skew_profile(df, "k", top_k=3).orderBy("rank").collect()]
    # total=20, n_keys=4, mean=5; a: 12 rows -> 6000bp, 240 x100
    assert got[0] == (1, "a", 12, 6000, 240, 20, 4)
    assert got[1] == (2, "b", 4, 2000, 80, 20, 4)
    # NULL (2 rows) ties with "c" (2 rows) and ranks first (nulls first)
    assert got[2] == (3, None, 2, 1000, 40, 20, 4)
    assert len(got) == 3


def test_key_skew_profile_single_groupby_over_data(spark):
    """The only pass over data rows is one map-combined groupBy: the plan
    holds exactly one scan of the input relation."""
    from sql4pandas_spark.operators.profile import key_skew_profile
    from sql4pandas_spark.sources.parquet import register_tables
    from tests.conftest import SF_SMALL

    events = register_tables(spark, SF_SMALL, ("events",))["events"]
    out = key_skew_profile(events, "user_id")
    out.collect()
    # the counts exchange serves both branches via ReusedExchange in the
    # executed plan — single data scan, and NO cache (a persist here had
    # no unpersist point and pinned executor storage; round-9 ADVICE)
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan parquet") == 1, final
    assert "ReusedExchange" in final
    assert "InMemoryTableScan" not in final


# ---------------------------------------------------------------------------
# MAD volume anomalies (round 9)
# ---------------------------------------------------------------------------


def test_mad_anomalies_hand_computed(spark):
    """7 hourly buckets per group with one planted 100x spike: counts of
    [5,5,6,6,7,7,500] give med=6 (med_x2=12), dev_x2=[2,2,0,0,2,2,988],
    MAD=1 (mad_x4=4) -> only the spike satisfies 2*dev_x2 > 3*mad_x4 ...
    along with the honest near-tie buckets: 2*2=4 > 3*4=12 is FALSE, so
    exactly the spike flags. A steady group flags nothing, and a NULL
    group is a group: its copy of the spiky series flags the same way."""
    import datetime as dt

    from sql4pandas_spark.operators.profile import mad_anomalies

    rows = []
    counts = {0: 5, 1: 5, 2: 6, 3: 6, 4: 7, 5: 7, 6: 500}
    for h, n in counts.items():
        t0 = dt.datetime(2024, 3, 1, h, 0, 0)
        rows += [("spiky", t0 + dt.timedelta(seconds=i)) for i in range(n)]
        rows += [(None, t0 + dt.timedelta(seconds=i)) for i in range(n)]
        rows += [("steady", t0 + dt.timedelta(seconds=i)) for i in range(6)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    got = {
        (r.g, r.bucket_ts.hour): (r.n_events, r.med_x2, r.mad_x4, r.dev_x2)
        for r in mad_anomalies(df, "ts", "g", bucket="hour", k=3).collect()
    }
    assert got == {("spiky", 6): (500, 12, 4, 988), (None, 6): (500, 12, 4, 988)}


def test_mad_flags_spike_a_stddev_zscore_hides(spark):
    """The docstring's robustness claim: one enormous spike inflates the
    stddev enough that its own z-score stays under 3, while the MAD gate
    still flags it."""
    import datetime as dt
    import statistics

    from sql4pandas_spark.operators.profile import mad_anomalies

    counts = [10] * 4 + [1000]  # one point holding ~96% of the variance
    rows = []
    for h, n in enumerate(counts):
        t0 = dt.datetime(2024, 3, 2, h, 0, 0)
        rows += [("g", t0 + dt.timedelta(seconds=i)) for i in range(n)]
    mean = statistics.mean(counts)
    sd = statistics.pstdev(counts)
    assert abs(counts[-1] - mean) / sd < 3  # stddev z-score misses it
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    flagged = mad_anomalies(df, "ts", "g", bucket="hour", k=3).collect()
    assert [r.n_events for r in flagged] == [1000]  # MAD catches it


# ---------------------------------------------------------------------------
# chi-square association (round 9)
# ---------------------------------------------------------------------------


def test_categorical_association_hand_computed(spark):
    """2x2 with a known chi-square: rows a:(8,2), b:(2,8) over n=20.
    Marginals 10/10 each way -> every expected cell is 5; chi2 =
    4 * (3^2/5) = 7.2. Plus a zero-observed cell case in a 2x3."""
    from sql4pandas_spark.operators.profile import categorical_association

    rows = (
        [("x", "p")] * 8 + [("x", "q")] * 2 + [("y", "p")] * 2 + [("y", "q")] * 8
    )
    df = spark.createDataFrame(rows, "a string, b string")
    got = {(r.a, r.b): (r.n, r.expected_e6, r.chi2_e6) for r in
           categorical_association(df, "a", "b").collect()}
    assert got == {
        ("x", "p"): (8, 5_000_000, 1_800_000),
        ("x", "q"): (2, 5_000_000, 1_800_000),
        ("y", "p"): (2, 5_000_000, 1_800_000),
        ("y", "q"): (8, 5_000_000, 1_800_000),
    }
    assert sum(v[2] for v in got.values()) == 7_200_000


def test_categorical_association_zero_cell_contributes_expected(spark):
    """A never-observed (a, b) combination still appears with n=0 and
    chi2 contribution == its expected count ((0-e)^2/e = e)."""
    from sql4pandas_spark.operators.profile import categorical_association

    rows = [("x", "p")] * 6 + [("x", "q")] * 2 + [("y", "p")] * 2
    df = spark.createDataFrame(rows, "a string, b string")
    got = {(r.a, r.b): (r.n, r.expected_e6, r.chi2_e6) for r in
           categorical_association(df, "a", "b").collect()}
    assert len(got) == 4  # full 2x2 grid despite 3 observed cells
    n0, e0, c0 = got[("y", "q")]
    # row y total 2, col q total 2, n 10 -> e = 2*2/10 = 0.4
    assert n0 == 0 and e0 == c0 == 400_000


def test_robust_outlier_rows_hand_computed(spark):
    """Group values [10,10,12,12,14,14,100]: med=12 (x2=24),
    dev_x2=[4,4,0,0,4,4,176], MAD_x4=8 -> at k=3 only 100 flags
    (2*176=352 > 24); the near-ties (2*4=8 > 24 false) stay."""
    from sql4pandas_spark.operators.profile import robust_outlier_rows

    vals = [10, 10, 12, 12, 14, 14, 100]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, x long")
    got = [
        (r.x, r.med_x2, r.mad_x4, r.dev_x2)
        for r in robust_outlier_rows(df, "x", "grp", k=3).collect()
    ]
    assert got == [(100, 24, 8, 176)]


def test_robust_outlier_rows_null_group_and_approx_path(spark):
    """NULL group is a group (null-safe joins); the approx path flags the
    same obvious outlier on this easy distribution."""
    from sql4pandas_spark.operators.profile import robust_outlier_rows

    rows = [(None, v) for v in [5, 5, 5, 5, 500]] + [("g", 7)] * 3
    df = spark.createDataFrame(rows, "grp string, x long")
    exact = robust_outlier_rows(df, "x", "grp", k=3).collect()
    assert [(r.grp, r.x) for r in exact] == [(None, 500)]
    approx = robust_outlier_rows(df, "x", "grp", k=3, exact=False).collect()
    assert [(r.grp, r.x) for r in approx] == [(None, 500)]


# ---------------------------------------------------------------------------
# MAD volume anomalies and PSI over histogram states (round 10)
# ---------------------------------------------------------------------------


def test_mad_anomalies_values_survive_persist_removal(spark):
    """Semantics check: same flags as a hand-computed MAD on a tiny
    series (one spike among steady hourly counts)."""
    from sql4pandas_spark.operators.profile import mad_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(8):
        n = 50 if h == 3 else 4 + (h % 2)
        rows += [("g", base + dt.timedelta(hours=h, seconds=s)) for s in range(n)]
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = mad_anomalies(df, "ts", "event_type", bucket="hour", k=3).collect()
    assert [(r["bucket_ts"].hour, r["n_events"]) for r in out] == [(3, 50)]


def test_psi_from_histograms_equals_distribution_drift(spark):
    """The histogram-state PSI read-out must reproduce the raw-row drift
    gate on the same fixed grid (streaming monitoring == batch gate)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.profile import (
        distribution_drift,
        psi_from_histograms,
    )
    from sql4pandas_spark.operators.sketches import value_histogram

    full = spark.range(2000).select(
        (F.col("id") % 37).cast("double").alias("v"),
        (F.col("id") % 2).alias("half"),
    )

    def frame(values):
        return spark.createDataFrame([(float(v),) for v in values], "v double")

    cases = [
        (full.filter("half = 0"), full.filter("half = 1"), 0.0, 40.0, 8),
        # NaN has no bin on either path: both drop the four NaNs
        (frame(range(1, 9)), frame([1, 2, 3, 4] + [float("nan")] * 4), 0.0, 10.0, 4),
    ]
    for old, new, lo, hi, n_bins in cases:
        raw = {
            r["bin"]: (r["n_old"], r["n_new"], r["p"], r["q"], r["psi"])
            for r in distribution_drift(
                old, new, "v", n_bins=n_bins, lo=lo, hi=hi
            ).collect()
        }
        grid = dict(value_col="v", lo=lo, hi=hi, n_bins=n_bins)
        st = {
            r["bin"]: (r["n_old"], r["n_new"], r["p"], r["q"], r["psi"])
            for r in psi_from_histograms(
                value_histogram(old, **grid), value_histogram(new, **grid), n_bins
            ).collect()
        }
        assert st == raw, (lo, hi, n_bins)


# ---------------------------------------------------------------------------
# streaming sketch-state maintenance (round 10)
# ---------------------------------------------------------------------------


def _land_one_file(df, landing_dir, fname):
    import os
    import shutil
    import uuid as _uuid

    stage = os.path.join(landing_dir, f"_stage_{_uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.makedirs(landing_dir, exist_ok=True)
    shutil.copyfile(os.path.join(stage, part), os.path.join(landing_dir, fname))
    shutil.rmtree(stage, ignore_errors=True)


def test_heavy_hitter_stream_matches_batch_recount(spark, tmp_path):
    """Two drains over a shared checkpoint (resume), final state == exact
    full recount (per-batch vocab under m ⇒ provably exact)."""
    from sql4pandas_spark.streaming import sketches as sk

    store = str(tmp_path / "store")
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, ["item"]
    )
    b2 = spark.createDataFrame(
        [("a",)] * 2 + [("c",)] * 7 + [("d",)] * 4, ["item"]
    )
    sk.empty_state(spark, "item string, n long", store)

    _land_one_file(b1, land, "batch_00.parquet")
    stream = spark.readStream.schema(b1.schema).parquet(land)
    sk.run_heavy_hitter_stream(stream, store, "item", m=8, checkpoint=ckpt)

    _land_one_file(b2, land, "batch_01.parquet")
    stream = spark.readStream.schema(b1.schema).parquet(land)
    sk.run_heavy_hitter_stream(stream, store, "item", m=8, checkpoint=ckpt)

    final = {r["item"]: r["n"] for r in sk.latest_state(spark, store).collect()}
    assert final == {"a": 7, "b": 3, "c": 8, "d": 4}


def test_histogram_stream_matches_batch_histogram(spark, tmp_path):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import value_histogram
    from sql4pandas_spark.streaming import sketches as sk

    store = str(tmp_path / "store")
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    full = spark.range(1000).select((F.col("id") % 97).cast("double").alias("v"))
    b1 = full.filter(F.col("v") < 50)
    b2 = full.filter(F.col("v") >= 50)
    sk.empty_state(spark, "bin long, n long", store)

    _land_one_file(b1, land, "batch_00.parquet")
    stream = spark.readStream.schema(b1.schema).parquet(land)
    sk.run_histogram_stream(stream, store, "v", 0.0, 100.0, 20, checkpoint=ckpt)

    _land_one_file(b2, land, "batch_01.parquet")
    stream = spark.readStream.schema(b1.schema).parquet(land)
    sk.run_histogram_stream(stream, store, "v", 0.0, 100.0, 20, checkpoint=ckpt)

    got = {r["bin"]: r["n"] for r in sk.latest_state(spark, store).collect()}
    want = {
        r["bin"]: r["n"]
        for r in value_histogram(full, "v", 0.0, 100.0, 20).collect()
    }
    assert got == want


def test_cms_stream_matches_batch_build(spark, tmp_path):
    """Streaming CMS: two resume-checkpoint drains fold to exactly the
    global-build state (per-cell sums of batch counts == global cells)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import count_min_state
    from sql4pandas_spark.streaming import sketches as sk

    store = str(tmp_path / "store")
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    full = spark.range(800).select((F.col("id") % 37).cast("string").alias("item"))
    b1 = full.filter(F.length("item") == 1)
    b2 = full.filter(F.length("item") > 1)
    sk.empty_state(spark, "row int, col int, n long", store)
    for i, b in enumerate((b1, b2)):
        _land_one_file(b, land, f"batch_{i:02d}.parquet")
        stream = spark.readStream.schema(b.schema).parquet(land)
        sk.run_cms_stream(stream, store, "item", depth=3, width=32, checkpoint=ckpt)
    got = {(r.row, r.col): r.n for r in sk.latest_state(spark, store).collect()}
    want = {
        (r.row, r.col): r.n
        for r in count_min_state(full, "item", depth=3, width=32).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# incremental DSIR stats (round 14)
# ---------------------------------------------------------------------------


def test_merge_dsir_stats_equals_global(spark):
    """Counter mergeability: per-batch bucket stats re-aggregated equal
    the from-scratch global stats frame exactly; empty input raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import (
        dsir_bucket_stats,
        dsir_bucket_tokens,
        merge_dsir_stats,
    )
    from sql4pandas_spark.sources.parquet import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    is_t = F.col("lang") == "en"
    parts = [
        dsir_bucket_stats(
            dsir_bucket_tokens(d.filter(F.col("doc_id") % 3 == b), is_t)
        )
        for b in range(3)
    ]
    merged = {
        r["_b"]: (r["_t_cnt"], r["_r_cnt"])
        for r in merge_dsir_stats(parts).collect()
    }
    want = {
        r["_b"]: (r["_t_cnt"], r["_r_cnt"])
        for r in dsir_bucket_stats(dsir_bucket_tokens(d, is_t)).collect()
    }
    assert merged == want
    with _pytest.raises(ValueError):
        merge_dsir_stats([])


def test_stream_dsir_store_matches_global_stats(spark, tmp_path):
    """The stream-maintained DSIR store equals the from-scratch global
    bucket stats after two drains, and a replay of the LAST batch (the
    crash case) is idempotent rather than double-counting."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import (
        dsir_bucket_stats,
        dsir_bucket_tokens,
    )
    from sql4pandas_spark.sources.parquet import table
    from sql4pandas_spark.streaming import sketches as sk

    d = table(spark, "/root/testdata/sf0.001", "documents")
    is_t = F.col("lang") == "en"
    root = str(tmp_path / "store")
    sk.empty_state(spark, "_b long, _t_cnt long, _r_cnt long", root)
    b0 = dsir_bucket_stats(dsir_bucket_tokens(d.filter(F.col("doc_id") % 2 == 0), is_t))
    b1 = dsir_bucket_stats(dsir_bucket_tokens(d.filter(F.col("doc_id") % 2 == 1), is_t))
    sk.sketch_apply_batch(b0, root, _dsir_merge(), 0)
    sk.sketch_apply_batch(b1, root, _dsir_merge(), 1)
    # crash replay of batch 1: same input version, same rows — idempotent
    sk.sketch_apply_batch(b1, root, _dsir_merge(), 1)
    got = {
        r["_b"]: (r["_t_cnt"], r["_r_cnt"])
        for r in sk.latest_state(spark, root).collect()
    }
    want = {
        r["_b"]: (r["_t_cnt"], r["_r_cnt"])
        for r in dsir_bucket_stats(dsir_bucket_tokens(d, is_t)).collect()
    }
    assert got == want


def _dsir_merge():
    from pyspark.sql import functions as F

    def merge(prev, cur):
        return (
            prev.unionByName(cur)
            .groupBy("_b")
            .agg(F.sum("_t_cnt").alias("_t_cnt"), F.sum("_r_cnt").alias("_r_cnt"))
        )

    return merge


# ---------------------------------------------------------------------------
# one body per statistical rule
# ---------------------------------------------------------------------------


def _operator_call_sites(match) -> list[tuple[str, str | None]]:
    """(file, top-level owner) of each call in sql4pandas_spark/operators
    that ``match`` accepts, one entry per call site."""
    root = Path(__file__).resolve().parents[1] / "sql4pandas_spark" / "operators"
    return sorted(
        (path.name, getattr(top, "name", None))
        for path in sorted(root.glob("*.py"))
        for top in ast.parse(path.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call) and match(node)
    )


def _is_skey_topk_cut(node: ast.Call) -> bool:
    """``<frame>.orderBy(F.desc("skey"), ...).limit(...)``."""
    func = node.func
    return (
        isinstance(func, ast.Attribute)
        and func.attr == "limit"
        and isinstance(order := func.value, ast.Call)
        and isinstance(order.func, ast.Attribute)
        and order.func.attr == "orderBy"
        and bool(order.args)
        and ast.unparse(order.args[0]) == "F.desc('skey')"
    )


def test_statistical_rules_spelled_once():
    """The integer MAD's median is taken only in robust_outlier_rows, the
    fixed-grid bin feeds only value_histogram (every PSI gate) and
    drift_timeline (its own e6 quantization), and the hash-keyed
    weighted top-k is cut only in sampling._hash_topk."""
    median = _operator_call_sites(lambda n: ast.unparse(n.func) == "F.median")
    assert median == [("profile.py", "robust_outlier_rows")], median
    grid = _operator_call_sites(
        lambda n: ast.unparse(n.func).split(".")[-1] == "grid_bin"
    )
    assert grid == [
        ("profile.py", "drift_timeline"),
        ("sketches.py", "value_histogram"),
    ], grid
    cuts = _operator_call_sites(_is_skey_topk_cut)
    assert cuts == [("sampling.py", "_hash_topk")], cuts
