"""Directed + property tests for the round-9 continuation operators added
after the verdict items closed: incremental aggregate maintenance
(operators/maintenance.partial_agg_state + merge_agg_states). The core
invariant is refresh-equivalence: a state maintained batch-by-batch must be
indistinguishable from a from-scratch rebuild over the union of all
batches, for ANY split of the rows into batches (including empty batches
and key-disjoint batches)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql4pandas_spark.operators.maintenance import (
    merge_agg_states,
    partial_agg_state,
)

_SETTINGS = dict(
    deadline=None,
    derandomize=True,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)

_MEASURES = {
    "n": ("count", "v"),
    "s": ("sum", "v"),
    "lo": ("min", "v"),
    "hi": ("max", "v"),
}
_MERGES = {"n": "count", "s": "sum", "lo": "min", "hi": "max"}


def _state_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _maintain(spark, batches):
    state = partial_agg_state(
        spark.createDataFrame(batches[0], _SCHEMA), ["k"], _MEASURES
    )
    for rows in batches[1:]:
        delta = partial_agg_state(
            spark.createDataFrame(rows, _SCHEMA), ["k"], _MEASURES
        )
        state = merge_agg_states(state, delta, ["k"], _MERGES)
    return state


@st.composite
def batch_splits(draw):
    n = draw(st.integers(1, 24))
    rows = [
        (draw(st.integers(0, 5)), draw(st.integers(-1000, 1000)))
        for _ in range(n)
    ]
    n_batches = draw(st.integers(1, 4))
    assign = [draw(st.integers(0, n_batches - 1)) for _ in rows]
    batches = [
        [r for r, a in zip(rows, assign) if a == b] for b in range(n_batches)
    ]
    # first batch must be non-empty (createDataFrame([], schema) is fine,
    # but keep the base state meaningful); empty LATER batches stay — an
    # idle refresh interval must be a no-op, not a corruption
    if not batches[0]:
        batches[0] = [rows[0]]
    return rows, batches


@given(batch_splits())
@settings(**_SETTINGS)
def test_maintained_state_equals_full_rebuild(spark, case):
    """Refresh-equivalence under arbitrary batch splits, incl. empty
    deltas and keys present in only some batches."""
    _, batches = case
    maintained = _maintain(spark, batches)
    rebuilt = partial_agg_state(
        spark.createDataFrame([r for b in batches for r in b], _SCHEMA),
        ["k"],
        _MEASURES,
    )
    assert _state_rows(maintained) == _state_rows(rebuilt)


def test_merge_adds_zero_exchanges_over_copartitioned_states(spark):
    """When both state inputs are already hash-partitioned on the key
    (they always are: partial_agg_state's own groupBy leaves them so, and
    bucketed state storage preserves it on disk), the merge groupBy must
    add NO new exchange — Catalyst's ENSURE_REQUIREMENTS sees the union's
    children co-partitioned on k and plans partial+final HashAggregate
    directly. 2 exchanges total = one per raw-batch partial agg, zero for
    the merge; 3 would mean every refresh re-shuffles the whole state."""
    a = partial_agg_state(
        spark.createDataFrame([(1, 10), (2, 20)], _SCHEMA), ["k"], _MEASURES
    )
    b = partial_agg_state(
        spark.createDataFrame([(1, 5), (3, 7)], _SCHEMA), ["k"], _MEASURES
    )
    merged = merge_agg_states(a, b, ["k"], _MERGES)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert _state_rows(merged) == [(1, 2, 15, 5, 10), (2, 1, 20, 20, 20), (3, 1, 7, 7, 7)]


def test_avg_derivation_beats_average_of_averages(spark):
    """The reason avg is NOT a state column: two batches with unequal
    sizes make mean-of-means wrong; deriving from (count, sum) after the
    merge is exact."""
    b1 = [(1, 10), (1, 20), (1, 30)]  # avg 20
    b2 = [(1, 100)]  # avg 100; naive mean-of-means = 60
    state = _maintain(spark, [b1, b2])
    row = state.collect()[0]
    assert row["s"] / row["n"] == 40.0


# ------------------------------------------- referential-integrity audit


def test_fk_audit_counts_orphans_nulls_rows_and_keys(spark):
    child_schema = T.StructType(
        [T.StructField("fk", T.LongType()), T.StructField("x", T.LongType())]
    )
    child = spark.createDataFrame(
        [(1, 0), (1, 0), (2, 0), (9, 0), (9, 0), (9, 0), (None, 0), (8, 0)],
        child_schema,
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    from sql4pandas_spark.operators.profile import referential_integrity_audit

    out = referential_integrity_audit([("e", child, "fk", parent, "pk")])
    row = out.collect()[0]
    assert (
        row["edge"],
        row["n_rows"],
        row["n_null_fk"],
        row["n_orphan_rows"],
        row["n_orphan_keys"],
    ) == ("e", 8, 1, 4, 2)  # orphans: 9 (x3 rows) and 8 (x1 row)


def test_fk_audit_clean_edge_is_all_zero(spark):
    child = spark.createDataFrame([(1,), (2,), (2,)], ["fk"])
    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    from sql4pandas_spark.operators.profile import referential_integrity_audit

    out = referential_integrity_audit([("ok", child, "fk", parent, "pk")])
    row = out.collect()[0]
    assert (row["n_null_fk"], row["n_orphan_rows"], row["n_orphan_keys"]) == (
        0,
        0,
        0,
    )


# ------------------------------------------------------ batch sessionize


def test_sessionize_gap_boundaries_and_stats(spark):
    from datetime import datetime

    from sql4pandas_spark.operators.behavior import sessionize

    t0 = datetime(2025, 1, 1, 12, 0, 0)

    def at(secs):
        from datetime import timedelta

        return t0 + timedelta(seconds=secs)

    rows = [
        (1, at(0)),
        (1, at(1800)),      # exactly the gap -> SAME session (> not >=)
        (1, at(3601)),      # 1801s after previous -> new session
        (1, at(3601)),      # duplicate ts -> same session, extra event
        (2, at(0)),         # another user sessions independently
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sorted(
        (r["user_id"], r["session_idx"], r["n_events"], r["duration_secs"])
        for r in sessionize(df, gap_secs=1800).collect()
    )
    assert out == [(1, 1, 2, 1800), (1, 2, 2, 0), (2, 1, 1, 0)]


def test_sessionize_is_one_exchange(spark):
    """The lag window and the (user, session) rollup must share one hash
    exchange on user — a second exchange would double the wire cost of
    sessionizing a 100 TB clickstream."""
    from datetime import datetime

    from sql4pandas_spark.operators.behavior import sessionize

    df = spark.createDataFrame(
        [(1, datetime(2025, 1, 1)), (2, datetime(2025, 1, 2))],
        ["user_id", "ts"],
    )
    plan = (
        sessionize(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


# --------------------------------------------------------- winsorization


def test_winsorize_clips_to_discrete_percentiles(spark):
    from sql4pandas_spark.operators.profile import winsorize_by_group

    # group g: values 1..20 -> p5 rank ceil(0.05*20)=1 -> lo=1;
    # p95 rank ceil(0.95*20)=19 -> hi=19; so 20 clips to 19
    rows = [("g", v) for v in range(1, 21)]
    out = winsorize_by_group(
        spark.createDataFrame(rows, ["grp", "v"]), "v", "grp"
    )
    got = {r["v"]: (r["lo_val"], r["hi_val"], r["v_winsorized"]) for r in out.collect()}
    assert got[1] == (1, 19, 1)
    assert got[19] == (1, 19, 19)
    assert got[20] == (1, 19, 19)


def test_winsorize_single_exchange(spark):
    from sql4pandas_spark.operators.profile import winsorize_by_group

    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["g", "v"])
    plan = (
        winsorize_by_group(df, "v", "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_winsorize_rejects_bad_percentiles(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.profile import winsorize_by_group

    df = spark.createDataFrame([("a", 1)], ["g", "v"])
    with _pytest.raises(ValueError):
        winsorize_by_group(df, "v", "g", lo_pct=95, hi_pct=5)


# ------------------------------------------------------ negative sampling


def test_negative_samples_never_self_and_deterministic(spark):
    from sql4pandas_spark.operators.sampling import negative_samples

    df = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    out = negative_samples(df, "doc_id", k=2, n_buckets=8)
    rows = [(r["doc_id"], r["neg_rank"], r["neg_id"]) for r in out.collect()]
    assert all(a != n for a, _, n in rows)  # never the anchor itself
    again = [
        (r["doc_id"], r["neg_rank"], r["neg_id"])
        for r in negative_samples(df, "doc_id", k=2, n_buckets=8).collect()
    ]
    assert sorted(rows) == sorted(again)  # refeed-stable
    per_anchor = {}
    for a, j, n in rows:
        per_anchor.setdefault(a, set()).add(n)
    # adjacent buckets are distinct, so each anchor's k draws differ
    assert all(len(v) == 2 for v in per_anchor.values())


def test_negative_samples_is_broadcast_join(spark):
    from sql4pandas_spark.operators.sampling import negative_samples

    df = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    plan = (
        negative_samples(df, "doc_id", k=2, n_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_negative_samples_rejects_k_ge_buckets(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.sampling import negative_samples

    df = spark.createDataFrame([(1,)], ["doc_id"])
    with _pytest.raises(ValueError):
        negative_samples(df, "doc_id", k=8, n_buckets=8)


# ------------------------------------------------------- per-group cap


def test_cap_per_group_keeps_best_first_with_deterministic_ties(spark):
    from sql4pandas_spark.operators.sampling import cap_per_group

    rows = [
        ("a", 10, 1),
        ("a", 30, 2),
        ("a", 30, 3),  # tie with id 2 -> id 2 ranks first
        ("a", 20, 4),
        ("b", 5, 5),
    ]
    df = spark.createDataFrame(rows, ["g", "score", "id"])
    out = {
        r["id"]: (r["_rank"], r["kept"])
        for r in cap_per_group(df, "g", 2, "score", "id").collect()
    }
    assert out[2] == (1, True)
    assert out[3] == (2, True)
    assert out[4] == (3, False)
    assert out[1] == (4, False)
    assert out[5] == (1, True)


# ------------------------------------------- mergeable quantile histogram


def test_histogram_merge_equals_full_rebuild_and_quantiles(spark):
    from sql4pandas_spark.operators.sketches import (
        merge_histograms,
        quantiles_from_histogram,
        value_histogram,
    )

    grid = dict(value_col="v", lo=0.0, hi=100.0, n_bins=10)
    all_rows = [(float(v),) for v in range(100)]
    df = spark.createDataFrame(all_rows, ["v"])
    b1 = spark.createDataFrame(all_rows[:37], ["v"])
    b2 = spark.createDataFrame(all_rows[37:], ["v"])
    merged = merge_histograms(
        value_histogram(b1, **grid), value_histogram(b2, **grid)
    )
    full = value_histogram(df, **grid)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    q = {
        r["pct"]: (r["n_total"], r["bin"], r["est_value"])
        for r in quantiles_from_histogram(
            merged, [50, 90], lo=0.0, hi=100.0, n_bins=10
        ).collect()
    }
    # rank(p50) = ceil(0.5*100) = 50 -> cum reaches 50 in bin 4 (40..49)
    assert q[50] == (100, 4, 40.0)
    # rank(p90) = 90 -> bin 8 (80..89)
    assert q[90] == (100, 8, 80.0)


def test_histogram_clamps_and_excludes_nulls(spark):
    from sql4pandas_spark.operators.sketches import value_histogram

    df = spark.createDataFrame(
        [(-5.0,), (150.0,), (None,), (50.0,)], ["v"]
    )
    h = dict(
        (r["bin"], r["n"])
        for r in value_histogram(df, "v", 0.0, 100.0, 10).collect()
    )
    assert h == {0: 1, 9: 1, 5: 1}


# ----------------------------------------------------- constraint gate


def test_check_constraints_null_condition_is_violation(spark):
    from sql4pandas_spark.operators.audit import check_constraints

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, -5)], ["id", "price"]
    )
    out = {
        r["check"]: (r["n_rows"], r["n_violations"], r["violation_ppm"])
        for r in check_constraints(
            df,
            [
                ("price_positive", F.col("price") > 0),
                ("id_not_null", F.col("id").isNotNull()),
                (
                    "price_positive_or_null",
                    F.col("price").isNull() | (F.col("price") > 0),
                ),
            ],
        ).collect()
    }
    # NULL price fails `price > 0` (unknown != satisfied)...
    assert out["price_positive"] == (3, 2, 666666)
    assert out["id_not_null"] == (3, 0, 0)
    # ...until the contract declares NULL-tolerance explicitly
    assert out["price_positive_or_null"] == (3, 1, 333333)


def test_check_constraints_single_scan(spark):
    from sql4pandas_spark.operators.audit import check_constraints

    df = spark.createDataFrame([(1,)], ["x"])
    plan = (
        check_constraints(
            df, [("a", F.col("x") > 0), ("b", F.col("x") < 9)]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_check_constraints_rejects_empty(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.audit import check_constraints

    with _pytest.raises(ValueError):
        check_constraints(spark.range(1), [])


def test_streaming_quantile_maintenance_exactly_once(spark, tmp_path):
    """Production shape for a streaming percentile monitor: foreachBatch
    reduces each micro-batch to its fixed-grid histogram partial and
    dynamic-overwrites a batch_id partition of a histogram store — the
    same exactly-once discipline as the incremental dedup stores (a
    replayed batch overwrites ITS OWN partition, never double-counts).
    Reading the store and summing per bin must equal the from-scratch
    histogram of all rows, before AND after a simulated batch replay."""
    import os as _os

    from sql4pandas_spark.operators.sketches import (
        quantiles_from_histogram,
        value_histogram,
    )

    grid = dict(value_col="x", lo=0.0, hi=100.0, n_bins=10)
    files = [
        [(float(i % 50),) for i in range(60)],
        [(50.0 + i % 50,) for i in range(40)],
    ]
    src = tmp_path / "src"
    flat = tmp_path / "flat"
    _os.makedirs(flat)
    for i, rows in enumerate(files):
        d = str(src / f"f{i}")
        spark.createDataFrame(rows, "x double").coalesce(1).write.parquet(d)
        for f in sorted(_os.listdir(d)):
            if f.endswith(".parquet"):
                _os.symlink(_os.path.join(d, f), str(flat / f"{i:02d}_{f}"))

    store = str(tmp_path / "hist_store")

    def update_store(df, batch_id):
        part = value_histogram(df, **grid).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        (
            part.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    q = (
        spark.readStream.schema("x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
        .writeStream.foreachBatch(update_store)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    def merged_state():
        return (
            spark.read.parquet(store)
            .groupBy("bin")
            .agg(F.sum("n").alias("n"))
        )

    all_rows = [r for rows in files for r in rows]
    full = value_histogram(
        spark.createDataFrame(all_rows, "x double"), **grid
    )
    assert sorted(map(tuple, merged_state().collect())) == sorted(
        map(tuple, full.collect())
    )

    # crash-replay: re-deliver batch 0 — the partition overwrite makes it
    # a no-op, not a double count
    update_store(spark.createDataFrame(files[0], "x double"), 0)
    assert sorted(map(tuple, merged_state().collect())) == sorted(
        map(tuple, full.collect())
    )

    q50 = quantiles_from_histogram(
        merged_state(), [50], lo=0.0, hi=100.0, n_bins=10
    ).collect()[0]
    # batch 1 doubles values 0..9 (60 rows of i%50), so bin counts are
    # [20,10,10,10,10, 10,10,10,10,10]; rank(p50)=50 first reached at bin 3
    assert q50["n_total"] == 100 and q50["bin"] == 3


# -------------------------------------------------- top movers + OHLC


def test_top_movers_growth_signs_and_first_bucket_excluded(spark):
    from datetime import datetime, timedelta

    from sql4pandas_spark.operators.behavior import top_movers

    base = datetime(2025, 1, 6)  # a Monday
    rows = []
    # type A: 4 events wk0, 6 wk1 (+50%), 3 wk2 (-50%)
    for wk, n in [(0, 4), (1, 6), (2, 3)]:
        rows += [("A", base + timedelta(weeks=wk, minutes=i)) for i in range(n)]
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {
        (r["event_type"], r["bucket_ts"].isocalendar()[1]): (
            r["n_events"],
            r["prev_events"],
            r["growth_ppm"],
        )
        for r in top_movers(df, "event_type").collect()
    }
    assert len(got) == 2  # week 0 has no previous -> excluded
    vals = sorted(got.values())
    assert vals == [(3, 6, -500000), (6, 4, 500000)]


def test_ohlc_open_close_tie_break_deterministic(spark):
    from datetime import datetime

    from sql4pandas_spark.operators.behavior import ohlc_resample

    t = datetime(2025, 1, 1, 10, 15)
    rows = [
        (1, t, "m", 5.0),
        (0, t, "m", 7.0),   # same ts as id 1 -> lower id wins "open"
        (2, datetime(2025, 1, 1, 10, 50), "m", 2.0),
        (3, datetime(2025, 1, 1, 10, 50), "m", 9.0),  # higher id wins close
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    r = ohlc_resample(df).collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n_events"]) == (
        7.0,
        9.0,
        2.0,
        9.0,
        4,
    )


def test_ohlc_single_exchange(spark):
    from datetime import datetime

    from sql4pandas_spark.operators.behavior import ohlc_resample

    df = spark.createDataFrame(
        [(1, datetime(2025, 1, 1), "m", 1.0)],
        ["event_id", "ts", "event_type", "value"],
    )
    plan = ohlc_resample(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ------------------------------------- CDC extract + SCD2 + pct rank


def test_extract_changeset_roundtrips_through_merge_upsert(spark):
    """The defining law: applying the extracted changeset to the old
    snapshot reproduces the new snapshot exactly — inserts, updates,
    deletes, and NULL-valued data columns all covered."""
    from sql4pandas_spark.operators.maintenance import (
        extract_changeset,
        merge_upsert,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, None, 31), (5, None, 50)],
        "k long, s string, v long",
    )
    cs = extract_changeset(old, new, ["k"])
    ops = {r["k"]: r["op"] for r in cs.collect()}
    assert ops == {2: "update", 3: "update", 4: "delete", 5: "insert"}
    replayed = merge_upsert(old, cs, ["k"])
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_extract_changeset_unchanged_emits_nothing(spark):
    from sql4pandas_spark.operators.maintenance import extract_changeset

    df = spark.createDataFrame([(1, 10)], "k long, v long")
    assert extract_changeset(df, df, ["k"]).count() == 0


def test_scd2_intervals_and_current_flag(spark):
    from sql4pandas_spark.operators.maintenance import scd2_history

    changes = spark.createDataFrame(
        [(1, 1, 10), (1, 3, 11), (1, 7, 12), (2, 2, 20)],
        "k long, seq long, v long",
    )
    got = {
        (r["k"], r["seq"]): (r["valid_to_seq"], r["is_current"])
        for r in scd2_history(changes, ["k"], "seq").collect()
    }
    assert got == {
        (1, 1): (3, False),
        (1, 3): (7, False),
        (1, 7): (None, True),
        (2, 2): (None, True),
    }


def test_pct_rank_ties_share_rank(spark):
    from sql4pandas_spark.operators.text import percentile_rank_by_group

    df = spark.createDataFrame(
        [("g", 1), ("g", 5), ("g", 5), ("g", 9)], ["grp", "v"]
    )
    got = sorted(
        (r["v"], r["pct_rank_ppm"])
        for r in percentile_rank_by_group(df, "v", "grp").collect()
    )
    # ranks: 1 -> 1/4, both 5s -> 3/4 (range frame: count of v <= 5), 9 -> 4/4
    assert got == [(1, 250000), (5, 750000), (5, 750000), (9, 1000000)]


def test_rolling_active_users_dedupes_repeat_users(spark):
    """A user active on 3 days of one window counts ONCE in wau — the
    case a sliding sum of daily distinct counts gets wrong — and gap
    days report from the calendar spine with dau=0 but a live window."""
    from datetime import datetime, timedelta

    from sql4pandas_spark.operators.behavior import rolling_active_users

    base = datetime(2025, 3, 1)
    rows = [
        (1, base),
        (1, base + timedelta(days=2)),
        (1, base + timedelta(days=4)),  # same user, 3 days
        (2, base),                      # one-day user
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        r["day"].day: (r["dau"], r["wau"], r["stickiness_ppm"])
        for r in rolling_active_users(df).collect()
    }
    assert got[1] == (2, 2, 1000000)   # both active
    assert got[2] == (0, 2, 0)         # gap day: window still sees both
    assert got[3] == (1, 2, 500000)    # user 1 again -> wau stays 2
    assert got[5] == (1, 2, 500000)    # days 1..5: users {1, 2}


# --------------------------------------- join fan-out + k-anonymity


def test_join_fanout_estimate_matches_actual_join(spark):
    from sql4pandas_spark.operators.profile import join_fanout_estimate

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,)], ["k"]
    )
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (9,)], ["r"]
    )
    est = join_fanout_estimate(left, right, ["k"], ["r"], top_k=5)
    rows = est.collect()
    total = rows[0]["total_rows_out"]
    actual = left.join(right, left["k"] == right["r"]).count()
    assert total == actual == 7  # key 1: 2*3=6, key 2: 1*1=1
    top = rows[0]
    assert (top["key"], top["n_left"], top["n_right"], top["rows_out"]) == (
        "1",
        2,
        3,
        6,
    )
    assert top["share_bp"] == 6 * 10000 // 7
    assert rows[0]["n_matching_keys"] == 2


def test_k_anonymity_counts_small_groups(spark):
    from sql4pandas_spark.operators.profile import k_anonymity_audit

    rows = [("a", 1)] * 6 + [("b", 1)] * 2 + [("c", None)] * 1
    df = spark.createDataFrame(rows, ["seg", "nat"])
    r = k_anonymity_audit(df, ["seg", "nat"], k=5).collect()[0]
    assert (
        r["n_rows"],
        r["n_groups"],
        r["n_small_groups"],
        r["n_rows_below_k"],
        r["min_group_size"],
        r["risk_ppm"],
    ) == (9, 3, 2, 3, 1, 333333)


# ----------------------------------------- rerank stub + SCD2 as-of


def test_rerank_preserves_rows_and_appends_deterministic_scores(spark):
    from sql4pandas_spark.operators.retrieval import (
        rerank_with_model,
        stub_cross_encoder_scores,
    )

    cand = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    out = rerank_with_model(cand, query="q")
    rows = {r["doc_id"]: r["rerank_score_e6"] for r in out.collect()}
    expected = stub_cross_encoder_scores("q", ["alpha", "beta", "alpha"])
    assert rows == {1: expected[0], 2: expected[1], 3: expected[2]}
    assert rows[1] == rows[3]  # same (query, text) -> same score
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # model pass shuffles nothing
    assert "MapInPandas" in plan   # Arrow-batched, not row-wise Python


def test_scd2_supports_as_of_version_lookup(spark):
    """The layout's purpose: a point-in-time query is a plain range
    predicate over the intervals — replaying to version 2 shows seq-1
    values for odd keys and seq-2 values for the changed key."""
    from sql4pandas_spark.operators.maintenance import scd2_history

    changes = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12), (2, 1, 20)],
        "k long, seq long, v long",
    )
    hist = scd2_history(changes, ["k"], "seq")
    as_of_2 = hist.filter(
        (F.col("seq") <= 2)
        & (F.col("valid_to_seq").isNull() | (F.col("valid_to_seq") > 2))
    )
    assert {(r["k"], r["v"]) for r in as_of_2.collect()} == {(1, 11), (2, 20)}


def test_dedup_report_counts(spark):
    from sql4pandas_spark.operators.dedup import dedup_report

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        ["doc_id", "cluster_id"],
    )
    r = dedup_report(labels).collect()[0]
    assert (
        r["n_docs"],
        r["n_clusters"],
        r["n_singletons"],
        r["n_dup_docs"],
        r["n_removable"],
        r["max_cluster_size"],
        r["removable_ppm"],
    ) == (6, 3, 1, 5, 3, 3, 500000)


# -------------------------------------------------- empty-input edges


def test_round9_ops_survive_empty_inputs(spark):
    """Empty frames must flow through, not crash — the regression class
    that shows up on the first idle ingest interval in production."""
    from sql4pandas_spark.operators.audit import check_constraints
    from sql4pandas_spark.operators.behavior import (
        ohlc_resample,
        rolling_active_users,
        sessionize,
        top_movers,
    )
    from sql4pandas_spark.operators.profile import (
        k_anonymity_audit,
        referential_integrity_audit,
        winsorize_by_group,
    )
    from sql4pandas_spark.operators.sampling import (
        cap_per_group,
        negative_samples,
    )

    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    )
    assert sessionize(empty_ev).count() == 0
    assert top_movers(empty_ev, "event_type").count() == 0
    assert ohlc_resample(empty_ev).count() == 0
    # rolling_active_users derives its day spine from min/max: empty -> 0
    assert rolling_active_users(empty_ev).count() == 0

    empty_kv = spark.createDataFrame([], "g string, v long, id long")
    assert winsorize_by_group(empty_kv, "v", "g").count() == 0
    assert cap_per_group(empty_kv, "g", 3, "v", "id").count() == 0
    assert negative_samples(empty_kv, "id", k=2, n_buckets=8).count() == 0

    r = check_constraints(empty_kv, [("v_pos", F.col("v") > 0)]).collect()[0]
    assert (r["n_rows"], r["n_violations"], r["violation_ppm"]) == (0, 0, 0)

    parent = spark.createDataFrame([(1,)], ["pk"])
    a = referential_integrity_audit(
        [("e", empty_kv.select(F.col("id").alias("fk")), "fk", parent, "pk")]
    ).collect()[0]
    assert (a["n_rows"], a["n_null_fk"], a["n_orphan_rows"]) == (0, 0, 0)

    k = k_anonymity_audit(empty_kv, ["g"], k=5).collect()[0]
    assert (k["n_rows"], k["n_groups"], k["risk_ppm"]) == (0, 0, 0)


def test_event_transitions_adjacency_and_shares(spark):
    from datetime import datetime, timedelta

    from sql4pandas_spark.operators.behavior import event_transitions

    t0 = datetime(2025, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> c. No cross-user transition.
        (1, 1, t0, "a"),
        (2, 1, t0 + timedelta(minutes=1), "b"),
        (3, 1, t0 + timedelta(minutes=2), "a"),
        (4, 2, t0, "a"),
        (5, 2, t0 + timedelta(minutes=1), "c"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["share_ppm"])
        for r in event_transitions(df).collect()
    }
    assert got == {
        ("a", "b"): (1, 500000),
        ("a", "c"): (1, 500000),
        ("b", "a"): (1, 1000000),
    }


def test_event_transitions_same_ts_tie_breaks_on_id(spark):
    from datetime import datetime

    from sql4pandas_spark.operators.behavior import event_transitions

    t0 = datetime(2025, 1, 1)
    rows = [(2, 1, t0, "y"), (1, 1, t0, "x")]  # tie: id 1 ("x") first
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = [
        (r["from_type"], r["to_type"])
        for r in event_transitions(df).collect()
    ]
    assert got == [("x", "y")]


def test_sessionize_agrees_with_spark_session_window(spark):
    """Cross-validation of two independent implementations: batch
    sessionize (lag + running sum) vs Spark's built-in session_window
    (used by the streaming entry). Correspondence: same session starts
    and event counts; session_window's end = last event + gap, while
    sessionize reports the last event itself. Event times step in 7s
    multiples so no gap can land exactly ON the 600s boundary (where the
    two definitions differ by design: > vs >=)."""
    import random
    from datetime import datetime, timedelta

    from sql4pandas_spark.operators.behavior import sessionize
    from sql4pandas_spark.streaming.windows import session_windows_10m

    rng = random.Random(11)
    t0 = datetime(2025, 1, 1)
    rows = []
    for u in (1, 2, 3):
        t = 0
        for _ in range(rng.randint(1, 25)):
            t += 7 * rng.randint(1, 150)  # gaps 7s..1050s, never ==600
            rows.append((u, t0 + timedelta(seconds=t)))
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    mine = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in sessionize(df, gap_secs=600).collect()
    }
    theirs = {
        (r["user_id"], r["s_start"]): (r["s_end"], r["n"])
        for r in session_windows_10m(df).collect()
    }
    assert set(mine) == set(theirs)
    for k, (end, n) in mine.items():
        s_end, sn = theirs[k]
        assert sn == n
        assert s_end == end + timedelta(seconds=600)


def test_incr_heavy_hitters_miss_bound_contract(spark):
    """Adversarial vocab > m: an item that makes SOME batch's top-m
    keeps (at least) those batches' exact contributions; an item that
    misses EVERY batch is absent; present counts are never inflated."""
    from sql4pandas_spark.operators.sketches import (
        heavy_hitter_state,
        merge_heavy_hitter_states,
    )

    # batch 1: 'hot' x5 + fillers a..d x2 each; batch 2: 'hot' x1 +
    # fillers e..h x3 each. m=3 per batch.
    b1 = ["hot"] * 5 + [x for x in "abcd" for _ in range(2)]
    b2 = ["hot"] * 1 + [x for x in "efgh" for _ in range(3)]
    d1 = spark.createDataFrame([(x,) for x in b1], ["item"])
    d2 = spark.createDataFrame([(x,) for x in b2], ["item"])
    s = merge_heavy_hitter_states(
        heavy_hitter_state(d1, "item", m=3),
        heavy_hitter_state(d2, "item", m=3),
    )
    got = {r["item"]: r["n"] for r in s.collect()}
    # 'hot' won batch 1 (5) but missed batch 2's top-3 (1 < 3) -> its
    # merged count is the batch-1 contribution only: undercount, bounded
    assert got["hot"] == 5
    # batch-2 winners carry exact counts
    assert all(got[x] == 3 for x in "efg" if x in got)
    # nothing is ever overcounted vs truth
    truth = {}
    for x in b1 + b2:
        truth[x] = truth.get(x, 0) + 1
    assert all(n <= truth[i] for i, n in got.items())


def test_rolling_active_users_hll_path_within_tolerance(spark):
    """The declared large-window scale path: approx_count_distinct
    (HLL++) in place of the exact distinct. Pin that the sketch stays
    within its documented 5% rsd band on a realistic spread — the
    evidence behind the docstring's 'for very large windows switch to
    HLL sketch unions'."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    t0 = datetime(2025, 1, 1)
    rows = [
        (u, t0 + timedelta(days=d))
        for u in range(200)
        for d in range(0, 10, 1 + u % 3)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    day = F.date_trunc("day", F.col("ts"))
    ud = df.select(F.col("user_id").alias("u"), day.alias("d")).distinct()
    contrib = ud.select(
        "u",
        F.explode(
            F.expr("sequence(d, d + interval 6 day, interval 1 day)")
        ).alias("day"),
    )
    exact = {
        r["day"]: r["wau"]
        for r in contrib.groupBy("day")
        .agg(F.countDistinct("u").alias("wau"))
        .collect()
    }
    approx = {
        r["day"]: r["wau"]
        for r in contrib.groupBy("day")
        .agg(F.approx_count_distinct("u", rsd=0.05).alias("wau"))
        .collect()
    }
    assert set(exact) == set(approx)
    for d, n in exact.items():
        assert abs(approx[d] - n) <= max(2, 0.1 * n), (d, n, approx[d])


def test_lexicon_tag_token_boundaries_and_counts(spark):
    from sql4pandas_spark.operators.text import lexicon_tag

    df = spark.createDataFrame(
        [
            (1, "the Data class has data inside"),  # 'data' x2 (ci),
            (2, "database classes"),                # substrings must NOT hit
            (3, "join the data"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (
            list(r["matched_terms"]),
            r["n_matched_terms"],
            r["n_hits"],
        )
        for r in lexicon_tag(df, ["data", "join", "ass"]).collect()
    }
    assert out[1] == (["data"], 1, 2)
    assert out[2] == ([], 0, 0)  # 'database'/'classes' are not hits
    assert out[3] == (["data", "join"], 2, 2)


def test_pmi_pairs_presence_not_multiplicity_and_sign(spark):
    """PMI counts PRESENCE per doc (repeats don't inflate), pairs are
    unordered a<b, and the sign is right: always-together pairs score
    positive, independent-ish pairs near ln(N*d_ab/(d_a*d_b))."""
    import math

    from sql4pandas_spark.operators.text import pmi_cooccurrence

    docs = [
        (1, "x y x y x"),   # x,y together (repeats!)
        (2, "x y"),
        (3, "x z"),
        (4, "x z"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r["a"], r["b"]): (r["n_docs_pair"], r["df_a"], r["df_b"], r["pmi_e6"])
        for r in pmi_cooccurrence(df, min_pair_docs=2).collect()
    }
    # x in 4 docs, y in 2, z in 2; (x,y) in 2 docs, (x,z) in 2 docs
    assert out[("x", "y")][:3] == (2, 4, 2)
    assert out[("x", "y")][3] == round(math.log(4 * 2 / (4 * 2)) * 1e6)  # 0
    assert out[("x", "z")][3] == 0
    assert ("y", "x") not in out  # unordered, a < b only
