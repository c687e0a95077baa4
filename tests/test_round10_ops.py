"""Round-10 fixes: join_fanout multi-column keys, cache-leak removal
(ReusedExchange instead of persist), top_movers calendar adjacency, and
value_histogram NaN handling. The prefix-filter Jaccard and Bloom
decontamination pins live in tests/test_dedup.py, the skew-salted fuzzy
band join pins in tests/test_joins.py, the streaming sketch-state, PSI
read-out and MAD pins in tests/test_sketches.py."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F


# ------------------------------------- join_fanout multi-column keys


def test_join_fanout_multi_key_does_not_collapse_tuples(spark):
    """('ab','c') and ('a','bc') are DIFFERENT composite keys: a
    separator-less concat merged them within a side and fabricated
    matches across sides (the round-9 ADVICE medium finding)."""
    from sql4pandas_spark.operators.profile import join_fanout_estimate

    left = spark.createDataFrame(
        [("ab", "c"), ("ab", "c"), ("a", "bc")], ["k1", "k2"]
    )
    right = spark.createDataFrame(
        [("ab", "c"), ("x", "y")], ["r1", "r2"]
    )
    est = join_fanout_estimate(left, right, ["k1", "k2"], ["r1", "r2"])
    rows = est.collect()
    actual = left.join(
        right, (left.k1 == right.r1) & (left.k2 == right.r2)
    ).count()
    # only ('ab','c') matches: 2 left x 1 right = 2 rows out; the old
    # concat collapsed ('a','bc') into the same key and reported 3x1
    assert actual == 2
    assert rows[0]["total_rows_out"] == 2
    assert rows[0]["n_matching_keys"] == 1
    assert (rows[0]["n_left"], rows[0]["n_right"]) == (2, 1)
    assert rows[0]["key"] == "ab\x1fc"


def test_join_fanout_single_key_report_unchanged(spark):
    from sql4pandas_spark.operators.profile import join_fanout_estimate

    left = spark.createDataFrame([(1,), (1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(1,), (1,), (1,), (2,), (9,)], ["r"])
    rows = join_fanout_estimate(left, right, ["k"], ["r"], top_k=5).collect()
    assert rows[0]["total_rows_out"] == 7
    assert rows[0]["key"] == "1"  # no separator artifacts on single keys


# --------------------------- persist removal: shuffle reuse, no cache


@pytest.mark.parametrize(
    "build",
    [
        pytest.param("key_skew", id="key_skew_profile"),
        pytest.param("fanout", id="join_fanout_estimate"),
        pytest.param("mad", id="mad_anomalies"),
        pytest.param("chisq", id="categorical_association"),
    ],
)
def test_profile_operators_reuse_exchange_and_pin_no_cache(spark, build):
    """The multi-consumer counts frames must be served by AQE
    ReusedExchange (single scan) with ZERO persisted storage left
    behind — a .persist() on a lazily-returned frame has no unpersist
    point and accumulated cached frames across calls (round-9 ADVICE)."""
    from sql4pandas_spark.operators.profile import (
        categorical_association,
        join_fanout_estimate,
        key_skew_profile,
        mad_anomalies,
    )

    def persistent_rdd_ids() -> set[int]:
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, ids = m.keysIterator(), set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # RELATIVE cleanliness: assert the operator ADDS no session residue.
    # Absolute-emptiness asserts were order-fragile — earlier tests in the
    # shared session legitimately persist-and-unpersist (near-dedup sigs)
    # or localCheckpoint (salted fuzzy band frames), and their RDD blocks
    # linger until the ContextCleaner GC sweep.
    spark.catalog.clearCache()  # CacheManager reset so isEmpty is OURS
    rdds_before = persistent_rdd_ids()

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    if build == "key_skew":
        out = key_skew_profile(events, "event_type", top_k=5)
    elif build == "fanout":
        out = join_fanout_estimate(
            docs, docs.selectExpr("lang AS l2"), ["lang"], ["l2"], top_k=5
        )
    elif build == "mad":
        out = mad_anomalies(events, "ts", "event_type", bucket="day")
    else:
        out = categorical_association(docs, "lang", "source")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    if build == "chisq":
        # column-pruned subplans differ -> no exchange reuse possible;
        # a GC-cleanable localCheckpoint replaces the leaking persist
        assert "Scan ExistingRDD" in final
        # chisq's own localCheckpoint block is the ONE permitted new RDD
        # (GC-owned, ContextCleaner-released — never the CacheManager)
    else:
        assert "ReusedExchange" in final, f"no exchange reuse in {build}"
        new_rdds = persistent_rdd_ids() - rdds_before
        assert not new_rdds, f"{build} left persisted RDDs behind: {new_rdds}"
    # none of them may register in the CacheManager — THAT is the leak
    # (CacheManager holds plans until an explicit unpersist; RDD-level
    # localCheckpoint blocks are ContextCleaner-released on GC)
    assert "InMemoryTableScan" not in final
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{build} left a CacheManager entry behind"
    )


# ------------------------------------- top_movers calendar adjacency


def test_top_movers_nulls_prev_after_silent_gap(spark):
    """A group returning after a silent week must NOT report growth
    against the stale last-active bucket (round-9 ADVICE): weeks 1,2
    are adjacent (row emitted), week 4 follows silent week 3 (no row)."""
    from sql4pandas_spark.operators.behavior import top_movers

    w1 = dt.datetime(2024, 1, 1)  # a Monday: date_trunc-week-stable
    rows = []
    for week, n in [(0, 4), (1, 6), (3, 12)]:
        ts = w1 + dt.timedelta(weeks=week)
        rows += [("a", ts + dt.timedelta(minutes=i)) for i in range(n)]
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = top_movers(df, "event_type", bucket="week").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["bucket_ts"], r["n_events"], r["prev_events"]) == (
        w1 + dt.timedelta(weeks=1),
        6,
        4,
    )
    assert r["growth_ppm"] == (6 - 4) * 1_000_000 // 4


# ------------------------------------- value_histogram NaN handling


def test_value_histogram_drops_nan_keeps_infinity_clamped(spark):
    from sql4pandas_spark.operators.sketches import value_histogram

    df = spark.createDataFrame(
        [(0.5,), (float("nan"),), (float("inf",),), (float("-inf"),), (9.5,)],
        ["x"],
    )
    hist = {r["bin"]: r["n"] for r in value_histogram(df, "x", 0.0, 10.0, 10).collect()}
    # NaN dropped; +inf clamps to top bin, -inf to bottom bin
    assert hist == {0: 2, 9: 2}


# ------------------------------------- SQL front-end (reference dialect)


def test_engine_runs_reference_dialect_sql(spark):
    """The SAME statement text runs on DuckDB (reference dialect) and on
    the Engine with dialect='duckdb' — SQL strings in, frames out."""
    import duckdb
    import pandas as pd

    from sql4pandas_spark import Engine

    pdf = pd.DataFrame(
        {"s": ["a b c", "d e", "f", "g h i j"], "k": [1, 2, 3, 4]}
    )
    stmt = (
        "SELECT CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_tokens, "
        "CAST(sum(CASE WHEN regexp_matches(s, '[aeiou]') THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_vowel_rows, CAST(sum(k // 2) AS BIGINT) AS half_sum "
        "FROM t"
    )
    con = duckdb.connect()
    con.register("t", pdf)
    expected = con.execute(stmt).fetchall()
    con.close()

    eng = Engine(spark)
    eng.register("t", pdf)
    got = [tuple(r) for r in eng.sql(stmt, dialect="duckdb").collect()]
    assert got == expected


# ------------------------------------- count-min sketch


def test_cms_never_undercounts_and_bounds_overcount(spark):
    """Adversarial: vocabulary (600) far exceeds width (64), forcing
    collisions — every estimate must be >= exact, and the min-over-rows
    must keep the worst overcount within a few multiples of 2N/width."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import cms_lookup, count_min_state

    df = spark.range(6000).select(
        F.concat(F.lit("tok"), (F.pmod(F.col("id") * 7919, F.lit(600)))).alias("item")
    )
    state = count_min_state(df, "item", depth=4, width=64)
    exact = df.groupBy("item").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_lookup(state, exact.select("item"), "item", depth=4, width=64)
    rows = exact.join(est, "item").collect()
    n_total = 6000
    bound = 2 * n_total / 64  # classic single-row expectation bound
    assert all(r["cms_n"] >= r["exact_n"] for r in rows)
    worst = max(r["cms_n"] - r["exact_n"] for r in rows)
    assert worst <= 4 * bound, worst  # min over 4 rows: far inside
    # collisions actually happened (the test would be vacuous otherwise)
    assert any(r["cms_n"] > r["exact_n"] for r in rows)


def test_cms_merge_equals_global_build(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import (
        count_min_state,
        merge_cms_states,
    )

    df = spark.range(3000).select(
        (F.col("id") % 97).cast("string").alias("item"), (F.col("id") % 3).alias("b")
    )
    merged = None
    for b in range(3):
        part = count_min_state(df.filter(F.col("b") == b), "item", depth=3, width=32)
        merged = part if merged is None else merge_cms_states(merged, part)
    want = {
        (r["row"], r["col"]): r["n"]
        for r in count_min_state(df, "item", depth=3, width=32).collect()
    }
    got = {(r["row"], r["col"]): r["n"] for r in merged.collect()}
    assert got == want


def test_cms_absent_item_reads_zero_when_cell_empty(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import cms_lookup, count_min_state

    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["item"])
    state = count_min_state(df, "item", depth=4, width=256)
    probe = spark.createDataFrame([("never-seen-xyz",)], ["item"])
    (row,) = cms_lookup(state, probe, "item", depth=4, width=256).collect()
    # width 256 with 2 distinct items: astronomically unlikely all 4 cells
    # collide — the empty-cell path must return 0, not NULL
    assert row["cms_n"] == 0


# ------------------------------------- mergeable weighted sampling


def test_merged_weighted_sample_equals_global(spark):
    """A-ES keys are row-stable, so per-batch top-k states merge to
    EXACTLY the global sample — including under adversarial batch skew
    (one batch holding most of the winners)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sampling import (
        merge_weighted_samples,
        weighted_sample_topk,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        # heavy weights concentrated in one batch (id % 5 == 0)
        F.when(F.col("id") % 5 == 0, F.col("id") * 100 + 1)
        .otherwise(F.col("id") % 7 + 1)
        .cast("double")
        .alias("w"),
    )
    want = [tuple(r) for r in weighted_sample_topk(df, "w", k=20).collect()]
    states = [
        weighted_sample_topk(df.filter(F.col("doc_id") % 4 == b), "w", k=20)
        for b in range(4)
    ]
    got = [tuple(r) for r in merge_weighted_samples(states, k=20).collect()]
    assert got == want
    # re-merging the same state is idempotent (sampling, unlike additive
    # sketches, tolerates replay)
    again = [
        tuple(r) for r in merge_weighted_samples(states + [states[0]], k=20).collect()
    ]
    assert again == want


# ------------------------------------- MinHash set-overlap signatures


def test_set_signatures_merge_and_estimate_overlap(spark):
    """Per-key signatures merge by elementwise min to exactly the global
    signature, and pair estimates track true Jaccard within the
    sqrt(J(1-J)/n) band on constructed overlapping sets."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import (
        estimated_jaccard_pairs,
        merge_set_signatures,
        minhash_set_signatures,
    )

    # A = [0, 600), B = [300, 900): true J = 300/900 = 1/3
    # C = [0, 900): J(A,C) = 600/900 = 2/3, J(B,C) = 600/900 = 2/3
    rows = (
        [("A", i) for i in range(600)]
        + [("B", i) for i in range(300, 900)]
        + [("C", i) for i in range(900)]
    )
    df = spark.createDataFrame(rows, "key string, item long")
    n = 128
    sigs = minhash_set_signatures(df, "key", "item", n_hashes=n)
    est = {
        (r.key_a, r.key_b): r.est_jaccard_e4 / 10000.0
        for r in estimated_jaccard_pairs(sigs, n).collect()
    }
    assert abs(est[("A", "B")] - 1 / 3) < 0.15
    assert abs(est[("A", "C")] - 2 / 3) < 0.15
    assert abs(est[("B", "C")] - 2 / 3) < 0.15
    # merge law under a 3-way batch split
    parts = [
        minhash_set_signatures(
            df.filter(F.col("item") % 3 == b), "key", "item", n_hashes=n
        )
        for b in range(3)
    ]
    merged = merge_set_signatures(merge_set_signatures(parts[0], parts[1]), parts[2])
    assert {r.key: r.sig for r in merged.collect()} == {
        r.key: r.sig for r in sigs.collect()
    }


def test_set_signatures_null_items_and_empty(spark):
    from sql4pandas_spark.operators.sketches import minhash_set_signatures

    df = spark.createDataFrame(
        [("a", None), ("a", 1), ("b", None)], "key string, item long"
    )
    out = {r.key: r.sig for r in minhash_set_signatures(df, "key", "item", 8).collect()}
    # key with only NULL items vanishes (empty set has no signature);
    # NULLs never contribute components
    assert set(out) == {"a"} and len(out["a"]) == 8
    empty = spark.createDataFrame([], "key string, item long")
    assert minhash_set_signatures(empty, "key", "item", 8).collect() == []


# ------------------------------------- Bloom-prefiltered decontamination


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Every member passes (the lossless-composition precondition); the
    false-positive rate at deliberately tight sizing stays within ~2x of
    the theoretical (1 - e^{-kn/m})^k."""
    import math

    from sql4pandas_spark.operators.sketches import bloom_build, bloom_contains

    n_bits, k, n = 63 * 64, 5, 500
    items = spark.createDataFrame([(f"w{i}",) for i in range(n)], ["s"])
    words = bloom_build(items, "s", n_bits=n_bits, k=k)
    assert items.filter(bloom_contains("s", words, n_bits=n_bits, k=k)).count() == n
    others = spark.createDataFrame([(f"x{i}",) for i in range(2000)], ["s"])
    fps = others.filter(bloom_contains("s", words, n_bits=n_bits, k=k)).count()
    theoretical = (1 - math.exp(-k * n / n_bits)) ** k
    assert fps > 0  # tight sizing MUST produce fps or the test is vacuous
    assert fps / 2000 < 2 * theoretical


def test_bloom_filters_merge_by_or(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import bloom_build

    items = spark.createDataFrame([(f"w{i}",) for i in range(300)], ["s"])
    full = bloom_build(items, "s", n_bits=63 * 32, k=4)
    h1 = bloom_build(items.filter(F.length("s") <= 2), "s", n_bits=63 * 32, k=4)
    h2 = bloom_build(items.filter(F.length("s") > 2), "s", n_bits=63 * 32, k=4)
    assert [a | b for a, b in zip(h1, h2)] == full
