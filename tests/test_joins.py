"""Join-strategy invariants: salting must not change results, bucketing must
eliminate the join exchange, sketch quantiles must be within their bound."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sql4pandas_spark.operators import joins
from sql4pandas_spark.plans import formatted_plan
from sql4pandas_spark.sources.parquet import register_tables
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def tables(spark):
    return register_tables(spark, SF_SMALL, ("orders", "customer"))


def test_salted_join_equals_plain_join(spark, tables):
    plain = (
        tables["orders"]
        .join(tables["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_custkey")
    )
    salted = joins.salted_join(
        tables["orders"], tables["customer"], "o_custkey", "c_custkey"
    ).select("o_orderkey", "c_custkey")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_left_outer_preserves_unmatched(spark, tables):
    # restrict the small side so some big rows have no match
    small = tables["customer"].filter(F.col("c_custkey") <= 50)
    plain = tables["orders"].join(
        small, F.col("o_custkey") == F.col("c_custkey"), "left"
    )
    salted = joins.salted_join(
        tables["orders"], small, "o_custkey", "c_custkey", how="left"
    )
    assert salted.count() == plain.count()
    assert (
        salted.filter(F.col("c_custkey").isNull()).count()
        == plain.filter(F.col("c_custkey").isNull()).count()
    )


def test_bucketed_join_has_no_join_exchange(spark, tables):
    """Both sides bucketed on the join key with equal bucket counts → the
    sort-merge join reads bucket files directly; the only exchanges left in
    the plan belong to the downstream aggregation, not the join."""
    joins.write_bucketed(
        tables["orders"].select("o_custkey", "o_totalprice"), "t_b_orders", "o_custkey"
    )
    joins.write_bucketed(
        tables["customer"].select("c_custkey", "c_mktsegment"), "t_b_customer", "c_custkey"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_b_orders").join(
            spark.table("t_b_customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        plan = formatted_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"


def test_percentile_approx_within_bound(spark, tables):
    row = tables["orders"].agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10_000).alias("a"),
        F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("e"),
    ).collect()[0]
    for approx, exact in zip(row.a, row.e):
        assert abs(approx - exact) / exact < 0.02, (approx, exact)


# ---------------------------------------------------------------------------
# fuzzy-key / entity-resolution join (round 9)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fuzzy_frames(spark):
    """A 'dirty' feed of misspelled person names vs a clean registry —
    realistic name-like keys (LSH's intended regime), with planted edits at
    distance 1-2, a distance-3 miss, whitespace/case noise the normalizer
    must absorb, and NULLs that must be dropped."""
    clean = spark.createDataFrame(
        [
            (1, "jonathan harrington"),
            (2, "elizabeth montgomery"),
            (3, "christopher fitzgerald"),
            (4, "margaret sutherland"),
            (5, None),
        ],
        "cid int, name string",
    )
    dirty = spark.createDataFrame(
        [
            (10, "Jonathon Harrington"),      # 1 substitution (+case)
            (11, "elizabeth montgomerry "),   # 1 insertion (+trailing space)
            (12, "kristopher fitzgerald"),    # 2 edits (ch->k is sub+del)
            (13, "margret sutherlund"),       # 2 edits
            (14, "zzzz completely unrelated"),
            (15, None),
        ],
        "did int, name string",
    )
    return clean, dirty


def _exact_pairs(clean, dirty, max_distance):
    """Oracle: all-pairs normalized Levenshtein (fine at test size)."""
    c = clean.select(F.lower(F.trim("name")).alias("cn")).filter(
        F.col("cn").isNotNull()
    )
    d = dirty.select(F.lower(F.trim("name")).alias("dn")).filter(
        F.col("dn").isNotNull()
    )
    return sorted(
        (r.dn, r.cn, r.d)
        for r in d.crossJoin(c)
        .withColumn("d", F.levenshtein("dn", "cn"))
        .filter(F.col("d") <= max_distance)
        .collect()
    )


def test_fuzzy_key_pairs_matches_exact_all_pairs(spark, fuzzy_frames):
    clean, dirty = fuzzy_frames
    got = sorted(
        (r.left_key_value.lower().strip(), r.right_key_value.lower().strip(), r.key_distance)
        for r in joins.fuzzy_key_pairs(
            dirty, clean, "name", "name", max_distance=2, n_hashes=48, n_bands=48
        ).collect()
    )
    assert got == _exact_pairs(clean, dirty, 2)
    # the distance-3+ dirty rows and the NULLs produced no pair
    matched_dirty = {g[0] for g in got}
    assert "zzzz completely unrelated" not in matched_dirty


def test_fuzzy_key_pairs_preserves_original_spelling(spark, fuzzy_frames):
    """Pairs come back keyed by the ORIGINAL (un-normalized) values so the
    caller can equi-join them to the source tables as-is."""
    clean, dirty = fuzzy_frames
    got = {
        (r.left_key_value, r.right_key_value)
        for r in joins.fuzzy_key_pairs(
            dirty, clean, "name", "name", max_distance=2, n_hashes=48, n_bands=48
        ).collect()
    }
    assert ("Jonathon Harrington", "jonathan harrington") in got
    assert ("elizabeth montgomerry ", "elizabeth montgomery") in got


def test_fuzzy_key_pairs_short_key_fallback(spark):
    """Keys shorter than the n-gram width fall back to whole-string grams —
    exact duplicates of 1-2 char keys still pair at distance 0."""
    a = spark.createDataFrame([("ab",), ("x",)], "k string")
    b = spark.createDataFrame([("ab",), ("y",)], "k string")
    got = sorted(
        (r.left_key_value, r.right_key_value, r.key_distance)
        for r in joins.fuzzy_key_pairs(
            a, b, "k", "k", max_distance=0, n_hashes=48, n_bands=48
        ).collect()
    )
    assert got == [("ab", "ab", 0)]


def test_fuzzy_key_join_carries_table_rows(spark, fuzzy_frames):
    """fuzzy_key_join fans each matched key pair out to the full row join:
    two dirty rows sharing a misspelling each match the one clean row."""
    clean, dirty = fuzzy_frames
    dirty2 = dirty.union(
        spark.createDataFrame([(16, "Jonathon Harrington")], "did int, name string")
    )
    j = joins.fuzzy_key_join(
        dirty2.withColumnRenamed("name", "dirty_name"),
        clean.withColumnRenamed("name", "clean_name"),
        "dirty_name",
        "clean_name",
        max_distance=2,
        n_hashes=48,
        n_bands=48,
    )
    rows = {(r.did, r.cid, r.key_distance) for r in j.collect()}
    assert (10, 1, 1) in rows and (16, 1, 1) in rows
    assert {r[0] for r in rows} == {10, 11, 12, 13, 16}


def test_fuzzy_key_pairs_plan_never_all_pairs(spark, fuzzy_frames):
    """The candidate join is an equi-join on the 8-byte band key; no
    nested-loop / cartesian plan may appear at any scale."""
    clean, dirty = fuzzy_frames
    plan = formatted_plan(
        joins.fuzzy_key_pairs(
            dirty, clean, "name", "name", max_distance=2, n_hashes=48, n_bands=24
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fuzzy_key_pairs_spread_follows_key_input_bytes(spark, tables):
    """The distinct key frames spread to the width their input files call
    for: the one-file sf0.001 customer table is under SPREAD_TARGET_BYTES,
    so no round-robin exchange is added; the same keys in memory have no
    input files (unknown size) and spread to the session width."""
    from sql4pandas_spark.operators.spread import compute_width

    def spreads(df):
        plan = joins.fuzzy_key_pairs(df, df, "c_name", "c_name")
        text = plan._jdf.queryExecution().optimizedPlan().toString()
        return sorted(set(re.findall(r"Repartition (\d+), true", text)))

    names = tables["customer"].select("c_name")
    assert spreads(names) == []
    in_memory = spark.createDataFrame(names.collect(), "c_name string")
    assert spreads(in_memory) == [str(compute_width(spark))]


# ---------------------------------------------------------------------------
# Skew-salted fuzzy band join
# ---------------------------------------------------------------------------


def test_salted_fuzzy_pairs_identical_on_degenerate_keys(spark):
    """The docstring's degenerate regime: serial IDs share nearly all
    n-grams, collapsing LSH bands. Salting must spread the hot bands and
    return the EXACT same pair set as the unsalted join."""
    from sql4pandas_spark.operators.joins import fuzzy_key_pairs

    clean = spark.createDataFrame(
        [(f"Customer#{i:09d}",) for i in range(60)], ["name"]
    )
    # one char deleted mid-string for every 3rd key
    dirty = spark.createDataFrame(
        [(f"Customer#{i:09d}"[:11] + f"Customer#{i:09d}"[12:],)
         for i in range(0, 60, 3)],
        ["dname"],
    )
    base = {
        (r["left_key_value"], r["right_key_value"], r["key_distance"])
        for r in fuzzy_key_pairs(dirty, clean, "dname", "name").collect()
    }
    salted = {
        (r["left_key_value"], r["right_key_value"], r["key_distance"])
        for r in fuzzy_key_pairs(
            dirty, clean, "dname", "name",
            salt_hot_bands=4, hot_band_product=1,  # force EVERY band hot
        ).collect()
    }
    assert salted == base and base  # identical and non-empty


def test_salted_fuzzy_pairs_mixed_hot_cold(spark):
    """Mid threshold: some bands salt, some don't — union still exact."""
    from sql4pandas_spark.operators.joins import fuzzy_key_pairs

    names = [f"Customer#{i:09d}" for i in range(40)] + [
        "alice smith", "bob jones", "carol white", "dave black",
    ]
    clean = spark.createDataFrame([(n,) for n in names], ["name"])
    dirty = spark.createDataFrame(
        [(n[:3] + n[4:],) for n in names[::4]], ["dname"]
    )
    kw = dict(max_distance=2, n_hashes=24, n_bands=12)
    base = {
        tuple(r) for r in fuzzy_key_pairs(
            dirty, clean, "dname", "name", **kw
        ).collect()
    }
    salted = {
        tuple(r) for r in fuzzy_key_pairs(
            dirty, clean, "dname", "name", **kw,
            salt_hot_bands=3, hot_band_product=25,
        ).collect()
    }
    assert salted == base and base
