"""Directed edge-case tests for the round-7 operators: per-column profile,
full-vocabulary TF-IDF top terms, and global top n-grams. The catalog
oracles cover the fixture paths; these pin the edges the fixtures don't
reach (NULL-only columns, empty inputs, sub-n documents, tie-breaks).
The incremental near-dedup tests live in tests/test_dedup.py.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sql4pandas_spark.operators.profile import profile_columns
from sql4pandas_spark.operators.retrieval import tfidf_top_terms
from sql4pandas_spark.operators.text import top_ngrams


def test_profile_counts_nulls_distinct_and_bounds(spark):
    df = spark.createDataFrame(
        [(1, "b", None), (2, "a", None), (2, None, None)],
        "k long, s string, dead string",
    )
    rows = {r.column: r for r in profile_columns(df).collect()}
    assert rows["k"].n_rows == 3 and rows["k"].n_nulls == 0
    assert rows["k"].n_distinct == 2
    assert (rows["k"].min_val, rows["k"].max_val) == ("1", "2")
    assert rows["s"].n_nulls == 1 and rows["s"].n_distinct == 2
    assert (rows["s"].min_val, rows["s"].max_val) == ("a", "b")
    # NULL-only column: zero distinct non-NULL values, NULL bounds
    assert rows["dead"].n_nulls == 3 and rows["dead"].n_distinct == 0
    assert rows["dead"].min_val is None and rows["dead"].max_val is None


def test_profile_empty_input(spark):
    df = spark.createDataFrame([], "k long, s string")
    rows = {r.column: r for r in profile_columns(df).collect()}
    assert set(rows) == {"k", "s"}
    assert all(r.n_rows == 0 and r.n_nulls == 0 and r.n_distinct == 0
               for r in rows.values())


def test_profile_approx_mode_stays_single_pass(spark):
    df = spark.createDataFrame([(i, str(i % 7)) for i in range(100)], "k long, s string")
    plan = (
        profile_columns(df, exact_distinct=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # HLL++ distinct folds into the ordinary aggregate: no Expand operator,
    # and the whole profile is ONE scan of the input
    assert "Expand" not in plan
    assert plan.count("ExistingRDD") == 1
    exact_plan = (
        profile_columns(df, exact_distinct=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan  # the documented price of exactness
    assert exact_plan.count("ExistingRDD") == 1  # but still a single scan


def test_tfidf_scores_and_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, None),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.rn): (r.term, r.tfidf)
        for r in tfidf_top_terms(df, k_terms=2).collect()
    }
    # N = 2 tokenized docs; df: apple 1, banana 2, cherry 1
    idf_rare = math.log(3.0 / 2.0) + 1.0
    idf_common = math.log(3.0 / 3.0) + 1.0
    assert got[(1, 1)] == ("apple", round(2 * idf_rare, 4))
    assert got[(1, 2)] == ("banana", round(1 * idf_common, 4))
    assert got[(2, 1)] == ("cherry", round(1 * idf_rare, 4))
    assert got[(2, 2)] == ("banana", round(1 * idf_common, 4))
    # NULL/whitespace docs are absent, not scored as empty
    assert not any(d in (3, 4) for d, _ in got)


def test_tfidf_equal_scores_break_on_term_asc(spark):
    df = spark.createDataFrame([(1, "zed ant")], "doc_id long, text string")
    got = [(r.rn, r.term) for r in
           tfidf_top_terms(df, k_terms=2).orderBy("rn").collect()]
    assert got == [(1, "ant"), (2, "zed")]


def test_top_ngrams_counts_occurrences_and_skips_short_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b"),     # bigrams: "a b", "b a", "a b"
            (2, "a b"),         # "a b"
            (3, "solo"),        # < n tokens: contributes nothing
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = [(r.ngram, r.n_occurrences) for r in top_ngrams(df, n=2, k=10).collect()]
    assert got == [("a b", 3), ("b a", 1)]


def test_top_ngrams_trigrams_and_k_cut(spark):
    df = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z")], "doc_id long, text string"
    )
    got = [(r.ngram, r.n_occurrences) for r in top_ngrams(df, n=3, k=1).collect()]
    assert got == [("x y z", 2)]


# -------------------------------------------------------------- snapshot diff


def test_snapshot_diff_statuses_and_null_safety(spark):
    from sql4pandas_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", 30), (4, "d", None)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),      # unchanged
         (2, None, 20),     # unchanged — NULL == NULL must not read as changed
         (3, "c", 31),      # changed
         (5, "e", 50)],     # added; 4 removed
        "k long, s string, v long",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "unchanged", 3: "changed",
                   4: "removed", 5: "added"}


def test_snapshot_diff_key_only_tables(spark):
    from sql4pandas_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    # no compare columns: presence alone decides; shared keys are unchanged
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


# ------------------------------------------------------------ forward as-of


def test_asof_forward_ties_and_tolerance(spark):
    from sql4pandas_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 9, "2024-01-01 10:00:00"),
         (2, 9, "2024-01-01 12:00:00"),
         (3, 9, "2024-01-01 23:00:00")],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(9, "2024-01-01 10:00:00", "same-instant"),   # tie: inclusive match
         (9, "2024-01-01 12:30:00", "half-later"),
         (9, "2024-01-01 09:00:00", "earlier-never-forward")],
        "user_id long, ts_s string, tag string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "tag")

    got = {
        r.event_id: r.tag
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            value_cols=["tag"], tolerance_seconds=3600, direction="forward",
        ).collect()
    }
    # 1 matches the same-instant row (ties inclusive); 2 matches 12:30
    # (within 1 h); 3 has nothing after it → NULL
    assert got == {1: "same-instant", 2: "half-later", 3: None}, got


def test_asof_direction_validation(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.joins import asof_join

    df = spark.createDataFrame([(1, 1)], "a long, b long")
    with _pytest.raises(ValueError, match="direction"):
        asof_join(df, df, on="a", left_ts="b", right_ts="b", direction="sideways")
