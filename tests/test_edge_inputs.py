"""Edge-input behavior of the custom operators: empty sides, null keys,
null timestamps. At 100 TB these aren't corner cases — a partition-pruned
scan or a selective filter routinely hands an operator zero rows, and real
event data carries null keys — so each operator's contract under them is
pinned here.
"""

from __future__ import annotations

from datetime import datetime

from sql4pandas_spark.operators import dedup, joins, text
from sql4pandas_spark.operators.text import pack_sequences

EVENTS_SCHEMA = "user_id long, ts timestamp, event_id long"
CLICKS_SCHEMA = "user_id long, ts timestamp, click_ts timestamp"
DOCS_SCHEMA = "source string, doc_id long, text string"

T9 = datetime(2024, 1, 1, 9, 0, 0)
T9_30S = datetime(2024, 1, 1, 9, 0, 30)
T10 = datetime(2024, 1, 1, 10, 0, 0)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------


def test_asof_join_empty_right_keeps_all_left(spark):
    left = _df(spark, [(1, T10, 100)], EVENTS_SCHEMA)
    right = _df(spark, [], CLICKS_SCHEMA)
    out = joins.asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_ts"],
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].click_ts is None


def test_asof_join_empty_left_is_empty(spark):
    left = _df(spark, [], EVENTS_SCHEMA)
    right = _df(spark, [(1, T9, T9)], CLICKS_SCHEMA)
    out = joins.asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_ts"],
    )
    assert out.count() == 0


def test_asof_join_null_left_ts_matches_nothing(spark):
    """A left row with NULL ts sorts before every right row (Spark ASC NULLS
    FIRST), so nothing precedes it and the carried value is NULL — the match
    contract 'latest right at-or-before left_ts' is vacuous for NULL."""
    left = _df(spark, [(1, None, 100)], EVENTS_SCHEMA)
    right = _df(spark, [(1, T9, T9)], CLICKS_SCHEMA)
    out = joins.asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_ts"],
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].click_ts is None


# ---------------------------------------------------------------------------
# bucketed_range_join
# ---------------------------------------------------------------------------


def test_range_join_empty_sides(spark):
    left = _df(spark, [], "user_id long, ts timestamp, event_id long")
    right = _df(spark, [(1, T9_30S, 7)],
                "user_id long, ts2 timestamp, event_id2 long")
    assert joins.bucketed_range_join(left, right, "ts", "ts2", 3600).count() == 0
    assert joins.bucketed_range_join(
        right.withColumnRenamed("ts2", "ts").withColumnRenamed("event_id2", "event_id"),
        left.withColumnRenamed("ts", "ts2").withColumnRenamed("event_id", "event_id2"),
        "ts", "ts2", 3600,
    ).count() == 0


def test_range_join_null_ts_drops_row(spark):
    """NULL timestamps produce NULL bucket ids; null equi-keys never join —
    the row silently drops, same as SQL inner-join semantics on NULL."""
    left = _df(spark, [(1, None, 100)], "user_id long, ts timestamp, event_id long")
    right = _df(spark, [(1, T9_30S, 7)],
                "user_id long, ts2 timestamp, event_id2 long")
    assert joins.bucketed_range_join(left, right, "ts", "ts2", 3600).count() == 0


# ---------------------------------------------------------------------------
# salted_join
# ---------------------------------------------------------------------------


def test_salted_join_empty_and_null_keys(spark):
    big = _df(spark, [(None, 1), (7, 2)], "k long, v long")
    small = _df(spark, [(7, "x")], "k2 long, name string")
    out = joins.salted_join(big, small, "k", "k2")
    # null key never equi-joins (inner); the real key matches once
    assert [(r.v, r.name) for r in out.collect()] == [(2, "x")]
    empty = _df(spark, [], "k long, v long")
    assert joins.salted_join(empty, small, "k", "k2").count() == 0


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def test_pack_sequences_empty_and_empty_text(spark):
    assert pack_sequences(_df(spark, [], DOCS_SCHEMA), 512).count() == 0
    out = pack_sequences(
        _df(spark, [("a", 0, ""), ("a", 1, "w w")], DOCS_SCHEMA), budget_tokens=5
    ).collect()
    by_id = {r.doc_id: (r.n_tokens_doc, r.seq_id) for r in out}
    # empty text contributes 0 tokens and both docs share sequence 0
    assert by_id == {0: (0, 0), 1: (2, 0)}


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_empty(spark):
    empty = _df(spark, [], DOCS_SCHEMA)
    assert dedup.exact_dedup(empty).count() == 0


def test_near_dedup_minhash_empty(spark):
    empty = _df(spark, [], DOCS_SCHEMA)
    assert dedup.near_dedup_minhash(empty).count() == 0


def test_winnow_fingerprint_short_doc(spark):
    """Documents shorter than the winnow window still fingerprint (the slice
    clamps) — a 1-token doc must not error or return NULL."""
    out = text.winnow_fingerprint(
        _df(spark, [("a", 0, "solo")], DOCS_SCHEMA)
    ).collect()
    assert len(out) == 1 and out[0].fingerprint is not None


def test_similarity_operators_handle_empty_input(spark):
    """A partition-pruned or filtered-to-empty read must yield empty
    results, not crash the job driver-side (np.stack of zero arrays,
    first()[0] on None, k-means over an empty sample — all round-6 fixed).
    The dedup/text operators were already empty-safe (pure DataFrame
    lineage); the matmul/index operators collect driver-side and need
    explicit guards."""
    from sql4pandas_spark.operators import similarity

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.cosine_pairs_topk(emb).count() == 0
    assert similarity.cosine_near_pairs(emb).count() == 0
    out = similarity.ann_lsh_topk(emb)
    assert out.count() == 0 and out.columns == ["id_a", "id_b", "sim"]
    q = similarity.ann_ivf_query_topk(emb, [0.0, 1.0], k=5)
    assert q.count() == 0 and q.columns == ["vec_id", "sim"]


def test_text_operators_handle_unicode_null_and_empty(spark):
    """Pin round-6 probed behavior: diacritics, CJK, Cyrillic,
    astral-plane emoji, RTL text, NULL, and empty strings all flow through
    the text/dedup operators without error, with sensible per-row
    contracts (NULL text → NULL token count, empty → 0; every non-null row
    gets a hash/signature)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators import dedup, text

    rows = [
        (1, "héllo wörld café naïve"),
        (2, "こんにちは 世界 これはテストです"),
        (3, "привет мир тест документа"),
        (4, "emoji 😀 test 🎉 party"),
        (5, "mixed English و العربية text"),
        (6, None),
        (7, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    counts = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(text.tokens(F.col("text"))).alias("n")
        ).collect()
    }
    assert counts[6] is None and counts[7] == 0
    assert all(counts[i] >= 3 for i in (1, 2, 3, 4, 5))

    assert text.quality_features(docs).count() == 7
    assert dedup.exact_dedup(docs).count() == 7  # all texts distinct (incl. NULL, "")
    sigs = dedup.simhash(docs)
    assert sigs.filter(F.col("simhash").isNotNull()).count() >= 5


# ---------------------------------------------------------------------------
# round-10 operators: empty / null / degenerate inputs
# ---------------------------------------------------------------------------


def test_prefix_filter_jaccard_empty_and_null_text(spark):
    from sql4pandas_spark.operators.dedup import prefix_filter_jaccard_pairs

    empty = _df(spark, [], "doc_id long, text string")
    assert prefix_filter_jaccard_pairs(empty).collect() == []
    # NULL text contributes no shingles and can never pair
    nulls = _df(spark, [(1, None), (2, "a b c d"), (3, "a b c d")],
                "doc_id long, text string")
    rows = prefix_filter_jaccard_pairs(nulls, threshold=0.5).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(2, 3, 1.0)]


def test_fuzzy_salted_empty_sides(spark):
    from sql4pandas_spark.operators.joins import fuzzy_key_pairs

    left = _df(spark, [("abcdef",)], "k string")
    empty = _df(spark, [], "k2 string")
    assert fuzzy_key_pairs(
        left, empty, "k", "k2", salt_hot_bands=4, hot_band_product=1
    ).collect() == []
    assert fuzzy_key_pairs(
        empty.selectExpr("k2 AS k"), left.selectExpr("k AS k2"),
        "k", "k2", salt_hot_bands=4, hot_band_product=1,
    ).collect() == []


def test_cms_empty_input_and_empty_state(spark):
    from sql4pandas_spark.operators.sketches import (
        cms_lookup,
        count_min_state,
        merge_cms_states,
    )

    empty = _df(spark, [], "item string")
    state = count_min_state(empty, "item")
    assert state.collect() == []
    # NULL items are excluded (no hashable identity)
    nulls = _df(spark, [(None,), ("a",)], "item string")
    st2 = count_min_state(nulls, "item")
    assert {r.n for r in st2.collect()} == {1}
    # lookup against an EMPTY state reads 0 for everything
    probe = _df(spark, [("a",), ("b",)], "item string")
    got = {r.item: r.cms_n for r in cms_lookup(state, probe, "item").collect()}
    assert got == {"a": 0, "b": 0}
    # merging with an empty state is the identity
    merged = merge_cms_states(state, st2)
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in st2.collect()
    }


def test_merge_weighted_samples_empty_states(spark):
    import pytest as _pytest

    from sql4pandas_spark.operators.sampling import (
        merge_weighted_samples,
        weighted_sample_topk,
    )

    empty = _df(spark, [], "doc_id long, w double")
    s_empty = weighted_sample_topk(empty, "w", k=5)
    assert merge_weighted_samples([s_empty, s_empty], k=5).collect() == []
    with _pytest.raises(ValueError):
        merge_weighted_samples([], k=5)
    with _pytest.raises(ValueError):
        merge_weighted_samples([s_empty], k=0)


def test_psi_from_histograms_empty_states(spark):
    from sql4pandas_spark.operators.profile import psi_from_histograms

    empty = spark.createDataFrame([], "bin long, n long")
    rows = psi_from_histograms(empty, empty, 4).collect()
    # all-empty: every bin 0/0, smoothed shares equal, psi exactly 0
    assert len(rows) == 4
    assert all(r.n_old == 0 and r.n_new == 0 and r.psi == 0.0 for r in rows)


