"""Round-11 operator tests: the deterministic weighted-sample merge plus
the round's new operators as they land. (The transpiler tests of this
round, string_split separators and comment masking among them, live in
tests/test_transpile.py; the IVF cache lifecycle tests live in
tests/test_similarity.py.)"""

from __future__ import annotations


# ----------------------------------- ADVICE: deterministic weighted merge


def test_merge_weighted_samples_conflicting_weight_deterministic(spark):
    """Same id with DIFFERENT weight/skey across batch states: the merged
    sample must keep the max-skey row regardless of state order (the old
    dropDuplicates([id]) kept whichever state happened to come first)."""
    from sql4pandas_spark.operators.sampling import (
        merge_weighted_samples,
        weighted_sample_topk,
    )

    rows_a = [(f"d{i}", float(i + 1)) for i in range(30)]
    rows_b = [(f"d{i}", float(2 * (i + 1))) for i in range(30)]  # reweighted
    a = weighted_sample_topk(
        spark.createDataFrame(rows_a, "doc_id string, w double"),
        k=10, weight_col="w",
    )
    b = weighted_sample_topk(
        spark.createDataFrame(rows_b, "doc_id string, w double"),
        k=10, weight_col="w",
    )
    ab = [tuple(r) for r in merge_weighted_samples([a, b], k=10).collect()]
    ba = [tuple(r) for r in merge_weighted_samples([b, a], k=10).collect()]
    assert ab == ba
    # survivor per id is the max-skey observation
    kept = {r[0]: r for r in ab}
    a_rows = {r["doc_id"]: r for r in a.collect()}
    b_rows = {r["doc_id"]: r for r in b.collect()}
    for doc_id, row in kept.items():
        cands = [x for x in (a_rows.get(doc_id), b_rows.get(doc_id)) if x]
        assert row[-1] == max(c["skey"] for c in cands)


# ------------------------------- round-11 NULL/NaN load-bearing contracts


def _planted(spark):
    from sql4pandas_spark.queries.pipeline import _events_with_nulls

    return _events_with_nulls(spark, "/root/testdata/sf0.001")


def test_planted_frame_actually_carries_nulls_and_nans(spark):
    """The null-contract entries are only load-bearing if the planted
    frame really feeds NULLs/NaNs through — pin the plant itself."""
    from pyspark.sql import functions as F

    ev = _planted(spark)
    agg = ev.agg(
        F.sum(F.col("user_id").isNull().cast("int")).alias("nu"),
        F.sum(F.col("ts").isNull().cast("int")).alias("nt"),
        F.sum(F.col("event_type").isNull().cast("int")).alias("ne"),
        F.sum(F.isnan("value").cast("int")).alias("nn"),
        F.sum(F.col("value").isNull().cast("int")).alias("nv"),
    ).collect()[0]
    assert min(agg) > 0, f"planting produced no NULL/NaN somewhere: {agg}"


def test_value_histogram_nan_guard_is_load_bearing(spark):
    """Without the NaN rule, every planted NaN would land in bin 0
    (floor(NaN) casts to 0): the histogram total must equal the count of
    non-null non-NaN values, strictly less than the count of non-null
    values."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.sketches import value_histogram

    ev = _planted(spark)
    hist_total = (
        value_histogram(ev, "value", lo=0.0, hi=400.0, n_bins=16)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    n_nonnull = ev.filter(F.col("value").isNotNull()).count()
    n_clean = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).count()
    assert hist_total == n_clean < n_nonnull


def test_sessionize_null_drops_are_load_bearing(spark):
    """Sessionized event mass must equal exactly the stamped+identified
    subset — if the operator stopped dropping NULL user/ts rows, the
    totals would include them and diverge."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.behavior import sessionize

    ev = _planted(spark)
    total = (
        sessionize(ev).agg(F.sum("n_events")).collect()[0][0]
    )
    keepable = ev.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).count()
    assert total == keepable < ev.count()


def test_top_movers_null_group_flows_through(spark):
    """A NULL event_type is a real group: top_movers must emit rows for
    it when its buckets are calendar-adjacent, same as any group."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.behavior import top_movers

    ev = _planted(spark)
    out = top_movers(ev, "event_type")
    assert out.filter(F.col("event_type").isNull()).count() > 0


def test_bigram_backoff_is_load_bearing(spark):
    """Held-out docs must hit the backoff path (n_backoff > 0 somewhere),
    reference docs scored on their own counts must not, and every
    surprisal is non-negative (c(p,w) <= c(p) when seen)."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import bigram_backoff_surprisal
    from sql4pandas_spark.sources.parquet import register_tables

    t = register_tables(spark, "/root/testdata/sf0.001", ("documents",))
    docs = t["documents"]
    ref = docs.filter(F.col("doc_id") % 3 != 0)
    out = bigram_backoff_surprisal(docs, ref)
    held = out.filter(F.col("doc_id") % 3 == 0)
    assert held.agg(F.sum("n_backoff")).collect()[0][0] > 0
    in_ref = out.filter(F.col("doc_id") % 3 != 0)
    assert in_ref.agg(F.sum("n_backoff")).collect()[0][0] == 0
    assert out.filter(F.col("surprisal_sum_e6") < 0).count() == 0


def test_bigram_backoff_exact_values_through_checkpointed_counts(spark):
    """Exact e6 surprisal values through all three unigram-count
    consumers (the (N,V) normalizer and both count joins now read ONE
    materialized frame — round-14): seen bigram scores ln(c(p)/c(p,w)),
    backoff scores ln((N+V)/(alpha*(c(w)+1))), each e6-rounded once."""
    import math

    from sql4pandas_spark.operators.text import bigram_backoff_surprisal

    ref = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")],
        "doc_id long, text string",
    )
    # ref unigrams: a=3, b=3, c=1 -> N=7, V=3; bigrams: (a,b)=3, (b,a)=1,
    # (b,c)=1
    score = spark.createDataFrame(
        [(10, "a b c d")], "doc_id long, text string"
    )
    row = bigram_backoff_surprisal(score, ref).collect()[0]
    s_ab = round(math.log(3 / 3) * 1e6)          # seen: c(a)=3, c(a,b)=3
    s_bc = round(math.log(3 / 1) * 1e6)          # seen: c(b)=3, c(b,c)=1
    s_cd = round(math.log((7 + 3) / (0.4 * (0 + 1))) * 1e6)  # backoff, c(d)=0
    assert row["n_bigrams"] == 3 and row["n_backoff"] == 1
    assert row["surprisal_sum_e6"] == s_ab + s_bc + s_cd
    assert row["avg_surprisal_e6"] == (s_ab + s_bc + s_cd) // 3


def test_bigram_backoff_degenerate_text_scores_high(spark):
    """'the the the ...' is cheap under unigrams but must be expensive
    under bigrams when the reference never repeats tokens."""
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.text import bigram_backoff_surprisal

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over lazy dogs") for i in range(5)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(100, "the quick brown fox"), (101, "the the the the")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_backoff_surprisal(score, ref).collect()}
    assert rows[100]["n_backoff"] == 0  # all bigrams seen, p(w|prev)=1
    assert rows[100]["avg_surprisal_e6"] == 0
    assert rows[101]["n_backoff"] == 3  # 'the the' never seen in ref
    assert rows[101]["avg_surprisal_e6"] > 0


def test_pii_scrub_stagewise_attribution(spark):
    """Overlapping classes attribute to the FIRST stage: an email whose
    host is an IP scrubs as one email, zero IPs; standalone instances of
    each class count and scrub independently."""
    from sql4pandas_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            # the IP-looking string sits INSIDE the email host: the email
            # stage scrubs it first, so the IP stage must count zero
            (1, "mail me at bob@10.0.0.1.example.com thanks"),
            (2, "server 192.168.1.1 and ssn 123-45-6789 and 555-123-4567"),
            (3, "clean text, nothing to see"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_ips"] == 0
    assert "<EMAIL>" in rows[1]["text"] and "10.0.0.1" not in rows[1]["text"]
    r2 = rows[2]
    assert (r2["n_ips"], r2["n_ssns"], r2["n_phones"]) == (1, 1, 1)
    assert "<IP>" in r2["text"] and "<SSN>" in r2["text"] and "<PHONE>" in r2["text"]
    assert r2["n_pii"] == 3
    assert rows[3]["n_pii"] == 0 and rows[3]["text"] == "clean text, nothing to see"


