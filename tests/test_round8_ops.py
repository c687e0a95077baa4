"""Round-8 operator unit tests: substring/passage-level exact dedup
(detection + scrub), keyed MERGE/upsert, quality-classifier scoring.

Catalog entries carry the DuckDB value oracles; these tests pin the
operator-level semantics the entries can't isolate: span maximality,
the canonical-site scrub policy, sub-threshold negatives, and edge
inputs (short docs, periodic text, whole-doc duplicates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

BOILER12 = " ".join(f"bp{i:02d}" for i in range(12))
PREFIX10 = " ".join(f"bp{i:02d}" for i in range(10))


def _passage_docs(spark):
    rows = [
        (1, "alpha beta gamma " + BOILER12 + " delta"),  # full copy at 4..15
        (2, BOILER12 + " epsilon zeta eta theta"),  # full copy at 1..12
        (3, "iota kappa " + PREFIX10),  # 10-token prefix at 3..12
        (4, "unique words only here nothing shared at all among docs"),
        (5, "short doc"),  # below L entirely
        (6, "rep rep rep rep rep rep rep rep rep rep"),  # periodic, self-dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_passage_spans_detection(spark):
    from sql4pandas_spark.operators.dedup import duplicate_passage_spans

    spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens)
        for r in duplicate_passage_spans(_passage_docs(spark), min_tokens=8).collect()
    }
    assert spans == {
        (1, 4, 15, 12),  # full boilerplate inside surrounding context
        (2, 1, 12, 12),  # full boilerplate at doc start
        (3, 3, 12, 10),  # only the shared 10-token prefix, not the tail
        (6, 1, 10, 10),  # periodic text: every 8-gram equals every other
    }
    # docs 4 (unique) and 5 (< L tokens) must yield nothing — and doc 3's
    # span proves partial (prefix) sharing reports the SHARED extent only


def test_scrub_keeps_canonical_occurrence_only(spark):
    from sql4pandas_spark.operators.dedup import scrub_duplicate_passages

    out = {
        r.doc_id: r
        for r in scrub_duplicate_passages(_passage_docs(spark), min_tokens=8).collect()
    }
    # doc 1 is the lexicographically-first holder -> keeps its copy intact
    assert out[1].text.split() == ("alpha beta gamma " + BOILER12 + " delta").split()
    # doc 2 loses the full passage, keeps its own tail
    assert out[2].text == "epsilon zeta eta theta"
    # doc 3 loses exactly the shared prefix
    assert out[3].text == "iota kappa"
    # untouched docs round-trip
    assert out[4].n_tokens_before == out[4].n_tokens_after == 10
    assert out[5].text == "short doc"
    # periodic self-dup: canonical site (pos 1) covers 1..8; sites 2,3 are
    # redundant and cover 2..10 -> positions 9,10 removed
    assert out[6].text == " ".join(["rep"] * 8)


def test_scrub_whole_doc_duplicate_scrubs_to_empty(spark):
    from sql4pandas_spark.operators.dedup import scrub_duplicate_passages

    text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in scrub_duplicate_passages(df, min_tokens=8).collect()}
    assert out[1].text.split() == text.split()
    assert out[2].text == "" and out[2].n_tokens_after == 0


def test_spans_require_two_sites_not_two_docs(spark):
    """An intra-doc repeat is a duplicated passage too (Lee et al. count
    occurrences corpus-wide, not cross-doc only)."""
    from sql4pandas_spark.operators.dedup import duplicate_passage_spans

    seg = " ".join(f"s{i}" for i in range(9))
    df = spark.createDataFrame(
        [(1, seg + " filler middle words " + seg)], "doc_id long, text string"
    )
    got = {
        (r.span_start, r.span_end)
        for r in duplicate_passage_spans(df, min_tokens=9).collect()
    }
    assert got == {(1, 9), (13, 21)}


def test_spans_empty_when_below_min_tokens(spark):
    from sql4pandas_spark.operators.dedup import duplicate_passage_spans

    short = " ".join(f"c{i}" for i in range(7))  # shared 7 < L=8
    df = spark.createDataFrame(
        [(1, short + " xone xtwo"), (2, short + " ythree yfour")],
        "doc_id long, text string",
    )
    assert duplicate_passage_spans(df, min_tokens=8).count() == 0


# ------------------------------------------------- keyed MERGE/upsert (CDC)


def _snap(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, v string, n long",
    )


def _changes(spark):
    return spark.createDataFrame(
        [
            (2, "b2", 21, "update"),
            (3, None, None, "delete"),
            (5, "e", 50, "insert"),
            (9, "z", 90, "update"),  # update on missing key -> insert
        ],
        "k long, v string, n long, op string",
    )


def test_merge_upsert_applies_changeset(spark):
    from sql4pandas_spark.operators.maintenance import merge_upsert

    post = merge_upsert(_snap(spark), _changes(spark), ["k"])
    got = {(r.k, r.v, r.n) for r in post.collect()}
    assert got == {
        (1, "a", 10),
        (2, "b2", 21),
        (4, "d", 40),
        (5, "e", 50),
        (9, "z", 90),
    }


def test_merge_upsert_replay_is_idempotent(spark):
    from sql4pandas_spark.operators.maintenance import merge_upsert

    once = merge_upsert(_snap(spark), _changes(spark), ["k"])
    twice = merge_upsert(once, _changes(spark), ["k"])
    assert {tuple(r) for r in twice.collect()} == {tuple(r) for r in once.collect()}


def test_merge_upsert_composes_with_snapshot_diff(spark):
    """diff(pre, post) must report exactly the changeset's effect — the
    read-side operator validates the write-side one."""
    from sql4pandas_spark.operators.maintenance import merge_upsert, snapshot_diff

    pre = _snap(spark)
    post = merge_upsert(pre, _changes(spark), ["k"])
    statuses = {r.k: r.status for r in snapshot_diff(pre, post, ["k"]).collect()}
    assert statuses == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "added",
        9: "added",
    }


def test_merge_upsert_seq_col_picks_last_change(spark):
    from sql4pandas_spark.operators.maintenance import merge_upsert

    changes = spark.createDataFrame(
        [
            (2, "first", 1, "update", 1),
            (2, "last", 2, "update", 7),
            (4, "gone", 0, "delete", 5),
            (4, "back", 44, "insert", 9),  # re-insert AFTER the delete
        ],
        "k long, v string, n long, op string, seq long",
    )
    post = merge_upsert(_snap(spark), changes, ["k"], seq_col="seq")
    got = {(r.k, r.v, r.n) for r in post.collect()}
    assert got == {(1, "a", 10), (2, "last", 2), (3, "c", 30), (4, "back", 44)}


# ----------------------------------------- hashed logistic quality classifier


def test_classifier_matches_python_reference(spark):
    import hashlib
    import math

    from sql4pandas_spark.operators.text import (
        classifier_milliweights,
        hashed_logistic_score,
    )

    mw = classifier_milliweights(256)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "single"),
        (3, "   "),  # token-less -> 0.5
        (4, "Mixed CASE Tokens mixed case tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.score) for r in hashed_logistic_score(df).collect()}

    def h60(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    for doc_id, txt in rows:
        toks = [t for t in txt.lower().split() if t]
        if toks:
            logit = sum(mw[h60(t) % 256] for t in toks) / (1000.0 * len(toks))
        else:
            logit = 0.0
        want = round(1.0 / (1.0 + math.exp(-logit)), 6)
        n, s = got[doc_id]
        assert n == len(toks)
        assert abs(s - want) < 1e-9, (doc_id, s, want)


def test_classifier_feeds_audit_gate(spark):
    """The model score is a plain column -> it composes with the
    zero-extra-scan audit gate like any rule-based filter."""
    from sql4pandas_spark.operators.audit import filter_with_audit
    from sql4pandas_spark.operators.text import hashed_logistic_score

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2} shared words here") for i in range(40)],
        "doc_id long, text string",
    )
    scored = hashed_logistic_score(df)
    kept_df, obs = filter_with_audit(scored, F.col("score") >= 0.5, "clf_gate")
    n_kept = kept_df.count()
    assert obs.get["rows_seen"] == 40
    assert obs.get["rows_kept"] == n_kept
    assert obs.get["rows_rejected"] == 40 - n_kept
    assert 0 < n_kept < 40  # the gate actually separates


def test_classifier_rejects_wrong_weight_count(spark):
    from sql4pandas_spark.operators.text import hashed_logistic_score

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        hashed_logistic_score(df, n_buckets=256, milliweights=[1, 2, 3])


def test_round8_ops_null_text_behavior(spark):
    """NULL text is passed through, never crashed on: spans skip the doc,
    scrub returns the NULL row untouched (NULL text/counts), the
    classifier scores the neutral 0.5 with NULL n_tokens."""
    from sql4pandas_spark.operators.dedup import (
        duplicate_passage_spans,
        scrub_duplicate_passages,
    )
    from sql4pandas_spark.operators.text import hashed_logistic_score

    df = spark.createDataFrame(
        [(1, None), (2, "aa bb aa bb aa bb aa bb")], "doc_id long, text string"
    )
    assert {r.doc_id for r in duplicate_passage_spans(df, min_tokens=4).collect()} == {2}
    scrub = {r.doc_id: r for r in scrub_duplicate_passages(df, min_tokens=4).collect()}
    assert scrub[1].text is None and scrub[1].n_tokens_after is None
    clf = {r.doc_id: r for r in hashed_logistic_score(df).collect()}
    assert clf[1].score == 0.5 and clf[1].n_tokens is None


# --------------------------------------- incremental (cross-batch) passage scrub


def test_incremental_passage_scrub_two_batches(spark, tmp_path):
    from sql4pandas_spark.operators.dedup import incremental_passage_scrub

    store = str(tmp_path / "grams")
    boiler = " ".join(f"bp{i}" for i in range(10))
    b1 = spark.createDataFrame(
        [(1, "alpha beta " + boiler), (2, boiler + " gamma delta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "epsilon " + boiler + " zeta"), (11, "totally novel words only here today")],
        "doc_id long, text string",
    )
    r1 = {r.doc_id: r.text for r in incremental_passage_scrub(b1, store, min_tokens=8, batch_id=0).collect()}
    # first-ever copy kept; within-batch repeat scrubbed
    assert r1[1].split() == ("alpha beta " + boiler).split()
    assert r1[2] == "gamma delta"
    r2 = {r.doc_id: r.text for r in incremental_passage_scrub(b2, store, min_tokens=8, batch_id=1).collect()}
    # the historical passage is scrubbed even though batch 2 holds ONE copy
    # (only the store can know) and novel content passes through
    assert r2[10] == "epsilon zeta"
    assert r2[11] == "totally novel words only here today"


def test_incremental_passage_scrub_replay_is_exactly_once(spark, tmp_path):
    from sql4pandas_spark.operators.dedup import incremental_passage_scrub

    store = str(tmp_path / "grams")
    boiler = " ".join(f"bq{i}" for i in range(10))
    b1 = spark.createDataFrame([(1, "aa bb " + boiler)], "doc_id long, text string")
    b2 = spark.createDataFrame([(2, boiler + " cc dd")], "doc_id long, text string")
    incremental_passage_scrub(b1, store, min_tokens=8, batch_id=0).collect()
    first = sorted(map(tuple, incremental_passage_scrub(b2, store, min_tokens=8, batch_id=1).collect()))
    n_store = spark.read.parquet(store).count()
    # crash-replay batch 1: identical output, store byte-identical size
    replay = sorted(map(tuple, incremental_passage_scrub(b2, store, min_tokens=8, batch_id=1).collect()))
    assert replay == first
    assert spark.read.parquet(store).count() == n_store


def test_incremental_passage_store_holds_hashes_not_text(spark, tmp_path):
    from sql4pandas_spark.operators.dedup import incremental_passage_scrub

    store = str(tmp_path / "grams")
    b = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(12)))], "doc_id long, text string"
    )
    incremental_passage_scrub(b, store, min_tokens=8, batch_id=0).collect()
    st = spark.read.parquet(store)
    assert set(st.columns) == {"gram", "batch_id"}
    assert dict(st.dtypes)["gram"] == "bigint"  # 8-byte hashes, never text
    assert st.count() == 5  # 12 tokens -> 5 distinct 8-gram sites


def test_passage_scrub_composes_with_foreach_batch_stream(spark, tmp_path):
    """Streaming integration: drain a 2-file stream through foreachBatch
    calling incremental_passage_scrub per micro-batch with the stream's
    own batch_id — the production continuous-ingestion shape. File 2
    repeats file 1's passage; the sink must hold file 1's copy intact and
    file 2's doc scrubbed down to its novel tail."""
    import os as _os

    from sql4pandas_spark.operators.dedup import incremental_passage_scrub

    boiler = " ".join(f"sb{i}" for i in range(12))
    files = [
        [(1, "intro words " + boiler)],
        [(10, boiler + " novel tail here")],
    ]
    src = tmp_path / "src"
    flat = tmp_path / "flat"
    _os.makedirs(flat)
    for i, rows in enumerate(files):
        d = str(src / f"f{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(d)
        for f in sorted(_os.listdir(d)):
            if f.endswith(".parquet"):
                _os.symlink(_os.path.join(d, f), str(flat / f"{i:02d}_{f}"))

    store = str(tmp_path / "gram_store")
    sink = str(tmp_path / "sink")

    def write_batch(df, batch_id):
        out = incremental_passage_scrub(df, store, min_tokens=8, batch_id=batch_id)
        out.write.mode("append").parquet(sink)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {r.doc_id: r.text for r in spark.read.parquet(sink).collect()}
    assert got[1].split() == ("intro words " + boiler).split()
    assert got[10] == "novel tail here"


# ------------------------------------------------ distribution drift (PSI)


def test_drift_psi_identical_snapshots_is_zero(spark):
    from sql4pandas_spark.operators.profile import distribution_drift

    df = spark.createDataFrame([(i, float(i % 50)) for i in range(200)], "id long, x double")
    rows = distribution_drift(df, df, "x", n_bins=8).collect()
    assert len(rows) == 8
    assert all(r.psi == 0.0 for r in rows)  # p == q exactly -> ln(1) == 0
    assert sum(r.n_old for r in rows) == 200 and sum(r.n_new for r in rows) == 200


def test_drift_psi_detects_shift_and_clamps_outliers(spark):
    from sql4pandas_spark.operators.profile import distribution_drift

    old = spark.createDataFrame([(i, float(i % 10)) for i in range(100)], "id long, x double")
    # new distribution lives entirely ABOVE the old range -> everything
    # clamps into the top bin and PSI is large
    new = spark.createDataFrame([(i, 1000.0 + i) for i in range(100)], "id long, x double")
    rows = {r.bin: r for r in distribution_drift(old, new, "x", n_bins=5).collect()}
    assert rows[4].n_new == 100  # clamped, not dropped
    assert sum(r.n_new for r in rows.values()) == 100
    assert sum(r.psi for r in rows.values()) > 0.25  # "investigate" regime


def test_drift_psi_excludes_nulls_and_validates_bounds(spark):
    from sql4pandas_spark.operators.profile import distribution_drift

    old = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 2.0), (4, float("nan"))], "id long, x double"
    )
    rows = distribution_drift(old, old, "x", n_bins=2).collect()
    assert sum(r.n_old for r in rows) == 2  # NULL and NaN rows not binned
    no_value = spark.createDataFrame([(1, None), (2, float("nan"))], "id long, x double")
    with pytest.raises(ValueError, match="no non-NULL, non-NaN value"):
        distribution_drift(no_value, no_value, "x")
    with pytest.raises(ValueError):
        distribution_drift(old, old, "x", n_bins=0)
    with pytest.raises(ValueError):
        distribution_drift(old, old, "x", lo=5.0, hi=5.0)


def test_merge_upsert_null_op_upserts_not_deletes(spark):
    """Review-pass find: lower(NULL) != 'delete' is NULL, so a NULL-op
    row was excluded from the upsert side while its key was still
    anti-joined away — NULL op silently acted as delete. CDC feeds often
    omit op for plain inserts; the contract says only 'delete' removes."""
    from sql4pandas_spark.operators.maintenance import merge_upsert

    changes = spark.createDataFrame(
        [(2, "b-new", 99, None), (7, "new-row", 70, None)],
        "k long, v string, n long, op string",
    )
    got = {(r.k, r.v) for r in merge_upsert(_snap(spark), changes, ["k"]).collect()}
    assert (2, "b-new") in got and (7, "new-row") in got


def test_merge_upsert_equal_seq_ties_are_deterministic(spark):
    """Equal-seq changes (same-transaction LSN) must resolve identically
    on every run/partitioning: ties break by (op, data cols) lexically,
    so 'delete' < 'update' wins here — pinned, not partition luck."""
    from sql4pandas_spark.operators.maintenance import merge_upsert

    changes = spark.createDataFrame(
        [(2, "upd", 21, "update", 5), (2, None, None, "delete", 5)],
        "k long, v string, n long, op string, seq long",
    )
    results = set()
    for _ in range(3):
        post = merge_upsert(
            _snap(spark).repartition(7), changes.repartition(3), ["k"], seq_col="seq"
        )
        results.add(frozenset((r.k, r.v) for r in post.collect()))
    assert len(results) == 1  # identical across runs/partitionings
    assert all(k != 2 for k, _ in next(iter(results)))  # 'delete' wins the tie


def test_categorical_drift_buckets_null_and_other(spark):
    from sql4pandas_spark.operators.profile import categorical_drift

    old = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (4, None)], "id long, lang string"
    )
    # 'zz' never seen in old -> lands in <other>; NULL is its own category
    new = spark.createDataFrame(
        [(1, "en"), (2, "zz"), (3, "zz"), (4, None)], "id long, lang string"
    )
    rows = {r.category: r for r in categorical_drift(old, new, "lang", max_categories=2).collect()}
    # top-2 of old = en (2), fr or <null> (tie by count then name: '<null>' < 'fr')
    assert rows["<other>"].n_new == 2  # both zz rows
    assert rows["en"].n_old == 2 and rows["en"].n_new == 1
    assert rows["<null>"].n_old == 1 and rows["<null>"].n_new == 1
    assert abs(sum(r.psi for r in rows.values())) > 0  # mix moved
    with pytest.raises(ValueError):
        categorical_drift(old, new, "lang", max_categories=0)


def test_categorical_drift_escapes_sentinel_collisions(spark):
    """A category literally named '<null>'/'<other>' must NOT merge with
    the NULL / overflow buckets: real values starting with '<' are
    escaped with one more '<' (injective), so the sentinels stay
    reserved."""
    from sql4pandas_spark.operators.profile import categorical_drift

    old = spark.createDataFrame(
        [(1, "<null>"), (2, "<null>"), (3, None), (4, "<other>"), (5, "en")],
        "id long, lang string",
    )
    rows = {
        r.category: r
        for r in categorical_drift(old, old, "lang", max_categories=10).collect()
    }
    assert rows["<<null>"].n_old == 2  # the real '<null>' string, escaped
    assert rows["<null>"].n_old == 1  # genuine NULL only
    assert rows["<<other>"].n_old == 1  # the real '<other>' string, escaped
    assert rows["<other>"].n_old == 0  # overflow bucket untouched
    assert rows["en"].n_old == 1
    assert all(r.psi == 0.0 for r in rows.values())  # identical snapshots


def test_drift_timeline_flags_the_regime_change_bucket(spark):
    """Step drift planted at day 16 of a 20-day feed: the timeline must
    read exactly 0 for the reference day, near-0 for the stable days,
    and spike from the change-point on."""
    import datetime

    from sql4pandas_spark.operators.profile import drift_timeline

    rows = []
    for day in range(1, 21):
        for i in range(200):
            v = float(i % 50) + (500.0 if day >= 16 else 0.0)
            rows.append((datetime.datetime(2024, 3, day, i % 24, 30), v))
    df = spark.createDataFrame(rows, "ts timestamp, x double")
    out = drift_timeline(df, "ts", "x", n_bins=10, lo=0.0, hi=1000.0)
    got = {r.bucket.day: r for r in out.collect()}
    assert len(got) == 20
    assert all(r.n_rows == 200 for r in got.values())
    assert got[1].psi == 0.0  # reference bucket: p == q by construction
    for day in range(2, 16):
        assert got[day].psi == 0.0  # identical distribution, exact-0 PSI
    for day in range(16, 21):
        assert got[day].psi > 0.25  # "investigate" regime after the step


def test_drift_timeline_densifies_empty_bins_and_skips_nulls(spark):
    """A day whose values all land in one bin still gets all n_bins rows
    in its histogram (smoothed PSI needs the zero bins), and NULL
    values/timestamps are excluded rather than binned."""
    import datetime

    from sql4pandas_spark.operators.profile import drift_timeline

    d1, d2 = datetime.datetime(2024, 3, 1), datetime.datetime(2024, 3, 2)
    df = spark.createDataFrame(
        [(d1, 0.5), (d1, 9.5), (d2, 0.5), (d2, None), (None, 5.0)],
        "ts timestamp, x double",
    )
    out = {r.bucket.day: r for r in drift_timeline(df, "ts", "x", 10, 0.0, 10.0).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_rows == 2 and out[2].n_rows == 1  # NULLs dropped
    assert out[1].psi == 0.0 and out[2].psi > 0.0  # day-2 mix differs
    with pytest.raises(ValueError):
        drift_timeline(df, "ts", "x", 0, 0.0, 10.0)
    with pytest.raises(ValueError):
        drift_timeline(df, "ts", "x", 10, 3.0, 3.0)


def test_drift_monitor_composes_with_foreach_batch_stream(spark, tmp_path):
    """Monitoring-in-ingestion: foreachBatch computes each micro-batch's
    PSI against a fixed reference histogram and appends it to a metrics
    sink — the production shape for catching a drifting feed while it
    ingests. Batch of the reference distribution scores ~0; a shifted
    batch scores high."""
    import os as _os

    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.profile import distribution_drift

    ref = spark.createDataFrame([(float(i % 10),) for i in range(200)], "x double")
    files = [
        [(float(i % 10),) for i in range(100)],  # matches the reference
        [(50.0 + i,) for i in range(100)],  # drifted far above the range
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

    sink = str(tmp_path / "psi_metrics")

    def monitor(df, batch_id):
        psi = distribution_drift(ref, df, "x", n_bins=5).agg(
            F.round(F.sum("psi"), 6).alias("psi_total")
        )
        psi.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        spark.readStream.schema("x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
        .writeStream.foreachBatch(monitor)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {r.batch_id: r.psi_total for r in spark.read.parquet(sink).collect()}
    assert set(got) == {0, 1}
    assert got[0] < 0.05  # same distribution -> stable
    assert got[1] > 0.25  # shifted feed -> investigate regime


# ------------------------------------------------ behavior (funnel, cohort)


def _ev(spark, rows):
    import datetime

    base = datetime.datetime(2024, 6, 1)
    data = [
        (u, base + datetime.timedelta(minutes=m), t) for u, m, t in rows
    ]
    return spark.createDataFrame(data, "u long, ts timestamp, et string")


def test_funnel_strictly_after_and_no_same_ts_chaining(spark):
    from sql4pandas_spark.operators.behavior import funnel

    df = _ev(
        spark,
        [
            (1, 0, "A"), (1, 5, "B"), (1, 9, "C"),   # full conversion
            (2, 0, "A"), (2, 0, "B"),                # same-ts: B can't chain
            (3, 5, "B"), (3, 9, "A"),                # B before A: no step 2
            (4, 0, "B"), (4, 1, "A"), (4, 2, "B"),   # later B converts
        ],
    )
    out = {r.step: r for r in funnel(df, "u", "ts", "et", ["A", "B", "C"]).collect()}
    assert [out[s].event_type for s in (1, 2, 3)] == ["A", "B", "C"]
    assert (out[1].n_users, out[2].n_users, out[3].n_users) == (4, 2, 1)
    assert out[1].pct_of_first == 100.0
    assert out[2].pct_of_first == 50.0
    assert out[3].pct_of_first == 25.0


def test_funnel_duplicate_step_types_need_distinct_events(spark):
    """steps A->B->A: one A event can't satisfy both A-steps, and the
    second A must come strictly after the B."""
    from sql4pandas_spark.operators.behavior import funnel

    df = _ev(
        spark,
        [
            (1, 0, "A"), (1, 1, "B"), (1, 2, "A"),  # converts
            (2, 0, "A"), (2, 1, "B"),               # no second A
            (3, 0, "A"), (3, 1, "A"), (3, 2, "B"),  # A,A,B: second A too early
        ],
    )
    out = {r.step: r.n_users for r in funnel(df, "u", "ts", "et", ["A", "B", "A"]).collect()}
    assert out == {1: 3, 2: 3, 3: 1}


def test_funnel_window_anchors_at_first_entry_event(spark):
    """within_seconds anchors at the user's FIRST step-1 event; a later
    step-1 occurrence must not re-open the window."""
    from sql4pandas_spark.operators.behavior import funnel

    df = _ev(
        spark,
        [
            (1, 0, "A"), (1, 30, "B"),               # inside 40-min window
            (2, 0, "A"), (2, 50, "B"),               # outside window
            (3, 0, "A"), (3, 45, "A"), (3, 60, "B"),  # 2nd A never re-anchors
        ],
    )
    out = {
        r.step: r.n_users
        for r in funnel(
            df, "u", "ts", "et", ["A", "B"], within_seconds=40 * 60
        ).collect()
    }
    assert out == {1: 3, 2: 1}


def test_funnel_empty_input_keeps_step_spine(spark):
    import pytest

    from sql4pandas_spark.operators.behavior import funnel

    df = _ev(spark, []).filter("u IS NOT NULL")
    rows = funnel(df, "u", "ts", "et", ["A", "B"]).collect()
    assert [(r.step, r.event_type, r.n_users, r.pct_of_first) for r in rows] == [
        (1, "A", 0, None),
        (2, "B", 0, None),
    ]
    with pytest.raises(ValueError):
        funnel(df, "u", "ts", "et", [])


def test_cohort_retention_offsets_and_sizes(spark):
    import pytest

    from sql4pandas_spark.operators.behavior import cohort_retention

    # weeks: 2024-06-03 is a Monday; users 1,2 start week 0 (via the
    # preceding Sat/Sun which truncate to 2024-05-27), user 3 starts W1
    df = _ev(
        spark,
        [
            (1, 0, "x"),                  # Sat Jun 1 -> week of May 27
            (1, 3 * 24 * 60, "x"),        # Tue Jun 4 -> week of Jun 3
            (2, 60, "x"),                 # same week as user 1's first
            (1, 17 * 24 * 60, "x"),       # week of Jun 17 -> offset 3
            (3, 9 * 24 * 60, "x"),        # Mon Jun 10 week -> own cohort
        ],
    )
    got = {
        (r.cohort.strftime("%m-%d"), r.period_offset): (r.n_active, r.retention_pct)
        for r in cohort_retention(df, "u", "ts", bucket="week").collect()
    }
    assert got == {
        ("05-27", 0): (2, 100.0),
        ("05-27", 1): (1, 50.0),
        ("05-27", 3): (1, 50.0),
        ("06-10", 0): (1, 100.0),
    }
    with pytest.raises(ValueError):
        cohort_retention(df, "u", "ts", bucket="month")
