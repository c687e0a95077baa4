"""Property differentials for the round-7/8 operators that only had
directed tests: profile_columns (randomized NULL-heavy frames), snapshot
diff (NULL values, key-only rows, explicit empty compare set), interval
overlap (zero-length and multi-bucket-spanning intervals), passage-level
substring dedup (small-vocab corpora where repeats arise naturally), and
keyed MERGE (random changesets with sequence numbers). Pure-Python
references recompute each result exactly; derandomized like the other
property files so a pass is reproducible.
"""

from __future__ import annotations

import pytest

#: whole-catalog sweep / heavy property tier — deselected by default so
#: the standard run fits the driver's verification window (pytest.ini);
#: runs via `-m slow` and in the pre-handoff full-suite ritual.
pytestmark = pytest.mark.slow


import datetime as dt
import hashlib
from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    deadline=None,
    derandomize=True,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ------------------------------------------------------------ profile_columns


@st.composite
def profile_frames(draw):
    n = draw(st.integers(0, 30))
    rows = [
        (
            draw(st.one_of(st.none(), st.integers(-5, 5))),
            draw(st.one_of(st.none(), st.sampled_from(["a", "b", "", "zz"]))),
        )
        for _ in range(n)
    ]
    return rows


@given(profile_frames())
@settings(**_SETTINGS)
def test_profile_columns_matches_python(spark, rows):
    from sql4pandas_spark.operators.profile import profile_columns

    df = spark.createDataFrame(rows, "x long, s string") if rows else (
        spark.createDataFrame([], "x long, s string")
    )
    got = {r.column: r for r in profile_columns(df).collect()}

    for col, idx in (("x", 0), ("s", 1)):
        vals = [r[idx] for r in rows]
        nn = [v for v in vals if v is not None]
        p = got[col]
        assert p.n_rows == len(rows)
        assert p.n_nulls == sum(v is None for v in vals)
        assert p.n_distinct == len(set(nn))
        assert p.min_val == (str(min(nn)) if nn else None)
        assert p.max_val == (str(max(nn)) if nn else None)


# -------------------------------------------------------------- snapshot_diff


@st.composite
def diff_cases(draw):
    keys = draw(st.lists(st.integers(0, 12), unique=True, max_size=10))
    other = draw(st.lists(st.integers(0, 12), unique=True, max_size=10))

    def side(ks):
        return [
            (k, draw(st.one_of(st.none(), st.integers(0, 2))))
            for k in ks
        ]

    return side(keys), side(other)


@given(diff_cases())
@settings(**_SETTINGS)
def test_snapshot_diff_matches_python(spark, case):
    from sql4pandas_spark.operators.maintenance import snapshot_diff

    old_rows, new_rows = case
    old = spark.createDataFrame(old_rows, "k long, v long") if old_rows else (
        spark.createDataFrame([], "k long, v long")
    )
    new = spark.createDataFrame(new_rows, "k long, v long") if new_rows else (
        spark.createDataFrame([], "k long, v long")
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}

    o, n = dict(old_rows), dict(new_rows)
    want = {}
    for k in set(o) | set(n):
        if k not in o:
            want[k] = "added"
        elif k not in n:
            want[k] = "removed"
        else:
            want[k] = "unchanged" if o[k] == n[k] else "changed"
    assert got == want

    # explicit compare_cols=[]: keys-only presence diff — a value change
    # must now read 'unchanged' (the advisor-flagged API distinction)
    got_keys = {
        r.k: r.status for r in snapshot_diff(old, new, ["k"], compare_cols=[]).collect()
    }
    want_keys = {
        k: (
            "added" if k not in o else "removed" if k not in n else "unchanged"
        )
        for k in set(o) | set(n)
    }
    assert got_keys == want_keys


# ------------------------------------------------------ interval_overlap_join


@st.composite
def interval_cases(draw):
    w = 100  # bucket width (seconds)

    def side(tag):
        n = draw(st.integers(0, 12))
        out = []
        for i in range(n):
            start = draw(st.integers(0, 1000))
            # zero-length points, sub-bucket, and 5x-bucket spans
            length = draw(st.sampled_from([0, 1, 37, 99, 100, 101, 250, 500]))
            out.append((i, start, start + length))
        return out

    return side("l"), side("r"), w


@given(interval_cases())
@settings(**_SETTINGS)
def test_interval_overlap_matches_python(spark, case):
    from sql4pandas_spark.operators.joins import interval_overlap_join

    l_rows, r_rows, w = case
    base = 1_600_000_000

    def mk(rows, side):
        data = [
            (
                i,
                dt.datetime.fromtimestamp(base + s, dt.timezone.utc),
                dt.datetime.fromtimestamp(base + e, dt.timezone.utc),
            )
            for i, s, e in rows
        ]
        schema = f"{side}_id long, {side}_start timestamp, {side}_end timestamp"
        return (
            spark.createDataFrame(data, schema)
            if data
            else spark.createDataFrame([], schema)
        )

    got = {
        (r.l_id, r.r_id)
        for r in interval_overlap_join(
            mk(l_rows, "l"), mk(r_rows, "r"), "l_start", "l_end", "r_start", "r_end", w
        ).collect()
    }
    want = {
        (li, ri)
        for li, ls, le in l_rows
        for ri, rs, re_ in r_rows
        if ls <= re_ and rs <= le
    }
    assert got == want


# --------------------------------------------------- duplicate_passage_spans


@st.composite
def passage_corpora(draw):
    # 3-word vocabulary at L=4: duplicated 4-grams arise NATURALLY, unlike
    # the planted-boilerplate catalog fixture — this probes run-merge and
    # cross/intra-doc counting under organic repetition and periodicity
    n_docs = draw(st.integers(1, 6))
    docs = []
    for d in range(n_docs):
        n_tok = draw(st.integers(0, 14))
        docs.append((d, " ".join(draw(st.sampled_from(["aa", "bb", "cc"])) for _ in range(n_tok))))
    return docs, 4


@given(passage_corpora())
@settings(**_SETTINGS)
def test_passage_spans_match_python(spark, case):
    from sql4pandas_spark.operators.dedup import duplicate_passage_spans

    docs, L = case
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_passage_spans(df, min_tokens=L).collect()
    }

    sites = defaultdict(list)  # gram -> [(doc, pos)]
    toks = {d: t.split() for d, t in docs}
    for d, w in toks.items():
        for i in range(len(w) - L + 1):
            sites[" ".join(w[i : i + L])].append((d, i + 1))
    covered = defaultdict(set)
    for gram, ss in sites.items():
        if len(ss) >= 2:
            for d, p in ss:
                covered[d].add(p)
    want = set()
    for d, ps in covered.items():
        run = []
        for p in sorted(ps):
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.add((d, run[0], run[-1] + L - 1))
                run = [p]
        if run:
            want.add((d, run[0], run[-1] + L - 1))
    assert got == want


@given(passage_corpora())
@settings(**_SETTINGS)
def test_passage_scrub_matches_python(spark, case):
    from sql4pandas_spark.operators.dedup import scrub_duplicate_passages

    docs, L = case
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.text for r in scrub_duplicate_passages(df, min_tokens=L).collect()}

    sites = defaultdict(list)
    toks = {d: t.split() for d, t in docs}
    for d, w in sorted(toks.items()):
        for i in range(len(w) - L + 1):
            sites[" ".join(w[i : i + L])].append((d, i + 1))
    keep_cover = defaultdict(set)  # doc -> positions covered by a canonical site
    rm_cover = defaultdict(set)  # doc -> positions covered by a redundant site
    for gram, ss in sites.items():
        if len(ss) < 2:
            continue
        canon = min(ss)
        for d, p in ss:
            tgt = keep_cover if (d, p) == canon else rm_cover
            for q in range(p, p + L):
                tgt[d].add(q)
    for d, w in toks.items():
        removed = rm_cover[d] - keep_cover[d]
        want = " ".join(t for i, t in enumerate(w, start=1) if i not in removed)
        assert got[d] == want, (d, got[d], want)


# ---------------------------------------------------------------- merge_upsert


@st.composite
def merge_cases(draw):
    snap = [
        (k, draw(st.integers(0, 3)))
        for k in draw(st.lists(st.integers(0, 9), unique=True, max_size=8))
    ]
    n_ch = draw(st.integers(0, 10))
    changes = [
        (
            draw(st.integers(0, 12)),
            draw(st.integers(0, 3)),
            draw(st.sampled_from(["insert", "update", "delete"])),
            seq,
        )
        for seq in range(n_ch)
    ]
    return snap, changes


@given(merge_cases())
@settings(**_SETTINGS)
def test_merge_upsert_matches_python(spark, case):
    from sql4pandas_spark.operators.maintenance import merge_upsert

    snap_rows, ch_rows = case
    snap = (
        spark.createDataFrame(snap_rows, "k long, v long")
        if snap_rows
        else spark.createDataFrame([], "k long, v long")
    )
    changes = (
        spark.createDataFrame(ch_rows, "k long, v long, op string, seq long")
        if ch_rows
        else spark.createDataFrame([], "k long, v long, op string, seq long")
    )
    got = {(r.k, r.v) for r in merge_upsert(snap, changes, ["k"], seq_col="seq").collect()}

    last = {}
    for k, v, op, seq in ch_rows:
        if k not in last or seq > last[k][2]:
            last[k] = (v, op, seq)
    state = dict(snap_rows)
    for k, (v, op, _) in last.items():
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == {(k, v) for k, v in state.items()}


# ------------------------------------------- incremental passage scrub


@st.composite
def batched_corpora(draw):
    # tiny vocab at L=3 so cross-batch and within-batch gram repeats both
    # arise organically; 3 sequential batches
    batches = []
    next_id = 0
    for _b in range(3):
        docs = []
        for _ in range(draw(st.integers(0, 4))):
            n_tok = draw(st.integers(0, 8))
            docs.append(
                (next_id, " ".join(draw(st.sampled_from(["xx", "yy"])) for _ in range(n_tok)))
            )
            next_id += 1
        batches.append(docs)
    return batches, 3


@given(batched_corpora())
@settings(**_SETTINGS)
def test_incremental_passage_scrub_matches_python(spark, tmp_path_factory, case):
    from sql4pandas_spark.operators.dedup import incremental_passage_scrub

    batches, L = case
    store = str(tmp_path_factory.mktemp("grams") / "store")
    seen: set[str] = set()  # gram store replica
    for b, docs in enumerate(batches):
        df = (
            spark.createDataFrame(docs, "doc_id long, text string")
            if docs
            else spark.createDataFrame([], "doc_id long, text string")
        )
        got = {
            r.doc_id: r.text
            for r in incremental_passage_scrub(
                df, store, min_tokens=L, batch_id=b
            ).collect()
        }

        # python reference for this batch against the accumulated store
        toks = {d: t.split() for d, t in docs}
        sites = defaultdict(list)
        for d, w in sorted(toks.items()):
            for i in range(len(w) - L + 1):
                sites[" ".join(w[i : i + L])].append((d, i + 1))
        keep_cover, rm_cover = defaultdict(set), defaultdict(set)
        for gram, ss in sites.items():
            in_store = gram in seen
            if not in_store and len(ss) < 2:
                continue
            canon = None if in_store else min(ss)
            for site in ss:
                tgt = keep_cover if site == canon else rm_cover
                d, p = site
                for q in range(p, p + L):
                    tgt[d].add(q)
        for d, w in toks.items():
            removed = rm_cover[d] - keep_cover[d]
            want = " ".join(t for i, t in enumerate(w, start=1) if i not in removed)
            assert got[d] == want, (b, d, got[d], want)
        seen |= set(sites)


# ------------------------------------------------------------ drift (PSI)


@st.composite
def drift_cases(draw):
    def side():
        n = draw(st.integers(1, 25))
        return [float(draw(st.integers(0, 20))) for _ in range(n)]

    return side(), side(), draw(st.integers(1, 6))


@given(drift_cases())
@settings(**_SETTINGS)
def test_distribution_drift_matches_python(spark, case):
    import math

    from sql4pandas_spark.operators.profile import distribution_drift

    old_v, new_v, n_bins = case
    lo, hi = min(old_v), max(old_v)
    if not hi > lo:
        hi = lo + 1.0  # operator requires hi > lo; pass explicit bounds
    old = spark.createDataFrame([(v,) for v in old_v], "x double")
    new = spark.createDataFrame([(v,) for v in new_v], "x double")
    got = {
        r.bin: (r.n_old, r.n_new, r.p, r.q, r.psi)
        for r in distribution_drift(old, new, "x", n_bins=n_bins, lo=lo, hi=hi).collect()
    }

    def binned(vals):
        out = [0] * n_bins
        for v in vals:
            b = min(n_bins - 1, max(0, math.floor((v - lo) * n_bins / (hi - lo))))
            out[b] += 1
        return out

    ho, hn = binned(old_v), binned(new_v)
    so, sn = sum(ho), sum(hn)
    for b in range(n_bins):
        p = (ho[b] + 0.5) / (so + 0.5 * n_bins)
        q = (hn[b] + 0.5) / (sn + 0.5 * n_bins)
        want = (ho[b], hn[b], round(p, 6), round(q, 6), round((p - q) * math.log(p / q), 6))
        assert got[b] == want, (b, got[b], want)


@given(st.data())
@settings(**_SETTINGS)
def test_categorical_drift_matches_python(spark, data):
    import math
    from collections import Counter

    from sql4pandas_spark.operators.profile import categorical_drift

    # '<null>'/'<other>'/'<x' as REAL values exercise the sentinel escape
    cats = ["a", "b", "c", "d", None, "<null>", "<other>", "<x"]
    old_v = [data.draw(st.sampled_from(cats)) for _ in range(data.draw(st.integers(1, 20)))]
    new_v = [data.draw(st.sampled_from(cats)) for _ in range(data.draw(st.integers(1, 20)))]
    k = data.draw(st.integers(1, 4))
    old = spark.createDataFrame([(v,) for v in old_v], "lang string")
    new = spark.createDataFrame([(v,) for v in new_v], "lang string")
    got = {
        r.category: (r.n_old, r.n_new, r.psi)
        for r in categorical_drift(old, new, "lang", max_categories=k).collect()
    }

    def norm(v):
        if v is None:
            return "<null>"
        return "<" + v if v.startswith("<") else v
    oc = Counter(norm(v) for v in old_v)
    top = sorted(oc, key=lambda c: (-oc[c], c))[:k]
    buckets = sorted(set(top) | {"<other>"})
    nb = len(buckets)

    def hist(vals):
        h = dict.fromkeys(buckets, 0)
        for v in vals:
            c = norm(v)
            h[c if c in top else "<other>"] += 1
        return h

    ho, hn = hist(old_v), hist(new_v)
    so, sn = sum(ho.values()), sum(hn.values())
    assert set(got) == set(buckets)
    for c in buckets:
        p = (ho[c] + 0.5) / (so + 0.5 * nb)
        q = (hn[c] + 0.5) / (sn + 0.5 * nb)
        want = (ho[c], hn[c], round((p - q) * math.log(p / q), 6))
        assert got[c] == want, (c, got[c], want)


@st.composite
def timeline_cases(draw):
    n_days = draw(st.integers(1, 5))
    days = {
        d: [float(draw(st.integers(0, 20))) for _ in range(draw(st.integers(1, 15)))]
        for d in range(1, n_days + 1)
    }
    return days, draw(st.integers(1, 6))


@given(timeline_cases())
@settings(**_SETTINGS)
def test_drift_timeline_matches_python(spark, case):
    import datetime
    import math

    from sql4pandas_spark.operators.profile import drift_timeline

    days, n_bins = case
    lo, hi = 0.0, 21.0
    rows = [
        (datetime.datetime(2024, 5, d, h % 24), v)
        for d, vals in days.items()
        for h, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, x double")
    got = {
        r.bucket.day: (r.n_rows, r.psi)
        for r in drift_timeline(df, "ts", "x", n_bins=n_bins, lo=lo, hi=hi).collect()
    }

    def binned(vals):
        out = [0] * n_bins
        for v in vals:
            out[min(n_bins - 1, max(0, math.floor((v - lo) * n_bins / (hi - lo))))] += 1
        return out

    ref = binned(days[min(days)])
    trr = sum(ref)
    assert set(got) == set(days)
    for d, vals in days.items():
        h = binned(vals)
        tb = sum(h)
        acc = 0
        for b in range(n_bins):
            p = (ref[b] + 0.5) / (trr + 0.5 * n_bins)
            q = (h[b] + 0.5) / (tb + 0.5 * n_bins)
            # Spark F.round is HALF_UP; contributions are >= 0 so
            # floor(x + 0.5) is the faithful integer quantization
            acc += math.floor((p - q) * math.log(p / q) * 1_000_000.0 + 0.5)
        want = (tb, round(acc / 1_000_000.0, 6))
        assert got[d] == want, (d, got[d], want)


# ------------------------------------------------ behavior (funnel, cohort)


@st.composite
def funnel_cases(draw):
    n = draw(st.integers(0, 40))
    events = [
        (
            draw(st.integers(1, 5)),
            draw(st.integers(0, 30)),
            draw(st.sampled_from(["A", "B", "C"])),
        )
        for _ in range(n)
    ]
    steps = draw(st.sampled_from([["A", "B", "C"], ["A", "B", "A"], ["B"]]))
    within = draw(st.sampled_from([None, 600, 3600]))
    return events, steps, within


@given(funnel_cases())
@settings(**_SETTINGS)
def test_funnel_matches_python_greedy_fold(spark, case):
    from sql4pandas_spark.operators.behavior import funnel

    events, steps, within = case
    base = dt.datetime(2024, 6, 1)
    rows = [(u, base + dt.timedelta(minutes=m), t) for u, m, t in events]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string") if rows else (
        spark.createDataFrame([], "u long, ts timestamp, et string")
    )
    got = {
        r.step: (r.event_type, r.n_users, r.pct_of_first)
        for r in funnel(df, "u", "ts", "et", steps, within_seconds=within).collect()
    }

    k = len(steps)
    by_user = defaultdict(list)
    for u, m, t in events:
        by_user[u].append((base + dt.timedelta(minutes=m), t))
    counts = [0] * k
    for u, evs in by_user.items():
        acc = [None] * k
        for ts, t in sorted(evs):  # (ts, type) — same order as array_sort
            for i in range(k):
                if acc[i] is not None:
                    continue
                if steps[i] != t:
                    continue
                if i > 0 and (acc[i - 1] is None or not ts > acc[i - 1]):
                    continue
                anchor = ts if i == 0 else acc[0]
                if within is not None and ts > anchor + dt.timedelta(seconds=within):
                    continue
                acc[i] = ts
                break  # one event fills at most one step
        for i in range(k):
            if acc[i] is not None:
                counts[i] += 1
    want = {
        i + 1: (
            steps[i],
            counts[i],
            round(counts[i] * 100.0 / counts[0], 4) if counts[0] else None,
        )
        for i in range(k)
    }
    assert got == want


@given(st.data())
@settings(**_SETTINGS)
def test_cohort_retention_matches_python(spark, data):
    from sql4pandas_spark.operators.behavior import cohort_retention

    bucket = data.draw(st.sampled_from(["day", "week"]))
    n = data.draw(st.integers(1, 40))
    events = [
        (data.draw(st.integers(1, 6)), data.draw(st.integers(0, 27)))
        for _ in range(n)
    ]
    base = dt.datetime(2024, 6, 1)  # a Saturday — exercises week rollover
    rows = [(u, base + dt.timedelta(days=d, hours=u)) for u, d in events]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    got = {
        (r.cohort, r.period_offset): (r.n_active, r.retention_pct)
        for r in cohort_retention(df, "u", "ts", bucket=bucket).collect()
    }

    span = 1 if bucket == "day" else 7

    def trunc(ts):
        d = ts.date()
        if bucket == "week":
            d = d - dt.timedelta(days=d.weekday())
        return dt.datetime(d.year, d.month, d.day)

    act = {(u, trunc(base + dt.timedelta(days=dd, hours=u))) for u, dd in events}
    first = {}
    for u, p in act:
        if u not in first or p < first[u]:
            first[u] = p
    sizes = defaultdict(int)
    for u in first:
        sizes[first[u]] += 1
    cells = defaultdict(int)
    for u, p in act:
        cells[(first[u], (p - first[u]).days // span)] += 1
    want = {
        (c, o): (n_act, round(n_act * 100.0 / sizes[c], 4))
        for (c, o), n_act in cells.items()
    }
    assert got == want
