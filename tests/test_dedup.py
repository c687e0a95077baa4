"""Invariant tests for the non-SQL dedup operators (SURVEY.md §5.3 #3):
MinHash-LSH recall against brute-force Jaccard on planted near-duplicates,
SimHash guarantees, and connected components on both of their paths (the
driver labeler and the distributed label propagation) against a Python
union-find."""

from __future__ import annotations

import ast
import hashlib
import itertools
import random
import time
from decimal import Decimal
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from sql4pandas_spark.operators import dedup
from tests.conftest import SF_SMALL


def _brute_force_pairs(texts: dict[int, str], n: int = 3, threshold: float = 0.7):
    def sh(t: str) -> set[str]:
        toks = [w for w in t.lower().split() if w]
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    shs = {i: sh(t) for i, t in texts.items()}
    out = set()
    for a, b in itertools.combinations(sorted(texts), 2):
        inter = len(shs[a] & shs[b])
        union = len(shs[a] | shs[b])
        if union and inter / union >= threshold:
            out.add((a, b))
    return out


@pytest.fixture(scope="module")
def planted(spark):
    """50 fixture docs + planted near-duplicates (one token edited) + one
    exact duplicate — known ground truth for recall measurement."""
    src = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .limit(50)
        .toPandas()
        .reset_index(drop=True)
    )
    rows = [{"doc_id": int(r.doc_id), "text": r.text} for r in src.itertuples()]
    next_id = max(r["doc_id"] for r in rows) + 1
    for i in range(0, 20):  # plant 20 near-dups of the first 20 docs
        toks = rows[i]["text"].split()
        toks[len(toks) // 2] = "EDITED"
        rows.append({"doc_id": next_id, "text": " ".join(toks)})
        next_id += 1
    rows.append({"doc_id": next_id, "text": rows[0]["text"]})  # exact dup
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf), {r["doc_id"]: r["text"] for r in rows}


def test_minhash_lsh_recall_vs_brute_force(spark, planted):
    df, texts = planted
    truth = _brute_force_pairs(texts, n=3, threshold=0.7)
    assert truth, "planted near-dups must create true pairs"
    sigs = dedup.minhash_signatures(df)
    cands = dedup.lsh_candidate_pairs(sigs)
    found = {
        (r.id_a, r.id_b)
        for r in dedup.verified_near_pairs(sigs, cands, 0.7).collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(truth)} true pairs)"
    # verification step guarantees precision = 1.0 vs true Jaccard
    assert found <= truth, f"false positives after verification: {found - truth}"


def test_near_dedup_clusters_planted_duplicates(spark, planted):
    df, texts = planted
    clusters = dedup.near_dedup_minhash(df, threshold=0.7).toPandas()
    by_doc = dict(zip(clusters.doc_id, clusters.cluster_id))
    truth = _brute_force_pairs(texts, threshold=0.7)
    same = sum(1 for a, b in truth if by_doc[a] == by_doc[b])
    assert same / len(truth) >= 0.9
    # cluster representative is the smallest member id
    assert all(c <= d for d, c in by_doc.items())


def test_exact_dedup_counts(spark, planted):
    df, texts = planted
    out = dedup.exact_dedup(df).toPandas()
    n_distinct = len(set(texts.values()))
    assert len(out) == n_distinct
    assert out.n_copies.sum() == len(texts)
    assert (out.n_copies >= 2).sum() == 1  # exactly one planted exact dup


def test_simhash_deterministic_and_near_for_small_edits(spark, planted):
    df, _ = planted
    sim1 = dedup.simhash(df).toPandas().set_index("doc_id")["simhash"]
    sim2 = dedup.simhash(df).toPandas().set_index("doc_id")["simhash"]
    pd.testing.assert_series_equal(sim1, sim2)
    # identical texts → identical simhash (the planted exact dup)
    ids = sorted(sim1.index)
    assert sim1[ids[0]] == sim1[ids[-1]]


def test_simhash_band_recall_is_exact_within_hamming3(spark, planted):
    df, _ = planted
    sim = dedup.simhash(df)
    pairs = dedup.simhash_near_pairs(sim, max_hamming=3).toPandas()
    pdf = sim.toPandas()
    # brute-force hamming over all pairs
    import numpy as np

    vals = pdf.set_index("doc_id")["simhash"]
    truth = set()
    for a, b in itertools.combinations(sorted(vals.index), 2):
        h = bin(int(vals[a]) ^ int(vals[b])).count("1")
        if h <= 3:
            truth.add((a, b))
    found = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert found == truth, "chunk banding must have exact recall for d<=3"


def test_ngram_jaccard_is_exact_ground_truth(spark, planted):
    """ngram_jaccard_pairs must equal brute-force shingle-set Jaccard
    computed in Python over the same planted corpus."""
    df, _ = planted
    rows = df.select("doc_id", "text").collect()

    def sh(text, n=3):
        toks = [t for t in text.lower().split() if t]
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    docs = {r.doc_id: sh(r.text) for r in rows}
    ids = sorted(docs)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(docs[a] & docs[b])
            if inter == 0:
                continue
            j = inter / len(docs[a] | docs[b])
            if j >= 0.5:
                expect[(a, b)] = round(j, 4)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert got == expect


def test_contamination_overlap_counts_and_flag(spark):
    import pandas as pd

    from sql4pandas_spark.operators.dedup import contamination_overlap

    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["alpha beta gamma delta"]})
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12],
                "text": [
                    "alpha beta gamma delta epsilon",  # shares 2 shingles
                    "zeta eta theta iota",             # shares 0
                    "tiny doc",                        # <3 tokens: whole-text shingle, no match
                ],
            }
        )
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_overlap(docs, bench, min_overlap=2).collect()
    }
    assert rows[10]["n_overlap"] == 2 and rows[10]["contaminated"] is True
    assert rows[11]["n_overlap"] == 0 and rows[11]["contaminated"] is False
    assert rows[12]["n_overlap"] == 0 and rows[12]["contaminated"] is False


def test_hot_shingle_cap_drops_boilerplate_pairs(spark):
    """max_doc_freq is the 100 TB guard against quadratic hot-shingle
    buckets. Three properties pinned: (1) a cap above the corpus's max
    shingle document-frequency changes nothing; (2) under the cap, pairs
    whose only overlap is boilerplate disappear; (3) pairs sharing genuine
    content survive, re-scored on distinctive content alone (docs 1/2:
    5 shared of 6 distinct non-boilerplate shingles = 0.8333 — lower than
    the exact 0.9091 because the shared boilerplate left |∩| too; the
    score can move either way, see the operator docstring)."""
    import pandas as pd

    from sql4pandas_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter for updates today"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    f"{boiler} quantum flux capacitor theory primer",
                    f"{boiler} quantum flux capacitor theory primer extended",
                    f"{boiler} gardening tips for arid climates",
                    f"{boiler} stock market outlook next quarter",
                ],
            }
        )
    )
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    # boilerplate alone links every pair at threshold 0.2
    assert (3, 4) in exact and (1, 2) in exact

    # (1) cap above max df (= 4 docs share the boilerplate shingles)
    same = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=4).collect()
    }
    assert same == exact

    # (2)+(3) cap at 3 drops every boilerplate-only pair, keeps the pair
    # with real shared content, scored over the reduced sets
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=3).collect()
    }
    assert set(capped) == {(1, 2)}
    assert capped[(1, 2)] == pytest.approx(5 / 6, abs=1e-4)


def test_keep_best_representative_argmax_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5)],
        "doc_id long, n_chars long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "doc_id long, cluster_id long"
    )
    got = {
        r.cluster_id: (r.rep_doc_id, r.n_docs)
        for r in dedup.keep_best_representative(docs, labels).collect()
    }
    # cluster 1: quality tie between 2 and 3 -> smallest id wins; singleton
    # clusters keep themselves
    assert got == {1: (2, 3), 7: (7, 1)}


def test_split_leakage_audit_counts(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 4, 5, 6)], "doc_id long"
    )
    labels = spark.createDataFrame(
        # cluster 1 = {1,2} spans the parity split; cluster 4 = {4,6} is
        # train-only; 5 is a singleton on the val side
        [(1, 1), (2, 1), (4, 4), (6, 4), (5, 5)],
        "doc_id long, cluster_id long",
    )
    row = dedup.split_leakage_audit(
        docs, labels, F.col("doc_id") % 2 == 0
    ).collect()[0]
    assert (row.n_train, row.n_val, row.leaky_clusters, row.leaked_val_docs) == (
        3,
        2,
        1,
        1,
    )


# ---------------------------------------------------------------------------
# The MinHash kernel: values pinned against a pure-Python replay
# ---------------------------------------------------------------------------


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_minhash(base: list[int], n_hashes: int, seed: int) -> list[int]:
    return [
        min((a * x + b) % dedup.MERSENNE31 for x in base)
        for a, b in dedup._affine_params(n_hashes, seed)
    ]


@pytest.mark.parametrize("seed", [7, 17, 29, 43])
def test_minhash_kernel_matches_python_replay(spark, seed):
    from pyspark.sql import functions as F

    m31 = dedup.MERSENNE31
    bases = [
        [0],
        [m31 - 1],
        [5, 1, 5, 2_000_000_000],
        [(i * 2_654_435_761) % m31 for i in range(1, 40)],
        [123_456_789, 987_654_321, m31 - 2, 1],
    ]
    df = spark.createDataFrame(list(enumerate(bases)), "id long, base array<long>")
    n = 64 if seed == 7 else 8
    rows = df.select(
        "id",
        F.array(*dedup.minhash(F.col("base"), n, seed)).alias("sig"),
        F.array(*dedup.affine_hashes(F.col("base")[0], n, seed)).alias("first"),
    ).collect()
    for r in rows:
        assert list(r.sig) == _py_minhash(bases[r.id], n, seed)
        assert list(r.first) == _py_minhash(bases[r.id][:1], n, seed)


@pytest.mark.parametrize("n_hashes,n_bands", [(16, 4), (12, 6)])
def test_portable_minhash_bands_replay_in_python(spark, n_hashes, n_bands):
    """Base hashes, signature minima and band keys of the md5 calibration
    variant, replayed end to end from hashlib."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "The quick  brown fox jumps over a lazy cat",
        "spark   duckdb parquet arrow",
        "single",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: list(r.band_keys)
        for r in dedup.portable_minhash_bands(
            df, n_hashes=n_hashes, n_bands=n_bands
        ).collect()
    }
    rows = n_hashes // n_bands
    for i, t in enumerate(texts):
        words = dict.fromkeys(t.lower().split())
        sig = _py_minhash(
            [_py_hash60(w) % dedup.MERSENNE31 for w in words], n_hashes, 7
        )
        want = [
            _py_hash60(",".join(str(v) for v in sig[b * rows : (b + 1) * rows]))
            for b in range(n_bands)
        ]
        assert got[i] == want, t


def test_banding_rejects_uneven_hash_split(spark, tmp_path):
    """64 hashes do not split into 20 bands: every banding path raises
    instead of silently banding only 60 of the 64 minima."""
    from sql4pandas_spark.operators.joins import fuzzy_key_pairs

    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    sigs = dedup.minhash_signatures(df)
    store = tmp_path / "store"
    calls = [
        lambda: dedup.near_dedup_minhash(df, n_hashes=64, n_bands=20),
        lambda: dedup.incremental_near_dedup(df, str(store), n_hashes=64, n_bands=20),
        lambda: dedup.portable_minhash_bands(df, n_hashes=64, n_bands=20),
        lambda: fuzzy_key_pairs(df, df, "text", "text", n_hashes=64, n_bands=20),
        lambda: dedup.band_keys(sigs, 20, n_hashes=64),
        lambda: dedup.lsh_candidate_pairs(sigs, 20, n_hashes=64),
        lambda: dedup.band_keys(sigs, 0, n_hashes=64),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="not divisible"):
            call()
    assert not store.exists()


# ---------------------------------------------------------------------------
# Connected components: the driver labeler and the distributed propagation
# ---------------------------------------------------------------------------


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Runs a test once per connected_components path: the driver labeler
    under the default cap, and the distributed label propagation with the
    cap lowered to -1, which even the empty graph exceeds."""
    if request.param == "distributed":
        monkeypatch.setattr(dedup, "DRIVER_GRAPH_MAX_EDGES", -1)
    return request.param


def _labels(frame) -> dict:
    return {r["doc_id"]: r["cluster_id"] for r in frame.collect()}


def test_label_components_singletons_and_chains(spark, cc_path):
    """label_components: chain {1-2-3} merges to min id, pair {10-11}
    likewise, and node 99 (no edges) keeps its own id — the singleton
    coalesce that bare connected_components does not do."""
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = _labels(dedup.label_components(nodes, pairs))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_label_components_nonconvergence_raises(spark, monkeypatch):
    """A chain longer than max_iter must raise on the distributed path,
    never silently under-merge. (The driver path has no rounds.)"""
    monkeypatch.setattr(dedup, "DRIVER_GRAPH_MAX_EDGES", -1)
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.label_components(nodes, chain, max_iter=2)


def test_connected_components_sum_convergence_check(spark, cc_path):
    """The convergence check stops when no edge has different labels at
    its two ends (it used to compare exact decimal label sums across
    rounds). Pin the cases the check must not confuse: an empty pair set
    terminates immediately with empty labels, and a deep chain (diameter
    > 1) still fully merges — a premature 'converged' would leave
    mid-chain labels unmerged. The driver path must give the same
    labels."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty).count() == 0

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    assert _labels(dedup.connected_components(chain)) == {i: 0 for i in range(10)}

    # string ids stop by the same edge rule — same labels
    schain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(4)], "id_a string, id_b string"
    )
    sgot = _labels(dedup.connected_components(schain))
    assert sgot == {f"n{i}": "n0" for i in range(5)}


def test_cc_self_loop_only_graph_converges_in_one_round(spark, cc_path):
    """A pair graph whose first propagation round is already a fixpoint
    (every pair is a self-loop) must converge with max_iter=1 — the
    sentinel start previously forced a spurious extra round and a
    RuntimeError under a tight max_iter (ADVICE r14)."""
    pairs = spark.createDataFrame(
        [(1, 1), (2, 2), (7, 7)], ["id_a", "id_b"]
    )
    out = _labels(dedup.connected_components(pairs, max_iter=1))
    assert out == {1: 1, 2: 2, 7: 7}


def test_cc_empty_pair_graph_returns_empty(spark, cc_path):
    """The empty pair graph converges immediately: with no edge, no edge
    can disagree."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs, max_iter=1).count() == 0


def test_cc_chain_converges_in_diameter_rounds(spark, monkeypatch):
    """The distributed path stops in the round that makes every edge
    agree, with no confirming round after it: a 10-node chain (diameter
    9) converges with max_iter=9 and raises with max_iter=8."""
    monkeypatch.setattr(dedup, "DRIVER_GRAPH_MAX_EDGES", -1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    got = _labels(dedup.connected_components(chain, max_iter=9))
    assert got == {i: 0 for i in range(10)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=8)


def test_cc_chain_still_merges_to_min_label(spark, cc_path):
    """Regression pin for the edge-agreement check: a 4-chain merges to
    one cluster labeled by its smallest id, in diameter rounds."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    out = _labels(dedup.connected_components(pairs))
    assert out == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_null_ids_are_no_nodes(spark, cc_path):
    """A NULL id is no node and links nothing: (1, NULL) leaves 1 as a
    singleton, (NULL, NULL) drops, and NULL never joins 1 and 7 into one
    component. label_components keeps a NULL node as its own NULL row."""
    pairs = spark.createDataFrame(
        [(1, None), (None, None), (None, 7), (3, 4)], "id_a long, id_b long"
    )
    rows = sorted(tuple(r) for r in dedup.connected_components(pairs).collect())
    assert rows == [(1, 1), (3, 3), (4, 3), (7, 7)]
    nodes = spark.createDataFrame([(1,), (None,), (4,), (7,)], "doc_id long")
    got = dedup.label_components(nodes, pairs).collect()
    assert sorted(got, key=lambda r: (r[0] is not None, r[0] or 0)) == [
        (None, None), (1, 1), (4, 3), (7, 7),
    ]


def _union_find_labels(pairs) -> dict:
    """Reference labels: plain-Python union-find with the smaller root
    winning, so every node maps to its component's smallest id."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _random_ids(rng: random.Random, kind: str, n: int) -> list:
    raw = rng.sample(range(-(10**6), 10**6), n)
    if kind == "string":
        # shared prefixes and non-ASCII code points: Spark compares UTF-8
        # bytes, NumPy and Python compare code points — the same order
        return [f"{'äz'[v % 2]}{v:+08d}" for v in raw]
    if kind == "decimal":
        return [Decimal(v) * 10**12 for v in raw]
    return [v * 2**40 for v in raw]


def _random_graph(seed: int, kind: str) -> list:
    """Seeded pair list mixing a chain (within the default max_iter),
    random small clusters and self-loops, over ids of ``kind``, in
    shuffled order and orientation."""
    rng = random.Random(seed)
    ids = _random_ids(rng, kind, 120)
    pairs = [(ids[i], ids[i + 1]) for i in range(11)]
    pairs += [(rng.choice(ids[12:]), rng.choice(ids[12:])) for _ in range(40)]
    pairs += [(v, v) for v in rng.sample(ids, 8)]
    rng.shuffle(pairs)
    return [(b, a) if rng.random() < 0.5 else (a, b) for a, b in pairs]


_ID_TYPES = {"long": "long", "decimal": "decimal(25,0)", "string": "string"}


@pytest.mark.parametrize("kind", sorted(_ID_TYPES))
def test_cc_paths_match_union_find_reference(spark, monkeypatch, kind):
    """Both paths and a Python union-find give identical smallest-id labels
    on seeded graphs (chains, clusters, self-loops, the empty graph) for
    numeric, decimal and string ids; and on the driver path a chain far
    longer than max_iter still labels, since no rounds run there."""
    schema = f"id_a {_ID_TYPES[kind]}, id_b {_ID_TYPES[kind]}"
    for pair_list in (_random_graph(1, kind), _random_graph(2, kind), []):
        pairs = spark.createDataFrame(pair_list, schema)
        want = _union_find_labels(pair_list)
        assert _labels(dedup.connected_components(pairs)) == want
        with monkeypatch.context() as m:
            m.setattr(dedup, "DRIVER_GRAPH_MAX_EDGES", -1)
            assert _labels(dedup.connected_components(pairs)) == want

    ids = _random_ids(random.Random(3), kind, 201)
    chain = [(ids[i], ids[i + 1]) for i in range(200)]
    long_chain = spark.createDataFrame(chain, schema)
    got = _labels(dedup.connected_components(long_chain, max_iter=2))
    assert got == _union_find_labels(chain)
    assert len(set(got.values())) == 1


def test_min_id_labels_hooks_across_rounds():
    """The NumPy labeler on its own: a shuffled 2,000-node chain needs
    several hook rounds and still lands every node on the smallest id."""
    rng = np.random.default_rng(5)
    order = rng.permutation(2000)
    a, b = order[:-1], order[1:]
    nodes, labels = dedup.min_id_labels(a, b)
    assert nodes.tolist() == list(range(2000))
    assert set(labels.tolist()) == {0}


#: Spark jobs one near_dedup_minhash build + collect runs on the sf0.001
#: documents (statusTracker, its own job group). A change that adds jobs
#: must raise this budget in its own diff and give the reason in
#: CHANGES.md.
NEAR_DEDUP_JOB_BUDGET = 12

#: Tasks those jobs run (14 measured), under the same rule. Spreading the
#: 65 KB documents file to the 16-wide session ran 135.
NEAR_DEDUP_TASK_BUDGET = 16

#: (jobs, tasks) of one build + collect of each catalog entry at sf0.001,
#: under the same rule. Measured: crawl_curation_chain 10 jobs / 10 tasks
#: (86 tasks when spread to the session width), fuzzy_join_parts 13 / 13
#: (46 tasks).
ENTRY_BUDGETS = {
    "crawl_curation_chain": (10, 12),
    "fuzzy_join_parts": (13, 16),
}


def _group_counts(spark, group: str, action) -> tuple[int, int]:
    """(jobs, tasks) that ``action()`` runs under its own job group, read
    from ``statusTracker``. Waits for the status store to see every job
    finish, since listener events land after the action returns."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        done = all(j is not None and j.status != "RUNNING" for j in jobs)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stage_ids = {s for j in jobs if j is not None for s in j.stageIds}
    stages = [tracker.getStageInfo(s) for s in stage_ids]
    return len(jobs), sum(s.numCompletedTasks for s in stages if s is not None)


def test_near_dedup_minhash_job_budget(spark):
    """The clustering step labels the small verified-pair graph on the
    driver, and the one-file documents input is signed in one task:
    building and collecting near_dedup_minhash stays within its job and
    task budgets (label propagation ran about 37 jobs here)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    jobs, tasks = _group_counts(
        spark,
        "test_near_dedup_minhash_job_budget",
        lambda: dedup.near_dedup_minhash(docs).collect(),
    )
    assert 0 < jobs <= NEAR_DEDUP_JOB_BUDGET, jobs
    assert 0 < tasks <= NEAR_DEDUP_TASK_BUDGET, tasks


@pytest.mark.parametrize("name", sorted(ENTRY_BUDGETS))
def test_curation_entry_count_budget(spark, name):
    """The bench-heavy curation entries size their compute spread to the
    input bytes (operators/spread.py), so a build + collect at sf0.001
    stays within its job and task budgets."""
    from sql4pandas_spark.queries import load_catalog

    spec = load_catalog()[name]
    jobs, tasks = _group_counts(
        spark,
        f"test_curation_entry_count_budget_{name}",
        lambda: spec.build(spark, SF_SMALL).collect(),
    )
    job_budget, task_budget = ENTRY_BUDGETS[name]
    assert 0 < jobs <= job_budget, jobs
    assert 0 < tasks <= task_budget, tasks


# ---------------------------------------------------------------------------
# Lint-style guard: one affine map
# ---------------------------------------------------------------------------

#: The only places allowed to read the affine params directly: the kernel
#: module and the DuckDB oracle builders that spell the map in SQL.
_AFFINE_PARAM_READERS = {
    "sql4pandas_spark/operators/dedup.py": None,
    "sql4pandas_spark/queries/pipeline.py": {
        "_lsh_cal_oracle",
        "_cms_oracle_sql",
        "_set_sig_oracle_sql",
    },
}


def _affine_param_uses(tree: ast.AST):
    """(enclosing top-level function, line) of each reference to
    ``_affine_params`` — imports, names and attributes alike."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            names = []
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            if "_affine_params" in names:
                yield owner, node.lineno


def test_affine_params_read_only_by_kernel_and_oracles():
    """Engine code reaches the affine map through operators/dedup's kernel
    (affine_hash / affine_hashes / minhash); only the DuckDB oracle
    builders may read the raw params. Tests are exempt (Python replays)."""
    root = Path(__file__).resolve().parents[1]
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("tests/", ".")):
            continue
        allowed = _AFFINE_PARAM_READERS.get(rel, set())
        for owner, line in _affine_param_uses(ast.parse(path.read_text())):
            if allowed is not None and owner not in allowed:
                offenders.append(f"{rel}:{line} ({owner})")
    assert not offenders, f"_affine_params read outside the kernel: {offenders}"


# ------------------------ prefix-filter Jaccard join, Bloom decontamination


def test_prefix_filter_equals_allpairs_on_threshold_spanning_corpus(spark):
    """Synthetic corpus whose pair similarities straddle the threshold,
    including an exact-boundary pair — prefix filtering must lose
    nothing (the globally-smallest shared shingle sits in both
    prefixes)."""
    from sql4pandas_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    docs = [
        # near-identical pair (J high)
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        # moderate-overlap pair
        (3, "alpha beta gamma delta kappa lambda mu nu"),
        # low-overlap docs
        (4, "omicron pi rho sigma tau upsilon phi chi"),
        (5, "omicron pi psi omega alef bet gimel dalet"),
        # short-doc fallback (whole-text shingle)
        (6, "he said"),
        (7, "he said"),
        # boilerplate-heavy docs (hot shingles land LAST in rare-first order)
        (8, "the quick brown fox jumps over the lazy dog again today"),
        (9, "the quick brown fox jumps over the lazy dog again tomorrow"),
        (10, "the quick brown fox sleeps under the lazy dog again today"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for thr in (0.2, 0.5, 0.8):
        base = {tuple(r) for r in ngram_jaccard_pairs(df, threshold=thr).collect()}
        pf = {
            tuple(r)
            for r in prefix_filter_jaccard_pairs(df, threshold=thr).collect()
        }
        assert pf == base, f"threshold {thr}: {pf ^ base}"
    # sanity: thresholds actually discriminate on this corpus
    n_02 = len(ngram_jaccard_pairs(df, threshold=0.2).collect())
    n_08 = len(ngram_jaccard_pairs(df, threshold=0.8).collect())
    assert n_02 > n_08


def test_prefix_filter_exact_boundary_pair(spark):
    """A pair sitting EXACTLY at the threshold must survive (the
    integer-exact ceil can't shorten a prefix past the safe bound)."""
    from sql4pandas_spark.operators.dedup import prefix_filter_jaccard_pairs

    # 3-gram shingle sets: doc1 has 4 shingles, doc2 has 4, overlap 2
    # J = 2 / (4 + 4 - 2) = 1/3 — test at threshold exactly 1/3 (e6 334/3?)
    # use t=0.3333 (below) and 0.3334 (above): the pair flips
    d = spark.createDataFrame(
        [
            (1, "a b c d e f"),   # shingles: abc bcd cde def
            (2, "a b c d x y"),   # shingles: abc bcd cdx dxy → overlap {abc,bcd}
        ],
        ["doc_id", "text"],
    )
    lo = prefix_filter_jaccard_pairs(d, threshold=0.3333).collect()
    hi = prefix_filter_jaccard_pairs(d, threshold=0.3334).collect()
    assert len(lo) == 1 and abs(lo[0]["jaccard"] - 0.3333) < 1e-9
    assert len(hi) == 0


def test_bloom_prefiltered_contamination_equals_exact(spark):
    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.dedup import (
        bloom_prefiltered_contamination,
        contamination_overlap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 20)
    cand = docs.filter(F.col("doc_id") >= 20)
    exact = {tuple(r) for r in contamination_overlap(cand, bench).collect()}
    # deliberately TIGHT bits so false positives flow into the verify
    # join and must be eliminated there
    bloom = {
        tuple(r)
        for r in bloom_prefiltered_contamination(
            cand, bench, n_bits=63 * 16, k=3
        ).collect()
    }
    assert bloom == exact and exact


def test_bloom_contamination_joins_benchmark_without_broadcast_hint(spark):
    """The Bloom form exists for holdouts past the broadcast limit, so its
    exact join must not force the benchmark shingles onto the wire; the
    plain form keeps its broadcast hint."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 20)
    cand = docs.filter(F.col("doc_id") >= 20)

    def hinted(df):
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    assert hinted(dedup.contamination_overlap(cand, bench))
    assert not hinted(dedup.bloom_prefiltered_contamination(cand, bench))


# ---------------------------------------------------------------------------
# Incremental near-dedup against the admitted-docs store
# ---------------------------------------------------------------------------


def _near_batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_near_dedup_rejects_cross_batch_near_dups(spark, tmp_path):
    from sql4pandas_spark.operators.dedup import incremental_near_dedup

    store = str(tmp_path / "near_store")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b1 = _near_batch(spark, [(1, base), (2, "totally different words here now")])
    kept1 = incremental_near_dedup(b1, store)
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 2]

    b2 = _near_batch(
        spark,
        [
            (10, base + " tail"),           # near-dup of admitted 1 → reject
            # 11/12: many DISTINCT shingles + a 1-token edit → J ≈ 21/23 ≥ 0.7
            (11, "ember quartz falcon meadow cobalt prism harbor lichen "
                 "tundra mosaic cipher velvet saffron glacier nimbus "
                 "ember quartz falcon meadow cobalt prism harbor"),
            (12, "ember quartz falcon meadow cobalt prism harbor lichen "
                 "tundra mosaic cipher velvet saffron glacier nimbus "
                 "ember quartz falcon meadow cobalt prism harbor edited"),
        ],
    )
    kept2 = sorted(r.doc_id for r in incremental_near_dedup(b2, store).collect())
    assert kept2 == [11], kept2  # 10 rejected vs store; 12 loses to 11 in-batch


def test_incremental_near_dedup_full_replay_is_idempotent(spark, tmp_path):
    from sql4pandas_spark.operators.dedup import incremental_near_dedup

    store = str(tmp_path / "near_store")
    b1 = _near_batch(
        spark, [(1, "one two three four five six seven eight nine ten " * 2)]
    )
    assert incremental_near_dedup(b1, store).count() == 1
    # a FULL replay of the same batch: every doc is a (perfect) near-dup of
    # its own admitted row, so nothing is re-admitted
    assert incremental_near_dedup(b1, store).count() == 0


def test_incremental_near_dedup_first_batch_self_dedups(spark, tmp_path):
    from sql4pandas_spark.operators.dedup import incremental_near_dedup

    store = str(tmp_path / "near_store")
    txt = "red orange yellow green blue indigo violet crimson amber teal " * 2
    b1 = _near_batch(spark, [(5, txt), (3, txt + " extra"), (9, "other thing entirely")])
    kept = sorted(r.doc_id for r in incremental_near_dedup(b1, store).collect())
    assert kept == [3, 9]  # 3 and 5 cluster; min id 3 represents; 9 novel


def test_near_dedup_store_files_bounded(spark, tmp_path):
    """Store appends must coalesce to ceil(rows / records-per-file-target)
    files instead of inheriting the signature frame's compute width —
    fixture-scale batches land in exactly ONE file per store per batch
    (guide §6 small-files: the width-many near-empty part files previously
    paid width write tasks per batch and a many-file listing on every
    later batch's store read)."""
    import glob

    from sql4pandas_spark.operators.dedup import incremental_near_dedup

    store = str(tmp_path / "near")
    rows = [(i, f"document text number {i} with shared shingle words") for i in range(40)]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    incremental_near_dedup(batch, store).collect()
    for sub in ("shingles", "bands"):
        files = glob.glob(f"{store}/{sub}/part-*.parquet")
        assert len(files) == 1, (sub, files)


# ---------------------------------------------------------------------------
# Lint-style guard: one candidate-pair join
# ---------------------------------------------------------------------------

#: (operators/ file, top-level function) allowed to spell each pair-join
#: piece. The ``id_a < id_b`` self-join belongs to ``key_pairs``. Columns
#: are named as a pair side by ``key_pairs`` and ``attach``, by the one
#: two-sided candidate join (batch bands ⋈ store bands), which is no
#: self-join, and by ``connected_components``, which re-spells a pair's
#: own two ends.
_PAIR_COMPARERS = {("dedup.py", "key_pairs")}
_PAIR_SIDE_NAMERS = _PAIR_COMPARERS | {
    ("dedup.py", "attach"),
    ("dedup.py", "incremental_near_dedup"),
    ("dedup.py", "connected_components"),
}
#: Renaming calls, by the position of their first new-name argument.
_RENAMES = {"alias": 0, "withColumnRenamed": 1, "toDF": 0}


def _is_col(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "col"
        and [getattr(a, "value", None) for a in node.args] == [name]
    )


def _is_side_name(node: ast.AST) -> bool:
    """``"id_a"`` / ``"id_b"``, or an f-string that starts ``id_``."""
    if isinstance(node, ast.Constant):
        return node.value in ("id_a", "id_b")
    return (
        isinstance(node, ast.JoinedStr)
        and isinstance(node.values[0], ast.Constant)
        and node.values[0].value == "id_"
    )


def _pair_join_spellings(tree: ast.AST):
    """(enclosing top-level function, line, kind) of each ``F.col("id_a") <
    F.col("id_b")`` and each ``alias`` / ``withColumnRenamed`` / ``toDF``
    that names a column ``id_a`` or ``id_b``."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Compare)
                and isinstance(node.ops[0], ast.Lt)
                and _is_col(node.left, "id_a")
                and _is_col(node.comparators[0], "id_b")
            ):
                yield owner, node.lineno, "compare"
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _RENAMES
                and any(map(_is_side_name, node.args[_RENAMES[node.func.attr] :]))
            ):
                yield owner, node.lineno, "side"


def test_similarity_pairs_share_one_candidate_join():
    """In operators/, the keyed self-join's ``id_a < id_b`` is spelled only
    in ``dedup.key_pairs``, and a column is named as a pair side (``id_a``
    / ``id_b``) only in ``key_pairs``, ``attach`` and the allowed
    :data:`_PAIR_SIDE_NAMERS`."""
    root = Path(__file__).resolve().parents[1] / "sql4pandas_spark" / "operators"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        for owner, line, kind in _pair_join_spellings(ast.parse(path.read_text())):
            allowed = _PAIR_COMPARERS if kind == "compare" else _PAIR_SIDE_NAMERS
            if (path.name, owner) not in allowed:
                offenders.append(f"{path.name}:{line} {kind} ({owner})")
    assert not offenders, f"candidate-pair join spelled outside key_pairs/attach: {offenders}"
