"""Invariant tests for the non-SQL dedup operators (SURVEY.md §5.3 #3):
MinHash-LSH recall against brute-force Jaccard on planted near-duplicates,
SimHash guarantees, connected-component sanity."""

from __future__ import annotations

import ast
import hashlib
import itertools
from pathlib import Path

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
