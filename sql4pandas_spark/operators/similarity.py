"""Similarity search over the `embeddings` table (SURVEY.md §2.9).

Three tiers, matching how you'd actually run this at increasing scale:

1. `cosine_query_topk` — one query vector vs N rows: the vector is inlined as
   a literal array, the dot product is a JVM higher-order expression
   (zip_with + aggregate), and top-k compiles to TakeOrderedAndProject. Zero
   Python, zero broadcast machinery; scales to any N.

2. `cosine_pairs_topk` — exact top-k pairs. The naive theta self-join is a
   broadcast-nested-loop with a per-row lambda (measured 68× slower than
   DuckDB at sf0.1 — BASELINE.md note ²). Instead: broadcast the embedding
   matrix (fixtures: 2000×64 fp32 ≈ 0.5 MB; the pattern holds while one side
   fits in executor memory — the classic "small matrix × big stream" shape),
   then mapInPandas computes a NumPy block matmul per Arrow batch and emits
   each batch's top-k under the FINAL ordering (rounded sim desc, id_a, id_b)
   so per-partition top-k ∪ global top-k is exact, not approximate.

3. `ann_lsh_topk` — when neither side fits: random-hyperplane LSH buckets
   (sign-bit sketch over d fixed hyperplanes), candidates only within a
   bucket, exact re-scoring inside buckets. Approximate recall, all
   joins/shuffles; the bucket key is an 8-byte hash.
"""

from __future__ import annotations

import types
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot_expr(vec_col, query_vec: list[float]):
    """JVM-side dot(col, literal_query) with float32→double casts (§2.12 #9)."""
    lit = F.array(*[F.lit(float(x)) for x in query_vec])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_cols(a, b):
    """JVM-side cosine(similarity) between two ARRAY COLUMNS — the
    column-vs-column sibling of :func:`_dot_expr` (which takes a literal
    query): zip_with product fold for the dot, per-side self-folds for
    the norms, float32→double casts per element (§2.12 #9). Normalizing
    by both norms matches DuckDB's ``list_cosine_similarity`` even when
    vectors are only approximately unit — dot-only would diverge in the
    4th decimal. Pure whole-stage-codegen expressions, no UDF.

    Precondition: vectors must have non-zero norm — a zero vector makes
    the normalizing division 0/0, which is an ANSI DIVIDE_BY_ZERO abort
    on Spark but NaN in DuckDB's list_cosine_similarity, so no silent
    cross-engine answer exists to paper over; filter or re-embed zero
    vectors first (the fixture embeddings are unit-norm)."""

    def _fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    dot = _fold(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))
    na = F.sqrt(_fold(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))
    nb = F.sqrt(_fold(F.transform(b, lambda x: x.cast("double") * x.cast("double"))))
    return dot / (na * nb)


def cosine_query_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Top-k neighbors of one query vector (vectors are unit-norm → dot =
    cosine). ORDER BY sim DESC, id → TakeOrderedAndProject (per-partition
    heap, no global sort)."""
    return (
        emb.select(
            F.col(id_col),
            F.round(_dot_expr(F.col("embedding"), query_vec), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


#: Hard cap on rows collected for a driver-side broadcast matrix. At 64-dim
#: float64 this is ~2 GB — beyond it the broadcast-matmul plan is the wrong
#: tool and the caller must switch to the bucketed LSH path.
BROADCAST_MAX_ROWS = 4_000_000


def _broadcast_embedding_matrix(
    emb: DataFrame,
    id_col: str,
    normalize: bool = False,
    max_rows: int = BROADCAST_MAX_ROWS,
):
    """Collect the (bounded, broadcastable) embedding matrix driver-side and
    broadcast (ids, matrix) — the shared setup of every matmul-scored
    operator here. `normalize` L2-normalizes rows so dot == true cosine.

    Guarded: raises ValueError when the table exceeds `max_rows` instead of
    silently OOM-ing the driver. The guard is a `limit(max_rows + 1)` on the
    collect itself — a bounded probe that costs zero extra Spark jobs (the
    earlier `emb.count()` spelling re-ran the whole upstream plan before the
    collect re-ran it again; measured +31% on cosine_top20_pairs)."""
    rows = emb.select(id_col, "embedding").limit(max_rows + 1).toPandas()
    if len(rows) > max_rows:
        raise ValueError(
            f"embedding table exceeds broadcast cap {max_rows:,} rows; "
            "the broadcast-matmul plan collects one side driver-side — use "
            "the bucketed candidate path (similarity.ann_lsh_topk) and keep "
            "exact scoring for candidates only"
        )
    if len(rows) == 0:
        # empty input (e.g. a filter selected nothing): empty matrix, so
        # every matmul-scored operator yields an empty result instead of
        # crashing a 100 TB job on one empty partition-pruned read
        ids = np.array([], dtype=np.int64)
        mat = np.zeros((0, 0), dtype=np.float64)
    else:
        ids = rows[id_col].to_numpy()
        mat = np.stack(rows["embedding"].to_numpy()).astype(np.float64)
        if normalize:
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    spark = emb.sparkSession
    return spark.sparkContext.broadcast(ids), spark.sparkContext.broadcast(mat)


def cosine_pairs_topk(emb: DataFrame, k: int = 20, id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine pairs via broadcast matrix + per-batch NumPy matmul.

    Output: (id_a, id_b, sim) with id_a < id_b, ordered by (sim desc, id_a,
    id_b). Correctness of the distributed top-k: each Arrow batch emits its
    top-k under the same total order the final sort uses, and the global
    top-k of a union of per-batch top-k's equals the true top-k.
    """
    b_ids, b_mat = _broadcast_embedding_matrix(emb, id_col)

    def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = b_ids.value, b_mat.value
        n = len(all_ids)
        # Bound the sims matrix to ~256 MB of doubles regardless of N — an
        # Arrow batch is up to 10k rows, and 10k x N pairs materialized flat
        # (the previous spelling) is O(batch*N) memory: measured hang at
        # N=20k in the 10x scale probe.
        row_chunk = max(64, int(32_000_000 / max(n, 1)))
        for pdf in batches:
            if pdf.empty:
                continue
            best: pd.DataFrame | None = None
            for start in range(0, len(pdf), row_chunk):
                sub = pdf.iloc[start : start + row_chunk]
                a_ids = sub[id_col].to_numpy()
                a = np.stack(sub["embedding"].to_numpy()).astype(np.float64)
                sims = np.round(a @ all_mat.T, 4)  # (chunk, N)
                sims[a_ids[:, None] >= all_ids[None, :]] = -np.inf  # id_a < id_b
                kk = min(k, n)
                # Per-row selection boundary: keep every pair whose sim ties
                # or beats the row's kk-th largest. Ties at the boundary are
                # ALL kept, so the later (sim desc, id_a, id_b) sort sees the
                # full tie group and the distributed top-k stays exact.
                if n > kk:
                    bound = np.partition(sims, n - kk, axis=1)[:, n - kk]
                else:
                    bound = np.full(len(a_ids), -np.inf)
                sel = (sims >= bound[:, None]) & np.isfinite(sims)
                ai, bj = np.nonzero(sel)
                if len(ai) == 0:
                    continue
                cand = pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": all_ids[bj], "sim": sims[ai, bj]}
                )
                cand = pd.concat([best, cand]) if best is not None else cand
                best = cand.sort_values(
                    ["sim", "id_a", "id_b"], ascending=[False, True, True]
                ).head(k)
            if best is not None:
                yield best

    out_schema = "id_a long, id_b long, sim double"
    local = emb.select(id_col, "embedding").mapInPandas(block_topk, schema=out_schema)
    return local.orderBy(F.col("sim").desc(), "id_a", "id_b").limit(k)


def cosine_near_pairs(
    emb: DataFrame, threshold: float = 0.45, id_col: str = "vec_id"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (id_a < id_b) pair with
    cosine ≥ threshold, ordered by (sim desc, id_a, id_b).

    Same broadcast-matrix + per-batch NumPy matmul shape as
    `cosine_pairs_topk`, but emits *all* pairs over the threshold instead of
    a top-k — the primitive behind embedding-based near-dedup (feed the
    output to `dedup.connected_components` for cluster ids). Rows are
    L2-normalized before the matmul so the value is true cosine, matching
    DuckDB's `list_cosine_similarity` exactly.

    Scale: holds while one side's matrix broadcasts (~GBs); beyond that,
    swap candidate generation to `ann_lsh_topk`'s bucketed self-join and
    keep this exact scorer for verification only.
    """
    b_ids, b_mat = _broadcast_embedding_matrix(emb, id_col, normalize=True)

    def block_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = b_ids.value, b_mat.value
        n = len(all_ids)
        row_chunk = max(64, int(32_000_000 / max(n, 1)))  # ~256 MB sims cap
        for pdf in batches:
            if pdf.empty:
                continue
            for start in range(0, len(pdf), row_chunk):
                sub = pdf.iloc[start : start + row_chunk]
                a_ids = sub[id_col].to_numpy()
                a = np.stack(sub["embedding"].to_numpy()).astype(np.float64)
                a /= np.linalg.norm(a, axis=1, keepdims=True)
                sims = a @ all_mat.T
                mask = (a_ids[:, None] < all_ids[None, :]) & (sims >= threshold)
                ai, bj = np.nonzero(mask)
                if len(ai) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": a_ids[ai],
                        "id_b": all_ids[bj],
                        "sim": np.round(sims[ai, bj], 4),
                    }
                )

    pairs = emb.select(id_col, "embedding").mapInPandas(
        block_pairs, schema="id_a long, id_b long, sim double"
    )
    return pairs.orderBy(F.col("sim").desc(), "id_a", "id_b")


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — compressed-vector scoring (round 12)
# ---------------------------------------------------------------------------


def sq8_scales(emb: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension max-abs scales for symmetric int8 quantization —
    the training pass of a FAISS-style SQ8 index. Computed distributed
    (posexplode + map-side-combined max per position — only (pos, max)
    partials shuffle) and collected as DIM-sized bounded metadata, the
    same driver-side footprint as the IVF centroids. max(abs) over
    float32 inputs is exact in double, so every engine derives the
    identical scale vector from the same parquet."""
    rows = (
        emb.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "v"
            )
        )
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("v"))).alias("s"))
        .orderBy("pos")
        .collect()
    )
    return [float(r["s"]) for r in rows]


def sq8_code_col(vec_col, scales: list[float]):
    """int8 codes for one vector column: round(v·127/s) per dimension,
    half-away-from-zero (Spark round == DuckDB round), zero where the
    dimension's scale is 0 (a constant-zero dimension carries no signal
    and would otherwise divide by zero), CLAMPED to [-127, 127] so a
    vector outside the trained range (a frozen-scale ``add`` batch —
    faiss semantics) saturates instead of overflowing the byte.
    array<tinyint> — 1 byte/dim vs 4 (fp32) or 8 (fp64): the 4–8×
    memory/scan lever that lets a 100 TB embedding store fit hot
    storage tiers."""
    sc = F.array(*[F.lit(float(s)) for s in scales])
    return F.zip_with(
        vec_col.cast("array<double>"),
        sc,
        lambda v, s: F.when(
            s > 0,
            F.greatest(
                F.lit(-127.0), F.least(F.lit(127.0), F.round(v * 127.0 / s))
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )


def _sq8_quantize_py(vec: list[float], scales: list[float]) -> list[float]:
    """Driver-side quantize→dequantize of one vector with the SAME
    half-away-from-zero rule as the engines (Python round() is
    half-even — deliberately not used). Decimal HALF_UP is sign-aware
    away-from-zero on the EXACT binary value of the double, matching
    Spark round (BigDecimal HALF_UP) and DuckDB round where a
    floor(x+0.5) formulation diverges at FP edge cases: for
    x=0.49999999999999994 the sum x+0.5 ties-rounds UP to 1.0 so
    floor gives 1, while both engines (and Decimal) give 0."""
    from decimal import ROUND_HALF_UP, Decimal

    out = []
    for v, s in zip(vec, scales):
        if s > 0:
            x = v * 127.0 / s
            c = float(Decimal(x).to_integral_value(rounding=ROUND_HALF_UP))
            c = max(-127.0, min(127.0, c))
            out.append(c * s / 127.0)
        else:
            out.append(0.0)
    return out


def sq8_query_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scales: list[float] | None = None,
) -> DataFrame:
    """Top-k by SQ8-quantized cosine, with the exact cosine alongside —
    the compressed-domain scoring path: vectors quantize to int8 codes
    (see :func:`sq8_code_col`), both sides dequantize through the shared
    scale vector, and cosine is computed over the reconstructions. Unlike
    PQ's k-means codebooks the quantizer is fully deterministic, so the
    whole path (scales → codes → reconstruction → score → top-k) is
    value-replayable by a DuckDB oracle — the hash-checked variant of the
    ANN family. Row-local JVM higher-order expressions; top-k compiles to
    TakeOrderedAndProject. sim_exact rides along so quantization error is
    visible in the result, not hidden behind it."""
    from sql4pandas_spark.operators.text import let_col

    if scales is None:
        scales = sq8_scales(emb, vec_col)
    qdq = _sq8_quantize_py([float(x) for x in query_vec], scales)
    qnorm = 0.0
    for x in qdq:
        qnorm += x * x
    qnorm **= 0.5
    sc = F.array(*[F.lit(float(s)) for s in scales])
    qlit = F.array(*[F.lit(float(x)) for x in qdq])

    def per_recon(da):
        num = F.aggregate(
            F.zip_with(da, qlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        den = F.sqrt(
            F.aggregate(
                F.transform(da, lambda a: a * a),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ) * F.lit(qnorm)
        return F.round(num / den, 4)

    recon = F.zip_with(
        sq8_code_col(F.col(vec_col), scales),
        sc,
        lambda c, s: c.cast("double") * s / 127.0,
    )
    exact_num = _dot_expr(F.col(vec_col), query_vec)
    exact_den = F.sqrt(
        F.aggregate(
            F.transform(
                F.col(vec_col), lambda v: v.cast("double") * v.cast("double")
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    ) * F.lit(sum(float(x) * float(x) for x in query_vec) ** 0.5)
    return (
        emb.select(
            F.col(id_col),
            let_col(recon, per_recon).alias("sim_q8"),
            F.round(exact_num / exact_den, 4).alias("sim_exact"),
        )
        .orderBy(F.col("sim_q8").desc(), F.col(id_col))
        .limit(k)
    )


def sq8_recon_topk(
    codes: DataFrame,
    scales: list[float],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by quantized cosine scored from STORED int8 codes — the
    read path of a persisted SQ8 index: no raw vectors touched, the scan
    is 1 byte/dim. Same reconstruction arithmetic as
    :func:`sq8_query_topk` (which quantizes inline from raw vectors), so
    direct and persisted paths rank identically."""
    from sql4pandas_spark.operators.text import let_col

    qdq = _sq8_quantize_py([float(x) for x in query_vec], scales)
    qnorm = 0.0
    for x in qdq:
        qnorm += x * x
    qnorm **= 0.5
    sc = F.array(*[F.lit(float(s)) for s in scales])
    qlit = F.array(*[F.lit(float(x)) for x in qdq])

    def per_recon(da):
        num = F.aggregate(
            F.zip_with(da, qlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        den = F.sqrt(
            F.aggregate(
                F.transform(da, lambda a: a * a),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ) * F.lit(qnorm)
        return F.round(num / den, 4)

    recon = F.zip_with(
        F.col("codes"), sc, lambda c, s: c.cast("double") * s / 127.0
    )
    return (
        codes.select(
            F.col(id_col), let_col(recon, per_recon).alias("sim_q8")
        )
        .orderBy(F.col("sim_q8").desc(), F.col(id_col))
        .limit(k)
    )


def save_sq8_index(
    emb: DataFrame,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scales: list[float] | None = None,
) -> list[float]:
    """Persist an SQ8 index: int8 codes as parquet under
    ``codes/batch=0`` plus a dim-sized ``scales.json`` sidecar — the
    faiss-style train-once layout. Codes are 1 byte/dim on disk (4-8×
    smaller than the raw vectors), and the scan that serves queries
    never touches the originals. Returns the trained scales."""
    import json
    import os

    if scales is None:
        scales = sq8_scales(emb, vec_col)
    os.makedirs(index_root, exist_ok=True)
    with open(os.path.join(index_root, "scales.json"), "w") as f:
        json.dump(scales, f)
    emb.select(
        id_col, sq8_code_col(F.col(vec_col), scales).alias("codes")
    ).write.mode("overwrite").parquet(
        os.path.join(index_root, "codes", "batch=0")
    )
    return scales


def add_to_sq8_index(
    emb_new: DataFrame,
    index_root: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch with FROZEN scales (faiss ``add()`` semantics: the
    quantizer never retrains on add — re-quantizing history on every
    batch would be a full rewrite). A replayed batch overwrites its own
    ``batch=N`` directory, so ingestion stays exactly-once."""
    import json
    import os

    with open(os.path.join(index_root, "scales.json")) as f:
        scales = json.load(f)
    emb_new.select(
        id_col, sq8_code_col(F.col(vec_col), scales).alias("codes")
    ).write.mode("overwrite").parquet(
        os.path.join(index_root, "codes", f"batch={batch_id}")
    )


def load_sq8_index(spark, index_root: str):
    """(codes frame, scales) from a persisted SQ8 index — the codes scan
    reads every batch directory."""
    import glob
    import json
    import os

    with open(os.path.join(index_root, "scales.json")) as f:
        scales = json.load(f)
    parts = sorted(glob.glob(os.path.join(index_root, "codes", "batch=*")))
    codes = spark.read.parquet(*parts)
    return codes, scales


def _train_centroids(sample: np.ndarray, n_cells: int, iters: int = 8) -> np.ndarray:
    """Spherical k-means (Lloyd) on a driver-side sample — how real IVF
    indexes are trained (faiss trains the coarse quantizer on a bounded
    sample too; only the *assignment* pass must be distributed). Init is the
    first n_cells sample rows (the sample is already hash-shuffled →
    deterministic pseudo-random init, no RNG state). Empty cells keep their
    previous centroid."""
    cents = sample[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cents.T, axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cents[c] = m / norm
    return cents


class IVFIndex:
    """A built IVF index: trained centroids + the (vec_id, cell) assignment,
    persisted so every query against the index reuses one assignment pass.

    At 100 TB the `assigned` frame is written once with
    ``.write.partitionBy("cell")`` so a query's probed-cell filter becomes
    partition pruning; session-local `persist()` is the same contract at
    fixture scale (build once, query many)."""

    def __init__(self, emb: DataFrame, id_col: str, centroids, assigned: DataFrame):
        self.emb = emb
        self.id_col = id_col
        self.centroids = centroids
        self.assigned = assigned

    def release(self) -> None:
        """Unpersist the assignment frame (idempotent; safe after the
        session is gone). A dropped index must release executor storage
        or a long-lived engine session leaks one persisted frame per
        dataset it ever indexed."""
        try:
            self.assigned.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


#: (session id, cache_key, n_cells) -> IVFIndex. Index build (centroid
#: training + full assignment scan) must run once per dataset per session,
#: not once per query — rounds 1-2 rebuilt it on every query build.
#: LRU-bounded: entry #(max+1) evicts (and UNPERSISTS) the least recently
#: used index, so a long-lived engine session cycling through datasets
#: keeps executor storage flat instead of accreting one persisted
#: assignment frame per dataset forever. Explicit eviction:
#: :func:`drop_ivf_index`.
_IVF_CACHE: dict[tuple[int, str, int], IVFIndex] = {}
_IVF_CACHE_MAX = 8


def _ivf_cache_get(key: tuple[int, str, int]) -> IVFIndex | None:
    hit = _IVF_CACHE.pop(key, None)
    if hit is not None:
        _IVF_CACHE[key] = hit  # re-insert: most recently used
    return hit


def _ivf_cache_put(key: tuple[int, str, int], index: IVFIndex) -> None:
    _IVF_CACHE.pop(key, None)
    _IVF_CACHE[key] = index
    while len(_IVF_CACHE) > _IVF_CACHE_MAX:
        _IVF_CACHE.pop(next(iter(_IVF_CACHE))).release()


def drop_ivf_index(
    cache_key: str | None = None,
    n_cells: int | None = None,
    session=None,
) -> int:
    """Evict cached IVF indexes (and unpersist their assignment frames).

    Filters compose: ``drop_ivf_index("docs_v1")`` drops every cell count
    built for that key; ``drop_ivf_index()`` clears the whole cache (the
    engine-shutdown path). Returns the number of indexes dropped. After a
    drop, repeated build→drop cycles leave executor storage flat
    (pinned in tests/test_round11_ops.py)."""
    dropped = 0
    for key in list(_IVF_CACHE):
        sid, ck, nc = key
        if cache_key is not None and ck != cache_key:
            continue
        if n_cells is not None and nc != n_cells:
            continue
        if session is not None and sid != id(session):
            continue
        _IVF_CACHE.pop(key).release()
        dropped += 1
    return dropped


def _assign_to_cells(emb: DataFrame, id_col: str, cents: np.ndarray) -> DataFrame:
    """(vec_id, cell) nearest-centroid assignment: the centroid matrix is
    broadcast, each Arrow batch is one NumPy matmul + argmax — the only
    Python in the IVF path, vectorized end-to-end."""
    b_cents = emb.sparkSession.sparkContext.broadcast(cents)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = b_cents.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col], "cell": np.argmax(m @ c.T, axis=1).astype("int32")}
            )

    return emb.select(id_col, "embedding").mapInPandas(
        assign, schema="vec_id long, cell int"
    )


def build_ivf_index(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> IVFIndex:
    """Train centroids and assign every vector to its nearest cell.

    Training sample: the `max(2048, 8*n_cells)` vectors with the smallest
    (xxhash64(id), id) — hash-order ≈ uniform random but reproducible with no
    RNG state. The orderBy+limit spelling compiles to TakeOrderedAndProject
    (per-partition top-k heap + driver merge — NO global sort exchange;
    plan-asserted in tests/test_plans.py), so the sample costs one linear
    scan at any scale. Centroids are spherical k-means on that sample (how
    faiss trains its coarse quantizer — only the assignment pass must be
    distributed). Assignment is one NumPy matmul per Arrow batch, persisted.
    """
    if cache_key is not None:
        hit = _ivf_cache_get((id(emb.sparkSession), cache_key, n_cells))
        if hit is not None:
            return hit
    train_rows = (
        emb.select(id_col, "embedding")
        .orderBy(F.xxhash64(F.col(id_col).cast("long")), F.col(id_col))
        .limit(max(2048, 8 * n_cells))  # bounded TRAINING SAMPLE, not the data
        .collect()
    )
    if not train_rows:  # empty table: zero centroids, queries return empty
        cents = np.zeros((0, 0), dtype=np.float64)
    else:
        sample = np.stack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in train_rows]
        )
        cents = _train_centroids(sample, n_cells)
    assigned = _assign_to_cells(emb, id_col, cents).persist()
    index = IVFIndex(emb, id_col, cents, assigned)
    if cache_key is not None:
        _ivf_cache_put((id(emb.sparkSession), cache_key, n_cells), index)
    return index


def ivf_query_topk(
    index: IVFIndex, query_vec: list[float], k: int = 10, n_probe: int = 4
) -> DataFrame:
    """Query a built IVF index: rank centroids by dot with the query, keep
    the `n_probe` nearest cells, exact-rescore only those cells' vectors with
    the JVM-side zip_with/aggregate dot product → TakeOrderedAndProject
    top-k. Recall vs brute force is asserted in tests/test_similarity.py."""
    id_col = index.id_col
    if index.centroids.size == 0:  # index built over an empty table
        return index.emb.select(
            F.col(id_col), F.lit(0.0).alias("sim")
        ).limit(0)
    q = np.asarray(query_vec, dtype=np.float64)
    probed = [int(c) for c in np.argsort(-(index.centroids @ q))[:n_probe]]
    cand_ids = index.assigned.filter(F.col("cell").isin(probed)).select("vec_id")
    return (
        index.emb.join(cand_ids, index.emb[id_col] == cand_ids["vec_id"], "left_semi")
        .select(
            F.col(id_col),
            F.round(_dot_expr(F.col("embedding"), query_vec), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def ann_ivf_query_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """IVF approximate nearest-neighbor search: build (or fetch the cached)
    index, then query it — see :func:`build_ivf_index` / :func:`ivf_query_topk`.
    Pass `cache_key` (e.g. the dataset path) so repeated queries against the
    same table reuse one trained+assigned index."""
    index = build_ivf_index(emb, n_cells=n_cells, id_col=id_col, cache_key=cache_key)
    return ivf_query_topk(index, query_vec, k=k, n_probe=n_probe)


def _cluster_for_partitioned_write(
    assigned: DataFrame, source: DataFrame
) -> DataFrame:
    """Cluster an assignment frame by its partition columns ahead of the
    partitionBy write — but only when the assignment pass runs wide.

    A partitioned write opens one file per (task, partition-value) pair:
    a wide assignment pass writes tasks x cells tiny files (the guide §6
    small-files trap), so at scale one exchange of the 8-byte
    (vec_id, cell) pairs buys exactly one right-sized file per
    (batch_id, cell) directory. A SERIAL input (the fixture's
    single-row-group scan: one scan task) already yields one file per
    directory, and the exchange would be pure overhead — measured round
    15: +1.5 s warm per save at sf0.01 for zero file-count change — so
    one-task inputs pass through. Every other width clusters, including
    an UNKNOWN one (probe result 0: an in-memory or post-shuffle frame
    has no input files to count). Parallelism is probed on ``source``
    (the vector table): the assignment is a 1:1 mapInPandas over it,
    which preserves partitioning but hides ``inputFiles()``. Same
    analysis-only probe as operators/spread (never plans physically,
    never compiles)."""
    from sql4pandas_spark.operators.spread import planned_scan_tasks

    try:
        if planned_scan_tasks(source) == 1:
            return assigned
    except Exception:  # pragma: no cover - probe is best-effort
        pass  # unknown width: cluster, the safe write shape
    return assigned.repartition("batch_id", "cell")


def save_ivf_index(index: IVFIndex, index_root: str) -> None:
    """Persist an IVF index as parquet sidecar metadata NEXT TO the vector
    table (the vectors themselves stay in their own table — the index is
    centroids + an 8-byte-per-vector assignment, the faiss-on-a-lake
    layout): ``centroids/`` (n_cells rows) and ``assigned/`` partitioned
    by (batch_id, cell), so a query's probed-cell filter becomes
    PARTITION PRUNING on disk instead of a scan, and incremental adds
    land in their own batch partitions (see :func:`add_to_ivf_index`).
    The base build is batch_id=0."""
    import os

    spark = index.emb.sparkSession
    cents = [
        (int(i), [float(x) for x in row]) for i, row in enumerate(index.centroids)
    ]
    spark.createDataFrame(cents, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(index_root, "centroids"))
    (
        _cluster_for_partitioned_write(
            index.assigned.withColumn("batch_id", F.lit(0)), index.emb
        )
        .write.mode("overwrite")
        .partitionBy("batch_id", "cell")
        .parquet(os.path.join(index_root, "assigned"))
    )


def add_to_ivf_index(
    new_emb: DataFrame, index_root: str, batch_id: int, id_col: str = "vec_id"
) -> None:
    """Incrementally index NEW vectors against the FROZEN centroids —
    faiss ``add()`` semantics: adds never retrain the coarse quantizer
    (full-probe queries stay exact regardless; narrow-probe recall decays
    only if the new data DRIFTS from the trained distribution, which is
    exactly what profile.distribution_drift over a similarity/assignment
    histogram detects, and the remedy is an offline rebuild). Each add
    batch dynamically overwrites its own ``batch_id`` partitions, so a
    crash-replayed batch replaces exactly its own half-written
    assignments — the same exactly-once shape as the incremental dedup
    stores. ``batch_id`` must be ≥ 1 (0 is the base build)."""
    import os

    if batch_id < 1:
        raise ValueError("batch_id 0 is the base build; adds start at 1")
    spark = new_emb.sparkSession
    crows = (
        spark.read.parquet(os.path.join(index_root, "centroids"))
        .orderBy("cell")
        .collect()
    )
    if not crows:
        raise ValueError("cannot add to an index built over an empty table")
    cents = np.stack([np.asarray(r.centroid, dtype=np.float64) for r in crows])
    (
        _cluster_for_partitioned_write(
            _assign_to_cells(new_emb, id_col, cents).withColumn(
                "batch_id", F.lit(batch_id)
            ),
            new_emb,
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "cell")
        .parquet(os.path.join(index_root, "assigned"))
    )


def load_ivf_index(
    emb: DataFrame, index_root: str, id_col: str = "vec_id"
) -> IVFIndex:
    """Load a persisted index for querying: centroids collected (bounded —
    n_cells × dim), assignments left ON DISK so
    :func:`ivf_query_topk`'s probed-cell filter prunes partitions. `emb`
    is the CURRENT vector table (base + any added batches) — the index
    carries ids, never vectors."""
    import os

    spark = emb.sparkSession
    crows = (
        spark.read.parquet(os.path.join(index_root, "centroids"))
        .orderBy("cell")
        .collect()
    )
    cents = (
        np.stack([np.asarray(r.centroid, dtype=np.float64) for r in crows])
        if crows
        else np.zeros((0, 0), dtype=np.float64)
    )
    assigned = spark.read.parquet(os.path.join(index_root, "assigned")).select(
        "vec_id", "cell"
    )
    return IVFIndex(emb, id_col, cents, assigned)


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (no RNG state — splitmix ints
    mapped to [-1, 1); good enough for sign sketches)."""
    z = (np.arange(dim * n_planes, dtype=np.uint64) + 1) * np.uint64(0x9E3779B97F4A7C15)
    z = z + np.uint64((seed * 0xBF58476D1CE4E5B9) & (2**64 - 1))
    z ^= z >> np.uint64(31)
    vals = (z.astype(np.float64) / 2**64) * 2.0 - 1.0
    return vals.reshape(n_planes, dim)


def lsh_bucket_key(vec_col, planes: np.ndarray, table_id: int):
    """Sign-bit sketch of one LSH table as a single long: bit_i = (v ·
    plane_i) > 0, offset by the table id so keys from different tables never
    collide. Built from zip_with dot products per plane — JVM-side, no UDF."""
    bits = []
    for i, plane in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long")))
    key = F.lit(table_id * (2 ** len(planes))).cast("long")
    for b in bits:
        key = key + b
    return key


def _matrix_rows(
    idx: pd.Index, ids_a: np.ndarray, ids_b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Matrix rows of two candidate id columns, by one lookup and one
    vectorised check per batch. ``get_indexer`` answers -1 for an id the
    broadcast lacks, and ``mat[-1]`` would silently score the last row, so
    a missing id raises naming the ids instead."""
    ids = np.concatenate([ids_a, ids_b])
    rows = idx.get_indexer(ids)
    if rows.min(initial=0) < 0:
        missing = np.unique(ids[rows < 0])
        raise KeyError(
            f"candidate ids missing from the broadcast embedding matrix: "
            f"{missing[:10].tolist()} ({len(missing)} in all)"
        )
    return rows[: len(ids_a)], rows[len(ids_a) :]


def _by_value(fn):
    """A copy of module-level ``fn`` that cloudpickle ships by value (its
    qualified name no longer resolves to it), so the Python workers that
    run it need not import this package: a caller may have put the
    package on ``sys.path`` by hand, where the workers cannot see it."""
    return types.FunctionType(
        fn.__code__, fn.__globals__, fn.__name__, fn.__defaults__, fn.__closure__
    )


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 20,
    n_tables: int = 8,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k cosine pairs via multi-table random-hyperplane LSH.

    OR-construction over L tables of p planes: per-table collision prob for
    angle θ is (1-θ/π)^p, overall 1-(1-(1-θ/π)^p)^L — with L=8, p=4 a
    0.6-cosine pair collides with ~90% probability while random pairs
    (cosine≈0) collide at ~1-(1-1/16)^8 ≈ 40% of tables... of 16-bucket
    tables, i.e. candidate volume stays ~L·n²/2^p, far below n². Candidates
    are scored with the exact JVM dot product; recall measured in
    tests/test_similarity.py.

    Scale: bucket keys are 8-byte longs (table-id offset keeps tables
    disjoint); the only shuffle is the explode + self-join on those keys.
    """
    first = emb.select("embedding").first()
    if first is None:  # empty input: empty pair set, standard schema
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )
    dim = len(first[0])
    keys = F.array(
        *[
            lsh_bucket_key(
                F.col("embedding"),
                _hyperplanes(dim, planes_per_table, seed=13 + 7 * t),
                table_id=t,
            )
            for t in range(n_tables)
        ]
    )
    keyed = emb.select(F.col(id_col), "embedding", F.explode(keys).alias("bucket"))
    a = keyed.select(
        F.col("bucket"), F.col(id_col).alias("id_a"), F.col("embedding").alias("emb_a")
    )
    b = keyed.select(
        F.col("bucket").alias("bucket_b"), F.col(id_col).alias("id_b"), F.col("embedding").alias("emb_b")
    )

    cand = (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )

    # Exact rescoring of the candidate pairs, vectorized (guide §4.2 + §8):
    # the previous per-pair zip_with/aggregate fold is a HIGHER-ORDER
    # expression Catalyst evaluates interpreted — ~5-10 µs and two array
    # allocations per candidate pair, the profiled wall of the LSH path at
    # sf0.1 (~0.8M distinct pairs x 64 dims; attach+score 3.7 s of the
    # 6.1 s warm total). Preferred shape: broadcast the (ids, matrix) —
    # 8 bytes x dim per vector — and ship ONLY the 16-byte candidate id
    # pairs to Python, scoring each Arrow batch as one rowwise NumPy dot
    # (§8: move ids, not payloads). Beyond the broadcast cap the
    # attach-join + per-batch dot fallback below keeps the path fully
    # distributed (tests/test_edge_inputs.py pins that contract). float64
    # like the fold it replaces; tests pin the rounded values against the
    # NumPy brute-force scorer.
    try:
        b_ids, b_mat = _broadcast_embedding_matrix(emb, id_col)

        matrix_rows = _by_value(_matrix_rows)

        def score_lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            idx = pd.Index(b_ids.value)  # once per task (guide §4.5)
            mat = b_mat.value
            for pdf in batches:
                if pdf.empty:
                    continue
                ia, ib = matrix_rows(idx, pdf["id_a"].to_numpy(), pdf["id_b"].to_numpy())
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"],
                        "id_b": pdf["id_b"],
                        "sim": np.round(
                            np.einsum("ij,ij->i", mat[ia], mat[ib]), 4
                        ),
                    }
                )

        scored = cand.mapInPandas(
            score_lookup, schema="id_a long, id_b long, sim double"
        )
    except ValueError:  # beyond broadcast cap: stay fully distributed

        def score_attached(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                av = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
                bv = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"],
                        "id_b": pdf["id_b"],
                        "sim": np.round(np.einsum("ij,ij->i", av, bv), 4),
                    }
                )

        scored = (
            cand.join(
                emb.select(F.col(id_col).alias("id_a"), F.col("embedding").alias("emb_a")),
                "id_a",
            )
            .join(
                emb.select(F.col(id_col).alias("id_b"), F.col("embedding").alias("emb_b")),
                "id_b",
            )
            .mapInPandas(score_attached, schema="id_a long, id_b long, sim double")
        )
    return scored.orderBy(F.col("sim").desc(), "id_a", "id_b").limit(k)


def centroid_outlier_stats(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-quality audit: per label, cosine of every vector to its
    label centroid — the standard mislabeled/garbage-embedding screen for a
    curated corpus (a vector pointing AWAY from its class centroid is a
    labeling or encoding suspect).

    Returns one row per label: ``(label, n_vecs, sum_cos_e4, min_cos,
    max_cos, n_outliers)`` where cosines are quantized to 1e-4 (``_e4`` =
    ×10⁴ as BIGINT, so the per-label sum is exact integer arithmetic —
    order-independent, unlike a double sum) and outliers are vectors with
    cosine < 0 (anti-aligned with their own centroid).

    Scale shape — two narrow shuffles, no N×N anything:

    1. Centroids: posexplode → groupBy (label, pos) avg. Partial aggregation
       collapses each task to |labels|×dims rows before the shuffle, so the
       64× explode never hits the wire.
    2. The (|labels| × dims) centroid frame reassembles into arrays
       (array_sort over collected (pos, mean) structs — deterministic) and
       BROADCASTS back; per-vector cosine is a fixed-order JVM fold
       (zip_with + aggregate), then one map-combined groupBy(label).
    """
    ex = emb.select(
        label_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    def _fold(products):
        return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)

    cent = (
        ex.groupBy(label_col, "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("m"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("_centroid")
        )
        # ||c||² once per label here, not re-folded on every corpus row
        .withColumn("_cnorm2", _fold(F.transform("_centroid", lambda y: y * y)))
    )
    joined = emb.join(F.broadcast(cent), label_col)

    dot = _fold(
        F.zip_with(
            F.col(vec_col), F.col("_centroid"), lambda x, y: x.cast("double") * y
        )
    )
    nv = _fold(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double"))
    )
    # zero-norm guard: an all-zero vector (failed encode) or a degenerate
    # all-zero centroid has no defined cosine — under ANSI mode the bare
    # division would abort the whole audit with DIVIDE_BY_ZERO, exactly on
    # the garbage input the audit exists to flag. NULL cosine → counted as
    # an outlier below, excluded from sum/min/max.
    cos_e4 = F.when(
        (nv > 0) & (F.col("_cnorm2") > 0),
        F.round(dot / (F.sqrt(nv) * F.sqrt(F.col("_cnorm2"))) * 10000).cast(
            "long"
        ),
    )

    return (
        joined.select(label_col, cos_e4.alias("_ce4"))
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_ce4").alias("sum_cos_e4"),
            F.round(F.min("_ce4") / 10000.0, 4).alias("min_cos"),
            F.round(F.max("_ce4") / 10000.0, 4).alias("max_cos"),
            F.sum(
                F.when(F.col("_ce4").isNull() | (F.col("_ce4") < 0), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy(label_col)
    )


def projection_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix for :func:`random_projection_e6`,
    derived from md5 of the (out, in) coordinate — no RNG state, so every
    engine/run/build of the same (in_dim, out_dim) gets the same matrix
    (the property that lets a DuckDB oracle replay the projection and
    lets an index built last month keep working). Rademacher signs
    satisfy the Johnson-Lindenstrauss guarantee the same as Gaussians
    (Achlioptas 2001)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection_e6(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with Rademacher
    (±1) signs: project ``in_dim`` float vectors to ``out_dim``
    integer-exact components — the standard shrink step before ANN
    indexing (a 4x narrower vector is 4x less index I/O and compute per
    probe, at a distortion bounded by JL for out_dim ~ O(ln n / eps^2)).

    Exactness: inputs quantize ONCE to e6 integers
    (``round(v * 1e6)``), then every projection component is a pure
    INTEGER sum of sign-flipped quantized values — no float summation
    anywhere, so components are order-independent and bit-identical in
    any engine (the repo-wide integer-summation convention). Components
    are unscaled (the JL 1/sqrt(out_dim) factor cancels in cosine and
    relative-distance use; apply it at read time if absolute distances
    matter).

    Scale shape: zero shuffles — the whole projection is a map-side
    zip_with/aggregate expression over the vector column (JVM
    higher-order functions, codegen-friendly, no UDF); out_dim x in_dim
    sign literals ride the plan. Output: ``(id_col, proj_e6
    array<long>)``.
    """
    signs = projection_signs(in_dim, out_dim)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(1e6)).cast("long"),
    )
    comps = [
        F.aggregate(
            F.zip_with(
                q,
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for j in range(out_dim)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("proj_e6"))
