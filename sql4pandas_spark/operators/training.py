"""In-engine model training: batch gradient descent for the hashed
logistic quality classifier — closing the loop that
``operators/text.hashed_logistic_score`` left open (its docstring: "a real
pipeline loads fasttext/logreg weights into the same list and nothing else
changes"; this module is where those weights come from).

The whole optimization runs as Spark aggregates over the corpus; the only
driver-side state per round is the |buckets|-sized gradient vector (a
bounded collect, same discipline as the BPE trainer's 1-row argmax) and
the integer weight vector itself. Per round the data-sized work is one
scan of the checkpointed per-doc BUCKET-COUNT vectors: the dot product is
``sum_b count_b * w_b`` (arithmetically identical to summing the weight
per token occurrence, but O(|buckets|) per doc instead of O(tokens)), and
the gradient is a single global aggregate of ``cu * count_b`` per bucket
— |buckets| int64 sums, partial-combined map-side, 1 row shuffled per
task. No explode, no per-occurrence rows ever cross an exchange.

The feature frame (doc_id, bucket-count vector, token count, label) is
computed ONCE and localCheckpoint-ed — it is the loop invariant; token
arrays are folded into the |buckets|-sized count vector at that point, so
per-round cost no longer scales with tokens per document at all.

Bit-exact across engines BY CONSTRUCTION, so a DuckDB oracle can replay
the entire optimization trajectory:

- the sigmoid is the RATIONAL fast sigmoid ``0.5 + z/(2(1+|z|))`` —
  add/mul/div/abs are IEEE-correctly-rounded in both engines, where
  ``exp()`` is a library function free to differ in the last bit;
- every cross-row sum is an INTEGER sum (order-free): the dot product
  sums int64 weights, and each token occurrence contributes the per-doc
  integer ``round((s - y) * 2^20 / n)`` to its bucket's gradient;
- the weight update floors an exact-double quotient (|g| < 2^53, and the
  quotient is never within an ulp of a non-attained integer because the
  true rational value is at least 1/n_docs away — n_docs ≤ 2e6 keeps
  that margin above ulp range).

Scale: per-round cost is one corpus scan + an 8-row shuffle; rounds are a
constant. Nothing data-sized is collected. At 100 TB the scan dominates
and partial aggregation keeps the gradient exchange trivial — the same
shape as any treeAggregate-based distributed GD.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql4pandas_spark.operators.text import (
    GOPHER_STOPWORDS,
    portable_hash60,
    tokens,
)

#: fixed-point scale for weights and gradient contributions: z is measured
#: in units of 2^-20 per weight count (a power of two so the scale itself
#: is exact in binary floating point).
SCALE = 1 << 20

#: learning-rate numerator: the update is ``floor(g * LR_NUM / n_docs)``
#: (effective learning rate LR_NUM in z-units). 16 moves the logits enough
#: to separate within single-digit rounds; |g * LR_NUM| stays far below
#: 2^53, so the double quotient is still floor-exact.
LR_NUM = 16


@dataclass(frozen=True)
class RoundState:
    """One GD round: the gradient that was applied and the weights AFTER
    the update, both in 2^-20 fixed-point units."""

    round: int
    gradient: tuple[int, ...]
    weights: tuple[int, ...]


def hashed_feature_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
) -> DataFrame:
    """(doc_id, buckets, n, y): each token hashed to a bucket
    (portable_hash60 % n_buckets — the scorer's hash, DuckDB-replayable),
    the token count, and the training label y = "contains >= 2 Gopher
    stopword occurrences" (the same signal gopher_rules gates on, so the
    trained model learns a soft version of the rule it will replace).
    Token-less docs are dropped — no label, no gradient."""
    toks = tokens(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.transform(
                toks, lambda t: (portable_hash60(t) % F.lit(n_buckets)).cast("long")
            ).alias("buckets"),
            F.size(toks).cast("long").alias("n"),
            F.when(
                F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
                >= 2,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("y"),
        )
        .filter(F.col("n") > 0)
    )


def _count_vector(n_buckets: int):
    """``bcounts[b]`` = number of token occurrences hashed to bucket ``b``
    — the loop-invariant fold of the per-token bucket array into a fixed
    |buckets|-sized vector, computed once at checkpoint time."""
    def _is(bi: int):
        # closure factory: HOF lambdas must be single-parameter (a 2-arg
        # lambda would be read as the (element, index) form)
        return lambda b: b == F.lit(bi)

    return F.array(
        *[
            F.size(F.filter(F.col("buckets"), _is(bi))).cast("long")
            for bi in range(n_buckets)
        ]
    )


def _round_gradient(feat: DataFrame, weights: list[int]) -> list[int]:
    """Per-bucket integer gradient sums for the current weights, from the
    (doc_id, bcounts, n, y) count-vector frame.

    ``dot = sum_b bcounts[b] * w_b`` is exactly the per-occurrence weight
    sum (integer multiply-add, order-free); the per-doc contribution
    ``cu = round((s - y) * 2^20 / n)`` is one deterministic double
    expression; the gradient for bucket b is the int64 sum of
    ``cu * bcounts[b]`` over docs — a single global aggregate with
    map-side partial combine, so each task ships |buckets| longs."""
    dot = sum(
        (F.element_at("bcounts", bi + 1) * F.lit(int(w)) for bi, w in enumerate(weights)),
        F.lit(0).cast("long"),
    )
    z = dot.cast("double") / (F.lit(float(SCALE)) * F.col("n").cast("double"))
    s = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    cu = F.round(
        (s - F.col("y").cast("double")) * F.lit(float(SCALE)) / F.col("n").cast("double")
    ).cast("long")
    row = (
        feat.select(cu.alias("cu"), "bcounts")
        .agg(
            *[
                F.sum(F.col("cu") * F.element_at("bcounts", bi + 1)).alias(f"g{bi}")
                for bi in range(len(weights))
            ]
        )
        .collect()[0]
    )
    return [int(row[f"g{bi}"] or 0) for bi in range(len(weights))]


def train_hashed_logreg(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
    rounds: int = 6,
) -> list[RoundState]:
    """Train integer logistic-regression weights over hashed bag-of-tokens
    features by full-batch gradient descent; returns the complete
    optimization trajectory (gradient + post-update weights per round).

    The update is ``w_b -= floor(g_b * LR_NUM / n_docs)`` — effective
    learning rate LR_NUM in z-units, computed with ``math.floor`` on the
    same IEEE double quotient the SQL oracle's
    ``floor(CAST(g * LR_NUM AS DOUBLE)/nd)`` produces, so the driver-side
    ints and an engine-side replay cannot drift."""
    # spread BEFORE the per-token feature pass (operators/spread.py): the
    # per-doc cost is one md5 hash per token plus the stopword filter —
    # the SimHash class of CPU — and a corpus that scans as ONE row-group
    # task would serialize the checkpoint below on a single core.
    # Projected to the two consumed columns first so the exchange carries
    # only (id, text).
    from sql4pandas_spark.operators.spread import spread_for_compute

    spread = spread_for_compute(
        df.select(F.col(id_col).alias(id_col), F.col(text_col))
    )
    feat = (
        hashed_feature_frame(spread, text_col, id_col, n_buckets)
        .select("doc_id", _count_vector(n_buckets).alias("bcounts"), "n", "y")
        .localCheckpoint(eager=True)
    )
    n_docs = feat.count()
    if n_docs == 0:
        raise ValueError("train_hashed_logreg: no documents with tokens")
    weights = [0] * n_buckets
    out: list[RoundState] = []
    for rnd in range(1, rounds + 1):
        g = _round_gradient(feat, weights)
        weights = [
            w - math.floor(gb * LR_NUM / n_docs) for w, gb in zip(weights, g)
        ]
        out.append(
            RoundState(round=rnd, gradient=tuple(g), weights=tuple(weights))
        )
    return out


def trajectory_frame(spark, trajectory: list[RoundState]) -> DataFrame:
    """(round, bucket, g, w) — the whole optimization path as a frame, one
    row per (round, bucket); hash-matching it against an oracle replay
    pins every intermediate state of the training run, not just the final
    model."""
    rows = [
        (st.round, b, st.gradient[b], st.weights[b])
        for st in trajectory
        for b in range(len(st.weights))
    ]
    return spark.createDataFrame(
        rows, "round BIGINT, bucket BIGINT, g BIGINT, w BIGINT"
    )
