"""In-engine training catalog entries (operators/training.py).

The oracle UNROLLS the full gradient-descent loop as chained CTEs — the
PageRank-oracle discipline applied to model training: w0 is the zero
literal, each round k derives gradient g{k} from the feature CTE and
weights w{k-1}, and the final frame is the whole (step, bucket, gradient,
weight) trajectory. A hash match proves every intermediate optimizer
state, not just the final model — possible only because the operator is
bit-exact across engines by construction (rational fast-sigmoid, integer
cross-row sums, floored exact-double update; operators/training.py module
docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql4pandas_spark.operators.text import (
    DUCKDB_HASH60_SQL,
    DUCKDB_TOKENS_SQL,
    GOPHER_STOPWORDS,
)
from sql4pandas_spark.operators.training import LR_NUM, SCALE
from sql4pandas_spark.queries.catalog import query
from sql4pandas_spark.sources.parquet import register_tables

_N_BUCKETS = 8
_ROUNDS = 6


def _logreg_oracle(rounds: int = _ROUNDS, n_buckets: int = _N_BUCKETS) -> str:
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    h = DUCKDB_HASH60_SQL.format(expr="t")
    buckets_vals = ", ".join(f"({b})" for b in range(n_buckets))
    parts = [
        f"""
WITH toks AS (
  SELECT doc_id,
         {DUCKDB_TOKENS_SQL} AS w
  FROM documents),
feat AS (
  SELECT doc_id,
         list_transform(w, t -> CAST(({h}) % {n_buckets} AS BIGINT)) AS buckets,
         CAST(len(w) AS BIGINT) AS n,
         CASE WHEN len(list_filter(w, t -> list_contains([{stops}], t))) >= 2
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
  FROM toks WHERE len(w) > 0),
occ AS (SELECT doc_id, n, y, unnest(buckets) AS b FROM feat),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM feat),
w0 AS (SELECT CAST(b AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
       FROM (VALUES {buckets_vals}) AS t(b))"""
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"""
dot{k} AS (
  SELECT o.doc_id, max(o.n) AS n, max(o.y) AS y,
         CAST(sum(w.w) AS BIGINT) AS dot
  FROM occ o JOIN w{p} w USING (b) GROUP BY o.doc_id),
s{k} AS (
  SELECT doc_id,
         CAST(round(((0.5 + (CAST(dot AS DOUBLE) / ({SCALE}.0 * n))
                      / (2.0 * (1.0 + abs(CAST(dot AS DOUBLE) / ({SCALE}.0 * n)))))
                     - y) * {SCALE}.0 / n) AS BIGINT) AS cu
  FROM dot{k}),
g{k} AS (
  SELECT o.b, CAST(sum(s.cu) AS BIGINT) AS g
  FROM occ o JOIN s{k} s USING (doc_id) GROUP BY o.b),
w{k} AS (
  SELECT w.b,
         CAST(w.w - CAST(floor(CAST(COALESCE(g.g, 0) * {LR_NUM} AS DOUBLE)
                               / nd.nd) AS BIGINT) AS BIGINT) AS w
  FROM w{p} w LEFT JOIN g{k} g USING (b) CROSS JOIN nd)"""
        )
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS step, w.b AS bucket,"
        f" CAST(COALESCE(g.g, 0) AS BIGINT) AS g, w.w"
        f" FROM w{k} w LEFT JOIN g{k} g USING (b)"
        for k in range(1, rounds + 1)
    )
    return (
        ",".join(parts)
        + f"\nSELECT step, bucket, g, w FROM ({steps}) ORDER BY step, bucket"
    )


@query(
    "logreg_train_trajectory",
    oracle=_logreg_oracle(),
    tags=(
        "tier-c",
        "bench-heavy",
        "classifier",
        "model_training",
        "quality",
        "iterative",
    ),
)
def logreg_train_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch gradient descent for the hashed logistic quality
    classifier, trained IN-ENGINE over documents
    (operators/training.train_hashed_logreg): 6 rounds x 8 hashed buckets,
    label = the Gopher >= 2-stopword-occurrences signal, so the model
    learns a soft version of the rule gate it would replace
    (hashed_logistic_score then serves the weights, same hash, same array
    literal). The returned frame is the ENTIRE optimization trajectory
    (step, bucket, gradient, post-update weight) — the oracle re-derives
    every round from the data as unrolled CTEs, so the hash pins each
    intermediate state bit-for-bit. Per round: one scan of the
    checkpointed per-doc bucket-COUNT vectors (dot = sum_b count_b * w_b,
    arithmetically identical to the per-occurrence weight sum) folded
    into a single global |buckets|-sum aggregate — no explode, per-round
    cost independent of tokens per document."""
    from sql4pandas_spark.operators.training import (
        train_hashed_logreg,
        trajectory_frame,
    )

    t = register_tables(spark, sf_dir, ("documents",))
    traj = train_hashed_logreg(
        t["documents"], n_buckets=_N_BUCKETS, rounds=_ROUNDS
    )
    return (
        trajectory_frame(spark, traj)
        .withColumnRenamed("round", "step")
        .orderBy("step", "bucket")
    )
