"""Graph operators over edge frames (SURVEY.md §2.9).

Iterative algorithms follow the discipline of the distributed path of
`dedup.label_components` (its label propagation beyond the driver-graph
cap): per-round work bounded by the edge frame, lineage truncated with
localCheckpoint so 10 rounds don't build a 10-deep plan, and NO
driver-side data structures beyond scalar metadata (node count). Small
component graphs are labeled on the driver instead; these operators keep
every round in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: e9 fixed-point scale for PageRank mass — integer arithmetic end-to-end
#: (the PSI/surprisal convention), so every engine and every partitioning
#: computes the identical ranks bit-exactly.
PAGERANK_SCALE = 10**9


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Integer-quantized PageRank power iteration — the domain-authority
    signal crawl curation weights sources by (CommonCrawl publishes the
    same idea as harmonic centrality over the domain link graph).

    Fixed-point e9 integer arithmetic with floor division at every step:
    ``contrib = rank_e9 DIV outdeg`` per edge, ``new = base +
    (damping_pct · (Σcontrib + dangling_share)) DIV 100``, ``base =
    (SCALE·(100−damping)) DIV 100 DIV N`` — no float accumulation order
    for engines to disagree on, so a DuckDB oracle replays all
    ``iterations`` rounds value-exactly (mass lost to floors is
    deterministic and identical on both sides).

    ``redistribute_dangling=True`` is the standard dangling-mass fix:
    each round one 1-row aggregate sums the rank held by nodes with no
    out-edges and every node receives ``dangling_mass DIV N`` inside
    the damped term, so total mass stays SCALE up to floor-rounding
    (pytest-pinned) and cross-corpus rank sums compare. The scalar
    rides the plan as a ``crossJoin(broadcast(1-row))`` — the
    allowlisted bounded-metadata shape, no driver collect. The
    ``False`` default preserves the round-12 drain-the-sinks contract
    (its oracle replays that form bit-exactly).

    Scale shape: each round is one (src-keyed join + dst-keyed
    aggregate) over the EDGE frame — rank state is |nodes| rows of
    (node, int64), shuffles are 8-byte keys, per-round lineage is
    truncated with localCheckpoint. The node count is the only
    driver-side scalar. Returns (node, rank_e9) — order by rank for a
    source-authority report."""
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_e9", F.lit(0).cast("long"))
    # nodes/outdeg/dangling are loop-invariant and referenced every
    # round — checkpoint once (|nodes|- and |src|-sized frames) so the
    # distinct-union and degree aggregation don't recompute per round
    nodes = nodes.localCheckpoint(eager=True)
    base = (PAGERANK_SCALE * (100 - damping_pct) // 100) // n
    outdeg = e.groupBy("_src").agg(
        F.count(F.lit(1)).alias("_outdeg")
    ).localCheckpoint(eager=True)
    dangling = nodes.join(
        outdeg, nodes["node"] == outdeg["_src"], "left_anti"
    )
    if redistribute_dangling:
        dangling = dangling.localCheckpoint(eager=True)
    ranks = nodes.withColumn(
        "rank_e9", F.lit(PAGERANK_SCALE // n).cast("long")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            e.join(outdeg, "_src")
            .join(ranks, e["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank_e9 DIV _outdeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        updated = nodes.join(contrib, "node", "left")
        if redistribute_dangling:
            share = (
                ranks.join(dangling, "node", "left_semi")
                .agg(
                    F.expr(
                        "coalesce(sum(rank_e9), CAST(0 AS BIGINT))"
                        f" DIV CAST({n} AS BIGINT)"
                    ).alias("_dshare")
                )
            )
            updated = updated.crossJoin(F.broadcast(share))
            damped = (
                f"CAST({damping_pct} AS BIGINT)"
                " * (coalesce(_s, CAST(0 AS BIGINT)) + _dshare) DIV 100"
            )
        else:
            damped = (
                f"CAST({damping_pct} AS BIGINT)"
                " * coalesce(_s, CAST(0 AS BIGINT)) DIV 100"
            )
        ranks = (
            updated.select(
                "node",
                (F.lit(base) + F.expr(damped)).cast("long").alias("rank_e9"),
            )
            # lazy: the checkpoint still truncates the query plan (the
            # returned frame wraps the checkpoint RDD in both modes), but
            # materialization is deferred to the consumer — the whole
            # power iteration runs as ONE scheduled job pipeline instead
            # of paying a job barrier per round (the loop has no per-round
            # driver decision, unlike connected_components' convergence
            # check). Blocks still cache on first compute, so the two
            # consumers of a round's state (contrib join + dangling share)
            # never recompute it. Loop-INVARIANT frames above stay eager.
            .localCheckpoint(eager=False)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over an undirected edge frame — the density-based complement to
    ``dedup.label_components``: connected components merge everything
    reachable, LPA splits a connected graph into locally-dense
    communities (two cliques joined by one bridge edge are ONE
    component but TWO LPA communities — pytest-pinned).

    Semantics, chosen so every round replays value-exactly in a DuckDB
    oracle: labels start as the node's own id (string — lexicographic
    min is the tie order); each round every node adopts the MODE of its
    neighbors' current labels, ties broken by the smallest label.
    Self-loops are dropped and the node frame derives from the filtered
    symmetric edges, so every surviving node has a neighbor (a
    self-loop-only host is not a community — the connected_components
    contract); the keep-own-label coalesce is a guard against an empty
    vote, not a reachable path here. Updates are synchronous
    (all votes read the round-N frame, write round-N+1), so the result
    is partitioning- and schedule-independent — the asynchronous
    variant in the paper is run-order dependent and cannot carry an
    oracle.

    Scale shape follows :func:`pagerank`: the input is symmetrized once
    (both directions, distinct) and checkpointed; per round one
    src-keyed join + one (node, label) aggregate + one per-node argmax
    — state is |nodes| rows, shuffle keys are (node, label) pairs, and
    lineage is localCheckpoint-truncated per round. The per-node argmax
    window partitions on ``node`` (never a global sort). Returns
    (node, community)."""
    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .union(edges.select(F.col(dst).alias("_src"), F.col(src).alias("_dst")))
        .filter(F.col("_src") != F.col("_dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.withColumn("community", F.col("node")).localCheckpoint(
        eager=True
    )
    rank_w = Window.partitionBy("node").orderBy(
        F.col("_votes").desc(), F.col("_cand")
    )
    for _ in range(rounds):
        votes = (
            e.join(labels, e["_src"] == labels["node"])
            .select(
                F.col("_dst").alias("node"),
                F.col("community").alias("_cand"),
            )
            .groupBy("node", "_cand")
            .agg(F.count(F.lit(1)).alias("_votes"))
        )
        winner = (
            votes.withColumn("_rn", F.row_number().over(rank_w))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("_cand").alias("_new"))
        )
        labels = (
            labels.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_new"), F.col("community")).alias(
                    "community"
                ),
            )
            # lazy per-round state checkpoint — see pagerank: plan still
            # truncated, no per-round job barrier (fixed round count)
            .localCheckpoint(eager=False)
        )
    return labels


#: e8 fixed-point scale for HITS scores — one decade below PageRank's e9
#: so the per-round ``raw * SCALE`` rescaling product stays far inside
#: int64 (raw <= n·SCALE; n·SCALE² must be < 2^63).
HITS_SCALE = 10**8


def hits(
    edges: DataFrame,
    iterations: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-quantized HITS (Kleinberg): mutually-reinforcing hub and
    authority scores over a directed edge frame — the complement of
    :func:`pagerank` for crawl curation (a page can be a weak authority
    but a strong hub, i.e. a good LINK SOURCE; directories and index
    pages score high hub, canonical content high authority).

    Fixed-point e8 integers with L1 normalization each half-round:
    ``auth_raw(v) = Σ_{u→v} hub(u)`` then ``auth = auth_raw · SCALE DIV
    Σauth_raw`` (and symmetrically for hubs over the authority frame) —
    all sums are int64 (order-free) and the rescale is a floor division
    of non-negative ints, so every round replays bit-exactly in a DuckDB
    oracle and total score stays SCALE up to n floor-units per side.

    Scale shape (the pagerank discipline): per round two edge-frame
    joins + two 8-byte-key aggregates; the L1 total is a 1-row scalar
    COLLECT off the half-round's lazily-checkpointed raw frame (the
    label-sum / BPE-argmax bounded-metadata discipline — the collect's
    full-scan aggregate materializes and caches the frame in the same
    job, and the normalization rides as a literal-division projection
    over the cached leaf); score state is |nodes| rows of live scores
    (zero-score nodes drop inside the loop — arithmetically inert, see
    ``_normalized`` — and re-fill in the final select); lineage is
    truncated by the per-half-round checkpoint leaves. Returns
    (node, auth_e8, hub_e8)."""
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("hits: empty edge frame")
    e = e.localCheckpoint(eager=True)

    def _normalized(raw: DataFrame, out_col: str) -> DataFrame:
        # SPARSE: zero-score nodes are dropped inside the loop — they are
        # arithmetically inert (a missing node contributes 0 to the next
        # half-round's edge sums exactly like an explicit 0 row, and
        # Σ_raw is unchanged because every dropped row is zero) — and the
        # final select re-fills them from `nodes`, so each value replays
        # the oracle's zero-FILLED formulation bit-exactly while the
        # per-round plan skips the |nodes|-row fill join entirely.
        #
        # The L1 total is COLLECTED as a 1-row scalar (the label-sum /
        # BPE-argmax bounded-metadata discipline) off a LAZY checkpoint:
        # the collect's full-scan aggregate materializes and caches the
        # raw frame in the same job, and the normalization then rides as
        # a literal-division projection over the cached leaf — one job
        # with three stages per half-round where the broadcast-subquery
        # form paid an eager checkpoint plus a fill join plus a broadcast
        # total build (five AQE stage materializations over fixture-sized
        # frames).
        raw = raw.localCheckpoint(eager=False)
        tot = raw.agg(F.sum("_raw")).collect()[0][0]
        if tot is None:  # raw is EMPTY (unreachable past the n==0 guard
            tot = 1  # for a nonempty edge frame); keep the literal valid —
            # the projection over an empty frame yields no rows either way
        return raw.select(
            "node",
            F.expr(f"_raw * {HITS_SCALE} DIV CAST({tot} AS BIGINT)").alias(
                out_col
            ),
        )

    hub = nodes.withColumn("hub_e8", F.lit(HITS_SCALE // n).cast("long"))
    hub = hub.localCheckpoint(eager=True)
    auth = None
    for _ in range(iterations):
        auth_raw = (
            e.join(hub, e["_src"] == hub["node"])
            .select(F.col("_dst").alias("node"), F.col("hub_e8").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_raw"))
        )
        # auth/hub stay lazy projections over their cached raw leaves, so
        # plan depth per half-round is constant (join against a projected
        # LogicalRDD) and no second barrier is needed.
        auth = _normalized(auth_raw, "auth_e8").withColumnRenamed(
            "node", "_anode"
        )
        hub_raw = (
            e.join(auth, F.col("_dst") == F.col("_anode"))
            .select(F.col("_src").alias("node"), F.col("auth_e8").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_raw"))
        )
        hub = _normalized(hub_raw, "hub_e8")
    zero = F.lit(0).cast("long")
    return (
        nodes.join(auth.withColumnRenamed("_anode", "node"), "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce("auth_e8", zero).alias("auth_e8"),
            F.coalesce("hub_e8", zero).alias("hub_e8"),
        )
        .orderBy("node")
    )
