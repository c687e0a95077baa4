"""Join strategies beyond what a single `df.join` spells: skew salting and
bucketed co-located joins (SURVEY.md §4.2 — the two knobs that matter when
AQE's automatic handling isn't enough at 100 TB).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: spread each hot key of the BIG side over
    `n_salts` shuffle partitions; replicate the SMALL side once per salt.

    Each big row gets a deterministic salt from the hash of its full row
    content (same content → same salt; a hot key's rows still spread because
    their non-key columns differ), and the small side is exploded
    `n_salts`× so every (key, salt) pair finds its match. The result is
    row-for-row identical to the plain join — asserted in
    tests/test_joins.py — but the shuffle for a key holding p% of the rows
    now peaks at p/n_salts per task. AQE's skew-join split handles most of
    this automatically; explicit salting is for the cases AQE can't see
    (first shuffle of a stage, or skew inside a single huge key).

    `how` is restricted to joins where replicating the SMALL side is
    row-preserving: right/full outer would emit each unmatched small-side
    row once per salt replica.
    """
    # normalize Spark's accepted alias spellings ("leftouter", "left_outer",
    # "left outer", …) before the safety check, so every alias of a safe
    # type is allowed and every alias of right/full outer is rejected
    norm = how.lower().replace("_", "").replace(" ", "")
    allowed = {"inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti"}
    if norm not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)} (got {how!r}): "
            "small-side salt replication would duplicate unmatched rows "
            "under right/full outer joins"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = b.join(
        s,
        (F.col(big_key) == F.col(small_key)) & (b["_salt"] == s["_salt"]),
        how,
    )
    return joined.drop("_salt")


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8
) -> None:
    """Persist `df` hash-bucketed (and per-bucket sorted) on `key`.

    Joining two tables bucketed identically on their join keys needs NO
    exchange — each task reads matching bucket files from both sides. This
    is the pre-shuffle-once, join-many-times pattern for the fact tables of
    a 100 TB warehouse (the cluster-scale equivalent of an index).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A previous SESSION may have left files at the managed location without
    # a catalog entry (the in-memory catalog dies with the session) —
    # saveAsTable refuses that with LOCATION_ALREADY_EXISTS, so clear it.
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    leftover = os.path.join(warehouse.path or warehouse.netloc, table)
    shutil.rmtree(leftover, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Range join with NO equi key, as a hash join via interval bucketing.

    Returns left ⋈ right on ``right_ts ∈ (left_ts, left_ts + max_gap]`` —
    "every right event strictly after, but within `max_gap_seconds` of, a
    left event". A naive formulation is a pure theta join → Catalyst plans a
    broadcast-nested-loop / cartesian product, O(n·m) at any scale.

    Instead: bucket both sides by ``floor(epoch / max_gap)``. A right row
    within (t, t + gap] of a left row must land in the left row's bucket or
    the next one, so exploding the LEFT side into {b, b+1} and equi-joining
    on the bucket id turns the plan into a shuffled hash join whose residual
    range filter runs per bucket — each row meets only the ~2·gap-width
    neighborhood, never the whole other side. The 2× left fan-out is the
    entire overhead; shuffle keys are 8-byte longs. Works identically for
    interval containment (bucket the interval ends instead).
    """
    if left_ts == right_ts:
        raise ValueError(
            f"left_ts and right_ts are both {left_ts!r}; rename one side "
            "(e.g. right.withColumnRenamed) so the joined output is "
            "unambiguous"
        )
    bucket = F.floor(F.unix_timestamp(F.col(left_ts)) / max_gap_seconds)
    l_exploded = left.withColumn(
        "_bkt", F.explode(F.array(bucket.cast("long"), (bucket + 1).cast("long")))
    )
    r_bucketed = right.withColumn(
        "_bkt_r", F.floor(F.unix_timestamp(F.col(right_ts)) / max_gap_seconds).cast("long")
    )
    # DataFrame-qualified refs: either side may carry extra columns whose
    # names collide with the other side's timestamp column
    l_t, r_t = l_exploded[left_ts], r_bucketed[right_ts]
    joined = l_exploded.join(
        r_bucketed,
        (l_exploded["_bkt"] == r_bucketed["_bkt_r"])
        & (r_t > l_t)
        & (r_t <= l_t + F.make_dt_interval(secs=F.lit(max_gap_seconds))),
    )
    return joined.drop("_bkt", "_bkt_r")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join with pandas ``merge_asof`` semantics, all three
    directions:

    - ``'backward'`` (default): the LATEST right row with
      ``right_ts <= left_ts`` per key (DuckDB ``ASOF LEFT JOIN``);
    - ``'forward'``: the EARLIEST right row with ``right_ts >= left_ts``
      (DuckDB ``ON l.ts <= r.ts``);
    - ``'nearest'``: whichever of the two candidates is closer in time,
      ties to the backward (earlier) match — pandas' rule.

    Returns every left row plus `value_cols` from the matched right row
    (NULL when nothing matches, or when the match is more than
    `tolerance_seconds` away on the matching side).

    Spark has no native ASOF JOIN; the naive formulation (theta join +
    row_number) builds an O(n·m) intermediate per key. This is the scalable
    union+window form: tag both inputs, sort by (ts, kind) within each key,
    and carry right values across with last/first(ignorenulls) — ONE
    shuffle on the key for every direction (nearest evaluates both frames
    over the same sort, not a second shuffle), no nested loop, any per-key
    cardinality.

    Tie handling: matches are INCLUSIVE of equal timestamps. Right rows
    sort before left rows except in pure-forward mode (where they sort
    after, so the FOLLOWING frame sees them); in nearest mode a same-ts
    right row is the gap-0 backward candidate, which wins by the tie rule.

    NULL contract (round 12): a NULL ts or a NULL key NEVER matches —
    right rows with NULL ``right_ts`` or NULL ``on`` are excluded up
    front, and a left row with NULL ``left_ts`` or NULL ``on`` keeps its
    row with NULL value columns. This is SQL equi-join/comparison
    semantics (``NULL = x`` and ``NULL >= x`` are unknown). It
    deliberately DIVERGES from DuckDB's ASOF JOIN timestamp handling,
    whose sort-merge implementation treats NULL as +infinity (a NULL-ts
    probe matches the latest build row — an implementation artifact, not
    a contract), and from pandas merge_asof, which refuses NaT keys
    outright. Before this contract, NULL-ts right rows sorted FIRST in
    the carry window and their values leaked through last(ignorenulls)
    whenever a key had no real match, and NULL keys matched each other
    through the window PARTITION BY (group semantics where join
    semantics were promised) — both silent wrong answers.
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward, forward or nearest, got {direction!r}"
        )
    value_cols = (
        list(value_cols)
        if value_cols is not None
        else [c for c in right.columns if c not in (on, right_ts)]
    )
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        raise ValueError(f"value_cols {clash} already exist on the left side")
    r_kind, l_kind = (1, 0) if direction == "forward" else (0, 1)
    # NULL-ts / NULL-key right rows can never legally match (see docstring
    # contract); unfiltered, NULL-ts rows sort first and leak values
    # through the ignorenulls carry, and NULL-key rows pair up with
    # NULL-key left rows inside their window partition
    right = right.filter(F.col(right_ts).isNotNull() & F.col(on).isNotNull())
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_asof_ts"),
        F.lit(r_kind).alias("_kind"),
        F.col(right_ts).alias("_asof_matched_ts"),
        *[F.col(c).alias(f"_asof_v_{c}") for c in value_cols],
    )
    l = left.withColumn("_asof_ts", F.col(left_ts)).withColumn(
        "_kind", F.lit(l_kind)
    )
    tagged = l.unionByName(r, allowMissingColumns=True)
    base = Window.partitionBy(on).orderBy("_asof_ts", "_kind")
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # forward mode: ties are in the following frame (right sorts after
    # left); nearest mode: same-ts rights sit in the PRECEDING frame as
    # the gap-0 backward candidate, so the forward frame starts at +1
    wf = base.rowsBetween(
        Window.currentRow if direction == "forward" else 1,
        Window.unboundedFollowing,
    )
    pick_b = lambda c: F.last(c, ignorenulls=True).over(wb)  # noqa: E731
    pick_f = lambda c: F.first(c, ignorenulls=True).over(wf)  # noqa: E731
    # Exact MICROSECOND gaps (round 7 — floor-second gaps made the nearest
    # tie decision and the tolerance cut precision-dependent). The
    # intermediate TIMESTAMP cast keeps NTZ inputs legal (Spark 4 forbids
    # NTZ→numeric directly; NTZ→LTZ is value-preserving under the pinned
    # UTC session timezone).
    _us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    lts = _us(F.col(left_ts))
    gap_b = lts - _us(pick_b("_asof_matched_ts"))
    gap_f = _us(pick_f("_asof_matched_ts")) - lts
    if direction == "backward":
        use_b, gap = F.lit(True), gap_b
    elif direction == "forward":
        use_b, gap = F.lit(False), gap_f
    else:
        # nearest: backward wins ties (pandas rule); a missing side has a
        # NULL gap, and NULL comparisons fall through to the other branch
        use_b = gap_b.isNotNull() & (gap_f.isNull() | (gap_b <= gap_f))
        gap = F.when(use_b, gap_b).otherwise(gap_f)
    # a NULL left_ts matches nothing (the forward/nearest frames would
    # otherwise hand it a real value: NULL-ts left rows sort first, so the
    # whole right side sits in their FOLLOWING frame)
    in_tolerance = (
        lts.isNotNull()
        if tolerance_seconds is None
        else lts.isNotNull() & (gap <= tolerance_seconds * 1_000_000)
    )

    def chosen(c: str):
        return F.when(use_b, pick_b(c)).otherwise(pick_f(c))

    carried = tagged.select(
        "*",
        *[
            F.when(in_tolerance, chosen(f"_asof_v_{c}")).alias(c)
            for c in value_cols
        ],
    )
    drop = ["_kind", "_asof_ts", "_asof_matched_ts"] + [
        f"_asof_v_{c}" for c in value_cols
    ]
    return carried.filter(F.col("_kind") == l_kind).drop(*drop)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    max_interval_seconds: int,
) -> DataFrame:
    """All (left, right) pairs whose time intervals OVERLAP
    (``l_start <= r_end AND r_start <= l_end``), as a hash join.

    The naive formulation is a pure inequality join → Catalyst plans a
    nested loop, O(n·m). Instead both sides explode into the fixed-width
    epoch buckets their interval covers (width = ``max_interval_seconds``,
    an upper bound on interval length, so each row covers at most 2
    buckets) and equi-join on the 8-byte bucket id. Overlapping intervals
    always share the bucket ``max(floor(l_start/W), floor(r_start/W))``,
    and requiring the join bucket to BE that bucket counts every pair
    exactly once — no distinct pass, unlike band-key LSH joins where a
    pair can meet in several buckets unpredictably.

    Both timestamps interpret via exact epoch seconds; intervals longer
    than ``max_interval_seconds`` raise at plan-build time would be ideal,
    but length is data — the residual predicate stays correct for longer
    intervals, they just fan out over more buckets (``sequence`` handles
    it), so the width is a PERFORMANCE bound, not a correctness one.
    """
    w = max_interval_seconds

    def buckets(start: str, end: str):
        return F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start)) / w).cast("long"),
                F.floor(F.unix_timestamp(F.col(end)) / w).cast("long"),
            )
        )

    l = left.withColumn("_bkt", buckets(l_start, l_end))
    r = right.withColumn("_bkt_r", buckets(r_start, r_end))
    ls, le = l[l_start], l[l_end]
    rs, re_ = r[r_start], r[r_end]
    first_shared = F.greatest(
        F.floor(F.unix_timestamp(ls) / w).cast("long"),
        F.floor(F.unix_timestamp(rs) / w).cast("long"),
    )
    return (
        l.join(
            r,
            (l["_bkt"] == r["_bkt_r"])
            & (ls <= re_)
            & (rs <= le)
            & (l["_bkt"] == first_shared),
        )
        .drop("_bkt", "_bkt_r")
    )


def _char_ngrams(col, n: int):
    """Distinct character n-grams of a string column; strings shorter than
    ``n`` fall back to the whole string as a single gram (mirrors the
    word-shingle fallback in operators/dedup.shingles)."""
    s = F.col(col) if isinstance(col, str) else col
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - F.lit(n - 1)),
            lambda i: s.substr(i, F.lit(n)),
        )
    )
    return F.when(F.length(s) >= n, grams).otherwise(F.array(s))


def _salted_band_candidates(
    lb: DataFrame, rb: DataFrame, n_salts: int, hot_product: int
) -> DataFrame:
    """Skew-salted variant of the LSH band join for the hot-band regime.

    Low-diversity key corpora (the docstring's 'Customer#000000042'
    degenerate case) share almost all n-grams, so a handful of band_key
    values collect most signatures on BOTH sides — the band equi-join
    then puts a near-cartesian n_l × n_r candidate blow-up on single
    shuffle tasks (stragglers AQE's skew split can't fix: the skew is
    inside ONE key). The candidate SET is legitimate — LSH degenerating
    toward all-pairs is the honest recall answer for such keys — but its
    evaluation must spread.

    Mechanics: count each band on both sides; bands whose candidate
    PRODUCT n_l × n_r exceeds ``hot_product`` are 'hot' (a tiny set by
    construction — it takes ≥ √hot_product rows on each side to qualify,
    so ≤ |rows|/√hot_product bands can be hot; broadcast). Cold bands
    join exactly as before. Hot bands join salted: left rows take a
    deterministic salt from the hash of their key value, right rows
    replicate once per salt, and the equi-join runs on (band_key, salt)
    — each hot band's product now spreads over ``n_salts`` tasks. Same
    shape as :func:`salted_join`, applied per-band. The union is
    row-identical to the unsalted join (pinned in tests/test_joins.py).
    """
    lc = lb.groupBy("band_key").agg(F.count(F.lit(1)).alias("_ln"))
    rc = rb.groupBy("band_key").agg(F.count(F.lit(1)).alias("_rn"))
    hot = (
        lc.join(rc, "band_key")
        .filter(F.col("_ln") * F.col("_rn") > F.lit(hot_product))
        .select("band_key")
        .withColumn("_hot", F.lit(True))
    )
    lsplit = lb.join(F.broadcast(hot), "band_key", "left")
    rsplit = rb.join(F.broadcast(hot), "band_key", "left")
    cold = (
        lsplit.filter(F.col("_hot").isNull())
        .drop("_hot")
        .join(rsplit.filter(F.col("_hot").isNull()).drop("_hot"), "band_key")
    )
    lhot = (
        lsplit.filter(F.col("_hot"))
        .drop("_hot")
        .withColumn("_salt", F.pmod(F.xxhash64("_lnorm"), F.lit(n_salts)))
    )
    rhot = (
        rsplit.filter(F.col("_hot"))
        .drop("_hot")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    )
    hot_cand = lhot.join(rhot, ["band_key", "_salt"]).drop("_salt")
    return cold.select("_lnorm", "_rnorm").unionByName(
        hot_cand.select("_lnorm", "_rnorm")
    )


def fuzzy_key_pairs(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    max_distance: int = 2,
    ngram: int = 3,
    n_hashes: int = 48,
    n_bands: int = 24,
    salt_hot_bands: int | None = None,
    hot_band_product: int = 1 << 22,
) -> DataFrame:
    """Entity-resolution key matching: all (left_key, right_key) value
    pairs within ``max_distance`` Levenshtein edits — the "join user
    tables on misspelled names" primitive, as an LSH-banded candidate
    join + exact verify (NEVER all-pairs).

    Pipeline: normalize (lower/trim) -> DISTINCT key values per side (the
    match is a property of the key VALUE, so a billion-row table with a
    million distinct names does LSH work on the million) -> char-n-gram
    MinHash signatures (the shared kernel, operators/dedup.minhash, over
    xxhash64 gram hashes) -> 8-byte band-key (operators/dedup.band_keys;
    ``n_hashes`` must split evenly into ``n_bands``) equi-join for
    candidates -> exact ``levenshtein() <= max_distance``
    verify, JVM-side. Output: one row per matched ORIGINAL value pair
    ``(left_key, right_key, key_distance)``, for equi-joining back to
    either table (:func:`fuzzy_key_join`).

    Scale shape: every join here shuffles normalized keys / 8-byte band
    hashes, never table rows; the verify runs only on banded candidates.
    Recall: a pair at edit distance d on length-L keys has char-3-gram
    Jaccard >= ~(L-4d)/(L+4d); at the default 24 bands x 2 rows a
    J=0.7 pair is missed with p ~= 1e-7 — and the MinHash is fully
    deterministic, so a given corpus either matches its oracle or
    doesn't, stably. Degeneracy note: LOW-DIVERSITY keys (serial IDs like
    'Customer#000000042') share almost all n-grams, collapsing LSH
    toward all-pairs — this operator is for name-like natural keys;
    serial keys should equi-join exactly. When such keys are MIXED into
    a natural-key corpus (the realistic dirty feed), set
    ``salt_hot_bands``: bands whose candidate product exceeds
    ``hot_band_product`` get the skew-salted join
    (:func:`_salted_band_candidates` — left rows salted by key hash,
    right rows replicated per salt), spreading each hot band over that
    many tasks with a row-identical result.
    """
    from sql4pandas_spark.operators.dedup import MERSENNE31, band_keys, minhash
    from sql4pandas_spark.operators.spread import spread_width

    def _norm(c: str):
        return F.lower(F.trim(F.col(c)))

    def _bands(keys: DataFrame, col: str) -> DataFrame:
        base = F.transform(
            F.col("_grams"), lambda g: F.pmod(F.xxhash64(g), F.lit(MERSENNE31))
        )
        sigs = (
            keys.withColumn("_grams", _char_ngrams(col, ngram))
            .withColumn("_bh", base)
            .withColumn("sig", F.array(*minhash(F.col("_bh"), n_hashes)))
            .select(F.col(col).alias("doc_id"), "sig")
        )
        return band_keys(sigs, n_bands, n_hashes=n_hashes).select(
            F.col("doc_id").alias(col), "band_key"
        )

    # explicit ROUND-ROBIN spread of the distinct key frames, BEFORE the
    # signature computation, to the width the keys' INPUT FILES call for
    # (operators/spread.spread_width: the session width capped at one
    # task per SPREAD_TARGET_BYTES; unknown size keeps the session
    # width). Two reasons, both measured at sf0.1:
    #
    # - the distinct's post-shuffle output is tiny (|distinct keys| short
    #   strings), so AQE's coalesce collapses it to one partition — and
    #   everything DOWNSTREAM of it (MinHash signatures: n_hashes
    #   affine-min passes over the gram array per key, the dominant
    #   per-key CPU of this operator; band explode) then runs as ONE
    #   task (profiled: a 1.75 s serial signature stage while 31 cores
    #   idled). A user-specified repartition count is exempt from
    #   coalescing, and the narrow ops after it inherit the width, so
    #   sigs/bands/the verify probe all run at that width. (An earlier
    #   form repartitioned AFTER banding — that spread only the
    #   already-computed band rows and left the signature stage serial.)
    #   Keys from a file under SPREAD_TARGET_BYTES (every fixture's
    #   part table up to sf0.01) take width 1: one task is the right
    #   size, so no exchange is added.
    #
    # - keyless, NOT hash(band_key): AQE turns the band join into a
    #   broadcast hash join whenever one side's band frame fits (always
    #   at bench scale — the frames are |distinct keys|×n_bands narrow
    #   rows), and a broadcast probe needs no co-partitioning.
    #   Hash-spreading by band_key would put every probe row of a HOT
    #   band (the low-diversity-key regime) in ONE task, which then
    #   evaluates that band's whole n_l×n_r Levenshtein volume alone.
    #   Round-robin gives every task an even share of probe rows. In the
    #   too-big-to-broadcast regime the planner inserts its own band_key
    #   exchange for the sort-merge join (8-byte keys — cheap), where
    #   hot bands are ``salt_hot_bands``'s job instead.
    def _distinct_keys(df: DataFrame, key: str, alias: str) -> DataFrame:
        keys = (
            df.select(_norm(key).alias(alias))
            .filter(F.col(alias).isNotNull())
            .distinct()
        )
        width = spread_width(df)[0]
        return keys.repartition(width) if width > 1 else keys

    lnorm = _distinct_keys(left, left_key, "_lnorm")
    rnorm = _distinct_keys(right, right_key, "_rnorm")
    lb = _bands(lnorm, "_lnorm")
    rb = _bands(rnorm, "_rnorm")
    if salt_hot_bands:
        # the salted path consumes each band frame twice (hot-band counts
        # + the split join); checkpoint so the MinHash signatures compute
        # once, not per consumer. Narrow rows (key, 8-byte band), GC-owned
        # storage — never the CacheManager pin the round-9 ADVICE flagged.
        lb = lb.localCheckpoint(eager=False)
        rb = rb.localCheckpoint(eager=False)
        raw = _salted_band_candidates(lb, rb, salt_hot_bands, hot_band_product)
    else:
        raw = lb.join(rb, "band_key").select("_lnorm", "_rnorm")
    # Verify BEFORE deduplicating. A pair that collides in k of the bands
    # used to be shuffled k times into a `distinct` over tens of millions
    # of string pairs — the measured wall-clock of this operator at sf0.1
    # was that distinct's exchange, not the verify. The thresholded
    # Levenshtein on short keys costs ~1-2 µs, far less than shuffling the
    # pair, so the length prefilter + banded DP both run PIPELINED inside
    # the band-join tasks (no exchange touches the raw candidate volume),
    # and the dedup shuffles only the MATCHED pairs — orders of magnitude
    # fewer rows. `key_distance` is a pure function of the pair, so
    # distinct-then-verify and verify-then-distinct produce the same set.
    #
    # - length prefilter: keys within d edits differ in length by <= d,
    #   an O(1) compare dropping most unrelated band collisions;
    # - thresholded Levenshtein: the banded DP short-circuits once
    #   distance exceeds max_distance (returns -1), O(d*L) per pair
    #   instead of O(L*L) — and the returned value IS the exact distance
    #   when within bound.
    dist = F.levenshtein("_lnorm", "_rnorm", max_distance)
    matched = (
        raw.filter(
            F.abs(F.length("_lnorm") - F.length("_rnorm")) <= F.lit(max_distance)
        )
        .withColumn("key_distance", dist)
        .filter(F.col("key_distance") >= 0)
        .distinct()
    )
    # map normalized matches back to every ORIGINAL key spelling
    lmap = (
        left.select(F.col(left_key).alias("left_key_value"))
        .filter(F.col("left_key_value").isNotNull())
        .distinct()
        .withColumn("_lnorm", F.lower(F.trim(F.col("left_key_value"))))
    )
    rmap = (
        right.select(F.col(right_key).alias("right_key_value"))
        .filter(F.col("right_key_value").isNotNull())
        .distinct()
        .withColumn("_rnorm", F.lower(F.trim(F.col("right_key_value"))))
    )
    return (
        matched.join(lmap, "_lnorm")
        .join(rmap, "_rnorm")
        .select("left_key_value", "right_key_value", "key_distance")
    )


def fuzzy_key_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    max_distance: int = 2,
    **lsh_kwargs,
) -> DataFrame:
    """Fuzzy-key inner join: rows of ``left`` matched to rows of ``right``
    whose keys are within ``max_distance`` edits (:func:`fuzzy_key_pairs`
    for the mechanics). The pair set is |distinct-key-matches|-sized, so
    both back-joins are plain equi-joins AQE will broadcast when small;
    table rows never enter the LSH machinery. Caller owns column-name
    disambiguation (rename before joining, as with any self-join-shaped
    composition); ``key_distance`` rides along."""
    pairs = fuzzy_key_pairs(
        left, right, left_key, right_key, max_distance, **lsh_kwargs
    )
    return left.join(
        pairs, left[left_key] == pairs["left_key_value"]
    ).join(right, pairs["right_key_value"] == right[right_key]).drop(
        "left_key_value", "right_key_value"
    )
