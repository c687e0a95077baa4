"""Tier-A relational core + set ops + subqueries (SURVEY.md §2.1-2.4, §2.6).

Reference parity: these are the operators the reference library implements by
compiling SQL to pandas (`pd.merge` chains, boolean masks, `np.select`,
`groupby().agg`, `sort_values` — SURVEY.md §3.1; the /root/reference checkout
is empty this round, so citations are to SURVEY.md's reconstruction). Here
each is the declarative Spark form, so Catalyst gets to pick broadcast-hash vs
sort-merge joins, push filters into the parquet scan, and reorder join chains
— the properties that matter at 100 TB.

Scale notes per operator live on the builder docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql4pandas_spark.operators import joins
from sql4pandas_spark.operators import text as text_ops
from sql4pandas_spark.queries.catalog import CATALOG, query
from sql4pandas_spark.sources.parquet import register_tables


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp")


# ---------------------------------------------------------------------------
# scan_parquet / project / filter_cmp / agg_group / order_by — the flagship
# ---------------------------------------------------------------------------

#: Q1's pricing-summary aggregate over the lineitem-shaped relation
#: ``{src}`` — the flagship's oracle and fact_refresh_merge_q1's check
Q1_SUMMARY_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                         AS sum_qty,
           round(sum(l_extendedprice), 2)                    AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4)                         AS avg_qty,
           count(*)                                          AS count_order
    FROM {src}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def q1_summary(li: DataFrame) -> DataFrame:
    """Spark side of :data:`Q1_SUMMARY_SQL` over the lineitem-shaped ``li``."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q1_pricing_summary",
    oracle=Q1_SUMMARY_SQL.format(src="lineitem"),
    tags=("tier-a", "scan_parquet", "project", "filter_cmp", "agg_group", "order_by", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary.

    Scale: single scan → partial/final HashAggregate on 6 groups; the shipdate
    filter is pushed to parquet row-groups (asserted in tests/test_plans.py),
    only 6 of 16 lineitem columns are read, and whole-stage codegen covers
    scan→filter→project→partial-agg in one pipeline. No join, one shuffle of
    6 tiny partial rows per task — this plan is shape-identical at 100 TB.
    """
    t = register_tables(spark, sf_dir, ("lineitem",))
    return q1_summary(t["lineitem"])


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
    tags=("tier-a", "join_multi", "filter_bool", "limit", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + grouped top-k.

    Scale: customer (small side after the segment filter) broadcasts into
    orders, lineitem joins on the shuffled o_orderkey; ORDER BY+LIMIT compiles
    to TakeOrderedAndProject (per-partition top-k, no global sort). Ties
    broken by o_orderkey so the row set is deterministic (§2.12 #2).
    """
    t = register_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    # customer scales with SF — no broadcast hint; AQE converts to BHJ while
    # the filtered side is small and keeps a shuffle join when it isn't
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = t["lineitem"]
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    tags=("tier-a", "join_multi", "bench"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way star join through the full schema.

    Scale: region (5 rows) and nation (25 rows) are FIXED-size dimensions —
    explicit `broadcast()` hints are always correct for them and skip AQE's
    runtime SMJ→BHJ conversion. customer/supplier grow with the scale factor,
    so they are deliberately NOT hinted: AQE broadcasts them while they're
    small and falls back to shuffle joins when they aren't — hard-coding a
    broadcast there would OOM a 100 TB run. The big shuffle is
    lineitem⋈orders on the order key.
    """
    t = register_tables(
        spark, sf_dir, ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    r = F.broadcast(t["region"].filter(F.col("r_name") == "ASIA"))
    joined = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# case_when / null functions
# ---------------------------------------------------------------------------


@query(
    "case_priority_buckets",
    oracle="""
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM'             THEN 'mid'
                ELSE 'low' END AS prio_class,
           count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("tier-a", "case_when"),
)
def case_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN (the reference compiles this to np.select — SURVEY §2.2)."""
    t = register_tables(spark, sf_dir, ("orders",))
    prio = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "mid")
        .otherwise("low")
        .alias("prio_class")
    )
    return (
        t["orders"]
        .select(prio, "o_totalprice")
        .groupBy("prio_class")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
        .orderBy("prio_class")
    )


# ---------------------------------------------------------------------------
# joins: left / right / full / semi / anti / theta
# ---------------------------------------------------------------------------


@query(
    "left_join_missing_orders",
    oracle="""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey ORDER BY n_orders ASC, c.c_custkey LIMIT 20
    """,
    tags=("tier-a", "join_left"),
)
def left_join_missing_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN + count(col) null semantics (count skips NULLs — a deliberate
    upgrade over the reference's NaN-based pandas behavior, SURVEY §1.1)."""
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy(F.col("n_orders").asc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "right_join_orders_customers",
    oracle="""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey ORDER BY n_orders ASC, c.c_custkey LIMIT 20
    """,
    tags=("tier-a", "join_right"),
)
def right_join_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy(F.col("n_orders").asc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "full_outer_join_counts",
    oracle="""
    SELECT count(*)                                          AS n_rows,
           count(CASE WHEN c.c_custkey IS NULL THEN 1 END)   AS n_no_customer,
           count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)  AS n_no_order
    FROM (SELECT c_custkey FROM customer WHERE c_acctbal < 0) c
    FULL JOIN (SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 350000) o
      ON c.c_custkey = o.o_custkey
    """,
    tags=("tier-a", "join_full", "null_fns"),
)
def full_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER with unmatched rows on both sides (filters create misses)."""
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    c = t["customer"].filter(F.col("c_acctbal") < 0).select("c_custkey")
    o = t["orders"].filter(F.col("o_totalprice") > 350000).select("o_orderkey", "o_custkey")
    j = c.join(o, c.c_custkey == o.o_custkey, "full")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_no_customer"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_no_order"),
    )


@query(
    "semi_customers",
    oracle="""
    SELECT count(*) AS n_with FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("tier-b", "join_semi"),
)
def semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (no row multiplication, unlike inner+distinct)."""
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    semi = t["customer"].join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    return semi.agg(F.count(F.lit(1)).alias("n_with"))


@query(
    "anti_customers",
    oracle="""
    SELECT count(*) AS n_without FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("tier-b", "join_anti"),
)
def anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    anti = t["customer"].join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    return anti.agg(F.count(F.lit(1)).alias("n_without"))


@query(
    "theta_join_supplier_pairs",
    oracle="""
    SELECT s1.s_nationkey AS nk, count(*) AS n_pairs
    FROM supplier s1
    JOIN supplier s2 ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
    GROUP BY s1.s_nationkey ORDER BY nk
    """,
    tags=("tier-b", "join_theta"),
)
def theta_join_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + inequality self-join.

    Scale: the equi key (nationkey) drives a hash join; the `<` predicate is a
    post-join filter, so this avoids the O(n²) broadcast-nested-loop a pure
    theta join would cost. Pattern matters: always give Catalyst an equi key
    when one exists.
    """
    t = register_tables(spark, sf_dir, ("supplier",))
    s1 = t["supplier"].select(F.col("s_nationkey").alias("nk"), F.col("s_suppkey").alias("k1"))
    s2 = t["supplier"].select(F.col("s_nationkey").alias("nk2"), F.col("s_suppkey").alias("k2"))
    return (
        s1.join(s2, (F.col("nk") == F.col("nk2")) & (F.col("k1") < F.col("k2")))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("nk")
    )


@query(
    "range_join_close_events",
    oracle="""
    SELECT a.user_id, count(*) AS n_close
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE
    GROUP BY a.user_id ORDER BY a.user_id
    """,
    tags=("tier-c", "join_range"),
)
def range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: successor events within 1 minute, per user.

    Scale: equi key (user_id) + range predicate → hash join with a residual
    filter. For a range join with NO equi key, bucketize time into
    interval-width bins and join on bin±1 (turns BNL into an equi join) —
    that variant is operators/joins.bucketed_range_join, declared as the
    range_join_nokey_buckets catalog entry.
    """
    t = register_tables(spark, sf_dir, ("events",))
    a = t["events"].select(F.col("user_id"), F.col("ts").alias("ts_a"))
    b = t["events"].select(F.col("user_id").alias("user_b"), F.col("ts").alias("ts_b"))
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 MINUTE")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_close"))
        .orderBy("user_id")
    )


def asof_click_to_purchase(
    events: DataFrame, click_col: str, limit: int, **asof_kw
) -> DataFrame:
    """The as-of entries' shape: each purchase of ``events`` matched to a
    click of the same user by operators/joins.asof_join (``asof_kw``:
    tolerance and direction), the click's ts carried as ``click_col``;
    the first ``limit`` purchases by event_id."""
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias(click_col)
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        joins.asof_join(
            purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
            value_cols=[click_col], **asof_kw,
        )
        .select("event_id", "user_id", click_col)
        .orderBy("event_id")
        .limit(limit)
    )


def _asof_oracle(click: str, cmp: str) -> str:
    """DuckDB's native ASOF LEFT JOIN of each purchase to the click of the
    same user with ``p.ts {cmp} c.ts``, projecting ``click``; the first
    200 purchases by event_id."""
    return f"""
    SELECT p.event_id, p.user_id, {click}
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts {cmp} c.ts
    ORDER BY p.event_id LIMIT 200
    """


@query(
    "asof_join_purchase_click",
    oracle=_asof_oracle("c.ts AS click_ts", ">="),
    tags=("tier-c", "join_asof"),
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest click at-or-before each purchase, per user.

    Spark lacks a native ASOF JOIN; operators/joins.asof_join is the
    scalable union+window formulation (tag both streams, sort by (ts, kind)
    within user, carry the last click forward with last(ignorenulls)). One
    shuffle on user_id, no nested loop, no applyInPandas — works at any
    cardinality and is exactly DuckDB's `ASOF JOIN ... ON p.ts >= c.ts`.
    """
    t = register_tables(spark, sf_dir, ("events",))
    return asof_click_to_purchase(t["events"], "click_ts", 200)


@query(
    "asof_join_tolerance",
    oracle=_asof_oracle(
        "CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000::BIGINT"
        " THEN c.ts END AS click_ts",
        ">=",
    ),
    tags=("tier-c", "join_asof"),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound: the latest click at-or-before each
    purchase counts only if it is at most 1 hour old, else NULL (pandas
    ``merge_asof(tolerance=...)`` semantics).

    Same one-shuffle union+window plan as asof_join_purchase_click; the
    tolerance is a post-match filter on the carried value, computed in
    EXACT microseconds on both engines (Spark ``unix_micros`` == DuckDB
    ``epoch_us`` — round 7 upgraded from floor-seconds so the cut is
    precision-independent). This entry exists so the one asof code path
    that previously broke silently (TIMESTAMP_NTZ forbids the numeric
    cast; fixed via an intermediate LTZ cast) stays driver-watched.
    """
    t = register_tables(spark, sf_dir, ("events",))
    return asof_click_to_purchase(
        t["events"], "click_ts", 200, tolerance_seconds=3600
    )


@query(
    "asof_join_forward",
    oracle=_asof_oracle(
        "CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000::BIGINT"
        " THEN c.ts END AS next_click_ts",
        "<=",
    ),
    tags=("tier-c", "join_asof"),
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (round-7 direction parameter on
    operators/joins.asof_join): the EARLIEST click at-or-after each
    purchase, NULL if it is more than 1 hour ahead — merge_asof
    'forward' semantics, DuckDB ``ASOF ... ON l.ts <= r.ts``. Same
    one-shuffle union+window plan as the backward form, mirrored: left
    rows sort before right on timestamp ties and the carry runs
    first(ignorenulls) over the FOLLOWING frame."""
    t = register_tables(spark, sf_dir, ("events",))
    return asof_click_to_purchase(
        t["events"], "next_click_ts", 200,
        tolerance_seconds=3600, direction="forward",
    )


@query(
    "asof_join_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    b AS (SELECT p.event_id, c.ts AS bts FROM p
          ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
    f AS (SELECT p.event_id, c.ts AS fts FROM p
          ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts),
    sel AS (
      SELECT p.event_id, p.user_id, p.ts,
             CASE WHEN bts IS NOT NULL
                       AND (fts IS NULL
                            OR epoch_us(p.ts) - epoch_us(bts)
                               <= epoch_us(fts) - epoch_us(p.ts))
                  THEN bts ELSE fts END AS m
      FROM p JOIN b USING (event_id) JOIN f USING (event_id))
    SELECT event_id, user_id,
           CASE WHEN abs(epoch_us(m) - epoch_us(ts)) <= 3600000000::BIGINT
                THEN m END AS nearest_click_ts
    FROM sel ORDER BY event_id LIMIT 200
    """,
    tags=("tier-c", "join_asof"),
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (the third merge_asof direction, round 7): the
    click closest in time to each purchase — earlier or later — NULL if
    the nearest one is more than 1 hour away; ties go to the backward
    (earlier) match, pandas' rule, property-tested against merge_asof
    itself. Still ONE shuffle: both candidate frames evaluate over the
    same window sort and the smaller exact-microsecond gap wins. DuckDB
    has no native nearest, so the oracle composes its backward and
    forward ASOF JOINs and replays the gap comparison."""
    t = register_tables(spark, sf_dir, ("events",))
    return asof_click_to_purchase(
        t["events"], "nearest_click_ts", 200,
        tolerance_seconds=3600, direction="nearest",
    )


# ---------------------------------------------------------------------------
# aggregation: global / distinct / stats / having / rollup / cube
# ---------------------------------------------------------------------------


@query(
    "agg_global_lineitem",
    oracle="""
    SELECT count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_discount), 4)      AS avg_disc,
           round(min(l_quantity), 2)      AS min_qty,
           round(max(l_quantity), 2)      AS max_qty
    FROM lineitem
    """,
    tags=("tier-a", "agg_global"),
)
def agg_global_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("lineitem",))
    return t["lineitem"].agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@query(
    "agg_distinct_customer",
    oracle="""
    SELECT count(DISTINCT c_nationkey) AS n_nations,
           count(DISTINCT c_mktsegment) AS n_segments,
           count(*) AS n_rows
    FROM customer
    """,
    tags=("tier-a", "agg_distinct"),
)
def agg_distinct_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT): Spark expands to a two-phase expand+agg — scales via
    partial distinct on the mappers rather than collecting values."""
    t = register_tables(spark, sf_dir, ("customer",))
    return t["customer"].agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_stats_orders",
    oracle="""
    SELECT o_orderstatus,
           round(stddev_samp(o_totalprice), 4) AS sd,
           round(var_samp(o_totalprice), 2)    AS var,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS med,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("tier-b", "agg_stats"),
)
def agg_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/exact percentiles. Spark `percentile` interpolates the
    same way as SQL percentile_cont. For 100 TB use approx_percentile
    (t-digest-style sketch, no sort) — see approx_distinct_events."""
    t = register_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd"),
            F.round(F.var_samp("o_totalprice"), 2).alias("var"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "rollup_region_nation",
    oracle="""
    SELECT r.r_name, n.n_name, count(*) AS n
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY r.r_name NULLS FIRST, n.n_name NULLS FIRST
    """,
    tags=("tier-b", "rollup_cube"),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP via df.rollup — Spark plans one Expand + single aggregate, not
    one pass per grouping set. NULLS FIRST made explicit (§2.12 #6)."""
    t = register_tables(spark, sf_dir, ("customer", "nation", "region"))
    j = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("tier-b", "rollup_cube"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("tier-b", "rollup_cube"),
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# distinct / set ops / subqueries
# ---------------------------------------------------------------------------


@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    tags=("tier-a", "distinct"),
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("customer",))
    return t["customer"].select("c_mktsegment").distinct().orderBy("c_mktsegment")


@query(
    "setop_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    ORDER BY c_custkey
    """,
    tags=("tier-b", "intersect"),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = t["orders"].filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(big).orderBy("c_custkey")


@query(
    "setop_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    ORDER BY c_custkey
    """,
    tags=("tier-b", "except"),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = t["orders"].filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.subtract(big).orderBy("c_custkey")


#: run verbatim by both engines
_SETOP_UNION_SQL = """
    SELECT
      (SELECT count(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT o_custkey FROM orders WHERE o_totalprice > 300000)) AS n_union,
      (SELECT count(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT o_custkey FROM orders WHERE o_totalprice > 300000)) AS n_union_all
    """


@query(
    "setop_union_counts",
    oracle=_SETOP_UNION_SQL,
    tags=("tier-b", "union_all", "union"),
)
def setop_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) vs UNION ALL — DataFrame forms are unionByName
    (+.distinct()); expressed via scalar subqueries to stay one lazy plan."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_SETOP_UNION_SQL)


@query(
    "subq_big_spenders",
    oracle="""
    SELECT t.c_custkey, t.total FROM (
      SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY o_custkey HAVING count(*) >= 5) t
    ORDER BY t.total DESC, t.c_custkey LIMIT 15
    """,
    tags=("tier-a", "subquery_from", "having"),
)
def subq_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM-subquery + HAVING (post-aggregation filter = .agg().filter())."""
    t = register_tables(spark, sf_dir, ("orders",))
    inner = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .select("c_custkey", "total")
    )
    return inner.orderBy(F.col("total").desc(), "c_custkey").limit(15)


@query(
    "scalar_subq_above_avg",
    oracle="""
    SELECT count(*) AS n FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
    tags=("tier-b", "subquery_scalar"),
)
def scalar_subq_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery — left to Catalyst (RewriteCorrelatedScalarSubquery
    plans it as a broadcast of the 1-row aggregate, not a driver round-trip)."""
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"
    )


@query(
    "in_subq_customers",
    oracle="""
    SELECT count(*) AS n FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
    tags=("tier-b", "subquery_in"),
)
def in_subq_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — Catalyst rewrites to a left-semi join."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        "SELECT count(*) AS n FROM customer "
        "WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)"
    )


# ---------------------------------------------------------------------------
# pivot / unpivot / correlated subqueries
# ---------------------------------------------------------------------------


@query(
    "pivot_status_by_year",
    oracle="""
    SELECT year(o_orderdate) AS y,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("tier-b", "pivot"),
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list — without it Spark runs
    an extra distinct-collect job to discover pivot columns and the output
    schema becomes data-dependent (a 100 TB anti-pattern; explicit values
    keep the plan static and one-pass)."""
    t = register_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy(F.year("o_orderdate").cast("long").alias("y"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .orderBy("y")
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    ORDER BY p_partkey, metric LIMIT 100
    """,
    tags=("tier-b", "unpivot"),
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot (melt): wide → long without a shuffle — it's a
    per-row flatMap, so it composes with downstream groupBy on (metric)."""
    t = register_tables(spark, sf_dir, ("part",))
    return (
        t["part"]
        .select(
            "p_partkey",
            F.col("p_retailprice"),
            F.col("p_size").cast("double").alias("p_size"),
        )
        .unpivot("p_partkey", ["p_retailprice", "p_size"], "metric", "value")
        .orderBy("p_partkey", "metric")
        .limit(100)
    )


@query(
    "corr_subq_cheapest_per_brand",
    oracle="""
    SELECT p.p_partkey, p.p_brand, round(p.p_retailprice, 2) AS price
    FROM part p
    WHERE p.p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                             WHERE p2.p_brand = p.p_brand)
    ORDER BY p.p_brand, p.p_partkey
    """,
    tags=("tier-b", "subquery_scalar", "correlated"),
)
def corr_subq_cheapest_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H q2's shape). Catalyst decorrelates
    it into an aggregate + join — no per-row re-execution; at scale this is
    one shuffle on the correlation key, same as the hand-written window/join
    rewrite."""
    register_tables(spark, sf_dir, ("part",))
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, round(p.p_retailprice, 2) AS price
        FROM part p
        WHERE p.p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                                 WHERE p2.p_brand = p.p_brand)
        ORDER BY p.p_brand, p.p_partkey
        """
    )


@query(
    "cross_join_regions",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_name < b.r_name
    ORDER BY r1, r2
    """,
    tags=("tier-b", "join_cross"),
)
def cross_join_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (df.crossJoin) — legitimate only when one side is
    tiny and intentional; Spark demands the explicit API precisely so an
    accidental O(n²) can't hide in an equi-join. 5×5 here."""
    t = register_tables(spark, sf_dir, ("region",))
    a = t["region"].select(F.col("r_name").alias("r1"))
    b = t["region"].select(F.col("r_name").alias("r2"))
    return a.crossJoin(b).filter(F.col("r1") < F.col("r2")).orderBy("r1", "r2")


@query(
    "range_join_nokey_buckets",
    oracle="""
    SELECT count(*) AS n_pairs
    FROM (SELECT ts AS err_ts FROM events WHERE event_type = 'error') a
    JOIN (SELECT ts AS view_ts FROM events WHERE event_type = 'view') b
      ON b.view_ts > a.err_ts
     AND b.view_ts <= a.err_ts + INTERVAL 2 MINUTE
    """,
    tags=("tier-c", "join_range", "no_equi_key"),
)
def range_join_nokey_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi key via interval bucketing
    (operators/joins.bucketed_range_join): views within 2 minutes after any
    error, across ALL users. The naive theta form is a broadcast-nested-loop
    (O(n·m)); bucketing ``floor(epoch/gap)`` and exploding the left side into
    {b, b+1} turns it into a shuffled hash join on 8-byte keys — the oracle
    runs the plain theta form, proving the bucket rewrite loses/duplicates
    nothing. Plan-asserted BNL-free in tests/test_joins.py."""
    t = register_tables(spark, sf_dir, ("events",))
    e = t["events"]
    errs = e.filter(F.col("event_type") == "error").select(F.col("ts").alias("err_ts"))
    views = e.filter(F.col("event_type") == "view").select(F.col("ts").alias("view_ts"))
    joined = joins.bucketed_range_join(
        errs, views, "err_ts", "view_ts", max_gap_seconds=120
    )
    return joined.agg(F.count(F.lit(1)).alias("n_pairs"))


_HASH_SAMPLE_PRED = text_ops.DUCKDB_HASH60_SQL.format(
    expr="CAST(o_orderkey AS VARCHAR)"
)


@query(
    "hash_sample_orders",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE ({_HASH_SAMPLE_PRED}) % 20 = 0
    ORDER BY o_orderkey
    """,
    tags=("tier-b", "sample", "data_mix"),
)
def hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC ~5% sample by content hash (portable_hash60(key) % 20):
    the reproducible alternative to seeded Bernoulli sampling — the same rows
    are kept on every engine, every partitioning, every run, which is what a
    training-data pipeline needs for auditable subsets. Unlike TABLESAMPLE
    (RNG-seeded, engine-specific — the rows-only tablesample_orders entry),
    this form is fully hash-checked against DuckDB."""
    t = register_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .filter(
            F.pmod(
                text_ops.portable_hash60(F.col("o_orderkey").cast("string")), F.lit(20)
            )
            == 0
        )
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "tablesample_orders",
    oracle="SELECT true AS frac_ok, true AS avg_ok",
    tags=("tier-b", "sample"),
)
def tablesample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sampling with a fixed seed (df.sample) — the standard cheap
    way to bound work for stats/training-subset jobs at 100 TB.

    The sampled row set is engine- AND partitioning-specific (per-partition
    RNG), so the rows themselves can't be oracled; the statistical contract
    can (same pattern as ann_ivf_query_top10): sampled fraction within
    0.1 ± 0.04 (>5σ of binomial noise at every fixture SF) and sample mean
    price within 20% of the population mean (~4.6σ at sf0.001). The oracle
    replays both as literal true. Fully declarative — one aggregate over the
    sample cross-joined with one over the population, no driver collect.
    For auditable reproducible subsets use hash_sample_orders instead."""
    t = register_tables(spark, sf_dir, ("orders",))
    orders = t["orders"]
    s = orders.sample(fraction=0.1, seed=42).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.avg("o_totalprice").alias("avg_sampled"),
    )
    pop = orders.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.avg("o_totalprice").alias("avg_total"),
    )
    return s.crossJoin(pop).select(
        (
            F.abs(F.col("n_sampled") / F.col("n_total") - 0.1) <= 0.04
        ).alias("frac_ok"),
        (
            F.abs(F.col("avg_sampled") - F.col("avg_total"))
            <= 0.2 * F.col("avg_total")
        ).alias("avg_ok"),
    )


#: run verbatim by both engines
_Q4_SQL = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


@query(
    "q4_order_priority",
    oracle=_Q4_SQL,
    tags=("tier-a", "join_semi", "agg_group"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: correlated EXISTS with an inequality — Catalyst rewrites it
    to a left-semi join on l_orderkey with the l_shipdate > o_orderdate
    residual; the date filter pushes into the orders scan."""
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q4_SQL)


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tier-a", "filter_in", "agg_global"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure filter-aggregate. All four predicates push to the
    parquet scan (min/max row-group stats can skip most of a 100 TB table if
    it's sorted/partitioned by ship date); one partial+final agg, no shuffle
    of any width."""
    t = register_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey LIMIT 50
"""


@query("lateral_top_orders", oracle=_LATERAL_SQL, tags=("tier-a", "subquery_lateral"))
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the SQL
    spelling of per-group top-k. Both engines accept the identical statement;
    Catalyst decorrelates it into a window/rank plan rather than re-running
    the subquery per customer row (same rewrite family as
    corr_subq_cheapest_per_brand), so it scales as one shuffle, not N
    subquery executions."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_LATERAL_SQL)


@query(
    "setop_all_variants",
    oracle="""
    SELECT
      (SELECT count(*) FROM (
         SELECT o_custkey FROM orders WHERE o_totalprice > 250000
         INTERSECT ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_intersect_all,
      (SELECT count(*) FROM (
         SELECT o_custkey FROM orders WHERE o_totalprice > 250000
         EXCEPT ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_except_all
    """,
    tags=("tier-b", "intersect", "except"),
)
def setop_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the bag-semantics set ops (per-row
    multiplicity arithmetic, not just membership; DataFrame spellings are
    intersectAll / exceptAll). The sides deliberately contain duplicates
    (custkeys repeat across orders) so the ALL forms differ from the
    DISTINCT forms and the counts pin the multiplicity math. Same scalar-
    subquery shape as setop_union_counts: one lazy plan, zero build-time
    jobs."""
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(CATALOG["setop_all_variants"].oracle)


@query(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS total_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("tier-b", "join_hint"),
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint: SHUFFLE_HASH forces a shuffled-hash join (build a
    per-partition hash table, skip both sort passes) — measured 2.4× faster
    than sort-merge on the 30× probe's 18M-row orders⋈lineitem
    (BASELINE.md). Hints matter at 100 TB exactly when the optimizer's
    size estimates are wrong; the plan assertion in tests/test_plans.py
    pins that the hint is honored, and the oracle pins that strategy choice
    never changes the result."""
    t = register_tables(spark, sf_dir, ("orders", "lineitem"))
    joined = t["lineitem"].hint("shuffle_hash").join(
        t["orders"], t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"]
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "null_safe_join_counts",
    oracle="""
    WITH g AS (SELECT nullif(o_orderstatus, 'P') AS k, count(*) AS n
               FROM orders GROUP BY 1)
    SELECT coalesce(a.k, '(null)') AS k, a.n AS n_a, b.n AS n_b
    FROM g a JOIN g b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k
    """,
    tags=("tier-a", "join_inner", "null_fns"),
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: Spark's <=> (DuckDB: IS NOT DISTINCT FROM)
    treats NULL as equal to NULL — without it, every NULL-keyed row silently
    drops from an equi-join, the classic data-loss bug in pipelines whose
    keys are nullable. One status value is nullif'd away so the fixture
    actually exercises the NULL=NULL match."""
    t = register_tables(spark, sf_dir, ("orders",))
    g = (
        t["orders"]
        .groupBy(F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, F.expr("a.k <=> b.k"))
        .select(
            F.coalesce(F.col("a.k"), F.lit("(null)")).alias("k"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .orderBy("k")
    )


@query(
    "stats_corr_lineitem",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_per_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("tier-b", "agg_stats"),
)
def stats_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates: Pearson correlation, sample
    covariance, and least-squares slope — all single-pass mergeable
    aggregates (sum/sum-of-products moments), so they scale exactly like
    sum(): partial per partition, one tiny merge. The synthetic fixture's
    quantity/price correlation is near zero but non-degenerate, so the
    moment math is still exercised end-to-end."""
    t = register_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qty_price"
            ),
            F.round(
                F.expr("regr_slope(l_extendedprice, l_quantity)"), 4
            ).alias("slope_price_per_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# TPC-H-style composite queries (q7 / q10 / q14 / q19 analogs)
# ---------------------------------------------------------------------------


@query(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, yr,
           CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INTEGER) AS yr,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume
      FROM supplier s
        JOIN lineitem l ON s.s_suppkey   = l.l_suppkey
        JOIN orders   o ON o.o_orderkey  = l.l_orderkey
        JOIN customer c ON c.c_custkey   = o.o_custkey
        JOIN nation  n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation  n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        AND l.l_shipdate >= TIMESTAMP '1995-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    ORDER BY supp_nation, cust_nation, yr
    """,
    tags=("tier-a", "join_multi"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 analog: the nation dimension joined under TWO roles
    (supplier's nation and customer's nation) in one plan. Each role gets its
    own aliased projection, so there is no ambiguous-column hazard, and both
    are broadcast (nation is a fixed ~25-row dimension at any scale factor).
    The disjunctive nation-pair filter lands on the broadcast side, so the
    big fact shuffle (lineitem⋈orders) only carries surviving rows.

    Revenue sums go through DECIMAL(18,4): per-row double→decimal quantization
    is bit-identical on both engines, and decimal addition is exact and
    order-independent — so the 2dp round can never land on a half-cent
    boundary that the engines' different summation orders resolve differently
    (q10 hit exactly that at sf0.01 with plain double sums)."""
    t = register_tables(
        spark, sf_dir, ("supplier", "lineitem", "orders", "customer", "nation")
    )
    n1 = F.broadcast(
        t["nation"].select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        t["nation"].select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .filter(
            (F.col("l_shipdate") >= _ts("1995-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "yr")
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders   o ON c.c_custkey    = o.o_custkey
      JOIN lineitem l ON l.l_orderkey   = o.o_orderkey
      JOIN nation   n ON c.c_nationkey  = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
    tags=("tier-a", "join_multi"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 analog: top-20 customers by revenue lost to returns.
    Both fact-side filters (return flag, order-date half-year) sit directly
    on the scans so parquet pushdown prunes before the join; the final
    ORDER BY+LIMIT compiles to TakeOrderedAndProject (per-partition heap,
    no global sort) with c_custkey as the deterministic tie-break. Revenue
    is an exact DECIMAL(18,4) sum so the top-20 cutoff and the 2dp round
    are order-independent and engine-identical (see q7_nation_volume)."""
    t = register_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    return (
        t["customer"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1996-07-01"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_share",
    oracle="""
    SELECT round(
             100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                        AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    tags=("tier-a", "agg_global"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 analog: promo revenue share — conditional aggregation as a
    ratio of two sums in ONE pass (no self-join, no second scan). part joins
    via AQE (broadcast while small, shuffle at scale); the date filter is
    pushed to the lineitem scan. Both sums are exact DECIMAL(18,4) (see
    q7_nation_volume), cast back to double only for the final division."""
    t = register_tables(spark, sf_dir, ("lineitem", "part"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1997-04-01"))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(vol).cast("double"),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q19_disjunctive_filter",
    oracle="""
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 25)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50)
    """,
    tags=("tier-a", "filter_bool"),
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 analog: disjunction of conjunctive predicates spanning BOTH
    join sides. Catalyst cannot push the whole OR below the join, but it CAN
    (and does) derive the per-side implied filters — p_brand IN (...) on the
    part scan — via constraint propagation; the residual mixed predicate
    evaluates post-join inside whole-stage codegen. No UDF, no driver loop."""
    t = register_tables(spark, sf_dir, ("lineitem", "part"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 25)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(10, 40)
        )
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 50))
    )
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H composite analogs, second batch: q8 q9 q12 q13 q15 q16 q17 q18 q21 q22
# (q2/q11 are the two TPC-H shapes that need the partsupp table, which the
# fixtures don't ship — their structural forms (correlated min-subquery,
# HAVING over a global scalar) are covered by corr_subq_cheapest_per_brand
# and scalar_subq_above_avg instead.)
# ---------------------------------------------------------------------------


@query(
    "q8_market_share",
    oracle="""
    SELECT yr,
           CAST(round(CAST(sum(CASE WHEN supp_nation = 'NATION_18' THEN vol
                                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                      / CAST(sum(vol) AS DOUBLE), 4) AS DOUBLE) AS mkt_share
    FROM (SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
                 CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS vol,
                 n1.n_name AS supp_nation
          FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders   o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation  n2 ON c.c_nationkey = n2.n_nationkey
          JOIN region   r ON n2.n_regionkey = r.r_regionkey
          JOIN nation  n1 ON s.s_nationkey = n1.n_nationkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
            AND o.o_orderdate >= TIMESTAMP '1995-01-01'
            AND o.o_orderdate <  TIMESTAMP '1997-01-01') all_nations
    GROUP BY yr ORDER BY yr
    """,
    tags=("tier-a", "join_multi"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 analog: one nation's share of a region's STANDARD-part market
    by year — an 8-table join (nation twice, under supplier and customer
    roles) feeding a conditional-sum ratio. All four dimension joins
    (nation x2, region, part-after-filter) broadcast; only lineitem⋈orders
    shuffles, and it carries rows pre-pruned by the pushed date filter.
    The share divides two exact DECIMAL(18,4) sums (numerator zeroed via
    CASE, not filtered — one aggregation pass), cast to double only for the
    final division + 4dp round, so both engines quantize identically."""
    t = register_tables(
        spark,
        sf_dir,
        ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"),
    )
    n_cust = F.broadcast(
        t["nation"].select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
        )
    )
    n_supp = F.broadcast(
        t["nation"].select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        t["part"]
        .filter(F.col("p_type") == "STANDARD")
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1995-01-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_18", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("yr")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders   o ON o.o_orderkey = l.l_orderkey
    JOIN nation   n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, yr ORDER BY nation, yr DESC
    """,
    tags=("tier-a", "join_multi"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 analog: profit by supplier nation x order year for one part
    family (p_name LIKE). The fixtures have no partsupp table, so profit is
    gross margin (extendedprice x (1-discount)) rather than TPC-H's
    supplycost-netted figure — the JOIN/LIKE/group structure is what q9
    exercises. The LIKE filter shrinks part before its (broadcast) join, so
    the fact shuffle carries only matching part families; exact decimal sums
    as in q7_nation_volume."""
    t = register_tables(
        spark, sf_dir, ("part", "supplier", "lineitem", "orders", "nation")
    )
    return (
        t["part"]
        .filter(F.col("p_name").like("%widget%"))
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("profit")
        )
        .orderBy(F.col("nation"), F.col("yr").desc())
    )


@query(
    "q12_late_lines_by_priority",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY linestatus ORDER BY linestatus
    """,
    tags=("tier-a", "case_when"),
)
def q12_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 analog: priority mix of LATE lineitems. The fixtures carry
    no shipmode/commitdate/receiptdate columns, so "late" is ship > order
    date + 60 days and the group key is l_linestatus — same shape: a
    cross-table date comparison that can only evaluate post-join (Catalyst
    keeps it out of the scans but inside the join's codegen stage) feeding
    two complementary CASE counts in one aggregation pass."""
    t = register_tables(spark, sf_dir, ("orders", "lineitem"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("linestatus")
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) c_orders
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tier-a", "join_left"),
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 analog: customer distribution by order count. The
    distinguishing feature is the FILTER INSIDE THE OUTER-JOIN CONDITION:
    `ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'` keeps every
    customer (unlike a WHERE, which would turn the join inner) while only
    counting non-urgent orders — count(o_orderkey) counts non-null matches
    only. Two aggregation levels: per-customer count, then histogram."""
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(
            t["orders"],
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    tags=("tier-a", "subquery_scalar"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 analog: supplier(s) hitting the max quarterly revenue — a
    reused CTE consumed twice (once per-supplier, once reduced to a scalar
    max). The Spark build reuses ONE revenue DataFrame for both roles; the
    scalar lands via a broadcast single-row cross join, so comparing against
    it adds no shuffle. Revenue is rounded to 2dp *as exact decimal* before
    the max/equality comparison, making the tie semantics engine-identical
    (double equality on identically-quantized values). Returns all tied
    suppliers, ordered by key."""
    t = register_tables(spark, sf_dir, ("supplier", "lineitem"))
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best), F.col("total_revenue") == F.col("best_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_count_by_part",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1,5,10,15,20,25,30,35)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    tags=("tier-a", "subquery_in"),
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 analog: distinct supplier count per part family, excluding a
    NOT-IN supplier subquery. lineitem stands in for partsupp as the
    part↔supplier relation (the fixtures ship no partsupp). The NOT IN
    compiles to a LEFT ANTI join against the (tiny, broadcast) excluded-
    supplier set — safe here because s_suppkey is never NULL; a nullable
    column would need null_safe_join_counts' <=> treatment. Note the anti
    join applies to the lineitem SIDE before grouping, exactly matching the
    SQL's per-row NOT IN semantics."""
    t = register_tables(spark, sf_dir, ("part", "supplier", "lineitem"))
    excluded = t["supplier"].filter(F.col("s_acctbal") < 500).select("s_suppkey")
    return (
        t["part"]
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                           AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#5'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
    tags=("tier-a", "subquery_corr"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 analog: revenue from below-average-quantity lines of one
    brand. The correlated per-part average decorrelates into a groupBy over
    lineitem joined back on partkey — the same rewrite Catalyst/DuckDB
    perform on the SQL form. The threshold math (0.2 x avg) is exact and
    engine-identical: quantities are integral doubles, so their sum and the
    sum/count division are deterministic regardless of partial-aggregation
    order. Note the per-part averages aggregate ALL of lineitem (not just
    Brand#5 rows) before the join, matching the subquery's scope; the
    brand filter prunes the probe side only."""
    t = register_tables(spark, sf_dir, ("lineitem", "part"))
    thresholds = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("thr_partkey"))
        .agg((0.2 * F.avg("l_quantity")).alias("qty_thr"))
    )
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#5")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(thresholds, F.col("thr_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
    tags=("tier-a", "subquery_in"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 analog: customers behind the largest-volume orders — an IN
    subquery whose inner query is itself a grouped HAVING aggregate. The
    Spark build computes the qualifying orderkey set once and LEFT SEMI
    joins it (the IN rewrite), then re-aggregates quantities on the
    surviving rows. Quantity sums are integral doubles (exact at any
    aggregation order); top-20 tie-breaks on o_orderkey."""
    t = register_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    big_orders = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        t["orders"]
        .join(big_orders, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 10
    """,
    tags=("tier-a", "subquery_corr"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 analog: the supplier who alone shipped late on multi-supplier
    finished orders. Two correlated subqueries against the SAME fact table:
    EXISTS (another supplier touched the order) → LEFT SEMI join; NOT EXISTS
    (no OTHER supplier was late on it) → LEFT ANTI join whose condition
    references both sides (the probe's o_orderdate vs the build's shipdate)
    — the general correlated-anti form, not a plain key anti join. "Late"
    adapts to ship > order date + 60d since the fixtures carry no
    commit/receipt dates. Both semi/anti builds re-scan lineitem projected
    to 2-3 columns; at scale they shuffle on l_orderkey just like the base,
    so AQE can reuse the exchange."""
    t = register_tables(spark, sf_dir, ("supplier", "lineitem", "orders"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    base = (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"].filter(F.col("o_orderstatus") == "F"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(late)
    )
    l2 = t["lineitem"].select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = t["lineitem"].select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    return (
        base.join(
            l2,
            (F.col("l2_orderkey") == F.col("l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l_suppkey"))
            & (F.col("l3_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@query(
    "q22_idle_customers",
    oracle="""
    SELECT cntrycode, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM (SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
                 c_acctbal, c_custkey
          FROM customer
          WHERE c_nationkey % 5 IN (0, 1, 2)
            AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                         AS DOUBLE) / count(*)
                             FROM customer
                             WHERE c_acctbal > 0
                               AND c_nationkey % 5 IN (0, 1, 2))) c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY cntrycode ORDER BY cntrycode
    """,
    tags=("tier-a", "subquery_scalar"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 analog: wealthy-but-idle customers by country code. Three
    relational features stack: a derived grouping key (nationkey mod 5
    stands in for the phone prefix the fixtures lack), a scalar AVG
    threshold subquery, and a NOT EXISTS against recent orders (LEFT ANTI
    on the date-filtered order scan). The threshold is spelled
    sum(DECIMAL)/count — NOT avg(double) — because a double avg's partial
    aggregation order is engine-dependent in the last ulp, and a customer
    sitting exactly on that boundary would flip membership; the exact
    decimal sum makes the cut deterministic on both engines."""
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    code = (F.col("c_nationkey") % 5).cast("long")
    eligible = t["customer"].filter(code.isin(0, 1, 2))
    thr = (
        eligible.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("bal_thr")
        )
    )
    recent = t["orders"].filter(F.col("o_orderdate") >= _ts("1999-01-01"))
    return (
        eligible.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("bal_thr"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(code.alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# q2 / q11 / q20 analogs — completing the 22-query TPC-H-style set. The
# fixtures ship no partsupp table, so the supplier↔part relation derives
# from lineitem (same device as q16): unit supply cost = min observed
# unit price, availability = total supplied quantity.
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT l_partkey, l_suppkey,
                       min(l_extendedprice / l_quantity) AS supply_cost
                FROM lineitem GROUP BY 1, 2),
    regional AS (
      SELECT p.p_partkey, p.p_brand, s.s_name, s.s_acctbal, n.n_name,
             ps.supply_cost
      FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
              JOIN supplier s ON s.s_suppkey = ps.l_suppkey
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size <= 10 AND p.p_type = 'STANDARD')
    SELECT p_partkey, p_brand, s_name, round(s_acctbal, 2) AS s_acctbal,
           n_name, floor(supply_cost * 10000) / 10000 AS supply_cost
    FROM (SELECT *, min(supply_cost) OVER (PARTITION BY p_partkey) AS mc
          FROM regional)
    WHERE supply_cost = mc
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    tags=("tier-a", "win_rank", "join_multi"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 analog: the cheapest supplier(s) per qualifying part within a
    region. The spec's correlated scalar subquery (min cost over the SAME
    region-scoped relation) is expressed as a per-part window min — the
    scalable Spark form: one shuffle on p_partkey instead of re-evaluating
    a five-table subquery per row, identical semantics (ties: every
    supplier AT the min survives, as in the spec). The min-cost equality
    compares doubles produced by identical row-level arithmetic on both
    engines, so it is exact."""
    t = register_tables(
        spark, sf_dir, ("region", "nation", "supplier", "part", "lineitem")
    )
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    regional = (
        ps.join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(t["region"], F.col("r_regionkey") == F.col("n_regionkey"))
        .filter(
            (F.col("r_name") == "EUROPE")
            & (F.col("p_size") <= 10)
            & (F.col("p_type") == "STANDARD")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_partkey")
    return (
        regional.withColumn("mc", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("mc"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "n_name",
            # floor-quantize the COMPUTED quotient: round() algorithms
            # diverge on .xxxx5 boundaries (one flip observed at sf0.1);
            # s_acctbal is a stored 2dp value, never near a boundary
            (F.floor(F.col("supply_cost") * 10000) / 10000).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH ps AS (SELECT l_partkey, l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
                FROM lineitem GROUP BY 1, 2),
    scoped AS (SELECT ps.* FROM ps
               JOIN supplier s ON s.s_suppkey = ps.l_suppkey
               JOIN nation n ON n.n_nationkey = s.s_nationkey
               WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11'))
    SELECT l_partkey AS p_partkey,
           CAST(round(sum(val), 2) AS DOUBLE) AS part_value
    FROM scoped GROUP BY l_partkey
    HAVING sum(val) > (SELECT sum(val) * 0.001 FROM scoped)
    ORDER BY part_value DESC, p_partkey
    """,
    tags=("tier-a", "having", "subquery_scalar"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 analog: parts whose scoped inventory value exceeds a
    fraction of the TOTAL scoped value — a HAVING against a scalar
    aggregate of the same CTE. One scoped DataFrame serves both roles; the
    scalar total arrives as a broadcast single-row cross join (no second
    shuffle, no window-over-()). Values stay exact DECIMAL through both
    sums so the threshold comparison can't flip on double partial-agg
    order (q15/q22 discipline)."""
    t = register_tables(spark, sf_dir, ("nation", "supplier", "lineitem"))
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("val"))
    )
    scoped = (
        ps.join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
        .select("l_partkey", "val")
    )
    per_part = scoped.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum("val").alias("raw_value")
    )
    # the scalar total folds over the PER-PART frame (thousands of rows),
    # not the lineitem-scan lineage a second time — decimal sums are
    # associative, so sum(per-part sums) == the spec's sum over scoped
    # decimal literal, not a double: 0.001 as DECIMAL(4,3) keeps the
    # threshold (and the > comparison) in exact decimal on BOTH engines —
    # a double threshold could flip a part within one ulp of the cut
    total = per_part.agg(
        (F.sum("raw_value") * F.expr("CAST(0.001 AS DECIMAL(4,3))")).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("raw_value") > F.col("threshold"))
        .select(
            "p_partkey",
            F.round("raw_value", 2).cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@query(
    "q20_dominant_suppliers",
    oracle="""
    WITH ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supplied
                FROM lineitem GROUP BY 1, 2),
    pt AS (SELECT l_partkey, sum(supplied) AS part_total FROM ps GROUP BY 1)
    SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_12', 'NATION_15',
                       'NATION_18', 'NATION_19')
      AND s.s_suppkey IN (
        SELECT ps.l_suppkey FROM ps JOIN pt USING (l_partkey)
        WHERE ps.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'small%')
          AND ps.supplied > 0.05 * pt.part_total)
    ORDER BY s_name
    """,
    tags=("tier-a", "join_semi", "subquery_in"),
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 analog: suppliers who dominate supply (>5% of a part's
    total) of any 'small%' part, from a fixed nation set — the spec's
    nested IN-chain (supplier IN (... part IN (...) AND correlated
    quantity threshold)). Each IN becomes a left-semi join; the correlated
    threshold is a part-level aggregate joined back on the part key — two
    narrow-key shuffles, no correlated re-execution."""
    t = register_tables(spark, sf_dir, ("nation", "supplier", "part", "lineitem"))
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supplied"))
    )
    pt = ps.groupBy("l_partkey").agg(F.sum("supplied").alias("part_total"))
    small_parts = t["part"].filter(F.col("p_name").like("small%")).select("p_partkey")
    dominant = (
        ps.join(small_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(pt, "l_partkey")
        .filter(F.col("supplied") > F.lit(0.05) * F.col("part_total"))
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .filter(
            F.col("n_name").isin(
                "NATION_3", "NATION_12", "NATION_15", "NATION_18", "NATION_19"
            )
        )
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@query(
    "interval_overlap_pairs",
    oracle="""
    WITH iv AS (
      SELECT event_id, user_id, ts AS s,
             ts + to_microseconds((CAST(floor(value * 100) AS BIGINT) % 1800) * 1000000) AS e
      FROM events WHERE event_type = 'purchase'),
    a AS (SELECT * FROM iv), b AS (SELECT * FROM iv)
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM a JOIN b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
    ORDER BY id_a, id_b LIMIT 500
    """,
    tags=("tier-c", "join_range", "interval_overlap"),
)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (operators/joins.interval_overlap_join):
    purchases get deterministic synthetic durations (floor(value*100) mod
    30 min)
    and every same-user overlapping pair is found via epoch-bucket
    explosion + one hash join — the exactly-once bucket rule (pair counted
    only in max(start-bucket) of the two) needs no distinct pass. The
    oracle is the naive inequality join (DuckDB plans IEJoin — exact), so
    a hash match proves the bucketing lost no pair and duplicated none."""
    t = register_tables(spark, sf_dir, ("events",))
    iv = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("s"),
            (
                F.col("ts")
                + F.make_dt_interval(
                    # explicit floor: DuckDB CAST(double AS BIGINT) rounds
                    # half-even while Spark cast truncates — floor agrees
                    secs=F.floor(F.col("value") * 100).cast("long") % 1800
                )
            ).alias("e"),
        )
    )
    a = iv.select(
        F.col("event_id").alias("id_a"), F.col("user_id").alias("u"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"),
    )
    b = iv.select(
        F.col("event_id").alias("id_b"), F.col("user_id").alias("u_b"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
    )
    from sql4pandas_spark.operators.joins import interval_overlap_join

    pairs = interval_overlap_join(
        a, b, "s_a", "e_a", "s_b", "e_b", max_interval_seconds=1800
    ).filter((F.col("u") == F.col("u_b")) & (F.col("id_a") < F.col("id_b")))
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b").limit(500)
