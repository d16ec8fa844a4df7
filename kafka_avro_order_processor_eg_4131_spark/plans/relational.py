"""Core batch relational surface (SURVEY.md §2.7): joins of every
flavor, sorts/limits/top-k, set operations, distinct, grouping
sets/rollup/cube, scalar functions — all Catalyst built-ins, each
paired with a DuckDB oracle.

Scale notes (100 TB posture), per query family:
- dimension joins (region/nation/customer) are broadcast — Spark's
  autoBroadcastJoinThreshold + AQE pick this up from stats; the big
  fact tables (orders/lineitem) never shuffle for those joins.
- fact-fact joins (orders-lineitem) shuffle on the join key once; AQE
  splits skewed partitions.
- top-k is ORDER BY + LIMIT, which Spark executes as TakeOrdered
  (per-partition heap + driver merge of k rows), never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import (
    bigcount_sql,
    bigsum_sql,
    cents,
    cents_sql,
    dsum,
    dsum_sql,
    is_finite,
    load,
    pctile_sql,
    register,
)
from ..operators import cache as C
from ..operators.joins import asof_join

_REVENUE = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# aggregation-heavy scans (TPC-H shapes)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql("l_quantity")} AS sum_qty,
           {dsum_sql("l_extendedprice")} AS sum_base_price,
           {dsum_sql(_REVENUE)} AS sum_disc_price,
           {dsum_sql(f"({_REVENUE}) * (1 + l_tax)")} AS sum_charge,
           ({dsum_sql("l_quantity")} / COUNT(*)) AS avg_qty,
           ({dsum_sql("l_extendedprice")} / COUNT(*)) AS avg_price,
           ({dsum_sql("l_discount")} / COUNT(*)) AS avg_disc,
           {bigcount_sql()} AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single fact scan, predicate pushed to parquet,
    map-side partial aggregation into a 6-group shuffle."""
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (dsum(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dsum_sql(_REVENUE)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast dim filter, fact-fact equi-join, grouped
    agg, top-k (TakeOrdered — no full sort)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp_ntz")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp_ntz")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        F.broadcast(c)
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {dsum_sql(_REVENUE)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join; region/nation/supplier broadcast,
    one shuffle joins the two facts."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# join flavors
# ---------------------------------------------------------------------------


@register(
    "join_left_outer_order_counts",
    oracle=f"""
    SELECT c_custkey, {bigcount_sql("o_orderkey")} AS n_orders
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
         AND o_orderdate < TIMESTAMP '1995-07-01'
    GROUP BY c_custkey
    """,
)
def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero matching orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp_ntz")
    )
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having at least one URGENT
    order — no duplication of the left side, right side never projected."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_quiet_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate < TIMESTAMP '1995-07-01')
    """,
)
def join_anti_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders before
    mid-1995."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp_ntz")
    )
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta_quantity_over_size",
    oracle=f"""
    SELECT p_brand, {bigcount_sql()} AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
    GROUP BY p_brand
    """,
)
def join_theta_quantity_over_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with a theta residual (l_quantity > p_size): Catalyst
    evaluates the non-equi conjunct as a post-join filter on the
    broadcast hash join — no nested-loop blow-up."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        l.join(
            F.broadcast(p),
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_quantity") > F.col("p_size")),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_lines"))
    )


@register(
    "join_cross_region_nation",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS join (dim x dim only — never facts)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "asof_join_latest_order_before_event",
    oracle="""
    WITH orders_d AS (
      SELECT o_custkey, o_orderdate, MIN(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS last_orderkey
    FROM events e
    ASOF LEFT JOIN orders_d o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join_latest_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (no Spark built-in; custom operator, operators/joins.py):
    for each event, the most recent order of that user at or before the
    event time. Implemented with the union-sort technique — one shuffle,
    no pair blow-up; DuckDB's native ASOF JOIN is the oracle."""
    e = load(spark, sf_dir, "events")
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")  # asof key must share a name
    )
    joined = asof_join(
        left=e.select("event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts")),
        right=o,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        payload=["o_orderkey"],
    )
    return joined.select(
        "event_id", "user_id", "ts", F.col("o_orderkey").alias("last_orderkey")
    )


@register(
    "cogroup_asof_merge_pandas",
    oracle="""
    WITH orders_d AS (
      SELECT o_custkey, o_orderdate, MIN(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS last_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN NULL
                ELSE date_diff('microsecond', o.o_orderdate, e.ts)
                     // 86400000000 END AS days_since_order
    FROM events e
    ASOF LEFT JOIN orders_d o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def cogroup_asof_merge_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (groupBy().cogroup() — the two-sided
    Arrow UDF surface): per-user pandas merge_asof of the event and
    order streams plus an exact elapsed-days column, hash-checked
    against DuckDB's native ASOF JOIN. Same semantics as
    asof_join_latest_order_before_event, but executed by the pandas
    kernel a data scientist would write single-node — demonstrating
    that the cogrouped lift preserves it exactly. One co-shuffle per
    side, per-key pandas slices; the JVM union-sort as-of remains the
    whole-column fast path (operators/cogrouped.py docstring)."""
    from ..operators.cogrouped import cogrouped_asof_orders

    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            "o_orderkey",
        )
    )
    return cogrouped_asof_orders(e, o)


# ---------------------------------------------------------------------------
# sorts / limits / top-k
# ---------------------------------------------------------------------------


@register(
    "skew_salted_join_lineitem_part",
    oracle=f"""
    SELECT p_brand, {bigcount_sql()} AS n_lines, {dsum_sql("l_extendedprice")} AS total
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def skew_salted_join_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (operators/skew.py): the fact side salted, the dim
    replicated per salt — the hot-key spreading technique for skew that
    outruns AQE's splitting. Results identical to the plain join (the
    oracle IS the plain join)."""
    from ..operators.skew import salted_join

    # salted_join joins on a same-named key; align lineitem's key first
    l = load(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    p = load(spark, sf_dir, "part")
    joined = salted_join(l, p, "p_partkey", salt_n=4, unique_col="l_orderkey")
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        dsum(F.col("l_extendedprice")).alias("total"),
    )


@register(
    "skew_salted_agg",
    oracle=f"""
    SELECT o_custkey, {dsum_sql("o_totalprice")} AS sum_value, {bigcount_sql()} AS n_rows
    FROM orders GROUP BY o_custkey
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (partial on (key,salt), final on key)
    — decimal-exact, so the regrouping provably cannot change the sums."""
    from ..operators.skew import salted_agg_sum

    o = load(spark, sf_dir, "orders")
    return salted_agg_sum(
        o, "o_custkey", F.col("o_totalprice"), salt_n=4, unique_col="o_orderkey"
    )


@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject —
    per-partition heaps, k rows to the driver, never a global sort."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# set operations / distinct
# ---------------------------------------------------------------------------


@register(
    "setop_union_active_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_union_active_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two filtered key sets."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.union(b).distinct()


@register(
    "setop_intersect_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of the same two key sets."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "setop_except_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_except_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference) of the same two key sets."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)  # EXCEPT (distinct) semantics, matching the SQL


@register(
    "setop_union_all_counts",
    oracle=f"""
    SELECT custkey, {bigcount_sql()} AS n
    FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY custkey
    """,
)
def setop_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union, duplicates preserved) + count per key."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.union(b).groupBy("custkey").agg(F.count("*").alias("n"))


@register(
    "setop_except_all_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_except_all_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference: multiplicities subtract)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b)


@register(
    "setop_intersect_all_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_intersect_all_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection: min of multiplicities)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.intersectAll(b)


@register(
    "agg_price_histogram",
    oracle=f"""
    SELECT CASE WHEN isfinite(o_totalprice) AND abs(o_totalprice) < 4.5e23
                THEN CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) END AS bucket,
           {bigcount_sql()} AS n,
           MIN(o_totalprice) + 0.0 AS lo,
           MAX(o_totalprice) + 0.0 AS hi
    FROM orders
    GROUP BY 1
    """,
)
def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric binning / histogram: fixed-width buckets via floor
    division (exact double op), count + extrema per bucket. Non-finite
    prices have no numeric bin — they land in the NULL bucket with the
    NULLs (pinned round-9; raw floor diverges: Spark floor(NaN) is 0,
    DuckDB's BIGINT cast crashes). Extrema are sign-of-zero normalized
    with `+ 0.0` on BOTH sides (round-10 combined-edge pin): a bucket
    holding both -0.0 and 0.0 makes Spark's total-order MIN return
    -0.0 deterministically while DuckDB's IEEE-equal MIN keeps
    whichever zero it scans first — nondeterministic under multi-file
    layouts. IEEE -0.0 + 0.0 = +0.0 collapses both; NULL/±Inf pass
    through unchanged."""
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.groupBy(
        F.when(
            is_finite(p) & (F.abs(p) < F.lit(4.5e23)),
            F.floor(p / 50000.0).cast("bigint"),
        ).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        (F.min("o_totalprice") + F.lit(0.0)).alias("lo"),
        (F.max("o_totalprice") + F.lit(0.0)).alias("hi"),
    )


@register("agg_percentile_approx", oracle=None)  # sketch: no exact SQL twin
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch (KLL/GK-style) — the bounded-memory
    companion to agg_percentiles; accuracy vs the exact percentile is
    asserted in tests."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("median_approx")
    )


@register(
    "distinct_status_priority",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a two-column projection (exact dedup via hash agg)."""
    return load(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------------------------
# grouping sets / rollup / cube / distinct aggregation
# ---------------------------------------------------------------------------


@register(
    "agg_count_distinct_customers",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           {bigcount_sql()} AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation: Catalyst expands to a two-phase plan
    (partial dedup, then final count) — no driver-side dedup."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@register("agg_approx_count_distinct", oracle=None)  # sketch: no exact SQL twin
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts — the sketch path for
    100 TB cardinality estimation (exact distinct shuffles every key;
    the sketch is a bounded-size mergeable state). Accuracy vs the exact
    count is asserted in tests (rsd=0.05)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.05).alias("approx_customers"),
    )


@register(
    "grouped_custom_agg_order_gaps",
    oracle="""
    WITH g AS (
      SELECT o_orderstatus, o_orderpriority,
             date_diff('second',
               LAG(o_orderdate) OVER (
                 PARTITION BY o_orderstatus, o_orderpriority
                 ORDER BY o_orderdate, o_orderkey),
               o_orderdate) / 86400.0 AS gap
      FROM orders
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CASE WHEN COUNT(gap) = 0 THEN 'NaN'::DOUBLE
                ELSE SUM(gap) / COUNT(gap) END AS mean_gap_days,
           CASE WHEN COUNT(gap) = 0 THEN 'NaN'::DOUBLE
                ELSE MAX(gap) END AS max_gap_days
    FROM g GROUP BY 1, 2
    """,
)
def grouped_custom_agg_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation via applyInPandas (UDAF surface):
    per-(status, priority) order-gap stats — few large groups, the shape
    grouped-map is built for. Hash-checked against the window-lag SQL
    formulation: portable because every gap is a WHOLE number of days
    (date-aligned timestamps; k*86400/86400.0 divides exactly), so the
    float mean is an exact-integer sum — order-free in both engines —
    under one IEEE divide, and pandas' NaN for gapless groups is
    mirrored with 'NaN'::DOUBLE (the driver canonicalizer distinguishes
    NaN from NULL). Also window-twin validated in tests."""
    from ..operators.grouped import order_gap_stats

    return order_gap_stats(load(spark, sf_dir, "orders"))


@register(
    "rollup_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {bigcount_sql()} AS n,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING id — hierarchy totals in one pass.

    Empty-input semantics (round-8 empty-fixture probe): Spark's
    grouping sets emit ZERO rows on an empty table, DuckDB (SQL
    standard) emits the grand-total grouping-set row. The engine's
    contract is Spark semantics, so every grouping-set oracle carries
    HAVING COUNT(*) > 0 — a no-op on any non-empty input (every
    grouping-set row aggregates >= 1 source row), dropping exactly the
    empty-input grand-total row."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.grouping_id().cast("long").alias("gid"),
    )


@register(
    "cube_returnflag_linestatus",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {bigcount_sql()} AS n,
           {dsum_sql("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)
def cube_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    l = load(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


@register(
    "rollup_with_grouping_id",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           {bigcount_sql()} AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def rollup_with_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicator columns — how a consumer tells a
    real NULL group key from a subtotal row. grouping() returns tinyint
    in Spark and is cast to INT on both sides."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n"),
    ).select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n")


@register(
    "scalar_try_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_tax = 0.0 THEN NULL
                ELSE l_extendedprice / l_tax END AS price_per_tax,
           CASE WHEN l_quantity = CAST(l_quantity AS BIGINT)
                THEN CAST(l_quantity AS BIGINT) ELSE NULL END AS qty_int,
           CASE WHEN l_linenumber <= 2 THEN l_linenumber ELSE NULL END
             AS second_or_null
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* family (this engine runs ANSI mode, where a bare
    divide-by-zero or bad cast RAISES): try_divide / try_element_at
    return NULL instead. The oracle states the same semantics with
    CASE, since DuckDB's operators are null-returning already."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"),
            F.nullif(F.col("l_tax"), F.lit(0.0)),
        ).alias("price_per_tax"),
        F.when(
            F.col("l_quantity") == F.col("l_quantity").cast("bigint"),
            F.col("l_quantity").cast("bigint"),
        ).alias("qty_int"),
        F.try_element_at(
            F.array(F.lit(1), F.lit(2)), F.col("l_linenumber")
        ).alias("second_or_null"),
    )


@register(
    "grouping_sets_status_segment",
    oracle=f"""
    SELECT o_orderstatus, c_mktsegment, {bigcount_sql()} AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment))
    """,
)
def grouping_sets_status_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL over per-invocation scoped
    temp views (sources/tables.py sql_over_views — no session-global
    view names, so concurrent invocations can't collide)."""
    from ..sources.tables import sql_over_views

    return sql_over_views(
        spark,
        """
        SELECT o_orderstatus, c_mktsegment, COUNT(*) AS n
        FROM {orders} JOIN {customer} ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment))
        """,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {dsum_sql("volume")} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two nation roles joined through both fact sides
    with a symmetric-pair predicate, yearly revenue rollup."""
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        F.broadcast(s)
        .join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(volume).alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           ({dsum_sql("CASE WHEN n_name = 'NATION_3' THEN volume ELSE 0.0 END")}
            / {dsum_sql("volume")}) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n_name
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share as a ratio of conditional decimal
    sums per year (share of supplier NATION_3 volume)."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_volume = F.when(F.col("n_name") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        # try_divide: a year whose total volume is exactly 0 (possible
        # with -0.0/0.0 prices or a 100% discount) yields NULL, matching
        # DuckDB's x/0 -> NULL instead of ANSI DIVIDE_BY_ZERO
        .agg(F.try_divide(dsum(nat_volume), dsum(volume)).alias("mkt_share"))
    )


@register(
    "scalar_null_funcs",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(o.o_orderkey, -1)            AS first_order_or_sentinel,
           (o.o_orderkey IS NULL)                AS never_ordered,
           NULLIF(c.c_mktsegment, 'BUILDING')    AS segment_or_null,
           IFNULL(CAST(o.o_totalprice AS DOUBLE), 0.0) AS price_or_zero
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, MIN(o_orderkey) AS o_orderkey,
             MIN(o_totalprice) AS o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-03-01'
      GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    """,
)
def scalar_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling functions (coalesce/nullif/ifnull/isnull) over the
    nulls a LEFT JOIN actually produces."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp_ntz"))
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderkey").alias("o_orderkey"),
            F.min("o_totalprice").alias("o_totalprice"),
        )
    )
    j = c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
    return j.select(
        "c_custkey",
        F.coalesce(F.col("o_orderkey"), F.lit(-1)).alias("first_order_or_sentinel"),
        F.col("o_orderkey").isNull().alias("never_ordered"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("segment_or_null"),
        F.ifnull(F.col("o_totalprice").cast("double"), F.lit(0.0)).alias("price_or_zero"),
    )


@register(
    "scalar_map_funcs",
    oracle="""
    SELECT o_orderkey,
           'bucket,priority,status' AS keys_sorted,
           o_orderstatus AS status_v,
           CASE WHEN o_totalprice > 1000.0 THEN 'high' ELSE 'low' END AS bucket_v,
           3 AS n_entries,
           upper(o_orderpriority) AS prio_upper,
           -- mirrors the bucket CASE exactly: a NULL price buckets 'low'
           -- (when-otherwise semantics), so it must also count as low
           -- here; `price <= 1000` would yield NULL -> 0 and diverge
           CASE WHEN CASE WHEN o_totalprice > 1000.0 THEN 'high' ELSE 'low' END
                     = 'low' THEN 1 ELSE 0 END AS n_low
    FROM orders
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed expression surface: create_map / map_concat / map_keys /
    element_at / transform_values / map_filter / size, verified by
    collapsing every map back to plain scalars (the oracle computes the
    same values with ordinary SQL — DuckDB's map accessors return lists,
    so map-typed outputs don't hash-compare portably)."""
    o = load(spark, sf_dir, "orders")
    m1 = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    m2 = F.create_map(
        F.lit("bucket"),
        F.when(F.col("o_totalprice") > 1000.0, F.lit("high")).otherwise("low"),
    )
    merged = F.map_concat(m1, m2)
    return o.select(
        "o_orderkey",
        F.array_join(F.array_sort(F.map_keys(merged)), ",").alias("keys_sorted"),
        F.element_at(merged, "status").alias("status_v"),
        F.element_at(merged, "bucket").alias("bucket_v"),
        F.size(merged).alias("n_entries"),
        F.element_at(
            F.transform_values(merged, lambda _, v: F.upper(v)), "priority"
        ).alias("prio_upper"),
        F.size(F.map_filter(merged, lambda _, v: v == "low")).alias("n_low"),
    )


@register(
    "agg_string_concat_ordered",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           CAST(COUNT(DISTINCT o_orderpriority) AS INT) AS n_priorities
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG semantics): the
    distinct set is collected, sorted, then joined — collect_set +
    array_sort + array_join is the deterministic formulation (raw
    listagg/string_agg output order is engine-dependent; pinning the
    ORDER BY on both sides makes it portable)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.size(F.collect_set("o_orderpriority")).alias("n_priorities"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: negated predicates (<> / NOT LIKE / IN-list) +
    DISTINCT aggregation over the join."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").like("SMALL%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "having_frequent_customers",
    oracle=f"""
    SELECT o_custkey, {bigcount_sql()} AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
)
def having_frequent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


@register(
    "agg_argminmax",
    oracle="""
    SELECT o_orderstatus,
           arg_min(o_orderkey, CASE WHEN o_totalprice IS NULL THEN '!null'
                                    WHEN isnan(o_totalprice) THEN '~nan'
                                    WHEN o_totalprice = 'infinity'::DOUBLE THEN '{inf'
                                    WHEN o_totalprice = '-infinity'::DOUBLE THEN '"ninf'
                                    ELSE printf('%020.4f', o_totalprice) END || '-'
                               || printf('%012d', o_orderkey)) AS cheapest_order,
           arg_max(o_orderkey, CASE WHEN o_totalprice IS NULL THEN '!null'
                                    WHEN isnan(o_totalprice) THEN '~nan'
                                    WHEN o_totalprice = 'infinity'::DOUBLE THEN '{inf'
                                    WHEN o_totalprice = '-infinity'::DOUBLE THEN '"ninf'
                                    ELSE printf('%020.4f', o_totalprice) END || '-'
                               || printf('%012d', o_orderkey)) AS priciest_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (arg-min/arg-max aggregation). Price ties exist in
    the fixture, so the ordering key is a printf-encoded (price, key)
    composite — lexicographic == numeric for the fixed-width encoding,
    identical in both engines, fully deterministic. Non-finite and NULL
    prices get explicit fixed sentinels (round-9 float-edge probe):
    Java and DuckDB printf render NaN/Inf/NULL three different ways,
    and Spark's min_by treats a NULL ordering key as smallest where
    DuckDB's arg_min skips the row — sentinel ASCII picked so the
    total order is NULL < -Inf < finite-encodings < +Inf < NaN
    ('!' < '"' < digits/'-' < '{' < '~')."""
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    ordkey = F.concat(
        F.when(p.isNull(), F.lit("!null"))
        .when(F.isnan(p), F.lit("~nan"))
        .when(p == F.lit(float("inf")), F.lit("{inf"))
        .when(p == F.lit(float("-inf")), F.lit('"ninf'))
        .otherwise(F.format_string("%020.4f", p)),
        F.lit("-"),
        F.format_string("%012d", F.col("o_orderkey")),
    )
    return o.groupBy("o_orderstatus").agg(
        F.min_by(F.col("o_orderkey"), ordkey).alias("cheapest_order"),
        F.max_by(F.col("o_orderkey"), ordkey).alias("priciest_order"),
    )


@register(
    "agg_variance_exact",
    oracle="""
    WITH s0 AS (
      -- moment domain: |x| < 1e14 (DECIMAL(19,4) holds < 1e15; the
      -- square is computed in decimal so only x itself must fit);
      -- out-of-domain magnitudes saturate like ±Inf (round-9)
      SELECT o_orderstatus,
             COUNT(CASE WHEN isnan(o_totalprice) THEN 1 END) AS q_nan,
             COUNT(CASE WHEN NOT isnan(o_totalprice) AND o_totalprice >= 1e14
                   THEN 1 END) AS q_pinf,
             COUNT(CASE WHEN o_totalprice <= -1e14 THEN 1 END) AS q_ninf,
             CAST(CAST(SUM(CAST(CASE WHEN NOT isnan(o_totalprice)
                                      AND o_totalprice > -1e14
                                      AND o_totalprice < 1e14
                                     THEN o_totalprice END
                                AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxf,
             -- DECIMAL(19,4): forces int128 storage so DuckDB's multiply
             -- cannot overflow; Spark side uses (18,4) so its product stays
             -- within precision 38 without scale adjustment. Both exact.
             CAST(CAST(SUM(CAST(CASE WHEN NOT isnan(o_totalprice)
                                      AND o_totalprice > -1e14
                                      AND o_totalprice < 1e14
                                     THEN o_totalprice END
                                AS DECIMAL(19,4))
                         * CAST(CASE WHEN NOT isnan(o_totalprice)
                                      AND o_totalprice > -1e14
                                      AND o_totalprice < 1e14
                                     THEN o_totalprice END
                                AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus
    ), s AS (
      -- IEEE moment propagation (round-9): NaN (or mixed Infs) poisons
      -- sx; any Inf makes sxx +Inf; the variance arithmetic below then
      -- propagates identically in both engines (sqrt(NaN)=NaN in both)
      SELECT o_orderstatus, n,
             CASE WHEN q_nan > 0 OR (q_pinf > 0 AND q_ninf > 0) THEN 'nan'::DOUBLE
                  WHEN q_pinf > 0 THEN 'infinity'::DOUBLE
                  WHEN q_ninf > 0 THEN '-infinity'::DOUBLE
                  ELSE sxf END AS sx,
             CASE WHEN q_nan > 0 THEN 'nan'::DOUBLE
                  WHEN q_pinf > 0 OR q_ninf > 0 THEN 'infinity'::DOUBLE
                  ELSE sxx END AS sxx
      FROM s0
    )
    SELECT o_orderstatus, n,
           ((sxx - sx * sx / n) / (n - 1)) AS var_samp,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_samp
    FROM s
    """,
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev of the 4-dp-rounded price, via exact
    decimal sums of x and x*x. The double->decimal cast happens ONCE at
    a safe position (10 significant digits); the square is computed IN
    decimal so both engines do exact integer arithmetic afterwards.
    (Casting the double product x*x directly diverges: Spark's cast
    goes through the 17-significant-digit shortest repr while DuckDB
    converts exactly — a measured 3-ulp mismatch at sf0.01.) Overflow
    posture (round-7 audit): the (18,4)x(18,4) product is decimal(37,8),
    its sum accumulates in decimal(38,8) — x <= 6e5 so x*x <= 3.6e11,
    headroom to ~8e17 rows (~sf500k); no int64 anywhere. The finishing
    sx*sx is a double op."""
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    in_dom = ~F.isnan(p) & (p > F.lit(-1e14)) & (p < F.lit(1e14))
    xd = F.when(in_dom, p).cast("decimal(18,4)")
    q_nan = F.count(F.when(F.isnan(p), F.lit(1)))
    q_pinf = F.count(F.when(~F.isnan(p) & (p >= F.lit(1e14)), F.lit(1)))
    q_ninf = F.count(F.when(p <= F.lit(-1e14), F.lit(1)))
    NAN, PINF, NINF = (F.lit(float(x)) for x in ("nan", "inf", "-inf"))
    grouped = o.groupBy("o_orderstatus").agg(
        F.when((q_nan > 0) | ((q_pinf > 0) & (q_ninf > 0)), NAN)
        .when(q_pinf > 0, PINF)
        .when(q_ninf > 0, NINF)
        .otherwise(F.sum(xd).cast("string").cast("double"))
        .alias("sx"),
        F.when(q_nan > 0, NAN)
        .when((q_pinf > 0) | (q_ninf > 0), PINF)
        .otherwise(F.sum(xd * xd).cast("string").cast("double"))
        .alias("sxx"),
        F.count("*").alias("n"),
    )
    # try_divide: a single-row group has n-1 = 0, which DuckDB's float
    # division maps to NULL while ANSI Spark raises (round-8 edge probe)
    var = F.try_divide(
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"), F.col("n") - 1
    )
    return grouped.select(
        "o_orderstatus", "n", var.alias("var_samp"), F.sqrt(var).alias("stddev_samp")
    )


@register(
    "funnel_click_to_purchase",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '5 minutes'
    """,
)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) self-join: purchases within 5 minutes after a
    click by the same user — the batch twin of the watermark-bounded
    stream-stream join (streaming/joins.py). Equi-key + range residual,
    so Catalyst plans a hash join with a post-filter, not a cartesian."""
    e = load(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").alias("c")
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    return (
        c.join(
            p,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") < F.col("c.ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.user_id").alias("user_id"),
        )
    )


@register(
    "agg_percentiles",
    oracle=f"""
    WITH vals AS (
      SELECT o_orderstatus,
             list(o_totalprice ORDER BY o_totalprice)
               FILTER (o_totalprice IS NOT NULL
                       AND NOT isnan(o_totalprice)) AS vs,
             COUNT(CASE WHEN isnan(o_totalprice) THEN 1 END) AS nan_n
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus,
           CASE WHEN nan_n > 0 THEN 'nan'::DOUBLE
                ELSE {pctile_sql("vs", "0.5")} END AS median_price,
           CASE WHEN nan_n > 0 THEN 'nan'::DOUBLE
                ELSE {pctile_sql("vs", "0.9")} END AS p90_price
    FROM vals
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation). The oracle states
    the interpolation EXPLICITLY (catalog.pctile_sql) instead of
    quantile_cont: DuckDB re-rounds (1-f)*lo + f*hi even when the
    bracketing values are TIED, drifting an ulp where Spark returns
    the value verbatim (round-10 combined-edge probe; details in the
    helper's docstring). The engines also place NaN differently inside
    the sorted run (Spark: largest; DuckDB: implementation-defined),
    so the pinned portable semantics is any-NaN-in-group => NaN
    percentile (the IEEE answer numpy gives), enforced by a guard on
    BOTH sides (round-9 float-edge probe). ±Inf values participate
    normally (both engines order them identically). The approx sketch
    variant is `agg_approx_count_distinct`'s cousin `percentile_approx`
    — deliberately NOT oracle-checked."""
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    nan_n = F.count(F.when(F.isnan(p), F.lit(1)))
    guard = lambda q: F.when(nan_n > 0, F.lit(float("nan"))).otherwise(q)  # noqa: E731
    return o.groupBy("o_orderstatus").agg(
        guard(
            F.expr("percentile(CASE WHEN NOT isnan(o_totalprice) "
                   "THEN o_totalprice END, 0.5)")
        ).alias("median_price"),
        guard(
            F.expr("percentile(CASE WHEN NOT isnan(o_totalprice) "
                   "THEN o_totalprice END, 0.9)")
        ).alias("p90_price"),
    )


@register(
    "q4_order_priority_checking",
    oracle=f"""
    SELECT o_orderpriority, {bigcount_sql()} AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (left-semi with a non-equi
    conjunct) feeding a grouped count."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "correlated_above_brand_avg",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part p
    WHERE p_retailprice > (SELECT AVG(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    """,
)
def correlated_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (parts above their brand's average
    price), decorrelated into a window-average comparison — the plan
    Catalyst itself produces for such subqueries. AVG comparison only
    (not output), so double averaging order cannot affect the rows."""
    from pyspark.sql import Window

    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


@register(
    "pivot_priority_by_status",
    oracle=f"""
    SELECT o_orderpriority,
           {bigsum_sql("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END")} AS F,
           {bigsum_sql("CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END")} AS O,
           {bigsum_sql("CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END")} AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts cross-tabulated priority x status (explicit
    pivot values so the plan needs no extra distinct-values job)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside pivot
        .na.fill(0)
    )


# ---------------------------------------------------------------------------
# scalar functions
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name)                       AS name_upper,
           CAST(LENGTH(p_name) AS INT)         AS name_len,
           SUBSTRING(p_name, 1, 8)             AS name_prefix,
           (p_brand || ':' || p_type)          AS brand_type,
           REPLACE(p_name, ' ', '_')           AS name_snake,
           REVERSE(p_brand)                    AS brand_rev,
           CAST(STRPOS(p_name, 'a') AS INT)    AS first_a
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: upper/length/substring/concat/replace/
    reverse/instr — all JVM-side, whole-stage codegen'd.

    NULL concat (round-8 edge probe): Spark's CONCAT propagates NULL
    (SQL standard), DuckDB's CONCAT skips NULL arguments — the oracle
    uses the `||` operator, which null-propagates in both engines."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr(F.col("p_name"), "a").cast("int").alias("first_a"),
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT c_custkey,
           ABS(c_acctbal)                    AS bal_abs,
           FLOOR(c_acctbal)                  AS bal_floor,
           CEIL(c_acctbal)                   AS bal_ceil,
           SQRT(ABS(c_acctbal))              AS bal_sqrt,
           CAST(c_custkey % 7 AS BIGINT)     AS key_mod7,
           CASE WHEN isnan(c_acctbal) THEN NULL
                ELSE CAST(SIGN(c_acctbal) AS INT) END AS bal_sign
    FROM customer
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface: abs/floor/ceil/sqrt/mod/sign (IEEE-exact
    ops only — transcendentals excluded from oracle checks by policy).
    Non-finite pins (round-9 extended float fixture): floor/ceil of a
    non-finite value IS the value (IEEE, DuckDB's double floor; raw
    Spark floor returns BIGINT 0 for NaN), and sign(NaN) is NULL on
    both sides (undefined sign in an INT column — Spark's signum(NaN)
    is NaN and crashes the ANSI INT cast, DuckDB's integer SIGN says
    0; neither is a defensible answer)."""
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.abs(bal).alias("bal_abs"),
        F.when(is_finite(bal), F.floor(bal).cast("double"))
        .otherwise(bal)
        .alias("bal_floor"),
        F.when(is_finite(bal), F.ceil(bal).cast("double"))
        .otherwise(bal)
        .alias("bal_ceil"),
        F.sqrt(F.abs(bal)).alias("bal_sqrt"),
        (F.col("c_custkey") % 7).alias("key_mod7"),
        F.when(~F.isnan(bal), F.signum(bal).cast("int")).alias("bal_sign"),
    )


@register(
    "scalar_regex_funcs",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_brand, '#(\d+)', 1)            AS brand_num,
           regexp_matches(p_name, '^[a-m]')                AS starts_low,
           regexp_replace(p_name, '[aeiou]', '_', 'g')     AS devoweled,
           CAST(length(p_name)
                - length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS INT)
                                                           AS n_vowels
    FROM part
    """,
)
def scalar_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar functions: extract / rlike / replace (both engines
    return '' for a non-matching extract, so semantics align)."""
    p = load(spark, sf_dir, "part")
    name, brand = F.col("p_name"), F.col("p_brand")
    return p.select(
        "p_partkey",
        F.regexp_extract(brand, r"#(\d+)", 1).alias("brand_num"),
        name.rlike("^[a-m]").alias("starts_low"),
        F.regexp_replace(name, "[aeiou]", "_").alias("devoweled"),
        (
            F.length(name) - F.length(F.regexp_replace(name, "[aeiou]", ""))
        ).cast("int").alias("n_vowels"),
    )


@register(
    "scalar_json_funcs",
    oracle="""
    WITH p AS (
      SELECT event_id,
             CASE WHEN json_valid(props) THEN props END AS props
      FROM events
    )
    SELECT event_id,
           CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                    '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$')
                THEN TRY_CAST(regexp_replace(json_extract_string(props, '$.k'),
                                             '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$',
                                             '', 'g') AS INT)
           END AS k_val,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM p
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the events.props payload column.
    Malformed/empty payloads (round-8 edge probe): Spark's
    get_json_object is already NULL-on-malformed; DuckDB's
    json_extract_string RAISES, so the oracle pre-nulls invalid props
    with json_valid — identical NULL results on both sides.

    Typed extraction (round-9 text-edge probe): k_val pins to
    INTEGRAL-STRING-ONLY parsing. Spark's try_cast(string -> int)
    accepts only integral forms ('7', '-3', '007', '+7' — NULL for
    '2.9'/'true'/overflow), while DuckDB's TRY_CAST ROUNDS '2.9' to 3;
    the oracle's integral-regex guard makes both sides NULL there. A
    big-integer k diverges at extraction (Spark returns the literal
    digits, DuckDB re-renders through a double) but both sides
    overflow/regex-fail to NULL under the guard. The guard admits
    whitespace padding (' 7' -> 7) because BOTH engines' casts trim it
    — Spark's string-to-int cast via UTF8String.trimAll and DuckDB's
    TRY_CAST both parse ' 7'/'\\t-3 ' (round-9 advice: the old
    integral-only regex NULLed these in the oracle while Spark parsed
    them — a latent parity break if a fixture ever emits padding).
    Round-11 (advice): the guard admits the control-char padding
    Spark's trimAll strips — RE2's \\s ([\\t\\n\\f\\r ]) missed
    control-char padding like '\\x0b7'/'\\x1f7' that Spark parses to
    7 — and because DuckDB's own TRY_CAST trim set is NARROWER than
    trimAll (measured: it accepts \\x0b/\\x0c but NULLs \\x00/\\x1f
    padding), the oracle strips the padding explicitly via
    regexp_replace before casting. Round-12 (advice): the class is
    [\\x00-\\x20\\x7f], not just [\\x00-\\x20] — trimAll strips
    whitespace OR Character.isISOControl, and DEL (0x7f) is ISO
    control above 0x20 (probe: Spark try_cast('\\x7f7') = 7). The C1
    controls \\x85-\\x9f are multi-byte in UTF-8, outside trimAll's
    single-byte strip, so they stay NULL on both sides. Pinned in
    tests/test_round10_ops.py (control-char battery)."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return e.select(
        "event_id",
        k.try_cast("int").alias("k_val"),
        k.isNotNull().alias("has_k"),
    )


def _variant_int_sql(path: str) -> str:
    """DuckDB expression mirroring Spark's try_variant_get(.., 'int'):
    json_type-driven — booleans -> 1/0, exact integers -> value,
    doubles TRUNCATE toward zero (measured: variant 2.9 -> 2,
    -2.9 -> -2), strings parse only integral forms, everything else
    (object/array/json-null/overflow) -> NULL."""
    t = f"json_type(props, '{path}')"
    s = f"json_extract_string(props, '{path}')"
    return f"""CASE {t}
             WHEN 'BOOLEAN' THEN CASE {s} WHEN 'true' THEN 1 ELSE 0 END
             WHEN 'UBIGINT' THEN TRY_CAST({s} AS INT)
             WHEN 'BIGINT'  THEN TRY_CAST({s} AS INT)
             WHEN 'DOUBLE'  THEN TRY_CAST(trunc(TRY_CAST({s} AS DOUBLE)) AS INT)
             WHEN 'VARCHAR' THEN CASE WHEN regexp_matches({s}, '^[+-]?[0-9]+$')
                                      THEN TRY_CAST({s} AS INT) END
           END"""


def _variant_double_sql(path: str) -> str:
    """DuckDB expression mirroring Spark's try_variant_get(.., 'double'):
    booleans -> 1.0/0.0, numerics and numeric strings -> the double,
    object/array/json-null -> NULL."""
    t = f"json_type(props, '{path}')"
    s = f"json_extract_string(props, '{path}')"
    return f"""CASE {t}
             WHEN 'BOOLEAN' THEN CASE {s} WHEN 'true' THEN 1.0 ELSE 0.0 END
             WHEN 'UBIGINT' THEN TRY_CAST({s} AS DOUBLE)
             WHEN 'BIGINT'  THEN TRY_CAST({s} AS DOUBLE)
             WHEN 'DOUBLE'  THEN TRY_CAST({s} AS DOUBLE)
             WHEN 'VARCHAR' THEN TRY_CAST({s} AS DOUBLE)
           END"""


@register(
    "scalar_variant_funcs",
    oracle=f"""
    WITH p AS (
      SELECT event_id,
             CASE WHEN json_valid(props) THEN
               (CASE WHEN len(json_keys(props)) =
                          len(list_distinct(json_keys(props)))
                     THEN props END)
             END AS props
      FROM events
    )
    SELECT event_id,
           {_variant_int_sql('$.k')} AS k_int,
           {_variant_double_sql('$.k')} AS k_double,
           {_variant_int_sql('$.missing')} AS missing_int,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM p
    """,
)
def scalar_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface for semi-structured columns: parse_json
    once, then typed try_variant_get extractions (int/double), a miss
    returning NULL, and a presence check. The oracle states the same
    values via DuckDB's JSON accessors — the comparison is on extracted
    scalars, since the variant binary itself is engine-internal. At
    scale this is the shredded-access pattern: parse once per row,
    extract many, no re-parse per path.

    Malformed payloads (round-8 edge probe): try_parse_json -> NULL
    variant (parse_json is FAILFAST), mirrored by the oracle's
    json_valid pre-null — every extraction is NULL on both sides.

    Round-9 text-edge pins: (1) DUPLICATE top-level keys — Spark's
    variant builder rejects them (try_parse_json -> NULL) while
    DuckDB's json_valid accepts; the oracle adds a json_keys
    duplicate-detector to pre-null those rows too (nested duplicate
    keys are outside the pinned domain). (2) Typed extraction follows
    Spark's variant cast lattice, restated per json_type in the oracle
    (_variant_int_sql/_variant_double_sql): bool -> 1/0, double -> int
    truncates toward zero, strings parse integral-only for int but
    freely for double, object/array/json-null -> NULL. (3) k_int/
    k_double use try_variant_get — the non-try form RAISES on a
    non-numeric string k."""
    e = load(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.k", "double").alias("k_double"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_int"),
        F.variant_get(v, "$.k", "string").isNotNull().alias("has_k"),
    )


@register(
    "scalar_array_funcs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT)                 AS n_toks,
           CAST(len(list_distinct(toks)) AS INT)  AS n_unique,
           list_contains(toks, 'the')             AS has_the,
           list_sort(toks)[1]                     AS first_sorted,
           array_to_string(toks[1:3], ',')        AS first_three
    FROM t
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions: size/distinct/contains/sort/slice over the
    tokenized documents."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_contains(toks, "the").alias("has_the"),
        F.element_at(F.array_sort(toks), 1).alias("first_sorted"),
        F.array_join(F.slice(toks, 1, 3), ",").alias("first_three"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year  FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           CAST(EXTRACT(day   FROM o_orderdate) AS INT) AS order_day,
           DATE_TRUNC('month', o_orderdate)             AS order_month_start,
           CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT)
                                                        AS days_since_epoch95
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface: extract/date_trunc/datediff."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).alias("days_since_epoch95"),
    )


@register(
    "agg_corr_covar",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {dsum_sql("l_quantity")} AS sx,
             {dsum_sql("l_extendedprice")} AS sy,
             {dsum_sql("l_quantity * l_extendedprice")} AS sxy,
             {dsum_sql("l_quantity * l_quantity")} AS sx2,
             {dsum_sql("l_extendedprice * l_extendedprice")} AS sy2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           ((sxy - (sx * sy) / n) / n) AS covar_pop_qty_price,
           ((n * sxy - sx * sy)
            / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))) AS corr_qty_price
    FROM m
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance per return flag,
    built from exact decimal moments (sum x, y, xy, x^2, y^2) instead
    of the engines' native corr()/covar_pop() — whose streaming
    update formulas differ between Spark and DuckDB in the last ulps.
    From identical exact moments, the finishing arithmetic is the same
    IEEE expression on both sides, so the oracle is bit-exact. Overflow
    posture (round-7 audit): NO integer arithmetic anywhere — per-row
    products are IEEE doubles (identical in both engines), sums ride
    decimal(30,6) with a decimal(38,6) accumulator (headroom ~1e32;
    worst moment sy2 <= 1e10/row x 6e11 rows at sf100 ~ 6e21), and the
    finishing products (n*sxy etc.) are double ops on ~1e2x-magnitude
    values — nothing to wrap. The moment sums are one map-side-combined
    aggregation over the scan — the same single-pass shape the native
    functions use, at 100 TB just one shuffle of 3 groups x 5
    decimals."""
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sx2"),
        dsum(y * y).alias("sy2"),
    )
    n, sx, sy, sxy, sx2, sy2 = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sx2", "sy2"])
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        ((sxy - (sx * sy) / n) / n).alias("covar_pop_qty_price"),
        # try_divide: a zero-variance side (constant or single-row
        # group) zeroes the denominator — DuckDB float /0 is NULL,
        # ANSI Spark raises (round-8 edge probe)
        F.try_divide(
            n * sxy - sx * sy,
            F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy),
        ).alias("corr_qty_price"),
    )


@register(
    "lateral_top2_lineitems",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
    FROM orders o, LATERAL (
      SELECT l_linenumber, l_extendedprice
      FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber
      LIMIT 2
    ) l
    WHERE o.o_totalprice > 450000.0
    """,
)
def lateral_top2_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-standard per-row table
    expression): the two highest-value lineitems of every big order.
    Spark decorrelates the LIMIT-per-key subquery rather than running a
    nested loop, so the plan is a join + per-key top-k, not O(n*m);
    the windowed row_number form (window_top3_orders_per_customer) is
    the same shape written by hand. Exercises Spark's lateral-join
    planner, which none of the other catalog entries touch."""
    from ..sources.tables import sql_over_views

    return sql_over_views(
        spark,
        """
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM {orders} o JOIN LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM {lineitem}
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 2
        ) l
        WHERE o.o_totalprice > 450000.0
        """,
        orders=load(spark, sf_dir, "orders"),
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "agg_bitwise_funcs",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_orderkey) AS BIGINT) AS key_and,
           CAST(bit_or(l_orderkey) AS BIGINT) AS key_or,
           CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (BIT_AND / BIT_OR / BIT_XOR) — exact
    integer semantics, order-independent by construction, so no decimal
    discipline needed. Used in practice for permission masks and
    feature-flag rollups."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_orderkey").alias("key_and"),
        F.bit_or("l_orderkey").alias("key_or"),
        F.bit_xor("l_orderkey").alias("key_xor"),
        F.count("*").alias("n"),
    )


@register(
    "scan_format_twins",
    oracle="""
    SELECT n_nationkey, n_name AS name_csv, n_name AS name_json,
           n_name AS name_orc, n_regionkey
    FROM nation
    """,
)
def scan_format_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-format scan surface (SURVEY.md §2.7 row 1): the nation table
    round-trips through CSV (header + quoting), JSON lines, and ORC,
    and the three reads are equi-joined back together — if any format's
    writer/reader pair corrupted a value the join or the value hash
    would break. Explicit schemas on read (no inference) — the
    production posture, since inference costs an extra scan and can
    mis-type empty partitions.

    LOSSLESS-CSV config (round-9 text-edge probe — the defaults corrupt
    three value classes): (1) an embedded newline/CRLF is quoted by the
    writer but the DEFAULT reader (multiLine=false) splits the record —
    read with multiLine=true, accepting that a multiLine CSV file is
    not splittable (at scale you escape newlines upstream or use a
    columnar format; the twin demonstrates the correct config, not a
    recommendation to ship 100 TB as CSV); (2) '' and NULL both write
    as the empty field and read back as NULL — a '\\N' nullValue
    sentinel on write+read plus emptyValue='' on read keeps them
    distinct; (3) a LITERAL '\\N' string field is consequently
    unrepresentable (univocity null-converts it even when quoted) —
    the one documented out-of-domain value of the CSV leg."""
    import os
    import re

    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir.rstrip("/"))
    base = os.path.join("/tmp", "spark_graft_formats", tag)
    n.coalesce(1).write.mode("overwrite").option("header", True).option(
        "nullValue", "\\N"
    ).csv(os.path.join(base, "nation_csv"))
    n.coalesce(1).write.mode("overwrite").json(os.path.join(base, "nation_json"))
    n.coalesce(1).write.mode("overwrite").orc(os.path.join(base, "nation_orc"))
    schema = n.schema
    c = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(os.path.join(base, "nation_csv"))
    )
    j = spark.read.schema(schema).json(os.path.join(base, "nation_json"))
    o = spark.read.schema(schema).orc(os.path.join(base, "nation_orc"))
    return (
        c.select("n_nationkey", F.col("n_name").alias("name_csv"))
        .join(
            j.select("n_nationkey", F.col("n_name").alias("name_json")),
            "n_nationkey",
        )
        .join(
            o.select(
                "n_nationkey",
                F.col("n_name").alias("name_orc"),
                "n_regionkey",
            ),
            "n_nationkey",
        )
    )


@register(
    "join_right_outer_nation_suppliers",
    oracle=f"""
    SELECT n_name, {bigcount_sql("s_suppkey")} AS n_suppliers
    FROM supplier
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_right_outer_nation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join preserving nations with zero suppliers —
    completes the join-type surface (inner/left/right/full/semi/anti/
    cross all demonstrated). Catalyst plans it as the mirrored left
    outer with the small side broadcast."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "agg_skewness_kurtosis",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(q AS HUGEINT)) AS s1,
             SUM(CAST(q AS HUGEINT) * q) AS s2,
             SUM(CAST(q AS HUGEINT) * q * q) AS s3,
             SUM(CAST(q AS HUGEINT) * q * q * q) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
      GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, n,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS m1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n AS e2,
             CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / n AS e3,
             CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / n AS e4
      FROM s
    )
    SELECT l_returnflag, n,
           m1 AS mean_qty,
           (e2 - m1 * m1) AS var_pop,
           ((e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1)
             / ((e2 - m1 * m1) * sqrt(e2 - m1 * m1))) AS skewness,
           ((e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2 - 3.0 * m1 * m1 * m1 * m1)
             / ((e2 - m1 * m1) * (e2 - m1 * m1)) - 3.0) AS kurtosis_excess
    FROM m
    """,
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population skewness and excess kurtosis of l_quantity per
    return flag, from raw integer power sums: l_quantity is integral
    (1..50), so the PER-ROW powers are structurally bounded (q^4 <=
    6.25e6, trivially int64) and stay in long arithmetic, while the
    SUMS run wide — DECIMAL(38,0) here, HUGEINT in the oracle — because
    SUM(q^4) over N rows crosses int64 at N ~ 1.5e12 rows (~sf1000;
    round-7 wide-arithmetic audit — the round-6 theilsen overflow
    class). Wide sums are order-independent with map-side combine,
    unlike Spark's built-in skewness()/kurtosis() whose streaming
    central-moment updates are partition-order-dependent and formula-
    divergent from DuckDB's. Each exact sum converts through VARCHAR to
    a correctly-rounded double (identical in both engines, and
    bit-identical to the old BIGINT->DOUBLE path wherever that didn't
    overflow), then the standardized moments are identical row-level
    double arithmetic. One aggregate, no window."""
    l = load(spark, sf_dir, "lineitem")
    wide = "decimal(38,0)"
    q = F.col("l_quantity").cast("long")
    qc = F.col("q")
    s = l.select("l_returnflag", q.alias("q")).groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qc.cast(wide)).alias("s1"),
        F.sum((qc * qc).cast(wide)).alias("s2"),
        F.sum((qc * qc * qc).cast(wide)).alias("s3"),
        F.sum((qc * qc * qc * qc).cast(wide)).alias("s4"),
    )
    m = s.select(
        "l_returnflag",
        "n",
        (F.col("s1").cast("string").cast("double") / F.col("n")).alias("m1"),
        (F.col("s2").cast("string").cast("double") / F.col("n")).alias("e2"),
        (F.col("s3").cast("string").cast("double") / F.col("n")).alias("e3"),
        (F.col("s4").cast("string").cast("double") / F.col("n")).alias("e4"),
    )
    m1, e2, e3, e4 = F.col("m1"), F.col("e2"), F.col("e3"), F.col("e4")
    var = e2 - m1 * m1
    return m.select(
        "l_returnflag",
        "n",
        m1.alias("mean_qty"),
        var.alias("var_pop"),
        # try_divide: a zero-variance group (constant/single-row) makes
        # both denominators 0 — DuckDB float /0 is NULL, ANSI Spark
        # raises (round-8 edge probe)
        F.try_divide(
            e3 - F.lit(3.0) * m1 * e2 + F.lit(2.0) * m1 * m1 * m1,
            var * F.sqrt(var),
        ).alias("skewness"),
        (
            F.try_divide(
                e4
                - F.lit(4.0) * m1 * e3
                + F.lit(6.0) * m1 * m1 * e2
                - F.lit(3.0) * m1 * m1 * m1 * m1,
                var * var,
            )
            - F.lit(3.0)
        ).alias("kurtosis_excess"),
    )


@register(
    "profile_orders_columns",
    oracle="""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(o_orderkey) AS BIGINT) AS c0,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d0,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn0,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx0,
             CAST(COUNT(o_custkey) AS BIGINT) AS c1,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d1,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn1,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx1,
             CAST(COUNT(o_orderstatus) AS BIGINT) AS c2,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d2,
             MIN(o_orderstatus) AS mn2,
             MAX(o_orderstatus) AS mx2,
             CAST(COUNT(o_totalprice) AS BIGINT) AS c3,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS d3,
             CASE WHEN isnan(MIN(o_totalprice)) THEN 'nan'
                  WHEN MIN(o_totalprice) = 'infinity'::DOUBLE THEN 'inf'
                  WHEN MIN(o_totalprice) = '-infinity'::DOUBLE THEN '-inf'
                  WHEN abs(MIN(o_totalprice)) >= 1e16
                  THEN printf('%.6e', MIN(o_totalprice))
                  ELSE printf('%.2f', MIN(o_totalprice)) END AS mn3,
             CASE WHEN isnan(MAX(o_totalprice)) THEN 'nan'
                  WHEN MAX(o_totalprice) = 'infinity'::DOUBLE THEN 'inf'
                  WHEN MAX(o_totalprice) = '-infinity'::DOUBLE THEN '-inf'
                  WHEN abs(MAX(o_totalprice)) >= 1e16
                  THEN printf('%.6e', MAX(o_totalprice))
                  ELSE printf('%.2f', MAX(o_totalprice)) END AS mx3,
             CAST(COUNT(o_orderdate) AS BIGINT) AS c4,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d4,
             CAST(epoch_us(MIN(o_orderdate)) AS VARCHAR) AS mn4,
             CAST(epoch_us(MAX(o_orderdate)) AS VARCHAR) AS mx4,
             CAST(COUNT(o_orderpriority) AS BIGINT) AS c5,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d5,
             MIN(o_orderpriority) AS mn5,
             MAX(o_orderpriority) AS mx5
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n AS n_rows, n - c0 AS n_nulls,
           d0 AS n_distinct, mn0 AS min_repr, mx0 AS max_repr FROM a
    UNION ALL SELECT 'o_custkey', n, n - c1, d1, mn1, mx1 FROM a
    UNION ALL SELECT 'o_orderstatus', n, n - c2, d2, mn2, mx2 FROM a
    UNION ALL SELECT 'o_totalprice', n, n - c3, d3, mn3, mx3 FROM a
    UNION ALL SELECT 'o_orderdate', n, n - c4, d4, mn4, mx4 FROM a
    UNION ALL SELECT 'o_orderpriority', n, n - c5, d5, mn5, mx5 FROM a
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (the engine's DESCRIBE/df.summary twin,
    deterministic enough to oracle-check): per column, null count,
    exact distinct count, and min/max in a portable string repr —
    BIGINTs via CAST, doubles via printf (catalog.py formatting
    discipline), timestamps as epoch microseconds. ONE scan computes
    every column's metrics (Catalyst expands the multi-DISTINCT into
    one pass per distinct set, all sharing the scan), then the single
    aggregate row unfolds into one row per column via inline explode —
    no per-column jobs, unlike a naive profiler loop."""
    o = load(spark, sf_dir, "orders")
    n = F.count("*")

    def m(c, reprer):
        col = F.col(c)
        return [
            (n - F.count(col)).alias(f"nn_{c}"),
            F.count_distinct(col).alias(f"nd_{c}"),
            reprer(F.min(col)).alias(f"mn_{c}"),
            reprer(F.max(col)).alias(f"mx_{c}"),
        ]

    as_str = lambda x: x.cast("string")
    # when-guards: Java's Formatter renders a NULL argument as the STRING
    # "null" (precision-truncated — '%.2f' of NULL prints 'nu'!) while
    # DuckDB's printf propagates NULL (round-8 empty-fixture probe);
    # non-finite renderings diverge three ways (Java 'NaN'/'-Infinity',
    # DuckDB 'nan'/'-inf'), pinned to the Python str() forms (round-9);
    # |x| >= 1e16 renders %.6e — fixed-notation %.2f of a huge double is
    # NOT portable (Java prints the shortest repr's zeros, C/DuckDB the
    # exact binary expansion: 1e300 diverges at digit 17), while 7
    # significant digits are correctly-rounded identically in both
    as_2f = lambda x: (
        F.when(F.isnan(x), F.lit("nan"))
        .when(x == F.lit(float("inf")), F.lit("inf"))
        .when(x == F.lit(float("-inf")), F.lit("-inf"))
        .when(F.abs(x) >= F.lit(1e16), F.format_string("%.6e", x))
        .when(x.isNotNull(), F.format_string("%.2f", x))
    )
    as_us = lambda x: F.unix_micros(x.cast("timestamp")).cast("string")
    ident = lambda x: x
    specs = [
        ("o_orderkey", as_str),
        ("o_custkey", as_str),
        ("o_orderstatus", ident),
        ("o_totalprice", as_2f),
        ("o_orderdate", as_us),
        ("o_orderpriority", ident),
    ]
    aggs = [n.alias("n_rows")]
    for c, r in specs:
        aggs.extend(m(c, r))
    one = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_repr"),
                F.col(f"mx_{c}").alias("max_repr"),
            )
            for c, _ in specs
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


@register(
    "agg_winsorized_mean",
    oracle=f"""
    WITH th AS (
      -- any-NaN => NaN thresholds (the agg_percentiles pin); the
      -- clip then degenerates to NaN and the mean propagates, same
      -- as Spark. least/greatest with NaN/Inf are engine-identical.
      -- Explicit interpolation (pctile_sql), not quantile_cont —
      -- the tied-bracketing-values ulp drift (round-10 probe).
      SELECT CASE WHEN nan_n > 0 THEN 'nan'::DOUBLE
                  ELSE {pctile_sql("vs", "0.05")} END AS lo,
             CASE WHEN nan_n > 0 THEN 'nan'::DOUBLE
                  ELSE {pctile_sql("vs", "0.95")} END AS hi
      FROM (
        SELECT list(o_totalprice ORDER BY o_totalprice)
                 FILTER (o_totalprice IS NOT NULL
                         AND NOT isnan(o_totalprice)) AS vs,
               COUNT(CASE WHEN isnan(o_totalprice) THEN 1 END) AS nan_n
        FROM orders
      )
    )
    SELECT lo, hi, {bigcount_sql()} AS n_orders,
           ({dsum_sql("least(greatest(o_totalprice, lo), hi)")} / COUNT(*))
             AS winsorized_mean
    FROM orders CROSS JOIN th
    GROUP BY lo, hi
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean — the outlier-robust aggregate a feature pipeline
    uses before normalization: clip to the exact [p5, p95] band, then
    average. Two passes by necessity (thresholds, then clip): the 1-row
    threshold relation broadcasts onto the scan, the clip is a per-row
    least/greatest (identical IEEE ops both engines), and the clipped
    sum rides the decimal discipline. Thresholds use the explicit
    interpolation oracle (catalog.pctile_sql — see agg_percentiles for
    the tied-values divergence quantile_cont carries)."""
    from ..catalog import dsum

    o = load(spark, sf_dir, "orders")
    q_nan = F.count(F.when(F.isnan(F.col("o_totalprice")), F.lit(1)))
    guard = lambda q: (  # noqa: E731 — the agg_percentiles NaN pin
        F.when(q_nan > 0, F.lit(float("nan"))).otherwise(q)
    )
    th = o.agg(
        guard(
            F.expr("percentile(CASE WHEN NOT isnan(o_totalprice) "
                   "THEN o_totalprice END, 0.05)")
        ).alias("lo"),
        guard(
            F.expr("percentile(CASE WHEN NOT isnan(o_totalprice) "
                   "THEN o_totalprice END, 0.95)")
        ).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        o.crossJoin(F.broadcast(th))
        .groupBy("lo", "hi")
        .agg(
            F.count("*").alias("n_orders"),
            (dsum(clipped) / F.count("*")).alias("winsorized_mean"),
        )
        .select("lo", "hi", "n_orders", "winsorized_mean")
    )


# Per-order pair builders (copurchase/graph family) are quadratic in
# DISTINCT PARTS PER ORDER: one degenerate 20k-item basket makes 4e8
# pair rows out of a 6M-row table (measured: the round-9 hot-key probe
# killed pagerank's 4g JVM with exactly this shape). Baskets above the
# cap carry no usable affinity signal (every pair's support ~1), so all
# five pair-building plans exclude them ON BOTH SIDES. Clean fixtures
# top out at 7 lineitems per order — the cap changes nothing there.
_BASKET_CAP = 200

_LI_CAPPED_SQL = f"""
      SELECT l_orderkey, l_partkey
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {_BASKET_CAP}
"""


def _basket_capped(li: DataFrame) -> DataFrame:
    """Drop orders with more than _BASKET_CAP distinct parts from a
    distinct (l_orderkey, l_partkey) relation. Shape: a map-side-
    combined per-order count, filtered to the (almost always EMPTY)
    oversized-key list, broadcast back as an anti-join — much cheaper
    than a windowed count, which would shuffle every ROW by order key
    (measured +38% on the 10x uniform copurchase run); the count
    aggregate ships one row per order and the anti-join stays local."""
    hot = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("__bsz"))
        .filter(F.col("__bsz") > _BASKET_CAP)
        .select("l_orderkey")
    )
    return li.join(F.broadcast(hot), "l_orderkey", "left_anti")


def _li_pairs_capped(spark: SparkSession, sf_dir: str, mod: int = 1) -> DataFrame:
    """Session-shared basket-capped distinct (l_orderkey, l_partkey)
    relation — the common input of all five co-purchase pair/graph
    builders (copurchase lift at mod=1; pagerank/triangles at mod=4;
    k-core/BFS at mod=32), persisted once per (session, mod) via the
    family registry instead of rebuilt per plan.

    Round-10 A/B (heavy-subset reps, quiet-host runs at sf0.1): the
    round-9 basket cap cost ~0.7-0.9s on EACH of the five plans — not
    because the hot-list aggregate is expensive, but because it
    re-derived the plan's unpersisted ``distinct()`` a second time
    (hot-list branch + anti-join branch = two distinct shuffles per
    plan where round 8 paid one). Hoisting the whole capped relation
    into the family cache pays the distinct+cap once per mod per
    session; every consumer — including each plan's OWN second/third
    references (self-join sides, item counts) — reads the persisted
    rows. 100 TB posture: the cached relation is two narrow key
    columns, smaller than any of its consumers' shuffles; the hot list
    itself stays a broadcast-sized aggregate."""

    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem")
        if mod > 1:
            li = li.filter(F.col("l_orderkey") % mod == 0)
        return _basket_capped(
            li.select("l_orderkey", "l_partkey").distinct()
        )

    return C.family(spark, f"graph.li_capped.mod{mod}", sf_dir, build)


@register(
    "copurchase_part_pairs_lift",
    oracle=f"""
    WITH li AS ({_LI_CAPPED_SQL}
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS pair_n
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT p1, p2, pair_n FROM pairs
      ORDER BY pair_n DESC, p1, p2 LIMIT 20
    ),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS item_n FROM li GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li)
    SELECT t.p1, t.p2, t.pair_n,
           (CAST(t.pair_n AS DOUBLE) * n.n_orders)
             / (CAST(i1.item_n AS DOUBLE) * i2.item_n) AS lift
    FROM top t
    JOIN item i1 ON i1.l_partkey = t.p1
    JOIN item i2 ON i2.l_partkey = t.p2
    CROSS JOIN n
    """,
)
def copurchase_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-20 co-purchased part pairs by support,
    with lift = P(a,b) / (P(a) P(b)) from exact order-level counts. The
    pair generation is an equi-self-join on the order key — pairs only
    form WITHIN an order, so output is sum(k_i^2) over basket sizes,
    never corpus-quadratic — and the lift enrichment joins the tiny
    top-20 relation against broadcast item counts AFTER the TakeOrdered
    cap, not before. Exact integer counts; one double expression at the
    end, identical both engines. The distinct (order, part) relation
    feeds four plan branches (both self-join sides, item counts, order
    count) — read from the shared family cache (_li_pairs_capped) so
    its dedup shuffle and basket cap run once per session."""
    li = _li_pairs_capped(spark, sf_dir)
    a, b = li.alias("a"), li.alias("b")
    top = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("pair_n"))
        .orderBy(F.desc("pair_n"), "p1", "p2")
        .limit(20)
    )
    item = li.groupBy("l_partkey").agg(F.count("*").alias("item_n"))
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    return (
        top.join(
            F.broadcast(item.withColumnRenamed("l_partkey", "p1")
                        .withColumnRenamed("item_n", "i1")),
            "p1",
        )
        .join(
            F.broadcast(item.withColumnRenamed("l_partkey", "p2")
                        .withColumnRenamed("item_n", "i2")),
            "p2",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "pair_n",
            (
                (F.col("pair_n").cast("double") * F.col("n_orders"))
                / (F.col("i1").cast("double") * F.col("i2"))
            ).alias("lift"),
        )
    )


# PageRank over the co-purchase graph: 3 unrolled iterations make the
# classically-iterative algorithm oracle-checkable (the DuckDB twin
# unrolls the same 3 steps as CTEs). Order-independence of the
# contribution sum does NOT use the decimal cast (double->decimal
# rounding proved engine-divergent at every scale tried — Spark casts
# via the string repr, DuckDB from the exact binary): instead each
# contribution is quantized to an exact INTEGER via floor(c*1e12+0.5)
# — multiply, add, floor are single IEEE ops, bit-identical in both
# engines — and BIGINTs sum exactly in any order. One int->double
# conversion (correctly rounded, identical) scales back per iteration.
_PR_SCALE = 1_000_000_000_000.0  # 1e12: quantization error 5e-13/term
_PR_ITERS = 3


def _pr_isum(c):
    # The SUM accumulates in DECIMAL(38,0), not long: DuckDB's SUM(BIGINT)
    # already widens to HUGEINT, so a long accumulator here would be the
    # one asymmetric overflow site (a hub receiving >= ~9.2e6 rank mass —
    # pathological star topology — wraps int64 at scale 1e12 while the
    # oracle sails on). Per-row floor(c*1e12+0.5) is long on BOTH sides
    # (the oracle's CAST(floor(..) AS BIGINT) shares the bound
    # symmetrically): one contribution c = r/d wraps only past rank
    # 9.2e6 on a single edge — beyond pathological. The exact
    # sum converts through VARCHAR to one correctly-rounded double —
    # bit-identical to the old long->double path wherever that fit
    # (round-7 wide-arithmetic audit).
    return (
        F.sum(F.floor(c * F.lit(_PR_SCALE) + F.lit(0.5)).cast("decimal(38,0)"))
        .cast("string")
        .cast("double")
        / F.lit(_PR_SCALE)
    )


def _pr_isum_sql(e: str) -> str:
    return (
        f"(CAST(CAST(SUM(CAST(floor(({e}) * {_PR_SCALE} + 0.5) AS BIGINT))"
        f" AS VARCHAR) AS DOUBLE) / {_PR_SCALE})"
    )


def _pr_it_sql(prev: str) -> str:
    return (
        f"SELECT e.dst AS id, 0.15 + 0.85 * {_pr_isum_sql('r.r / deg.d')} AS r "
        f"FROM edges e JOIN {prev} r ON r.id = e.src "
        f"JOIN deg ON deg.src = e.src GROUP BY e.dst"
    )


@register(
    "pagerank_copurchase_top20",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 4 = 0)
      QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {_BASKET_CAP}
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) AS r FROM deg),
    it1 AS ({_pr_it_sql("r0")}),
    it2 AS ({_pr_it_sql("it1")}),
    it3 AS ({_pr_it_sql("it2")})
    SELECT id AS part_id, r AS pagerank,
           CAST(ROW_NUMBER() OVER (ORDER BY r DESC, id) AS INT) AS rank
    FROM it3 QUALIFY rank <= 20
    """,
)
def pagerank_copurchase_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (3 fixed iterations, damping 0.85) over the
    co-purchase part graph of a 25% order sample — the influence/
    centrality kernel, here surfacing the most basket-connected parts.
    Iterative graph algorithms usually defeat SQL oracles; FIXED
    iteration counts don't: the DuckDB twin unrolls the same three
    steps, and integer-quantized contribution sums (floor(c*1e12+0.5),
    summed as exact BIGINTs) make every iteration order-independent
    AND engine-identical, so the final ranks are bit-exact. Per iteration:
    one join of the (node,rank) relation onto the edge list + one
    shuffle on dst — the standard scale shape (edges never move; ranks
    do). The rank-relation join carries NO broadcast hint: AQE
    broadcasts while ranks fit and falls back to a shuffle join at
    node counts where they don't. The top-20 is TakeOrderedAndProject
    (per-partition top-k, driver merge of 20-row heads — O(n) with no
    range exchange, persist, or window; round 5 replaced the two-pass
    distributed rank here, which is the right kernel for FULL rankings
    but overkill for a constant k) + the catalog's standard sort-
    aggregate (collect_list -> array_sort -> posexplode over the 20
    survivors) for the dense rank column, so no partition-less window
    enters the plan. The symmetric graph has no dangling nodes, so no
    teleport-mass correction term is needed."""
    li = _li_pairs_capped(spark, sf_dir, mod=4)
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    edges = C.ephemeral(edges)
    deg = C.ephemeral(edges.groupBy("src").agg(F.count("*").alias("d")))
    r = deg.select(F.col("src").alias("id"), F.lit(1.0).alias("r"))
    for _ in range(_PR_ITERS):
        # no explicit broadcast hint on the (node,rank) relation: one
        # row per node, so at 100x scale it outgrows broadcast — AQE
        # picks broadcast while it fits and degrades to a shuffle join
        # gracefully (deg is the same cardinality; same reasoning)
        contrib = (
            edges.join(r.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("d")).alias("c"))
        )
        r = contrib.groupBy(F.col("dst").alias("id")).agg(
            (F.lit(0.15) + F.lit(0.85) * _pr_isum(F.col("c"))).alias("r")
        )
    # truncate lineage ONCE after the fixed unroll (node-sized relation):
    # the ranking stage fans the rank relation into several plan branches
    # — including broadcast builds, where re-executing the untruncated
    # 3-iteration tree OOMs the driver-side build thread. A single eager
    # checkpoint materializes the tree exactly once; per-round
    # checkpoints would cost one blocking job per iteration for no
    # additional safety at this fixed depth (unbounded-iteration loops
    # like connected_components DO need per-round truncation).
    r = r.localCheckpoint()
    # negated r as the leading sort field turns (r DESC, id ASC) into
    # one ascending lexicographic struct sort; r >= 0.15 so the negate
    # can't manufacture a -0.0
    take = r.orderBy(F.col("r").desc(), F.col("id")).limit(20)
    packed = take.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("r")).alias("nr"), "id", "r"))
        ).alias("a")
    )
    return packed.select(F.posexplode("a").alias("pos", "s")).select(
        F.col("s.id").alias("part_id"),
        F.col("s.r").alias("pagerank"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


@register(
    "stats_chi2_status_priority",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    margins AS (
      SELECT s, p, o,
             CAST(SUM(o) OVER (PARTITION BY s) AS BIGINT) AS row_n,
             CAST(SUM(o) OVER (PARTITION BY p) AS BIGINT) AS col_n,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells
    ),
    contrib AS (
      SELECT s, p, o,
             (CAST(row_n AS DOUBLE) * col_n / n) AS e
      FROM margins
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           {dsum_sql("(o - e) * (o - e) / e")} AS chi2
    FROM contrib
    """,
)
def stats_chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the status x priority
    contingency table — the categorical-association test a feature-
    selection pass runs over candidate columns. Observed counts are one
    hash aggregate; expected counts come from margin windows over the
    TABLE-SIZED cell relation (15 rows here — the windows never touch
    the raw data); the final statistic is a decimal-disciplined sum of
    per-cell (o-e)^2/e terms, so the single output row is bit-exact.
    Overflow posture (round-7 audit): the only BIGINTs are counts
    (cells/margins/total, each bounded by the table row count <= ~1.5e14
    at sf100k); every product — row_n*col_n inside e, (o-e)^2 — runs in
    double AFTER an int64->double conversion that both engines round
    identically. No BIGINT products exist.
    At scale: one shuffle for the cells, everything after is
    cardinality-of-categories work."""
    from ..catalog import dsum

    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    cells = o.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count("*").alias("o"))
    # grand total via an aggregate + broadcast cross join, not
    # SUM() OVER () — a global window funnels to one partition
    n_tot = cells.agg(F.sum("o").alias("n"))
    margins = cells.select(
        "s", "p", "o",
        F.sum("o").over(Window.partitionBy("s")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("p")).alias("col_n"),
    ).crossJoin(F.broadcast(n_tot))
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    contrib = margins.select(
        "s", "p", "o", e.alias("e")
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return contrib.agg(
        F.count("*").alias("n_cells"),
        dsum(term).alias("chi2"),
    )


@register(
    "latency_ship_days_histogram",
    oracle="""
    SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT) AS ship_days,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def latency_ship_days_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution in whole days — the
    fulfillment-SLA histogram. One fact-fact equi-join on the order key
    (AQE picks broadcast vs shuffled by size) and one small aggregate;
    the date arithmetic is exact integer day-diff on both engines."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("int")
            .alias("ship_days")
        )
        .agg(F.count("*").alias("n_lineitems"))
    )


@register(
    "pareto_abc_parts_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    -- a part with non-finite revenue has no defined rank position in a
    -- cumulative-share ladder: excluded on both sides (round-9 pin),
    -- and the grand total is over the ranked (finite) parts
    -- double->decimal through VARCHAR (round-10; see dsum_sql): the
    -- direct cast scales in binary and a 9e22 revenue lands ~6e6 off
    -- Spark's string-exact decimal — visible here because the
    -- cumulative ladder re-exposes the decimals through a division
    revf AS (SELECT * FROM rev WHERE isfinite(revenue)),
    tot AS (SELECT CAST(CAST(SUM(CAST(CAST(revenue AS VARCHAR)
                                      AS DECIMAL(30,6))) AS VARCHAR)
                   AS DOUBLE) AS t FROM revf),
    ranked AS (
      SELECT l_partkey, revenue,
             CAST(CAST(SUM(CAST(CAST(revenue AS VARCHAR)
                                AS DECIMAL(30,6))) OVER (
                   ORDER BY revenue DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS VARCHAR) AS DOUBLE) AS cum_rev,
             t
      FROM revf CROSS JOIN tot
    )
    SELECT l_partkey, revenue,
           (cum_rev / t) AS cum_share,
           CASE WHEN cum_rev / t <= 0.80 THEN 'A'
                WHEN cum_rev / t <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def pareto_abc_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification: parts ranked by discounted revenue,
    running share of the total, classed A (first 80%), B (to 95%),
    C (tail) — the inventory-prioritization report, and the
    ratio-to-report window pattern in one query. Revenue reduces to one
    row per part BEFORE the cumulative sum (part-count-sized input),
    and the running total is the TWO-PASS distributed cumsum
    (operators/ranking.py) — per-range-partition decimal cumsums plus
    broadcast partition offsets, no single-partition window even over
    the dimension-sized relation. The revenue sums, the grand total,
    AND the cumulative sum all ride the decimal discipline — DuckDB
    evaluates window frames with a segment tree (arbitrary add order),
    so a double cumsum drifts ulps even over pre-rounded values
    (measured here; the windows-module rule re-confirmed); decimal
    addition is order-free, so the offset+local split is exact too."""
    from ..catalog import dsum
    from ..operators.ranking import distributed_cumsum

    l = load(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rev = l.groupBy("l_partkey").agg(dsum(amount).alias("revenue"))
    # mirror of the oracle's revf/tot: only finite-revenue parts rank,
    # and the total is over them; try_divide for the all-zero case
    revf = rev.filter(is_finite(F.col("revenue")))
    tot = revf.agg(
        F.sum(F.col("revenue").cast("decimal(30,6)"))
        .cast("string")
        .cast("double")
        .alias("t")
    )
    share = F.try_divide(F.col("cum_rev"), F.col("t"))
    cum = distributed_cumsum(
        revf.crossJoin(F.broadcast(tot)),
        [F.col("revenue").desc(), F.col("l_partkey")],
        F.col("revenue").cast("decimal(30,6)"),
        cum_col="__cum_dec",
    )
    return (
        cum.withColumn("cum_rev", F.col("__cum_dec").cast("string").cast("double"))
        .select(
            "l_partkey",
            "revenue",
            share.alias("cum_share"),
            F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(
                "abc_class"
            ),
        )
    )


@register(
    "gini_customer_revenue",
    oracle=f"""
    WITH cents AS (
      SELECT o_custkey,
             CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x,
             ROW_NUMBER() OVER (ORDER BY x NULLS LAST, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM cents
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           (CAST(CAST(SUM(CAST(2 * i - n - 1 AS DECIMAL(19,0))
                          * CAST(x AS DECIMAL(19,0)))
                      AS VARCHAR) AS DOUBLE)
            / CAST(CAST(SUM(CAST(n AS DECIMAL(19,0))
                            * CAST(x AS DECIMAL(19,0)))
                        AS VARCHAR) AS DOUBLE)) AS gini
    FROM ranked GROUP BY n
    """,
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the concentration metric
    behind whale analysis, computed bit-exact via ALL-INTEGER
    arithmetic: order totals become exact cents (floor(x*100+0.5)
    recovers the 2-dp value exactly), rank weights (2i-n-1) are ints,
    and both Gini sums run in DECIMAL(38,0) (exact at any size; a raw
    BIGINT sum would overflow near ~1e18). Only the FINAL division
    touches doubles — two correctly-rounded conversions and one IEEE
    divide, identical in both engines. One aggregate + one
    customer-sized ranking window. Ties in x leave the statistic
    invariant (the tied block's weight sum is permutation-free);
    the (x, custkey) tiebreak pins the per-row table anyway. The rank
    and the customer count come from the two-pass distributed
    ROW_NUMBER (operators/ranking.py) — no single-partition window
    over the customer relation."""
    from ..operators.ranking import distributed_row_number

    o = load(spark, sf_dir, "orders")
    cents_rel = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("x")
    )
    ranked = distributed_row_number(
        cents_rel,
        [F.col("x").asc_nulls_last(), F.col("o_custkey")],
        rn_col="i",
        total_col="n",
    ).select("x", F.col("i").cast("bigint"), F.col("n").cast("bigint"))
    # each factor goes to DECIMAL(19,0) BEFORE the multiply (product =
    # DECIMAL(38,0), exact): a BIGINT product would silently wrap in
    # Spark at very large n*x while DuckDB errors
    num = F.sum(
        (2 * F.col("i") - F.col("n") - 1).cast("decimal(19,0)")
        * F.col("x").cast("decimal(19,0)")
    ).cast("string").cast("double")
    den = F.sum(
        F.col("n").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
    ).cast("string").cast("double")
    return ranked.groupBy("n").agg(F.try_divide(num, den).alias("gini")).select(
        F.col("n").alias("n_customers"), "gini"
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 4 = 0)
      QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {_BASKET_CAP}
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      FROM e e1
      JOIN e e2 ON e2.p1 = e1.p2
      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT (SELECT CAST(COUNT(DISTINCT p) AS BIGINT)
            FROM (SELECT p1 AS p FROM e UNION SELECT p2 FROM e)) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the sampled co-purchase part graph — the
    clustering-coefficient kernel of graph analytics (community
    density, spam/bot detection). Uses the canonical ordered-edge
    formulation: edges stored once with p1 < p2, triangles found by two
    equi-joins (a<b<c by construction, each triangle counted exactly
    once) — never an all-pairs explosion; at scale both joins shuffle
    on a node key and the heaviest hitter is bounded by max degree
    (degree-based edge orientation is the standard skew fix and drops
    in here unchanged). Edge relation persisted: it feeds both join
    sides and the node/edge counts."""
    li = _li_pairs_capped(spark, sf_dir, mod=4)
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    e = C.ephemeral(e)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")),
        )
    )
    nodes = (
        e.select(F.col("p1").alias("p"))
        .union(e.select(F.col("p2").alias("p")))
        .agg(F.count_distinct("p").alias("n_nodes"))
    )
    counts = tri.agg(F.count("*").cast("bigint").alias("n_triangles"))
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(counts))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            "n_edges",
            "n_triangles",
        )
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey)) AS orphan_orders,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
      (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
        (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
        AS duplicate_orderkeys,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
       WHERE o_custkey IS NULL OR o_orderdate IS NULL OR o_totalprice IS NULL)
        AS null_critical_fields
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: the referential/uniqueness/null assertions a
    pipeline runs before promoting a snapshot — orphan orders (customer
    FK broken), orphan lineitems (order FK broken), duplicated primary
    keys, and null critical fields, in one row. FK probes are LEFT ANTI
    joins (broadcast when the dimension fits, shuffle otherwise — AQE's
    call); PK uniqueness is one hash aggregate. The healthy fixture
    yields zeros, which is exactly the assertion — a nonzero is the
    broken-pipeline signal."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    l = load(spark, sf_dir, "lineitem")
    n_orders = o.agg(F.count("*").cast("bigint").alias("n_orders"))
    orphan_o = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").cast("bigint").alias("orphan_orders"))
    )
    orphan_l = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").cast("bigint").alias("orphan_lineitems"))
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
            .cast("bigint")
            .alias("duplicate_orderkeys")
        )
    )
    nulls = o.agg(
        # count(), not sum(when): the oracle's COUNT(*) is 0 on an empty
        # table where SUM is NULL (round-8 empty-fixture probe)
        F.count(
            F.when(
                F.col("o_custkey").isNull()
                | F.col("o_orderdate").isNull()
                | F.col("o_totalprice").isNull(),
                1,
            )
        )
        .cast("bigint")
        .alias("null_critical_fields")
    )
    return (
        n_orders.crossJoin(F.broadcast(orphan_o))
        .crossJoin(F.broadcast(orphan_l))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(nulls))
    )


_BLOOM_M = 1024  # bits
_BLOOM_K = 3  # hash functions
_BLOOM_W = 32  # bits per word (NOT 64: DuckDB 1<<63 overflows BIGINT)


def _bloom_pos_sql(key_expr: str) -> str:
    """SQL: md5(j||':'||key) folded to a bit position in [0, M)."""
    md5 = f"md5(CAST(j AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR))"
    terms = " + ".join(
        f"CAST((strpos('0123456789abcdef', substring({md5}, {p + 1}, 1)) - 1)"
        f" AS BIGINT) * {16 ** (7 - p)}"
        for p in range(8)
    )
    return f"(({terms}) % {_BLOOM_M})"


def _bloom_pos(key, j) -> F.Column:
    h = F.conv(
        F.substring(
            F.md5(F.concat(j.cast("string"), F.lit(":"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return h % _BLOOM_M


@register(
    "bloom_filter_semijoin_prune",
    oracle=f"""
    WITH seg AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), ks AS (
      SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j
    ), bloom AS (
      SELECT {_bloom_pos_sql('c_custkey')} // {_BLOOM_W} AS word,
             CAST(bit_or(CAST(1 AS BIGINT)
                         << ({_bloom_pos_sql('c_custkey')} % {_BLOOM_W}))
                  AS BIGINT) AS bits
      FROM seg CROSS JOIN ks GROUP BY 1
    ), probe AS (
      SELECT o.o_orderkey, o.o_custkey,
             {_bloom_pos_sql('o_custkey')} // {_BLOOM_W} AS word,
             {_bloom_pos_sql('o_custkey')} % {_BLOOM_W} AS bit
      FROM orders o CROSS JOIN ks
    ), verdict AS (
      SELECT p.o_orderkey, p.o_custkey,
             bool_and((b.bits & (CAST(1 AS BIGINT) << p.bit)) <> 0) AS pass
      FROM probe p LEFT JOIN bloom b ON b.word = p.word
      GROUP BY 1, 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE EXISTS (SELECT 1 FROM seg s WHERE s.c_custkey = o.o_custkey))
             AS n_true_match,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE EXISTS (SELECT 1 FROM seg s WHERE s.c_custkey = o.o_custkey))
             AS n_false_positives
    FROM verdict
    """,
)
def bloom_filter_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning, built from first principles so
    every register is oracle-checkable: a 1024-bit / 3-hash filter over
    the BUILDING-segment customer keys (32x32-bit words via bit_or —
    the mergeable bitmap aggregate), probed by every order with a
    3-way bit test. Output row pins n_bloom_pass against the exact
    semi-join count — the false-positive overhead is the price of
    skipping the shuffle, and the filter NEVER misses a true match
    (bool_and over set bits; missing word = fail). This is the
    structure behind Spark's own runtime row-group skipping
    (spark.sql.optimizer.runtime.bloomFilter): at 100 TB the 128-byte
    filter broadcasts to every scan task and prunes fact rows BEFORE
    the join shuffle. Exact integer/bit arithmetic end to end."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders")
    ks = F.array([F.lit(i) for i in range(_BLOOM_K)])
    seg = c.select("c_custkey")
    build = seg.select(
        "c_custkey", F.explode(ks).alias("j")
    ).select(
        (_bloom_pos(F.col("c_custkey"), F.col("j")) / _BLOOM_W)
        .cast("long")
        .alias("word"),
        (_bloom_pos(F.col("c_custkey"), F.col("j")) % _BLOOM_W).alias("bit"),
    )
    bloom = build.groupBy("word").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("bits")
    )
    probe = o.select("o_orderkey", "o_custkey", F.explode(ks).alias("j")).select(
        "o_orderkey",
        "o_custkey",
        (_bloom_pos(F.col("o_custkey"), F.col("j")) / _BLOOM_W)
        .cast("long")
        .alias("word"),
        (_bloom_pos(F.col("o_custkey"), F.col("j")) % _BLOOM_W).alias("bit"),
    )
    verdict = (
        probe.join(F.broadcast(bloom), "word", "left")
        .select(
            "o_orderkey",
            # SQL-level & is bitwise for integrals (PySpark Column & is
            # logical AND, hence the expr)
            F.expr(
                "(coalesce(bits, CAST(0 AS BIGINT))"
                " & shiftleft(CAST(1 AS BIGINT), bit)) <> 0"
            ).alias("hit"),
        )
        .groupBy("o_orderkey")
        .agg(F.min("hit").alias("pass"))  # bool_and
    )
    n_orders = o.agg(F.count("*").cast("bigint").alias("n_orders"))
    n_pass = verdict.agg(
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pass")
    )
    n_true = (
        o.join(seg, o["o_custkey"] == seg["c_custkey"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_true_match"))
    )
    return (
        n_orders.crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_orders",
            "n_bloom_pass",
            "n_true_match",
            (F.col("n_bloom_pass") - F.col("n_true_match")).alias(
                "n_false_positives"
            ),
        )
    )


_Z_BITS = 8  # bits per dimension -> 16-bit z-value


def _zval_sql(x: str, y: str) -> str:
    # every term fully parenthesized: SQL << binds LOOSER than +, so an
    # unwrapped `a << 2 + b << 3` parses as `a << (2 + b) << 3`
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _zval(x: F.Column, y: F.Column) -> F.Column:
    # & 1, NOT % 2: for a NEGATIVE coordinate Spark's truncated % gives
    # {-1, 0} where the oracle's & gives {0, 1} (round-8 time-edge
    # probe: pre-1992 order dates flipped the whole z-value's sign).
    # Coordinates are pmod-normalized below, so this is defense in
    # depth, not the primary guard.
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


@register(
    "zorder_locality_stats",
    oracle=f"""
    WITH q AS (
      SELECT o_orderkey,
             CAST(((o_custkey % 256) + 256) % 256 AS BIGINT) AS qx,
             CAST(((date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) % 256) + 256) % 256
                  AS BIGINT) AS qy
      FROM orders
    ), z AS (
      SELECT o_orderkey, qx, qy, {_zval_sql('qx', 'qy')} AS zval FROM q
    )
    SELECT zval // 256 AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT qx) AS BIGINT) AS n_cust_slots,
           CAST(COUNT(DISTINCT qy) AS BIGINT) AS n_day_slots,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max
    FROM z GROUP BY 1
    """,
)
def zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day): the
    bit-interleaved layout key under Delta/Iceberg OPTIMIZE ZORDER —
    rows close in BOTH dimensions land in the same z-range, so
    min/max file statistics prune multi-predicate scans. Pure integer
    bit arithmetic (8 bits/dim interleaved by literal shifts —
    identical in both engines), then per-z-bucket locality stats:
    each 256-wide z-bucket touches only a narrow band of customer
    slots AND day slots simultaneously (the whole point of the curve;
    a single-column sort would give one narrow and one full-width
    dimension). The write path is
    df.repartitionByRange(zval).sortWithinPartitions(zval).write — the
    stats here are what makes that layout's file skipping effective."""
    o = load(spark, sf_dir, "orders")
    # pmod, not %: a z-order slot index must land in [0, 256) — a
    # pre-1992 order date (or negative key) would otherwise produce a
    # NEGATIVE slot whose sign-extended bits wreck the interleave
    # (round-8 time-edge probe); identical double-mod in the oracle
    qx = F.pmod(F.col("o_custkey"), F.lit(256)).cast("long")
    qy = F.pmod(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ),
        F.lit(256),
    ).cast("long")
    z = o.select(
        "o_orderkey",
        qx.alias("qx"),
        qy.alias("qy"),
    ).withColumn("zval", _zval(F.col("qx"), F.col("qy")))
    return z.groupBy(
        F.expr("zval div 256").alias("z_bucket")
    ).agg(
        F.count("*").alias("n_orders"),
        F.count_distinct("qx").alias("n_cust_slots"),
        F.count_distinct("qy").alias("n_day_slots"),
        F.min("zval").cast("bigint").alias("z_min"),
        F.max("zval").cast("bigint").alias("z_max"),
    )


@register(
    "stats_welch_ttest_segments",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), s AS (
      SELECT seg,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,4))
                      * CAST(x AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM j GROUP BY seg
    ), w AS (
      SELECT
        (SELECT n FROM s WHERE seg = 'BUILDING') AS n1,
        (SELECT sx / n FROM s WHERE seg = 'BUILDING') AS m1,
        (SELECT (sxx - sx * sx / n) / (n - 1) / n FROM s
         WHERE seg = 'BUILDING') AS v1n,
        (SELECT n FROM s WHERE seg = 'MACHINERY') AS n2,
        (SELECT sx / n FROM s WHERE seg = 'MACHINERY') AS m2,
        (SELECT (sxx - sx * sx / n) / (n - 1) / n FROM s
         WHERE seg = 'MACHINERY') AS v2n
    )
    SELECT n1, n2, m1, m2,
           ((m1 - m2) / sqrt(v1n + v2n)) AS t_stat,
           ((v1n + v2n) * (v1n + v2n)
            / (v1n * v1n / (n1 - 1) + v2n * v2n / (n2 - 1))) AS df_welch
    FROM w
    """,
)
def stats_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing order totals between
    two customer segments — the A/B-test kernel of experimentation
    pipelines, next to the chi-square categorical test. Group moments
    come from exact decimal power sums (the agg_variance_exact
    construction), then the t statistic and Welch-Satterthwaite degrees
    of freedom are pure (+,-,*,/,sqrt) IEEE expressions written
    identically in both engines — no transcendental, so bit-exact.
    Shape: one dim-broadcast join + one two-group aggregate + a 2-row
    pivot; scan-bound at any scale."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    xd = F.col("o_totalprice").cast("decimal(18,4)")
    s = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(xd).cast("string").cast("double").alias("sx"),
            F.sum(xd * xd).cast("string").cast("double").alias("sxx"),
            F.count("*").alias("n"),
        )
    )
    # try_divide on (n-1): a single-order segment has zero degrees of
    # freedom — DuckDB float /0 is NULL, ANSI Spark raises (round-8
    # edge probe)
    vn = F.try_divide(
        F.try_divide(
            F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
            F.col("n") - 1,
        ),
        F.col("n"),
    )
    stats = s.select(
        "seg",
        F.col("n").cast("bigint").alias("n"),
        (F.col("sx") / F.col("n")).alias("m"),
        vn.alias("vn"),
    )
    # conditional aggregation, not filter+crossJoin: an ABSENT segment
    # (edge corpora) must still yield the oracle's one row of NULL
    # scalar-subquery results, and an empty-input agg is exactly that
    # single all-NULL row (round-8 edge probe; also one plan node
    # cheaper than the two filters + crossJoin it replaces)
    pick = lambda seg, col: F.max(F.when(F.col("seg") == seg, F.col(col)))
    w = stats.agg(
        pick("BUILDING", "n").alias("n1"),
        pick("MACHINERY", "n").alias("n2"),
        pick("BUILDING", "m").alias("m1"),
        pick("MACHINERY", "m").alias("m2"),
        pick("BUILDING", "vn").alias("v1n"),
        pick("MACHINERY", "vn").alias("v2n"),
    )
    t = F.try_divide(
        F.col("m1") - F.col("m2"), F.sqrt(F.col("v1n") + F.col("v2n"))
    )
    df = F.try_divide(
        (F.col("v1n") + F.col("v2n")) * (F.col("v1n") + F.col("v2n")),
        F.try_divide(F.col("v1n") * F.col("v1n"), F.col("n1") - 1)
        + F.try_divide(F.col("v2n") * F.col("v2n"), F.col("n2") - 1),
    )
    return w.select("n1", "n2", "m1", "m2", t.alias("t_stat"), df.alias("df_welch"))


@register(
    "median_price_by_segment",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment, o_totalprice, o_orderkey
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    ranked AS (
      SELECT c_mktsegment, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice NULLS LAST, o_orderkey
             ) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n_orders
      FROM j
    )
    SELECT c_mktsegment, o_totalprice AS median_price,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM ranked
    WHERE rn = (n_orders + 1) // 2
    ORDER BY c_mktsegment
    """,
)
def median_price_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped median (lower median: the ((n+1) div 2)-th order
    statistic) of order totals per market segment — selection, not
    interpolation, so the answer is an actual data value and engine-
    exact. The trap at scale: 5 segments means a PARTITION BY window has
    5 partitions, i.e. each holds ~n/5 of a 100 TB fact — a funnel as
    bad as a global window. Instead: ONE two-pass distributed rank on
    the composite key (segment, price, orderkey) — range partitioning
    spreads every segment across many partitions — then a 5-row
    aggregate recovers each segment's start offset and count, broadcast
    back to convert the global rank into a per-segment rank. The oracle
    states the same semantics with the plain window form."""
    from ..operators.ranking import distributed_row_number

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_totalprice", "o_orderkey")
    )
    # asc_nulls_last on the price: the oracle's ORDER BY uses DuckDB's
    # default NULLS LAST, Spark's default is NULLS FIRST — divergent
    # ranks the moment a NULL price exists (round-9 float-edge probe)
    ranked = distributed_row_number(
        j,
        [
            F.col("c_mktsegment"),
            F.col("o_totalprice").asc_nulls_last(),
            F.col("o_orderkey"),
        ],
        rn_col="grn",
    )
    seg = ranked.groupBy("c_mktsegment").agg(
        F.min("grn").alias("seg_start"), F.count("*").alias("n_orders")
    )
    # eqNullSafe, not USING: a NULL segment is a real group for the
    # oracle's PARTITION BY, but a plain equi-join would drop its rows
    # here (round-8 edge probe — null-segment customers vanished)
    seg2 = seg.select(
        F.col("c_mktsegment").alias("__seg"), "seg_start", "n_orders"
    )
    return (
        ranked.join(
            F.broadcast(seg2),
            F.col("c_mktsegment").eqNullSafe(F.col("__seg")),
        )
        .drop("__seg")
        .withColumn("seg_rn", F.col("grn") - F.col("seg_start") + F.lit(1))
        .filter(F.col("seg_rn") == F.expr("(n_orders + 1) div 2"))
        .select(
            "c_mktsegment",
            F.col("o_totalprice").alias("median_price"),
            "n_orders",
        )
        .orderBy("c_mktsegment")
    )


@register(
    "skyline_price_size_parts",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part q
    WHERE NOT EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_retailprice <= q.p_retailprice AND p.p_size <= q.p_size
        AND (p.p_retailprice < q.p_retailprice OR p.p_size < q.p_size)
    )
    ORDER BY p_retailprice, p_size, p_partkey
    """,
)
def skyline_price_size_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize price, minimize size) — the multi-objective shortlist
    query (cheapest-and-smallest tradeoff curve). The textbook plan is
    the quadratic NOT-EXISTS dominance self-join (the oracle states it
    that way); the distributed plan is the sort-based O(n log n)
    skyline: per-price min size, then the EXCLUSIVE prefix-min of that
    over ascending price via the two-pass distributed cummin kernel
    (operators/ranking.py — range partition + local window + triangular
    offset fold, no single-partition window), then one shuffle join
    back. A part survives iff it attains its price group's min size AND
    every strictly cheaper price group's min size is larger. Duplicate
    (price, size) pairs don't dominate each other — both survive, which
    the == / > filters preserve. All comparisons are exact double
    comparisons; no arithmetic at all."""
    from ..operators.ranking import distributed_cummin_exclusive

    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    g = p.groupBy("p_retailprice").agg(F.min("p_size").alias("msize"))
    gm = distributed_cummin_exclusive(
        g, [F.col("p_retailprice")], F.col("msize"), out_col="strict_min"
    )
    return (
        p.join(gm, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("msize"))
            & (F.col("strict_min").isNull() | (F.col("strict_min") > F.col("p_size")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_size", "p_partkey")
    )


# Benford first-digit law: P(d) = log10(1 + 1/d), embedded as the SAME
# Python-repr literals on both sides (string->double parse is correctly
# rounded in both engines; a bare SQL decimal literal might route
# through DECIMAL and double-round)
import math as _math

_BENFORD_P = [repr(_math.log10(1 + 1 / d)) for d in range(1, 10)]
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST('{p}' AS DOUBLE)" for d, p in enumerate(_BENFORD_P, 1)
) + " END"


@register(
    "dq_benford_first_digit",
    oracle=f"""
    WITH dd AS (
      -- non-finite amounts have no leading significant digit: NULL
      -- group, symmetric with the Spark-side finite guard (round-9)
      SELECT CAST(substring(CAST({cents_sql("abs(o_totalprice)")} AS VARCHAR),
                            1, 1) AS INT) AS digit
      FROM orders
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dd GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           CAST(total AS DOUBLE) * {_BENFORD_CASE} AS expected,
           (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * {_BENFORD_CASE})
           * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * {_BENFORD_CASE})
           / (CAST(total AS DOUBLE) * {_BENFORD_CASE}) AS chi2_term
    FROM c CROSS JOIN t
    ORDER BY digit
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud/synthetic-data detector (fabricated amounts flunk the
    log-uniform leading-digit distribution; this fixture's uniform
    prices do too, visibly). Portability: the leading digit comes from
    exact integer cents (floor(x*100+0.5) -> BIGINT -> first VARCHAR
    char — integer rendering is engine-identical; rendering the DOUBLE
    itself would not be), and the Benford probabilities are embedded as
    identical repr literals parsed string->double on both sides. Plan:
    one 9-group hash aggregate, a 1-row broadcast total, per-row IEEE
    arithmetic for expected counts and chi-square terms.

    Edge hardening (round-8 edge-relational probe): the leading digit is
    taken from ABS(price) — a negative amount's first character is '-'
    and crashed the ANSI CAST (Benford reads the leading SIGNIFICANT
    digit, so abs is the standard treatment) — and a zero amount's
    digit 0 goes through try_element_at -> NULL expected/chi2_term,
    exactly DuckDB's CASE-without-match. Both engines changed together;
    clean fixtures have no zero/negative totals, so sf* output is
    byte-identical."""
    cents_col = cents(F.abs(F.col("o_totalprice")))
    digit = F.substring(cents_col.cast("string"), 1, 1).cast("int").alias("digit")
    c = (
        load(spark, sf_dir, "orders")
        .select(digit)
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    parr = F.array(*[F.lit(float(p)) for p in _BENFORD_P])
    # when-guard: try_element_at tolerates out-of-range but still
    # raises INVALID_INDEX_OF_ZERO for index 0 (a zero amount's
    # digit); when() short-circuits so the lookup only sees >= 1 and
    # digit 0/NULL yields NULL, same as DuckDB's CASE without a match.
    # (Not nullif: a nullable conditional index triggers a Spark 4.1.2
    # element_at codegen bug — see events_ewma_value.)
    e = F.col("total").cast("double") * F.when(
        F.col("digit") > 0, F.try_element_at(parr, F.col("digit"))
    )
    nd = F.col("n").cast("double")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            e.alias("expected"),
            ((nd - e) * (nd - e) / e).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@register(
    "rfm_customer_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS r_raw,
             CAST(COUNT(*) AS BIGINT) AS f_raw,
             CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT) AS m_raw
      FROM orders GROUP BY o_custkey
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rfm),
    scored AS (
      SELECT o_custkey, m_raw,
             1 + (4 * (ROW_NUMBER() OVER (
               ORDER BY r_raw NULLS LAST, o_custkey) - 1)) // n AS r_score,
             1 + (4 * (ROW_NUMBER() OVER (
               ORDER BY f_raw NULLS LAST, o_custkey) - 1)) // n AS f_score,
             1 + (4 * (ROW_NUMBER() OVER (
               ORDER BY m_raw NULLS LAST, o_custkey) - 1)) // n AS m_score
      FROM rfm CROSS JOIN t
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(m_raw) AS BIGINT) AS monetary_cents
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) — the
    classic customer-base carve-up. Each dimension's quartile is
    1 + (4*(rank-1)) div n over the per-customer aggregate, with rank
    from the two-pass distributed ROW_NUMBER (three kernel passes over
    the customer-sized relation; a plain ORDER BY window would funnel
    every customer through one partition at 100 TB). Monetary is exact
    integer cents; the quartile formula is all-integer, so segment
    assignment is engine-exact — unlike NTILE, whose remainder
    placement this formula fixes deterministically. Output is the 64-
    cell segment grid with customer counts and exact revenue."""
    from ..operators.ranking import distributed_row_number

    o = load(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("r_raw"),
        F.count("*").alias("f_raw"),
        F.sum(cents(F.col("o_totalprice"))).alias("m_raw"),
    )
    scored = rfm
    for dim, col in (("r", "r_raw"), ("f", "f_raw"), ("m", "m_raw")):
        # nulls-last pinned: r_raw/m_raw go NULL for a customer whose
        # every date / finite amount is absent (float-edge fixture)
        scored = distributed_row_number(
            scored,
            [F.col(col).asc_nulls_last(), F.col("o_custkey")],
            rn_col=f"{dim}_rn",
            total_col="n_total" if dim == "r" else None,
        )
        # integer div on both sides (Spark `div`, DuckDB `//`) — a
        # double divide + floor could round across the bucket boundary
        scored = scored.withColumn(
            f"{dim}_score",
            F.expr(f"cast(1 + (4 * ({dim}_rn - 1)) div n_total as int)"),
        )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("m_raw").alias("monetary_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "latency_pctiles_by_priority",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
    ),
    q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
                                ('p99', 99, 100)) AS t(q, num, den)),
    ranked AS (
      SELECT o_orderpriority, days,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY days, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM j
    )
    SELECT o_orderpriority, q AS quantile,
           CAST(days AS INT) AS latency_days, CAST(n AS BIGINT) AS n_lineitems
    FROM ranked CROSS JOIN q
    WHERE rn = (num * n + den - 1) // den
    ORDER BY o_orderpriority, q
    """,
)
def latency_pctiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 order-to-ship latency per order priority —
    the grouped SLA readout, by nearest-rank selection (ceil(p*n) =
    (p_num*n + p_den - 1) div p_den, all-integer) so every reported
    latency is an actual data value.

    Round-5 plan: rank the VALUE HISTOGRAM, not the rows. Latency in
    days is a small-integer domain, so groupBy(priority, days) is a
    map-side-combinable aggregate that collapses the 100 TB fact to
    (#priorities x #distinct latencies) rows — a few thousand at ANY
    corpus size. The nearest-rank statistic is then the first histogram
    bucket whose cumulative count reaches ceil(p*n): a running-sum
    window PARTITION BY priority over the aggregate, which is NOT the
    5-partition funnel the row-level form would be (the funnel argument
    applies to ranking raw rows; here each partition holds hundreds of
    HISTOGRAM rows, bounded by the day domain, regardless of corpus
    size). Replaces the composite-key two-pass row rank (r3-r4 shape):
    one wide aggregate instead of a range-exchange + persist + window
    over the full fact — ~3x at sf0.1 and strictly less shuffle at
    scale. The per-row tiebreak (l_orderkey, l_linenumber) in the
    oracle's ROW_NUMBER is irrelevant to the selected VALUE: the day at
    a given rank is uniquely determined by the histogram."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority",
                                             "o_orderdate")
    from pyspark.sql import Window

    hist = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        # a NULL date on either side makes the latency UNDEFINED — drop
        # the row from the percentile population on both engines rather
        # than letting each engine's null ordering pick where the NULL
        # "latency" ranks (round-8 time-edge probe)
        .filter(F.col("o_orderdate").isNotNull() & F.col("l_shipdate").isNotNull())
        .select(
            "o_orderpriority",
            F.date_diff(F.col("l_shipdate"), F.col("o_orderdate")).alias("days"),
        )
        .groupBy("o_orderpriority", "days")
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    grp = hist.groupBy("o_orderpriority").agg(F.sum("cnt").alias("n"))
    quant = F.array(
        F.struct(F.lit("p50").alias("q"), F.lit(1).alias("num"), F.lit(2).alias("den")),
        F.struct(F.lit("p90").alias("q"), F.lit(9).alias("num"), F.lit(10).alias("den")),
        F.struct(F.lit("p99").alias("q"), F.lit(99).alias("num"), F.lit(100).alias("den")),
    )
    # eqNullSafe: the NULL-priority group must survive the stats join
    # (same class as median_price_by_segment, round-8 edge probe)
    grp2 = grp.select(F.col("o_orderpriority").alias("__prio"), "n")
    return (
        cum.join(
            F.broadcast(grp2),
            F.col("o_orderpriority").eqNullSafe(F.col("__prio")),
        )
        .drop("__prio")
        .select("o_orderpriority", "days", "cnt", "cum", "n",
                F.explode(quant).alias("qq"))
        .withColumn("rk", F.expr("(qq.num * n + qq.den - 1) div qq.den"))
        .filter((F.col("rk") > F.col("cum") - F.col("cnt")) & (F.col("rk") <= F.col("cum")))
        .select(
            "o_orderpriority",
            F.col("qq.q").alias("quantile"),
            F.col("days").cast("int").alias("latency_days"),
            F.col("n").cast("bigint").alias("n_lineitems"),
        )
        .orderBy("o_orderpriority", "quantile")
    )


# k-core decomposition parameters: sparser co-purchase sample (every
# 32nd order) and k=4 give a genuine multi-round peeling cascade on the
# fixtures (5-6 rounds to fixpoint)
_KCORE_K = 4
_KCORE_MOD = 32
_KCORE_UNROLL = 10  # oracle peels; rounds past the fixpoint are no-ops


def _kcore_round_sql(i: int) -> str:
    # each e{i} is MATERIALIZED: the chain references e{i} three times
    # per round, so inline CTEs would expand the plan (and the parquet
    # scan count) 3^rounds-fold
    return f"""
    und{i} AS (SELECT p1 AS a, p2 AS b FROM e{i}
               UNION ALL SELECT p2, p1 FROM e{i}),
    deg{i} AS (SELECT a, COUNT(*) AS d FROM und{i} GROUP BY a),
    keep{i} AS MATERIALIZED (SELECT a FROM deg{i} WHERE d >= {_KCORE_K}),
    e{i + 1} AS MATERIALIZED (
      SELECT p1, p2 FROM e{i}
      WHERE p1 IN (SELECT a FROM keep{i}) AND p2 IN (SELECT a FROM keep{i})
    )"""


@register(
    "graph_kcore_members",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % {_KCORE_MOD} = 0)
      QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {_BASKET_CAP}
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    {','.join(_kcore_round_sql(i) for i in range(_KCORE_UNROLL))},
    fin AS (SELECT p1 AS a FROM e{_KCORE_UNROLL}
            UNION ALL SELECT p2 FROM e{_KCORE_UNROLL})
    SELECT a AS part, CAST(COUNT(*) AS INT) AS core_degree
    FROM fin GROUP BY a ORDER BY a
    """,
)
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4) of the sampled co-purchase part graph
    — the standard dense-subgraph extractor (community cores, spam/bot
    rings, influential-item nuclei). Iterative peeling: drop every node
    with degree < k, recompute degrees, repeat to fixpoint — each round
    is a degree aggregate + two semi-joins, with localCheckpoint per
    round to cut the growing lineage (the connected-components/PageRank
    discipline; at 100 TB each round is one shuffle over the shrinking
    edge relation). The Spark side runs to convergence via a count
    probe; the oracle unrolls {_KCORE_UNROLL} peels (rounds past the
    fixpoint are identity, and tests pin that the fixtures converge
    well inside the unroll). Output: surviving nodes with their
    within-core degree, all-integer."""
    li = _li_pairs_capped(spark, sf_dir, mod=_KCORE_MOD)
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    while True:
        und = e.select(F.col("p1").alias("a")).unionAll(
            e.select(F.col("p2").alias("a"))
        )
        keep = (
            und.groupBy("a")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("a")
        )
        e2 = (
            e.join(keep.withColumnRenamed("a", "p1"), "p1", "left_semi")
            .join(keep.withColumnRenamed("a", "p2"), "p2", "left_semi")
            .select("p1", "p2")
            .localCheckpoint()
        )
        n2 = e2.count()
        if n2 == n_edges:
            break
        e, n_edges = e2, n2
    fin = e.select(F.col("p1").alias("part")).unionAll(
        e.select(F.col("p2").alias("part"))
    )
    return (
        fin.groupBy("part")
        .agg(F.count("*").cast("int").alias("core_degree"))
        .orderBy("part")
    )


_BFS_MAX_HOPS = 3


@register(
    "graph_bfs_hops_recursive",
    oracle=f"""
    WITH RECURSIVE li AS (
      SELECT l_orderkey, l_partkey
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % {_KCORE_MOD} = 0)
      QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {_BASKET_CAP}
    ),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    walk(node, dist) AS (
      SELECT (SELECT MIN(src) FROM e), 0
      UNION ALL
      SELECT e.dst, w.dist + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.dist < {_BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(dist) AS INT) AS hops
    FROM walk GROUP BY node ORDER BY node
    """,
)
def graph_bfs_hops_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance from a seed part (the minimum part key
    in the sampled co-purchase graph) to everything within 3 hops, as
    the LEVEL-SYNCHRONOUS frontier-dedup loop (operators/graph.py, the
    components pattern): per level one equi-join + distinct + anti-join
    against the visited set, so per-level work is bounded by the NODE
    count. The round-2 registered plan was a depth-bounded UNION ALL
    recursive-CTE walk whose path count grows ~avg_degree^hops before
    the MIN(dist) rollup — a combinatorial blowup on dense graphs at
    scale (round-2 verdict #3); that walk survives as the ORACLE
    formulation (DuckDB runs the recursive SQL), and a test pins the
    Spark WITH RECURSIVE surface against this loop on the small
    fixture. The seed is a 1-row MIN(src) aggregate relation, not a
    driver collect."""
    from ..operators.graph import bfs_hops

    li = _li_pairs_capped(spark, sf_dir, mod=_KCORE_MOD)
    und = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        # materialize ONCE: every BFS level re-reads the edge set, so an
        # unmaterialized relation would re-derive the lineitem self-join
        # per hop (measured 10s -> 2s on the CTE form; same shape here)
        .localCheckpoint()
    )
    return (
        bfs_hops(und, _BFS_MAX_HOPS)
        .select("node", F.col("hops").cast("int").alias("hops"))
        .orderBy("node")
    )


@register(
    "stats_ks_mannwhitney_segments",
    oracle=f"""
    WITH j AS (
      SELECT {cents_sql("o_totalprice")} AS cents,
             c_mktsegment AS seg
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    v AS (
      SELECT cents,
             CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM j GROUP BY cents
    ),
    t AS (SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2 FROM v),
    c AS (
      SELECT cents, a, b,
             CAST(SUM(a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
             CAST(SUM(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
      FROM v
    ),
    scored AS (
      SELECT c.cents, c.a, c.b, c.ca, c.cb, t.n1, t.n2,
             abs(c.ca * t.n2 - c.cb * t.n1) AS d_num
      FROM c CROSS JOIN t
    ),
    m AS (SELECT MAX(d_num) AS ks_d_num FROM scored)
    SELECT s.n1, s.n2,
           m.ks_d_num,
           CAST(m.ks_d_num AS DOUBLE)
             / NULLIF(CAST(s.n1 AS DOUBLE) * CAST(s.n2 AS DOUBLE), 0.0)
             AS ks_stat,
           (SELECT MIN(cents) FROM scored WHERE d_num = m.ks_d_num) AS ks_at_cents,
           CAST(SUM(s.a * (2 * (s.ca + s.cb - s.a - s.b) + s.a + s.b + 1))
                - s.n1 * (s.n1 + 1) AS BIGINT) AS mwu_u1_x2,
           CAST(SUM(s.a * (2 * (s.ca + s.cb - s.a - s.b) + s.a + s.b + 1))
                - s.n1 * (s.n1 + 1) AS DOUBLE)
             / NULLIF(2.0 * CAST(s.n1 AS DOUBLE) * CAST(s.n2 AS DOUBLE), 0.0)
             AS auc
    FROM scored s CROSS JOIN m
    GROUP BY s.n1, s.n2, m.ks_d_num
    """,
)
def stats_ks_mannwhitney_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample distribution-shift test between BUILDING and MACHINERY
    order-total distributions: the Kolmogorov-Smirnov statistic (max
    ECDF gap — SHAPE shift, complementing stats_welch's mean shift) and
    the Mann-Whitney U with its AUC interpretation (P(A>B) + P(A=B)/2,
    average ranks for ties). This is the drift detector a training-data
    pipeline runs between crawl snapshots or data sources. ALL-INTEGER:
    values are exact cents, both cumulative counts ride ONE two-pass
    distributed cumsum by packing (a,b) into a single bigint
    (a*2^32 + b), the KS gap is maximized as |ca*n2 - cb*n1| (no
    division), and the tie-averaged rank-sum doubles through 2R1 so it
    stays integral. Every int64 product is bounded by the ENFORCED
    runtime guard n1 + n2 < 2^31 (see the inline derivation: pack,
    KS <= (N/2)^2 < 2^60, 2R1 <= N(N+1) < 2^63); past that the plan
    aborts loudly rather than wrapping — the two-pass-split +
    decimal-rank-sum variant is the documented escape hatch. Only the
    final ks_stat and auc divides touch doubles. The oracle states the
    plain window form."""
    from ..operators.ranking import distributed_cumsum

    PACK = 1 << 32
    o = load(spark, sf_dir, "orders")
    cst = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = (
        o.join(cst, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            cents(F.col("o_totalprice")).alias("cents"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    v = j.groupBy("cents").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0)).alias("b"),
    )
    packed = v.withColumn("ab", F.col("a") * PACK + F.col("b"))
    c = distributed_cumsum(packed, [F.col("cents")], F.col("ab"), cum_col="cab")
    c = c.select(
        "cents",
        "a",
        "b",
        F.expr(f"cab div {PACK}").alias("ca"),
        F.expr(f"cab % {PACK}").alias("cb"),
    )
    t = v.agg(F.sum("a").alias("n1"), F.sum("b").alias("n2"))
    # ENFORCE the documented packing bound (advice r2), tightened in the
    # round-7 wide-arithmetic audit to bound EVERY int64 product in the
    # plan, not just the pack. With N = n1 + n2 < 2^31:
    #   pack  a*2^32+b        : cumulative counts ca<=n1, cb<=n2 < 2^31  OK
    #   KS    |ca*n2 - cb*n1| : <= n1*n2 <= (N/2)^2 < 2^60               OK
    #   MWU   per-row a*(2*rank-ish) <= ~2*N^2 < 2^63, and
    #         SUM = 2*R1 <= N*(N+1) < 2^62+2^31                          OK
    # The previous guard (n1 < 2^31 AND n2 < 2^31 separately) left a
    # window where N approaches 2^32 and 2*R1 ~ N^2 wraps int64 while
    # both individual guards pass. assert_true returns NULL when the
    # bound holds (the filter then keeps every row), and raises a loud
    # runtime error instead of letting any product silently wrap.
    lim = F.lit(1 << 31).cast("bigint")
    t = (
        t.withColumn(
            "__ks_guard",
            F.assert_true(
                (F.col("n1") + F.col("n2")) < lim,
                F.lit(
                    "stats_ks_mannwhitney_segments: combined sample count"
                    " exceeds the 2^31 bound that keeps the (a,b) pack and"
                    " the KS/MWU int64 products exact — split the cumsum"
                    " into two passes and widen the rank-sum to decimal"
                ),
            ),
        )
        .filter(F.col("__ks_guard").isNull())
        .drop("__ks_guard")
    )
    scored = c.crossJoin(F.broadcast(t)).withColumn(
        "d_num", F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
    )
    m = scored.agg(F.max("d_num").alias("ks_d_num"))
    r2_term = F.col("a") * (
        2 * (F.col("ca") + F.col("cb") - F.col("a") - F.col("b"))
        + F.col("a")
        + F.col("b")
        + 1
    )
    return (
        scored.crossJoin(F.broadcast(m))
        .groupBy("n1", "n2", "ks_d_num")
        .agg(
            F.min(F.when(F.col("d_num") == F.col("ks_d_num"), F.col("cents"))).alias(
                "ks_at_cents"
            ),
            (F.sum(r2_term) - F.col("n1") * (F.col("n1") + 1))
            .cast("bigint")
            .alias("mwu_u1_x2"),
        )
        .select(
            "n1",
            "n2",
            "ks_d_num",
            # one-empty-segment (n1*n2 = 0): the two-sample statistic is
            # undefined — a loud NULL on both sides, never a crash
            # (round-9 text-edge fixture has BUILDING but no MACHINERY)
            F.try_divide(
                F.col("ks_d_num").cast("double"),
                F.col("n1").cast("double") * F.col("n2").cast("double"),
            ).alias("ks_stat"),
            "ks_at_cents",
            "mwu_u1_x2",
            F.try_divide(
                F.col("mwu_u1_x2").cast("double"),
                2.0 * F.col("n1").cast("double") * F.col("n2").cast("double"),
            ).alias("auc"),
        )
    )


@register(
    "diag_key_skew_lineitem",
    oracle="""
    WITH per AS (
      SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_count
      FROM per
    )
    SELECT s.n_keys, s.n_rows, s.max_count,
           (SELECT MIN(k) FROM per WHERE cnt = s.max_count) AS hottest_key,
           (CAST(s.max_count * s.n_keys AS DOUBLE) / CAST(s.n_rows AS DOUBLE))
             AS skew_ratio
    FROM s
    """,
)
def diag_key_skew_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic for the join/aggregation key a pipeline is
    about to shuffle on: distinct-key count, the hottest key and its
    row count, and the skew ratio (max over mean per-key count) — the
    number that decides between a plain shuffle, AQE skew-join, and
    explicit salting (operators/skew.py). Two hash aggregates (per-key,
    then 1-row summary) and a broadcast filter for the deterministic
    hottest key (min key among the maxima — max_by ties are
    implementation-defined in both engines, so neither side uses it).
    At 100 TB this is the same single pass a shuffle would take anyway
    — run it BEFORE committing to a partitioning strategy."""
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    per = C.ephemeral(per)
    s = per.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_count"),
    )
    hottest = (
        per.join(F.broadcast(s.select("max_count")), F.col("cnt") == F.col("max_count"))
        .agg(F.min("k").alias("hottest_key"))
    )
    return (
        s.crossJoin(F.broadcast(hottest))
        .select(
            "n_keys",
            "n_rows",
            "max_count",
            "hottest_key",
            (
                (F.col("max_count") * F.col("n_keys")).cast("double")
                / F.col("n_rows").cast("double")
            ).alias("skew_ratio"),
        )
    )
