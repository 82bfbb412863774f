"""General-analytics workloads beyond the rule surface: the registry tables
are ordinary Spark tables, so the full DataFrame/SQL surface (joins, exact
distinct counts, medians) is available around the rule engine. These queries
document that breadth with oracle checks and give the bench a join-shaped
headline.

Numeric-parity notes: monetary sums go through DECIMAL(18,2) so the
aggregation is exact in both engines (double summation order would differ),
then cast to double for a stable comparison type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dedup import _register_cache
from ..sources.registry import load_table
from .llm import FnWorkload


def _lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(F.median("l_extendedprice"), 6).alias("median_price"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("sum_price"),
        )
    )


_LINEITEM_STATS_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       round(median(l_extendedprice), 6) AS median_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""".strip()


def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: orders ⋈ customer ⋈ nation ⋈ region — dimensions broadcast
    (nation/region are tiny; customer is the smallest fact side), the orders
    scan streams. One shuffle total (the final group-by)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


_REVENUE_BY_NATION_SQL = """
SELECT r_name, n_name, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'O'
GROUP BY r_name, n_name
""".strip()


def _topn_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group: the 3 highest-value orders per market
    segment (ties → lowest orderkey). Broadcast the customer dimension;
    the rank is one shuffle on the 5-value segment key."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .withColumn("rank_in_segment", F.row_number().over(w))
        .filter(F.col("rank_in_segment") <= 3)
        .select(
            "c_mktsegment",
            "rank_in_segment",
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
        )
    )


_TOPN_ORDERS_SQL = """
SELECT c_mktsegment, rank_in_segment, o_orderkey, o_totalprice, o_orderdate
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice, o_orderdate,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rank_in_segment
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank_in_segment <= 3
""".strip()


def _kmv_partkey_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch vs exact count: estimate distinct l_partkey per
    return flag, with the exact countDistinct joined alongside so the
    estimate quality is part of the checked result."""
    from ..functions.sketches import kmv_distinct

    li = load_table(spark, sf_dir, "lineitem")
    sk = kmv_distinct(li, "l_partkey", ["l_returnflag"], k=64)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return sk.join(F.broadcast(exact), "l_returnflag")


def _kmv_partkey_distinct_sql() -> str:
    from ..functions.sketches import kmv_distinct_sql

    sk = kmv_distinct_sql("lineitem", "l_partkey", ["l_returnflag"], k=64)
    return f"""
WITH sk AS ({sk}),
ex AS (
  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
  FROM lineitem GROUP BY 1
)
SELECT sk.l_returnflag, n_kept, kth_hash, est_distinct, exact_distinct
FROM sk JOIN ex USING (l_returnflag)
""".strip()


def _embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Long form (vec_id, scale, dim, q, q_l1): the r2 driver's pandas
    # canonicalizer cannot hash a top-level array<int> column, and the
    # exploded form value-checks every element individually anyway.
    from ..functions.embeddings import quantize_int8_long

    return quantize_int8_long(load_table(spark, sf_dir, "embeddings"))


def _embed_quantize_sql() -> str:
    from ..functions.embeddings import quantize_int8_long_sql

    return quantize_int8_long_sql("embeddings")


def _join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join demo wired through :func:`operators.skew.salted_join`:
    events (fact) join a per-event-type stats dim on a 5-value key — the
    worst-case hot-key shape for a shuffle join (every row funnels through
    ≤5 reducers). The salted formulation spreads each hot key across 8
    salt buckets; the oracle is the PLAIN join, pinning that salting is
    row-for-row invisible in the result.

    At production scale this dim would broadcast (and the plain path
    should); salted_join is the designated fallback when BOTH sides are
    too big to broadcast and the key histogram is spiked — this query
    keeps that path value-verified. Deviation sums go through per-row
    DECIMAL(38,12) casts so the aggregate is order-insensitive."""
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_v")
    )
    joined = salted_join(
        events, dim, on=["event_type"], buckets=8, salt_source="event_id"
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(
                (F.col("value") - F.col("avg_v")).cast("decimal(38,12)")
            ),
            6,
        ).cast("double").alias("sum_dev"),
    )


def _join_salted_skew_sql() -> str:
    from .reference import _EVENTS_ORACLE_SOURCE

    cte = _EVENTS_ORACLE_SOURCE.removesuffix(" AS events")
    return f"""
WITH ev AS ({cte}),
dim AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_v
  FROM ev GROUP BY 1
)
SELECT e.user_id, count(*) AS n_events,
       CAST(round(sum(CAST(e.value - d.avg_v AS DECIMAL(38,12))), 6)
            AS DOUBLE) AS sum_dev
FROM ev e JOIN dim d USING (event_type)
GROUP BY e.user_id
""".strip()


ANALYTICS_QUERIES: dict[str, FnWorkload] = {
    "join_salted_skew": FnWorkload(_join_salted_skew, _join_salted_skew_sql()),
    "lineitem_stats": FnWorkload(_lineitem_stats, _LINEITEM_STATS_SQL),
    "join_revenue_by_nation": FnWorkload(_revenue_by_nation, _REVENUE_BY_NATION_SQL),
    "window_topn_orders_by_segment": FnWorkload(
        _topn_orders_by_segment, _TOPN_ORDERS_SQL
    ),
    "sketch_kmv_distinct": FnWorkload(
        _kmv_partkey_distinct, _kmv_partkey_distinct_sql()
    ),
    "embed_quantize_int8": FnWorkload(_embed_quantize, _embed_quantize_sql()),
}


def _join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: the classic 3-table
    star join (customer⋈orders⋈lineitem) with selective date filters on
    both fact sides and a top-10 by revenue.

    Plan shape: both date predicates and the segment filter push to the
    parquet scans; customer (the small filtered dim) broadcasts under
    AQE; revenue is a per-row double product cast to DECIMAL(38,12) so
    the aggregation is shuffle-order-exact; orderBy+limit compiles to
    TakeOrdered (per-partition top-k, no global sort). Tie order
    (revenue desc, o_orderdate asc, l_orderkey asc) is total, so the
    cut is deterministic and oracle-checkable."""
    cutoff = "1998-01-01"
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
""".strip()


ANALYTICS_QUERIES["join_shipping_priority"] = FnWorkload(
    _join_shipping_priority, _SHIPPING_PRIORITY_SQL
)


def _sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: union/intersection distinct-count
    estimates between every pair of return flags, exact counts alongside
    (functions/sketches.py kmv_set_estimates) — the mergeability
    property that lets per-partition sketches combine without revisiting
    the key stream."""
    from ..functions.sketches import kmv_set_estimates

    return kmv_set_estimates(
        load_table(spark, sf_dir, "lineitem"), "l_partkey", "l_returnflag"
    )


def _sketch_kmv_setops_sql() -> str:
    from ..functions.sketches import kmv_set_estimates_sql

    return kmv_set_estimates_sql("lineitem", "l_partkey", "l_returnflag")


ANALYTICS_QUERIES["sketch_kmv_setops"] = FnWorkload(
    _sketch_kmv_setops, _sketch_kmv_setops_sql()
)


def _join_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-customer query: find orders whose
    total line quantity exceeds a threshold (HAVING over the fact
    aggregate), then attach customer and order attributes via joins that
    AQE turns into broadcasts of the tiny qualifying set.

    Plan shape: ONE aggregation over lineitem (map-side combined, keyed
    by orderkey), the HAVING filter collapses it to a handful of rows,
    and everything downstream joins against that trickle — the
    aggregate-then-join ordering that keeps the big table from ever
    being joined raw. Quantity sums are integral doubles (exact);
    deterministic total order for the checked result."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,12)")).alias("_q"))
        .filter(F.col("_q") >= 150)
        .select(
            "l_orderkey", F.col("_q").cast("double").alias("total_qty")
        )
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


_LARGE_ORDERS_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE)
           AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(38,12))) >= 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""".strip()


ANALYTICS_QUERIES["join_large_orders"] = FnWorkload(
    _join_large_orders, _LARGE_ORDERS_SQL
)


def _join_supplier_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup: lineitem joined to BOTH of its
    dimensions (part, supplier) plus the supplier's nation — the last
    previously-unexercised testdata table — aggregating revenue per
    (nation, part brand).

    Plan shape: part and supplier⋈nation broadcast (dimension tables);
    lineitem streams through both hash joins and ONE aggregation shuffle
    onto the (nation × brand)-bounded key space. Revenue is the per-row
    double product cast to DECIMAL(38,12) — shuffle-order-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # round the EXACT decimal, then cast: double-rounding of the
            # cast-to-double sum hits half-even/half-up tie divergence at
            # .xx5 boundaries (caught by the oracle on 2 of 625 groups)
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


_SUPPLIER_PART_SQL = """
SELECT n_name, p_brand, count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name, p_brand
""".strip()


ANALYTICS_QUERIES["join_supplier_part_revenue"] = FnWorkload(
    _join_supplier_part_revenue, _SUPPLIER_PART_SQL
)


def _join_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated-minimum join (adapted: no partsupp
    table in the testdata, so the per-(part, supplier) offer price is
    the average transacted price from lineitem history): for every part,
    the supplier with the LOWEST average price, with its nation.

    The correlated subquery ("price = (SELECT min …) for this part")
    becomes one window rank per part — the standard decorrelation. Plan
    shape: one aggregation onto the (part, supplier) pair space, one
    window shuffle keyed by part (AQE-coalesced), then the winner rows
    join broadcast supplier⋈nation. Ties (equal avg price) break on
    suppkey, making the winner total-ordered and oracle-exact. The avg
    is an exact DECIMAL sum over one shared IEEE division."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_price"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("avg_price"), F.asc("l_suppkey")
    )
    best = offers.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    supp = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "s_name", "n_name")
    return best.join(
        F.broadcast(supp), best.l_suppkey == F.col("s_suppkey")
    ).select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("s_name").alias("best_supplier"),
        "n_name",
        "n_lines",
        "avg_price",
    )


_CHEAPEST_SUPPLIER_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, count(*) AS n_lines,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_price
  FROM lineitem GROUP BY 1, 2
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
                               ORDER BY avg_price ASC, l_suppkey ASC) AS rn
  FROM offers
)
SELECT l_partkey AS p_partkey, s_name AS best_supplier, n_name,
       n_lines, avg_price
FROM best
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE rn = 1
""".strip()


ANALYTICS_QUERIES["join_cheapest_supplier_per_part"] = FnWorkload(
    _join_cheapest_supplier_per_part, _CHEAPEST_SUPPLIER_SQL
)


def _join_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped EXISTS / NOT-EXISTS chain (adapted: the testdata
    lineitem carries no commit/receipt dates, so "failed delivery" is
    l_returnflag = 'R'): suppliers who had a RETURNED line in a
    multi-supplier order where NO other supplier's line was returned —
    the sole-blame attribution query.

    The correlated EXISTS becomes a LEFT SEMI join and the NOT EXISTS a
    LEFT ANTI join, both keyed on orderkey with the ≠supplier predicate
    as a residual — the standard decorrelation Spark and DuckDB agree
    on. Order participation is deduped to (order, supplier) pairs first,
    so counts are per-order. Top-20 by a TOTAL order (n desc, name asc)
    keeps the cut deterministic; orderBy+limit compiles to TakeOrdered
    (per-partition top-k, no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    r = returned.alias("r")
    multi = r.join(
        pairs.alias("o"),
        (F.col("r.l_orderkey") == F.col("o.l_orderkey"))
        & (F.col("r.l_suppkey") != F.col("o.l_suppkey")),
        "leftsemi",
    )
    sole = multi.alias("m").join(
        returned.alias("x"),
        (F.col("m.l_orderkey") == F.col("x.l_orderkey"))
        & (F.col("m.l_suppkey") != F.col("x.l_suppkey")),
        "left_anti",
    )
    supp = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "s_name", "n_name")
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_sole_blame_orders"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "n_name", "n_sole_blame_orders")
        .orderBy(F.desc("n_sole_blame_orders"), F.asc("s_name"))
        .limit(20)
    )


_SOLE_RETURNED_SQL = """
WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
returned AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
),
sole AS (
  SELECT r.l_orderkey, r.l_suppkey
  FROM returned r
  WHERE EXISTS (SELECT 1 FROM pairs o
                WHERE o.l_orderkey = r.l_orderkey
                  AND o.l_suppkey <> r.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM returned x
                    WHERE x.l_orderkey = r.l_orderkey
                      AND x.l_suppkey <> r.l_suppkey)
)
SELECT s_name, n_name, count(*) AS n_sole_blame_orders
FROM sole
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY s_name, n_name
ORDER BY n_sole_blame_orders DESC, s_name ASC
LIMIT 20
""".strip()


ANALYTICS_QUERIES["join_sole_returned_supplier"] = FnWorkload(
    _join_sole_returned_supplier, _SOLE_RETURNED_SQL
)


def _agg_rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation — subtotals and a grand total in ONE pass:
    (returnflag, linestatus) detail rows, per-returnflag subtotals, and
    the grand total, disambiguated by grouping_id (NULL group keys from
    rollup vs real NULLs are distinguishable only through the grouping
    bitmap — the id travels in the result for exactly that reason).

    Catalyst plans rollup through a single Expand (3 projections of each
    input row) feeding one hash aggregation — one scan, one shuffle onto
    a key space bounded by Σ per-level group counts, identical to how
    the profiler's multi-distinct pass scales. Sums are per-row DECIMAL
    casts (exact, shuffle-order-independent)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,12)"))
        .cast("double")
        .alias("sum_qty"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2
        )
        .cast("double")
        .alias("sum_price"),
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""".strip()


ANALYTICS_QUERIES["agg_rollup_returnflag_status"] = FnWorkload(
    _agg_rollup_returnflag_status, _ROLLUP_SQL
)


def _agg_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS aggregation (adapted: no commitdate in the
    testdata, so "late" is a lineitem shipped > 60 days after the order
    date): order counts per priority among orders with at least one late
    line.

    The correlated EXISTS decorrelates to a LEFT SEMI join — Spark never
    materializes the match list, it just probes; the date predicate is a
    residual on the semi join (it references both sides, so it cannot
    push below the join, but the orderkey probe is still hash-based).
    One aggregation onto the 5-row priority space ends the plan."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "leftsemi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_PRIORITY_LATE_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""".strip()


ANALYTICS_QUERIES["agg_priority_late_ship"] = FnWorkload(
    _agg_priority_late_ship, _PRIORITY_LATE_SQL
)


def _customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value deciles: exact per-customer order totals
    (DECIMAL sums), ntile(10) over a TOTAL order (value desc, custkey
    asc — deterministic bucket edges), then per-decile aggregates.

    Plan shape: one aggregation onto |customers|, ONE global-sort window
    for the ntile — the only defensible global sort in the repo, because
    ntile's bucket edges are inherently rank-global; at 100 TB the same
    cut uses approx percentile boundaries + a broadcast bucket join
    (docs_curriculum_buckets does exactly that) — this query pins the
    exact-rank semantics the approximation is judged against. Final
    output is 10 rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ltv"),
    )
    w = Window.orderBy(F.desc("ltv"), F.asc("o_custkey"))
    return (
        ltv.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("ltv"), 2).cast("double").alias("total_ltv"),
            F.round(F.min("ltv"), 2).cast("double").alias("min_ltv"),
            F.round(F.max("ltv"), 2).cast("double").alias("max_ltv"),
        )
    )


_LTV_DECILES_SQL = """
WITH ltv AS (
  SELECT o_custkey, count(*) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS ltv
  FROM orders GROUP BY 1
),
tiled AS (
  SELECT *, ntile(10) OVER (ORDER BY ltv DESC, o_custkey ASC) AS decile
  FROM ltv
)
SELECT decile, count(*) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       CAST(round(sum(ltv), 2) AS DOUBLE) AS total_ltv,
       CAST(round(min(ltv), 2) AS DOUBLE) AS min_ltv,
       CAST(round(max(ltv), 2) AS DOUBLE) AS max_ltv
FROM tiled GROUP BY decile
""".strip()


ANALYTICS_QUERIES["window_customer_ltv_deciles"] = FnWorkload(
    _customer_ltv_deciles, _LTV_DECILES_SQL
)


def _customer_ltv_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB SCALE PATH for the LTV deciles, contract-tied to the
    exact ntile twin: decile cut points from ONE ``percentile_approx``
    aggregate (Greenwald-Khanna sketch, bounded O(accuracy) state,
    map-side combined, NO global sort), then a broadcast bucket join
    assigning every customer its approximate decile — the
    docs_curriculum_buckets machinery at the LTV shape.

    The sketch's cut values are engine-specific, so the ORACLE carries
    (a) the exact ntile decile aggregates (identical arithmetic to
    window_customer_ltv_deciles) and (b) two guarantee booleans pinned
    TRUE — the corpus_length_quantiles_approx pattern:

    * ``approx_ok``: every cut value's true rank interval overlaps
      [p·n − εn, p·n + εn], ε = 1/accuracy — the GK guarantee itself;
    * ``disagree_ok``: the TOTAL number of customers whose bucket-join
      decile differs from their exact ntile decile is within the rank
      budget Σᵢ(slackᵢ + 1), where slackᵢ is the measured rank distance
      between cut i's value span and its ideal boundary ceil(pᵢ·n) —
      ntile boundaries differ from ceil(pᵢ·n) by at most 1, so every
      misassigned customer lies inside some cut's slack span.

    The exact ntile window and value histogram here are the
    VERIFICATION harness (same cost-positioning as the exact side of
    cms_topk_estimates); the production path is the aggregate + the
    broadcast bucket join alone."""
    from pyspark.sql import Window

    accuracy = 100
    ps = [i / 10.0 for i in range(1, 10)]
    orders = load_table(spark, sf_dir, "orders")
    ltv = _register_cache(orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ltv"),
    ).persist())  # consumed by the cut aggregate, the bucket join, and
    # the verification histogram

    scalars = ltv.agg(
        F.count(F.lit(1)).alias("_n"),
        F.percentile_approx("ltv", ps, accuracy).alias("_cuts"),
    )
    # production path: broadcast the 1-row cut list, bucket every
    # customer by how many ascending cuts its ltv exceeds (desc-decile
    # orientation: decile 1 = highest LTV, matching the exact twin)
    bucketed = ltv.crossJoin(F.broadcast(scalars)).withColumn(
        "approx_decile",
        F.lit(10)
        - F.size(F.filter("_cuts", lambda c: F.col("ltv") > c)),
    )
    w = Window.orderBy(F.desc("ltv"), F.asc("o_custkey"))
    # persisted: the disagreement audit and the decile report both read
    # the ntile frame; without the cache the global window sort — the
    # exact twin's whole cost — executed twice (r15, guide §5)
    tiled = _register_cache(
        bucketed.withColumn("decile", F.ntile(10).over(w)).persist()
    )

    # verification: true rank interval of each cut value from the value
    # histogram (ties included: _rhi − _rlo = tie-group size)
    cuts = scalars.select("_n", F.posexplode("_cuts").alias("_i", "_cv"))
    hist = ltv.groupBy("ltv").agg(F.count(F.lit(1)).alias("_c"))
    ranks = hist.crossJoin(F.broadcast(cuts)).groupBy("_i", "_cv", "_n").agg(
        F.sum(
            F.when(F.col("ltv") < F.col("_cv"), F.col("_c")).otherwise(0)
        ).alias("_rlo"),
        F.sum(
            F.when(F.col("ltv") <= F.col("_cv"), F.col("_c")).otherwise(0)
        ).alias("_rhi"),
    )
    t = F.ceil((F.col("_i") + 1) / F.lit(10.0) * F.col("_n"))
    eps_n = F.greatest(F.lit(1), F.ceil(F.col("_n") / F.lit(accuracy)))
    checks = ranks.select(
        (
            (F.col("_rhi") > F.col("_rlo"))
            & (F.col("_rhi") >= t - eps_n)
            & (F.col("_rlo") + 1 <= t + eps_n)
        ).alias("_gk_ok"),
        (
            F.greatest(F.col("_rhi"), t) - F.least(F.col("_rlo"), t) + 1
        ).alias("_slack1"),
    ).agg(
        F.bool_and("_gk_ok").alias("approx_ok"),
        F.sum("_slack1").alias("_budget"),
    )
    # 1-row audit scalars: collect once, return literals (r15, guide
    # §1.2 — the r14 form crossJoined them as broadcast subtrees, each
    # an extra job re-deriving the window). The disagreement agg doubles
    # as the tiled cache's eager materialization.
    checks_row = checks.collect()[0]
    ndis = tiled.agg(
        F.sum(
            F.when(F.col("decile") != F.col("approx_decile"), 1).otherwise(0)
        ).alias("_ndis")
    ).collect()[0]["_ndis"]
    # empty input: no cut to check and no customer to disagree on — the
    # aggregates are NULL and both guarantees hold vacuously
    approx_ok = checks_row["approx_ok"] is not False
    disagree_ok = (ndis or 0) <= (checks_row["_budget"] or 0)
    report = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_orders").alias("n_orders"),
        F.round(F.sum("ltv"), 2).cast("double").alias("total_ltv"),
        F.round(F.min("ltv"), 2).cast("double").alias("min_ltv"),
        F.round(F.max("ltv"), 2).cast("double").alias("max_ltv"),
    )
    return report.select(
        "decile",
        "n_customers",
        "n_orders",
        "total_ltv",
        "min_ltv",
        "max_ltv",
        F.lit(approx_ok).alias("approx_ok"),
        F.lit(disagree_ok).alias("disagree_ok"),
    )


_LTV_DECILES_APPROX_SQL = f"""
SELECT *, TRUE AS approx_ok, TRUE AS disagree_ok FROM (
{_LTV_DECILES_SQL}
)
""".strip()


ANALYTICS_QUERIES["window_customer_ltv_deciles_approx"] = FnWorkload(
    _customer_ltv_deciles_approx, _LTV_DECILES_APPROX_SQL
)


def _pivot_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual PIVOT — discount bands to columns: per (returnflag,
    linestatus), line counts and exact revenue split across three
    discount bands as COLUMNS (none <2%, low 2-5%, high >5%).

    Conditional aggregation (sum(CASE WHEN …)) IS the scale-correct
    pivot: one scan, one aggregation, map-side partials, no per-band
    rescan and no dynamic-column inference pass (Spark's pivot() first
    runs a distinct scan to discover columns — fixed bands skip it).
    Revenue per band is the per-row double product cast to
    DECIMAL(38,12), exact under any shuffle order."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")

    def band(lo: float | None, hi: float | None):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("l_discount") >= lo)
        if hi is not None:
            cond = cond & (F.col("l_discount") < hi)
        return cond

    bands = {"none": band(None, 0.02), "low": band(0.02, 0.05), "high": band(0.05, None)}
    aggs = []
    for name, cond in bands.items():
        aggs.append(
            F.count(F.when(cond, F.lit(1))).alias(f"n_{name}")
        )
        aggs.append(
            F.round(F.sum(F.when(cond, rev)), 2)
            .cast("double")
            .alias(f"rev_{name}")
        )
    return li.groupBy("l_returnflag", "l_linestatus").agg(*aggs)


_PIVOT_BANDS_SQL = """
SELECT l_returnflag, l_linestatus,
       count(CASE WHEN l_discount < 0.02 THEN 1 END) AS n_none,
       CAST(round(sum(CASE WHEN l_discount < 0.02
             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12))
             END), 2) AS DOUBLE) AS rev_none,
       count(CASE WHEN l_discount >= 0.02 AND l_discount < 0.05 THEN 1 END)
         AS n_low,
       CAST(round(sum(CASE WHEN l_discount >= 0.02 AND l_discount < 0.05
             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12))
             END), 2) AS DOUBLE) AS rev_low,
       count(CASE WHEN l_discount >= 0.05 THEN 1 END) AS n_high,
       CAST(round(sum(CASE WHEN l_discount >= 0.05
             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12))
             END), 2) AS DOUBLE) AS rev_high
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""".strip()


ANALYTICS_QUERIES["agg_pivot_discount_bands"] = FnWorkload(
    _pivot_discount_bands, _PIVOT_BANDS_SQL
)


def _agg_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all four grouping combinations of (priority,
    status) in one pass: detail, both one-dimension margins, and the
    grand total, disambiguated by grouping_id. Same single-Expand scale
    shape as ROLLUP (agg_rollup_returnflag_status) with 4 projections
    per input row instead of 3; the post-shuffle key space is
    Σ per-grouping cardinalities — bounded by the dimension domains,
    never the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
        )
        .cast("double")
        .alias("revenue"),
    )


_CUBE_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""".strip()


ANALYTICS_QUERIES["agg_cube_priority_status"] = FnWorkload(
    _agg_cube_priority_status, _CUBE_SQL
)


def _agg_grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY grouping-set lists beyond ROLLUP/CUBE — the general
    GROUPING SETS surface: one lineitem⋈orders pass aggregated
    simultaneously at {(returnflag, linestatus), (orderpriority), ()},
    disambiguated by grouping_id (bit i set ⇔ column i NOT in the set:
    gid 1 = detail pair, 6 = priority margin, 7 = grand total — the
    convention Spark and DuckDB share, verified empirically).

    Contract note: every output column is cast to double/long — the r6
    driver run hashed this query's raw decimal(38,2) sum_qty column
    differently than the local replica did (the only decimal-typed
    output among all contract queries), so the catalog convention is
    now enforced: no decimal types cross the contract boundary. The
    sums stay exact (quantity totals ≪ 2^53).

    Scale shape: the join shuffles on orderkey once (AQE-planned); the
    grouping sets compile to ONE Expand of 3 projections per joined row
    feeding a single hash aggregate — the post-shuffle key space is the
    sum of the three groupings' cardinalities (≤ |rf|·|ls| + |prio| + 1),
    never the fact table. No second scan, no union of separate GROUP
    BYs — the property that makes multi-granularity reporting one job
    at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast("decimal(38,12)").alias("rev"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    return j.groupingSets(
        [["l_returnflag", "l_linestatus"], ["o_orderpriority"], []],
        "l_returnflag",
        "l_linestatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").cast("double").alias("sum_qty"),
        F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, o_orderpriority,
       CAST(GROUPING(l_returnflag, l_linestatus, o_orderpriority) AS BIGINT)
         AS gid,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (o_orderpriority), ())
""".strip()


ANALYTICS_QUERIES["agg_grouping_sets_mixed"] = FnWorkload(
    _agg_grouping_sets_mixed, _GROUPING_SETS_SQL
)


def _quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract over lineitem
    (functions/constraints.py — the Deequ pattern): completeness,
    domain, range, regex, compound-key uniqueness, and referential
    integrity against orders, all reported as one
    (constraint, n_checked, n_violations, passed) table.

    Plan shape: every row-level check and the uniqueness count ride ONE
    conditional-aggregation pass over lineitem (single scan, map-side
    combine, |constraints|-row result); the FK check is the one keyed
    anti-join. The violation counts are part of the value oracle — this
    is the pre-flight gate a 100 TB ingest runs before anything else."""
    from ..functions.constraints import constraint_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    spec = [
        {"name": "orderkey_complete", "kind": "not_null", "col": "l_orderkey"},
        {"name": "qty_positive", "kind": "range", "col": "l_quantity",
         "lo": 1.0, "hi": None},
        {"name": "discount_band", "kind": "range", "col": "l_discount",
         "lo": 0.0, "hi": 0.1},
        {"name": "returnflag_domain", "kind": "accepted_values",
         "col": "l_returnflag", "values": ["A", "N", "R"]},
        {"name": "linestatus_regex", "kind": "regex", "col": "l_linestatus",
         "pattern": "^[OF]$"},
        {"name": "line_pk_unique", "kind": "unique",
         "cols": ["l_orderkey", "l_linenumber"]},
        {"name": "order_fk", "kind": "foreign_key", "cols": ["l_orderkey"],
         "parent": orders, "parent_cols": ["o_orderkey"]},
    ]
    return constraint_report(li, spec)


def _quality_constraint_report_sql() -> str:
    from ..functions.constraints import constraint_report_sql

    return constraint_report_sql(
        "lineitem",
        [
            {"name": "orderkey_complete", "kind": "not_null",
             "col": "l_orderkey"},
            {"name": "qty_positive", "kind": "range", "col": "l_quantity",
             "lo": 1.0, "hi": None},
            {"name": "discount_band", "kind": "range", "col": "l_discount",
             "lo": 0.0, "hi": 0.1},
            {"name": "returnflag_domain", "kind": "accepted_values",
             "col": "l_returnflag", "values": ["A", "N", "R"]},
            {"name": "linestatus_regex", "kind": "regex",
             "col": "l_linestatus", "pattern": "^[OF]$"},
            {"name": "line_pk_unique", "kind": "unique",
             "cols": ["l_orderkey", "l_linenumber"]},
            {"name": "order_fk", "kind": "foreign_key",
             "cols": ["l_orderkey"], "parent_table": "orders",
             "parent_cols": ["o_orderkey"]},
        ],
    )


ANALYTICS_QUERIES["quality_constraint_report"] = FnWorkload(
    _quality_constraint_report, _quality_constraint_report_sql()
)


def _agg_top_orders_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — the LISTAGG/STRING_AGG shape: per
    order priority, the 3 highest-value order keys concatenated in rank
    order, plus their exact combined revenue.

    Determinism is the whole trick with string aggregation at scale: an
    unordered collect produces shuffle-dependent strings, so the rank
    window (total order: price desc, key asc) fixes membership AND
    order BEFORE the aggregation, and the concat sorts by rank — both
    engines then emit byte-identical strings. Plan: one window shuffle
    on the 5-value priority key (top-3 rows survive), one tiny
    aggregation."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    top = orders.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )
    return top.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rk", "o_orderkey"))
                ),
                lambda s: s["o_orderkey"].cast("string"),
            ),
        ).alias("top_orderkeys"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
        )
        .cast("double")
        .alias("top_revenue"),
    )


_LISTAGG_SQL = """
WITH top AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
SELECT o_orderpriority,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rk) AS top_orderkeys,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS top_revenue
FROM top WHERE rk <= 3
GROUP BY o_orderpriority
""".strip()


ANALYTICS_QUERIES["agg_top_orders_listagg"] = FnWorkload(
    _agg_top_orders_listagg, _LISTAGG_SQL
)


def _customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintiles: per customer, days since last order (from the dataset's
    own max date — deterministic, no wall clock), order count, and
    exact decimal spend; each dimension scored 1-5 by ntile over a
    TOTAL order (value, then custkey), concatenated to the classic
    'RFM' segment code; output aggregates per segment.

    Plan shape: one aggregation onto |customers|, three ntile windows
    over the same rows (Catalyst shares one global-sort exchange — same
    caveat and same approx-percentile production alternative as the LTV
    deciles), final aggregation onto ≤125 segment rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("_maxd"))
    per_cust = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff(F.col("_maxd"), F.col("o_orderdate"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    scored = per_cust.select(
        "o_custkey",
        "frequency",
        "monetary",
        F.ntile(5).over(r_w).alias("r"),
        F.ntile(5).over(f_w).alias("f"),
        F.ntile(5).over(m_w).alias("m"),
    )
    return scored.groupBy(
        F.concat_ws("", "r", "f", "m").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("monetary"), 2).cast("double").alias("segment_value"),
    )


_RFM_SQL = """
WITH maxd AS (SELECT max(o_orderdate) AS d FROM orders),
per_cust AS (
  SELECT o_custkey,
         min(datediff('day', o_orderdate, (SELECT d FROM maxd)))
           AS recency_days,
         count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, frequency, monetary,
         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m
  FROM per_cust
)
SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
         AS segment,
       count(*) AS n_customers,
       CAST(round(sum(monetary), 2) AS DOUBLE) AS segment_value
FROM scored GROUP BY 1
""".strip()


ANALYTICS_QUERIES["window_customer_rfm_segments"] = FnWorkload(
    _customer_rfm_segments, _RFM_SQL
)


def _customer_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB SCALE PATH for RFM segmentation, contract-tied to the
    exact three-ntile twin — the window_customer_ltv_deciles_approx
    pattern at the three-dimensional shape: ONE aggregate computes
    percentile_approx quintile cuts for recency/frequency/monetary
    (bounded GK state, map-side combined, NO global sorts), then a
    single broadcast bucket join scores every customer on all three
    dimensions at once.

    Oracle carries the exact ntile segment aggregates (identical
    arithmetic to window_customer_rfm_segments) plus two pinned-TRUE
    booleans: ``approx_ok`` (every one of the 12 cut values — 4 per
    dimension — satisfies the GK rank-interval guarantee, ε =
    1/accuracy) and ``disagree_ok`` (per dimension, the number of
    customers whose bucket-join quintile differs from exact ntile is
    within that dimension's measured rank-slack budget Σᵢ(slackᵢ+1);
    ntile boundaries sit within 1 rank of ceil(pᵢ·n) for every quintile
    remainder split, which the +1 absorbs — both orientations).

    The exact ntile windows and per-dimension value histograms are the
    verification harness; the production path is the one aggregate +
    one broadcast join."""
    from pyspark.sql import Window

    accuracy = 100
    K = 5
    ps = [i / K for i in range(1, K)]
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("_maxd"))
    per_cust = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff(F.col("_maxd"), F.col("o_orderdate"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        .persist()  # consumed by the cut aggregate, the bucket join,
        # and three verification histograms
    )
    _register_cache(per_cust)
    dims = [("recency_days", True), ("frequency", False), ("monetary", False)]

    scalars = per_cust.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.percentile_approx(c, ps, accuracy).alias(f"_cuts_{c}")
            for c, _ in dims
        ],
    )
    # production path: ONE broadcast of the 1-row cut lists scores all
    # three dimensions (asc dim: quintile 1 = smallest; desc dims:
    # quintile 1 = largest — matching the exact twin's orientations)
    b = per_cust.crossJoin(F.broadcast(scalars))

    def _exceeded(col_name: str) -> F.Column:
        # closure binds col_name per call (a loop-local lambda with a
        # default arg would grow a second parameter, which F.filter
        # interprets as the element-index argument)
        return F.size(
            F.filter(f"_cuts_{col_name}", lambda x: F.col(col_name) > x)
        )

    for c, asc in dims:
        exceeded = _exceeded(c)
        b = b.withColumn(
            f"_aq_{c}",
            (F.lit(1) + exceeded) if asc else (F.lit(K) - exceeded),
        )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    # persisted: the disagreement audit and the segment report both read
    # the three-ntile frame; without the cache the three global window
    # sorts — the exact twin's whole cost — executed TWICE (r15, guide
    # §5; this was the r14 verdict's "approx costs 3× its exact twin")
    scored = _register_cache(b.select(
        "*",
        F.ntile(K).over(r_w).alias("r"),
        F.ntile(K).over(f_w).alias("f"),
        F.ntile(K).over(m_w).alias("m"),
    ).persist())

    # verification: per-dimension cut-rank intervals from value
    # histograms, ALL THREE DIMENSIONS IN ONE PASS (r15, guide §1.2):
    # the r14 form ran one histogram aggregation per dimension and
    # crossJoined three 1-row aggregates — three shuffle jobs where one
    # long-format explode (dim, value) suffices. Values compare as
    # doubles on BOTH sides of every </<= (the cut values come from the
    # same column's data), so each dimension's rank intervals — and
    # therefore both pinned booleans — are bit-identical to the
    # per-dimension form (int/long/decimal(18,2) at these magnitudes
    # round-trip doubles exactly).
    def _dim_checks_all() -> DataFrame:
        lf = per_cust.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("_dim"),
                            F.col(c).cast("double").alias("_v"),
                        )
                        for c, _ in dims
                    ]
                )
            ).alias("e")
        ).select("e._dim", "e._v")
        hist = lf.groupBy("_dim", "_v").agg(
            F.count(F.lit(1)).alias("_c")
        )
        cuts = scalars.select(
            "_n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("_dim"),
                            F.lit(i).alias("_i"),
                            F.element_at(f"_cuts_{c}", i + 1)
                            .cast("double")
                            .alias("_cv"),
                        )
                        for c, _ in dims
                        for i in range(len(ps))
                    ]
                )
            ).alias("e"),
        ).select("_n", "e._dim", "e._i", "e._cv")
        ranks = (
            hist.join(F.broadcast(cuts), "_dim")
            .groupBy("_dim", "_i", "_cv", "_n")
            .agg(
                F.sum(
                    F.when(
                        F.col("_v") < F.col("_cv"), F.col("_c")
                    ).otherwise(0)
                ).alias("_rlo"),
                F.sum(
                    F.when(
                        F.col("_v") <= F.col("_cv"), F.col("_c")
                    ).otherwise(0)
                ).alias("_rhi"),
            )
        )
        t = F.ceil((F.col("_i") + 1) / F.lit(float(K)) * F.col("_n"))
        eps_n = F.greatest(F.lit(1), F.ceil(F.col("_n") / F.lit(accuracy)))
        return (
            ranks.select(
                "_dim",
                (
                    (F.col("_rhi") > F.col("_rlo"))
                    & (F.col("_rhi") >= t - eps_n)
                    & (F.col("_rlo") + 1 <= t + eps_n)
                ).alias("_gk"),
                (
                    F.greatest(F.col("_rhi"), t)
                    - F.least(F.col("_rlo"), t)
                    + 1
                ).alias("_s1"),
            )
            .groupBy("_dim")
            .agg(
                F.bool_and("_gk").alias("_ok"),
                F.sum("_s1").alias("_budget"),
            )
        )

    # Both audit scalars are 1-row aggregates: collect them ONCE and
    # return the booleans as literals (r15, guide §1.2) — the r14 form
    # crossJoined them as broadcast subtrees, each an extra job whose
    # plan re-derived per_cust/scored. The disagreement agg doubles as
    # the eager materialization of the scored cache, so the report job
    # below reads the windows from memory instead of re-sorting.
    by_dim = {
        r["_dim"]: (bool(r["_ok"]), r["_budget"])
        for r in _dim_checks_all().collect()
    }
    ntile_of = {"recency_days": "r", "frequency": "f", "monetary": "m"}
    nd = scored.agg(
        *[
            F.sum(
                F.when(F.col(ntile_of[c]) != F.col(f"_aq_{c}"), 1).otherwise(0)
            ).alias(f"_nd_{c}")
            for c, _ in dims
        ]
    ).collect()[0]
    # empty input: no dimension has a cut row and every disagreement
    # sum is NULL — both guarantees hold vacuously
    approx_ok = all(by_dim.get(c, (True, 0))[0] for c, _ in dims)
    disagree_ok = all(
        (nd[f"_nd_{c}"] or 0) <= by_dim.get(c, (True, 0))[1]
        for c, _ in dims
    )

    report = scored.groupBy(
        F.concat_ws("", "r", "f", "m").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("monetary"), 2).cast("double").alias("segment_value"),
    )
    return report.select(
        "segment",
        "n_customers",
        "segment_value",
        F.lit(approx_ok).alias("approx_ok"),
        F.lit(disagree_ok).alias("disagree_ok"),
    )


_RFM_APPROX_SQL = f"""
SELECT *, TRUE AS approx_ok, TRUE AS disagree_ok FROM (
{_RFM_SQL}
)
""".strip()


ANALYTICS_QUERIES["window_customer_rfm_segments_approx"] = FnWorkload(
    _customer_rfm_segments_approx, _RFM_APPROX_SQL
)


def _customer_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: per market segment, the distribution of
    customers' gaps between CONSECUTIVE orders — n gaps, mean gap days
    (exact-integer division), min/max. The purchase-cadence profile
    behind churn/replenishment models.

    Plan shape: one lag() window keyed by customer (the only raw-stream
    shuffle), gaps aggregated straight onto the 5-row segment space with
    map-side partials. Day gaps are exact integers, so every statistic
    is reduction-order-safe without decimal scaffolding."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            gaps.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (
                F.sum("gap_days").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_gap_days"),
            F.min("gap_days").alias("min_gap"),
            F.max("gap_days").alias("max_gap"),
        )
    )


_ORDER_GAP_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders
)
SELECT c_mktsegment,
       count(*) AS n_gaps,
       CAST(sum(gap_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_gap_days,
       min(gap_days) AS min_gap,
       max(gap_days) AS max_gap
FROM gaps JOIN customer ON c_custkey = o_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
""".strip()


ANALYTICS_QUERIES["window_order_gap_stats"] = FnWorkload(
    _customer_order_gap_stats, _ORDER_GAP_SQL
)


def _nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's open-order
    revenue, plus its rank within the region — the percent-of-parent
    window shape every BI rollup uses.

    Plan shape: the star join + one aggregation onto |nations| rows,
    then the share/rank windows run over that already-tiny aggregate
    keyed by region — the window input is |nations|, never the fact
    stream. Shares are one shared IEEE division of exact decimal sums
    (cast to double only at the division)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_nation = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    w = Window.partitionBy("r_name")
    rank_w = w.orderBy(F.desc("rev"), F.asc("n_name"))
    return per_nation.select(
        "r_name",
        "n_name",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(w).cast("double")
        ).alias("region_share"),
        F.rank().over(rank_w).cast("int").alias("rank_in_region"),
    )


_NATION_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE o_orderstatus = 'O'
  GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE)
         / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
         AS region_share,
       CAST(rank() OVER (PARTITION BY r_name
                         ORDER BY rev DESC, n_name ASC) AS INT)
         AS rank_in_region
FROM per_nation
""".strip()


ANALYTICS_QUERIES["window_nation_revenue_share"] = FnWorkload(
    _nation_revenue_share, _NATION_SHARE_SQL
)


# ---------------------------------------------------------------------------
# Round 7: the remaining classic TPC-H shapes, adapted to the reduced
# testdata schema (no partsupp/shipmode/commitdate/phone/comment columns).
# Shared numeric-parity rules: monetary aggregates sum DECIMAL, divisions
# happen AFTER casting both operands to double (decimal-division scale
# rules differ between engines), and threshold comparisons against an
# average are rewritten multiplicatively (x * n > sum) so no
# order-dependent double average ever decides row membership.
# ---------------------------------------------------------------------------


def _join_volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue shipped between two
    specific nations (either direction) by ship year. Scale plan: the
    nation pair filter cuts supplier/customer to ~2/25 BEFORE any fact
    join — the filtered supplier⋈nation side is broadcast (supplier is
    the smallest fact table), lineitem⋈orders shuffles on orderkey once,
    then the customer side shuffles on custkey; the final aggregate's key
    space is 2 × years, trivially small. No join touches unfiltered
    dimension rows, which is what keeps the broadcast legal at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.filter(F.col("n_name").isin(*pair))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.filter(F.col("n_name").isin(*pair))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount"))
                    ).cast("decimal(38,12)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(vol), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12)) AS vol
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
""".strip()


ANALYTICS_QUERIES["join_volume_shipping_q7"] = FnWorkload(
    _join_volume_shipping_q7, _Q7_SQL
)


def _join_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: within one consuming region and one
    part type, the share of revenue supplied by one nation, per order
    year. The share is a conditional-sum / total-sum ratio computed in
    ONE aggregation pass (no self-join, no second scan). Scale plan: the
    filtered part set broadcasts into the lineitem scan (the most
    selective edge first), supplier⋈nation broadcasts to tag
    supp_nation, and customers restrict to the region via broadcast
    nation⋈region — the only big shuffles are lineitem⋈orders on
    orderkey and orders⋈customer on custkey. Both decimal sums are cast
    to double before the division."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    vol = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("vol"),
            F.col("supp_nation"),
        )
    )
    target = F.when(
        F.col("supp_nation") == "NATION_3", F.col("vol")
    ).otherwise(F.lit(0).cast("decimal(38,12)"))
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(target).cast("double") / F.sum("vol").cast("double"), 6
        ).alias("mkt_share"),
        F.round(F.sum("vol"), 2).cast("double").alias("total_volume"),
    )


_Q8_SQL = """
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                           ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE)
             / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share,
       CAST(round(sum(vol), 2) AS DOUBLE) AS total_volume
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12)) AS vol,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
)
GROUP BY o_year
""".strip()


ANALYTICS_QUERIES["join_market_share_q8"] = FnWorkload(
    _join_market_share_q8, _Q8_SQL
)


def _join_top_returned_customers_q10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10-shaped returned-item customer ranking: revenue lost to
    returns (l_returnflag = 'R') per customer in one quarter, top 20.
    The TakeOrdered(20) pattern: Spark plans a per-partition top-20 then
    a single tiny driver merge — no global sort of the aggregate. The
    order key is the EXACT decimal revenue (tie-broken by custkey), so
    both engines pick identical rows; the displayed value is the rounded
    double."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).alias("_rev"))
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).cast("double").alias("acctbal"),
            "n_name",
            F.round("_rev", 2).cast("double").alias("revenue"),
        )
    )


_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(round(c_acctbal, 2) AS DOUBLE) AS acctbal,
       n_name,
       CAST(round(rev, 2) AS DOUBLE) AS revenue
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(38,12))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1995-10-01'
    AND o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
ORDER BY rev DESC, c_custkey ASC
LIMIT 20
""".strip()


ANALYTICS_QUERIES["join_top_returned_customers_q10"] = FnWorkload(
    _join_top_returned_customers_q10, _Q10_SQL
)


def _agg_custdist_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: LEFT join so
    zero-order customers land in the c_count = 0 bucket (the whole point
    of Q13 — an inner join silently drops them), with a residual
    predicate on the JOIN (not a WHERE, which would turn the outer join
    inner). Two aggregations: per-customer count shuffles on custkey,
    then the distribution aggregate's key space is the handful of
    distinct counts. Scale note: both shuffles are on high-cardinality
    or tiny keys — no skew, no global sort."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""".strip()


ANALYTICS_QUERIES["agg_custdist_q13"] = FnWorkload(
    _agg_custdist_q13, _Q13_SQL
)


def _agg_promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share for one ship month: a
    conditional-sum / total-sum ratio in one pass over the
    month-filtered lineitem⋈part join (part broadcasts; the month filter
    prunes the scan FIRST — at 100 TB with date-partitioned lineitem
    this is partition pruning, not a full scan). Division happens in
    double on both engines after exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(38,12)")
    )
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_share_pct"),
        F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
    )


_Q14_SQL = """
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                                   ELSE CAST(0 AS DECIMAL(38,12)) END)
                     AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS promo_share_pct,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
FROM (
  SELECT p_type,
         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
    AND l_shipdate < TIMESTAMP '1995-10-01'
)
""".strip()


ANALYTICS_QUERIES["agg_promo_revenue_q14"] = FnWorkload(
    _agg_promo_revenue_q14, _Q14_SQL
)


def _join_priority_shipping_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped two-band conditional aggregation (adapted: the
    testdata carries no l_shipmode / l_commitdate / l_receiptdate, so
    l_returnflag stands in for the mode dimension and the ship-year
    window for the receipt-year filter — the SHAPE is Q12's: a
    lineitem⋈orders equijoin on the order key feeding per-mode
    high/low-priority line counts via CASE bands over o_orderpriority).
    Both sides are fact-sized at 100 TB, so this is the canonical
    non-broadcast shuffle join on the shared key; the year filter
    reaches the lineitem scan (partition pruning on date-partitioned
    layouts), and the two bands come from ONE pass — sum(flag) and
    sum(1-flag) — not two joins."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_returnflag
""".strip()


ANALYTICS_QUERIES["join_priority_shipping_q12"] = FnWorkload(
    _join_priority_shipping_q12, _Q12_SQL
)


def _agg_supplier_relationship_q16(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16-shaped supplier relationship count (adapted: the
    observed DISTINCT (l_partkey, l_suppkey) pairs stand in for the
    missing partsupp table): how many distinct suppliers can provide
    parts of each (brand, type, size) combination, excluding one brand,
    a size whitelist, and suppliers with negative balances (the NOT IN
    subquery → broadcast LEFT ANTI join, the decorrelation Spark plans
    as BroadcastHashJoin LeftAnti). The distinct pair set shuffles once
    on partkey; countDistinct(suppkey) per small group key is exact."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    rel = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("_bad"))
    return (
        rel.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("_bad"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""".strip()


ANALYTICS_QUERIES["agg_supplier_relationship_q16"] = FnWorkload(
    _agg_supplier_relationship_q16, _Q16_SQL
)


def _join_small_qty_revenue_q17(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue: lineitems of one brand
    whose quantity is below 20% of that part's average quantity — the
    canonical correlated scalar subquery, decorrelated into one per-part
    aggregate joined back to the detail rows. The membership test is
    rewritten MULTIPLICATIVELY (5 · qty · n_li < sum_qty, all exact
    decimals) so no order-dependent double average ever decides which
    rows qualify — bit-identical row sets in both engines by
    construction. Brand-filtered part broadcasts into both passes; the
    per-part aggregate and the join share one partkey shuffle."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    small = li.join(per_part, F.col("l_partkey") == F.col("_pk")).filter(
        F.lit(5) * F.col("qty") * F.col("n_li") < F.col("sum_qty")
    )
    return small.agg(
        F.round(
            F.sum("price").cast("double") / F.lit(7.0), 2
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lineitems"),
    )


_Q17_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
), per_part AS (
  SELECT l_partkey AS pk, sum(qty) AS sum_qty, count(*) AS n_li
  FROM li GROUP BY l_partkey
)
SELECT round(CAST(sum(price) AS DOUBLE) / 7.0, 2) AS avg_yearly,
       count(*) AS n_small_lineitems
FROM li JOIN per_part ON l_partkey = pk
WHERE 5 * qty * n_li < sum_qty
""".strip()


ANALYTICS_QUERIES["join_small_qty_revenue_q17"] = FnWorkload(
    _join_small_qty_revenue_q17, _Q17_SQL
)


def _join_untapped_customers_q22(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22-shaped untapped-customer analysis (adapted: c_nationkey
    stands in for the missing phone country code, and "untapped" means
    no orders in the final year of the calendar — this testdata gives
    every customer at least one lifetime order, so the classic NO-orders
    predicate would be vacuously empty). Customers from a nation
    whitelist with above-average positive balances and no recent
    orders. The global average is ONE scalar row cross-joined
    (broadcast) into the scan, and the threshold compares
    multiplicatively (bal · n > sum) in exact decimals — no
    double-average membership flips. The NOT EXISTS is a LEFT ANTI join
    on custkey, the highest-cardinality shuffle here; the final
    aggregate's key space is the 7-nation whitelist."""
    nations = [1, 3, 5, 7, 9, 11, 13]
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*nations)
    ).select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    thresh = cust.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("_sum_bal"),
        F.count(F.lit(1)).alias("_n_bal"),
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("_ok"))
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("bal") * F.col("_n_bal") > F.col("_sum_bal"))
        .join(orders, F.col("c_custkey") == F.col("_ok"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("bal"), 2).cast("double").alias("totacctbal"),
        )
    )


_Q22_SQL = """
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
), thresh AS (
  SELECT sum(bal) AS sum_bal, count(*) AS n_bal FROM cust WHERE bal > 0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(round(sum(bal), 2) AS DOUBLE) AS totacctbal
FROM cust, thresh
WHERE bal * n_bal > sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-08-01')
GROUP BY c_nationkey
""".strip()


ANALYTICS_QUERIES["join_untapped_customers_q22"] = FnWorkload(
    _join_untapped_customers_q22, _Q22_SQL
)


def _agg_median_price_per_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact per-group order statistics: median and p90 of order price
    per priority via linear-interpolation percentiles (both engines
    index at (n-1)·q and interpolate — Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). Exact percentiles need the group's values
    together, but the GROUP's data is the unit of shuffle — 5 priority
    keys × |orders|/5 values per task, the bounded-state shape; the
    approx twin for truly unbounded groups is corpus_length_quantiles_
    approx's percentile_approx machinery."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.median("o_totalprice"), 6).alias("median_price"),
        F.round(F.percentile("o_totalprice", 0.9), 6).alias("p90_price"),
        F.round(F.percentile("o_totalprice", 0.99), 6).alias("p99_price"),
    )


_MEDIAN_PRIORITY_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(median(o_totalprice), 6) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
       round(quantile_cont(o_totalprice, 0.99), 6) AS p99_price
FROM orders
GROUP BY o_orderpriority
""".strip()


ANALYTICS_QUERIES["agg_median_price_per_priority"] = FnWorkload(
    _agg_median_price_per_priority, _MEDIAN_PRIORITY_SQL
)


def _window_acctbal_percent_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """percent_rank + cume_dist within market segments — the two
    distribution window functions not yet pinned (rank/row_number/ntile
    are). Both are rank-global per partition, but the PARTITION is the
    shuffle unit (5 segments × |customers|/5 rows per task) — the same
    bounded-partition argument as every per-user window here; the
    values are exact rational functions of rank and partition size, so
    cross-engine float parity needs only the final round."""
    cust = load_table(spark, sf_dir, "customer")
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).cast("double").alias("acctbal"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


_PCT_RANK_SQL = """
SELECT c_custkey, c_mktsegment,
       CAST(round(c_acctbal, 2) AS DOUBLE) AS acctbal,
       round(percent_rank() OVER w, 9) AS pct_rank,
       round(cume_dist() OVER w, 9) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal ASC, c_custkey ASC)
""".strip()


ANALYTICS_QUERIES["window_acctbal_percent_rank"] = FnWorkload(
    _window_acctbal_percent_rank, _PCT_RANK_SQL
)


def _window_nation_monthly_cumshare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative revenue share per nation over order months: aggregate
    to (nation, month) FIRST (the shuffle), then the running sum's
    window partitions by nation — ≤ |months| rows per partition, so the
    sort inside each window task is bounded by the calendar, not the
    fact table (the anti-pattern this replaces is a global
    Window.orderBy over raw orders). Share division in double after
    exact decimal sums."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev")
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("n_name")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("n_name")
    return monthly.select(
        "n_name",
        "month",
        F.round("_rev", 2).cast("double").alias("revenue"),
        F.round(
            F.sum("_rev").over(w).cast("double")
            / F.sum("_rev").over(tot).cast("double"),
            9,
        ).alias("cum_share"),
    )


_CUMSHARE_SQL = """
WITH monthly AS (
  SELECT n_name, date_trunc('month', o_orderdate) AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('month', o_orderdate)
)
SELECT n_name, CAST(month AS TIMESTAMP) AS month,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST(sum(rev) OVER (PARTITION BY n_name ORDER BY month
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(sum(rev) OVER (PARTITION BY n_name) AS DOUBLE), 9)
         AS cum_share
FROM monthly
""".strip()


ANALYTICS_QUERIES["window_nation_monthly_cumshare"] = FnWorkload(
    _window_nation_monthly_cumshare, _CUMSHARE_SQL
)


def _agg_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue change: one filtered scan, one
    global aggregate — the pure predicate-pushdown query (year band on
    shipdate + discount band + quantity cap all reach the parquet scan
    as PushedFilters; at 100 TB with date-partitioned lineitem the year
    band is partition pruning). The revenue delta sums
    extendedprice·discount in exact decimals."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(38,12)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""".strip()


ANALYTICS_QUERIES["agg_forecast_revenue_q6"] = FnWorkload(
    _agg_forecast_revenue_q6, _Q6_SQL
)


def _join_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier(s): per-supplier revenue over one
    quarter, then the supplier(s) achieving the maximum — the classic
    view + scalar-subquery shape, decorrelated as aggregate → 1-row max
    → broadcast equality join. Membership compares EXACT decimal sums
    (bit-identical in both engines), so ties are handled correctly by
    keeping every argmax supplier instead of sorting and taking one."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_rev"))
    top = per_supp.agg(F.max("_rev").alias("_max_rev"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        per_supp.crossJoin(F.broadcast(top))
        .filter(F.col("_rev") == F.col("_max_rev"))
        .join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round("_rev", 2).cast("double").alias("total_revenue"),
        )
    )


_Q15_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(38,12))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-10-01'
    AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(round(rev, 2) AS DOUBLE) AS total_revenue
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT max(rev) FROM per_supp)
""".strip()


ANALYTICS_QUERIES["join_top_supplier_q15"] = FnWorkload(
    _join_top_supplier_q15, _Q15_SQL
)


def _agg_disjunctive_bands_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive band predicate: revenue over an OR
    of three (brand × size-band × quantity-band) conjunctions — the
    query that tests DISJUNCTIVE pushdown: Catalyst splits the common
    part-side conjuncts (brand/size reach the part scan) from the mixed
    residual, and the join stays a broadcast equijoin with the OR as a
    post-join filter — never a plan-per-branch union. One scan each
    side, one scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    return j.filter(band).agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_Q19_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""".strip()


ANALYTICS_QUERIES["agg_disjunctive_bands_q19"] = FnWorkload(
    _agg_disjunctive_bands_q19, _Q19_SQL
)


def _join_promo_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped supplier shortlist (adapted: shipped quantities
    from lineitem stand in for the missing partsupp availability):
    suppliers who moved more than a threshold of PROMO-type parts in
    1995 — the nested semi-join chain decorrelated to aggregate → filter
    → broadcast joins. The part filter broadcasts INTO the lineitem scan
    before any aggregation; the per-supplier quantity sum is exact
    decimal; supplier⋈nation decorates the survivors."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    per_supp = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty")
        )
        .filter(F.col("_qty") > 400)
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        per_supp.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.col("_qty").cast("double").alias("promo_qty"),
        )
    )


_Q20_SQL = """
SELECT s_suppkey, s_name, n_name,
       CAST(qty AS DOUBLE) AS promo_qty
FROM (
  SELECT l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY l_suppkey
)
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE qty > 400
""".strip()


ANALYTICS_QUERIES["join_promo_suppliers_q20"] = FnWorkload(
    _join_promo_suppliers_q20, _Q20_SQL
)


def _agg_important_parts_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped "important stock" aggregation (adapted: the
    testdata has no partsupp, so per-part revenue from lineitem restricted
    to ONE nation's suppliers stands in for ps_supplycost×ps_availqty —
    the SHAPE is Q11's: a keyed aggregate kept only when it exceeds a
    FRACTION of the same aggregate's grand total, i.e. a HAVING against a
    scalar subquery). The nation is the minimum s_nationkey (deterministic
    in both engines). Value sums run in decimal(38,12); the threshold
    compare is ``value × 300 > total`` — an exact integer-scaled decimal
    comparison, no float fraction — and only the output column rounds to
    double.

    Scale shape: supplier is a broadcast dimension (semi join carries no
    payload); the per-part aggregate is one hash shuffle on l_partkey;
    the grand total is a second aggregation OVER THE PER-PART RESULT
    (|parts|-sized, not |lineitem|-sized) broadcast back as a single-row
    scalar — Q11's classic two-level plan with no second fact scan."""
    sup = load_table(spark, sf_dir, "supplier")
    min_nation = sup.agg(F.min("s_nationkey").alias("k"))
    nation_sup = sup.join(
        F.broadcast(min_nation),
        F.col("s_nationkey") == F.col("k"),
        "semi",
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(38,12)")
            * (
                F.lit(1).cast("decimal(38,12)")
                - F.col("l_discount").cast("decimal(38,12)")
            )
        ).alias("rev"),
    )
    per_part = (
        li.join(F.broadcast(nation_sup), F.col("l_suppkey") == F.col("s_suppkey"), "semi")
        .groupBy("l_partkey")
        .agg(F.sum("rev").alias("value_dec"))
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * 300 > F.col("total_dec"))
        .select(
            "l_partkey",
            F.round(F.col("value_dec"), 6).cast("double").alias("value"),
        )
    )


_Q11_SQL = """
WITH nsup AS (
  SELECT s_suppkey FROM supplier
  WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)
),
per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(38,12))
             * (CAST(1 AS DECIMAL(38,12))
                - CAST(l_discount AS DECIMAL(38,12)))) AS value_dec
  FROM lineitem SEMI JOIN nsup ON l_suppkey = s_suppkey
  GROUP BY l_partkey
),
t AS (SELECT sum(value_dec) AS total_dec FROM per_part)
SELECT l_partkey, CAST(round(value_dec, 6) AS DOUBLE) AS value
FROM per_part, t
WHERE value_dec * 300 > total_dec
""".strip()


ANALYTICS_QUERIES["agg_important_parts_q11"] = FnWorkload(
    _agg_important_parts_q11, _Q11_SQL
)


def _join_local_supplier_volume_q5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume (the last classic TPC-H
    shape the catalog lacked): the six-table snowflake
    customer⋈orders⋈lineitem⋈supplier⋈nation⋈region where revenue
    counts ONLY when the supplier sits in the customer's own nation
    (``c_nationkey = s_nationkey`` — the cross-dimension equality that
    makes Q5 the canonical join-ORDER benchmark).

    Plan shape: region (1 row) → nation (a few) → supplier/customer
    (thousands) are all broadcast-sized dims under AQE, so the only
    shuffle is the final per-nation aggregate; the one-year date window
    pushes to the orders parquet scan; the local-supplier equality is
    expressed IN the supplier join condition, not a post-filter, so
    Catalyst is free to reorder the dim chain. Revenue accumulates in
    DECIMAL(38,12) (shuffle-order-exact), rounded once at the edge.
    Order by revenue desc with n_name as the total tiebreak."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(38,12)")
    return (
        region.join(nation, F.col("r_regionkey") == F.col("n_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
        .select("n_name", "revenue")
    )


_Q5_SQL = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM region
JOIN nation ON r_regionkey = n_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""".strip()


ANALYTICS_QUERIES["join_local_supplier_volume_q5"] = FnWorkload(
    _join_local_supplier_volume_q5, _Q5_SQL
)


def _join_order_priority_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check — the canonical correlated
    EXISTS (adapted: the testdata lineitem carries no commit/receipt
    dates, so "problem line" is l_returnflag = 'R'): count orders per
    priority, in one order-date quarter, having AT LEAST ONE returned
    line. With this the catalog covers every TPC-H query shape the
    testdata's columns can express (Q2/Q9 need partsupp's supplycost;
    their join shapes ride join_cheapest_supplier_per_part and
    join_market_share_q8).

    Plan shape: the EXISTS decorrelates to a LEFT SEMI join — lineitem
    is filtered and projected to DISTINCT orderkeys map-side, the semi
    join shuffles on orderkey once (no row multiplication: semi join
    output ≤ orders), and the aggregate's key space is the 5 priorities.
    At 100 TB the date filter prunes the orders scan (PushedFilters) and
    the semi join's build side is the deduped problem-order set, a small
    fraction of lineitem."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    problem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(
            problem, F.col("o_orderkey") == F.col("l_orderkey"), "semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
""".strip()


ANALYTICS_QUERIES["join_order_priority_q4"] = FnWorkload(
    _join_order_priority_q4, _Q4_SQL
)
