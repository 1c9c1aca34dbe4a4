"""TPC-H composite shapes beyond Q3/Q5/Q6/Q18 (SURVEY.md §2.B-11).

Q7 (volume shipping), Q12 (shipping priority), Q17 (small-quantity
revenue) — each adapted to the synthetic star schema's column set
(no l_shipmode/l_receiptdate/p_container in the driver fixtures), but
keeping the query SHAPE that makes each one a planner benchmark:

  * ``tpch_q7``  — 6-way join with a disjunctive cross-nation pair
    predicate that Catalyst must keep ABOVE the two nation joins (it
    references both sides), plus a year() projection feeding the
    group-by. The two nation dims broadcast; the one large shuffle is
    lineitem⋈orders.
  * ``tpch_q12`` — big-big join (orders⋈lineitem) where BOTH inputs are
    date/priority-filtered at the scan, with conditional aggregation
    (CASE inside SUM) — the canonical "filter early, classify late"
    plan.
  * ``tpch_q17`` — correlated scalar subquery (per-part average
    quantity) that must decorrelate into an aggregate + equi-join on
    the correlation key, never a per-row re-scan. The part dim filter
    lands BEFORE the join on both branches.

The reference has no query language (its one hard-coded plan is
``hadoop_tutorial/src/Kmeans.java:137-160``); these exercise Catalyst's
analyzer/optimizer surface a user of any real engine relies on.

Scale (100 TB): every shape here is one big shuffle plus broadcast
dims. Q17's decorrelated aggregate shuffles lineitem once on
l_partkey; AQE handles the (part-filtered) probe side becoming
broadcast-size after filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import davg, dround, dsum, sql_davg, sql_dround, sql_dsum
from nchu_bigdata_spark.io import table
from nchu_bigdata_spark.registry import register, register_sql

# Q7's trading-nation pair (fixture nations are NATION_0..NATION_24).
_Q7_A, _Q7_B = "NATION_1", "NATION_2"


@register(
    "tpch_q7",
    tags=("b11",),
    oracle=f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = '{_Q7_A}' AND n2.n_name = '{_Q7_B}')
           OR (n1.n_name = '{_Q7_B}' AND n2.n_name = '{_Q7_A}')
        GROUP BY n1.n_name, n2.n_name, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year.

    The pair predicate is DISJUNCTIVE across the supplier-side and
    customer-side nation names, so it can't be pushed below either
    nation join — but Catalyst can (and does) infer the per-side
    domain filter ``n_name IN (A, B)`` and push THAT into both
    broadcast dims, so each dim join keeps only 2 of 25 nations before
    the residual pair condition runs. lineitem⋈orders is the only
    large shuffle; supplier/customer/nation broadcast."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == _Q7_A) & (F.col("cust_nation") == _Q7_B)
    ) | ((F.col("supp_nation") == _Q7_B) & (F.col("cust_nation") == _Q7_A))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# TPC-H Q12 shape. The fixture has no l_shipmode/l_receiptdate, so the
# group key is l_linestatus and lateness is ship-after-order, a
# cross-table predicate that must ride the join, not the scan.
register_sql(
    "tpch_q12",
    tags=("b11",),
    oracle="""
        SELECT l.l_linestatus AS ship_class,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l.l_shipdate >= o.o_orderdate
        GROUP BY l.l_linestatus
    """,
)


# Q17's brand filter and the avg-quantity threshold factor. The
# threshold is ROUNDED to 6 decimals on both engines before the
# comparison: the per-part AVG is a double whose last ulp depends on
# summation order (Spark partial aggs vs DuckDB), and an unrounded
# threshold could flip a row at the boundary.
_Q17_BRAND = "Brand#23"


@register(
    "tpch_q17",
    tags=("b11",),
    oracle=f"""
        SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(20,6))) / 7.0, 2)
                    AS DOUBLE) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = '{_Q17_BRAND}'
          AND l.l_quantity < (
              SELECT ROUND(0.2 * AVG(l2.l_quantity), 6)
              FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue via a correlated
    scalar subquery (per-part average quantity).

    Expressed as the DECORRELATED plan Catalyst would produce from the
    SQL: aggregate lineitem once on l_partkey (one shuffle, partial
    averages collapse map-side), join the per-part thresholds back to
    the brand-filtered lines, filter, and global-agg. The per-row
    re-scan a naive evaluator would do is O(|lineitem|²) — the
    decorrelated form is one pass + one join, which is the only shape
    that survives 100 TB. The brand filter lands before the threshold
    join, so the probe side is ~1/|brands| of lineitem and AQE
    broadcast-demotes it at small SF."""
    li = table(spark, sf_dir, "lineitem")
    part_f = table(spark, sf_dir, "part").filter(F.col("p_brand") == _Q17_BRAND)
    thresholds = li.groupBy("l_partkey").agg(
        F.round(0.2 * F.avg("l_quantity"), 6).alias("qty_cap")
    )
    branded = li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey).select(
        li.l_partkey, "l_quantity", "l_extendedprice"
    )
    small = branded.join(thresholds, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_cap")
    )
    return small.agg(
        dround(F.sum(F.col("l_extendedprice").cast("decimal(20,6)")) / 7.0, 2)
        .cast("double")
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q10",
    tags=("b11",),
    oracle=f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-10-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter — the "who should we call" report.

    Plan: both fact filters (order-date range, returnflag='R') push to
    their scans BEFORE the joins; customer/nation broadcast; the only
    big shuffle is lineitem⋈orders. Top-20 rides a per-partition heap
    (TakeOrderedAndProject, asserted) ordered on the EXACT decimal
    revenue with c_custkey tiebreak, so the result set is deterministic
    on both engines."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14",
    tags=("b11",),
    oracle=f"""
        WITH s AS (
            SELECT
                {sql_dsum("CASE WHEN p.p_type = 'PROMO' "
                          "THEN l.l_extendedprice * (1 - l.l_discount) "
                          "ELSE 0 END")} AS promo,
                {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS total
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
              AND l.l_shipdate <  TIMESTAMP '1997-04-01'
        )
        SELECT {sql_dround("100.0 * (CAST(promo AS DOUBLE) / CAST(total AS DOUBLE))", 4)}
                   AS promo_revenue_pct,
               CAST(promo AS DOUBLE) AS promo_revenue
        FROM s
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share for one month
    (conditional-aggregate ratio; the fixture's p_type is a flat
    category so the predicate is equality, not LIKE 'PROMO%').

    Determinism: both sums are exact decimals (compat policy); the
    ratio is ONE double division of identical decimal-cast inputs on
    both engines — same IEEE operation, same result — then a 4dp
    round. Plan: ship-month pushed to the lineitem scan, part dim
    broadcast, single partial+final agg row."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    part = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    s = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        dsum(promo_rev).alias("promo"), dsum(rev).alias("total")
    )
    return s.select(
        dround(
            100.0 * (F.col("promo").cast("double") / F.col("total").cast("double")),
            4,
        ).alias("promo_revenue_pct"),
        F.col("promo").cast("double").alias("promo_revenue"),
    )


# TPC-H Q4 shape. The fixture has no commit/receipt dates, so lateness
# is ship-after-order. EXISTS is a semi join: lineitem match
# multiplicity can never duplicate an order row.
register_sql(
    "tpch_q4",
    tags=("b11",),
    oracle="""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
          AND o.o_orderdate <  TIMESTAMP '1997-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o.o_orderpriority
    """,
)


# TPC-H Q13 shape; the priority filter stands in for the original
# comment-pattern filter. It rides the LEFT JOIN condition, not the
# WHERE: in the WHERE it would delete the zero-order customers the
# query exists to count.
register_sql(
    "tpch_q13",
    tags=("b11",),
    oracle="""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o
                   ON c.c_custkey = o.o_custkey
                  AND o.o_orderpriority <> '5-LOW'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
)


# TPC-H Q22 shape. Every fixture customer has SOME order, so
# inactivity is no-URGENT-order. The threshold is EXACT: a decimal(20,6)
# sum divided by the count in ONE IEEE division gives the bit-identical
# double on both engines, so no acctbal can straddle it (a 6dp ROUND of
# a double AVG left an ulp-at-the-grid tail).
register_sql(
    "tpch_q22",
    tags=("b11",),
    oracle=f"""
        SELECT c.c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               {sql_dsum("c.c_acctbal")} AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (
                  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE)
                  FROM customer c2 WHERE c2.c_acctbal > 0.0
              )
          AND NOT EXISTS (
                  SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
              )
        GROUP BY c.c_nationkey
    """,
)


@register(
    "tpch_q15",
    tags=("b11",),
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {sql_dsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue via a derived
    revenue view + an uncorrelated scalar MAX over that SAME view —
    preserving every tie (the reason Q15 isn't just ORDER BY LIMIT 1).

    Determinism: revenue is an EXACT decimal sum, so the MAX equality
    can't miss a tie by an ulp on either engine (a double revenue here
    would be the classic flaky-tie bug). Plan: the view computes once
    per consumer chain, the scalar MAX is a 1-row subquery broadcast
    into the filter, and the supplier dim broadcasts."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), revenue.total_revenue == best.mx)
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# TPC-H Q16 shape; lineitem stands in for the fixture's missing
# partsupp, and the excluded set is negative-balance suppliers. NOT IN
# (unlike NOT EXISTS) is null-aware: one NULL in the subquery empties
# the result.
register_sql(
    "tpch_q16",
    tags=("b11",),
    oracle="""
        SELECT p.p_brand, p.p_size,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_size IN (1, 5, 9, 13)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_size
    """,
)


@register(
    "tpch_q19",
    tags=("b11",),
    oracle=f"""
        SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue over three DISJUNCTIVE
    brand/size/quantity bands — the OR-of-conjunctions predicate that
    separates planners: each disjunct mixes columns from BOTH tables,
    so nothing pushes below the join wholesale, but Catalyst extracts
    the per-side implied filters (brand IN (...) ∧ size ≤ 15 on part;
    quantity ≤ 30 on lineitem) and pushes THOSE to the scans, leaving
    the full disjunction as the join residual."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q11",
    tags=("b11",),
    oracle="""
        WITH v AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6)))
                        AS DECIMAL(38,6)) AS part_value
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, part_value
        FROM v
        WHERE part_value * 2 * (SELECT COUNT(*) FROM v)
              > 3 * (SELECT SUM(part_value) FROM v)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important stock identification — parts whose
    inventory value exceeds a FRACTION of the global total (lineitem
    value standing in for the fixture's missing partsupp).

    The planner shape: a grouped view compared against TWO uncorrelated
    scalar aggregates OVER THE SAME VIEW (the HAVING-vs-global-total
    idiom). The test is scale-invariant — ``value × 2·n_parts >
    3 × total`` selects parts worth more than 1.5× the AVERAGE part —
    the ~top-percentile tail at every fixture scale (TPC-H's own
    fraction divides by SF for the same reason) — and
    stays in the exact-decimal domain: decimal × integer count, never
    a decimal-by-double product that would reintroduce ulp boundaries.
    Plan: one partkey shuffle for the view; the scalar count/total are
    a 1-row re-aggregation broadcast into the filter."""
    li = table(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(dsum("l_extendedprice").alias("part_value"))
    total = v.agg(
        F.sum("part_value").alias("total"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_value") * 2 * F.col("n_parts") > 3 * F.col("total")
        )
        .select("l_partkey", "part_value")
    )


# TPC-H Q21 shape (lateness = ship-after-order in the fixture schema):
# an EXISTS and a NOT EXISTS correlated to the same outer row over the
# same table.
register_sql(
    "tpch_q21",
    tags=("b11",),
    oracle="""
        SELECT l1.l_suppkey AS s_suppkey,
               CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        FROM lineitem l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY l1.l_suppkey
    """,
)


# --------------------------------------------------------------------------
# tpch_q8 — national market share (round 7)
# --------------------------------------------------------------------------


# TPC-H Q8 shape. Numerator and denominator are exact decimal sums; the
# share is ONE IEEE division of their double casts, bit-identical on
# both engines (same policy as tpch_q14).
register_sql(
    "tpch_q8",
    tags=("b11",),
    oracle=f"""
        WITH vol AS (
            SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                   CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(20,6)) AS volume,
                   n2.n_name AS supp_nation
            FROM part p
            JOIN lineitem l ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
            JOIN region r   ON r.r_regionkey = n1.n_regionkey
            JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
            WHERE r.r_name = 'ASIA'
              AND p.p_type = 'STANDARD'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        )
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                             THEN volume ELSE CAST(0 AS DECIMAL(20,6)) END)
                    AS DECIMAL(38,6)) AS nation_volume,
               CAST(SUM(volume) AS DECIMAL(38,6)) AS total_volume,
               CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                                  THEN volume
                                  ELSE CAST(0 AS DECIMAL(20,6)) END)
                         AS DECIMAL(38,6)) AS DOUBLE)
                   / CAST(CAST(SUM(volume) AS DECIMAL(38,6)) AS DOUBLE)
                   AS mkt_share
        FROM vol
        GROUP BY o_year
    """,
)


# --------------------------------------------------------------------------
# tpch_q9 — product-type profit (round 7; cost stand-in documented)
# --------------------------------------------------------------------------


# TPC-H Q9 shape. The fixture has no partsupp/ps_supplycost, so unit
# cost stands in as 0.4 × p_retailprice. The per-row profit is cast to
# decimal(20,6) BEFORE the sum, so the aggregate is order-independent.
register_sql(
    "tpch_q9",
    tags=("b11",),
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             - 0.4 * p.p_retailprice * l.l_quantity
                             AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS profit
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
    """,
)


# --------------------------------------------------------------------------
# tpch_q20 — potential part promotion (round 7; stock stand-in documented)
# --------------------------------------------------------------------------


# TPC-H Q20 shape. The fixture has no partsupp/ps_availqty, so stock
# stands in as the part's lifetime shipped quantity per supplier, and
# `ps_availqty > 0.5 × year_qty` becomes `year_qty × 2 > total_qty`:
# exact integer arithmetic (fixture quantities are integral). Without
# the `q_total >= 80` floor, single-shipment pairs trivially pass and
# every supplier is selected.
register_sql(
    "tpch_q20",
    tags=("b11",),
    oracle="""
        SELECT s.s_name, n.n_name AS nation
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE s.s_suppkey IN (
            SELECT y.l_suppkey
            FROM (
                SELECT l.l_suppkey, l.l_partkey,
                       SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                                 AND l.l_shipdate <  TIMESTAMP '1998-01-01'
                                THEN l.l_quantity ELSE 0 END) AS q_year,
                       SUM(l.l_quantity) AS q_total
                FROM lineitem l
                WHERE l.l_partkey IN (
                    SELECT p.p_partkey FROM part p
                    WHERE p.p_name LIKE 'small%'
                )
                GROUP BY l.l_suppkey, l.l_partkey
            ) y
            WHERE y.q_total >= 80 AND y.q_year * 2 > y.q_total
        )
        ORDER BY s.s_name
    """,
)


# --------------------------------------------------------------------------
# tpch_q2 — minimum-cost supplier (round 7; psup stand-in documented)
# --------------------------------------------------------------------------

# TPC-H Q2 shape. The fixture has no partsupp, so unit cost derives
# from lineitem per (part, supplier). The correlated float EQUALITY is
# safe because both sides select from one set of bit-identical doubles:
# MIN is exact selection over the same IEEE division on both engines
# (the tpch_q15 tie-safety argument).
register_sql(
    "tpch_q2",
    tags=("b11",),
    oracle="""
        WITH psup AS (
            SELECT l.l_partkey, l.l_suppkey,
                   MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
            FROM lineitem l
            GROUP BY l.l_partkey, l.l_suppkey
        )
        SELECT s.s_acctbal, s.s_name, n.n_name AS nation,
               p.p_partkey, p.p_brand, ps.unit_cost
        FROM part p
        JOIN psup ps    ON ps.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
          AND p.p_size = 10
          AND ps.unit_cost = (
              SELECT MIN(ps2.unit_cost)
              FROM psup ps2
              JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
              JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
              JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
              WHERE r2.r_name = 'ASIA'
                AND ps2.l_partkey = p.p_partkey
          )
        ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        LIMIT 100
""",
)


# --------------------------------------------------------------------------
# tpch_q1 — pricing summary report (round 14; completes all 22)
# --------------------------------------------------------------------------


@register(
    "tpch_q1",
    tags=("b11",),
    oracle=f"""
        -- TPC-H Q1, the pricing-summary scan-heavy aggregate: one
        -- pass over lineitem, date cutoff at the scan, 4-group
        -- rollup of 8 aggregates including the two compound
        -- per-row expressions. Decimal-policy sums (per-row double
        -- products cast to DECIMAL(20,6) BEFORE summing -- identical
        -- per-row values on both engines, then exact accumulation).
        SELECT l_returnflag,
               l_linestatus,
               {sql_dsum("l_quantity")} AS sum_qty,
               {sql_dsum("l_extendedprice")} AS sum_base_price,
               {sql_dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
               {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
               {sql_davg("l_quantity")} AS avg_qty,
               {sql_davg("l_extendedprice")} AS avg_price,
               {sql_davg("l_discount")} AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — the canonical scan-heavy
    aggregate and the last of the 22 official shapes (the suite is
    now complete; `agg_hash` carries this shape's bench trend since
    round 1). One full pass over lineitem with the ship-date cutoff
    at the scan (PushedFilters), then a 4-group hash aggregate
    carrying eight aggregates, two of them compound per-row pricing
    expressions ((1-disc), (1-disc)(1+tax)) that stay inside
    whole-stage codegen.

    Exactness: compat decimal policy — per-row double products cast
    to DECIMAL(20,6) before summing (identical per-row values on
    both engines, then order-independent exact accumulation); the
    three averages round at 1e-4 into decimals (house davg).

    Plan/scale: THE map-side-combine showcase — 4 groups mean the
    partial aggregate collapses each of P partitions to ≤4 rows
    before the single tiny shuffle; at 100 TB this query is pure
    scan bandwidth, which is exactly why the benchmark leads with
    it."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )
