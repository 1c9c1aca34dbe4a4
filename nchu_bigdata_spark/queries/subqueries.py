"""Subqueries + classic TPC-H-shaped composites (SURVEY.md §2.B-11).

The reference has no query language at all (its one "plan" is hard-coded
Java, ``hadoop_tutorial/src/Kmeans.java:137-160``); these exercise the
part of a real engine the reference lacks entirely: Catalyst's analyzer
and optimizer on declarative SQL — correlated-subquery decorrelation
(rewritten to joins), IN-to-semi-join conversion, multi-way join
ordering, and scan-level predicate pushdown.

The subquery ids run their SQL text through ``spark.sql`` on purpose:
the point is that the engine accepts ANSI subquery SQL and Catalyst
plans it, not that we hand-build the equivalent joins. Where the
oracle's text means the same in both dialects it is the implementation
(``register_sql``); tpch_q18 and sub_recursive keep a Spark spelling of
DuckDB's ``epoch_us``.

Scale notes (100 TB):
  * ``sub_exists`` / ``sub_in`` decorrelate to semi-joins — one shuffle
    each, no row blowup regardless of match multiplicity.
  * ``sub_scalar`` decorrelates to an aggregate + equi-join on the
    correlation key; partial max collapses map-side.
  * ``tpch_q5`` is the join-order showcase: region/nation/supplier are
    broadcast-size, orders is date-filtered before the fact join, and
    only lineitem⋈orders shuffles big.
  * ``tpch_q6`` is pure scan+filter+agg: every predicate reaches the
    parquet reader (PushedFilters), zero shuffle beyond one partial-agg
    exchange of a single row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dsum, sql_dsum
from nchu_bigdata_spark.io import sql_over_tables, table
from nchu_bigdata_spark.registry import register, register_sql


# Correlated EXISTS: Catalyst decorrelates it to a left-semi join, the
# same physical shape as join_semi, arrived at by the optimizer.
register_sql(
    "sub_exists",
    tags=("b11",),
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
    """,
)


# Correlated scalar subquery, decorrelated to a grouped MAX + equi-join
# on the correlation key. MAX (not AVG) so the compared value is an
# exact input double on both engines.
register_sql(
    "sub_scalar",
    tags=("b11",),
    oracle="""
        SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice
        FROM lineitem l
        WHERE l.l_extendedprice = (
            SELECT MAX(l2.l_extendedprice) FROM lineitem l2
            WHERE l2.l_orderkey = l.l_orderkey
        )
    """,
)


register_sql(
    "sub_in",
    tags=("b11",),
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        AND o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
    """,
)


@register(
    "tpch_q5",
    tags=("b11",),
    oracle=f"""
        SELECT n.n_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               COUNT(*) AS n_lines
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, local-supplier revenue by nation.

    Join-order showcase: region→nation→supplier prune first and stay
    broadcast-size; orders is date-filtered at the scan before touching
    lineitem, so the only large shuffle is lineitem⋈orders (AQE may
    demote even that to broadcast at small SF)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "tpch_q6",
    tags=("b11",),
    oracle=f"""
        SELECT {sql_dsum("l_extendedprice * l_discount")} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast-revenue-change — scan, three pushed
    predicates, one global agg. The canonical pushdown probe: at 100 TB
    this reads only 4 columns and row-groups surviving min/max pruning;
    a single partial-agg row per partition crosses the wire."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q3",
    tags=("b11",),
    oracle=f"""
        SELECT l.l_orderkey,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               epoch_us(o.o_orderdate) AS orderdate_us,
               o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-07-01'
          AND l.l_shipdate  > TIMESTAMP '1998-07-01'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority top-10): selective dim filter,
    two equi-joins, grouped revenue, global top-k.

    Scale shape: `customer` filtered to one segment broadcasts;
    orders⋈lineitem is the only big shuffle, with both date predicates
    pushed to the scans; the final top-10 is TakeOrderedAndProject
    (per-partition heaps + driver merge of 10 rows), never a global
    sort. Revenue is an exact decimal sum, so `LIMIT 10` with the
    (revenue, orderkey) tie-break selects the same rows on any engine.
    """
    from nchu_bigdata_spark.compat import ts_micros

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-07-01"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-07-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            ts_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q18",
    tags=("b11",),
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               epoch_us(o.o_orderdate) AS orderdate_us,
               o.o_totalprice,
               SUM(l.l_quantity) AS sum_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 180
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): IN subquery over a
    grouped HAVING aggregate, feeding a 3-way join and a global top-k.
    Exercises the analyzer path the other B-11 queries don't: an
    uncorrelated IN whose subquery is itself an aggregate — Catalyst
    rewrites it to a left-semi join against the agg output.

    Scale shape: the HAVING aggregate reduces lineitem to (orderkey,
    sum) partials map-side, so the semi-join input is order-cardinality,
    not lineitem-cardinality; the fact join shuffles on the same
    o_orderkey, so AQE can reuse the exchange; top-100 by totalprice is
    TakeOrderedAndProject with the o_orderkey tie-break making LIMIT
    deterministic on any engine. l_quantity is integral, so the double
    SUM is exact (< 2^53) and hash-comparable across engines."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               unix_micros(cast(o.o_orderdate AS timestamp)) AS orderdate_us,
               o.o_totalprice,
               SUM(l.l_quantity) AS sum_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 180
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
        """
    )


_DAY_US = 86400 * 1_000_000


@register(
    "sub_recursive",
    tags=("b11",),
    oracle=f"""
        WITH RECURSIVE days AS (
            SELECT DISTINCT user_id,
                   epoch_us(ts) // {_DAY_US} * {_DAY_US} AS d
            FROM events WHERE event_type = 'purchase'
        ),
        streak(user_id, d, len) AS (
            SELECT user_id, d, 1 FROM days w
            WHERE NOT EXISTS (
                SELECT 1 FROM days p WHERE p.user_id = w.user_id
                  AND p.d = w.d - {_DAY_US}
            )
            UNION ALL
            SELECT w.user_id, w.d, s.len + 1
            FROM days w JOIN streak s
              ON s.user_id = w.user_id
             AND w.d = s.d + {_DAY_US}
        )
        SELECT user_id, CAST(MAX(len) AS INT) AS longest_streak
        FROM streak GROUP BY user_id
    """,
)
def sub_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x `WITH RECURSIVE`): longest run of
    CONSECUTIVE purchase days per user — streak anchors are days with
    no predecessor (correlated NOT EXISTS inside the anchor branch),
    and each recursion step extends a streak by one adjacent day.
    Exercises the analyzer surface none of the other B-11 queries
    touch: Catalyst's UnionLoop execution of a self-referencing CTE,
    with the same ANSI text running on both engines (modulo the
    epoch-function spelling). Day truncation is pure integer epoch
    arithmetic — not date_trunc — so DuckDB's session-TZ TIMESTAMPTZ
    truncation can never diverge from Spark's UTC pin on non-UTC hosts.

    Scale shape: the recursion operates on the distinct (user, day)
    table — activity-cardinality, not event-cardinality — and each
    step is one user-keyed equi-join; depth is bounded by the longest
    streak (8 at sf0.01), far under the engine's recursion cap."""
    return sql_over_tables(
        spark,
        sf_dir,
        f"""
        WITH RECURSIVE days AS (
            SELECT DISTINCT user_id,
                   unix_micros(ts) div {_DAY_US} * {_DAY_US} AS d
            FROM events WHERE event_type = 'purchase'
        ),
        streak(user_id, d, len) AS (
            SELECT user_id, d, 1 FROM days w
            WHERE NOT EXISTS (
                SELECT 1 FROM days p WHERE p.user_id = w.user_id
                  AND p.d = w.d - {_DAY_US}
            )
            UNION ALL
            SELECT w.user_id, w.d, s.len + 1
            FROM days w JOIN streak s
              ON s.user_id = w.user_id
             AND w.d = s.d + {_DAY_US}
        )
        SELECT user_id, CAST(MAX(len) AS INT) AS longest_streak
        FROM streak GROUP BY user_id
        """
    )


# Correlated LATERAL with ORDER BY + LIMIT (top-3 orders per customer)
# decorrelates into a per-key WindowGroupLimit + one equi join; the
# lateral never executes per row.
register_sql(
    "sub_lateral",
    tags=("b11",),
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) t ON TRUE
    """,
)


@register(
    "sub_any_all",
    tags=("b11",),
    oracle="""
        -- REAL quantified subqueries on the oracle side: DuckDB
        -- supports > ALL / > ANY natively, so the oracle states the
        -- ANSI semantics directly — including ALL-over-empty-set =
        -- TRUE and ANY-over-empty-set = FALSE for customers with no
        -- orders — while the engine runs the decorrelated plan.
        SELECT c.c_custkey,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS acct_cents,
               c.c_acctbal > ALL (
                   SELECT o.o_totalprice FROM orders o
                   WHERE o.o_custkey = c.c_custkey
               ) AS gt_all_orders,
               c.c_acctbal > ANY (
                   SELECT o.o_totalprice FROM orders o
                   WHERE o.o_custkey = c.c_custkey
               ) AS gt_any_order
        FROM customer c
    """,
)
def sub_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparison subqueries — ANSI ``> ALL`` / ``> ANY``
    (is this customer's balance above EVERY / above AT LEAST ONE of
    their order totals?) — the last classic subquery family after
    EXISTS / IN / scalar / LATERAL (§2.B-11).

    Spark's parser has no quantified-subquery syntax, so the ENGINE
    provides the capability as the standard decorrelation every
    optimizer applies anyway: ``> ALL`` ⇔ ``> max(...)`` and ``> ANY``
    ⇔ ``> min(...)`` over a per-key aggregate + one LEFT equi join.
    The empty-set semantics ride the left join's NULLs: no orders ⇒
    ALL is vacuously TRUE, ANY is FALSE. The DuckDB oracle states the
    REAL ``ALL``/``ANY`` forms, so the decorrelation is proven
    semantics-equivalent on every row, empty groups included.

    Floats never cross the comparison boundary: both engines compare
    the raw doubles (bit-identical parquet values, no arithmetic), and
    the exported balance is exact cents.

    Plan: one orders hash-agg on o_custkey (map-side combined) + one
    broadcast-or-shuffle equi join — no per-row subquery execution;
    at 100 TB the agg collapses orders to customer cardinality before
    the join."""
    c = table(spark, sf_dir, "customer")
    ext = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_totalprice").alias("max_total"),
            F.min("o_totalprice").alias("min_total"),
        )
    )
    j = c.join(ext, c.c_custkey == ext.o_custkey, "left")
    # The empty-set branch keys on the JOIN MISS (o_custkey null), not
    # on the comparison being null: a NULL c_acctbal with existing
    # orders must stay NULL (ANSI: NULL > ALL (non-empty) is NULL),
    # which a bare COALESCE(cmp, TRUE) would silently flip to TRUE.
    no_orders = F.col("o_custkey").isNull()
    return j.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acct_cents"),
        F.when(no_orders, F.lit(True))
        .otherwise(F.col("c_acctbal") > F.col("max_total"))
        .alias("gt_all_orders"),
        F.when(no_orders, F.lit(False))
        .otherwise(F.col("c_acctbal") > F.col("min_total"))
        .alias("gt_any_order"),
    )


# --------------------------------------------------------------------------
# sub_division — relational division (the "FOR ALL" query) (round 8)
# --------------------------------------------------------------------------


@register(
    "sub_division",
    tags=("b11",),
    oracle="""
        -- relational division: customers whose orders span EVERY
        -- order priority present in the corpus (Codd's ÷ operator,
        -- the classic "suppliers who supply ALL parts" shape). The
        -- divisor cardinality comes from the data itself, so the
        -- query stays correct if the domain grows.
        WITH tot AS (
            SELECT COUNT(DISTINCT o_orderpriority) AS t FROM orders
        ),
        per AS (
            SELECT o_custkey,
                   COUNT(DISTINCT o_orderpriority) AS np,
                   COUNT(*) AS n
            FROM orders
            GROUP BY o_custkey
        )
        SELECT per.o_custkey AS custkey,
               CAST(per.n AS BIGINT) AS n_orders,
               CAST(per.np AS BIGINT) AS n_priorities
        FROM per, tot
        WHERE per.np = tot.t
    """,
)
def sub_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION — the quantified "FOR ALL" join: customers
    whose orders cover EVERY ``o_orderpriority`` value present in the
    corpus. Completes the §2.B-11 subquery family (EXISTS / IN /
    scalar / LATERAL / ANY-ALL / recursive) with Codd's ÷, the one
    classical relational operator with no direct SQL keyword.

    Division reduces to set-cover counting: per-divisee distinct-count
    of the divisor attribute equals the global divisor cardinality.
    Both engines compute pure integer counts — no floats cross the
    comparison.

    Plan/scale: one map-side-combined distinct-agg on o_custkey, one
    1-row global distinct-agg broadcast-cross-joined in (the
    sanctioned ≤1-row broadcast pattern, never a driver collect), one
    codegen'd filter. At 100 TB the per-customer agg collapses orders
    to customer cardinality before the 1-row comparison; no second
    pass over the fact table."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("np"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = o.agg(F.countDistinct("o_orderpriority").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("np") == F.col("t"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("n").cast("long").alias("n_orders"),
            F.col("np").cast("long").alias("n_priorities"),
        )
    )


# --------------------------------------------------------------------------
# sub_not_in_null — the NOT IN null trap, made measurable (round 8)
# --------------------------------------------------------------------------


# NOT IN compiles to a NULL-AWARE anti join, NOT EXISTS to a plain one.
register_sql(
    "sub_not_in_null",
    tags=("b5",),
    oracle="""
        -- the NOT IN null trap as a MEASURED three-column readout:
        -- against a key list that contains NULLs (every 7th line's
        -- partkey nulled by spec), NOT IN returns ZERO rows — the
        -- three-valued logic makes every comparison UNKNOWN — while
        -- NOT EXISTS returns the real complement. Both engines must
        -- agree on ANSI semantics for both forms; the null count is
        -- the column that explains the gap. The single most-filed
        -- SQL correctness bug, pinned as a regression surface.
        WITH keys AS (
            SELECT CASE WHEN l_linenumber = 7 THEN NULL
                        ELSE l_partkey END AS k
            FROM lineitem
        )
        SELECT
            CAST((SELECT COUNT(*) FROM part
                  WHERE p_partkey NOT IN (SELECT k FROM keys))
                 AS BIGINT) AS n_not_in,
            CAST((SELECT COUNT(*) FROM part p
                  WHERE NOT EXISTS (SELECT 1 FROM keys
                                    WHERE keys.k = p.p_partkey))
                 AS BIGINT) AS n_not_exists,
            CAST((SELECT COUNT(*) FROM keys WHERE k IS NULL)
                 AS BIGINT) AS n_null_keys
    """,
)
