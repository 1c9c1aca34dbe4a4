"""Data-profiling / catalog-statistics operators (SURVEY.md §2.B-4
extension): the ANALYZE TABLE surface every engine with a cost-based
optimizer needs — per-column row counts, null counts, exact NDV, and
key ranges, emitted as a tidy statistics table.

The reference has no statistics at all (no optimizer — §4); Spark's
own `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` produces exactly
this shape into the catalog. Exposing it as a QUERY makes the stats
pipeline testable cross-engine and reusable for data-quality
monitoring (null-rate drift, NDV drift between loads).

Scale (100 TB): ONE scan. The multi-column distinct aggregate compiles
to Catalyst's Expand strategy — each input row fans out once per
DISTINCT group internally, but partial aggregation collapses
map-side before the single shuffle, so wire volume is bounded by
Σ per-column NDV, not row count. min/max ride the same pass for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.io import table
from nchu_bigdata_spark.registry import register, register_sql

# Profiled columns of `orders`; (name, is_bigint_key) — key ranges are
# emitted only for exact-integer columns (portable bit-for-bit; float/
# timestamp extremes as strings would reintroduce the formatting
# divergence compat.py exists to avoid).
_PROFILE_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", False),
    ("o_orderdate", False),
    ("o_orderpriority", False),
]


def _profile_oracle() -> str:
    legs = []
    for c, is_key in _PROFILE_COLS:
        mn = f"CAST(MIN({c}) AS BIGINT)" if is_key else "CAST(NULL AS BIGINT)"
        mx = f"CAST(MAX({c}) AS BIGINT)" if is_key else "CAST(NULL AS BIGINT)"
        legs.append(
            f"""SELECT '{c}' AS col_name,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
                   {mn} AS min_key, {mx} AS max_key
            FROM orders"""
        )
    return "\nUNION ALL\n".join(legs)


@register("stats_profile", tags=("b4",), oracle=_profile_oracle())
def stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table statistics for `orders`: total rows, null
    count, EXACT NDV, and min/max for integer key columns — the
    ANALYZE-TABLE / data-quality-profiling primitive (module doc).

    Plan: ONE wide aggregate computes every column's stats in a single
    scan (Catalyst rewrites the multi-column DISTINCT set into one
    Expand + two-level hash agg — asserted free of per-column rescans),
    then a `stack` projection tidies the 1-row result into one row per
    column. The sketch-based companion is `agg_approx`
    (approx_count_distinct) when exact NDV is too expensive; this is
    the exact calibration side."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, is_key in _PROFILE_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"ndv_{c}"))
        if is_key:
            aggs.append(F.min(c).cast("long").alias(f"min_{c}"))
            aggs.append(F.max(c).cast("long").alias(f"max_{c}"))
    one = o.agg(*aggs)
    stack_args = []
    for c, is_key in _PROFILE_COLS:
        mn = f"min_{c}" if is_key else "CAST(NULL AS BIGINT)"
        mx = f"max_{c}" if is_key else "CAST(NULL AS BIGINT)"
        stack_args.append(f"'{c}', null_{c}, ndv_{c}, {mn}, {mx}")
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {', '.join(stack_args)}) "
            "AS (col_name, n_null, ndv, min_key, max_key)"
        ),
        "n",
    ).select("col_name", "n", "n_null", "ndv", "min_key", "max_key")


# --------------------------------------------------------------------------
# dq_constraints — declarative data-quality constraint audit (round 8)
# --------------------------------------------------------------------------


@register(
    "dq_constraints",
    tags=("b4",),
    oracle="""
        -- constraint audit as data: one row per declared constraint
        -- with its violation count — the dbt-test / Deequ / CHECK
        -- CONSTRAINT surface every warehouse load gate runs.
        SELECT 'orders_pk_unique' AS check_name,
               CAST((SELECT COUNT(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING COUNT(*) > 1
               )) AS BIGINT) AS n_violations,
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked
        UNION ALL
        SELECT 'orders_fk_customer',
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE o.o_custkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)
               ) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_fk_orders',
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)
               ) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'orders_status_domain',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderstatus NOT IN ('F', 'O', 'P')
                        OR o_orderstatus IS NULL) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_qty_range',
               CAST((SELECT COUNT(*) FROM lineitem
                     WHERE l_quantity IS NULL
                        OR l_quantity < 1 OR l_quantity > 50) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'customer_acctbal_notnull',
               CAST((SELECT COUNT(*) FROM customer
                     WHERE c_acctbal IS NULL) AS BIGINT),
               CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
    """,
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint audit — the dbt-test /
    Deequ / ANSI CHECK surface: PRIMARY-KEY uniqueness, two
    FOREIGN-KEY orphan checks, a domain (enum) check, a numeric range
    check, and a NOT NULL check, reported as a tidy (check, violations,
    checked) table a load gate can assert on. Constraint checking is a
    first-class engine capability — warehouses refuse loads on it —
    distinct from `stats_profile`'s descriptive statistics.

    Determinism: every output is a pure integer COUNT — nothing
    float-valued crosses engines.

    Plan/scale: the PK check is one map-side-combined agg on the key;
    each FK check is ONE left-anti hash join (dimension side
    broadcast-able; at 100 TB the fact table streams through without
    a second pass); domain/range/null checks fold into conditional
    aggs over single scans. The final union is 6 literal-sized rows.
    count_if over one scan per table keeps the audit at 3 table scans
    + 2 joins total, independent of constraint count per table."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    n_orders = o.agg(F.count(F.lit(1)).alias("n"))
    n_li = li.agg(F.count(F.lit(1)).alias("n"))
    n_cust = c.agg(F.count(F.lit(1)).alias("n"))

    pk_dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("v"))
    )
    fk_orders = (
        o.where(F.col("o_custkey").isNotNull())
        .join(F.broadcast(c.select("c_custkey")),
              F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    fk_li = (
        li.join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    dom = o.agg(
        F.count_if(
            ~F.col("o_orderstatus").isin("F", "O", "P")
            | F.col("o_orderstatus").isNull()
        ).alias("v")
    )
    rng = li.agg(
        F.count_if(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).alias("v")
    )
    nn = c.agg(F.count_if(F.col("c_acctbal").isNull()).alias("v"))

    def row(name: str, viol: DataFrame, tot: DataFrame) -> DataFrame:
        return (
            viol.crossJoin(F.broadcast(tot))
            .select(
                F.lit(name).alias("check_name"),
                F.col("v").cast("long").alias("n_violations"),
                F.col("n").cast("long").alias("n_checked"),
            )
        )

    return (
        row("orders_pk_unique", pk_dup, n_orders)
        .unionAll(row("orders_fk_customer", fk_orders, n_orders))
        .unionAll(row("lineitem_fk_orders", fk_li, n_li))
        .unionAll(row("orders_status_domain", dom, n_orders))
        .unionAll(row("lineitem_qty_range", rng, n_li))
        .unionAll(row("customer_acctbal_notnull", nn, n_cust))
    )


# --------------------------------------------------------------------------
# dq_drift — distribution-drift monitor (round 8)
# --------------------------------------------------------------------------

_DR_DAY_US = 86_400_000_000
_DR_HOUR_US = 3_600_000_000


@register(
    "dq_drift",
    tags=("b11",),
    oracle=f"""
        -- distribution drift per series: hour-of-day histograms of the
        -- calendar's early half vs late half, compared by TOTAL
        -- VARIATION distance — TV = ½·Σ|p_i − q_i| — computed EXACTLY
        -- in basis points over the common denominator N_p·N_q
        -- (Σ|o_i·N_q − q_i·N_p| · 10⁴ // (2·N_p·N_q), HUGEINT legs:
        -- o·N is corpus², far past int64). TV is the drift metric
        -- that needs no log() (PSI/KL would put an engine-varying ln
        -- in the hot path — the compat policy bans it); worst_hour
        -- localizes the drift under a total order.
        WITH b AS (
            SELECT MIN(epoch_us(ts) // {_DR_DAY_US}) AS d0,
                   MAX(epoch_us(ts) // {_DR_DAY_US}) AS d1
            FROM events
        ),
        c AS (
            SELECT event_type,
                   (epoch_us(ts) % {_DR_DAY_US}) // {_DR_HOUR_US} AS hh,
                   SUM(CASE WHEN epoch_us(ts) // {_DR_DAY_US}
                            < (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END)
                       AS o,
                   SUM(CASE WHEN epoch_us(ts) // {_DR_DAY_US}
                            >= (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END)
                       AS q
            FROM events, b GROUP BY 1, 2
        ),
        t AS (
            SELECT event_type, SUM(o) AS np, SUM(q) AS nq
            FROM c GROUP BY event_type
        ),
        d AS (
            SELECT c.event_type, c.hh,
                   abs(CAST(c.o AS HUGEINT) * t.nq
                       - CAST(c.q AS HUGEINT) * t.np) AS dev,
                   t.np, t.nq
            FROM c JOIN t USING (event_type)
        )
        SELECT event_type,
               CAST(MAX(np) AS BIGINT) AS n_early,
               CAST(MAX(nq) AS BIGINT) AS n_late,
               CAST(SUM(dev) * 10000
                    // (2 * CAST(MAX(np) AS HUGEINT) * MAX(nq))
                    AS BIGINT) AS tv_bp,
               CAST(MIN(CASE WHEN dev = mx THEN hh END) AS BIGINT)
                   AS worst_hour
        FROM (SELECT *, MAX(dev) OVER (PARTITION BY event_type) AS mx
              FROM d)
        GROUP BY event_type
    """,
)
def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: for each series, the hour-of-day
    histogram of the calendar's early half vs its late half, scored by
    EXACT total-variation distance in basis points (0 = identical
    shape, 10000 = disjoint) plus the hour contributing the largest
    deviation. The check a data-quality harness runs per partition
    landing: TV needs only counts and one cross-multiplied |difference|
    — no ln() (PSI/KL would import engine-varying float logs, which
    the compat policy bans from certified output), no binning
    heuristics, and missing hours zero-fill algebraically inside the
    conditional agg.

    Plan/scale: 1-row calendar bounds broadcast; ONE conditional hash
    agg to (series, hour) cells (≤ types·24 rows); the TV rollup and
    worst-hour window run over that cell table only. The raw stream
    shuffles once."""
    ev = table(spark, sf_dir, "events")
    b = ev.groupBy().agg(
        F.expr(f"MIN(unix_micros(ts) div {_DR_DAY_US})").alias("d0"),
        F.expr(f"MAX(unix_micros(ts) div {_DR_DAY_US})").alias("d1"),
    )
    c = (
        ev.join(F.broadcast(b))
        .groupBy(
            "event_type",
            F.expr(
                f"(unix_micros(ts) % {_DR_DAY_US}) div {_DR_HOUR_US}"
            ).alias("hh"),
        )
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN unix_micros(ts) div {_DR_DAY_US}"
                    " < (d0 + d1 + 1) div 2 THEN 1 ELSE 0 END"
                )
            ).alias("o"),
            F.sum(
                F.expr(
                    f"CASE WHEN unix_micros(ts) div {_DR_DAY_US}"
                    " >= (d0 + d1 + 1) div 2 THEN 1 ELSE 0 END"
                )
            ).alias("q"),
        )
    )
    t = c.groupBy("event_type").agg(
        F.sum("o").alias("np"), F.sum("q").alias("nq")
    )
    d = c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hh",
        F.expr(
            "abs(CAST(o AS decimal(38,0)) * nq"
            " - CAST(q AS decimal(38,0)) * np)"
        ).alias("dev"),
        "np",
        "nq",
    )
    from pyspark.sql import Window as _W

    mx = F.max("dev").over(_W.partitionBy("event_type"))
    return (
        d.withColumn("mx", mx)
        .groupBy("event_type")
        .agg(
            F.max("np").cast("long").alias("n_early"),
            F.max("nq").cast("long").alias("n_late"),
            F.expr(
                "CAST(SUM(dev) * 10000"
                " div (2 * CAST(MAX(np) AS decimal(38,0)) * MAX(nq))"
                " AS BIGINT)"
            ).alias("tv_bp"),
            F.min(F.when(F.col("dev") == F.col("mx"), F.col("hh")))
            .cast("long")
            .alias("worst_hour"),
        )
    )


# --------------------------------------------------------------------------
# dq_freshness — per-stream freshness / completeness audit (round 8)
# --------------------------------------------------------------------------


@register(
    "dq_freshness",
    tags=("b4",),
    oracle="""
        -- freshness + calendar-completeness per event stream: last
        -- arrival, staleness behind the freshest stream in the load,
        -- and the fraction of calendar days inside the stream's own
        -- span that actually carry data (floor basis points). The
        -- per-landing "did yesterday's partition arrive?" check that
        -- complements dq_constraints (values) and dq_drift (shape).
        WITH per AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MAX(epoch_us(ts)) AS last_ts_us,
                   MIN(epoch_us(ts) // 86400000000) AS first_day,
                   MAX(epoch_us(ts) // 86400000000) AS last_day,
                   CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000)
                        AS BIGINT) AS active_days
            FROM events GROUP BY event_type
        ),
        g AS (SELECT MAX(epoch_us(ts)) AS global_max_us FROM events)
        SELECT event_type, n_rows,
               CAST(last_ts_us AS BIGINT) AS last_ts_us,
               CAST(global_max_us - last_ts_us AS BIGINT) AS staleness_us,
               CAST(last_day - first_day + 1 AS BIGINT) AS span_days,
               active_days,
               CAST(active_days * 10000 // (last_day - first_day + 1)
                    AS BIGINT) AS coverage_bp
        FROM per, g
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness and calendar-completeness audit per event stream:
    row volume, last-arrival timestamp, staleness behind the freshest
    stream in the same load, the stream's own calendar span, and the
    share of span days that carry ≥1 row (basis points) — the
    operational "is this feed alive and gapless?" monitor a 100 TB
    ingest runs per landing.

    Plan/scale: ONE pass over events produces both the per-type stats
    (hash agg on event_type, map-side combined; the distinct-day leg
    collapses to days-per-type partials) and the 1-row global bound,
    which broadcasts back (sanctioned 1-row broadcast-nested-loop, the
    `dq_drift` / `events_stickiness` pattern). Zero row-cardinality
    shuffles; integers end-to-end — staleness in micros, coverage as a
    floor-division bp leg (fits int64: active_days ≤ ~10⁵)."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max(F.expr("unix_micros(ts)")).alias("last_ts_us"),
        F.min(day).alias("first_day"),
        F.max(day).alias("last_day"),
        F.countDistinct(day).cast("long").alias("active_days"),
    )
    bounds = ev.agg(F.max(F.expr("unix_micros(ts)")).alias("global_max_us"))
    return per.join(F.broadcast(bounds)).select(
        "event_type",
        "n_rows",
        F.col("last_ts_us").cast("long").alias("last_ts_us"),
        (F.col("global_max_us") - F.col("last_ts_us"))
        .cast("long")
        .alias("staleness_us"),
        (F.col("last_day") - F.col("first_day") + 1)
        .cast("long")
        .alias("span_days"),
        "active_days",
        F.expr("active_days * 10000 div (last_day - first_day + 1)")
        .cast("long")
        .alias("coverage_bp"),
    )


# --------------------------------------------------------------------------
# dq_referential_integrity — cross-table FK / temporal audit (round 8)
# --------------------------------------------------------------------------


@register(
    "dq_referential_integrity",
    tags=("b3",),
    oracle="""
        -- cross-table referential + temporal integrity audit: the
        -- checks a warehouse runs BEFORE trusting any join-based
        -- metric, each as (violations, checked, bp). This dataset
        -- genuinely fails two of them — 257 orders with no lineitems
        -- and thousands of ship-before-order lines — exactly the
        -- facts orders_backlog had to clamp around; the audit is how
        -- that surfaces BEFORE an operator silently absorbs it.
        WITH checks AS (
            SELECT 'lineitem_orphan_orderkey' AS check_name,
                   CAST((SELECT COUNT(*) FROM lineitem l
                         WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
                        AS BIGINT) AS n_violations,
                   CAST((SELECT COUNT(*) FROM lineitem)
                        AS BIGINT) AS n_checked
            UNION ALL
            SELECT 'order_without_lineitems',
                   CAST((SELECT COUNT(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_orderkey = o.o_orderkey))
                        AS BIGINT),
                   CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
            UNION ALL
            SELECT 'lineitem_orphan_partkey',
                   CAST((SELECT COUNT(*) FROM lineitem l
                         WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
                        AS BIGINT),
                   CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
            UNION ALL
            SELECT 'orders_orphan_custkey',
                   CAST((SELECT COUNT(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
                        AS BIGINT),
                   CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
            UNION ALL
            SELECT 'ship_before_order',
                   CAST((SELECT COUNT(*) FROM lineitem l
                         JOIN orders o ON o.o_orderkey = l.l_orderkey
                         WHERE l.l_shipdate < o.o_orderdate)
                        AS BIGINT),
                   CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
        )
        SELECT check_name, n_violations, n_checked,
               CAST(n_violations * 10000 // n_checked AS BIGINT)
                   AS violation_bp
        FROM checks
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential + temporal integrity audit: the five
    checks a warehouse runs BEFORE trusting any join-based metric —
    orphaned lineitem orderkeys/partkeys, orphaned order custkeys,
    orders with no lineitems, and ship-before-order temporal
    violations — each reported as (violations, checked, bp). This
    dataset genuinely fails two of them (257 line-less orders;
    thousands of ship-before-order lines — the exact facts
    `orders_backlog` had to clamp around), which is the operator's
    point: integrity defects should surface in an audit table, not
    be silently absorbed one downstream operator at a time.
    `dq_constraints` checks per-row domains; this checks the
    RELATIONSHIPS between tables, which no single-table profile can.

    Plan/scale: every existence check is a key-keyed LEFT ANTI hash
    join (never a subquery-per-row), counted map-side; the temporal
    check rides one orderkey equi join. Five facts-sized passes that
    all parallelize trivially; output is five rows."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    c = table(spark, sf_dir, "customer")

    def row(name: str, viol: DataFrame, total: DataFrame) -> DataFrame:
        nv = viol.agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        nc = total.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))
        return (
            nv.crossJoin(F.broadcast(nc))
            .select(
                F.lit(name).alias("check_name"),
                "n_violations",
                "n_checked",
                F.expr(
                    "CAST(n_violations * 10000 div n_checked AS BIGINT)"
                ).alias("violation_bp"),
            )
        )

    out = row(
        "lineitem_orphan_orderkey",
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
        li,
    )
    out = out.unionAll(
        row(
            "order_without_lineitems",
            o.join(li, o.o_orderkey == li.l_orderkey, "left_anti"),
            o,
        )
    )
    out = out.unionAll(
        row(
            "lineitem_orphan_partkey",
            li.join(p, li.l_partkey == p.p_partkey, "left_anti"),
            li,
        )
    )
    out = out.unionAll(
        row(
            "orders_orphan_custkey",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
            o,
        )
    )
    out = out.unionAll(
        row(
            "ship_before_order",
            li.join(o, li.l_orderkey == o.o_orderkey).filter(
                F.col("l_shipdate") < F.col("o_orderdate")
            ),
            li,
        )
    )
    return out


# --------------------------------------------------------------------------
# dq_header_detail — header/detail reconciliation audit (round 8)
# --------------------------------------------------------------------------


@register(
    "dq_header_detail",
    tags=("b9",),
    oracle="""
        -- Header-vs-detail reconciliation: does the order header's
        -- o_totalprice equal the sum of its lines' charges
        -- (extendedprice * (1-discount) * (1+tax))? The oldest
        -- warehouse audit there is -- double-entry for fact tables:
        -- referential integrity says every line HAS a header; this
        -- says the MONEY agrees. Exact: cents x (10^4 - disc_bp) x
        -- (10^4 + tax_bp) is an integer in 1e-10-dollar units; the
        -- header side scales by 10^8; the relative gap is a floor
        -- cross-multiply into bp bands.
        WITH l AS (
            SELECT l_orderkey AS ok,
                   SUM(CAST(ROUND(l_extendedprice * 100, 0) AS HUGEINT)
                       * (10000 - CAST(ROUND(l_discount * 10000, 0) AS HUGEINT))
                       * (10000 + CAST(ROUND(l_tax * 10000, 0) AS HUGEINT)))
                       AS line_e8
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT) * 100000000
                       AS head_e8,
                   line_e8
            FROM orders LEFT JOIN l ON ok = o_orderkey
        ),
        g AS (
            SELECT o_orderkey,
                   CASE WHEN line_e8 IS NULL THEN -1
                        ELSE ABS(head_e8 - line_e8) * 10000 // head_e8
                   END AS gap_bp
            FROM j
        ),
        b AS (
            SELECT o_orderkey, gap_bp,
                   CASE WHEN gap_bp = -1 THEN 'no_lines'
                        WHEN gap_bp = 0 THEN 'exact'
                        WHEN gap_bp <= 10 THEN 'within_10bp'
                        WHEN gap_bp <= 100 THEN 'within_100bp'
                        WHEN gap_bp <= 1000 THEN 'within_1000bp'
                        ELSE 'over_1000bp' END AS band
            FROM g
        )
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(gap_bp) AS BIGINT) AS min_gap_bp,
               CAST(MAX(gap_bp) AS BIGINT) AS max_gap_bp
        FROM b GROUP BY band
    """,
)
def dq_header_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation — double-entry for fact tables:
    does each order header's o_totalprice equal the sum of its lines'
    charges (extendedprice·(1−discount)·(1+tax))?
    `dq_referential_integrity` says every line HAS a header; this says
    the MONEY agrees — the audit that catches partial loads, double
    loads, and drift between independently-ingested header and detail
    feeds. Output is the gap distribution in bp bands (exact /
    ≤10bp / ≤100bp / ≤1000bp / worse / headers with no lines), the
    shape a reconciliation dashboard pages on.

    Exactness: cents × (10⁴−disc_bp) × (10⁴+tax_bp) is an exact
    integer in 1e-10-dollar units; the header scales by 10⁸ to the
    same grid; the relative gap is one floor cross-multiply into bp.
    All decimal(38,0)/HUGEINT.

    Plan/scale: the detail side collapses map-side to |orders| rows
    BEFORE the join (never join raw lineitem to headers then agg);
    one orderkey join, one 6-group rollup."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    l = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(
            F.expr(
                "CAST(ROUND(l_extendedprice * 100) AS decimal(38,0))"
                " * (10000 - CAST(ROUND(l_discount * 10000) AS decimal(38,0)))"
                " * (10000 + CAST(ROUND(l_tax * 10000) AS decimal(38,0)))"
            )
        ).alias("line_e8")
    )
    j = o.join(l, o.o_orderkey == l.ok, "left").select(
        "o_orderkey",
        F.expr(
            "CAST(ROUND(o_totalprice * 100) AS decimal(38,0)) * 100000000"
        ).alias("head_e8"),
        "line_e8",
    )
    g = j.select(
        "o_orderkey",
        F.expr(
            "CASE WHEN line_e8 IS NULL THEN -1"
            " ELSE ABS(head_e8 - line_e8) * 10000 div head_e8 END"
        ).alias("gap_bp"),
    )
    b = g.select(
        "gap_bp",
        F.expr(
            "CASE WHEN gap_bp = -1 THEN 'no_lines'"
            " WHEN gap_bp = 0 THEN 'exact'"
            " WHEN gap_bp <= 10 THEN 'within_10bp'"
            " WHEN gap_bp <= 100 THEN 'within_100bp'"
            " WHEN gap_bp <= 1000 THEN 'within_1000bp'"
            " ELSE 'over_1000bp' END"
        ).alias("band"),
    )
    return b.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("gap_bp").cast("long").alias("min_gap_bp"),
        F.max("gap_bp").cast("long").alias("max_gap_bp"),
    )


# --------------------------------------------------------------------------
# dq_join_fanout — join-multiplicity audit (round 8)
# --------------------------------------------------------------------------


@register(
    "dq_join_fanout",
    tags=("b9",),
    oracle="""
        -- Join fan-out audit (the "chasm trap" detector): BEFORE
        -- joining headers to lines, profile the per-key multiplicity
        -- the join will apply -- a header measure summed AFTER such a
        -- join inflates by exactly its line count, the most common
        -- silently-wrong-dashboard bug after the ratio trap. One row
        -- per multiplicity m (0 = headers with no lines): how many
        -- orders, their header revenue, and what that revenue
        -- becomes post-join (x m).
        WITH m AS (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
                   COALESCE(l.cnt, 0) AS mult
            FROM orders
            LEFT JOIN (
                SELECT l_orderkey, COUNT(*) AS cnt
                FROM lineitem GROUP BY l_orderkey
            ) l ON l_orderkey = o_orderkey
        )
        SELECT CAST(mult AS BIGINT) AS multiplicity,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS header_cents,
               CAST(SUM(cents * mult) AS BIGINT) AS post_join_cents,
               CAST(SUM(CAST(cents AS HUGEINT) * mult) * 10000
                    // SUM(cents) AS BIGINT) AS inflation_bp
        FROM m GROUP BY mult
    """,
)
def dq_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out audit — the "chasm trap" detector: BEFORE joining
    headers to lines, profile the per-key multiplicity the join will
    apply. A header measure summed after such a join inflates by
    exactly its line count — with `agg_ratio_pin` and
    `sub_not_in_null`, the third member of the
    silently-wrong-dashboard regression family. One row per
    multiplicity m (0 = headers with NO lines — the rows an inner
    join would silently drop): order count, their header revenue,
    and what that revenue becomes post-join (×m); inflation_bp reads
    the damage per bucket.

    Exactness: integer cents and counts; inflation is one floor
    cross-multiply over decimal(38,0).

    Plan/scale: the detail side collapses map-side to |orders| keyed
    counts BEFORE the (left) join — the audit itself never pays the
    fan-out it measures; one orderkey join + one ~7-group rollup."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_orderkey")).agg(F.count(F.lit(1)).alias("cnt"))
    m = o.join(cnt, o.o_orderkey == cnt.l_orderkey, "left").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.coalesce("cnt", F.lit(0)).alias("mult"),
    )
    return m.groupBy(F.col("mult").cast("long").alias("multiplicity")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("header_cents"),
        F.sum(F.col("cents") * F.col("mult")).cast("long").alias(
            "post_join_cents"
        ),
        F.expr(
            "CAST(SUM(CAST(cents AS decimal(38,0)) * mult) * 10000"
            " div SUM(cents) AS BIGINT)"
        ).alias("inflation_bp"),
    )


# --------------------------------------------------------------------------
# dq_duplicate_billing — same-amount-near-in-time duplicate screen (round 8)
# --------------------------------------------------------------------------

_DUP_BILL_DAYS = 3


@register(
    "dq_duplicate_billing",
    tags=("b9",),
    oracle=f"""
        -- Duplicate-billing screen: pairs of DISTINCT orders by the
        -- same customer for the EXACT same amount within
        -- {_DUP_BILL_DAYS} days -- the classic accounts-payable
        -- double-charge signature (retried payment jobs, double
        -- submits, replayed files). Self band join on the composite
        -- equality (customer, cents) with the day window as residual;
        -- u < v orientation counts each pair once. Rolled up monthly
        -- with the suspect share of order volume in floor bp.
        WITH o AS (
            SELECT o_orderkey AS ok, o_custkey AS ck,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
                   epoch_us(o_orderdate) // 86400000000 AS day
            FROM orders
        ),
        p AS (
            SELECT a.ck, a.cents, a.day AS day_a, b.day AS day_b,
                   a.day // 30 AS month_idx
            FROM o a JOIN o b
              ON b.ck = a.ck AND b.cents = a.cents AND b.ok > a.ok
             AND b.day BETWEEN a.day - {_DUP_BILL_DAYS}
                           AND a.day + {_DUP_BILL_DAYS}
        ),
        m AS (
            SELECT day // 30 AS month_idx, COUNT(*) AS n_orders
            FROM o GROUP BY 1
        )
        SELECT CAST(m.month_idx AS BIGINT) AS month_idx,
               CAST(m.n_orders AS BIGINT) AS n_orders,
               CAST(COALESCE(COUNT(p.ck), 0) AS BIGINT) AS n_suspect_pairs,
               CAST(COALESCE(SUM(p.cents), 0) AS BIGINT)
                   AS suspect_cents,
               CAST(COALESCE(COUNT(p.ck), 0) * 10000 // m.n_orders
                    AS BIGINT) AS suspect_bp
        FROM m LEFT JOIN p ON p.month_idx = m.month_idx
        GROUP BY m.month_idx, m.n_orders
    """,
)
def dq_duplicate_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-billing screen — pairs of DISTINCT orders by the same
    customer for the EXACT same amount within {d} days: the classic
    accounts-payable double-charge signature (retried payment jobs,
    double submits, replayed batch files). Fourth member of the DQ
    audit family: referential integrity checks keys exist,
    header-detail checks money reconciles, fan-out checks join
    multiplicity — this checks the same money isn't BOOKED TWICE.
    Monthly rollup with the suspect share of order volume in bp.

    Exactness: integer cents and epoch days; pair orientation
    `ok_b > ok_a` counts each pair once; floor-bp share.

    Plan/scale: the self join keys on the COMPOSITE equality
    (customer, cents) — near-unique, so candidate groups are tiny and
    the day window is a residual filter on an already-keyed hash
    join, never a band scan; both sides are one map-side projection
    of orders. The hottest (customer, amount) pair bounds skew."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("ck"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
    )
    b = o.select(
        F.col("ok").alias("ok_b"),
        F.col("ck").alias("ck_b"),
        F.col("cents").alias("cents_b"),
        F.col("day").alias("day_b"),
    )
    p = o.join(
        b,
        (F.col("ck_b") == F.col("ck"))
        & (F.col("cents_b") == F.col("cents"))
        & (F.col("ok_b") > F.col("ok"))
        & (F.col("day_b") >= F.col("day") - _DUP_BILL_DAYS)
        & (F.col("day_b") <= F.col("day") + _DUP_BILL_DAYS),
    ).select(
        F.expr("day div 30").alias("month_idx"),
        "ck",
        "cents",
    )
    m = o.groupBy(F.expr("day div 30").alias("month_idx")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        m.join(p, "month_idx", "left")
        .groupBy("month_idx", "n_orders")
        .agg(
            F.count("ck").cast("long").alias("n_suspect_pairs"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("long")
            .alias("suspect_cents"),
            F.expr(
                "CAST(COUNT(ck) * 10000 div FIRST(n_orders) AS BIGINT)"
            ).alias("suspect_bp"),
        )
        .select(
            F.col("month_idx").cast("long").alias("month_idx"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "n_suspect_pairs",
            "suspect_cents",
            "suspect_bp",
        )
    )


# --------------------------------------------------------------------------
# dq_key_discovery — candidate-key profiling (round 14)
# --------------------------------------------------------------------------

# Candidate key sets profiled over lineitem: TPC-H DECLARES
# (l_orderkey, l_linenumber) as the primary key, but the verdicts are
# evidence, not schema — in this corpus the generator does not honor
# the declared key at every SF, which is exactly the declared-vs-actual
# gap a profiler exists to expose.
_KEY_CANDIDATES = (
    ("l_orderkey",),
    ("l_orderkey", "l_linenumber"),
    ("l_partkey", "l_suppkey"),
    ("l_orderkey", "l_partkey", "l_suppkey"),
)


def _key_oracle_arm(cols: tuple[str, ...]) -> str:
    name = "+".join(cols)
    collist = ", ".join(cols)
    return f"""
        SELECT '{name}' AS candidate,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_group,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                   AS n_dup_rows,
               MAX(c) = 1 AS is_key
        FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY {collist})
    """


register_sql(
    "dq_key_discovery",
    tags=("b4",),
    oracle="\nUNION ALL\n".join(
        _key_oracle_arm(c) for c in _KEY_CANDIDATES
    ),
)


# --------------------------------------------------------------------------
# dq_observe_inline — single-pass piggybacked DQ metrics (round 14)
# --------------------------------------------------------------------------


@register(
    "dq_observe_inline",
    tags=("b4",),
    oracle="""
        -- DQ metrics via Spark's Observation API: the engine attaches
        -- observe() metrics to a REAL pipeline (filter+project+sink
        -- of purchase events) and harvests them from the same pass --
        -- zero extra scans, the production pattern for per-job DQ
        -- without doubling read volume. Two metric points: the full
        -- scan (row count, null/parse health, value bounds) and the
        -- post-filter sink (rows and value mass actually written).
        -- The oracle recomputes both points declaratively; if the
        -- observation were attached at the wrong plan point (after
        -- the filter, say) the scan row counts diverge and the hash
        -- catches it.
        SELECT 'scan' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_user,
               CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_props,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
        FROM events
        UNION ALL
        SELECT 'sink' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS n_null_user,
               CAST(0 AS BIGINT) AS n_bad_props,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
        FROM events WHERE event_type = 'purchase'
    """,
)
def dq_observe_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-piggybacked DQ metrics — Spark's ``Observation`` /
    ``Dataset.observe`` API: a real job (filter purchase events,
    project, sink to parquet) carries TWO observation points, one on
    the raw scan (row count, null users, unparseable props, exact
    value mass in cents, timestamp bounds) and one on the post-filter
    sink (rows and value mass actually written). The metrics ride the
    job's own pass — zero additional scans, which is the entire
    reason the API exists: at 100 TB a separate profiling query
    doubles read volume, an observation is free.

    The returned DataFrame IS the two harvested metric rows
    (constant-size, driver-built — the sanctioned metrics-row shape).
    Exactness: value mass as integer cents, timestamps as epoch
    micros; the oracle recomputes both points declaratively, so an
    observation attached at the wrong plan point (post-filter instead
    of scan) diverges on n_rows and the hash catches it.

    Plan/scale: one pass over events; observe() compiles to
    accumulator-style aggregates evaluated inside the existing
    whole-stage-codegen stages (CollectMetrics nodes), shuffling
    nothing. The sink write is the job's real output, not test
    scaffolding."""
    from pyspark.sql import Observation

    from nchu_bigdata_spark.queries.relational import scratch_dir

    ev = table(spark, sf_dir, "events")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    scan_obs = Observation("dq_scan")
    sink_obs = Observation("dq_sink")
    observed = ev.observe(
        scan_obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long"))
        .cast("long")
        .alias("n_null_user"),
        F.sum(F.get_json_object("props", "$.k").isNull().cast("long"))
        .cast("long")
        .alias("n_bad_props"),
        F.sum(cents).cast("long").alias("value_cents"),
        F.min(F.unix_micros("ts")).cast("long").alias("min_ts_us"),
        F.max(F.unix_micros("ts")).cast("long").alias("max_ts_us"),
    )
    filtered = observed.filter(F.col("event_type") == "purchase").observe(
        sink_obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(0).cast("long").alias("n_null_user"),
        F.lit(0).cast("long").alias("n_bad_props"),
        F.sum(cents).cast("long").alias("value_cents"),
        F.min(F.unix_micros("ts")).cast("long").alias("min_ts_us"),
        F.max(F.unix_micros("ts")).cast("long").alias("max_ts_us"),
    )
    out = scratch_dir(sf_dir, "observe_purchases")
    filtered.select("event_id", "ts", "user_id", "value").write.mode(
        "overwrite"
    ).parquet(out)

    cols = [
        "n_rows",
        "n_null_user",
        "n_bad_props",
        "value_cents",
        "min_ts_us",
        "max_ts_us",
    ]
    rows = [
        ("scan", *[scan_obs.get[c] for c in cols]),
        ("sink", *[sink_obs.get[c] for c in cols]),
    ]
    schema = "stage STRING, " + ", ".join(f"{c} BIGINT" for c in cols)
    from nchu_bigdata_spark.io import local_rows

    return local_rows(spark, rows, schema)
