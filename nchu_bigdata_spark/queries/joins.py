"""B-3 Joins (SURVEY.md §2.B-3).

Generalizes the reference's only join: a broadcast-style nested loop of
every row against k centroids loaded as a side input
(``hadoop_tutorial/src/Kmeans.java:39-46,62-77`` — re-read from HDFS by
EVERY task). Here the small side is broadcast once per executor by
Spark; big-big joins shuffle both sides on the key and AQE handles skew
at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dround, dsum
from nchu_bigdata_spark.io import local_rows, table
from nchu_bigdata_spark.registry import register, register_sql


@register(
    "join_broadcast",
    tags=("b3",),
    oracle="""
        SELECT n.n_name, r.r_name AS region_name, n.n_nationkey
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash equi-join: tiny dim side ships to every executor,
    zero shuffle of the probe side (ref A3/A5 side-input pattern done
    right — one torrent broadcast instead of per-task HDFS reads)."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    ).select("n_name", F.col("r_name").alias("region_name"), "n_nationkey")


@register(
    "join_shuffle",
    tags=("b3",),
    oracle="""
        SELECT
            c.c_mktsegment,
            o.o_orderstatus,
            CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS revenue,
            COUNT(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderstatus
    """,
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way fact⋈dim⋈dim join + hash agg (TPC-H Q3 shape).

    lineitem⋈orders is hinted sort-merge — at 100 TB both sides are huge
    and SMJ with AQE skew-splitting is the safe strategy; orders⋈customer
    stays broadcast-eligible. At this test scale AQE may demote SMJ to
    broadcast; semantics are identical.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").hint("merge")
    cust = table(spark, sf_dir, "customer")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


register_sql(
    "join_outer",
    tags=("b3",),
    oracle="""
        SELECT
            c.c_custkey,
            COUNT(o.o_orderkey) AS n_orders,
            CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS spend
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
        GROUP BY c.c_custkey
    """,
)


@register(
    "join_semi",
    tags=("b3",),
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): emits each qualifying left row once,
    never widens rows — cheaper than inner-join+distinct at scale."""
    cust = table(spark, sf_dir, "customer")
    big_orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_anti",
    tags=("b3",),
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    cust = table(spark, sf_dir, "customer")
    big_orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_theta_range",
    tags=("b3",),
    oracle="""
        WITH bands(band, lo, hi) AS (
            VALUES ('low', 0.0, 905.0),
                   ('mid', 905.0, 910.0),
                   ('high', 910.0, 915.0),
                   ('top', 915.0, 1e12)
        )
        SELECT b.band,
               COUNT(*) AS n_parts,
               CAST(ROUND(AVG(p.p_retailprice), 4) AS DECIMAL(18,4)) AS avg_price
        FROM part p
        JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
        GROUP BY b.band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (price banding): broadcast nested-loop against
    a tiny band dim. With a small inner side this is the right physical
    plan even at 100 TB — each probe row tests a handful of bands."""
    from nchu_bigdata_spark.compat import davg

    part = table(spark, sf_dir, "part")
    bands = local_rows(
        spark,
        [
            ("low", 0.0, 905.0),
            ("mid", 905.0, 910.0),
            ("high", 910.0, 915.0),
            ("top", 915.0, 1e12),
        ],
        "band string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg("p_retailprice").alias("avg_price"),
        )
    )


@register(
    "join_cross_argmin",
    tags=("b3", "ref-parity"),
    oracle="""
        WITH dists AS (
            SELECT s.s_suppkey,
                   c.c_custkey,
                   CAST(ROUND(ABS(s.s_acctbal - c.c_acctbal), 4) AS DECIMAL(18,4)) AS dist
            FROM supplier s CROSS JOIN customer c
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY s_suppkey ORDER BY dist, c_custkey
            ) AS rn
            FROM dists
        )
        SELECT s_suppkey, c_custkey AS nearest_custkey, dist
        FROM ranked WHERE rn = 1
    """,
)
def join_cross_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k×N broadcast cross join + per-row argmin — the reference's
    nearest-centroid kernel (``src/Kmeans.java:58-79``) in relational
    form. Ties break on the lower key, mirroring the reference's strict
    ``<`` comparison keeping the first minimum
    (``src/Kmeans.java:73-76``).

    min(struct(dist, key)) is a hash aggregate (partial+final) — no
    window sort over the cross product, and the full k×N never shuffles.
    """
    sup = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    dist = dround(F.abs(sup.s_acctbal - cust.c_acctbal), 4).alias("dist")
    pairs = sup.crossJoin(F.broadcast(cust)).select("s_suppkey", "c_custkey", dist)
    best = pairs.groupBy("s_suppkey").agg(
        F.min(F.struct("dist", "c_custkey")).alias("m")
    )
    return best.select(
        "s_suppkey",
        F.col("m.c_custkey").alias("nearest_custkey"),
        F.col("m.dist").alias("dist"),
    )


# --------------------------------------------------------------------------
# merge_upsert — SCD-1 MERGE (update-matched, insert-new) as a join plan
# --------------------------------------------------------------------------


@register(
    "merge_upsert",
    tags=("b3",),
    oracle="""
        WITH upd AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 100 < 3
            UNION ALL
            SELECT o_orderkey + 1000000000, 'N', o_totalprice
            FROM orders WHERE o_orderkey % 100 = 3
        )
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS o_totalprice,
               src
        FROM (
            SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice,
                   'kept' AS src
            FROM orders t ANTI JOIN upd u ON t.o_orderkey = u.o_orderkey
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice, 'merged'
            FROM upd
        )
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse MERGE INTO (SCD type 1) expressed Spark-first: keep =
    target ANTI JOIN updates on the key, then UNION ALL the update set
    (which carries both matched-row replacements and brand-new keys) —
    upsert without a MERGE statement, table format, or any row-at-a-
    time path. The deterministic update set is derived from ``orders``
    itself (keys ``% 100 < 3`` replaced with status 'U' and a price
    bump; keys ``% 100 = 3`` re-keyed past the key space as inserts),
    so both engines construct the identical delta.

    Scale shape: ONE anti hash-join on the merge key plus a union —
    exactly the plan Delta/Iceberg's MERGE compiles to for
    whole-partition rewrites. The big target never shuffles twice: the
    anti join is its only exchange, union is exchange-free, and with
    the target bucketed on the key (``join_bucketed`` layout) even
    that exchange disappears. The delta side is typically tiny and AQE
    broadcasts it, turning MERGE into a scan-speed map over the
    target."""
    t = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = (
        t.filter(F.col("o_orderkey") % 100 < 3)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        )
        .unionByName(
            t.filter(F.col("o_orderkey") % 100 == 3).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    kept = t.join(upd.select("o_orderkey"), "o_orderkey", "left_anti")
    merged = kept.withColumn("src", F.lit("kept")).unionByName(
        upd.withColumn("src", F.lit("merged"))
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("o_totalprice"),
        "src",
    )


# --------------------------------------------------------------------------
# join_null_safe — null-safe equality join (round 8)
# --------------------------------------------------------------------------


@register(
    "join_null_safe",
    tags=("b3",),
    oracle="""
        -- NULL keys are manufactured deterministically (custkey % 11
        -- = 0 -> NULL) on the fact side; the dim side carries exactly
        -- one NULL row (the "unknown customer" bucket). Plain equality
        -- drops every NULL-key order; IS NOT DISTINCT FROM routes them
        -- all to the unknown bucket - the semantics ETL re-keying
        -- steps actually want.
        WITH o AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_custkey % 11 = 0 THEN NULL
                        ELSE o_custkey END AS k
            FROM orders
        ),
        d AS (
            SELECT c_custkey AS k, c_mktsegment FROM customer
            UNION ALL
            SELECT NULL AS k, '<unknown>' AS c_mktsegment
        )
        SELECT d.c_mktsegment, o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM o JOIN d ON o.k IS NOT DISTINCT FROM d.k
        GROUP BY d.c_mktsegment, o.o_orderstatus
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    join keys MATCH a NULL dim key instead of silently dropping — the
    "unknown member" bucket pattern of warehouse re-keying (late
    dimensions, unparseable keys). Plain equi-join semantics discard
    every NULL-key row on both engines; the null-safe operator keeps
    them auditable. NULL fact keys are manufactured deterministically
    (``o_custkey % 11 = 0``) and the dim side carries exactly ONE NULL
    row, so the NULL-NULL match is a many-to-one route, never a
    cross-blowup.

    Plan/scale: Spark plans `<=>` as an ordinary hash join (null-safe
    comparison is hashable — NULL hashes to a regular bucket), so this
    is one shuffle-or-broadcast equi join, NOT a nested loop
    (plan-audited). Skew note: at 100 TB the NULL bucket is the
    classic hot key — the standard mitigation is splitting the NULL
    slice off before the join (a filter union), or AQE skew-split,
    both compatible with this plan."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_custkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
    )
    c = table(spark, sf_dir, "customer")
    d = c.select(F.col("c_custkey").alias("k"), "c_mktsegment").unionAll(
        c.sparkSession.range(1).select(
            F.lit(None).cast("long").alias("k"),
            F.lit("<unknown>").alias("c_mktsegment"),
        )
    )
    return (
        o.join(d, o.k.eqNullSafe(d.k))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# join_existence — EXISTS flags in the projection (ExistenceJoin) (round 8)
# --------------------------------------------------------------------------


# Catalyst decorrelates each EXISTS into an ExistenceJoin, a hash join
# that emits a BOOLEAN instead of dropping rows, so output cardinality
# is exactly |customer| whatever the order fan-out.
register_sql(
    "join_existence",
    tags=("b5",),
    oracle="""
        -- EXISTS as a PROJECTED FLAG (not a filter): one pass over
        -- customers emitting two membership bits. Semi/anti joins
        -- KEEP or DROP rows; the third shape keeps every row and
        -- ANNOTATES it -- the feature-engineering / segmentation
        -- staple ("has an open order", "has a big-ticket order")
        -- that naive SQL writes as two correlated subqueries per row.
        SELECT c_custkey,
               EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O') AS has_open,
               EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 200000) AS has_big
        FROM customer c
    """,
)


# --------------------------------------------------------------------------
# join_anti_range — time-windowed anti join (abandonment) (round 8)
# --------------------------------------------------------------------------

_ABANDON_WINDOW_US = 3_600_000_000  # 1 hour


@register(
    "join_anti_range",
    tags=("b5",),
    oracle=f"""
        -- Time-windowed NOT EXISTS: views with NO purchase by the
        -- same user within the following hour -- the abandonment /
        -- unanswered-alert / no-follow-up shape. A plain anti join
        -- answers "never purchased"; the RANGE condition answers
        -- "didn't purchase IN TIME", which is the business question.
        -- Rolled up to the daily abandonment rate in floor bp.
        WITH v AS (
            SELECT user_id, epoch_us(ts) AS vs FROM events
            WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id, epoch_us(ts) AS ps FROM events
            WHERE event_type = 'purchase'
        ),
        a AS (
            SELECT v.user_id, v.vs FROM v
            WHERE NOT EXISTS (
                SELECT 1 FROM p
                WHERE p.user_id = v.user_id
                  AND p.ps >= v.vs
                  AND p.ps <= v.vs + {_ABANDON_WINDOW_US}
            )
        ),
        d AS (
            SELECT vs // 86400000000 AS day, COUNT(*) AS n_views
            FROM v GROUP BY 1
        ),
        ad AS (
            SELECT vs // 86400000000 AS day, COUNT(*) AS n_abandoned
            FROM a GROUP BY 1
        )
        SELECT CAST(d.day AS BIGINT) AS day,
               CAST(d.n_views AS BIGINT) AS n_views,
               CAST(COALESCE(ad.n_abandoned, 0) AS BIGINT) AS n_abandoned,
               CAST(COALESCE(ad.n_abandoned, 0) * 10000 // d.n_views
                    AS BIGINT) AS abandon_bp
        FROM d LEFT JOIN ad ON ad.day = d.day
    """,
)
def join_anti_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed NOT EXISTS — views with NO purchase by the same
    user within the following hour, rolled to a daily abandonment
    rate. `join_anti` answers "never purchased"; the RANGE conjunct
    answers "didn't purchase IN TIME", which is what abandonment,
    unanswered-alert, and no-follow-up metrics actually ask.

    Plan/scale: Catalyst keeps the user_id EQUI key as the anti
    join's hash/merge key and evaluates the time-range conjunct as a
    residual join condition — so the plan is a keyed LeftAnti join
    (asserted; never a nested loop over the cross product), shuffling
    both sides once on user_id. Per-user event streams are bounded
    (the hottest user is the skew ceiling, as in the sessionize
    family). The daily rollups reuse the view side; floor-bp rate."""
    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.expr("unix_micros(ts)").alias("vs")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.expr("unix_micros(ts)").alias("ps")
    )
    a = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ps") >= F.col("vs"))
        & (F.col("ps") <= F.col("vs") + _ABANDON_WINDOW_US),
        "left_anti",
    )
    d = v.groupBy(F.expr("vs div 86400000000").alias("day")).agg(
        F.count(F.lit(1)).alias("n_views")
    )
    ad = a.groupBy(F.expr("vs div 86400000000").alias("day")).agg(
        F.count(F.lit(1)).alias("n_abandoned")
    )
    return d.join(ad, "day", "left").select(
        F.col("day").cast("long").alias("day"),
        F.col("n_views").cast("long").alias("n_views"),
        F.coalesce("n_abandoned", F.lit(0)).cast("long").alias("n_abandoned"),
        F.expr(
            "CAST(COALESCE(n_abandoned, 0) * 10000 div n_views AS BIGINT)"
        ).alias("abandon_bp"),
    )


# --------------------------------------------------------------------------
# join_range_partitioned — big-big interval-overlap join via grid cells
# (round 12; VERDICT r11 item 8's interval-family variant)
# --------------------------------------------------------------------------

_RP_WIN_US = 120_000_000  # incident window: 120 s
_RP_CELL_US = 128_000_000  # grid cell: 128 s (> window, so <= 2 cells/window)


@register(
    "join_range_partitioned",
    tags=("b3",),
    oracle=f"""
        -- Pure interval-overlap join with NO equi key: every 'error'
        -- event opens a 120 s incident window; count the events (all
        -- types), distinct users and exact cents landing inside each
        -- window. DuckDB evaluates the range predicate directly
        -- (IEJoin); the Spark plan partitions the time axis into
        -- 128 s grid cells and equi-joins on the cell (see the
        -- Python docstring) — both produce the identical multiset.
        -- The window INCLUDES its own opening event, so n_events >= 1
        -- and the join is inner. Exact ints throughout (epoch micros,
        -- value pre-rounded to cents).
        WITH e AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(ts) AS us,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        i AS (
            SELECT event_id AS incident_id, us AS lo,
                   us + {_RP_WIN_US} AS hi
            FROM e WHERE event_type = 'error'
        )
        SELECT i.incident_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
               CAST(SUM(e.cents) AS BIGINT) AS sum_cents
        FROM i JOIN e ON e.us >= i.lo AND e.us < i.hi
        GROUP BY 1
    """,
)
def join_range_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big interval-overlap join with NO equi key — the case
    neither broadcast (`join_theta_range`: dim-sized inner) nor
    key-colocated range joins (`join_anti_range`, `join_pit_scd2`:
    equi key + range residual) cover. A naive plan is a nested loop
    over |points| × |intervals|; at 100 TB neither side ships.

    Spark-first strategy (the "bin/range-partitioned join" — what a
    range-join hint does on engines that have one): partition the
    time axis into fixed {{cell}} = 128 s grid cells, chosen > the
    120 s window length so every interval overlaps AT MOST 2 cells
    (sequence + explode, bounded fan-out ≤ 2×); points map to exactly
    ONE cell, so no pair can be produced twice and no dedup pass is
    needed. The join then has an EQUI conjunct (cell = cell) and the
    range residual — Catalyst picks a shuffled hash/sort-merge join
    co-partitioned on the cell, and the per-task probe space is one
    128 s slice of the stream, not the corpus. Work scales with
    output pairs (density-bounded), never |L|×|R|.

    At test scale the exploded interval side sits under the broadcast
    threshold, so the query disables auto-broadcast FOR ITSELF to
    demonstrate the big-big exchange it exists for (precedent and
    restore mechanics: `join_bloom_prune` — the registry wrapper
    re-pins plan confs on entry to every other query). Results are
    conf-independent.

    Skew note: a hot 128 s cell (traffic spike) is a plain equi-join
    skew problem — AQE skew-join splits it; no bespoke salting layer.

    Ref parity: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-3."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    inc = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("us").alias("lo"),
        (F.col("us") + F.lit(_RP_WIN_US)).alias("hi"),
    )
    inc_cells = inc.select(
        "incident_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.expr(f"lo div {_RP_CELL_US}"),
                F.expr(f"(hi - 1) div {_RP_CELL_US}"),
            )
        ).alias("cell"),
    )
    pts = ev.select(
        F.expr(f"us div {_RP_CELL_US}").alias("cell"),
        "us",
        "user_id",
        "cents",
    )
    joined = pts.join(
        inc_cells,
        (pts.cell == inc_cells.cell)
        & (pts.us >= inc_cells.lo)
        & (pts.us < inc_cells.hi),
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
