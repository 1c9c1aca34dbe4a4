"""B-5 Window functions (SURVEY.md §2.B-5).

Generalizes ref A11 (per-group representative-row selection,
``hadoop_tutorial/src/Kmeans.java:114-130`` — which is buggy there: the
running minimum is never updated, ``:125-127``; we implement the correct
argmin). All window orderings include a unique key as tie-break so the
result set is deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nchu_bigdata_spark.io import table
from nchu_bigdata_spark.materialize import range_pid_frozen
from nchu_bigdata_spark.registry import register, register_sql


@register(
    "win_rank",
    tags=("b5",),
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
        QUALIFY rn <= 50
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per partition. row_number's
    ordering carries the unique key so ties resolve identically on both
    engines; rank/dense_rank are tie-stable by definition."""
    o = table(spark, sf_dir, "orders")
    w_val = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    w_uniq = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w_val).alias("rnk"),
            F.dense_rank().over(w_val).alias("drnk"),
            F.row_number().over(w_uniq).alias("rn"),
        )
        .filter(F.col("rn") <= 50)
    )


register_sql(
    "win_lag_lead",
    tags=("b5",),
    oracle="""
        SELECT event_id, user_id,
               CAST(ROUND(value - LAG(value) OVER w, 4) AS DECIMAL(18,4)) AS delta_prev,
               LEAD(event_type) OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


register_sql(
    "win_frame_avg",
    tags=("b5",),
    oracle="""
        SELECT event_id, user_id,
               CAST(ROUND(AVG(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
               ), 4) AS DECIMAL(18,4)) AS moving_avg
        FROM events
    """,
)


@register(
    "win_argmin",
    tags=("b5", "ref-parity"),
    oracle="""
        SELECT c_nationkey, c_custkey, c_acctbal
        FROM (
            SELECT c_nationkey, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                   ) AS rn
            FROM customer
        ) WHERE rn = 1
    """,
)
def win_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group representative row — correct version of ref A11
    (``src/Kmeans.java:114-130``, whose running-min update is missing).
    Ties break on the unique key."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


# The running sum is decimal-exact, so partial-order differences can't
# perturb the hash.
register_sql(
    "win_running_total",
    tags=("b5",),
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DECIMAL(38,6)) AS running_spend
        FROM orders
    """,
)


@register(
    "win_range_frame",
    tags=("b5",),
    oracle="""
        SELECT event_id,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
               ) AS DECIMAL(38,6)) AS val_sum_10m,
               COUNT(*) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
               ) AS n_10m
        FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame keyed on event time: per user, the trailing-10-minute
    sum/count at every event (value-based frame bounds, unlike the
    ROWS frame of ``win_frame_avg``). Sums go through decimal so the
    set-valued frame is order-insensitive bit-exact on both engines."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(20,6)"))
        .over(w)
        .cast("decimal(38,6)")
        .alias("val_sum_10m"),
        F.count(F.lit(1)).over(w).alias("n_10m"),
    )


@register(
    "win_ntile",
    tags=("b5",),
    oracle="""
        SELECT c_custkey,
               NTILE(4) OVER w AS quartile,
               FIRST_VALUE(c_name) OVER w AS poorest_in_nation,
               LAST_VALUE(c_name) OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS richest_in_nation
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing + FIRST_VALUE/LAST_VALUE per partition (LAST over
    the full frame — the default running frame would just echo the
    current row). Ordering includes c_custkey so ties are deterministic."""
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_name").over(w).alias("poorest_in_nation"),
        F.last("c_name").over(wfull).alias("richest_in_nation"),
    )


@register(
    "win_distribution",
    tags=("b5",),
    oracle="""
        SELECT s_suppkey, s_nationkey,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume,
               CAST(NTILE(10) OVER (
                   PARTITION BY s_nationkey
                   ORDER BY s_acctbal, s_suppkey
               ) AS INT) AS decile
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank (rank-1)/(n-1) and
    cume_dist, the relative-standing family the other window queries
    don't cover, plus a unique-ordered decile. percent_rank/cume_dist
    are tie-stable by definition (equal values share a value); their
    ratios are rounded to 6 places so the k/(n-1) doubles compare
    bit-identically across engines.

    Same scale shape as every window query: ONE hash-partition shuffle
    on the partition key, then a per-partition sort — no global sort,
    no driver involvement."""
    s = table(spark, sf_dir, "supplier")
    w_val = W.partitionBy("s_nationkey").orderBy("s_acctbal")
    w_uniq = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.round(F.percent_rank().over(w_val), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_val), 6).alias("cume"),
        F.ntile(10).over(w_uniq).alias("decile"),
    )


@register(
    "win_first_last",
    tags=("b5",),
    oracle="""
        SELECT o_custkey, o_orderkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER wf AS latest_price,
               nth_value(o_totalprice, 2) OVER wf AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window VALUE functions: each order annotated with its customer's
    first, latest, and second order price — `first_value` on the
    default growing frame, `last_value`/`nth_value` on the FULL frame
    (the classic gotcha: default-frame last_value is just the current
    row; the full frame is almost always what's meant).

    Plan: all three share one partition key and one sort order, so
    Catalyst evaluates them in a single Window operator over a single
    shuffle+sort — adding frames to an existing window is free."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wf).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
    )


# The ONE session-gap constant, shared with stream_session's built-in
# session_window path so the two mechanisms can't silently diverge.
from nchu_bigdata_spark.queries.streaming_batch import _10M_US as _SESS_GAP_US  # noqa: E402


@register(
    "win_sessionize",
    tags=("b5",),
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                             > {_SESS_GAP_US}
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        tagged AS (
            SELECT user_id, ts_us,
                   CAST(SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                   ) AS INT) AS session_id
            FROM seq
        )
        SELECT user_id, session_id,
               MIN(ts_us) AS session_start_us,
               MAX(ts_us) + {_SESS_GAP_US} AS session_end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM tagged
        GROUP BY user_id, session_id
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: per-user integer session ids
    assigned with pure window functions (lag-gap boundary flag →
    running sum), then per-session aggregates. This is the BATCH
    counterpart to ``stream_session``'s built-in ``session_window`` —
    same 10-minute gap, same [first, last+gap) extents — implemented
    through an entirely different mechanism, so the two cross-validate
    (pinned by a unit test); the window form additionally yields a
    stable ordinal session id the built-in doesn't expose.

    Plan: ONE shuffle on user_id; lag, running sum, and the final
    per-session agg all share the per-user sort (two Window frames
    fold onto one sort; the agg keys on the window's output). Session
    assignment is integer comparisons on epoch micros — exact on both
    engines."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    prev = F.lag(ts_us).over(w)
    new_sess = F.when(
        prev.isNull() | ((ts_us - prev) > _SESS_GAP_US), 1
    ).otherwise(0)
    tagged = ev.select(
        "user_id",
        ts_us.alias("ts_us"),
        F.sum(new_sess).over(w).cast("int").alias("session_id"),
    )
    return tagged.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("session_start_us"),
        (F.max("ts_us") + _SESS_GAP_US).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "win_fill_forward",
    tags=("b5",),
    oracle="""
        -- forward-fill: props-missing events inherit the latest prior
        -- non-null value per user (the time-series gap-fill idiom)
        SELECT event_id, user_id,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               v AS raw_value,
               LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
            FROM events
        )
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF — last observation carried forward): nulls
    inherit the latest prior non-null value per user in event-time
    order. The fixture has no nulls, so every 5th event's value is
    masked NULL first (deterministic ``event_id % 5`` — same rule in
    the oracle), then recovered by ``last_value(... IGNORE NULLS)``
    over a running frame — the canonical sensor-gap / sparse-ledger
    repair idiom, and the one window VALUE function family
    (``IGNORE NULLS``) the B-5 surface didn't exercise yet.

    Determinism: values pass through unchanged (no arithmetic);
    (ts, event_id) is a total order per user. Plan: ONE user-keyed
    window sort, running frame — no second shuffle."""
    ev = table(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        v.alias("raw_value"),
        F.last(v, ignorenulls=True).over(w).alias("filled_value"),
    )


# --------------------------------------------------------------------------
# win_running_distinct — running COUNT(DISTINCT) via first-occurrence
# flags (round 8)
# --------------------------------------------------------------------------


@register(
    "win_running_distinct",
    tags=("b5",),
    oracle="""
        -- COUNT(DISTINCT) OVER a running frame isn't supported by most
        -- engines (Spark included); the standard rewrite is exact:
        -- flag each (user, event_type)'s FIRST occurrence in event-time
        -- order, then running-sum the flags per user.
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                   ) = 1 THEN 1 ELSE 0 END AS first_seen
            FROM events
        )
        SELECT user_id, event_id,
               CAST(SUM(first_seen) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_types_so_far
        FROM flagged
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct count — how many DISTINCT event types has each
    user touched up to each event (feature-adoption / exploration-depth
    curves, micro-segment triggers like "fire when a user has used 3+
    features"). ``COUNT(DISTINCT) OVER (... ROWS BETWEEN ...)`` is
    unsupported SQL nearly everywhere because the frame would need a
    per-row distinct state; the EXACT standard rewrite is two plain
    windows: flag each (user, type)'s first occurrence, then
    running-sum the flags per user.

    Determinism: both orderings carry the (ts, event_id) tiebreak, so
    equal-timestamp rows can't permute across engines.

    Plan/scale: two window sorts on different keys — (user, type) then
    (user) — is two shuffles; the flag column is 1 byte between them.
    Per-partition state in each window is a cursor, not a distinct
    set: that's the point of the rewrite (a naive per-frame distinct
    would hold O(types) per ROW; this holds O(1))."""
    ev = table(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            (F.row_number().over(w_first) == 1).cast("int"),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).cast("long").alias(
                "n_types_so_far"
            ),
        )
    )


# --------------------------------------------------------------------------
# win_rolling_median — exact trailing-window median (round 8)
# --------------------------------------------------------------------------

_RMED_W = 7  # trailing frame width (rows)


@register(
    "win_rolling_median",
    tags=("b5",),
    oracle=f"""
        -- exact rolling median over a trailing 7-row frame, kept in
        -- integers: med2 = sum of the two middle order statistics of
        -- the sorted frame (equal for odd frame sizes -> 2*median).
        WITH c AS (
            SELECT user_id, event_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        f AS (
            SELECT user_id, event_id,
                   list_sort(list(cents) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {_RMED_W - 1} PRECEDING AND CURRENT ROW
                   )) AS frame
            FROM c
        )
        SELECT user_id, event_id,
               CAST(len(frame) AS INT) AS n_frame,
               CAST(frame[(len(frame) + 1) // 2]
                    + frame[len(frame) // 2 + 1] AS BIGINT) AS med2_cents
        FROM f
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling MEDIAN of event values over a trailing 7-row
    frame per user — the robust-smoothing companion to ``ts_ewma``
    (medians shrug off the single-spike outliers that drag any mean,
    weighted or not). Median-over-frame isn't expressible as a SQL
    window aggregate on either engine; the exact form collects the
    frame into an array and takes order statistics. To stay on the
    integer boundary-straddle policy the output is ``med2`` = the sum
    of the two middle order statistics of the sorted cents frame
    (equal values for odd frames, i.e. 2×median; their mean would be
    a .5-float) plus the frame size — consumers divide at the edge.

    Plan/scale: ONE user-keyed window sort shared by the collect; the
    per-row frame array is bounded at 7 elements by the frame spec
    (constant memory per cursor, unlike a whole-partition collect),
    and the sort+index runs in codegen. The approximate companion at
    larger frames is ``percentile_approx`` (``agg_approx``)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_RMED_W - 1), W.currentRow)
    )
    f = ev.select(
        "user_id",
        "event_id",
        F.array_sort(F.collect_list("cents").over(w)).alias("frame"),
    )
    n = F.size("frame")
    lo = F.element_at("frame", ((n + 1) / 2).cast("int"))
    hi = F.element_at("frame", (n / 2 + 1).cast("int"))
    return f.select(
        "user_id",
        "event_id",
        n.cast("int").alias("n_frame"),
        (lo + hi).cast("long").alias("med2_cents"),
    )


# --------------------------------------------------------------------------
# win_streak — longest consecutive-day streak per user (gaps & islands, r8)
# --------------------------------------------------------------------------


@register(
    "win_streak",
    tags=("b5",),
    oracle="""
        -- gaps-and-islands: consecutive active DAYS share the island
        -- key d - row_number() (constant within a run, distinct
        -- across runs). Integer epoch-day bucketing (the
        -- events_active_users policy) — no calendar/TZ rule in play.
        WITH ud AS (
            SELECT DISTINCT user_id,
                   epoch_us(ts) // 86400000000 AS d
            FROM events
        ),
        isl AS (
            SELECT user_id, d,
                   d - ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY d) AS grp
            FROM ud
        ),
        runs AS (
            SELECT user_id, grp, COUNT(*) AS len
            FROM isl GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(MAX(len) AS BIGINT) AS max_streak_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(SUM(len) AS BIGINT) AS active_days
        FROM runs
        GROUP BY user_id
    """,
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands window: on the per-user sorted distinct-day
    sequence, ``day - row_number()`` is constant exactly within a
    consecutive run, so one window + two hash aggs yield run lengths
    (engagement streaks, the complement of `events_gap_detect`'s
    largest-gap view).

    Plan/scale: the distinct (user, day) agg combines map-side and
    shrinks events to active-days; window + both aggs all key on
    user_id, so after the one distinct shuffle the island assignment
    and run-length rollups stay partition-local (AQE coalesces the
    tail). Per-user state is a sort cursor — no driver materialization
    at any cardinality."""
    ev = table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("d"),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").cast("long").alias("max_streak_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


# --------------------------------------------------------------------------
# win_lorenz — revenue concentration by customer decile (round 8)
# --------------------------------------------------------------------------


@register(
    "win_lorenz",
    tags=("b5",),
    oracle="""
        -- Lorenz / concentration curve: customers ranked by revenue
        -- (exact cents, custkey tie-break), cut into 10 equi-depth
        -- deciles by the closed-form (rank-1)*10 // N, each decile
        -- carrying its share of total revenue in floor basis points
        -- plus the running (cumulative) share. The closed-form cut
        -- (not NTILE) is what a DISTRIBUTED rank can compute without
        -- a single-node window; the oracle uses the same formula so
        -- both engines draw identical boundaries.
        WITH cr AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        r AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey)
                       AS rnk,
                   COUNT(*) OVER () AS n
            FROM cr
        ),
        agg AS (
            SELECT (rnk - 1) * 10 // n + 1 AS decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS revenue_cents
            FROM r GROUP BY 1
        )
        SELECT CAST(decile AS BIGINT) AS decile, n_customers,
               revenue_cents,
               -- HUGEINT legs: decile cents reach ~1e15 at 1e9
               -- customers, so the *10^4 cross-multiply would overflow
               -- a checked BIGINT here while Spark's int64 wraps —
               -- the events_rfm decimal(38,0) precedent applies
               CAST(CAST(revenue_cents AS HUGEINT) * 10000 //
                    SUM(revenue_cents) OVER () AS BIGINT) AS share_bp,
               CAST(CAST(SUM(revenue_cents) OVER (
                        ORDER BY decile
                        ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 10000 //
                    SUM(revenue_cents) OVER () AS BIGINT)
                   AS cum_share_bp
        FROM agg
    """,
)
def win_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Lorenz) curve: "the top decile of
    customers carries X% of revenue". Customers rank by lifetime
    revenue in exact integer cents with a custkey tie-break; deciles
    are the closed-form equi-depth cut ``(rank-1)*10 div N``; shares
    are floor cross-multiplies — no float division anywhere.

    The global rank is the DISTRIBUTED two-pass pattern, not a
    single-partition window (Spark executes an unpartitioned
    ``row_number``/``ntile`` by moving ALL rows to one task — the
    exact anti-pattern at 1e9 customers):
      1. range-repartition + local sort on (cents DESC, custkey) — a
         normal distributed sort, skew-handled by sampled boundaries;
      2. per-partition row counts (tiny) → running offsets, broadcast
         back; global_rank = partition_offset + partition-local
         row_number.
    Partition boundaries come from sampling and are NOT deterministic
    — so the pid-stamped frame is FROZEN via
    ``materialize.range_pid_frozen`` (r10, ADVICE r9 high): both rank
    branches must read ONE sampled partitioning, else they compile to
    two independent rangepartitioning exchanges that can disagree.
    Given the freeze, global_rank is invariant to where the boundaries
    fall (the sort is a total order), so the OUTPUT is bit-stable.

    Plan/scale: the per-customer rollup (map-side combined) shrinks
    orders to |customers| before the rangepartitioning sort; the
    offset table is #partitions rows (broadcast); the decile rollup
    folds to 10 rows, so the final share windows run over a literal
    handful."""
    o = table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    pid = range_pid_frozen(
        "win_lorenz.pid", cr, F.col("cents").desc(), F.col("o_custkey")
    )
    pc = pid.groupBy("pid").agg(F.count(F.lit(1)).alias("pn"))
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    off = pc.select(
        "pid",
        F.coalesce(F.sum("pn").over(w_off), F.lit(0)).alias("off"),
        F.sum("pn").over(W.partitionBy()).alias("n"),
    )
    w_local = W.partitionBy("pid").orderBy(
        F.col("cents").desc(), "o_custkey"
    )
    ranked = (
        pid.withColumn("rlocal", F.row_number().over(w_local))
        .join(F.broadcast(off), "pid")
        .select(
            "cents",
            (F.col("off") + F.col("rlocal")).alias("rnk"),
            "n",
        )
    )
    agg = (
        ranked.groupBy(
            F.expr("(rnk - 1) * 10 div n + 1").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )
    return agg.select(
        F.col("decile").cast("long"),
        "n_customers",
        "revenue_cents",
        F.expr(
            "CAST(revenue_cents AS decimal(38,0)) * 10000"
            " div sum(revenue_cents) over ()"
        )
        .cast("long")
        .alias("share_bp"),
        F.expr(
            "CAST(sum(revenue_cents) over (order by decile"
            " rows unbounded preceding) AS decimal(38,0)) * 10000"
            " div sum(revenue_cents) over ()"
        )
        .cast("long")
        .alias("cum_share_bp"),
    )


# --------------------------------------------------------------------------
# win_rolling_regression — trailing-window OLS trend per series (round 8)
# --------------------------------------------------------------------------


@register(
    "win_rolling_regression",
    tags=("b6",),
    oracle="""
        -- per-event-type rolling 7-day OLS slope of daily volume vs
        -- the day number: the windowed trend detector behind "is this
        -- series accelerating" alerts, where a full regression beats
        -- a first-difference (one noisy day flips a difference; it
        -- barely moves a 7-point fit). The agg_regression policy,
        -- windowed: integer co-moment sums over the frame, slope
        -- derived as ONE correctly-rounded double division num/den —
        -- bit-identical cross-engine, no incremental float state.
        WITH daily AS (
            SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        w AS (
            SELECT event_type, day, y,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY day) AS rk,
                   CAST(COUNT(*) OVER f AS BIGINT) AS k,
                   CAST(SUM(day) OVER f AS BIGINT) AS sx,
                   CAST(SUM(y) OVER f AS BIGINT) AS sy,
                   CAST(SUM(day * y) OVER f AS BIGINT) AS sxy,
                   CAST(SUM(day * day) OVER f AS BIGINT) AS sxx
            FROM daily
            WINDOW f AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, CAST(day AS BIGINT) AS day, y,
               CAST(k * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(k * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST(k * sxy - sx * sy AS DOUBLE)
                   / CAST(k * sxx - sx * sx AS DOUBLE) AS slope
        FROM w WHERE rk >= 7
    """,
)
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope of daily volume per event type — the
    windowed trend detector behind "is this series accelerating"
    alerts. A full regression over the trailing frame beats a first
    difference (one noisy day flips a difference; it barely moves a
    7-point fit) and beats EWMA when the readout must be a RATE
    (events/day of drift) rather than a level.

    Determinism is `agg_regression`'s policy windowed: the four
    co-moment sums (k, Σx, Σy, Σxy, Σx²) are exact int64 window
    aggregates over the frame, and the slope is derived as ONE
    correctly-rounded double division num/den — bit-identical across
    engines, with the integer numerator/denominator emitted alongside
    so downstream exact comparisons never need the float at all.
    Partial frames (first 6 rows per series) are excluded: a 2-point
    "trend" is noise reported as signal.

    Plan/scale: the daily agg collapses facts map-side to (type, day)
    cardinality; ALL window functions share one (event_type)-keyed
    sort — one shuffle, per-series state bounded by the 7-row frame,
    no global window anywhere."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    f = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, W.currentRow)
    )
    w_rk = W.partitionBy("event_type").orderBy("day")
    w = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(f).cast("long").alias("k"),
        F.sum("day").over(f).cast("long").alias("sx"),
        F.sum("y").over(f).cast("long").alias("sy"),
        F.sum(F.col("day") * F.col("y")).over(f).cast("long").alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(f).cast("long").alias("sxx"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    return w.filter(F.col("rk") >= 7).select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "y",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        (num.cast("double") / den.cast("double")).alias("slope"),
    )


# --------------------------------------------------------------------------
# win_ohlc_bars — open/high/low/close resampling (round 8)
# --------------------------------------------------------------------------


@register(
    "win_ohlc_bars",
    tags=("b6",),
    oracle="""
        -- daily OHLC bars per event series: open/close = first/last
        -- value by (ts, event_id) — the deterministic tie-break every
        -- first/last needs — high/low/volume as min/max/sum, all in
        -- exact integer CENTS. The bar aggregation every metrics
        -- store runs before charting or bar-level features; the
        -- integer-cents policy makes the bars hash-exact.
        WITH c AS (
            SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                   epoch_us(ts) AS ts_us, event_id,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events
        ),
        r AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, day
                       ORDER BY ts_us, event_id) AS rk_a,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, day
                       ORDER BY ts_us DESC, event_id DESC) AS rk_z
            FROM c
        )
        SELECT event_type, CAST(day AS BIGINT) AS day,
               CAST(MAX(CASE WHEN rk_a = 1 THEN cents END)
                    AS BIGINT) AS open_cents,
               CAST(MAX(cents) AS BIGINT) AS high_cents,
               CAST(MIN(cents) AS BIGINT) AS low_cents,
               CAST(MAX(CASE WHEN rk_z = 1 THEN cents END)
                    AS BIGINT) AS close_cents,
               CAST(SUM(cents) AS BIGINT) AS volume_cents,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY event_type, day
    """,
)
def win_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event series: open/close = first/last value
    within the (type, day) bar, high/low/volume as min/max/sum — the
    bar resampling every metrics store runs before charting, alerting
    on gaps ("opened 30% below yesterday's close"), or bar-level
    features. Two design rules make it hash-exact where naive OHLC
    flakes: values live in integer CENTS, and first/last carry the
    full deterministic tie-break (ts, event_id) — `F.first` over an
    unordered group is the classic nondeterminism bug this operator
    exists to replace.

    Plan/scale: both rank windows and the final agg share ONE
    (event_type, day)-keyed exchange; per-bar window state is the
    bar's row count, the agg combines map-side, output is
    series x day cardinality. No global sort anywhere."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("unix_micros(ts)").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w_a = W.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
    w_z = W.partitionBy("event_type", "day").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    r = c.select(
        "event_type",
        "day",
        "cents",
        F.row_number().over(w_a).alias("rk_a"),
        F.row_number().over(w_z).alias("rk_z"),
    )
    return r.groupBy("event_type", F.col("day").cast("long").alias("day")).agg(
        F.max(F.when(F.col("rk_a") == 1, F.col("cents")))
        .cast("long")
        .alias("open_cents"),
        F.max("cents").cast("long").alias("high_cents"),
        F.min("cents").cast("long").alias("low_cents"),
        F.max(F.when(F.col("rk_z") == 1, F.col("cents")))
        .cast("long")
        .alias("close_cents"),
        F.sum("cents").cast("long").alias("volume_cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# win_mtd_ytd — period-reset running totals (round 8)
# --------------------------------------------------------------------------


@register(
    "win_mtd_ytd",
    tags=("b6",),
    oracle="""
        -- MTD / YTD running revenue per order day: the same daily
        -- series accumulated under two different PERIOD RESETS
        -- (month partition, year partition) — the standard BI
        -- "where are we against the month/year" readout, and the
        -- window-partition idiom (reset = partition key) that
        -- replaces the self-join every naive MTD implementation
        -- writes. Cents-exact, one sorted pass.
        WITH d AS (
            SELECT o_orderdate::DATE AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               cents AS day_cents,
               CAST(SUM(cents) OVER (
                        PARTITION BY year(day), month(day) ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS mtd_cents,
               CAST(SUM(cents) OVER (
                        PARTITION BY year(day) ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS ytd_cents,
               CAST(ROW_NUMBER() OVER (
                        PARTITION BY year(day), month(day) ORDER BY day
                    ) AS BIGINT) AS day_of_period
        FROM d
    """,
)
def win_mtd_ytd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTD / YTD running revenue per order day: one daily series
    accumulated under two different PERIOD RESETS — month-partitioned
    and year-partitioned running sums — the standard BI "where are we
    against the month / the year" readout. The idiom is the point:
    a period reset IS a window partition key, which replaces the
    correlated self-join ("sum of all days ≤ d in the same month")
    every naive MTD implementation writes and which goes quadratic
    per period at scale.

    Exactness: integer cents end to end; days compare as DATE with
    'yyyy-MM-dd' output per the compat policy.

    Plan/scale: the fact table collapses to the day axis map-side;
    both running sums and the day counter share year/month-keyed
    partitions — bounded partitions (≤366 rows), parallel across
    periods, no global window."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w_m = (
        W.partitionBy(F.year("day"), F.month("day"))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_y = (
        W.partitionBy(F.year("day"))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_rn = W.partitionBy(F.year("day"), F.month("day")).orderBy("day")
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents").alias("day_cents"),
        F.sum("cents").over(w_m).cast("long").alias("mtd_cents"),
        F.sum("cents").over(w_y).cast("long").alias("ytd_cents"),
        F.row_number().over(w_rn).cast("long").alias("day_of_period"),
    )


# --------------------------------------------------------------------------
# win_yoy_compare — same-period year-over-year deltas (round 8)
# --------------------------------------------------------------------------


@register(
    "win_yoy_compare",
    tags=("b6",),
    oracle="""
        -- same-month year-over-year comparison: revenue per calendar
        -- month with the SAME month one year earlier alongside
        -- (lag 12 over the dense month axis), delta in exact cents
        -- and growth in floor bp — YoY is the seasonality-free
        -- growth read (ts_decompose removes seasonality by modeling
        -- it; YoY removes it by construction). The dense-axis lag is
        -- the point: a lag over MISSING months silently compares to
        -- the wrong period, so the spine densifies first
        -- (ts_densify's lesson on the month axis).
        WITH m AS (
            SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1)
                       AS mo,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        spine AS (
            SELECT UNNEST(generate_series(
                       (SELECT MIN(mo) FROM m),
                       (SELECT MAX(mo) FROM m))) AS mo
        ),
        d AS (
            SELECT spine.mo, COALESCE(m.cents, 0) AS cents
            FROM spine LEFT JOIN m ON m.mo = spine.mo
        ),
        l AS (
            SELECT mo, cents,
                   LAG(cents, 12) OVER (ORDER BY mo) AS prev_cents
            FROM d
        )
        SELECT CAST(mo AS BIGINT) AS mo, cents, prev_cents,
               CAST(cents - prev_cents AS BIGINT) AS yoy_delta_cents,
               CAST(CASE WHEN prev_cents > 0
                         THEN (cents - prev_cents) * 10000 // prev_cents
                         END AS BIGINT) AS yoy_growth_bp
        FROM l WHERE prev_cents IS NOT NULL
    """,
)
def win_yoy_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-month year-over-year comparison: monthly revenue with the
    SAME calendar month one year earlier alongside (lag 12 over a
    DENSIFIED month spine), the delta in exact cents and growth in
    floor basis points. YoY is the seasonality-free growth read —
    `ts_decompose` removes seasonality by modeling it, YoY removes it
    by construction — and the dense spine is the correctness point:
    a lag-12 over months-with-data silently compares to the wrong
    period the moment one month is empty, so the spine generates
    first and zero-fills (`ts_densify`'s lesson on the month axis).
    Growth is NULL (not a fake number) when the base period is zero.

    Plan/scale: fact→month agg map-side; the spine is a sequence()
    explode off a 1-row bound agg; lag-12 runs over the tiny month
    axis (the `orders_backlog` deliberate single-partition window)."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "mo"
        )
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    bounds = m.agg(F.min("mo").alias("lo"), F.max("mo").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("mo")
    )
    d = spine.join(m, "mo", "left").select(
        "mo", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    l = d.select(
        "mo",
        "cents",
        F.lag("cents", 12).over(W.orderBy("mo")).alias("prev_cents"),
    ).filter(F.col("prev_cents").isNotNull())
    return l.select(
        F.col("mo").cast("long").alias("mo"),
        "cents",
        "prev_cents",
        (F.col("cents") - F.col("prev_cents"))
        .cast("long")
        .alias("yoy_delta_cents"),
        F.expr(
            "CAST(CASE WHEN prev_cents > 0 THEN (cents - prev_cents)"
            " * 10000 div prev_cents END AS BIGINT)"
        ).alias("yoy_growth_bp"),
    )


# --------------------------------------------------------------------------
# win_change_runs — value-change run-length compression (round 8)
# --------------------------------------------------------------------------


@register(
    "win_change_runs",
    tags=("b6",),
    oracle="""
        -- run-length compression of each customer's order-status
        -- stream: consecutive SAME-status orders collapse into one
        -- run with [first, last] order dates and a run index — the
        -- collapse-on-change primitive behind dimension compression
        -- (scd2_history versions EVERY row; real warehouses store
        -- only the CHANGES) and step-function storage. Change flag
        -- via LAG, run id via a running sum of flags — the
        -- gaps-and-islands family's value-change member.
        WITH s AS (
            SELECT o_custkey, o_orderkey, o_orderstatus,
                   strftime(o_orderdate, '%Y-%m-%d') AS d,
                   CASE WHEN LAG(o_orderstatus) OVER w
                             IS DISTINCT FROM o_orderstatus
                        THEN 1 ELSE 0 END AS chg
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        ),
        runs AS (
            SELECT *, SUM(chg) OVER (
                       PARTITION BY o_custkey
                       ORDER BY d, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run_id
            FROM s
        )
        SELECT o_custkey, CAST(run_id AS BIGINT) AS run_id,
               o_orderstatus,
               MIN(d) AS run_start,
               MAX(d) AS run_end,
               CAST(COUNT(*) AS BIGINT) AS run_len
        FROM runs
        GROUP BY o_custkey, run_id, o_orderstatus
    """,
)
def win_change_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length compression of each customer's order-status stream:
    consecutive orders with the SAME status collapse into one run
    carrying its status, [first, last] order dates, and length — the
    collapse-on-change primitive behind dimension compression
    (`scd2_history` versions EVERY row; a real warehouse stores only
    the CHANGES, which is exactly this rollup applied to its output)
    and behind step-function storage of any slowly-changing value.
    The idiom is the value-change member of the gaps-and-islands
    family: a LAG-based change flag, then a RUNNING SUM of flags as
    the run id — no self-join, no recursion.

    Determinism: ties on the change date break on o_orderkey (the
    scd2_history convention); IS DISTINCT FROM makes the first row
    of each customer a change on both engines identically.

    Plan/scale: the change flag, the run-id running sum, and the
    run rollup all share ONE (custkey)-keyed sort — a single
    shuffle, per-customer state O(1)."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    s = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        (
            ~F.lag("o_orderstatus")
            .over(w)
            .eqNullSafe(F.col("o_orderstatus"))
        )
        .cast("int")
        .alias("chg"),
    )
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("d", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    runs = s.select(
        "*", F.sum("chg").over(w_run).alias("run_id")
    )
    return runs.groupBy(
        "o_custkey",
        F.col("run_id").cast("long").alias("run_id"),
        "o_orderstatus",
    ).agg(
        F.min("d").alias("run_start"),
        F.max("d").alias("run_end"),
        F.count(F.lit(1)).cast("long").alias("run_len"),
    )


# --------------------------------------------------------------------------
# win_percent_of_parent — hierarchical share columns (round 8)
# --------------------------------------------------------------------------


@register(
    "win_percent_of_parent",
    tags=("b6",),
    oracle="""
        -- Percent-of-parent at every level of the region > nation >
        -- customer hierarchy in ONE result: each customer's share of
        -- its nation, the nation's share of its region, the region's
        -- share of the whole -- the drill-down ratio column every
        -- OLAP front-end pins next to a measure. Exact floor bp over
        -- integer cents.
        WITH c AS (
            SELECT n_name AS nation, r_name AS region, o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                       AS cents
            FROM orders
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
            GROUP BY n_name, r_name, o_custkey
        ),
        n AS (
            SELECT nation, region, SUM(cents) AS ncents
            FROM c GROUP BY nation, region
        ),
        r AS (SELECT region, SUM(ncents) AS rcents FROM n GROUP BY region),
        t AS (SELECT SUM(rcents) AS tcents FROM r)
        SELECT c.o_custkey, c.nation, c.region,
               CAST(c.cents AS BIGINT) AS cents,
               CAST(CAST(c.cents AS HUGEINT) * 10000 // n.ncents AS BIGINT)
                   AS share_of_nation_bp,
               CAST(CAST(n.ncents AS HUGEINT) * 10000 // r.rcents AS BIGINT)
                   AS nation_share_of_region_bp,
               CAST(CAST(r.rcents AS HUGEINT) * 10000 // t.tcents AS BIGINT)
                   AS region_share_of_total_bp
        FROM c
        JOIN n ON n.nation = c.nation AND n.region = c.region
        JOIN r ON r.region = c.region
        CROSS JOIN t
    """,
)
def win_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at every level of the region > nation >
    customer hierarchy in ONE result — the drill-down ratio column
    every OLAP front-end pins beside a measure ("this customer is 3%
    of its nation, which is 22% of its region, which is 31% of the
    company"). Exact floor basis points over integer cents.

    Plan/scale — LEVEL ROLLUPS + BROADCAST JOINS, not parent windows:
    the naive `SUM() OVER (PARTITION BY nation)` / `OVER ()` form
    funnels ALL customer rows through per-parent window tasks (and
    the grand-total window through ONE task — the anti-pattern at 1e9
    customers). Instead each parent level is its own tiny map-side
    rollup (25 nations, 5 regions, 1 total) broadcast back onto the
    child grain: the fact flows through exactly one shuffle (the
    customer rollup), everything else is dimension-sized."""
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    dims = F.broadcast(
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, F.col("n_regionkey") == reg.r_regionkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
    c = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
        .join(dims, F.col("o_custkey") == dims.c_custkey)
        .select("o_custkey", "nation", "region", "cents")
    )
    n = c.groupBy("nation", "region").agg(F.sum("cents").alias("ncents"))
    r = n.groupBy("region").agg(F.sum("ncents").alias("rcents"))
    t = r.agg(F.sum("rcents").alias("tcents"))
    return (
        c.join(F.broadcast(n), ["nation", "region"])
        .join(F.broadcast(r), "region")
        .join(F.broadcast(t))
        .select(
            "o_custkey",
            "nation",
            "region",
            F.col("cents").cast("long").alias("cents"),
            F.expr(
                "CAST(CAST(cents AS decimal(38,0)) * 10000"
                " div ncents AS BIGINT)"
            ).alias("share_of_nation_bp"),
            F.expr(
                "CAST(CAST(ncents AS decimal(38,0)) * 10000"
                " div rcents AS BIGINT)"
            ).alias("nation_share_of_region_bp"),
            F.expr(
                "CAST(CAST(rcents AS decimal(38,0)) * 10000"
                " div tcents AS BIGINT)"
            ).alias("region_share_of_total_bp"),
        )
    )


# --------------------------------------------------------------------------
# win_topn_ties — row_number / rank / dense_rank top-N divergence (round 8)
# --------------------------------------------------------------------------


@register(
    "win_topn_ties",
    tags=("b6",),
    oracle="""
        -- "Top 3 customers by order count" under the three ranking
        -- functions, side by side -- the tie-semantics pin (the
        -- agg_ratio_pin treatment for ranking): row_number cuts
        -- EXACTLY 3 (ties broken by the pinned custkey order), rank
        -- keeps every tie of the 3rd place (>= 3 rows), dense_rank
        -- keeps the top 3 VALUES (>= rank's rows). Order counts are
        -- small integers, so ties are guaranteed and the three
        -- answers genuinely differ -- the divergence dashboards hit
        -- the first time a cut lands on a tie.
        WITH c AS (
            SELECT r_name AS region, o_custkey,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
            GROUP BY r_name, o_custkey
        ),
        r AS (
            SELECT region, o_custkey, n_orders,
                   ROW_NUMBER() OVER (
                       PARTITION BY region
                       ORDER BY n_orders DESC, o_custkey
                   ) AS rn,
                   RANK() OVER (
                       PARTITION BY region ORDER BY n_orders DESC
                   ) AS rk,
                   DENSE_RANK() OVER (
                       PARTITION BY region ORDER BY n_orders DESC
                   ) AS dr
            FROM c
        ),
        k AS (
            SELECT region, 'row_number' AS method, n_orders
            FROM r WHERE rn <= 3
            UNION ALL
            SELECT region, 'rank', n_orders FROM r WHERE rk <= 3
            UNION ALL
            SELECT region, 'dense_rank', n_orders FROM r WHERE dr <= 3
        )
        SELECT region, method,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(n_orders) AS BIGINT) AS sum_orders,
               CAST(MIN(n_orders) AS BIGINT) AS cut_value
        FROM k GROUP BY region, method
    """,
)
def win_topn_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Top 3 customers by order count" under row_number, rank, and
    dense_rank SIDE BY SIDE — the tie-semantics pin (the
    `agg_ratio_pin` treatment for ranking): row_number cuts exactly 3
    rows (ties broken by the pinned custkey order — arbitrary but
    deterministic), rank keeps every tie of third place, dense_rank
    keeps the top three VALUES. Order counts are small integers, so
    ties are guaranteed and the three answers genuinely differ — the
    divergence every leaderboard hits the first time a cut lands on a
    tie, pinned as a regression surface.

    Plan/scale: one map-side customer rollup + broadcast dims; all
    three ranking functions share ONE region-partitioned sort (Spark
    computes them in a single Window physical node); the `<= 3`
    filters compile to WindowGroupLimit so each partition emits only
    the survivors; final rollup is 15 rows."""
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = table(spark, sf_dir, "region")
    dims = F.broadcast(
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, F.col("n_regionkey") == reg.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("region"))
    )
    c = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(dims, F.col("o_custkey") == dims.c_custkey)
        .select("region", "o_custkey", "n_orders")
    )
    w_tie = W.partitionBy("region").orderBy(
        F.col("n_orders").desc(), "o_custkey"
    )
    w_val = W.partitionBy("region").orderBy(F.col("n_orders").desc())
    r = c.select(
        "region",
        "n_orders",
        F.row_number().over(w_tie).alias("rn"),
        F.rank().over(w_val).alias("rk"),
        F.dense_rank().over(w_val).alias("dr"),
    )
    k = (
        r.filter(F.col("rn") <= 3)
        .select("region", F.lit("row_number").alias("method"), "n_orders")
        .unionAll(
            r.filter(F.col("rk") <= 3).select(
                "region", F.lit("rank").alias("method"), "n_orders"
            )
        )
        .unionAll(
            r.filter(F.col("dr") <= 3).select(
                "region", F.lit("dense_rank").alias("method"), "n_orders"
            )
        )
    )
    return k.groupBy("region", "method").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.min("n_orders").cast("long").alias("cut_value"),
    )


# --------------------------------------------------------------------------
# win_vwap — rolling volume-weighted average price (round 8)
# --------------------------------------------------------------------------


@register(
    "win_vwap",
    tags=("b6",),
    oracle="""
        -- Rolling 7-day VWAP per return flag: the volume-weighted
        -- price benchmark (execution quality in finance, effective
        -- unit price in commerce) -- agg_weighted's ratio-of-sums,
        -- WINDOWED: both legs accumulate over the trailing frame and
        -- divide once per row, so a day's VWAP is exactly
        -- sum(price*qty)/sum(qty) over the last 7 days, never an
        -- average of daily averages (agg_ratio_pin's trap, dodged by
        -- construction). Floor cents output.
        WITH daily AS (
            SELECT l_returnflag,
                   epoch_us(l_shipdate) // 86400000000 AS day,
                   SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       * CAST(ROUND(l_quantity) AS BIGINT)) AS pv,
                   SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS v
            FROM lineitem GROUP BY 1, 2
        ),
        w AS (
            SELECT l_returnflag, day,
                   CAST(SUM(pv) OVER (
                       PARTITION BY l_returnflag ORDER BY day
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
                   ) AS HUGEINT) AS pv7,
                   CAST(SUM(v) OVER (
                       PARTITION BY l_returnflag ORDER BY day
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
                   ) AS HUGEINT) AS v7
            FROM daily
        )
        SELECT l_returnflag, CAST(day AS BIGINT) AS day,
               CAST(pv7 // v7 AS BIGINT) AS vwap_cents,
               CAST(v7 AS BIGINT) AS volume_7d
        FROM w
    """,
)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day volume-weighted average price per return flag —
    the execution-quality benchmark (finance's VWAP; commerce's
    effective unit price): `agg_weighted`'s ratio-of-sums, WINDOWED.
    Both legs (Σprice·qty and Σqty) accumulate over the trailing
    value-based frame and divide ONCE per row — so a day's VWAP is
    exactly the 7-day ratio of sums, never an average of daily
    averages (`agg_ratio_pin`'s trap, dodged by construction; the
    two diverge whenever volume is uneven across the week, i.e.
    always).

    Exactness: integer cents×qty sums; one floor division per output
    row over decimal(38,0).

    Plan/scale: facts collapse map-side to (flag, day) — date
    cardinality — before the window; the RANGE frame is value-based
    on epoch day, so gap days widen the window correctly instead of
    sliding over row positions (`ts_resample` handles the densify
    variant). ONE flag-partitioned sort serves both frame sums."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.sum(
            F.expr(
                "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                " * CAST(ROUND(l_quantity) AS BIGINT)"
            )
        ).alias("pv"),
        F.sum(F.expr("CAST(ROUND(l_quantity) AS BIGINT)")).alias("v"),
    )
    w7 = (
        W.partitionBy("l_returnflag")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    w = daily.select(
        "l_returnflag",
        "day",
        F.sum("pv").over(w7).cast("decimal(38,0)").alias("pv7"),
        F.sum("v").over(w7).cast("decimal(38,0)").alias("v7"),
    )
    return w.select(
        "l_returnflag",
        F.col("day").cast("long").alias("day"),
        F.expr("CAST(pv7 div v7 AS BIGINT)").alias("vwap_cents"),
        F.col("v7").cast("long").alias("volume_7d"),
    )


# --------------------------------------------------------------------------
# win_bollinger — trailing-band breakout flags (round 8)
# --------------------------------------------------------------------------


@register(
    "win_bollinger",
    tags=("b6",),
    oracle="""
        -- Bollinger-band breakouts on daily revenue per return flag:
        -- flag days whose revenue leaves the trailing-7-day 2-sigma
        -- band -- the mean-reversion alarm (finance's band chart;
        -- ops' "today is abnormal vs ITS OWN recent regime", where
        -- the global z-test of events_anomaly compares to all
        -- history). Fully integer: the band test
        --   (n-1) * (n*x - s)^2 > 4 * n * (n*sxx - s^2)
        -- is (x - mu)^2 > 4*sigma^2 cross-multiplied over exact
        -- trailing co-moments (doubled-test family); n >= 3 frames
        -- only (variance needs df).
        WITH daily AS (
            SELECT l_returnflag,
                   epoch_us(l_shipdate) // 86400000000 AS day,
                   SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                       AS x
            FROM lineitem GROUP BY 1, 2
        ),
        w AS (
            SELECT l_returnflag, day, x,
                   CAST(COUNT(*) OVER f AS HUGEINT) AS n,
                   CAST(SUM(x) OVER f AS HUGEINT) AS s,
                   CAST(SUM(x * x) OVER f AS HUGEINT) AS sxx
            FROM daily
            WINDOW f AS (
                PARTITION BY l_returnflag ORDER BY day
                RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING
            )
        ),
        t AS (
            SELECT l_returnflag, day, x, n,
                   CASE WHEN n >= 3 AND
                        (n - 1) * (n * x - s) * (n * x - s)
                        > 4 * n * (n * sxx - s * s)
                        THEN CASE WHEN n * x > s THEN 1 ELSE -1 END
                        ELSE 0 END AS breakout
            FROM w
        )
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN breakout = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_breakout_up,
               CAST(SUM(CASE WHEN breakout = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_breakout_down,
               CAST(MIN(CASE WHEN breakout <> 0 THEN day END)
                    AS BIGINT) AS first_breakout_day
        FROM t GROUP BY l_returnflag
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout detection on daily revenue per return
    flag: flag days whose revenue leaves the trailing-7-day ±2σ band
    — the mean-reversion alarm ("today is abnormal vs its OWN recent
    regime"), completing the detector family along a different axis
    than `events_anomaly` (global z), `ts_mad_anomaly` (robust
    global), `win_cusum_chart` (cumulative drift), `agg_tukey_fences`
    (distribution tails): Bollinger is LOCAL — the band travels with
    the series.

    Exactness: the band test (x−μ)² > 4σ² is fully cross-multiplied
    over exact trailing integer co-moments —
    (n−1)·(n·x−s)² > 4·n·(n·sxx−s²) — the doubled-test family; the
    trailing frame EXCLUDES the current day (1 PRECEDING) so a spike
    can't widen its own band; frames with n < 3 don't flag (variance
    needs degrees of freedom).

    Plan/scale: facts collapse map-side to (flag, day); ONE
    flag-partitioned sort serves all three frame sums (one Window
    node); value-based RANGE frame (gap days age out by calendar,
    not row position)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).alias(
            "x"
        )
    )
    f = (
        W.partitionBy("l_returnflag")
        .orderBy("day")
        .rangeBetween(-7, -1)
    )
    dec = "decimal(38,0)"
    w = daily.select(
        "l_returnflag",
        "day",
        "x",
        F.count(F.lit(1)).over(f).cast(dec).alias("n"),
        F.sum("x").over(f).cast(dec).alias("s"),
        F.sum(F.expr("CAST(x AS decimal(38,0)) * x")).over(f).alias("sxx"),
    )
    t = w.select(
        "l_returnflag",
        "day",
        F.expr(
            "CASE WHEN n >= 3 AND"
            " (n - 1) * (n * x - s) * (n * x - s)"
            " > 4 * n * (n * sxx - s * s)"
            " THEN CASE WHEN n * x > s THEN 1 ELSE -1 END"
            " ELSE 0 END"
        ).alias("breakout"),
    )
    return t.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum((F.col("breakout") == 1).cast("long"))
        .cast("long")
        .alias("n_breakout_up"),
        F.sum((F.col("breakout") == -1).cast("long"))
        .cast("long")
        .alias("n_breakout_down"),
        F.min(F.expr("CASE WHEN breakout <> 0 THEN day END"))
        .cast("long")
        .alias("first_breakout_day"),
    )


# --------------------------------------------------------------------------
# win_gap_to_leader — per-group distance to the benchmark row (round 8)
# --------------------------------------------------------------------------


@register(
    "win_gap_to_leader",
    tags=("b6",),
    oracle="""
        -- Gap to the leader: every customer's revenue distance to its
        -- region's #1, in cents and as share-of-leader bp -- the
        -- competitive-benchmark column (sales league tables, seller
        -- scorecards: "you are at 62% of the category leader"). The
        -- leader is a per-region ROLLUP broadcast back, not a window
        -- max over all customer rows.
        WITH c AS (
            SELECT r_name AS region, o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                       AS cents
            FROM orders
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
            GROUP BY r_name, o_custkey
        ),
        ld AS (
            SELECT region, MAX(cents) AS leader_cents
            FROM c GROUP BY region
        )
        SELECT c.o_custkey, c.region,
               CAST(c.cents AS BIGINT) AS cents,
               CAST(ld.leader_cents - c.cents AS BIGINT) AS gap_cents,
               CAST(CAST(c.cents AS HUGEINT) * 10000 // ld.leader_cents
                    AS BIGINT) AS share_of_leader_bp
        FROM c JOIN ld ON ld.region = c.region
    """,
)
def win_gap_to_leader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap to the leader: every customer's revenue distance to its
    region's #1, in cents and as share-of-leader bp — the
    competitive-benchmark column behind sales league tables and
    seller scorecards ("you are at 62% of the category leader").
    `win_percent_of_parent` benchmarks against the TOTAL; this
    benchmarks against the BEST — the two normalizations dashboards
    pair.

    Plan/scale — the percent_of_parent rule again: the leader is a
    per-region ROLLUP (5 rows) broadcast back onto the customer
    grain, never `MAX() OVER (PARTITION BY region)` (which funnels
    every region's customers through one window task at 1e9 rows).
    Exact integer cents; floor-bp share."""
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = table(spark, sf_dir, "region")
    dims = F.broadcast(
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, F.col("n_regionkey") == reg.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("region"))
    )
    c = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
        .join(dims, F.col("o_custkey") == dims.c_custkey)
        .select("o_custkey", "region", "cents")
    )
    ld = c.groupBy("region").agg(F.max("cents").alias("leader_cents"))
    return c.join(F.broadcast(ld), "region").select(
        "o_custkey",
        "region",
        F.col("cents").cast("long").alias("cents"),
        (F.col("leader_cents") - F.col("cents"))
        .cast("long")
        .alias("gap_cents"),
        F.expr(
            "CAST(CAST(cents AS decimal(38,0)) * 10000"
            " div leader_cents AS BIGINT)"
        ).alias("share_of_leader_bp"),
    )


# --------------------------------------------------------------------------
# win_drawdown_duration — longest underwater spell (round 8)
# --------------------------------------------------------------------------


@register(
    "win_drawdown_duration",
    tags=("b6",),
    oracle="""
        -- Longest UNDERWATER spell per return flag: consecutive days
        -- with daily revenue below its own RECORD HIGH --
        -- ts_drawdown reads the DEPTH of the worst drawdown; this
        -- reads its DURATION (time-to-recover), the number risk desks
        -- and capacity planners actually staff against (a shallow
        -- 60-day slump and a deep 3-day dip need different
        -- responses). Islands of below-peak days via the
        -- day - row_number trick over the filtered set.
        WITH daily AS (
            SELECT l_returnflag AS flag,
                   epoch_us(l_shipdate) // 86400000000 AS day,
                   SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                       AS x
            FROM lineitem GROUP BY 1, 2
        ),
        u AS (
            SELECT flag, day,
                   CASE WHEN x < MAX(x) OVER (
                       PARTITION BY flag ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) THEN 1 ELSE 0 END AS under
            FROM daily
        ),
        isl AS (
            SELECT flag, day,
                   day - ROW_NUMBER() OVER (
                       PARTITION BY flag ORDER BY day
                   ) AS grp
            FROM u WHERE under = 1
        ),
        sp AS (
            SELECT flag, grp, COUNT(*) AS spell_days,
                   MIN(day) AS spell_start
            FROM isl GROUP BY flag, grp
        )
        SELECT flag AS l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_spells,
               CAST(MAX(spell_days) AS BIGINT) AS longest_spell_days,
               CAST(MIN(spell_start) AS BIGINT) AS first_underwater_day
        FROM sp GROUP BY flag
    """,
)
def win_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest UNDERWATER spell per return flag — consecutive days
    whose daily revenue sits below its own record high:
    `ts_drawdown` reads the DEPTH of the worst drawdown; this reads
    its DURATION (time-to-recover), the number risk desks and
    capacity planners actually staff against — a shallow 60-day slump
    and a deep 3-day dip demand different responses, and only the
    pair (depth, duration) distinguishes them.

    Mechanics: under(t) = x(t) < running-max(x) over STRICTLY PRIOR
    days (the first day is never underwater — no record exists yet;
    note a CUMULATIVE positive-flow series is monotone and never dips,
    which is why the level series is the right curve here); spells are
    islands of under-days via the day − row_number trick over the
    filtered set (`events_incidents`' island construction, pointed at
    the revenue curve).

    Exactness: integer cents and epoch days throughout.

    Plan/scale: facts collapse map-side to (flag, day); ONE
    flag-partitioned sort serves the running max and the island
    row_number — date-cardinality windows, never raw rows."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).alias(
            "x"
        )
    )
    w_cum = W.partitionBy("flag").orderBy("day")
    u = daily.select(
        "flag",
        "day",
        F.when(
            F.col("x")
            < F.max("x").over(
                w_cum.rowsBetween(W.unboundedPreceding, -1)
            ),
            1,
        )
        .otherwise(0)
        .alias("under"),
    )
    isl = u.filter(F.col("under") == 1).select(
        "flag",
        "day",
        (F.col("day") - F.row_number().over(w_cum)).alias("grp"),
    )
    sp = isl.groupBy("flag", "grp").agg(
        F.count(F.lit(1)).alias("spell_days"),
        F.min("day").alias("spell_start"),
    )
    return sp.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.count(F.lit(1)).cast("long").alias("n_spells"),
        F.max("spell_days").cast("long").alias("longest_spell_days"),
        F.min("spell_start").cast("long").alias("first_underwater_day"),
    )


# --------------------------------------------------------------------------
# win_rolling_corr — rolling Pearson correlation, exact ints (round 11)
# --------------------------------------------------------------------------

_RC_N = 20  # trailing window width (rows)
_RC_EMIT = 20  # emit every k-th row (keeps output bounded, full compute)


@register(
    "win_rolling_corr",
    tags=("b5",),
    oracle=f"""
        -- Rolling Pearson correlation between quantity and line price
        -- over a trailing {_RC_N}-row frame per supplier, in the
        -- repo's exact-integer policy: the five co-moment sums are
        -- integer window sums, num = n·Sxy − Sx·Sy and the two
        -- deviation terms are exact HUGEINT algebra, and the only
        -- float op is ONE IEEE sqrt of dxx·dyy (cast HUGEINT→DOUBLE is
        -- correctly rounded on both engines, sqrt is IEEE-exact,
        -- FLOOR pins the grid). corr·1e6 is then an exact integer
        -- floor division with the sign handled outside (agg_ols_multi
        -- policy). Rows with an incomplete frame or a degenerate
        -- (constant-x or constant-y) frame emit NULL.
        WITH r AS (
            SELECT l_suppkey,
                   ROW_NUMBER() OVER w AS rn,
                   COUNT(*) OVER f AS cnt,
                   SUM(x) OVER f AS sx,
                   SUM(y) OVER f AS sy,
                   SUM(x * x) OVER f AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) OVER f AS syy,
                   SUM(x * y) OVER f AS sxy
            FROM (
                SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                       CAST(ROUND(l_quantity) AS BIGINT) AS x,
                       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
            )
            WINDOW
              w AS (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber),
              f AS (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber
                    ROWS BETWEEN {_RC_N - 1} PRECEDING AND CURRENT ROW)
        ),
        m AS (
            SELECT l_suppkey, rn,
                   CAST({_RC_N} AS HUGEINT) * sxy
                       - CAST(sx AS HUGEINT) * sy AS num,
                   CAST({_RC_N} AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx AS dxx,
                   CAST({_RC_N} AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS dyy
            FROM r WHERE cnt = {_RC_N} AND rn % {_RC_EMIT} = 0
        )
        SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
               CAST(rn AS BIGINT) AS rn,
               CAST(CASE
                   WHEN dxx = 0 OR dyy = 0 THEN NULL
                   ELSE CASE WHEN num >= 0 THEN
                           (1000000 * num)
                           // CAST(FLOOR(SQRT(CAST(dxx * dyy AS DOUBLE)))
                                   AS HUGEINT)
                        ELSE
                           -((1000000 * (-num))
                           // CAST(FLOOR(SQRT(CAST(dxx * dyy AS DOUBLE)))
                                   AS HUGEINT))
                        END
               END AS BIGINT) AS corr_e6
        FROM m
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation (quantity vs line price, trailing
    {n}-row frame per supplier) — the co-movement monitor quant/DQ
    pipelines run over ordered streams. Exactness: five integer
    co-moment window sums over ONE frame, exact decimal(38,0) algebra
    for num/dxx/dyy, ONE IEEE correctly-rounded sqrt of dxx·dyy
    (decimal→double cast is correctly rounded on both engines), and
    corr·10⁶ as an exact sign-split integer floor division —
    `agg_regression`'s policy lifted to a sliding frame. Incomplete
    or zero-variance frames emit NULL; output is every {k}-th row
    (the full rolling computation still runs everywhere — emission is
    bounded, work is not skipped).

    Plan/scale: ONE window spec (partitioned by supplier, ordered by
    ship date with full unique tiebreak) carries all five sums plus
    the row counter — a single sort+window pass per partition, no
    self-joins, no per-row recomputation of the frame. Shuffles once
    on supplier; AQE handles supplier skew."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("x"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
            "y"
        ),
    )
    dec = "decimal(38,0)"
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    wo = W.partitionBy("l_suppkey").orderBy(*order)
    wf = wo.rowsBetween(-(_RC_N - 1), 0)
    r = li.select(
        "l_suppkey",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wf).alias("cnt"),
        F.sum("x").over(wf).alias("sx"),
        F.sum("y").over(wf).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wf).alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).over(wf).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(wf).alias("sxy"),
    ).filter((F.col("cnt") == _RC_N) & (F.col("rn") % _RC_EMIT == 0))
    m = r.select(
        "l_suppkey",
        "rn",
        F.expr(
            f"CAST({_RC_N} AS {dec}) * sxy - CAST(sx AS {dec}) * sy"
        ).alias("num"),
        F.expr(
            f"CAST({_RC_N} AS {dec}) * sxx - CAST(sx AS {dec}) * sx"
        ).alias("dxx"),
        F.expr(
            f"CAST({_RC_N} AS {dec}) * syy - CAST(sy AS {dec}) * sy"
        ).alias("dyy"),
    )
    isq = f"CAST(FLOOR(SQRT(CAST(dxx * dyy AS DOUBLE))) AS {dec})"
    return m.select(
        F.col("l_suppkey").cast("long").alias("l_suppkey"),
        F.col("rn").cast("long").alias("rn"),
        F.expr(
            f"CAST(CASE WHEN dxx = 0 OR dyy = 0 THEN NULL"
            f" WHEN num >= 0 THEN (1000000 * num) div {isq}"
            f" ELSE -((1000000 * (-num)) div {isq})"
            f" END AS BIGINT)"
        ).alias("corr_e6"),
    )


# --------------------------------------------------------------------------
# win_rsi — Cutler's RSI over a trailing delta frame (round 11)
# --------------------------------------------------------------------------

_RSI_N = 14  # deltas per frame (the classic 14)
_RSI_EMIT = 50  # emit every k-th row (bounded output, full compute)


@register(
    "win_rsi",
    tags=("b5",),
    oracle=f"""
        -- Cutler's RSI (the SMA variant of the Relative Strength
        -- Index — simple trailing means, NOT Wilder's recursive
        -- smoothing, so it is window-expressible and backfill-stable):
        -- RSI = 100 * sumGain / (sumGain + sumLoss) over the trailing
        -- {_RSI_N} deltas of the value series per event_type. Exact
        -- integer cents end-to-end; rsi_bp = floor(1e4 * sg/(sg+sl));
        -- flat frames (sg+sl = 0) emit NULL.
        WITH v AS (
            SELECT event_type, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        d AS (
            SELECT event_type,
                   ROW_NUMBER() OVER w AS rn,
                   cents - LAG(cents) OVER w AS delta
            FROM v
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY ts, event_id)
        ),
        f AS (
            SELECT event_type, rn,
                   COUNT(delta) OVER fr AS n_delta,
                   SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END)
                       OVER fr AS sg,
                   SUM(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
                       OVER fr AS sl
            FROM d
            WINDOW fr AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN {_RSI_N - 1} PRECEDING
                          AND CURRENT ROW)
        )
        SELECT event_type,
               CAST(rn AS BIGINT) AS rn,
               CAST(CASE WHEN sg + sl = 0 THEN NULL
                    ELSE (10000 * sg) // (sg + sl) END AS BIGINT)
                   AS rsi_bp
        FROM f
        WHERE n_delta = {_RSI_N} AND rn % {_RSI_EMIT} = 0
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI — the SMA variant of the Relative Strength Index
    (simple trailing gain/loss means rather than Wilder's recursive
    EMA, which makes it window-expressible, backfill-stable, and
    exactly computable: the classic overbought/oversold oscillator as
    a pure frame aggregate). Per event_type, deltas of the cents
    value series (ordered by ts with event_id tiebreak); RSI over the
    trailing {n} deltas as the exact integer floor 10⁴·Σgains /
    (Σgains + Σlosses); flat frames NULL; rows with an incomplete
    delta frame are suppressed. Output every {k}-th row — emission is
    bounded, the rolling computation is not skipped anywhere.

    Plan/scale: ONE ordering serves both window passes (lag, then the
    trailing frame sums on the same partitioning — Catalyst stacks
    them in a single sort+window stage, no second exchange); shuffles
    once on event_type; AQE skew-splits hot types. Exact integers
    only — no float path at all."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        (F.col("cents") - F.lag("cents").over(w)).alias("delta"),
    )
    fr = W.partitionBy("event_type").orderBy("rn").rowsBetween(
        -(_RSI_N - 1), 0
    )
    f = d.select(
        "event_type",
        "rn",
        F.count("delta").over(fr).alias("n_delta"),
        F.sum(
            F.when(F.col("delta") > 0, F.col("delta")).otherwise(0)
        )
        .over(fr)
        .alias("sg"),
        F.sum(
            F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0)
        )
        .over(fr)
        .alias("sl"),
    ).filter(
        (F.col("n_delta") == _RSI_N) & (F.col("rn") % _RSI_EMIT == 0)
    )
    return f.select(
        "event_type",
        F.col("rn").cast("long").alias("rn"),
        F.expr(
            "CAST(CASE WHEN sg + sl = 0 THEN NULL"
            " ELSE (10000 * sg) div (sg + sl) END AS BIGINT)"
        ).alias("rsi_bp"),
    )


# --------------------------------------------------------------------------
# win_time_weighted_avg — TWAP over irregular samples (round 14)
# --------------------------------------------------------------------------


@register(
    "win_time_weighted_avg",
    tags=("b5",),
    oracle="""
        -- Time-weighted average over IRREGULARLY spaced samples, the
        -- left-point (LOCF) rule: each observation holds until the
        -- next one, so its weight is the microseconds to the next
        -- event; the final observation carries no weight (nothing is
        -- extrapolated past the last sample). twa = sum(v_i * dt_i) /
        -- sum(dt_i) — TimescaleDB's time_weight('LOCF') semantics.
        -- Exact arithmetic: dt is integer micros, v casts to
        -- DECIMAL(20,6) before the weighted sum, and the single
        -- division rounds last.
        WITH d AS (
            SELECT event_type, value,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                   LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
                       PARTITION BY event_type
                       ORDER BY epoch_us(ts), event_id
                   ) AS nxt_us
            FROM events
        ),
        g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us,
                   CAST(SUM(CAST(value AS DECIMAL(20,6))
                            * COALESCE(nxt_us - ts_us, 0))
                        AS DECIMAL(38,6)) AS wsum,
                   CAST(SUM(COALESCE(nxt_us - ts_us, 0)) AS BIGINT)
                       AS wtot,
                   CAST(ROUND(AVG(value), 6) AS DECIMAL(18,6))
                       AS plain_avg
            FROM d GROUP BY event_type
        )
        SELECT event_type, n_events, span_us, plain_avg,
               CASE WHEN wtot = 0 THEN NULL
                    ELSE CAST(ROUND(wsum / wtot, 6) AS DECIMAL(18,6))
               END AS twa
        FROM g
    """,
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of `value` per event type over
    IRREGULAR sample spacing — the metric a plain AVG gets wrong the
    moment sampling is bursty (a sensor that reports every second
    while idle and every hour under load drowns the busy regime):
    left-point/LOCF weighting, each sample weighted by the
    microseconds until the NEXT sample, last sample unweighted
    (TimescaleDB `time_weight('LOCF')` is the public reference
    semantics; `plain_avg` ships beside `twa` so the divergence is
    visible in the result).

    Determinism: the LEAD ordering ties on event_id after ts; weights
    are exact integer micros; the weighted sum follows the decimal-sum
    policy (compat.py) and the one division rounds last — both
    engines replay identical decimals.

    Plan/scale: ONE window shuffle (partition event_type, order ts) to
    stamp each row's holding interval, then a map-side-combined keyed
    agg; no second shuffle (the agg reuses the window's partitioning).
    At 100 TB the window state per group is one row of look-ahead —
    streaming-friendly (`stream_*` ops use the same LOCF shape via
    lag) — and nothing is collected or broadcast.

    Ref parity: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-5."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    d = ev.withColumn("nxt_us", F.lead("ts_us").over(w)).withColumn(
        "dt", F.coalesce(F.col("nxt_us") - F.col("ts_us"), F.lit(0))
    )
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).cast("long").alias("span_us"),
        F.sum(F.col("value").cast("decimal(20,6)") * F.col("dt"))
        .cast("decimal(38,6)")
        .alias("wsum"),
        F.sum("dt").cast("long").alias("wtot"),
        F.round(F.avg("value"), 6).cast("decimal(18,6)").alias("plain_avg"),
    )
    return g.select(
        "event_type",
        "n_events",
        "span_us",
        "plain_avg",
        F.when(
            F.col("wtot") == 0, F.lit(None).cast("decimal(18,6)")
        )
        .otherwise(
            F.round(F.col("wsum") / F.col("wtot"), 6).cast("decimal(18,6)")
        )
        .alias("twa"),
    )
