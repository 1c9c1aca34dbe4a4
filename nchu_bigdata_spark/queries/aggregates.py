"""B-4 Aggregations (SURVEY.md §2.B-4).

Generalizes the reference's group-by-key + per-group vector mean
(``hadoop_tutorial/src/Kmeans.java:79,101-112`` — Hadoop shuffle with NO
combiner, whole group buffered in reducer RAM). Spark's hash aggregate
does partial (map-side) + final aggregation automatically, so none of
these queries move raw rows across the shuffle — only partial states.
At 100 TB that's the difference between shuffling terabytes and
megabytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import davg, dsum
from nchu_bigdata_spark.io import parallel_table, table
from nchu_bigdata_spark.materialize import range_pid_frozen, shared_intermediate
from nchu_bigdata_spark.registry import register, register_sql


@register(
    "agg_hash",
    tags=("b4", "flagship"),
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_qty,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_base_price,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_disc_price,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_charge,
            CAST(ROUND(AVG(l_quantity), 4) AS DECIMAL(18,4)) AS avg_qty,
            CAST(ROUND(AVG(l_extendedprice), 4) AS DECIMAL(18,4)) AS avg_price,
            CAST(ROUND(AVG(l_discount), 4) AS DECIMAL(18,4)) AS avg_disc,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship query.

    Scan → filter (pushed to parquet) → hash agg (partial+final) on two
    low-cardinality keys. Generalizes ref A9/A10
    (``src/Kmeans.java:79,101-112``).

    Parallelism-guarded scan: the 7 decimal partial aggregates are the
    dominant CPU and they run *before* the (tiny, 6-group) final-agg
    shuffle, so they're bound by scan splits (A/B at sf0.1: 1.5→0.9s).
    Catalyst still pushes the shipdate filter below the round-robin
    exchange into the parquet scan — verified in the plan audit.
    """
    li = parallel_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    tags=("b4",),
    oracle="""
        SELECT
            l_returnflag,
            COUNT(DISTINCT l_orderkey) AS n_orders,
            COUNT(DISTINCT l_suppkey) AS n_suppliers,
            ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(l_linestatus))), ',') AS statuses
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + collect_set (sorted, then serialized to a
    ``,``-joined string — raw array output crashes the driver's pandas
    canonicalizer, see compat.py)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
    )


@register(
    "agg_approx",
    tags=("b4",),
    oracle="""
        -- Bounded-verdict form (VERDICT r6 item 2): the sketches
        -- themselves aren't SQL-replayable, so the query's OUTPUT is
        -- (a) the exact distinct count — hash-checkable — and (b) one
        -- boolean per sketch asserting its DOCUMENTED error bound vs
        -- the exact value, computed Spark-side where both the sketch
        -- and the exact aggregate are visible. The oracle replays the
        -- exact side and expects every verdict TRUE: any bound
        -- violation flips a boolean and fails the hash.
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact,
               TRUE AS cd_within_5rsd,
               TRUE AS p25_within_rank_tol,
               TRUE AS p50_within_rank_tol,
               TRUE AS p75_within_rank_tol
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — sketch-based, scale path for 100 TB
    cardinality/quantile estimation — certified by DETERMINISTIC
    bounded verdicts so the driver's exact-hash oracle applies:

    * ``approx_count_distinct(rsd=0.02)`` (HLL++) must sit within
      ±5·rsd of the exact distinct count (±5 standard deviations —
      sketch noise is orders of magnitude inside this, so the boolean
      is stable across partition/merge orders);
    * ``percentile_approx(q, accuracy=10000)`` guarantees a rank error
      ≤ n/accuracy; the verdict grants the far-looser rank window
      [q−0.05, q+0.05] via exact order-statistic bounds, again making
      the boolean immune to sketch nondeterminism.

    The exact companions (count distinct + exact percentile bounds)
    ride the same hash-agg pass, so this is one grouped aggregation —
    the sketch columns cost partial-state bytes, not extra passes."""
    li = table(spark, sf_dir, "lineitem")
    # Single array-percentile aggregates: one value buffer per group for
    # the exact bounds (vs six separate typed aggs), one sketch for the
    # three approx points.
    bounds = F.array(*[F.lit(v) for v in (0.20, 0.30, 0.45, 0.55, 0.70, 0.80)])
    approx = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders_exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("acd"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000
        ).alias("pa"),
        F.percentile("l_extendedprice", bounds).alias("pe"),
    )
    within = (
        F.abs(F.col("acd") - F.col("n_orders_exact"))
        <= 5 * 0.02 * F.col("n_orders_exact") + 1
    )

    def rank_ok(i: int):  # approx point i within exact bounds (2i, 2i+1)
        return F.element_at("pa", i + 1).between(
            F.element_at("pe", 2 * i + 1), F.element_at("pe", 2 * i + 2)
        )

    return approx.select(
        "l_returnflag",
        "n_orders_exact",
        within.alias("cd_within_5rsd"),
        rank_ok(0).alias("p25_within_rank_tol"),
        rank_ok(1).alias("p50_within_rank_tol"),
        rank_ok(2).alias("p75_within_rank_tol"),
    )


register_sql(
    "agg_grouping_sets",
    tags=("b4",),
    oracle="""
        SELECT
            o_orderstatus,
            o_orderpriority,
            COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS total,
            CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
            CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)


@register(
    "agg_pivot",
    tags=("b4",),
    oracle="""
        SELECT
            l_returnflag,
            CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS F,
            CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS O
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide (ref §1: the PM2.5 24-hour wide layout is a pivot
    of the tidy form). Pivot values are enumerated explicitly — at scale,
    letting Spark infer them costs an extra full pass."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
    )


@register(
    "agg_vector_mean",
    tags=("b4", "b10"),
    oracle="""
        WITH ex AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        )
        SELECT label,
               CAST(pos AS INT) AS pos,
               CAST(ROUND(AVG(v), 4) AS DECIMAL(18,4)) AS mv
        FROM ex GROUP BY label, pos
    """,
)
def agg_vector_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean of an array column per group (ref A10: per-cluster
    centroid mean, ``src/Kmeans.java:101-112``).

    posexplode → (label, pos) hash agg, emitted in tidy form — one row
    per (group, dimension), 1-based ``pos`` matching SQL subscripts.
    Fully shuffle-parallel: no single reducer ever sees a whole group's
    raw vectors, unlike the reference's reducer which buffers the entire
    cluster in RAM (``src/Kmeans.java:93-97``). The tidy output (rather
    than reassembled arrays) is deliberate: array columns crash the
    driver's pandas canonicalizer; `operators/kmeans.py` shows the
    array-native composition where vectors stay internal.
    """
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    return exploded.groupBy("label", (F.col("pos") + 1).cast("int").alias("pos")).agg(
        davg("v").alias("mv")
    )


@register(
    "rollup_hypertable",
    tags=("b4",),
    oracle="""
        -- TZ-free epoch arithmetic throughout (like the streaming
        -- oracles): time_bucket/date_trunc on TIMESTAMPTZ truncate in
        -- DuckDB's SESSION TimeZone, so on a non-UTC driver host the
        -- '1h'/'1d' buckets would shift against Spark's UTC-pinned
        -- date_trunc. Integer flooring of epoch_us is engine- and
        -- TZ-invariant (events are post-1970, so // floors exactly).
        WITH fine AS (
            SELECT event_type,
                   (epoch_us(ts) // 900000000) * 900000000 AS bu,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(value AS DECIMAL(20,6))) AS sv
            FROM events GROUP BY 1, 2
        ),
        hr AS (
            SELECT event_type, (bu // 3600000000) * 3600000000 AS bu,
                   SUM(n) AS n, SUM(sv) AS sv
            FROM fine GROUP BY 1, 2
        ),
        dy AS (
            SELECT event_type, (bu // 86400000000) * 86400000000 AS bu,
                   SUM(n) AS n, SUM(sv) AS sv
            FROM hr GROUP BY 1, 2
        )
        SELECT '15m' AS granularity, event_type, bu AS bucket_us,
               CAST(n AS BIGINT) AS n_events,
               CAST(sv AS DECIMAL(38,6)) AS sum_value
        FROM fine
        UNION ALL
        SELECT '1h', event_type, bu, CAST(n AS BIGINT),
               CAST(sv AS DECIMAL(38,6))
        FROM hr
        UNION ALL
        SELECT '1d', event_type, bu, CAST(n AS BIGINT),
               CAST(sv AS DECIMAL(38,6))
        FROM dy
    """,
)
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass over raw
    events builds the finest (15-minute) buckets; hourly and daily
    levels RE-AGGREGATE the next-finer level's partial states (exact
    decimal sums are associative, so re-agg == direct agg).

    This is the 100 TB time-series pattern: raw data is scanned exactly
    once (the fine level is materialized via a tagged eager
    ``localCheckpoint``, ``materialize.py`` — the stand-in for a
    persisted continuous aggregate); each coarser level
    aggregates ~bucket-count rows, not the corpus. Bucket alignment is
    engine-neutral because 15 minutes divides the hour."""
    ev = table(spark, sf_dir, "events")
    fine = (
        ev.groupBy("event_type", F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sv"),
        )
        .select("event_type", F.col("w.start").alias("b"), "n", "sv")
    )
    fine = shared_intermediate("rollup_hypertable.fine", fine)
    hr = (
        fine.groupBy("event_type", F.date_trunc("hour", "b").alias("b"))
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )
    dy = (
        hr.groupBy("event_type", F.date_trunc("day", "b").alias("b"))
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )

    def level(df: DataFrame, g: str) -> DataFrame:
        return df.select(
            F.lit(g).alias("granularity"),
            "event_type",
            F.unix_micros("b").alias("bucket_us"),
            F.col("n").cast("long").alias("n_events"),
            F.col("sv").cast("decimal(38,6)").alias("sum_value"),
        )

    return level(fine, "15m").unionAll(level(hr, "1h")).unionAll(
        level(dy, "1d")
    )


# --------------------------------------------------------------------------
# agg_sketch_merge — mergeable HLL sketches (shard partials → union)
# --------------------------------------------------------------------------


@register(
    "agg_sketch_merge",
    tags=("b4",),
    oracle="""
        -- Bounded-verdict form (the agg_approx pattern, round 8): the
        -- binary sketches aren't SQL-replayable and the two estimate
        -- paths aren't even bit-identical to EACH OTHER, so the
        -- certified output is the exact distinct count + shard count
        -- (both hash-checkable) plus one boolean per documented bound,
        -- computed Spark-side where sketch and exact are both visible.
        -- The oracle replays the exact side and expects every verdict
        -- TRUE — a bound violation flips a boolean and fails the hash.
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT date_trunc('month', l_shipdate))
                    AS BIGINT) AS n_shards,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
               TRUE AS merged_within_5rsd,
               TRUE AS direct_within_5rsd,
               TRUE AS merged_direct_agree
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketches — THE 100 TB counting pattern:
    each shard/day builds a tiny HLL sketch of its keys once
    (``hll_sketch_agg``), and any later rollup unions the binary
    sketches (``hll_union_agg``) without touching raw data again.
    Demonstrated per l_returnflag with ship-month shards, estimating
    the same cardinality twice: once directly, once through the
    shard-union path. DataSketches HLL is NOT bit-identical across the
    two paths (sparse-mode coupons promote to dense registers at
    different points, and unions widen HLL_4 targets to HLL_8), so the
    honest invariant is bounded, not exact: merged and direct agree
    within a few sketch standard deviations of each other AND both sit
    within ±5σ of the exact distinct count (lgConfigK=12 → rsd ≈
    1.6%). Measured at sf0.01 the two paths differ by ~0.1%.

    Certification (round 8, closing the last structural `no_oracle`):
    the output is the exact distinct count + shard count plus one
    DETERMINISTIC boolean per bound — sketch noise is orders of
    magnitude inside the ±5σ windows, so the booleans are stable
    across partition/merge orders and the driver's exact-hash oracle
    applies. The raw estimates stay available through the same
    aggregates for consumers; the sweep's former bounded check is now
    subsumed by the verdict columns.

    Plan: two hash-aggs over sketch partials (map-side combined binary
    states, never raw keys on the wire) + one direct sketch agg + the
    exact-count companion riding the same passes; at scale the month
    shards would be persisted once and every later query reads ONLY
    sketches — this query is the re-aggregation shape, the cardinality
    analog of ``rollup_hypertable``."""
    li = table(spark, sf_dir, "lineitem")
    rsd = 0.0163  # lgConfigK=12: 1.04 / sqrt(4096)
    shard = li.groupBy(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("shard")
    ).agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
    merged = shard.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    direct = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias(
            "est_direct"
        ),
        F.countDistinct("l_orderkey").alias("n_exact"),
    )

    def within(est, exact, k):
        return F.abs(est - exact) <= k * rsd * exact + 1

    return merged.join(direct, "l_returnflag").select(
        "l_returnflag",
        "n_shards",
        "n_exact",
        within(F.col("est_merged"), F.col("n_exact"), 5).alias(
            "merged_within_5rsd"
        ),
        within(F.col("est_direct"), F.col("n_exact"), 5).alias(
            "direct_within_5rsd"
        ),
        (
            F.abs(F.col("est_merged") - F.col("est_direct"))
            <= 3 * rsd * F.greatest("est_merged", "est_direct") + 1
        ).alias("merged_direct_agree"),
    )


# --------------------------------------------------------------------------
# agg_percentile_exact — exact interpolated percentiles per group
# --------------------------------------------------------------------------


def _pct_exact_side(
    li: DataFrame, valcol: str, pcts: list[tuple[str, int, int]]
) -> DataFrame:
    """Exact PERCENTILE_CONT over one value column via integer order
    statistics: rank the CENTS values per group, pull the lower/upper
    order statistics at rank ``(n-1)·k div d`` / ``+1``, and emit the
    interpolated value from exact integers with IEEE-exact ops only
    (the identical expression tree runs in the DuckDB oracle, so the
    doubles are bit-identical — no engine-internal quantile_cont in
    the comparison at all, per ADVICE r6)."""
    from pyspark.sql import Window

    cents = F.round(F.col(valcol) * 100, 0).cast("long")
    wo = Window.partitionBy("l_returnflag").orderBy("v")
    wp = Window.partitionBy("l_returnflag")
    ranked = (
        li.select("l_returnflag", cents.alias("v"))
        .withColumn("rn", F.row_number().over(wo) - 1)
        .withColumn("n", F.count(F.lit(1)).over(wp))
    )
    aggs = []
    for name, k, d in pcts:
        lo_idx = F.expr(f"((n - 1) * {k}) div {d}")
        rem = F.expr(f"((n - 1) * {k}) % {d}")
        hi_idx = lo_idx + (rem > 0).cast("long")
        aggs += [
            F.max(F.when(F.col("rn") == lo_idx, F.col("v"))).alias(f"{name}_lo"),
            F.max(F.when(F.col("rn") == hi_idx, F.col("v"))).alias(f"{name}_hi"),
            F.max(rem).alias(f"{name}_rem"),
        ]
    parts = ranked.groupBy("l_returnflag").agg(*aggs)
    outs = [F.col("l_returnflag")]
    for name, _k, d in pcts:
        lo, hi, rem = (F.col(f"{name}_{s}") for s in ("lo", "hi", "rem"))
        outs.append(
            (
                (lo.cast("double") + ((hi - lo) * rem).cast("double") / float(d))
                / 100.0
            ).alias(name)
        )
    return parts.select(*outs)


def _sql_pct_exact_side(valcol: str, pcts: list[tuple[str, int, int]]) -> str:
    """DuckDB mirror of ``_pct_exact_side`` — same integer order
    statistics, same IEEE expression tree."""
    agg_cols = []
    for name, k, d in pcts:
        agg_cols.append(
            f"MAX(CASE WHEN rn = ((n - 1) * {k}) // {d} THEN v END) AS {name}_lo"
        )
        agg_cols.append(
            "MAX(CASE WHEN rn = ((n - 1) * {k}) // {d}"
            " + (CASE WHEN ((n - 1) * {k}) % {d} > 0 THEN 1 ELSE 0 END)"
            " THEN v END) AS {name}_hi".format(k=k, d=d, name=name)
        )
        agg_cols.append(f"MAX(((n - 1) * {k}) % {d}) AS {name}_rem")
    out_cols = [
        f"(CAST({n}_lo AS DOUBLE)"
        f" + CAST(({n}_hi - {n}_lo) * {n}_rem AS DOUBLE) / {float(d)})"
        f" / 100.0 AS {n}"
        for n, _k, d in pcts
    ]
    return f"""
        WITH ranked AS (
            SELECT l_returnflag,
                   CAST(ROUND({valcol} * 100, 0) AS BIGINT) AS v,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY CAST(ROUND({valcol} * 100, 0) AS BIGINT)
                   ) - 1 AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ),
        parts AS (
            SELECT l_returnflag, {', '.join(agg_cols)}
            FROM ranked GROUP BY l_returnflag
        )
        SELECT l_returnflag, {', '.join(out_cols)} FROM parts
    """


_PCT_QTY = [("p50_qty", 1, 2), ("p95_qty", 19, 20)]
_PCT_PRICE = [("p50_price", 1, 2), ("p99_price", 99, 100)]


@register(
    "agg_percentile_exact",
    tags=("b4",),
    oracle=f"""
        -- Exact order statistics in CENTS + exact integer rank
        -- fractions; the interpolated doubles are derived from those
        -- identical integers with the SAME IEEE expression tree the
        -- Spark side uses, so the comparison never touches either
        -- engine's quantile_cont float internals (ADVICE r6: a
        -- 4dp-ROUND of order-dependent interpolation can straddle).
        WITH q AS ({_sql_pct_exact_side("l_quantity", _PCT_QTY)}),
             p AS ({_sql_pct_exact_side("l_extendedprice", _PCT_PRICE)})
        SELECT q.l_returnflag, q.p50_qty, q.p95_qty,
               p.p50_price, p.p99_price
        FROM q JOIN p USING (l_returnflag)
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (PERCENTILE_CONT: linear interpolation
    between order statistics), complementing ``agg_approx``'s sketch
    path: approx is the 100 TB default, exact is what you run to
    calibrate the sketch's error on a sample.

    Determinism: rather than ROUND()-ing engine-internal interpolation
    (whose summation/FMA choices differ in final ulps — ADVICE r6), the
    operator extracts the lower/upper order statistics at the exact
    integer rank ``(n-1)·k div d`` per percentile ``k/d`` and derives
    the interpolated value from those integers with IEEE-exact ops
    (cast/mul/div are correctly rounded on both engines → bit-identical
    doubles, no rounding grid to straddle).

    Plan: one window sort per value column — partitioned by group, so
    each group sorts in parallel and no GLOBAL sort exists; rank
    filtering collapses immediately into a 3-row-per-group conditional
    agg. Exact percentiles fundamentally need each group's order
    statistics, so at 100 TB this is for bounded-cardinality groups or
    sampled calibration — precisely how it's framed vs agg_approx."""
    li = table(spark, sf_dir, "lineitem")
    q = _pct_exact_side(li, "l_quantity", _PCT_QTY)
    p = _pct_exact_side(li, "l_extendedprice", _PCT_PRICE)
    return q.join(p, "l_returnflag")


# --------------------------------------------------------------------------
# agg_corr — per-group correlation / covariance moments
# --------------------------------------------------------------------------


def _comoment_sums(li: DataFrame) -> DataFrame:
    """Exact integer co-moment sums in CENTS over (l_quantity,
    l_extendedprice) per l_returnflag: n, Σx, Σy, Σxy, Σx², Σy² as
    decimal(38,0) — decimal addition is associative, so the sums are
    bit-identical regardless of partial-agg order (the same policy as
    compat.dsum, extended to second moments). Shared by agg_corr and
    agg_regression."""
    x = F.round(F.col("l_quantity") * 100, 0).cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")

    def s0(c):  # exact sum of a bigint expression
        return F.sum(c.cast("decimal(28,0)")).cast("decimal(38,0)")

    return (
        li.filter(
            F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
        )
        .select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            s0(F.col("x")).alias("sx"),
            s0(F.col("y")).alias("sy"),
            s0(F.col("x") * F.col("y")).alias("sxy"),
            s0(F.col("x") * F.col("x")).alias("sxx"),
            s0(F.col("y") * F.col("y")).alias("syy"),
        )
    )


_SQL_COMOMENT = """
        SELECT l_returnflag,
               CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM (
            SELECT l_returnflag,
                   CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS x,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ) c
        GROUP BY l_returnflag
"""


@register(
    "agg_corr",
    tags=("b4",),
    oracle=f"""
        -- Exact-integer co-moments (128-bit HUGEINT), then corr/cov/std
        -- derived from the IDENTICAL exact sums with IEEE-exact ops
        -- only (int→double cast, *, /, sqrt are all correctly rounded
        -- on both engines) — never a ROUND of engine-internal corr()
        -- whose summation order differs in final ulps (ADVICE r6).
        WITH m AS ({_SQL_COMOMENT})
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))
                   AS qty_price_corr,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / (CAST(n * (n - 1) AS DOUBLE) * 10000.0)
                   AS qty_price_cov,
               SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                    / CAST(n * (n - 1) AS DOUBLE)) / 100.0
                   AS qty_std
        FROM m
    """,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group second-moment statistics: Pearson correlation, sample
    covariance, and sample stddev — the profiling pass behind feature
    selection and drift monitoring.

    Determinism (ADVICE r6 rework): instead of ROUND()-ing the engines'
    own corr/covar/stddev (whose partial-merge order differs in final
    ulps — a value within an ulp of the 4dp grid can round differently),
    the aggregation computes EXACT integer co-moment sums in cents
    (decimal — associative, order-independent) and derives the three
    statistics from those identical integers with IEEE-exact operations
    (correctly-rounded cast/mul/div/sqrt), giving bit-identical doubles
    with no rounding grid at all. Same trick as events_anomaly's exact
    z-test, extended to a full second-moment profile.

    Plan: ONE partial+final hash agg (six decimal sums ride one pass);
    the derivation is a 3-row projection."""
    m = _comoment_sums(table(spark, sf_dir, "lineitem"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    denx = (n * sxx - sx * sx).cast("double")
    deny = (n * syy - sy * sy).cast("double")
    nn1 = (n * (n - 1)).cast("double")
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        (num / F.sqrt(denx * deny)).alias("qty_price_corr"),
        (num / (nn1 * 10000.0)).alias("qty_price_cov"),
        (F.sqrt(denx / nn1) / 100.0).alias("qty_std"),
    )


# --------------------------------------------------------------------------
# agg_bitmap_distinct — exact distinct counting via mergeable bitmaps
# --------------------------------------------------------------------------


@register(
    "agg_bitmap_distinct",
    tags=("b4",),
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bucketed roaring-style bitmaps —
    the warehouse bitmap-index pattern (Doris/ClickHouse/StarRocks
    `bitmap_union_count`): keys map to (bucket, bit position), each
    shard builds per-bucket bitmaps, shards merge with a cheap
    bitwise OR, and the count is the sum of per-bucket popcounts.

    Next to the two other distinct paths the engine carries this
    completes the trade-off triangle: `agg_distinct` (shuffle raw
    keys — exact, wide), `agg_approx`/`agg_sketch_merge` (sketches —
    tiny state, bounded error), and THIS (exact AND mergeable state:
    bitmap bytes are a constant factor of the key range per bucket,
    and re-aggregation across shards/days is an OR, not a re-scan —
    the pattern that makes exact daily→monthly distinct rollups
    feasible at 100 TB). The deliberate extra shard level below proves
    the merge path (bitmap_or_agg), mirroring agg_sketch_merge's
    shape with an exact answer the oracle can hash-check.

    Plan: two hash-agg levels + final sum — all map-side combinable;
    the only wide rows are the per-(group, bucket) bitmaps."""
    li = table(spark, sf_dir, "lineitem")
    bucketed = li.select(
        "l_returnflag",
        F.bitmap_bucket_number("l_orderkey").alias("bkt"),
        F.bitmap_bit_position("l_orderkey").alias("pos"),
        (F.col("l_orderkey") % 4).alias("shard"),
    )
    shard_maps = bucketed.groupBy("l_returnflag", "bkt", "shard").agg(
        F.bitmap_construct_agg("pos").alias("bm")
    )
    merged = shard_maps.groupBy("l_returnflag", "bkt").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return merged.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct")
    )


# --------------------------------------------------------------------------
# agg_regression — per-group OLS moments (slope/intercept/r²)
# --------------------------------------------------------------------------


@register(
    "agg_regression",
    tags=("b4",),
    oracle=f"""
        -- Same exact co-moment base as agg_corr; REGR_* derived from
        -- the identical exact integers with IEEE-exact ops only
        -- (ADVICE r6 — no ROUND of engine-internal regr_* internals).
        -- slope is unit-free in cents (cents/cents = units/units);
        -- intercept converts back to price units via n·100.
        WITH m AS ({_SQL_COMOMENT})
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
               (CAST(sy AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                   / (CAST(n AS DOUBLE) * 100.0) AS intercept,
               (CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE))
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
        FROM m
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares moments (price ~ quantity):
    the SQL-standard REGR_* family — slope, intercept, r² — completing
    `agg_corr`'s second-moment profile with the fitted-line view
    (drift dashboards, quick elasticity probes).

    Determinism (ADVICE r6 rework, same as agg_corr): exact integer
    co-moment sums in cents, REGR_* derived from those identical
    integers with IEEE-exact ops — bit-identical doubles across
    engines, no rounding grid to straddle. NULL pairs are excluded
    before the sums (the REGR_COUNT contract).

    Plan: ONE partial+final hash agg over six decimal sums, then a
    3-row projection — no second pass."""
    m = _comoment_sums(table(spark, sf_dir, "lineitem"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    denx = (n * sxx - sx * sx).cast("double")
    deny = (n * syy - sy * sy).cast("double")
    slope = num / denx
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        slope.alias("slope"),
        (
            (sy.cast("double") - slope * sx.cast("double"))
            / (n.cast("double") * 100.0)
        ).alias("intercept"),
        ((num * num) / (denx * deny)).alias("r2"),
    )


# --------------------------------------------------------------------------
# agg_mode — statistical mode with explicit deterministic tiebreak (round 7)
# --------------------------------------------------------------------------


@register(
    "agg_mode",
    tags=("b4",),
    oracle="""
        -- mode() is engine-specific on ties; the explicit count +
        -- row_number form pins the tiebreak (highest count, then
        -- smallest value) identically on both engines. ROUND before
        -- the integer cast (ADVICE r7): a bare double->BIGINT cast
        -- truncates toward zero in Spark but rounds to nearest in
        -- DuckDB — identical only because fixture quantities happen to
        -- be integral. ROUND-then-cast is the boundary-straddle policy.
        SELECT l_returnflag, mode_qty, mode_count
        FROM (
            SELECT l_returnflag,
                   CAST(ROUND(l_quantity) AS BIGINT) AS mode_qty,
                   CAST(COUNT(*) AS BIGINT) AS mode_count,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY COUNT(*) DESC,
                                CAST(ROUND(l_quantity) AS BIGINT)
                   ) AS rn
            FROM lineitem
            GROUP BY l_returnflag, CAST(ROUND(l_quantity) AS BIGINT)
        ) t
        WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group statistical MODE (most frequent quantity, ties broken
    to the smallest value). Built as count-then-argmax rather than an
    engine `mode()` call: mode's tie behavior is implementation-defined
    everywhere, so the explicit form is what a correctness-portable
    engine should run — and it states the plan honestly.

    Plan: (group, value) hash agg collapses the corpus to value-vocab
    rows map-side, then a group-keyed top-1 window — the same
    WindowGroupLimit heap pruning `topk_per_group` compiles to. No
    whole-group buffering (contrast a typed mode aggregate holding a
    frequency map per group)."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    # round-then-cast (ADVICE r7): Spark's bare double->long cast
    # truncates toward zero while DuckDB's rounds to nearest; ROUND on
    # both engines first so a non-integral quantity can't diverge.
    counted = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_quantity"), 0).cast("long").alias("mode_qty"),
    ).agg(F.count(F.lit(1)).alias("mode_count"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("mode_count").desc(), "mode_qty"
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "mode_qty", "mode_count")
    )


# --------------------------------------------------------------------------
# agg_histogram — equi-width histogram (round 7)
# --------------------------------------------------------------------------

_HIST_WIDTH_CENTS = 50_000_00  # $50k buckets over o_totalprice
_HIST_NBINS = 12  # values past the top edge clamp into the last bin


@register(
    "agg_histogram",
    tags=("b4",),
    oracle=f"""
        -- Bucketing in exact integer cents (compat policy): 2-decimal
        -- prices scale exactly, so bin edges can't straddle a double
        -- rounding boundary on either engine.
        SELECT bin,
               CAST(bin * {_HIST_WIDTH_CENTS} AS BIGINT) AS lo_cents,
               CAST((bin + 1) * {_HIST_WIDTH_CENTS} AS BIGINT) AS hi_cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             // {_HIST_WIDTH_CENTS},
                         {_HIST_NBINS - 1}) AS bin
            FROM orders
        ) t
        GROUP BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — the column-statistics
    primitive behind optimizer NDV/selectivity estimation and data
    profiling dashboards. Overflow values clamp into the top bin
    (LEAST), so the bin count is fixed and the output is bounded
    regardless of outliers.

    Bucketing runs in exact integer CENTS (`round(price*100) DIV
    width`): 2-decimal money scales to int64 exactly, where the naive
    ``floor(price / 50000.0)`` double division can land an ulp under a
    bin edge and flip a boundary row between engines (the ADVICE r6
    failure mode).

    Plan: ONE map-side-combining hash agg over ≤{_HIST_NBINS} groups —
    shuffle carries at most bins × partitions tiny rows; empty bins
    are simply absent (a presentation layer would left-join a spine,
    as ``ts_resample`` demonstrates)."""
    orders = table(spark, sf_dir, "orders")
    bin_col = F.least(
        F.expr(
            f"CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV {_HIST_WIDTH_CENTS}"
        ),
        F.lit(_HIST_NBINS - 1),
    ).alias("bin")
    return (
        orders.select(bin_col)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * _HIST_WIDTH_CENTS).cast("long").alias("lo_cents"),
            ((F.col("bin") + 1) * _HIST_WIDTH_CENTS).cast("long").alias("hi_cents"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# agg_argmax — max_by/min_by argmax aggregates (round 7)
# --------------------------------------------------------------------------


@register(
    "agg_argmax",
    tags=("b4",),
    oracle="""
        -- arg_max/arg_min tie behavior is engine-arbitrary, so the
        -- ordering key is UNIQUIFIED: cents * 1e10 + orderkey packs
        -- (price, key) into one int64 (cents <= ~6e7 << 9e8 keeps the
        -- product under 2^63; orderkey < 1e10). Ties on price then
        -- break on the larger/smaller orderkey deterministically.
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               arg_max(o_orderkey,
                       CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           * 10000000000 + o_orderkey) AS top_orderkey,
               arg_min(o_orderkey,
                       CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           * 10000000000 + o_orderkey) AS bottom_orderkey,
               CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS top_cents
        FROM orders
        GROUP BY o_custkey
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN as aggregates (``max_by``/``min_by``): per
    customer, the orderkey of their most and least expensive order —
    the "which row holds the extreme" question answered in ONE hash
    agg instead of the window-sort ``win_argmin`` uses (both shapes
    belong in the surface: the aggregate form is cheaper when only the
    extreme row is needed, the window form when the whole row set must
    be kept).

    Determinism: max_by's tie behavior is engine-arbitrary, so the
    ordering key packs (cents, orderkey) into one int64 — exact
    integer arithmetic, unique per row, identical tiebreak on both
    engines.

    Plan: ONE map-side-combining hash agg; max_by partials carry a
    single (key, value) pair per group per partition — the same
    shuffle budget as MAX, never a per-group row buffer."""
    orders = table(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    okey = cents * F.lit(10_000_000_000) + F.col("o_orderkey")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max_by("o_orderkey", okey).alias("top_orderkey"),
        F.min_by("o_orderkey", okey).alias("bottom_orderkey"),
        F.max(cents).cast("long").alias("top_cents"),
    )


# --------------------------------------------------------------------------
# agg_approx_topk — sketch-based frequent items (round 8)
# --------------------------------------------------------------------------

_ATK_K = 5


@register(
    "agg_approx_topk",
    tags=("b4",),
    oracle=f"""
        -- Bounded-verdict form (the agg_approx / agg_sketch_merge
        -- pattern): the sketch's item order under count ties is
        -- engine-internal, so the certified output is the EXACT top-k
        -- (deterministic count-desc, value-asc tiebreak) plus one
        -- boolean asserting the sketch reported each true heavy
        -- hitter with its exact count (guaranteed here: value
        -- cardinality ~50 is far under the 10^4 tracking budget, so
        -- the sketch is in its exact regime - the boolean would flip
        -- the moment a config change pushed it into approximation).
        SELECT l_returnflag, qty, n, rnk,
               TRUE AS sketch_exact
        FROM (
            SELECT l_returnflag,
                   CAST(ROUND(l_quantity) AS BIGINT) AS qty,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY COUNT(*) DESC, CAST(ROUND(l_quantity) AS BIGINT)
                   ) AS INT) AS rnk
            FROM lineitem
            GROUP BY l_returnflag, CAST(ROUND(l_quantity) AS BIGINT)
        ) t
        WHERE rnk <= {_ATK_K}
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent-items top-k (`approx_top_k`, Spark 4.1's
    count-based sketch) — the streaming-friendly heavy-hitter API
    completing the sketch family triangle: HLL for distinct
    (`agg_sketch_merge`), KLL-style quantiles (`agg_approx`),
    count-sketch for frequency (this; the exact two-pass MG companion
    is `text_heavy_hitters`).

    Certification follows the bounded-verdict pattern: the exact top-k
    per group (count-desc, value-asc tiebreak — `agg_mode`'s pinned
    determinism, k deep) is the hash-checked payload; the sketch rides
    the same aggregate and one boolean per row asserts it reported
    that item with the exact count. At this value cardinality (~50 ≪
    the 10⁴ tracking budget) the sketch is provably in its EXACT
    regime, so the boolean is deterministic — and it would flip
    loudly if a budget change pushed the sketch into approximation.

    Plan: one (group, value) hash agg (map-side combined) feeding both
    the exact top-k WindowGroupLimit heap and the per-group sketch
    agg; the sketch side shuffles one binary state per group."""
    li = table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    counted = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "qty")
    exact = (
        counted.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _ATK_K)
    )
    sk = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_top_k(CAST(ROUND(l_quantity) AS BIGINT), {_ATK_K * 4})"
        ).alias("tk")
    )
    reported = sk.select(
        "l_returnflag",
        F.explode("tk").alias("e"),
    ).select(
        "l_returnflag",
        F.col("e.item").alias("qty"),
        F.col("e.count").alias("sk_n"),
    )
    return (
        exact.join(reported, ["l_returnflag", "qty"], "left")
        .select(
            "l_returnflag",
            "qty",
            "n",
            "rnk",
            (F.col("sk_n") == F.col("n")).alias("sketch_exact"),
        )
    )


# --------------------------------------------------------------------------
# agg_moments — exact skewness / kurtosis (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_moments",
    tags=("b4",),
    oracle="""
        -- Exact integer power sums (HUGEINT), then the scale-free
        -- identities g1 = B / A^1.5 and g2 = C / A^2 - 3 where
        --   A = n*S2 - S1^2          (= n^2 * m2)
        --   B = n^2*S3 - 3n*S1*S2 + 2*S1^3      (= n^3 * m3)
        --   C = n^3*S4 - 4n^2*S1*S3 + 6n*S1^2*S2 - 3*S1^4 (= n^4 * m4)
        -- derived with IEEE-exact ops only (cast/mul/div/sqrt; no
        -- pow(), which isn't correctly rounded). agg_corr's policy
        -- extended to 3rd/4th moments.
        WITH p AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(x AS HUGEINT)) AS s1,
                   SUM(CAST(x AS HUGEINT) * x) AS s2,
                   SUM(CAST(x AS HUGEINT) * x * x) AS s3,
                   SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
            FROM (
                SELECT l_returnflag,
                       CAST(ROUND(l_quantity) AS BIGINT) AS x
                FROM lineitem WHERE l_quantity IS NOT NULL
            ) c
            GROUP BY l_returnflag
        ),
        abc AS (
            SELECT l_returnflag, n,
                   CAST(n * s2 - s1 * s1 AS DOUBLE) AS a,
                   CAST(n * n * s3 - 3 * n * s1 * s2
                        + 2 * s1 * s1 * s1 AS DOUBLE) AS b,
                   CAST(n * n * n * s4 - 4 * n * n * s1 * s3
                        + 6 * n * s1 * s1 * s2
                        - 3 * s1 * s1 * s1 * s1 AS DOUBLE) AS c
            FROM p
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               a / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2,
               b / (a * SQRT(a)) AS skewness,
               c / (a * a) - 3 AS excess_kurtosis
        FROM abc
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group SKEWNESS and EXCESS KURTOSIS (population form) of
    order quantities — the distribution-shape profile behind outlier
    policy and histogram-bin design, completing the moment ladder
    (mean/var → `agg_corr`, OLS → `agg_regression`, 3rd/4th → here).

    Determinism: exact integer power sums S1..S4 over ROUND(quantity)
    units (decimal(38,0)/HUGEINT — associative, order-independent),
    then the scale-free identities g1 = B/A^{3/2}, g2 = C/A² − 3
    (A,B,C = n-scaled central moments, exact integers) evaluated with
    IEEE-exact ops only — `a * sqrt(a)` instead of `pow(a, 1.5)`,
    which is not correctly rounded. Engine skewness()/kurtosis() are
    never called: their float partial-merge order differs in final
    ulps across engines (the agg_corr rework rationale).

    Precision bound (embed_covariance policy): the C term is ~n⁴·x⁴;
    with |x| ≤ ~50 units the 38-digit decimals stay exact to ~1e8
    rows per group — document-and-guard territory at 100 TB (shard
    groups or drop to cents-anchored deviations for more headroom);
    ANSI-off overflow would surface as NULL doubles, caught by the
    oracle hash.

    Plan: ONE partial+final hash agg (four decimal sums ride one
    pass); the derivation is a groups-row projection."""
    li = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity"), 0).cast("long")

    def s0(c):
        return F.sum(c.cast("decimal(28,0)")).cast("decimal(38,0)")

    p = (
        li.filter(F.col("l_quantity").isNotNull())
        .select("l_returnflag", x.alias("x"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            s0(F.col("x")).alias("s1"),
            s0(F.col("x") * F.col("x")).alias("s2"),
            s0(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
            s0(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
        )
    )
    a = F.expr("CAST(n * s2 - s1 * s1 AS DOUBLE)")
    b = F.expr("CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)")
    c = F.expr(
        "CAST(n * n * n * s4 - 4 * n * n * s1 * s3"
        " + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)"
    )
    return p.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (a / (F.col("n").cast("double") * F.col("n").cast("double"))).alias("m2"),
        (b / (a * F.sqrt(a))).alias("skewness"),
        (c / (a * a) - 3).alias("excess_kurtosis"),
    )


# --------------------------------------------------------------------------
# agg_predicates — boolean/conditional aggregate family (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_predicates",
    tags=("b4",),
    oracle="""
        -- boolean-aggregate family: COUNT_IF / BOOL_AND / BOOL_OR
        -- (ANSI EVERY / ANY) — condition rollups without CASE
        -- scaffolding. DuckDB and Spark both ship the named forms.
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT_IF(o_totalprice > 100000) AS BIGINT) AS n_big,
               BOOL_AND(o_totalprice > 0) AS all_positive,
               BOOL_OR(o_orderpriority = '1-URGENT') AS any_urgent,
               BOOL_AND(o_custkey IS NOT NULL) AS all_keyed
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def agg_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean / conditional aggregate family (§2.B-4 surface
    completion): `count_if`, `bool_and` (ANSI EVERY), `bool_or` (ANSI
    ANY) — the data-quality assertion rollup ("are ALL prices
    positive, does ANY order flag urgent, how many exceed the
    threshold") expressed first-class instead of via
    SUM(CASE WHEN ...) scaffolding. `agg_argmax` covers the
    which-row forms (max_by/min_by); this covers the predicate forms.

    All five aggregates are condition-only — no float arithmetic
    crosses engines (the compared doubles are raw parquet values) —
    so results are exactly hashable with no rounding policy needed.

    Plan: ONE map-side-combining hash agg over status cardinality;
    boolean partials are single bytes on the wire."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bool_and(F.col("o_custkey").isNotNull()).alias("all_keyed"),
    )


# --------------------------------------------------------------------------
# agg_string_agg — ordered string aggregation / LISTAGG (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_string_agg",
    tags=("b4",),
    oracle="""
        -- ANSI LISTAGG / string_agg: the distinct order priorities
        -- seen per order status, concatenated in a DECLARED order
        -- (alphabetical) so the string is a deterministic value, not
        -- an arrival-order artifact.
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ','
                          ORDER BY o_orderpriority) AS priorities_csv,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
                   AS n_priorities,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (ANSI ``LISTAGG`` / Postgres
    ``string_agg``): per order status, the alphabetized CSV of
    distinct order priorities plus distinct/row counts. The
    string-valued aggregate family — denormalized labels, audit
    trails, feature hashing inputs — that SUM/AVG queries can't cover.

    Determinism is the whole design: concatenation order is DECLARED
    (``array_sort`` engine-side, ``ORDER BY`` inside the oracle's
    ``string_agg``), never the nondeterministic arrival order a bare
    ``collect_list`` would expose — the same policy as
    ``fn_array``'s sorted set exports.

    Plan/scale: ``collect_set`` partials are bounded by the DOMAIN
    cardinality (5 priorities), not group size, so map-side combine
    ships ≤5-element sets per partition per group; the sort runs on
    those tiny arrays after the final agg. One shuffle, O(cells·domain)
    state — safe at any fact-table scale with a bounded label domain
    (the universal LISTAGG caveat: an UNBOUNDED domain makes the
    output string itself the scale problem, whatever the engine)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderpriority"))
        ).alias("priorities_csv"),
        F.countDistinct("o_orderpriority").cast("long").alias("n_priorities"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# agg_weighted — exact weighted mean / ratio-of-sums (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_weighted",
    tags=("b4",),
    oracle="""
        -- quantity-weighted average price per return flag — the
        -- ratio-of-sums aggregate (weighted mean), computed EXACTLY:
        -- both legs are integer-cents sums (the events_rfm money
        -- policy), and the export is the floor cross-multiply
        -- ratio in cents, so no engine's float summation order
        -- matters. Weighted aggregates are the canonical trap for
        -- avg(x*w) misstatements — the oracle pins ratio-of-sums.
        SELECT l_returnflag,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS wsum_cents,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS wsum,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * CAST(ROUND(l_quantity) AS BIGINT))
                    // SUM(CAST(ROUND(l_quantity) AS BIGINT))
                    AS BIGINT) AS wavg_price_cents
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED mean — quantity-weighted average extended price
    per return flag, as ratio-of-sums (Σwx / Σw), the aggregate behind
    every blended price, weighted score, and exposure-adjusted rate.
    Distinct from plain ``avg``: ``avg(x·w)`` is NOT a weighted mean,
    and per-row ``x·w`` floats would re-order differently per engine —
    so both legs are integer (cents × quantity) sums and the exported
    mean is the floor quotient, bit-stable everywhere.

    Overflow headroom: cents (≤1e7) × quantity (≤50) ≤ 5e8 per row;
    int64 holds ~1.8e19, so ~3.7e10 rows per GROUP before wraparound —
    beyond that the decimal(38,0) escalation (`events_rfm` precedent)
    applies. l_quantity is a DOUBLE holding integral values, but the
    cast still goes ROUND-then-long on BOTH engines (the agg_mode
    boundary-straddle policy): Spark's bare long cast truncates while
    DuckDB's rounds, and relying on integrality is exactly the silent
    divergence ADVICE r7 flagged.

    Plan/scale: ONE map-side-combining hash agg — two int64 partial
    sums per group on the wire; the quotient is a final-projection
    expression over flag cardinality rows."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(cents * qty).cast("long").alias("wsum_cents"),
            F.sum(qty).cast("long").alias("wsum"),
        )
        .select(
            "l_returnflag",
            "wsum_cents",
            "wsum",
            F.expr("wsum_cents div wsum").cast("long").alias(
                "wavg_price_cents"
            ),
        )
    )


# --------------------------------------------------------------------------
# agg_cube — full CUBE lattice with GROUPING_ID (round 8)
# --------------------------------------------------------------------------


# Catalyst compiles CUBE to ONE Expand (2^k replicas per input row) + one
# map-side-combining hash agg: one shuffle, not 2^k scans. The gid is
# spelled out as GROUPING bits because DuckDB's GROUPING_ID argument
# order is engine-defined.
register_sql(
    "agg_cube",
    tags=("b4",),
    oracle="""
        -- full CUBE: all 2^k grouping combinations in one pass —
        -- the OLAP lattice ROLLUP's hierarchy slices can't express
        -- (rollup omits the status-only-marginal-by-priority cell).
        -- GROUPING_ID disambiguates real NULL keys from subtotal rows.
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(GROUPING(o_orderstatus) * 2
                    + GROUPING(o_orderpriority) AS INT) AS gid
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)


# --------------------------------------------------------------------------
# agg_countmin — count-min sketch with a portable hash family (round 8)
# --------------------------------------------------------------------------

from pyspark.sql import Window as _W  # noqa: E402  (section-local import)

_CM_D = 4  # hash rows
_CM_W = 64  # buckets per row
_CM_TOP = 10  # point-query probes


def _cm_bucket_sql(word_expr: str, d_expr: str, hexcast: bool) -> str:
    """Bucket = low 32 bits of md5(word '#' row-salt) mod W — md5 is the
    byte-portable hash family (fn_hash policy). Same expression tree on
    both engines; only the hex→int idiom differs."""
    salted = f"{word_expr} || '#' || CAST({d_expr} AS VARCHAR)"
    if hexcast:  # DuckDB
        return f"(('0x' || substr(md5({salted}), 1, 8))::BIGINT % {_CM_W})"
    return f"(conv(substr(md5(concat({word_expr}, '#', CAST({d_expr} AS STRING))), 1, 8), 16, 10) % {_CM_W})"


@register(
    "agg_countmin",
    tags=("b4",),
    oracle=f"""
        -- count-min sketch, fully deterministic: {_CM_D}×{_CM_W} cell
        -- matrix over the corpus token stream with md5-salted row
        -- hashes (engine-portable, unlike murmur/xxhash), probed at
        -- the top-{_CM_TOP} true-frequency words. CM guarantees
        -- est >= true always; the overcount column shows the actual
        -- collision error at this width. Unlike agg_approx's opaque
        -- HLL this sketch is REPLAYABLE — both engines build the
        -- identical matrix, so the oracle is exact, no tolerance.
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        dd AS (SELECT unnest(range({_CM_D})) AS d),
        cells AS (
            SELECT d, {_cm_bucket_sql('w', 'd', True)} AS b,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM tok, dd GROUP BY 1, 2
        ),
        wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_n
               FROM tok GROUP BY w),
        top AS (
            SELECT w, true_n FROM (
                SELECT w, true_n,
                       row_number() OVER (ORDER BY true_n DESC, w) AS rk
                FROM wc
            ) WHERE rk <= {_CM_TOP}
        )
        SELECT t.w AS word, t.true_n, MIN(c.n) AS cm_est,
               MIN(c.n) - t.true_n AS overcount
        FROM top t
        JOIN dd ON TRUE
        JOIN cells c
          ON c.d = dd.d AND c.b = {_cm_bucket_sql('t.w', 'dd.d', True)}
        GROUP BY t.w, t.true_n
    """,
)
def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream — the mergeable
    heavy-hitter structure behind streaming frequency estimation —
    built with a PORTABLE hash family (md5 row-salts, fn_hash policy)
    so the whole 4×64 cell matrix is bit-identical across engines and
    the oracle replays it EXACTLY (vs agg_approx, whose HLL internals
    force a bounded-verdict oracle). Output: point queries at the
    top-10 true words with the sketch's guaranteed-nonnegative
    overcount, making the collision error at this width visible.

    Plan/scale: the 4× row-salt fanout happens inside codegen (explode
    of a 4-literal array — no join against a salt table); the cell agg
    is map-side combined into a CONSTANT 256-cell matrix regardless of
    corpus size — the sketch property that makes it mergeable across
    100 TB of partitions with one tiny shuffle. The probe side joins
    the 40 top-word rows against the 256-cell table — both broadcast
    sized. True counts need one vocabulary agg (the same shape every
    text_* op pays)."""
    toks = parallel_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    salted = toks.select(
        "w", F.explode(F.array(*[F.lit(d) for d in range(_CM_D)])).alias("d")
    )
    bucket = F.expr(_cm_bucket_sql("w", "d", False))
    cells = salted.groupBy("d", bucket.alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    top = (
        wc.withColumn(
            "rk",
            F.row_number().over(
                _W.orderBy(F.col("true_n").desc(), F.col("w"))
            ),
        )
        .where(F.col("rk") <= _CM_TOP)
        .drop("rk")
    )
    probes = top.select(
        "w",
        "true_n",
        F.explode(F.array(*[F.lit(d) for d in range(_CM_D)])).alias("d"),
    ).withColumn("b", F.expr(_cm_bucket_sql("w", "d", False)))
    est = probes.join(F.broadcast(cells), ["d", "b"]).groupBy(
        "w", "true_n"
    ).agg(F.min("n").alias("cm_est"))
    return est.select(
        F.col("w").alias("word"),
        "true_n",
        "cm_est",
        (F.col("cm_est") - F.col("true_n")).alias("overcount"),
    )


# --------------------------------------------------------------------------
# agg_benford — first-significant-digit distribution (round 8)
# --------------------------------------------------------------------------

# Benford expectation log10(1 + 1/d) in floor basis points — CONSTANTS
# (pre-computed, never engine-evaluated logs), identical literals on
# both sides.
_BENFORD_BP = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791,
               6: 669, 7: 579, 8: 511, 9: 457}


def _benford_case(col: str) -> str:
    legs = " ".join(
        f"WHEN {d} THEN {bp}" for d, bp in _BENFORD_BP.items()
    )
    return f"CASE {col} {legs} END"


@register(
    "agg_benford",
    tags=("b4",),
    oracle=f"""
        -- Benford first-digit audit of order totals: the
        -- fraud/fabrication screen every financial DQ suite ships.
        -- First significant digit via STRING head of the exact-cents
        -- integer (no log10 floats); observed share and the deviation
        -- from the Benford expectation as integer bp (expectations
        -- are pre-computed literal constants on both engines).
        WITH d AS (
            SELECT CAST(SUBSTR(CAST(
                       CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders WHERE o_totalprice > 0
        ),
        c AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
            FROM d GROUP BY digit
        ),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        SELECT digit, n,
               CAST(n * 10000 // total AS BIGINT) AS share_bp,
               CAST({_benford_case("digit")} AS BIGINT) AS benford_bp,
               CAST(n * 10000 // total
                    - {_benford_case("digit")} AS BIGINT) AS dev_bp
        FROM c, t
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit (Benford) audit of order totals — the
    classic fabricated-data screen: naturally occurring multi-scale
    amounts follow log10(1+1/d), fabricated ones cluster uniformly.
    Reports observed counts, observed share (floor bp), the Benford
    expectation, and the signed deviation.

    Exactness: the first digit comes from the STRING head of the
    exact-cents integer — no log10/pow floats anywhere; the Benford
    expectations are pre-computed integer literals (identical
    constants in both engines, never engine-evaluated logs).

    Plan/scale: one codegen'd projection + a 9-group hash agg
    (map-side combined), then the sanctioned 1-row total broadcast —
    zero row-cardinality shuffles at any volume."""
    o = table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) "
            "AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    case = _benford_case("digit")
    return c.join(F.broadcast(t)).select(
        "digit",
        "n",
        F.expr("CAST(n * 10000 div total AS BIGINT)").alias("share_bp"),
        F.expr(f"CAST({case} AS BIGINT)").alias("benford_bp"),
        F.expr(
            f"CAST(n * 10000 div total - {case} AS BIGINT)"
        ).alias("dev_bp"),
    )


# --------------------------------------------------------------------------
# agg_winsorized_mean — robust clamped-tail mean per group (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_winsorized_mean",
    tags=("b4",),
    oracle="""
        -- 5/95 winsorized mean per return flag, exact in CENTS: tail
        -- values are CLAMPED to the nearest-rank p5/p95 order
        -- statistics (ceil rank (p*n + 99)//100, the
        -- orders_fulfillment_lag convention) before summing -- the
        -- robust location estimate that, unlike trimming, keeps n
        -- constant and, unlike the median, still moves with the body
        -- of the distribution. Everything is int64/ceil-rank: no
        -- interpolation, no floats, bit-identical cross-engine.
        WITH c AS (
            SELECT l_returnflag,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       AS cents
            FROM lineitem
        ),
        r AS (
            SELECT l_returnflag, cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag ORDER BY cents
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM c
        ),
        b AS (
            SELECT l_returnflag,
                   CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MAX(CASE WHEN rk = (5 * n + 99) // 100
                                 THEN cents END) AS BIGINT) AS lo_cents,
                   CAST(MAX(CASE WHEN rk = (95 * n + 99) // 100
                                 THEN cents END) AS BIGINT) AS hi_cents
            FROM r GROUP BY l_returnflag
        )
        SELECT c.l_returnflag, b.n, b.lo_cents, b.hi_cents,
               CAST(SUM(CASE WHEN cents < lo_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clamped_low,
               CAST(SUM(CASE WHEN cents > hi_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clamped_high,
               CAST(SUM(GREATEST(LEAST(cents, hi_cents), lo_cents))
                    // MAX(b.n) AS BIGINT) AS winsor_mean_cents,
               CAST(SUM(cents) // MAX(b.n) AS BIGINT) AS raw_mean_cents
        FROM c JOIN b USING (l_returnflag)
        GROUP BY c.l_returnflag, b.n, b.lo_cents, b.hi_cents
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95 winsorized mean of extended price per return flag, exact
    in integer CENTS: tail values are CLAMPED to the nearest-rank
    p5/p95 order statistics before averaging — the robust location
    estimate for metrics pipelines where a handful of fat-finger or
    fraud rows would otherwise own the mean. Winsorizing (clamp)
    beats trimming (drop) when n must stay constant across reporting
    periods, and beats the median when the metric should still move
    with the body of the distribution; the raw mean rides alongside
    so the gap itself is the outlier-impact readout.

    Exactness: ceil nearest-rank ``(p*n + 99) div 100`` (the
    `orders_fulfillment_lag` convention), integer cents, floor-div
    means — no interpolation, no floats, no rounding grid to
    straddle. n_clamped_low/high audit how much mass the clamp moved.

    Plan/scale: one rank window PARTITIONED BY GROUP (each group
    sorts in parallel — no global sort), collapsing straight into a
    3-row bounds agg; the clamped re-aggregation joins bounds back
    group-keyed and combines map-side. Same 100 TB framing as
    `agg_percentile_exact`: exact order statistics are for bounded-
    cardinality groups or sampled calibration; the sketch path
    (`agg_approx`) is the default at full scale."""
    li = table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    w_rk = Window.partitionBy("l_returnflag").orderBy("cents")
    w_n = Window.partitionBy("l_returnflag")
    r = c.select(
        "l_returnflag",
        "cents",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    b = r.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "CAST(max(CASE WHEN rk = (5 * n + 99) div 100 "
            "THEN cents END) AS BIGINT)"
        ).alias("lo_cents"),
        F.expr(
            "CAST(max(CASE WHEN rk = (95 * n + 99) div 100 "
            "THEN cents END) AS BIGINT)"
        ).alias("hi_cents"),
    )
    return (
        c.join(b, "l_returnflag")
        .groupBy("l_returnflag", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum((F.col("cents") < F.col("lo_cents")).cast("long"))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum((F.col("cents") > F.col("hi_cents")).cast("long"))
            .cast("long")
            .alias("n_clamped_high"),
            F.expr(
                "CAST(sum(greatest(least(cents, hi_cents), lo_cents)) "
                "div max(n) AS BIGINT)"
            ).alias("winsor_mean_cents"),
            F.expr("CAST(sum(cents) div max(n) AS BIGINT)").alias(
                "raw_mean_cents"
            ),
        )
        .select(
            "l_returnflag", "n", "lo_cents", "hi_cents",
            "n_clamped_low", "n_clamped_high",
            "winsor_mean_cents", "raw_mean_cents",
        )
    )


# --------------------------------------------------------------------------
# agg_weighted_percentile — weight-rank order statistics (round 8)
# --------------------------------------------------------------------------


register_sql(
    "agg_weighted_percentile",
    tags=("b4",),
    oracle="""
        -- QUANTITY-WEIGHTED percentiles of unit price per return
        -- flag: each row counts with weight = its quantity, and the
        -- weighted p50/p90 are the first values whose RUNNING weight
        -- clears p% of the total (lower weighted quantile, exact
        -- integer test 100*cumw >= p*totw). The unweighted median
        -- answers "the median LINE"; the weighted one answers "the
        -- median UNIT SOLD" — the number pricing reads. All integer:
        -- cents values, integer weights, cross-multiplied rank test.
        WITH c AS (
            SELECT l_returnflag,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       AS cents,
                   CAST(ROUND(l_quantity) AS BIGINT) AS w
            FROM lineitem
        ),
        r AS (
            SELECT l_returnflag, cents, w,
                   SUM(w) OVER (PARTITION BY l_returnflag
                                ORDER BY cents, w
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cumw,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS totw
            FROM c
        )
        SELECT l_returnflag,
               CAST(MAX(totw) AS BIGINT) AS total_weight,
               CAST(MIN(CASE WHEN 100 * cumw >= 50 * totw
                             THEN cents END) AS BIGINT) AS wp50_cents,
               CAST(MIN(CASE WHEN 100 * cumw >= 90 * totw
                             THEN cents END) AS BIGINT) AS wp90_cents,
               CAST(MIN(CASE WHEN 100 * cumw >= 99 * totw
                             THEN cents END) AS BIGINT) AS wp99_cents
        FROM r GROUP BY l_returnflag
    """,
)


# --------------------------------------------------------------------------
# agg_tukey_fences — IQR outlier fences per group (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_tukey_fences",
    tags=("b4",),
    oracle="""
        -- Tukey boxplot fences per order priority: Q1/Q3 by ceil
        -- nearest-rank on cents, fences at Q1 - 1.5*IQR and
        -- Q3 + 1.5*IQR evaluated in x2 integers (2x < 2*Q1 - 3*IQR —
        -- the 1.5 never becomes a float), with low/high outlier
        -- counts. The third robust-outlier lens beside z-scores
        -- (events_anomaly) and MAD (ts_mad_anomaly): IQR fences are
        -- what every boxplot draws and every data-quality checklist
        -- means by "outliers".
        WITH c AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders
        ),
        r AS (
            SELECT o_orderpriority, cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority ORDER BY cents
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM c
        ),
        q AS (
            SELECT o_orderpriority,
                   CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MAX(CASE WHEN rk = (25 * n + 99) // 100
                                 THEN cents END) AS BIGINT) AS q1,
                   CAST(MAX(CASE WHEN rk = (75 * n + 99) // 100
                                 THEN cents END) AS BIGINT) AS q3
            FROM r GROUP BY o_orderpriority
        )
        SELECT c.o_orderpriority, q.n, q.q1, q.q3,
               CAST(q.q3 - q.q1 AS BIGINT) AS iqr,
               CAST(SUM(CASE WHEN 2 * c.cents
                                  < 2 * q.q1 - 3 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_low_outliers,
               CAST(SUM(CASE WHEN 2 * c.cents
                                  > 2 * q.q3 + 3 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_high_outliers
        FROM c JOIN q USING (o_orderpriority)
        GROUP BY c.o_orderpriority, q.n, q.q1, q.q3
    """,
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences per order priority: Q1/Q3 by the ceil
    nearest-rank convention, fences at Q1 − 1.5·IQR and Q3 + 1.5·IQR,
    and the count of order values outside each fence — the third
    robust-outlier lens beside z-scores (`events_anomaly`) and MAD
    (`ts_mad_anomaly`), and the one every boxplot draws and every
    data-quality checklist means by "outliers". The 1.5 multiplier
    never becomes a float: the fence tests run doubled
    (2x < 2·Q1 − 3·IQR), so the whole operator is int64 end to end.

    Plan/scale: the `agg_winsorized_mean` shape — one rank window
    partitioned by group (parallel per-group sort, no global sort)
    collapsing to a quartile table, then a group-keyed count-outside
    re-aggregation that combines map-side."""
    o = table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    w_rk = Window.partitionBy("o_orderpriority").orderBy("cents")
    w_n = Window.partitionBy("o_orderpriority")
    r = c.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    q = r.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "CAST(max(CASE WHEN rk = (25 * n + 99) div 100"
            " THEN cents END) AS BIGINT)"
        ).alias("q1"),
        F.expr(
            "CAST(max(CASE WHEN rk = (75 * n + 99) div 100"
            " THEN cents END) AS BIGINT)"
        ).alias("q3"),
    )
    return (
        c.join(q, "o_orderpriority")
        .groupBy("o_orderpriority", "n", "q1", "q3")
        .agg(
            F.expr("CAST(max(q3 - q1) AS BIGINT)").alias("iqr"),
            F.sum(
                (2 * F.col("cents") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
                .cast("long")
            )
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(
                (2 * F.col("cents") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")))
                .cast("long")
            )
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "o_orderpriority", "n", "q1", "q3", "iqr",
            "n_low_outliers", "n_high_outliers",
        )
    )


# --------------------------------------------------------------------------
# agg_gini — per-region Gini coefficient of customer revenue (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_gini",
    tags=("b4",),
    oracle="""
        -- Gini coefficient of customer lifetime revenue per region:
        -- the single-number inequality read behind win_lorenz's
        -- curve ("how concentrated is this market"). Closed form on
        -- the ascending rank: G = (2*SUM(i*x_i) - (n+1)*SUM(x))
        -- / (n*SUM(x)), reported in floor basis points -- exact
        -- rational arithmetic end to end (rank ties on equal cents
        -- don't move SUM(i*x_i), so the custkey tie-break is pure
        -- determinism hygiene).
        WITH rev AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                       AS cents
            FROM orders GROUP BY o_custkey
        ),
        g AS (
            SELECT r_name AS region, cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY r_name ORDER BY cents, o_custkey
                   ) AS i
            FROM rev
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
        ),
        s AS (
            SELECT region, CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(cents) AS HUGEINT) AS s,
                   CAST(SUM(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS t
            FROM g GROUP BY region
        )
        SELECT region, CAST(n AS BIGINT) AS n_customers,
               CAST(s AS BIGINT) AS revenue_cents,
               CAST((10000 * (2 * t - (n + 1) * s)) // (n * s) AS BIGINT)
                   AS gini_bp
        FROM s
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region Gini coefficient of customer lifetime revenue — the
    single-number inequality statistic (`win_lorenz` draws the curve;
    this is its area): 0 = every customer spends the same, 10000 bp =
    one customer carries the region. The concentration KPI behind
    "how dependent is this market on its whales".

    Exactness: the closed form on ascending ranks,
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx), evaluated as one floor-div in
    basis points over decimal(38,0) sums — no float anywhere. Rank
    ties on equal cents cannot move Σi·xᵢ (equal values commute), so
    the custkey tie-break is determinism hygiene only.

    Plan/scale — the DISTRIBUTED per-group rank (win_lorenz's two-pass
    pattern, partitioned): a bare `row_number() OVER (PARTITION BY
    region ...)` puts ~n/5 customers in ONE task per region at 1e9
    customers, so instead (1) the per-customer rollup (map-side
    combined) shrinks orders to |customers|, dims broadcast in;
    (2) range-repartition + local sort on (region, cents, custkey);
    (3) per-(partition, region) counts — tiny — become broadcast
    prefix offsets; rank = offset + partition-local row_number. The
    final rollup is 5 rows."""
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = table(spark, sf_dir, "region")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    dims = F.broadcast(
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, F.col("n_regionkey") == reg.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("region"))
    )
    g = rev.join(dims, rev.o_custkey == dims.c_custkey).select(
        "region", "cents", F.col("o_custkey").alias("ck")
    )
    pid = range_pid_frozen("agg_gini.pid", g, "region", "cents", "ck")
    pc = pid.groupBy("pid", "region").agg(F.count(F.lit(1)).alias("pn"))
    w_off = (
        Window.partitionBy("region")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = pc.select(
        "pid",
        "region",
        F.coalesce(F.sum("pn").over(w_off), F.lit(0)).alias("off"),
    )
    w_local = Window.partitionBy("pid", "region").orderBy("cents", "ck")
    ranked = (
        pid.withColumn("rl", F.row_number().over(w_local))
        .join(F.broadcast(off), ["pid", "region"])
        .select("region", "cents", (F.col("off") + F.col("rl")).alias("i"))
    )
    s = ranked.groupBy("region").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(i AS decimal(38,0)) * cents")).alias("t"),
    )
    return s.select(
        "region",
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("revenue_cents"),
        F.expr("CAST((10000 * (2 * t - (n + 1) * s)) div (n * s) AS BIGINT)")
        .alias("gini_bp"),
    )


# --------------------------------------------------------------------------
# agg_ratio_pin — ratio-of-sums vs avg-of-ratios divergence (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_ratio_pin",
    tags=("b4",),
    oracle="""
        -- The ratio-of-sums vs average-of-ratios trap as a measured
        -- 3-column readout (the sub_not_in_null treatment for the
        -- second-most-filed analytics bug): "average discount" per
        -- flag computed both ways. avg-of-ratios weights every LINE
        -- equally; ratio-of-sums weights by REVENUE -- they diverge
        -- exactly when big-ticket lines discount differently from
        -- small ones, and dashboards that mix them ship wrong
        -- numbers. Exact: per-row discount bp and price cents are
        -- integers; both statistics are single floor divides over
        -- 128-bit sums.
        WITH l AS (
            SELECT l_returnflag,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
                   CAST(ROUND(l_discount * 10000, 0) AS BIGINT) AS dbp
            FROM lineitem
        ),
        m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(cents) AS HUGEINT) AS sc,
                   CAST(SUM(dbp) AS HUGEINT) AS sd,
                   CAST(SUM(cents * dbp) AS HUGEINT) AS scd
            FROM l GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_lines,
               CAST(scd // sc AS BIGINT) AS ratio_of_sums_bp,
               CAST(sd // n AS BIGINT) AS avg_of_ratios_bp,
               CAST(scd // sc - sd // n AS BIGINT) AS gap_bp
        FROM m
    """,
)
def agg_ratio_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ratio-of-sums vs average-of-ratios trap, pinned as a
    regression surface (the `sub_not_in_null` treatment for the
    second-most-filed analytics bug): "average discount rate" per
    return flag computed BOTH ways. Average-of-ratios weights every
    line equally; ratio-of-sums weights by revenue — they diverge
    exactly when big-ticket lines discount differently from small
    ones, and a dashboard that mixes the two ships wrong numbers.
    gap_bp is the divergence, in basis points, that code review
    argues about.

    Exactness: per-row discount bp and price cents are exact integers
    (2dp / 4dp source grids); both statistics are single floor
    divides over decimal(38,0) sums — no float anywhere.

    Plan: ONE map-side-combined hash agg carrying four sums; the
    two ratios are a 3-row projection."""
    li = table(spark, sf_dir, "lineitem")
    l = li.select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.expr("CAST(ROUND(l_discount * 10000) AS BIGINT)").alias("dbp"),
    )
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sc"),
        F.sum("dbp").cast("decimal(38,0)").alias("sd"),
        F.sum(F.expr("CAST(cents AS decimal(38,0)) * dbp")).alias("scd"),
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_lines"),
        F.expr("CAST(scd div sc AS BIGINT)").alias("ratio_of_sums_bp"),
        F.expr("CAST(sd div n AS BIGINT)").alias("avg_of_ratios_bp"),
        F.expr("CAST(scd div sc - sd div n AS BIGINT)").alias("gap_bp"),
    )


# --------------------------------------------------------------------------
# agg_percentile_hist — mergeable-histogram percentile estimates (round 8)
# --------------------------------------------------------------------------

_HIST_W = 10_000  # equi-width bucket = $100 in cents


@register(
    "agg_percentile_hist",
    tags=("b4",),
    oracle=f"""
        -- Approximate percentiles from a MERGEABLE equi-width
        -- histogram (bucket = $100 of extendedprice), with the exact
        -- nearest-rank percentile and the error in bp beside each
        -- estimate -- the self-auditing sketch pattern
        -- (ann_recall_eval / embed_quantize). The histogram is the
        -- 100 TB shape: map-side combinable, constant memory, one
        -- pass; the exact path needs a per-group sort. Integer
        -- end-to-end: rank k = ceil(n*q/100) = (n*q+99)//100; the
        -- in-bucket linear interpolation ((k-cum_prev)*W)//cnt stays
        -- in cents.
        WITH l AS (
            SELECT l_returnflag AS flag,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
            FROM lineitem
        ),
        hist AS (
            SELECT flag, cents // {_HIST_W} AS b, COUNT(*) AS cnt
            FROM l GROUP BY flag, cents // {_HIST_W}
        ),
        hc AS (
            SELECT flag, b, cnt,
                   SUM(cnt) OVER (PARTITION BY flag ORDER BY b) AS cum,
                   SUM(cnt) OVER (PARTITION BY flag) AS n
            FROM hist
        ),
        est AS (
            SELECT flag, MAX(n) AS n,
                   MIN(CASE WHEN cum >= (n * 50 + 99) // 100
                             AND cum - cnt < (n * 50 + 99) // 100 THEN
                       b * {_HIST_W} + ((n * 50 + 99) // 100 - (cum - cnt))
                           * {_HIST_W} // cnt END) AS p50_est,
                   MIN(CASE WHEN cum >= (n * 90 + 99) // 100
                             AND cum - cnt < (n * 90 + 99) // 100 THEN
                       b * {_HIST_W} + ((n * 90 + 99) // 100 - (cum - cnt))
                           * {_HIST_W} // cnt END) AS p90_est,
                   MIN(CASE WHEN cum >= (n * 99 + 99) // 100
                             AND cum - cnt < (n * 99 + 99) // 100 THEN
                       b * {_HIST_W} + ((n * 99 + 99) // 100 - (cum - cnt))
                           * {_HIST_W} // cnt END) AS p99_est
            FROM hc GROUP BY flag
        ),
        cd AS (
            SELECT flag, cents, COUNT(*) AS cnt FROM l GROUP BY flag, cents
        ),
        cc AS (
            SELECT flag, cents, cnt,
                   SUM(cnt) OVER (PARTITION BY flag ORDER BY cents) AS cum,
                   SUM(cnt) OVER (PARTITION BY flag) AS n
            FROM cd
        ),
        ex AS (
            SELECT flag,
                   MIN(CASE WHEN cum >= (n * 50 + 99) // 100
                             AND cum - cnt < (n * 50 + 99) // 100
                            THEN cents END) AS p50_exact,
                   MIN(CASE WHEN cum >= (n * 90 + 99) // 100
                             AND cum - cnt < (n * 90 + 99) // 100
                            THEN cents END) AS p90_exact,
                   MIN(CASE WHEN cum >= (n * 99 + 99) // 100
                             AND cum - cnt < (n * 99 + 99) // 100
                            THEN cents END) AS p99_exact
            FROM cc GROUP BY flag
        )
        SELECT e.flag AS l_returnflag, CAST(e.n AS BIGINT) AS n,
               CAST(e.p50_est AS BIGINT) AS p50_est,
               CAST(x.p50_exact AS BIGINT) AS p50_exact,
               CAST(ABS(e.p50_est - x.p50_exact) * 10000 // x.p50_exact
                    AS BIGINT) AS p50_err_bp,
               CAST(e.p90_est AS BIGINT) AS p90_est,
               CAST(x.p90_exact AS BIGINT) AS p90_exact,
               CAST(ABS(e.p90_est - x.p90_exact) * 10000 // x.p90_exact
                    AS BIGINT) AS p90_err_bp,
               CAST(e.p99_est AS BIGINT) AS p99_est,
               CAST(x.p99_exact AS BIGINT) AS p99_exact,
               CAST(ABS(e.p99_est - x.p99_exact) * 10000 // x.p99_exact
                    AS BIGINT) AS p99_err_bp
        FROM est e JOIN ex x ON x.flag = e.flag
    """,
)
def agg_percentile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 from a MERGEABLE equi-width histogram
    (bucket = $100), with the exact nearest-rank percentile and the
    estimation error in bp reported BESIDE each estimate — the
    self-auditing sketch pattern (`ann_recall_eval`, `embed_quantize`):
    the operator carries its own accuracy certificate. This is the
    percentile you can afford at 100 TB: the histogram is map-side
    combinable, constant memory, mergeable across partitions/days —
    where `agg_percentile_exact` pays a per-group sort.

    Exactness of the APPROXIMATION (the estimate itself is
    deterministic): rank k = ceil(n·q/100) = (n·q+99) div 100; the
    in-bucket linear interpolation ((k − cum_prev)·W) div cnt stays in
    integer cents — both engines replay the identical arithmetic.

    Plan/scale: two map-side-combined groupBys (bucket-level: ~price
    range / $100 groups; cents-level for the audit: bounded support);
    cumulative windows run over those bounded-cardinality rollups,
    never over raw rows. At 100 TB you'd drop the exact audit path and
    keep the histogram; the plan's fact-side cost is the ONE bucket
    rollup."""
    li = table(spark, sf_dir, "lineitem")
    l = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    w_cum_b = Window.partitionBy("flag").orderBy("b")
    w_all = Window.partitionBy("flag")
    hc = (
        l.groupBy("flag", F.expr(f"cents div {_HIST_W}").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "flag",
            "b",
            "cnt",
            F.sum("cnt").over(w_cum_b).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
    )

    def hist_est(q: int):
        k = f"(n * {q} + 99) div 100"
        return F.min(
            F.expr(
                f"CASE WHEN cum >= {k} AND cum - cnt < {k} THEN"
                f" b * {_HIST_W} + ({k} - (cum - cnt)) * {_HIST_W} div cnt"
                f" END"
            )
        ).alias(f"p{q}_est")

    est = hc.groupBy("flag").agg(
        F.max("n").alias("n"), hist_est(50), hist_est(90), hist_est(99)
    )
    w_cum_c = Window.partitionBy("flag").orderBy("cents")
    cc = (
        l.groupBy("flag", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "flag",
            "cents",
            "cnt",
            F.sum("cnt").over(w_cum_c).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
    )

    def exact_q(q: int):
        k = f"(n * {q} + 99) div 100"
        return F.min(
            F.expr(f"CASE WHEN cum >= {k} AND cum - cnt < {k} THEN cents END")
        ).alias(f"p{q}_exact")

    ex = cc.groupBy("flag").agg(exact_q(50), exact_q(90), exact_q(99))
    j = est.join(ex, "flag")
    cols = [F.col("flag").alias("l_returnflag"), F.col("n").cast("long").alias("n")]
    for q in (50, 90, 99):
        cols += [
            F.col(f"p{q}_est").cast("long").alias(f"p{q}_est"),
            F.col(f"p{q}_exact").cast("long").alias(f"p{q}_exact"),
            F.expr(
                f"CAST(ABS(p{q}_est - p{q}_exact) * 10000"
                f" div p{q}_exact AS BIGINT)"
            ).alias(f"p{q}_err_bp"),
        ]
    return j.select(*cols)


# --------------------------------------------------------------------------
# agg_ols_multi — two-feature OLS via exact normal equations (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_ols_multi",
    tags=("b4",),
    oracle="""
        -- Multiple regression, closed form: per return flag, regress
        -- line revenue (cents) on TWO features -- quantity and
        -- discount bp -- by solving the 3x3 normal equations with
        -- CRAMER'S RULE over exact integer co-moments: every
        -- determinant is integer arithmetic (128-bit), and each
        -- coefficient is ONE IEEE-exact division det_i/det at the
        -- end (agg_regression's policy, lifted from one feature to
        -- the multivariate case: still no iterative solver, no
        -- float accumulation, bit-identical cross-engine).
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(q) AS HUGEINT) AS sq,
                   CAST(SUM(d) AS HUGEINT) AS sd,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(q * q) AS HUGEINT) AS sqq,
                   CAST(SUM(q * d) AS HUGEINT) AS sqd,
                   CAST(SUM(d * d) AS HUGEINT) AS sdd,
                   CAST(SUM(q * y) AS HUGEINT) AS sqy,
                   CAST(SUM(d * y) AS HUGEINT) AS sdy
            FROM (
                SELECT l_returnflag,
                       CAST(ROUND(l_quantity) AS BIGINT) AS q,
                       CAST(ROUND(l_discount * 10000, 0) AS BIGINT) AS d,
                       CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
                FROM lineitem
            ) GROUP BY l_returnflag
        ),
        dets AS (
            SELECT l_returnflag, n,
                   n * (sqq * sdd - sqd * sqd)
                   - sq * (sq * sdd - sqd * sd)
                   + sd * (sq * sqd - sqq * sd) AS det,
                   sy * (sqq * sdd - sqd * sqd)
                   - sq * (sqy * sdd - sqd * sdy)
                   + sd * (sqy * sqd - sqq * sdy) AS det0,
                   n * (sqy * sdd - sdy * sqd)
                   - sy * (sq * sdd - sqd * sd)
                   + sd * (sq * sdy - sqy * sd) AS det1,
                   n * (sqq * sdy - sqd * sqy)
                   - sq * (sq * sdy - sqy * sd)
                   + sy * (sq * sqd - sqq * sd) AS det2
            FROM m
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               CAST(CASE WHEN det0 >= 0
                    THEN (ABS(det0) // det) * 1000000
                         + ((ABS(det0) - (ABS(det0) // det) * det)
                            * 1000000) // det
                    ELSE -((ABS(det0) // det) * 1000000
                           + ((ABS(det0) - (ABS(det0) // det) * det)
                              * 1000000) // det) END AS BIGINT)
                   AS intercept_cents_e6,
               CAST(CASE WHEN det1 >= 0
                    THEN (ABS(det1) // det) * 1000000
                         + ((ABS(det1) - (ABS(det1) // det) * det)
                            * 1000000) // det
                    ELSE -((ABS(det1) // det) * 1000000
                           + ((ABS(det1) - (ABS(det1) // det) * det)
                              * 1000000) // det) END AS BIGINT)
                   AS beta_qty_cents_e6,
               CAST(CASE WHEN det2 >= 0
                    THEN (ABS(det2) // det) * 1000000
                         + ((ABS(det2) - (ABS(det2) // det) * det)
                            * 1000000) // det
                    ELSE -((ABS(det2) // det) * 1000000
                           + ((ABS(det2) - (ABS(det2) // det) * det)
                              * 1000000) // det) END AS BIGINT)
                   AS beta_disc_e6
        FROM dets
    """,
)
def agg_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple regression in closed form: per return flag, regress
    line revenue on TWO features (quantity, discount bp) by solving
    the 3×3 normal equations (XᵀX)β = Xᵀy with CRAMER'S RULE over
    exact integer co-moments — `agg_regression`'s exactness policy
    lifted to the multivariate case. Every determinant is pure
    integer arithmetic in decimal(38,0); each coefficient exports as
    the EXACT scaled integer floor(detᵢ·10⁶/det) computed by a
    quotient/remainder split (never materializing detᵢ·10⁶, which
    would overflow 38 digits at sf0.1 moment magnitudes; and never a
    decimal→double cast, whose rounding DuckDB does not guarantee
    correctly rounded at 10²⁸ — a 1-ulp divergence this op actually
    hit at sf0.001). No iterative solver, no float anywhere. The
    two-feature fit is what pricing/attribution actually runs when
    one driver confounds another (discounted lines are also big
    lines; the single-feature slope mixes the effects, the
    multivariate one separates them).

    Magnitude envelope: 9 co-moment sums ≤ n·10¹² (cents×bp); the
    3×3 determinant is degree-3 in those, exact within 38 digits for
    per-group n ≲ 10⁶ at these grids — the documented bound; larger
    corpora center the features first (same mechanics, smaller
    moments).

    Plan/scale: ONE map-side-combined hash agg carrying all nine
    sums; Cramer is a 3-row projection."""
    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("q"),
        F.expr("CAST(ROUND(l_discount * 10000) AS BIGINT)").alias("d"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )
    dec = "decimal(38,0)"
    m = rows.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("q").cast(dec).alias("sq"),
        F.sum("d").cast(dec).alias("sd"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.expr(f"CAST(q AS {dec}) * q")).alias("sqq"),
        F.sum(F.expr(f"CAST(q AS {dec}) * d")).alias("sqd"),
        F.sum(F.expr(f"CAST(d AS {dec}) * d")).alias("sdd"),
        F.sum(F.expr(f"CAST(q AS {dec}) * y")).alias("sqy"),
        F.sum(F.expr(f"CAST(d AS {dec}) * y")).alias("sdy"),
    )
    dets = m.select(
        "l_returnflag",
        "n",
        F.expr(
            "n * (sqq * sdd - sqd * sqd)"
            " - sq * (sq * sdd - sqd * sd)"
            " + sd * (sq * sqd - sqq * sd)"
        ).alias("det"),
        F.expr(
            "sy * (sqq * sdd - sqd * sqd)"
            " - sq * (sqy * sdd - sqd * sdy)"
            " + sd * (sqy * sqd - sqq * sdy)"
        ).alias("det0"),
        F.expr(
            "n * (sqy * sdd - sdy * sqd)"
            " - sy * (sq * sdd - sqd * sd)"
            " + sd * (sq * sdy - sqy * sd)"
        ).alias("det1"),
        F.expr(
            "n * (sqq * sdy - sqd * sqy)"
            " - sq * (sq * sdy - sqy * sd)"
            " + sy * (sq * sqd - sqq * sd)"
        ).alias("det2"),
    )
    def scaled_div(num: str, alias: str):
        # exact floor-toward-zero of num*1e6/det WITHOUT materializing
        # num*1e6 (which overflows 38 digits at the sf0.1 moment
        # magnitudes): quotient/remainder split, sign handled outside.
        q = f"(ABS({num}) div det)"
        frac = f"((ABS({num}) - {q} * det) * 1000000) div det"
        return F.expr(
            f"CAST(CASE WHEN {num} >= 0 THEN {q} * 1000000 + {frac}"
            f" ELSE -({q} * 1000000 + {frac}) END AS BIGINT)"
        ).alias(alias)

    return dets.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        scaled_div("det0", "intercept_cents_e6"),
        scaled_div("det1", "beta_qty_cents_e6"),
        scaled_div("det2", "beta_disc_e6"),
    )


# --------------------------------------------------------------------------
# agg_median_ci_bootstrap — bootstrap spread of the median (round 8)
# --------------------------------------------------------------------------

_BOOT_REPS = 8  # 2 salted md5s x 4 independent 32-bit words each


def _boot_med_oracle() -> str:
    from nchu_bigdata_spark.operators.pipeline import _pois_case_sql

    return f"""
        -- Bootstrap spread of the per-flag MEDIAN price: {_BOOT_REPS}
        -- deterministic Poisson(1) replicates (sample_poisson's
        -- frozen inverse-CDF thresholds over md5 uniforms), each
        -- replicate's exact lower weighted median, and the
        -- min/max/spread across replicates -- the nonparametric CI
        -- machinery for a statistic with no closed-form variance,
        -- with NO RNG state and NO resampling shuffle. Replicate
        -- uniforms (r10->r11 rework): one md5 is 128 bits = FOUR
        -- independent 32-bit words, so TWO salted md5s per row fund
        -- all {_BOOT_REPS} replicates (word j of md5(key|salt),
        -- salt = r // 4, word = r % 4) -- 2 hashes/row instead of
        -- one per (row, replicate). k = 0 rows are dropped before
        -- the rollup: zero-weight price points cannot change any
        -- cumulative sum, total, or the lower-median argmin.
        WITH h AS (
            SELECT l_returnflag,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
                   md5('0|' || CAST(l_orderkey AS VARCHAR) || '-' ||
                       CAST(l_linenumber AS VARCHAR)) AS h0,
                   md5('1|' || CAST(l_orderkey AS VARCHAR) || '-' ||
                       CAST(l_linenumber AS VARCHAR)) AS h1
            FROM lineitem
        ),
        ku AS (
            SELECT l_returnflag, r, cents,
                   ('0x' || substr(CASE WHEN r < 4 THEN h0 ELSE h1 END,
                                   1 + (r % 4) * 8, 8))::BIGINT AS u
            FROM h CROSS JOIN (SELECT unnest(range({_BOOT_REPS})) AS r)
        ),
        k AS (
            SELECT l_returnflag, r, cents, {_pois_case_sql("u")} AS k
            FROM ku
        ),
        g AS (
            SELECT l_returnflag, r, cents, SUM(k) AS w
            FROM k WHERE k > 0 GROUP BY l_returnflag, r, cents
        ),
        c AS (
            SELECT l_returnflag, r, cents,
                   SUM(w) OVER (
                       PARTITION BY l_returnflag, r ORDER BY cents
                   ) AS cum,
                   SUM(w) OVER (PARTITION BY l_returnflag, r) AS tot
            FROM g
        ),
        med AS (
            SELECT l_returnflag, r,
                   MIN(CASE WHEN 2 * cum >= tot THEN cents END) AS med
            FROM c GROUP BY l_returnflag, r
        )
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_reps,
               CAST(MIN(med) AS BIGINT) AS med_lo_cents,
               CAST(MAX(med) AS BIGINT) AS med_hi_cents,
               CAST(MAX(med) - MIN(med) AS BIGINT) AS spread_cents
        FROM med GROUP BY l_returnflag
    """


@register("agg_median_ci_bootstrap", tags=("b4",), oracle=_boot_med_oracle())
def agg_median_ci_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap spread of the per-flag median price — the
    nonparametric confidence machinery for a statistic with NO
    closed-form variance (`events_sample_size` plans with the mean's
    σ; the median needs resampling): {r} deterministic Poisson(1)
    replicates (`sample_poisson`'s frozen inverse-CDF thresholds —
    no RNG state, no sampling-without-replacement shuffle,
    bit-reproducible under retries), each replicate's EXACT lower
    weighted median, and the min/max/spread across replicates.
    Replicate uniforms (r11 rework): one md5 is 128 bits = FOUR
    independent 32-bit words, so TWO salted md5s per row fund all {r}
    replicates (word r%4 of md5((r//4)|key)) — 2 hashes per row
    instead of one per (row, replicate).

    Exactness: multiplicities are pure key functions; each
    replicate's median is the smallest cents with 2·cum ≥ total over
    integer weights — the exact order-statistic rule, no
    interpolation.

    Plan/scale (r14 rework, 2× at sf0.1, guide §2.3): replicates ride
    as {r} k COLUMNS per row — nothing row-scale is ever multiplied
    by the replicate count; the phase-1 rollup sums all {r} columns
    map-side per (flag, bucket) and the replicate axis becomes rows
    only at bucket cardinality (stack). The cumulative windows run
    per (flag, rep) over the bucket support; phase 2 rescans the
    frozen row-cardinality k-vector table only where a replicate's
    straddle bucket lands. Adding replicates widens a projection,
    never re-scans."""
    from nchu_bigdata_spark.operators.pipeline import _pois_case_sql

    li = table(spark, sf_dir, "lineitem")
    # TWO salted md5s per ROW (not per row x replicate): each md5's
    # 128 bits are four independent 32-bit words, so salt r//4 + word
    # r%4 funds all replicates.
    h = li.select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
            "cents"
        ),
        F.expr(
            "md5('0|' || CAST(l_orderkey AS STRING) || '-' ||"
            " CAST(l_linenumber AS STRING))"
        ).alias("h0"),
        F.expr(
            "md5('1|' || CAST(l_orderkey AS STRING) || '-' ||"
            " CAST(l_linenumber AS STRING))"
        ).alias("h1"),
    )
    # r14 rework (guide §2.3 "aggregate before you shuffle", measured
    # 2x at sf0.1, identical output): replicates ride as EIGHT k
    # COLUMNS per row instead of an 8-way row explode — the explode
    # multiplied the shuffle and the frozen intermediate by the
    # replicate count before anything aggregated. The per-word u
    # expressions are constant-position substrings (no per-row CASE on
    # r), the frozen intermediate is the ROW-cardinality (flag, cents,
    # k0..k7) table (narrower than lineitem and 8x fewer rows than the
    # exploded form), and the replicate axis only becomes rows at
    # BUCKET cardinality (stack after the phase-1 rollup).
    u_cols = [
        F.expr(
            f"CAST(conv(substr({'h0' if r < 4 else 'h1'},"
            f" {1 + (r % 4) * 8}, 8), 16, 10) AS BIGINT)"
        ).alias(f"u{r}")
        for r in range(_BOOT_REPS)
    ]
    hu = h.select("l_returnflag", "cents", *u_cols)
    k_cols = [
        F.expr(_pois_case_sql(f"u{r}")).alias(f"k{r}")
        for r in range(_BOOT_REPS)
    ]
    from nchu_bigdata_spark.materialize import shared_intermediate

    kc = shared_intermediate(
        "agg_median_ci_bootstrap.k",
        hu.select("l_returnflag", "cents", *k_cols),
    )

    # Exact weighted median in TWO bucket phases (the distributed
    # exact-median classic) instead of a corpus-cardinality
    # (flag, r, cents) rollup + full-support cumulative window (the
    # r8 plan): cents values are ~unique per row, so that rollup
    # collapsed nothing and shuffled ~|rows x reps|. Phase 1 rolls up
    # to (flag, cents div Q) with one map-side-combined SUM PER
    # REPLICATE COLUMN, unpivots the 8 sums to (flag, r, b, w) rows at
    # bucket cardinality (w = 0 buckets dropped: a zero-weight bucket
    # has the cumulative sum of its predecessor and can never be the
    # straddle argmin), and finds each replicate's STRADDLE bucket b*
    # (the smallest with 2*cum >= tot) plus the cum OFFSET before it;
    # phase 2 rescans only rows with cents div Q = b* (selectivity
    # ~1/|buckets|) and applies the same argmin rule with the offset.
    # Both shuffles are bucket-sized; nothing row-scale moves.
    q = 16384  # bucket width (cents)
    b1c = kc.groupBy(
        "l_returnflag", F.expr(f"cents div {q}").alias("b")
    ).agg(*[F.sum(f"k{r}").alias(f"w{r}") for r in range(_BOOT_REPS)])
    stack = ", ".join(f"{r}, w{r}" for r in range(_BOOT_REPS))
    b1 = b1c.select(
        "l_returnflag",
        "b",
        F.expr(f"stack({_BOOT_REPS}, {stack}) AS (r, w)"),
    ).filter(F.col("w") > 0)
    w_cumb = Window.partitionBy("l_returnflag", "r").orderBy("b")
    w_allb = Window.partitionBy("l_returnflag", "r")
    bsel = (
        b1.select(
            "l_returnflag",
            "r",
            "b",
            "w",
            F.sum("w").over(w_cumb).alias("cumb"),
            F.sum("w").over(w_allb).alias("tot"),
        )
        .filter(F.expr("2 * cumb >= tot"))
        .groupBy("l_returnflag", "r")
        .agg(
            F.min("b").alias("bstar"),
            F.min_by(F.expr("cumb - w"), "b").alias("off"),
            F.min("tot").alias("tot"),
        )
    )
    # The straddle-bucket rescan dispatches the row's k vector on the
    # broadcast (flag, r) -> b* table: rows land in phase 2 once per
    # replicate whose straddle bucket contains them (~rows/|buckets|
    # per replicate), with k = element r of the per-row k vector —
    # identical weights to the exploded form, k = 0 rows dropped the
    # same way.
    karr = "array({})".format(
        ", ".join(f"k{r}" for r in range(_BOOT_REPS))
    )
    bsel2 = bsel.select(
        F.col("l_returnflag").alias("bf"), "r", "bstar", "off", "tot"
    )
    p2 = (
        kc.join(
            F.broadcast(bsel2),
            (F.col("l_returnflag") == F.col("bf"))
            & (F.expr(f"cents div {q}") == F.col("bstar")),
        )
        .select(
            "l_returnflag", "r", "cents", "off", "tot",
            F.expr(f"element_at({karr}, CAST(r AS INT) + 1)").alias("k"),
        )
        .filter(F.col("k") > 0)
        .groupBy("l_returnflag", "r", "cents", "off", "tot")
        .agg(F.sum("k").alias("w"))
    )
    w_cum2 = Window.partitionBy("l_returnflag", "r").orderBy("cents")
    med = (
        p2.select(
            "l_returnflag",
            "r",
            "cents",
            "tot",
            (F.col("off") + F.sum("w").over(w_cum2)).alias("cum"),
        )
        .groupBy("l_returnflag", "r")
        .agg(
            F.min(
                F.expr("CASE WHEN 2 * cum >= tot THEN cents END")
            ).alias("med")
        )
    )
    return med.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.min("med").cast("long").alias("med_lo_cents"),
        F.max("med").cast("long").alias("med_hi_cents"),
        (F.max("med") - F.min("med")).cast("long").alias("spread_cents"),
    )


# --------------------------------------------------------------------------
# agg_bitmap_intersect — month-over-month retention via bitmaps (round 8)
# --------------------------------------------------------------------------


@register(
    "agg_bitmap_intersect",
    tags=("b4",),
    oracle="""
        -- Week-over-week retained users, counted the SET way: the
        -- oracle does COUNT(DISTINCT) over an inner join of weekly
        -- activity -- the engine does it the BITMAP way (users packed
        -- into per-bucket bit vectors, AND + popcount), the
        -- warehouse trick (Doris/ClickHouse bitmap_and_count) that
        -- makes retention a byte operation instead of a shuffle-heavy
        -- distinct join. Two INDEPENDENT formulations, same counts.
        WITH act AS (
            SELECT DISTINCT
                   epoch_us(ts) // (86400000000 * 7) AS m, user_id
            FROM events
        )
        SELECT a.m AS week_idx,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS retained
        FROM act a JOIN act b
          ON b.user_id = a.user_id AND b.m = a.m + 1
        GROUP BY a.m
    """,
)
def agg_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retained users via BITMAP INTERSECTION — the
    warehouse counting trick (Doris/ClickHouse `bitmap_and_count`,
    roaring-bitmap engines): pack each month's active users into
    per-bucket 64-bit words (`bucket = user div 64`, `bit = user mod
    64`, word = BIT_OR of 1<<bit), then retention = Σ popcount(A AND
    B) over bucket-aligned words (weekly grain — the fixture spans
    one month; the mechanics are grain-free). Distinct-counting an intersection
    becomes a BYTE operation: no distinct join shuffle at query time,
    and period bitmaps are precomputable, mergeable artifacts —
    `agg_bitmap_distinct`'s union story, extended to INTERSECTION
    (which no HLL sketch can answer exactly).

    The oracle counts the same retention as COUNT(DISTINCT) over an
    inner week-pair join — an independent formulation; matching
    counts certify the bitmap algebra.

    Plan/scale: one (week, bucket) map-side BIT_OR rollup — output
    is |weeks|·|user-space|/64 words; the week-pair join is
    bucket-aligned (equi join on bucket) + popcount — never a
    per-user row operation downstream of the rollup."""
    ev = table(spark, sf_dir, "events")
    act = ev.select(
        F.expr("unix_micros(ts) div (86400000000 * 7)").alias("m"),
        "user_id",
    )
    words = act.groupBy(
        "m", F.expr("user_id div 64").alias("bucket")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
               "CAST(user_id % 64 AS INT)))").alias("w")
    )
    nxt = words.select(
        (F.col("m") - 1).alias("m"),
        "bucket",
        F.col("w").alias("w_next"),
    )
    return (
        words.join(nxt, ["m", "bucket"])
        .groupBy(F.col("m").cast("long").alias("week_idx"))
        .agg(
            F.sum(F.bit_count(F.expr("w & w_next")))
            .cast("long")
            .alias("retained")
        )
        # The oracle's inner join omits weeks with zero retained users
        # entirely; shared div-64 buckets with no shared user would
        # otherwise emit a retained=0 row here (sparse-fixture edge).
        .filter(F.col("retained") > 0)
    )


# --------------------------------------------------------------------------
# agg_chi_square — contingency-table independence test, exact ints (round 11)
# --------------------------------------------------------------------------


@register(
    "agg_chi_square",
    tags=("b4",),
    oracle="""
        -- Pearson chi-square test of independence over the
        -- event_type x day-of-week-cycle contingency table, in EXACT
        -- integer arithmetic: per cell (incl. structural zeros of the
        -- observed-category grid), the contribution is
        -- floor(1e4 * (O*N - R*C)^2 / (R*C*N)) via a
        -- quotient/remainder split (agg_ols_multi's policy), summed as
        -- integers -- the documented definition on both engines. The
        -- only float op is ONE IEEE-exact sqrt for Cramer's V (sqrt is
        -- correctly rounded by IEEE-754, so FLOOR(SQRT(int)) is
        -- bit-stable cross-engine; the radicand stays < 2^53).
        WITH cell0 AS (
            SELECT event_type,
                   (epoch_us(ts) // 86400000000) % 7 AS wd,
                   CAST(COUNT(*) AS HUGEINT) AS o
            FROM events GROUP BY 1, 2
        ),
        types AS (SELECT event_type, SUM(o) AS r FROM cell0 GROUP BY 1),
        wds AS (SELECT wd, SUM(o) AS c FROM cell0 GROUP BY 1),
        tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS nr,
                       COUNT(DISTINCT wd) AS nc FROM cell0),
        grid AS (
            SELECT t.event_type, w.wd, t.r, w.c,
                   COALESCE(cell0.o, 0) AS o
            FROM types t CROSS JOIN wds w
            LEFT JOIN cell0
              ON cell0.event_type = t.event_type AND cell0.wd = w.wd
        ),
        contrib AS (
            SELECT event_type,
                   (o * tot.n - r * c) * (o * tot.n - r * c) AS num,
                   r * c * tot.n AS den,
                   r
            FROM grid CROSS JOIN tot
        ),
        cells AS (
            SELECT event_type, r,
                   (num // den) * 10000
                   + ((num - (num // den) * den) * 10000) // den
                       AS cell_e4
            FROM contrib
        ),
        per_type AS (
            SELECT event_type, MIN(r) AS n_obs,
                   SUM(cell_e4) AS chi2_part_e4
            FROM cells GROUP BY 1
        ),
        gtot AS (
            SELECT SUM(chi2_part_e4) AS chi2_e4 FROM per_type
        )
        SELECT p.event_type,
               CAST(p.n_obs AS BIGINT) AS n_obs,
               CAST(p.chi2_part_e4 AS BIGINT) AS chi2_part_e4,
               CAST(g.chi2_e4 AS BIGINT) AS chi2_total_e4,
               CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS df,
               CAST(FLOOR(SQRT(CAST(
                   (g.chi2_e4 * 100000000)
                   // (t.n * (CASE WHEN t.nr < t.nc THEN t.nr
                              ELSE t.nc END - 1)) AS DOUBLE)))
                   AS BIGINT) AS cramers_v_e6
        FROM per_type p CROSS JOIN gtot g CROSS JOIN tot t
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test (event_type × day-of-week
    cycle) with per-type contribution rows — the categorical-drift
    detector every feature-store DQ layer runs. Exactness: per-cell
    contributions are floor(10⁴·(O·N−R·C)²/(R·C·N)) in decimal(38,0)
    via the quotient/remainder split (`agg_ols_multi`'s policy — no
    decimal→double cast, no float accumulation), summed as integers;
    structural zero cells of the observed-category grid are included
    per the textbook definition. Cramér's V is the ONE float op: an
    IEEE-754 correctly-rounded sqrt over an integer radicand < 2⁵³,
    so FLOOR(SQRT(·)) is bit-stable cross-engine. Magnitude envelope:
    the (O·N−R·C)² cell numerator stays within decimal(38,0) for
    table totals N ≲ 3·10⁹; beyond that, scale counts down to a
    common grid first (same mechanics, documented bound —
    agg_ols_multi's policy).

    Plan/scale: events collapse map-side to the (type, wd) cell table
    — ONE hash agg over the raw stream; everything after operates on
    ≤ |types|·7 rows (margins, grid, contributions are dimension-side
    cross joins of tiny aggregates). At 100 TB the raw-stream agg is
    the only full-data pass and it partial-aggregates perfectly."""
    ev = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    cell0 = ev.groupBy(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("wd"),
    ).agg(F.count(F.lit(1)).cast(dec).alias("o"))
    types = cell0.groupBy("event_type").agg(F.sum("o").alias("r"))
    wds = cell0.groupBy("wd").agg(F.sum("o").alias("c"))
    tot = cell0.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").cast(dec).alias("nr"),
        F.countDistinct("wd").cast(dec).alias("nc"),
    )
    grid = (
        types.crossJoin(wds)
        .join(cell0, ["event_type", "wd"], "left")
        .select(
            "event_type",
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0).cast(dec)).alias("o"),
        )
    )
    contrib = grid.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "r",
        F.expr("(o * n - r * c) * (o * n - r * c)").alias("num"),
        F.expr("r * c * n").alias("den"),
    )
    cells = contrib.select(
        "event_type",
        "r",
        F.expr(
            "(num div den) * 10000"
            " + ((num - (num div den) * den) * 10000) div den"
        ).alias("cell_e4"),
    )
    per_type = cells.groupBy("event_type").agg(
        F.min("r").alias("n_obs"),
        F.sum("cell_e4").alias("chi2_part_e4"),
    )
    glob = per_type.agg(F.sum("chi2_part_e4").alias("chi2_e4"))
    return (
        per_type.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("chi2_part_e4").cast("long").alias("chi2_part_e4"),
            F.col("chi2_e4").cast("long").alias("chi2_total_e4"),
            F.expr("CAST((nr - 1) * (nc - 1) AS BIGINT)").alias("df"),
            F.expr(
                "CAST(FLOOR(SQRT(CAST((chi2_e4 * 100000000)"
                " div (n * (CASE WHEN nr < nc THEN nr ELSE nc END - 1))"
                " AS DOUBLE))) AS BIGINT)"
            ).alias("cramers_v_e6"),
        )
    )


# --------------------------------------------------------------------------
# agg_hll_portable — exactly-replayable HyperLogLog (round 13)
# --------------------------------------------------------------------------

_HLL_M = 256  # registers (b = 8 bucket bits; sigma = 1.04/16 = 6.5%)
_HLL_B = 8
_HLL_R = 60  # hash width: 15 md5 hex chars -> 60 bits (signed-safe)
# alpha_m = 0.7213/(1 + 1.079/m) (Flajolet et al. 2007, HyperLogLog);
# alpha_256 = 0.71827... pinned as an exact rational so both engines
# compute the identical integer
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 71827, 100000


@register(
    "agg_hll_portable",
    tags=("b4",),
    oracle=f"""
        -- HyperLogLog with every step replayable: md5-derived 60-bit
        -- hash, low-8-bit register index, rank = leading-zero count of
        -- the remaining 52 bits + 1 (via the binary-string length —
        -- identical on both engines), registers maxed per group, and
        -- the raw HLL estimate as ONE exact integer division (the
        -- 2^-M sum is dyadic: sum(1 << (R - M)) over the full 256-
        -- register spine, empty registers M=0). Unlike agg_approx's
        -- opaque engine HLL this sketch is the oracle's equal — no
        -- tolerance, exact row hashes. err_bp reports the estimator's
        -- true accuracy against the exact distinct.
        WITH h AS (
            -- salted per group: each event_type gets an INDEPENDENT
            -- hash draw (the corpus shares one user set across types;
            -- unsalted, every group would repeat the same registers
            -- and the same error)
            SELECT event_type,
                   ('0x' || substr(md5(event_type || ':' ||
                                        user_id::VARCHAR), 1, 15))::BIGINT
                       AS hv
            FROM events
        ),
        r AS (
            SELECT event_type, hv % {_HLL_M} AS b,
                   MAX({_HLL_R - _HLL_B} + 1
                       - length(ltrim(bin(hv // {_HLL_M}), '0'))) AS m
            FROM h GROUP BY 1, 2
        ),
        spine AS (
            SELECT DISTINCT event_type, bb.b
            FROM events, (SELECT unnest(range({_HLL_M})) AS b) bb
        ),
        regs AS (
            SELECT s.event_type, COALESCE(r.m, 0) AS m
            FROM spine s LEFT JOIN r ON r.event_type = s.event_type
                                     AND r.b = s.b
        ),
        agg AS (
            SELECT event_type,
                   SUM(CAST((1::BIGINT << ({_HLL_R} - m)) AS HUGEINT))
                       AS s2,
                   SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v_empty
            FROM regs GROUP BY event_type
        ),
        ex AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type
        )
        SELECT a.event_type,
               ex.n_exact,
               CAST(({_HLL_ALPHA_NUM}::HUGEINT * {_HLL_M * _HLL_M}
                     * (1::BIGINT << {_HLL_R})::HUGEINT)
                    // ({_HLL_ALPHA_DEN}::HUGEINT * a.s2) AS BIGINT)
                   AS hll_est,
               CAST(ABS(CAST(({_HLL_ALPHA_NUM}::HUGEINT * {_HLL_M * _HLL_M}
                     * (1::BIGINT << {_HLL_R})::HUGEINT)
                    // ({_HLL_ALPHA_DEN}::HUGEINT * a.s2) AS BIGINT)
                        - ex.n_exact) * 10000 // ex.n_exact AS BIGINT)
                   AS err_bp,
               CAST(a.v_empty AS BIGINT) AS v_empty,
               CAST(a.v_empty > 0 AND
                    CAST(({_HLL_ALPHA_NUM}::HUGEINT * {_HLL_M * _HLL_M}
                          * (1::BIGINT << {_HLL_R})::HUGEINT)
                         // ({_HLL_ALPHA_DEN}::HUGEINT * a.s2) AS BIGINT)
                        * 2 < {5 * _HLL_M} AS BOOLEAN) AS lc_regime
        FROM agg a JOIN ex ON ex.event_type = a.event_type
    """,
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch with EVERY step replayable —
    completing the portable-sketch family (count-min `agg_countmin`,
    bloom `dedup_bloom`, minhash `dedup_minhash_estimate`): md5-salted
    60-bit row hash, low-8-bit register index (m = 256), rank =
    leading-zero count of the remaining 52 bits + 1 (computed as a
    binary-string length, which both engines render identically),
    per-group register MAX (hash salted per group so each group is an
    independent draw), and the raw HLL estimate
    α·m²/Σ2^(−M_j) as ONE exact integer division — the 2^(−M) sum is
    dyadic, so Σ is the integer Σ 2^(R−M_j) over the FULL 256-register
    spine (an unhit register is M = 0 and must contribute 2^R;
    dropping empty registers is the classic silent HLL bug). α_256 =
    0.71827 is Flajolet 2007's constant as an exact rational. The raw
    estimator is used deliberately (no small-range linear-counting
    switch — the LC value needs ln, which is not hash-stable across
    engines); instead `lc_regime` flags, with a pure integer test,
    every group where real HLL would switch (raw < 5m/2 with empty
    registers), and v_empty/err_bp expose the raw regime's accuracy, and the oracle match is EXACT either way
    because both engines replay the identical integers — the sketch
    is certified, not trusted (`agg_approx` covers the engine-native
    opaque HLL beside this).

    Plan/scale: one (event_type, bucket)-keyed hash agg over the
    events scan (map-side combined, ≤ groups×256 rows out), the
    constant 256-row spine explodes from the group list, and the
    estimate is arithmetic on a groups×256 frame. The register layout
    is what a 1000-executor rollup would ship: 256 (=_HLL_M) longs per
    group per partition, mergeable by MAX — the whole point of HLL at
    100 TB.

    Ref parity: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-4."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(concat(event_type, ':',"
            " CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    regs = (
        ev.select(
            "event_type",
            F.expr(f"hv % {_HLL_M}").alias("b"),
            F.expr(
                f"{_HLL_R - _HLL_B} + 1 - length(trim(LEADING '0' FROM"
                f" bin(hv div {_HLL_M})))"
            ).alias("rk"),
        )
        .groupBy("event_type", "b")
        .agg(F.max("rk").alias("m"))
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("b"),
        )
    )
    full = spine.join(regs, ["event_type", "b"], "left").select(
        "event_type", F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    agg = full.groupBy("event_type").agg(
        F.sum(
            F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {_HLL_R} - m)"
                   f" AS DECIMAL(38,0))")
        ).alias("s2"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v_empty"),
    )
    ex = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    num = (
        f"CAST({_HLL_ALPHA_NUM * _HLL_M * _HLL_M} AS DECIMAL(38,0))"
        f" * CAST(shiftleft(CAST(1 AS BIGINT), {_HLL_R}) AS DECIMAL(38,0))"
    )
    est = f"CAST(({num}) div (CAST({_HLL_ALPHA_DEN} AS DECIMAL(38,0)) * s2) AS BIGINT)"
    return (
        agg.join(ex, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.expr(est).alias("hll_est"),
            F.expr(
                f"CAST(abs({est} - n_exact) * 10000 div n_exact AS BIGINT)"
            ).alias("err_bp"),
            "v_empty",
            # raw < 5m/2 with empty registers = the regime where real
            # HLL switches to linear counting (integer test; the LC
            # value itself needs ln, which is not hash-stable)
            F.expr(
                f"v_empty > 0 AND {est} * 2 < {5 * _HLL_M}"
            ).alias("lc_regime"),
        )
    )


# --------------------------------------------------------------------------
# agg_kmv_distinct — exactly-replayable KMV (bottom-k) distinct sketch
# (round 14)
# --------------------------------------------------------------------------

_KMV_K = 64  # bottom-k size (sigma ~ 1/sqrt(k-2) = 12.7%)
_KMV_POW = 1152921504606846976  # 2^60 — the hash domain size

_KMV_EST_SQL = (
    # KMV estimator (Bar-Yossef et al. RANDOM'02; DataSketches theta):
    # with fewer than k distinct hashes the sketch IS the exact set;
    # otherwise est = (k-1) * 2^60 / kth_min as ONE exact integer
    # floor-division (identical on both engines: Spark DECIMAL(38,0)
    # `div`, DuckDB HUGEINT `//`)
    f"CASE WHEN n_kept < {_KMV_K} THEN n_kept "
    f"ELSE CAST((CAST({_KMV_K - 1} AS DECIMAL(38,0))"
    f" * CAST({_KMV_POW} AS DECIMAL(38,0)))"
    f" div CAST(kth_min AS DECIMAL(38,0)) AS BIGINT) END"
)


@register(
    "agg_kmv_distinct",
    tags=("b4",),
    oracle=f"""
        -- KMV / bottom-k distinct sketch with every step replayable —
        -- the order-statistics counterpart of agg_hll_portable's
        -- register sketch: md5-salted 60-bit hash per (group, user),
        -- keep the k = {_KMV_K} SMALLEST distinct hashes per group,
        -- estimate (k-1) * 2^60 / kth_min by exact integer division
        -- (HUGEINT here, DECIMAL(38,0) in Spark — both floor). Groups
        -- holding fewer than k distinct hashes report the exact count
        -- (the sketch IS the set). err_bp certifies the estimator's
        -- real accuracy against the exact distinct.
        WITH h AS (
            SELECT DISTINCT event_type,
                   ('0x' || substr(md5(event_type || ':' ||
                                        user_id::VARCHAR), 1, 15))::BIGINT
                       AS hv
            FROM events
        ),
        r AS (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY hv) AS rn
            FROM h
        ),
        k AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   MAX(hv) AS kth_min
            FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
        ),
        ex AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type
        ),
        est AS (
            SELECT k.event_type, n_exact, n_kept, kth_min,
                   CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                        ELSE CAST((CAST({_KMV_K - 1} AS HUGEINT)
                                   * {_KMV_POW}) // kth_min AS BIGINT)
                        END AS BIGINT) AS kmv_est
            FROM k JOIN ex USING (event_type)
        )
        SELECT event_type, n_exact, n_kept, kth_min, kmv_est,
               CAST(abs(kmv_est - n_exact) * 10000 // n_exact AS BIGINT)
                   AS err_bp
        FROM est
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch with
    EVERY step replayable — completing the portable-sketch family's
    order-statistics axis beside the register axis
    (`agg_hll_portable`): per group keep the k = {k} smallest distinct
    md5-salted 60-bit hashes; the k-th smallest value theta-izes the
    hash domain and est = (k-1)·2^60 / kth_min as ONE exact integer
    floor-division, so both engines replay identical integers — no
    tolerance, exact row hashes (Bar-Yossef et al. RANDOM'02 is the
    estimator; the theta-sketch family in Apache DataSketches is the
    production shape). Groups with fewer than k distinct hashes are
    EXACT (the sketch holds the whole set) — the `n_kept < k` regime
    every KMV implementation special-cases. Salted per group so each
    group draws an independent hash sequence (the corpus shares one
    user set across event types).

    Like HLL the sketch is MERGEABLE — union = k smallest of the
    unioned bottom-k sets — which is what a 1000-executor rollup
    ships: k longs per group per shard, merged by sorted-union-truncate
    (tests/test_round14_ops.py pins shard-merge == single-pass).

    Plan/scale: one distinct shuffle on (group, hash) — the same
    volume `agg_distinct` pays — then the bottom-k window runs under
    Spark's WindowGroupLimit rank pushdown: every map task emits at
    most k rows per group BEFORE the window shuffle, so the second
    exchange carries ≤ partitions×k×groups rows no matter the corpus
    (the same two-stage top-k the similarity ops pin). Final agg is
    groups-sized arithmetic.

    Ref parity: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-4."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(concat(event_type, ':',"
            " CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    dh = ev.distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    bottom = (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max("hv").alias("kth_min"),
        )
    )
    ex = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return (
        bottom.join(ex, "event_type")
        .withColumn("kmv_est", F.expr(f"CAST({_KMV_EST_SQL} AS BIGINT)"))
        .select(
            "event_type",
            "n_exact",
            "n_kept",
            "kth_min",
            "kmv_est",
            F.expr(
                "CAST(abs(kmv_est - n_exact) * 10000 div n_exact"
                " AS BIGINT)"
            ).alias("err_bp"),
        )
    )


# --------------------------------------------------------------------------
# agg_theta_intersect — theta-sketch set INTERSECTION estimate (round 14)
# --------------------------------------------------------------------------


@register(
    "agg_theta_intersect",
    tags=("b4",),
    oracle=f"""
        -- Theta-sketch intersection (Apache DataSketches theta shape;
        -- KMV per Beyer et al. SIGMOD'07): one UNSALTED 60-bit md5
        -- hash per user (shared across groups so set algebra is
        -- meaningful), bottom-k = {_KMV_K} per event_type, theta_g =
        -- kth smallest when the sketch is full else 2^60 (exact
        -- regime). Pair estimate: theta = least(theta_a, theta_b),
        -- n_common = |bottomA intersect bottomB strictly below theta|,
        -- est = n_common * 2^60 // theta by exact integer division —
        -- identical integers on both engines. The oracle is the NAIVE
        -- self-join form; the engine never joins pair-wise at corpus
        -- scale. inter_exact / err_bp certify the estimator.
        WITH du AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        h AS (
            SELECT event_type, user_id,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                       AS hv
            FROM du
        ),
        r AS (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY hv) AS rn
            FROM h
        ),
        bottom AS (SELECT event_type, hv FROM r WHERE rn <= {_KMV_K}),
        th AS (
            SELECT event_type,
                   CASE WHEN COUNT(*) < {_KMV_K}
                        THEN CAST({_KMV_POW} AS BIGINT)
                        ELSE MAX(hv) END AS theta
            FROM bottom GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   least(a.theta, b.theta) AS theta
            FROM th a JOIN th b ON a.event_type < b.event_type
        ),
        common AS (
            SELECT p.type_a, p.type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM pairs p
            JOIN bottom ba ON ba.event_type = p.type_a
            JOIN bottom bb ON bb.event_type = p.type_b
                          AND bb.hv = ba.hv
            WHERE ba.hv < p.theta
            GROUP BY p.type_a, p.type_b
        ),
        ex AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS inter_exact
            FROM du a JOIN du b ON a.user_id = b.user_id
                              AND a.event_type < b.event_type
            GROUP BY 1, 2
        ),
        est AS (
            SELECT p.type_a, p.type_b, p.theta,
                   COALESCE(n_common, 0) AS n_common,
                   CAST(CAST(COALESCE(n_common, 0) AS HUGEINT)
                        * {_KMV_POW} // p.theta AS BIGINT) AS inter_est,
                   COALESCE(inter_exact, 0) AS inter_exact
            FROM pairs p
            LEFT JOIN common USING (type_a, type_b)
            LEFT JOIN ex USING (type_a, type_b)
        )
        SELECT type_a, type_b, theta, n_common, inter_est, inter_exact,
               CAST(abs(inter_est - inter_exact) * 10000
                    // greatest(inter_exact, 1) AS BIGINT) AS err_bp
        FROM est
    """,
)
def agg_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET-INTERSECTION estimate between every pair of
    event_type audiences — the set-algebra layer over the bottom-k
    sketch family (`agg_kmv_distinct` is the cardinality axis;
    `agg_bitmap_intersect` is the exact-bitmap twin): one UNSALTED
    md5 60-bit hash per user (every group must draw the SAME hash for
    a user or intersection is meaningless — the salting trade-off the
    KMV op documents in reverse), bottom-k = {k} smallest per group,
    theta_g = kth smallest (full regime) else 2^60 (exact regime),
    and per pair est = |A_bottom ∩ B_bottom < theta| * 2^60 // theta
    with theta = least(theta_a, theta_b) — one exact integer
    floor-division, both engines replay identical integers (Apache
    DataSketches theta intersection; Beyer et al. SIGMOD'07 KMV).
    The strict `< theta` drop of the boundary hash is the correctness
    subtlety every theta implementation carries. When BOTH sketches
    are exact-regime the estimate IS the exact intersection.

    Plan/scale — never a pair-wise join at corpus scale:
    * ONE distinct shuffle on (event_type, user_id);
    * exact-intersection audit counts come from per-user sorted
      type-sets expanded IN-ROW (transform/slice pair explosion, the
      events_overlap_matrix idiom) — per-user fanout bounded by the
      label dimension squared, never a user-level self-join;
    * bottom-k compiles to WindowGroupLimit rank pushdown (map tasks
      emit <= k rows per group pre-shuffle);
    * everything downstream of the sketch is <= groups*k rows: the
      hash-membership pair expansion is in-row too, the pair frame is
      a 1-row collect_list explode, and every join is a broadcast of
      a groups^2-sized side;
    * the sketch is frozen once (shared_intermediate localCheckpoint,
      <= groups*k rows) so its three consumers read the checkpoint —
      the corpus is scanned exactly twice (audit pass + sketch pass),
      not once per consumer.

    Ref parity: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-4."""
    du = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    # exact intersection audit: in-row pair expansion per user
    ex = (
        du.groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("ts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (a, i) ->"
                    " transform(slice(ts, i + 2, size(ts)), b ->"
                    " struct(a AS type_a, b AS type_b))))"
                )
            ).alias("pr")
        )
        .groupBy("pr.type_a", "pr.type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_exact"))
    )
    dh = du.select(
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    bottom = (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "hv")
    )
    # Freeze the <= groups*k-row sketch: th / pairs / common all read
    # it, and without the checkpoint each consumer re-runs the
    # corpus-sized distinct+window subtree (3 redundant corpus
    # shuffles at 100 TB for a 320-row result).
    bottom = shared_intermediate("agg_theta_intersect.bottom", bottom)
    th = bottom.groupBy("event_type").agg(
        F.expr(
            f"CASE WHEN count(1) < {_KMV_K}"
            f" THEN CAST({_KMV_POW} AS BIGINT) ELSE max(hv) END"
        ).alias("theta")
    )
    # pair frame: groups-sized -> ONE row -> in-row pair explosion
    pairs = (
        th.select(F.struct("event_type", "theta").alias("gt"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("gt")).alias("gs"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(gs, (a, i) ->"
                    " transform(slice(gs, i + 2, size(gs)), b ->"
                    " struct(a.event_type AS type_a,"
                    " b.event_type AS type_b,"
                    " least(a.theta, b.theta) AS theta))))"
                )
            ).alias("pr")
        )
        .select("pr.type_a", "pr.type_b", "pr.theta")
    )
    # common-hash membership: in-row pair expansion per hash
    common = (
        bottom.groupBy("hv")
        .agg(F.array_sort(F.collect_set("event_type")).alias("ts"))
        .select(
            "hv",
            F.explode(
                F.expr(
                    "flatten(transform(ts, (a, i) ->"
                    " transform(slice(ts, i + 2, size(ts)), b ->"
                    " struct(a AS type_a, b AS type_b))))"
                )
            ).alias("pr"),
        )
        .join(
            F.broadcast(pairs.withColumnRenamed("theta", "th_min")),
            (F.col("pr.type_a") == F.col("type_a"))
            & (F.col("pr.type_b") == F.col("type_b")),
        )
        .filter(F.col("hv") < F.col("th_min"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        pairs.join(F.broadcast(common), ["type_a", "type_b"], "left")
        .join(F.broadcast(ex), ["type_a", "type_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .withColumn("inter_exact", F.coalesce("inter_exact", F.lit(0)))
        .select(
            "type_a",
            "type_b",
            "theta",
            "n_common",
            F.expr(
                f"CAST(CAST(n_common AS DECIMAL(38,0)) * {_KMV_POW}"
                " div theta AS BIGINT)"
            ).alias("inter_est"),
            "inter_exact",
        )
        .withColumn(
            "err_bp",
            F.expr(
                "CAST(abs(inter_est - inter_exact) * 10000"
                " div greatest(inter_exact, 1) AS BIGINT)"
            ),
        )
    )
