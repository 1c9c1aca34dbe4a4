"""Iterative K-means — the reference's entire algorithm
(``hadoop_tutorial/src/Kmeans.java:1-282``), re-architected for Spark.

Reference shape (per iteration): full MapReduce job; every task re-reads
the centroid file from HDFS (``src/Kmeans.java:39-46,186-216``); all raw
rows shuffle on cluster id with no combiner (``:79``); the reducer
buffers an entire cluster in RAM (``:93-97``); new centroids are written
back to HDFS by truncate-and-copy (``:259-276``).

This design: centroids are a k-row Python list embedded into the plan as
one k×dim *literal*, so

  * assignment is a pure projection — no join, no shuffle, no side-input
    I/O; one constant-shape SQL expression maps a distance lambda over
    the literal centers and takes the nearest;
  * each Lloyd round is ONE narrow pass with no Exchange: the assigned
    rows are written to the ``noop`` sink under ``observe``, whose
    metrics are k ``Summarizer`` vector means (weight = cluster
    membership, each guarded by its member count) and the total cost.
    The plan stays constant-size in dim. Each task folds its rows into
    partial summaries and the partials merge at the driver through the
    observation's accumulator — the shape of MLlib's per-partition
    aggregate — so only k×dim partial sums per task leave the
    executors, never raw vectors;
  * per round exactly one driver round trip of k centroid summaries
    (the observed metrics), and nothing data-sized on the driver (the
    input DataFrame is cached once and re-projected, so lineage never
    grows — no checkpoint needed).

At 100 TB: the scan is the only big cost per round and it is
embarrassingly parallel; the driver merges k·dim doubles per task.

Metrics (SURVEY.md §2.A):
  * ``sq_euclidean``      — Σ (a−b)²  (textbook)
  * ``sq_euclidean_abs``  — Σ (|a|−|b|)²  (the reference's exact metric,
    ``src/Kmeans.java:66-70``)
  * ``normalized_sq``     — Σ ((|a|−|b|)/(|a|+|b|))²  (draft variant,
    ``Kmeans/kmeans.java:59-71``)

Ties keep the lowest center index (reference uses strict ``<``,
``src/Kmeans.java:73-76``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.stat import Summarizer
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dround, sql_dround
from nchu_bigdata_spark.io import local_rows, table
from nchu_bigdata_spark.registry import register

Metric = str  # 'sq_euclidean' | 'sq_euclidean_abs' | 'normalized_sq'


def _pair_term_sql(metric: Metric) -> str:
    """Per-dimension distance term as a SQL lambda body over (x, y)."""
    if metric == "sq_euclidean":
        return "(x - y) * (x - y)"
    if metric == "sq_euclidean_abs":
        return "(abs(x) - abs(y)) * (abs(x) - abs(y))"
    if metric == "normalized_sq":
        return (
            "CASE WHEN abs(x) + abs(y) = 0.0D THEN 0.0D"
            " ELSE ((abs(x) - abs(y)) / (abs(x) + abs(y)))"
            " * ((abs(x) - abs(y)) / (abs(x) + abs(y))) END"
        )
    raise ValueError(f"unknown metric {metric!r}")


def _dlit(v: float) -> str:
    """Exact double literal: Python ``repr`` round-trips IEEE doubles
    and Spark parses them with ``Double.parseDouble`` — bit-identical
    to ``F.lit(float(v))``."""
    return repr(float(v)) + "D"


def distance_sql(vec_sql: str, center_sql: str, metric: Metric) -> str:
    """Distance between two array-typed SQL expressions, as a SQL
    string — a ``zip_with`` of per-dimension terms summed left to right
    by ``aggregate``.

    Built as text rather than stacked Column objects: a k×dim
    expression tree costs thousands of driver Py4J round-trips per
    ``assign``, while one SQL string is a single call parsed JVM-side."""
    return (
        f"aggregate(zip_with({vec_sql}, {center_sql},"
        f" (x, y) -> {_pair_term_sql(metric)}),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def assign(
    df: DataFrame,
    centers: list[list[float]],
    feature_col: str = "features",
    metric: Metric = "sq_euclidean",
    cluster_col: str = "cluster",
    dist_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment (ref A5–A8) as ONE projection.

    ``array_min(transform(<centers>, (c, i) -> struct(dist, i + 1)))``
    over one k×dim literal: struct ordering gives argmin with
    lowest-index tie-break. Cluster ids are 1-based like the reference's
    ``index+1`` (``src/Kmeans.java:79``).

    The expression has the same shape for every k and dim (only the
    literal grows), and the whole projection is one ``selectExpr`` — a
    single Py4J call instead of O(k·dim) round-trips.
    """
    vec_sql = f"transform(`{feature_col}`, v_ -> CAST(v_ AS DOUBLE))"
    lit = "array(" + ", ".join(
        "array(" + ", ".join(_dlit(v) for v in c) + ")" for c in centers
    ) + ")"
    best = (
        f"array_min(transform({lit}, (c_, i_) -> named_struct("
        f"'dist', {distance_sql(vec_sql, 'c_', metric)}, 'idx', i_ + 1)))"
    )
    # One select (not stacked withColumn): every Dataset construction
    # runs the analyzer eagerly, so two withColumns means two passes.
    exprs = [f"`{c}`" for c in df.columns if c not in (cluster_col, dist_col)]
    exprs.append(f"{best}.idx AS `{cluster_col}`")
    if dist_col:
        exprs.append(f"{best}.dist AS `{dist_col}`")
    return df.selectExpr(*exprs)


@dataclass
class KMeansResult:
    centers: list[list[float]]
    iterations: int
    costs: list[float]  # per-iteration total within-cluster cost
    converged: bool


def fit(
    df: DataFrame,
    init_centers: list[list[float]],
    feature_col: str = "features",
    metric: Metric = "sq_euclidean",
    max_iter: int = 5,
    tol: float | None = None,
) -> KMeansResult:
    """Lloyd iterations (ref A14, ``src/Kmeans.java:170-183``).

    ``tol=None`` reproduces the reference exactly: its convergence
    short-circuit is commented out (``src/Kmeans.java:254-257``), so it
    always runs ``max_iter`` full passes. With a tol, stops when the
    summed squared centroid delta (ref A13, ``compareCenters``,
    ``src/Kmeans.java:238-252``) falls below it.

    Empty clusters keep their previous centroid (the reference can never
    emit one — Hadoop reducers only see non-empty groups).

    Each round is one narrow noop-sink pass whose observed metrics are
    the k means, so no round shuffles or collects. A cluster's mean is
    guarded by its ``count_if``: an empty summary must not be evaluated,
    since Summarizer raises on it and the observation would never
    complete.
    """
    df = df.select(
        array_to_vector(
            F.expr(f"transform(`{feature_col}`, x -> CAST(x AS DOUBLE))")
        ).alias("_vec"),
        feature_col,
    ).cache()
    try:
        centers = [list(map(float, c)) for c in init_centers]
        # Built once per fit; every round observes the same columns.
        # Summarizer keeps the plan constant-size in dim (per-dim sums
        # would make Catalyst analyse an O(k·dim)-wide aggregate every
        # round), and it skips zero-weight rows, so weighting by
        # membership gives the same online mean as a per-cluster group.
        summary, vec = Summarizer.metrics("mean"), F.col("_vec")
        stats = [F.expr("sum(_dist)").alias("cost")]
        for i in range(1, len(centers) + 1):
            mean = summary.summary(
                vec, F.expr(f"CAST(cluster = {i} AS DOUBLE)")
            ).getField("mean")
            stats.append(
                F.when(F.expr(f"count_if(cluster = {i}) > 0"),
                       vector_to_array(mean)).alias(f"mean{i}")
            )
        costs: list[float] = []
        converged = False
        it = 0
        for it in range(1, max_iter + 1):
            obs = Observation()
            (
                assign(df, centers, feature_col, metric, dist_col="_dist")
                .observe(obs, *stats)
                .write.format("noop").mode("overwrite").save()
            )
            m = obs.get
            new_centers = [
                c if m[f"mean{i}"] is None else [float(v) for v in m[f"mean{i}"]]
                for i, c in enumerate(centers, start=1)
            ]
            costs.append(float(m["cost"] or 0.0))
            delta = sum(
                (a - b) * (a - b)
                for nc, oc in zip(new_centers, centers)
                for a, b in zip(nc, oc)
            )
            centers = new_centers
            if tol is not None and delta <= tol:
                converged = True
                break
        return KMeansResult(centers, it, costs, converged)
    finally:
        df.unpersist()


# --------------------------------------------------------------------------
# Registered queries over the driver's `embeddings` table
# --------------------------------------------------------------------------

_K = 4


def _seed_centers(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Deterministic k=4 seeds: the embeddings with vec_id 0..3 (mirrors
    the reference seeding from a small preset file,
    ``pm25.cluster.center.conf.txt:1-4``). k rows collected — the only
    driver-side materialization."""
    emb = table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < _K)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


@register(
    "kmeans_assign",
    tags=("b10", "ref-parity"),
    oracle=f"""
        WITH centers AS (
            SELECT vec_id AS cid, embedding AS cvec
            FROM embeddings WHERE vec_id < {_K}
        ),
        dists AS (
            SELECT e.vec_id,
                   c.cid + 1 AS cluster,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                             - CAST(c.cvec[i] AS DOUBLE)) ^ 2)) AS dist
            FROM embeddings e CROSS JOIN centers c
        ),
        best AS (
            SELECT vec_id, cluster, dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY dist, cluster
                   ) AS rn
            FROM dists
        )
        SELECT vec_id, CAST(cluster AS INT) AS cluster,
               CAST(ROUND(dist, 4) AS DECIMAL(18,4)) AS dist
        FROM best WHERE rn = 1
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (ref A5-A8) on `embeddings`, k=4
    centers seeded from vec_id 0..3."""
    centers = _seed_centers(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    out = assign(emb, centers, "embedding", "sq_euclidean", dist_col="dist")
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        dround("dist", 4).alias("dist"),
    )


def _lloyd_oracle_sql(iters: int = 5, k: int = _K) -> str:
    """Round-6 hard oracle for ``kmeans_fit``: replay Lloyd entirely in
    DuckDB by unrolling the ``iters`` iterations as CTE pairs
    (assignment → centroid update). Each assignment is the same
    cross-join argmin the ``kmeans_assign`` oracle uses (ties → lowest
    cluster id, matching the reference's strict ``<``); each update is
    an element-wise mean via zipped UNNEST + AVG, re-assembled with
    ``list(... ORDER BY i)``; empty clusters keep the previous centroid
    via LEFT JOIN + COALESCE, mirroring ``fit``'s carry-over. Per
    compat.py policy the only float outputs are 6-decimal-rounded
    centroid norms — iteration means differ between engines only in
    final ulps (double summation order), orders of magnitude below the
    rounding grid, and argmin decisions are robust to ulp noise."""
    dist = (
        "list_sum(list_transform(range(1, len(p.v) + 1),"
        " i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])))"
    )
    parts = [
        f"""
        pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        c0 AS (
            SELECT vec_id + 1 AS cluster,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings WHERE vec_id < {k}
        )"""
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(f"""
        a{t} AS (
            SELECT vec_id, v, cluster FROM (
                SELECT p.vec_id, p.v, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY {dist}, c.cluster
                       ) AS rn
                FROM pts p CROSS JOIN {prev} c
            ) WHERE rn = 1
        ),
        c{t} AS (
            SELECT pc.cluster, COALESCE(m.c, pc.c) AS c
            FROM {prev} pc LEFT JOIN (
                SELECT cluster, list(mv ORDER BY i) AS c FROM (
                    SELECT cluster, i, AVG(val) AS mv FROM (
                        SELECT cluster, UNNEST(v) AS val,
                               UNNEST(range(1, len(v) + 1)) AS i
                        FROM a{t}
                    ) GROUP BY cluster, i
                ) GROUP BY cluster
            ) m ON m.cluster = pc.cluster
        )""")
        prev = f"c{t}"
    parts.append(f"""
        lab AS (
            SELECT vec_id, cluster FROM (
                SELECT p.vec_id, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY {dist}, c.cluster
                       ) AS rn
                FROM pts p CROSS JOIN {prev} c
            ) WHERE rn = 1
        ),
        sizes AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n
            FROM lab GROUP BY cluster
        ),
        norms AS (
            SELECT cluster,
                   {sql_dround("sqrt(list_sum(list_transform(c, x -> x * x)))", 6)}
                       AS centroid_norm
            FROM {prev}
        )""")
    return (
        "WITH " + ",".join(parts) + """
        SELECT CAST(s.cluster AS INT) AS cluster, s.n, nm.centroid_norm
        FROM sizes s JOIN norms nm USING (cluster)
    """
    )


@register(
    "kmeans_fit",
    tags=("b10",),
    oracle=_lloyd_oracle_sql(),
)
def kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means fit (ref A10-A14): 5 fixed iterations like the reference
    (``README.md:18``), then a labeling pass; returns per-cluster sizes
    and centroid L2 norms. Hash-checked since round 6 against a full
    DuckDB Lloyd replay (``_lloyd_oracle_sql``) — previously rows-only;
    pytest additionally asserts cost monotonicity + size conservation
    and golden parity with the reference run."""
    import math

    centers = _seed_centers(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    res = fit(
        emb.select(F.col("embedding").alias("features")),
        centers,
        max_iter=5,
        metric="sq_euclidean",
    )
    labeled = assign(emb.withColumnRenamed("embedding", "features"), res.centers)
    sizes = labeled.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    # math.sqrt (correctly-rounded IEEE, same as DuckDB's sqrt) over a
    # left-fold sum — mirrors the oracle's sqrt(list_sum(...)); the
    # 6-decimal dround absorbs summation-order ulps per compat policy.
    norms = local_rows(
        spark,
        [
            (i + 1, math.sqrt(sum(v * v for v in c)))
            for i, c in enumerate(res.centers)
        ],
        "cluster int, centroid_norm double",
    )
    return sizes.join(norms, "cluster").select(
        F.col("cluster").cast("int"),
        "n",
        dround("centroid_norm", 6).alias("centroid_norm"),
    )


# --------------------------------------------------------------------------
# kmeans_init_parallel — k-means|| oversampling initialization (round 14)
# --------------------------------------------------------------------------

_INIT_ROUNDS = 2
_INIT_L = 4  # oversampling factor per round (Theta(k), k = 4 here)
_INIT_POW = 1_152_921_504_606_846_976  # 2^60 — md5 draw domain
_INIT_SCALE = 1_000_000  # d2 -> exact integer micro-units


def _init_oracle_sql() -> str:
    """Unrolled k-means|| replay: per round, min-distance to the
    current candidate set, phi as an EXACT integer sum of
    floor(d2*1e6), and the selection predicate h*phi < l*2^60*d2u as
    a pure HUGEINT comparison — the identical integers the Spark side
    compares (DECIMAL(38,0) there)."""
    d2 = (
        "list_sum(list_transform(range(1, len(p.v) + 1),"
        " i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i])))"
    )
    parts = [
        """
        pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        c0 AS (SELECT vec_id, 0 AS rnd, v FROM pts WHERE vec_id = 0)"""
    ]
    prev = "c0"
    for t in range(1, _INIT_ROUNDS + 1):
        parts.append(f"""
        d{t} AS (
            SELECT p.vec_id, MIN({d2}) AS d2
            FROM pts p CROSS JOIN {prev} c
            GROUP BY p.vec_id
        ),
        u{t} AS (
            SELECT vec_id,
                   CAST(FLOOR(d2 * {_INIT_SCALE}) AS BIGINT) AS d2u
            FROM d{t}
        ),
        phi{t} AS (SELECT CAST(SUM(d2u) AS HUGEINT) AS phi FROM u{t}),
        s{t} AS (
            SELECT u.vec_id, {t} AS rnd
            FROM u{t} u, phi{t}
            WHERE CAST(('0x' || substr(md5('init:{t}:' ||
                            u.vec_id::VARCHAR), 1, 15))::BIGINT
                       AS HUGEINT) * phi
                  < {_INIT_L}::HUGEINT * {_INIT_POW} * u.d2u
        ),
        c{t} AS (
            SELECT * FROM {prev}
            UNION ALL
            SELECT p.vec_id, s.rnd, p.v
            FROM pts p JOIN s{t} s USING (vec_id)
        )""")
        prev = f"c{t}"
    # candidate order: (round, vec_id); weights by argmin assignment
    parts.append(f"""
        cand AS (
            SELECT vec_id, rnd, v,
                   ROW_NUMBER() OVER (ORDER BY rnd, vec_id) AS ord
            FROM {prev}
        ),
        a AS (
            SELECT p.vec_id, c.ord,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {d2}, c.ord
                   ) AS rn
            FROM pts p CROSS JOIN cand c
        ),
        wts AS (
            SELECT ord, CAST(COUNT(*) AS BIGINT) AS weight
            FROM a WHERE rn = 1 GROUP BY ord
        )""")
    return (
        "WITH "
        + ",".join(parts)
        + """
        SELECT c.vec_id, CAST(c.rnd AS INT) AS round_added,
               COALESCE(w.weight, 0) AS weight
        FROM cand c LEFT JOIN wts w USING (ord)
        """
    )


@register("kmeans_init_parallel", tags=("b10", "ref-parity"),
          oracle=_init_oracle_sql())
def kmeans_init_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| initialization (Bahmani, Moseley, Vattani, Kumar &
    Vassilvitskii, VLDB '12) — the SCALABLE seeding the reference's
    k-means family lacks: instead of k sequential k-means++ passes
    (k full scans, inherently serial) or the reference's fixed
    preset-file seeds (``pm25.cluster.center.conf.txt``), each of R=2
    rounds oversamples ~l=4 points with probability proportional to
    their squared distance from the current candidate set, then the
    candidate set (≈ 1 + R·l points) is weighted by assignment counts
    — exactly what the paper's final recluster step consumes.

    Determinism without RNG state: point x is selected in round t iff
    h_x,t · phi < l · 2^60 · d2u_x, where h is a per-round md5 draw,
    d2u = floor(d2·1e6) an exact integer, and phi = SUM(d2u) an exact
    integer sum — the inequality is a pure DECIMAL(38,0)/HUGEINT
    comparison both engines replay identically (no division, no float
    threshold to straddle; already-selected candidates have d2u = 0,
    so re-selection is impossible by construction). The only floats
    are the d2 doubles themselves — fixed IEEE expression trees,
    identical on both engines up to the floor-grid, same policy as
    `kmeans_fit`'s certified Lloyd replay.

    Plan/scale: per round ONE narrow scan with the candidate set
    fused as literal projections (`assign`'s min distance — no join,
    no shuffle), one map-side-combined 1-row phi aggregate, and one
    expected-l-row candidate collect (the sanctioned ≤k-row driver
    state every kmeans op uses); the final weighting is the standard
    `assign` literal projection plus ONE keyed agg. Nothing
    data-sized ever sits on the driver, and rounds are O(1) scans —
    the whole point of k-means|| over k-means++ at 100 TB.

    Ref parity: extends ref A3/A5 (seed handling + assignment,
    ``hadoop_tutorial/src/Kmeans.java:50-130``) with the public
    scalable-init algorithm; capability-closure operator per
    SURVEY.md §2.B-10."""
    emb = table(spark, sf_dir, "embeddings")
    seed = (
        emb.filter(F.col("vec_id") == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    # (vec_id, round_added, vector) — candidate order is (round, vec_id)
    cands: list[tuple[int, int, list[float]]] = [
        (int(seed[0]["vec_id"]), 0, [float(x) for x in seed[0]["embedding"]])
    ]
    for t in range(1, _INIT_ROUNDS + 1):
        u = assign(
            emb, [c for _, _, c in cands], "embedding", "sq_euclidean",
            dist_col="d2",
        ).select(
            "vec_id",
            "embedding",
            F.expr(f"CAST(FLOOR(d2 * {_INIT_SCALE}) AS BIGINT)").alias("d2u"),
        )
        phi = int(
            u.agg(
                F.sum(F.col("d2u").cast("decimal(38,0)")).alias("phi")
            ).collect()[0]["phi"]
        )
        sel = (
            u.filter(
                F.expr(
                    "CAST(conv(substr(md5(concat('init:{t}:',"
                    " CAST(vec_id AS STRING))), 1, 15), 16, 10)"
                    " AS DECIMAL(38,0))".format(t=t)
                    + f" * CAST({phi} AS DECIMAL(38,0))"
                    f" < CAST({_INIT_L} AS DECIMAL(38,0))"
                    f" * CAST({_INIT_POW} AS DECIMAL(38,0))"
                    " * CAST(d2u AS DECIMAL(38,0))"
                )
            )
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        cands.extend(
            (int(r["vec_id"]), t, [float(x) for x in r["embedding"]])
            for r in sel
        )
    out = assign(
        emb,
        [c for _, _, c in cands],
        "embedding",
        "sq_euclidean",
        cluster_col="ord",
    )
    wts = out.groupBy("ord").agg(F.count(F.lit(1)).cast("long").alias("weight"))
    cand_df = local_rows(
        emb.sparkSession,
        [(vid, rnd, i + 1) for i, (vid, rnd, _) in enumerate(cands)],
        "vec_id long, round_added int, ord int",
    )
    return (
        cand_df.join(F.broadcast(wts), "ord", "left")
        .select(
            "vec_id",
            "round_added",
            F.coalesce("weight", F.lit(0).cast("long")).alias("weight"),
        )
    )
