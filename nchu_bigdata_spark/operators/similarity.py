"""Similarity search over ``embeddings`` (SURVEY.md §2.B-10 ``sim_topk``
and the ANN scale path; north-star LLM-data-pipeline surface).

The reference's k×N nearest-centroid scan (``hadoop_tutorial/src/
Kmeans.java:62-77``) is the 4-centroid special case of similarity
search; these operators generalize it to top-k retrieval over an
``array<float>`` embedding column:

  * ``sim_topk``           — exact brute-force cosine top-k (the recall
                             baseline), two-stage top-k so no single
                             reducer sees all candidates
  * ``sim_ann_ivf``        — IVF: coarse-quantize into cells, probe the
                             ``_NPROBE`` nearest cells only
  * ``dedup_embed_cosine`` — near-dup pairs via random-hyperplane LSH
                             buckets + exact cosine verification

Scale notes (100 TB):
  * Cosines are computed on *pre-normalized* scalars: each vector's
    norm is a narrow per-row expression computed once, so a pair costs
    one fused ``zip_with``/``aggregate`` fold (JVM codegen, no Python).
  * ``sim_topk`` relies on Spark's WindowGroupLimit rewrite for the
    classic two-stage TakeOrdered: each map partition pre-truncates to
    k rows per query before the exchange, so per-query shuffle fan-in
    is k×n_partitions, not N. Queries are tiny and broadcast; the big
    side is scanned once, never shuffled.
  * ``sim_ann_ivf`` is the honest 100 TB path: the big side shuffles
    once on cell id (→ cell-partitioned layout, in production persisted
    bucketed-by-cell so queries touch ``nprobe/ncells`` of the data).
  * LSH signatures are integer arithmetic over a quantized grid
    (``round(x·1e6)``) with md5-derived hyperplanes — bit-stable on any
    engine, which is what lets DuckDB replay them for the oracle.

Determinism: every ranking orders by ``(round(cos,6) DESC, vec_id)`` —
the rounded value is compared, so float noise below 1e-6 can't flip an
order across engines (dot products verified bit-identical anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dround, sql_dround
from nchu_bigdata_spark.io import local_rows, parallel_table
from nchu_bigdata_spark.materialize import shared_intermediate
from nchu_bigdata_spark.registry import register

_TOPK = 5
_NQUERY = 10  # query set = vec_id <= 10
_HARD_NEG_CAP = 1000  # hard-negative mining keeps the top-N hardest pairs
_NCELLS = 8  # IVF coarse centroids = vec_id 1.._NCELLS
_NPROBE = 2
_PLANES = 16  # LSH hyperplanes at the certified fixtures (4 bands x 4 bits)
_LSH_BANDS, _LSH_BITS = 4, 4
# Corpus-adaptive band width (round 9, scale-probe breach fix): FIXED
# 4-bit bands mean 16 buckets per band forever, so the avg bucket is
# n/16 and candidate pairs grow ~n²/32 per band — structurally
# quadratic (measured: 464k candidates for 509 true pairs at n=2000;
# 52.7x wall for 10x vectors via dedup_agreement). Band width now
# scales with the corpus: bits = clamp(ceil(log2(n / target)), 4, 62)
# holds the EXPECTED bucket size near _LSH_TARGET_BUCKET, so candidate
# volume stays ~n·bands·bucket/2 — linear in n at ANY corpus size
# (62 bits of bucket space covers n ≈ 10^21 at target occupancy; band
# values are computed per band, never packed into one signature word,
# so width is not limited by bands·bits ≤ 63). At the certified
# fixtures (n = 2000 vectors at both sf0.01 and sf0.1) the clamp floor
# keeps bits = 4 and planes = 16 — bit-identical to the fixed-width
# oracle chain; the first width step lands at n = 4001. Recall per
# band narrows as bits grow (match prob (1−θ/π)^bits); at 100 TB a
# deployment compensates with more bands — the knob `dedup_band_tuning`
# already measures — but bucket occupancy, not recall, is what breaks
# the engine, so occupancy is what auto-scales.
_LSH_TARGET_BUCKET = 250


def _lsh_bits(n: int) -> int:
    """Band width (bits) for a corpus of n vectors: smallest width
    whose expected bucket n/2^bits is ≤ _LSH_TARGET_BUCKET, clamped
    to [4, 62]. Floor 4 pins the certified fixtures to the oracle's
    fixed-width chain; 62 is the math bound (ONE band value must stay
    a positive BIGINT — band values are computed per band, never
    packed into a single signature word)."""
    import math

    if n <= _LSH_TARGET_BUCKET * 2**_LSH_BITS:
        return _LSH_BITS
    return min(62, math.ceil(math.log2(n / _LSH_TARGET_BUCKET)))
_COS_T = 0.4  # near-dup cosine threshold
_Q = 1_000_000  # integer quantization grid for LSH


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, v double[], n norm) — norm computed once per row."""
    e = parallel_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return e.select("vec_id", "label", v.alias("v")).withColumn(
        "n", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, z: acc + z
    )


def _cos(va: str, vb: str, na: str, nb: str) -> Column:
    """round(cos, 6) — ranked/compared only in rounded form."""
    return F.round(_dot(va, vb) / (F.col(na) * F.col(nb)), 6)


_SQL_E = """
        e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS n
            FROM embeddings
        )
"""


def _sql_cos(a: str, b: str) -> str:
    return f"ROUND(list_dot_product({a}.v, {b}.v) / ({a}.n * {b}.n), 6)"


# --------------------------------------------------------------------------
# sim_topk — exact brute-force cosine top-k (two-stage)
# --------------------------------------------------------------------------


# Oracle core for exact top-k, shared by sim_topk and ann_recall_eval
# (one definition so the recall oracle can never drift from the
# baseline it grades against). Expects the ``e`` CTE (_SQL_E) in scope.
_SQL_TOPK_CORE = f"""
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               CAST({_sql_cos('q', 'c')} AS DECIMAL(18,6)) AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_cos('q', 'c')} DESC, c.vec_id
               ) AS INT) AS rnk
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id <= {_NQUERY}
        QUALIFY rnk <= {_TOPK}
"""


@register(
    "sim_topk",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_E}
        {_SQL_TOPK_CORE}
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{k} cosine neighbors for each query vector (vec_id ≤
    {nq}) — the ANN recall baseline.

    Two-stage top-k via the OPTIMIZER, not by hand: Spark ≥3.5 rewrites
    a ``row_number() ≤ k`` filter into ``WindowGroupLimit`` — each map
    partition emits at most k rows per query BEFORE the exchange, so
    the per-query shuffle fan-in is k·n_partitions however large N
    grows, and the final sort sees only those survivors. Round 5's
    hand-salted stage-1 window duplicated exactly this (the optimizer
    applied WindowGroupLimit to BOTH windows, so the salt bought
    nothing and cost an extra exchange + sort — r6 drops it: 5
    exchanges → 3, −25% wall). The corpus side is broadcast-joined
    against the tiny query set — one scan, no shuffle of the big
    side. (If per-reducer fan-in k·n_partitions ever overwhelmed one
    reducer at extreme partition counts, AQE skew-split handles it —
    re-salting by hand would only re-add the exchange.)"""
    e = _vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") <= _NQUERY).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("n").alias("qn")
    )
    cand = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _cos("qv", "v", "qn", "n").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "q_id",
            "vec_id",
            F.col("cos_sim").cast("decimal(18,6)").alias("cos_sim"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# sim_ann_ivf — IVF coarse quantization + probe
# --------------------------------------------------------------------------


def _cos_lit_sql(v_col: str, n_col: str, cv: list[float], cn: float) -> str:
    """round(cos, 6) against ONE literal centroid, as a SQL string —
    ``repr`` round-trips IEEE doubles exactly, and one ``F.expr`` parse
    beats O(k·dim) Column-API Py4J round-trips (same rationale as
    ``operators/kmeans.py`` ``_dlit`` and ``distance_sql``)."""
    c = "array(" + ", ".join(repr(float(x)) + "D" for x in cv) + ")"
    return (
        f"round(aggregate(zip_with({v_col}, {c}, (x, y) -> x * y), 0.0D,"
        f" (acc, z) -> acc + z) / ({n_col} * {repr(float(cn))}D), 6)"
    )


# Oracle core for the IVF CTE chain (cent/assign/probe + final ranked
# select), shared by sim_ann_ivf and ann_recall_eval. Expects ``e``.
_SQL_IVF_CTES = f"""
        cent AS (SELECT vec_id AS c_id, v, n FROM e WHERE vec_id <= {_NCELLS}),
        assign AS (
            SELECT vec_id, cell, v, n FROM (
                SELECT e.vec_id, c.c_id AS cell, e.v, e.n,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_sql_cos('e', 'c')} DESC, c.c_id
                       ) AS rn
                FROM e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT q_id, cell, qv, qn FROM (
                SELECT q.vec_id AS q_id, c.c_id AS cell, q.v AS qv, q.n AS qn,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_sql_cos('q', 'c')} DESC, c.c_id
                       ) AS rn
                FROM e q CROSS JOIN cent c
                WHERE q.vec_id <= {_NQUERY}
            ) WHERE rn <= {_NPROBE}
        )
"""

_SQL_IVF_CORE = f"""
        SELECT q_id, vec_id, cos_sim, rnk FROM (
            SELECT p.q_id, a.vec_id,
                   CAST(ROUND(list_dot_product(p.qv, a.v) / (p.qn * a.n), 6)
                        AS DECIMAL(18,6)) AS cos_sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY p.q_id
                       ORDER BY ROUND(list_dot_product(p.qv, a.v)
                                      / (p.qn * a.n), 6) DESC, a.vec_id
                   ) AS INT) AS rnk
            FROM probe p JOIN assign a ON a.cell = p.cell
            WHERE a.vec_id <> p.q_id
        ) WHERE rnk <= {_TOPK}
"""


def _ivf_assign(spark: SparkSession, sf_dir: str, ncells: int = _NCELLS):
    """Shared IVF coarse-assignment derivation (sim_ann_ivf's core,
    also consumed by sim_ivf_balance and dedup_semdedup): returns
    (e, assign, probe_cells) where ``assign`` carries every vector's
    nearest-cell id from the fused array_min struct projection and
    ``probe_cells`` is the sorted-slice SQL for the _NPROBE nearest
    cells. ``ncells`` defaults to the fixed demo constant; callers
    with an occupancy contract (dedup_semdedup) pass an adaptive k."""
    e = _vecs(spark, sf_dir)
    cent = (
        e.filter(F.col("vec_id") <= ncells)
        .select(F.col("vec_id").alias("c_id"), "v", "n")
        .collect()
    )  # k = ncells rows — the sanctioned small-side driver collect
    # coalesce: a NULL cosine (zero-norm vector/centroid) must rank
    # LAST like the oracle's DESC NULLS LAST — a bare NULL struct field
    # would sort FIRST in array_min and steal every assignment.
    structs = ", ".join(
        f"named_struct('negcos', coalesce(-{_cos_lit_sql('v', 'n', r.v, r.n)},"
        f" cast('Infinity' as double)), 'c_id', {int(r.c_id)})"
        for r in sorted(cent, key=lambda r: r.c_id)
    )
    nearest_cell = f"(array_min(array({structs}))).c_id"
    probe_cells = (
        f"transform(slice(array_sort(array({structs})), 1, {_NPROBE}),"
        f" s -> s.c_id)"
    )
    assign = e.select("vec_id", "v", "n", F.expr(nearest_cell).alias("cell"))
    return e, assign, probe_cells


@register(
    "sim_ann_ivf",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_E},
        {_SQL_IVF_CTES}
        {_SQL_IVF_CORE}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-{k}: coarse-quantize every vector to its
    nearest of {c} centroid cells (here: the vectors with vec_id ≤ {c},
    deterministic; production would k-means them), then answer each
    query from its {p} nearest cells only.

    This is the 100 TB layout: the ONLY shuffle of the corpus is on
    cell id — persisted bucketed-by-cell in production, so a query
    scans nprobe/ncells of the data. Coarse assignment is a fused
    projection against the k collected centroid literals (the
    ``operators/kmeans.py assign`` pattern): ``array_min`` over k
    ``(−cos, c_id)`` structs gives the argmax with the oracle's
    (cos DESC, c_id) tie-break as a narrow, zero-shuffle,
    whole-stage-codegen expression — no k×N crossJoin row blowup, no
    ``row_number`` window over corpus×k rows. Probe cells come from
    the same struct array sorted and sliced to {p}. The centroid
    collect is k rows (sanctioned, like the k-means driver loop)."""
    e, assign, probe_cells = _ivf_assign(spark, sf_dir)
    # q_id × probed-cell rows: bounded at _NQUERY × _NPROBE, broadcast.
    probe = F.broadcast(
        e.filter(F.col("vec_id") <= _NQUERY).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("n").alias("qn"),
            F.explode(F.expr(probe_cells)).alias("cell"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        assign.join(probe, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _cos("qv", "v", "qn", "n").alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "q_id",
            "vec_id",
            F.col("cos_sim").cast("decimal(18,6)").alias("cos_sim"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# dedup_embed_cosine — random-hyperplane LSH + exact cosine verification
# --------------------------------------------------------------------------


# Shared LSH signature/banding CTE prefix (e → quantize → planes →
# sig → sig16 → bands): dedup_embed_cosine builds candidate PAIRS on
# top of it; sim_ann_lsh answers query top-k from the same buckets —
# one derivation, so the ANN path can never drift from the dedup path.
_SQL_LSH_BANDS_CTES = f"""
        {_SQL_E},
        qe AS (
            SELECT vec_id, v, n,
                   [CAST(ROUND(x * {_Q}, 0) AS BIGINT) FOR x IN v] AS qv
            FROM e
        ),
        planes AS (
            SELECT p, d,
                   CASE WHEN ('0x' || substr(md5(p::VARCHAR || '|' || d::VARCHAR),
                                             1, 8))::BIGINT % 2 = 1
                        THEN 1 ELSE -1 END AS coef
            FROM unnest(range({_PLANES})) AS rp(p),
                 unnest(range(64)) AS rd(d)
        ),
        sig AS (
            SELECT vec_id, p,
                   CASE WHEN SUM(coef * qv[d + 1]) > 0 THEN 1 ELSE 0 END AS bit
            FROM qe, unnest(range(64)) AS rd(d)
            JOIN planes USING (d)
            GROUP BY vec_id, p
        ),
        sig16 AS (
            SELECT vec_id,
                   SUM(bit * CAST(pow(2, p) AS BIGINT)) AS s
            FROM sig GROUP BY vec_id
        ),
        bands AS (
            SELECT vec_id, k,
                   (s // CAST(pow(2, k * {_LSH_BITS}) AS BIGINT))
                       % {2 ** _LSH_BITS} AS bv
            FROM sig16, unnest(range({_LSH_BANDS})) AS rk(k)
        )
"""

# Candidate-pair + exact-verify tail: dedup_embed_cosine SELECTs the
# pairs straight out; dedup_threshold_sweep re-aggregates the SAME
# chain (the _SQL_CC_CHAIN composition pattern), so the sensitivity
# curve can never drift from the dedup operator it tunes.
_SQL_EMBED_PAIRS_CHAIN = f"""

        WITH {_SQL_LSH_BANDS_CTES},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b
              ON a.k = b.k AND a.bv = b.bv AND a.vec_id < b.vec_id
        ),
        pairs AS (
            SELECT c.vec_a, c.vec_b,
                   CAST({_sql_cos('x', 'y')} AS DECIMAL(18,6)) AS cos_sim
            FROM cand c
            JOIN e x ON x.vec_id = c.vec_a
            JOIN e y ON y.vec_id = c.vec_b
            WHERE {_sql_cos('x', 'y')} >= {_COS_T}
        )
"""


_NVEC_CACHE: dict[tuple[str, tuple[tuple[str, int, int], ...]], int] = {}


def _embeddings_stamp(sf_dir: str) -> tuple[tuple[str, int, int], ...]:
    """Filesystem fingerprint of ``sf_dir``'s embeddings parquet —
    (relpath, size, mtime_ns) per data file. Cache key component so a
    rebuilt or grown corpus (e.g. the scale-probe writer refreshing an
    existing directory) invalidates the memoized count instead of
    silently sizing the adaptive band width for the OLD corpus
    (ADVICE r9)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    entries: list[tuple[str, int, int]] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, f)
                st = os.stat(fp)
                entries.append(
                    (os.path.relpath(fp, path), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(path):
        st = os.stat(path)
        entries.append((path, st.st_size, st.st_mtime_ns))
    return tuple(entries)


def _corpus_size(spark: SparkSession, sf_dir: str) -> int:
    """Vector count for ``sf_dir``, memoized: one parquet-metadata
    count job per directory per session — the scalar that sizes the
    adaptive band width (the k-row-centroid-collect class of
    sanctioned driver scalars). Keyed on (dir, file sizes+mtimes) so
    an in-session rewrite of embeddings.parquet is picked up."""
    key = (sf_dir, _embeddings_stamp(sf_dir))
    n = _NVEC_CACHE.get(key)
    if n is None:
        n = parallel_table(spark, sf_dir, "embeddings").count()
        _NVEC_CACHE[key] = n  # stale keys are dead ints, not stale answers
    return n


def _lsh_bands(spark: SparkSession, sf_dir: str):
    """Shared random-hyperplane LSH banding (Charikar '02): returns
    (e, bands) where ``bands`` is (vec_id, k, bv) — band k's
    bucket value for every vector, ``_lsh_bits(n)`` bits wide
    (corpus-adaptive: expected occupancy pinned near
    ``_LSH_TARGET_BUCKET``, so candidate volume stays linear in n;
    width 4 = the oracle's fixed chain at the certified fixtures).
    Signatures are exact integers: coordinates quantized to a 1e-6
    grid, hyperplane coefficients ±1 from md5(p|d) — bit-stable,
    oracle-replayable. Consumed by dedup_embed_cosine (candidate
    pairs) and sim_ann_lsh (query-time bucket probe): one
    derivation, two operators."""
    bits = _lsh_bits(_corpus_size(spark, sf_dir))
    planes = _LSH_BANDS * bits
    e = _vecs(spark, sf_dir)
    qe = e.withColumn(
        "qv", F.transform("v", lambda x: F.round(x * _Q, 0).cast("bigint"))
    )
    planes_df = F.broadcast(
        spark.range(planes)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(spark.range(64).select(F.col("id").cast("int").alias("d")))
        .select(
            "p",
            "d",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.col("p"), F.col("d"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                * 2
                - 1
            ).alias("coef"),
        )
    )
    sig = (
        qe.select("vec_id", F.posexplode("qv").alias("d", "qd"))
        .join(planes_df, "d")
        .groupBy("vec_id", "p")
        .agg(
            F.when(F.sum(F.col("coef") * F.col("qd")) > 0, 1)
            .otherwise(0)
            .alias("bit")
        )
    )
    # Band values computed DIRECTLY per (vec_id, band) — band k owns
    # planes [k·bits, (k+1)·bits) and its value is Σ bit_p·2^(p mod
    # bits) over them. Bit-identical to packing the whole signature
    # into one BIGINT and extracting bit ranges (the oracle's sig16
    # formulation, and this function's own form through round 9), but
    # one agg stage shorter (no pack → explode → extract) and with no
    # bands·bits ≤ 63 packing ceiling — each band value only needs
    # bits ≤ 62 on its own, so the adaptive width can keep bucket
    # occupancy bounded at any corpus size.
    bands = (
        sig.groupBy(
            "vec_id", F.expr(f"cast(p div {bits} as int)").alias("k")
        )
        .agg(
            F.sum(
                F.col("bit")
                * F.expr(f"cast(pow(2, p % {bits}) as bigint)")
            ).alias("bv")
        )
        .select("vec_id", "k", "bv")
    )
    return e, bands


@register(
    "dedup_embed_cosine",
    tags=("b10",),
    oracle=f"""
        {_SQL_EMBED_PAIRS_CHAIN}
        SELECT vec_a, vec_b, cos_sim FROM pairs
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH (Charikar '02)
    generates candidates, exact cosine ≥ {t} verifies.

    Signatures are exact integers (shared ``_lsh_bands`` derivation):
    narrow quantize → explode (vec × 64 dims) joined to the broadcast
    1024-row plane table → two hash-aggs (partial map-side) → tiny
    band self-join → exact verify on the candidate pairs only. The
    full O(N²) pair space is never materialized."""
    e, bands = _lsh_bands(spark, sf_dir)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["k", "bv"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    return (
        cand.join(
            e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na")),
            "vec_a",
        )
        .join(
            e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
            "vec_b",
        )
        .filter(_cos("va", "vb", "na", "nb") >= _COS_T)
        .select(
            "vec_a",
            "vec_b",
            _cos("va", "vb", "na", "nb").cast("decimal(18,6)").alias("cos_sim"),
        )
    )


# --------------------------------------------------------------------------
# embed_quantize — symmetric int8 vector quantization (+ audit scalars)
# --------------------------------------------------------------------------


@register(
    "embed_quantize",
    tags=("b10",),
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        s AS (
            SELECT vec_id, label, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e
        ),
        q AS (
            SELECT vec_id, label, scale,
                   CASE WHEN scale = 0
                        THEN list_transform(v, x -> 0)
                        ELSE list_transform(v, x -> CAST(greatest(-127.0,
                             least(127.0, floor(x / scale + 0.5))) AS BIGINT))
                   END AS qv,
                   CASE WHEN scale = 0
                        THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x -> abs(x - greatest(-127.0,
                             least(127.0, floor(x / scale + 0.5))) * scale))
                   END AS err
            FROM s
        )
        SELECT vec_id, label,
               {sql_dround("scale", 6)} AS scale_r,
               CAST(list_min(qv) AS INT) AS qmin,
               CAST(list_max(qv) AS INT) AS qmax,
               CAST(list_sum(qv) AS BIGINT) AS qsum,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                   AS qnorm2,
               {sql_dround("list_max(err)", 6)} AS max_err_r
        FROM q
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the compression step real ANN deployments run before indexing
    (float32 → int8 is 4× less storage/bandwidth; at 100 TB of
    embeddings that is the difference between an index that fits on the
    cluster and one that doesn't). scale = max|x|/127; q_i =
    clamp(⌊x_i/scale + 0.5⌋, ±127). Emits per-vector audit scalars
    (scale, q min/max, Σq, Σq² for int8 dot products, max
    reconstruction error ≤ scale/2) rather than the int8 array itself
    because the driver's canonicalizer bans collection outputs; the
    integer checksums pin the full quantized vector anyway (any
    element-level divergence moves Σq or Σq²).

    Plan: ONE narrow projection — abs/max/divide/floor are per-row
    higher-order array expressions, no shuffle, no Python; the only
    exchange is the single-row-group scan's fill-the-cluster round-robin
    guard (a no-op at production file counts). Determinism: every float
    step (cast, divide, floor(+0.5), multiply, abs, max) is a single
    IEEE-754 double op replayed identically by DuckDB — no summation-
    order hazard because the only sums are exact integers; floor(x+0.5)
    instead of round() sidesteps any half-even/half-up divergence."""
    e = parallel_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    s = e.select("vec_id", "label", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    )

    def qi(x: Column) -> Column:
        return F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / F.col("scale") + F.lit(0.5)).cast("double")),
        )

    q = s.select(
        "vec_id",
        "label",
        "scale",
        F.when(F.col("scale") == 0, F.transform("v", lambda x: F.lit(0).cast("bigint")))
        .otherwise(F.transform("v", lambda x: qi(x).cast("bigint")))
        .alias("qv"),
        F.when(F.col("scale") == 0, F.transform("v", lambda x: F.lit(0.0)))
        .otherwise(F.transform("v", lambda x: F.abs(x - qi(x) * F.col("scale"))))
        .alias("err"),
    )
    return q.select(
        "vec_id",
        "label",
        dround("scale", 6).alias("scale_r"),
        F.array_min("qv").cast("int").alias("qmin"),
        F.array_max("qv").cast("int").alias("qmax"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("qsum"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x * x).alias(
            "qnorm2"
        ),
        dround(F.array_max("err"), 6).alias("max_err_r"),
    )


# --------------------------------------------------------------------------
# ann_recall_eval — recall@k of the IVF index vs the exact baseline
# --------------------------------------------------------------------------


@register(
    "ann_recall_eval",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_E},
        exact AS (
        {_SQL_TOPK_CORE}
        ),
        {_SQL_IVF_CTES},
        approx AS (
        {_SQL_IVF_CORE}
        ),
        hits AS (
            SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM approx a JOIN exact x
              ON x.q_id = a.q_id AND x.vec_id = a.vec_id
            GROUP BY a.q_id
        )
        SELECT q.q_id,
               COALESCE(h.n_hits, 0) AS n_hits,
               {sql_dround(f"COALESCE(h.n_hits, 0) / CAST({_TOPK} AS DOUBLE)", 6)}
                   AS recall_at_k
        FROM (SELECT DISTINCT q_id FROM exact) q
        LEFT JOIN hits h ON h.q_id = q.q_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the IVF index against the exact brute-force
    baseline, per query — the quality gate every ANN deployment runs
    before trusting an index (tune nprobe/ncells until recall clears
    the bar, then ship). Composes the registered ``sim_topk`` (ground
    truth) and ``sim_ann_ivf`` (approximation) pipelines UNCHANGED and
    grades one against the other with a per-query semi-match count:
    recall = |approx ∩ exact| / k.

    Scale shape: both sub-pipelines keep their audited plans (corpus
    broadcast-scan for exact, cell-bucketed probe for IVF); the grading
    join is (nq·k)×(nq·k) rows — trivially AQE-broadcast — and the
    base/hits LEFT join keeps queries whose probed cells missed
    everything (recall 0) instead of silently dropping them. The
    oracle composes the SAME shared SQL cores the two sub-operators
    register (``_SQL_TOPK_CORE``/``_SQL_IVF_CORE``), so the graded
    baseline can never drift from the baseline operator."""
    exact = sim_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = sim_ann_ivf(spark, sf_dir).select("q_id", "vec_id")
    hits = (
        approx.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.select("q_id").distinct()
    return (
        base.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            dround(
                F.coalesce("n_hits", F.lit(0)) / F.lit(float(_TOPK)), 6
            ).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# embed_covariance — exact d×d covariance of the embedding corpus (round 7)
# --------------------------------------------------------------------------

_COV_SCALE = 1_000_000  # 1e-6 quantization grid for exact integer moments


@register(
    "embed_covariance",
    tags=("b10",),
    oracle=f"""
        -- Exact integer co-moments of 1e-6-quantized embedding values
        -- (agg_corr's policy extended to the d×d case): products and
        -- sums are 128-bit exact, the covariance doubles derive from
        -- identical integers with IEEE-exact ops — bit-identical.
        WITH ex AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) AS INT) AS i,
                   CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE)
                              * {_COV_SCALE}) AS BIGINT) AS x
            FROM embeddings
        ),
        m AS (
            SELECT a.i AS i, b.i AS j,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(a.x AS HUGEINT) * b.x) AS spp
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
            GROUP BY a.i, b.i
        ),
        s AS (SELECT i, SUM(CAST(x AS HUGEINT)) AS sv FROM ex GROUP BY i)
        SELECT m.i, m.j, CAST(m.n AS BIGINT) AS n,
               CAST(m.n * m.spp - si.sv * sj.sv AS DOUBLE)
                   / (CAST(m.n * (m.n - 1) AS DOUBLE) * 1e12) AS cov
        FROM m
        JOIN s si ON si.i = m.i
        JOIN s sj ON sj.i = m.j
    """,
)
def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample covariance matrix of the embedding corpus (upper
    triangle, tidy ``(i, j, n, cov)`` rows, 1-based dims) — the PCA /
    whitening / decorrelation precursor: eigendecompose the d×d result
    driver-side (d² is tiny) while the DATA-sized work stays
    distributed.

    Determinism: embedding values quantize to a 1e-6 grid as exact
    integers (identical ROUND of identical doubles on both engines —
    ties round away from zero on both); all co-moment sums are exact
    decimal/HUGEINT; the covariance double derives from identical
    integers via IEEE-exact cast/mul/div (agg_corr's policy, d×d).

    Plan: the d(d+1)/2 products per vector are ONE narrow
    nested-transform projection (no self-join of the exploded stream,
    no shuffle before aggregation) feeding a (i, j)-keyed hash agg —
    map-side partials collapse to d² rows. The per-dimension sums ride
    a second d-row agg joined back (broadcast). At 100 TB: one corpus
    scan, wire volume O(d² × tasks)."""
    emb = parallel_table(spark, sf_dir, "embeddings")
    d = F.size("embedding")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _COV_SCALE, 0).cast("long"),
    )
    rows = emb.select(q.alias("q"), d.alias("d"))
    pairs = F.flatten(
        F.transform(
            F.col("q"),
            lambda x, i: F.transform(
                F.slice(F.col("q"), i + 1, F.col("d") - i),
                lambda y, j: F.struct(
                    (i + 1).cast("int").alias("i"),
                    (i + j + 1).cast("int").alias("j"),
                    (x * y).alias("p"),
                ),
            ),
        )
    )
    exploded = rows.select(F.explode(pairs).alias("e")).select(
        "e.i", "e.j", "e.p"
    )
    m = exploded.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("p").cast("decimal(28,0)")).cast("decimal(38,0)").alias(
            "spp"
        ),
    )
    sv = (
        rows.select(F.posexplode("q").alias("i0", "x"))
        .groupBy((F.col("i0") + 1).cast("int").alias("i"))
        .agg(F.sum(F.col("x").cast("decimal(28,0)")).cast("decimal(38,0)").alias("sv"))
    )
    si = sv.select(F.col("i"), F.col("sv").alias("si"))
    sj = sv.select(F.col("i").alias("j"), F.col("sv").alias("sj"))
    # Precision bound (ADVICE r7): n*spp and si*sj are decimal(38,0)
    # products of ~1e12-scaled co-moments, so they stay exact up to
    # n ~ 1e13 rows for unit-range embeddings (|q| <= ~1e6) — two
    # orders above a 100 TB fp32-768d corpus (~1e11 rows). Past that,
    # ANSI-off decimal overflow would yield NULL while the HUGEINT
    # oracle stays exact; the guard below turns that silent divergence
    # into a loud failure on the d^2-row result (cost: one null test
    # per output row). A deeper rework would need 256-bit or
    # mean-centered double accumulation — not worth it under the bound.
    num_dec = F.col("n") * F.col("spp") - F.col("si") * F.col("sj")
    num = num_dec.cast("double")
    den = (F.col("n") * (F.col("n") - 1)).cast("double") * F.lit(1e12)
    guard = F.when(
        num_dec.isNull(),
        F.raise_error(
            F.lit(
                "embed_covariance: decimal(38,0) co-moment product "
                "overflowed (corpus beyond the ~1e13-row exact bound)"
            )
        ),
    ).otherwise(num / den)
    return (
        m.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            F.col("n").cast("long").alias("n"),
            guard.alias("cov"),
        )
    )


# --------------------------------------------------------------------------
# sim_mips — maximum-inner-product top-k (round 7)
# --------------------------------------------------------------------------


@register(
    "sim_mips",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_E}
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               CAST(ROUND(list_dot_product(q.v, c.v), 6)
                    AS DECIMAL(18,6)) AS ip,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_dot_product(q.v, c.v), 6) DESC,
                            c.vec_id
               ) AS INT) AS rnk
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id <= {_NQUERY}
        QUALIFY rnk <= {_TOPK}
    """,
)
def sim_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-k — the retrieval
    primitive for unnormalized embedding models (recommendation
    scoring, dual-encoder retrieval where magnitude carries salience).
    Distinct from ``sim_topk``: no normalization, so a long vector can
    out-score a better-aligned short one.

    Exact score here; the ANN-scale path is the norm-augmentation
    reduction (Bachrach et al., RecSys'14): append sqrt(M^2 - |x|^2) to
    corpus vectors and 0 to queries, and MIPS becomes cosine on the
    augmented space, so the IVF/LSH machinery of ``sim_ann_ivf`` /
    ``dedup_embed_cosine`` applies unchanged. That rank-equivalence is
    pinned by a unit test (`test_round7_ops.py`) rather than run
    cross-engine, because recovering the raw dot from the augmented
    cosine re-rounds twice — the exact boundary-straddle hazard the
    oracle policy forbids.

    Plan: identical two-stage WindowGroupLimit shape as ``sim_topk``
    (optimizer-rewritten row_number <= k: each map partition emits at
    most k rows per query before the exchange); the corpus scans once
    against a broadcast query set."""
    e = _vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") <= _NQUERY).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    cand = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(_dot("qv", "v"), 6).alias("ip"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("ip").desc(), "vec_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "q_id",
            "vec_id",
            F.col("ip").cast("decimal(18,6)").alias("ip"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# embed_norm_stats — per-label vector-norm distribution (round 8)
# --------------------------------------------------------------------------

_NORM_SCALE = 1_000  # 1e-3 quantization grid for exact integer norms


@register(
    "embed_norm_stats",
    tags=("b10",),
    oracle=f"""
        WITH q AS (
            SELECT label,
                   list_sum(list_transform(embedding::DOUBLE[],
                       x -> CAST(round(x * {_NORM_SCALE}) AS BIGINT)
                            * CAST(round(x * {_NORM_SCALE}) AS BIGINT)
                   )) AS norm2
            FROM embeddings
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(norm2) AS BIGINT) AS min_norm2,
               CAST(MAX(norm2) AS BIGINT) AS max_norm2,
               CAST(SUM(norm2) AS BIGINT) AS sum_norm2
        FROM q GROUP BY label
    """,
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label distribution of embedding squared L2 norms — the
    embedding-health diagnostic (norm collapse, scale drift between
    encoder versions, label clusters with degenerate magnitude) run
    before any cosine/MIPS index is built. Norm statistics decide
    whether MIPS and cosine even differ (``sim_mips`` doc) and
    calibrate the ``embed_quantize`` scale.

    Determinism: components quantize to a 1e-3 grid as exact integers
    (the ``embed_covariance`` policy, coarser grid — round-half-away
    identical on both engines), squared norms are exact int64 sums of
    64 such squares, and min/max/sum over them are exact.

    Plan/scale: per-row higher-order array expression (transform +
    aggregate, whole-stage codegen, zero Python) followed by ONE
    map-side-combining hash agg over label cardinality — one scan, one
    tiny shuffle."""
    emb = parallel_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _NORM_SCALE, 0).cast("long"),
    )
    norm2 = F.aggregate(
        q, F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )
    return (
        emb.select("label", norm2.alias("norm2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("norm2").alias("min_norm2"),
            F.max("norm2").alias("max_norm2"),
            F.sum("norm2").cast("long").alias("sum_norm2"),
        )
    )


# --------------------------------------------------------------------------
# embed_outliers — exact distance-to-centroid outlier probe (round 8)
# --------------------------------------------------------------------------

_OUT_SCALE = 1_000  # component quantization (embed_norm_stats policy)
_OUT_TOP = 10


@register(
    "embed_outliers",
    tags=("b10",),
    oracle=f"""
        -- top-{_OUT_TOP} farthest embeddings from the global centroid,
        -- EXACT: components quantize to integers (round(x·10³), the
        -- embed_norm_stats policy), and the rational centroid Σq/n is
        -- never materialized — distance² is cross-multiplied to
        -- Σ_d (n·q_d − S_d)², an integer that orders vectors exactly
        -- (n² times the true quantized distance²). The mislabeled/
        -- corrupted-input probe run before any kNN index trusts the
        -- embedding space.
        WITH q AS (
            SELECT vec_id, label, d,
                   CAST(round(x * {_OUT_SCALE}) AS BIGINT) AS qx
            FROM (
                SELECT vec_id, label,
                       unnest(embedding::DOUBLE[]) AS x,
                       unnest(range(len(embedding))) AS d
                FROM embeddings
            )
        ),
        s AS (SELECT d, SUM(qx) AS sd, COUNT(*) AS n FROM q GROUP BY d),
        dist AS (
            SELECT q.vec_id, MAX(q.label) AS label,
                   SUM((CAST(s.n AS HUGEINT) * q.qx - s.sd)
                       * (CAST(s.n AS HUGEINT) * q.qx - s.sd))
                       AS dist2_n2
            FROM q JOIN s USING (d)
            GROUP BY q.vec_id
        )
        SELECT vec_id, label, CAST(dist2_n2 AS DOUBLE) AS dist2_scaled
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY dist2_n2 DESC, vec_id) AS rk
            FROM dist
        ) WHERE rk <= {_OUT_TOP}
    """,
)
def embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 embeddings farthest from the global centroid — the
    mislabeled/corrupted-input probe a pipeline runs before trusting
    the embedding space with kNN dedup or ANN search. EXACT under
    quantization: components round to int (·10³), and instead of the
    rational centroid Σq/n the comparison uses the cross-multiplied
    integer Σ_d (n·q_d − S_d)² — the same order as true distance², no
    division, no floats until the final display cast (dist2_n2 can
    exceed int64 at corpus scale — n·q ~ 10¹² at 10⁹ rows — so the
    legs run in decimal(38,0)/HUGEINT; the output column is DOUBLE
    because the driver canonicalizes decimals anyway and the MAGNITUDE
    is display-only — the ORDER was already settled exactly).

    Plan/scale: posexplode to (vec, dim) rows (64× fanout of narrow
    int rows — the standard vector-columnar trade); per-dim sums are a
    64-row broadcast joined back; per-vector distance is one hash agg;
    the global top-k window runs over vector cardinality only. For
    100 TB, dimension sums are partial-aggregable so the centroid pass
    is one map-side-combined shuffle — never a driver collect (the
    kmeans ≤k-row collect exemption isn't even needed)."""
    emb = parallel_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("d", "x"),
    ).select(
        "vec_id",
        "label",
        "d",
        F.expr(f"CAST(round(CAST(x AS DOUBLE) * {_OUT_SCALE}) AS BIGINT)").alias("qx"),
    )
    s = q.groupBy("d").agg(
        F.sum("qx").alias("sd"), F.count(F.lit(1)).alias("n")
    )
    dist = (
        q.join(F.broadcast(s), "d")
        .groupBy("vec_id")
        .agg(
            F.max("label").alias("label"),
            F.sum(
                F.expr(
                    "(CAST(n AS decimal(38,0)) * qx - sd)"
                    " * (CAST(n AS decimal(38,0)) * qx - sd)"
                )
            ).alias("dist2_n2"),
        )
    )
    from pyspark.sql import Window as _W

    rk = F.row_number().over(
        _W.orderBy(F.col("dist2_n2").desc(), F.col("vec_id"))
    )
    return (
        dist.withColumn("rk", rk)
        .where(F.col("rk") <= _OUT_TOP)
        .drop("rk")
        .select(
            "vec_id",
            "label",
            F.col("dist2_n2").cast("double").alias("dist2_scaled"),
        )
    )


# --------------------------------------------------------------------------
# dq_embed_drift — per-dimension embedding drift monitor (round 8)
# --------------------------------------------------------------------------

_ED_SCALE = 1_000  # 1e-3 quantization grid (embed_norm_stats policy)


@register(
    "dq_embed_drift",
    tags=("b10",),
    oracle=f"""
        -- per-dimension embedding drift: split the corpus into two
        -- halves (vec_id parity — the retrain-vs-baseline proxy) and
        -- score each dimension's mean shift WITHOUT materializing
        -- rational means: shift_num = |S1·n2 − S2·n1| is the cross-
        -- multiplied numerator of |μ1 − μ2| · n1 · n2 — an exact
        -- integer that ranks dimensions identically to the true mean
        -- gap (same denominator for every dim). The encoder-drift
        -- check beside dq_drift's event-histogram TV distance.
        WITH q AS (
            SELECT vec_id % 2 AS half, d,
                   CAST(round(x * {_ED_SCALE}) AS BIGINT) AS qx
            FROM (
                SELECT vec_id,
                       unnest(embedding::DOUBLE[]) AS x,
                       unnest(range(len(embedding))) AS d
                FROM embeddings
            )
        ),
        s AS (
            SELECT d,
                   SUM(CASE WHEN half = 0 THEN qx ELSE 0 END) AS s1,
                   SUM(CASE WHEN half = 1 THEN qx ELSE 0 END) AS s2,
                   SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
                   SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
            FROM q GROUP BY d
        )
        SELECT CAST(d AS BIGINT) AS dim,
               CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
               CAST(ABS(CAST(s1 AS HUGEINT) * n2
                        - CAST(s2 AS HUGEINT) * n1) AS DOUBLE)
                   AS shift_num
        FROM s
    """,
)
def dq_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift monitor: split the corpus into
    two halves (vec_id parity, standing in for baseline-vs-retrained
    encoder output) and score each dimension's mean shift — the
    embedding-space analogue of `dq_drift`'s event-histogram check,
    run before a new encoder's vectors are allowed into a shared ANN
    index (a shifted dimension silently re-ranks every cosine).

    Exactness: components quantize to the 1e-3 grid
    (`embed_norm_stats` policy); the rational means are never
    materialized — shift_num = |S1·n2 − S2·n1| is the cross-multiplied
    numerator of |μ1 − μ2|·n1·n2, an exact integer with the SAME
    denominator for every dimension, so it ranks dimensions exactly.
    Routed through decimal(38,0)/HUGEINT (the events_rfm overflow
    policy) and emitted as DOUBLE on both engines — bit-stable while
    shift_num < 2^53 (≈3×10⁶ rows per half at the milli grid; DuckDB's
    HUGEINT→DOUBLE is not correctly rounded past that — r7 finding;
    envelope asserted by tests/test_precision_bounds.py). At corpus
    scale keep shift_num as BIGINT instead of casting.

    Plan/scale: posexplode + ONE conditional hash agg to dimension
    cardinality (64 rows) — the half split is a projection, not a
    join; partial aggregation collapses everything map-side. One
    scan, one tiny shuffle, at any corpus size."""
    emb = parallel_table(spark, sf_dir, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * _ED_SCALE, 0).cast(
                    "long"
                ),
            )
        ).alias("d", "qx"),
    )
    s = q.groupBy(F.col("d").cast("long").alias("dim")).agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("half") == 0, F.col("qx")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("half") == 1, F.col("qx")).otherwise(0))
        .cast("long")
        .alias("s2"),
    )
    return s.select(
        "dim",
        "n1",
        "n2",
        "s1",
        "s2",
        F.expr(
            "CAST(abs(CAST(s1 AS decimal(38,0)) * n2"
            " - CAST(s2 AS decimal(38,0)) * n1) AS DOUBLE)"
        ).alias("shift_num"),
    )


# --------------------------------------------------------------------------
# sim_ivf_balance — IVF cell-load balance diagnostic (round 8)
# --------------------------------------------------------------------------


@register(
    "sim_ivf_balance",
    tags=("b10",),
    oracle=f"""
        -- IVF cell-load balance: per-cell corpus counts from the SAME
        -- assignment CTE sim_ann_ivf registers (shared SQL — the
        -- diagnostic can't drift from the index it diagnoses).
        -- load_ratio_bp = n·ncells/total in bp: 10000 = perfectly
        -- balanced; a hot cell (>> 10000) means probe cost spikes for
        -- every query routed there — the tune-ncells-before-shipping
        -- readout beside ann_recall_eval's recall gate.
        WITH {_SQL_E},
        {_SQL_IVF_CTES}
        SELECT CAST(cell AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(COUNT(*) * 10000 // SUM(COUNT(*)) OVER ()
                    AS BIGINT) AS share_bp,
               CAST(COUNT(*) * {_NCELLS} * 10000 // SUM(COUNT(*)) OVER ()
                    AS BIGINT) AS load_ratio_bp
        FROM assign GROUP BY cell
    """,
)
def sim_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-load balance diagnostic: how evenly the coarse
    quantizer spreads the corpus across its cells. load_ratio_bp =
    n·ncells/total in basis points — 10000 is perfect balance; a hot
    cell means every query probing it pays its size, and a near-empty
    cell wastes a centroid. Paired with `ann_recall_eval` (recall)
    this is the other half of the tune-before-shipping loop
    (re-train centroids / raise ncells until both clear).

    Composition is literal: the per-vector cell ids come from the
    SHARED `_ivf_assign` derivation `sim_ann_ivf` itself uses (and
    the oracle reuses the registered `assign` CTE), so the diagnostic
    can never drift from the index it diagnoses.

    Plan/scale: the fused array_min assignment is a zero-shuffle
    codegen projection; the balance rollup is ONE hash agg to ncells
    rows plus a window over those ncells rows only."""
    _, assign, _ = _ivf_assign(spark, sf_dir)
    c = assign.groupBy(F.col("cell").cast("long").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return c.select(
        "cell",
        "n_vectors",
        F.expr(
            "CAST(n_vectors * 10000 div sum(n_vectors) over () AS BIGINT)"
        ).alias("share_bp"),
        F.expr(
            f"CAST(n_vectors * {_NCELLS} * 10000 div sum(n_vectors) over ()"
            " AS BIGINT)"
        ).alias("load_ratio_bp"),
    )


# --------------------------------------------------------------------------
# dedup_threshold_sweep — cosine-threshold sensitivity curve (round 8)
# --------------------------------------------------------------------------

# Threshold ladder in basis points: 0.40 (the operator's floor) to
# 0.90 by 0.05. Comparing cos_sim * 10000 >= t_bp keeps the compare
# in exact DECIMAL arithmetic — no float threshold to straddle.
_SWEEP_LO_BP = 4_000
_SWEEP_STEP_BP = 500
_SWEEP_N = 11


@register(
    "dedup_threshold_sweep",
    tags=("b10",),
    oracle=f"""
        {_SQL_EMBED_PAIRS_CHAIN},
        lad AS (
            SELECT {_SWEEP_LO_BP} + {_SWEEP_STEP_BP} * i AS t_bp
            FROM unnest(range({_SWEEP_N})) AS r(i)
        ),
        hit AS (
            SELECT t_bp, vec_a, vec_b FROM lad
            JOIN pairs ON cos_sim * 10000 >= t_bp
        ),
        np AS (
            SELECT t_bp, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM hit GROUP BY t_bp
        ),
        nd AS (
            SELECT t_bp, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
            FROM (SELECT t_bp, vec_a AS d FROM hit
                  UNION ALL SELECT t_bp, vec_b FROM hit)
            GROUP BY t_bp
        )
        SELECT lad.t_bp,
               CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
        FROM lad
        LEFT JOIN np ON lad.t_bp = np.t_bp
        LEFT JOIN nd ON lad.t_bp = nd.t_bp
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-threshold sensitivity curve for embedding dedup: for a
    ladder of thresholds 0.40..0.90, how many near-dup pairs survive
    and how many documents they touch. Choosing the dedup threshold
    is THE practical near-dup question (too low deletes distinct
    docs, too high ships duplicates), and the defensible way to
    choose is to look at the whole curve — a knee in n_pairs(t) marks
    where true duplicates separate from topical neighbors.

    Composition is literal (the `dedup_cluster_stats` pattern): the
    engine re-aggregates the registered `dedup_embed_cosine` output
    UNCHANGED, and the oracle re-aggregates the SAME shared LSH chain
    (`_SQL_EMBED_PAIRS_CHAIN`) — the curve can never drift from the
    dedup operator it tunes. The threshold compare runs on
    ``cos_sim * 10000 >= t_bp`` in exact DECIMAL — no float
    boundaries anywhere.

    Caveat by design: candidates below the LSH floor (0.40) are not
    in the curve — the sweep tunes WITHIN the operator's recall
    envelope, which is the decision actually available at 100 TB
    (rebanding is a different, more expensive knob).

    Plan/scale: the pair stream (already verified, tiny vs corpus)
    crossed with an 11-row broadcast ladder, two hash aggs, and a
    ladder-sized merge join — everything past the shared chain is
    bounded by 11 x pairs. r14: the verified pair stream is frozen
    once (shared_intermediate) — the n_pairs and n_docs branches both
    scan it, and without the freeze the whole LSH + verify pipeline
    ran twice per query (guide §2.4: shared subtrees compute once)."""
    pairs = shared_intermediate(
        "threshold_sweep.pairs", dedup_embed_cosine(spark, sf_dir)
    )
    lad = F.broadcast(
        spark.range(_SWEEP_N).select(
            (_SWEEP_LO_BP + _SWEEP_STEP_BP * F.col("id"))
            .cast("long")
            .alias("t_bp")
        )
    )
    hit = pairs.crossJoin(lad).filter(
        F.col("cos_sim") * 10000 >= F.col("t_bp")
    )
    np_ = hit.groupBy("t_bp").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    nd = (
        hit.select(
            "t_bp", F.explode(F.array("vec_a", "vec_b")).alias("d")
        )
        .groupBy("t_bp")
        .agg(F.countDistinct("d").cast("long").alias("n_docs"))
    )
    base = spark.range(_SWEEP_N).select(
        (_SWEEP_LO_BP + _SWEEP_STEP_BP * F.col("id"))
        .cast("long")
        .alias("t_bp")
    )
    return (
        base.join(np_, "t_bp", "left")
        .join(nd, "t_bp", "left")
        .select(
            "t_bp",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------------
# embed_separability — per-label scatter diagnostics (round 8)
# --------------------------------------------------------------------------


@register(
    "embed_separability",
    tags=("b10",),
    oracle=f"""
        -- label-separability scatter diagnostics over the embedding
        -- space, EXACT by the scatter identity: with coordinates
        -- quantized to the {_Q} grid (the dedup_embed_cosine LSH
        -- grid), the within-label sum of squared distances to the
        -- label centroid obeys n·W = n·Σ||x||² − ||Σx||² — pure
        -- integer arithmetic, no centroid floats ever materialize.
        -- msd_within vs centroid_norm² is the per-label Fisher-style
        -- read: tight clusters far from the origin separate; diffuse
        -- clusters near it don't — checked BEFORE anyone trusts a
        -- label classifier or label-stratified ANN probes.
        WITH e AS (
            SELECT label,
                   [CAST(ROUND(x * {_Q}, 0) AS BIGINT)
                    FOR x IN embedding::DOUBLE[]] AS qv
            FROM embeddings
        ),
        per AS (
            SELECT label,
                   CAST(list_sum(list_transform(qv, x -> x * x))
                        AS HUGEINT) AS p
            FROM e
        ),
        lab AS (
            SELECT label, CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(p) AS HUGEINT) AS pp
            FROM per GROUP BY label
        ),
        dims AS (
            SELECT label, i,
                   CAST(SUM(qv[i + 1]) AS HUGEINT) AS s
            FROM e, unnest(range(64)) AS r(i)
            GROUP BY label, i
        ),
        s2 AS (
            SELECT label, CAST(SUM(s * s) AS HUGEINT) AS s2
            FROM dims GROUP BY label
        )
        SELECT lab.label,
               CAST(lab.n AS BIGINT) AS n_vecs,
               CAST((lab.n * lab.pp - s2.s2) // (lab.n * lab.n)
                    AS BIGINT) AS msd_within_q2,
               CAST(s2.s2 // (lab.n * lab.n) AS BIGINT)
                   AS centroid_norm2_q2
        FROM lab JOIN s2 ON s2.label = lab.label
    """,
)
def embed_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separability scatter diagnostics: per label, the mean
    squared distance of its vectors to their OWN centroid
    (within-label scatter) and the squared norm of that centroid —
    the Fisher-style read that says whether the label structure is
    geometrically real BEFORE anyone trusts a label classifier,
    label-stratified ANN probes, or `kmeans_fit` initialized from
    labels (tight clusters far from the origin separate; diffuse
    clusters near it don't, whatever the classifier's accuracy
    claims).

    Exactness by the scatter identity: with coordinates on the {q}
    quantization grid (`dedup_embed_cosine`'s LSH grid), the
    within-label sum of squares obeys n·W = n·Σ||x||² − ||Σx||², so
    NO centroid is ever materialized in float — both outputs are
    floor-divided exact integers in grid² units, 128-bit
    intermediates per the `events_rfm` policy.

    Plan/scale: one per-row codegen'd ||qx||² projection + a
    label-keyed agg; the dim sums are a (label x 64)-cardinality agg
    off a posexplode — label-count-sized outputs, never a pairwise
    anything."""
    e = _vecs(spark, sf_dir).select(
        "label",
        F.transform(
            "v", lambda x: F.round(x * _Q, 0).cast("long")
        ).alias("qv"),
    )
    per = e.select(
        "label",
        F.expr(
            "CAST(aggregate(qv, CAST(0 AS decimal(38,0)),"
            " (acc, x) -> acc + CAST(x AS decimal(38,0)) * x)"
            " AS decimal(38,0))"
        ).alias("p"),
    )
    lab = per.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("p").cast("decimal(38,0)").alias("pp"),
    )
    dims = (
        e.select("label", F.posexplode("qv").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
    )
    s2 = dims.groupBy("label").agg(
        F.sum(F.expr("CAST(s * s AS decimal(38,0))")).alias("s2")
    )
    return lab.join(s2, "label").select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        F.expr(
            "CAST((n * pp - s2) div (n * n) AS BIGINT)"
        ).alias("msd_within_q2"),
        F.expr("CAST(s2 div (n * n) AS BIGINT)").alias(
            "centroid_norm2_q2"
        ),
    )


# --------------------------------------------------------------------------
# sample_smote_midpoints — synthetic minority augmentation (round 8)
# --------------------------------------------------------------------------


@register(
    "sample_smote_midpoints",
    tags=("b8",),
    oracle=f"""
        {_SQL_EMBED_PAIRS_CHAIN},
        lab AS (SELECT vec_id, label FROM embeddings),
        same AS (
            SELECT p.vec_a, p.vec_b, la.label
            FROM pairs p
            JOIN lab la ON la.vec_id = p.vec_a
            JOIN lab lb ON lb.vec_id = p.vec_b
            WHERE la.label = lb.label
        ),
        q AS (
            SELECT vec_id,
                   [CAST(ROUND(x * {_Q}, 0) AS BIGINT)
                    FOR x IN embedding::DOUBLE[]] AS qv
            FROM embeddings
        ),
        dims AS (
            SELECT s.vec_a, s.vec_b, s.label, r.i,
                   qa.qv[r.i + 1] + qb.qv[r.i + 1] AS m2
            FROM same s
            JOIN q qa ON qa.vec_id = s.vec_a
            JOIN q qb ON qb.vec_id = s.vec_b,
            unnest(range(64)) AS r(i)
        )
        -- SMOTE-style synthesis restricted to VERIFIED same-label
        -- near-dup pairs (the embed-cosine chain): the midpoint of a
        -- near-pair stays on the class manifold, where a random-pair
        -- midpoint (vanilla SMOTE's failure mode) can land between
        -- clusters. DOUBLED-midpoint convention: m2 = qa + qb on the
        -- quantization grid — exact, divisionless, no negative-floor
        -- hazard; consumers halve at use time.
        SELECT vec_a, vec_b, label,
               CAST(SUM(m2) AS BIGINT) AS sum_q2,
               CAST(SUM(m2 * m2) AS BIGINT) AS norm2_q2,
               CAST(MIN(m2) AS BIGINT) AS min_q2,
               CAST(MAX(m2) AS BIGINT) AS max_q2
        FROM dims GROUP BY vec_a, vec_b, label
    """,
)
def sample_smote_midpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOTE-style synthetic augmentation, restricted to VERIFIED
    same-label near-duplicate pairs: each `dedup_embed_cosine` pair
    whose endpoints share a label yields one synthetic vector at
    their midpoint. The near-pair restriction is the point — vanilla
    SMOTE interpolates between a point and a RANDOM same-class
    neighbor, which on multi-cluster classes lands synthetic points
    in the empty space between clusters; a verified cosine-near pair
    stays on the class manifold by construction.

    DOUBLED-midpoint convention (the med2 policy, vectorized):
    the synthesized vector is qa + qb on the {q} quantization grid —
    exact integer, NO division, so there is no floor-vs-truncate
    hazard on negative coordinates; consumers halve at use time. The
    output carries the four exact audit moments (sum / squared norm /
    min / max of the doubled midpoint) instead of the array itself —
    the driver's canonicalizer rejects list columns by design (the
    `embed_quantize` precedent).

    Composition: pairs come from the registered `dedup_embed_cosine`
    UNCHANGED; the oracle re-runs the same certified chain.

    Plan/scale: pair-table-sized joins against the quantized vectors
    (two id-keyed hash joins), one zip_with projection — synthesis
    volume = near-pair volume, never corpus²."""
    pairs = dedup_embed_cosine(spark, sf_dir).select("vec_a", "vec_b")
    e = _vecs(spark, sf_dir)
    lab = e.select("vec_id", "label")
    q = e.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x * _Q, 0).cast("long")
        ).alias("qv"),
    )
    same = (
        pairs.join(
            lab.select(
                F.col("vec_id").alias("vec_a"),
                F.col("label").alias("label_a"),
            ),
            "vec_a",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("vec_b"),
                F.col("label").alias("label_b"),
            ),
            "vec_b",
        )
        .filter(F.col("label_a") == F.col("label_b"))
        .select("vec_a", "vec_b", F.col("label_a").alias("label"))
    )
    j = same.join(
        q.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa")),
        "vec_a",
    ).join(
        q.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb")),
        "vec_b",
    )
    # audit scalars, not the array itself: the driver's canonicalizer
    # rejects list columns by design (the embed_quantize precedent) —
    # the four exact moments pin the synthesized vector without it
    return j.select(
        "vec_a",
        "vec_b",
        "label",
        F.expr(
            "CAST(aggregate(zip_with(qa, qb, (x, y) -> x + y),"
            " CAST(0 AS BIGINT), (acc, m) -> acc + m) AS BIGINT)"
        ).alias("sum_q2"),
        F.expr(
            "CAST(aggregate(zip_with(qa, qb, (x, y) -> x + y),"
            " CAST(0 AS BIGINT), (acc, m) -> acc + m * m) AS BIGINT)"
        ).alias("norm2_q2"),
        F.expr(
            "CAST(array_min(zip_with(qa, qb, (x, y) -> x + y))"
            " AS BIGINT)"
        ).alias("min_q2"),
        F.expr(
            "CAST(array_max(zip_with(qa, qb, (x, y) -> x + y))"
            " AS BIGINT)"
        ).alias("max_q2"),
    )


# --------------------------------------------------------------------------
# sim_nprobe_sweep — IVF probe-depth recall/cost ladder (round 8)
# --------------------------------------------------------------------------

_SWEEP_NPROBES = [1, 2, 3, 4]


def _nprobe_sweep_oracle() -> str:
    """Per-nprobe unrolled replay: the probe4 ranking is shared, each
    ladder entry filters it at its own depth — the same
    one-assignment-many-configs economics the Spark plan has."""
    ctes = [
        f"exact AS (\n{_SQL_TOPK_CORE}\n        )",
        f"cent AS (SELECT vec_id AS c_id, v, n FROM e"
        f" WHERE vec_id <= {_NCELLS})",
        f"""assign AS (
            SELECT vec_id, cell, v, n FROM (
                SELECT e.vec_id, c.c_id AS cell, e.v, e.n,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_sql_cos('e', 'c')} DESC, c.c_id
                       ) AS rn
                FROM e CROSS JOIN cent c
            ) WHERE rn = 1
        )""",
        f"""probe4 AS (
            SELECT q_id, cell, prank, qv, qn FROM (
                SELECT q.vec_id AS q_id, c.c_id AS cell,
                       q.v AS qv, q.n AS qn,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_sql_cos('q', 'c')} DESC, c.c_id
                       ) AS prank
                FROM e q CROSS JOIN cent c
                WHERE q.vec_id <= {_NQUERY}
            ) WHERE prank <= {max(_SWEEP_NPROBES)}
        )""",
        """cand AS (
            SELECT p.q_id, p.prank, a.vec_id,
                   list_dot_product(p.qv, a.v) / (p.qn * a.n) AS cs
            FROM probe4 p JOIN assign a ON a.cell = p.cell
            WHERE a.vec_id <> p.q_id
        )""",
    ]
    per = []
    for p in _SWEEP_NPROBES:
        # (q_id, vec_id) is UNIQUE in cand — every corpus vector lives
        # in exactly one cell — so counting and grading need no dedup
        per.append(
            f"""r{p} AS (
            SELECT CAST({p} AS BIGINT) AS nprobe,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates,
                   CAST(SUM(CASE WHEN t.rnk <= {_TOPK}
                                 AND x.vec_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q_id
                           ORDER BY cs DESC, vec_id) AS rnk
                FROM cand WHERE prank <= {p}
            ) t
            LEFT JOIN exact x
              ON x.q_id = t.q_id AND x.vec_id = t.vec_id
        )"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM r{p}" for p in _SWEEP_NPROBES)
    tot = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM exact)"
    return (
        "WITH " + _SQL_E + ",\n        "
        + ",\n        ".join(ctes + per)
        + f"""
        SELECT nprobe, n_candidates, n_hits,
               CAST({tot} AS BIGINT) AS n_exact,
               CAST(n_hits * 10000 // {tot} AS BIGINT) AS recall_bp
        FROM ({union})"""
    )


@register("sim_nprobe_sweep", tags=("b10",), oracle=_nprobe_sweep_oracle())
def sim_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-depth sweep: recall@{k} and candidate-scan COST for
    nprobe = 1..4 over the SAME coarse assignment — the tuning table
    behind every IVF deployment's one real knob. Recall alone
    (`ann_recall_eval` grades the shipped config) doesn't answer
    "is the next probe worth it"; this table pairs each recall gain
    with the extra candidates scanned, which IS the query-latency
    price, so the knee is visible (diminishing recall per candidate).

    One-assignment-many-configs economics (the `dedup_band_tuning`
    move): vectors assign to cells ONCE, queries rank all cells ONCE
    (probe ranks 1..4), and each ladder entry is a FILTER at its
    depth plus a per-query rank — never a re-assignment, never a
    re-scan. The oracle unrolls the identical ladder over the shared
    exact/assign SQL cores.

    Plan/scale: the corpus shuffles once on cell id; the 4x ladder
    rides the probe-rank column; per-(query, depth) rank windows run
    over candidate cardinality. Exactness: integer counts and one
    floor-div bp; the cosine ordering reuses the certified
    `_cos` / `_sql_cos` expression pair."""
    e, assign, _ = _ivf_assign(spark, sf_dir)
    cent = (
        e.filter(F.col("vec_id") <= _NCELLS)
        .select(F.col("vec_id").alias("c_id"), "v", "n")
        .collect()
    )
    structs = ", ".join(
        f"named_struct('negcos', coalesce(-{_cos_lit_sql('v', 'n', r.v, r.n)},"
        f" cast('Infinity' as double)), 'c_id', {int(r.c_id)})"
        for r in sorted(cent, key=lambda r: r.c_id)
    )
    probe_arr = (
        f"transform(slice(array_sort(array({structs})), 1,"
        f" {max(_SWEEP_NPROBES)}), s -> s.c_id)"
    )
    probes = (
        e.filter(F.col("vec_id") <= _NQUERY)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("n").alias("qn"),
            F.posexplode(F.expr(probe_arr)).alias("prank0", "cell"),
        )
        .select("q_id", "qv", "qn", (F.col("prank0") + 1).alias("prank"), "cell")
    )
    cand = (
        probes.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "prank",
            "vec_id",
            _cos("qv", "v", "qn", "n").alias("cs"),
        )
    )
    exact = sim_topk(spark, sf_dir).select("q_id", "vec_id")
    n_exact = exact.count()  # nq*k-sized metadata, sanctioned
    lad = F.broadcast(
        local_rows(
            spark, [(int(p),) for p in _SWEEP_NPROBES], "nprobe long"
        )
    )
    deep = cand.crossJoin(lad).filter(F.col("prank") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("cs"), "vec_id"
    )
    t = deep.select(
        "nprobe", "q_id", "vec_id", F.row_number().over(w).alias("rnk")
    )
    graded = t.join(
        exact.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left"
    )
    return graded.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(
            ((F.col("rnk") <= _TOPK) & F.col("hit").isNotNull())
            .cast("long")
        )
        .cast("long")
        .alias("n_hits"),
        F.lit(n_exact).cast("long").alias("n_exact"),
        F.expr(
            f"CAST(sum(CASE WHEN rnk <= {_TOPK} AND hit IS NOT NULL"
            f" THEN 1 ELSE 0 END) * 10000 div {n_exact} AS BIGINT)"
        ).alias("recall_bp"),
    )


# --------------------------------------------------------------------------
# sample_hard_negatives — contrastive hard-negative mining (round 8)
# --------------------------------------------------------------------------


@register(
    "sample_hard_negatives",
    tags=("b8",),
    oracle=f"""
        {_SQL_EMBED_PAIRS_CHAIN},
        lab AS (SELECT vec_id, label FROM embeddings)
        -- hard-negative mining for contrastive training: the verified
        -- high-cosine pairs whose LABELS DIFFER — exactly the
        -- complement of sample_smote_midpoints' filter over the same
        -- certified chain. Random negatives are trivially easy and
        -- teach nothing; the pairs a cosine index already confuses
        -- are where the margin is learned. Ranked hardest-first with
        -- the deterministic (cos desc, pair) order, CAPPED at the
        -- top {_HARD_NEG_CAP} (a mined set is a training artifact,
        -- not a scan — the cap is the product contract).
        SELECT * FROM (
            SELECT p.vec_a, p.vec_b,
                   la.label AS label_a, lb.label AS label_b,
                   p.cos_sim,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY p.cos_sim DESC, p.vec_a, p.vec_b
                   ) AS BIGINT) AS hardness_rank
            FROM pairs p
            JOIN lab la ON la.vec_id = p.vec_a
            JOIN lab lb ON lb.vec_id = p.vec_b
            WHERE la.label <> lb.label
        ) WHERE hardness_rank <= {_HARD_NEG_CAP}
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: the verified
    high-cosine pairs whose LABELS DIFFER — precisely the complement
    of `sample_smote_midpoints`' same-label filter over the same
    certified LSH chain. Random negatives are trivially easy and
    teach a contrastive model nothing; the pairs the cosine geometry
    ALREADY CONFUSES are where the decision margin gets learned
    (triplet/InfoNCE mining 101), and ranking them hardest-first is
    the curriculum. The two operators together split every verified
    near-pair into "merge these" (same label) and "separate these"
    (different label) — the full supervision signal one LSH pass can
    mint.

    Determinism: the rank orders by the certified decimal cos_sim
    with the (vec_a, vec_b) tie-break — bit-stable cross-engine.

    Plan/scale: pair-volume-bounded label joins; the mined set is
    CAPPED at the top {_HARD_NEG_CAP} hardest pairs, so the
    row_number ≤ cap filter compiles to WindowGroupLimit — every
    task pre-prunes to its local top-cap heap BEFORE the exchange,
    and the final rank window sorts at most tasks×cap rows, never
    the full cross-label pair set (a mined set is a bounded
    training artifact, not a scan — the r8 uncapped global rank was
    the repo's one remaining fact-cardinality single-task sort)."""
    pairs = dedup_embed_cosine(spark, sf_dir)
    lab = _vecs(spark, sf_dir).select("vec_id", "label")
    j = (
        pairs.join(
            lab.select(
                F.col("vec_id").alias("vec_a"),
                F.col("label").alias("label_a"),
            ),
            "vec_a",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("vec_b"),
                F.col("label").alias("label_b"),
            ),
            "vec_b",
        )
        .filter(F.col("label_a") != F.col("label_b"))
    )
    w = Window.orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HARD_NEG_CAP)
        .select(
            "vec_a",
            "vec_b",
            "label_a",
            "label_b",
            "cos_sim",
            F.col("rn").cast("long").alias("hardness_rank"),
        )
    )


# --------------------------------------------------------------------------
# sim_ann_lsh — LSH-bucketed approximate top-k (round 8)
# --------------------------------------------------------------------------


@register(
    "sim_ann_lsh",
    tags=("b10",),
    oracle=f"""
        -- LSH-bucketed ANN: each query's candidate set is every
        -- vector sharing AT LEAST ONE of its {_LSH_BANDS} band
        -- buckets (the same banding dedup_embed_cosine prunes pairs
        -- with -- shared CTE prefix, one derivation); exact cosine
        -- reranks the candidates to top-{_TOPK}. The LSH counterpart
        -- of sim_ann_ivf's cell probe.
        WITH {_SQL_LSH_BANDS_CTES},
        cand AS (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
            FROM bands q
            JOIN bands c ON c.k = q.k AND c.bv = q.bv
                        AND c.vec_id <> q.vec_id
            WHERE q.vec_id <= {_NQUERY}
        )
        SELECT q_id, vec_id, cos_sim, rnk FROM (
            SELECT cd.q_id, cd.vec_id,
                   CAST({_sql_cos('q', 'a')} AS DECIMAL(18,6)) AS cos_sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY cd.q_id
                       ORDER BY {_sql_cos('q', 'a')} DESC, cd.vec_id
                   ) AS INT) AS rnk
            FROM cand cd
            JOIN e q ON q.vec_id = cd.q_id
            JOIN e a ON a.vec_id = cd.vec_id
        ) WHERE rnk <= {_TOPK}
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-{_TOPK}: each query vector probes
    its {_LSH_BANDS} band buckets (random-hyperplane signatures, the
    SAME _lsh_bands derivation dedup_embed_cosine prunes pairs
    with — one signature pipeline serves both dedup and search), and
    exact cosine reranks the union of those buckets. The LSH
    counterpart of sim_ann_ivf: IVF probes nearest CELLS of a
    learned coarse quantizer; LSH probes HASH buckets that need no
    training and update incrementally — the right trade when the
    corpus distribution shifts faster than you can re-train centroids.

    Plan/scale: the query side folds to (q_id × {_LSH_BANDS} bands)
    rows — broadcast; the corpus band table is the ONLY shuffle
    (bucketed-by-band in production, so a query touches its buckets
    only); candidates dedup on (q_id, vec_id) BEFORE the exact-cosine
    rerank, and the row_number ≤ k filter compiles to
    WindowGroupLimit (sim_topk's two-stage shape). Recall is tunable
    by bands×bits exactly like dedup's — ``dedup_band_tuning`` reads
    the same trade-off curve this operator lives on."""
    e, bands = _lsh_bands(spark, sf_dir)
    qb = F.broadcast(
        bands.filter(F.col("vec_id") <= _NQUERY).select(
            F.col("vec_id").alias("q_id"), "k", "bv"
        )
    )
    cand = (
        bands.join(qb, ["k", "bv"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        cand.join(
            e.select(
                F.col("vec_id").alias("q_id"),
                F.col("v").alias("qv"),
                F.col("n").alias("qn"),
            ),
            "q_id",
        )
        .join(e, "vec_id")
        .select("q_id", "vec_id", _cos("qv", "v", "qn", "n").alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "q_id",
            "vec_id",
            F.col("cos_sim").cast("decimal(18,6)").alias("cos_sim"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# embed_pca_power — top principal direction by power iteration (round 8)
# --------------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_Q = 1000  # embedding quantization grid (1e-3)
_PCA_SCALE = 1_000_000  # vector renormalization scale


def _pca_oracle() -> str:
    """Unrolled power-iteration CTE chain (the pagerank pattern on a
    matrix-vector recurrence): v0 = all-ones, each round
    w = Xᵀ(Xv) over the quantized integer matrix, then the exact
    integer renormalization v' = sign(w)·(|w|·SCALE // max|w|)."""
    ctes = [
        _SQL_E.strip().rstrip(),
        f"""qe AS (
            SELECT vec_id,
                   [CAST(ROUND(x * {_PCA_Q}, 0) AS BIGINT) FOR x IN v] AS qv
            FROM e
        )""",
        "dims AS (SELECT unnest(range(64)) AS d)",
        f"v0 AS (SELECT d, CAST({_PCA_SCALE} AS HUGEINT) AS vv FROM dims)",
    ]
    for i in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""dot{i} AS (
                SELECT q.vec_id,
                       CAST(SUM(q.qv[t.d + 1] * t.vv) AS HUGEINT) AS dt
                FROM qe q CROSS JOIN v{i - 1} t GROUP BY q.vec_id
            )"""
        )
        ctes.append(
            f"""w{i} AS (
                SELECT t.d AS d,
                       CAST(SUM(q.qv[t.d + 1] * dd.dt) AS HUGEINT) AS w
                FROM qe q JOIN dot{i} dd USING (vec_id)
                CROSS JOIN dims t
                GROUP BY t.d
            )"""
        )
        ctes.append(f"m{i} AS (SELECT MAX(ABS(w)) AS mx FROM w{i})")
        ctes.append(
            f"""v{i} AS (
                SELECT d,
                       CASE WHEN w < 0
                            THEN -(((-w) * {_PCA_SCALE}) // mx)
                            ELSE (w * {_PCA_SCALE}) // mx END AS vv
                FROM w{i}, m{i}
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT CAST(d AS BIGINT) AS dim,"
        f" CAST(vv AS BIGINT) AS loading_scaled FROM v{_PCA_ITERS}"
    )


@register("embed_pca_power", tags=("b10",), oracle=_pca_oracle())
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by POWER
    ITERATION — the dominant-variance axis behind whitening,
    anisotropy diagnostics ("are my embeddings collapsing onto one
    direction?"), and PCA-based dimensionality reduction. Exactly
    _PCA_ITERS rounds of the v ← Xᵀ(Xv) recurrence from the all-ones
    start, each followed by integer renormalization to max|v| =
    _PCA_SCALE — the k-means/pagerank bounded-iteration framing, so
    the output is deterministic and oracle-replayable (power iteration
    converges geometrically in the spectral-gap ratio; production
    would loop to a tolerance with the same per-round plan).

    Exactness: coordinates quantize to a 1e-3 integer grid; both
    matrix-vector products are integer sums (decimal(38,0) / HUGEINT),
    and the renormalization is the explicit sign-split floor division
    sign(w)·(|w|·SCALE div max|w|) — written the same way on both
    engines so truncation direction can never diverge on negative
    components. No float in the whole recurrence.

    Plan/scale: Xv is one explode + broadcast-join (the 64-row v) +
    vec_id-keyed agg; Xᵀ(Xv) is one join back on vec_id + a 64-group
    agg — per round two shuffles whose reduce side is |V| and 64 rows
    respectively; v itself never exceeds 64 rows (checkpointed per
    round). The driver never sees the data — unlike the classic
    numpy-on-driver PCA, this runs at any N."""
    e = _vecs(spark, sf_dir)
    qe = e.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x * _PCA_Q, 0).cast("bigint")
        ).alias("qv"),
    )
    qx = shared_intermediate(
        "pca_qx", qe.select("vec_id", F.posexplode("qv").alias("d", "qd"))
    )
    vdf = spark.range(64).select(
        F.col("id").cast("int").alias("d"),
        F.lit(_PCA_SCALE).cast("decimal(38,0)").alias("vv"),
    )
    for i in range(1, _PCA_ITERS + 1):
        dots = (
            qx.join(F.broadcast(vdf), "d")
            .groupBy("vec_id")
            .agg(F.sum(F.expr("CAST(qd AS decimal(38,0)) * vv")).alias("dt"))
        )
        w = (
            qx.join(dots, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.expr("CAST(qd AS decimal(38,0)) * dt")).alias("w"))
        )
        mx = w.select("d", "w", F.max(F.abs("w")).over(Window.partitionBy()).alias("mx"))
        vdf = mx.select(
            "d",
            F.expr(
                f"CAST(CASE WHEN w < 0"
                f" THEN -(((-w) * {_PCA_SCALE}) div mx)"
                f" ELSE (w * {_PCA_SCALE}) div mx END AS decimal(38,0))"
            ).alias("vv"),
        )
        vdf = shared_intermediate(f"pca_v_{i}", vdf)
    return vdf.select(
        F.col("d").cast("long").alias("dim"),
        F.col("vv").cast("long").alias("loading_scaled"),
    )


# --------------------------------------------------------------------------
# embed_matryoshka_eval — truncated-embedding fidelity audit (round 8)
# --------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)


@register(
    "embed_matryoshka_eval",
    tags=("b10",),
    oracle=f"""
        -- Matryoshka truncation audit: how much does cosine
        -- similarity move when vectors are cut to their first k dims
        -- (the MRL deployment question: serve 8/16/32 dims instead
        -- of 64 and save memory/bandwidth -- at what fidelity cost)?
        -- Evaluated on the exact top-{_TOPK} pairs of each query
        -- (the pairs that MATTER for retrieval), against the full-
        -- width cosine. Both cosines ride the shared round(,6)
        -- policy, so their difference is an exact DECIMAL scaled to
        -- 1e-6 integer units.
        WITH {_SQL_E},
        pairs AS (
            {_SQL_TOPK_CORE}
        ),
        k AS (SELECT unnest(ARRAY{list(_MRL_DIMS)}) AS kd),
        d AS (
            SELECT k.kd AS k_dims,
                   CAST(ABS(
                       CAST(ROUND(list_dot_product(q.v[1:k.kd], c.v[1:k.kd])
                            / (sqrt(list_dot_product(q.v[1:k.kd],
                                                     q.v[1:k.kd]))
                               * sqrt(list_dot_product(c.v[1:k.kd],
                                                       c.v[1:k.kd]))), 6)
                            AS DECIMAL(18,6))
                       - p.cos_sim) * 1000000 AS BIGINT) AS diff_e6
            FROM pairs p
            JOIN e q ON q.vec_id = p.q_id
            JOIN e c ON c.vec_id = p.vec_id
            CROSS JOIN k
        )
        SELECT CAST(k_dims AS INT) AS k_dims,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(diff_e6) AS BIGINT) AS sum_abs_diff_e6,
               CAST(MAX(diff_e6) AS BIGINT) AS max_abs_diff_e6,
               CAST(SUM(diff_e6) // COUNT(*) AS BIGINT) AS mean_abs_diff_e6
        FROM d GROUP BY k_dims
    """,
)
def embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: how much does cosine
    similarity move when embeddings are cut to their first k dims —
    the deployment question behind serving 8/16/32-dim prefixes of a
    64-dim model to save index memory and bandwidth. Evaluated where
    it matters: on each query's EXACT top-{k} neighbor pairs (the
    retrieval-critical pairs), comparing truncated-prefix cosine to
    full-width cosine at k ∈ {ks}.

    Exactness: both cosines ride the module's shared round(,6)
    policy (IEEE-exact dot/sqrt/div then one ROUND), so their
    difference is an exact DECIMAL — scaled to integer 1e-6 units and
    aggregated with integer sums. mean = one integer floor divide.

    Plan/scale: the pair set is |queries|·k rows (WindowGroupLimit
    two-stage top-k, sim_topk's audited shape); the per-k explode
    multiplies that TINY set by {nk} — never the corpus; the corpus
    is touched once to fetch the pair endpoints' vectors (two
    broadcast-friendly joins)."""
    e = _vecs(spark, sf_dir)
    # exact top-k pairs: reuse the registered sim_topk result shape
    from nchu_bigdata_spark.registry import REGISTRY

    pairs = REGISTRY["sim_topk"].fn.__wrapped__(spark, sf_dir).select(
        "q_id", "vec_id", "cos_sim"
    )
    kdf = F.explode(
        F.array(*[F.lit(k) for k in _MRL_DIMS])
    ).alias("k_dims")
    withv = (
        pairs.join(
            e.select(
                F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
            ),
            "q_id",
        )
        .join(
            e.select("vec_id", F.col("v").alias("cv")),
            "vec_id",
        )
        .select("q_id", "vec_id", "cos_sim", "qv", "cv", kdf)
    )
    tq = F.expr("slice(qv, 1, k_dims)")
    tc = F.expr("slice(cv, 1, k_dims)")
    tcos = F.round(
        _dot(tq, tc) / (F.sqrt(_dot(tq, tq)) * F.sqrt(_dot(tc, tc))), 6
    ).cast("decimal(18,6)")
    d = withv.select(
        "k_dims",
        (F.abs(tcos - F.col("cos_sim")) * 1_000_000)
        .cast("long")
        .alias("diff_e6"),
    )
    return d.groupBy("k_dims").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("diff_e6").cast("long").alias("sum_abs_diff_e6"),
        F.max("diff_e6").cast("long").alias("max_abs_diff_e6"),
        F.expr("CAST(SUM(diff_e6) div COUNT(*) AS BIGINT)").alias(
            "mean_abs_diff_e6"
        ),
    ).select(
        F.col("k_dims").cast("int").alias("k_dims"),
        "n_pairs",
        "sum_abs_diff_e6",
        "max_abs_diff_e6",
        "mean_abs_diff_e6",
    )


# --------------------------------------------------------------------------
# sim_rrf_fusion — reciprocal-rank fusion of IVF + LSH lists (round 8)
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_SCALE = 1_000_000_000


def _rrf_oracle() -> str:
    """Composes the registered IVF and LSH oracle chains UNCHANGED
    (the _SQL_CC_CHAIN composition pattern) and fuses their ranked
    lists with integer RRF scores."""
    lsh_noe = _SQL_LSH_BANDS_CTES[_SQL_LSH_BANDS_CTES.find("qe AS") :]
    return f"""
        WITH {_SQL_E},
        {_SQL_IVF_CTES},
        ivf AS ({_SQL_IVF_CORE}),
        {lsh_noe},
        lcand AS (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
            FROM bands q
            JOIN bands c ON c.k = q.k AND c.bv = q.bv
                        AND c.vec_id <> q.vec_id
            WHERE q.vec_id <= {_NQUERY}
        ),
        lsh AS (
            SELECT q_id, vec_id, rnk FROM (
                SELECT cd.q_id, cd.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY cd.q_id
                           ORDER BY {_sql_cos('q', 'a')} DESC, cd.vec_id
                       ) AS rnk
                FROM lcand cd
                JOIN e q ON q.vec_id = cd.q_id
                JOIN e a ON a.vec_id = cd.vec_id
            ) WHERE rnk <= {_TOPK}
        ),
        u AS (
            SELECT q_id, vec_id, rnk FROM ivf
            UNION ALL
            SELECT q_id, vec_id, rnk FROM lsh
        ),
        s AS (
            SELECT q_id, vec_id,
                   CAST(SUM({_RRF_SCALE} // ({_RRF_K} + rnk)) AS BIGINT)
                       AS rrf_scaled,
                   CAST(COUNT(*) AS BIGINT) AS n_lists
            FROM u GROUP BY q_id, vec_id
        )
        SELECT q_id, vec_id, rrf_scaled, n_lists, rnk FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY rrf_scaled DESC, vec_id
            ) AS INT) AS rnk FROM s
        ) WHERE rnk <= {_TOPK}
    """


@register("sim_rrf_fusion", tags=("b10",), oracle=_rrf_oracle())
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the IVF and LSH candidate lists —
    the standard way to combine retrievers with incomparable scores
    (Cormack 2009, what hybrid lexical+vector search runs in every
    modern RAG stack): each list contributes 1/(k+rank), k={k},
    summed per (query, candidate), so a candidate surfaced by BOTH
    index families outranks one surfaced by either alone. Composes
    the registered `sim_ann_ivf` and `sim_ann_lsh` operators
    UNCHANGED (the composition pattern), so the fusion can never
    drift from the retrievers it fuses.

    Exactness: RRF terms are the frozen integers 10⁹ div (k+rank)
    (per-term floor, documented convention — ranks ≤ {t} so no two
    distinct rank sums collide at this scale); ties break on vec_id.

    Plan/scale: both retriever plans run as-is (their scale stories
    apply); the fusion itself touches only 2·|queries|·k ranked rows
    — one tiny groupBy + one per-query WindowGroupLimit top-{t}."""
    from nchu_bigdata_spark.registry import REGISTRY

    ivf = (
        REGISTRY["sim_ann_ivf"].fn.__wrapped__(spark, sf_dir)
        .select("q_id", "vec_id", "rnk")
    )
    lsh = (
        REGISTRY["sim_ann_lsh"].fn.__wrapped__(spark, sf_dir)
        .select("q_id", "vec_id", "rnk")
    )
    u = ivf.unionAll(lsh)
    s = u.groupBy("q_id", "vec_id").agg(
        F.sum(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rnk)"))
        .cast("long")
        .alias("rrf_scaled"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.col("rrf_scaled").desc(), "vec_id"
    )
    return (
        s.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "q_id",
            "vec_id",
            "rrf_scaled",
            "n_lists",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# dedup_semdedup — cluster-bounded semantic dedup (SemDeDup, round 10)
# --------------------------------------------------------------------------

_SEMDEDUP_T = 0.4  # within-cell cosine drop threshold (= _COS_T family)
_SEMDEDUP_CELL_TARGET = 250  # target vectors per cell (occupancy pin)


def _semdedup_cells(n: int) -> int:
    """Occupancy-adaptive cell count: k = max(floor demo constant,
    n // target) — the SemDeDup paper's k ∝ n contract, with the same
    fixture-pinning floor pattern as ``_lsh_bits`` (n = 500 and 2000
    at the certified sf dirs both land on the floor, so the oracle's
    fixed vec_id ≤ 8 centroid set stays bit-identical there;
    the first step lands at n = 2250). Without this, cell occupancy —
    and the within-cell pair volume — grows linearly with the corpus
    (measured: 8.5× wall at the 10× probe under fixed k; ~2× after)."""
    return max(_NCELLS, n // _SEMDEDUP_CELL_TARGET)


@register(
    "dedup_semdedup",
    tags=("b10",),
    oracle=f"""
        -- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): assign every
        -- vector to its nearest coarse cell, then WITHIN EACH CELL drop
        -- any vector with a lower-id neighbor at cosine >= {_SEMDEDUP_T}
        -- (the deterministic keep-first form of the paper's
        -- keep-one-per-near-dup-group rule). The pairwise step is
        -- quadratic ONLY within a cell -- the paper's whole trick: k
        -- grows with n so cell sizes stay bounded. The centroid set
        -- encodes the SAME occupancy-adaptive k as the implementation
        -- (_semdedup_cells: k = max(floor, n // target)) so oracle and
        -- engine stay equivalent at EVERY corpus size, not just below
        -- the 2250-vector floor (ADVICE r10 medium).
        WITH {_SQL_E},
        cent AS (SELECT vec_id AS c_id, v, n FROM e
                 WHERE vec_id <= greatest({_NCELLS},
                       (SELECT count(*) FROM e) // {_SEMDEDUP_CELL_TARGET})),
        assign AS (
            SELECT vec_id, cell, v, n FROM (
                SELECT e.vec_id, c.c_id AS cell, e.v, e.n,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_sql_cos('e', 'c')} DESC, c.c_id
                       ) AS rn
                FROM e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM assign a JOIN assign b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {_sql_cos('a', 'b')} >= {_SEMDEDUP_T}
        )
        SELECT a.cell,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
               CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept,
               CAST(COALESCE(MIN(d.vec_id), -1) AS BIGINT)
                   AS first_dropped_id,
               CAST(COUNT(d.vec_id) * 10000 // COUNT(*) AS BIGINT)
                   AS drop_bp
        FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
        GROUP BY a.cell
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — cluster-bounded SEMANTIC dedup (Abbas et al. 2023,
    arXiv:2303.09540, the technique behind LAION/web-scale semantic
    pruning): coarse-quantize every embedding to its nearest IVF cell
    (``_ivf_assign`` — the certified sim_ann_ivf machinery), then
    within each cell drop every vector that has a lower-id neighbor
    at cosine ≥ {t} (deterministic keep-first representative per
    near-dup group). Complements `dedup_embed_cosine`: the LSH chain
    finds PAIRS corpus-wide; SemDeDup prunes WHOLE REGIONS of
    embedding space cell-by-cell, accepting cell-boundary misses in
    exchange for a hard bound on the quadratic — the paper's trick is
    that k grows with n so cell sizes (and the per-cell pair volume)
    stay CONSTANT at any corpus scale. Output is the per-cell pruning
    report (kept/dropped/drop_bp) a curation pipeline thresholds on.

    Exactness: cosines compared only in round(·, 6) form (the module
    convention), assignment ties broken by c_id, keep rule is a pure
    function of (cell, vec_id order) — bit-stable, fully
    SQL-replayable.

    Plan/scale: assignment is the fused array_min literal-centroid
    projection (ZERO shuffle, no k×N row blow-up); the within-cell
    pair join shuffles (vec_id, cell, v) rows hash-partitioned on
    cell — one exchange, Σ cell² pair volume bounded by the max cell
    occupancy `sim_ivf_balance` audits; the drop list collapses to
    DISTINCT vec_ids and the report is a cell-cardinality rollup.
    Scaling, stated honestly (ADVICE r10): k ∝ n keeps the WITHIN-CELL
    pair volume linear (n cells × target² pairs each), but the
    brute-force literal-centroid ASSIGNMENT is O(n·k) = O(n²/target)
    cosines, and the sanctioned centroid collect grows as n/target
    rows of plan literals — fine at demo scale, quadratic above it.
    At 100 TB production the assignment must go sublinear: real
    k-means centroids (kmeans_fit) held in a broadcast table with an
    ANN/triangle-inequality centroid lookup instead of all-k probing,
    and the centroid set kept as a joined DataFrame, not plan
    literals. The cell-local dedup stage — the part this operator
    certifies — is unchanged by that swap.
    r10 probe closure: the cell count is occupancy-adaptive
    (``_semdedup_cells`` — k = max(floor, n // 250), the paper's k ∝ n
    contract with the ``_lsh_bits`` fixture-pinning floor), so the 10×
    probe's fixed-k occupancy growth (8.5× wall) is gone above the
    floor while both certified sf dirs stay on the oracle's fixed
    centroid set."""
    ncells = _semdedup_cells(_corpus_size(spark, sf_dir))
    e, assign, _ = _ivf_assign(spark, sf_dir, ncells=ncells)
    a = assign.select("vec_id", "cell", "v", "n")
    b = (
        a.select(
            F.col("vec_id").alias("b_id"),
            F.col("cell").alias("b_cell"),
            F.col("v").alias("bv"),
            F.col("n").alias("bn"),
        )
    )
    dropped = (
        a.join(b, (a.cell == b.b_cell) & (a.vec_id < F.col("b_id")))
        .filter(_cos("v", "bv", "n", "bn") >= _SEMDEDUP_T)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        a.select("vec_id", "cell")
        .join(dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.count("is_dropped").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped"))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(
                F.min(F.when(F.col("is_dropped") == 1, F.col("vec_id"))),
                F.lit(-1),
            )
            .cast("long")
            .alias("first_dropped_id"),
            F.expr(
                "CAST(count(is_dropped) * 10000 div count(1) AS BIGINT)"
            ).alias("drop_bp"),
        )
    )


# --------------------------------------------------------------------------
# decontam_embedding — semantic eval-set decontamination (round 10)
# --------------------------------------------------------------------------

_DECON_EMB_T = 0.35  # train-vs-eval cosine contamination threshold


@register(
    "decontam_embedding",
    tags=("b10",),
    oracle=f"""
        -- SEMANTIC eval-set decontamination: the embedding-space
        -- complement to decontam_ngram (lexical 13-gram hits miss
        -- paraphrases; cosine similarity catches them). Eval split =
        -- vec_id % 20 = 0 (the deterministic-split convention); a
        -- train vector is CONTAMINATED iff round(cos, 6) >= {_DECON_EMB_T}
        -- against ANY eval vector; per flagged vector report the
        -- nearest eval item (max cos, ties to lower eval id) and the
        -- hit count -- the removal manifest + audit trail.
        WITH {_SQL_E},
        ev AS (SELECT vec_id, v, n FROM e WHERE vec_id % 20 = 0),
        tr AS (SELECT vec_id, label, v, n FROM e WHERE vec_id % 20 <> 0),
        hits AS (
            SELECT tr.vec_id, tr.label, ev.vec_id AS eval_id,
                   {_sql_cos('tr', 'ev')} AS cos_sim
            FROM tr JOIN ev ON {_sql_cos('tr', 'ev')} >= {_DECON_EMB_T}
        )
        SELECT vec_id,
               label,
               CAST(MIN(CASE WHEN rn = 1 THEN eval_id END) AS BIGINT)
                   AS best_eval_id,
               CAST(MAX(CASE WHEN rn = 1 THEN cos_sim END)
                    AS DECIMAL(18,6)) AS best_cos,
               CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_sim DESC, eval_id
                   ) AS rn
            FROM hits
        ) GROUP BY vec_id, label
    """,
)
def decontam_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC eval-set decontamination — the embedding-space
    complement to `decontam_ngram`: lexical 13-gram matching misses
    paraphrased/reworded eval leakage, cosine similarity in embedding
    space catches it (the decontamination ladder every eval-integrity
    pipeline runs both rungs of). Eval split = vec_id % 20 = 0 (the
    repo's deterministic-split convention, ~5%); a train vector is
    CONTAMINATED iff its rounded cosine against ANY eval vector is
    ≥ {t}; the output manifest carries the nearest eval item (max
    cos, ties to the lower eval id) and the hit count per flagged
    vector — what gets removed, and why, auditable row by row.

    Exactness: cosines compared only as round(·, 6) (module
    convention), DECIMAL(18,6) export; argmax resolved by the
    (−cos, eval_id) min-struct — bit-stable on both engines.

    Plan/scale: eval sets are SMALL BY CONSTRUCTION (benchmarks, not
    corpora) — the eval side broadcasts and the train scan streams
    once, zero shuffle on the fact side; the per-vector argmax is a
    map-side-combinable min-struct hash agg keyed on vec_id. At
    100 TB this is a broadcast-join scan, the same shape as
    `stream_enrich_static` — no pair blow-up is possible because the
    contaminated set is bounded by |train| × nothing (each train row
    emits at most |eval| candidates, and |eval| is a constant)."""
    e = _vecs(spark, sf_dir)
    ev = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ev"),
        F.col("n").alias("en"),
    )
    tr = e.filter(F.col("vec_id") % 20 != 0)
    cos = _cos("v", "ev", "n", "en")
    hits = tr.join(F.broadcast(ev), cos >= _DECON_EMB_T).select(
        "vec_id", "label", "eval_id", cos.alias("cos_sim")
    )
    return (
        hits.groupBy("vec_id", "label")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos_sim")).alias("negcos"),
                    F.col("eval_id").alias("eid"),
                )
            ).alias("best"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
        .select(
            "vec_id",
            "label",
            F.col("best.eid").cast("long").alias("best_eval_id"),
            (-F.col("best.negcos")).cast("decimal(18,6)").alias("best_cos"),
            "n_hits",
        )
    )


# --------------------------------------------------------------------------
# sim_mutual_knn — mutual-kNN graph construction (round 11)
# --------------------------------------------------------------------------

_MKNN_N = 250  # node set = vec_id <= _MKNN_N (bounded demo subset)


@register(
    "sim_mutual_knn",
    tags=("b10",),
    oracle=f"""
        -- Mutual-kNN graph over the embedding space: node set
        -- vec_id <= {_MKNN_N}, directed kNN edges = each node's top-{_TOPK}
        -- cosine neighbors (ties to lower vec_id), and the MUTUAL
        -- subgraph keeps (a, b) only when each is in the other's
        -- top-{_TOPK}. Mutuality is the standard density filter before
        -- graph clustering of embeddings (hubs acquire many inbound
        -- edges but reciprocate few -- mutual pruning cuts them), the
        -- graph-construction step upstream of dedup_clusters-style
        -- label propagation.
        WITH {_SQL_E},
        sub AS (SELECT vec_id, v, n FROM e WHERE vec_id <= {_MKNN_N}),
        knn AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   {_sql_cos('a', 'b')} AS cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_sql_cos('a', 'b')} DESC, b.vec_id
                   ) AS rnk
            FROM sub a JOIN sub b ON a.vec_id <> b.vec_id
            QUALIFY rnk <= {_TOPK}
        )
        SELECT f.src AS vec_a, f.dst AS vec_b,
               CAST(f.cos_sim AS DECIMAL(18,6)) AS cos_sim,
               CAST(f.rnk AS INT) AS rank_ab,
               CAST(r.rnk AS INT) AS rank_ba
        FROM knn f JOIN knn r ON f.src = r.dst AND f.dst = r.src
        WHERE f.src < f.dst
    """,
)
def sim_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction: directed top-{k} cosine edges
    over a bounded node set, pruned to RECIPROCAL pairs (a in knn(b)
    AND b in knn(a)). Mutuality is the classic hub filter in
    embedding-graph pipelines (a hub vector lands in everyone's top-k
    but reciprocates only {k} edges, so mutual pruning bounds every
    node's degree by {k}) — the graph-construction stage upstream of
    `dedup_clusters` / label-propagation clustering, complementing
    `sim_topk` (which returns the directed lists themselves).

    Exactness: cosines compared only in round(·, 6) form (module
    convention), ranks are deterministic (cos DESC, vec_id ASC),
    mutuality is an exact self-join on integer keys.

    Plan/scale: the node subset is broadcast against itself (bounded
    demo set — at production scale the candidate pairs would come from
    the LSH/IVF banding the module already certifies, not brute
    force); the top-{k} filter is the optimizer's WindowGroupLimit
    two-stage pattern (map-side k-row emission per src before the
    exchange, the sim_topk plan); the mutual join is a self-join on
    the k·|V|-row edge list keyed (src, dst) — linear in edges. Degree
    after pruning is ≤ {k} by construction, so downstream graph ops
    see bounded fan-out at any corpus size."""
    e = _vecs(spark, sf_dir)
    sub = e.filter(F.col("vec_id") <= _MKNN_N).select("vec_id", "v", "n")
    b = sub.select(
        F.col("vec_id").alias("dst"),
        F.col("v").alias("bv"),
        F.col("n").alias("bn"),
    )
    cand = (
        sub.crossJoin(F.broadcast(b))
        .filter(F.col("vec_id") != F.col("dst"))
        .select(
            F.col("vec_id").alias("src"),
            "dst",
            _cos("v", "bv", "n", "bn").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    knn = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
    )
    rev = knn.select(
        F.col("src").alias("r_dst"),
        F.col("dst").alias("r_src"),
        F.col("rnk").alias("rank_ba"),
    )
    return (
        knn.join(
            rev,
            (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            F.col("cos_sim").cast("decimal(18,6)").alias("cos_sim"),
            F.col("rnk").cast("int").alias("rank_ab"),
            F.col("rank_ba").cast("int").alias("rank_ba"),
        )
    )


# --------------------------------------------------------------------------
# embed_pq — product-quantization codes + reconstruction error (round 11)
# --------------------------------------------------------------------------

_PQ_SUB = 8  # subspaces (64 dims -> 8 x 8)
_PQ_DIM = 8  # dims per subspace
_PQ_K = 4  # codes per subspace; codebook = sub-vectors of vec_id 1..4


def _pq_sql_dist(s: str, e_qv: str, c_qv: str) -> str:
    """Exact integer squared L2 between 8-dim sub-vectors on the _Q
    grid, subspace index ``s`` a column (0-based), lists 1-based."""
    return " + ".join(
        f"({e_qv}[{s}*{_PQ_DIM} + {d + 1}] - {c_qv}[{s}*{_PQ_DIM} + {d + 1}])"
        f" * ({e_qv}[{s}*{_PQ_DIM} + {d + 1}] - {c_qv}[{s}*{_PQ_DIM} + {d + 1}])"
        for d in range(_PQ_DIM)
    )


@register(
    "embed_pq",
    tags=("b10",),
    oracle=f"""
        -- Product quantization (Jegou et al. 2011, "Product
        -- Quantization for Nearest Neighbor Search"): split every
        -- embedding into {_PQ_SUB} contiguous {_PQ_DIM}-dim subspaces;
        -- quantize each sub-vector to its nearest of {_PQ_K} sub-codebook
        -- entries (squared L2 on the exact 1e-6 integer grid, ties to
        -- the lower code); emit the packed base-{_PQ_K} code word and the
        -- total integer reconstruction error. PQ is the memory-side
        -- half of a production ANN stack (IVF picks the cells this
        -- module already certifies; PQ compresses the residents
        -- 64x here: 64 floats -> 8 2-bit codes).
        WITH eq AS (
            SELECT vec_id,
                   [CAST(ROUND(x * {_Q}, 0) AS BIGINT)
                    FOR x IN embedding::DOUBLE[]] AS qv
            FROM embeddings
        ),
        cb AS (SELECT vec_id - 1 AS code, qv FROM eq
               WHERE vec_id BETWEEN 1 AND {_PQ_K}),
        dist AS (
            SELECT e.vec_id, s.s, c.code,
                   {_pq_sql_dist('s.s', 'e.qv', 'c.qv')} AS d2
            FROM eq e
            CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_SUB - 1}))
                        AS s) s
            CROSS JOIN cb c
        ),
        best AS (
            SELECT vec_id, s, code, d2 FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, code) AS rn
                FROM dist
            ) WHERE rn = 1
        )
        SELECT vec_id,
               CAST(SUM(code * CAST({_PQ_K} AS BIGINT) ** s) AS BIGINT)
                   AS pq_code,
               CAST(SUM(d2) AS BIGINT) AS err_q
        FROM best
        GROUP BY vec_id
    """,
)
def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoder (Jegou et al. 2011): each
    embedding's {S} contiguous {D}-dim sub-vectors map to their nearest
    of {K} sub-codebook entries; output is the packed base-{K} code
    word plus the exact integer reconstruction error. Together with
    the module's IVF (`sim_ann_ivf` — the routing half) and scalar
    int8 quantization (`embed_quantize`), this completes the standard
    IVF-PQ ANN memory layout: a 100 TB vector store keeps 2-bit codes
    per subspace in RAM and full vectors on disk.

    Exactness: coordinates on the shared 1e-6 integer grid (the
    module's LSH convention — ROUND(x·1e6) as BIGINT on both engines);
    distances are exact int64 squared L2 on that grid; ties break to
    the lower code id; the code word and error are integer sums.

    Plan/scale: the codebook is {K} rows — the sanctioned small-side
    collect (kmeans_assign's pattern) inlined as integer literals, so
    encoding is ONE zero-shuffle codegen projection over the scan:
    per subspace an array_min over {K} (dist, code) structs, the code
    word a linear combination, no explode, no join, no agg. Encoding
    cost is O(dims·{K}) per vector — the same arithmetic a SIMD PQ
    encoder does — and the operator scales embarrassingly with the
    scan. The oracle replays the argmin via a windowed rank over the
    exploded (vec, subspace, code) grid — independent mechanism, same
    assignment."""
    e = _vecs(spark, sf_dir)
    qe = e.select(
        "vec_id",
        F.transform("v", lambda x: F.round(x * _Q, 0).cast("long")).alias(
            "qv"
        ),
    )
    cb = {
        int(r.vec_id) - 1: [int(x) for x in r.qv]
        for r in qe.filter(F.col("vec_id") <= _PQ_K).collect()
    }  # K-row sanctioned collect, quantized driver-side on the same grid

    def dist_lit(s: int, code: int) -> str:
        return " + ".join(
            f"(element_at(qv, {s * _PQ_DIM + d + 1}) -"
            f" {cb[code][s * _PQ_DIM + d]}L) *"
            f" (element_at(qv, {s * _PQ_DIM + d + 1}) -"
            f" {cb[code][s * _PQ_DIM + d]}L)"
            for d in range(_PQ_DIM)
        )

    per_sub = []
    for s in range(_PQ_SUB):
        structs = ", ".join(
            "named_struct('d2', " + dist_lit(s, c) + f", 'code', {c}L)"
            for c in range(_PQ_K)
        )
        per_sub.append(f"(array_min(array({structs})))")
    code_expr = " + ".join(
        f"{per_sub[s]}.code * {_PQ_K ** s}L" for s in range(_PQ_SUB)
    )
    err_expr = " + ".join(f"{per_sub[s]}.d2" for s in range(_PQ_SUB))
    return qe.select(
        "vec_id",
        F.expr(f"CAST({code_expr} AS BIGINT)").alias("pq_code"),
        F.expr(f"CAST({err_expr} AS BIGINT)").alias("err_q"),
    )


# --------------------------------------------------------------------------
# embed_isotropy — participation ratio of the second-moment matrix (round 13)
# --------------------------------------------------------------------------

_ISO_SCALE = 1_000  # 1e-3 quantization grid (see scale bound in docstring)


@register(
    "embed_isotropy",
    tags=("b10",),
    oracle=f"""
        -- Participation ratio of the UNCENTERED second-moment matrix
        -- S = sum(x x^T), per label and globally (label -1):
        -- PR = trace(S)^2 / ||S||_F^2 (in [1, d]; n cancels in the
        -- ratio). Exact integer arithmetic on the 1e-3 grid end to
        -- end; both engines emit identical integral quotients.
        WITH ex AS (
            -- NULL labels form their own explicit group (-2): an
            -- unlabeled slice must surface, not silently drop in the
            -- final equi join
            SELECT vec_id, COALESCE(label, -2) AS label,
                   CAST(generate_subscripts(embedding, 1) AS INT) AS i,
                   CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE)
                              * {_ISO_SCALE}) AS BIGINT) AS x
            FROM embeddings
        ),
        m AS (
            SELECT a.label AS label, a.i AS i, b.i AS j,
                   SUM(CAST(a.x AS HUGEINT) * b.x) AS spp
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
            GROUP BY 1, 2, 3
        ),
        lv AS (
            SELECT label, i, j, spp FROM m
            UNION ALL
            SELECT -1, i, j, SUM(spp) FROM m GROUP BY 2, 3
        ),
        t AS (
            SELECT label,
                   CAST(MAX(j) AS BIGINT) AS d,
                   SUM(CASE WHEN i = j THEN spp END) AS tr,
                   SUM(CASE WHEN i = j THEN spp * spp
                            ELSE 2 * spp * spp END) AS fro2
            FROM lv GROUP BY label
        ),
        cnt AS (
            SELECT COALESCE(label, -2) AS label,
                   CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM embeddings GROUP BY 1
            UNION ALL
            SELECT -1, CAST(COUNT(*) AS BIGINT) FROM embeddings
        )
        SELECT CAST(t.label AS INT) AS label, cnt.n_vecs, t.d,
               CAST(t.tr AS BIGINT) AS trace_q,
               CAST((1000000 * t.tr * t.tr) // t.fro2 AS BIGINT)
                   AS pr_ppm,
               CAST((1000000 * t.tr * t.tr) // (t.d * t.fro2) AS BIGINT)
                   AS iso_ppm
        FROM t JOIN cnt ON cnt.label = t.label
    """,
)
def embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding corpus: participation ratio
    PR = trace(S)² / ‖S‖_F² of the uncentered second-moment matrix
    S = Σ x xᵀ, per label and globally (label −1). PR counts the
    effective number of dimensions the mass spreads over (1 = rank-1
    collapse, d = perfectly isotropic); iso_ppm = PR/d·10⁶ is the
    normalized score. Contextual embeddings are notoriously
    anisotropic (a dominant common direction — Mu & Viswanath 2018
    "All-but-the-top", Ethayarajh 2019), and a collapsing PR after a
    model/quantization change is the cheapest corpus-wide red flag;
    the uncentered form (vs covariance) deliberately keeps the common
    mean direction inside the measure, since retrieval dot-products
    see it too.

    Determinism: values quantize to the 1e-3 grid (exact ROUND of
    identical doubles); S entries, trace, Frobenius sums and the final
    ppm quotients are all exact integers — both quotient operands are
    positive, so Spark's truncating `div` and DuckDB's floor `//`
    agree. n cancels in PR, so the ratio needs no (n·(n−1)) division
    — what keeps the arithmetic exact at ANY corpus size; the
    decimal(38,0) headroom bound is spp² ≲ 1e38 → n ≲ 4e10 vectors at
    d = 64 (a 100 TB fp32 corpus is ~3e10), with the overflow guard
    below turning a breach into a loud error, never a silent drift
    (embed_covariance precedent). Input contract (same as
    embed_covariance's): |value| ≤ ~3e6, because the per-element long
    product q·q wraps silently past that — unit-norm-ish embeddings
    sit six orders inside the bound.

    Plan/scale: ONE corpus scan; the d(d+1)/2 per-vector products are
    a narrow nested-transform projection (no exploded self-join)
    feeding a (label, i, j)-keyed hash agg whose map-side partials
    collapse to labels·d² rows; everything after is arithmetic on that
    tiny frame. Wire volume O(labels · d² · tasks), no shuffle of the
    corpus itself."""
    emb = parallel_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _ISO_SCALE, 0).cast("long"),
    )
    # NULL labels form their own explicit group (-2) — they must
    # surface as a row, not silently vanish in the final equi join
    lbl = F.coalesce(F.col("label").cast("int"), F.lit(-2))
    rows = emb.select(
        lbl.alias("label"),
        q.alias("q"),
        F.size("embedding").alias("d"),
    )
    pairs = F.flatten(
        F.transform(
            F.col("q"),
            lambda x, i: F.transform(
                F.slice(F.col("q"), i + 1, F.col("d") - i),
                lambda y, j: F.struct(
                    (i + 1).cast("int").alias("i"),
                    (i + j + 1).cast("int").alias("j"),
                    (x * y).alias("p"),
                ),
            ),
        )
    )
    m = (
        rows.select("label", F.explode(pairs).alias("e"))
        .select("label", "e.i", "e.j", "e.p")
        .groupBy("label", "i", "j")
        .agg(
            F.sum(F.col("p").cast("decimal(28,0)"))
            .cast("decimal(38,0)")
            .alias("spp")
        )
    )
    glob = m.groupBy("i", "j").agg(
        F.sum("spp").cast("decimal(38,0)").alias("spp")
    ).select(F.lit(-1).alias("label"), "i", "j", "spp")
    lv = m.unionByName(glob)
    # the overflow-prone product is computed BEFORE the SUM so a
    # decimal(38,0) NULL is countable: F.sum() silently SKIPS null
    # inputs, so a guard on the aggregate alone would let an
    # overflowed term vanish from fro2 and drift the ratio unseen
    lv = lv.withColumn(
        "sq_term",
        F.when(
            F.col("i") == F.col("j"), F.col("spp") * F.col("spp")
        ).otherwise(F.lit(2) * F.col("spp") * F.col("spp")),
    )
    t = lv.groupBy("label").agg(
        F.max("j").cast("long").alias("d"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("spp")))
        .cast("decimal(38,0)")
        .alias("tr"),
        F.sum("sq_term").cast("decimal(38,0)").alias("fro2"),
        F.count(F.lit(1)).alias("n_terms"),
        F.count("sq_term").alias("n_sq_ok"),
        F.count("spp").alias("n_spp_ok"),
    )
    cnt = (
        emb.groupBy(
            F.coalesce(F.col("label").cast("int"), F.lit(-2)).alias("label")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )
    cnt = cnt.unionByName(
        emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs")).select(
            F.lit(-1).alias("label"), "n_vecs"
        )
    )
    # loud overflow guard (docstring bound): decimal(38,0) overflow
    # yields NULL under ANSI-off — fail, don't drift. Per-TERM nulls
    # are detected via the count mismatch (a null inside F.sum is
    # skipped, never propagated), aggregate/quotient nulls directly.
    num = F.lit(1_000_000).cast("decimal(38,0)") * F.col("tr") * F.col("tr")
    den_iso = F.col("d").cast("decimal(38,0)") * F.col("fro2")
    overflow = (
        (F.col("n_sq_ok") != F.col("n_terms"))
        | (F.col("n_spp_ok") != F.col("n_terms"))
        | num.isNull()
        | F.col("fro2").isNull()
        | den_iso.isNull()
    )
    guarded = F.when(
        overflow,
        F.raise_error(
            F.lit(
                "embed_isotropy: decimal(38,0) moment product overflowed "
                "(corpus beyond the ~4e10-vector exact bound)"
            )
        ).cast("long"),
    )
    return (
        t.join(F.broadcast(cnt), "label")
        .select(
            F.col("label"),
            "n_vecs",
            "d",
            F.col("tr").cast("long").alias("trace_q"),
            F.when(
                overflow, guarded
            ).otherwise(
                F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * tr * tr)"
                       " div fro2 AS BIGINT)")
            ).alias("pr_ppm"),
            F.when(
                overflow, guarded
            ).otherwise(
                F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * tr * tr)"
                       " div (CAST(d AS DECIMAL(38,0)) * fro2) AS BIGINT)")
            ).alias("iso_ppm"),
        )
    )
