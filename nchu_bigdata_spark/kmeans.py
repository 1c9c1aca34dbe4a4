"""K-means CLI — the ergonomic wrapper mirroring the reference's

    hadoop jar output.jar Kmeans <data> <centers> <out> <maxIter>

(``/root/reference/README.md:21``). Usage:

    python -m nchu_bigdata_spark.kmeans <data> <centers> <out> <maxIter>

Inputs are the reference's own text formats (``pm25.txt`` /
``pm25.cluster.center.conf.txt``: ``date,station,pollutant,v0..v23``).
Outputs, under ``<out>/``:

* ``assignments/part-*`` — the final map-only labeling
  (``src/Kmeans.java:148-153``): one ``cluster\\t<original line>`` text
  row per input row, byte-compatible with the reference's
  ``kmeans.hdfs/part-r-00000`` golden.
* ``centers.txt`` — the final centroid file in the reference's exact
  text format (``src/Kmeans.java:130-131``):
  ``\\t<date>,大里,PM25,<v0>, <v1>, ...`` (``Arrays.toString`` =
  ``", "``-joined). Unlike the reference — which *overwrites its input
  center file in place* (``src/Kmeans.java:259-276``) — the CLI never
  mutates its inputs.

Input: ``<data>`` is one text file, read by Spark's text source
(``read_pm25``) and cached once, so no pass over it needs Python
workers. The passes are: rounds 1..maxIter-1 of ``fit`` (one narrow
noop-sink pass each, the first also filling the cache), the final fold,
and the assignments write, which also observes the representative days.
Only the fold shuffles. Each line gets a ``line_id`` that is an **order
key only**: it increases in file order but has gaps between partitions.
It orders the final fold and breaks representative-day ties, and
neither needs dense ids. File order holds because Spark places one
file's splits in offset order (see ``read_pm25``); a directory of
several files has no defined line order.

Bit-reproducibility: the intermediate Lloyd iterations run on the
distributed fit (``operators/kmeans.py`` — Summarizer partial summaries,
order-independent to ~1 ulp), but the FINAL iteration's centroid means
are recomputed with a **deterministic sequential fold in input-line
order**, which reproduces the reference's single-reducer summation order
exactly — the emitted numeric text is byte-identical to the golden
``pm25.cluster.center.conf.txt.hdfs`` (both Java ``Double.toString`` and
Python ``repr`` print shortest round-trip decimals). The fold shuffles
only (cluster, dim, line_id, value) rows and each group folds k·dim
small arrays, so the determinism costs one narrow shuffle — the
documented price of bit-parity mode; the order-independent Summarizer
path is the 100 TB default.

Known divergence (documented, SURVEY.md §7): the reference's
representative-day pick (ref A11, ``src/Kmeans.java:114-130``) never
updates its running min (``:125-127``), so its golden center lines carry
each cluster's *last reducer row's* date. The CLI implements the correct
argmin (ties → lowest line id); numeric content is unaffected.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

STATION = "大里"  # hardcoded by the reference, src/Kmeans.java:131


def read_pm25(spark: SparkSession, path: str) -> DataFrame:
    """Reference text rows → (line_id, line, obs_date, features), read
    by Spark's text source inside the JVM (no Python worker touches a
    row on any pass over this frame).

    ``line_id`` is an order key, not a row number: it increases in file
    order but is not dense (``monotonically_increasing_id`` = partition
    index << 33 | row index within the partition). File order holds for
    a single input file: Spark packs a file's splits longest-first with
    a stable sort, and every split but the shorter last one has the same
    length, so partition index follows byte offset; within a split the
    line reader emits lines in order. A directory of several files
    gives no such guarantee. Empty and space-only lines are dropped;
    ``\n``, ``\r\n`` and ``\r`` endings all end a line."""
    return (
        spark.read.text(path)
        .selectExpr("value AS line", "monotonically_increasing_id() AS line_id")
        .filter("length(trim(line)) > 0")
        .selectExpr(
            "line_id",
            "line",
            "split(line, ',')[0] AS obs_date",
            f"CAST(slice(split(line, ','), 4, {24 * 4096}) AS array<double>)"
            " AS features",
        )
    )


def read_centers(path: str) -> list[list[float]]:
    """Initial centers from the reference conf format (k small — plain
    driver-side file read, exactly like the reference's setup() does
    per task, ``src/Kmeans.java:39-46``)."""
    centers = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            centers.append([float(x) for x in line.split(",")[3:]])
    return centers


def sequential_cluster_means(labeled: DataFrame) -> DataFrame:
    """Per-cluster element-wise mean with a **deterministic sequential
    fold in line order** (bit-parity with the reference's single-reducer
    loop, ``src/Kmeans.java:101-112``): posexplode → per (cluster, dim)
    collect values sorted by line_id → left fold. Returns
    (cluster, pos, mv, n)."""
    return labeled.sparkSession.sql(
        """
        SELECT cluster, pos, s / n AS mv, n FROM (
            SELECT cluster, pos,
                   aggregate(
                       transform(array_sort(collect_list(struct(line_id, v))),
                                 e -> e.v),
                       0.0D, (acc, x) -> acc + x) AS s,
                   count(1) AS n
            FROM (SELECT cluster, line_id,
                         posexplode(features) AS (pos, v)
                  FROM {labeled})
            GROUP BY cluster, pos
        )
        """,
        labeled=labeled,
    )


def _fmt(v: float) -> str:
    """Java ``Double.toString`` equivalent for the value range at hand:
    both emit the shortest decimal that round-trips (Python ``repr``)."""
    return repr(float(v))


def format_center_lines(
    reps: dict[int, str], centers: dict[int, list[float]]
) -> list[str]:
    """The reference's center-file line format (``src/Kmeans.java:131``):
    tab, representative date, hardcoded station, ``PM25`` label (note:
    NOT ``PM2.5`` — the reducer rewrites the label), ``", "``-joined
    values from ``Arrays.toString``."""
    return [
        f"\t{reps[cid]},{STATION},PM25,{', '.join(_fmt(v) for v in centers[cid])}"
        for cid in sorted(centers)
    ]


def run(
    spark: SparkSession,
    data_path: str,
    centers_path: str,
    out_dir: str,
    max_iter: int,
) -> None:
    """The reference's full flow (``src/Kmeans.java:161-183``):
    ``max_iter`` reduce rounds producing centers, then one map-only
    labeling pass with the final centers."""
    from nchu_bigdata_spark.operators import kmeans as km

    df = read_pm25(spark, data_path).cache()
    init = read_centers(centers_path)
    try:
        # Rounds 1..max_iter-1 on the distributed fit; the last round's
        # means are recomputed with the deterministic fold for bit-parity.
        if max_iter > 1:
            prev = km.fit(
                df, init, feature_col="features", metric="sq_euclidean_abs",
                max_iter=max_iter - 1, tol=None,
            ).centers
        else:
            prev = [list(map(float, c)) for c in init]

        assigned = km.assign(df, prev, "features", "sq_euclidean_abs")
        means = sequential_cluster_means(assigned).collect()  # k×dim scalars
        dim = len(prev[0])
        centers: dict[int, list[float]] = {}
        for r in means:
            vec = centers.setdefault(r["cluster"], [0.0] * dim)
            vec[r["pos"]] = float(r["mv"])
        # Empty clusters keep their previous centroid (reference reducers
        # never see empty groups).
        for i, c in enumerate(prev, start=1):
            centers.setdefault(i, list(c))

        # Final map-only labeling with the final centers; ``d`` is each
        # row's distance to its own (nearest) center.
        cids = sorted(centers)
        final_centers = [centers[i] for i in cids]
        labeled = km.assign(
            df, final_centers, "features", "sq_euclidean_abs", dist_col="d"
        )
        # Representative day per cluster, observed on the write itself:
        # CORRECT argmin of the reference's rep-day metric (plain
        # squared distance on abs values, src/Kmeans.java:119-124) — the
        # same metric as the assignment, so ``d`` is the distance to the
        # row's own center. Ties break to the lowest line id. An empty
        # cluster has no rows to argmin over: its min_by is null and its
        # date empty.
        reps_obs = Observation()
        rep_days = ", ".join(
            f"min_by(obs_date, CASE WHEN cluster = {cid}"
            " THEN struct(d, line_id) END)"
            for cid in cids
        )
        (
            labeled.observe(reps_obs, F.expr(f"array({rep_days})").alias("reps"))
            .selectExpr("concat_ws('\t', CAST(cluster AS STRING), line)")
            .write.mode("overwrite")
            .text(os.path.join(out_dir, "assignments"))
        )
        reps = {
            cid: date or "" for cid, date in zip(cids, reps_obs.get["reps"])
        }

        centers_txt = os.path.join(out_dir, "centers.txt")
        with open(centers_txt, "w", encoding="utf-8") as f:
            for line in format_center_lines(reps, centers):
                f.write(line + "\n")
    finally:
        df.unpersist()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 4:
        print(
            "usage: python -m nchu_bigdata_spark.kmeans "
            "<data> <centers> <out> <maxIter>",
            file=sys.stderr,
        )
        return 2
    data_path, centers_path, out_dir, max_iter = argv
    os.makedirs(out_dir, exist_ok=True)
    from nchu_bigdata_spark.session import get_session

    spark = get_session("kmeans-cli")
    run(spark, data_path, centers_path, out_dir, int(max_iter))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
