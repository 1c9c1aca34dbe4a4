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
(``read_pm25``), so every pass over it — ``fit``'s cache fill, the
final fold, the assignments write, the representative-day pick — runs
in the JVM without Python workers. Each line gets a ``line_id`` that
is an **order key only**: it increases in file order but has gaps
between partitions. It orders the final fold and breaks
representative-day ties, and neither needs dense ids. File order holds
because Spark places one file's splits in offset order (see
``read_pm25``); a directory of several files has no defined line order.

Bit-reproducibility: the intermediate Lloyd iterations run on the
distributed fit (``operators/kmeans.py`` — Summarizer partial aggregates,
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

from pyspark.sql import DataFrame, SparkSession
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
    df = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.monotonically_increasing_id().alias("line_id"),
    ).filter(F.length(F.trim("line")) > 0)
    fields = F.split("line", ",")
    return df.select(
        "line_id",
        "line",
        fields.getItem(0).alias("obs_date"),
        F.slice(fields, 4, 24 * 4096).cast("array<double>").alias("features"),
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
    ex = labeled.select(
        "cluster", "line_id", F.posexplode("features").alias("pos", "v")
    )
    return (
        ex.groupBy("cluster", "pos")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_id", "v"))),
                    lambda s: s.v,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("cluster", "pos", (F.col("s") / F.col("n")).alias("mv"), "n")
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

    df = read_pm25(spark, data_path)
    init = read_centers(centers_path)

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
        centers.setdefault(r["cluster"], [0.0] * dim)[r["pos"]] = float(r["mv"])
    # Empty clusters keep their previous centroid (reference reducers
    # never see empty groups).
    for i, c in enumerate(prev, start=1):
        centers.setdefault(i, list(c))

    # Final map-only labeling with the final centers; ``d`` is each
    # row's distance to its own (nearest) center.
    final_centers = [centers[i] for i in sorted(centers)]
    labeled = km.assign(
        df, final_centers, "features", "sq_euclidean_abs", dist_col="d"
    )
    (
        labeled.select(
            F.concat_ws("\t", F.col("cluster").cast("string"), F.col("line"))
        )
        .write.mode("overwrite")
        .text(os.path.join(out_dir, "assignments"))
    )

    # Representative day per cluster: CORRECT argmin of the reference's
    # rep-day metric (plain squared distance on abs values,
    # src/Kmeans.java:119-124) — the same metric as the assignment, so
    # the labeling's own ``d`` is the distance to the cluster's center.
    # Ties break to the lowest line id; one agg job for all clusters.
    rep_rows = (
        labeled.groupBy("cluster")
        .agg(F.min_by("obs_date", F.struct("d", "line_id")).alias("obs_date"))
        .collect()
    )
    reps = {int(r["cluster"]): r["obs_date"] for r in rep_rows}
    for cid in centers:  # empty clusters have no rows to argmin over
        reps.setdefault(cid, "")

    with open(os.path.join(out_dir, "centers.txt"), "w", encoding="utf-8") as f:
        for line in format_center_lines(reps, centers):
            f.write(line + "\n")


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
