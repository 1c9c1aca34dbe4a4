"""Reference golden parity for the K-means module (SURVEY.md §5.2).

Fixtures are verbatim copies of the reference's own inputs and committed
golden outputs (data files, not code):
  pm25.txt                    input, 365 days × 24 hourly PM2.5 readings
  pm25.cluster.center.conf.txt  initial k=4 centers (4 actual days)
  golden_centers.txt          final centroids after 5 iterations
                              (pm25.cluster.center.conf.txt.hdfs)
  golden_assignments.txt      final per-row cluster ids
                              (kmeans.hdfs/part-r-00000; sizes 36/73/137/119)

Run config mirrors the reference exactly: k=4, metric = squared
Euclidean on abs() of both operands (src/Kmeans.java:66-70), 0-as-missing
kept as real zeros, fixed 5 iterations with no convergence stop (the
short-circuit is commented out at src/Kmeans.java:254-257), then one
labeling pass. Cluster ids are 1-based (src/Kmeans.java:79).
"""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nchu_bigdata_spark.operators import kmeans

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

PM25_SCHEMA = T.StructType(
    [T.StructField("obs_date", T.StringType()),
     T.StructField("station", T.StringType()),
     T.StructField("pollutant", T.StringType())]
    + [T.StructField(f"h{i}", T.DoubleType()) for i in range(24)]
)


def _load_pm25(spark):
    df = spark.read.schema(PM25_SCHEMA).csv(os.path.join(FIXTURES, "pm25.txt"))
    return df.withColumn("features", F.array(*[f"h{i}" for i in range(24)]))


def _parse_centers_file(path: str) -> list[list[float]]:
    centers = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            fields = line.split(",")
            centers.append([float(x) for x in fields[3:]])
    return centers


def _parse_golden_centers() -> list[tuple[str, list[float]]]:
    out = []
    with open(os.path.join(FIXTURES, "golden_centers.txt"), encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            fields = line.split(",")
            out.append((fields[0], [float(x) for x in fields[3:]]))
    return out


def _parse_golden_assignments() -> dict[str, int]:
    """date -> golden cluster id (1..4)."""
    out = {}
    with open(
        os.path.join(FIXTURES, "golden_assignments.txt"), encoding="utf-8"
    ) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            cluster, row = line.split("\t")
            out[row.split(",")[0]] = int(cluster)
    return out


def _sq_abs(a: list[float], b: list[float]) -> float:
    """The reference's metric, Σ (|a_j| − |b_j|)² (``src/Kmeans.java:66-70``),
    in plain Python — independent of the engine's distance kernel."""
    return sum((abs(x) - abs(y)) * (abs(x) - abs(y)) for x, y in zip(a, b))


def _representative_dates(
    rows: list[tuple[int, str, list[float]]], centers: dict[int, list[float]]
) -> dict[int, str]:
    """cluster -> date of the member row closest to that cluster's center.
    ``rows`` are (cluster, date, features) in input-line order; ties keep
    the lowest line."""
    best: dict[int, tuple[float, str]] = {}
    for cluster, date, features in rows:
        d = _sq_abs(features, centers[cluster])
        if cluster not in best or d < best[cluster][0]:
            best[cluster] = (d, date)
    return {c: date for c, (_, date) in best.items()}


@pytest.fixture(scope="module")
def pm25_fit(spark):
    df = _load_pm25(spark)
    init = _parse_centers_file(
        os.path.join(FIXTURES, "pm25.cluster.center.conf.txt")
    )
    assert len(init) == 4 and all(len(c) == 24 for c in init)
    res = kmeans.fit(
        df, init, feature_col="features", metric="sq_euclidean_abs",
        max_iter=5, tol=None,
    )
    labeled = kmeans.assign(df, res.centers, "features", "sq_euclidean_abs")
    return res, labeled


def test_cluster_sizes_match_golden(pm25_fit):
    _, labeled = pm25_fit
    sizes = {
        r["cluster"]: r["n"]
        for r in labeled.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {1: 36, 2: 73, 3: 137, 4: 119}


def test_per_row_assignments_match_golden(pm25_fit):
    _, labeled = pm25_fit
    golden = _parse_golden_assignments()
    ours = {
        r["obs_date"]: r["cluster"]
        for r in labeled.select("obs_date", "cluster").collect()
    }
    assert len(ours) == 365
    mismatches = {d: (c, golden[d]) for d, c in ours.items() if golden[d] != c}
    assert not mismatches, f"{len(mismatches)} rows diverge: {mismatches}"


def test_final_centroids_match_golden(pm25_fit):
    res, _ = pm25_fit
    golden = _parse_golden_centers()
    assert len(golden) == 4
    # Golden lines are emitted per reducer key (cluster 1..4 in order).
    for idx, (_, gvec) in enumerate(golden):
        ours = res.centers[idx]
        for j, (a, b) in enumerate(zip(ours, gvec)):
            assert a == pytest.approx(b, rel=1e-9), (
                f"centroid {idx + 1} dim {j}: {a} != {b}"
            )


def test_representative_day_divergence_documented(pm25_fit):
    """Ref A11 (src/Kmeans.java:114-130) picks the member day labeling
    each centroid, but its running-min update is missing (:125-127), so
    the golden labels are just each cluster's LAST reducer row. We
    implement the CORRECT argmin; this test pins both: our argmin is a
    true minimizer, and the documented golden labels exist in the right
    cluster (accepted divergence, SURVEY.md §7)."""
    res, labeled = pm25_fit
    golden = _parse_golden_centers()
    golden_assign = _parse_golden_assignments()
    centers = {i + 1: c for i, c in enumerate(res.centers)}
    rows = sorted(
        (r["cluster"], r["obs_date"], r["features"])
        for r in labeled.select("cluster", "obs_date", "features").collect()
    )
    features = {date: f for _, date, f in rows}
    reps = _representative_dates(rows, centers)
    for cluster_id, (gdate, _) in enumerate(golden, start=1):
        # the buggy golden label still belongs to that cluster
        assert golden_assign[gdate] == cluster_id
        # our correct representative is a true minimizer: no farther
        # from the centroid than the golden label
        c = centers[cluster_id]
        assert _sq_abs(features[reps[cluster_id]], c) <= _sq_abs(
            features[gdate], c
        )


def _draft_subset(spark):
    """The draft variant's input: the first 34 rows of pm25.txt with the
    date/station/label prefix stripped (the draft's ``textToArray``
    parses every comma field as a double, ``Kmeans/kmeans.java:193-204``,
    so its input must be pure numeric CSV). Verified: each vector in the
    committed draft golden (``Kmeans/output/part-r-00000``) is exactly
    the value part of pm25.txt rows 1-34."""
    rows = []
    with open(os.path.join(FIXTURES, "pm25.txt"), encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            value_part = line.split(",", 3)[3]  # verbatim numeric CSV
            rows.append((value_part, [float(x) for x in value_part.split(",")]))
            if len(rows) == 34:
                break
    return spark.createDataFrame(rows, "line string, features array<double>")


def _parse_draft_golden() -> dict[str, int]:
    out = {}
    with open(
        os.path.join(FIXTURES, "golden_draft_labels.txt"), encoding="utf-8"
    ) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            cluster, row = line.split("\t")
            out[row.strip()] = int(cluster)
    return out


def test_draft_variant_assignments_match_golden(spark):
    """Draft-variant golden parity (``Kmeans/output/part-r-00000``):
    34-row pm25 subset, k=4, normalized-squared metric
    (``Kmeans/kmeans.java:59-71``), iterate to exact convergence
    (``kmeans.java:221-224``), then label. Expected sizes 8/8/14/4 and
    all 34 per-row labels.

    Seeds: the draft OVERWRITES its center file in place each epoch
    (``kmeans.java:228-248``), so the committed conf files hold a
    different run's state and the golden's seed file is not in the repo.
    The seeds used here — input rows 1, 16, 27, 33 (1-based) — were
    recovered by exhaustive search over all C(34,4) seed choices as the
    (unique found) set for which the draft algorithm converges to the
    golden labeling exactly; with them, parity is exact on all 34 rows,
    not just on cluster sizes."""
    pts = _draft_subset(spark)
    rows = [
        (r["line"], [float(x) for x in r["line"].split(",")])
        for r in pts.select("line").collect()
    ]
    assert len(rows) == 34
    seeds = [rows[i][1] for i in (0, 15, 26, 32)]

    res = kmeans.fit(
        pts, seeds, feature_col="features", metric="normalized_sq",
        max_iter=30, tol=0.0,
    )
    labeled = kmeans.assign(pts, res.centers, "features", "normalized_sq")
    ours = {
        r["line"]: r["cluster"]
        for r in labeled.select("line", "cluster").collect()
    }
    golden = _parse_draft_golden()
    assert len(ours) == 34
    sizes: dict[int, int] = {}
    for c in ours.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert sizes == {1: 8, 2: 8, 3: 14, 4: 4}
    mismatches = {
        line: (c, golden[line]) for line, c in ours.items() if golden[line] != c
    }
    assert not mismatches, f"{len(mismatches)} rows diverge: {mismatches}"


def test_cli_reproduces_reference_run(spark, tmp_path):
    """Round-trip the CLI (`python -m nchu_bigdata_spark.kmeans`,
    mirroring ``README.md:21``: data centers out 5) against BOTH
    committed goldens:

    * assignments/part-* == ``kmeans.hdfs/part-r-00000`` — exact line
      multiset (``cluster\\t<original row>``);
    * centers.txt numeric text == ``pm25.cluster.center.conf.txt.hdfs``
      **byte-for-byte** (the deterministic final-iteration fold
      reproduces the reference reducer's summation order; Java
      ``Double.toString`` ≡ Python ``repr`` shortest round-trip).
      The representative DATE field is the documented A11 divergence
      (the reference's argmin never updates its running min,
      ``src/Kmeans.java:125-127``), so it is checked instead against a
      pure-Python argmin over the emitted assignments and centers."""
    from nchu_bigdata_spark import kmeans as cli

    out = str(tmp_path / "kmeans_out")
    rc = cli.main(
        [
            os.path.join(FIXTURES, "pm25.txt"),
            os.path.join(FIXTURES, "pm25.cluster.center.conf.txt"),
            out,
            "5",
        ]
    )
    assert rc == 0

    # -- assignments vs kmeans.hdfs golden --
    emitted: list[str] = []
    adir = os.path.join(out, "assignments")
    for fn in sorted(os.listdir(adir)):
        if not fn.startswith("part-"):
            continue
        with open(os.path.join(adir, fn), encoding="utf-8") as f:
            emitted += [l.rstrip("\n") for l in f if l.strip()]
    with open(
        os.path.join(FIXTURES, "golden_assignments.txt"), encoding="utf-8"
    ) as f:
        golden_lines = [l.rstrip("\n") for l in f if l.strip()]
    assert sorted(emitted) == sorted(golden_lines)
    cluster_of = {}
    for l in emitted:
        cluster, row = l.split("\t")
        cluster_of[row] = int(cluster)

    # -- centers.txt vs pm25.cluster.center.conf.txt.hdfs golden --
    with open(os.path.join(out, "centers.txt"), encoding="utf-8") as f:
        ours = [l.rstrip("\n") for l in f if l.strip()]
    with open(
        os.path.join(FIXTURES, "golden_centers.txt"), encoding="utf-8"
    ) as f:
        golden = [l.rstrip("\n") for l in f if l.strip()]
    assert len(ours) == len(golden) == 4
    # -- representative dates: argmin of each cluster's member distance
    # to its emitted center, ties to the lowest input line --
    centers = {
        i: [float(v) for v in line.split("PM25,", 1)[1].split(", ")]
        for i, line in enumerate(ours, start=1)
    }
    with open(os.path.join(FIXTURES, "pm25.txt"), encoding="utf-8") as f:
        rows = [
            (cluster_of[row], row.split(",")[0],
             [float(x) for x in row.split(",")[3:]])
            for row in (l.rstrip("\n") for l in f if l.strip())
        ]
    reps = _representative_dates(rows, centers)
    dates = [line[1:].split(",", 1)[0] for line in ours]
    assert dates == [reps[i] for i in sorted(reps)]
    assert dates == ["2015/09/20", "2015/04/30", "2015/12/28", "2015/11/01"]
    for mine, gold in zip(ours, golden):
        # structure: \t<date>,大里,PM25,<values>
        assert mine.startswith("\t") and gold.startswith("\t")
        m_head, m_vals = mine.split("PM25,", 1)
        g_head, g_vals = gold.split("PM25,", 1)
        assert m_vals == g_vals  # byte-for-byte numeric parity
        assert m_head.endswith(",大里,") and g_head.endswith(",大里,")


def _cli_outputs(out: str) -> tuple[list[str], list[str]]:
    """(assignment lines, centers.txt lines) a CLI run wrote to ``out``."""
    emitted: list[str] = []
    adir = os.path.join(out, "assignments")
    for fn in sorted(os.listdir(adir)):
        if fn.startswith("part-"):
            with open(os.path.join(adir, fn), encoding="utf-8") as f:
                emitted += [l.rstrip("\n") for l in f if l.strip()]
    with open(os.path.join(out, "centers.txt"), encoding="utf-8") as f:
        centers = [l.rstrip("\n") for l in f if l.strip()]
    return emitted, centers


def _fixture_lines(name: str) -> list[str]:
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return [l.rstrip("\n") for l in f if l.strip()]


def test_cli_multi_split_keeps_file_order(spark, tmp_path):
    """With pm25.txt cut into ~4 KB splits, ``read_pm25`` reads several
    partitions, its line ids still sort the lines into file order, and
    the CLI's outputs still equal both goldens: the final fold and the
    representative-day tie-break only need line ids as order keys."""
    from nchu_bigdata_spark import kmeans as cli

    confs = {
        "spark.sql.files.maxPartitionBytes": "4096",
        "spark.sql.files.openCostInBytes": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    out = str(tmp_path / "kmeans_out")
    data = os.path.join(FIXTURES, "pm25.txt")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = cli.read_pm25(spark, data)
        assert df.rdd.getNumPartitions() >= 2
        lines = [r["line"] for r in df.orderBy("line_id").collect()]
        os.makedirs(out)
        cli.run(
            spark, data,
            os.path.join(FIXTURES, "pm25.cluster.center.conf.txt"), out, 5,
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert lines == _fixture_lines("pm25.txt")

    emitted, ours = _cli_outputs(out)
    assert sorted(emitted) == sorted(_fixture_lines("golden_assignments.txt"))
    golden = _fixture_lines("golden_centers.txt")
    assert len(ours) == len(golden) == 4
    for mine, gold in zip(ours, golden):
        assert mine.split("PM25,", 1)[1] == gold.split("PM25,", 1)[1]
    dates = [line[1:].split(",", 1)[0] for line in ours]
    assert dates == ["2015/09/20", "2015/04/30", "2015/12/28", "2015/11/01"]


def test_read_pm25_plan_stays_in_jvm(spark):
    """The CLI's input is a text ``FileScan``, not a Python RDD: a
    ``PythonRDD``/``ExistingRDD`` under the frame would send every pass
    over it through Python workers."""
    from nchu_bigdata_spark.kmeans import read_pm25

    df = read_pm25(spark, os.path.join(FIXTURES, "pm25.txt"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "PythonRDD" not in plan, plan


def test_read_pm25_crlf_and_blank_lines(spark, tmp_path):
    """CRLF line endings and a whitespace-only line in the middle give
    the same (obs_date, features) rows, in the same line-id order, as
    the LF fixture."""
    from nchu_bigdata_spark.kmeans import read_pm25

    lines = _fixture_lines("pm25.txt")
    crlf = tmp_path / "pm25_crlf.txt"
    with open(crlf, "w", encoding="utf-8", newline="") as f:
        f.write("\r\n".join(lines[:180] + ["   "] + lines[180:]) + "\r\n")

    def rows(path):
        df = read_pm25(spark, path).orderBy("line_id")
        return [(r["obs_date"], r["features"]) for r in df.collect()]

    want = rows(os.path.join(FIXTURES, "pm25.txt"))
    assert len(want) == 365
    assert rows(str(crlf)) == want


def test_toy_points_converge(spark):
    """Draft-variant shape (Kmeans/kmeans.java): 26 2-d points, k=2,
    normalized-squared metric, exact-convergence stop
    (kmeans.java:221-224). No golden output exists for this input in the
    reference; assert the algorithmic contract instead: cost is
    monotonically non-increasing and the run converges."""
    pts = spark.read.schema("x double, y double").csv(
        os.path.join(FIXTURES, "kmeans_input_file.txt")
    ).withColumn("features", F.array("x", "y"))
    with open(
        os.path.join(FIXTURES, "cluster.center.conf.txt"), encoding="utf-8"
    ) as f:
        init = [
            [float(v) for v in line.strip().split(",")]
            for line in f
            if line.strip()
        ]
    assert len(init) == 2
    res = kmeans.fit(
        pts, init, metric="normalized_sq", max_iter=20, tol=0.0
    )
    assert res.converged
    for a, b in zip(res.costs, res.costs[1:]):
        assert b <= a + 1e-9


def _init_centers() -> list[list[float]]:
    return _parse_centers_file(
        os.path.join(FIXTURES, "pm25.cluster.center.conf.txt")
    )


@contextlib.contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()


def _group_jobs(spark, group: str) -> list[tuple[int, int, list[int]]]:
    """(SQL execution id, job id, shuffle-write bytes per stage) of each
    job in ``group``, from the status stores, in job order."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    scala = spark._jvm.scala.jdk.javaapi.CollectionConverters
    sql_store = spark._jsparkSession.sharedState().statusStore()
    execution_of = {
        int(j): e.executionId()
        for e in scala.asJava(sql_store.executionsList())
        for j in scala.asJava(e.jobs()).keySet()
    }
    return [
        (
            execution_of[j], j,
            [store.lastStageAttempt(s).shuffleWriteBytes()
             for s in sc.statusTracker().getJobInfo(j).stageIds],
        )
        for j in sorted(jobs)
    ]


def test_fit_rounds_do_not_shuffle(spark):
    """Each Lloyd round is one job of one stage that writes no shuffle
    bytes: the k centroid summaries come back as observed metrics of a
    narrow pass, not through a groupBy."""
    with _job_group(spark, "kmeans-fit-rounds"):
        kmeans.fit(
            _load_pm25(spark), _init_centers(), feature_col="features",
            metric="sq_euclidean_abs", max_iter=3,
        )
    jobs = _group_jobs(spark, "kmeans-fit-rounds")
    assert len(jobs) == 3, jobs
    for _, job, stage_shuffle in jobs:
        assert stage_shuffle == [0], (job, stage_shuffle)


def test_cli_shuffles_only_in_the_fold(spark, tmp_path):
    """A full CLI run is maxIter-1 narrow rounds, the fold, and the
    assignments write, one SQL execution each. Only the fold shuffles,
    and the representative-day pick rides on the write: that execution
    is one job of one stage."""
    from nchu_bigdata_spark import kmeans as cli

    out = str(tmp_path / "kmeans_out")
    os.makedirs(out)
    with _job_group(spark, "kmeans-cli"):
        cli.run(
            spark, os.path.join(FIXTURES, "pm25.txt"),
            os.path.join(FIXTURES, "pm25.cluster.center.conf.txt"), out, 5,
        )
    jobs = _group_jobs(spark, "kmeans-cli")
    executions: dict[int, list[list[int]]] = {}
    for ex, _, stage_shuffle in jobs:
        executions.setdefault(ex, []).append(stage_shuffle)
    order = sorted(executions)
    assert len(order) == 4 + 2, executions
    shuffling = [ex for ex in order if any(map(any, executions[ex]))]
    assert shuffling == [order[-2]], executions  # the fold
    for ex in order[:4] + order[-1:]:
        assert executions[ex] == [[0]], executions
    assert sorted(_cli_outputs(out)[0]) == sorted(
        _fixture_lines("golden_assignments.txt")
    )


def test_fit_result_does_not_depend_on_partitioning(spark):
    """Per-task summaries merge at the driver in task completion order,
    so 4 partitions may move the centers by ulps but not the labels."""
    df = _load_pm25(spark)
    parts = df.repartition(4)
    assert parts.rdd.getNumPartitions() == 4
    fits = [
        kmeans.fit(d, _init_centers(), feature_col="features",
                   metric="sq_euclidean_abs", max_iter=5)
        for d in (df.coalesce(1), parts)
    ]
    for c1, c4 in zip(fits[0].centers, fits[1].centers):
        assert c4 == pytest.approx(c1, rel=1e-12, abs=0.0)

    def labels(centers):
        out = kmeans.assign(df, centers, "features", "sq_euclidean_abs")
        return {r["obs_date"]: r["cluster"] for r in out.collect()}

    one = labels(fits[0].centers)
    assert len(one) == 365
    assert labels(fits[1].centers) == one


def test_empty_cluster_keeps_its_center(spark, tmp_path):
    """A fifth init center far from every row never gains a member:
    ``fit`` carries it unchanged through every round, the other four
    still reach the golden centroids, and the CLI writes its line with
    the carried values and an empty representative date."""
    from nchu_bigdata_spark import kmeans as cli

    far = [1e6] * 24
    res = kmeans.fit(
        _load_pm25(spark), _init_centers() + [far], feature_col="features",
        metric="sq_euclidean_abs", max_iter=5,
    )
    assert res.centers[4] == far
    for ours, (_, gold) in zip(res.centers, _parse_golden_centers()):
        assert ours == pytest.approx(gold, rel=1e-9)

    conf = tmp_path / "centers5.txt"
    conf_lines = _fixture_lines("pm25.cluster.center.conf.txt")
    head = ",".join(conf_lines[0].split(",")[:3])
    conf.write_text(
        "\n".join(conf_lines + [head + "," + ",".join(map(repr, far))]) + "\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "kmeans_out")
    os.makedirs(out)
    cli.run(spark, os.path.join(FIXTURES, "pm25.txt"), str(conf), out, 5)
    emitted, ours = _cli_outputs(out)
    assert sorted(emitted) == sorted(_fixture_lines("golden_assignments.txt"))
    golden = _fixture_lines("golden_centers.txt")
    assert ours[:4] == [
        mine.split(",", 1)[0] + "," + gold.split(",", 1)[1]
        for mine, gold in zip(ours, golden)
    ]
    assert ours[4] == "\t,大里,PM25," + ", ".join(["1000000.0"] * 24)
