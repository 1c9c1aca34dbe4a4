"""The benchmark's workloads, their ops and the output checks.

Every op is one call a user of the engine makes:

* a registered query: build the DataFrame (``spec.fn(spark, sf_dir)``),
  then execute it into Spark's ``noop`` sink;
* ``kmeans_cli``: the reference's k-means program
  (``nchu_bigdata_spark.kmeans.run`` on the committed PM2.5 fixture,
  4 centers, 5 iterations) writing its text output to a fresh directory,
  checked against the reference's golden files on every op.

Query outputs are checked once per run against fingerprints recorded
with the benchmark (``fingerprints.json``): the sha256 of the canonical
row multiset of ``tools/check_oracle.canon_pdf``, certified against each
query's DuckDB oracle by ``run.py --certify``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
FIXTURES = os.path.join("tests", "fixtures")

@dataclass(frozen=True)
class Workload:
    sf: float  # scale factor of the generated tables
    ops: tuple[str, ...]  # fixed cyclic order; the seed picks the start


WORKLOADS = {
    "build_freeze": Workload(0.003, ("kmeans_cli", "dedup_minhash")),
    "scan_exec": Workload(0.03, ("agg_hash", "join_shuffle", "win_running_total", "tpch_q1")),
}

CLI_OP = "kmeans_cli"


def data_dir(root: str, sf: float) -> str:
    return os.path.join(root, "data", f"sf{sf:g}")


def cycle(workload: str, seed: int) -> list[str]:
    ops = WORKLOADS[workload].ops
    k = seed % len(ops)
    return list(ops[k:] + ops[:k])


def fingerprint(pdf) -> dict:
    """Row count and sha256 of the canonical row multiset of a pandas
    frame, as the engine's oracle checker canonicalizes it."""
    from tools.check_oracle import canon_pdf

    rows = canon_pdf(pdf)
    return {"rows": len(rows),
            "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def check_fingerprint(op: str, pdf, want: dict) -> bool:
    got = fingerprint(pdf)
    if got != want:
        print(f"{op}: output {got} != recorded {want}", file=sys.stderr)
    return got == want


def load_fingerprints(sf: float, digest: str) -> dict[str, dict]:
    """The recorded fingerprints for the tables at ``sf``; refuses them
    when the tables were generated differently."""
    with open(FINGERPRINTS, encoding="utf-8") as f:
        rec = json.load(f)[f"sf{sf:g}"]
    if rec["digest"] != digest:
        raise RuntimeError(
            f"sf{sf:g} tables digest {digest} differs from the recorded "
            f"{rec['digest']}; re-certify with run.py --certify"
        )
    return rec["queries"]


# -- kmeans_cli ---------------------------------------------------------


def _lines(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out += [ln.rstrip("\n") for ln in f if ln.strip()]
    return out


def _centers_without_date(lines: list[str]) -> list[str]:
    # "\t<date>,<station>,PM25,<v0>, <v1>, ..." — the reference's date
    # pick is a documented divergence; the numeric text must match
    return [ln.split(",", 1)[1] for ln in lines]


def check_kmeans_output(out_dir: str) -> bool:
    """Assignments as a line multiset and centers byte-for-byte (date
    field excluded) against the reference's golden outputs."""
    got_assign = _lines(sorted(glob.glob(os.path.join(out_dir, "assignments", "part-*"))))
    want_assign = _lines([os.path.join(FIXTURES, "golden_assignments.txt")])
    got_centers = _lines([os.path.join(out_dir, "centers.txt")])
    want_centers = _lines([os.path.join(FIXTURES, "golden_centers.txt")])
    return (Counter(got_assign) == Counter(want_assign)
            and _centers_without_date(got_centers) == _centers_without_date(want_centers))


def no_phase(name: str) -> None:
    pass


def run_kmeans_cli(spark, tmp_root: str, phase=no_phase) -> tuple[float, float, bool]:
    from nchu_bigdata_spark import kmeans

    out_dir = tempfile.mkdtemp(prefix="kmeans-", dir=tmp_root)
    try:
        t0 = time.perf_counter()
        phase("build")
        kmeans.run(spark, os.path.join(FIXTURES, "pm25.txt"),
                   os.path.join(FIXTURES, "pm25.cluster.center.conf.txt"),
                   out_dir, 5)
        build_s = time.perf_counter() - t0
        return build_s, 0.0, check_kmeans_output(out_dir)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# -- registered queries --------------------------------------------------


def run_query(spark, spec, sf_dir: str, ok: bool,
              phase=no_phase) -> tuple[float, float, bool]:
    """Build, then execute into the noop sink. ``ok`` is the verdict of
    this query's fingerprint check earlier in the run."""
    t0 = time.perf_counter()
    phase("build")
    df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    phase("exec")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, ok
