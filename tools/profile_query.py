"""Per-query profiler for the optimization rounds (guide §1).

For each named query, separates where the wall-clock goes:

  * build   — Python-side DataFrame construction (py4j + analysis),
              with the number of py4j commands it sent
  * segs    — each eager ``shared_intermediate``/``shared_partitioned``
              materialization job inside the build, by tag, as recorded
              by the run (``materialize.run_scope``) the build joins
  * exec    — the final noop-sink execution (full computation)

Methodology: warm session, noop sink, N reps in one process. Each line
shows the fastest rep (lowest build+exec, as bench.py reports the min)
and, next to each layer, the median over the reps. Seconds from two
processes can differ by 2×; compare two trees with reps interleaved in
one session, not with two runs of this tool.

Usage:
    python tools/profile_query.py [--sf DIR] [--reps N] query [query ...]
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time

sys.path.insert(0, ".")

from nchu_bigdata_spark import materialize
from nchu_bigdata_spark.registry import load_all_queries
from nchu_bigdata_spark.session import get_session

PY4J = [0]  # py4j commands sent since the last reset


def _count_py4j(spark) -> None:
    """Count py4j commands at the gateway client, skipping py4j's own
    garbage-collection messages (command ``m``): they are sent whenever
    Python frees a JVM handle, so they do not repeat exactly. Same rule
    as ``perfbench/tracing.py``."""
    client = spark.sparkContext._gateway._gateway_client
    orig_send = client.send_command

    def send_command(command, *args, **kwargs):
        if not command.startswith("m"):
            PY4J[0] += 1
        return orig_send(command, *args, **kwargs)

    client.send_command = send_command


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--rank-build",
        type=int,
        default=0,
        metavar="N",
        help="sweep EVERY registered query, time one DataFrame "
        "construction (py4j + analysis; eager freeze segments "
        "subtracted), print the top N by pure build time — the "
        "VERDICT r14 item-9 plan-construction-tail ranking",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if not args.rank_build and not args.queries:
        ap.error("name queries to profile, or pass --rank-build N")

    spark = get_session("profile")
    _count_py4j(spark)
    specs = load_all_queries()

    # warm the runtime like bench.warm does (cheap subset)
    from pyspark.sql import functions as F

    spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    if args.rank_build:
        ranked = []
        for name in sorted(specs):
            spark.sparkContext.setJobDescription(f"rank-build:{name}")
            t0 = time.perf_counter()
            PY4J[0] = 0
            # the run releases the build's freezes on exit, so every
            # build starts from an empty block store
            try:
                with materialize.run_scope() as run:
                    specs[name].fn(spark, args.sf)
                    wall = time.perf_counter() - t0
                    calls = PY4J[0]
            except Exception as e:  # streaming-only ops etc.
                print(f"?? {name}: build failed: {e}")
                continue
            seg = sum(s for _, s in run.segments)
            ranked.append((wall - seg, seg, calls, name))
        ranked.sort(reverse=True)
        print("| query | pure build s | freeze segs s | py4j calls |")
        print("|---|---|---|---|")
        for pure, seg, calls, name in ranked[: args.rank_build]:
            print(f"| {name} | {pure:.3f} | {seg:.3f} | {calls} |")
        total = sum(r[0] for r in ranked)
        print(f"(swept {len(ranked)} queries, total pure build {total:.1f}s)")
        return

    for name in args.queries:
        if name not in specs:
            print(f"?? unknown query {name}")
            continue
        rows = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            PY4J[0] = 0
            with materialize.run_scope() as run:
                t0 = time.perf_counter()
                df = specs[name].fn(spark, args.sf)
                t1 = time.perf_counter()
                calls = PY4J[0]
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            rows.append((t1 - t0, t2 - t1, run.segments, calls))
        per_rep = [r[3] for r in rows]
        med_total = statistics.median(r[0] + r[1] for r in rows)
        med_build = statistics.median(r[0] for r in rows)
        med_exec = statistics.median(r[1] for r in rows)
        build, execu, segs, _ = min(rows, key=lambda r: r[0] + r[1])
        seg_total = sum(s for _, s in segs)
        print(
            f"{name}: total={build + execu:.3f}s "
            f"(median {med_total:.3f}s)  build={build:.3f}s "
            f"(median {med_build:.3f}s, segments {seg_total:.3f}s)  "
            f"exec={execu:.3f}s (median {med_exec:.3f}s)  "
            f"build py4j calls per rep={per_rep}"
        )
        for tag, s in segs:
            print(f"    seg {tag}: {s:.3f}s")


if __name__ == "__main__":
    main()
