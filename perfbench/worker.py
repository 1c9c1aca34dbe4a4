"""The measured process of one benchmark run; ``run.py`` starts it
fresh for every run with the environment pinned.

1. Set-up: build the session, load the registry, run a synthetic
   warm-up that reads no workload data.
2. First pass: each op type once, cold, collecting its output and
   checking it (fingerprint, or the golden files for ``kmeans_cli``).
   A type whose check fails has all its timed ops counted as failed.
3. Timed window: one client, closed loop, whole cycles of the ops in
   their fixed order, noop-sink execution. Each op type's latency is
   the median of its samples, so the JIT transient left by the first
   pass, which slows the first cycle, does not set it. With ``--trace 1`` each op is
   traced (see ``tracing.py``) and the per-layer metrics are reported.

Prints a ``{"record": ...}`` line with everything measured (including
the error rate, per-op-type medians and host noise), then the result
line, and exits at once, leaving the JVM for ``run.py`` to kill.

    python3 perfbench/worker.py <workload> <seed> <seconds> <trace> <build_dir>
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

T_SPAWN = float(os.environ.get("PERFBENCH_T0", time.time()))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402
import workloads as W  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_geomean_s": "s",
    "cpu_s_per_op": "s",
    "retained_mb": "MB",
}

PER_LAYER = {
    "session.get_session_s": "s",
    "registry.load_all_queries_s": "s",
    "build.s": "s",
    "build.self_s": "s",
    "build.py4j_calls": "count",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.executor_run_s": "s",
    "build.shuffle_write_mb": "MB",
    "build.pct": "%",
    "driver_loop.jobs": "count",
    "driver_loop.pct": "%",
    "materialize.calls": "count",
    "materialize.pct": "%",
    "materialize.live_rdds": "count",
    "materialize.storage_mb": "MB",
    "exec.s": "s",
    "exec.pct": "%",
    "exec.py4j_calls": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.gc_pct": "%",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "trace.overhead_s": "s",
}


def warm_up(spark) -> None:
    """Synthetic work touching no workload data: one shuffle aggregate,
    so the first op does not also pay for the first job. Python workers
    stay cold: starting them is part of the first pass."""
    spark.range(0, 100_000, numPartitions=4).selectExpr(
        "id % 97 AS k", "CAST(id AS DOUBLE) AS v"
    ).groupBy("k").sum("v").collect()


def retained_memory_mb(spark) -> float:
    """JVM heap and non-heap in use after a full collection: what the
    run keeps alive (freeze generations, caches, status store), free of
    the collector's timing, unlike the resident high-water mark."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / (1024.0 * 1024.0)


def per_layer(recs: list[dict], setup: dict, cores: int, overhead_s: float) -> dict:
    """Per-op means of the traced ops' phase counters."""
    n = max(len(recs), 1)

    def total(phase: str, key: str) -> float:
        return sum(r["phases"].get(phase, {}).get(key, 0.0) for r in recs)

    lat = sum(r["build_s"] + r["exec_s"] for r in recs) or 1.0
    build_s = sum(r["build_s"] for r in recs)
    exec_s = sum(r["exec_s"] for r in recs)
    out = dict(setup)
    out.update({
        "build.s": build_s / n,
        "build.self_s": (build_s - total("build", "job_wall_s")) / n,
        "build.pct": 100.0 * build_s / lat,
        "driver_loop.jobs": total("build", "driver_loop_jobs") / n,
        "driver_loop.pct": 100.0 * total("build", "driver_loop_job_s") / lat,
        "materialize.calls": total("build", "materialize_calls") / n,
        "materialize.pct": 100.0 * total("build", "materialize_s") / lat,
        "materialize.live_rdds": sum(r["live_rdds"] for r in recs) / n,
        "materialize.storage_mb": sum(r["storage_mb"] for r in recs) / n,
        "exec.s": exec_s / n,
        "exec.pct": 100.0 * exec_s / lat,
        "exec.core_util": total("exec", "executor_run_s") / ((exec_s or 1.0) * cores),
        "exec.gc_pct": 100.0 * total("exec", "gc_s")
        / (total("exec", "executor_run_s") or 1.0),
        "trace.overhead_s": overhead_s / n,
    })
    for key in ("py4j_calls", "jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_mb"):
        out[f"build.{key}"] = total("build", key) / n
    for key in ("py4j_calls", "jobs", "stages", "tasks", "tasks_failed",
                "executor_run_s", "executor_cpu_s", "input_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"exec.{key}"] = total("exec", key) / n
    return out


def main(workload: str, seed: int, seconds: float, trace: bool, build_dir: str) -> int:
    from bench import HEADLINE
    from nchu_bigdata_spark.registry import load_all_queries
    from nchu_bigdata_spark.session import get_session

    wl = W.WORKLOADS[workload]
    sf_dir = W.data_dir(build_dir, wl.sf)
    tmp_root = os.path.join(build_dir, "tmp")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # -- 1. set-up ------------------------------------------------------
    t = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    specs = load_all_queries()
    registry_s = time.perf_counter() - t
    warm_up(spark)
    setup_s = time.time() - T_SPAWN

    # -- 2. first pass: cold, and the output check ----------------------
    with open(os.path.join(sf_dir, "DIGEST")) as f:
        fps = W.load_fingerprints(wl.sf, f.read().strip())
    order = W.cycle(workload, seed)
    verified: dict[str, bool] = {}
    t = time.perf_counter()
    for op in order:
        try:
            if op == W.CLI_OP:
                verified[op] = W.run_kmeans_cli(spark, tmp_root)[2]
            else:
                pdf = specs[op].fn(spark, sf_dir).toPandas()
                verified[op] = W.check_fingerprint(op, pdf, fps[op])
        except Exception:  # noqa: BLE001 - counted as failed, run goes on
            traceback.print_exc()
            verified[op] = False
    first_pass_s = time.perf_counter() - t

    # -- 3. timed window --------------------------------------------------
    tracer = None
    recs: list[dict] = []

    def make(op: str):
        def run():
            phase = W.no_phase
            if tracer is not None:
                tracer.start_op(len(recs), op)
                phase = tracer.phase
            if op == W.CLI_OP:
                return W.run_kmeans_cli(spark, tmp_root, phase)
            return W.run_query(spark, specs[op], sf_dir, verified[op], phase)
        return run

    def after_op(s: M.Sample) -> None:
        if tracer is not None:
            phases = tracer.end_op()
            live, mb = tracer.storage()
            recs.append({"op": s.op, "build_s": s.build_s, "exec_s": s.exec_s,
                         "phases": phases, "live_rdds": live, "storage_mb": mb})

    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)

    me = os.getpid()
    procs0 = M.descendants(me)
    cpu0 = M.cpu_seconds(procs0)
    steal0, jiffies0 = M.host_cpu_jiffies()
    load0 = M.loadavg()
    samples, window_s = M.closed_loop([(op, make(op)) for op in order], seconds, after_op)
    procs1 = M.descendants(me)
    cpu_s = M.cpu_seconds(procs1) - cpu0
    steal1, jiffies1 = M.host_cpu_jiffies()
    javas = [p for p in procs1 if p != me and _comm(p) == "java"]
    peak_rss_mb = M.status_mb(me, "VmHWM") + sum(M.status_mb(p, "VmHWM") for p in javas)
    retained_mb = retained_memory_mb(spark) + M.status_mb(me, "VmRSS")

    e2e = M.end_to_end(samples, window_s, cpu_s)
    e2e.update(setup_s=setup_s, first_pass_s=first_pass_s,
               retained_mb=retained_mb, peak_rss_mb=peak_rss_mb)
    failed = sum(not s.ok for s in samples)
    medians = M.per_type_medians(samples)
    record = {
        "workload": workload, "seed": seed, "trace": trace, "sf": wl.sf,
        "cores": cores, "order": order, "verified": verified,
        "samples": len(samples), "window_s": window_s,
        "end_to_end": e2e,
        "op_p50_s": medians,
        "latencies_s": [[s.op, s.latency_s] for s in samples],
        # this workload's share of bench.py's headline sum
        "headline_part_s": sum(v for k, v in medians.items() if k in HEADLINE),
        "errors": sorted({s.error for s in samples if s.error}),
        "loadavg": [load0, M.loadavg()],
        "steal_pct": 100.0 * (steal1 - steal0) / max(jiffies1 - jiffies0, 1),
    }
    if trace:
        setup = {"session.get_session_s": session_s,
                 "registry.load_all_queries_s": registry_s}
        layers = per_layer(recs, setup, cores, tracer.overhead_s)
        record["per_layer"] = layers
        record["per_op_layers"] = {
            op: per_layer([r for r in recs if r["op"] == op], {}, cores, 0.0)
            for op in order
        }
        path = os.path.join(build_dir, f"trace-{workload}-seed{seed}.json")
        record["trace_file"] = path
        with open(path, "w") as f:
            json.dump({"spans": tracer.spans, "ops": recs}, f)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": all(verified.values()) and failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


if __name__ == "__main__":
    wl_name, seed_s, secs, tr, bdir = sys.argv[1:6]
    code = main(wl_name, int(seed_s), float(secs), tr == "1", bdir)
    # no spark.stop(): run.py kills the JVM and the Python workers, which
    # saves seconds of shutdown per run that nothing measures
    sys.stderr.flush()
    os._exit(code)
