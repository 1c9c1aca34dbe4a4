"""Engine benchmark: one run of one workload, from the repository root.

    python3 perfbench/run.py --workload scan_exec --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --certify

A run generates its input tables once per checkout (``datagen.py``,
kept under ``.bench_build/perfbench``), then starts the measured process
(``worker.py``) fresh, with the environment pinned:

* ``SPARK_GRAFT_CPUS`` = the cores this process may use (unset, the
  engine would use ``local[*]`` with 32 shuffle partitions and other
  plans);
* ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's temp dir inside the
  build directory;
* ``PYTHONPATH`` = the repository, which Spark's Python workers need to
  import the engine;
* ``SPARK_GRAFT_DRIVER_MEM`` = 2g, ample for the generated tables and
  small enough for a shared host.

It waits for the measured process, kills and waits for everything that
process started, relays its output and exits with its code. The last
line of output is the result: ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record of the run.

``--certify`` recomputes ``fingerprints.json``: for every query of every
workload, the fingerprint of its DuckDB oracle's output on the generated
tables, after checking that Spark's output has the same fingerprint.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170.0


def ensure_data(sf: float) -> str:
    out = W.data_dir(BUILD, sf)
    if not os.path.exists(os.path.join(out, "DIGEST")):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        datagen.write(sf, out)
    return out


def pinned_env() -> dict[str, str]:
    """The measured process's environment, with its scratch directories
    emptied: the JVM of the run before was killed, not stopped, and left
    its shuffle and temp files behind."""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _adopt_orphans() -> None:
    """Become the subreaper of everything the measured process starts:
    the JVM and the Python workers it leaves behind (the Python worker
    daemon runs in a process group of its own) stay this process's
    descendants, to kill and wait for."""
    import ctypes

    if ctypes.CDLL(None).prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError("perfbench: cannot become the subreaper of the measured process")


def _stop_descendants() -> None:
    """Kill every process below this one and wait until each has ended."""
    me = os.getpid()
    for _ in range(400):
        rest = M.descendants(me)[1:]
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not rest:
            return
        time.sleep(0.05)


def run(args) -> int:
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "nchu_bigdata_spark")):
        print("perfbench: run from the repository root (engine sources not found)",
              file=sys.stderr)
        return 2
    ensure_data(W.WORKLOADS[args.workload].sf)
    env = pinned_env()
    _adopt_orphans()
    env["PERFBENCH_T0"] = repr(time.time())
    log_path = os.path.join(BUILD, f"{args.workload}.log")
    out_path = os.path.join(BUILD, f"{args.workload}.out")
    # output to a file, not a pipe: the JVM inherits it, and the run is
    # over when the measured process exits, not when the JVM lets go
    with open(log_path, "w") as log, open(out_path, "w") as out:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
             str(args.seed), str(args.seconds), str(args.trace), BUILD],
            env=env, stdout=out, stderr=log,
        )
        timed_out = False
        try:
            proc.wait(timeout=DEADLINE_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            timed_out = True
            proc.kill()
            proc.wait()
        finally:
            _stop_descendants()
    with open(out_path) as f:
        lines = f.read().strip().splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
    except (IndexError, json.JSONDecodeError):
        result = None
    if result is None or "metrics" not in result:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: measured process failed (exit {proc.returncode}, "
              f"timed out: {timed_out}); log {log_path}", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines))
    return 0


def certify() -> int:
    """Record the DuckDB oracles' fingerprints on the generated tables."""
    import duckdb

    sys.path.insert(0, ROOT)
    from nchu_bigdata_spark.io import TABLES
    from nchu_bigdata_spark.registry import load_all_queries
    from nchu_bigdata_spark.session import get_session

    os.environ.update(pinned_env())
    specs = load_all_queries()
    spark = get_session("perfbench-certify")
    rec: dict[str, dict] = {}
    ok = True
    for wl in W.WORKLOADS.values():
        sf_dir = ensure_data(wl.sf)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        with open(os.path.join(sf_dir, "DIGEST")) as f:
            entry = rec.setdefault(f"sf{wl.sf:g}", {"digest": f.read().strip(),
                                                    "queries": {}})
        for op in wl.ops:
            if op == W.CLI_OP:
                continue
            t = time.time()
            want = W.fingerprint(con.execute(specs[op].oracle).df())
            got = W.fingerprint(specs[op].fn(spark, sf_dir).toPandas())
            same = want == got
            ok &= same
            print(f"sf{wl.sf:g} {op}: {want['rows']} rows, spark "
                  f"{'matches' if same else 'DIFFERS'} ({time.time() - t:.1f}s)")
            entry["queries"][op] = want
        con.close()
    spark.stop()
    with open(W.FINGERPRINTS, "w", encoding="utf-8") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--certify", action="store_true",
                    help="re-record fingerprints.json against the DuckDB oracles")
    args = ap.parse_args()
    if args.certify:
        return certify()
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main())
