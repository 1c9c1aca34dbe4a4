"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
op → build (``spec.fn`` / ``kmeans.run``) → ``materialize.*`` (nested)
→ exec (the noop-sink write), each with start, end and parent, kept in
memory and written out when the run ends. Each phase runs under its own
Spark job group, so its jobs, stages, tasks, executor time, GC, input,
shuffle and spill come from Spark's status store once the listener bus
is drained. py4j commands are counted at the gateway client, leaving out
py4j's own garbage-collection messages (command ``m``): those are sent
whenever Python frees a JVM handle, so they do not repeat exactly.

Nothing here is installed in an untraced run, and the instrumentation
stays for the rest of the traced run's process.
"""

from __future__ import annotations

import functools
import sys
import time

ENGINE_PKG = "nchu_bigdata_spark"
MATERIALIZE_FNS = ("shared_intermediate", "shared_partitioned", "range_pid_frozen")
MB = 1024.0 * 1024.0
STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "driver_loop_jobs", "driver_loop_job_s",
)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Spans and per-phase counters of one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.phases: dict[str, dict] = {}
        self.overhead_s = 0.0  # status-store reads, outside the ops
        self._stack: list[int] = []
        self._op_id = 0
        self._phase: str | None = None
        self._counting = False
        self._py4j = 0
        self._mat_calls = 0
        self._mat_s = 0.0
        self._install()

    # -- instrumentation -------------------------------------------------
    def _install(self) -> None:
        client = self.sc._gateway._gateway_client
        orig_send = client.send_command

        def send_command(command, *args, **kwargs):
            if self._counting and not command.startswith("m"):
                self._py4j += 1
            return orig_send(command, *args, **kwargs)

        client.send_command = send_command

        from nchu_bigdata_spark import materialize

        for name in MATERIALIZE_FNS:
            orig = getattr(materialize, name)
            wrapped = self._wrap_materialize(name, orig)
            # engine modules bind these functions by name at import time
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(ENGINE_PKG)
                        and getattr(mod, name, None) is orig):
                    setattr(mod, name, wrapped)

    def _wrap_materialize(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = not any(
                self.spans[i]["name"].startswith("materialize.") for i in self._stack
            )
            t0 = time.perf_counter()
            self._open(f"materialize.{name}")
            try:
                return fn(*args, **kwargs)
            finally:
                self._close()
                if outer:
                    self._mat_calls += 1
                    self._mat_s += time.perf_counter() - t0

        return wrapper

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, **attrs) -> None:
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": time.perf_counter(), "end": None, **attrs})

    def _close(self) -> None:
        self.spans[self._stack.pop()]["end"] = time.perf_counter()

    def start_op(self, op_id: int, op: str) -> None:
        self._op_id = op_id
        self.phases = {}
        self._open("op", op=op)

    def phase(self, name: str) -> None:
        """Enter phase ``name`` of the current op: its own job group and
        fresh py4j and materialize counters."""
        self._end_phase()
        self._open(name)
        self.sc.setJobGroup(f"perfbench-{self._op_id}-{name}", name, False)
        self._py4j = self._mat_calls = 0
        self._mat_s = 0.0
        self._phase = name
        self._counting = True

    def _end_phase(self) -> None:
        if self._phase is None:
            return
        self._counting = False
        self.phases[self._phase] = {"py4j_calls": self._py4j,
                                    "materialize_calls": self._mat_calls,
                                    "materialize_s": self._mat_s}
        self._close()
        self._phase = None

    def end_op(self) -> dict[str, dict]:
        """Close the op's spans, then add each phase's status-store
        counters. Returns {phase: counters}."""
        self._end_phase()
        while self._stack:  # an op that raised leaves its spans open
            self._close()
        t0 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for name, counters in self.phases.items():
            counters.update(self._store_counters(f"perfbench-{self._op_id}-{name}"))
        self.overhead_s += time.perf_counter() - t0
        return self.phases

    # -- status store --------------------------------------------------------
    def _store_counters(self, group: str) -> dict:
        """Jobs, stages, tasks and stage metrics of one job group."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        intervals = []
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                span = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                intervals.append(span)
                # a job whose call site is an engine file: a driver loop
                if f"/{ENGINE_PKG}/" in (job.name() or ""):
                    out["driver_loop_jobs"] += 1
                    out["driver_loop_job_s"] += span[1] - span[0]
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: stage never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_mb"] += st.inputBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        out["job_wall_s"] = union_s(intervals)
        return out

    def storage(self) -> tuple[int, float]:
        """(persistent RDDs, MB in the block store) right now."""
        jsc = self.sc._jsc
        mb = sum((i.memSize() + i.diskSize()) / MB
                 for i in jsc.sc().getRDDStorageInfo())
        return jsc.getPersistentRDDs().size(), mb
