"""Shared-intermediate materialization with bounded storage.

Multi-consumer queries (MinHash shingles feeding 4 consumers, the
hypertable's fine level feeding 2 coarser rollups) need an intermediate
computed once, not once per consumer — and not once per *concurrent*
consumer: with a lazy persist, Spark schedules independent consumer
stages in parallel and each recomputes the partitions before any block
lands in the cache ("Block already exists" warnings = duplicated work).

Mechanism choice (measured, sf0.1 MinHash shingles, warm session):

* eager ``localCheckpoint`` — RDD-level block store: **2.2 s/run,
  stable**;
* ``persist(MEMORY_AND_DISK)`` + eager materialization — SQL columnar
  cache: **10-44 s/run, erratic** (building compressed columnar batches
  for millions of short strings costs more than the query itself).

Re-measured after the Spark 4.1.2 upgrade (round 4, dedup_minhash sf0.1,
3 warm reps): localCheckpoint 1.9-2.4 s vs eager persist 2.1-2.9 s —
the gap narrowed (the 4.x cache builder is much faster) but checkpoint
still wins; decision stands.

So: eager ``localCheckpoint``, with the leak the advisor flagged fixed —
round 1 never released checkpoint blocks, so repeated invocations
(bench reps, plan-audit sweeps, oracle runs) accumulated executor
storage for the session lifetime. Every freeze belongs to the **run**
that built it (:class:`Run`, in a context variable): one per registered
query invocation, joined by nested operator calls, released when the
result frame is collected (or at once if the build raises). A run keeps
one live generation per tag: a rebuild unpersists the previous one.
Storage is bounded by the live result frames. Freezes made outside any
run go to a default run under the same rule; ``release_all`` releases
every run.

The build-time job eager checkpointing runs is deliberate: one pass to
materialize beats 2-4 concurrent consumer recomputes, and a production
pipeline would persist this table (or stage it) anyway — the point is
the storage has an owner with a release path.
"""

from __future__ import annotations

import time
import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame


class Run:
    """The freezes one query run owns: ``live`` maps each tag to the
    release of its live generation, ``segments`` holds ``(tag,
    seconds)`` per freeze, ``counters`` what operators report."""

    def __init__(self) -> None:
        self.live: dict[str, Callable[[], None]] = {}
        self.segments: list[tuple[str, float]] = []
        self.counters: dict[str, int] = {}
        _RUNS.add(self)

    def free(self, tag: str) -> None:
        try:
            self.live.pop(tag, lambda: None)()
        except Exception:  # pragma: no cover - session already stopped
            pass

    def own(self, tag: str, release: Callable[[], None], t0: float) -> None:
        """Replace ``tag``'s live generation; record seconds since ``t0``."""
        self.free(tag)
        self.live[tag] = release
        self.segments.append((tag, time.perf_counter() - t0))

    def release(self) -> None:
        for tag in list(self.live):
            self.free(tag)


_RUNS: weakref.WeakSet[Run] = weakref.WeakSet()
_DEFAULT_RUN = Run()
_ACTIVE: ContextVar[Run] = ContextVar("freeze_run", default=_DEFAULT_RUN)


def current_run() -> Run:
    """The run being built, else the default run."""
    return _ACTIVE.get()


@contextmanager
def run_scope() -> Iterator[Run]:
    """Open a run for the block (registered queries built inside join
    it); its freezes are released when the block exits."""
    run = Run()
    token = _ACTIVE.set(run)
    try:
        yield run
    finally:
        _ACTIVE.reset(token)
        run.release()


def build_in_run(build: Callable[[], DataFrame]) -> DataFrame:
    """Call ``build`` in a new run that lives as long as the frame it
    returns (hold that frame while anything derived from it runs), or
    in the active run if there is one."""
    if _ACTIVE.get() is not _DEFAULT_RUN:
        return build()
    run = Run()
    token = _ACTIVE.set(run)
    try:
        df = build()
    except BaseException:
        run.release()
        raise
    finally:
        _ACTIVE.reset(token)
    weakref.finalize(df, run.release).atexit = False
    return df


# Plan-audit hook (tools/explain_audit.py, VERDICT r9 item 5): a
# checkpointed segment's physical plan is INVISIBLE in the consumer
# query's explain (it shows only Scan ExistingRDD), so a fact-
# cardinality single-task window hidden inside a frozen segment would
# escape the structural audit and surface only as WindowExec WARN
# noise at execution. When the audit enables this flag, every
# shared_intermediate call also records the segment's formatted plan
# under its tag for the same structural walk the final plans get.
# Off by default: production/bench builds pay zero extra planning.
CAPTURE_SEGMENT_PLANS = False
SEGMENT_PLANS: dict[str, str] = {}


def _capture_plan(tag: str, df: DataFrame) -> None:
    """Record ``df``'s formatted plan under ``tag`` when the plan audit
    has switched ``CAPTURE_SEGMENT_PLANS`` on."""
    if not CAPTURE_SEGMENT_PLANS:
        return
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    SEGMENT_PLANS[tag] = buf.getvalue()


def shared_intermediate(tag: str, df: DataFrame, eager: bool = True) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` as the active run's single
    live generation for ``tag``, releasing the previous generation's
    blocks."""
    t0 = time.perf_counter()
    _capture_plan(tag, df)
    out = df.localCheckpoint(eager=eager)
    # the blocks belong to the checkpointed RDD under out's LogicalRDD
    rdd = out._jdf.logicalPlan().rdd()
    _ACTIVE.get().own(tag, lambda: rdd.unpersist(False), t0)
    return out


def shared_partitioned(tag: str, df: DataFrame) -> DataFrame:
    """Persist (SQL columnar cache) instead of ``localCheckpoint`` for
    the rare shared segment whose OUTPUT PARTITIONING downstream
    consumers must see: a checkpointed segment scans back as
    ``Scan ExistingRDD`` with unknown partitioning, so every consumer
    join re-shuffles it, while ``InMemoryTableScan`` reports its
    child's ``hashpartitioning`` and a co-partitioned SHUFFLE_HASH
    join streams the cached side in place (graph_random_walk r14: 4
    walk steps re-exchanged the 2.4M-row edge table once per step
    under the checkpoint; cached + pre-partitioned, only the |V|-row
    frontier moves). The general default stays ``shared_intermediate``
    — the module-docstring measurements (columnar-cache build cost on
    string-heavy millions-of-rows segments) still hold; use THIS only
    when a preserved partitioning pays for the cache build.

    Same bounded-storage contract: one live generation per tag per
    run. The previous generation is unpersisted BEFORE the new persist
    — the cache manager keys entries by analyzed plan, so for the
    common rebuild-the-same-plan case an unpersist after the new
    persist would evict the block the new generation just registered.
    Two runs persisting one plan share its entry, and the older run's
    release evicts it: the newer frame recomputes the segment at exec
    (correct, mistimed), so rep loops drop each frame before rebuilding."""
    t0 = time.perf_counter()
    _capture_plan(tag, df)
    run = _ACTIVE.get()
    run.free(tag)
    out = df.persist()
    # eager: one materialization pass beats N concurrent consumer
    # recomputes racing the cache (same rationale as the eager
    # localCheckpoint above)
    out.count()
    jdf = out._jdf  # not ``out``: the release must not keep the frame alive
    run.own(tag, lambda: jdf.unpersist(False), t0)
    return out


def range_pid_frozen(tag: str, df: DataFrame, *sort_cols) -> DataFrame:
    """Range-repartition ``df`` on ``sort_cols``, stamp
    ``spark_partition_id`` and FREEZE the result (eager
    ``localCheckpoint`` via :func:`shared_intermediate`).

    The distributed two-pass rank (win_lorenz pattern) fans the
    range-partitioned frame into two branches — per-pid counts (→
    running offsets) and per-pid local ``row_number`` — and adds them
    back together. ``repartitionByRange`` samples its boundaries with a
    per-execution seed and column pruning makes the two branch subtrees
    non-identical, so on Spark 4.1.2 the physical plan contains TWO
    independent rangepartitioning exchanges and no ReusedExchange: the
    offset branch and the row-number branch can observe *different*
    partitionings, silently corrupting every global rank (ADVICE r9,
    high). Freezing the pid-stamped frame pins ONE sampled partitioning
    that both branches then read from the RDD block store; downstream
    plans show ``Scan ExistingRDD`` and zero rangepartitioning
    exchanges (asserted by tests/test_two_pass_rank.py).

    At 100 TB this materializes only the post-rollup key frame (the
    pattern is always applied after a groupBy shrank the input to
    entity cardinality), the same storage class as every other
    ``shared_intermediate`` site.
    """
    from pyspark.sql import functions as F

    nparts = df.sparkSession.sparkContext.defaultParallelism
    srt = df.repartitionByRange(nparts, *sort_cols)
    return shared_intermediate(
        tag, srt.withColumn("pid", F.spark_partition_id())
    )


def release_all() -> None:
    """Release the default run and every live run (test teardown hook)."""
    for run in list(_RUNS):
        run.release()
