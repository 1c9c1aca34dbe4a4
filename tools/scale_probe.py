"""Synthetic 10× scale probe for the heavy operators (VERDICT r6 item 3).

/root/testdata tops out at sf0.1, so the 100×-scale claims for the
heaviest plans rested on plan-shape argument alone. This probe converts
the argument into measured evidence: it fabricates a 10× corpus from
sf0.1 by unioning key-shifted copies, runs each heavy operator at 1×
and 10×, and asserts the runtime ratio is far below the quadratic
frontier (a quadratic plan would scale ~100×; the gate is ratio < 25,
i.e. comfortably sub-quadratic, leaving room for constant-factor and
scheduling noise on a time-shared host).

Blow-up construction (structure-preserving, so outputs scale ~linearly
and the 10× run exercises the same plan shapes, only bigger):

* ``lineitem``: 10 copies with ``l_orderkey`` and ``l_partkey`` shifted
  by ``i × 10^7`` — per-order group sizes are unchanged and the part
  co-purchase graph becomes 10 disjoint isomorphic subgraphs
  (triangles, degrees, PageRank structure all ×10, no new hubs).
* ``events``: 10 copies with ``event_id``/``user_id`` shifted by
  ``i × 10^7`` — per-user event streams are unchanged, so sessions,
  Markov rows, window states and EWMA series all replicate ×10 with
  no new hot users.
* ``documents``: 10 copies with ``doc_id`` shifted by ``i × 10^7`` and
  every TOKEN suffixed ``_c<i>`` for copies 1..9 — copies share no
  shingles, so near-dup pair structure per copy is identical to 1×
  and the expected pair count is exactly ×10 (appending a copy-id to
  the whole text would leave bodies near-identical across copies and
  quadratically explode the pair space — a different, adversarial
  experiment).

The shift (10^7) is divisible by every modulus the operators use for
deterministic splits (doc_id % 10, % 20, l_orderkey % 4), so split
semantics are preserved per copy.

Usage:
    python tools/scale_probe.py [--reps 2] [--ops op1,op2,...]

Prints per-op 1×/10× timings + ratio as a markdown table (paste into
SCALE_PROBE.md) and exits non-zero if any ratio breaches the gate.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from nchu_bigdata_spark.io import TABLES
from nchu_bigdata_spark.registry import load_all_queries
from nchu_bigdata_spark.session import get_session

BASE_SF = "/root/testdata/sf0.1"
COPIES = 10
SHIFT = 10_000_000
GATE_RATIO = 25.0  # quadratic would be ~100; linear ~10

# r7 probe: graph_triangles, graph_pagerank, dedup_ngram_jaccard,
# dedup_incremental (results + the triangle plan fix in SCALE_PROBE.md).
# r8 default: the round-7/8-born heavy ops not yet probed.
HEAVY_OPS = [
    "graph_neighbor_jaccard",
    "graph_bfs",
    "text_line_dedup",
    "text_heavy_hitters",
    "dedup_edit_distance",
    "tokenize_vocab_coverage",
    "sample_importance",
    "ts_ewma",
    "win_running_distinct",
    "graph_kcore_peel",
    "agg_countmin",
    "events_trigram_paths",
]

# Tables each op reads (everything else is symlinked unchanged).
BLOWN_TABLES = {"lineitem", "documents", "events", "orders", "embeddings"}


def link_base_tables(out_dir: str) -> None:
    """Symlink every sf0.1 entry not yet present in ``out_dir``.
    Idempotent, so it runs on every probe, not only after a build: a
    crash between a blown table's ``_SUCCESS`` and these links heals on
    the next run instead of leaving missing tables."""
    for f in os.listdir(BASE_SF):
        link = os.path.join(out_dir, f)
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(BASE_SF, f)), link)


def lineitem_only(spec) -> bool:
    """Whether ``spec`` reads lineitem alone, judged by the tables its
    DuckDB oracle names (the oracle reads what the query reads). Only
    such ops are meaningful on the lineitem-only blow-up: a join to
    part/orders there drops 99% of keys."""
    if spec.oracle is None:
        return False
    named = {t for t in TABLES if re.search(rf"\b{t}\b", spec.oracle)}
    return named == {"lineitem"}


def build_10x(spark, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    # lineitem: shift both key spaces per copy
    li = spark.read.parquet(os.path.join(BASE_SF, "lineitem.parquet"))
    parts = []
    for i in range(COPIES):
        parts.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * SHIFT))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * SHIFT))
        )
    big_li = parts[0]
    for p in parts[1:]:
        big_li = big_li.unionAll(p)
    big_li.write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet")
    )

    # documents: shift doc_id; suffix every token for copies >= 1 so
    # copies share no shingles (structure-preserving blow-up)
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    parts = []
    for i in range(COPIES):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * SHIFT))
        if i > 0:
            d = d.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda t: F.concat(t, F.lit(f"_c{i}")),
                    ),
                    " ",
                ),
            )
        parts.append(d)
    big_docs = parts[0]
    for p in parts[1:]:
        big_docs = big_docs.unionAll(p)
    big_docs.write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    # events: shift event_id and user_id per copy; timestamps and the
    # per-user stream structure are untouched (10 disjoint user
    # populations with identical series). 10^7 is divisible by the
    # event_id % 5 null mask and user_id % 2 variant moduli.
    from nchu_bigdata_spark.io import table as _table

    ev = _table(spark, BASE_SF, "events")  # normalizes the NANOS stamps
    parts = []
    for i in range(COPIES):
        parts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * SHIFT))
            .withColumn("user_id", F.col("user_id") + F.lit(i * SHIFT))
        )
    big_ev = parts[0]
    for p in parts[1:]:
        big_ev = big_ev.unionAll(p)
    link = os.path.join(out_dir, "events.parquet")
    if os.path.islink(link):
        os.unlink(link)  # r7 probe symlinked events; now it's blown up
    big_ev.write.mode("overwrite").parquet(link)

    # orders: shift o_orderkey by the SAME per-copy offset as lineitem
    # (so copy i of lineitem still joins copy i of orders) and
    # o_custkey like events' user_id — per-customer order streams and
    # the priority/status distributions replicate ×10 unchanged.
    # 10^7 is divisible by the o_orderkey % 4 split modulus.
    o = spark.read.parquet(os.path.join(BASE_SF, "orders.parquet"))
    parts = []
    for i in range(COPIES):
        parts.append(
            o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * SHIFT))
            .withColumn("o_custkey", F.col("o_custkey") + F.lit(i * SHIFT))
        )
    big_o = parts[0]
    for p in parts[1:]:
        big_o = big_o.unionAll(p)
    link = os.path.join(out_dir, "orders.parquet")
    if os.path.islink(link):
        os.unlink(link)  # earlier probes symlinked orders
    big_o.write.mode("overwrite").parquet(link)

    # embeddings: shift vec_id; copies >= 1 get a per-copy DETERMINISTIC
    # SIGNED CYCLIC-SHIFT PERMUTATION: out[d] = ±embedding[(d+i) % 64],
    # signs from murmur(d, i). A signed permutation is orthogonal, so
    # within-copy dot products, norms and cosines are IDENTICAL to 1×
    # (near-dup pairs, LSH band structure, SMOTE neighborhoods all
    # replicate ×10). The round-9 lesson: plain sign flips (no
    # permutation) leave a vector coordinate-ALIGNED with its own
    # copies, so the self-pair cosine is 1 − 2·(flipped mass fraction)
    # — mass-concentrated vectors land above the 0.4 dedup threshold
    # and the pair space explodes anyway (measured: smote rows 49 →
    # 6199 at 10×). The cyclic shift (i ≠ 0, and i−j ≠ 0 between any
    # two blown copies) has NO fixed points, so every cross-copy
    # cosine is a signed lag-autocorrelation that concentrates near 0.
    em = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    parts = []
    for i in range(COPIES):
        e = em.withColumn("vec_id", F.col("vec_id") + F.lit(i * SHIFT))
        if i > 0:
            e = e.withColumn(
                "embedding",
                F.expr(
                    "transform(sequence(0, 63), d -> "
                    f"CASE WHEN pmod(hash(d, {i}), 2) = 0 "
                    f"THEN embedding[pmod(d + {i}, 64)] "
                    f"ELSE -embedding[pmod(d + {i}, 64)] END)"
                ),
            )
        parts.append(e)
    big_e = parts[0]
    for p in parts[1:]:
        big_e = big_e.unionAll(p)
    link = os.path.join(out_dir, "embeddings.parquet")
    if os.path.islink(link):
        os.unlink(link)
    big_e.write.mode("overwrite").parquet(link)

    # everything else: symlink unchanged from sf0.1
    for f in os.listdir(BASE_SF):
        if not f.endswith(".parquet"):
            continue
        if f.split(".")[0] in BLOWN_TABLES:
            continue
        link = os.path.join(out_dir, f)
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(BASE_SF, f)), link)


def build_docs_nx(spark, out_dir: str, copies: int) -> None:
    """documents-only structure-preserving blow-up at ``copies``×:
    doc_id shifted i×SHIFT per copy, every token suffixed ``_c<i>``
    for copies ≥ 1 (copies share no shingles — same construction as
    build_10x's documents leg, expressed as ONE broadcast
    copy-expansion join instead of a copies-way union so a 100-branch
    plan never materializes). Everything but documents is linked by
    ``link_base_tables``. SHIFT stays divisible by the doc_id % 10 /
    % 20 split moduli, so e.g. dedup_incremental's corpus/batch split
    replicates per copy."""
    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    cp = F.col("cp")
    big = (
        docs.crossJoin(
            F.broadcast(spark.range(copies).withColumnRenamed("id", "cp"))
        )
        .withColumn("doc_id", F.col("doc_id") + cp * F.lit(SHIFT))
        .withColumn(
            "text",
            F.when(cp == F.lit(0), F.col("text")).otherwise(
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda t: F.concat(
                            t, F.lit("_c"), cp.cast("string")
                        ),
                    ),
                    " ",
                )
            ),
        )
        .drop("cp")
    )
    big.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def build_lineitem_nx(spark, out_dir: str, copies: int) -> None:
    """lineitem-only structure-preserving blow-up at ``copies``×:
    ``l_orderkey``/``l_partkey`` shifted i×SHIFT per copy (the same
    construction as build_10x's lineitem leg, expressed as ONE
    broadcast copy-expansion join so a 100-branch union plan never
    materializes). The part co-purchase graph becomes ``copies``
    disjoint isomorphic subgraphs — no new hubs, |V| and |E| exactly
    ×copies. Key dtypes are cast back to the source schema so the
    blown table is byte-compatible (100×SHIFT = 10⁹ still fits int32).
    Skipped when a previous run finished the table; everything but
    lineitem is linked by ``link_base_tables`` either way."""
    # _SUCCESS, not the dir: a crash mid-write must not leave a
    # partial lineitem.parquet a bare-dir check would adopt
    done = os.path.join(out_dir, "lineitem.parquet", "_SUCCESS")
    if not os.path.exists(done):
        t0 = time.perf_counter()
        os.makedirs(out_dir, exist_ok=True)
        li = spark.read.parquet(os.path.join(BASE_SF, "lineitem.parquet"))
        ok_t = li.schema["l_orderkey"].dataType.simpleString()
        pk_t = li.schema["l_partkey"].dataType.simpleString()
        cp = F.col("cp")
        big = (
            li.crossJoin(
                F.broadcast(
                    spark.range(copies).withColumnRenamed("id", "cp")
                )
            )
            .withColumn(
                "l_orderkey",
                (F.col("l_orderkey") + cp * F.lit(SHIFT)).cast(ok_t),
            )
            .withColumn(
                "l_partkey",
                (F.col("l_partkey") + cp * F.lit(SHIFT)).cast(pk_t),
            )
            .drop("cp")
        )
        big.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, "lineitem.parquet")
        )
        print(
            f"built lineitem {copies}x in {time.perf_counter()-t0:.1f}s",
            flush=True,
        )
    link_base_tables(out_dir)


def build_embed_synth(spark, out_dir: str, n: int) -> None:
    """Synthetic embeddings corpus for the LSH LINEARITY probe
    (VERDICT r9 item 7): 90% iid hash-noise vectors + 10% planted
    EXACT duplicates, so the true near-dup pair count is n/10 by
    construction — output volume is provably LINEAR in n and the
    10×-step wall ratio isolates the ENGINE's scaling, not the
    corpus's. (The first attempt blew up sf0.1's 2000 vectors ×100
    with signed cyclic-shift permutations; with 100 copies over 64
    dims, copy pairs i ≡ j (mod 64) share a permutation and leak
    sign-flip-only cross pairs — the r9 lesson — inflating output
    4.4× over linear and the wall to 30×. Measured, documented in
    SCALE_PROBE.md, and replaced by this construction.) Every
    non-embeddings table symlinks to sf0.1 unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    n_uniq = n * 9 // 10
    base = spark.range(1, n_uniq + 1).select(
        F.col("id").alias("vec_id"),
        F.lit("t").alias("label"),
        F.expr(
            "transform(sequence(0, 63), d ->"
            " CAST((pmod(hash(id, d), 2001) - 1000) / 1000.0 AS FLOAT))"
        ).alias("embedding"),
    )
    dup = base.filter(F.col("vec_id") <= n - n_uniq).select(
        (F.col("vec_id") + n_uniq).alias("vec_id"), "label", "embedding"
    )
    base.unionAll(dup).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    for f in os.listdir(BASE_SF):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            link = os.path.join(out_dir, f)
            if not os.path.lexists(link):
                os.symlink(os.path.abspath(os.path.join(BASE_SF, f)), link)


def time_op(spark, specs, name: str, sf_dir: str, reps: int) -> tuple[float, int]:
    # Time the NOOP SINK, not count(): Catalyst's left-outer join
    # elimination can prune an entire upstream chain out of a count()
    # when the right side's keys are provably unique and unreferenced —
    # dedup_threshold_sweep's probe "ran" in 0.79s at 10× that way
    # (round 9), measuring spark.range(11) instead of the LSH chain.
    # The noop write computes every column of every row (bench.py's
    # convention). Rows are counted once, untimed, for the report.
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df = specs[name].fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        del df  # release its freezes before the next build
        best = min(best, time.perf_counter() - t0)
    rows = specs[name].fn(spark, sf_dir).count()
    return best, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--ops", type=str, default=None)
    ap.add_argument(
        "--embed100x",
        action="store_true",
        help="LSH linearity probe: dedup_embed_cosine at 1x/10x/100x "
        "vectors (adaptive band width 4/7/10 bits); gates the "
        "10x->100x STEP ratio (both arms above the width floor)",
    )
    ap.add_argument(
        "--docs100x",
        action="store_true",
        help="two-decade linearity probe (VERDICT r13 item 7): "
        "documents at 10x AND 100x (copies shingle-disjoint), gating "
        "the 10x->100x STEP ratio for a docs-only op (default "
        "dedup_incremental, the batchxcorpus shape)",
    )
    ap.add_argument(
        "--graph100x",
        action="store_true",
        help="two-decade graph probe (VERDICT r14 item 1): lineitem at "
        "10x AND 100x (disjoint isomorphic co-purchase subgraphs), "
        "gating the 10x->100x STEP ratio for the persist-reworked "
        "iterative kernels (default graph_pagerank + "
        "graph_connected_components — the cached-|E| freeze must "
        "degrade gracefully, not OOM, as |E| outgrows memory share); "
        "--ops may name lineitem-only ops only",
    )
    ap.add_argument(
        "--geo10x",
        action="store_true",
        help="geo probe: 10x the CUSTOMER point set (the geo fact "
        "side, which the standard blow-up keeps fixed as a dim) over "
        "an unchanged facility set",
    )
    ap.add_argument(
        "--timeshift10x",
        action="store_true",
        help="time-domain probe: 10x events with ts shifted i*31 days "
        "per copy (domain grows with data, density bounded) - the fair "
        "construction for global time-overlap joins",
    )
    args = ap.parse_args()
    # default=None so the geo/timeshift arms can tell "flag omitted"
    # from "user explicitly asked for the heavy list" (ADVICE r12)
    ops = (
        [o for o in args.ops.split(",") if o]
        if args.ops is not None
        else list(HEAVY_OPS)
    )
    specs = load_all_queries()
    if args.graph100x and args.ops is not None:
        bad = [
            o for o in ops if o not in specs or not lineitem_only(specs[o])
        ]
        if bad:
            ap.error(
                "--graph100x blows up lineitem only; these ops read "
                f"other tables (or are unknown): {', '.join(bad)}"
            )

    spark = get_session("scale-probe")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    big_dir = os.path.join(repo, ".scratch", "scale10x")

    if args.embed100x:
        from nchu_bigdata_spark.operators.similarity import _lsh_bits

        arms = []
        for n in (20_000, 200_000):
            d = os.path.join(repo, ".scratch", f"embed_synth{n}")
            if not os.path.exists(os.path.join(d, "embeddings.parquet")):
                t0 = time.perf_counter()
                build_embed_synth(spark, d, n)
                print(f"built synth {n} in {time.perf_counter()-t0:.1f}s")
            arms.append((f"synth{n//1000}k", d, n))
        import bench

        bench.warm(spark)
        embed_ops = ops if args.ops is not None else ["dedup_embed_cosine"]
        print("| op | corpus | n vecs | bits | sec | rows | step ratio |")
        print("|---|---|---|---|---|---|---|")
        breach = False
        for name in embed_ops:
            prev = None
            for tag, d, n in arms:
                t, r = time_op(spark, specs, name, d, args.reps)
                step = f"{t / prev:.1f}x" if prev else "-"
                if prev and t / prev >= GATE_RATIO:
                    step += "  **BREACH**"
                    breach = True
                print(
                    f"| {name} | {tag} | {n} | {_lsh_bits(n)} | {t:.2f} "
                    f"| {r} | {step} |",
                    flush=True,
                )
                prev = t
        return 1 if breach else 0

    if args.docs100x:
        arms = []
        for n in (10, 100):
            d = os.path.join(repo, ".scratch", f"docs{n}x")
            if not os.path.exists(os.path.join(d, "documents.parquet")):
                t0 = time.perf_counter()
                build_docs_nx(spark, d, n)
                print(
                    f"built docs {n}x in {time.perf_counter()-t0:.1f}s",
                    flush=True,
                )
            link_base_tables(d)
            arms.append((f"{n}x", d))
        import bench

        bench.warm(spark)
        doc_ops = ops if args.ops is not None else ["dedup_incremental"]
        print("| op | corpus | sec | rows | step ratio |")
        print("|---|---|---|---|---|")
        breach = False
        for name in doc_ops:
            prev = None
            for tag, d in arms:
                t, r = time_op(spark, specs, name, d, args.reps)
                step = f"{t / prev:.1f}x" if prev else "-"
                if prev and t / prev >= GATE_RATIO:
                    step += "  **BREACH**"
                    breach = True
                print(
                    f"| {name} | {tag} | {t:.2f} | {r} | {step} |",
                    flush=True,
                )
                prev = t
        return 1 if breach else 0

    if args.graph100x:
        arms = []
        for n in (10, 100):
            d = os.path.join(repo, ".scratch", f"li{n}x")
            build_lineitem_nx(spark, d, n)
            arms.append((f"{n}x", d))
        import bench

        bench.warm(spark)
        g_ops = (
            ops
            if args.ops is not None
            else ["graph_pagerank", "graph_connected_components"]
        )
        print("| op | corpus | sec | rows | step ratio |")
        print("|---|---|---|---|---|")
        breach = False
        for name in g_ops:
            prev, _ = time_op(spark, specs, name, BASE_SF, args.reps)
            print(f"| {name} | 1x | {prev:.2f} | - | - |", flush=True)
            for tag, d in arms:
                t, r = time_op(spark, specs, name, d, args.reps)
                step = f"{t / prev:.1f}x"
                if t / prev >= GATE_RATIO:
                    step += "  **BREACH**"
                    breach = True
                print(
                    f"| {name} | {tag} | {t:.2f} | {r} | {step} |",
                    flush=True,
                )
                prev = t
        return 1 if breach else 0

    if args.geo10x:
        # geo_cell_join's fact side is CUSTOMER (not in BLOWN_TABLES:
        # the standard blow-up keeps dims fixed by design). This arm
        # shifts c_custkey by i*10^7 per copy — the derived coords
        # rehash to fresh grid points, so point density grows 10x over
        # a FIXED facility set: per-point candidate work stays O(cell
        # occupancy) and the expected ratio is ~10x (linear).
        d = os.path.join(repo, ".scratch", "geo10x")
        if not os.path.exists(os.path.join(d, "customer.parquet")):
            os.makedirs(d, exist_ok=True)
            cu = spark.read.parquet(
                os.path.join(BASE_SF, "customer.parquet")
            )
            parts = [
                cu.withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(i * SHIFT)
                )
                for i in range(COPIES)
            ]
            big = parts[0]
            for p in parts[1:]:
                big = big.unionAll(p)
            big.write.mode("overwrite").parquet(
                os.path.join(d, "customer.parquet")
            )
        link_base_tables(d)
        import bench

        bench.warm(spark)
        geo_ops = (
            ops
            if args.ops is not None
            else ["geo_cell_join", "geo_bbox_join"]
        )
        print("| op | 1x sec | 10x sec | ratio | 1x rows | 10x rows |")
        print("|---|---|---|---|---|---|")
        breach = False
        for name in geo_ops:
            t1, r1 = time_op(spark, specs, name, BASE_SF, args.reps)
            t10, r10 = time_op(spark, specs, name, d, args.reps)
            ratio = t10 / max(t1, 1e-9)
            flag = "" if ratio < GATE_RATIO else "  **BREACH**"
            if ratio >= GATE_RATIO:
                breach = True
            print(
                f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x{flag} "
                f"| {r1} | {r10} |",
                flush=True,
            )
        return 1 if breach else 0

    if args.timeshift10x:
        # Global time-overlap joins (join_range_partitioned) probe on a
        # TIME-SHIFTED blow-up: copy i shifts ts by i*31 days (and ids
        # by i*SHIFT). The standard blow-up keeps the 30-day domain
        # fixed and multiplies density — for an interval-overlap join
        # that inflates OUTPUT pairs ~quadratically by construction
        # (10x incidents x 10x density), the same adversarial-
        # experiment distinction the documents token-suffix note makes.
        # In production more data means longer retention: domain grows,
        # density per cell is bounded — this arm models that, so the
        # expected ratio is ~10x (linear in pairs).
        d = os.path.join(repo, ".scratch", "timeshift10x")
        # _SUCCESS, not the dir: a crash mid-write leaves a partial
        # events.parquet that a bare-dir check would silently adopt
        # (stream_probe.build_inputs uses the same guard).
        if not os.path.exists(
            os.path.join(d, "events.parquet", "_SUCCESS")
        ):
            os.makedirs(d, exist_ok=True)
            from nchu_bigdata_spark.io import table as _table

            ev = _table(spark, BASE_SF, "events")
            day_us = 86_400_000_000
            parts = [
                ev.withColumn("event_id", F.col("event_id") + F.lit(i * SHIFT))
                .withColumn("user_id", F.col("user_id") + F.lit(i * SHIFT))
                .withColumn(
                    "ts",
                    F.timestamp_micros(
                        F.unix_micros("ts") + F.lit(i * 31 * day_us)
                    ),
                )
                for i in range(COPIES)
            ]
            big = parts[0]
            for p in parts[1:]:
                big = big.unionAll(p)
            big.write.mode("overwrite").parquet(
                os.path.join(d, "events.parquet")
            )
        link_base_tables(d)
        import bench

        bench.warm(spark)
        ts_ops = (
            ops
            if args.ops is not None
            else ["join_range_partitioned"]
        )
        print("| op | 1x sec | 10x sec | ratio | 1x rows | 10x rows |")
        print("|---|---|---|---|---|---|")
        breach = False
        for name in ts_ops:
            t1, r1 = time_op(spark, specs, name, BASE_SF, args.reps)
            t10, r10 = time_op(spark, specs, name, d, args.reps)
            ratio = t10 / max(t1, 1e-9)
            flag = "" if ratio < GATE_RATIO else "  **BREACH**"
            if ratio >= GATE_RATIO:
                breach = True
            print(
                f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x{flag} "
                f"| {r1} | {r10} |",
                flush=True,
            )
        return 1 if breach else 0

    if (
        not os.path.exists(os.path.join(big_dir, "documents.parquet"))
        or os.path.islink(os.path.join(big_dir, "events.parquet"))
        or os.path.islink(os.path.join(big_dir, "orders.parquet"))
        or os.path.islink(os.path.join(big_dir, "embeddings.parquet"))
    ):
        t0 = time.perf_counter()
        build_10x(spark, big_dir)
        print(f"built 10x dir in {time.perf_counter()-t0:.1f}s", flush=True)

    import bench

    bench.warm(spark)

    print("| op | 1x sec | 10x sec | ratio | 1x rows | 10x rows |")
    print("|---|---|---|---|---|---|")
    failed = []
    for name in ops:
        t1, r1 = time_op(spark, specs, name, BASE_SF, args.reps)
        t10, r10 = time_op(spark, specs, name, big_dir, args.reps)
        ratio = t10 / max(t1, 1e-9)
        flag = "" if ratio < GATE_RATIO else "  **BREACH**"
        print(
            f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x{flag} "
            f"| {r1} | {r10} |",
            flush=True,
        )
        if ratio >= GATE_RATIO:
            failed.append(name)
    if failed:
        print("gate breached:", ", ".join(failed))
        return 1
    print(f"all ratios < {GATE_RATIO} (quadratic would be ~100x)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
