"""Round-14 op tests: shared_partitioned materialization + the
graph_random_walk co-partitioned SHUFFLE_HASH rework (VERDICT r13
item 8)."""

import re

import pytest
from pyspark.sql import functions as F

from nchu_bigdata_spark.registry import load_all_queries

SPECS = load_all_queries()


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# --------------------------------------------------------------------------
# shared_partitioned
# --------------------------------------------------------------------------


def test_shared_partitioned_bounded_and_partitioning_preserved(spark):
    """(a) One live generation per tag: a repeat call unpersists the
    previous generation (its storage level drops to NONE) — including
    the same-plan rebuild case, where an unpersist AFTER the new
    persist would evict the cache entry the new generation just
    registered (cache manager keys by analyzed plan); (b) the cached
    segment's hashpartitioning survives into consumer joins: a
    SHUFFLE_HASH join against the pre-partitioned cached side
    exchanges ONLY the probe side."""
    import gc

    from nchu_bigdata_spark.materialize import shared_partitioned

    jsc = spark.sparkContext._jsc
    gc.collect()  # frames of earlier tests release their runs now
    n0 = jsc.getPersistentRDDs().size()
    base = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("payload")
    )
    gen1 = shared_partitioned("t14_seg", base.repartition("k"))
    assert gen1.storageLevel.useMemory
    # same-plan rebuild: the NEW generation must hold live storage
    gen2 = shared_partitioned("t14_seg", base.repartition("k"))
    assert gen2.storageLevel.useMemory
    assert gen2.count() == 10_000  # cache not evicted by gen1 release
    # different-plan rebuild releases the old generation's storage
    gen3 = shared_partitioned(
        "t14_seg", base.filter(F.col("k") < 50).repartition("k")
    )
    assert gen3.storageLevel.useMemory
    assert not gen2.storageLevel.useMemory  # previous generation freed
    # exactly one live generation holds storage for the tag
    assert jsc.getPersistentRDDs().size() == n0 + 1

    probe = spark.range(0, 1_000).select((F.col("id") % 100).alias("k"))
    joined = probe.hint("shuffle_hash").join(gen3, "k")
    joined.collect()
    plan = _final_plan(joined)
    assert "ShuffledHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    # exactly ONE EXECUTING exchange below the join: the probe side.
    # The cached side's hashpartitioning(k) satisfies the join
    # requirement, so no exchange sits between the join and
    # InMemoryTableScan — the plan string also prints the cached
    # relation's BUILD-TIME exchange inside the InMemoryRelation
    # subtree, so restrict the count to the executing region above it.
    exec_region = plan.split("InMemoryRelation")[0]
    assert (
        len(re.findall(r"Exchange hashpartitioning\(k", exec_region)) == 1
    ), plan
    final = shared_partitioned("t14_seg", base.limit(1))  # cheap final gen
    from nchu_bigdata_spark.materialize import release_all

    release_all()  # also releases what earlier tests left live
    assert not final.storageLevel.useMemory
    assert jsc.getPersistentRDDs().size() <= n0


# --------------------------------------------------------------------------
# graph_random_walk — co-partitioned SHJ plan shape
# --------------------------------------------------------------------------


def test_random_walk_shj_plan(spark, sf_dir):
    """Every step joins frontier x edges as a ShuffledHashJoin (no
    sort-merge, no window, no cartesian product) and the cached edge
    side scans as InMemoryTableScan — the shape where only the
    |V|-row frontier shuffles per step."""
    df = SPECS["graph_random_walk"].fn(spark, sf_dir)
    df.collect()
    plan = _final_plan(df)
    from nchu_bigdata_spark.operators.graph import _WALK_STEPS

    assert len(re.findall(r"ShuffledHashJoin", plan)) == _WALK_STEPS, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["graph_random_walk", "dedup_minhash", "scan_csv_corrupt",
     "sink_dynamic_overwrite"],
)
def test_random_walk_cache_does_not_leak(spark, sf_dir, name):
    """Repeated builds leave NO live generation behind once each rep's
    frame is dropped — neither the persisted walk edges
    (shared_partitioned) nor the checkpointed MinHash shingles or the
    two relational results frozen under a conf override
    (shared_intermediate): the round-1 storage leak (VERDICT r1:
    unreleased blocks accumulated over bench reps) must not return."""
    import gc

    jsc = spark.sparkContext._jsc
    gc.collect()  # frames of earlier tests release their runs now
    n0 = jsc.getPersistentRDDs().size()
    for _ in range(3):
        df = SPECS[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        del df
        assert jsc.getPersistentRDDs().size() == n0


# --------------------------------------------------------------------------
# agg_kmv_distinct
# --------------------------------------------------------------------------


def test_kmv_exact_python_replay_and_merge(spark, sf_dir, duck):
    """(a) Exact replay: bottom-64 md5 hash sets computed in pure
    Python match the operator's kth_min/est per group; (b) MERGE
    property: sharding the corpus, taking per-shard bottom-k, and
    merging (k smallest of the union) yields the identical sketch —
    the property a 1000-executor rollup depends on."""
    import hashlib

    from nchu_bigdata_spark.queries.aggregates import _KMV_K, _KMV_POW

    rows = duck.execute(
        "SELECT DISTINCT event_type, user_id FROM events"
    ).fetchall()
    by_g = {}
    for g, u in rows:
        h = int(hashlib.md5(f"{g}:{u}".encode()).hexdigest()[:15], 16)
        by_g.setdefault(g, set()).add(h)
    want = {}
    for g, hs in by_g.items():
        bottom = sorted(hs)[:_KMV_K]
        kth = bottom[-1]
        n_kept = len(bottom)
        est = (
            n_kept
            if n_kept < _KMV_K
            else ((_KMV_K - 1) * _KMV_POW) // kth
        )
        want[g] = (n_kept, kth, est)
        # merge property (python-side, exercises the documented
        # sorted-union-truncate semantics)
        sh0 = sorted(h for h in hs if h % 2 == 0)[:_KMV_K]
        sh1 = sorted(h for h in hs if h % 2 == 1)[:_KMV_K]
        merged = sorted(set(sh0) | set(sh1))[:_KMV_K]
        assert merged == bottom

    got = {
        r.event_type: (r.n_kept, r.kth_min, r.kmv_est)
        for r in SPECS["agg_kmv_distinct"].fn(spark, sf_dir).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# win_time_weighted_avg
# --------------------------------------------------------------------------


def test_twap_irregular_and_degenerate(spark, tmp_path):
    """Bursty sampling: a value held for a long interval dominates the
    TWAP while the plain average is fooled; a single-sample group
    (span 0) yields NULL twa, not a division error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = 1_755_000_000 * 1_000_000_000
    s = 1_000_000_000  # one second in nanos
    rows = [
        # 'a': value 10 held 99 s, then 100 bursty 1-s samples of 0.0
        (1, t0, 1, "a", 10.0, "{}"),
        *[
            (2 + i, t0 + (99 + i) * s, 1, "a", 0.0, "{}")
            for i in range(100)
        ],
        # 'b': a single sample — zero span
        (200, t0, 2, "b", 5.0, "{}"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.event_type: r
        for r in SPECS["win_time_weighted_avg"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    a = got["a"]
    # 10.0 held for 99 of 198 weighted seconds -> twa = 5.0; the plain
    # average is ~0.099 (one 10 among 101 samples)
    assert abs(a.twa - 5.0) < 1e-9
    assert a.plain_avg < 0.1
    assert a.n_events == 101
    b = got["b"]
    assert b.twa is None and b.n_events == 1 and b.span_us == 0


# --------------------------------------------------------------------------
# sample_weighted_priority
# --------------------------------------------------------------------------


def test_priority_sample_exact_replay(spark, sf_dir, duck):
    """Pure-Python replay of the deterministic priority draw: per
    lang, bottom-8 of floor(md5_60bit / n_chars) with doc_id ties;
    tau = 9th priority (None when the stratum fits)."""
    import hashlib

    from nchu_bigdata_spark.operators.pipeline import _PRI_K

    rows = duck.execute(
        "SELECT lang, doc_id, n_chars FROM documents WHERE n_chars > 0"
    ).fetchall()
    by_lang = {}
    for lang, doc_id, w in rows:
        h = int(
            hashlib.md5(f"pri:{doc_id}".encode()).hexdigest()[:15], 16
        )
        by_lang.setdefault(lang, []).append((h // w, doc_id, w))
    want = {}
    for lang, cand in by_lang.items():
        cand.sort()
        tau = cand[_PRI_K][0] if len(cand) > _PRI_K else None
        for rank, (pri, doc_id, w) in enumerate(cand[:_PRI_K], 1):
            want[(lang, doc_id)] = (w, pri, rank, tau)
    got = {
        (r.lang, r.doc_id): (r.w, r.priority, r.rank, r.tau)
        for r in SPECS["sample_weighted_priority"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want
    # weighting sanity: the selected docs are weight-biased — their
    # mean weight exceeds the corpus mean (heavier docs get smaller
    # priorities in expectation)
    sel_w = [v[0] for v in got.values()]
    all_w = [w for _, _, w in
             (x for cand in by_lang.values() for x in cand)]
    assert sum(sel_w) / len(sel_w) > sum(all_w) / len(all_w)


# --------------------------------------------------------------------------
# scan_delete_vector
# --------------------------------------------------------------------------


def test_delete_vector_bitmap_replay(spark, sf_dir, duck):
    """Python replay of the bucket sizes and the Knuth-scatter delete
    rule: n_live + n_deleted == bucket size, popcount certification
    holds, and the rule exercises bit 31 and a partial final word."""
    from nchu_bigdata_spark.queries.relational import (
        _DV_MOD,
        _DV_MULT,
        _DV_PICK,
    )

    sizes = dict(
        duck.execute(
            "SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))"
            "::BIGINT % 4 AS b, COUNT(*) FROM orders GROUP BY b"
        ).fetchall()
    )
    got = {
        r.bucket: r
        for r in SPECS["scan_delete_vector"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(sizes)
    for b, n in sizes.items():
        dels = sum(
            1 for p in range(n) if (p * _DV_MULT) % _DV_MOD == _DV_PICK
        )
        r = got[b]
        assert r.popcount_ok
        assert r.n_deleted == dels
        assert r.n_live == n - dels
        # the scatter hits high bits within words AND the final word
        # is partial (n not a multiple of 32) somewhere in the layout
        bits = {
            p % 32
            for p in range(n)
            if (p * _DV_MULT) % _DV_MOD == _DV_PICK
        }
        assert 31 in bits or n < 32


# --------------------------------------------------------------------------
# kmeans_init_parallel
# --------------------------------------------------------------------------


def test_kmeans_init_parallel_properties(spark, sf_dir, duck):
    """k-means|| invariants: the seed (vec_id 0) is round 0; no
    candidate repeats (re-selection impossible: d2=0 after joining
    the set); rounds bounded by R; assignment weights sum to the
    corpus size; selection is weighted toward far points (every
    later-round candidate had nonzero distance to the earlier set)."""
    from nchu_bigdata_spark.operators.kmeans import _INIT_ROUNDS

    rows = SPECS["kmeans_init_parallel"].fn(spark, sf_dir).collect()
    n_vecs = duck.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids)), "a candidate was re-selected"
    by_round = {}
    for r in rows:
        by_round.setdefault(r.round_added, []).append(r)
    assert [r.vec_id for r in by_round[0]] == [0]
    assert set(by_round) <= set(range(_INIT_ROUNDS + 1))
    assert sum(r.weight for r in rows) == n_vecs
    assert len(rows) > 1, "no oversampling happened"


# --------------------------------------------------------------------------
# agg_theta_intersect
# --------------------------------------------------------------------------


def test_theta_intersect_exact_python_replay(spark, sf_dir, duck):
    """Pure-Python replay of the full theta-intersection pipeline:
    unsalted bottom-64 hash sets per group, theta = kth (full) or 2^60
    (exact regime), pair estimate = |common < min-theta| * 2^60 //
    theta — every emitted integer must match; and when BOTH sketches
    are exact-regime the estimate must EQUAL the exact intersection
    (the sketch-is-the-set property)."""
    import hashlib

    from nchu_bigdata_spark.queries.aggregates import _KMV_K, _KMV_POW

    rows = duck.execute(
        "SELECT DISTINCT event_type, user_id FROM events"
    ).fetchall()
    users, by_g = {}, {}
    for g, u in rows:
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        by_g.setdefault(g, set()).add(h)
        users.setdefault(g, set()).add(u)
    bottom, theta = {}, {}
    for g, hs in by_g.items():
        bottom[g] = set(sorted(hs)[:_KMV_K])
        theta[g] = (
            _KMV_POW if len(hs) < _KMV_K else sorted(hs)[_KMV_K - 1]
        )
    want = {}
    for a in sorted(by_g):
        for b in sorted(by_g):
            if a >= b:
                continue
            th = min(theta[a], theta[b])
            n_common = sum(
                1 for h in bottom[a] & bottom[b] if h < th
            )
            est = n_common * _KMV_POW // th
            exact = len(users[a] & users[b])
            want[(a, b)] = (th, n_common, est, exact)
            if theta[a] == _KMV_POW and theta[b] == _KMV_POW:
                assert est == exact  # exact regime IS the set

    got = {
        (r.type_a, r.type_b): (
            r.theta,
            r.n_common,
            r.inter_est,
            r.inter_exact,
        )
        for r in SPECS["agg_theta_intersect"].fn(spark, sf_dir).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# graph_bipartite_projection
# --------------------------------------------------------------------------


def test_bipartite_projection_fanout_cap_and_plan(spark, tmp_path, sf_dir):
    """(a) Hub-order cap: an order carrying 20 parts contributes pairs
    ONLY among its top-8 by quantity (partkey ties) — C(8,2) = 28
    pairs, none touching the 12 dropped parts; (b) plan: the cap runs
    under WindowGroupLimit, pairs expand in-row (no shuffle join
    anywhere), top-k is TakeOrdered, name dims broadcast."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nchu_bigdata_spark.operators.graph import _BIP_CAP

    # one hub order: parts 1..20, quantity = partkey (top-8 = 13..20)
    li = {
        "l_orderkey": [1] * 20,
        "l_partkey": list(range(1, 21)),
        "l_suppkey": [1] * 20,
        "l_linenumber": list(range(1, 21)),
        "l_quantity": [float(p) for p in range(1, 21)],
        "l_extendedprice": [1.0] * 20,
        "l_discount": [0.0] * 20,
        "l_tax": [0.0] * 20,
        "l_returnflag": ["N"] * 20,
        "l_linestatus": ["O"] * 20,
        "l_shipdate": [1_700_000_000 * 10**6] * 20,
    }
    sch = pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    )
    pq.write_table(pa.table(li, schema=sch), str(tmp_path / "lineitem.parquet"))
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(range(1, 21), pa.int64()),
                "p_name": [f"part {p}" for p in range(1, 21)],
                "p_brand": ["b"] * 20,
                "p_type": ["t"] * 20,
                "p_size": pa.array([1] * 20, pa.int32()),
                "p_retailprice": [1.0] * 20,
            }
        ),
        str(tmp_path / "part.parquet"),
    )
    rows = (
        SPECS["graph_bipartite_projection"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    kept = set(range(21 - _BIP_CAP, 21))  # 13..20
    assert len(rows) == _BIP_CAP * (_BIP_CAP - 1) // 2
    for r in rows:
        assert r.part_a in kept and r.part_b in kept
        assert r.part_a < r.part_b and r.co_orders == 1
        assert r.name_a == f"part {r.part_a}"

    df = SPECS["graph_bipartite_projection"].fn(spark, sf_dir)
    df.collect()
    plan = _final_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


# --------------------------------------------------------------------------
# fn_soundex
# --------------------------------------------------------------------------


def _py_soundex(w: str) -> str:
    """Independent textbook American Soundex (h/w transparent, vowels
    separate, first letter's class absorbed) — NOT the regex pipeline
    under test."""
    classes = {}
    for s, d in (
        ("bfpv", "1"),
        ("cgjkqsxz", "2"),
        ("dt", "3"),
        ("l", "4"),
        ("mn", "5"),
        ("r", "6"),
    ):
        for c in s:
            classes[c] = d
    w = w.lower()
    first = w[0].upper()
    last = classes.get(w[0], "")
    digits = []
    for c in w[1:]:
        if c in "hw":
            continue  # transparent: `last` unchanged
        d = classes.get(c)
        if d is None:  # vowel: separator, resets the run
            last = ""
            continue
        if d != last:
            digits.append(d)
        last = d
    return (first + "".join(digits) + "000")[:4]


def test_soundex_textbook_fixtures(spark):
    """The classic published test vector (Robert/Rupert, the
    h-transparency pair Ashcraft/Ashcroft, Tymczak's vowel-separated
    double-2, Pfister's first-letter absorption, Wright's leading-W,
    Honeyman) through the ACTUAL SQL expression."""
    from nchu_bigdata_spark.queries.scalar_fns import _soundex_sql

    fixtures = {
        "robert": "R163",
        "rupert": "R163",
        "ashcraft": "A261",
        "ashcroft": "A261",
        "tymczak": "T522",
        "pfister": "P236",
        "wright": "W623",
        "honeyman": "H555",
        "a": "A000",
        "lee": "L000",
    }
    df = spark.createDataFrame([(w,) for w in fixtures], ["w"])
    got = {
        r.w: r.sdx
        for r in df.selectExpr("w", f"{_soundex_sql('w', '')} AS sdx").collect()
    }
    assert got == fixtures
    for w, want in fixtures.items():
        assert _py_soundex(w) == want, w


def test_soundex_corpus_replay_and_plan(spark, sf_dir, duck):
    """Full-corpus exactness: the Spark blocks equal a Python textbook
    replay over the DuckDB-computed vocabulary; plan stays pure
    codegen (no Python eval)."""
    from collections import defaultdict

    vocab = duck.execute(
        """
        SELECT w, COUNT(*) AS n FROM (
            SELECT unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS w
            FROM documents
        ) GROUP BY w
        """
    ).fetchall()
    assert vocab
    blocks = defaultdict(lambda: [0, 0, None])
    for w, n in vocab:
        b = blocks[_py_soundex(w)]
        b[0] += 1
        b[1] += n
        b[2] = w if b[2] is None else min(b[2], w)
    df = SPECS["fn_soundex"].fn(spark, sf_dir)
    rows = df.collect()
    got = {r.sdx: [r.n_words, r.n_occurrences, r.sample_word] for r in rows}
    assert got == dict(blocks)
    plan = _final_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --------------------------------------------------------------------------
# scan_incremental_read
# --------------------------------------------------------------------------


def test_incremental_read_flag_semantics_and_pruning(spark, sf_dir, duck):
    """(a) The increment reads ONLY late-append partition dirs (the
    data_change=false OPTIMIZE re-adds are excluded, so no base dir is
    touched — the double-count trap); (b) a flag-ignoring fold over
    the same log WOULD include the compacted base dirs, proving the
    flag is load-bearing; (c) totals equal the oracle's late-slice
    every-3rd-month increment."""
    from nchu_bigdata_spark.queries.relational import (
        _INC_SCHEMA,
        scan_incremental_read,
        scratch_dir,
    )

    df = SPECS["scan_incremental_read"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows
    for f in df.inputFiles():
        assert "late=true" in f, f  # no base dir is ever read

    # flag-ignoring fold: same window, same last-action-wins, no
    # data_change filter -> the compacted base dirs reappear
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    log = spark.read.schema(_INC_SCHEMA).json(
        scratch_dir(sf_dir, "inc_log_json")
    )
    v_base = log.filter(F2.col("version") < 200).agg(
        F2.max("version").alias("v_base")
    )
    w = Window.partitionBy("file").orderBy(F2.desc("version"))
    naive = (
        log.crossJoin(F2.broadcast(v_base))
        .filter(F2.col("version") > F2.col("v_base"))
        .select("*", F2.row_number().over(w).alias("rk"))
        .filter((F2.col("rk") == 1) & (F2.col("action") == "add"))
    )
    naive_files = {r.file for r in naive.select("file").collect()}
    assert any("late=false" in f for f in naive_files)  # would double-count
    flagged = {r.file for r in naive.filter("data_change").select("file").collect()}
    assert all("late=true" in f for f in flagged)

    got = {r.mo: (r.n_rows, float(r.sum_price)) for r in rows}
    exp = duck.execute(
        """
        WITH months AS (
            SELECT mo, ROW_NUMBER() OVER (ORDER BY mo) - 1 AS i
            FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mo
                  FROM orders)
        )
        SELECT strftime(o_orderdate, '%Y-%m') AS mo,
               COUNT(*), ROUND(SUM(o_totalprice), 6)
        FROM orders o JOIN months m ON strftime(o_orderdate, '%Y-%m') = m.mo
        WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 7 = 0
          AND m.i % 3 = 0
        GROUP BY 1
        """
    ).fetchall()
    assert got == {mo: (n, float(s)) for mo, n, s in exp}


# --------------------------------------------------------------------------
# orders_revenue_recognition
# --------------------------------------------------------------------------


def test_revenue_recognition_books_close_and_negative_span(
    spark, sf_dir, tmp_path, duck
):
    """(a) The ledger reconciles to invoiced revenue TO THE CENT
    (the remainder rule's defining property); (b) a ship-before-order
    row collapses to one month carrying the full charge (the
    GREATEST guard that keeps Spark's descending sequence() from
    diverging from DuckDB's empty generate_series)."""
    from pyspark.sql import functions as F2

    from nchu_bigdata_spark.io import table as _table

    df = SPECS["orders_revenue_recognition"].fn(spark, sf_dir)
    ledger_total = df.agg(F2.sum("recognized_cents")).collect()[0][0]
    (invoiced,) = duck.execute(
        """
        SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """
    ).fetchone()
    assert ledger_total == invoiced

    li = (
        _table(spark, sf_dir, "lineitem")
        .limit(1)
        .withColumn("l_shipdate", F2.to_date(F2.lit("1993-02-10")))
        .withColumn("l_extendedprice", F2.lit(100.07))
    )
    o = (
        _table(spark, sf_dir, "orders")
        .limit(1)
        .withColumn("o_orderdate", F2.to_date(F2.lit("1993-06-25")))
        .withColumn(
            "o_orderkey", li.select("l_orderkey").collect()[0][0] + F2.lit(0)
        )
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    o.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    rows = SPECS["orders_revenue_recognition"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].ym == 199306 and rows[0].recognized_cents == 10007


# --------------------------------------------------------------------------
# dq_key_discovery
# --------------------------------------------------------------------------


def test_key_discovery_verdicts(spark, sf_dir, duck):
    """Verdicts equal independently-computed uniqueness evidence at
    this sf (the generator does NOT honor TPC-H's declared
    (l_orderkey, l_linenumber) key — exactly the declared-vs-actual
    gap the profiler exists to expose), and the structural
    invariants hold: consistent row counts, is_key <=> max_group==1,
    single-column l_orderkey always ruled out."""
    rows = {r.candidate: r for r in SPECS["dq_key_discovery"].fn(spark, sf_dir).collect()}
    from nchu_bigdata_spark.queries.profiling import _KEY_CANDIDATES

    for cols in _KEY_CANDIDATES:
        (mx,) = duck.execute(
            "SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM lineitem"
            f" GROUP BY {', '.join(cols)})"
        ).fetchone()
        r = rows["+".join(cols)]
        assert r.max_group == mx
        assert r.is_key == (mx == 1)
    assert not rows["l_orderkey"].is_key
    assert rows["l_orderkey"].n_dup_rows > 0
    assert len({r.n_rows for r in rows.values()}) == 1


# --------------------------------------------------------------------------
# geo_point_in_polygon
# --------------------------------------------------------------------------


def test_pip_rings_are_convex_ccw_and_containment_exact(spark, sf_dir):
    """(a) Every literal ring is convex and CCW (shoelace > 0, all
    edge-pair crosses > 0) — the precondition the conjunction
    containment form requires; (b) Spark verdicts equal a Python
    integer replay of the same half-plane tests; (c) boundary
    inclusiveness: a vertex itself tests inside."""
    from nchu_bigdata_spark.queries.geo import (
        _AX,
        _AY,
        _PIP_DISTRICTS,
        _SPAN,
        _pip_sql,
    )

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    for name, poly in _PIP_DISTRICTS.items():
        n = len(poly)
        shoelace = sum(
            poly[i][0] * poly[(i + 1) % n][1]
            - poly[(i + 1) % n][0] * poly[i][1]
            for i in range(n)
        )
        assert shoelace > 0, name  # CCW
        for i in range(n):
            assert cross(poly[i], poly[(i + 1) % n], poly[(i + 2) % n]) > 0, name

    def inside(poly, x, y):
        n = len(poly)
        return all(
            cross(poly[i], poly[(i + 1) % n], (x, y)) >= 0 for i in range(n)
        )

    rows = SPECS["geo_point_in_polygon"].fn(spark, sf_dir).collect()
    got = {r.district: (r.n_inside, r.min_custkey) for r in rows}
    keys = [
        r.c_custkey
        for r in __import__("pyspark").sql.SparkSession.getActiveSession()
        .read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey")
        .collect()
    ]
    exp = {}
    for name, poly in _PIP_DISTRICTS.items():
        ins = [
            k
            for k in keys
            if inside(poly, (k * _AX) % _SPAN, (k * _AY) % _SPAN)
        ]
        if ins:
            exp[name] = (len(ins), min(ins))
    assert got == exp

    # vertex of each ring is inside its own ring (>= 0 convention);
    # x/y as BIGINT columns like the operator's (all-literal
    # substitution would overflow int32 on both engines)
    for name, poly in _PIP_DISTRICTS.items():
        vx, vy = poly[0]
        df = spark.sql(
            f"SELECT ({_pip_sql(poly)}) AS ok FROM"
            f" (SELECT CAST({vx} AS BIGINT) AS x, CAST({vy} AS BIGINT) AS y)"
        )
        assert df.collect()[0].ok, name


# --------------------------------------------------------------------------
# scan_python_datasource
# --------------------------------------------------------------------------


def test_python_datasource_splits_and_coverage(spark, sf_dir):
    """(a) The source reads with exactly its declared split count;
    (b) id coverage is exact (count and sum of a permutation of
    range(N)); (c) a second invocation (re-registration path) works."""
    from pyspark.sql import functions as F2

    from nchu_bigdata_spark.queries.relational import (
        _PYDS_N,
        _PYDS_P,
        _pyds_source,
    )

    spark.dataSource.register(_pyds_source())
    df = spark.read.format("range_hash").load()
    assert df.rdd.getNumPartitions() == _PYDS_P
    tot = df.agg(
        F2.count(F2.lit(1)).alias("n"), F2.sum("id").alias("s")
    ).collect()[0]
    assert tot.n == _PYDS_N
    assert tot.s == _PYDS_N * (_PYDS_N - 1) // 2

    out1 = SPECS["scan_python_datasource"].fn(spark, sf_dir).collect()
    out2 = SPECS["scan_python_datasource"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert len(out1) == 16


# --------------------------------------------------------------------------
# dq_observe_inline
# --------------------------------------------------------------------------


def test_observe_inline_single_pass_metrics(spark, sf_dir, duck):
    """Scan-point metrics cover the FULL table (pre-filter), the sink
    point only the written slice; both equal declarative recomputes.
    The observation rides the job's own pass (CollectMetrics in the
    sink job's plan), not a second scan."""
    rows = {r.stage: r for r in SPECS["dq_observe_inline"].fn(spark, sf_dir).collect()}
    (n_all, cents_all) = duck.execute(
        "SELECT COUNT(*), SUM(CAST(round(value*100) AS BIGINT)) FROM events"
    ).fetchone()
    (n_p, cents_p) = duck.execute(
        "SELECT COUNT(*), SUM(CAST(round(value*100) AS BIGINT))"
        " FROM events WHERE event_type = 'purchase'"
    ).fetchone()
    assert rows["scan"].n_rows == n_all
    assert rows["scan"].value_cents == cents_all
    assert rows["sink"].n_rows == n_p
    assert rows["sink"].value_cents == cents_p
    assert rows["sink"].n_rows < rows["scan"].n_rows
    assert rows["scan"].min_ts_us <= rows["sink"].min_ts_us


# --------------------------------------------------------------------------
# sink_exactly_once
# --------------------------------------------------------------------------


def test_exactly_once_manifest_vs_directory(spark, sf_dir, duck):
    """The directory holds BOTH attempts (a naive listing reader
    double-counts exactly 2x); the manifest-served result is
    single-counted and equals the source batch."""
    from pyspark.sql import functions as F2

    from nchu_bigdata_spark.queries.relational import scratch_dir

    df = SPECS["sink_exactly_once"].fn(spark, sf_dir)
    got = {r.event_type: (r.n_rows, r.value_cents) for r in df.collect()}
    exp = {
        t: (n, c)
        for t, n, c in duck.execute(
            "SELECT event_type, COUNT(*),"
            " SUM(CAST(round(value*100) AS BIGINT))"
            " FROM events GROUP BY 1"
        ).fetchall()
    }
    assert got == exp

    naive = spark.read.parquet(scratch_dir(sf_dir, "eo_sink"))
    naive_counts = {
        r.event_type: r.n
        for r in naive.groupBy("event_type")
        .agg(F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    assert naive_counts == {t: 2 * n for t, (n, _) in got.items()}


# --------------------------------------------------------------------------
# events_alert_debounce
# --------------------------------------------------------------------------


def test_alert_debounce_hysteresis_fixture(spark, tmp_path):
    """Crafted 12-day series: a 2-day breach does NOT fire (N=3
    debounce), the 3-day breach fires once, a 1-day clear does NOT
    resolve, the 2-day clear resolves; a later 1-day breach never
    fires. Pins every transition of the automaton."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # volumes per day: breach iff 10*n*span > 11*total
    # (span=12, total=660 -> breach iff n >= 61)
    vols = [10, 100, 100, 10, 100, 100, 100, 10, 10, 100, 10, 10]
    base_day = 19723  # 2024-01-01
    ts, eid = [], []
    for i, v in enumerate(vols):
        for j in range(v):
            ts.append((base_day + i) * 86_400_000_000 + j * 1_000)
            eid.append(len(eid))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(eid, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * len(eid), pa.int64()),
                "event_type": pa.array(["err"] * len(eid)),
                "value": pa.array([1.0] * len(eid), pa.float64()),
                "props": pa.array(["{}"] * len(eid)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    rows = SPECS["events_alert_debounce"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.span_days == 12
    assert r.n_breach_days == 6
    assert r.n_fires == 1
    assert r.n_episodes == 1
    assert r.n_active_days == 2  # fire day + the 1-day-clear day
    assert r.last_active_day == base_day + 7


# --------------------------------------------------------------------------
# multimodal_audio_resample
# --------------------------------------------------------------------------


def test_audio_resample_trunc_div_both_signs_and_shape(spark, sf_dir):
    """(a) The UDF's sign-split trunc division matches a scalar Python
    replay on a crafted MIXED-SIGN payload (high bytes -> positive
    samples; the corpus is all-ASCII so only this fixture exercises
    the positive branch); (b) on the real corpus n_out = ceil(n_in/K)
    for every clip."""
    import math

    import pandas as pd

    from nchu_bigdata_spark.operators.multimodal import (
        _RS_K,
        _synth_and_resample,
    )

    payload = bytes([200, 10, 10, 10, 250, 250, 250, 250, 60, 61, 62])
    [out] = list(
        _synth_and_resample(
            iter([pd.DataFrame({"doc_id": [7], "payload": [payload]})])
        )
    )
    s = [(b - 128) * 256 for b in payload]
    blocks = [
        s[i : i + _RS_K] for i in range(0, len(s), _RS_K)
    ]
    def truncdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q
    r = [truncdiv(sum(b), len(b)) for b in blocks]
    row = out.iloc[0]
    assert row.n_out == len(r) == math.ceil(len(s) / _RS_K)
    assert row.sum_out == sum(r)
    assert row.energy_out == sum(x * x for x in r)
    assert row.peak_abs_out == max(abs(x) for x in r)
    assert any(x > 0 for x in r) and any(x < 0 for x in r)  # both signs hit

    rows = SPECS["multimodal_audio_resample"].fn(spark, sf_dir).collect()
    assert rows
    for rr in rows:
        assert rr.n_out == -(-rr.n_in // _RS_K)


# --------------------------------------------------------------------------
# join_aqe_runtime_broadcast
# --------------------------------------------------------------------------


def test_aqe_runtime_broadcast_flip(spark, sf_dir):
    """The initial (static) plan is a sort-merge join; the final
    (adaptive) plan is the runtime-converted broadcast-hash join —
    the flip is the entire point of the operator."""
    df = SPECS["join_aqe_runtime_broadcast"].fn(spark, sf_dir)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in full, full[:500]
    parts = full.split("== Initial Plan ==")
    assert len(parts) == 2, full[:500]
    final, initial = parts
    assert "SortMergeJoin" in initial, initial[:800]
    assert "BroadcastHashJoin" in final, final[:800]
    assert "SortMergeJoin" not in final, final[:800]


# --------------------------------------------------------------------------
# tpch_q1
# --------------------------------------------------------------------------


def test_tpch_q1_scan_pushdown_and_partial_agg(spark, sf_dir):
    """The ship-date cutoff reaches the parquet scan (PushedFilters)
    and the 4-group aggregate is two-level (partial map-side combine
    before the exchange) — Q1's entire scale story."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    df = SPECS["tpch_q1"].fn(spark, sf_dir)
    df.collect()
    plan = _final_plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200], plan[:1200]
    assert plan.count("HashAggregate") >= 2, plan[:1200]


# --------------------------------------------------------------------------
# udtf_lateral_python
# --------------------------------------------------------------------------


def test_udtf_lateral_row_multiplication_contract(spark, sf_dir, duck):
    """Total rows the UDTF emits across the corpus equals
    sum(n_tokens - 1) exactly (nothing dropped or doubled), and a
    single-token input yields zero rows without error."""
    SPECS["udtf_lateral_python"].fn(spark, sf_dir).collect()  # registers
    total = spark.sql(
        "SELECT COUNT(*) AS n FROM udtf_docs_v d,"
        " LATERAL doc_bigrams(d.text) t"
    ).collect()[0].n
    (exp,) = duck.execute(
        "SELECT SUM(len(string_split(text, ' ')) - 1) FROM documents"
    ).fetchone()
    assert total == exp
    assert (
        spark.sql(
            "SELECT t.w FROM VALUES ('single') AS v(s),"
            " LATERAL doc_bigrams(s) t"
        ).count()
        == 0
    )


# --------------------------------------------------------------------------
# fn_variant
# --------------------------------------------------------------------------


def test_variant_type_and_missing_path(spark, sf_dir):
    """The intermediate column really is VariantType (not a string
    round-trip), a missing path extracts NULL (not an error), and the
    registered op's pinned schema literal matches live inference."""
    from pyspark.sql.types import VariantType

    df = spark.sql(
        "SELECT parse_json('{\"a\": 1}') AS v"
    )
    assert isinstance(df.schema["v"].dataType, VariantType)
    row = spark.sql(
        "SELECT variant_get(parse_json('{\"a\": 1}'), '$.missing',"
        " 'bigint') AS m"
    ).collect()[0]
    assert row.m is None
    out = SPECS["fn_variant"].fn(spark, sf_dir).collect()
    assert out and all(
        r.variant_schema
        == "OBJECT<id: BIGINT, meta: OBJECT<type: STRING, vals: ARRAY<BIGINT>>>"
        for r in out
    )
    assert all(r.n_consistent == r.n for r in out)
