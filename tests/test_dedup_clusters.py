"""Connected-components unit tests on synthetic graphs — shapes the
corpus near-dup data never exercises (long chains forcing multi-round
convergence, disjoint components, singleton pairs). The corpus-level
``dedup_clusters`` query itself is covered by the auto-generated
oracle-differential sweep (test_queries_oracle.py, DuckDB recursive
CTE)."""

from __future__ import annotations

import pytest

from nchu_bigdata_spark.materialize import run_scope
from nchu_bigdata_spark.operators.dedup import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = connected_components(df, **kw).collect()
    return {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical) for r in rows}


def test_transitive_closure_merges_chained_pairs(spark):
    # A~B, B~C with no A~C pair must still land in ONE cluster — the
    # whole reason clusters exist on top of pairwise dedup output.
    got = _cc(spark, [(1, 2), (2, 3)])
    assert got == {1: (1, 3, 1), 2: (1, 3, 0), 3: (1, 3, 0)}


def test_long_chain_needs_multiple_rounds(spark):
    # 0-1-2-...-9 path: min label walks one hop per round, so this
    # needs ~9 propagation rounds — exercises the loop, the alternating
    # checkpoint generations, and the convergence diff.
    chain = [(i, i + 1) for i in range(9)]
    got = _cc(spark, chain)
    assert set(got) == set(range(10))
    assert all(v == (0, 10, int(k == 0)) for k, v in got.items())


def test_disjoint_components_and_edge_direction(spark):
    # Two components; edges given high->low to check symmetrization.
    got = _cc(spark, [(5, 4), (4, 6), (20, 10)])
    assert got[4] == (4, 3, 1) and got[5] == (4, 3, 0) and got[6] == (4, 3, 0)
    assert got[10] == (10, 2, 1) and got[20] == (10, 2, 0)


def test_iteration_cap_raises_instead_of_partial_result(spark):
    # algorithm="label" keeps the strict contract: cap hit → loud error.
    chain = [(i, i + 1) for i in range(9)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _cc(spark, chain, max_iters=3, algorithm="label")


def test_star_algorithm_matches_label_prop(spark):
    # Same component structure from both algorithms on a mixed graph:
    # a triangle, a 4-chain given in scrambled orientation, a pair.
    edges = [(3, 1), (1, 2), (2, 3), (7, 6), (5, 6), (7, 8), (11, 10)]
    assert _cc(spark, edges, algorithm="star") == _cc(
        spark, edges, algorithm="label"
    )


def test_star_handles_deep_chain_in_log_rounds(spark):
    # Diameter-19 path: label propagation would need ~19 rounds; the
    # large-star/small-star alternation collapses it in O(log n).
    chain = [(i, i + 1) for i in range(19)]
    got = _cc(spark, chain, algorithm="star")
    assert set(got) == set(range(20))
    assert all(v == (0, 20, int(k == 0)) for k, v in got.items())


def test_self_loops_and_duplicate_edges(spark):
    # Messy edge lists happen (a doc paired with itself by a degenerate
    # band, the same pair emitted twice, both orientations present) —
    # neither algorithm may double-count or crash on them.
    edges = [(1, 1), (2, 1), (1, 2), (2, 1), (3, 3)]
    for algo in ("label", "star"):
        got = _cc(spark, edges, algorithm=algo)
        assert got[1] == (1, 2, 1) and got[2] == (1, 2, 0), (algo, got)
        # 3 only ever self-pairs: BOTH algorithms must emit it as a
        # singleton cluster — algorithm='auto' can switch between them
        # mid-run, so the output row set must not depend on the path
        # taken ("one row per node" docstring contract).
        assert got[3] == (3, 1, 1), (algo, got)
        assert set(got) == {1, 2, 3}, (algo, got)


def test_random_graph_matches_union_find(spark):
    # Seeded random graph cross-checked against a pure-Python
    # union-find reference — both algorithms must reproduce component
    # membership, min-id labeling, sizes, and canonical flags exactly.
    import random

    rng = random.Random(20260813)
    nodes = list(range(1, 61))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    touched = {n for e in edges for n in e}
    for n in touched:
        comps.setdefault(find(n), []).append(n)
    expected = {}
    for members in comps.values():
        lbl, size = min(members), len(members)
        for n in members:
            expected[n] = (lbl, size, int(n == lbl))

    for algo in ("label", "star"):
        assert _cc(spark, edges, algorithm=algo) == expected, algo


def test_auto_falls_back_to_star_past_the_cap(spark):
    # auto: min-label hits the 3-round cap on a deep chain, then
    # transparently restarts with the star algorithm — full closure,
    # no RuntimeError, no partial result.
    chain = [(i, i + 1) for i in range(19)]
    got = _cc(spark, chain, max_iters=3, algorithm="auto")
    assert all(v == (0, 20, int(k == 0)) for k, v in got.items())


def test_star_path_graph_logn_rounds(spark):
    """VERDICT r5 item 8(a): a 64-node path (diameter 63) pins the
    large-star/small-star path. Label propagation would need 63 rounds;
    the star algorithm's alternating contractions must close it in
    O(log n) — assert the measured round count against 2·log2(n)+2,
    and the labels against the known single component."""
    import math

    n = 64
    with run_scope() as run:
        got = _cc(spark, [(i, i + 1) for i in range(n - 1)], algorithm="star")
    assert set(got) == set(range(n))
    assert all(v == (0, n, int(k == 0)) for k, v in got.items())
    bound = 2 * math.ceil(math.log2(n)) + 2
    rounds = run.counters["star_rounds"]
    assert 1 <= rounds <= bound, rounds


def test_star_hub_graph_rounds_constant(spark):
    """VERDICT r5 item 8(b): a high-degree hub (star topology, 10⁵
    edges) — the skew shape where one groupBy key owns nearly every
    edge. Already a union of stars, so the algorithm must recognize the
    fixpoint in O(1) rounds (≤3), label everything into one component,
    and never blow up the edge set."""
    from pyspark.sql import functions as F

    n_leaves = 100_000
    edges = (
        spark.range(1, n_leaves + 1)
        .select(F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b"))
    )
    with run_scope() as run:
        out = connected_components(edges, algorithm="star")
        agg = out.groupBy("cluster_id").count().collect()
        assert len(agg) == 1 and agg[0]["cluster_id"] == 0
        assert agg[0]["count"] == n_leaves + 1
        assert out.filter("is_canonical = 1").count() == 1
    assert run.counters["star_rounds"] <= 3, run.counters
