"""Round-10-born operators: sink_compaction packing invariants."""

from __future__ import annotations

from nchu_bigdata_spark.registry import load_all_queries


def test_sink_compaction_packing_invariants(spark, sf_dir):
    """Capacity-bucket packing contract: every (lang, bucket) file
    lands wholly in one group, group ids are dense-from-zero per lang
    in bucket order, and no group's row total overshoots the target by
    a full file or more (the documented < max-file bound)."""
    specs = load_all_queries()
    rows = specs["sink_compaction"].fn(spark, sf_dir).collect()
    assert rows
    from nchu_bigdata_spark.queries.relational import (
        _COMPACT_BUCKETS,
        _COMPACT_TARGET_ROWS,
    )

    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    total_files = 0
    for lang, grp in by_lang.items():
        grp.sort(key=lambda r: r["cgroup"])
        # dense group ids from 0 (capacity buckets over a contiguous
        # cumulative axis can skip ids only if a single file exceeds
        # the target; then the skip is exactly that file's span)
        assert grp[0]["cgroup"] == 0, lang
        for r in grp:
            total_files += r["n_files"]
            assert r["n_files"] >= 1 and r["n_rows"] >= r["max_file_rows"]
            # overshoot bound: group start < (cgroup+1)*target, so
            # total < that boundary + max_file_rows
            assert r["n_rows"] < _COMPACT_TARGET_ROWS + r["max_file_rows"] or (
                r["n_files"] == 1
            ), (lang, dict(r.asDict()))
    # every non-empty (lang, doc_id % 16) bucket became exactly one file
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    n_buckets = (
        docs.select("lang", (F.col("doc_id") % _COMPACT_BUCKETS).alias("b"))
        .distinct()
        .count()
    )
    assert total_files == n_buckets


def test_dedup_semdedup_matches_bruteforce_replay(spark, sf_dir):
    """Keep-first SemDeDup rule replayed brute-force in Python (round
    cosines to 6 like the module convention): assignment by max
    rounded cosine to the vec_id<=8 centroids (ties to lower c_id),
    dropped iff a lower-id same-cell neighbor has cos >= 0.4."""
    import math

    from nchu_bigdata_spark.registry import load_all_queries

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    V = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    N = {k: math.sqrt(sum(x * x for x in v)) for k, v in V.items()}

    def cos(a, b):
        return round(
            sum(x * y for x, y in zip(V[a], V[b])) / (N[a] * N[b]), 6
        )

    cents = sorted(k for k in V if k <= 8)
    cell = {
        k: max(cents, key=lambda c: (cos(k, c), -c)) for k in V
    }
    by_cell: dict[int, list[int]] = {}
    for k in sorted(V):
        by_cell.setdefault(cell[k], []).append(k)
    exp = {}
    for c, members in by_cell.items():
        dropped = set()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if cos(a, b) >= 0.4:
                    dropped.add(b)
        exp[c] = (
            len(members),
            len(dropped),
            len(members) - len(dropped),
            min(dropped) if dropped else -1,
            len(dropped) * 10_000 // len(members),
        )
    got = {
        r["cell"]: (
            r["n_vectors"],
            r["n_dropped"],
            r["n_kept"],
            r["first_dropped_id"],
            r["drop_bp"],
        )
        for r in load_all_queries()["dedup_semdedup"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == exp


def test_dedup_substring_spans_bruteforce(spark, sf_dir):
    """ExactSubstr window audit replayed brute-force: 5-token sliding
    windows, duplicated iff the exact span text occurs >= 2 times
    corpus-wide (same-doc repeats count)."""
    from collections import Counter

    from nchu_bigdata_spark.registry import load_all_queries

    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    W = 5
    spans = {}
    counts = Counter()
    for r in rows:
        tok = r["text"].split(" ")
        ws = [" ".join(tok[i:i + W]) for i in range(len(tok) - W + 1)]
        spans[r["doc_id"]] = ws
        counts.update(ws)
    exp = {}
    for d, ws in spans.items():
        dup = sum(1 for w in ws if counts[w] >= 2)
        exp[d] = (len(ws), dup, dup * 10_000 // len(ws) if ws else 0)
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_bp"])
        for r in load_all_queries()["dedup_substring_spans"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == exp
    # signal sanity: the fixture vocabulary is small enough that some
    # spans genuinely repeat — an all-zero column would mean the
    # operator (or the corpus) degenerated
    assert any(v[1] > 0 for v in exp.values())


def test_semdedup_adaptive_cells_above_floor(spark, tmp_path):
    """The above-floor arm of the occupancy-adaptive cell count
    (fixtures stay on the k=9 floor): 3000 vectors force k=12, exact
    planted duplicates share their original's cell at ANY k (identical
    vectors assign identically) and drop at cos=1, and the per-cell
    report still partitions the corpus exactly."""
    import pyspark.sql.functions as F

    from nchu_bigdata_spark.operators.similarity import (
        _semdedup_cells,
        dedup_semdedup,
    )

    # floor = _NCELLS = 8 (the fixture parquet's vec_ids start at 0,
    # so `vec_id <= 8` yields 9 centroid rows there — the floor value
    # is the CONSTANT, not the row count)
    assert _semdedup_cells(500) == 8 and _semdedup_cells(2000) == 8
    assert _semdedup_cells(2250) == 9 and _semdedup_cells(3000) == 12

    n_base, n_dup = 2800, 200
    base = spark.range(1, n_base + 1).select(
        F.col("id").cast("int").alias("vec_id"),
        F.lit("t").alias("label"),
        F.expr(
            "transform(sequence(0, 63), d ->"
            " CAST((pmod(hash(id, d), 2001) - 1000) / 1000.0 AS FLOAT))"
        ).alias("embedding"),
    )
    dup = base.filter(F.col("vec_id") <= n_dup).select(
        (F.col("vec_id") + n_base).alias("vec_id"), "label", "embedding"
    )
    base.unionAll(dup).coalesce(2).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    rows = dedup_semdedup(spark, str(tmp_path)).collect()
    assert 1 <= len(rows) <= 12  # k = 12 cells above the floor
    assert sum(r["n_vectors"] for r in rows) == n_base + n_dup
    # every planted duplicate has a lower-id twin in its own cell at
    # cos = 1 -> at least the planted count drops
    assert sum(r["n_dropped"] for r in rows) >= n_dup


def test_decontam_embedding_bruteforce(spark, sf_dir):
    """Semantic decontamination replayed brute-force: train vector
    flagged iff round(cos, 6) >= 0.35 vs any eval (vec_id % 20 == 0)
    vector; nearest = max cos, ties to lower eval id."""
    import math
    from decimal import Decimal

    from nchu_bigdata_spark.registry import load_all_queries

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    V = {r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"])
         for r in rows}
    N = {k: math.sqrt(sum(x * x for x in v)) for k, (v, _l) in V.items()}

    def cos(a, b):
        return round(
            sum(x * y for x, y in zip(V[a][0], V[b][0])) / (N[a] * N[b]), 6
        )

    evs = sorted(k for k in V if k % 20 == 0)
    exp = {}
    for t in sorted(V):
        if t % 20 == 0:
            continue
        hits = [(e, cos(t, e)) for e in evs if cos(t, e) >= 0.35]
        if hits:
            best = min(hits, key=lambda h: (-h[1], h[0]))
            exp[t] = (V[t][1], best[0], round(best[1], 6), len(hits))
    got = {
        r["vec_id"]: (
            r["label"],
            r["best_eval_id"],
            float(r["best_cos"]),
            r["n_hits"],
        )
        for r in load_all_queries()["decontam_embedding"]
        .fn(spark, sf_dir)
        .collect()
    }
    # compare with float tolerance on best_cos only (Decimal export)
    assert set(got) == set(exp)
    for k in exp:
        gl, ge, gc, gn = got[k]
        el, ee, ec, en = exp[k]
        assert (gl, ge, gn) == (el, ee, en), k
        assert abs(gc - ec) < 1e-6, (k, gc, ec)
    assert exp, "threshold too strict — zero signal would be vacuous"


def test_semdedup_oracle_matches_above_floor(spark, tmp_path):
    """ADVICE r10 (medium): the DuckDB oracle must encode the SAME
    occupancy-adaptive centroid count as the implementation. Below the
    2250-vector floor both sides used vec_id <= 8 and agreed trivially;
    this runs the REGISTERED oracle SQL against a 3000-vector corpus
    (k = 12) and demands full row equality with the Spark side — the
    adaptive arm's first oracle certification."""
    import duckdb
    import pyspark.sql.functions as F

    from nchu_bigdata_spark.registry import load_all_queries

    n = 3000
    spark.range(1, n + 1).select(
        F.col("id").cast("int").alias("vec_id"),
        F.lit("t").alias("label"),
        F.expr(
            "transform(sequence(0, 63), d ->"
            " CAST((pmod(hash(id, d), 2001) - 1000) / 1000.0 AS FLOAT))"
        ).alias("embedding"),
    ).coalesce(2).write.parquet(str(tmp_path / "embeddings.parquet"))

    spec = load_all_queries()["dedup_semdedup"]
    spdf = spec.fn(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    opdf = con.execute(spec.oracle).df()
    con.close()

    key = lambda df: sorted(  # noqa: E731
        (
            int(r["cell"]), int(r["n_vectors"]), int(r["n_dropped"]),
            int(r["n_kept"]), int(r["first_dropped_id"]), int(r["drop_bp"]),
        )
        for _, r in df.iterrows()
    )
    assert len(spdf) > 8, "adaptive arm not engaged — test is vacuous"
    assert key(spdf) == key(opdf)
