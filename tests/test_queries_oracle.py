"""Differential test: every registered query with an oracle must match
DuckDB exactly (strict multiset equality — stricter than the driver's
value hash). Rows-only queries must at least run and return a stable
schema."""

from __future__ import annotations

import pytest

from nchu_bigdata_spark.registry import load_all_queries, register_sql

from tests.helpers import assert_df_matches_oracle

SPECS = load_all_queries()
ORACLE_IDS = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY_IDS = sorted(n for n, s in SPECS.items() if not s.oracle)
# ids served from their oracle's SQL text: the body is register_sql's own
SQL_SERVED_IDS = sorted(
    n for n, s in SPECS.items() if s.fn.__wrapped__.__module__ == register_sql.__module__
)


@pytest.mark.parametrize("name", ORACLE_IDS)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    assert_df_matches_oracle(sdf, duck, spec.oracle, name)


@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_query_runs(name, spark, sf_dir):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    assert df.columns, f"{name}: no columns"
    n = df.count()
    assert n >= 0


def test_agg_approx_verdicts_and_raw_sketch_bounds(spark, sf_dir):
    """agg_approx now emits deterministic bounded VERDICTS (exact
    distinct count + per-sketch within-tolerance booleans) so the
    driver's exact-hash oracle applies (VERDICT r6 item 2). Two layers
    here:

    1. the query's own verdict booleans must all be TRUE and its exact
       counts must match an independently computed count-distinct;
    2. the RAW sketches (re-run directly, since the query no longer
       exposes them) must meet their documented bounds — HLL++ within
       5×rsd, percentile_approx within n/accuracy rank error — the
       tighter guarantee underlying the query's looser verdict window.
    """
    import bisect

    from pyspark.sql import functions as F

    from nchu_bigdata_spark.io import table

    got = {r["l_returnflag"]: r for r in SPECS["agg_approx"].fn(spark, sf_dir).collect()}
    li = table(spark, sf_dir, "lineitem")
    raw = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n"),
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("acd"),
            F.percentile_approx(
                "l_extendedprice",
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                10000,
            ).alias("pa"),
            F.collect_list("l_extendedprice").alias("vs"),
        )
        .collect()
    }
    assert set(got) == set(raw)
    for flag, row in got.items():
        exact = raw[flag]["n"]
        assert row["n_orders_exact"] == exact, (flag, row, exact)
        for col in (
            "cd_within_5rsd",
            "p25_within_rank_tol",
            "p50_within_rank_tol",
            "p75_within_rank_tol",
        ):
            assert row[col] is True, (flag, col, row)
        # layer 2: documented bounds on the raw sketches
        assert abs(raw[flag]["acd"] - exact) <= max(1, 5 * 0.02 * exact), (
            flag,
            raw[flag]["acd"],
            exact,
        )
        vs = sorted(raw[flag]["vs"])
        n = len(vs)
        tol = n / 10000 + 1
        for q, v in zip((0.25, 0.5, 0.75), raw[flag]["pa"]):
            lo = bisect.bisect_left(vs, v)
            hi = bisect.bisect_right(vs, v)
            assert lo - tol <= q * n <= hi + tol, (flag, q, v, lo, hi, q * n)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_contract_shape():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 1


def test_queries_immune_to_caller_session_defaults(spark, sf_dir):
    """Registered queries pin UTC/ANSI-off/Arrow-on at invocation
    (registry.final_fn), so a caller session with hostile defaults —
    Spark 4 ships ANSI on; a driver box may sit in any timezone — must
    produce byte-identical results to the engine's own session. fn_date
    is the most TZ-sensitive query (to_date/year/dayofweek buckets);
    agg_hash covers decimal aggregation under ANSI; win_lag_lead orders
    events by ts, with its SQL text analyzed under the registry's pins."""
    from tests.helpers import canon_rows

    hostile = spark.newSession()
    hostile.conf.set("spark.sql.ansi.enabled", "true")
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Taipei")
    for name in ("fn_date", "agg_hash", "win_lag_lead"):
        base = SPECS[name].fn(spark, sf_dir)
        other = SPECS[name].fn(hostile, sf_dir)
        rows_a = canon_rows(base.columns, [tuple(r) for r in base.collect()])
        rows_b = canon_rows(other.columns, [tuple(r) for r in other.collect()])
        assert rows_a == rows_b, name


def test_queries_leave_caller_temp_views_alone(spark, duck, sf_dir):
    """SQL text that names a testdata table must read that table, not a
    caller's temp view of the same name, and must not replace the view.
    Every table name is a decoy view with zero rows in a fresh session;
    each SQL-served id, and the three ids that run their own Spark SQL,
    must still match the oracle, and the decoys must be left as they
    were. A base table that the FROM/JOIN binding misses reads its empty
    decoy and fails the oracle check."""
    from nchu_bigdata_spark.io import SCHEMAS, TABLES

    caller = spark.newSession()
    for t in TABLES:
        caller.createDataFrame([], SCHEMAS[t]).createOrReplaceTempView(t)

    def temp_views():
        return {v.name for v in caller.catalog.listTables() if v.isTemporary}

    before = temp_views()
    assert len(SQL_SERVED_IDS) >= 33, SQL_SERVED_IDS
    for name in SQL_SERVED_IDS + ["tpch_q18", "sub_recursive", "udtf_python_arrow"]:
        spec = SPECS[name]
        assert_df_matches_oracle(spec.fn(caller, sf_dir), duck, spec.oracle, name)
    assert temp_views() == before
    for t in TABLES:
        assert caller.table(t).count() == 0, t


def test_driver_order_covers_registry_exactly():
    """ordered_specs() is the driver's presentation order; a dropped or
    duplicated id would silently shrink the checked window. Enforce
    the 1:1 correspondence with the registry."""
    from nchu_bigdata_spark.registry import ordered_specs

    ordered = ordered_specs()
    assert len(ordered) == len(SPECS)
    assert set(ordered) == set(SPECS), set(ordered) ^ set(SPECS)
    assert all(ordered[n] is SPECS[n] for n in ordered)


def test_driver_window_is_sql_certifiable():
    """Each 50-id driver window should advance certification
    provenance. A rows-only id in the window burns a slot on the weak
    check; keep the head of the derived order (three windows, 150 ids)
    strictly SQL-oracle-backed."""
    from nchu_bigdata_spark.registry import ordered_specs

    # Sanctioned exception (VERDICT r10 item 2): text_compression_ratio
    # is the single genuinely rows-only id (DEFLATE isn't SQL; exact
    # zlib replay in check_oracle); its no_oracle driver row counts as
    # green, so it cycles through the window like any certified id.
    allowed = {"text_compression_ratio"}
    rows_only = [
        n
        for n in list(ordered_specs())[:150]
        if SPECS[n].oracle is None and n not in allowed
    ]
    assert rows_only == [], rows_only
