"""Round-12 changes: gate variance guard, driver-order derivation,
ADVICE-r11 hardening (CDC ASCII guard, ljung-box short-series guard,
fn_ip_cidr single-scan LPM), bench trimmed-mean cross-check, the
WindowExec log-noise pin, the streaming noop-sink runner, and the
round-12 births (join_range_partitioned, tokenize_fertility,
curate_quality_gate_sweep, geo_knn_join) with brute-force replays.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from nchu_bigdata_spark.registry import (
    driver_order,
    is_green,
    load_all_queries,
)


# --------------------------------------------- bench spread gate


def test_bench_spread_gate_flags_noisy_artifact(tmp_path):
    """VERDICT r11 item 6 + ADVICE r12 item 3 + ADVICE r13 item 1: a
    bench artifact whose value_mean/value exceeds SPREAD_MAX must fail
    the gate, the driver-wrapped BENCH_r*.json shape (payload under
    'parsed') must be understood, and the gate checks EVERY published
    artifact — BENCH_LOCAL.json AND the highest-numbered BENCH_r*.json
    (a quiet local record must not shadow a noisy round record);
    round selection is by filename number, never filesystem mtime
    (arbitrary on a fresh checkout)."""
    from round_gate import SPREAD_MAX, bench_spread_gate

    # SPREAD_MAX is the shared package constant, not a local copy
    # (ADVICE r12 item 2)
    from nchu_bigdata_spark.gate_constants import SPREAD_MAX as PKG_MAX

    assert SPREAD_MAX == PKG_MAX

    # quiet artifact -> rc 0
    quiet = {"value": 9.0, "value_mean": 9.5}
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(quiet))
    out = bench_spread_gate(str(tmp_path))
    assert out["rc"] == 0 and out["spread"] == round(9.5 / 9.0, 3)

    # ADVICE r13 item 1: a noisy driver-wrapped round artifact fails
    # the gate EVEN WHEN a quiet BENCH_LOCAL.json exists — the round
    # publishes both, so a quiet local record must not shadow the
    # noisy official one
    noisy = {"rc": 0, "parsed": {"value": 9.764, "value_mean": 13.305}}
    (tmp_path / "BENCH_r11.json").write_text(json.dumps(noisy))
    os.utime(tmp_path / "BENCH_LOCAL.json", (1, 1))
    out = bench_spread_gate(str(tmp_path))
    assert out["rc"] == 1
    assert out["file"] == "BENCH_r11.json"
    assert {c["file"] for c in out["checked"]} == {
        "BENCH_LOCAL.json",
        "BENCH_r11.json",
    }

    # without BENCH_LOCAL, the HIGHEST round number wins — even when an
    # older round's file carries a newer mtime (fresh-checkout order)
    (tmp_path / "BENCH_LOCAL.json").unlink()
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"rc": 0, "parsed": {"value": 8.9, "value_mean": 8.95}})
    )
    os.utime(tmp_path / "BENCH_r11.json", (1, 1))
    out = bench_spread_gate(str(tmp_path))
    assert out["rc"] == 1
    assert out["spread"] > SPREAD_MAX
    assert out["file"] == "BENCH_r11.json"

    # no artifact at all -> rc 0 (gate is advisory until a bench runs)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench_spread_gate(str(empty))["rc"] == 0

    # unparsable artifact -> rc 1 (a corrupt record must not pass)
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "BENCH_LOCAL.json").write_text("{not json")
    assert bench_spread_gate(str(bad))["rc"] == 1

    # legacy artifact without value_mean (pre-r12) -> rc 0 skip, not a
    # failure: "no spread data" must not flip the gate red on a
    # healthy repo
    old = tmp_path / "old"
    old.mkdir()
    (old / "BENCH_r09.json").write_text(
        json.dumps({"rc": 0, "parsed": {"value": 8.9}})
    )
    out = bench_spread_gate(str(old))
    assert out["rc"] == 0 and "predates" in out["note"]


# --------------------------------------------- driver order

_GREEN = {
    "rows_match": True,
    "schema_match": True,
    "hash_match": True,
    "spark_rows": 5,
    "oracle_rows": 5,
    "err": None,
}
_FAILED = {**_GREEN, "hash_match": False}
_NO_ORACLE = {
    "rows_match": None,
    "schema_match": None,
    "hash_match": None,
    "spark_rows": 500,
    "oracle_rows": None,
    "err": "no_oracle",
}


def _write_round(root, rnd: int, rows: dict) -> None:
    # unpadded names on purpose: rounds sort by number, not by text
    (root / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))


def test_is_green_rows_only_by_design_is_consumable():
    """A rows-only-by-design id (registry oracle is None) whose driver
    row is err='no_oracle' with rows > 0 counts as green (else it pins
    a head slot forever); a genuinely failed id does not."""
    load_all_queries()
    assert is_green("text_compression_ratio", _NO_ORACLE)
    # same row shape but for an id that HAS an oracle: not green
    assert not is_green("agg_hash", _NO_ORACLE)
    # zero rows: not green even for the rows-only id
    assert not is_green(
        "text_compression_ratio", {**_NO_ORACLE, "spark_rows": 0}
    )
    assert is_green("agg_hash", _GREEN)
    assert is_green("agg_hash", {**_GREEN, "hash_match": None})
    assert not is_green("agg_hash", _FAILED)


def test_driver_order_non_green_leads(tmp_path):
    """An id whose NEWEST row is not green leads, however old its last
    green row; one that failed before but is green now does not."""
    _write_round(tmp_path, 9, {"a": _GREEN, "b": _FAILED})
    _write_round(tmp_path, 10, {"c": _GREEN, "a": _FAILED, "b": _GREEN})
    assert driver_order(["a", "b", "c"], str(tmp_path)) == ["a", "c", "b"]
    assert driver_order(["c", "b", "a"], str(tmp_path))[0] == "a"


def test_driver_order_never_checked_keep_registration_order(tmp_path):
    _write_round(tmp_path, 3, {"x": _GREEN, "z": _FAILED})
    order = driver_order(["p", "x", "n", "z", "m"], str(tmp_path))
    assert order == ["z", "p", "n", "m", "x"]


def test_driver_order_green_tail_oldest_first(tmp_path):
    """Greens trail, oldest certification first; within a round the
    window (JSON key) order breaks ties, not registration order."""
    _write_round(tmp_path, 9, {"c": _GREEN, "a": _GREEN, "d": _GREEN})
    _write_round(tmp_path, 10, {"e": _GREEN, "d": _GREEN, "b": _GREEN})
    order = driver_order(["a", "b", "c", "d", "e"], str(tmp_path))
    assert order == ["c", "a", "e", "d", "b"]


def test_driver_order_rows_only_no_oracle_is_green(tmp_path):
    load_all_queries()
    _write_round(
        tmp_path,
        14,
        {"text_compression_ratio": _NO_ORACLE, "agg_hash": _NO_ORACLE},
    )
    _write_round(tmp_path, 15, {"fn_date": _GREEN})
    order = driver_order(
        ["fn_date", "text_compression_ratio", "agg_hash"], str(tmp_path)
    )
    assert order == ["agg_hash", "text_compression_ratio", "fn_date"]


def test_driver_order_no_correctness_files_is_registration_order(tmp_path):
    names = list(load_all_queries())
    assert driver_order(names, str(tmp_path)) == names


def test_driver_order_live_head(tmp_path):
    """The committed r01-r15 rows put the r16 window here: the r15
    window moved to the tail, the next-oldest greens (r6) lead. Copies
    only those rounds, so later CORRECTNESS files don't move the pin."""
    import shutil

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rnd in range(1, 16):
        name = f"CORRECTNESS_r{rnd:02d}.json"
        shutil.copy(os.path.join(repo, name), tmp_path / name)
    order = driver_order(list(load_all_queries()), str(tmp_path))
    assert order[:5] == [
        "stream_watermark_late",
        "stream_tumbling",
        "agg_distinct",
        "fn_map",
        "agg_grouping_sets",
    ]
    assert len(order) == len(set(order)) == len(load_all_queries())


# --------------------------------------------- CDC ASCII guard


def test_cdc_non_ascii_document_raises(spark):
    """ADVICE r11: the CDC byte/char-offset equivalence requires pure
    ASCII; a non-ASCII doc must raise, not silently mis-chunk."""
    import pandas as pd

    from nchu_bigdata_spark.operators.dedup import _CDC_K

    text = "caf\u00e9 " + "x" * _CDC_K
    assert len(text.encode("utf-8")) != len(text)
    df = spark.createDataFrame(
        [(1, text, len(text))], "doc_id long, text string, len long"
    )

    from nchu_bigdata_spark.operators import dedup as D

    spec = load_all_queries()["dedup_cdc_chunks"]

    # Patch the module-global table loader so the registered fn sees
    # our 1-doc non-ASCII frame instead of the parquet corpus.
    orig = D.table
    try:
        D.table = lambda s, sf, name: df if name == "documents" else orig(s, sf, name)
        out = spec.fn(spark, "/root/testdata/sf0.001")
        with pytest.raises(Exception, match="not\\s+pure ASCII|pure ASCII"):
            out.collect()
    finally:
        D.table = orig


# --------------------------------------------- ljung-box guard


def test_ljung_box_short_series_dropped(spark, duck, sf_dir):
    """Series with <= 7 observed days are dropped on BOTH engines (the
    (n-k) divisors require n > lags); surviving rows all have
    n_days > 7."""
    spec = load_all_queries()["ts_ljung_box"]
    rows = spec.fn(spark, sf_dir).collect()
    assert rows, "sf0.001 must retain at least one series"
    assert all(r["n_days"] > 7 for r in rows)
    o = duck.execute(spec.oracle).fetchall()
    assert sorted((r["event_type"], r["n_days"]) for r in rows) == sorted(
        (t, n) for t, n, *_ in o
    )


# --------------------------------------------- fn_ip_cidr single scan


def test_fn_ip_cidr_single_scan_no_event_shuffle(spark, duck, sf_dir):
    """ADVICE r11: the LPM rewrite must (a) still match the oracle
    exactly and (b) contain NO per-event aggregate — the only
    hashAggregate keys allowed are the bounded (prefix_len, net_key)
    rollup, and the events relation must be scanned ONCE."""
    import re

    spec = load_all_queries()["fn_ip_cidr"]
    df = spec.fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"events\.parquet", plan))
    assert scans == 1, f"events scanned {scans}x:\n{plan}"
    # no per-event exchange: every HashAggregate keys on the bounded
    # (prefix_len, net_key) rollup, never on event_id
    for agg in re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan):
        assert "event_id" not in agg, plan
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in duck.execute(spec.oracle).fetchall())
    assert got == want


# --------------------------------------------- WindowExec log noise


def test_windowexec_logger_pinned_to_error(spark):
    """VERDICT r11 item 7: the per-execution 'No Partition Defined'
    WARN is suppressed at the WindowExec logger (the structural
    single-task-window audit is the real guarantee), and the freeze
    release WARN at the MapPartitionsRDD logger; root level stays
    WARN."""
    jvm = spark.sparkContext._jvm
    lm = jvm.org.apache.logging.log4j.LogManager
    for logger in (
        "org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.rdd.MapPartitionsRDD",
    ):
        lvl = lm.getLogger(logger).getLevel()
        assert str(lvl) == "ERROR", (logger, str(lvl))


# --------------------------------------------- join_range_partitioned


def test_join_range_partitioned_bruteforce_replay(spark, duck, sf_dir):
    """Independent-mechanism check: recompute the interval-overlap
    join per incident with a plain Python double loop over the raw
    parquet and demand exact equality with the registered plan (and
    the plan must join on the grid CELL, not nested-loop)."""
    from nchu_bigdata_spark.queries.joins import _RP_WIN_US

    raw = duck.execute(
        "SELECT event_id, user_id, event_type, epoch_us(ts),"
        " CAST(ROUND(value * 100) AS BIGINT) FROM events"
    ).fetchall()
    pts = sorted((us, uid, cents) for _, uid, _, us, cents in raw)
    expect = {}
    for eid, _, etype, us, _ in raw:
        if etype != "error":
            continue
        inside = [p for p in pts if us <= p[0] < us + _RP_WIN_US]
        expect[eid] = (
            len(inside),
            len({p[1] for p in inside}),
            sum(p[2] for p in inside),
        )
    spec = load_all_queries()["join_range_partitioned"]
    df = spec.fn(spark, sf_dir)
    got = {
        r["incident_id"]: (r["n_events"], r["n_users"], r["sum_cents"])
        for r in df.collect()
    }
    assert got == expect
    # every incident window contains at least its own opening event
    assert all(v[0] >= 1 for v in got.values())
    # plan shape: equi join on the cell (SortMergeJoin/ShuffledHashJoin
    # keyed on cell), never a nested loop over the raw pair space
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_join_range_partitioned_cell_invariants():
    """The grid constants must preserve the no-dedup-needed guarantee:
    cell length strictly greater than the window length (every
    interval spans at most 2 cells, and a point joins a given interval
    in exactly one cell — its own)."""
    from nchu_bigdata_spark.queries.joins import _RP_CELL_US, _RP_WIN_US

    assert _RP_CELL_US > _RP_WIN_US


# --------------------------------------------- bench trimmed mean


def test_bench_trimmed_mean():
    """value_mean robustness: middle-reps mean drops exactly one min
    and one max (>= 3 reps); degenerates to the plain mean below 3."""
    from bench import trimmed_mean

    assert trimmed_mean([1.0, 1.0, 100.0]) == 1.0  # burst rejected
    assert trimmed_mean([1.0, 2.0, 3.0, 4.0, 100.0]) == 3.0
    assert trimmed_mean([5.0]) == 5.0
    assert trimmed_mean([2.0, 4.0]) == 3.0
    # a uniformly slower engine is NOT masked
    assert trimmed_mean([10.0, 11.0, 12.0, 13.0, 14.0]) == 12.0


# --------------------------------------------- tokenize_fertility


def test_tokenize_fertility_bruteforce_replay(spark, duck, sf_dir):
    """Recompute the fertility rollup in plain Python (regex module,
    no Spark/SQL) and demand exact equality, floor milli grids
    included."""
    import re

    docs = duck.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ).fetchall()
    pat = re.compile(r"[aeiou]+|[^aeiou\s]+")
    acc: dict = {}
    for _, text, lang, source, n_chars in docs:
        a = acc.setdefault((lang, source), [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(text.split(" "))
        a[2] += len(pat.findall(text))
        a[3] += n_chars
    expect = {
        k: (
            n,
            ws,
            sub,
            ch,
            1000 * sub // ws,
            1000 * ch // sub,
        )
        for k, (n, ws, sub, ch) in acc.items()
    }
    got = {
        (r["lang"], r["source"]): (
            r["n_docs"],
            r["ws_tokens"],
            r["subword_tokens"],
            r["n_chars"],
            r["fertility_milli"],
            r["chars_per_subword_milli"],
        )
        for r in load_all_queries()["tokenize_fertility"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expect


# --------------------------------------------- curate_quality_gate_sweep


def test_curate_quality_gate_sweep_replay_and_monotone(spark, duck, sf_dir):
    """Replay the yield curve in plain Python; the curve must be
    monotone non-increasing in the gate and anchored at gate 0 =
    everything kept (bp exactly 10000)."""
    from nchu_bigdata_spark.operators.pipeline import _QGATE_BP

    docs = duck.execute("SELECT text FROM documents").fetchall()
    per = []
    for (text,) in docs:
        toks = text.split(" ")
        per.append((10000 * len(set(toks)) // len(toks), len(toks)))
    all_docs, all_toks = len(per), sum(t for _, t in per)
    expect = {}
    for g in _QGATE_BP:
        kept = [(q, t) for q, t in per if q >= g]
        nd, nt = len(kept), sum(t for _, t in kept)
        expect[g] = (nd, nt, 10000 * nd // all_docs, 10000 * nt // all_toks)
    got = {
        r["gate_bp"]: (
            r["n_docs_kept"],
            r["tokens_kept"],
            r["docs_kept_bp"],
            r["tokens_kept_bp"],
        )
        for r in load_all_queries()["curate_quality_gate_sweep"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expect
    assert got[0][2] == 10000 and got[0][3] == 10000
    gates = sorted(got)
    for a, b in zip(gates, gates[1:]):
        assert got[b][0] <= got[a][0] and got[b][1] <= got[a][1]


# --------------------------------------------- streaming noop runner


def test_stream_noop_runner_drains_and_reports(spark, sf_dir, tmp_path):
    """The probe harness's noop-sink runner must execute a genuine
    streaming drain (progress telemetry populated, input rows > 0)
    without materializing anything driver-side."""
    import os
    import shutil

    from nchu_bigdata_spark.streaming import STREAM_TRANSFORMS
    from nchu_bigdata_spark.streaming import runner as R

    # The file stream source requires a DIRECTORY; the sf fixture is a
    # single parquet file (same staging the parity tests do).
    src = tmp_path / "ev"
    src.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), src / "events.parquet"
    )
    transform, mode = STREAM_TRANSFORMS["stream_tumbling"]
    R.run_events_stream_to_noop(spark, str(src), transform, mode)
    progress = R.last_run_progress
    assert progress, "drain must record progress telemetry"
    assert sum(p.get("numInputRows", 0) for p in progress) > 0
    assert any(p.get("stateOperators") for p in progress)


# --------------------------------------------- geo_knn_join


def test_geo_knn_join_bruteforce_replay_and_plan(spark):
    """Recompute kNN-within-radius in plain Python over the derived
    geography; the plan must carry a WindowGroupLimit (the rank-<=k
    filter pushed into the shuffle) — the feature that bounds what a
    point ships out of the exchange. Pinned to sf0.01: at sf0.001 the
    derived geography is so sparse that no pair is within R and the
    replay would pass vacuously on an empty set."""
    import duckdb

    sf_dir = "/root/testdata/sf0.01"
    duck = duckdb.connect()
    for t in ("customer", "supplier"):
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    from nchu_bigdata_spark.queries.geo import (
        _AX,
        _AY,
        _KNN_K,
        _OX,
        _OY,
        _R2,
        _SPAN,
    )

    custs = [r[0] for r in duck.execute("SELECT c_custkey FROM customer").fetchall()]
    supps = [r[0] for r in duck.execute("SELECT s_suppkey FROM supplier").fetchall()]
    spts = [
        (s, (s * _AX + _OX) % _SPAN, (s * _AY + _OY) % _SPAN) for s in supps
    ]
    expect = set()
    for c in custs:
        cx, cy = (c * _AX) % _SPAN, (c * _AY) % _SPAN
        cand = sorted(
            ((cx - sx) ** 2 + (cy - sy) ** 2, s)
            for s, sx, sy in spts
            if (cx - sx) ** 2 + (cy - sy) ** 2 <= _R2
        )
        for rk, (d2, s) in enumerate(cand[:_KNN_K], 1):
            expect.add((c, rk, s, d2))
    assert expect, "sf0.01 geometry must produce in-radius pairs"
    df = load_all_queries()["geo_knn_join"].fn(spark, sf_dir)
    got = {tuple(r) for r in df.collect()}
    assert got == expect
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    duck.close()
