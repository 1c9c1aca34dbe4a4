"""Query registry — the single source of truth wiring the engine's
operator surface (SURVEY.md §2.B) to the driver contract in
``__spark_entry__.py``.

Every operator the engine claims is registered here with
  * a Spark implementation ``(spark, sf_dir) -> DataFrame``, and
  * (when SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.

There are two registration forms:
  * ``@register(name, oracle, tags)`` on a Python function that builds
    the Spark plan;
  * ``register_sql(name, oracle, tags)`` when Spark runs the oracle's
    own SQL text (``io.sql_over_tables``). Use it where that text means
    the same thing in both dialects: DataFrame code and SQL go through
    one Catalyst pipeline, so a DataFrame body would only be a second
    copy of the plan. The check stays cross-engine (DuckDB vs Spark).

Determinism contract (the driver hashes values order-insensitively but
exactly): every registered query must produce a bit-stable row multiset.
See ``compat.py`` for the decimal/rounding helpers that make float
aggregates reproducible across Spark and DuckDB.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")

        # Driver-compat output layer (compat.py module doc): every
        # registered query's final DECIMAL columns become DOUBLE on both
        # engines so the driver's pandas canonicalizer sees identical
        # dtypes. No-op for queries without decimal outputs.
        from nchu_bigdata_spark.compat import finalize_oracle, finalize_output
        from nchu_bigdata_spark.materialize import build_in_run

        def final_fn(spark: SparkSession, sf_dir: str, _fn: QueryFn = fn) -> DataFrame:
            # Queries run under caller-owned sessions (the driver's);
            # pin the runtime confs that change result SEMANTICS so
            # behavior can't drift with the caller's defaults: UTC
            # session clock (timestamp bucketing/formatting), ANSI off
            # (permissive casts, matching both the reference's
            # Double.parseDouble semantics and the DuckDB oracles as
            # written), Arrow on (the pandas-UDF operators assume
            # vectorized transfer).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.ansi.enabled", "false")
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
            # Plan-choice confs, re-pinned to the engine's declared
            # values (session.PLAN_CONF_PINS — the same single source
            # get_session builds with): a query that overrides them for
            # its own demonstration (e.g. join_bloom_prune disables
            # broadcast so the runtime bloom filter can inject) must
            # stay overridden through its OWN lazy execution, so it
            # can't restore them itself — instead every query entry
            # re-pins, bounding any override's blast radius to exactly
            # one query.
            from nchu_bigdata_spark.session import PLAN_CONF_PINS

            for k, v in PLAN_CONF_PINS.items():
                spark.conf.set(k, v)
            # the query's freezes live as long as the frame it returns
            return build_in_run(lambda: finalize_output(_fn(spark, sf_dir)))

        final_fn.__name__ = fn.__name__
        final_fn.__doc__ = fn.__doc__
        final_fn.__wrapped__ = fn

        REGISTRY[name] = QuerySpec(
            name=name,
            fn=final_fn,
            oracle=finalize_oracle(oracle) if oracle is not None else None,
            tags=tags,
        )
        return fn

    return deco


def register_sql(name: str, oracle: str, tags: tuple[str, ...] = ()) -> None:
    """Register ``name`` with the oracle's SQL text as its Spark
    implementation: the same pins, output layer and run as ``register``,
    over the testdata tables bound by ``io.sql_over_tables``."""
    from nchu_bigdata_spark.io import sql_over_tables

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return sql_over_tables(spark, sf_dir, oracle)

    fn.__name__ = name
    register(name, oracle, tags)(fn)


# Driver presentation order. The driver checks the FIRST 50 ids each
# round and commits the rows as CORRECTNESS_r<N>.json next to this
# package. The order is derived from those files, keyed by each id's
# newest row, so every round's window moves on by itself:
#   1. ids whose newest row is not green lead (re-checked next round);
#   2. never-checked ids follow, in registration order;
#   3. green ids trail, oldest certification first, ties broken by
#      position in that round's window.
# With no CORRECTNESS files every id is never-checked: registration
# order.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def is_green(name: str, row: dict) -> bool:
    """Whether the driver CORRECTNESS ``row`` certifies query ``name``.

    Rows-only-by-design ids (registry oracle is None, e.g.
    text_compression_ratio's DEFLATE replay) get err='no_oracle' from
    the driver by construction, the strongest row they can ever earn;
    with rows > 0 that counts as green, or they would hold a window
    slot every round forever."""
    if row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0:
        spec = REGISTRY.get(name)
        if spec is not None and spec.oracle is None:
            return True
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and (row.get("hash_match") or row.get("hash_match") is None)
        and not row.get("err")
    )


def driver_order(names: list[str], root: str) -> list[str]:
    """``names`` (in registration order) sorted by the rule above, from
    the CORRECTNESS_r<N>.json files in ``root``."""
    newest: dict[str, tuple[int, int, dict]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(path, encoding="utf-8") as f:
            rows = json.load(f)
        for pos, (name, row) in enumerate(rows.items()):
            if name not in newest or rnd > newest[name][0]:
                newest[name] = (rnd, pos, row)

    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        i, name = item
        if name not in newest:
            return (1, i, 0)
        rnd, pos, row = newest[name]
        return (2 if is_green(name, row) else 0, rnd, pos)

    return [name for _, name in sorted(enumerate(names), key=key)]


def ordered_specs() -> dict[str, QuerySpec]:
    """Registry in driver presentation order (``driver_order``)."""
    specs = load_all_queries()
    return {n: specs[n] for n in driver_order(list(specs), _ROOT)}


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every query/operator module (triggering registration) and
    return the registry."""
    # Imports are deferred so `import nchu_bigdata_spark` stays cheap and
    # circular imports are impossible.
    from nchu_bigdata_spark import queries as _q  # noqa: F401
    from nchu_bigdata_spark import operators as _o  # noqa: F401

    return REGISTRY
