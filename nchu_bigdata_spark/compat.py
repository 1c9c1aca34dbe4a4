"""Cross-engine determinism helpers (Spark ↔ DuckDB oracle).

The driver compares query results by row-count + schema + order-insensitive
value hash. Floating-point aggregates are the hazard: Spark's partial
aggregation sums doubles in a different order than DuckDB, so raw
``SUM(double)`` can differ in the last ulps — enough to flip a hash.

Policy:
  * **Sums of doubles** → cast inputs to ``DECIMAL(20,6)`` first. Decimal
    addition is exact and associative, so the result is bit-identical on
    both engines regardless of partial-agg order. Final cast to
    ``DECIMAL(38,6)`` so the result types also match (Spark widens sums to
    p+10, DuckDB to 38).
  * **Averages / scalar float expressions** → ``ROUND(x, s)`` then cast to
    ``DECIMAL(18,s)``. Rounding error from summation order is orders of
    magnitude below the rounding grid, and the decimal cast removes any
    double-representation bit noise.
  * **Counts** → BIGINT on both engines natively; DuckDB ``SUM(int)``
    returns HUGEINT, so oracle SQL must ``CAST(... AS BIGINT)``.
  * **Timestamps** → compare as ``unix_micros`` bigints (Spark) /
    ``epoch_us`` (DuckDB), or format as strings; never raw timestamps
    (session-TZ vs naive semantics).
  * **Final output layer** (round 2): the driver canonicalizes results
    through *pandas* (Spark ``toPandas()`` ↔ DuckDB ``.df()``). Spark
    DECIMAL arrives there as ``decimal.Decimal`` objects while DuckDB
    DECIMAL arrives as float64 — same values, different canonical form,
    so every decimal-emitting query hash-failed in round 1. Fix:
    ``finalize_output``/``finalize_oracle`` cast every **top-level**
    DECIMAL output column to DOUBLE on both engines as the last step.
    Decimal→double conversion is correctly rounded on both engines, so
    the bit-stability of the decimal-internal math carries through to
    identical float64 values. Collection (array/map) outputs are banned
    outright — the driver's pandas sort crashes on them — and queries
    serialize them to strings or tidy rows instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SUM_DECIMAL_IN = "decimal(20,6)"
SUM_DECIMAL_OUT = "decimal(38,6)"


def dsum(col: Column | str) -> Column:
    """Exact, order-independent sum of a double column (see module doc).

    Oracle SQL shape: ``CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DECIMAL(38,6))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(SUM_DECIMAL_IN)).cast(SUM_DECIMAL_OUT)


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(20,6))) AS DECIMAL(38,6))"


def davg(col: Column | str, scale: int = 4) -> Column:
    """Average rounded to ``scale`` and cast to decimal for bit-stability.

    Oracle SQL shape: ``CAST(ROUND(AVG(x), s) AS DECIMAL(18,s))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.avg(c), scale).cast(f"decimal(18,{scale})")


def sql_davg(expr: str, scale: int = 4) -> str:
    return f"CAST(ROUND(AVG({expr}), {scale}) AS DECIMAL(18,{scale}))"


def dround(col: Column | str, scale: int = 4) -> Column:
    """Round a scalar double expression and cast to decimal.

    Oracle SQL shape: ``CAST(ROUND(x, s) AS DECIMAL(18,s))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale).cast(f"decimal(18,{scale})")


def sql_dround(expr: str, scale: int = 4) -> str:
    return f"CAST(ROUND({expr}, {scale}) AS DECIMAL(18,{scale}))"


def finalize_output(df: DataFrame) -> DataFrame:
    """Driver-compat output layer: cast top-level DECIMAL columns to
    DOUBLE (see module doc). Applied to every registered query by
    ``registry.register``; a no-op (same DataFrame object) when no
    decimal columns exist, so plans of non-decimal queries are
    untouched."""
    from pyspark.sql import types as T

    if not any(isinstance(f.dataType, T.DecimalType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, T.DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


_PROBE_SF_DIR = "/root/testdata/sf0.001"
_probe_con = None


def _oracle_probe():
    """Lazy in-memory DuckDB connection with the standard views, used
    only to DESCRIBE oracle SQL (binds schemas; never executes)."""
    global _probe_con
    if _probe_con is None:
        import duckdb

        from nchu_bigdata_spark.io import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{_PROBE_SF_DIR}/{t}.parquet'"
            )
        _probe_con = con
    return _probe_con


def finalize_oracle(sql: str) -> str:
    """Mirror of ``finalize_output`` for the DuckDB oracle: introspect
    the SQL's result types via DESCRIBE and wrap DECIMAL columns in
    ``CAST(... AS DOUBLE)`` (and HUGEINT in ``CAST(... AS BIGINT)``)
    so both engines hand the driver the same pandas dtypes. Returns the
    SQL unchanged when nothing needs normalizing or the probe is
    unavailable."""
    try:
        desc = _oracle_probe().execute(f"DESCRIBE {sql}").fetchall()
    except Exception:  # pragma: no cover - probe env missing
        return sql
    needs = [
        t.upper().startswith("DECIMAL") or t.upper() == "HUGEINT"
        for _, t, *_ in desc
    ]
    if not any(needs):
        return sql
    cols = []
    for (name, typ, *_), n in zip(desc, needs):
        if not n:
            cols.append(f'"{name}"')
        elif typ.upper() == "HUGEINT":
            cols.append(f'CAST("{name}" AS BIGINT) AS "{name}"')
        else:
            cols.append(f'CAST("{name}" AS DOUBLE) AS "{name}"')
    return f"SELECT {', '.join(cols)} FROM (\n{sql}\n) __drvfin"


def ts_micros(col: Column | str) -> Column:
    """Timestamp → epoch microseconds (bigint). Oracle: ``epoch_us(ts)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c)
