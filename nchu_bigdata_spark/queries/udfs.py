"""B-8 UDF / UDAF / UDTF surface (SURVEY.md §2.B-8).

Python is the slow path: every UDF here is Arrow-vectorized (Pandas
UDF), never row-at-a-time. Each query's semantics are also
SQL-expressible, so the DuckDB oracle verifies the UDF plumbing
end-to-end (batch shapes, Arrow transfer, grouped dispatch) — not just
"rows came back".

At 100 TB: scalar Pandas UDFs stream Arrow batches per partition;
grouped variants shuffle once on the group key. A group must fit in one
worker's memory for applyInPandas — group keys here are bounded
(user_id, returnflag), which is the operator's documented contract.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.types import DoubleType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dround
from nchu_bigdata_spark.io import sql_over_tables, table
from nchu_bigdata_spark.registry import register


@F.pandas_udf(DoubleType())
def _disc_price(price: pd.Series, disc: pd.Series) -> pd.Series:
    """Vectorized (price, discount) -> discounted price. IEEE double ops
    on identical inputs — bit-identical to the SQL expression."""
    return price * (1.0 - disc)


@register(
    "udf_scalar_pandas",
    tags=("b8",),
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)) AS disc_price
        FROM lineitem
        WHERE l_returnflag = 'A'
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF (Series→Series over Arrow batches)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(_disc_price("l_extendedprice", "l_discount"), 4).alias("disc_price"),
    )


@F.pandas_udf(DoubleType())
def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    """Grouped-agg Pandas UDF: quantity-weighted mean price."""
    return float((price * qty).sum() / qty.sum())


@register(
    "udaf_grouped_pandas",
    tags=("b8",),
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
                    AS DECIMAL(18,4)) AS w_avg_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF (whole group's columns → one scalar).
    Rounded to 4 decimals: the quotient shrinks summation-order noise by
    ~the group count, leaving it far below the rounding grid."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dround(_weighted_avg_price("l_extendedprice", "l_quantity"), 4).alias(
            "w_avg_price"
        )
    )


def _center_values(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group table function: deviation from the group mean (the
    reference's per-cluster centroid update kernel,
    src/Kmeans.java:101-112, as a grouped-map UDF).

    Output is the deviation scaled by 100·n (``n·cents − Σcents``) — an
    exact integer. Floats here would sit on rounding boundaries by
    construction (2-decimal data minus a rational mean), so the operator
    emits the exact form and leaves presentation scaling to the caller.
    """
    cents = (pdf["value"] * 100).round().astype("int64")
    out = pdf[["event_id", "user_id"]].copy()
    out["dev_scaled"] = len(pdf) * cents - cents.sum()
    return out


@register(
    "udtf_apply_in_pandas",
    tags=("b8",),
    oracle="""
        SELECT event_id, user_id,
               CAST(
                   COUNT(*) OVER w * CAST(ROUND(value * 100) AS BIGINT)
                   - SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
               AS BIGINT) AS dev_scaled
        FROM events
        WINDOW w AS (PARTITION BY user_id)
    """,
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (table in → table out per group).

    Two Python-stage rules, both invisible to a byte-oriented planner:

    * **Prune before Arrow.** Only the columns the kernel reads cross
      the JVM→Python boundary; shipping the unused map/timestamp
      columns through Arrow cost ~30% extra wall time.
    * **Size the shuffle for CPU, not bytes.** AQE coalesces the
      pre-UDF shuffle by *data size* (100k rows look like 3
      partitions), which serializes the per-group Python work onto 3
      workers. An explicit ``repartition(n, key)`` pins partition count
      to the CPU budget — AQE leaves user repartitions alone — and the
      groupBy reuses that partitioning, so the plan still has exactly
      one Exchange. Together: 3.0s → 0.7s at sf0.1 on 32 cores.
    """
    ev = table(spark, sf_dir, "events")
    n = spark.sparkContext.defaultParallelism
    return (
        ev.select("event_id", "user_id", "value")
        .repartition(n, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            _center_values,
            schema="event_id long, user_id long, dev_scaled long",
        )
    )


@register(
    "udtf_python_arrow",
    tags=("b8",),
    oracle="""
        SELECT doc_id, w[i + 1] AS word, CAST(i AS INT) AS pos,
               CAST(len(w[i + 1]) AS INT) AS word_len
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             unnest(range(len(w))) AS r(i)
    """,
)
def udtf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF (Spark 4.x ``@udtf``) with Arrow transfer:
    a per-row table function lateral-joined in SQL — the user-defined
    generator surface ``lateral_explode`` provides built-in and
    ``udtf_apply_in_pandas`` provides per-GROUP; this is the per-ROW
    form with arbitrary Python logic per emitted row.

    The UDTF is declared with ``useArrow=True`` so rows cross the
    boundary in Arrow batches (the repo's no-row-at-a-time-transfer
    rule); the generator itself is plain Python — the escape hatch for
    logic ``explode``-style builtins can't express. Tokenization with
    positions keeps the DuckDB oracle exact.

    Scale shape: the lateral join is generator-in-scan-stage like
    ``lateral_explode`` — no shuffle; output rows stream out of the
    same partition that scanned the doc."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int, word_len: int", useArrow=True)
    class TokenizeWithPos:
        def eval(self, text: str):  # noqa: ANN001 - Spark UDTF protocol
            if text is None:  # match the oracle: NULL text -> no rows
                return
            for i, w in enumerate(text.split(" ")):
                yield w, i, len(w)

    spark.udtf.register("tokenize_with_pos", TokenizeWithPos)
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT d.doc_id, t.word, t.pos, t.word_len
        FROM documents d, LATERAL tokenize_with_pos(d.text) t
        """,
    )


@register(
    "udtf_map_in_arrow",
    tags=("b8",),
    oracle="""
        -- the Arrow-native per-batch pass computes exact integer cents
        -- and props byte-lengths; the rollup certifies every batch made
        -- it through the RecordBatch iterator intact
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(SUM(LENGTH(props)) AS BIGINT) AS sum_props_len
        FROM events
        GROUP BY event_type
    """,
)
def udtf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy end of the Python integration
    ladder (scalar pandas_udf → grouped agg → applyInPandas →
    mapInPandas → THIS): the function receives raw
    ``pyarrow.RecordBatch``es and answers with RecordBatches, no
    pandas materialization, no index bookkeeping — the interface a
    high-throughput Python codec (tokenizers, Arrow-native feature
    libs) wants at 100 TB. The batch body runs entirely in Arrow
    compute kernels (C++), so the Python layer is per-BATCH dispatch,
    not per-row work.

    Semantics kept deliberately SQL-replayable (exact integer cents
    via half-away-from-zero round, props character lengths): the oracle
    certifies the Arrow plumbing — batch iteration, schema contract,
    value fidelity across the boundary — not a novel computation. A
    tiny map-side rollup after the map keeps the result bounded.

    Plan/scale: partition-preserving (no shuffle for the map; one
    event_type-keyed agg exchange after), Arrow batches stream at
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = table(spark, sf_dir, "events").select(
        "event_type", "value", "props"
    )

    def batches(it):
        for rb in it:
            cents = pc.cast(
                pc.round(
                    pc.multiply(rb.column(1), pa.scalar(100.0)),
                    ndigits=0,
                    # Arrow's name for round-half-away-from-zero
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            # utf8_length = CHARACTER count, matching SQL LENGTH on any
            # corpus (binary_length would count bytes and silently
            # diverge on non-ASCII props)
            plen = pc.cast(pc.utf8_length(rb.column(2)), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), cents, plen],
                ["event_type", "cents", "props_len"],
            )

    mapped = ev.mapInArrow(
        batches, "event_type string, cents long, props_len long"
    )
    return mapped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("props_len").cast("long").alias("sum_props_len"),
    )


# --------------------------------------------------------------------------
# udtf_lateral_python — PySpark 4 Python UDTF in a LATERAL join (round 14)
# --------------------------------------------------------------------------


@register(
    "udtf_lateral_python",
    tags=("b8",),
    oracle="""
        -- Python UDTF certification: the registered table function
        -- explodes word bigrams per document and a LATERAL join
        -- correlates it row-by-row; the oracle replays the same
        -- bigram expansion with pure SQL position arithmetic, so the
        -- UDTF's row-multiplication contract (every input row, every
        -- adjacent pair, nothing dropped or doubled) is what's
        -- certified. Top-20 by (count desc, bigram) is deterministic.
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t
            FROM documents
        ),
        bi AS (
            SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS w
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
        )
        SELECT w AS bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM bi GROUP BY w
        ORDER BY n DESC, bigram
        LIMIT 20
    """,
)
def udtf_lateral_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE function — the PySpark 4 ``@udtf`` API
    (SQL-side ``LATERAL tf(col)``): a Python class whose ``eval``
    yields zero-or-more rows per input row, registered into the SQL
    namespace and correlated with a lateral join — the 1-to-N escape
    hatch when row expansion logic genuinely needs Python (here the
    demonstrator is bigram expansion, so the oracle can replay it with
    position arithmetic and certify the row-multiplication contract
    exactly). Completes the Python integration ladder's table-function
    rung: scalar pandas_udf → grouped agg → applyInPandas →
    mapInPandas → mapInArrow → THIS.

    Honest cost accounting: a UDTF's ``eval`` is called once per
    INPUT ROW (Arrow-optimized transfer, ``useArrow=True``, but
    per-row dispatch) — one call per document here, each yielding its
    bigram stream. That is coarser than per-token but finer than
    mapInPandas' per-batch dispatch; when the expansion is expressible
    with built-ins (as bigrams are — see text_ngram_stats' explode
    form), the built-in wins at scale. The UDTF is for when it isn't.

    Plan/scale: Generate-style row expansion feeding a vocab-bounded
    map-side-combined count + TakeOrdered top-20; one scan, one
    shuffle of bigram partials."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="w string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    spark.udtf.register("doc_bigrams", Bigrams)
    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT t.w AS bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM udtf_docs_v d, LATERAL doc_bigrams(d.text) t
        GROUP BY t.w
        ORDER BY n DESC, bigram
        LIMIT 20
        """
    )
