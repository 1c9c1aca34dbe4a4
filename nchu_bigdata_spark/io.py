"""Table readers for the driver's testdata layout.

Tables (one parquet each, see FIXTURES.md §B): region nation customer
supplier part orders lineitem events documents embeddings.

Parquet is the engine's native format: columnar, predicate-pushdown- and
column-pruning-friendly, splittable — the right scan for 100 TB. CSV/JSON
readers (reference parity: the reference scans CSV text lines,
``hadoop_tutorial/src/Kmeans.java:155,226-236``) take explicit schemas —
never ``inferSchema`` (an extra full pass over the data at scale).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Explicit schemas (FIXTURES.md §B) — used by the CSV/JSON scan operators;
# parquet carries its own schema.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def read_events_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read an events parquet path, retrying under the legacy
    ``nanosAsLong`` flag for pre-4.x readers that reject
    TIMESTAMP(NANOS) outright. Shared by ``table`` and the streaming
    runner's schema probe. If the retry ALSO fails (bad path, corrupt
    file — not a nanos problem), the conf flip is undone so an
    unrelated error can't leave the caller's session permanently
    reading nanos columns as BIGINT.

    DELIBERATE CONF LEAK on the success path: when the legacy retry
    succeeds, ``nanosAsLong`` stays ``true`` for the session. The conf
    is consulted again at *execution* time (per-file schema conversion
    in the parquet read support), not just at plan creation, so
    restoring it before the returned DataFrame is acted on would break
    the very scan this function just built. Consequences, contained by
    design: (a) later ``table('events')`` calls in the same session see
    ts as BIGINT nanos on the *first* read attempt — ``table`` branches
    on the actual dtype and normalizes, so results are unchanged;
    (b) an unrelated TIMESTAMP(NANOS) parquet read by an external
    caller will surface BIGINT — callers doing their own nanos reads
    should re-pin the conf per query. On modern Spark (4.x) the native
    read succeeds and this branch never triggers."""
    try:
        return spark.read.parquet(path)
    except Exception:
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            return spark.read.parquet(path)
        except Exception:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
            raise


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain ``spark.read.parquet`` so Catalyst
    can push filters and prune columns into the scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS). How a session surfaces it
    varies by Spark version/config: as raw BIGINT nanos (legacy
    ``nanosAsLong``), as TIMESTAMP_NTZ (Spark 4.x native nanos read,
    truncated to micros), or already as a session-TZ timestamp. The
    branch below normalizes every case to a microsecond TimestampType on
    the UTC session clock, so downstream window/date logic and the
    DuckDB oracle agree regardless of which session constructed the
    read (the testdata carries no sub-microsecond components, so all
    paths are lossless and identical)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    # Queries may run under a caller-provided session (the driver's);
    # pin the TZ-sensitive semantics here so results don't depend on the
    # host machine's timezone (to_date/year/window of timestamp cols).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F

        df = read_events_parquet(spark, path)
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        elif isinstance(dt, T.TimestampType):
            ts = F.col("ts")
        else:
            # TIMESTAMP_NTZ: wall-clock equals the UTC instant the nanos
            # encode; casting under the UTC session TZ reproduces it.
            ts = F.col("ts").cast(T.TimestampType())
        return df.withColumn("ts", ts).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.parquet(path)


# A base-table reference: a testdata table name right after FROM/JOIN.
# Anchoring matters: a bare word match would also rewrite column
# aliases that share a table's name (tpch_q2's ``n_name AS nation``).
_TABLE_REF = re.compile(r"\b((?i:FROM|JOIN)\s+)(" + "|".join(TABLES) + r")\b")


def sql_over_tables(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run Spark SQL ``text`` with each base-table reference bound to
    ``table(spark, sf_dir, name)``.

    The tables go in as ``spark.sql`` keyword arguments, which PySpark
    binds as uuid-named temp views and drops once the query is
    analyzed, so the caller's session catalog is left as it was (a
    caller's own ``orders`` view is neither read nor replaced)."""
    # with keyword arguments, spark.sql runs the text through str.format
    text = text.replace("{", "{{").replace("}", "}}")
    names = {m.group(2) for m in _TABLE_REF.finditer(text)}
    return spark.sql(
        _TABLE_REF.sub(r"\1{\2}", text),
        **{n: table(spark, sf_dir, n) for n in names},
    )


def parallel_table(
    spark: SparkSession, sf_dir: str, name: str, min_parts: int | None = None
) -> DataFrame:
    """``table()`` plus a fill-the-cluster guard for CPU-dense pipelines
    (shingling/hashing, per-row vector math, Arrow/pandas stages).

    The testdata parquet files are single-row-group, so the vectorized
    reader cannot split them: the scan yields ONE partition and every
    narrow stage above it runs on one core of a 32-core host. When the
    scan underfills ``defaultParallelism``, round-robin repartition once
    right after the scan. At production scale (many files / row groups)
    the scan already has >= cores splits and this is a no-op — the guard
    never *reduces* partitioning and never fires a shuffle that the
    cluster wouldn't want anyway for a compute-bound stage.

    Used only where A/B-measured to pay (sf0.1, min of 3): the win
    requires heavy narrow compute *before* the first shuffle —
    shingling/md5 (dedup_minhash 4.4→2.5s, dedup_simhash 2.0→0.7s,
    text_fingerprint 2.0→1.0s, dedup_ngram_jaccard) and per-row vector
    math (similarity ``_vecs``). Everywhere else the extra round-robin
    Exchange costs more than the parallelism buys (text_tfidf/langid
    shuffle immediately anyway; kmeans/embeddings and multimodal rows
    are too few for task overhead) — those keep the raw ``table()``
    scan, which also lets filter pushdown reach the reader without an
    Exchange in between."""
    df = table(spark, sf_dir, name)
    n = min_parts or spark.sparkContext.defaultParallelism
    if _scan_splits_estimate(spark, f"{sf_dir}/{name}.parquet") < n:
        df = df.repartition(n)
    return df


def _parse_bytes(s: str, default: int) -> int:
    try:
        t = str(s).strip().lower().removesuffix("b")
        for suf, mul in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if t.endswith(suf):
                return int(float(t[:-1]) * mul)
        return int(t)
    except (ValueError, TypeError):
        return default


def _list_data_file_sizes(spark: SparkSession, path: str) -> list[int]:
    """Data-file sizes under ``path``, one directory level deep (covers
    flat tables AND single-level partitioned layouts like
    ``mo=.../part-*.parquet``). Hidden entries (``_``/``.`` prefixes —
    ``_SUCCESS``, ``.crc``) are skipped like Spark's InMemoryFileIndex
    does. Local paths list via ``os.scandir``; any other scheme lists
    through the Hadoop ``FileSystem`` API on the JVM gateway — a
    metadata-only RPC per directory, NOT the full plan + RDD conversion
    the pre-r15 fallback paid (``read.parquet().rdd`` re-instated the
    exact probe on every non-local call, the cost r14 removed)."""
    import os

    def _scan_local(d: str, depth: int) -> list[int]:
        out: list[int] = []
        with os.scandir(d) as it:
            for e in it:
                if e.name.startswith(("_", ".")):
                    continue
                if e.is_file():
                    out.append(e.stat().st_size)
                elif e.is_dir() and depth > 0:
                    out.extend(_scan_local(e.path, depth - 1))
        return out

    if os.path.isfile(path):
        return [os.path.getsize(path)]
    if os.path.isdir(path):
        return _scan_local(path, 1)
    # Non-local scheme (s3a://, hdfs://, ...): Hadoop FileSystem listing.
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())

    def _scan_fs(p, depth: int) -> list[int]:
        out: list[int] = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                if depth > 0:
                    out.extend(_scan_fs(st.getPath(), depth - 1))
            else:
                out.append(int(st.getLen()))
        return out

    if not fs.exists(jpath):
        return []
    st = fs.getFileStatus(jpath)
    if not st.isDirectory():
        return [int(st.getLen())]
    return _scan_fs(jpath, 1)


def _scan_splits_estimate(spark: SparkSession, path: str) -> int:
    """Scan-partition count from file sizes — Spark's own
    ``FilePartition`` algorithm (maxSplitBytes formula + greedy
    size-descending bin-packing with the per-file open cost), replayed
    over a metadata listing. The previous probe —
    ``df.rdd.getNumPartitions()`` — forced a full physical plan + RDD
    conversion per call (measured 90-480 ms on local[32], paid by
    every parallel_table caller on every bench rep; r14). Only the
    BRANCH matters (is the scan underparallelized?), and at production
    scale many-files inputs estimate far above core count either way.
    r15: the listing goes through the Hadoop FileSystem API for
    non-local schemes and recurses one partition-directory level, and
    the per-file ``ceil`` shortcut (which overcounted many-small-files
    inputs vs Spark's bin-packing) is replaced by the exact packing
    replay, asserted estimate == actual for every testdata table in
    tests/test_round15_ops.py. Returns 0 for an empty/missing listing
    (callers treat that as "underparallelized")."""
    sizes = _list_data_file_sizes(spark, path)
    if not sizes:
        return 0
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304"),
        4 << 20,
    )
    max_pb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        128 << 20,
    )
    try:
        min_parts = int(spark.conf.get("spark.sql.files.minPartitionNum"))
    except Exception:  # unset (validated conf rejects sentinel defaults)
        min_parts = spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total // max(min_parts, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    # Split each file into <= max_split chunks, then pack size-DESC:
    # a chunk that would push the current bin past max_split closes it,
    # and every chunk charges its open cost to the bin it lands in —
    # the exact loop in FilePartition.getFilePartitions.
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s > 0:
            chunks.append(s)
    chunks.sort(reverse=True)
    n, cur = 0, 0
    for c in chunks:
        if cur + c > max_split:
            n += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        n += 1
    return n or 1


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side fixture table via the pandas/Arrow path.

    ``spark.createDataFrame(list_of_tuples, ...)`` parallelizes the
    collection into ``defaultParallelism`` PYTHON-RDD partitions, and
    every downstream consumption pays one Python-worker round-trip per
    partition — a 1-row manifest written through ``coalesce(1)`` chains
    32 sequential round-trips into one task (~6-8 s measured on
    local[32], r14). One pandas frame ships as a single Arrow batch
    straight into the JVM instead (measured 0.2-0.3 s), with the
    explicit schema pinning the exact column types either way.

    Assumes ``spark.sql.execution.arrow.pyspark.enabled=true`` (pinned
    in session.py): on the Arrow path the explicit schema drives the
    conversion, so pandas' None→NaN coercion in integer columns is
    recovered as a proper NULL. A session built with Arrow disabled
    would both lose the single-batch speedup and risk a float-to-long
    safe-cast failure on such rows (ADVICE r14)."""
    import pandas as pd
    from pyspark.sql import types as TT

    st = (
        TT._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    pdf = pd.DataFrame(list(rows), columns=st.names)
    return spark.createDataFrame(pdf, schema=st)
