"""B-1 scans/sources/sinks + B-2 projection/filter (SURVEY.md §2.B-1/2).

The reference's only source is an HDFS text-line scan with positional
CSV tokenizing (``hadoop_tutorial/src/Kmeans.java:155,226-236``) and its
only sink is a text write (``:131``). Here: parquet is the native format
(columnar, pushdown, splittable); CSV/JSON take explicit schemas (never
``inferSchema`` — it's an extra full pass at scale); the partitioned
sink writes hive-style directory partitions for downstream partition
pruning.

The CSV/JSON scan queries materialize a deterministic copy of a testdata
table in the repo-local scratch dir first, then exercise the real
scan path on it; the oracle reads the original parquet, so byte-level
round-trip fidelity is part of what's checked.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nchu_bigdata_spark.compat import dround, dsum
from nchu_bigdata_spark.io import table
from nchu_bigdata_spark.materialize import shared_intermediate
from nchu_bigdata_spark.registry import register, register_sql

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def scratch_dir(sf_dir: str, name: str) -> str:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_SCRATCH, sf_tag, name)


def _write_one_file_per_bucket(
    spark: SparkSession, df: DataFrame, out: str, *sort_cols: str
) -> None:
    """Write ``df`` partitioned by its ``bucket`` column with EXACTLY
    one data file per bucket, rows ordered by ``sort_cols`` inside the
    file — the physical invariant every row-ordinal delete format
    (Iceberg position deletes, Delta deletion vectors) depends on.
    ADVICE r13 item 2: spark.sql.files.maxRecordsPerFile (session
    config, user override) silently splits files and restarts
    _metadata.row_index per file, landing deletes on wrong rows — so
    the conf is pinned to 0 (no split) around the write and the
    produced layout is asserted before any reader trusts ordinals."""
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "0")
    try:
        (
            df.repartition("bucket")
            .sortWithinPartitions("bucket", *sort_cols)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    for bucket_dir in sorted(glob.glob(os.path.join(out, "bucket=*"))):
        n_files = len(glob.glob(os.path.join(bucket_dir, "part-*.parquet")))
        if n_files != 1:
            raise AssertionError(
                "row-ordinal delete formats require exactly one data "
                f"file per bucket; {bucket_dir} has {n_files}"
            )


# Filter + projection reach the parquet reader (PushedFilters, a 4-column
# ReadSchema).
register_sql(
    "scan_parquet",
    tags=("b1",),
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE l_returnflag = 'R'
    """,
)


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
    ]
)


@register(
    "scan_csv",
    tags=("b1", "ref-parity"),
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit positional schema (ref A1/A2:
    ``textToArray`` comma-split + positional casts,
    ``src/Kmeans.java:226-236``). Round-trips lineitem through CSV and
    aggregates; the oracle reads the original parquet, so lossless
    CSV serde is part of the check."""
    out = scratch_dir(sf_dir, "lineitem_csv")
    li = table(spark, sf_dir, "lineitem").select(*[f.name for f in _CSV_SCHEMA.fields])
    li.write.mode("overwrite").csv(out)
    csv = spark.read.schema(_CSV_SCHEMA).csv(out)
    return csv.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )


_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@register(
    "scan_json",
    tags=("b1",),
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_value,
               MIN(epoch_us(ts)) AS first_us
        FROM events
        GROUP BY event_type
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with explicit schema. Timestamps travel as epoch
    micros (bigint) — JSON has no timestamp type, and micros round-trip
    exactly."""
    out = scratch_dir(sf_dir, "events_json")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    ev.write.mode("overwrite").json(out)
    js = spark.read.schema(_JSON_SCHEMA).json(out)
    return js.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
        F.min("ts_us").alias("first_us"),
    )


@register(
    "sink_partitioned",
    tags=("b1",),
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS sum_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back. Hive-style partition dirs
    (``l_returnflag=R/...``) give later scans free partition pruning —
    the 100 TB answer to 'only read the slice you need'. The read-back
    aggregate must match the oracle over the original table, proving the
    sink is lossless (partition column round-trips from dir names)."""
    out = scratch_dir(sf_dir, "lineitem_by_flag")
    li = table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@register(
    "project_select",
    tags=("b2",),
    oracle="""
        SELECT l_orderkey,
               l_linenumber,
               CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)) AS disc_price,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               upper(l_returnflag) || '/' || l_linestatus AS flag_status
        FROM lineitem
    """,
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + computed columns (ref A4: positional column skip,
    ``src/Kmeans.java:66,102-103``). Catalyst prunes the parquet scan to
    exactly the referenced columns."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "disc_price"
        ),
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.concat_ws("/", F.upper("l_returnflag"), F.col("l_linestatus")).alias(
            "flag_status"
        ),
    )


register_sql(
    "filter_pred",
    tags=("b2",),
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        FROM customer
        WHERE (
            c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
            AND c_acctbal BETWEEN 1000 AND 8000
        )
        OR (c_name LIKE '%001%' AND c_nationkey IS NOT NULL)
    """,
)


@register(
    "scan_orc",
    tags=("b1",),
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6))
                   AS sum_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan: round-trips lineitem through ORC (the other columnar
    format Spark ships a vectorized reader for) and aggregates; the
    oracle reads the original parquet, so lossless serde is checked."""
    out = scratch_dir(sf_dir, "lineitem_orc")
    cols = ["l_orderkey", "l_returnflag", "l_extendedprice"]
    table(spark, sf_dir, "lineitem").select(*cols).write.mode(
        "overwrite"
    ).orc(out)
    orc = spark.read.orc(out)
    return orc.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@register(
    "lateral_explode",
    tags=("b2",),
    oracle="""
        SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS word
        FROM (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE doc_id < 100
        ) t, unnest(range(1, len(w) + 1)) AS r(i)
    """,
)
def lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral flatten: posexplode of the tokenized text — one row per
    (doc, position, token). The table-generator runs inside the scan
    stage (no shuffle); the doc_id predicate is pushed below it."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )


@register(
    "sample_hash",
    tags=("b2",),
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
              % 100 < 5
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% systematic sample by key hash. Unlike
    ``df.sample`` (RNG per partition — irreproducible across engines,
    partitionings, and reruns), hash-mod sampling is a pure scan
    predicate: stable under retries and identical on any engine, which
    is what a 100 TB pipeline needs for resumable subsampling."""
    orders = table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return orders.filter(h % 100 < 5).select("o_orderkey", "o_totalprice")


@register(
    "scan_text",
    tags=("b1",),
    oracle="""
        SELECT doc_id, CAST(len(text) AS INT) AS n_chars_rt
        FROM documents
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (the raw-log / WET-file ingestion
    path): write the corpus as tab-delimited text lines, read it back
    with ``spark.read.text``, and prove the round trip lossless by
    re-deriving every document's id + char length from the parsed
    lines (the oracle computes the same from the parquet table, so any
    mangled line breaks the hash).

    The payload travels HEX-ARMORED: a line sink is only record-safe
    for content with no newlines, and document text can contain them
    (review finding: a raw write split an embedded ``\\n`` into an
    orphan record). Hex framing is line-safe by construction — NOT
    base64: Spark's ``base64`` is the MIME variant and itself inserts
    CRLF every 76 chars. Length is derived from the DECODED payload so
    the armor never leaks into the result.

    Scale notes: the text source splits by line across tasks exactly
    like a 100 TB log ingest; armor+parse are codegen'd projections,
    no shuffle anywhere."""
    out = scratch_dir(sf_dir, "documents_txt")
    docs = table(spark, sf_dir, "documents")
    docs.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.hex(F.encode("text", "UTF-8")),
        ).alias("value")
    ).write.mode("overwrite").text(out)
    parsed = spark.read.text(out).select(
        F.split("value", "\t", 2).alias("p")
    )
    return parsed.select(
        F.element_at("p", 1).cast("long").alias("doc_id"),
        F.length(F.decode(F.unhex(F.element_at("p", 2)), "UTF-8"))
        .cast("int")
        .alias("n_chars_rt"),
    )


# --------------------------------------------------------------------------
# project_unpivot — wide→long melt, the inverse of agg_pivot (round 7)
# --------------------------------------------------------------------------

_UNPIVOT_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "project_unpivot",
    tags=("b2",),
    oracle=f"""
        SELECT l_orderkey, l_linenumber, measure, value
        FROM (
            UNPIVOT (
                SELECT l_orderkey, l_linenumber,
                       {', '.join(_UNPIVOT_MEASURES)}
                FROM lineitem WHERE l_orderkey % 10 = 0
            ) ON {', '.join(_UNPIVOT_MEASURES)}
            INTO NAME measure VALUE value
        )
    """,
)
def project_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt): the four lineitem measures stack into
    (key, measure, value) rows — the inverse of ``agg_pivot`` and the
    missing half of the §1 wide↔long story (the PM2.5 24-hour layout
    melts to tidy form exactly this way).

    Determinism: values pass through UNCHANGED (no arithmetic), so the
    doubles are bit-identical by construction; the measure labels are
    the source column names on both engines.

    Plan: unpivot is a zero-shuffle generator projection (an Expand
    node — each input row emits 4 output rows inside the scan stage);
    the key filter pushes to the parquet reader. At 100 TB melt adds
    NO exchange — column count, not row count, is what multiplies."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return li.select(
        "l_orderkey", "l_linenumber", *_UNPIVOT_MEASURES
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=_UNPIVOT_MEASURES,
        variableColumnName="measure",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# scan_csv_corrupt — PERMISSIVE malformed-record ingestion (round 7)
# --------------------------------------------------------------------------


@register(
    "scan_csv_corrupt",
    tags=("b1",),
    oracle="""
        -- the writer corrupts exactly the doc_id % 7 = 0 lines, so the
        -- oracle replays the classification from the clean table
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_good,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 7 != 0
        GROUP BY lang
        UNION ALL
        SELECT '<corrupt>' AS lang,
               CAST(COUNT(*) AS BIGINT) AS n_good,
               CAST(0 AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 7 = 0
    """,
)
def scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record CSV ingestion: a corpus where every 7th record
    is garbage (no delimiter, unparseable) is read in PERMISSIVE mode
    with ``columnNameOfCorruptRecord`` — good rows parse, bad rows land
    intact in the corrupt-record column for quarantine instead of
    failing the job. THE dirty-ingestion capability real pipelines
    need first (the reference would throw on the first bad
    ``Double.parseDouble``, ``src/Kmeans.java:67``).

    The corruption is deterministic (``doc_id % 7``), so the oracle
    replays the classification from the clean table: per-lang good
    counts + char sums, plus one ``<corrupt>`` quarantine row.

    Plan: line write + schema'd csv scan; the classification is one
    hash agg. PERMISSIVE parsing is per-row work inside the scan —
    no extra pass, no shuffle beyond the agg."""
    out = scratch_dir(sf_dir, "docs_corrupt_csv")
    docs = table(spark, sf_dir, "documents")
    line = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("BAD RECORD "), F.col("doc_id")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("doc_id"),
            F.col("lang"),
            F.col("n_chars"),
        )
    )
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    # Column-pruned CSV parsing never SEES the malformed field, so
    # _corrupt_record would stay null (the classic PERMISSIVE gotcha).
    # Disable pruning for this query; the registry wrapper re-pins the
    # default before every other query (session.PLAN_CONF_PINS).
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    result = (
        parsed.select(
            F.when(
                F.col("_corrupt_record").isNotNull(), F.lit("<corrupt>")
            )
            .otherwise(F.col("lang"))
            .alias("lang"),
            F.when(F.col("_corrupt_record").isNotNull(), F.lit(0))
            .otherwise(F.col("n_chars"))
            .alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_good"),
            F.sum("chars").cast("long").alias("sum_chars"),
        )
    )
    # Materialize while the pruning override is still active (ADVICE
    # r7): the returned DataFrame is LAZY, and the registry wrapper
    # re-pins columnPruning=true before the next query — if a caller
    # executed this plan after that, one-token bad lines would parse as
    # null-lang "good" rows and silently diverge from the oracle.
    # The eager checkpoint (shared_intermediate) runs the CSV parse
    # NOW, under the override, and pins the tiny per-lang aggregate
    # for this query run only.
    return shared_intermediate("scan_csv_corrupt.result", result)


# --------------------------------------------------------------------------
# scan_schema_evolution — mergeSchema read across schema versions (round 8)
# --------------------------------------------------------------------------


@register(
    "scan_schema_evolution",
    tags=("b1",),
    oracle="""
        -- v1 files (doc_id % 2 = 0) predate the n_chars column, so
        -- their rows surface NULL n_chars under the merged schema; the
        -- oracle replays that from the clean table with a CASE.
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_chars,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
                    AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY lang
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: a dataset written in two generations —
    v1 files with (doc_id, lang), v2 files with an ADDED n_chars
    column — read back as ONE table via ``mergeSchema``, old rows
    surfacing NULL for the new column. THE lakehouse append-evolution
    capability (every long-lived table gains columns); the reference's
    positional untyped schema (§1) cannot even express it.

    The generation split is deterministic (``doc_id % 2``), so the
    oracle replays the merged view from the clean table with a CASE.

    Plan/scale: the two generations land in one directory as separate
    files (real evolution: files differ, directory is the table);
    mergeSchema unions footers at PLANNING time — per-file schemas
    reconcile once on the driver, the scan itself stays a plain
    vectorized parquet read (missing columns materialize as nulls in
    the reader, no per-row work, pushdown/pruning unaffected). The
    classification is one hash agg."""
    out = scratch_dir(sf_dir, "docs_schema_evo")
    docs = table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(out + "/gen=1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(out + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/gen=1", out + "/gen=2"
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_with_chars"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars"),
    )


# --------------------------------------------------------------------------
# scan_binary_files — binaryFile datasource ingestion (round 8)
# --------------------------------------------------------------------------

_BIN_MOD = 50  # every 50th document materializes as a standalone blob file


@register(
    "scan_binary_files",
    tags=("b1",),
    oracle=f"""
        -- blob files hold the UTF-8 text of every doc_id % {_BIN_MOD} = 0
        -- document; the oracle replays per-bucket byte accounting from
        -- the clean table (strlen = octet length in DuckDB).
        SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
               CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
        FROM documents WHERE doc_id % {_BIN_MOD} = 0
        GROUP BY 1
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` datasource scan — the ingestion path for raw media
    / model-artifact blobs (images, audio, shards) that have no
    row-oriented format: one file becomes one row of (path, length,
    content binary). This is how the multimodal operators' payloads
    enter a real pipeline; here a deterministic subset of documents
    (doc_id % {_BIN_MOD} = 0) is materialized as standalone UTF-8 blob
    files, scanned back, and byte-accounted per doc_id bucket with ids
    re-derived from filenames (`regexp_extract` on `path`).

    The fixture-synthesis write is a bounded driver-side loop (corpus/
    {_BIN_MOD} tiny files — test plumbing, not the measured path); the
    SCAN is the operator: Spark lists + reads files in parallel tasks,
    and at 100 TB the same reader streams object-store blobs with
    per-file task granularity (plus `pathGlobFilter`/
    `recursiveFileLookup` for layout control). One hash agg after."""
    import os as _os

    out = scratch_dir(sf_dir, "docs_blobs")
    _os.makedirs(out, exist_ok=True)
    docs = table(spark, sf_dir, "documents")
    subset = docs.filter(F.col("doc_id") % _BIN_MOD == 0).select(
        "doc_id", "text"
    )
    for r in subset.collect():  # fixture synthesis only; corpus/50 files
        with open(_os.path.join(out, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    blobs = spark.read.format("binaryFile").load(out)
    doc_id = F.regexp_extract(
        F.col("path"), r"doc_(\d+)\.bin$", 1
    ).cast("long")
    return (
        blobs.select(doc_id.alias("doc_id"), F.col("length"))
        .groupBy((F.col("doc_id") % 4).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").cast("long").alias("sum_bytes"),
            F.max("length").cast("long").alias("max_bytes"),
        )
    )


# --------------------------------------------------------------------------
# scan_nested_json — nested JSON ingestion (structs + array explode) (rd 8)
# --------------------------------------------------------------------------

_NESTED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("value_cents", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "tags",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tag", T.StringType()),
                        T.StructField("ord", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)


@register(
    "scan_nested_json",
    tags=("b1",),
    oracle="""
        -- the nested document is CONSTRUCTED from base columns, so the
        -- oracle re-derives every extracted field directly: the check
        -- proves the engine's to_json → scan → from_json → explode
        -- chain inverts the construction exactly (the fn_url pattern,
        -- applied to nested ingestion). Two tag rows per event: the
        -- full type at ord 1, its initial at ord 2.
        SELECT event_id,
               user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
               event_type AS tag,
               CAST(1 AS BIGINT) AS ord
        FROM events
        UNION ALL
        SELECT event_id,
               user_id,
               CAST(ROUND(value * 100) AS BIGINT),
               substr(event_type, 1, 1),
               CAST(2 AS BIGINT)
        FROM events
    """,
)
def scan_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON ingestion — the document-shaped source `scan_json`'s
    flat schema can't express: structs inside structs plus an ARRAY of
    structs per record, read back with an explicit nested schema and
    flattened with a generator (`explode`) into one row per array
    element. This is the API-payload / log-envelope shape (entity +
    metadata object + repeated tag list) every ingestion layer meets.

    The nested document is built from base columns (`to_json` over
    nested `struct`/`array` constructors), written as JSON lines, and
    re-read through ``_NESTED_SCHEMA`` — so the DuckDB oracle can
    re-derive every extracted field from the base table and the check
    proves the whole round-trip inverts the construction. Money rides
    as integer cents (JSON doubles never cross engines).

    Plan/scale: the explode is a generator INSIDE the scan stage (no
    shuffle — the output is row-parallel with the input); explicit
    schema means no sampling inference pass over 100 TB of JSON, and
    unreferenced nested fields are pruned at the reader
    (``spark.sql.optimizer.nestedSchemaPruning`` is on by default)."""
    out = scratch_dir(sf_dir, "events_nested_json")
    ev = table(spark, sf_dir, "events")
    doc = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.struct(
                    F.col("user_id"),
                    F.round(F.col("value") * 100, 0)
                    .cast("long")
                    .alias("value_cents"),
                ).alias("meta"),
                F.array(
                    F.struct(
                        F.col("event_type").alias("tag"),
                        F.lit(1).cast("long").alias("ord"),
                    ),
                    F.struct(
                        F.substring("event_type", 1, 1).alias("tag"),
                        F.lit(2).cast("long").alias("ord"),
                    ),
                ).alias("tags"),
            )
        ).alias("value")
    )
    doc.write.mode("overwrite").text(out)
    js = spark.read.schema(_NESTED_SCHEMA).json(out)
    t = js.select(
        "event_id",
        F.col("meta.user_id").alias("user_id"),
        F.col("meta.value_cents").alias("value_cents"),
        F.explode("tags").alias("t"),
    )
    return t.select(
        "event_id",
        "user_id",
        "value_cents",
        F.col("t.tag").alias("tag"),
        F.col("t.ord").alias("ord"),
    )


# --------------------------------------------------------------------------
# scan_partition_pruned — static partition pruning on the read path (r8)
# --------------------------------------------------------------------------


@register(
    "scan_partition_pruned",
    tags=("b1",),
    oracle="""
        -- the oracle reads the ORIGINAL table: the engine's partitioned
        -- round-trip + pruned read must be indistinguishable from a
        -- plain filtered scan.
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE lang = 'en'
        GROUP BY source
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC partition pruning — the first thing a 100 TB table layout
    buys: documents land in Hive-style ``lang=<v>/`` partition dirs,
    and a reader filtering on the partition column must touch ONLY the
    matching directory. `sink_partitioned` proves the layout is
    lossless; this op proves the PRUNE — the plan audit asserts the
    scan carries ``PartitionFilters: [... (lang = en)]`` (listing-time
    directory elimination, zero data files opened elsewhere) and that
    `ReadSchema` was pruned to the two referenced columns (`text`,
    the wide column, never leaves the files). `join_dpp` is the
    runtime sibling (filter known only mid-query); this is the
    planning-time one (filter known up front).

    Plan/scale: at 1e12 rows the pruned scan reads |one lang| of the
    corpus and the agg combines map-side — the whole point of
    partition-aware layout. The write happens once per sf_dir into the
    gitignored scratch tree (same lifecycle as the other sink/scan
    round-trip ops)."""
    out = scratch_dir(sf_dir, "docs_by_lang")
    docs = table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------------
# scan_txn_log — transaction-log snapshot reconstruction (round 8)
# --------------------------------------------------------------------------

_TXN_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
    ]
)


@register(
    "scan_txn_log",
    tags=("b1",),
    oracle="""
        -- transaction-log snapshot semantics replayed straight from
        -- the source: the engine materializes a Delta/Iceberg-style
        -- JSON action log (add per month-file; months with idx%4=2
        -- later removed and re-added as a compacted file), reads it
        -- back through the JSON datasource, and folds add/remove by
        -- last-action-wins. The oracle derives the SAME final
        -- snapshot directly from orders — so the serde round-trip
        -- AND the fold must both be right for the hash to match.
        WITH m AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS mo,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY 1
        ),
        idx AS (
            SELECT mo, n_rows,
                   ROW_NUMBER() OVER (ORDER BY mo) - 1 AS i
            FROM m
        )
        SELECT CASE WHEN i % 4 = 2
                    THEN mo || '-compact.parquet'
                    ELSE mo || '.parquet' END AS file,
               n_rows,
               CAST(CASE WHEN i % 4 = 2 THEN 1000 + i ELSE i END
                    AS BIGINT) AS version_added
        FROM idx
    """,
)
def scan_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log table-format semantics end to end: materialize
    a Delta/Iceberg-style JSON action log (one ``add`` per month
    file; every 4th month later ``remove``d and re-``add``ed as a
    compacted file at a higher version — the OPTIMIZE lifecycle),
    read it back through the JSON datasource, and reconstruct the
    live snapshot by LAST-ACTION-WINS per file. This is the core
    read-path contract of every log-structured table format: the
    snapshot is a FOLD over the action log, not a directory listing
    — files on disk that the log has removed must not be served.

    Certification closes the loop from the other side: the oracle
    derives the same final snapshot directly from the orders table,
    so the JSON serde round-trip and the fold must BOTH be correct
    for the hash to match (the `scan_csv` pattern, extended with
    log-fold logic).

    Plan/scale: log derivation is a month-cardinality agg; the fold
    is one file-keyed rank window over the action log — log length,
    not table size; real formats checkpoint exactly because this
    fold is the only unbounded thing about them."""
    out = scratch_dir(sf_dir, "txn_log_json")
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mo"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    idx = m.select(
        "mo",
        "n_rows",
        (F.row_number().over(Window.orderBy("mo")) - 1).alias("i"),
    )
    adds = idx.select(
        F.col("i").cast("long").alias("version"),
        F.lit("add").alias("action"),
        F.concat(F.col("mo"), F.lit(".parquet")).alias("file"),
        "n_rows",
    )
    removes = idx.filter(F.col("i") % 4 == 2).select(
        (1000 + F.col("i")).cast("long").alias("version"),
        F.lit("remove").alias("action"),
        F.concat(F.col("mo"), F.lit(".parquet")).alias("file"),
        F.lit(None).cast("long").alias("n_rows"),
    )
    compacts = idx.filter(F.col("i") % 4 == 2).select(
        (1000 + F.col("i")).cast("long").alias("version"),
        F.lit("add").alias("action"),
        F.concat(F.col("mo"), F.lit("-compact.parquet")).alias("file"),
        "n_rows",
    )
    adds.unionAll(removes).unionAll(compacts).write.mode(
        "overwrite"
    ).json(out)
    log = spark.read.schema(_TXN_SCHEMA).json(out)
    w = Window.partitionBy("file").orderBy(F.desc("version"))
    live = (
        log.select(
            "*", F.row_number().over(w).alias("rk")
        )
        .filter((F.col("rk") == 1) & (F.col("action") == "add"))
    )
    return live.select(
        "file",
        "n_rows",
        F.col("version").cast("long").alias("version_added"),
    )


# --------------------------------------------------------------------------
# scan_mor_deletes — merge-on-read equality deletes (round 8)
# --------------------------------------------------------------------------


@register(
    "scan_mor_deletes",
    tags=("b1",),
    oracle="""
        -- merge-on-read delete semantics replayed from the source:
        -- the engine materializes a base data file AND an equality-
        -- delete file (Iceberg v2's read path: deletes are rows in a
        -- separate file, applied AT READ by anti join — no rewrite of
        -- the base), reads both back, applies the deletes, and
        -- aggregates. The oracle computes the same post-delete
        -- aggregate straight from orders — serde round-trip and the
        -- delete application both certify. The delete set is the
        -- deterministic md5(o_orderkey)%10 = 3 slice.
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_live,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
                    AS DECIMAL(38,6)) AS sum_price
        FROM orders
        WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
              % 10 <> 3
        GROUP BY o_orderstatus
    """,
)
def scan_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE semantics end to end: materialize a base
    data file and a separate EQUALITY-DELETE file (the Iceberg v2
    read path — deletes are rows in their own file, applied AT READ
    TIME by an anti join, so a delete never rewrites the base data),
    read both back through the parquet datasource, apply the deletes,
    and aggregate the surviving rows. Together with `scan_txn_log`
    (which files are live) this covers both halves of a log-
    structured table format's read contract (which ROWS are live).

    The delete set is the deterministic md5(o_orderkey)%10 slice —
    ~10% of orders — so the oracle can compute the same post-delete
    aggregate straight from the source table: the parquet round-trip
    of BOTH files and the anti-join application must all be correct
    for the hash to match.

    Plan/scale: the read-back applies deletes with one key-keyed
    LEFT ANTI hash join — delete-file cardinality, not base
    cardinality, sets the build side (exactly why MoR reads stay
    cheap until compaction); the aggregate combines map-side."""
    base_out = scratch_dir(sf_dir, "mor_base")
    del_out = scratch_dir(sf_dir, "mor_deletes")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").parquet(base_out)
    o.select("o_orderkey").filter(
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 10"
        )
        == 3
    ).write.mode("overwrite").parquet(del_out)
    base = spark.read.parquet(base_out)
    dels = spark.read.parquet(del_out)
    live = base.join(dels, "o_orderkey", "left_anti")
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# scan_csv_multiline — quoted embedded newlines round-trip (round 8)
# --------------------------------------------------------------------------


@register(
    "scan_csv_multiline",
    tags=("b1",),
    oracle="""
        -- CSV with QUOTED EMBEDDED NEWLINES: the oracle computes the
        -- expected aggregate straight from the source table (replace
        -- spaces with newlines -- every body becomes multi-line); the
        -- engine round-trips those bodies through CSV and must
        -- reassemble records across line breaks (multiLine parsing).
        -- A naive line-splitting reader shreds every record and the
        -- checksums diverge -- lossless serde IS the check
        -- (scan_csv's policy, pointed at the classic CSV trap).
        WITH b AS (
            SELECT doc_id, lang,
                   replace(text, ' ', chr(10)) AS body
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(strlen(body)) AS BIGINT) AS sum_chars,
               CAST(SUM(('0x' || substr(md5(body), 1, 8))::BIGINT)
                    AS BIGINT) AS body_checksum
        FROM b GROUP BY lang
    """,
)
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with QUOTED EMBEDDED NEWLINES — the classic CSV trap:
    every document body is rewritten with real newlines (space →
    \\n), round-tripped through CSV, and read back with
    ``multiLine=true`` so the parser must reassemble records across
    line breaks instead of splitting on them. A naive line-oriented
    reader shreds every record; the md5 body checksum (computed by
    the oracle straight from the source table) catches one lost or
    doubled character anywhere. `scan_csv`'s lossless-serde policy,
    pointed at the failure mode that actually bites exported
    free-text columns.

    Plan/scale note — the real cost of multiLine: Spark cannot SPLIT
    a multiLine CSV file (records cross line boundaries, so there is
    no safe split point); each file becomes one task. The write side
    therefore controls parallelism by file count (here: the
    upstream partitioning), which is exactly how production lays out
    multiline exports."""
    docs = table(spark, sf_dir, "documents")
    out = scratch_dir(sf_dir, "docs_multiline_csv")
    body = F.regexp_replace("text", " ", "\n")
    docs.select(
        "doc_id", "lang", body.alias("body")
    ).write.mode("overwrite").option("quoteAll", True).option(
        "escape", '"'
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("body", T.StringType()),
        ]
    )
    csv = spark.read.schema(schema).option("multiLine", True).option(
        "escape", '"'
    ).csv(out)
    return csv.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.octet_length("body")).cast("long").alias("sum_chars"),
        F.sum(
            F.conv(F.substring(F.md5("body"), 1, 8), 16, 10).cast("long")
        )
        .cast("long")
        .alias("body_checksum"),
    )


# --------------------------------------------------------------------------
# scan_txn_time_travel — as-of-version snapshot reads (round 8)
# --------------------------------------------------------------------------

_TT_VERSION = 999  # pre-compaction cut: all original month files live


@register(
    "scan_txn_time_travel",
    tags=("b1",),
    oracle=f"""
        -- TIME TRAVEL over the transaction log: the same action log
        -- scan_txn_log folds, but folded TWICE -- once restricted to
        -- versions <= {_TT_VERSION} (before any compaction) and once
        -- unrestricted (latest). An as-of read is the SAME
        -- last-action-wins fold over a version-filtered log: that one
        -- WHERE clause is the whole feature, which is why
        -- log-structured formats get time travel for free. The
        -- oracle derives both snapshots straight from orders.
        WITH m AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS mo,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY 1
        ),
        idx AS (
            SELECT mo, n_rows,
                   ROW_NUMBER() OVER (ORDER BY mo) - 1 AS i
            FROM m
        )
        SELECT 'v{_TT_VERSION}' AS as_of, mo || '.parquet' AS file,
               n_rows, CAST(i AS BIGINT) AS version_added
        FROM idx
        UNION ALL
        SELECT 'latest',
               CASE WHEN i % 4 = 2 THEN mo || '-compact.parquet'
                    ELSE mo || '.parquet' END,
               n_rows,
               CAST(CASE WHEN i % 4 = 2 THEN 1000 + i ELSE i END AS BIGINT)
        FROM idx
    """,
)
def scan_txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the transaction log — read the table AS OF
    version {v} (before any compaction ran) AND at latest, from ONE
    action log: an as-of read is the same last-action-wins fold
    `scan_txn_log` does, restricted to `version <= V`. That single
    WHERE clause is the entire feature — the reason log-structured
    formats (Delta/Iceberg) get time travel for free while
    path-listing tables can't offer it at all. The two snapshots
    diverge exactly on the compacted files: at v{v} the original
    month files are live; at latest the compactions shadow them.

    Certification: the oracle derives BOTH snapshots straight from
    orders, so the JSON round-trip, the version filter, and the fold
    must all be right (the scan_txn_log closure, doubled).

    Plan/scale: ONE log scan feeds both folds (the filter prunes
    before the rank window); fold cost is log length — real formats
    checkpoint to bound it, and an as-of read folds from the nearest
    checkpoint at or before V."""
    out = scratch_dir(sf_dir, "txn_tt_json")
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mo"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    idx = m.select(
        "mo",
        "n_rows",
        (F.row_number().over(Window.orderBy("mo")) - 1).alias("i"),
    )
    adds = idx.select(
        F.col("i").cast("long").alias("version"),
        F.lit("add").alias("action"),
        F.concat(F.col("mo"), F.lit(".parquet")).alias("file"),
        "n_rows",
    )
    removes = idx.filter(F.col("i") % 4 == 2).select(
        (1000 + F.col("i")).cast("long").alias("version"),
        F.lit("remove").alias("action"),
        F.concat(F.col("mo"), F.lit(".parquet")).alias("file"),
        F.lit(None).cast("long").alias("n_rows"),
    )
    compacts = idx.filter(F.col("i") % 4 == 2).select(
        (1000 + F.col("i")).cast("long").alias("version"),
        F.lit("add").alias("action"),
        F.concat(F.col("mo"), F.lit("-compact.parquet")).alias("file"),
        "n_rows",
    )
    adds.unionAll(removes).unionAll(compacts).write.mode(
        "overwrite"
    ).json(out)
    log = spark.read.schema(_TXN_SCHEMA).json(out)

    def snapshot(df: DataFrame, tag: str) -> DataFrame:
        w = Window.partitionBy("file").orderBy(F.desc("version"))
        return (
            df.select("*", F.row_number().over(w).alias("rk"))
            .filter((F.col("rk") == 1) & (F.col("action") == "add"))
            .select(
                F.lit(tag).alias("as_of"),
                "file",
                "n_rows",
                F.col("version").cast("long").alias("version_added"),
            )
        )

    asof = snapshot(log.filter(F.col("version") <= _TT_VERSION), f"v{_TT_VERSION}")
    latest = snapshot(log, "latest")
    return asof.unionAll(latest)


# --------------------------------------------------------------------------
# sink_dynamic_overwrite — dynamic partition overwrite semantics (round 8)
# --------------------------------------------------------------------------


@register(
    "sink_dynamic_overwrite",
    tags=("b1",),
    oracle="""
        -- Dynamic partition overwrite (INSERT OVERWRITE ...
        -- PARTITION): the batch touches ONLY flag 'R' (written with a
        -- doubled marker column), so after the overwrite the target
        -- must hold the UPDATED R partition and the UNTOUCHED N/A
        -- partitions -- the daily-repartition-refresh write every
        -- warehouse runs, where STATIC overwrite mode would have
        -- silently dropped N and A (the incident this pin exists
        -- for). The oracle derives the expected merged state straight
        -- from lineitem.
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = 'R'
                             THEN CAST(ROUND(l_quantity) AS BIGINT) * 2
                             ELSE CAST(ROUND(l_quantity) AS BIGINT) END)
                    AS BIGINT) AS marker_sum
        FROM lineitem GROUP BY l_returnflag
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the daily partition-refresh
    write: seed a flag-partitioned target from lineitem, then
    overwrite with a batch that touches ONLY the 'R' partition
    (marker column doubled so the refresh is observable). Under
    ``partitionOverwriteMode=dynamic`` the write replaces exactly the
    partitions PRESENT IN THE BATCH; under the default STATIC mode the
    same ``mode("overwrite")`` would have truncated the whole table
    and silently dropped N and A — the classic
    lost-partitions-on-backfill incident, pinned. The read-back per
    partition must show updated R beside untouched N/A, derived by the
    oracle straight from the source.

    Plan/scale: both writes are partitioned sinks (dir-per-flag); the
    dynamic overwrite's commit only touches the partitions the batch
    contains — at 100 TB the refresh rewrites one day's directory,
    never the table. The conf is set per-query; the registry wrapper
    re-pins defaults afterward, and the result is MATERIALIZED before
    return so the override can't leak into lazy execution
    (scan_csv_corrupt's ADVICE-r7 rule)."""
    out = scratch_dir(sf_dir, "lineitem_dyn_overwrite")
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("marker"),
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    # r15 measured rejection (§1.2): parallelizing these writes with a
    # keyed (flag, salt) repartition was consistently ~10% SLOWER at
    # sf0.1 (interleaved min-of-4 A/B: 1.28 vs 1.45 s build) — only 3
    # partition dirs exist, so the serial-writer penalty is small and
    # the added exchange dominates. Kept as the scan-aligned write; at
    # production scale the scan itself has >= cores splits and the
    # write parallelism follows it.
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    batch = li.filter(F.col("l_returnflag") == "R").withColumn(
        "marker", F.col("marker") * 2
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    batch.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("marker").cast("long").alias("marker_sum"),
        )
    )
    # materialize while the dynamic-mode conf is live (the override
    # must not depend on surviving until the caller collects)
    back = shared_intermediate("sink_dynamic_overwrite.back", back)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    return back


# --------------------------------------------------------------------------
# sink_compaction — small-file compaction planner (round 10)
# --------------------------------------------------------------------------

_COMPACT_BUCKETS = 16  # deterministic writer fan-out (doc_id % 16)
_COMPACT_TARGET_ROWS = 25  # target rows per compacted output file


@register(
    "sink_compaction",
    tags=("b1",),
    oracle=f"""
        -- OPTIMIZE bin-packing planner: the writer fans documents
        -- into {_COMPACT_BUCKETS} deterministic small files per lang
        -- partition (bucket = doc_id % {_COMPACT_BUCKETS}); the
        -- planner packs those files (in bucket order) into
        -- ~{_COMPACT_TARGET_ROWS}-row compaction groups via CAPACITY
        -- BUCKETS -- cgroup = preceding cumulative rows // target, so
        -- a file lands wholly in the group its offset starts in
        -- (files never split; a group may overshoot by < max file,
        -- the multimodal_batch_plan bound). The oracle derives the
        -- expected manifest straight from documents because the file
        -- composition is a closed-form function of the data.
        WITH f AS (
            SELECT lang, doc_id % {_COMPACT_BUCKETS} AS bucket,
                   COUNT(*) AS n_rows
            FROM documents GROUP BY lang, doc_id % {_COMPACT_BUCKETS}
        ),
        packed AS (
            SELECT lang, bucket, n_rows,
                   COALESCE(SUM(n_rows) OVER (
                       PARTITION BY lang ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {_COMPACT_TARGET_ROWS} AS cgroup
            FROM f
        )
        SELECT lang,
               CAST(cgroup AS BIGINT) AS cgroup,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               CAST(MAX(n_rows) AS BIGINT) AS max_file_rows
        FROM packed GROUP BY lang, cgroup
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (OPTIMIZE bin-packing) — the
    write-path maintenance op beside ``scan_txn_log`` /
    ``scan_mor_deletes`` (VERDICT r9 item 8): a streaming/partitioned
    writer leaves many small files per partition; the planner reads
    the REAL on-disk layout back and emits the compaction manifest —
    which files merge into which ~target-size output file — that a
    maintenance job would execute. Grouping is the capacity-bucket
    form of greedy first-fit (``multimodal_batch_plan``'s pattern):
    files pack in bucket order, cgroup = preceding cumulative rows
    div target, so files never split and every group overshoots by
    less than one file.

    The writer fan-out is DETERMINISTIC (bucket = doc_id % 16, one
    task per (lang, bucket) via repartition), so the file
    composition — and therefore the whole manifest — is a closed-form
    function of the data the DuckDB oracle derives from `documents`
    directly; the Spark side still round-trips the actual filesystem
    (write → read-back → `_metadata.file_path` stats), so a writer
    that split or merged files differently would surface as a driver
    hash mismatch, not pass silently.

    Plan/scale: the planner input is FILE-cardinality (one row per
    file after the per-file rollup), a ~10⁶-row frame at 100 TB —
    the packing window is per-partition (lang) over that manifest,
    never over row-cardinality data; the write itself is the standard
    partitioned sink. Row counts, not byte sizes, are the packing
    weight so the plan is engine- and compression-independent."""
    out = scratch_dir(sf_dir, "docs_compact_src")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % _COMPACT_BUCKETS).alias("bucket"),
    )
    # r15 (§2.4/§6): explicit partition count — without it AQE
    # coalesces the tiny keyed shuffle to one task that writes all
    # ~80 (lang, bucket) dirs serially (measured 6.9 → 3.0 s). Each
    # key still lands wholly in one task, preserving the
    # one-file-per-bucket contract the manifest (and the packing
    # test) depends on.
    docs.repartition(
        spark.sparkContext.defaultParallelism, "lang", "bucket"
    ).write.mode("overwrite").partitionBy("lang", "bucket").parquet(out)
    back = spark.read.parquet(out).select(
        "lang", "bucket", F.col("_metadata.file_path").alias("fp")
    )
    f = back.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("fp").alias("files_in_bucket"),
    )
    packed = f.select(
        "lang",
        "n_rows",
        "files_in_bucket",
        F.expr(
            f"CAST(coalesce(sum(n_rows) OVER (PARTITION BY lang ORDER BY"
            f" bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            f" div {_COMPACT_TARGET_ROWS} AS BIGINT)"
        ).alias("cgroup"),
    )
    return packed.groupBy("lang", "cgroup").agg(
        # n_files counts REAL files on disk (read-back metadata); it
        # equals the bucket count only because the repartition pins one
        # task -- and so one file -- per (lang, bucket). A writer that
        # split differently would mismatch the oracle here.
        F.sum("files_in_bucket").cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.max("n_rows").cast("long").alias("max_file_rows"),
    )


# --------------------------------------------------------------------------
# scan_mor_positional — merge-on-read POSITION deletes (round 13)
# --------------------------------------------------------------------------


@register(
    "scan_mor_positional",
    tags=("b1",),
    oracle="""
        -- Iceberg-v2 POSITION-delete read path replayed from source:
        -- the engine writes orders into one data file per bucket
        -- (bucket = md5(o_orderkey) % 4, rows sorted by o_orderkey
        -- inside each file) plus a separate position-delete file
        -- holding (bucket, pos) row ordinals (every 7th ordinal
        -- starting at 2), reads both back, drops the deleted ordinals
        -- via the file row_index, and aggregates the survivors. The
        -- oracle reconstructs the SAME ordinals arithmetically: pos =
        -- rank of o_orderkey within its bucket - 1, so the parquet
        -- round-trip, the writer's in-file order, Spark's
        -- _metadata.row_index, and the anti-join application must all
        -- agree for the hash to match.
        WITH pos AS (
            SELECT o_orderstatus, o_totalprice,
                   ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                       % 4 AS bucket,
                   ROW_NUMBER() OVER (
                       PARTITION BY
                           ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
                               ::BIGINT % 4
                       ORDER BY o_orderkey) - 1 AS pos
            FROM orders
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_live,
               CAST(SUM(CASE WHEN pos % 7 = 2 THEN 0 ELSE 1 END) = COUNT(*)
                    AS BOOLEAN) AS all_live_kept,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
                    AS DECIMAL(38,6)) AS sum_price
        FROM pos
        WHERE pos % 7 <> 2
        GROUP BY bucket
    """,
)
def scan_mor_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read POSITION-delete semantics end to end — the other
    half of the Iceberg-v2 delete-file contract beside
    `scan_mor_deletes`' equality deletes: a position-delete file names
    (data_file, row_ordinal) pairs, and the reader drops exactly those
    physical row positions at read time, no base rewrite.

    Write path: orders land in ONE data file per bucket
    (md5(o_orderkey)%4), rows sorted by o_orderkey inside the file —
    `repartition("bucket")` pins each bucket to one task and
    `sortWithinPartitions("bucket", ...)` leaves the writer's required
    partition-column ordering already satisfied, so no writer-inserted
    (unstable) re-sort can scramble the in-file order the ordinals
    depend on. The delete file is generated arithmetically (ordinals
    2, 9, 16, ... per bucket), NOT by re-scanning the base — exactly
    how an Iceberg writer emits position deletes from positions it
    already knows.

    Read path: the base scan projects `_metadata.row_index` (Spark's
    per-file physical row ordinal — correct across row groups and
    split boundaries) and applies the deletes with ONE (bucket, pos)
    LEFT ANTI hash join. Delete-file cardinality, not base
    cardinality, sets the build side, which is why MoR position
    deletes stay cheap at 100 TB until compaction; the survivor
    aggregate combines map-side. `all_live_kept` re-asserts inside the
    result that no deleted ordinal survived the join.
    """
    base_out = scratch_dir(sf_dir, "mor_pos_base")
    del_out = scratch_dir(sf_dir, "mor_pos_deletes")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.withColumn(
        "bucket",
        F.expr(
            "CAST(CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 4 AS INT)"
        ),
    )
    _write_one_file_per_bucket(spark, base, base_out, "o_orderkey")
    # position-delete file: every 7th in-file ordinal starting at 2,
    # bounded by each file's row count (4 count rows -> tiny explode)
    (
        base.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.explode(
                F.when(
                    F.col("n") > 2,
                    F.sequence(F.lit(2).cast("long"), F.col("n") - 1, F.lit(7).cast("long")),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("pos"),
        )
        .write.mode("overwrite")
        .parquet(del_out)
    )
    b = spark.read.parquet(base_out).select(
        "o_orderstatus",
        "o_totalprice",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("_metadata.row_index").alias("pos"),
    )
    d = spark.read.parquet(del_out)
    live = b.join(d, ["bucket", "pos"], "left_anti")
    return live.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        (F.sum((F.col("pos") % 7 == 2).cast("int")) == 0).alias(
            "all_live_kept"
        ),
        dsum("o_totalprice").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# scan_delete_vector — Delta-style deletion-vector read path (round 14)
# --------------------------------------------------------------------------

# scattered-but-deterministic delete rule: Knuth multiplicative hash of
# the ordinal, mod 11 (~9% of rows deleted, no periodic stripe a plain
# pos % k rule would create)
_DV_MULT = 2654435761
_DV_MOD = 11
_DV_PICK = 3


@register(
    "scan_delete_vector",
    tags=("b1",),
    oracle=f"""
        -- Delta-Lake-style DELETION VECTOR read path replayed from
        -- source: the engine writes orders into one data file per
        -- bucket (bucket = md5(o_orderkey) % 4, rows sorted by
        -- o_orderkey in-file), builds a per-bucket BITMAP over row
        -- ordinals (32-bit words packed into BIGINTs, ordinal p ->
        -- word p//32 bit p%32) marking p deleted when
        -- (p * {_DV_MULT}) % {_DV_MOD} = {_DV_PICK}, then reads the
        -- base back and drops rows by PROBING the bitmap (no
        -- anti-join). The oracle reconstructs the same ordinals
        -- arithmetically (rank within bucket), so the parquet
        -- round-trip, the writer's in-file order, the bitmap
        -- encode/probe, and _metadata.row_index must all agree for
        -- the hash to match.
        WITH pos AS (
            SELECT o_orderstatus, o_totalprice,
                   ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                       % 4 AS bucket,
                   ROW_NUMBER() OVER (
                       PARTITION BY
                           ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
                               ::BIGINT % 4
                       ORDER BY o_orderkey) - 1 AS pos
            FROM orders
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(SUM(CASE WHEN (pos * {_DV_MULT}) % {_DV_MOD}
                                  = {_DV_PICK} THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_live,
               CAST(SUM(CASE WHEN (pos * {_DV_MULT}) % {_DV_MOD}
                                  = {_DV_PICK} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deleted,
               -- trivially TRUE here; on the Spark side this is
               -- bit_count(words) == rows-the-probe-dropped, so a
               -- broken encode or probe flips it and the hash diverges
               CAST(TRUE AS BOOLEAN) AS popcount_ok,
               CAST(SUM(CASE WHEN (pos * {_DV_MULT}) % {_DV_MOD}
                                  = {_DV_PICK}
                             THEN CAST(0 AS DECIMAL(20,6))
                             ELSE CAST(o_totalprice AS DECIMAL(20,6)) END)
                    AS DECIMAL(38,6)) AS sum_price
        FROM pos
        GROUP BY bucket
    """,
)
def scan_delete_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector merge-on-read — the THIRD delete-file contract
    beside `scan_mor_deletes` (equality deletes) and
    `scan_mor_positional` (position-delete lists): Delta Lake and
    Iceberg v3 store deleted ROW ORDINALS as a compressed BITMAP per
    data file, and the reader drops rows by an O(1) bitmap probe —
    no anti-join at all. Here the vector is 32-bit words packed into
    an array<long> (one DV row per bucket; 32-bit packing keeps every
    word positive, sidestepping BIGINT sign-bit divergence between
    engines), the base scan projects `_metadata.row_index`, a
    BROADCAST join ships the 4-row DV table, and liveness is
    `(words[p div 32] >> (p % 32)) & 1 = 0` inside whole-stage
    codegen.

    Why a third path matters at 100 TB: equality deletes shuffle a
    join key, position-delete LISTS build a hash table sized by the
    delete count — a deletion VECTOR is constant-size per file
    (bits/row), probes in O(1) per row with zero shuffle, and
    compacts lazily; it is what both public formats converged on for
    high-churn tables. popcount_ok re-asserts bit_count(words) ==
    the arithmetic delete count per bucket, certifying the encode
    (the survivor hash certifies the probe).

    The DV is BUILT from ordinal arithmetic the writer already knows
    ((p*{m}) % {md} = {pk} — a Knuth multiplicative scatter, not a
    periodic stripe), written as parquet, and read back — the full
    container round-trip, like the other two MoR ops.

    Ref parity: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-1."""
    base_out = scratch_dir(sf_dir, "dv_base")
    dv_out = scratch_dir(sf_dir, "dv_words")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.withColumn(
        "bucket",
        F.expr(
            "CAST(CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 4 AS INT)"
        ),
    )
    _write_one_file_per_bucket(spark, base, base_out, "o_orderkey")
    # Build the deletion vector from per-bucket row counts (the writer
    # knows ordinals; nothing re-scans the base): deleted ordinals ->
    # (word, bit) -> packed 32-bit words -> DENSE word array (empty
    # words materialize as 0 so the probe can index positionally).
    counts = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    words = (
        counts.select(
            "bucket",
            "n",
            F.explode(
                F.expr("sequence(CAST(0 AS BIGINT), n - 1)")
            ).alias("pos"),
        )
        .filter(
            F.expr(f"(pos * {_DV_MULT}) % {_DV_MOD} = {_DV_PICK}")
        )
        .select(
            "bucket",
            F.expr("pos div 32").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
            ).alias("v"),
        )
        .groupBy("bucket", "word")
        .agg(F.sum("v").alias("w32"))  # bits unique per word: sum == or
    )
    dv = (
        words.groupBy("bucket")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "w32"))
            ).alias("m")
        )
        .join(counts, "bucket")
        .select(
            "bucket",
            F.expr(
                "transform(sequence(CAST(0 AS BIGINT),"
                " (n + 31) div 32 - 1),"
                " wi -> coalesce(element_at(m, wi), CAST(0 AS BIGINT)))"
            ).alias("words"),
        )
    )
    dv.write.mode("overwrite").parquet(dv_out)

    b = spark.read.parquet(base_out).select(
        "o_orderstatus",
        "o_totalprice",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("_metadata.row_index").alias("pos"),
    )
    d = spark.read.parquet(dv_out).withColumn(
        "dv_popcount",
        F.expr(
            "aggregate(transform(words, w -> bit_count(w)),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ),
    )
    probed = b.join(F.broadcast(d), "bucket").withColumn(
        "deleted",
        F.expr(
            "(shiftright(element_at(words,"
            " CAST(pos div 32 AS INT) + 1),"
            " CAST(pos % 32 AS INT)) & 1) = 1"
        ),
    )
    return probed.groupBy("bucket").agg(
        F.sum((~F.col("deleted")).cast("long")).cast("long").alias("n_live"),
        F.max("dv_popcount").cast("long").alias("n_deleted"),
        # encode+probe cross-check: the bitmap's popcount must equal
        # the number of rows the probe actually dropped
        (
            F.max("dv_popcount") == F.sum(F.col("deleted").cast("long"))
        ).alias("popcount_ok"),
        dsum(
            F.when(F.col("deleted"), F.lit(0.0)).otherwise(
                F.col("o_totalprice")
            )
        ).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# scan_incremental_read — dataChange-flagged incremental consume (round 14)
# --------------------------------------------------------------------------

_INC_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("data_change", T.BooleanType()),
    ]
)

# deterministic "late-arriving rows" slice: md5(o_orderkey) % 7 == 0
_INC_LATE = (
    "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10)"
    " AS BIGINT) % 7 = 0"
)


@register(
    "scan_incremental_read",
    tags=("b1",),
    oracle="""
        -- Incremental (CDC-lite) snapshot-diff read: the engine
        -- materializes a versioned action log over a partitioned
        -- table (base adds; late-arriving appends for every 3rd
        -- month; OPTIMIZE rewrites for every 4th month flagged
        -- data_change=false, Delta's dataChange contract), then
        -- consumes the window (v_base, v_head] -- reading ONLY the
        -- files whose add action is a real data change and still
        -- live at v_head. A naive reader that ignores the flag
        -- re-reads every compacted base file and double-counts; the
        -- oracle derives the true increment straight from orders
        -- (late slice x every-3rd-month), so the log fold, the flag
        -- filter, and the pruned multi-dir read must all be right.
        WITH months AS (
            SELECT mo, ROW_NUMBER() OVER (ORDER BY mo) - 1 AS i
            FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mo
                  FROM orders)
        ),
        late AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS mo, o_totalprice
            FROM orders
            WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                  % 7 = 0
        )
        SELECT l.mo,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
                    AS DECIMAL(38,6)) AS sum_price
        FROM late l JOIN months m ON l.mo = m.mo
        WHERE m.i % 3 = 0
        GROUP BY l.mo
    """,
)
def scan_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption of a log-structured table between two
    snapshots — the Delta change-feed / Iceberg incremental-scan
    contract: add actions carry a ``dataChange`` flag, OPTIMIZE
    rewrites are flagged false, and an incremental reader consuming
    the version window (v_base, v_head] reads exactly the
    added-and-still-live files whose add WAS a data change. The trap
    this certifies: compaction rewrites the same rows into new files,
    so a reader that diffs file lists without the flag double-counts
    every compacted partition — the flag is what makes "new files"
    mean "new data".

    Timeline materialized here (orders, month-partitioned):
    base add per month at v=i (late slice withheld); late-arriving
    appends for every 3rd month at v=200+i (data_change=true);
    OPTIMIZE of every 4th month's base — remove at v=1000+i, re-add
    at v=2000+i (data_change=false). v_base = last base version, so the window
    holds exactly the late appends + the compactions; the increment
    is the late slice of every 3rd month.

    Plan/scale: the log fold is one file-keyed rank window over the
    action log (log-length, not table-sized); the resulting file list
    is a log-cardinality collect (sanctioned — it parameterizes the
    scan, exactly what a table format's planning phase does); the data
    read then touches ONLY the incremental partition dirs via
    basePath-anchored pruning, so read volume is the increment's, not
    the table's. At 100 TB the increment is whatever the window added
    — independent of total table size, which is the entire point of
    incremental reads."""
    out = scratch_dir(sf_dir, "inc_table")
    log_out = scratch_dir(sf_dir, "inc_log_json")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("mo"),
        F.expr(_INC_LATE).alias("late"),
    )
    # r14 (guide §6): cluster by the partition keys before the
    # partitioned write — without it every scan task appends to every
    # (mo, late) dir (up to tasks x dirs tiny files; Iceberg's
    # write.distribution-mode=hash is this exact shuffle). One file
    # per partition dir, same rows, ~2x faster fixture write.
    # r15 (§2.4/§6): EXPLICIT partition count — the keyed form lets AQE
    # coalesce the tiny shuffle to ONE task that then writes all ~154
    # partition dirs serially (profiled: the dominant cost of this
    # query's 12 s build). An explicit N is exempt from AQE coalescing;
    # each (mo, late) key still lands wholly in one task, so the
    # one-file-per-dir layout the log describes is unchanged.
    o.repartition(
        spark.sparkContext.defaultParallelism, "mo", "late"
    ).write.mode("overwrite").partitionBy("mo", "late").parquet(out)

    months = (
        o.select("mo")
        .distinct()
        .select(
            "mo", (F.row_number().over(Window.orderBy("mo")) - 1).alias("i")
        )
    )
    base_adds = months.select(
        F.col("i").cast("long").alias("version"),
        F.lit("add").alias("action"),
        F.concat(F.lit("mo="), "mo", F.lit("/late=false")).alias("file"),
        F.lit(True).alias("data_change"),
    )
    late_adds = months.filter(F.col("i") % 3 == 0).select(
        (200 + F.col("i")).cast("long").alias("version"),
        F.lit("add").alias("action"),
        F.concat(F.lit("mo="), "mo", F.lit("/late=true")).alias("file"),
        F.lit(True).alias("data_change"),
    )
    compact_removes = months.filter(F.col("i") % 4 == 2).select(
        (1000 + F.col("i")).cast("long").alias("version"),
        F.lit("remove").alias("action"),
        F.concat(F.lit("mo="), "mo", F.lit("/late=false")).alias("file"),
        F.lit(False).alias("data_change"),
    )
    # the rewrite's add sorts strictly AFTER its remove (2000+i vs
    # 1000+i) so last-action-wins is unambiguous: the file is live
    # post-OPTIMIZE, just not a data change
    compact_readds = compact_removes.select(
        (F.col("version") + 1000).alias("version"),
        F.lit("add").alias("action"),
        "file",
        F.lit(False).alias("data_change"),
    )
    base_adds.unionAll(late_adds).unionAll(compact_removes).unionAll(
        compact_readds
    ).write.mode("overwrite").json(log_out)

    log = spark.read.schema(_INC_SCHEMA).json(log_out)
    # v_base as a broadcast scalar (no collect needed for the bound)
    v_base = log.filter(F.col("version") < 200).agg(
        F.max("version").alias("v_base")
    )
    windowed = log.crossJoin(F.broadcast(v_base)).filter(
        F.col("version") > F.col("v_base")
    )
    w = Window.partitionBy("file").orderBy(F.desc("version"))
    inc_files = (
        windowed.select("*", F.row_number().over(w).alias("rk"))
        .filter(
            (F.col("rk") == 1)
            & (F.col("action") == "add")
            & F.col("data_change")
        )
        .select("file")
    )
    # log-cardinality collect: parameterizes the pruned scan (the
    # planning phase of every table format does exactly this)
    paths = [f"{out}/{r.file}" for r in inc_files.collect()]
    inc = spark.read.option("basePath", out).parquet(*paths)
    return inc.groupBy("mo").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# scan_python_datasource — PySpark 4 custom Python data source (round 14)
# --------------------------------------------------------------------------

# Deterministic generator parameters, shared by source and oracle:
# N rows across P splits, val = (id * A) % M (Knuth multiplier, prime
# modulus — every product < 2^63).
_PYDS_N = 200_000
_PYDS_P = 8
_PYDS_A = 2_654_435_761
_PYDS_M = 1_000_003


def _pyds_source():
    """Build the DataSource class lazily (pyspark.sql.datasource
    import stays off the module import path)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangeHashReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(_PYDS_P)]

        def read(self, partition):
            # Arrow-batch emission (the fast path the API exists
            # for): one vectorized RecordBatch per split, zero
            # per-row Python.
            import numpy as np
            import pyarrow as pa

            ids = np.arange(partition.value, _PYDS_N, _PYDS_P, dtype=np.int64)
            val = (ids * _PYDS_A) % _PYDS_M
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(ids % 16, pa.int64()),
                    pa.array(val, pa.int64()),
                ],
                names=["id", "bucket", "val"],
            )

    class RangeHashSource(DataSource):
        @classmethod
        def name(cls):
            return "range_hash"

        def schema(self):
            return "id BIGINT, bucket BIGINT, val BIGINT"

        def reader(self, schema):
            return RangeHashReader()

    return RangeHashSource


@register(
    "scan_python_datasource",
    tags=("b1",),
    oracle=f"""
        -- Custom PYTHON DATA SOURCE (PySpark 4 DataSource API): the
        -- engine registers a user-defined source that emits one
        -- vectorized Arrow RecordBatch per input split and reads it
        -- through spark.read.format(...), proving the full connector
        -- contract (name/schema/partitions/read) end to end. The
        -- oracle replays the deterministic generator arithmetically,
        -- so split coverage must be exact -- a dropped or doubled
        -- split shifts every bucket's count and sum.
        SELECT CAST(id % 16 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((id * {_PYDS_A}) % {_PYDS_M}) AS BIGINT) AS sum_val,
               CAST(MIN((id * {_PYDS_A}) % {_PYDS_M}) AS BIGINT) AS min_val,
               CAST(MAX((id * {_PYDS_A}) % {_PYDS_M}) AS BIGINT) AS max_val
        FROM range(0, {_PYDS_N}) t(id)
        GROUP BY 1
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined Python data source — the PySpark 4 DataSource API
    (SPIP: python data source, public Spark 4.x surface): register a
    source class, declare its schema, split it into 8 input
    partitions, and emit each split as ONE vectorized Arrow
    RecordBatch (no per-row Python — the Arrow path is why the API
    is usable at scale), then read it back with
    ``spark.read.format("range_hash")`` and aggregate. This is the
    connector story for sources Spark has no built-in reader for
    (internal services, proprietary formats): the split list is the
    parallelism contract, the Arrow batch is the transfer contract.

    Exactness: rows are a pure integer function of the id range
    ((id*A) % M, Knuth multiplier / prime modulus, products < 2^63),
    so the oracle replays the generator arithmetically — a dropped,
    doubled, or misassigned split shifts counts and sums in some
    bucket and the hash catches it.

    Plan/scale: the source reads split-parallel (8 here; a real
    deployment returns as many InputPartitions as the backend
    shards); downstream is one map-side-combined 16-group rollup.
    The Python worker cost is one Arrow batch per split — the same
    batch-transfer shape as mapInArrow."""
    try:
        spark.dataSource.register(_pyds_source())
    except Exception:
        pass  # already registered in this session
    df = spark.read.format("range_hash").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("val").cast("long").alias("min_val"),
        F.max("val").cast("long").alias("max_val"),
    )


# --------------------------------------------------------------------------
# sink_exactly_once — manifest-committed idempotent sink (round 14)
# --------------------------------------------------------------------------


@register(
    "sink_exactly_once",
    tags=("b1",),
    oracle="""
        -- Exactly-once sink semantics under retry: the engine writes
        -- the SAME batch twice into attempt-tagged directories (a
        -- driver retry after a failure mid-commit -- both attempts'
        -- files exist on disk), then commits a manifest naming only
        -- the winning attempt's files; the read path serves the
        -- MANIFEST, not the directory listing. The oracle computes
        -- the batch straight from events single-counted, so a reader
        -- that lists the directory (and double-counts every row) or
        -- a manifest that leaked attempt-1 files both break the
        -- hash. This is the commit-protocol half of the sink family
        -- (sink_partitioned/sink_dynamic_overwrite cover layout;
        -- this covers atomicity under retry).
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events
        GROUP BY event_type
    """,
)
def sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once batch sink via manifest commit — the protocol
    behind every transactional writer (Delta commit files, Iceberg
    snapshots, Spark's own v2 commit coordinators): task/job attempts
    write to attempt-tagged locations, and COMMIT is the atomic
    publication of a manifest naming the winning attempt's files.
    Retries are then idempotent by construction: a zombie attempt's
    files sit on disk but are never served, because readers resolve
    the manifest, never the directory listing.

    Materialized here: the same batch written twice (attempt 1 = the
    failed-and-retried job, attempt 2 = the winner), a JSON manifest
    naming only attempt 2's files, and a manifest-driven read-back
    aggregated per event type. The oracle computes the batch
    single-counted from the source, so BOTH failure modes break the
    hash: a directory-listing reader double-counts; a manifest that
    leaked attempt-1 files double-counts.

    Plan/scale: each attempt is one linear partitioned write; the
    manifest is file-cardinality (written and collected as data — the
    planning-phase collect every table format performs); the
    read-back scans only manifest files. At 100 TB the retry cost is
    the rewrite itself — the commit stays a file-list swap, which is
    why production formats can retry cheaply."""
    out = scratch_dir(sf_dir, "eo_sink")
    manifest_out = scratch_dir(sf_dir, "eo_manifest")
    batch = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    for attempt in (1, 2):
        batch.write.mode("overwrite").parquet(f"{out}/attempt={attempt}")
    committed = spark.read.parquet(f"{out}/attempt=2")
    from nchu_bigdata_spark.io import local_rows

    local_rows(
        spark, [(f,) for f in committed.inputFiles()], "path STRING"
    ).coalesce(1).write.mode("overwrite").json(manifest_out)

    manifest = spark.read.schema("path STRING").json(manifest_out)
    paths = [r.path for r in manifest.collect()]  # file-cardinality
    served = spark.read.parquet(*paths)
    return served.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
