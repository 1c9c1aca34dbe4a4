"""B-7 Scalar function library (SURVEY.md §2.B-7).

One composite query per function family, pinned to forms whose semantics
agree between Spark and DuckDB (regex dialect, day-of-week numbering,
natural log, decimal rounding — see per-query notes). All expressions
are built-in ``pyspark.sql.functions`` — JVM-side, inside whole-stage
codegen; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dround
from nchu_bigdata_spark.io import table
from nchu_bigdata_spark.registry import register, register_sql


@register(
    "fn_string",
    tags=("b7",),
    oracle="""
        SELECT doc_id,
               upper(lang) AS lang_uc,
               substring(text, 1, 20) AS head,
               CAST(length(text) AS BIGINT) AS n_len,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               regexp_extract(text, '([a-z]+)', 1) AS first_word,
               concat_ws('|', lang, source) AS tag,
               trim('  ' || lang || '  ') AS trimmed
        FROM documents
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/substring/length/split/regexp_extract/
    concat_ws/trim (ref A12's concat-formatting sink,
    ``src/Kmeans.java:130-131``, generalized)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_uc"),
        F.substring("text", 1, 20).alias("head"),
        F.length("text").cast("long").alias("n_len"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.concat_ws("|", "lang", "source").alias("tag"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("trimmed"),
    )


@register(
    "fn_date",
    tags=("b7",),
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS od,
               CAST(year(o_orderdate) AS INT) AS y,
               CAST(month(o_orderdate) AS INT) AS m,
               CAST(isodow(o_orderdate) AS INT) AS dow_iso,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m
        FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family (ref §1: `yyyy/MM/dd` date strings upgraded to real
    DATEs). Day-of-week pinned to ISO numbering (Mon=1): Spark's
    ``dayofweek`` is Sun=1, DuckDB's ``dayofweek`` is Sun=0 — both
    remapped to ``isodow``."""
    o = table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        od.alias("od"),
        F.year(od).cast("int").alias("y"),
        F.month(od).cast("int").alias("m"),
        (((F.dayofweek(od) + 5) % 7) + 1).cast("int").alias("dow_iso"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), od).cast("int").alias(
            "days_to_2002"
        ),
        F.add_months(od, 3).alias("plus3m"),
    )


@register(
    "fn_math",
    tags=("b7",),
    oracle="""
        SELECT p_partkey,
               abs(p_size - 25) AS size_dev,
               CAST(p_size % 7 AS INT) AS size_mod,
               CAST(ROUND(sqrt(p_retailprice), 6) AS DECIMAL(18,6)) AS price_sqrt,
               CAST(ROUND(ln(p_retailprice + 1), 6) AS DECIMAL(18,6)) AS price_ln,
               CAST(ROUND(pow(CAST(p_size AS DOUBLE), 2), 6) AS DECIMAL(18,6)) AS size_sq,
               CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
               CAST(floor(p_retailprice) AS BIGINT) AS price_floor
        FROM part
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: abs/pow (ref A6, ``src/Kmeans.java:67-69``), sqrt,
    natural log, ceil/floor, modulo."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
        dround(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        dround(F.log(F.col("p_retailprice") + 1), 6).alias("price_ln"),
        dround(F.pow(F.col("p_size").cast("double"), 2), 6).alias("size_sq"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
    )


@register(
    "fn_array",
    tags=("b7", "b10"),
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               CAST(ROUND(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)
                    AS DECIMAL(18,4)) AS sq_norm,
               CAST(ROUND(list_sum(list_transform(embedding[1:8],
                        x -> abs(CAST(x AS DOUBLE)))), 4)
                    AS DECIMAL(18,4)) AS head_l1,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
        FROM embeddings
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order family: transform/filter/aggregate/slice — the
    vector kernel of the reference's distance loop (ref A6,
    ``src/Kmeans.java:66-70``) expressed with higher-order functions."""
    e = table(spark, sf_dir, "embeddings")
    as_dbl = F.transform("embedding", lambda x: x.cast("double"))
    sq_norm = F.aggregate(
        as_dbl, F.lit(0.0), lambda acc, x: acc + x * x
    )
    head_l1 = F.aggregate(
        F.slice(as_dbl, 1, 8), F.lit(0.0), lambda acc, x: acc + F.abs(x)
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        dround(sq_norm, 4).alias("sq_norm"),
        dround(head_l1, 4).alias("head_l1"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_pos"),
    )


@register(
    "fn_map",
    tags=("b7",),
    oracle="""
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS len_from_map,
               ARRAY_TO_STRING(list_sort(map_keys(MAP {'len': n_chars, 'docid': doc_id})), ',') AS keys_sorted
        FROM documents
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: construct, element_at, map_keys. Maps never appear
    raw in output (entry order is engine-dependent); only lookups and
    sorted key lists, serialized to a ``,``-joined string (array output
    crashes the driver's pandas canonicalizer, see compat.py)."""
    d = table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("len"), F.col("n_chars"), F.lit("docid"), F.col("doc_id")
    )
    return d.select(
        "doc_id",
        F.element_at(m, "len").alias("len_from_map"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
    )


@register(
    "fn_json",
    tags=("b7",),
    oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INT) AS k,
               CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod
        FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over ``events.props`` (JSON strings): schema-directed
    from_json + path extraction."""
    ev = table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        (parsed.getField("k") % 10).alias("k_mod"),
    )


@register(
    "fn_bitwise",
    tags=("b7",),
    oracle="""
        SELECT l_returnflag,
               CAST(BIT_AND(l_orderkey) AS BIGINT) AS all_and,
               CAST(BIT_OR(l_orderkey) AS BIGINT) AS any_or,
               CAST(BIT_XOR(l_orderkey) AS BIGINT) AS parity_xor,
               CAST(SUM(
                   CAST((l_orderkey >> 3) & 7 AS BIGINT)
                   + CAST((l_linenumber << 2) | 1 AS BIGINT)
               ) AS BIGINT) AS scalar_mix
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family (B-7 completeness): the three bitwise
    AGGREGATES (bit_and / bit_or / bit_xor — the flag-mask rollup and
    parity-check idioms) plus scalar shifts and masks. Everything is
    exact int64 arithmetic, bit-identical by construction.

    Plan: one partial+final hash agg; the scalar expression folds into
    whole-stage codegen before the partials."""
    li = table(spark, sf_dir, "lineitem")
    mix = (
        F.shiftright("l_orderkey", 3).cast("long").bitwiseAND(F.lit(7))
        + F.shiftleft("l_linenumber", 2).cast("long").bitwiseOR(F.lit(1))
    )
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_orderkey").alias("all_and"),
        F.bit_or("l_orderkey").alias("any_or"),
        F.bit_xor("l_orderkey").alias("parity_xor"),
        F.sum(mix).cast("long").alias("scalar_mix"),
    )


@register(
    "fn_url",
    tags=("b7",),
    oracle="""
        -- The oracle never parses: it re-derives every component from
        -- the same base columns the URL was constructed from, so the
        -- differential proves Spark's parse_url() exactly inverts the
        -- construction (DuckDB has no parse_url; string re-derivation
        -- is the engine-portable statement of the expected value).
        SELECT doc_id,
               'https://' || source || '.example.com/' || lang || '/'
                   || CAST(doc_id AS VARCHAR) || '?q='
                   || CAST(n_chars AS VARCHAR) || '&p='
                   || CAST(doc_id % 7 AS VARCHAR) AS url,
               'https' AS proto,
               source || '.example.com' AS host,
               '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
               'q=' || CAST(n_chars AS VARCHAR) || '&p='
                   || CAST(doc_id % 7 AS VARCHAR) AS query_string,
               CAST(n_chars AS VARCHAR) AS q_param,
               CAST(doc_id % 7 AS VARCHAR) AS p_param,
               'example.com' AS reg_domain
        FROM documents
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family: build a synthetic but well-formed URL per document,
    then take it apart with ``parse_url`` (PROTOCOL / HOST / PATH /
    QUERY / per-key query param) plus a registrable-domain extraction
    via ``substring_index`` — the web-crawl normalization toolkit
    (host-level dedup keys, domain-balanced sampling, tracker-param
    stripping) over the documents table.

    All JVM-side codegen expressions, zero shuffle; the oracle
    re-derives each component from the base columns, so the check
    proves parse_url inverts the construction exactly."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        F.col("n_chars").cast("string"),
        F.lit("&p="),
        (F.col("doc_id") % 7).cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query_string"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("p")).alias("p_param"),
        F.substring_index(
            F.parse_url("url", F.lit("HOST")), ".", -2
        ).alias("reg_domain"),
    )


register_sql(
    "fn_conditional",
    tags=("b7",),
    oracle="""
        -- conditional/null-handling family: CASE, COALESCE, NULLIF,
        -- IFNULL-chains, LEAST/GREATEST with NULL propagation rules.
        -- NULLs are manufactured deterministically so both engines
        -- exercise every branch.
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'medium'
                    ELSE 'large' END AS qty_band,
               COALESCE(NULLIF(l_returnflag, 'N'), l_linestatus, '?')
                   AS flag_or_status,
               CAST(ROUND(LEAST(l_quantity, 25.0) * 100) AS BIGINT)
                   AS capped_cents,
               CAST(ROUND(GREATEST(l_quantity, 5.0) * 100) AS BIGINT)
                   AS floored_cents,
               CASE WHEN NULLIF(l_linenumber, 1) IS NULL
                    THEN 'first' ELSE 'rest' END AS line_class
        FROM lineitem
    """,
)


# --------------------------------------------------------------------------
# fn_hash — cryptographic hash function family + hash routing (round 8)
# --------------------------------------------------------------------------


@register(
    "fn_hash",
    tags=("b7",),
    oracle="""
        -- cross-engine hash family: md5 / sha256 over UTF-8 text are
        -- byte-identical standards, so the hex digests — and any
        -- routing derived from them — agree exactly. route256 is the
        -- storage-sharding idiom (first digest byte as hex), the
        -- engine-portable alternative to murmur3-style hash() which
        -- no two engines implement alike.
        SELECT doc_id,
               md5(text) AS md5_hex,
               sha256(text) AS sha256_hex,
               substr(md5(text), 1, 2) AS route256,
               md5(text) = md5(lower(text)) AS case_invariant
        FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash function family (§2.B-7): MD5 and SHA-256
    hex digests over document text, plus the two idioms built on them —
    content-addressed ROUTING (first digest byte = 256-way shard key)
    and change detection (is the digest invariant under a normalizing
    transform?).

    These are the only hash functions that are PORTABLE across
    engines: md5/sha2 are byte-standards over UTF-8, while the fast
    non-cryptographic hashes (Spark's murmur3 ``hash()``/``xxhash64``,
    DuckDB's ``hash()``) differ per engine and may differ per version —
    the engine keeps those for internal shuffles only, never in stored
    output (the dedup modules' documented key policy).

    Plan/scale: pure projection — zero shuffles, whole-stage codegen'd
    JVM digest calls (no Python); at 100 TB this is scan-bound, and
    the route256 column is exactly what a downstream partitioned
    writer needs for balanced 256-way content-addressed layout."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.substring(F.md5("text"), 1, 2).alias("route256"),
        (F.md5("text") == F.md5(F.lower("text"))).alias("case_invariant"),
    )


# --------------------------------------------------------------------------
# fn_regex — regular-expression function family (round 8)
# --------------------------------------------------------------------------


@register(
    "fn_regex",
    tags=("b7",),
    oracle=r"""
        -- regex family over the ENGINE-PORTABLE pattern subset
        -- (character classes + quantifiers — identical semantics in
        -- Java regex and RE2; no lookaround/backrefs, which the two
        -- dialects disagree on). extract_all / count / replace-all /
        -- global match flag in one query.
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[0-9]+', 0))
                    AS BIGINT) AS n_numbers,
               CAST(len(regexp_extract_all(text, '[A-Z][a-z]+', 0))
                    AS BIGINT) AS n_capitalized,
               array_to_string(
                   list_slice(regexp_extract_all(text, '[a-z]+', 0), 1, 3),
                   ',') AS first3_words,
               regexp_replace(substr(text, 1, 40), '[aeiou]', '*', 'g')
                   AS masked_head
        FROM documents
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression function FAMILY (§2.B-7) beyond
    ``fn_string``'s single first-match extract: ``regexp_extract_all``
    (all matches, as an ordered list), ``regexp_count`` (match
    counting), and global ``regexp_replace`` (mask/scrub) — the
    text-wrangling quartet every log/document pipeline leans on.

    Portability is by PATTERN DISCIPLINE, not luck: the engine runs
    Java regex, the oracle RE2 — the two agree exactly on the
    character-class + quantifier subset used here and disagree on
    lookaround/backreferences, so the latter are banned from
    registered queries (same policy as the dedup modules' shingle
    regexes). Spark replaces globally by default; the oracle passes
    RE2's explicit 'g' flag.

    Plan/scale: pure projection — zero shuffles, regex evaluation
    inside whole-stage codegen on the JVM (no Python); at 100 TB
    this is scan-bound streaming text work."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[0-9]+"))
        .cast("long")
        .alias("n_numbers"),
        F.regexp_count("text", F.lit("[A-Z][a-z]+"))
        .cast("long")
        .alias("n_capitalized"),
        F.array_join(
            F.slice(F.regexp_extract_all("text", F.lit("[a-z]+"), 0), 1, 3),
            ",",
        ).alias("first3_words"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]", "*").alias(
            "masked_head"
        ),
    )


# --------------------------------------------------------------------------
# fn_fiscal_calendar — 4-4-5 retail calendar mapping (round 8)
# --------------------------------------------------------------------------

# Anchor: 1995-01-02 (a Monday, epoch day 9132) starts fiscal week 0 of
# fiscal year 1995. Weeks map into the repeating 4-4-5 quarter pattern;
# week 52 of a leap-week year folds into period 12 (the standard 53rd-
# week convention).
_FISCAL_ANCHOR_DAY = 9_132


@register(
    "fn_fiscal_calendar",
    tags=("b7",),
    oracle=f"""
        -- 4-4-5 retail fiscal calendar: pure day-number arithmetic
        -- (week = (epoch_day - anchor) // 7; periods follow the
        -- repeating 4-4-5 quarter pattern; week 52 folds into period
        -- 12) — the finance-warehouse mapping that makes "compare
        -- P3 to P3" mean equal-length, same-weekday spans, which
        -- calendar months never do. Revenue rolls to the fiscal grid.
        WITH d AS (
            SELECT o_totalprice,
                   (epoch_us(o_orderdate) // 86400000000
                    - {_FISCAL_ANCHOR_DAY}) // 7 AS wk
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-02 00:00:00'
        ),
        f AS (
            SELECT o_totalprice,
                   1995 + wk // 52 AS fy,
                   LEAST(wk % 52, 51) AS wy
            FROM d
        ),
        p AS (
            SELECT o_totalprice, fy,
                   (wy // 13) * 3
                   + CASE WHEN wy % 13 < 4 THEN 1
                          WHEN wy % 13 < 8 THEN 2
                          ELSE 3 END AS period
            FROM f
        )
        SELECT CAST(fy AS BIGINT) AS fiscal_year,
               CAST(period AS BIGINT) AS fiscal_period,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
                    AS DECIMAL(38,6)) AS revenue
        FROM p GROUP BY fy, period
    """,
)
def fn_fiscal_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 retail fiscal calendar mapping: orders roll up to
    (fiscal_year, fiscal_period) where periods follow the repeating
    4-4-5-week quarter pattern off a fixed Monday anchor, and the
    52nd week of each fiscal year folds into period 12 (the standard
    53rd-week convention). Retail/finance warehouses live on this
    calendar because "compare P3 to P3" then means equal-length,
    same-weekday-mix spans — which calendar months never are (a
    28-day February vs a 31-day March with five weekends is a fake
    trend). The mapping is PURE DAY-NUMBER ARITHMETIC — week =
    (epoch_day − anchor) div 7, period from week-of-year by integer
    cases — so it is a portable key function (the `fn_surrogate_key`
    property): stable across engines, runs, and rebuilds, never a
    calendar-table artifact to version.

    Plan/scale: one codegen'd projection + one map-side-combined
    (fy, period) agg; revenue rides compat decimals. Orders before
    the anchor are excluded (a real deployment pins the anchor
    before its data epoch)."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-02").cast("timestamp")
    )
    wk = F.expr(
        f"(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        f" - {_FISCAL_ANCHOR_DAY}) div 7"
    )
    fy = (F.lit(1995) + (wk / 52).cast("long")).cast("long")
    wy = F.least(wk % 52, F.lit(51))
    period = (
        (wy / 13).cast("long") * 3
        + F.when(wy % 13 < 4, 1).when(wy % 13 < 8, 2).otherwise(3)
    )
    from nchu_bigdata_spark.compat import dsum

    return (
        o.select(
            fy.alias("fiscal_year"),
            period.cast("long").alias("fiscal_period"),
            "o_totalprice",
        )
        .groupBy("fiscal_year", "fiscal_period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# fn_luhn_check — Luhn mod-10 checksum validation (round 8)
# --------------------------------------------------------------------------


def _luhn_sql(base: str, intdiv: str) -> str:
    """Luhn sum over a 12-digit integer expression: digits indexed
    from the RIGHT of ``base``; every even-indexed digit of base
    (the doubled positions once a check digit is appended) doubles
    with 9-cast-out. Pure integer arithmetic; ``intdiv`` is the
    dialect's integer-division token (' div ' on Spark, '//' on
    DuckDB — the _walk_h dialect convention)."""
    terms = []
    for i in range(12):
        d = f"((({base}) {intdiv} {10 ** i}) % 10)"
        # after appending a check digit, digit i of base sits at
        # position i+1 from the right -> doubled when i is even
        if i % 2 == 0:
            terms.append(
                f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9"
                f" ELSE 2 * {d} END)"
            )
        else:
            terms.append(f"{d}")
    return " + ".join(terms)


@register(
    "fn_luhn_check",
    tags=("b2",),
    oracle=f"""
        -- Luhn mod-10 validation (card/IMEI/account checksums): a
        -- deterministic 12-digit account number per user, its Luhn
        -- check digit, and validation of the user's ACTUAL last
        -- digit against it -- the ingest-side validity screen that
        -- runs before text_pii_scrub ever sees a "card-like" string.
        -- Digit extraction is pure integer div/mod, identical on
        -- both engines.
        WITH acct AS (
            SELECT user_id,
                   100000000000 + (user_id * 7919) % 900000000000 AS base,
                   user_id % 10 AS claimed
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        l AS (
            SELECT user_id, base, claimed,
                   (10 - ({_luhn_sql('base', '//')}) % 10) % 10 AS check_digit
            FROM acct
        )
        SELECT CAST(claimed AS BIGINT) AS claimed_digit,
               CAST(COUNT(*) AS BIGINT) AS n_accounts,
               CAST(SUM(CASE WHEN claimed = check_digit
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
        FROM l GROUP BY claimed
    """,
)
def fn_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 checksum validation — the card/IMEI/account-number
    validity screen (the checksum that catches single-digit typos and
    adjacent transpositions): derive a deterministic 12-digit account
    number per user, compute its Luhn check digit by the
    double-every-second-digit / cast-out-nines rule, and validate the
    user's claimed last digit against it. The ingest-side screen that
    runs BEFORE `text_pii_scrub` decides whether a card-like string
    is worth masking — invalid numbers aren't PII.

    Exactness: digit extraction is div/mod integer arithmetic
    unrolled over the 12 fixed positions — no string ops, no UDF,
    identical expression text on both engines.

    Plan/scale: one distinct on user_id, then a single narrow
    whole-stage-codegen projection (the unrolled Luhn sum) + a
    10-group rollup. ~1/10 of claimed digits validate, the expected
    rate for an uncorrelated claim."""
    ev = table(spark, sf_dir, "events")
    acct = ev.select("user_id").distinct().select(
        "user_id",
        F.expr(
            "100000000000 + (user_id * 7919) % 900000000000"
        ).alias("base"),
        (F.col("user_id") % 10).alias("claimed"),
    )
    l = acct.select(
        "claimed",
        F.expr(f"(10 - ({_luhn_sql('base', ' div ')}) % 10) % 10").alias(
            "check_digit"
        ),
    )
    return l.groupBy(F.col("claimed").cast("long").alias("claimed_digit")).agg(
        F.count(F.lit(1)).cast("long").alias("n_accounts"),
        F.sum((F.col("claimed") == F.col("check_digit")).cast("long"))
        .cast("long")
        .alias("n_valid"),
    )


# --------------------------------------------------------------------------
# fn_codecs — binary codec round-trip pins (round 8)
# --------------------------------------------------------------------------


@register(
    "fn_codecs",
    tags=("b2",),
    oracle="""
        -- Codec round-trip pins: base64 and hex encode/decode over
        -- UTF-8 document bytes, certified by md5 of the round-trip
        -- AND exact encoded lengths -- the serde primitives every
        -- wire format leans on (message queues, JSON-wrapped blobs,
        -- URL-safe ids). Length identities pin the padding math:
        -- base64 = 4*ceil(n/3) chars, hex = 2n.
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN from_base64(to_base64(encode(text)))
                                  = encode(text)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS b64_roundtrip_ok,
               CAST(SUM(strlen(to_base64(encode(text)))) AS BIGINT)
                   AS b64_chars,
               CAST(SUM(4 * ((strlen(text) + 2) // 3)) AS BIGINT)
                   AS b64_chars_expected,
               CAST(SUM(CASE WHEN unhex(hex(encode(text)))
                                  = encode(text)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS hex_roundtrip_ok,
               CAST(SUM(strlen(hex(encode(text)))) AS BIGINT)
                   AS hex_chars
        FROM documents GROUP BY lang
    """,
)
def fn_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec round-trip pins: base64 and hex encode/decode over
    UTF-8 document bytes, certified two ways — the round-trip must be
    byte-identical AND the encoded lengths must match the closed-form
    padding math (base64 = 4·⌈n/3⌉ chars, hex = 2n). The serde
    primitives every wire format leans on (queue payloads,
    JSON-wrapped blobs, URL-safe ids), pinned as a regression surface
    because base64 VARIANTS (padding, url-safe alphabet, line
    wrapping) are where engines silently disagree — MIME line-wrapped
    base64 would fail the length identity here, not just the
    round-trip.

    And the pin earns its keep immediately: Spark 4.1's `base64`
    emits RFC-2045 MIME-CHUNKED output (a \r\n every 76 chars) while
    DuckDB emits unchunked RFC-4648 — byte-identical payloads, 2%
    different encodings. The operator strips the soft line breaks
    before comparing/counting (the interop normalization every
    cross-system consumer needs), and the length identity then holds
    exactly.

    Plan/scale: one narrow codegen projection per row (encode →
    to_base64/hex → decode → compare), one 5-group rollup; nothing
    leaves the scan stage but the counters."""
    docs = table(spark, sf_dir, "documents")
    b = F.expr("encode(text, 'UTF-8')")
    # Spark 4.1 base64 is MIME-chunked (\r\n per 76 chars); DuckDB's
    # is plain RFC-4648 — strip the soft breaks for interop parity.
    b64 = F.regexp_replace(F.base64(b), "\r\n", "")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            (F.unbase64(b64) == b).cast("long")
        )
        .cast("long")
        .alias("b64_roundtrip_ok"),
        F.sum(F.length(b64)).cast("long").alias("b64_chars"),
        F.sum(F.expr("4 * ((octet_length(text) + 2) div 3)"))
        .cast("long")
        .alias("b64_chars_expected"),
        F.sum((F.unhex(F.hex(b)) == b).cast("long"))
        .cast("long")
        .alias("hex_roundtrip_ok"),
        F.sum(F.length(F.hex(b))).cast("long").alias("hex_chars"),
    )


# --------------------------------------------------------------------------
# fn_snowflake_decode — distributed-id forensics round trip (round 8)
# --------------------------------------------------------------------------


@register(
    "fn_snowflake_decode",
    tags=("b2",),
    oracle="""
        -- Snowflake-id round trip: mint Twitter-snowflake-style ids
        -- (41-bit millis << 22 | 10-bit worker << 12 | 12-bit seq)
        -- from event rows, then DECODE them back by shift/mask and
        -- verify field-exact recovery -- the id-forensics operation
        -- behind "when was this row really created / which shard
        -- minted it" debugging, and the ordering guarantee audits
        -- (k-sortable ids sort by mint time). Pure integer bit
        -- arithmetic, identical on both engines.
        WITH e AS (
            SELECT epoch_us(ts) // 1000 AS ms,
                   user_id % 1024 AS worker,
                   event_id % 4096 AS seq
            FROM events
        ),
        minted AS (
            SELECT ms, worker, seq,
                   ms * 4194304 + worker * 4096 + seq AS id
            FROM e
        ),
        decoded AS (
            SELECT ms, worker, seq, id,
                   id // 4194304 AS ms_out,
                   (id // 4096) % 1024 AS worker_out,
                   id % 4096 AS seq_out
            FROM minted
        )
        SELECT CAST(worker AS BIGINT) AS worker,
               CAST(COUNT(*) AS BIGINT) AS n_ids,
               CAST(SUM(CASE WHEN ms_out = ms AND worker_out = worker
                              AND seq_out = seq THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_roundtrip_ok,
               CAST(MIN(id) AS BIGINT) AS min_id,
               CAST(MAX(id) AS BIGINT) AS max_id,
               CAST(COUNT(DISTINCT id) AS BIGINT) AS n_distinct
        FROM decoded GROUP BY worker ORDER BY worker LIMIT 20
    """,
)
def fn_snowflake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake-id mint/decode round trip — Twitter-snowflake layout
    (41-bit epoch-millis ≪ 22 | 10-bit worker ≪ 12 | 12-bit
    sequence): mint ids from event rows, decode them back by
    shift/mask, and verify field-exact recovery per worker. The
    id-forensics operation behind "when was this row REALLY created /
    which shard minted it" debugging, and the k-sortable ordering
    audit (ids sort by mint time — min_id/max_id per worker expose
    it). n_distinct vs n_ids reads collision pressure when (ms,
    worker, seq) triples repeat.

    Exactness: multiplication/division by 2²² and 2¹² as integer
    constants (4194304, 4096) — pure integer bit arithmetic, no
    string formatting, identical on both engines.

    Plan/scale: one narrow codegen projection (mint + decode fused),
    one worker-keyed rollup with an exact distinct; top-20 workers by
    id for a bounded result."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("unix_micros(ts) div 1000").alias("ms"),
        (F.col("user_id") % 1024).alias("worker"),
        (F.col("event_id") % 4096).alias("seq"),
    )
    minted = e.select(
        "ms",
        "worker",
        "seq",
        F.expr("ms * 4194304 + worker * 4096 + seq").alias("id"),
    )
    decoded = minted.select(
        "ms",
        "worker",
        "seq",
        "id",
        F.expr("id div 4194304").alias("ms_out"),
        F.expr("(id div 4096) % 1024").alias("worker_out"),
        F.expr("id % 4096").alias("seq_out"),
    )
    return (
        decoded.groupBy(F.col("worker").cast("long").alias("worker"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ids"),
            F.sum(
                F.expr(
                    "CASE WHEN ms_out = ms AND worker_out = worker"
                    " AND seq_out = seq THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_roundtrip_ok"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
            F.countDistinct("id").cast("long").alias("n_distinct"),
        )
        .orderBy("worker")
        .limit(20)
    )


# --------------------------------------------------------------------------
# fn_ip_cidr — IPv4 format/parse round-trip + longest-prefix-match (round 11)
# --------------------------------------------------------------------------

# Deterministic IPv4 per event (Knuth multiplier mod 2^32); routing
# table derived from nation (/8 rows) and supplier (/16 rows), each
# deduped to MIN(key) per prefix so every prefix is unique within its
# length and the LPM winner per ip is a single max-encoded row.
_IP_A = 2_654_435_761
_IP_MOD = 4_294_967_296  # 2^32
_LPM_ENC = 1 << 40  # plen * 2^40 + net_key; net_key < 2^40 at any SF


@register(
    "fn_ip_cidr",
    tags=("b7",),
    oracle=f"""
        -- IPv4 network functions: format a derived uint32 address as a
        -- dotted quad, PARSE IT BACK (string round-trip is part of the
        -- certified artifact), then classify via longest-prefix match
        -- against a two-level CIDR table (/8 from nation, /16 from
        -- supplier, each deduped to one row per prefix). Exact integer
        -- + string ops only.
        WITH e AS (
            SELECT event_id,
                   (event_id * {_IP_A}) % {_IP_MOD} AS ip0
            FROM events
        ),
        s AS (
            SELECT event_id,
                   CAST(ip0 // 16777216 AS VARCHAR) || '.' ||
                   CAST((ip0 // 65536) % 256 AS VARCHAR) || '.' ||
                   CAST((ip0 // 256) % 256 AS VARCHAR) || '.' ||
                   CAST(ip0 % 256 AS VARCHAR) AS ip_str
            FROM e
        ),
        p AS (
            SELECT event_id,
                   CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216
                   + CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536
                   + CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256
                   + CAST(string_split(ip_str, '.')[4] AS BIGINT) AS ip
            FROM s
        ),
        n8 AS (
            SELECT (n_nationkey * 7 + 3) % 256 AS a,
                   MIN(n_nationkey) AS net_key
            FROM nation GROUP BY 1
        ),
        n16 AS (
            SELECT (s_suppkey * 11 + 5) % 256 AS a,
                   (s_suppkey * 13 + 7) % 256 AS b,
                   MIN(s_suppkey) AS net_key
            FROM supplier GROUP BY 1, 2
        ),
        m AS (
            SELECT event_id, 8 AS plen, net_key, ip
            FROM p JOIN n8 ON p.ip // 16777216 = n8.a
            UNION ALL
            SELECT event_id, 16 AS plen, net_key, ip
            FROM p JOIN n16
              ON p.ip // 16777216 = n16.a
             AND (p.ip // 65536) % 256 = n16.b
        ),
        best AS (
            SELECT event_id,
                   MAX(plen * {_LPM_ENC} + net_key) AS enc,
                   MIN(ip) AS ip
            FROM m GROUP BY event_id
        )
        SELECT CAST(COALESCE(best.enc // {_LPM_ENC}, 0) AS BIGINT)
                   AS prefix_len,
               CAST(COALESCE(best.enc % {_LPM_ENC}, -1) AS BIGINT)
                   AS net_key,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT p.ip) AS BIGINT) AS n_ips,
               CAST(MIN(p.ip) AS BIGINT) AS min_ip
        FROM p LEFT JOIN best USING (event_id)
        GROUP BY 1, 2
    """,
)
def fn_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 network-function suite: derive a uint32 address per event,
    FORMAT it as a dotted quad, PARSE the string back (the round-trip
    is inside the certified chain — a format or parse bug breaks the
    hash), then classify each address by LONGEST-PREFIX MATCH against
    a two-level CIDR routing table (/8 prefixes derived from nation,
    /16 from supplier, each deduped to MIN(key) per prefix so prefixes
    are unique within a length). LPM = per-address max over the
    matched union, order-free via the plen·2^40+net_key encoding.

    Plan/scale: the routing table is a DIMENSION (thousands of rows at
    any SF after per-prefix dedup caps it at 256 + 65536) — both
    per-length lookups are broadcast LEFT joins chained on ONE event
    scan (ADVICE r11: the earlier union-of-matches form re-computed
    the parse subtree three times and shuffled a per-event LPM
    groupBy; because each prefix table is unique per key, every join
    yields at most one match, so LPM is just GREATEST over the two
    encoded candidates — no union, no per-event exchange). The only
    exchange left is the final (prefix_len, net_key) aggregate,
    bounded by the routing-table size. String format/parse is pure
    map-side codegen."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(f"(event_id * {_IP_A}) % {_IP_MOD}").alias("ip0"),
    )
    ip_str = F.concat_ws(
        ".",
        F.expr("CAST(ip0 div 16777216 AS STRING)"),
        F.expr("CAST((ip0 div 65536) % 256 AS STRING)"),
        F.expr("CAST((ip0 div 256) % 256 AS STRING)"),
        F.expr("CAST(ip0 % 256 AS STRING)"),
    )
    parts = F.split(F.col("ip_str"), "\\.")
    parsed = (
        ev.withColumn("ip_str", ip_str)
        .withColumn(
            "ip",
            parts.getItem(0).cast("bigint") * 16777216
            + parts.getItem(1).cast("bigint") * 65536
            + parts.getItem(2).cast("bigint") * 256
            + parts.getItem(3).cast("bigint"),
        )
        .select("event_id", "ip")
    )
    n8 = (
        table(spark, sf_dir, "nation")
        .groupBy(F.expr("(n_nationkey * 7 + 3) % 256").alias("a"))
        .agg(F.min("n_nationkey").alias("net_key"))
    )
    n16 = (
        table(spark, sf_dir, "supplier")
        .groupBy(
            F.expr("(s_suppkey * 11 + 5) % 256").alias("a"),
            F.expr("(s_suppkey * 13 + 7) % 256").alias("b"),
        )
        .agg(F.min("s_suppkey").alias("net_key"))
    )
    # Each prefix table is unique per key (MIN-deduped), so each
    # broadcast LEFT join yields at most one candidate per event and
    # the longest-prefix match collapses to GREATEST over the two
    # encoded candidates — one event scan, zero per-event shuffles.
    matched = (
        parsed.withColumn("a", F.expr("ip div 16777216"))
        .withColumn("b", F.expr("(ip div 65536) % 256"))
        .join(
            F.broadcast(n8.withColumnRenamed("net_key", "net8")),
            "a",
            "left",
        )
        .join(
            F.broadcast(n16.withColumnRenamed("net_key", "net16")),
            ["a", "b"],
            "left",
        )
        .select(
            "ip",
            F.greatest(
                F.expr(f"8 * {_LPM_ENC} + net8"),
                F.expr(f"16 * {_LPM_ENC} + net16"),
            ).alias("enc"),
        )
    )
    return (
        matched.groupBy(
            F.expr(
                f"CAST(COALESCE(enc div {_LPM_ENC}, 0) AS BIGINT)"
            ).alias("prefix_len"),
            F.expr(
                f"CAST(COALESCE(enc % {_LPM_ENC}, -1) AS BIGINT)"
            ).alias("net_key"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("ip").cast("long").alias("n_ips"),
            F.min("ip").cast("long").alias("min_ip"),
        )
    )


# --------------------------------------------------------------------------
# fn_soundex — phonetic encoding / blocking key (round 14)
# --------------------------------------------------------------------------

# American Soundex letter→digit map, A..Z positionally: vowels (a e i o
# u y) → '0' (separators: they break runs but are dropped from the
# code), h/w → '9' (TRANSPARENT: digits separated only by h/w still
# collapse — the Ashcraft→A261 rule), consonants → their Soundex class
# 1-6 (bfpv=1 cgjkqsxz=2 dt=3 l=4 mn=5 r=6).
_SOUNDEX_MAP = "01230129022455012623019202"


def _soundex_sql(col: str, g: str) -> str:
    """One shared Soundex expression for BOTH engines (``g`` is the
    extra global-flag argument DuckDB's regexp_replace needs; Spark's
    is global by default). The textbook algorithm, with the run
    collapse done as SIX per-digit ``d(9*d)*`` regexp chains because
    RE2 (DuckDB) has no backreferences — each chain collapses runs of
    one digit, treating the h/w marker '9' as transparent. Collapsing
    happens BEFORE the first code char is dropped, which is exactly
    what gives the standard Pfister→P236 (first letter absorbs a
    same-class successor) and Wright→W623 (leading h/w keeps the next
    consonant) behaviors for free."""
    up = f"upper({col})"
    coll = f"translate({up}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_MAP}')"
    for d in "123456":
        coll = f"regexp_replace({coll}, '{d}(9*{d})*', '{d}'{g})"
    tail = f"replace(replace(substr({coll}, 2), '9', ''), '0', '')"
    return f"concat(substr({up}, 1, 1), rpad(substr({tail}, 1, 3), 3, '0'))"


@register(
    "fn_soundex",
    tags=("b7",),
    oracle=f"""
        -- Soundex phonetic blocking over the document token
        -- vocabulary: the classic record-linkage blocking key (group
        -- spelling variants of the same-sounding word into one
        -- block). The naive formulation compares every word to every
        -- word; the blocked formulation groups the VOCABULARY by its
        -- phonetic code, so candidate pairs only ever form inside a
        -- block. Identical algorithm text on both engines (see
        -- _soundex_sql).
        WITH toks AS (
            SELECT unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS w
            FROM documents
        ),
        vocab AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ
            FROM toks GROUP BY w
        )
        SELECT {_soundex_sql('w', ", 'g'")} AS sdx,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_occ) AS BIGINT) AS n_occurrences,
               MIN(w) AS sample_word
        FROM vocab
        GROUP BY 1
    """,
)
def fn_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American Soundex phonetic encoding as a blocking key: encode
    every distinct token of the corpus vocabulary and report, per
    phonetic block, how many distinct words collapse into it and how
    many corpus occurrences they carry — the fuzzy-matching /
    record-linkage blocking step (same-sounding spelling variants land
    in one block; candidate pairs never cross blocks).

    Exactness: the full textbook algorithm — vowels separate, h/w
    transparent, first letter kept and its class absorbed — built from
    translate + six per-digit regexp chains + rpad, with IDENTICAL
    expression text on both engines (``_soundex_sql``; the per-digit
    chains exist because RE2 lacks backreferences). Pinned by an exact
    Python textbook replay in tests/test_round14_ops.py.

    Plan/scale: tokenize is a scan-side generator (explode of
    regexp_extract_all — one pass, no Python); the FIRST aggregation
    collapses the token stream to the distinct vocabulary (map-side
    combine does the heavy lifting: per-partition token counts before
    any shuffle), so the soundex projection and the second rollup run
    on vocabulary-sized data (Heaps-law sublinear in corpus size). At
    100 TB the only corpus-sized stage is the initial scan+combine;
    everything after is vocab-bounded. All whole-stage codegen, zero
    UDFs."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '([a-z]+)', 1)")
        ).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    return (
        vocab.select(
            F.expr(_soundex_sql("w", "")).alias("sdx"), "w", "n_occ"
        )
        .groupBy("sdx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_occ").cast("long").alias("n_occurrences"),
            F.min("w").alias("sample_word"),
        )
    )


# --------------------------------------------------------------------------
# fn_variant — Spark 4 VARIANT semi-structured type (round 14)
# --------------------------------------------------------------------------


@register(
    "fn_variant",
    tags=("b7",),
    oracle="""
        -- VARIANT round-trip: the engine builds a nested JSON document
        -- per event, parses it into Spark 4's VARIANT type, and
        -- extracts typed fields back out with variant_get (string leaf,
        -- bigint leaf inside an array, whole-object re-serialization
        -- via schema inference). The oracle replays the same paths
        -- with DuckDB's JSON functions over the identical document
        -- text, so the parse->binary-variant->typed-extract round
        -- trip must be lossless. The inferred variant schema is
        -- pinned as a literal (a schema-inference regression flips
        -- it and the hash catches it).
        WITH doc AS (
            SELECT event_type,
                   '{"id": ' || event_id || ', "meta": {"type": "'
                   || event_type || '", "vals": ['
                   || json_extract(props, '$.k') || ', '
                   || CAST(json_extract(props, '$.k') AS BIGINT) * 2
                   || ']}}' AS j
            FROM events
        )
        SELECT json_extract_string(j, '$.meta.type') AS meta_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract(j, '$.meta.vals[1]') AS BIGINT))
                    AS BIGINT) AS sum_val1,
               CAST(SUM(CASE WHEN json_extract_string(j, '$.meta.type')
                                  = json_extract_string(j, '$.meta.type')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
               'OBJECT<id: BIGINT, meta: OBJECT<type: STRING, vals: ARRAY<BIGINT>>>'
                   AS variant_schema
        FROM doc
        GROUP BY 1
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT — the typed semi-structured column (the
    open-format answer to JSON columns: binary-encoded, schema
    inferred per value, typed point extraction without a global
    schema): build a nested JSON document per event, ``parse_json``
    it into a VARIANT, and extract typed leaves back out with
    ``variant_get`` (string leaf, bigint array element) plus the
    per-value inferred schema via ``schema_of_variant``. `fn_json`
    covers the string-path functions; this covers the TYPE — at
    100 TB the variant binary encoding is what makes shredded
    point-access cheap (no repeated text parsing; the open table
    formats are adopting exactly this encoding).

    Exactness: the same document text feeds DuckDB's JSON functions,
    so the parse→binary→extract round trip must be value-lossless;
    the inferred schema string is pinned as a literal (an inference
    regression flips it and the hash catches it).

    Plan/scale: one projection chain inside codegen (parse_json /
    variant_get are JVM expressions, no Python anywhere) + one
    type-cardinality rollup."""
    ev = table(spark, sf_dir, "events")
    doc = ev.select(
        F.expr(
            """concat('{"id": ', event_id, ', "meta": {"type": "',
               event_type, '", "vals": [',
               get_json_object(props, '$.k'), ', ',
               CAST(get_json_object(props, '$.k') AS BIGINT) * 2,
               ']}}')"""
        ).alias("j")
    )
    v = doc.select(F.parse_json(F.col("j")).alias("v"))
    ex = v.select(
        F.expr("variant_get(v, '$.meta.type', 'string')").alias("meta_type"),
        F.expr("variant_get(v, '$.meta.vals[1]', 'bigint')").alias("val1"),
        F.expr("schema_of_variant(v)").alias("variant_schema"),
    )
    return ex.groupBy("meta_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val1").cast("long").alias("sum_val1"),
        F.sum(
            (F.col("meta_type") == F.col("meta_type")).cast("long")
        ).cast("long").alias("n_consistent"),
        F.min("variant_schema").alias("variant_schema"),
    )
