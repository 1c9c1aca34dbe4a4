"""Text-analysis operators over the ``documents`` table (SURVEY.md
§2.B-10; north-star LLM-data-pipeline surface).

The reference's only text processing is CSV tokenization
(``hadoop_tutorial/src/Kmeans.java:226-236``); these operators extend
that capability to corpus analytics: per-source stats, tf-idf,
naive-Bayes language ID, quality scoring, token counting, and
winnowing document fingerprints.

Scale notes (100 TB):
  * Everything here is explode → hash-agg → join — all JVM-side
    codegen, no Python. Token explosion multiplies rows ~100× but the
    exploded rows are tiny (doc_id + short word) and aggregate
    map-side before shuffling.
  * Language profiles / idf tables are tiny aggregates (vocab × langs)
    — Catalyst broadcasts them back onto the token stream, so the big
    side never reshuffles twice.
  * Fingerprints use md5 (a built-in on both engines, bit-identical
    everywhere) rather than xxhash so the oracle can replay them; at
    scale swap in ``xxhash64`` (cheaper) — the plan shape is identical.

Determinism: float terms (ln) are rounded to a fixed grid and cast to
decimal *before* aggregation, so partial-agg order can't change sums
(see compat.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import sql_davg
from nchu_bigdata_spark.io import parallel_table, table
from nchu_bigdata_spark.materialize import range_pid_frozen
from nchu_bigdata_spark.registry import register, register_sql

STOPWORDS = ("the", "a")


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, word) — one row per token occurrence."""
    return docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )


# --------------------------------------------------------------------------
# text_stats — per (lang, source) corpus statistics
# --------------------------------------------------------------------------


register_sql(
    "text_stats",
    tags=("b10",),
    oracle=f"""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               {sql_davg("n_chars")} AS avg_chars,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY lang, source
    """,
)


# --------------------------------------------------------------------------
# text_tokenize_tfidf — tokenize, term frequency, smoothed tf-idf
# --------------------------------------------------------------------------


@register(
    "text_tokenize_tfidf",
    tags=("b10",),
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        tf AS (
            SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, word
        ),
        df AS (
            SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM tok GROUP BY word
        ),
        n AS (SELECT COUNT(*) AS n FROM documents)
        SELECT tf.doc_id, tf.word, tf.tf, df.df,
               CAST(ROUND(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6)
                    AS DECIMAL(18,6)) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
    """,
)
def text_tokenize_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed tf-idf per (doc, term): tf · (ln((N+1)/(df+1)) + 1).

    The doc-frequency table is a vocab-sized aggregate — broadcast back
    onto the tf stream, so only the token explosion shuffles (once)."""
    docs = table(spark, sf_dir, "documents")
    tok = tokens(docs)
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    idf = F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).cast("decimal(18,6)").alias("tfidf"),
        )
    )


# --------------------------------------------------------------------------
# text_langid — naive-Bayes language ID from corpus word profiles
# --------------------------------------------------------------------------

_LN_SCALE = 7  # per-term rounding grid; decimals make the sum order-free


# Shared NB language-ID CTE chain: text_langid SELECTs the per-doc
# predictions from it; text_lang_confusion re-aggregates the SAME
# chain into the confusion matrix (the _SQL_CC_CHAIN pattern).
_SQL_LANGID_CHAIN = f"""

        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        tf AS (
            SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, word
        ),
        profile AS (
            SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY lang, word
        ),
        tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot FROM tok GROUP BY lang),
        v AS (SELECT COUNT(DISTINCT word) AS v FROM tok),
        scored AS (
            SELECT tf.doc_id, t.lang,
                   SUM(CAST(ROUND(tf.tf * ln((COALESCE(p.cnt, 0) + 1.0)
                                             / (t.tot + v.v)), {_LN_SCALE})
                            AS DECIMAL(20,{_LN_SCALE}))) AS score
            FROM tf
            CROSS JOIN tot t
            CROSS JOIN v
            LEFT JOIN profile p ON p.lang = t.lang AND p.word = tf.word
            GROUP BY tf.doc_id, t.lang
        ),
        best AS (
            SELECT doc_id, lang, score,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, lang
                   ) AS rn
            FROM scored
        ),
        pred AS (
            SELECT b.doc_id, b.lang AS pred_lang,
                   CAST(b.score AS DECIMAL(38,{_LN_SCALE})) AS score,
                   d.lang AS true_lang, (b.lang = d.lang) AS correct
            FROM best b JOIN documents d USING (doc_id)
            WHERE rn = 1
        )
"""


@register(
    "text_langid",
    tags=("b10",),
    oracle=f"""
        {_SQL_LANGID_CHAIN}
        SELECT doc_id, pred_lang, score, true_lang, correct
        FROM pred
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: multinomial naive Bayes with add-one smoothing,
    profiles learned from the corpus itself.

    score(d, L) = Σ_w tf(d,w) · ln((cnt(L,w)+1)/(tot(L)+V)); predict
    argmax (ties → lexicographically first lang). The per-lang profile
    is a (langs × vocab) aggregate — broadcast; the only big shuffle is
    the token tf aggregation."""
    docs = table(spark, sf_dir, "documents")
    tok = tokens(docs)
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    profile = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt"))
    tot = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    v = tok.agg(F.countDistinct("word").alias("v"))
    term = F.round(
        F.col("tf")
        * F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
            / (F.col("tot") + F.col("v"))
        ),
        _LN_SCALE,
    ).cast(f"decimal(20,{_LN_SCALE})")
    scored = (
        tf.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(v))
        .join(
            F.broadcast(profile),
            ["lang", "word"],
            "left",
        )
        .groupBy("doc_id", "lang")
        .agg(F.sum(term).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        best.join(docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            F.col("score").cast(f"decimal(38,{_LN_SCALE})").alias("score"),
            "true_lang",
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
    )


# --------------------------------------------------------------------------
# text_quality — per-doc quality heuristics
# --------------------------------------------------------------------------

_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality",
    tags=("b10",),
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct,
                   len(list_filter(string_split(text, ' '),
                                   w -> w IN ({_SW_LIST}))) AS n_stop,
                   n_chars
            FROM documents
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               CAST(ROUND(n_distinct / CAST(n_tokens AS DOUBLE), 6)
                    AS DECIMAL(18,6)) AS distinct_ratio,
               CAST(ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6)
                    AS DECIMAL(18,6)) AS stopword_ratio,
               CAST(ROUND((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 6)
                    AS DECIMAL(18,6)) AS avg_token_len,
               CASE WHEN n_tokens >= 50 AND n_distinct / CAST(n_tokens AS DOUBLE) >= 0.3
                    THEN 'high'
                    WHEN n_tokens >= 20 THEN 'medium'
                    ELSE 'low' END AS quality_bucket
        FROM base
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality heuristics: token count, lexical diversity,
    stopword ratio, mean token length, and a bucketed quality label.
    Pure narrow transformations — no shuffle at all."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(
        F.filter(toks, lambda w: w.isin(*STOPWORDS))
    )
    dbl = lambda c: c.cast("double")  # noqa: E731
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct"),
        F.round(n_distinct / dbl(n_tokens), 6)
        .cast("decimal(18,6)")
        .alias("distinct_ratio"),
        F.round(n_stop / dbl(n_tokens), 6)
        .cast("decimal(18,6)")
        .alias("stopword_ratio"),
        F.round((F.col("n_chars") - n_tokens + 1) / dbl(n_tokens), 6)
        .cast("decimal(18,6)")
        .alias("avg_token_len"),
        F.when(
            (n_tokens >= 50) & (n_distinct / dbl(n_tokens) >= 0.3), "high"
        )
        .when(n_tokens >= 20, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


# --------------------------------------------------------------------------
# text_token_count — whitespace + BPE-ish subword counting
# --------------------------------------------------------------------------

_SUBWORD_RE = r"[aeiou]+|[^aeiou\s]+"  # vowel/consonant runs ≈ subword pieces


@register(
    "text_token_count",
    tags=("b10",),
    oracle=r"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou\s]+'))
                    AS BIGINT) AS subword_tokens,
               CAST(ROUND(n_chars / CAST(len(regexp_extract_all(
                        text, '[aeiou]+|[^aeiou\s]+')) AS DOUBLE), 6)
                    AS DECIMAL(18,6)) AS chars_per_subword
        FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish
    subword estimate (maximal vowel/consonant runs). Narrow — no
    shuffle; regexp stays in codegen."""
    docs = table(spark, sf_dir, "documents")
    subw = F.regexp_count("text", F.lit(_SUBWORD_RE))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        subw.cast("bigint").alias("subword_tokens"),
        F.round(F.col("n_chars") / subw.cast("double"), 6)
        .cast("decimal(18,6)")
        .alias("chars_per_subword"),
    )


# --------------------------------------------------------------------------
# text_fingerprint — winnowing document fingerprints (rolling k-gram hash)
# --------------------------------------------------------------------------

_K = 3  # tokens per shingle
_W = 4  # winnowing window (shingles)


@register(
    "text_fingerprint",
    tags=("b10",),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   substr(md5(array_to_string(t[i : i + {_K} - 1], ' ')), 1, 8) AS h
            FROM toks, unnest(range(1, len(t) - {_K} + 2)) AS r(i)
        ),
        wins AS (
            SELECT doc_id,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {_W - 1} FOLLOWING) AS fp,
                   COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW
                                  AND {_W - 1} FOLLOWING) AS wn
            FROM grams
        )
        SELECT DISTINCT doc_id, fp FROM wins WHERE wn = {_W}
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    {k}-token shingle, slide a {w}-shingle window, keep each window's
    min hash, dedup. Output (doc_id, fp) pairs — joining on fp finds
    near-duplicate / plagiarized spans at corpus scale.

    md5-prefix hashes make the result engine-portable; the plan is
    explode → window-min (one shuffle on doc_id) → distinct. The scan is
    parallelism-guarded: the per-token md5 dominates, and it runs in the
    narrow stage *before* the window shuffle (A/B at sf0.1: 2.0s → 1.0s)."""
    docs = parallel_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - _K),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i + 1, _K))), 1, 8
                ),
            )
        ).alias("pos", "h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _W - 1)
    wins = grams.select(
        "doc_id",
        F.min("h").over(w).alias("fp"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    return wins.filter(F.col("wn") == _W).select("doc_id", "fp").distinct()


# --------------------------------------------------------------------------
# text_ngram_stats — corpus-level top-k bigram profile per language
# --------------------------------------------------------------------------

_NG_TOPK = 5


@register(
    "text_ngram_stats",
    tags=("b10",),
    oracle=f"""
        WITH tok AS (
            SELECT lang, string_split(text, ' ') AS w
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ),
        bg AS (
            SELECT lang, array_to_string(w[i : i + 1], ' ') AS bigram
            FROM tok, unnest(range(1, len(w))) AS r(i)
        ),
        c AS (
            SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n
            FROM bg GROUP BY lang, bigram
        )
        SELECT lang, bigram, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n DESC, bigram
               ) AS INT) AS rnk
        FROM c
        QUALIFY rnk <= {_NG_TOPK}
    """,
)
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profiling: the top-{k} most frequent bigrams
    per language — the corpus-statistics pass every training-data
    pipeline runs to spot boilerplate n-grams (the inputs to stop-gram
    cutoffs like dedup's ``_MAX_DF`` and decontam's hot-gram filter).

    Plan: bigrams are a narrow array expression (no hashing), exploded
    into ONE hash-agg on (lang, bigram) — map-side partials collapse
    duplicate bigrams before the shuffle, so wire volume is
    vocabulary-sized, not corpus-sized. The top-k window then runs on
    the aggregated counts (vocab rows only) with WindowGroupLimit
    pruning per-partition; ties break on the bigram string so the
    result is deterministic on any engine. Parallelism-guarded scan:
    the ×tokens bigram explode is heavy narrow compute BEFORE the
    first shuffle, so a single-row-group file must not pin it to one
    core (A/B at sf0.1, best-of-4: 1.59s → 0.73s)."""
    docs = parallel_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    bg = docs.filter(F.size(w) >= 2).select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, 2)),
            )
        ).alias("bigram"),
    )
    counts = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    wk = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counts.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= _NG_TOPK)
        .select("lang", "bigram", "n", "rnk")
    )


# --------------------------------------------------------------------------
# text_pii_scrub — regex PII redaction with per-class counts
# --------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (ASCII \d,
# \b word boundaries, greedy bounded repeats, no backreferences or
# lookarounds) so Spark's JVM regex engine and DuckDB's RE2 accept the
# SAME string and match the SAME language. Applied in a FIXED order
# (email → ipv4 → phone) on both engines, so overlap resolution is
# deterministic and identical.
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers from ``text_col``,
    emitting per-class match counts (on the ORIGINAL text, so classes
    count independently) plus the sha256 of the sequentially-scrubbed
    text. Pure column expressions — see ``text_pii_scrub``."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, repl in _PII_PATTERNS:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    out = docs.select("doc_id", *counts, F.sha2(scrubbed, 256).alias("scrubbed_hash"))
    return out.withColumn(
        "n_pii",
        sum(F.col(f"n_{name}") for name, _, _ in _PII_PATTERNS),
    ).select("doc_id", "n_email", "n_ip", "n_phone", "n_pii", "scrubbed_hash")


def _pii_raw_expr_sql() -> str:
    """DuckDB expression mirroring ``_pii_raw_col`` bit-for-bit."""
    return (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or 10.' || CAST(doc_id % 200 AS VARCHAR)"
        " || '.0.' || CAST(doc_id % 250 AS VARCHAR)"
        " || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || '-1234'"
    )


def _pii_raw_col() -> F.Column:
    """documents.text plus a deterministic doc_id-derived contact line
    (one email, one IPv4, one phone per doc). The synthetic corpus
    contains no organic PII, so scrubbing raw ``text`` would be an
    identity map and the differential gate would never exercise the
    redaction regexes; the injected suffix makes every row test all
    three patterns end-to-end while staying a pure function of the
    input row (both engines derive it from the same columns)."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-1234"),
    )


@register(
    "text_pii_scrub",
    tags=("b10",),
    oracle=f"""
        WITH raw AS (
            SELECT doc_id, {_pii_raw_expr_sql()} AS text FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '{_PII_PATTERNS[0][1]}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                   '{_PII_PATTERNS[1][1]}')) AS BIGINT) AS n_ip,
               CAST(len(regexp_extract_all(text,
                   '{_PII_PATTERNS[2][1]}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[0][1]}'))
                  + len(regexp_extract_all(text, '{_PII_PATTERNS[1][1]}'))
                  + len(regexp_extract_all(text, '{_PII_PATTERNS[2][1]}'))
                  AS BIGINT) AS n_pii,
               sha256(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '{_PII_PATTERNS[0][1]}', '<EMAIL>', 'g'),
                           '{_PII_PATTERNS[1][1]}', '<IP>', 'g'),
                       '{_PII_PATTERNS[2][1]}', '<PHONE>', 'g')
               ) AS scrubbed_hash
        FROM raw
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub pass every production training-data
    pipeline runs before anything else (C4 removed pages on bad-word
    lists; modern pipelines regex-redact emails/IPs/phones in place).
    Emits per-class counts on the original text plus the sha256 of the
    scrubbed text, so downstream exact-dedup keys on CLEAN content and
    an audit table shows what was removed where.

    Plan: one projection — three ``regexp_count`` and three chained
    ``regexp_replace`` column expressions plus a sha2, all inside
    whole-stage codegen on the scan. ZERO shuffles, zero Python: at
    100 TB this is a pure map over the corpus, embarrassingly parallel,
    bounded by scan + regex CPU (plan-audited Exchange-free). The
    DuckDB oracle replays the identical pattern sequence under RE2
    ('g' = replace-all, matching Spark's default), which the common
    regex subset above keeps bit-identical; the scrubbed-text HASH is
    the strongest possible check that both engines redacted the same
    spans. Counts are taken on the original text per class (classes
    independent); replacement is sequential, so a span claimed by an
    earlier class can't be re-matched by a later one."""
    docs = table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", _pii_raw_col().alias("text"))
    return pii_scrub(raw)


# --------------------------------------------------------------------------
# text_collocation_pmi — corpus collocations by pointwise mutual information
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 10  # bigram support cutoff before scoring
_PMI_TOPK = 20


@register(
    "text_collocation_pmi",
    tags=("b10",),
    oracle=f"""
        -- Ranks on LIFT = p(l,r)/(p(l)p(r)) = n_pair·n_tok²/(n_bg·c_l·c_r),
        -- one IEEE division of exact 128-bit integer products — pmi =
        -- ln(lift) is monotone, so the top-k cut is identical, and the
        -- hashed double is bit-identical across engines (ADVICE r6: a
        -- 4dp-rounded ln can straddle the grid between libm variants).
        WITH tok AS (
            SELECT string_split(text, ' ') AS w FROM documents
        ),
        uni AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(w) AS word FROM tok)
            WHERE word <> '' GROUP BY word
        ),
        nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
        bg AS (
            SELECT w[i] AS l_tok, w[i + 1] AS r_tok
            FROM tok, unnest(range(1, len(w))) AS r(i)
        ),
        bgc AS (
            SELECT l_tok, r_tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM bg WHERE l_tok <> '' AND r_tok <> ''
            GROUP BY l_tok, r_tok
        ),
        nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bgc)
        SELECT b.l_tok, b.r_tok, b.c AS n_pair,
               ul.c AS c_l, ur.c AS c_r,
               CAST(CAST(b.c AS HUGEINT) * nt.n * nt.n AS DOUBLE)
                   / CAST(CAST(nb.n AS HUGEINT) * ul.c * ur.c AS DOUBLE)
                   AS lift
        FROM bgc b, nb, nt
        JOIN uni ul ON ul.word = b.l_tok
        JOIN uni ur ON ur.word = b.r_tok
        WHERE b.c >= {_PMI_MIN_COUNT}
        ORDER BY lift DESC, b.l_tok, b.r_tok
        LIMIT {_PMI_TOPK}
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top bigrams by pointwise mutual
    information — the classic signal for multiword expressions (and for
    spotting templated boilerplate a frequency-only profile like
    ``text_ngram_stats`` misses, because PMI normalizes away
    individually-common words).

    The ranking/output statistic is ``lift = p(l,r)/(p(l)·p(r)) =
    n_pair·n_tok² / (n_bg·c_l·c_r)``; pmi = ln(lift) is monotone in it,
    so the top-k set and order are exactly PMI's. Emitting lift instead
    of a rounded ln (ADVICE r6 rework) makes the hashed double
    bit-identical across engines: it is ONE IEEE division of two
    exact 128-bit integer products, whereas Spark's ``Math.log`` and
    DuckDB's ``std::log`` are each ≤1 ulp but not bit-identical, so a
    boundary-straddling rounded pmi could flip on other corpora.

    Precision envelope (r9 advice pass): the division is bit-stable
    across engines only while both integer products sit below 2^53 —
    above that, every int64 is no longer exactly representable and
    DuckDB's HUGEINT→DOUBLE cast is NOT correctly rounded (the r7
    finding) while Spark's decimal→double is. c·n_tok² crosses 2^53
    around n_tok ≈ 5×10⁵ (sf0.1 runs at 2.7×10⁵ with ~340× headroom
    by value; asserted by tests/test_precision_bounds.py). At corpus
    scale, export the scaled-integer lift (10⁶·num div den as BIGINT,
    ties on the pair) instead of the double.

    Plan: unigram and bigram vocabularies are each ONE hash-agg over
    the exploded token stream (map-side partials collapse before the
    shuffle, wire volume is vocab-sized). The two corpus totals ride
    as 1-row broadcast cross joins; the two unigram probability
    lookups are vocab×vocab equi-joins on the AQE-sized path (vocab ≪
    corpus, typically broadcast). Final top-k is sort+limit — a
    per-partition heap (TakeOrderedAndProject), never a global sort.
    Support cutoff first, so low-count noise never reaches the joins.
    Ties break on the token pair."""
    docs = parallel_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = docs.select(F.explode(w).alias("word")).filter(F.col("word") != "")
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    nt = uni.agg(F.sum("c").alias("n_tok"))

    pairs = (
        docs.filter(F.size(w) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 2),
                    lambda i: F.struct(
                        F.element_at(w, i + 1).alias("l_tok"),
                        F.element_at(w, i + 2).alias("r_tok"),
                    ),
                )
            ).alias("p")
        )
        .select("p.l_tok", "p.r_tok")
        .filter((F.col("l_tok") != "") & (F.col("r_tok") != ""))
    )
    bgc = pairs.groupBy("l_tok", "r_tok").agg(F.count(F.lit(1)).alias("n_pair"))
    nb = bgc.agg(F.sum("n_pair").alias("n_bg"))

    ul = uni.select(F.col("word").alias("l_tok"), F.col("c").alias("c_l"))
    ur = uni.select(F.col("word").alias("r_tok"), F.col("c").alias("c_r"))

    def d38(c):  # exact 128-bit-class integer product operand
        return c.cast("decimal(38,0)")

    num = d38(F.col("n_pair")) * d38(F.col("n_tok")) * d38(F.col("n_tok"))
    den = d38(F.col("n_bg")) * d38(F.col("c_l")) * d38(F.col("c_r"))
    scored = (
        bgc.filter(F.col("n_pair") >= _PMI_MIN_COUNT)
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nt))
        .join(ul, "l_tok")
        .join(ur, "r_tok")
        .select(
            "l_tok",
            "r_tok",
            "n_pair",
            "c_l",
            "c_r",
            (num.cast("double") / den.cast("double")).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "l_tok", "r_tok"
    ).limit(_PMI_TOPK)


# --------------------------------------------------------------------------
# text_bpe_pairs — BPE-style adjacent-symbol pair counts over the vocabulary
# --------------------------------------------------------------------------

_BPE_TOPK = 30


@register(
    "text_bpe_pairs",
    tags=("b10",),
    oracle=f"""
        WITH tf AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS f
            FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents
            )
            WHERE word <> '' GROUP BY word
        ),
        pr AS (
            SELECT substr(word, i, 2) AS pair, f, word
            FROM tf, unnest(range(1, len(word))) AS r(i)
            WHERE len(word) >= 2
        )
        SELECT pair,
               CAST(SUM(f) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types
        FROM pr GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT {_BPE_TOPK}
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of byte-pair-encoding vocabulary induction:
    corpus-frequency-weighted counts of adjacent character pairs, the
    argmax of which is BPE's first merge. Emits the top pairs with
    both occurrence weight (``n``) and type support (``n_types``).

    Scale trick: the corpus collapses to its VOCABULARY first (one
    token hash-agg, map-side combined), and the character-pair explode
    runs over distinct-token rows only — ~10⁵ vocabulary rows instead
    of ~10⁹ corpus token occurrences, a 4-orders-of-magnitude cheaper
    explode with an identical result because the pair count is
    frequency-weighted (``sum(f)``). A token contributes a repeated
    pair once per position ("aaa" → "aa" twice), matching textbook BPE
    counting. Top-k is again a sort+limit heap."""
    docs = parallel_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    tf = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    pr = (
        tf.filter(F.length("word") >= 2)
        .select(
            "word",
            "f",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.expr("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
    )
    return (
        pr.groupBy("pair")
        .agg(
            F.sum("f").alias("n"),
            F.count_distinct("word").alias("n_types"),
        )
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOPK)
    )


# --------------------------------------------------------------------------
# text_compression_ratio — zlib compressibility quality signal
# --------------------------------------------------------------------------

_ZLIB_LEVEL = 6
# Gopher-style boilerplate flag: extremely compressible text (templated
# markup, repeated spans) — integer-percent threshold on deflate ratio.
_ZLIB_FLAG_BELOW_PCT = 35


def compression_ratio(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, raw_len, comp_len, ratio_bp, flag_boilerplate) — per-doc
    zlib(deflate, level 6) compressibility. See ``text_compression_ratio``."""
    import pandas as pd  # noqa: F401 — Arrow batches arrive as pandas

    def _batches(it):
        import zlib

        for pdf in it:
            raw = pdf[text_col].str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(
                lambda b: len(zlib.compress(b, _ZLIB_LEVEL))
            ).astype("int64")
            # EXACT integer basis points (floor), never a rounded float:
            # ratios like 207/480 = 0.43125 sit ON the half-grid and
            # round differently across float paths — integer math is the
            # same policy the pipeline samplers use (pipeline.py doc).
            ratio_bp = (comp_len * 10_000) // raw_len.clip(lower=1)
            out = pdf[["doc_id"]].copy()
            out["raw_len"] = raw_len.astype("int32")
            out["comp_len"] = comp_len.astype("int32")
            out["ratio_bp"] = ratio_bp.astype("int32")
            out["flag_boilerplate"] = comp_len * 100 < _ZLIB_FLAG_BELOW_PCT * raw_len
            yield out

    return docs.select("doc_id", text_col).mapInPandas(
        _batches,
        "doc_id long, raw_len int, comp_len int, ratio_bp int, "
        "flag_boilerplate boolean",
    )


@register(
    "text_compression_ratio",
    tags=("b10",),
    oracle=None,  # zlib is not SQL-expressible; exactness pinned by the
    # pytest replay against Python's zlib on the same bytes
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality scoring: per-document deflate ratio
    (zlib level 6), the Gopher/Dolma-class signal for templated
    boilerplate (very low ratio) and binary-ish noise (ratio ≈ 1) that
    length/stopword heuristics (``text_quality``) miss.

    Rows-only BY DESIGN: a DEFLATE encoder is not expressible in SQL,
    so there is no DuckDB oracle — instead the pytest suite replays
    Python's zlib on the same UTF-8 bytes and asserts EXACT equality
    of every output row, plus the monotonicity property (repetitive
    text compresses strictly better than high-entropy text).

    Plan/scale: compression is CPU-dense narrow work — Arrow-batched
    ``mapInPandas`` over a parallelism-guarded scan, zero shuffle; at
    100 TB this runs embarrassingly parallel at scan locality, exactly
    like the multimodal decode path (``multimodal.py`` notes). Bytes
    cross to Python once per row; output is 5 small columns."""
    return compression_ratio(parallel_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# text_line_dedup — C4-style boilerplate segment removal (round 7)
# --------------------------------------------------------------------------

_LD_W = 4  # tokens per segment ("pseudo-line" — fixture text has no \n)
_LD_HOT = 3  # segments occurring >= this many times corpus-wide are removed


@register(
    "text_line_dedup",
    tags=("b10",),
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        seg AS (
            SELECT doc_id, i AS s,
                   array_to_string(
                       w[(i * {_LD_W} + 1):(i * {_LD_W} + {_LD_W})], ' '
                   ) AS seg
            FROM tok,
                 unnest(range(0, CAST(ceil(len(w) / {_LD_W}.0) AS BIGINT)))
                     AS r(i)
        ),
        hot AS (
            SELECT ('0x' || substr(md5(seg), 1, 15))::BIGINT AS h
            FROM seg GROUP BY 1 HAVING COUNT(*) >= {_LD_HOT}
        ),
        kept AS (
            SELECT doc_id, s, seg FROM seg
            WHERE ('0x' || substr(md5(seg), 1, 15))::BIGINT
                  NOT IN (SELECT h FROM hot)
        ),
        re AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS INT) AS n_seg_kept,
                   string_agg(seg, ' ' ORDER BY s) AS kept_text
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(ceil(len(t.w) / {_LD_W}.0) AS INT) AS n_seg,
               COALESCE(re.n_seg_kept, 0) AS n_seg_kept,
               COALESCE(re.kept_text, '') AS kept_text
        FROM tok t LEFT JOIN re ON re.doc_id = t.doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate LINE removal: any segment occurring >= 3
    times anywhere in the corpus is dropped from every document, and
    each document is reassembled in original segment order (C4 §2.1
    discards "any line occurring three or more times"; the fixture
    text has no newlines, so consecutive 4-token windows stand in as
    pseudo-lines — the pipeline shape, not the tokenizer, is the
    operator).

    Plan (the 100 TB shape): segments explode as a NARROW projection;
    corpus-wide counts are ONE hash-agg over 60-bit segment hashes
    (map-side partials collapse, wire volume is segment-vocab-sized);
    the removal list — the small side by construction — broadcasts
    back as a hash anti-join, so the corpus stream is never shuffled
    for the lookup (the decontam_ngram hot-list discipline); the only
    corpus-sized shuffle is the per-document reassembly (doc-keyed
    collect_list + array_sort on the (position, segment) struct —
    ordering recovers exactly, no window sort). Docs whose every
    segment was boilerplate survive via the left join with empty
    text."""
    from nchu_bigdata_spark.operators.dedup import _h60

    docs = parallel_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    nseg = F.ceil(F.size(w) / F.lit(float(_LD_W))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.struct(
            i.alias("s"),
            F.concat_ws(" ", F.slice(w, i * _LD_W + 1, _LD_W)).alias("seg"),
        ),
    )
    base = docs.select("doc_id", nseg.alias("n_seg"), segs.alias("segs"))
    exploded = base.select(
        "doc_id", F.explode("segs").alias("e")
    ).select("doc_id", "e.s", "e.seg", _h60(F.col("e.seg")).alias("h"))
    hot = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _LD_HOT)
        .select("h")
    )
    kept = exploded.join(F.broadcast(hot), "h", "left_anti")
    re = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_seg_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return (
        base.select("doc_id", "n_seg")
        .join(re, "doc_id", "left")
        .select(
            "doc_id",
            "n_seg",
            F.coalesce("n_seg_kept", F.lit(0)).alias("n_seg_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


# --------------------------------------------------------------------------
# text_diversity — lexical diversity per language slice (round 8)
# --------------------------------------------------------------------------


@register(
    "text_diversity",
    tags=("b10",),
    oracle="""
        -- corpus lexical-diversity profile per language: vocabulary
        -- size (types), token mass, type-token ratio, and the Simpson
        -- collision index (probability two random tokens are the same
        -- word — the repetitiveness number dedup thresholds calibrate
        -- against). Shares are floor cross-multiplies; the c² sum
        -- rides HUGEINT <-> decimal(38,0) so no engine wraps.
        WITH wc AS (
            SELECT lang, w AS word, COUNT(*) AS c
            FROM documents, unnest(string_split(text, ' ')) AS t(w)
            GROUP BY lang, w
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) * 10000 // SUM(c) AS BIGINT) AS ttr_bp,
               CAST(SUM(CAST(c AS HUGEINT) * c) * 1000000
                    // (CAST(SUM(c) AS HUGEINT) * SUM(c))
                    AS BIGINT) AS simpson_ppm
        FROM wc
        GROUP BY lang
    """,
)
def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per language slice: type count,
    token count, type-token ratio (basis points), and the Simpson
    collision index (parts-per-million probability that two randomly
    drawn tokens are the same word). TTR says how fast vocabulary
    grows; Simpson says how template-/boilerplate-heavy the slice is
    — together the first corpus-health dashboard a training-data
    pipeline runs after language ID.

    Determinism: everything is counting. The only divisions are floor
    cross-multiplies (`types·10⁴ div tokens`, `Σc²·10⁶ div tokens²`)
    with the Σc² and tokens² legs in decimal(38,0)/HUGEINT — at
    ~2.5e13 tokens per language (100 TB), tokens² ≈ 6e26 and Σc² can
    approach it, far past int64 but inside 38 digits.

    Plan/scale: tokenize-explode is a narrow codegen stage over the
    scan; ONE (lang, word) hash agg with map-side combine collapses
    the token stream to vocabulary cardinality; the per-lang rollup is
    a second tiny agg on the same lang key. No window, no join, no
    driver materialization."""
    toks = parallel_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    wc = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.expr("count(1) * 10000 div sum(c)").cast("long").alias("ttr_bp"),
        F.expr(
            "sum(CAST(c AS decimal(38,0)) * c) * 1000000"
            " div (CAST(sum(c) AS decimal(38,0)) * sum(c))"
        )
        .cast("long")
        .alias("simpson_ppm"),
    )


# --------------------------------------------------------------------------
# text_k_anonymity — k-anonymity audit / suppression (round 8)
# --------------------------------------------------------------------------

_KA_K = 5  # minimum equivalence-class size
_KA_BUCKET = 100  # n_chars generalization width


@register(
    "text_k_anonymity",
    tags=("b10",),
    oracle=f"""
        -- k-anonymity release audit over the documents table:
        -- quasi-identifier tuple (lang, source, length-bucket) forms
        -- equivalence classes; classes of size >= k={_KA_K} release
        -- as-is, everything smaller collapses into ONE fully
        -- generalized bucket ('*','*',-1) — the suppression step of a
        -- Mondrian-style anonymizer, and the re-identification-risk
        -- report a privacy review asks for before a corpus ships.
        WITH g AS (
            SELECT lang, source, n_chars // {_KA_BUCKET} AS len_bucket,
                   CAST(COUNT(*) AS BIGINT) AS class_n
            FROM documents GROUP BY 1, 2, 3
        )
        SELECT lang, source, CAST(len_bucket AS BIGINT) AS len_bucket,
               class_n, TRUE AS released
        FROM g WHERE class_n >= {_KA_K}
        UNION ALL
        SELECT '*', '*', CAST(-1 AS BIGINT), CAST(SUM(class_n) AS BIGINT),
               FALSE
        FROM g WHERE class_n < {_KA_K}
        HAVING COUNT(*) > 0
    """,
)
def text_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit with suppression: quasi-identifiers
    (lang, source, 100-char length bucket) partition the corpus into
    equivalence classes; a class releases unmodified only when at
    least k=5 documents share the tuple — smaller classes (each a
    re-identification risk: the tuple pins an individual document)
    collapse into a single fully-generalized ('*','*',-1) bucket whose
    size is reported. The structural privacy gate that runs alongside
    `text_pii_scrub`'s content gate before a corpus ships.

    Plan/scale: ONE map-side-combined hash agg to class cardinality;
    the release/suppress split is two projections of that tiny class
    table (Spark reuses the agg via its shuffle exchange). No window,
    no join, nothing driver-side."""
    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {_KA_BUCKET}").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("class_n"))
    ok = g.where(F.col("class_n") >= _KA_K).select(
        "lang",
        "source",
        F.col("len_bucket").cast("long").alias("len_bucket"),
        "class_n",
        F.lit(True).alias("released"),
    )
    sup = (
        g.where(F.col("class_n") < _KA_K)
        .groupBy()
        .agg(
            F.sum("class_n").cast("long").alias("class_n"),
            F.count(F.lit(1)).alias("_nc"),
        )
        .where(F.col("_nc") > 0)
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            F.lit(-1).cast("long").alias("len_bucket"),
            "class_n",
            F.lit(False).alias("released"),
        )
    )
    return ok.unionByName(sup)


# --------------------------------------------------------------------------
# text_readability — integer Flesch-Kincaid readability profile (round 8)
# --------------------------------------------------------------------------


@register(
    "text_readability",
    tags=("b14",),
    oracle="""
        -- Flesch-Kincaid-style readability per language, in EXACT
        -- integer milli units: words by whitespace split, sentences
        -- by terminal-punctuation runs (>=1 per doc), syllables
        -- approximated by vowel-group runs [aeiouy]+ (the standard
        -- cheap proxy) — all three are regexp COUNTS in the portable
        -- pattern subset (fn_regex policy). FK grade in milli =
        -- 390*W div S + 11800*Y div W - 15590 with decimal/HUGEINT
        -- legs; integer div flooring is identical on both engines.
        WITH d AS (
            SELECT lang,
                   CAST(len(regexp_extract_all(text, '[^ ]+', 0))
                        AS BIGINT) AS w,
                   GREATEST(CAST(len(regexp_extract_all(
                       text, '[.!?]+', 0)) AS BIGINT), 1) AS s,
                   CAST(len(regexp_extract_all(
                       lower(text), '[aeiouy]+', 0)) AS BIGINT) AS y
            FROM documents
        ),
        g AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(w) AS BIGINT) AS words,
                   CAST(SUM(s) AS BIGINT) AS sentences,
                   CAST(SUM(y) AS BIGINT) AS syllables
            FROM d GROUP BY lang
        )
        SELECT lang, n_docs, words, sentences, syllables,
               CAST(words * 1000 // sentences AS BIGINT)
                   AS words_per_sentence_milli,
               CAST(syllables * 1000 // words AS BIGINT)
                   AS syllables_per_word_milli,
               CAST(words * 390 // sentences
                    + syllables * 11800 // words
                    - 15590 AS BIGINT) AS fk_grade_milli
        FROM g
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid-style readability profile per language — the
    curation signal behind "too simple / too dense" corpus filters
    (pair with `text_quality`'s ratio gates): words per sentence,
    syllables per word, and the FK grade, all in EXACT integer milli
    units.

    Measurement: words = whitespace-token count; sentences = runs of
    terminal punctuation (floored at 1 per doc); syllables = vowel-
    group runs ``[aeiouy]+`` — the standard cheap proxy. All three
    are ``regexp_count`` expressions inside the engine-portable
    pattern subset (`fn_regex` policy — no lookaround). The FK
    constants (0.39, 11.8, 15.59) enter scaled ×1000 as integer
    literals; the two floor divisions are identical on both engines,
    so the grade is bit-stable with zero float arithmetic.

    Plan/scale: one codegen'd projection (three regexp counts) + one
    language-sized hash agg, map-side combined — zero row-cardinality
    shuffles; the corpus is read ONCE."""
    docs = parallel_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.regexp_count("text", F.lit("[^ ]+")).cast("long").alias("w"),
        F.greatest(
            F.regexp_count("text", F.lit("[.!?]+")).cast("long"), F.lit(1)
        ).alias("s"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("y"),
    )
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("s").cast("long").alias("sentences"),
        F.sum("y").cast("long").alias("syllables"),
    )
    return g.select(
        "lang",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.expr(
            "CAST(CAST(words AS decimal(38,0)) * 1000 div sentences"
            " AS BIGINT)"
        ).alias("words_per_sentence_milli"),
        F.expr(
            "CAST(CAST(syllables AS decimal(38,0)) * 1000 div words"
            " AS BIGINT)"
        ).alias("syllables_per_word_milli"),
        F.expr(
            "CAST(CAST(words AS decimal(38,0)) * 390 div sentences"
            " + CAST(syllables AS decimal(38,0)) * 11800 div words"
            " - 15590 AS BIGINT)"
        ).alias("fk_grade_milli"),
    )


# --------------------------------------------------------------------------
# text_rake_keyphrases — RAKE keyphrase extraction (round 8)
# --------------------------------------------------------------------------

_RAKE_MAX_LEN = 4
_RAKE_TOPK = 20
_RAKE_SCALE = 1_000


@register(
    "text_rake_keyphrases",
    tags=("b10",),
    oracle=f"""
        -- RAKE keyphrase extraction (Rose et al. 2010) in exact
        -- scaled integers: candidate phrases are maximal stopword-
        -- free token runs (<= {_RAKE_MAX_LEN} words, the islands
        -- trick on token positions), each word scores
        -- deg/freq (co-occurrence degree over frequency, x{_RAKE_SCALE}
        -- floor), and a phrase scores the sum of its member words —
        -- multiword phrases whose words travel together rise to the
        -- top. Top-{_RAKE_TOPK} by (score, phrase) both engines.
        WITH tok AS (
            SELECT doc_id, lower(w[i]) AS w, i
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
                 unnest(range(1, len(w) + 1)) AS r(i)
        ),
        nonstop AS (
            SELECT doc_id, w, i,
                   i - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY i) AS isl
            FROM tok WHERE w NOT IN {tuple(STOPWORDS)!r}
        ),
        phrase AS (
            SELECT doc_id, isl,
                   string_agg(w, ' ' ORDER BY i) AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS plen
            FROM nonstop GROUP BY doc_id, isl
            HAVING COUNT(*) <= {_RAKE_MAX_LEN}
        ),
        member AS (
            SELECT p.phrase, p.plen, UNNEST(string_split(p.phrase, ' '))
                       AS w
            FROM phrase p
        ),
        wstat AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS deg
            FROM member GROUP BY w
        ),
        wscore AS (
            SELECT w, CAST(deg * {_RAKE_SCALE} // freq AS BIGINT) AS ws
            FROM wstat
        ),
        pscore AS (
            SELECT m.phrase,
                   CAST(SUM(ws.ws) AS BIGINT) AS score_x{_RAKE_SCALE},
                   CAST(COUNT(*) AS BIGINT) AS n_words_total
            FROM member m JOIN wscore ws ON ws.w = m.w
            GROUP BY m.phrase
        ),
        occ AS (
            SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM phrase GROUP BY phrase
        )
        SELECT p.phrase,
               CAST(p.score_x{_RAKE_SCALE} / o.n_occurrences AS BIGINT)
                   AS score_x{_RAKE_SCALE},
               o.n_occurrences
        FROM pscore p JOIN occ o ON o.phrase = p.phrase
        ORDER BY 2 DESC, 1
        LIMIT {_RAKE_TOPK}
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) in exact scaled
    integers: candidate phrases are maximal stopword-free token runs
    (the gaps-and-islands trick on token positions, capped at
    {n} words), every word scores its co-occurrence DEGREE over its
    FREQUENCY (x{s} floor — words that travel inside long phrases
    outrank words that appear alone), and a phrase scores the sum of
    its member-word scores. The classic unsupervised keyword
    extractor — corpus topic labeling, search-facet mining, and
    prompt-template discovery all start here — and unlike TF-IDF
    (`text_tokenize_tfidf`) it surfaces MULTIWORD units.

    Exactness: scores are floor-divided scaled integers end to end
    (deg·{s} div freq summed per phrase, normalized by occurrence
    count with integer division); top-{k} ties break on the phrase
    string — bit-identical cross-engine, no tf-idf-style float logs.

    Plan/scale: tokenization explodes in the scan projection; the
    island window keys on doc_id (per-doc state = token count); word
    stats and phrase scores are vocabulary-/phrase-cardinality
    map-side aggs; TakeOrdered merges per-partition top-{k} heaps —
    no global sort."""
    docs = parallel_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("i", "w"),
    )
    nonstop = tok.filter(~F.col("w").isin(*STOPWORDS)).select(
        "doc_id",
        "w",
        "i",
        (
            F.col("i")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("i")
            )
        ).alias("isl"),
    )
    phrase = (
        nonstop.groupBy("doc_id", "isl")
        .agg(
            F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct("i", "w"))
            ).getField("w")).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    member = phrase.select(
        "phrase", "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    wscore = (
        member.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select("w", F.expr(f"CAST(deg * {_RAKE_SCALE} div freq AS BIGINT)").alias("ws"))
    )
    score_col = f"score_x{_RAKE_SCALE}"
    pscore = (
        member.join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("ws").cast("long").alias("raw"))
    )
    occ = phrase.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    return (
        pscore.join(occ, "phrase")
        .select(
            "phrase",
            F.expr("CAST(raw div n_occurrences AS BIGINT)").alias(score_col),
            "n_occurrences",
        )
        .orderBy(F.desc(score_col), "phrase")
        .limit(_RAKE_TOPK)
    )


# --------------------------------------------------------------------------
# text_lang_confusion — language-ID confusion matrix (round 8)
# --------------------------------------------------------------------------


@register(
    "text_lang_confusion",
    tags=("b10",),
    oracle=f"""
        {_SQL_LANGID_CHAIN},
        cm AS (
            SELECT true_lang, pred_lang,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM pred GROUP BY true_lang, pred_lang
        ),
        row_tot AS (
            SELECT true_lang, CAST(SUM(n) AS BIGINT) AS n_true
            FROM cm GROUP BY true_lang
        ),
        col_tot AS (
            SELECT pred_lang, CAST(SUM(n) AS BIGINT) AS n_pred
            FROM cm GROUP BY pred_lang
        )
        -- confusion matrix + the per-cell recall/precision shares a
        -- model eval actually reads: recall_bp = cell/row (how much
        -- of true L lands here), precision_bp = cell/column (how much
        -- of predicted L really is L). Re-aggregates the SAME NB
        -- chain text_langid certifies — the matrix can't drift from
        -- the classifier.
        SELECT cm.true_lang, cm.pred_lang, cm.n,
               CAST(cm.n * 10000 // rt.n_true AS BIGINT) AS recall_bp,
               CAST(cm.n * 10000 // ct.n_pred AS BIGINT) AS precision_bp
        FROM cm
        JOIN row_tot rt ON rt.true_lang = cm.true_lang
        JOIN col_tot ct ON ct.pred_lang = cm.pred_lang
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: per (true, predicted) cell, the
    count plus the per-cell recall share (cell over its TRUE row) and
    precision share (cell over its PREDICTED column) in exact basis
    points — the table a classifier eval actually reads, because
    aggregate accuracy hides exactly the thing that matters (WHICH
    languages leak into which: a de→nl cell and an en→de cell are
    different bugs with different fixes, same accuracy).

    Composition is literal (the `dedup_cluster_stats` pattern): the
    engine re-aggregates the registered `text_langid` output
    UNCHANGED, and the oracle re-aggregates the SAME shared NB chain
    (`_SQL_LANGID_CHAIN`) — the matrix cannot drift from the
    classifier it evaluates.

    Plan/scale: three langs²-cardinality aggregates over the per-doc
    prediction table + two vocabulary-sized total joins — everything
    past the classifier's own shuffles is matrix-sized."""
    pred = text_langid(spark, sf_dir)
    cm = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rt = cm.groupBy("true_lang").agg(
        F.sum("n").cast("long").alias("n_true")
    )
    ct = cm.groupBy("pred_lang").agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    return (
        cm.join(rt, "true_lang")
        .join(ct, "pred_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.expr("CAST(n * 10000 div n_true AS BIGINT)").alias(
                "recall_bp"
            ),
            F.expr("CAST(n * 10000 div n_pred AS BIGINT)").alias(
                "precision_bp"
            ),
        )
    )


# --------------------------------------------------------------------------
# text_code_detection — code-vs-prose heuristic flags (round 8)
# --------------------------------------------------------------------------

# Rule thresholds (exact integer bp tests): a doc reads as code when
# symbol density is high AND word-shape density is low — prose has
# ~one symbol per sentence, code has one per token.
_CODE_SYMBOL_BP = 800  # symbols > 8% of chars
_CODE_ALPHA_BP = 6_000  # alphabetic share < 60%


@register(
    "text_code_detection",
    tags=("b10",),
    oracle=f"""
        -- code-vs-prose screen per document: exact character-class
        -- densities (symbols {{}}()[];=<>, digits, alphabetic) in
        -- floor bp, and the two-rule flag (symbol-heavy AND
        -- alpha-light). Training-mix curation needs this split —
        -- code and prose want different dedup thresholds, different
        -- quality filters, and an explicit mixture weight
        -- (mixture_weights) rather than whatever the crawl happened
        -- to fetch. Densities via length-difference counting
        -- (len(x) - len(translate/regexp_strip(x))) — pure string
        -- kernels, identical on both engines.
        WITH c AS (
            SELECT doc_id, lang,
                   CAST(len(text) AS BIGINT) AS n_chars,
                   CAST(len(text) - len(regexp_replace(text,
                        '[{{}}()\\[\\];=<>]', '', 'g')) AS BIGINT)
                       AS n_symbols,
                   CAST(len(text) - len(regexp_replace(text,
                        '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                   CAST(len(text) - len(regexp_replace(text,
                        '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha
            FROM documents WHERE len(text) > 0
        )
        SELECT doc_id, lang, n_chars,
               CAST(n_symbols * 10000 // n_chars AS BIGINT)
                   AS symbol_bp,
               CAST(n_digits * 10000 // n_chars AS BIGINT) AS digit_bp,
               CAST(n_alpha * 10000 // n_chars AS BIGINT) AS alpha_bp,
               CAST(n_symbols * 10000 // n_chars > {_CODE_SYMBOL_BP}
                    AND n_alpha * 10000 // n_chars < {_CODE_ALPHA_BP}
                    AS INT) AS is_code
        FROM c
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen per document: exact character-class
    densities (bracket/operator symbols, digits, alphabetics) in
    floor basis points, plus the two-rule flag — symbol-heavy
    (>{sy} bp) AND alpha-light (<{al} bp). Training-mix curation
    needs this split before anything else touches the corpus: code
    and prose want DIFFERENT dedup thresholds (code legitimately
    repeats), different quality filters (stopword ratios condemn
    every program ever written), and an explicit mixture weight
    (`mixture_weights`) instead of whatever the crawl fetched.
    Named-rule flags with evidence columns, the `events_bot_flags`
    philosophy applied to text.

    Exactness: densities count by LENGTH DIFFERENCE after a
    character-class strip — regexp_replace with an identical
    character-class pattern on both engines — then floor-div bp;
    no tokenizer, no float ratios.

    Plan/scale: one codegen'd projection over the scan, zero
    shuffle; per-doc output."""
    docs = parallel_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    c = docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.expr(
            "CAST((length(text) - length(regexp_replace(text,"
            " '[{}()\\\\[\\\\];=<>]', ''))) * 10000"
            " div length(text) AS BIGINT)"
        ).alias("symbol_bp"),
        F.expr(
            "CAST((length(text) - length(regexp_replace(text,"
            " '[0-9]', ''))) * 10000 div length(text) AS BIGINT)"
        ).alias("digit_bp"),
        F.expr(
            "CAST((length(text) - length(regexp_replace(text,"
            " '[a-zA-Z]', ''))) * 10000 div length(text) AS BIGINT)"
        ).alias("alpha_bp"),
    )
    return c.select(
        "doc_id",
        "lang",
        "n_chars",
        "symbol_bp",
        "digit_bp",
        "alpha_bp",
        (
            (F.col("symbol_bp") > _CODE_SYMBOL_BP)
            & (F.col("alpha_bp") < _CODE_ALPHA_BP)
        )
        .cast("int")
        .alias("is_code"),
    )


# --------------------------------------------------------------------------
# text_vocab_overlap — cross-language vocabulary sharing (round 8)
# --------------------------------------------------------------------------

_VOVERLAP_TOPK = 100


@register(
    "text_vocab_overlap",
    tags=("b10",),
    oracle=f"""
        -- cross-language TOP-{_VOVERLAP_TOPK} vocabulary overlap
        -- matrix: for every ordered language pair, how many of each
        -- side's top tokens are shared, as exact Jaccard bp — the
        -- "can these languages share a tokenizer / an embedding
        -- space" prior (high overlap = shared subwords pay off; zero
        -- overlap = per-language vocab budgets). Top-k per language
        -- by (count desc, word) so the vocabulary itself is
        -- deterministic.
        WITH tok AS (
            SELECT lang, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        wc AS (
            SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY lang, word
        ),
        top AS (
            SELECT lang, word FROM (
                SELECT lang, word,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang ORDER BY c DESC, word
                       ) AS rk
                FROM wc
            ) WHERE rk <= {_VOVERLAP_TOPK}
        ),
        pairs AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM top a JOIN top b
              ON a.word = b.word AND a.lang < b.lang
            GROUP BY a.lang, b.lang
        ),
        alllang AS (SELECT DISTINCT lang FROM top)
        SELECT x.lang AS lang_a, y.lang AS lang_b,
               CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
               CAST(COALESCE(p.n_shared, 0) * 10000
                    // (2 * {_VOVERLAP_TOPK} - COALESCE(p.n_shared, 0))
                    AS BIGINT) AS jaccard_bp
        FROM alllang x
        JOIN alllang y ON x.lang < y.lang
        LEFT JOIN pairs p ON p.lang_a = x.lang AND p.lang_b = y.lang
    """,
)
def text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language top-{k} vocabulary overlap matrix: for every
    language pair, how many of each side's top-{k} tokens are shared,
    as exact Jaccard basis points. This is the "can these languages
    share a tokenizer / an embedding space" prior a multilingual
    pipeline reads before allocating vocab budget: high overlap means
    shared subwords pay off (`text_bpe_pairs` across the union);
    near-zero overlap means per-language budgets and the shared
    space is wasted capacity. Zero-overlap pairs stay in the matrix
    (LEFT join from the language lattice) — an absent row reads as
    "unknown", a zero row reads as "measured: nothing shared".

    Determinism: per-language top-{k} by (count desc, word) pins the
    vocabulary itself; both top sets have exactly {k} entries, so
    jaccard = shared / (2·{k} − shared) is a pure integer formula.

    Plan/scale: vocab-sized word counts (map-side), a per-language
    rank window over vocab cardinality, and a word-keyed self-join
    bounded by langs·{k} rows — matrix-sized everything."""
    docs = parallel_table(spark, sf_dir, "documents")
    wc = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "word")
    top = (
        wc.select("lang", "word", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _VOVERLAP_TOPK)
        .select("lang", "word")
    )
    pairs = (
        top.alias("a")
        .join(top.alias("b"), "word")
        .filter(F.col("a.lang") < F.col("b.lang"))
        .groupBy(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    langs = top.select("lang").distinct()
    lattice = (
        langs.select(F.col("lang").alias("lang_a"))
        .crossJoin(langs.select(F.col("lang").alias("lang_b")))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    return lattice.join(pairs, ["lang_a", "lang_b"], "left").select(
        "lang_a",
        "lang_b",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        F.expr(
            f"CAST(COALESCE(n_shared, 0) * 10000 div"
            f" (2 * {_VOVERLAP_TOPK} - COALESCE(n_shared, 0)) AS BIGINT)"
        ).alias("jaccard_bp"),
    )


# --------------------------------------------------------------------------
# text_feature_hashing — hashing-trick collision audit (round 8)
# --------------------------------------------------------------------------

_FH_BUCKETS = 1024


@register(
    "text_feature_hashing",
    tags=("b8",),
    oracle=f"""
        -- The hashing trick, audited: map every distinct token to one
        -- of {_FH_BUCKETS} feature buckets (md5 mod B -- no vocabulary
        -- to build, ship, or version) and report the bucket-load
        -- histogram: how many buckets hold L distinct tokens. The
        -- collision profile IS the quality bill for vocabulary-free
        -- features -- loads >> avg mean colliding tokens share a
        -- weight; the histogram says whether B is big enough before
        -- any model trains.
        WITH tok AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        b AS (
            SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT
                       % {_FH_BUCKETS} AS bucket
            FROM tok
        ),
        l AS (
            SELECT bucket, COUNT(*) AS load FROM b GROUP BY bucket
        )
        SELECT CAST(load AS BIGINT) AS bucket_load,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(COUNT(*) * 10000 // {_FH_BUCKETS} AS BIGINT)
                   AS share_bp
        FROM l GROUP BY load
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick, audited: map every distinct corpus token to
    one of {b} feature buckets (md5 mod B — no vocabulary to build,
    ship, or version; the stateless featurizer behind
    HashingVectorizer / Vowpal-Wabbit-style pipelines) and report the
    bucket-load histogram: how many buckets hold L distinct tokens.
    The collision profile IS the quality bill of vocabulary-free
    features — tokens sharing a bucket share a model weight — and the
    histogram answers "is B big enough" BEFORE any model trains.
    Empty buckets appear as the gap between Σn_buckets and B.

    Exactness: the module's md5-prefix hash (pure key function,
    engine-independent); loads and shares are integers.

    Plan/scale: tokenization explodes inside the scan stage; ONE
    distinct shuffle on token (the vocabulary pass every text op
    here pays), one map-side bucket rollup ({b} groups), one load
    rollup. No vocabulary table survives the query — that's the
    point of the trick."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    b = tok.select(
        (
            F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
            % _FH_BUCKETS
        ).alias("bucket")
    )
    l = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("load"))
    return l.groupBy(F.col("load").cast("long").alias("bucket_load")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr(f"CAST(COUNT(*) * 10000 div {_FH_BUCKETS} AS BIGINT)").alias(
            "share_bp"
        ),
    )


# --------------------------------------------------------------------------
# text_vocab_mass_ladder — Zipf coverage curve (round 8)
# --------------------------------------------------------------------------

_VML_RUNGS = (1, 10, 100, 1000)


@register(
    "text_vocab_mass_ladder",
    tags=("b8",),
    oracle=f"""
        -- Vocabulary mass ladder: what share of ALL token
        -- occurrences do the top-1 / top-10 / top-100 / top-1000
        -- most frequent types cover? THE tokenizer-design readout --
        -- it says how big a vocab must be before OOV mass is
        -- tolerable (tokenize_vocab_coverage asks that about a GIVEN
        -- vocab; this derives the curve a vocab should be cut from).
        -- Exact: frequency ranks tie-broken by token text, coverage
        -- in floor bp over integer occurrence counts.
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT token, COUNT(*) AS c FROM tok GROUP BY token
        ),
        r AS (
            SELECT c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rnk,
                   SUM(c) OVER () AS total
            FROM tf
        ),
        cum AS (
            SELECT rnk, total,
                   SUM(c) OVER (ORDER BY rnk) AS cum_c
            FROM r
        )
        SELECT CAST(k AS BIGINT) AS top_k,
               CAST(MAX(CASE WHEN rnk <= k THEN cum_c END) AS BIGINT)
                   AS covered_tokens,
               CAST(MAX(total) AS BIGINT) AS total_tokens,
               CAST(MAX(CASE WHEN rnk <= k THEN cum_c END) * 10000
                    // MAX(total) AS BIGINT) AS coverage_bp
        FROM cum
        CROSS JOIN (SELECT unnest(ARRAY{list(_VML_RUNGS)}) AS k)
        GROUP BY k
    """,
)
def text_vocab_mass_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary mass ladder — the Zipf coverage curve: what share of
    ALL token occurrences do the top-1/10/100/1000 most frequent
    types cover? THE tokenizer-design readout: it says how big a
    vocabulary must be before OOV mass is tolerable.
    `tokenize_vocab_coverage` asks that about a GIVEN vocab; this
    derives the curve a vocab should be CUT from — together they're
    the before/after of vocabulary design.

    Exactness: frequency ranks tie-break on token text (stable),
    coverage is floor bp over exact integer occurrence counts.

    Plan/scale: tokenize explodes in the scan stage; ONE token
    groupBy (the vocabulary pass); the rank/cumulative windows run
    over TYPE cardinality (vocabulary-bounded, not corpus-bounded) —
    at 100 TB the vocab table is millions of rows where the corpus is
    trillions, and only the vocab is windowed."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rnk = Window.orderBy(F.col("c").desc(), "token")
    w_all = Window.partitionBy()
    r = tf.select(
        "c",
        F.row_number().over(w_rnk).alias("rnk"),
        F.sum("c").over(w_all).alias("total"),
    )
    cum = r.select(
        "rnk",
        "total",
        F.sum("c").over(Window.orderBy("rnk")).alias("cum_c"),
    )
    k = F.explode(
        F.array(*[F.lit(x) for x in _VML_RUNGS])
    ).alias("k")
    return (
        cum.select("rnk", "total", "cum_c", k)
        .groupBy(F.col("k").cast("long").alias("top_k"))
        .agg(
            F.max(F.expr("CASE WHEN rnk <= k THEN cum_c END"))
            .cast("long")
            .alias("covered_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
            F.expr(
                "CAST(MAX(CASE WHEN rnk <= k THEN cum_c END) * 10000"
                " div MAX(total) AS BIGINT)"
            ).alias("coverage_bp"),
        )
    )


# --------------------------------------------------------------------------
# text_novelty — first-occurrence n-gram novelty per document (round 11)
# --------------------------------------------------------------------------

_NOV_N = 3  # words per shingle


@register(
    "text_novelty",
    tags=("b10",),
    oracle=f"""
        -- First-occurrence novelty audit: a document's DISTINCT word
        -- {_NOV_N}-gram shingles, split into those this document
        -- introduces to the corpus (its doc_id is the MINIMUM over all
        -- docs containing the shingle) vs those already seen in a
        -- lower-id document. The per-doc novel fraction (bp) is the
        -- marginal-contribution score incremental curation orders by:
        -- a near-zero novelty_bp doc adds nothing the corpus prefix
        -- did not already contain (the set-cover view of dedup).
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS tok FROM documents
        ),
        s AS (
            SELECT DISTINCT doc_id,
                   array_to_string(tok[i:i + {_NOV_N} - 1], ' ') AS sh
            FROM (
                SELECT doc_id, tok,
                       unnest(generate_series(1, len(tok) - {_NOV_N} + 1))
                           AS i
                FROM d WHERE len(tok) >= {_NOV_N}
            )
        ),
        first AS (SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh),
        per AS (
            SELECT s.doc_id,
                   COUNT(*) AS n_shingles,
                   SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                       AS n_novel
            FROM s JOIN first f USING (sh) GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
               CAST(CASE WHEN COALESCE(per.n_shingles, 0) = 0 THEN 0
                         ELSE per.n_novel * 10000 // per.n_shingles
                    END AS BIGINT) AS novelty_bp
        FROM d LEFT JOIN per USING (doc_id)
    """,
)
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence n-gram NOVELTY per document: of a doc's
    distinct word {n}-gram shingles, how many does it introduce to the
    corpus (no lower-doc_id document contains them)? novelty_bp is the
    marginal-contribution readout incremental curation ranks by — the
    streaming/set-cover complement to `dedup_substring_spans` (which
    asks "how much of me is duplicated ANYWHERE", order-free) and
    `decontam_ngram` (which matches against a fixed eval set). The
    doc_id order stands in for arrival order, as in `dedup_incremental`.

    Determinism: MIN(doc_id) is an exact argmin on an integer key;
    shares are floor cross-multiplies; shingles are exact strings.

    Plan/scale: shingling is codegen transform+slice+array_join over
    the scan (same kernel as dedup_substring_spans); `array_distinct`
    dedups WITHIN the doc before the explode so a boilerplate-heavy
    doc can't fan out repeats; the first-occurrence table is ONE
    map-side-combined (shingle) hash agg — content-keyed sharding,
    exactly how a 100 TB first-seen index shards; the flag join is
    shingle-keyed and the rollup doc-keyed. Linear in total distinct
    shingle occurrences; short docs surface as explicit 0-shingle rows
    via the doc-spine left join."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tok")
    )
    sh = docs.filter(F.size("tok") >= _NOV_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(tok) - {_NOV_N}"
                f" + 1), i -> array_join(slice(tok, i, {_NOV_N}), ' ')))"
            )
        ).alias("sh"),
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0"
                " ELSE n_novel * 10000 div n_shingles END AS BIGINT)"
            ).alias("novelty_bp"),
        )
    )


# --------------------------------------------------------------------------
# text_template_prefix — per-source boilerplate prefix audit (round 11)
# --------------------------------------------------------------------------

_TPL_BP = 1500  # templated verdict: shared prefix >= 15% of shortest doc


@register(
    "text_template_prefix",
    tags=("b10",),
    oracle=f"""
        -- Templated-source audit via the longest common prefix of ALL
        -- documents in a source: lcp(group) = lcp(min(text),
        -- max(text)) under binary collation -- the classic order-
        -- statistic trick (any string between the lexicographic
        -- extremes shares at least their common prefix), which turns
        -- an all-pairs scan into ONE min/max aggregate. A high shared-
        -- prefix fraction marks machine-generated/boilerplate feeds
        -- (the crawler-trap signature) that dedup won't catch when
        -- tails differ -- the curation gate reads lcp_bp.
        WITH g AS (
            SELECT source, COUNT(*) AS n_docs, MIN(text) AS lo,
                   MAX(text) AS hi, MIN(length(text)) AS min_len
            FROM documents GROUP BY source
        ),
        l AS (SELECT *, least(length(lo), length(hi)) AS lim FROM g),
        c AS (
            SELECT source, n_docs, min_len,
                   COALESCE(list_min(
                       [p FOR p IN generate_series(1, lim)
                        IF substr(lo, p, 1) <> substr(hi, p, 1)]) - 1,
                       lim) AS lcp_len
            FROM l
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(min_len AS BIGINT) AS min_len,
               CAST(lcp_len AS BIGINT) AS lcp_len,
               CAST(lcp_len * 10000 // min_len AS BIGINT) AS lcp_bp,
               CAST(CASE WHEN lcp_len * 10000 // min_len >= {_TPL_BP}
                         THEN 1 ELSE 0 END AS BIGINT) AS is_templated
        FROM c
    """,
)
def text_template_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TEMPLATE/boilerplate audit: the longest common
    prefix shared by every document a source emits, as a fraction of
    its shortest document. Machine-generated feeds (error pages, SEO
    templates, crawler traps) share long fixed prefixes while their
    tails differ — exactly the shape whole-doc dedup misses and
    `dedup_prefix` only catches pairwise; a source-level lcp_bp ≥
    {_TPL_BP // 100}% is the kill-the-feed signal upstream curation
    acts on.

    The scale trick: lcp(ALL docs) = lcp(lexicographic MIN, MAX) —
    every string between the extremes shares at least their common
    prefix — so the whole audit is ONE map-side-combinable min/max/
    count aggregate per source (strings compare bytewise on the
    ASCII-pinned corpus, identical on both engines) followed by an
    O(len) projection; no pair join, no explode, no second scan. The
    first-mismatch scan indexes a split-once char array (element_at is
    O(1); substring-in-lambda would rescan — the dedup_cdc_chunks
    lesson).

    Exactness: byte-exact string order statistics, integer mismatch
    positions, floor-bp share."""
    g = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("text").alias("lo"),
            F.max("text").alias("hi"),
            F.min(F.length("text")).alias("min_len"),
        )
    )
    return g.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("min_len").cast("long").alias("min_len"),
        F.expr(
            """
            coalesce(
                array_min(filter(
                    sequence(1, least(length(lo), length(hi))),
                    p -> element_at(split(lo, ''), p)
                         <> element_at(split(hi, ''), p))) - 1,
                least(length(lo), length(hi)))
            """
        )
        .cast("long")
        .alias("lcp_len"),
    ).select(
        "source",
        "n_docs",
        "min_len",
        "lcp_len",
        F.expr("CAST(lcp_len * 10000 div min_len AS BIGINT)").alias(
            "lcp_bp"
        ),
        F.expr(
            f"CAST(CASE WHEN lcp_len * 10000 div min_len >= {_TPL_BP}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_templated"),
    )


# --------------------------------------------------------------------------
# text_heaps_law — vocabulary-growth curve at corpus deciles (round 11)
# --------------------------------------------------------------------------


@register(
    "text_heaps_law",
    tags=("text",),
    oracle="""
        -- Heaps'-law curve: V(k) = distinct vocabulary among the
        -- first k documents (ordered by doc_id), sampled at corpus
        -- deciles, plus the cumulative token count T(k) the Heaps
        -- exponent is fit against downstream. Exact counting only:
        -- a term's first appearance is MIN(doc_id) over its postings
        -- (rank is monotone in doc_id, so rank(min id) = min rank),
        -- the decile bucket is the exact ceil-division
        -- (10*r + n - 1) // n over the doc rank, and each decile row
        -- is a cumulative sum over <= 10 bucket rows.
        WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
        spine AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY doc_id) AS r
            FROM documents
        ),
        doc_tokens AS (
            SELECT doc_id, COUNT(*) AS n_tok
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY doc_id
        ),
        tbuck AS (
            SELECT (10 * spine.r + n.n_docs - 1) // n.n_docs AS decile,
                   SUM(dt.n_tok) AS toks, COUNT(*) AS docs
            FROM doc_tokens dt
            JOIN spine USING (doc_id) CROSS JOIN n
            GROUP BY 1
        ),
        first_seen AS (
            SELECT term, MIN(doc_id) AS fr_doc
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY term
        ),
        new_at_doc AS (
            SELECT fr_doc AS doc_id, COUNT(*) AS new_terms
            FROM first_seen GROUP BY 1
        ),
        vbuck AS (
            SELECT (10 * spine.r + n.n_docs - 1) // n.n_docs AS decile,
                   SUM(nd.new_terms) AS new_terms
            FROM new_at_doc nd
            JOIN spine USING (doc_id) CROSS JOIN n
            GROUP BY 1
        ),
        d AS (SELECT DISTINCT decile FROM tbuck)
        SELECT CAST(d.decile AS BIGINT) AS decile,
               CAST(SUM(t2.docs) AS BIGINT) AS k_docs,
               CAST(SUM(t2.toks) AS BIGINT) AS tokens_cum,
               CAST(COALESCE(SUM(v2.new_terms), 0) AS BIGINT)
                   AS vocab_cum
        FROM d
        LEFT JOIN tbuck t2 ON t2.decile <= d.decile
        LEFT JOIN vbuck v2 ON v2.decile = t2.decile
        GROUP BY d.decile
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — V(k) and T(k) at corpus
    deciles, the scaling diagnostic a pretraining-corpus curator reads
    before sizing a tokenizer vocabulary (sublinear V(k) ~ K·T^β with
    β ≈ 0.4-0.6 for natural text; β near 1 flags boilerplate/ID spew,
    near 0 flags template collapse). Complements
    `text_vocab_mass_ladder` (static frequency mass) with the GROWTH
    dimension, and `text_novelty` (per-doc novelty) with the corpus-
    level curve.

    Exact counting end-to-end: doc rank over doc_id comes from the
    repo's DISTRIBUTED two-pass rank (`range_pid_frozen`, the
    win_lorenz pattern — no single-task global window, robust to
    sparse ids), house whitespace tokenization, first appearance =
    MIN(doc_id) per term (rank is monotone in doc_id, so
    rank(min id) = min rank — the rank join happens AFTER the postings
    agg, at entity cardinality), decile bucket = exact ceil-division
    (10·r + n − 1) div n, and each decile row is a cumulative sum over
    ≤ 10 bucket rows.

    Plan/scale: TWO shuffles over token-cardinality data — the
    per-doc token count and the per-term MIN(doc_id) postings agg
    (both partial-aggregable; hot terms combine map-side). The rank
    spine is doc-cardinality and joins only doc-cardinality frames
    (per-doc counts, per-first-doc new-term counts). Everything after
    is ≤ 10 rows. No window over the token stream, no per-checkpoint
    rescan — the checkpoint ladder falls out of ONE pass."""
    docs = table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    # Distributed two-pass rank over the doc-id spine (win_lorenz
    # pattern): range-partition + freeze, per-pid offsets, local
    # row_number.
    pid = range_pid_frozen(
        "text_heaps_law.pid", docs.select("doc_id"), F.col("doc_id")
    )
    pc = pid.groupBy("pid").agg(F.count(F.lit(1)).alias("pn"))
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = pc.select(
        "pid",
        F.coalesce(F.sum("pn").over(w_off), F.lit(0)).alias("off"),
    )
    w_local = Window.partitionBy("pid").orderBy("doc_id")
    spine = (
        pid.withColumn("lrn", F.row_number().over(w_local))
        .join(F.broadcast(off), "pid")
        .select("doc_id", (F.col("off") + F.col("lrn")).alias("r"))
    )

    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    doc_tokens = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    tbuck = (
        doc_tokens.join(spine, "doc_id")
        .crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("(10 * r + n_docs - 1) div n_docs").alias("decile")
        )
        .agg(
            F.sum("n_tok").alias("toks"),
            F.count(F.lit(1)).alias("docs"),
        )
    )
    first_seen = tok.groupBy("term").agg(F.min("doc_id").alias("fr_doc"))
    new_at_doc = first_seen.groupBy(
        F.col("fr_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("new_terms"))
    vbuck = (
        new_at_doc.join(spine, "doc_id")
        .crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("(10 * r + n_docs - 1) div n_docs").alias("decile")
        )
        .agg(F.sum("new_terms").alias("new_terms"))
    )
    d = tbuck.select("decile").distinct()
    joined = d.alias("d").join(
        tbuck.alias("t2"), F.expr("t2.decile <= d.decile"), "left"
    ).join(
        F.broadcast(vbuck.alias("v2")),
        F.expr("v2.decile = t2.decile"),
        "left",
    )
    return joined.groupBy(
        F.col("d.decile").cast("long").alias("decile")
    ).agg(
        F.sum("t2.docs").cast("long").alias("k_docs"),
        F.sum("t2.toks").cast("long").alias("tokens_cum"),
        F.coalesce(F.sum("v2.new_terms"), F.lit(0))
        .cast("long")
        .alias("vocab_cum"),
    )


# --------------------------------------------------------------------------
# text_source_drift — pairwise source-distribution χ² drift (round 11)
# --------------------------------------------------------------------------

_DRIFT_K = 50  # global top-K terms; the tail folds into __OTHER__


@register(
    "text_source_drift",
    tags=("text",),
    oracle=f"""
        -- Pairwise domain-drift matrix: for every source pair, the
        -- two-sample chi-square homogeneity statistic over the
        -- corpus-global top-{_DRIFT_K} term distribution (+ __OTHER__
        -- tail bucket). agg_chi_square's exact-integer cell algebra
        -- applied to token counts: per cell floor(1e4*(O*N-R*C)^2 /
        -- (R*C*N)) with HUGEINT quotient/remainder splits, zero cells
        -- of the term grid included, no floats anywhere.
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        topk AS (
            SELECT term FROM (
                SELECT term, COUNT(*) AS c FROM tok GROUP BY term
                ORDER BY c DESC, term LIMIT {_DRIFT_K}
            )
        ),
        bucketed AS (
            SELECT source,
                   CASE WHEN topk.term IS NULL THEN '__OTHER__'
                        ELSE tok.term END AS term,
                   CAST(COUNT(*) AS HUGEINT) AS o
            FROM tok LEFT JOIN topk ON tok.term = topk.term
            GROUP BY 1, 2
        ),
        srcs AS (SELECT source, SUM(o) AS n_tok FROM bucketed GROUP BY 1),
        terms AS (SELECT DISTINCT term FROM bucketed),
        grid AS (
            SELECT s.source, t.term, s.n_tok,
                   COALESCE(b.o, 0) AS o
            FROM srcs s CROSS JOIN terms t
            LEFT JOIN bucketed b
              ON b.source = s.source AND b.term = t.term
        ),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   a.term,
                   a.o AS oa, b.o AS ob,
                   a.n_tok AS na, b.n_tok AS nb
            FROM grid a JOIN grid b
              ON a.term = b.term AND a.source < b.source
        ),
        cells AS (
            SELECT src_a, src_b, na, nb,
                   -- two cells of the 2 x terms table share
                   -- C = oa + ob and N = na + nb
                   (oa * (na + nb) - na * (oa + ob))
                       * (oa * (na + nb) - na * (oa + ob)) AS numa,
                   na * (oa + ob) * (na + nb) AS dena,
                   (ob * (na + nb) - nb * (oa + ob))
                       * (ob * (na + nb) - nb * (oa + ob)) AS numb,
                   nb * (oa + ob) * (na + nb) AS denb
            FROM pairs
            WHERE oa + ob > 0
        ),
        contrib AS (
            SELECT src_a, src_b, na, nb,
                   (numa // dena) * 10000
                   + ((numa - (numa // dena) * dena) * 10000) // dena
                   + (numb // denb) * 10000
                   + ((numb - (numb // denb) * denb) * 10000) // denb
                       AS cell_e4
            FROM cells
        )
        SELECT src_a, src_b,
               CAST(MIN(na) AS BIGINT) AS n_tok_a,
               CAST(MIN(nb) AS BIGINT) AS n_tok_b,
               CAST(SUM(cell_e4) AS BIGINT) AS chi2_e4
        FROM contrib
        GROUP BY 1, 2
    """,
)
def text_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise domain-drift matrix — the two-sample χ² homogeneity
    statistic between every pair of sources over the corpus-global
    top-K term distribution (tail folded into __OTHER__) — what a
    mixture curator reads to decide which domains are interchangeable
    and which need their own sampling weight (complements
    `text_vocab_overlap`, which compares vocab SETS, not frequency
    SHAPE, and `curate_domain_balance`, which reweights without
    measuring drift). `agg_chi_square`'s exact-integer cell algebra
    applied to token counts: per-cell floor(10⁴(O·N−R·C)²/(R·C·N))
    in decimal(38,0), zero cells of the term grid included, no floats.
    Magnitude envelope: (O·N−R·C)² within 38 digits for pair token
    totals N ≲ 3·10⁹; larger corpora scale counts to a common grid
    first (documented bound, agg_ols_multi's policy).

    Plan/scale: ONE token-cardinality hash agg builds (source, term)
    counts; the global top-K is a TakeOrderedAndProject over the
    term-count agg (distributed top-k, no global sort materialized);
    everything after — grid, pairs, cells — operates on
    |sources|·(K+1) rows, and the pair join is |sources|²·(K+1), both
    dimension-sized. At 100 TB the only full-data passes are the two
    partial-aggregable token aggs."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    topk = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(_DRIFT_K)
        .select("term")
    )
    dec = "decimal(38,0)"
    bucketed = (
        tok.join(
            F.broadcast(topk.withColumn("is_top", F.lit(1))),
            "term",
            "left",
        )
        .select(
            "source",
            F.when(F.col("is_top").isNull(), F.lit("__OTHER__"))
            .otherwise(F.col("term"))
            .alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast(dec).alias("o"))
    )
    srcs = bucketed.groupBy("source").agg(F.sum("o").alias("n_tok"))
    terms = bucketed.select("term").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(terms))
        .join(bucketed, ["source", "term"], "left")
        .select(
            "source",
            "term",
            "n_tok",
            F.coalesce(F.col("o"), F.lit(0).cast(dec)).alias("o"),
        )
    )
    a = grid.select(
        F.col("source").alias("src_a"),
        F.col("term"),
        F.col("o").alias("oa"),
        F.col("n_tok").alias("na"),
    )
    b = grid.select(
        F.col("source").alias("src_b"),
        F.col("term").alias("term_b"),
        F.col("o").alias("ob"),
        F.col("n_tok").alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("term") == F.col("term_b"))
        & (F.col("src_a") < F.col("src_b")),
    ).filter(F.expr("oa + ob > 0"))
    cells = pairs.select(
        "src_a",
        "src_b",
        "na",
        "nb",
        F.expr(
            "(oa * (na + nb) - na * (oa + ob))"
            " * (oa * (na + nb) - na * (oa + ob))"
        ).alias("numa"),
        F.expr("na * (oa + ob) * (na + nb)").alias("dena"),
        F.expr(
            "(ob * (na + nb) - nb * (oa + ob))"
            " * (ob * (na + nb) - nb * (oa + ob))"
        ).alias("numb"),
        F.expr("nb * (oa + ob) * (na + nb)").alias("denb"),
    )
    contrib = cells.select(
        "src_a",
        "src_b",
        "na",
        "nb",
        F.expr(
            "(numa div dena) * 10000"
            " + ((numa - (numa div dena) * dena) * 10000) div dena"
            " + (numb div denb) * 10000"
            " + ((numb - (numb div denb) * denb) * 10000) div denb"
        ).alias("cell_e4"),
    )
    return contrib.groupBy("src_a", "src_b").agg(
        F.min("na").cast("long").alias("n_tok_a"),
        F.min("nb").cast("long").alias("n_tok_b"),
        F.sum("cell_e4").cast("long").alias("chi2_e4"),
    )
