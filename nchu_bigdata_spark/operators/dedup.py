"""Deduplication operators over ``documents`` (SURVEY.md §2.B-10;
north-star LLM-data-pipeline surface).

The reference has no dedup (its whole surface is k-means,
``hadoop_tutorial/src/Kmeans.java``); these generalize its
hash-partition + group-aggregate machinery (``src/Kmeans.java:79,
101-112``) to the standard training-data dedup ladder:

  * ``dedup_exact``        — content-hash groupBy (bit-identical copies)
  * ``dedup_ngram_jaccard`` — shingle inverted-index join, exact Jaccard
  * ``dedup_minhash``      — MinHash signatures + LSH banding, then
                             exact-Jaccard verification of candidates
  * ``dedup_simhash``      — 32-bit SimHash fingerprint + hamming bands
  * ``dedup_simhash_pairs`` — hamming-band candidate join, verified
                             pairs at hamming ≤ 3

Scale notes (100 TB):
  * ``dedup_exact`` is one hash-agg: map-side partial → tiny shuffle of
    (hash, min, count) partials. The canonical first pass.
  * The quadratic danger in similarity dedup is hot shingles (boilerplate
    n-grams shared by millions of docs). Candidate generation therefore
    drops shingles with document frequency > ``_MAX_DF`` *in both
    engines* (stop-shingle removal, standard in MinHash pipelines); the
    surviving inverted-index self-join is near-linear.
  * Candidate verification joins hashed shingle ROWS against the
    (small) candidate-pair list — intersections are counts of matching
    (pair, h) rows; per-doc shingle arrays are never built driver-side
    or shuffled.
  * All hashes are md5-derived (``conv(substr(md5(x),1,15),16,10)``):
    bit-identical on any engine/JVM, so the DuckDB oracle can replay
    signatures exactly. At production scale swap ``xxhash64`` (same plan
    shape, cheaper) — portability is only needed for the differential
    gate.

Determinism: MinHash/SimHash are integer arithmetic end-to-end (no
floats), so results are bit-stable regardless of partial-agg order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dround, sql_dround
from nchu_bigdata_spark.io import parallel_table, table
from nchu_bigdata_spark.materialize import current_run, shared_intermediate
from nchu_bigdata_spark.registry import register

_K = 3  # tokens per shingle
_MAX_DF = 100  # stop-shingle cutoff for candidate generation
_JACCARD_T = 0.5  # near-dup threshold
_H = 32  # minhash functions
_BANDS, _ROWS = 8, 4  # LSH banding: 8 bands x 4 rows = 32

# Universal-hash family for MinHash: mh_i(s) = (A[i]*h32(s) + B[i]) mod P.
# One md5 per shingle; the _H permutations are integer arithmetic, so the
# per-shingle cost is 1 hash + _H mult-adds instead of _H salted hashes.
# P is the smallest prime > 2^32; A < 2^30 keeps A*h < 2^62 (no int64
# overflow in either engine). Constants are fixed (seed 20260813) so the
# DuckDB oracle replays signatures bit-for-bit.
_P = 4294967311
_A = [1064082031, 199401392, 298493742, 573612697, 958392528, 739673739,
      486173717, 58225162, 145609951, 215489561, 117017238, 703471044,
      880590498, 633842771, 462017659, 586349398, 1019488620, 201319703,
      1071644562, 678835136, 677911910, 1056605313, 334462875, 126328945,
      588912590, 214015921, 848272349, 115448327, 397332018, 879404501,
      740016488, 429239620]
_B = [527406850, 106582524, 87966394, 666804717, 490296874, 955195195,
      331877174, 890048279, 664594620, 970348799, 767008894, 811038816,
      297044272, 788724776, 1035172614, 307572219, 961940036, 104594903,
      780298046, 659097172, 149015098, 498454948, 559603889, 786406854,
      789412482, 50110506, 306798126, 794769926, 638166887, 303201955,
      27439071, 669514760]


def _h60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as int64.
    Oracle form: ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _h32(col: Column) -> Column:
    """Portable 32-bit hash (first 8 hex chars of md5)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingle_set(text: Column | None = None) -> Column:
    """Distinct k-token shingles of a document — a narrow expression
    (no shuffle): split → slide a k-window → distinct."""
    w = F.split(F.col("text") if text is None else text, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(w) - _K),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, _K)),
        )
    )


def _doc_shingle_hashes(
    docs: DataFrame, hash_fn: Callable[[Column], Column]
) -> DataFrame:
    """(doc_id, h) exploded distinct shingle hashes, ``h = hash_fn(shingle)``.
    MinHash and Jaccard verification only ever need shingle *identity*,
    never the text, so hashing at materialization time (one md5 per
    shingle, computed exactly once) shrinks the persisted intermediate
    to two int64 columns and makes every downstream join/agg key a long.
    ``array_distinct`` after hashing keeps per-doc sets exact even if
    two shingles collide — the oracle applies the same DISTINCT so both
    engines agree bit-for-bit.

    The width is the caller's choice:
      * ``_h32`` for MinHash signatures — REQUIRED, not just convenient:
        the universal-hash family needs h < 2^32 so A*h stays below 2^62
        without int64 overflow.
      * ``_h60`` for exact-Jaccard tables — cross-doc 32-bit collisions
        count as spurious intersections and same-doc collisions shrink
        set sizes, drifting the emitted Jaccard above the true shingle
        Jaccard at corpus scale (millions of distinct shingles make
        32-bit collisions routine). At 60 bits the collision probability
        is negligible while the join key stays a plain int64."""
    hs = F.array_distinct(F.transform(shingle_set(), hash_fn))
    return (
        docs.filter(F.size(F.split("text", " ")) >= _K)
        .select("doc_id", F.explode(hs).alias("h"))
    )


def _minhash_signature(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m31) MinHash signatures of exploded ``(doc_id, h)``
    32-bit shingle hashes: ``m_i = min((A[i]*h + B[i]) mod P)``, the only
    Spark-side MinHash arithmetic (the oracles replay it in ``_SQL_MH_CORE``).

    The ``_H`` permutations are parallel ``min`` aggregates of a single
    ``groupBy(doc_id)`` — no ×``_H`` row blowup, no (doc_id, i) composite
    shuffle key; partial mins collapse map-side so one signature row per
    doc crosses the wire. Each min is one SQL expression string (one
    Py4J call) instead of a stack of Column objects — identical
    semantics, measurably cheaper plan construction per build (the
    kmeans ``assign()`` precedent)."""
    return sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({_A[i]} * h + {_B[i]}) % {_P})").alias(f"m{i}")
            for i in range(_H)
        ]
    )


def _band_rows(
    sig: DataFrame, bands: int = _BANDS, rows: int = _ROWS
) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band rows of a ``_minhash_signature``
    frame: band ``b`` keys on ``md5`` of its ``rows`` minhashes
    ``m{b*rows}..`` joined with ``,`` (the oracle's ``string_agg``).
    ``bands × rows`` must not exceed ``_H``. The key array is one SQL
    expression (one Py4J call), posexploded into the band self-join's
    (doc_id + 16-byte key) rows."""
    keys = ", ".join(
        "md5(concat_ws(',', {}))".format(
            ", ".join(f"CAST(m{b * rows + r} AS STRING)" for r in range(rows))
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({keys})")).alias("band_id", "band_key"),
    )


_SQL_SHINGLES = f"""
        tok AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE len(string_split(text, ' ')) >= {_K}
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(w[i : i + {_K} - 1], ' ') AS sh
            FROM tok, unnest(range(1, len(w) - {_K} + 2)) AS r(i)
        )
"""

# --------------------------------------------------------------------------
# dedup_exact — content-hash groups
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    tags=("b10",),
    oracle="""
        SELECT sha256(text) AS content_hash,
               MIN(doc_id) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by sha256(text), keep the lowest doc_id of
    each group. One hash-agg — partials collapse map-side, so only
    (hash, min, count) triples shuffle; the canonical first dedup pass
    at corpus scale. Plain scan: the sha256 hash-agg is cheap
    enough that a repartition costs more than it buys (A/B at sf0.1:
    0.22s plain vs 0.59s guarded)."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# dedup_ngram_jaccard — inverted-index candidates + exact Jaccard
# --------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_SHINGLES},
        sh60 AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
            FROM sh
        ),
        rare AS (
            SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh60 GROUP BY h)
            WHERE df <= {_MAX_DF}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh60 a JOIN sh60 b ON a.h = b.h AND a.doc_id < b.doc_id
            JOIN rare r ON a.h = r.h
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM sh60 GROUP BY doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand c
            JOIN sh60 a ON a.doc_id = c.doc_a
            JOIN sh60 b ON b.doc_id = c.doc_b AND b.h = a.h
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT i.doc_a, i.doc_b, i.n_inter,
               sa.n_sh + sb.n_sh - i.n_inter AS n_union,
               {sql_dround(
                   "i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter"
                   " AS DOUBLE)", 6)} AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
              >= {_JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by {k}-gram Jaccard ≥ {t} over hashed shingle
    identity, candidates from a shingle inverted-index self-join with a
    stop-shingle df cutoff.

    Every join/agg key is an int64 60-bit shingle hash (one md5 per
    shingle at materialization, ``_doc_shingle_hashes``) — at corpus
    scale, shuffling fixed 8-byte hashes instead of arbitrary-length
    shingle STRINGS is the difference between wire volume proportional
    to token bytes and to row count; 60 bits (not 32) keeps hash
    collisions from inflating the verified Jaccard. The DuckDB oracle
    replays the identical hashing, so both engines agree bit-for-bit.

    Plan (round-6 restructure — one pass over the index instead of
    candidate-distinct + double re-join): the global-df split makes the
    intersection separable, ``n_inter = n_inter_rare + |common_a ∩
    common_b|``, because a shared hash has exactly one global df and is
    rare or common for BOTH docs. So

      * the rare-index self-join feeds a hash-agg DIRECTLY — its
        ``count per (doc_a, doc_b)`` IS the rare-intersection size and
        its key set IS the candidate set (no ``distinct()``, and the
        (pair, h) rows never re-join the shingle table);
      * per-doc set size and the (tiny, df-bounded-from-below) hot
        shingle set come from ONE groupBy(doc_id) over the df-annotated
        rows; the common part of each intersection is a JVM-side
        ``array_intersect`` on those per-doc hot sets in the final
        sizes join — each doc carries at most (corpus shingle rows /
        {_MAX_DF}) hot hashes, bounded per doc by its own length.

    Passes over the shingle table: df-agg, df-join, stats-agg, and the
    index self-join — down from round-5's seven (df, index join,
    distinct, sizes, two verify sides). The verify stage of the old
    plan (64% of the LLM bench group) is gone entirely; the oracle
    keeps the naive declarative form, which is the point of a
    differential gate: two independent derivations, one answer."""
    pairs = _shingle_pair_stats(spark, sf_dir, "dedup_ngram_jaccard")
    n_inter = _pair_n_inter()
    union = F.col("na") + F.col("nb") - n_inter
    jac = n_inter / union.cast("double")
    return pairs.filter(jac >= _JACCARD_T).select(
        "doc_a",
        "doc_b",
        n_inter.cast("bigint").alias("n_inter"),
        union.cast("bigint").alias("n_union"),
        dround(jac, 6).alias("jaccard"),
    )


def _pair_n_inter() -> Column:
    """Separable intersection count over the pair-stats frame (rare
    part counted by the index self-join; common part via
    array_intersect of the per-doc hot-shingle sets). A function, not
    a module constant: Column construction needs a live
    SparkContext."""
    return F.col("n_inter_rare") + F.coalesce(
        F.size(F.array_intersect("cha", "chb")), F.lit(0)
    )


def _shingle_pair_stats(
    spark: SparkSession, sf_dir: str, tag: str
) -> DataFrame:
    """Candidate near-dup pairs with intersection/size stats — the
    shared core of ``dedup_ngram_jaccard`` and ``dedup_containment``:
    (doc_a, doc_b, n_inter_rare, na, cha, nb, chb) where ``na``/``nb``
    are distinct-shingle counts and ``cha``/``chb`` the per-doc hot
    (df > ``_MAX_DF``) shingle sets. See ``dedup_ngram_jaccard`` for
    the plan rationale (df-split separable intersection)."""
    docs = parallel_table(spark, sf_dir, "documents")
    sh = shared_intermediate(
        f"{tag}.shingles", _doc_shingle_hashes(docs, _h60)
    )
    dfs = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # df-annotated shingle rows: feeds the rare index (twice, as the
    # self-join's two sides) and the per-doc stats agg — AQE splits any
    # hot-shingle skew in this join, which a window-count could not.
    # Downstream only ever compares df against _MAX_DF, so the frozen
    # row carries a 1-byte `hot` flag instead of the full int64 df
    # (§2.3 narrower types — r15; output proven identical, A/B a wash
    # at sf0.1, strictly fewer frozen bytes at scale). Keeping the
    # `shingles` freeze is deliberate: without it the df-agg branch and
    # the join branch each re-run the explode+md5 derivation (column
    # pruning makes their exchanges non-identical, so ReuseExchange
    # does NOT fire — measured r15, plan shows 0 ReusedExchange).
    shj = shared_intermediate(
        f"{tag}.shj",
        sh.join(dfs, "h").select(
            "doc_id", "h", (F.col("df") > _MAX_DF).alias("hot")
        ),
    )
    idx = shj.filter(~F.col("hot")).select("doc_id", "h")
    cand = (
        idx.alias("a")
        .join(idx.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter_rare"))
    )
    stats = shj.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        # collect_set skips the NULLs the when() emits for rare rows;
        # all-rare docs get an empty array, not NULL.
        F.collect_set(
            F.when(F.col("hot"), F.col("h"))
        ).alias("ch"),
    )
    return (
        cand
        .join(
            stats.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_sh").alias("na"),
                F.col("ch").alias("cha"),
            ),
            "doc_a",
        )
        .join(
            stats.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_sh").alias("nb"),
                F.col("ch").alias("chb"),
            ),
            "doc_b",
        )
    )


# --------------------------------------------------------------------------
# dedup_minhash — MinHash signatures + LSH banding + exact verification
# --------------------------------------------------------------------------


# The full MinHash-LSH pair derivation as a reusable CTE chain ending in
# `pairs` (verified near-dup pairs). Shared by the dedup_minhash oracle
# and the dedup_clusters oracle, which runs connected components on top.
# Shared shingle->minhash-signature SQL core: _SQL_MINHASH_PAIRS
# builds the shipped (8x4) banding on top of it; dedup_band_tuning
# re-bands the SAME mh table for every (b, r) config.
_SQL_MH_CORE = f"""
        {_SQL_SHINGLES},
        sh32 AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
            FROM sh
        ),
        mh AS (
            SELECT doc_id, i,
                   MIN(({_A}[i + 1] * h + {_B}[i + 1]) % {_P}) AS mh
            FROM sh32, unnest(range({_H})) AS r(i)
            GROUP BY doc_id, i
        )
"""

_SQL_MINHASH_PAIRS = f"""
        {_SQL_MH_CORE},
        band AS (
            SELECT doc_id, i // {_ROWS} AS band_id,
                   md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key
            FROM mh GROUP BY doc_id, i // {_ROWS}
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_bands
            FROM band a
            JOIN band b ON a.band_id = b.band_id AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        hsets AS (
            SELECT doc_id, list(h) AS hset FROM sh32 GROUP BY doc_id
        ),
        pairs AS (
            SELECT c.doc_a, c.doc_b, c.n_shared_bands,
                   {sql_dround(
                       "len(list_intersect(sa.hset, sb.hset)) / "
                       "CAST(len(sa.hset) + len(sb.hset) "
                       "- len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)", 6)}
                       AS jaccard
            FROM cand c
            JOIN hsets sa ON sa.doc_id = c.doc_a
            JOIN hsets sb ON sb.doc_id = c.doc_b
            WHERE len(list_intersect(sa.hset, sb.hset))
                  / CAST(len(sa.hset) + len(sb.hset)
                         - len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
                  >= {_JACCARD_T}
        )
"""


@register(
    "dedup_minhash",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_MINHASH_PAIRS}
        SELECT doc_a, doc_b, n_shared_bands, jaccard FROM pairs
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection (Broder '97 / MMDS ch.3):
    {h} universal-hash min-hashes per doc, banded {b}×{r}; docs sharing
    any band bucket become candidates, then exact Jaccard ≥ {t} verifies.

    Plan: one md5 per shingle (hashed at materialization; downstream
    only ever sees int64 keys), then the shared MinHash kernel:
    ``_minhash_signature`` (one signature row per doc, {h} parallel
    ``min`` aggregates) and ``_band_rows`` (band keys posexploded into
    the tiny band self-join). No floats anywhere until the final
    reported Jaccard, so signatures are bit-stable.

    The exploded (doc_id, h) shingle-hash rows are materialized once
    (tagged eager ``localCheckpoint`` with bounded generations,
    ``materialize.py`` — the persisted intermediate every production
    MinHash pipeline keeps) and feed all four consumers: signatures,
    set sizes, and both verification sides. Candidate verification
    joins shingle-hash *rows* against the (small, broadcast)
    candidate-pair list; nothing ever broadcasts per-doc shingle
    arrays, whose driver-side build is both a memory cliff at scale
    and an erratic GC cost even at small SF."""
    docs = parallel_table(spark, sf_dir, "documents")
    # The exploded shingle-hash rows feed four consumers (signatures,
    # set sizes, both verification sides); materialize them once instead
    # of re-running split/transform/md5 per consumer.
    sh = shared_intermediate(
        "dedup_minhash.shingles", _doc_shingle_hashes(docs, _h32)
    )
    band = _band_rows(_minhash_signature(sh))
    cand = (
        band.alias("a")
        .join(band.alias("b"), ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # Exact-Jaccard verification over shingle-hash ROWS: the candidate
    # list (rare near-dup pairs) broadcasts into the shingle stream, the
    # intersection is a count of matching (pair, h) rows, and set sizes
    # come from a per-doc count. Every shuffle/join key is an int64;
    # pairs with an empty intersection drop out of the inner join, which
    # is consistent with the oracle (jaccard 0 < threshold).
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # No broadcast hints on the pair tables: near-dup pair cardinality
    # is data-dependent (O(N) on boilerplate-heavy corpora), so an
    # unconditional hint is a driver/executor OOM at scale. AQE is the
    # size gate — it sees the candidate table's ACTUAL shuffle size and
    # converts these joins to broadcast when (and only when) it fits
    # under autoBroadcastJoinThreshold, falling back to a shuffle join
    # on the int64 pair keys otherwise.
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "h")
        .join(cand, "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "n_shared_bands")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .filter(jac >= _JACCARD_T)
        .select("doc_a", "doc_b", "n_shared_bands", dround(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# dedup_simhash — 32-bit SimHash fingerprint + hamming band bytes
# dedup_simhash_pairs — hamming-band candidate join + verified pairs
# --------------------------------------------------------------------------

_SIM_BITS = 32
_SIM_BANDS = 4  # byte bands: hamming <= _SIM_BANDS-1 pigeonholes a share
_HAM_T = 3  # near-dup threshold: verified hamming distance

# Shared fingerprint derivation (CTE chain ending in ``fp(doc_id,
# simhash)``) — used by both simhash oracles so the pair query provably
# joins the same fingerprints the fingerprint query emits.
_SQL_SIMHASH_FP = f"""
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        th AS (
            SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h
            FROM tok
        ),
        bits AS (
            SELECT doc_id, j,
                   SUM(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                            THEN 1 ELSE -1 END) AS weight
            FROM th, unnest(range({_SIM_BITS})) AS r(j)
            GROUP BY doc_id, j
        ),
        fp AS (
            SELECT doc_id,
                   SUM(CASE WHEN weight > 0
                            THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS simhash
            FROM bits GROUP BY doc_id
        )
"""


def _simhash_fp(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) 32-bit SimHash fingerprints (Charikar '02):
    bit j of the fingerprint is the sign of Σ_tokens ±1 (+ if bit j of
    the token's 32-bit hash is set). Integer arithmetic end-to-end →
    bit-stable under any agg order. Plan: token explode ×{_SIM_BITS}
    bit index → one hash-agg on (doc, bit) with map-side partials →
    one tiny per-doc agg."""
    th = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).select("doc_id", _h32(F.col("word")).alias("h"))
    bits = (
        th.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS - 1))).alias("j"),
        )
        .select(
            "doc_id",
            "j",
            F.when(
                F.expr("(h div cast(pow(2, j) as bigint)) % 2") == 1, F.lit(1)
            )
            .otherwise(F.lit(-1))
            .alias("contrib"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("weight"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("weight") > 0, F.expr("cast(pow(2, j) as bigint)")
            ).otherwise(F.lit(0))
        ).alias("simhash")
    )


@register(
    "dedup_simhash",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_SIMHASH_FP}
        SELECT doc_id, simhash,
               (simhash // 16777216) % 256 AS b3,
               (simhash // 65536) % 256 AS b2,
               (simhash // 256) % 256 AS b1,
               simhash % 256 AS b0
        FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint table (Charikar '02, as deployed for web
    dedup in Manku et al. WWW'07) with its 4 hamming-LSH byte-band
    keys b3..b0: fingerprints within hamming distance {_HAM_T} must
    share at least one band (pigeonhole), so near-dup candidates come
    from {_SIM_BANDS} cheap equi-joins instead of an O(N²) hamming
    scan. ``dedup_simhash_pairs`` materializes that candidate join."""
    docs = parallel_table(spark, sf_dir, "documents")
    fp = _simhash_fp(docs)
    return fp.select(
        "doc_id",
        "simhash",
        ((F.col("simhash") / 16777216).cast("long") % 256).alias("b3"),
        ((F.col("simhash") / 65536).cast("long") % 256).alias("b2"),
        ((F.col("simhash") / 256).cast("long") % 256).alias("b1"),
        (F.col("simhash") % 256).alias("b0"),
    )


@register(
    "dedup_simhash_pairs",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_SIMHASH_FP},
        bands AS (
            SELECT doc_id, simhash, k,
                   (simhash // CAST(pow(2, k * 8) AS BIGINT)) % 256 AS bv
            FROM fp, unnest(range({_SIM_BANDS})) AS rk(k)
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_bands
            FROM bands a
            JOIN bands b ON a.k = b.k AND a.bv = b.bv
                        AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.simhash, b.simhash
        )
        SELECT doc_a, doc_b, n_shared_bands,
               CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= {_HAM_T}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: the hamming-band candidate join over
    ``dedup_simhash``'s fingerprints (Manku et al. WWW'07), verified by
    exact hamming distance ≤ {_HAM_T} via ``bit_count(sh_a ^ sh_b)``.

    Plan: fingerprints (see ``_simhash_fp``) → derive the {_SIM_BANDS}
    byte-band values as narrow integer expressions, posexplode into a
    (doc_id, band, value) table → band-bucketed self-join generates
    candidates, pigeonhole-complete for hamming ≤ {_SIM_BANDS}-1 →
    the verify step is a free column expression (both fingerprints
    already ride the joined row; no re-join against the fp table).

    Scale notes (100 TB): candidate volume is governed by band width —
    8-bit bands give 256 buckets each, plenty at test scale but hot at
    billions of docs; the production knob is a 64-bit fingerprint with
    16-bit bands (65k buckets/band, Manku's deployed config), which
    changes only ``_SIM_BITS``/band arithmetic, not the plan shape.
    The self-join shuffles only (doc_id, simhash, band) int64 rows —
    never text — and the verified-pair output is O(near-dups). The fp
    table (two int64 columns per doc) is materialized once so the
    band self-join's two sides don't each recompute the token-explode
    fingerprint pipeline, and AQE picks the join strategy from its
    *actual* size instead of scan estimates."""
    docs = parallel_table(spark, sf_dir, "documents")
    return simhash_pairs(docs)


def band_pair_candidates(
    fp: DataFrame, fp_col: str, band_exprs: list
) -> DataFrame:
    """Generic Manku-style banding join over any int fingerprint
    column: explode ``band_exprs`` into a (doc_id, band, value) table,
    band-bucketed self-join, candidate pairs collapse to one row with
    the shared-band count — both fingerprints ride the joined row so
    the hamming verify downstream is a free column expression.
    Shared by ``simhash_pairs`` (text) and ``multimodal_phash_pairs``
    (images); returns (doc_a, doc_b, fp_a, fp_b, n_shared)."""
    bands = fp.select(
        "doc_id",
        fp_col,
        F.posexplode(F.array(*band_exprs)).alias("k", "bv"),
    )
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["k", "bv"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"a.{fp_col}").alias("fp_a"),
            F.col(f"b.{fp_col}").alias("fp_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = _HAM_T) -> DataFrame:
    """Band-join + hamming-verify over any ``(doc_id, text)`` frame —
    see ``dedup_simhash_pairs``. Split out so the pigeonhole
    completeness property (hamming ≤ {_HAM_T} ⇒ some band shared, i.e.
    the banded join finds EVERY such pair) is brute-force testable on
    synthetic corpora (``tests/test_dedup_simhash_pairs.py``) — the
    DuckDB oracle can't check that, it replays the same banding."""
    fp = shared_intermediate("dedup_simhash_pairs.fp", _simhash_fp(docs))
    cand = band_pair_candidates(
        fp,
        "simhash",
        [F.expr(f"(simhash div {256 ** k}) % 256") for k in range(_SIM_BANDS)],
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.filter(ham <= max_hamming).select(
        "doc_a",
        "doc_b",
        F.col("n_shared").alias("n_shared_bands"),
        ham.cast("bigint").alias("hamming"),
    )


# --------------------------------------------------------------------------
# dedup_clusters — connected components over verified near-dup pairs
# --------------------------------------------------------------------------

_CC_MAX_ITERS = 15  # safety cap; dup graphs converge in O(diameter) rounds


# Shared connected-components CTE chain (recursive label reach over the
# verified MinHash pair graph, ending at cc/sz) — consumed by the
# dedup_clusters oracle and the dedup_cluster_stats rollup, so the stats
# can never drift from the clustering they describe.
_SQL_CC_CHAIN = f"""
        WITH RECURSIVE {_SQL_MINHASH_PAIRS},
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM sym) n
            UNION
            SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.doc_id
        ),
        cc AS (
            SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id
        ),
        sz AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM cc GROUP BY cluster_id
        )
"""


@register(
    "dedup_clusters",
    tags=("b10",),
    oracle=f"""
        {_SQL_CC_CHAIN}
        SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
               CAST(cc.doc_id = cc.cluster_id AS INT) AS is_canonical
        FROM cc JOIN sz USING (cluster_id)
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    verified MinHash near-dup pair graph, labeling every involved doc
    with its component's minimum doc_id (``cluster_id``), the component
    size, and an ``is_canonical`` flag — the step every production dedup
    pipeline runs after pairwise matching, because "keep one copy per
    duplicate GROUP" needs transitive closure, not pairs (A~B, B~C must
    collapse to one cluster even when A~C was never emitted).

    Spark plan: iterative min-label propagation — per round, one
    broadcast-ready join of the (tiny, pairs-only) label table into the
    symmetric edge list and one min-agg, with ``localCheckpoint``
    truncating lineage per round so the plan stays constant-size (the
    GraphX/GraphFrames CC pattern). Rounds = graph diameter; near-dup
    graphs are unions of near-cliques (diameter ≤ 3 in practice), so
    this converges in 2-4 rounds. For adversarial long-chain graphs the
    same per-round plan shape supports the alternating large-star /
    small-star algorithm (Kiveris et al., SoCC'14) in O(log n) rounds —
    the swap is localized to the neighbor-select step.

    Scale notes (100 TB): the CC input is the *pair graph*, orders of
    magnitude smaller than the corpus (only docs with a verified
    near-dup). Label tables are two-int64 columns; every join key is an
    int64. Alternating checkpoint generations bound executor storage at
    two label tables regardless of round count.

    The reference has no graph surface at all (its whole workload is
    k-means, ``src/Kmeans.java``); this extends its iterate-until-stable
    driver loop (``src/Kmeans.java:V2 main``) to graph closure.
    """
    pairs = shared_intermediate(
        "dedup_clusters.pairs",
        dedup_minhash(spark, sf_dir).select("doc_a", "doc_b"),
    )
    return connected_components(pairs)


def connected_components(
    pairs: DataFrame,
    max_iters: int = _CC_MAX_ITERS,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components over an undirected edge list ``(doc_a,
    doc_b)``; see ``dedup_clusters`` for the scale discussion. Returns
    one row per node: ``(doc_id, cluster_id, cluster_size,
    is_canonical)`` with ``cluster_id`` = the component's minimum
    doc_id.

    ``algorithm``:
      * ``"label"`` — iterative min-label propagation, O(diameter)
        rounds; raises if no fixpoint within ``max_iters`` (rather than
        silently returning partial closure). Fastest on real near-dup
        graphs (unions of near-cliques, diameter ≤ 3).
      * ``"star"``  — alternating large-star/small-star (Kiveris et
        al., SoCC'14), O(log n) rounds regardless of diameter; the
        adversarial-graph-safe path.
      * ``"auto"`` (default) — label propagation first; if the round
        cap is hit (pathologically deep graph), transparently restart
        with the star algorithm instead of raising.
    """
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
    if algorithm == "star":
        return _finish_components(_star_labels(sym))
    cur = shared_intermediate(
        "dedup_clusters.labels.0",
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
    )
    # r14 (the graph_connected_components rework): self-loop edges
    # (own=true) folded into the symmetric edge table make the
    # min-label update single-consumer — min over N(v) ∪ {v} is ONE
    # join + ONE agg per round instead of join + a second scan of the
    # label table through the union. The self row still carries the
    # own flag, so the convergence check (old_label) rides the same
    # aggregation unchanged. Frozen ONCE per call (its own tag — it
    # must NOT read the alternating label checkpoints, whose previous
    # generation is released every round), so every round scans one
    # materialized edge table instead of re-unioning the pair input.
    sym2 = shared_intermediate(
        "dedup_clusters.sym2",
        sym.withColumn("own", F.lit(False)).union(
            cur.select(
                F.col("doc_id").alias("src"),
                F.col("doc_id").alias("dst"),
                F.lit(True).alias("own"),
            )
        ),
    )
    converged = False
    for it in range(max_iters):
        new = shared_intermediate(
            f"dedup_clusters.labels.{(it + 1) % 2}",
            sym2.join(cur.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("own"), F.col("label"))).alias("old_label"),
            ),
        )
        changed = new.filter(F.col("label") != F.col("old_label")).count()
        cur = new.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        if algorithm == "auto":
            # Diameter exceeds the cap: restart with the O(log n)
            # star algorithm instead of failing the job.
            return _finish_components(_star_labels(sym))
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_iters} rounds "
            "(graph diameter exceeds the cap; raise max_iters or use "
            "algorithm='star'/'auto' for the O(log n) path)"
        )
    return _finish_components(cur.withColumnRenamed("label", "cluster_id"))


# Star rounds are O(log n); 40 alternations cover any conceivable graph
# (2^40 nodes) — the cap exists only to turn an algorithmic regression
# into a loud error instead of an infinite loop.
_STAR_MAX_ITERS = 40


def _star_labels(sym: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    converges in O(log n) rounds on ANY graph — chains included — where
    min-label propagation needs O(diameter).

    Per round, each phase is one groupBy-min + one join on the *edge*
    table (never the corpus):

      * large-star(u): m = min(Γ(u) ∪ {u}); connect every strictly
        larger neighbor to m: emit (v, m) for v ∈ Γ(u), v > u.
      * small-star(u), edges oriented high→low: m = min(Γ(u) ∪ {u});
        emit (v, m) for the smaller neighbors v ≠ m, plus (u, m).

    At fixpoint the edge set is a union of stars: every node points at
    its component's minimum. Returns ``(doc_id, cluster_id)``.

    Scale: edge-linear work per round with map-side combinable mins;
    alternating ``localCheckpoint`` generations bound storage at two
    edge tables, same as the label-prop loop.
    """
    # Canonical undirected edge set, oriented high→low, no self-loops.
    cur = shared_intermediate(
        "dedup_clusters.star.0",
        sym.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
    )
    for it in range(_STAR_MAX_ITERS):
        both = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: min over full neighborhood (and self)
        lmin = (
            both.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            both.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the high→low orientation of large's output
        e = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smin = e.groupBy("u").agg(F.min("v").alias("m"))
        new = shared_intermediate(
            f"dedup_clusters.star.{(it + 1) % 2}",
            e.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .distinct(),
        )
        # the run records the round count: the O(log n) claim is tested
        current_run().counters["star_rounds"] = it + 1
        # Fixpoint: identical edge sets (both sides are distinct sets,
        # so equal counts + empty difference ⇔ equality).
        if new.count() == cur.count() and new.exceptAll(cur).count() == 0:
            cur = new
            break
        cur = new
    else:  # pragma: no cover - 2^40-node graphs don't fit this planet
        raise RuntimeError(
            f"star components: no fixpoint within {_STAR_MAX_ITERS} rounds"
        )
    # Stars point non-roots at roots; roots appear only on the v side.
    non_roots = cur.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = (
        cur.select(F.col("v").alias("doc_id"))
        .distinct()
        .join(cur.select(F.col("u").alias("doc_id")).distinct(), "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    labeled = non_roots.union(roots)
    # Nodes whose only edges are self-loops vanish from `cur` at the
    # initial u != v filter, yet label propagation emits them as
    # singleton clusters — and `algorithm='auto'` may switch between the
    # two mid-run, so both must return the SAME row set (one row per
    # node of `sym`). Seed them back as their own cluster.
    singletons = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .join(labeled, "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labeled.union(singletons)


def _finish_components(cc: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) → final cluster table with sizes and the
    canonical-representative flag. The size table has one row per
    cluster — O(N) worst-case (all-singleton graph), so no broadcast
    hint: AQE converts to broadcast from the actual shuffle size when
    it fits, else keeps the shuffle join on the int64 cluster key."""
    sz = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sz, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# dedup_incremental — new-batch-vs-corpus dedup (exact + MinHash-LSH)
# --------------------------------------------------------------------------

_INC_SPLIT = 8  # doc_id % 10 >= _INC_SPLIT → incoming batch (~20%); else corpus


@register(
    "dedup_incremental",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_SHINGLES},
        sh60 AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
            FROM sh
        ),
        batch AS (
            SELECT doc_id, sha256(text) AS ch FROM documents
            WHERE doc_id % 10 >= {_INC_SPLIT}
        ),
        corpus_exact AS (
            SELECT sha256(text) AS ch, MIN(doc_id) AS exact_match
            FROM documents WHERE doc_id % 10 < {_INC_SPLIT}
            GROUP BY sha256(text)
        ),
        mh AS (
            SELECT doc_id, i,
                   MIN(({_A}[i + 1] * (h // 268435456) + {_B}[i + 1]) % {_P})
                       AS mh
            FROM sh60, unnest(range({_H})) AS r(i)
            GROUP BY doc_id, i
        ),
        band AS (
            SELECT doc_id, i // {_ROWS} AS band_id,
                   md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key
            FROM mh GROUP BY doc_id, i // {_ROWS}
        ),
        cand AS (
            SELECT b.doc_id AS doc_id, c.doc_id AS c_doc
            FROM band b
            JOIN band c ON b.band_id = c.band_id AND b.band_key = c.band_key
            WHERE b.doc_id % 10 >= {_INC_SPLIT} AND c.doc_id % 10 < {_INC_SPLIT}
            GROUP BY b.doc_id, c.doc_id
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM sh60 GROUP BY doc_id
        ),
        inter AS (
            SELECT cd.doc_id, cd.c_doc, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand cd
            JOIN sh60 a ON a.doc_id = cd.doc_id
            JOIN sh60 b ON b.doc_id = cd.c_doc AND b.h = a.h
            GROUP BY cd.doc_id, cd.c_doc
        ),
        ver AS (
            SELECT i.doc_id, i.c_doc,
                   {sql_dround(
                       "i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter"
                       " AS DOUBLE)", 6)} AS jac
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_id
            JOIN sizes sb ON sb.doc_id = i.c_doc
            WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
                  >= {_JACCARD_T}
        ),
        near AS (
            SELECT doc_id, MIN(c_doc) AS near_match,
                   arg_min(jac, c_doc) AS near_jac
            FROM ver GROUP BY doc_id
        )
        SELECT b.doc_id,
               CASE WHEN e.exact_match IS NOT NULL THEN 'exact'
                    WHEN n.near_match IS NOT NULL THEN 'near'
                    ELSE 'new' END AS verdict,
               COALESCE(e.exact_match, n.near_match) AS match_doc_id,
               CASE WHEN e.exact_match IS NOT NULL THEN NULL
                    ELSE n.near_jac END AS jaccard
        FROM batch b
        LEFT JOIN corpus_exact e USING (ch)
        LEFT JOIN near n USING (doc_id)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit an incoming batch (docs with
    ``doc_id % 10 >= {s}``, standing in for today's crawl) against the
    existing corpus, WITHOUT re-deduping the corpus against itself.
    Per batch doc: ``exact`` (sha256 matches a corpus doc), ``near``
    (MinHash-LSH candidate vs corpus, verified shingle-Jaccard ≥ {t}),
    else ``new`` — plus the matched corpus doc and the verified Jaccard.

    This is the shape production pipelines actually run at 100 TB:
    the full self-join dedup (``dedup_minhash``) happens once, then
    every new batch only ever joins BATCH×CORPUS — cost scales with
    the batch and its collision set, never with corpus². The corpus
    band/fingerprint and content-hash tables are the persisted index;
    here they are derived inline from the split but the plan is
    identical if they were read from a bucketed table (one hash join
    per layer, batch side small → AQE broadcasts it).

    Plan details:
      * ONE shingle materialization (60-bit hashed rows) serves both
        layers: the MinHash kernel gets its required 32-bit base from
        the ``h div 268435456`` (``h div 2^28``) select (both are
        prefixes of the same md5, and MIN-aggs are multiset-invariant,
        so deriving h32 from the h60-distinct rows yields bit-identical
        signatures to hashing at 32 bits directly) while verification
        joins the collision-safe 60-bit rows themselves.
      * Exact layer: corpus hash-agg (content_hash → min doc_id), batch
        LEFT-joins it — at scale this is the only full-corpus pass, and
        it is a single map-side-combined agg.
      * Near layer: band self-join is batch-bands × corpus-bands (never
        corpus × corpus); verified pairs collapse to one row per batch
        doc via a struct-min (lowest corpus doc id, its Jaccard riding
        along) so the output is deterministic.
      * NULL semantics: ``match_doc_id``/``jaccard`` are NULL for
        ``new`` docs, and ``jaccard`` is NULL for ``exact`` (no shingle
        verification ran) — mirrored in the oracle's CASE."""
    docs = parallel_table(spark, sf_dir, "documents")
    # 60-bit keys for exact verification; MinHash takes the 32-bit prefix
    sh = shared_intermediate(
        "dedup_incremental.sh", _doc_shingle_hashes(docs, _h60)
    )
    in_batch = (F.col("doc_id") % 10) >= _INC_SPLIT

    hashes = docs.select("doc_id", F.sha2("text", 256).alias("ch"))
    corpus_exact = (
        hashes.filter(~in_batch)
        .groupBy("ch")
        .agg(F.min("doc_id").alias("exact_match"))
    )
    batch = hashes.filter(in_batch)

    band = _band_rows(
        _minhash_signature(
            sh.select("doc_id", F.expr("h div 268435456").alias("h"))
        )
    )
    cand = (
        band.filter(in_batch)
        .alias("b")
        .join(
            band.filter(~in_batch)
            .select(
                F.col("doc_id").alias("c_doc"), "band_id", "band_key"
            )
            .alias("c"),
            ["band_id", "band_key"],
        )
        .groupBy("doc_id", "c_doc")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .select("doc_id", "c_doc")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Verification joins only ever pair batch shingles with corpus
    # shingles, so pre-filter each side to its split (narrow filters on
    # the materialized rows — candidate doc_ids are batch-only and
    # c_doc corpus-only by construction, so this drops no pairs but
    # keeps the corpus-side shuffle from carrying batch rows and vice
    # versa).
    inter = (
        sh.filter(in_batch)
        .join(cand, "doc_id")
        .join(
            sh.filter(~in_batch).select(
                F.col("doc_id").alias("c_doc"), "h"
            ),
            ["c_doc", "h"],
        )
        .groupBy("doc_id", "c_doc")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    ver = (
        inter.join(
            sizes.select("doc_id", F.col("n_sh").alias("na")), "doc_id"
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("c_doc"), F.col("n_sh").alias("nb")
            ),
            "c_doc",
        )
        .filter(jac >= _JACCARD_T)
        .select("doc_id", "c_doc", dround(jac, 6).alias("jac"))
    )
    near = ver.groupBy("doc_id").agg(
        F.min(F.struct("c_doc", "jac")).alias("s")
    ).select(
        "doc_id",
        F.col("s.c_doc").alias("near_match"),
        F.col("s.jac").alias("near_jac"),
    )
    exact_hit = F.col("exact_match").isNotNull()
    return (
        batch.join(corpus_exact, "ch", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(exact_hit, F.lit("exact"))
            .when(F.col("near_match").isNotNull(), F.lit("near"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_doc_id"),
            F.when(exact_hit, F.lit(None).cast("decimal(18,6)"))
            .otherwise(F.col("near_jac"))
            .alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# dedup_edit_distance — blocked Levenshtein near-dup pairs (round 8)
# --------------------------------------------------------------------------

_ED_TITLE_LEN = 32  # leading span standing in for a title/heading field
_ED_PREFIX = 8  # blocking key: first k chars must agree exactly
_ED_MAXDIST = 4  # verified edit-distance threshold


@register(
    "dedup_edit_distance",
    tags=("b10",),
    oracle=f"""
        WITH t AS (
            SELECT doc_id, substr(text, 1, {_ED_TITLE_LEN}) AS title
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.title, b.title) AS INT) AS dist
        FROM t a
        JOIN t b
          ON substr(a.title, 1, {_ED_PREFIX}) = substr(b.title, 1, {_ED_PREFIX})
         AND a.doc_id < b.doc_id
         AND abs(len(a.title) - len(b.title)) <= {_ED_MAXDIST}
        WHERE levenshtein(a.title, b.title) <= {_ED_MAXDIST}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs over a short text field (the
    leading 32-char span standing in for a title/heading column):
    the catalog/record-linkage dedup primitive for typo-level variants
    that token-set measures (Jaccard, MinHash) miss — one transposed
    character barely moves an n-gram set but is exactly edit distance
    2.

    Candidate generation is BLOCKED, by definition of the operator
    (the simhash-band / phash-band precedent): a pair is considered
    iff the first 8 characters agree exactly AND lengths differ by
    ≤ 4 (a necessary condition for the verified distance — each edit
    changes length by at most 1). Verification is exact
    ``levenshtein() <= 4``, identical codepoint semantics on both
    engines. Prefix blocking trades recall on first-8-char
    edits for never running all-pairs — the documented, replayed
    scheme; production stacks block on several keys (prefix, suffix,
    sorted-signature) and union candidates, each leg this same shape.

    Plan/scale: one equi self-join on the COMPOSITE (prefix, length)
    key — the Ukkonen length filter promoted from a post-join residual
    into the join key itself: side A explodes each title over its
    ±4-length admissible window (9 rows per doc, a constant), side B
    keys by its exact length, so a qualifying pair lands in exactly
    one (prefix, length) bucket and needs no dedup. The round-8 10×
    scale probe forced this: with length only as a residual, block
    width = full prefix-block size, and a low-entropy prefix
    distribution (common leading words) went quadratic INSIDE blocks
    (29× runtime at 10× data); keying on length too subdivides every
    block by a second independent axis. Hash join, no theta/nested
    loop (plan-audited); the Levenshtein core is JVM codegen, not a
    UDF."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, _ED_TITLE_LEN).alias("title")
    )
    a = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("ta"),
        F.substring("title", 1, _ED_PREFIX).alias("blk"),
        F.explode(
            F.sequence(
                F.length("title") - _ED_MAXDIST,
                F.length("title") + _ED_MAXDIST,
            )
        ).alias("lb"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("tb"),
        F.substring("title", 1, _ED_PREFIX).alias("blk"),
        F.length("title").alias("lb"),
    )
    return (
        a.join(b, ["blk", "lb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= _ED_MAXDIST)
    )



# --------------------------------------------------------------------------
# dedup_containment — asymmetric shingle-containment pairs (round 8)
# --------------------------------------------------------------------------

_CONTAIN_T = 0.8  # fraction of the SMALLER doc's shingles that must be shared


@register(
    "dedup_containment",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_SHINGLES},
        sh60 AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
            FROM sh
        ),
        rare AS (
            SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh60 GROUP BY h)
            WHERE df <= {_MAX_DF}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh60 a JOIN sh60 b ON a.h = b.h AND a.doc_id < b.doc_id
            JOIN rare r ON a.h = r.h
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM sh60 GROUP BY doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand c
            JOIN sh60 a ON a.doc_id = c.doc_a
            JOIN sh60 b ON b.doc_id = c.doc_b AND b.h = a.h
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT i.doc_a, i.doc_b, i.n_inter,
               LEAST(sa.n_sh, sb.n_sh) AS n_small,
               {sql_dround("i.n_inter / CAST(LEAST(sa.n_sh, sb.n_sh)"
                           " AS DOUBLE)", 6)} AS containment
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_inter * 10 >= LEAST(sa.n_sh, sb.n_sh) * 8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs: share ≥ 80% of the SMALLER
    document's shingles — the doc-inside-doc detector (quoted posts,
    article + boilerplate wrapper, excerpt pages) that symmetric
    Jaccard structurally misses: a 100-shingle doc fully contained in
    a 10000-shingle doc has Jaccard ≈ 0.01 but containment 1.0
    (Broder's original resemblance/containment pair, SEQUENCES '97).

    The threshold test is the exact integer cross-multiplication
    ``n_inter·10 ≥ n_small·8`` (boundary-straddle policy); the emitted
    score is one IEEE division of the same exact integers.

    Plan: identical machinery to ``dedup_ngram_jaccard`` — shared via
    ``_shingle_pair_stats`` (separable rare/common intersection, int64
    shingle hashes, stop-shingle cutoff) — only the final filter
    differs, so the candidate-generation cost is the already-audited
    one. At 100 TB the same df-cutoff bound applies; a production
    containment pass would lower ``_MAX_DF`` for the big-doc side
    only, which this formulation permits (the cutoff is per-shingle,
    not per-pair)."""
    pairs = _shingle_pair_stats(spark, sf_dir, "dedup_containment")
    n_inter = _pair_n_inter()
    n_small = F.least("na", "nb")
    return (
        pairs.filter(n_inter * 10 >= n_small * 8)
        .select(
            "doc_a",
            "doc_b",
            n_inter.cast("bigint").alias("n_inter"),
            n_small.cast("bigint").alias("n_small"),
            dround(
                n_inter / n_small.cast("double"), 6
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# dedup_prefix — normalized-prefix blocking (round 8)
# --------------------------------------------------------------------------


@register(
    "dedup_prefix",
    tags=("b10",),
    oracle=r"""
        -- prefix blocking: md5 over the first 64 chars of the
        -- whitespace-normalized lowercase text. Catches boilerplate
        -- openings and near-dups with divergent tails that full-text
        -- hashing (dedup_exact) misses, at exactly the same cost.
        WITH k AS (
            SELECT doc_id,
                   md5(substr(trim(regexp_replace(lower(text),
                                                  '\s+', ' ', 'g')),
                              1, 64)) AS prefix_key
            FROM documents
        )
        SELECT prefix_key,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS keep_doc_id,
               MAX(doc_id) AS max_doc_id
        FROM k
        GROUP BY prefix_key
        HAVING COUNT(*) > 1
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-PREFIX duplicate blocking: hash the first 64
    characters of the lowercased, whitespace-collapsed text and report
    every bucket holding more than one document. The standard cheap
    pre-filter in corpus pipelines — catches shared boilerplate
    openings and near-duplicates whose tails diverge, which full-text
    hashing (``dedup_exact``) is blind to, at the identical
    one-hash-agg cost; survivors feed the expensive MinHash/Jaccard
    verifiers (``dedup_minhash``, ``dedup_ngram_jaccard``).

    Normalization is engine-portable by construction: ``lower`` +
    ``regexp_replace('\\s+', ' ')`` (Spark replaces all matches by
    default; the oracle passes the 'g' flag) + ``trim`` + ``substr``,
    then the md5 byte-standard — the ``fn_hash`` portability policy.

    Plan/scale: one map-side-combined hash agg over 16-byte keys —
    (key, count, min, max) partials only on the wire; the HAVING
    filter prunes singleton buckets (the overwhelming mass) before
    anything reaches the driver side of the topology."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
            1,
            64,
        )
    )
    return (
        docs.groupBy(key.alias("prefix_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# dedup_url — URL canonicalization dedup (round 8)
# --------------------------------------------------------------------------

# Construction (fn_url's synthetic-URL policy: testdata carries no URL
# column, so the dirty URL is BUILT deterministically, then the operator
# proves the canonicalizer collapses exactly the right groups):
#   * scheme/host case varies by doc (HTTPS:// vs https://, .COM vs .com)
#   * even doc_ids carry the redundant default port :443
#   * doc_ids % 3 == 0 carry a trailing slash
#   * every URL carries a tracking param utm_s=<doc_id> (unique per doc
#     — the classic dedup-killer) plus the real id=<doc_id div 5>
# so exactly the 5 docs sharing doc_id div 5 collapse to one canonical
# URL once scheme/host are lowercased, :443 dropped, the trailing slash
# stripped, and utm_* removed — a 5:1 crawl-record blow-up, the shape
# tracking params actually produce in the wild.

_URL_DIRTY_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END
    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM:443'
            ELSE 'www.example.com' END
    || '/page/' || CAST(doc_id {idiv} 5 AS {strty})
    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
    || '?id=' || CAST(doc_id {idiv} 5 AS {strty})
    || '&utm_s=' || CAST(doc_id AS {strty})
"""

# Canonicalization chain — identical regex subset on both engines
# (fn_regex's portable-pattern policy: no backrefs, no lookaround):
#   1. lowercase the scheme://host prefix (regexp_extract + lower +
#      tail re-concat — substring arithmetic, engine-portable)
#   2. drop the ':443' default port (only the host can contain it by
#      construction)
#   3. strip the utm_s tracking param
#   4. strip one trailing slash
_URL_PREFIX_RE = "^[A-Za-z]+://[^/]+"


def _url_canon_sql(u: str, dialect: str) -> str:
    ext = (
        f"regexp_extract({u}, '{_URL_PREFIX_RE}')"
        if dialect == "duck"
        else f"regexp_extract({u}, '{_URL_PREFIX_RE}', 0)"
    )
    lowered = (
        f"lower({ext}) || substr({u}, length({ext}) + 1)"
        if dialect == "duck"
        else f"concat(lower({ext}), substr({u}, length({ext}) + 1))"
    )
    no_port = f"replace({lowered}, ':443', '')"
    no_utm = f"regexp_replace({no_port}, '&utm_s=[0-9]+', '')"
    # literal "/?" match: Spark's SQL lexer consumes one backslash
    # level (ANSI off), DuckDB's does not
    qesc = "/\\\\?" if dialect == "spark" else "/\\?"
    return f"regexp_replace({no_utm}, '{qesc}', '?')"


@register(
    "dedup_url",
    tags=("b10",),
    oracle=f"""
        -- URL canonicalization dedup — the cheapest, highest-yield
        -- dedup stage in a crawl pipeline (case-variant hosts, default
        -- ports, trailing slashes, and utm_* tracking params explode
        -- one logical page into dozens of crawl records). Dirty URLs
        -- are constructed (fn_url policy), canonicalized with the
        -- portable regex subset, grouped; keeper = MIN(doc_id).
        WITH u AS (
            SELECT doc_id,
                   {_URL_DIRTY_SQL.format(idiv="//", strty="VARCHAR")}
                       AS url
            FROM documents
        )
        SELECT {_url_canon_sql("url", "duck")} AS canonical_url,
               CAST(COUNT(*) AS BIGINT) AS n_dups,
               MIN(doc_id) AS keep_doc_id
        FROM u
        GROUP BY 1
    """,
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: normalize scheme/host case, drop
    the :443 default port, strip one trailing slash and the utm_*
    tracking params, then group crawl records by the canonical URL
    (keeper = MIN(doc_id)). The stage every crawl pipeline runs BEFORE
    content dedup — it needs no text at all, so at 100 TB it prunes
    the corpus for cents on the dollar compared to `dedup_exact`'s
    full-content hashing (which still runs after, catching mirrors on
    different hosts).

    The trailing-slash strip happens before the '?': with query
    params present the slash sits mid-string ('/?'), handled by the
    final '/\\?' → '?' rewrite; the regexes stay inside the
    fn_regex portable subset (no backrefs) on both engines.

    Plan/scale: one codegen'd projection (regex chain) + ONE hash agg
    on the canonical string — dedup_exact's shape with a cheaper key.
    At scale the canonical key would be md5'd to an int64 before the
    shuffle (dedup module policy); kept as the readable string here
    because the canonical URL IS the human-auditable output."""
    docs = table(spark, sf_dir, "documents")
    dirty = F.expr(_URL_DIRTY_SQL.format(idiv="div", strty="STRING"))
    u = docs.select("doc_id", dirty.alias("url"))
    canon = F.expr(_url_canon_sql("url", "spark"))
    return (
        u.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# dedup_bloom — bloom-filter membership pre-filter (round 8)
# --------------------------------------------------------------------------

_BLOOM_M = 1024  # bits (32 x 32-bit words)
_BLOOM_K = 4  # hash functions (md5 row-salts, the agg_countmin family)


def _bloom_pos_sql(key_expr: str, d_expr: str, hexcast: bool) -> str:
    """Bit position = low 32 bits of md5(key '#' salt) mod M — the
    engine-portable hash family (fn_hash / agg_countmin policy)."""
    if hexcast:  # DuckDB
        salted = f"{key_expr} || '#' || CAST({d_expr} AS VARCHAR)"
        return f"(('0x' || substr(md5({salted}), 1, 8))::BIGINT % {_BLOOM_M})"
    return (
        f"(conv(substr(md5(concat({key_expr}, '#', "
        f"CAST({d_expr} AS STRING))), 1, 8), 16, 10) % {_BLOOM_M})"
    )


@register(
    "dedup_bloom",
    tags=("b8",),
    oracle=f"""
        -- bloom-filter membership pre-filter, fully deterministic:
        -- a {_BLOOM_M}-bit / {_BLOOM_K}-hash bloom over the corpus
        -- docs' md5 content keys (32 x 32-bit words, bit_or-merged; 32-bit words keep every shift < 63, inside both engines' checked BIGINT shift range),
        -- probed by the incoming batch (doc_id % 10 >= 8, the
        -- dedup_incremental split). bloom_hit=1 ∧ true_dup=0 rows are
        -- the false positives — the md5 hash family is byte-portable,
        -- so both engines build the IDENTICAL bitmap and the oracle
        -- replays the sketch exactly, FPs included.
        WITH corpus AS (
            SELECT md5(text) AS key FROM documents WHERE doc_id % 10 < 8
        ),
        batch AS (
            SELECT doc_id, md5(text) AS key
            FROM documents WHERE doc_id % 10 >= 8
        ),
        dd AS (SELECT unnest(range({_BLOOM_K})) AS d),
        bits AS (
            SELECT {_bloom_pos_sql('key', 'd', True)} AS pos
            FROM corpus, dd
        ),
        words AS (
            SELECT pos // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))
                       AS mask
            FROM bits GROUP BY 1
        ),
        probe AS (
            SELECT b.doc_id,
                   {_bloom_pos_sql('b.key', 'dd.d', True)} AS pos
            FROM batch b, dd
        ),
        hits AS (
            SELECT p.doc_id,
                   CASE WHEN MIN(
                       CASE WHEN (w.mask
                                  & (CAST(1 AS BIGINT)
                                     << CAST(p.pos % 32 AS INT))) != 0
                            THEN 1 ELSE 0 END) = 1
                        THEN 1 ELSE 0 END AS bloom_hit
            FROM probe p LEFT JOIN words w ON w.word = p.pos // 32
            GROUP BY p.doc_id
        ),
        truth AS (
            SELECT b.doc_id,
                   CASE WHEN EXISTS (
                       SELECT 1 FROM corpus c WHERE c.key = b.key)
                        THEN 1 ELSE 0 END AS true_dup
            FROM batch b
        )
        SELECT h.doc_id,
               CAST(h.bloom_hit AS BIGINT) AS bloom_hit,
               CAST(t.true_dup AS BIGINT) AS true_dup,
               CAST(CASE WHEN h.bloom_hit = 1 AND t.true_dup = 0
                         THEN 1 ELSE 0 END AS BIGINT) AS is_fp
        FROM hits h JOIN truth t ON h.doc_id = t.doc_id
    """,
)
def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental dedup: a
    1024-bit / 4-hash bloom built over the CORPUS docs' md5 content
    keys, probed by the incoming batch (the `dedup_incremental`
    split) — the cheapest first gate a production pipeline runs
    before any exact or near-dup join. Per batch doc: the bloom
    verdict, the exact truth, and the false-positive flag (bloom
    never false-negatives; the FP column makes its error visible,
    the `agg_countmin` philosophy).

    Portability: positions come from md5 row-salts (the engine's
    portable hash family), so both engines build the bit-identical
    32-word bitmap and the oracle replays the sketch EXACTLY —
    including which specific docs false-positive.

    Plan/scale: the bitmap agg collapses map-side to ≤32 rows — the
    sketch is mergeable across any number of partitions with one tiny
    shuffle (the production shape: build once over 100 TB, persist
    32 words, probe every future batch for free). The probe joins
    batch×4 rows against the 32-word table (broadcast); the truth
    column is one hash semi-join on the content key, there only to
    measure the FP rate — a real pipeline drops it and pays ONLY the
    bloom. Sizing is parametric: M scales with corpus cardinality
    (bits ≈ 1.44·k·n), the plan shape is M-independent."""
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8).select(
        F.md5("text").alias("key")
    )
    batch = docs.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.md5("text").alias("key")
    )
    salts = F.array(*[F.lit(d) for d in range(_BLOOM_K)])
    pos = F.expr(_bloom_pos_sql("key", "d", False))
    words = (
        corpus.select(F.explode(salts).alias("d"), "key")
        .select((pos.cast("long")).alias("pos"))
        .groupBy(F.expr("pos div 32").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), "
                "CAST(pos % 32 AS INT)))"
            ).alias("mask")
        )
    )
    probe = batch.select("doc_id", F.explode(salts).alias("d"), "key").select(
        "doc_id", pos.cast("long").alias("pos")
    )
    hits = (
        probe.join(
            F.broadcast(words), F.expr("word = pos div 32"), "left"
        )
        .select(
            "doc_id",
            F.when(
                F.expr(
                    "(mask & shiftleft(CAST(1 AS BIGINT), "
                    "CAST(pos % 32 AS INT))) != 0"
                ),
                1,
            )
            .otherwise(0)
            .alias("hit_d"),
        )
        .groupBy("doc_id")
        .agg(
            F.when(F.min("hit_d") == 1, 1).otherwise(0).alias("bloom_hit")
        )
    )
    truth = batch.join(
        corpus.withColumnRenamed("key", "ckey").distinct(),
        F.expr("key = ckey"),
        "left",
    ).select(
        "doc_id",
        F.when(F.col("ckey").isNotNull(), 1).otherwise(0).alias("true_dup"),
    )
    return hits.join(truth, "doc_id").select(
        "doc_id",
        F.col("bloom_hit").cast("long").alias("bloom_hit"),
        F.col("true_dup").cast("long").alias("true_dup"),
        F.when((F.col("bloom_hit") == 1) & (F.col("true_dup") == 0), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_fp"),
    )


# --------------------------------------------------------------------------
# dedup_recall_eval — LSH recall vs sampled exact ground truth (round 8)
# --------------------------------------------------------------------------

_RE_MOD = 10  # probe sample: doc_id % _RE_MOD == 3 (10% of the corpus)


@register(
    "dedup_recall_eval",
    tags=("b10",),
    oracle=f"""
        -- recall of the MinHash-LSH candidate net against EXACT
        -- near-dup ground truth, measured on a 10% probe sample (the
        -- ann_recall_eval pattern applied to dedup): truth(p) = all
        -- docs with shingle-Jaccard >= 1/2 vs the probe (integer form
        -- 3*I >= |A|+|B|), candidates(p) = docs sharing any LSH band.
        -- The tune-bands-until-recall-clears gate every near-dup
        -- deployment needs.
        WITH {_SQL_SHINGLES},
        sh32 AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
            FROM sh
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM sh32 GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS p, b.doc_id AS d,
                   CAST(COUNT(*) AS BIGINT) AS i
            FROM sh32 a
            JOIN sh32 b ON a.h = b.h AND b.doc_id <> a.doc_id
            WHERE a.doc_id % {_RE_MOD} = 3
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT p, d FROM inter
            JOIN sizes sa ON sa.doc_id = p
            JOIN sizes sb ON sb.doc_id = d
            WHERE 3 * i >= sa.n + sb.n
        ),
        mh AS (
            SELECT doc_id, i,
                   MIN(({_A}[i + 1] * h + {_B}[i + 1]) % {_P}) AS mh
            FROM sh32, unnest(range({_H})) AS r(i)
            GROUP BY doc_id, i
        ),
        band AS (
            SELECT doc_id, i // {_ROWS} AS band_id,
                   md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key
            FROM mh GROUP BY doc_id, i // {_ROWS}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS p, b.doc_id AS d
            FROM band a
            JOIN band b ON a.band_id = b.band_id
                       AND a.band_key = b.band_key
                       AND b.doc_id <> a.doc_id
            WHERE a.doc_id % {_RE_MOD} = 3
        ),
        per AS (
            SELECT t.p,
                   CAST(COUNT(*) AS BIGINT) AS n_true,
                   CAST(SUM(CASE WHEN c.d IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
            FROM truth t
            LEFT JOIN cand c ON c.p = t.p AND c.d = t.d
            GROUP BY t.p
        ),
        nc AS (
            SELECT p, CAST(COUNT(*) AS BIGINT) AS n_cand
            FROM cand GROUP BY p
        )
        SELECT per.p AS probe_id, n_true,
               CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand, n_hit,
               CAST(n_hit * 10000 // n_true AS BIGINT) AS recall_bp
        FROM per LEFT JOIN nc ON nc.p = per.p
    """,
)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate net against EXACT near-dup
    ground truth, estimated on a 10% probe sample — the
    `ann_recall_eval` pattern applied to dedup: before trusting the
    8×4 banding at corpus scale, measure how many true near-dups
    (shingle-Jaccard ≥ ½) it actually surfaces, and how many
    candidates it pays for them.

    Ground truth is scale-honest: per PROBE, true near-dups come from
    the inverted shingle index (probe shingles × postings — linear in
    the probe's collision set, never corpus²; a pair with Jaccard ≥ ½
    must share shingles, so the index misses nothing). The threshold
    test is the integer form 3·I ≥ |A|+|B| — exactly Jaccard ≥ ½ with
    no float division.

    Plan/scale: ONE shingle materialization feeds the truth index,
    the set sizes, AND the MinHash signatures (the `dedup_minhash`
    budget); signatures and band rows come from the shared
    ``_minhash_signature``/``_band_rows`` kernel, and the band
    self-join has the probe filter pushed to one side.
    Recall/candidate rollups run over pair cardinality."""
    docs = parallel_table(spark, sf_dir, "documents")
    sh = shared_intermediate(
        "dedup_recall.sh32", _doc_shingle_hashes(docs, _h32)
    )
    is_probe = F.col("doc_id") % _RE_MOD == 3
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.filter(is_probe)
        .select(F.col("doc_id").alias("p"), "h")
        .join(sh.select(F.col("doc_id").alias("d"), "h"), "h")
        .filter(F.col("d") != F.col("p"))
        .groupBy("p", "d")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.withColumnRenamed("doc_id", "p").withColumnRenamed("n", "sa"), "p")
        .join(sizes.withColumnRenamed("doc_id", "d").withColumnRenamed("n", "sb"), "d")
        .filter(3 * F.col("i") >= F.col("sa") + F.col("sb"))
        .select("p", "d")
    )
    band = _band_rows(_minhash_signature(sh))
    cand = (
        band.filter(is_probe)
        .select(F.col("doc_id").alias("p"), "band_id", "band_key")
        .join(
            band.select(
                F.col("doc_id").alias("d"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .filter(F.col("d") != F.col("p"))
        .select("p", "d")
        .distinct()
    )
    per = (
        truth.join(cand.withColumn("_hit", F.lit(1)), ["p", "d"], "left")
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    nc = cand.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    return (
        per.join(nc, "p", "left")
        .select(
            F.col("p").alias("probe_id"),
            "n_true",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            "n_hit",
            F.expr("CAST(n_hit * 10000 div n_true AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )


# --------------------------------------------------------------------------
# dedup_cluster_stats — duplicate-cluster size profile (round 8)
# --------------------------------------------------------------------------


@register(
    "dedup_cluster_stats",
    tags=("b10",),
    oracle=f"""
        {_SQL_CC_CHAIN}
        -- per-size rollup of the SAME connected components the
        -- clustering op emits (shared _SQL_CC_CHAIN — the stats can't
        -- drift from the clustering): how many duplicate groups of
        -- each size, how many docs they bind, and how many are
        -- redundant (all but the canonical copy) — the dedup-yield
        -- forecast that prices the pipeline before it runs.
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
               CAST(SUM(cluster_size - 1) AS BIGINT) AS n_redundant
        FROM sz GROUP BY cluster_size
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size profile: for each cluster size, how many
    near-dup groups exist, how many documents they bind, and how many
    of those are REDUNDANT (everything past the canonical copy) — the
    dedup-yield forecast: Σ n_redundant is exactly the doc count a
    keep-one-per-cluster pass deletes, known before anything is
    deleted.

    Composition is literal: the engine rolls up the registered
    `dedup_clusters` output UNCHANGED, and the oracle aggregates the
    SAME shared CC chain (`_SQL_CC_CHAIN`) — stats and clustering
    cannot drift apart (the `curate_funnel_report` pattern).

    Plan/scale: adds ONE size-cardinality hash agg on top of the CC
    label table (cluster count rows, not corpus rows) — the rollup
    cost is noise next to the clustering it describes."""
    cc = dedup_clusters(spark, sf_dir)
    per = cc.groupBy("cluster_id").agg(
        F.max("cluster_size").alias("cluster_size")
    )
    return per.groupBy(F.col("cluster_size").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_redundant"),
    )


# --------------------------------------------------------------------------
# curate_canonical — quality-aware canonical pick per dup cluster (round 8)
# --------------------------------------------------------------------------


@register(
    "curate_canonical",
    tags=("b10",),
    oracle=f"""
        {_SQL_CC_CHAIN},
        q AS (
            SELECT doc_id,
                   CAST(len(list_distinct(string_split(text, ' ')))
                        AS BIGINT) AS richness
            FROM documents
        ),
        r AS (
            SELECT cc.cluster_id, sz.cluster_size, cc.doc_id, q.richness,
                   ROW_NUMBER() OVER (
                       PARTITION BY cc.cluster_id
                       ORDER BY q.richness DESC, cc.doc_id
                   ) AS rk
            FROM cc JOIN sz USING (cluster_id) JOIN q USING (doc_id)
        )
        -- quality-aware canonical selection over the SAME connected
        -- components the clustering op emits (shared _SQL_CC_CHAIN):
        -- keep the most lexically rich copy per duplicate group
        -- (distinct-token count -- integer, engine-exact), earliest
        -- doc_id on ties; `switched` marks clusters where that beats
        -- the naive min-id pick dedup_clusters defaults to.
        SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
               doc_id AS keep_doc_id, richness AS keep_richness,
               CAST(doc_id <> cluster_id AS INT) AS switched
        FROM r WHERE rk = 1
    """,
)
def curate_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per duplicate cluster: within
    each `dedup_clusters` component, KEEP the most lexically rich copy
    (distinct-token count — an integer, so the pick is engine-exact),
    earliest doc_id on ties, instead of the naive min-id canonical the
    clustering defaults to. Near-dup groups routinely mix a clean
    original with truncated / boilerplate-wrapped mirrors; min-id
    keeps whichever was crawled first, this keeps the best one — the
    step that turns dedup from "drop copies" into curation.
    ``switched`` marks the clusters where the two picks differ (the
    measurable value of quality-aware selection).

    Composition is literal (the `dedup_cluster_stats` pattern): the
    engine reranks the registered `dedup_clusters` output UNCHANGED,
    and the oracle ranks over the SAME shared CC chain
    (`_SQL_CC_CHAIN`) — selection cannot drift from clustering.

    Plan/scale: one doc-keyed equi join (labels x richness projection)
    + one cluster-keyed rank window; both run over CLUSTERED-doc
    cardinality (pair-graph members, a small fraction of the corpus),
    and per-cluster window state is bounded by cluster size."""
    cc = dedup_clusters(spark, sf_dir)
    docs = parallel_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("richness"),
    )
    j = cc.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("richness"), "doc_id"
    )
    return (
        j.select(
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("doc_id").alias("keep_doc_id"),
            "richness",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            "keep_doc_id",
            F.col("richness").alias("keep_richness"),
            (F.col("keep_doc_id") != F.col("cluster_id"))
            .cast("int")
            .alias("switched"),
        )
    )


# --------------------------------------------------------------------------
# dedup_band_tuning — LSH (bands x rows) configuration sweep (round 8)
# --------------------------------------------------------------------------

# Candidate configs over the SAME 32 minhashes: rebanding reuses the
# signature table, so the sweep costs 4 band joins, never 4 signature
# recomputations — the knob that is actually cheap to turn at 100 TB.
_BT_CONFIGS = [(4, 8), (8, 4), (16, 2), (32, 1)]


def _bt_expected_bp(b: int, r: int, j: float = 0.5) -> int:
    """Closed-form S-curve P(candidate | jaccard=j) = 1-(1-j^r)^b in
    floor basis points — the theoretical column the empirical counts
    are read against."""
    return int((1.0 - (1.0 - j**r) ** b) * 10_000)


@register(
    "dedup_band_tuning",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_MH_CORE},
        {','.join(f'''
        band{b}x{r} AS (
            SELECT doc_id, i // {r} AS band_id,
                   md5(string_agg(mh::VARCHAR, ',' ORDER BY i))
                       AS band_key
            FROM mh GROUP BY doc_id, i // {r}
        ),
        cand{b}x{r} AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band{b}x{r} a
            JOIN band{b}x{r} b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )''' for b, r in _BT_CONFIGS)},
        hsets AS (
            SELECT doc_id, list(h) AS hset FROM sh32 GROUP BY doc_id
        ),
        {','.join(f'''
        ver{b}x{r} AS (
            SELECT CAST({b} AS BIGINT) AS bands,
                   CAST({r} AS BIGINT) AS rows_per_band,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates,
                   CAST(SUM(CASE WHEN
                        2 * len(list_intersect(sa.hset, sb.hset))
                        >= len(sa.hset) + len(sb.hset)
                           - len(list_intersect(sa.hset, sb.hset))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
            FROM cand{b}x{r} c
            JOIN hsets sa ON sa.doc_id = c.doc_a
            JOIN hsets sb ON sb.doc_id = c.doc_b
        )''' for b, r in _BT_CONFIGS)},
        uni AS ({' UNION ALL '.join(f'SELECT * FROM ver{b}x{r}'
                                    for b, r in _BT_CONFIGS)}),
        truth AS (SELECT n_verified AS t FROM uni WHERE rows_per_band = 1)
        SELECT bands, rows_per_band, n_candidates, n_verified,
               CAST(n_verified * 10000 // truth.t AS BIGINT) AS recall_bp,
               CAST(CASE {' '.join(
                   f"WHEN bands = {b} THEN {_bt_expected_bp(b, r)}"
                   for b, r in _BT_CONFIGS)} END AS BIGINT)
                   AS expected_p50_bp
        FROM uni, truth
    """,
)
def dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding configuration sweep: re-band the SAME 32-minhash
    signature table under (4x8, 8x4, 16x2, 32x1) and report, per
    config, the candidate volume, the verified near-dups caught
    (exact integer jaccard >= 1/2 test: 2·|∩| >= |∪|), the recall
    against the loosest config's verified set, and the closed-form
    S-curve P(candidate | j=0.5) = 1-(1-j^r)^b as the theoretical
    column. This is the tuning table behind every banded-LSH
    deployment: more rows per band = fewer, higher-precision
    candidates; the sweep shows exactly what the shipped 8x4 config
    trades against its neighbors. The operational point is in the
    plan, not just the table: REBANDING REUSES THE SIGNATURES — at
    100 TB the sweep costs four band joins over 32-int rows, never
    four shingle/signature recomputations.

    Truth definition: 32x1 (any single minhash collision) is a strict
    candidate superset of every banding of the same signatures, so
    its verified set is the within-family recall ceiling — the same
    "tune within the operator's envelope" framing as
    `dedup_threshold_sweep`.

    Plan/scale: ONE shared signature derivation (the registered
    `dedup_minhash` shingle intermediate through the same
    ``_minhash_signature`` kernel), then per config ``_band_rows(sig,
    b, r)``, a band-key equi self-join and a
    doc-keyed verify join — all candidate-volume-bounded, no
    all-pairs anywhere."""
    docs = parallel_table(spark, sf_dir, "documents")
    sh = shared_intermediate(
        "dedup_minhash.shingles", _doc_shingle_hashes(docs, _h32)
    )
    sig = shared_intermediate("band_tuning.sigs", _minhash_signature(sh))
    # r14: freeze hsets once — the verify stage joins it on BOTH sides
    # of every config, and without the freeze the plan rebuilt the
    # shingle-volume collect_set agg 8x (2 sides x 4 configs), each
    # with its own broadcast (guide §2.4: compute shared subtrees
    # once). One ObjectHashAggregate pass, 8 cheap RDD scans.
    hsets = shared_intermediate(
        "band_tuning.hsets",
        sh.groupBy("doc_id").agg(F.collect_set("h").alias("hset")),
    )

    per_config = []
    for b, r in _BT_CONFIGS:
        bands = _band_rows(sig, b, r)
        cand = (
            bands.alias("a")
            .join(bands.alias("b"), ["band_id", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        ver = (
            cand.join(
                hsets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("hset").alias("sa"),
                ),
                "doc_a",
            )
            .join(
                hsets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("hset").alias("sb"),
                ),
                "doc_b",
            )
            .select(
                F.expr("size(array_intersect(sa, sb))").alias("i"),
                F.expr(
                    "size(sa) + size(sb) - size(array_intersect(sa, sb))"
                ).alias("u"),
            )
            .agg(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum((2 * F.col("i") >= F.col("u")).cast("long"))
                .cast("long")
                .alias("n_verified"),
            )
            .select("bands", "rows_per_band", "n_candidates", "n_verified")
        )
        per_config.append(ver)

    uni = per_config[0]
    for other in per_config[1:]:
        uni = uni.unionAll(other)
    truth = uni.filter(F.col("rows_per_band") == 1).select(
        F.col("n_verified").alias("t")
    )
    exp_case = "CASE {} END".format(
        " ".join(
            f"WHEN bands = {b} THEN {_bt_expected_bp(b, r)}"
            for b, r in _BT_CONFIGS
        )
    )
    return uni.join(F.broadcast(truth)).select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_verified",
        F.expr("CAST(n_verified * 10000 div t AS BIGINT)").alias(
            "recall_bp"
        ),
        F.expr(f"CAST({exp_case} AS BIGINT)").alias("expected_p50_bp"),
    )


# --------------------------------------------------------------------------
# dedup_agreement — lexical vs semantic near-dup agreement (round 8)
# --------------------------------------------------------------------------

from nchu_bigdata_spark.operators.similarity import (  # noqa: E402
    _SQL_EMBED_PAIRS_CHAIN,
    dedup_embed_cosine,
)


@register(
    "dedup_agreement",
    tags=("b10",),
    oracle=f"""
        -- agreement audit between the two near-dup detectors: the
        -- LEXICAL pair set (MinHash-LSH over shingles) vs the
        -- SEMANTIC pair set (hyperplane-LSH over embeddings, vec_id
        -- aligned to doc_id). Pairs found by both are safe deletes;
        -- lexical-only are template/boilerplate twins a semantic
        -- model ignores; semantic-only are paraphrases no shingle
        -- overlap can see — the three buckets are three different
        -- dedup policies, and the Jaccard of the sets is the one-
        -- number "do my detectors even agree" health check. Both
        -- sides re-run the SAME certified chains.
        WITH {_SQL_MINHASH_PAIRS},
        lex AS (SELECT doc_a, doc_b FROM pairs),
        sem AS (
            SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
                {_SQL_EMBED_PAIRS_CHAIN}
                SELECT vec_a, vec_b FROM pairs
            )
        ),
        j AS (
            SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
                   COALESCE(l.doc_b, s.doc_b) AS doc_b,
                   (l.doc_a IS NOT NULL) AS in_lex,
                   (s.doc_a IS NOT NULL) AS in_sem
            FROM lex l FULL OUTER JOIN sem s
              ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
        )
        SELECT CAST(SUM(CASE WHEN in_lex AND in_sem
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(SUM(CASE WHEN in_lex AND NOT in_sem
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lexical_only,
               CAST(SUM(CASE WHEN in_sem AND NOT in_lex
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_semantic_only,
               CAST(SUM(CASE WHEN in_lex AND in_sem THEN 1 ELSE 0 END)
                    * 10000 // COUNT(*) AS BIGINT) AS jaccard_bp
        FROM j
    """,
)
def dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit between the engine's two near-dup detectors:
    the LEXICAL pair set (`dedup_minhash`, shingle MinHash-LSH) vs
    the SEMANTIC pair set (`dedup_embed_cosine`, hyperplane-LSH over
    embeddings; vec_id is doc-aligned). The three buckets are three
    different dedup policies: both-detector pairs are safe deletes,
    lexical-only pairs are template/boilerplate twins a semantic
    model shrugs at, semantic-only pairs are paraphrases no shingle
    overlap can see — and the pair-set Jaccard is the one-number
    "do my detectors even agree" health check to watch drift on
    after any threshold or banding change (`dedup_threshold_sweep`,
    `dedup_band_tuning` tune the knobs; this op says whether the two
    knob sets still describe the same corpus).

    Composition is literal: both sides re-run the registered
    operators UNCHANGED, and the oracle re-runs the SAME two
    certified SQL chains — agreement cannot drift from either
    detector.

    Plan/scale: one FULL OUTER hash join between two pair tables
    (both LSH-bounded, tiny vs corpus) + a 1-row rollup."""
    lex = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    sem = dedup_embed_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    j = lex.withColumn("in_lex", F.lit(True)).join(
        sem.withColumn("in_sem", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    both = (F.col("in_lex").isNotNull() & F.col("in_sem").isNotNull())
    return j.agg(
        F.sum(both.cast("long")).cast("long").alias("n_both"),
        F.sum(
            (F.col("in_lex").isNotNull() & F.col("in_sem").isNull())
            .cast("long")
        )
        .cast("long")
        .alias("n_lexical_only"),
        F.sum(
            (F.col("in_sem").isNotNull() & F.col("in_lex").isNull())
            .cast("long")
        )
        .cast("long")
        .alias("n_semantic_only"),
        F.expr(
            "CAST(sum(CASE WHEN in_lex IS NOT NULL AND in_sem IS NOT NULL"
            " THEN 1 ELSE 0 END) * 10000 div count(*) AS BIGINT)"
        ).alias("jaccard_bp"),
    )


# --------------------------------------------------------------------------
# dedup_minhash_estimate — sketch-vs-exact accuracy audit (round 8)
# --------------------------------------------------------------------------


@register(
    "dedup_minhash_estimate",
    tags=("b10",),
    oracle=f"""
        WITH {_SQL_MH_CORE},
        band AS (
            SELECT doc_id, i // {_ROWS} AS band_id,
                   md5(string_agg(mh::VARCHAR, ',' ORDER BY i))
                       AS band_key
            FROM mh GROUP BY doc_id, i // {_ROWS}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band a
            JOIN band b ON a.band_id = b.band_id
                       AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id
        ),
        agree AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(SUM(CASE WHEN ma.mh = mb.mh
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_agree
            FROM cand c
            JOIN mh ma ON ma.doc_id = c.doc_a
            JOIN mh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
            GROUP BY c.doc_a, c.doc_b
        ),
        hsets AS (
            SELECT doc_id, list(h) AS hset FROM sh32 GROUP BY doc_id
        )
        -- the sketch accuracy audit: the minhash AGREEMENT RATE
        -- (shared coordinates / {_H}) is an unbiased estimator of the
        -- true jaccard; this table puts the estimate next to the
        -- EXACT value per candidate pair, with the signed error —
        -- the evidence behind trusting {_H} hashes at 100 TB, and
        -- the first thing to recheck when a banding change
        -- (dedup_band_tuning) moves recall unexpectedly.
        SELECT a.doc_a, a.doc_b,
               CAST(a.n_agree * 10000 // {_H} AS BIGINT) AS est_bp,
               CAST(len(list_intersect(sa.hset, sb.hset)) * 10000
                    // (len(sa.hset) + len(sb.hset)
                        - len(list_intersect(sa.hset, sb.hset)))
                    AS BIGINT) AS exact_bp,
               CAST(a.n_agree * 10000 // {_H}
                    - len(list_intersect(sa.hset, sb.hset)) * 10000
                      // (len(sa.hset) + len(sb.hset)
                          - len(list_intersect(sa.hset, sb.hset)))
                    AS BIGINT) AS err_bp
        FROM agree a
        JOIN hsets sa ON sa.doc_id = a.doc_a
        JOIN hsets sb ON sb.doc_id = a.doc_b
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash estimator: per LSH
    candidate pair, the AGREEMENT-RATE estimate of jaccard (shared
    minhash coordinates over {h} — the unbiased estimator banded LSH
    is built on) next to the EXACT shingle jaccard, with the signed
    error in bp. This is the evidence behind trusting {h} hashes at
    100 TB — the estimator's error shrinks as 1/√h, and this table
    MEASURES it on real candidates instead of citing it — and the
    first diagnostic to pull when a banding change
    (`dedup_band_tuning`) moves recall in a way the S-curve didn't
    predict (estimator bias and banding recall fail differently).

    Exactness: agreement counts, floor-div bp on both columns, and
    the signed difference — all int64; the exact side reuses the
    shingle-set machinery every other jaccard op certifies against.

    Plan/scale: signatures and candidates are the shared
    `dedup_minhash` derivations (one ``_minhash_signature`` pass,
    ``_band_rows``-bounded candidates); the agreement join is
    (pairs x {h}) coordinate rows — pair-volume-bounded, never
    corpus-shaped."""
    docs = parallel_table(spark, sf_dir, "documents")
    sh = shared_intermediate(
        "dedup_minhash.shingles", _doc_shingle_hashes(docs, _h32)
    )
    sig_long = _minhash_signature(sh)
    sig_arr = sig_long.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(_H)]).alias("ms")
    )
    bands = _band_rows(sig_long)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    hsets = sh.groupBy("doc_id").agg(F.collect_set("h").alias("hset"))
    j = (
        cand.join(
            sig_arr.select(F.col("doc_id").alias("doc_a"), F.col("ms").alias("ma")),
            "doc_a",
        )
        .join(
            sig_arr.select(F.col("doc_id").alias("doc_b"), F.col("ms").alias("mb")),
            "doc_b",
        )
        .join(
            hsets.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("sa")),
            "doc_a",
        )
        .join(
            hsets.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("sb")),
            "doc_b",
        )
    )
    return j.select(
        "doc_a",
        "doc_b",
        F.expr(
            f"CAST(size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v))"
            f" * 10000 div {_H} AS BIGINT)"
        ).alias("est_bp"),
        F.expr(
            "CAST(size(array_intersect(sa, sb)) * 10000"
            " div (size(sa) + size(sb) - size(array_intersect(sa, sb)))"
            " AS BIGINT)"
        ).alias("exact_bp"),
        F.expr(
            f"CAST(size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v))"
            f" * 10000 div {_H}"
            " - size(array_intersect(sa, sb)) * 10000"
            " div (size(sa) + size(sb) - size(array_intersect(sa, sb)))"
            " AS BIGINT)"
        ).alias("err_bp"),
    )


# --------------------------------------------------------------------------
# dedup_substring_spans — ExactSubstr-style duplicated-span audit (round 10)
# --------------------------------------------------------------------------

_SPAN_W = 5  # tokens per span window


@register(
    "dedup_substring_spans",
    tags=("b10",),
    oracle=f"""
        -- ExactSubstr-style duplicated-span audit (Lee et al. 2021,
        -- arXiv:2107.06499 "Deduplicating Training Data Makes
        -- Language Models Better"): every {_SPAN_W}-token sliding
        -- window, a window is DUPLICATED iff its exact text occurs
        -- >= 2 times anywhere in the corpus (same doc counts); per
        -- doc, the duplicated-window fraction in bp -- the
        -- memorization-risk readout substring dedup thresholds on.
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS tok FROM documents
        ),
        w AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(tok) - {_SPAN_W} + 1)) AS i,
                   tok
            FROM d WHERE len(tok) >= {_SPAN_W}
        ),
        s AS (
            SELECT doc_id,
                   array_to_string(tok[i:i + {_SPAN_W} - 1], ' ') AS span
            FROM w
        ),
        c AS (SELECT span, count(*) AS cnt FROM s GROUP BY span),
        per AS (
            SELECT s.doc_id,
                   count(*) AS n_windows,
                   sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)
                       AS n_dup_windows
            FROM s JOIN c USING (span) GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(per.n_dup_windows, 0) AS BIGINT)
                   AS n_dup_windows,
               CAST(CASE WHEN COALESCE(per.n_windows, 0) = 0 THEN 0
                         ELSE per.n_dup_windows * 10000 // per.n_windows
                    END AS BIGINT) AS dup_bp
        FROM d LEFT JOIN per USING (doc_id)
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN audit (Lee et al. 2021,
    arXiv:2107.06499): slide a {w}-token window over every document
    and flag each window whose exact text occurs ≥ 2 times anywhere
    in the corpus (same-doc repeats count, per the paper). The per-doc
    duplicated-window fraction (bp) is the memorization-risk readout
    substring dedup pipelines threshold on — the SPAN-granular
    complement to `text_line_dedup` (line granularity) and
    `dedup_prefix`/`dedup_minhash` (whole-doc granularity). This is
    the bounded-width windowed form of the paper's suffix-array
    maximal-substring match: fixed W makes the operator a pure
    hash-groupBy pipeline (no suffix-array construction), trading
    arbitrary-length matches for embarrassing parallelism — the
    standard production variant.

    Plan/scale: windows explode JVM-side (transform+slice+array_join
    inside codegen, no Python); span counting is ONE map-side-combined
    hash agg keyed on span text; the flag join is span-keyed
    (content-hash sharding — exactly how a 100 TB substring dedup
    shards); the per-doc rollup is doc-keyed. Everything is linear in
    total window count (= corpus tokens). Docs shorter than {w} tokens
    emit an explicit 0-window row via the doc-spine left join."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tok")
    )
    wins = docs.filter(F.size("tok") >= _SPAN_W).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tok) - {_SPAN_W} + 1),"
                f" i -> array_join(slice(tok, i, {_SPAN_W}), ' '))"
            )
        ).alias("span"),
    )
    cnt = wins.groupBy("span").agg(F.count(F.lit(1)).alias("cnt"))
    per = (
        wins.join(cnt, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_windows, 0) = 0 THEN 0"
                " ELSE n_dup_windows * 10000 div n_windows END AS BIGINT)"
            ).alias("dup_bp"),
        )
    )


# --------------------------------------------------------------------------
# dedup_cdc_chunks — content-defined-chunking duplicate audit (round 11)
# --------------------------------------------------------------------------

_CDC_K = 16  # rolling-hash window (bytes)
_CDC_B = 131  # polynomial base
_CDC_M = 1048573  # modulus (prime < 2^20: 16 terms stay under 2^31)
_CDC_D = 64  # boundary divisor -> expected chunk length ~64 bytes
# precomputed B^(K-1-j) mod M, j = 0.._CDC_K-1 (leftmost byte highest
# power) — shared literals so Spark and DuckDB hash identically
_CDC_COEF = [pow(_CDC_B, _CDC_K - 1 - j, _CDC_M) for j in range(_CDC_K)]

_CDC_SQL_HASH = (
    "("
    + " + ".join(
        f"ascii(substr(text, i - {_CDC_K - 1 - j}, 1)) * {c}"
        for j, c in enumerate(_CDC_COEF)
    )
    + f") % {_CDC_M}"
)

@register(
    "dedup_cdc_chunks",
    tags=("b10",),
    oracle=f"""
        -- Content-defined-chunking duplicate audit (the LBFS/rsync
        -- boundary trick, Muthitacharoen et al. SOSP'01, as used by
        -- storage dedup and long-document curation): split every
        -- document at positions where the {_CDC_K}-byte rolling
        -- polynomial hash =~ 0 mod {_CDC_D} (boundaries move WITH the
        -- content, so a one-byte insertion re-chunks only its
        -- neighborhood — unlike fixed-size blocks where everything
        -- downstream shifts), fingerprint each chunk, and report per
        -- doc how many of its chunks (and bytes) also occur elsewhere
        -- in the corpus (count >= 2 anywhere, same doc included).
        WITH d AS (SELECT doc_id, text, length(text) AS len
                   FROM documents),
        p AS (
            SELECT doc_id, text, len,
                   unnest(generate_series({_CDC_K}, len)) AS i
            FROM d WHERE len >= {_CDC_K}
        ),
        b AS (
            SELECT doc_id, list_sort(list(i)) AS bounds
            FROM p
            WHERE {_CDC_SQL_HASH} % {_CDC_D} = {_CDC_D - 1} AND i < len
            GROUP BY doc_id
        ),
        cuts AS (
            SELECT d.doc_id, d.text, d.len,
                   list_concat(list_concat([0], COALESCE(b.bounds, [])),
                               [d.len]) AS cuts
            FROM d LEFT JOIN b USING (doc_id)
        ),
        ch AS (
            SELECT doc_id,
                   md5(substr(text, cuts[c] + 1, cuts[c + 1] - cuts[c]))
                       AS fp,
                   cuts[c + 1] - cuts[c] AS clen
            FROM (SELECT *, unnest(generate_series(1, len(cuts) - 1)) AS c
                  FROM cuts)
        ),
        cnt AS (SELECT fp, COUNT(*) AS n FROM ch GROUP BY fp),
        per AS (
            SELECT ch.doc_id,
                   COUNT(*) AS n_chunks,
                   SUM(CASE WHEN cnt.n >= 2 THEN 1 ELSE 0 END)
                       AS n_dup_chunks,
                   SUM(CASE WHEN cnt.n >= 2 THEN ch.clen ELSE 0 END)
                       AS dup_bytes,
                   SUM(ch.clen) AS total_bytes
            FROM ch JOIN cnt USING (fp) GROUP BY ch.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(per.n_dup_chunks, 0) AS BIGINT)
                   AS n_dup_chunks,
               CAST(COALESCE(per.dup_bytes, 0) AS BIGINT) AS dup_bytes,
               CAST(COALESCE(per.total_bytes, 0) AS BIGINT) AS total_bytes,
               CAST(CASE WHEN COALESCE(per.total_bytes, 0) = 0 THEN 0
                         ELSE per.dup_bytes * 10000 // per.total_bytes
                    END AS BIGINT) AS dup_bp
        FROM d LEFT JOIN per USING (doc_id)
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking (CDC) duplicate audit — the
    LBFS/rsync boundary mechanism (Muthitacharoen et al. SOSP'01)
    applied to corpus curation: chunk boundaries are placed where a
    {k}-byte rolling polynomial hash hits a fixed residue mod {d}, so
    identical LONG SPANS in different documents chunk identically
    regardless of their offsets (a one-byte edit re-chunks only its
    own neighborhood). Each chunk is md5-fingerprinted; a chunk is a
    DUPLICATE iff its fingerprint occurs ≥ 2 times corpus-wide. The
    per-doc duplicated-byte fraction (dup_bp) is the storage-level
    complement to `dedup_substring_spans` (token windows, every
    offset) — CDC touches each byte once instead of W times, which is
    why storage dedup and long-document pipelines run it at scales
    where sliding windows are too expensive.

    Exactness: the rolling hash is an exact int64 polynomial
    (coefficients B^j mod M precomputed and shared as literals with
    the oracle; 16 terms × max 127·998881 stays under 2³¹ pre-mod);
    boundaries, chunk texts, and md5 hex agree byte-for-byte across
    engines on the ASCII-pinned corpus; shares are floor
    cross-multiplies.

    Plan/scale: boundary detection + chunk fingerprinting is ONE
    Arrow-batched mapInPandas over (doc_id, text) — O(len·K) work, K
    constant, computed as a vectorized numpy sliding-window dot
    product per document (the declarative filter/sequence form is a
    higher-order lambda Catalyst interprets per position — 16 boxed
    reads × every byte; numpy does the identical exact int64
    polynomial in one C pass — measured 8.59s → 1.20s best-of-5 at sf0.1). The UDF is
    row-local (no state, no shuffle) so the stage remains
    embarrassingly parallel; fingerprint counting is ONE map-side-combined
    (fp) hash agg — content-hash sharding, the same shard key a 100 TB
    chunk store uses; the dup-flag join is fp-keyed and the rollup
    doc-keyed. Linear in corpus bytes end-to-end; the doc spine left
    join keeps sub-{k}-byte documents as explicit single-chunk rows.

    Ref parity note: no counterpart in the reference (538-LoC k-means);
    capability-closure operator per SURVEY.md §2.B-10."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    )

    # Boundary scan + chunk fingerprinting as ONE Arrow-batched
    # mapInPandas: the declarative form (filter(sequence(K, len),
    # i -> 16 element_at terms)) is a higher-order lambda Catalyst
    # INTERPRETS per position — 16 boxed array reads × len positions ×
    # corpus. The numpy form computes the same exact int64 polynomial
    # for every position at once (sliding_window_view @ coef — C-loop,
    # no boxing) and md5s each chunk with hashlib (byte-identical to
    # Spark's md5 on the ASCII-pinned corpus, where utf-8 bytes ==
    # ascii() codes). Same per-row work, 8.59s → 1.20s at sf0.1;
    # the UDF is row-local so the stage stays embarrassingly parallel.
    import pandas as pd

    def _cdc_fps(batches):
        import hashlib

        import numpy as np

        coef = np.array(_CDC_COEF, dtype=np.int64)
        for pdf in batches:
            out_doc, out_fp, out_len = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                cuts = [0]
                if n >= _CDC_K:
                    enc = text.encode("utf-8")
                    # Fail loudly off-ASCII (ADVICE r11): the rolling
                    # hash runs over utf-8 BYTES while cut offsets
                    # slice CHARACTERS, and the oracle hashes ascii()
                    # codepoints — all three agree only when byte
                    # length == char length. A non-ASCII doc would
                    # otherwise mis-chunk silently.
                    if len(enc) != n:
                        raise ValueError(
                            f"dedup_cdc_chunks: doc {doc_id} is not "
                            "pure ASCII (byte length != char length); "
                            "the CDC byte/char-offset equivalence does "
                            "not hold"
                        )
                    b = np.frombuffer(enc, dtype=np.uint8).astype(np.int64)
                    # windows end at i = t+K (1-based), t = 0..n-K
                    h = (
                        np.lib.stride_tricks.sliding_window_view(
                            b, _CDC_K
                        )
                        @ coef
                    ) % _CDC_M
                    (tpos,) = np.nonzero(h % _CDC_D == _CDC_D - 1)
                    cuts += [
                        int(t) + _CDC_K
                        for t in tpos
                        if int(t) + _CDC_K < n
                    ]
                cuts.append(n)
                for c in range(len(cuts) - 1):
                    chunk = text[cuts[c] : cuts[c + 1]]
                    out_doc.append(doc_id)
                    out_fp.append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    out_len.append(len(chunk))
            yield pd.DataFrame(
                {"doc_id": out_doc, "fp": out_fp, "clen": out_len}
            )

    chunks = d.select("doc_id", "text").mapInPandas(
        _cdc_fps, "doc_id long, fp string, clen long"
    )
    cnt = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    per = (
        chunks.join(cnt, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.sum(F.when(F.col("n") >= 2, F.col("clen")).otherwise(0)).alias(
                "dup_bytes"
            ),
            F.sum("clen").alias("total_bytes"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.coalesce("dup_bytes", F.lit(0)).cast("long").alias("dup_bytes"),
            F.coalesce("total_bytes", F.lit(0))
            .cast("long")
            .alias("total_bytes"),
            F.expr(
                "CAST(CASE WHEN coalesce(total_bytes, 0) = 0 THEN 0"
                " ELSE dup_bytes * 10000 div total_bytes END AS BIGINT)"
            ).alias("dup_bp"),
        )
    )
