"""MinHash kernel tests: ``_minhash_signature`` and ``_band_rows`` against
a pure-Python reference.

Every MinHash op (``dedup_minhash``, ``dedup_incremental``,
``dedup_recall_eval``, ``dedup_band_tuning``, ``dedup_minhash_estimate``)
builds its signatures and band keys through these two helpers, and the
DuckDB oracles replay the same arithmetic in SQL. These tests pin the
kernel to the definition itself — ``m_i = min((A[i]*h + B[i]) mod P)``
and ``band_key = md5(",".join(str(m) ...))`` — computed in Python with
``hashlib``, so a shared mistake in both engines would still show.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from nchu_bigdata_spark.operators.dedup import (
    _A,
    _B,
    _BANDS,
    _BT_CONFIGS,
    _H,
    _P,
    _ROWS,
    _band_rows,
    _h32,
    _h60,
    _minhash_signature,
)

_MAX32 = 2**32 - 1

# (doc_id, h) exploded shingle-hash rows: boundary hashes (0, 2^32 - 1),
# a single-shingle doc, docs sharing hashes, and a repeated (doc, h) row
# (MIN is multiset-invariant, so the duplicate must not matter).
_ROWS_IN = [
    (1, 0), (1, _MAX32), (1, 12345),
    (2, _MAX32),
    (3, 7), (3, 12345), (3, 2**31), (3, 7),
    (4, 1), (4, 2), (4, 3), (4, 4), (4, 4_000_000_000),
]


def _ref_signatures() -> dict[int, list[int]]:
    docs: dict[int, list[int]] = {}
    for d, h in _ROWS_IN:
        docs.setdefault(d, []).append(h)
    return {
        d: [min((_A[i] * h + _B[i]) % _P for h in hs) for i in range(_H)]
        for d, hs in docs.items()
    }


@pytest.fixture(scope="module")
def sig(spark):
    sh = spark.createDataFrame(_ROWS_IN, "doc_id long, h long")
    out = _minhash_signature(sh).cache()
    yield out
    out.unpersist()


def test_universal_hash_family_fits_int64():
    # h < 2^32 and A < 2^30 keep A*h + B below 2^63 in both engines
    assert len(_A) == len(_B) == _H
    assert max(_A) * _MAX32 + max(_B) < 2**63
    assert _P > 2**32
    assert all(_P % k for k in range(2, math.isqrt(_P) + 1))  # prime


def test_signature_matches_python_reference(sig):
    ref = _ref_signatures()
    assert sig.columns == ["doc_id"] + [f"m{i}" for i in range(_H)]
    got = {r["doc_id"]: [r[f"m{i}"] for i in range(_H)] for r in sig.collect()}
    assert got == ref


@pytest.mark.parametrize("bands,rows", _BT_CONFIGS)
def test_band_rows_match_python_md5(sig, bands, rows):
    ref = _ref_signatures()
    out = _band_rows(sig, bands, rows)
    assert out.columns == ["doc_id", "band_id", "band_key"]
    got: dict[int, dict[int, str]] = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["band_id"]] = r["band_key"]
    assert set(got) == set(ref)
    for d, m in ref.items():
        assert sorted(got[d]) == list(range(bands))
        for b in range(bands):
            text = ",".join(str(v) for v in m[b * rows:(b + 1) * rows])
            assert got[d][b] == hashlib.md5(text.encode()).hexdigest()


def test_band_rows_default_is_shipped_banding(sig):
    assert (_BANDS, _ROWS) in _BT_CONFIGS
    default = sorted(tuple(r) for r in _band_rows(sig).collect())
    shipped = sorted(tuple(r) for r in _band_rows(sig, _BANDS, _ROWS).collect())
    assert default == shipped
    assert len(default) == _BANDS * len(_ref_signatures())


def test_h60_prefix_is_h32(spark):
    # dedup_incremental feeds the kernel ``h div 268435456`` of its 60-bit
    # rows: both hashes are prefixes of the same md5, so that is the h32.
    words = ["a b c", "alpha bravo charlie", "", "ünïcode tokens here"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = df.select(
        "s", _h32(F.col("s")).alias("h32"), _h60(F.col("s")).alias("h60")
    ).collect()
    for r in got:
        digest = hashlib.md5(r["s"].encode()).hexdigest()
        assert r["h32"] == int(digest[:8], 16)
        assert r["h60"] == int(digest[:15], 16)
        assert r["h60"] // 268435456 == r["h32"]
