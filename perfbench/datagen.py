"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine reads (``nchu_bigdata_spark.io.TABLES``)
as single-row-group parquet files, with the schemas and value
distributions of the TPC-H-shaped test data the engine is developed
against: uniform keys, Poisson(4) line items per order, a 30-word
vocabulary with 5% near-duplicate documents, 64-dim unit embeddings.

The tables depend only on the scale factor and ``DATA_SEED``; the
benchmark's ``--seed`` picks the operation order, never the data, so
the recorded output fingerprints stay valid. ``digest`` hashes the
generated columns (not the parquet bytes, which carry writer metadata)
so a run can prove it reads the data the fingerprints were made from.

    python3 perfbench/datagen.py <sf> <out_dir>
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EMBED_DIM = 64


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n) -> np.ndarray:
    return np.asarray(list(values), dtype=object)[rng.integers(0, len(values), n)]


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, PART_ADJ, n_part) + " " + _pick(rng, PART_NOUN, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, "FOP", n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, "ANR", n_line),
        "l_linestatus": _pick(rng, "FO", n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    lengths = rng.integers(10, 101, n_doc)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lengths]
    # 5% near-duplicates: a copy of another document plus one token
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    p_lang = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=p_lang)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over every table's name, schema and column values."""
    h = hashlib.sha256()
    for name in sorted(tables):
        tbl = tables[name]
        h.update(f"{name}:{tbl.schema.to_string()}:{tbl.num_rows}".encode())
        for col in tbl.columns:
            for chunk in col.chunks:
                flat = chunk.flatten() if pa.types.is_list(chunk.type) else chunk
                for buf in flat.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def write(sf: float, out_dir: str) -> str:
    """Generate the tables at ``sf`` into ``out_dir`` (atomically: a
    half-written directory is never visible) and return their digest."""
    tables = make_tables(sf)
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(tbl.num_rows, 1))
    dig = digest(tables)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(dig + "\n")
    os.rename(tmp, out_dir)
    return dig


if __name__ == "__main__":
    print(write(float(sys.argv[1]), sys.argv[2]))
