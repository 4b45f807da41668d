"""Deterministic synthetic world with the registry's table contract.

Writes the ten tables ``io.TABLE_NAMES`` expects (same Arrow schemas, one
SNAPPY row group per file, the layout the registry is tuned for) with the
value domains the registry's filters and joins assume: TPC-H-ish star schema
at scale factor ``sf``, a 30-day ``events`` stream, a 5,000-row
``documents`` corpus with 5% near-duplicates and 64-dim unit ``embeddings``.
Everything is drawn from one ``numpy`` generator, so a seed fixes the world
byte for byte.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400 * 1_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * US_PER_DAY).astype("datetime64[us]")


def _cents(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def build_tables(seed: int = 42, sf: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = 100_000, 5_000, 2_000
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_cents(-999.99, 9999.99, n_cust, rng), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_cents(-999.99, 9999.99, n_supp, rng), f64),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(rng.choice(COLORS, n_part), " "),
                    rng.choice(NOUNS, n_part),
                ),
                s,
            ),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2), f64),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), s),
            "o_totalprice": pa.array(_cents(1000.0, 500000.0, n_ord, rng), f64),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
            "l_extendedprice": pa.array(_cents(900.0, 105000.0, n_line, rng), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), s),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng), ts),
        }
    )

    # events: strictly increasing microsecond timestamps over January 2024,
    # so (ts, event_id) order agrees and no two events tie on ts
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY - n_events, n_events))
    offs += np.arange(n_events)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array((start + offs).astype("datetime64[us]"), ts),
            "user_id": pa.array(rng.integers(0, 1500, n_events), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), f64),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s
            ),
        }
    )

    # documents: bag-of-words texts; 5% copy another document plus " dup"
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def write_world(out_dir: str, seed: int = 42, sf: float = 0.1) -> str:
    """Write the world to ``out_dir`` unless it is already complete there.
    Files land in a sibling temp dir first and are renamed into place, so a
    killed run never leaves a half-written world behind."""
    if os.path.isfile(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(
            table,
            os.path.join(tmp, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(table.num_rows, 1),
        )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    os.replace(tmp, out_dir)
    return out_dir

