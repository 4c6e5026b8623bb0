"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the query registry reads (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the column names, physical types and value domains of the
project's seed-42 test tables: a TPC-H-like star schema with uniform keys,
an event stream sorted by time, a bag-of-words document corpus with 5%
near-duplicates, and unit-norm 64-d embeddings clustered in 10 labels.

Row counts scale with `sf` the way the test tables do (lineitem = 6M * sf).
The same (sf, seed) always gives byte-identical tables.

    python3 perfbench/gen_data.py <out_dir> [sf] [seed]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
EMB_DIM = 64
EMB_LABELS = 10


def _micros(d):
    epoch = datetime.datetime(1970, 1, 1)
    return int((d - epoch) / datetime.timedelta(microseconds=1))


def _days(rng, n, lo, hi):
    """Midnight timestamps (micros) uniform over the days in [lo, hi]."""
    span = (hi - lo).days + 1
    day = rng.integers(0, span, n)
    return pa.array(_micros(lo) + day * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pkeys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (pkeys % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, datetime.datetime(1995, 1, 1),
                             datetime.datetime(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": _money(rng, n_line, 0.0, 0.10),
        "l_tax": _money(rng, n_line, 0.0, 0.08),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days(rng, n_line, datetime.datetime(1995, 1, 2),
                            datetime.datetime(2001, 11, 4)),
    })
    t0 = _micros(datetime.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_evt)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, marked by one extra token
            words = texts[rng.integers(0, i)].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01,
          int(sys.argv[3]) if len(sys.argv) > 3 else 42)
