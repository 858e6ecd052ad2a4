"""Deterministic synthetic inputs for the benchmark.

Writes the TPC-H-style star schema plus the ``events`` stream and the
``documents`` corpus that ``__spark_entry__.queries()`` read, with the
same column names, parquet types and value domains as the gate's test
data, scaled by ``sf`` (sf=0.1: 600,000 lineitems, 5,000 documents).
``pages`` wraps every document in HTML boilerplate for the curation
workload.

The tables depend only on (sf, DATA_SEED); the run seed chooses query
order and curation batches, never the data, so every seed measures the
same rows.

Usage: python3 perfbench/datagen.py OUT_DIR SF
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def _days(a: str, b: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(a, "D").astype(np.int64)
    hi = np.datetime64(b, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _tpch(out: str, sf: float, rng) -> None:
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
    })


def _events(out: str, sf: float, rng) -> None:
    n = int(1_000_000 * sf)
    users = max(1, int(15_000 * sf))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(out: str, sf: float, rng) -> None:
    """Bag-of-words documents (10-99 words); 5% are near-duplicates:
    the text of an original (non-duplicate) document plus the marker
    word ``dup``. ``dup_sources.json`` maps each of them to its original;
    it is the curation check's ground truth and never a program input."""
    n = max(500, int(50_000 * sf))
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 100, n)
    ]
    is_dup = rng.random(n) < 0.05
    originals = np.flatnonzero(~is_dup)
    sources = {}
    for i in np.flatnonzero(is_dup):
        j = int(originals[rng.integers(0, len(originals))])
        texts[i] = texts[j] + " dup"
        sources[int(i)] = j
    with open(os.path.join(out, "dup_sources.json"), "w") as fh:
        json.dump(sources, fh)
    ids = np.arange(n, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # crawl-shaped copy for the curation workload: head boilerplate,
    # the text split into paragraphs, and a shared navigation footer
    pages = []
    for t in texts:
        w = t.split(" ")
        cut = len(w) // 2
        pages.append(
            f"<html><head><title>archive</title><script>track();</script>"
            f"<style>p{{margin:0}}</style></head><body><p>{' '.join(w[:cut])}</p>"
            f"<p>{' '.join(w[cut:])}</p><div class=\"nav\">home &amp; about</div>"
            "</body></html>"
        )
    _write(out, "pages", {"doc_id": ids, "html": pages})


def generate(out: str, sf: float) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1e6))])
    _tpch(out, sf, rng)
    _events(out, sf, rng)
    _documents(out, sf, rng)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
