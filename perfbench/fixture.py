"""Seeded benchmark fixture: the engine's ten input tables, generated with NumPy.

The distributions follow ``scripts/gen_sf.py`` (fitted to the reference
testdata), with two differences that matter to the benchmark:

* every draw comes from ``numpy.random.default_rng((seed, table))``, so the
  seed changes the data itself, not only the order of the query mix;
* each table is one pyarrow-written parquet file, the layout the reference
  testdata uses, so the same seed gives byte-identical files.

Suppliers are drawn from a 32-wide window anchored per order (the
``--graph-window 32`` regime of ``gen_sf.py``), which keeps the co-supply
graph at constant degree, the regime the graph loops are sized for.

The engine under test is not used to build its own inputs.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKTSEGMENTS = ["MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PTYPES = ["ECONOMY", "MEDIUM", "LARGE", "STANDARD", "PROMO", "SMALL"]
PNOUNS = ["ring", "bolt", "screw", "washer", "nut", "gear", "rod", "plate"]
PADJS = ["large", "hot", "blue", "red", "green", "small", "cold", "dark"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["fr", "de", "es", "zh"]
GRAPH_WINDOW = 32

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Lines per order: Poisson(4) truncated to 1..17, by inverse CDF.
_P4 = [math.exp(-4) * 4**k / math.factorial(k) for k in range(1, 18)]
_LINES_CDF = np.cumsum(np.array(_P4) / sum(_P4))[:-1]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, options: list[str], n: int) -> np.ndarray:
    return np.array(options, dtype=object)[rng.integers(0, len(options), n)]


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)`` as Arrow tables."""
    def rng(i: int) -> np.random.Generator:
        return np.random.default_rng((seed, i))

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    n_users = int(15_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })

    r = rng(2)
    ids = np.arange(n_cust, dtype="int64")
    out["customer"] = pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(-1000.0 + r.random(n_cust) * 11000.0),
        "c_mktsegment": _choice(r, MKTSEGMENTS, n_cust),
    })

    r = rng(3)
    ids = np.arange(n_supp, dtype="int64")
    out["supplier"] = pa.table({
        "s_suppkey": ids,
        "s_name": [f"Supplier#{i:09d}" for i in ids],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(-1000.0 + r.random(n_supp) * 11000.0),
    })

    r = rng(4)
    ids = np.arange(n_part, dtype="int64")
    adj, noun = _choice(r, PADJS, n_part), _choice(r, PNOUNS, n_part)
    out["part"] = pa.table({
        "p_partkey": ids,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": _choice(r, PTYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": _money(900.0 + ids * 0.1),
    })

    r = rng(5)
    okeys = np.arange(n_ord, dtype="int64")
    nlines = 1 + np.searchsorted(_LINES_CDF, r.random(n_ord))
    out["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(r, ["O", "P", "F"], n_ord),
        "o_totalprice": _money(1000.0 + r.random(n_ord) * 499000.0),
        "o_orderdate": _ts(_EPOCH_1995_US + r.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _choice(r, PRIORITIES, n_ord),
    })

    r = rng(6)
    n_li = int(nlines.sum())
    l_order = np.repeat(okeys, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    anchor = np.repeat(r.integers(0, n_supp, n_ord), nlines)
    window = min(GRAPH_WINDOW, n_supp)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": (anchor + r.integers(0, window, n_li)) % n_supp,
        "l_linenumber": (np.arange(n_li) - starts + 1).astype("int32"),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(900.0 + r.random(n_li) * 104100.0),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(r, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(r, ["O", "F"], n_li),
        "l_shipdate": _ts(_EPOCH_1995_US + r.integers(0, 2499, n_li) * _DAY_US),
    })

    r = rng(7)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + r.integers(0, 30 * _DAY_US, n_ev)),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": _choice(r, EVENT_TYPES, n_ev),
        # Exp(mean 50), truncated near 560
        "value": _money(-50.0 * np.log(1.0 - r.random(n_ev) * 0.9999864)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = rng(8)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and r.integers(0, 600) == 0:
            texts.append(texts[-1])  # exact duplicate of its predecessor
            continue
        nw = int(r.integers(8, 101))
        words = np.array(VOCAB, dtype=object)[r.integers(0, len(VOCAB), nw)]
        words[r.integers(0, 2000, nw) == 0] = "dup"
        texts.append(" ".join(words))
    en = r.integers(0, 100, n_doc) < 41
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.where(en, "en", _choice(r, LANGS, n_doc)).astype(object),
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    r = rng(9)
    centers = (r.random((10, 64)) - 0.5) * 0.8
    labels = r.integers(0, 10, n_vec)
    noise = (r.random((n_vec, 64)) + r.random((n_vec, 64)) + r.random((n_vec, 64)) - 1.5) * 0.15
    emb = (centers[labels] + noise).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return out


def write_fixture(seed: int, sf: float, out_dir: str) -> None:
    """Write the fixture's ten parquet files into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def ensure_fixture(cache_root: str, seed: int, sf: float) -> str:
    """Directory of the fixture cached by (seed, sf), generated if missing.

    A fixture is published by renaming a fully written directory, so a run
    that dies mid-write leaves no half fixture behind under the final name."""
    sf_dir = os.path.join(cache_root, f"seed{seed}_sf{sf:g}")
    if all(os.path.isfile(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES):
        return sf_dir
    tmp = f"{sf_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fixture(seed, sf, tmp)
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.rename(tmp, sf_dir)
    return sf_dir
