"""Seeded inputs for the benchmark workloads.

The benchmark reads nothing outside its checkout, so it synthesizes its own
tables instead of reading a shared testdata directory. The tables have the
schema, value domains and distributions of the repository's TPC-H-ish testdata
(``gmall_spark.schemas.TESTDATA_TABLES``): uniform keys, a 30-day event
stream with exponential gaps, ~4 lineitems per order, a 30-word document
vocabulary. Row counts scale linearly with ``sf`` (sf0.1 = 100k events,
150k orders, 600k lineitems).

Inputs are built in two steps:

1. a **base corpus** drawn from a fixed generator seed, so every benchmark
   seed does the same amount of work and produces results of the same shape;
2. a **seeded relabelling** of entity keys: one random permutation per key
   domain, applied to every column of that domain (the key-group map of
   ``tools/gen_sf.py``). It is a bijection within each domain and keeps every
   foreign key pointing at its parent, so the seed moves how keys hash into
   partitions and state stores without changing any join's row count.

Built inputs are cached on disk by (workload, seed).
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_sf import DOMAIN_KEY, KEYED

#: generator seed of the base corpus; the benchmark seed only relabels keys
CORPUS_SEED = 20240101

#: rows per unit of sf (the testdata's sf0.1 counts × 10)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
}
#: lineitems per order on average (testdata: 600k / 150k)
LINES_PER_ORDER = 4
#: events per distinct user (testdata: 100k events over 1500 users)
EVENTS_PER_USER = 66.7

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
PART_ADJ = ("blue", "hot", "large", "small", "red", "cold", "green", "tiny")
PART_NOUN = ("anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve")

_US = 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    """Naive (UTC) midnight of the date, in microseconds since the epoch."""
    return (datetime(y, m, d) - datetime(1970, 1, 1)).days * 86_400 * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _random_days(rng, n: int, first: tuple, last: tuple) -> pa.Array:
    lo, hi = _epoch_us(*first), _epoch_us(*last)
    days = rng.integers(0, (hi - lo) // (86_400 * _US) + 1, n)
    return _ts(lo + days * 86_400 * _US)


def base_corpus(sf: float, tables: tuple[str, ...]) -> dict[str, pa.Table]:
    """The fixed (seed-independent) corpus at scale ``sf``, restricted to
    ``tables`` (dims are cheap and always built)."""
    rng = np.random.default_rng(CORPUS_SEED)
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": [f"REGION_{i}" for i in range(5)],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    keys = np.arange(np_)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_
            ),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _random_days(rng, no, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = no * LINES_PER_ORDER
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _random_days(rng, nl, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * _US
    gaps = rng.exponential(span_us / ne, ne)
    ts = _epoch_us(2024, 1, 1) + np.floor(np.cumsum(gaps) * (span_us - _US) / gaps.sum())
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(
                rng.integers(0, max(1, int(ne / EVENTS_PER_USER)), ne), pa.int64()
            ),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lengths = rng.integers(10, 101, nd)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(WORDS[w] for w in words[at : at + ln]))
        at += ln
    names, probs = zip(*LANGS)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(names, nd, p=probs),
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    keep = set(tables) | {"region", "nation"}
    return {t: tb for t, tb in out.items() if t in keep}


def domain_sizes(tables: dict[str, pa.Table]) -> dict[str, int]:
    """Size of each key domain present in ``tables``: max parent key + 1,
    the same unit ``tools/gen_sf.py`` offsets replicas by."""
    sizes = {}
    for dom, key in DOMAIN_KEY.items():
        if dom in tables:
            sizes[dom] = int(pa.compute.max(tables[dom][key]).as_py()) + 1
    return sizes


def relabel(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Apply one seeded permutation per key domain to every column of that
    domain (``tools.gen_sf.KEYED``). Domains whose parent table is absent
    are left alone, so a foreign key is never relabelled without its
    parent."""
    rng = np.random.default_rng(seed)
    perms = {dom: rng.permutation(size) for dom, size in sorted(domain_sizes(tables).items())}
    out = {}
    for name, tb in tables.items():
        for col, dom in KEYED.get(name, {}).items():
            if dom not in perms:
                continue
            idx = tb.column_names.index(col)
            mapped = perms[dom][tb[col].to_numpy()]
            tb = tb.set_column(idx, col, pa.array(mapped, tb.schema.field(col).type))
        out[name] = tb
    return out


def build(root: str, workload: str, sf: float, tables: tuple[str, ...], seed: int) -> tuple[str, float]:
    """Return (input dir, seconds spent building it; 0 on a cache hit).
    The directory holds one ``<table>.parquet`` per table, the layout
    ``gmall_spark.sources.load_table`` and the DuckDB oracles read."""
    dest = os.path.join(root, f"{workload}_sf{sf:g}_seed{seed}")
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest, 0.0
    t0 = time.perf_counter()
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tb in relabel(base_corpus(sf, tables), seed).items():
        # several row groups per table, so scans split into parallel tasks
        pq.write_table(tb, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1024, len(tb) // 8))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, time.perf_counter() - t0
