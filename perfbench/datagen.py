"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the package's catalog registers
(``sources.catalog.TABLES``) as one parquet file each, with the column
names, types and value domains of the repository's fixtures (FIXTURES.md), so
every registered query and its DuckDB oracle run unchanged over them.
The same ``(seed, sf)`` always gives byte-identical tables; nothing is
read from outside the output directory.

Row counts follow the fixtures: at sf0.1 customer has 15 000 rows,
orders 150 000 and lineitem 600 000.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (fixture proportions)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": n(20_000),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, size=size)
    return cents / 100.0


def _pick(rng, values, size: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)])


def _days(rng, start: dt.date, span_days: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, size=size).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(rng, n):
    nc = n["customer"]
    return {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    }


def _supplier(rng, n):
    ns = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }


def _part(rng, n):
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900.0, 999.9, npart)),
    }


def _orders(rng, n):
    no = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ORDER_STATUS, no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    }


def _lineitem(rng, n):
    nl = n["lineitem"]
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, nl),
        "l_linestatus": _pick(rng, LINE_STATUS, nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, nl),
    }


def _events(rng, n):
    ne = n["events"]
    # strictly increasing timestamps over one month: as-of joins and
    # windows never meet a tie, so every engine orders them the same way
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.integers(1, max(2, 2 * span_us // ne), ne)
    ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + np.cumsum(gaps).astype("timedelta64[us]")
    users = min(n["customer"], max(1, ne // 66))
    return {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(_money(rng, 0.0, 560.0, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }


def _documents(rng, n):
    nd = n["documents"]
    lens = rng.integers(8, 72, nd)
    word_ids = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[w] for w in word_ids[pos : pos + ln]))
        pos += ln
    return {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd),
        "source": _pick(rng, [f"src{i}" for i in range(20)], nd),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (nv, EMBED_DIM)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    }


#: table -> column builder, in the catalog's registration order
BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, sf: float, seed: int, only=None) -> dict[str, str]:
    """Write the tables named in ``only`` (default: all) under
    ``out_dir``; returns table -> path. Each table draws from its own
    seeded stream, so its content does not depend on which other tables
    are generated."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf)
    paths = {}
    for i, (name, build) in enumerate(BUILDERS.items()):
        if only is not None and name not in only:
            continue
        tbl = pa.table(build(np.random.default_rng([seed, i]), n))
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
