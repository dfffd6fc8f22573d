"""Seeded input generator for the benchmark.

Builds the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`) with the same physical
Parquet schema as the repo's test data (TESTDATA.md), including
`events.ts` as TIMESTAMP(MICROS, isAdjustedToUTC=false). Value domains
follow the test data's (uniform keys and prices, 64 part names, a 30-word
vocabulary with about 5% of documents planted as ``<other doc> + " dup"``,
unit-norm 64-dim embeddings with random labels).

The base holds the sf0.01 row counts. A tier of ``mult`` replicas is
built from it with the construction ``tools/stress.py`` documents,
re-implemented here so later tool refactors cannot change the inputs:

- documents: ``doc_id`` offset per replica; replica k > 0 suffixes every
  token with a fixed-width (3-digit) salt, so duplicate structure stays
  within a replica and per-replica bytes do not depend on ``mult``.
  ``n_chars`` is carried over unchanged, as in the tool;
- embeddings: ``vec_id`` offset only;
- orders / lineitem: ``o_orderkey`` / ``l_orderkey`` offset in lockstep;
- events: ``event_id`` and ``user_id`` offset, giving disjoint users with
  identical per-user structure;
- dimension tables are copied as they are.

Each replicated table is a directory with one file per replica, as the
tool writes it; a base table is one file with one row group.

The seed sets every random value, the replica salts and a per-table row
permutation of the written files, so the same seed gives byte-identical
inputs and different seeds expose any dependence on physical row order.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# sf0.01 row counts of the repo's test data
BASE_ROWS = {
    "supplier": 100, "customer": 1500, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def base_tables(seed: int) -> dict[str, pa.Table]:
    """The sf0.01-sized base, fully determined by ``seed``."""
    rng = np.random.default_rng([seed, 0])
    n = BASE_ROWS
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _keys(n["supplier"]),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    t["customer"] = pa.table({
        "c_custkey": _keys(n["customer"]),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    np_ = n["part"]
    pk = _keys(np_)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": _keys(no),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64(
        "2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": _keys(ne),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, EVENT_USERS, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": _keys(nv),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n)]
    # about 5% near duplicates (another document plus " dup") and a few
    # exact duplicates, as in the test data's documents table
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": _keys(n),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _offset(col: pa.ChunkedArray, k: int, stride: int) -> pa.Array:
    return pa.array(col.to_numpy() + k * stride, col.type)


def _replica(name: str, tbl: pa.Table, k: int, salt: str,
             strides: dict[str, int]) -> pa.Table:
    if k == 0:
        return tbl
    if name == "documents":
        text = [" ".join(w + salt for w in s.split(" "))
                for s in tbl.column("text").to_pylist()]
        return tbl.set_column(
            0, "doc_id", _offset(tbl.column("doc_id"), k, strides["doc_id"])
        ).set_column(1, "text", pa.array(text))
    cols = {
        "embeddings": ["vec_id"], "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"], "events": ["event_id", "user_id"],
    }[name]
    for c in cols:
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, _offset(tbl.column(c), k, strides[c]))
    return tbl


REPLICATED = ("documents", "embeddings", "orders", "lineitem", "events")


def build(out_dir: str, seed: int, mult: int) -> dict[str, dict[str, int]]:
    """Write the ``mult``-replica tier for ``seed`` into ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": b}}`` for the written files.
    """
    base = base_tables(seed)
    rng = np.random.default_rng([seed, 1])
    salts = [""] + [f"{s:03d}" for s in rng.choice(1000, mult - 1, replace=False)]
    strides = {
        "doc_id": BASE_ROWS["documents"], "vec_id": BASE_ROWS["embeddings"],
        "o_orderkey": BASE_ROWS["orders"], "l_orderkey": BASE_ROWS["orders"],
        "event_id": BASE_ROWS["events"], "user_id": EVENT_USERS,
    }
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes: dict[str, dict[str, int]] = {}
    for name in TABLES:
        tbl = base[name]
        path = os.path.join(tmp, f"{name}.parquet")
        if mult == 1 or name not in REPLICATED:
            files = [(path, tbl.take(rng.permutation(tbl.num_rows)))]
        else:
            os.makedirs(path)
            files = [
                (os.path.join(path, f"part-{k:04d}.parquet"),
                 _replica(name, tbl, k, salts[k], strides).take(
                     rng.permutation(tbl.num_rows)))
                for k in range(mult)
            ]
        for fpath, part in files:
            pq.write_table(part, fpath, row_group_size=max(1, part.num_rows))
        sizes[name] = {
            "rows": sum(p.num_rows for _, p in files),
            "bytes": sum(os.path.getsize(f) for f, _ in files),
        }
    os.rename(tmp, out_dir)
    return sizes
