"""Seeded input generators: the same seed always gives the same files.

- :func:`make_tree` — the ``ftp_pipeline`` tree: a few hundred small
  files across four folder levels, with hidden and all-dots folders;
- :func:`make_bulk` — the ``ftp_pipeline`` flat folder of CSV files;
- :func:`make_tables` — the ``query_mix`` tables, with the schemas and
  value ranges of the TPC-H-style fixtures the registered queries read.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# tree shape: data/<3 regions>/<3 years>/<3 months>/files; counts are
# fixed so every seed gives the same amount of work
TREE_FANOUT = (3, 3, 3)
TREE_DEPTH = len(TREE_FANOUT) + 1  # BFS levels from data/ down to the leaf folders
TREE_FILES_PER_LEAF = 7
TREE_CSV_FILES = 12  # leaf files the download regex matches (plus one in a hidden folder)
TREE_FILE_BYTES = (1024, 8192)
TREE_OTHER_EXTS = (".json", ".log", ".txt", ".xml", ".bin")
TREE_MATCH = r"\.csv$"  # basename regex the download uses

# bulk: one flat folder of CSVs
BULK_FILES = 8
BULK_ROWS = 80_000  # ~2 MB per file
BULK_SCHEMA = "id bigint, k int, v double, tag int"

# query_mix tables at sf 0.02 (TPC-H row counts times 0.02)
SF_ROWS = {
    "customer": 3_000,
    "supplier": 200,
    "part": 4_000,
    "orders": 30_000,
    "lineitem": 120_000,
    "events": 20_000,
    "documents": 1_000,
    "embeddings": 1_000,
}


def sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.file_digest(f, "sha256").hexdigest()


def make_tree(root: str, seed: int) -> dict:
    """Write the tree under ``root/data``; return its file manifest.

    Returns ``{"files": {relpath: sha256}, "matches": [sorted relpaths the
    download regex selects outside all-dots folders], "entries": n}``."""
    rng = random.Random(seed)
    leaves = [f"data/r{a}/y{b}/m{c}" for a in range(TREE_FANOUT[0])
              for b in range(TREE_FANOUT[1]) for c in range(TREE_FANOUT[2])]
    slots = [(leaf, i) for leaf in leaves for i in range(TREE_FILES_PER_LEAF)]
    csv = set(rng.sample(slots, TREE_CSV_FILES))
    rels = [f"{leaf}/f{rng.randrange(10**6):06d}_{i}"
            + (".csv" if (leaf, i) in csv else rng.choice(TREE_OTHER_EXTS)) for leaf, i in slots]
    folders = {"/".join(leaf.split("/")[:k]) for leaf in leaves for k in range(2, 5)}
    rels += [f"{d}/index{rng.choice(TREE_OTHER_EXTS)}" for d in sorted(folders - set(leaves))]
    # folders the download must skip (all dots) or must list (hidden)
    rels += ["data/.../f_dots_a.csv", "data/r0/.../f_dots_b.csv", "data/r1/.cache/f_hidden.csv"]
    files = {}
    for rel in rels:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(rng.randbytes(rng.randint(*TREE_FILE_BYTES)))
        files[rel] = sha256(path)
    matches = sorted(
        p for p in files
        if p.endswith(".csv") and not any(set(s) == {"."} for s in p.split("/"))
    )
    return {"files": files, "matches": matches, "entries": len(files) + len(folders) + 3}


def make_bulk(root: str, seed: int) -> dict:
    """Write ``BULK_FILES`` CSVs (header + ``BULK_ROWS`` rows each) under ``root/bulk``.

    Returns ``{"files": {relpath: sha256}, "rows": n, "sum_k": s,
    "sum_id": s, "bytes": n}`` for the output checks."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "bulk"), exist_ok=True)
    files, sum_k, sum_id, total_bytes, rows = {}, 0, 0, 0, BULK_ROWS
    for i in range(BULK_FILES):
        table = pa.table({
            "id": np.arange(i * rows, (i + 1) * rows, dtype=np.int64),
            "k": rng.integers(0, 1_000_000, rows),
            "v": rng.integers(0, 10_000_000, rows) / 100,
            "tag": rng.integers(0, 100, rows).astype(np.int32),
        })
        rel = f"bulk/part_{i:02d}.csv"
        path = os.path.join(root, rel)
        with open(path, "wb") as f:
            f.write(b"id,k,v,tag\n")
            pcsv.write_csv(table, f, pcsv.WriteOptions(include_header=False))
        files[rel] = sha256(path)
        sum_k += int(pc.sum(table["k"]).as_py())
        sum_id += int(pc.sum(table["id"]).as_py())
        total_bytes += os.path.getsize(path)
    return {"files": files, "rows": BULK_FILES * rows, "sum_k": sum_k, "sum_id": sum_id,
            "bytes": total_bytes}


_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_WORDS = (["red", "blue", "small", "large", "hot", "old", "green", "shiny"],
               ["widget", "bolt", "ring", "plate", "rod", "gizmo", "gear", "nut"])
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as the fixtures store them."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; about 5% are near-copies of an earlier one
    (one word changed, a 'dup' marker appended) so the dedup and
    near-duplicate queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            idx = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[j] for j in idx))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(out: str, seed: int) -> dict:
    """Write one single-row-group parquet file per table under ``out``.

    Returns ``{table: (rows, bytes)}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = SF_ROWS
    i32, i64 = pa.int32(), pa.int64()

    def ints(lo, hi, k, typ=i64):
        return pa.array(rng.integers(lo, hi, k), typ)

    def choice(vals, k):
        return [vals[j] for j in rng.integers(0, len(vals), k)]

    events_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n["events"])
    ).astype("timedelta64[us]")
    emb = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": ints(0, 25, n["customer"], i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": choice(_SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": ints(0, 25, n["supplier"], i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": [f"{a} {b}" for a, b in zip(choice(_PART_WORDS[0], n["part"]),
                                                  choice(_PART_WORDS[1], n["part"]))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n["part"])],
            "p_type": choice(_TYPES, n["part"]),
            "p_size": ints(1, 51, n["part"], i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n["orders"]), i64),
            "o_custkey": ints(0, n["customer"], n["orders"]),
            "o_orderstatus": choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n["orders"]), pa.timestamp("us")),
            "o_orderpriority": choice(_PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": ints(0, n["orders"], n["lineitem"]),
            "l_partkey": ints(0, n["part"], n["lineitem"]),
            "l_suppkey": ints(0, n["supplier"], n["lineitem"]),
            "l_linenumber": ints(1, 8, n["lineitem"], i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": choice(["F", "O"], n["lineitem"]),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, n["lineitem"]), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n["events"]), i64),
            "ts": pa.array(events_ts, pa.timestamp("us")),
            "user_id": ints(0, max(1, n["events"] // 66), n["events"]),
            "event_type": choice(_EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50, n["events"]), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n["events"])],
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": pa.table({
            "vec_id": pa.array(range(n["embeddings"]), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": ints(0, 10, n["embeddings"], i32),
        }),
    }
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        sizes[name] = (table.num_rows, os.path.getsize(path))
    return sizes
