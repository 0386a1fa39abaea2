"""Seeded input generator for the benchmark.

Writes the engine's ten-table layout (``<table>.parquet`` per table,
schemas and value distributions of the bundled TPC-H-style testdata)
from nothing but a seed, so a benchmark run reads no file outside its
own checkout.  Every table is a directory of several part files, the
way a real dataset arrives; the seed sets the values, the row order
and the split into files.

``lineitem_replica`` builds the Parquet I/O input: a K-fold replica of
a generated lineitem, each fold with its own order-key offset, rows
shuffled across folds, split into several files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _days(lo: str, hi: str) -> tuple[int, int]:
    d = np.array([lo, hi], dtype="datetime64[D]").astype(np.int64)
    return int(d[0]), int(d[1])


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _days(lo, hi)
    us = rng.integers(a, b + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n: int, vocab: list[str]) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[w] for w in words[pos : pos + ln]))
        pos += ln
    # ~5% near-duplicates (an earlier document plus one marker word) and
    # a few exact duplicates, so the dedup operators find real pairs
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            out[i] = out[rng.integers(0, i)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i:
            out[i] = out[rng.integers(0, i)]
    return out


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf0.01 ≈ 60k lineitem
    rows), deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    t0 = np.array("2024-01-01", dtype="datetime64[us]").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = list(VOCAB)
    rng.shuffle(vocab)
    texts = _text(rng, n_docs, vocab)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    emb = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                emb.ravel(), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def write_split(table: pa.Table, path: str, rng, max_files: int) -> None:
    """Shuffle ``table``'s rows and write them as up to ``max_files``
    part files (one per 200 rows) under the directory ``path``."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    n_files = max(1, min(max_files, n // 200))
    # near-even files, each cut moved by up to a tenth of a file
    step = n / n_files
    jitter = rng.uniform(-0.1, 0.1, n_files - 1) * step
    cuts = (np.arange(1, n_files) * step + jitter).astype(int)
    bounds = [0, *cuts.tolist(), n]
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def dataset_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the Parquet part files under ``path``."""
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


def write_tables(out_dir: str, sf: float, seed: int) -> dict:
    """Write all ten tables under ``out_dir``; returns rows, bytes and
    files of the generated input."""
    rng = np.random.default_rng([seed, 1])
    rows = n_bytes = n_files = 0
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        write_split(table, path, rng, max_files=6)
        b, f = dataset_size(path)
        rows, n_bytes, n_files = rows + table.num_rows, n_bytes + b, n_files + f
    return {"rows": rows, "bytes": n_bytes, "files": n_files}


def lineitem_replica(out_dir: str, sf: float, folds: int, seed: int) -> dict:
    """Write a ``folds``-fold replica of a generated lineitem to
    ``out_dir``/lineitem.parquet; returns its rows, bytes and files."""
    li = make_tables(sf, seed)["lineitem"]
    n_ord = max(1_500, int(1_500_000 * sf))
    rng = np.random.default_rng([seed, 2])
    offsets = rng.permutation(folds) * n_ord
    keys = li.column("l_orderkey").to_numpy()
    k = li.schema.get_field_index("l_orderkey")
    parts = [li.set_column(k, "l_orderkey", pa.array(keys + off, pa.int64())) for off in offsets]
    rep = pa.concat_tables(parts).combine_chunks()
    path = os.path.join(out_dir, "lineitem.parquet")
    write_split(rep, path, rng, max_files=4)
    b, f = dataset_size(path)
    return {"rows": rep.num_rows, "bytes": b, "files": f}
