"""Seeded benchmark inputs.

Everything the engine sees is generated here from ``--seed``: the ten
fixture tables (the schemas and value domains of FIXTURES.md, drawn with
a seeded generator), the analyst folders (a seeded split and order of
``examples/analyst_sql``), the export folder (``perfbench/export_sql``
in a seeded order) and the ingest drop files. Sizes never depend on the
seed, so two seeds give the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EXPORT_SQL_DIR = os.path.join(HERE, "export_sql")

#: Table sizes. ``bench`` is what the timed runs use; ``smoke`` keeps
#: every path and check alive at a fraction of the cost. ``embeddings``
#: stays at 500: c55 seeds its codebook with vector ids up to 498.
SIZES = {
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500,
                  embeddings=500, ingest_files=2, ingest_docs=50),
    "smoke": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, documents=150,
                  embeddings=500, ingest_files=3, ingest_docs=20),
}

#: Files per analyst folder: ``examples/analyst_sql`` is split into
#: folders of this many files, one pipeline run per folder.
ANALYST_FOLDER_FILES = 10

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window shuffle"
).split()
PART_WORDS = (
    "anvil blue bolt cold gear gizmo hot large new old plate red ring rod "
    "small widget"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]

_DAY0 = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    base = np.datetime64(_DAY0, "ms")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array((base + days).astype("datetime64[ms]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int, dup_frac: float = 0.08) -> list[str]:
    """Word-soup documents; ``dup_frac`` of them are near-copies of an
    earlier document of at least 20 words with one word appended
    (3-gram Jaccard >= 0.94), so the dedup operators find real pairs
    and the banded minhash finds every one of them."""
    vocab = np.array(VOCAB)
    out: list[str] = []
    for i in range(n):
        src = out[int(rng.integers(0, i))] if i else ""
        if src.count(" ") >= 19 and rng.random() < dup_frac:
            out.append(f"{src} {rng.choice(vocab)}")
        else:
            out.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    return out


def make_tables(seed: int, size: str, out_dir: str) -> None:
    """Write the ten fixture tables as one parquet file each."""
    s = SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = s["customer"]
    write("customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist(),
    })
    n = s["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = s["part"]
    words = rng.choice(PART_WORDS, (n, 2))
    write("part", {
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in words],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n = s["orders"]
    write("orders", {
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, n, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
    })
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _days(rng, n, 2500),
    })
    n = s["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts0 + offs),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": _money(rng, 0.01, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = s["documents"]
    texts = _texts(rng, n)
    write("documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = s["embeddings"]
    centers = rng.normal(0.0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, 64))
    # plant near-duplicate vectors (cosine > 0.99) for the embedding dedups
    for i in rng.choice(np.arange(20, n), n // 25, replace=False):
        vecs[i] = vecs[int(rng.integers(0, 20))] + rng.normal(0.0, 0.01, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_analyst_folders(seed: int, out_dir: str, repo_root: str) -> list[str]:
    """Split ``examples/analyst_sql`` into folders of
    :data:`ANALYST_FOLDER_FILES` files in a seeded order. Each copy is
    named ``<rank>_<original>.sql`` so the runner's name-sorted discovery
    walks it in that order. Returns the folder paths."""
    src = os.path.join(repo_root, "examples", "analyst_sql")
    names = sorted(f for f in os.listdir(src) if f.endswith(".sql"))
    order = np.random.default_rng(seed + 1).permutation(len(names))
    folders = []
    for start in range(0, len(names), ANALYST_FOLDER_FILES):
        folder = os.path.join(out_dir, f"folder{start // ANALYST_FOLDER_FILES}")
        os.makedirs(folder, exist_ok=True)
        for rank, i in enumerate(order[start:start + ANALYST_FOLDER_FILES]):
            shutil.copy(os.path.join(src, names[i]),
                        os.path.join(folder, f"{rank:02d}_{names[i]}"))
        folders.append(folder)
    return folders


def original_name(output_name: str) -> str:
    """Output name of a ranked copy -> the analyst file's own name."""
    return output_name.split("_", 1)[1]


def make_export_folder(seed: int, out_dir: str) -> str:
    """Copy ``perfbench/export_sql`` in a seeded order; the over-cap
    file always sorts last, so its guard time is the tail of the pass."""
    names = sorted(f for f in os.listdir(EXPORT_SQL_DIR) if f.endswith(".sql"))
    over = [f for f in names if f.startswith("over_cap")]
    rest = [f for f in names if f not in over]
    order = np.random.default_rng(seed + 2).permutation(len(rest))
    os.makedirs(out_dir, exist_ok=True)
    for rank, i in enumerate(order):
        shutil.copy(os.path.join(EXPORT_SQL_DIR, rest[i]),
                    os.path.join(out_dir, f"{rank:02d}_{rest[i]}"))
    for f in over:
        shutil.copy(os.path.join(EXPORT_SQL_DIR, f), os.path.join(out_dir, f"99_{f}"))
    return out_dir


def make_ingest_files(seed: int, size: str, out_dir: str) -> list[dict]:
    """Documents drop files for the ingest stream, one parquet per
    micro-batch. From the second file on, each carries exact copies of
    two documents from earlier files: a copy has Jaccard 1 to its
    original, so while the original is in history the ingest must drop
    the copy. Returns per-file ``{"path", "doc_ids", "copies"}`` with
    ``copies`` as ``(copy_id, original_id)`` pairs."""
    s = SIZES[size]
    rng = np.random.default_rng(seed + 3)
    os.makedirs(out_dir, exist_ok=True)
    files, seen_ids, seen_texts, next_id = [], [], [], 1_000_000
    for k in range(s["ingest_files"]):
        texts = _texts(rng, s["ingest_docs"])
        ids = list(range(next_id, next_id + len(texts)))
        next_id += len(texts)
        copies = []
        if seen_ids:
            slots = rng.choice(len(texts), 2, replace=False)
            for slot, j in zip(slots, rng.choice(len(seen_ids), 2, replace=False)):
                texts[int(slot)] = seen_texts[j]
                copies.append((ids[int(slot)], seen_ids[j]))
        path = os.path.join(out_dir, f"drop_{k:03d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)
        seen_ids.extend(ids)
        seen_texts.extend(texts)
        files.append({"path": path, "doc_ids": ids, "copies": copies})
    return files
