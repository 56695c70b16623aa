"""Seeded input generators.

Every function here is a pure function of its seed: it writes parquet
files with pyarrow (no Spark involved), so the same seed always yields
byte-identical inputs and :func:`tree_sha256` can fingerprint them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The ticker feed behind the medallion workload: SYMBOLS x POLLS rows of
# (symbol, price decimal(10,2)); about REPEAT_P of the polls repeat the
# previous price so silver's dedup drops real rows.
SYMBOLS = 500
POLLS = 1000
REPEAT_P = 0.5

# The registry tables the query mix reads, sized like the sf0.01 fixture.
ORDERS = 15000
LINEITEMS = 60000
DOCUMENTS = 500
REGISTRY_TABLES = ("orders", "lineitem", "documents")
# The curation funnel's embeddings (see funnel_tables).
EMB_DIM = 64
NEAR_EMB = 25

# The table-layer ledger: COMMITS appends of FILES_PER_COMMIT files each,
# keys contiguous from 0, then one merge-on-read delete of every key
# below ``deleted``.
COMMITS = 4
FILES_PER_COMMIT = 4

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def ticker_polls(seed: int, out_dir: str) -> int:
    """Raw ticker snapshots for the medallion pipeline, as two parquet
    files. Returns the row count."""
    rng = np.random.default_rng([seed, 1])
    cents = np.empty((SYMBOLS, POLLS), dtype=np.int64)
    cents[:, 0] = rng.integers(100, 5_000_000, SYMBOLS)
    steps = rng.integers(-500, 501, (SYMBOLS, POLLS - 1))
    steps[rng.random((SYMBOLS, POLLS - 1)) < REPEAT_P] = 0
    cents[:, 1:] = cents[:, :1] + np.cumsum(steps, axis=1)
    cents = np.clip(cents, 1, 99_999_999)
    symbols = np.repeat(np.array([f"SYM{i:04d}USDT" for i in range(SYMBOLS)]), POLLS)
    # polls arrive interleaved across symbols, as a feed would deliver them
    order = np.argsort(np.tile(np.arange(POLLS), SYMBOLS), kind="stable")
    # decimal(10,2) from its unscaled cents: little-endian int128 words,
    # high word 0 because every price is positive
    unscaled = np.zeros((cents.size, 2), dtype="<i8")
    unscaled[:, 0] = cents.ravel()[order]
    price = pa.Array.from_buffers(
        pa.decimal128(10, 2), cents.size, [None, pa.py_buffer(unscaled.tobytes())]
    )
    table = pa.table({"symbol": pa.array(symbols[order]), "price": price})
    os.makedirs(out_dir, exist_ok=True)
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), os.path.join(out_dir, "part-0.parquet"))
    pq.write_table(table.slice(half), os.path.join(out_dir, "part-1.parquet"))
    return table.num_rows


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]))
    # plant near-duplicates: a later doc copies an earlier one, marked "dup"
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        src = texts[int(rng.integers(0, n // 2))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def registry_tables(seed: int, out_dir: str) -> None:
    """The fixture tables the query mix reads, one ``<name>.parquet``
    each, with the fixture's schemas."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 1500, ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
            "o_totalprice": _money(rng, 1000, 500000, ORDERS),
            "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2404, ORDERS), pa.timestamp("ms")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], ORDERS
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, ORDERS, LINEITEMS), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, LINEITEMS), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, LINEITEMS), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, LINEITEMS), pa.int32()),
            "l_quantity": rng.integers(1, 51, LINEITEMS).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, LINEITEMS),
            "l_discount": rng.integers(0, 11, LINEITEMS) / 100,
            "l_tax": rng.integers(0, 9, LINEITEMS) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], LINEITEMS),
            "l_linestatus": rng.choice(["F", "O"], LINEITEMS),
            "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2498, LINEITEMS), pa.timestamp("ms")),
        }),
        "documents": _documents(rng, DOCUMENTS),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def funnel_tables(seed: int, out_dir: str) -> None:
    """The curation funnel's inputs: ``documents.parquet`` as the query
    mix generates it and ``embeddings.parquet``, one vector per document
    (unit vectors; NEAR_EMB of them copy another document's vector plus a
    little noise, so SemDeDup has real duplicates to drop)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        _documents(np.random.default_rng([seed, 3]), DOCUMENTS),
        os.path.join(out_dir, "documents.parquet"),
    )
    rng = np.random.default_rng([seed, 4])
    vecs = rng.standard_normal((DOCUMENTS, EMB_DIM)).astype(np.float32)
    dst = rng.choice(np.arange(DOCUMENTS // 2, DOCUMENTS), NEAR_EMB, replace=False)
    src = rng.integers(0, DOCUMENTS // 2, NEAR_EMB)
    vecs[dst] = vecs[src] + 0.01 * rng.standard_normal((NEAR_EMB, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, DOCUMENTS), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


def table_ledger(seed: int) -> dict:
    """Rows per append commit and the merge-on-read delete bound: commit
    ``i`` appends keys ``[sum(rows[:i]), sum(rows[:i+1]))``; the delete
    removes every key below ``deleted``."""
    rng = np.random.default_rng([seed, 5])
    rows = [int(n) for n in rng.integers(2_000, 4_000, COMMITS)]
    return {"rows": rows, "deleted": int(rng.integers(1, rows[0]))}


def tree_sha256(root: str) -> str:
    """Hash of every file under ``root``: relative path and bytes, in
    sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
