"""Seeded input generators for the workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives identical tables. The program under test only ever
sees these files; the expectations each generator returns (dirty-row
counts, junk-document ids, ...) go to the output checks, never to the
program.

The shapes follow the TPC-H-like ``lineitem`` table the engine's tests
use and its ``documents`` corpus (short texts
drawn from a small vocabulary), synthesised here so the benchmark reads
nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data customer join vector the a of and to with lake file commit "
    "snapshot delete append read write schema partition record"
).split()

EPOCH = dt.datetime(1995, 1, 1)


def rng_for(seed: int, *labels) -> np.random.Generator:
    """Independent stream per (seed, labels): adding a new consumer never
    shifts the values an existing one draws."""
    digest = hashlib.sha256(repr((seed,) + labels).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write_parquet(table: pa.Table, path: str) -> int:
    """Write *table* to *path*; returns the file's size in bytes."""
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)


# --------------------------------------------------------------- ingest
def dirty_share(seed: int) -> float:
    """Share of rows that fail a row-quality policy, set by the seed."""
    return float(rng_for(seed, "dirty").uniform(0.03, 0.06))


def lineitem_slice(seed: int, index: int, lwm: int, rows: int):
    """Landing slice *index* of ``lineitem``: watermark ``l_rowid`` runs
    over ``(lwm, lwm + rows]``. Returns (table, expectations) where
    expectations = {passed, quarantined, big, hwm}."""
    r = rng_for(seed, "lineitem", index)
    rowid = np.arange(lwm + 1, lwm + rows + 1, dtype=np.int64)
    qty = r.integers(1, 51, rows).astype(np.float64)
    price = np.round(r.uniform(900.0, 105000.0, rows), 2)
    disc = np.round(r.integers(0, 11, rows) / 100.0, 2)
    tax = np.round(r.integers(0, 9, rows) / 100.0, 2)
    partkey = r.integers(1, 20001, rows).astype(np.int64)
    partkey_null = np.zeros(rows, dtype=bool)
    dirty = r.random(rows) < dirty_share(seed)
    kind = r.integers(0, 3, rows)
    partkey_null[dirty & (kind == 0)] = True
    qty[dirty & (kind == 1)] *= -1.0
    disc[dirty & (kind == 2)] += 0.5
    ship = EPOCH + dt.timedelta(days=1)
    days = r.integers(0, 2500, rows)
    table = pa.table({
        "l_rowid": rowid,
        "l_orderkey": (rowid + 3) // 4,
        "l_partkey": pa.array(partkey, mask=partkey_null),
        "l_suppkey": r.integers(1, 1001, rows).astype(np.int64),
        "l_linenumber": pa.array(((rowid - 1) % 4 + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, rows)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, rows)]),
        "l_shipdate": pa.array(
            [ship + dt.timedelta(days=int(d)) for d in days],
            type=pa.timestamp("us")),
    })
    revenue = price * (1.0 - disc)
    ok = ~dirty
    return table, {
        "passed": int(ok.sum()),
        "quarantined": int(dirty.sum()),
        "big": int((ok & (revenue >= BIG_REVENUE)).sum()),
        "hwm": int(rowid[-1]),
    }


#: fork mask of the ingest pipeline: the ``big`` branch takes rows with
#: revenue at or above this, the ``small`` branch the rest
BIG_REVENUE = 50000.0


# -------------------------------------------------------------- curation
JUNK = np.array(list("#$%&*@!?;:0123456789"))


def _doc(r: np.random.Generator) -> list[str]:
    return list(np.array(VOCAB)[r.integers(0, len(VOCAB), r.integers(25, 60))])


def corpus(seed: int, docs: int):
    """Curation corpus of exactly *docs* documents: a seeded share of
    exact copies (re-keyed ids) and near copies (two words replaced) of
    the distinct originals, plus a share of junk documents (mostly
    punctuation and digits) that the quality filter must drop. Ids are
    shuffled so copies do not sit next to their originals. Returns
    (table, expectations) where expectations = {junk_ids}."""
    r = rng_for(seed, "corpus")
    n_exact = int(docs * r.uniform(0.08, 0.12))
    n_near = int(docs * r.uniform(0.08, 0.12))
    n_junk = int(docs * r.uniform(0.03, 0.05))
    n_base = docs - n_exact - n_near - n_junk
    texts = [_doc(r) for _ in range(n_base)]
    for _ in range(n_exact):
        texts.append(list(texts[int(r.integers(0, n_base))]))
    for _ in range(n_near):
        words = list(texts[int(r.integers(0, n_base))])
        for pos in r.integers(0, len(words), 2):
            words[int(pos)] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts.append(words)
    clean = len(texts)
    for _ in range(n_junk):
        texts.append(["".join(JUNK[r.integers(0, len(JUNK), 6)])
                      for _ in range(int(r.integers(10, 20)))])
    n = len(texts)
    ids = r.permutation(n).astype(np.int64) * 7 + 1000
    table = pa.table({
        "doc_id": ids,
        "text": [" ".join(w) for w in texts],
        "source": pa.array(np.array(["crawl", "books", "forum", "wiki"])
                           [r.integers(0, 4, n)]),
        "score": np.round(r.random(n), 6),
    })
    return table, {"junk_ids": sorted(int(i) for i in ids[clean:])}
