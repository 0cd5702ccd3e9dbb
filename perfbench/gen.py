"""Seeded input generator for the benchmark workloads.

Every input is a parquet or CSV file written with pyarrow (no Spark), so
the program under test receives only finished files. The same seed and size
always give byte-identical files.

Shapes:

- ``history_loads``: a sequence of full snapshots of an orders-shaped keyed
  table. Each load after the first drops 2-5% of the live keys for good,
  changes the record of 5-15% of the rest, and adds 3% new keys. The shares
  follow a fixed schedule over the sequence, so every seed does the same
  amount of work; the seed picks the keys and the values.
- ``stream``: a bootstrap snapshot of open keys plus small change files.
  Each change file updates existing keys and adds new ones; no key is
  touched by two change files, so every key has at most two versions.
- ``corpus``: short documents over a Zipf vocabulary, tagged with one of 20
  sources, with near-duplicates (a few token edits) and exact copies
  injected at a seeded rate.
- ``lineitem``: a part/supplier relation with the TPC-H fixtures' ratios
  (30 lines per part, 20 parts per supplier) and uniform choice of both,
  as a CSV file with a header, the form a TPC-H generator delivers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DEFAULT_SEED = 1
# Seed kept out of every tuning run; a later performance claim must also
# hold on it.
HELD_OUT_SEED = 20261017

ORDER_KEY = "o_orderkey"
_STATUSES = np.array(["F", "O", "P"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_DAY0 = np.datetime64("1992-01-01")
# ratios of the sf0.01 and sf0.1 lineitem fixtures (60k lines, 2,000 parts,
# 100 suppliers; 600k lines, 20,000 parts, 1,000 suppliers)
LINES_PER_PART = 30
PARTS_PER_SUPPLIER = 20


@dataclass
class Inputs:
    """Paths of one workload's generated files, with row and byte counts."""

    root: str
    files: dict[str, list[str]] = field(default_factory=dict)
    rows: dict[str, list[int]] = field(default_factory=dict)

    def add(self, kind: str, path: str, table: pa.Table) -> None:
        if path.endswith(".csv"):
            pacsv.write_csv(table, path)
        else:
            pq.write_table(table, path)
        self.files.setdefault(kind, []).append(path)
        self.rows.setdefault(kind, []).append(table.num_rows)

    def nbytes(self, kind: str) -> list[int]:
        return [os.path.getsize(p) for p in self.files.get(kind, [])]


def _words(rng: np.random.Generator, vocab: int, n: int) -> np.ndarray:
    # Zipf-like ranks folded into the vocabulary
    return (rng.zipf(1.3, size=n) - 1) % vocab


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 9, size=size)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def _orders(rng: np.random.Generator, keys: np.ndarray, vocab: np.ndarray) -> dict:
    n = len(keys)
    comment_ids = _words(rng, len(vocab), n * 4).reshape(n, 4)
    return {
        ORDER_KEY: keys.astype(np.int64),
        "o_custkey": rng.integers(1, 15_001, size=n, dtype=np.int64),
        "o_orderstatus": _STATUSES[rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=n), 2),
        "o_orderdate": _DAY0 + rng.integers(0, 2400, size=n).astype("timedelta64[D]"),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, size=n)],
        "o_comment": np.array([" ".join(vocab[r]) for r in comment_ids]),
    }


def _table(cols: dict) -> pa.Table:
    return pa.table(
        {
            k: pa.array(v, type=pa.date32()) if k == "o_orderdate" else pa.array(v)
            for k, v in cols.items()
        }
    )


def _take(cols: dict, idx: np.ndarray) -> dict:
    return {k: v[idx] for k, v in cols.items()}


def _concat(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def _change(rng: np.random.Generator, cols: dict, idx: np.ndarray) -> None:
    """Give the records at ``idx`` a different price (always) and a fresh
    status, in place."""
    bump = np.round(rng.uniform(1.0, 5_000.0, size=len(idx)), 2)
    cols["o_totalprice"][idx] = np.round(cols["o_totalprice"][idx] + bump, 2)
    cols["o_orderstatus"][idx] = _STATUSES[rng.integers(0, 3, size=len(idx))]


def history_loads(root: str, seed: int, n_keys: int, n_loads: int) -> Inputs:
    """Full-snapshot loads ``load_00.parquet`` ... of a keyed orders table."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, 400)
    out = Inputs(root)
    os.makedirs(root, exist_ok=True)
    cols = _orders(rng, np.arange(1, n_keys + 1) * 4, vocab)
    next_key = n_keys + 1
    # the drop and change shares step through 2-5% and 15-5% over the
    # sequence; the seed picks which keys and what values
    drop = np.linspace(0.02, 0.05, max(n_loads - 1, 1))
    change = np.linspace(0.15, 0.05, max(n_loads - 1, 1))
    for i in range(n_loads):
        if i:
            live = len(cols[ORDER_KEY])
            gone = rng.choice(live, size=int(live * drop[i - 1]), replace=False)
            cols = _take(cols, np.setdiff1d(np.arange(live), gone))
            live = len(cols[ORDER_KEY])
            changed = rng.choice(live, size=int(live * change[i - 1]), replace=False)
            _change(rng, cols, changed)
            n_new = int(n_keys * 0.03)
            fresh = _orders(rng, np.arange(next_key, next_key + n_new) * 4, vocab)
            next_key += n_new
            cols = _concat(cols, fresh)
        out.add("loads", os.path.join(root, f"load_{i:02d}.parquet"), _table(cols))
    return out


def stream(root: str, seed: int, n_keys: int, n_files: int, file_rows: int) -> Inputs:
    """``bootstrap.parquet`` plus ``changes/part_NNN.parquet`` change files,
    each ``file_rows`` rows: 80% updates of distinct bootstrap keys, 20% new
    keys. File modification times increase with the file number so a file
    stream source admits them in order."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 400)
    out = Inputs(root)
    changes = os.path.join(root, "changes")
    os.makedirs(changes, exist_ok=True)
    base = _orders(rng, np.arange(1, n_keys + 1) * 4, vocab)
    out.add("bootstrap", os.path.join(root, "bootstrap.parquet"), _table(base))
    n_upd = int(file_rows * 0.8)
    if n_upd * n_files > n_keys:
        raise ValueError("change files would touch a key twice")
    order = rng.permutation(n_keys)
    next_key = n_keys + 1
    for f in range(n_files):
        idx = order[f * n_upd:(f + 1) * n_upd]
        upd = _take(base, idx)
        upd = {k: v.copy() for k, v in upd.items()}
        _change(rng, upd, np.arange(n_upd))
        n_new = file_rows - n_upd
        fresh = _orders(rng, np.arange(next_key, next_key + n_new) * 4, vocab)
        next_key += n_new
        path = os.path.join(changes, f"part_{f:03d}.parquet")
        out.add("changes", path, _table(_concat(upd, fresh)))
        stamp = 1_700_000_000 + f
        os.utime(path, (stamp, stamp))
    return out


def corpus(root: str, seed: int, n_docs: int) -> Inputs:
    """``documents.parquet`` (doc_id, text, source). About 15% of the
    documents are near-duplicates (1-3 token substitutions or deletions) of
    an earlier document and 3% are exact copies; sources src0..src19."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 3000)
    os.makedirs(root, exist_ok=True)
    texts: list[np.ndarray] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.15:
            toks = texts[rng.integers(0, i)].copy()
            for _ in range(rng.integers(1, 4)):
                pos = rng.integers(0, len(toks))
                if rng.random() < 0.5 and len(toks) > 20:
                    toks = np.delete(toks, pos)
                else:
                    toks[pos] = _words(rng, len(vocab), 1)[0]
        elif i > 10 and u < 0.18:
            toks = texts[rng.integers(0, i)]
        else:
            toks = _words(rng, len(vocab), int(rng.integers(40, 160)))
        texts.append(toks)
    out = Inputs(root)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([" ".join(vocab[t]) for t in texts]),
            "source": pa.array(
                [f"src{s}" for s in rng.integers(0, 20, size=n_docs)]
            ),
        }
    )
    out.add("documents", os.path.join(root, "documents.parquet"), table)
    return out


def lineitem(root: str, seed: int, lines: int) -> Inputs:
    """``lineitem.csv`` with l_orderkey, l_partkey, l_suppkey,
    l_quantity, in the shape of the repository's TPC-H fixtures: one part
    per ``LINES_PER_PART`` lines, one supplier per ``PARTS_PER_SUPPLIER``
    parts, and every line's part and supplier drawn uniformly. At 60,000
    lines this is the sf0.01 fixture's shape (2,000 parts, 100 suppliers)."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(root, exist_ok=True)
    n_parts = lines // LINES_PER_PART
    n_supps = n_parts // PARTS_PER_SUPPLIER
    part = rng.integers(1, n_parts + 1, size=lines, dtype=np.int64)
    supp = rng.integers(1, n_supps + 1, size=lines, dtype=np.int64)
    out = Inputs(root)
    table = pa.table(
        {
            "l_orderkey": pa.array(np.arange(1, lines + 1, dtype=np.int64) // 4 + 1),
            "l_partkey": pa.array(part),
            "l_suppkey": pa.array(supp),
            "l_quantity": pa.array(rng.integers(1, 51, size=lines).astype(np.float64)),
        }
    )
    out.add("lineitem", os.path.join(root, "lineitem.csv"), table)
    return out
