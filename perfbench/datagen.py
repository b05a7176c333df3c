"""Seeded synthetic tables in the shapes of the project's TPC-H-ish fixtures.

Every table is a pure function of ``(seed, size)``: the same seed gives the
same rows, byte for byte. Columns and types follow ``FIXTURES.md`` so the
library sees what it sees in production-shaped data. Tables are returned as
``pyarrow.Table`` (for the parquet the Store ingests) and the numpy columns
stay available to the harness, which computes expected answers from them
without going through the library.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])
ORDERSTATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_DAY0 = 8035  # 1992-01-01 as days since 1970-01-01
N_DAYS = 3600  # ship/order dates span ~10 years
US_PER_DAY = 86_400_000_000


def _ts_us(days: np.ndarray) -> pa.Array:
    """Midnight timestamps (µs, UTC) for ``days`` since ``EPOCH_DAY0``."""
    return pa.array((days.astype(np.int64) + EPOCH_DAY0) * US_PER_DAY, pa.timestamp("us", tz="UTC"))


def _table(cols: dict[str, np.ndarray], date_col: str) -> pa.Table:
    return pa.table({k: _ts_us(v) if k == date_col else pa.array(v) for k, v in cols.items()})


def lineitem(seed: int, rows: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """Lineitem rows whose ``l_orderkey`` ranges over ``rows // 4`` orders."""
    rng = np.random.default_rng([seed, 1])
    n_orders = max(1, rows // 4)
    cols = {
        "l_orderkey": rng.integers(0, n_orders, rows, dtype=np.int64),
        "l_partkey": rng.integers(0, max(1, rows // 30), rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, rows // 600), rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, rows, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": RETURNFLAGS[rng.integers(0, 3, rows)],
        "l_linestatus": LINESTATUS[rng.integers(0, 2, rows)],
        "l_shipdate": rng.integers(0, N_DAYS, rows, dtype=np.int64),
    }
    return _table(cols, "l_shipdate"), cols


def orders(seed: int, rows: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """Orders with dense unique keys ``0 .. rows-1``."""
    rng = np.random.default_rng([seed, 2])
    cols = {
        "o_orderkey": np.arange(rows, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, rows // 10), rows, dtype=np.int64),
        "o_orderstatus": ORDERSTATUS[rng.integers(0, 3, rows)],
        "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, rows), 2),
        "o_orderdate": rng.integers(0, N_DAYS, rows, dtype=np.int64),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, rows)],
    }
    return _table(cols, "o_orderdate"), cols


STOP_EN = np.array(["the", "of", "and", "to", "a", "in", "is", "it"])
SYLLABLES = np.array(["ka", "lo", "mi", "ren", "tor", "sa", "vel", "qua", "dri", "on", "pe", "zu"])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct pseudo-words of two to four syllables."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(SYLLABLES[rng.integers(0, len(SYLLABLES), k)]))
    return np.array(sorted(words))


def documents(seed: int, originals: int, copy_share: float) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """English-looking documents (a stopword every few words, so they pass
    the language and quality filters) plus ``copy_share`` of them again as
    copies: half verbatim, half with two words replaced. ``source`` is the
    doc id a copy was made from, or -1 for an original."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3_000)
    texts, source = [], []
    for _ in range(originals):
        n = int(rng.integers(60, 140))
        words = vocab[rng.zipf(1.3, n) % len(vocab)]
        stops = rng.random(n) < 0.3
        words[stops] = STOP_EN[rng.integers(0, len(STOP_EN), int(stops.sum()))]
        texts.append(" ".join(words))
        source.append(-1)
    for i, src in enumerate(rng.choice(originals, int(originals * copy_share), replace=False)):
        words = texts[src].split(" ")
        if i % 2:
            for at in rng.choice(len(words), 2, replace=False):
                words[at] = str(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(words))
        source.append(int(src))
    order = rng.permutation(len(texts))  # copies are not all at the end
    cols = {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": np.array(texts, dtype=object)[order],
        "lang": np.full(len(texts), "en"),
        "source": np.array(source, dtype=np.int64)[order],
        "n_chars": np.array([len(texts[j]) for j in order], dtype=np.int64),
    }
    return pa.table({k: pa.array(v) for k, v in cols.items()}), cols


def embeddings(seed: int, rows: int, dim: int = 64, labels: int = 8) -> tuple[pa.Table, np.ndarray]:
    """Unit-ish float32 vectors around ``labels`` seeded centres, and one
    query vector near a random centre."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, rows).astype(np.int32)
    vecs = (centres[label] + 0.4 * rng.normal(size=(rows, dim))).astype(np.float32)
    query = (centres[rng.integers(0, labels)] + 0.4 * rng.normal(size=dim)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )
    return table, query
