"""Seeded input generator for the ACON benchmark.

Every input the engine sees is written here as parquet from a numpy
``Generator`` keyed on ``(seed, stream, index)``, so the same seed gives
byte-identical files. Nothing is read from outside the work directory.

Shares and sizes are module constants; ``SPEC`` collects them so the run
record states exactly what was generated.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cdc_merge: a lineitem-shaped silver table and one CDC batch per op
TARGET_ROWS = 100_000
CDC_UPDATE_SHARE = 0.02  # keys updated per batch, 1..MAX_IMAGES images each
CDC_DELETE_SHARE = 0.005  # keys deleted per batch
CDC_INSERT_SHARE = 0.005  # new keys per batch (equal to deletes: size stays flat)
CDC_EXCLUDED_SHARE = 0.002  # keys whose newest image carries record mode X
CDC_MAX_IMAGES = 3

# curation_acon: a fresh documents corpus per op (doc ids offset by the op).
# The shape is that of the sf0.1 `documents` table the repo's q31/q32
# queries and their oracle SQL run on (5,000 docs): these 31 words and no
# others (plus "dup" in its near-duplicates), 10-100 words per doc drawn
# uniformly (mean 54), 5% near-duplicates, 20 sources and the LANG_P shares.
# Only the document count is smaller; at 300 documents the bytes an op
# writes per byte read varied by 5% between seeds (interquartile range over
# median), at 1,000 by 2%
CORPUS_DOCS = 1_000
NEAR_DUP_SHARE = 0.05  # docs that copy another doc with one word swapped
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

# gold_gab: an orders fact table; each op refreshes one calendar year
ORDERS_ROWS = 50_000
ORDER_DATE_MIN = dt.date(1992, 1, 1)
ORDER_DATE_MAX = dt.date(1998, 8, 2)
GAB_YEARS = (1993, 1994, 1995, 1996, 1997)  # window rotation, seeded order
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

SPEC = {
    "target_rows": TARGET_ROWS,
    "cdc_update_share": CDC_UPDATE_SHARE,
    "cdc_delete_share": CDC_DELETE_SHARE,
    "cdc_insert_share": CDC_INSERT_SHARE,
    "cdc_excluded_share": CDC_EXCLUDED_SHARE,
    "cdc_max_images": CDC_MAX_IMAGES,
    "corpus_docs": CORPUS_DOCS,
    "near_dup_share": NEAR_DUP_SHARE,
    "orders_rows": ORDERS_ROWS,
    "gab_years": list(GAB_YEARS),
}

_EPOCH = dt.date(1970, 1, 1)


def _rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` deterministically; returns the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


# ----------------------------------------------------------------- lineitem


def _line_values(rng: np.random.Generator, keys: np.ndarray, seq: np.ndarray) -> dict:
    n = len(keys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    day0 = (dt.date(1992, 1, 2) - _EPOCH).days
    return {
        "li_key": keys.astype(np.int64),
        "l_orderkey": (keys // 8).astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 200_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(day0 + rng.integers(0, 2_400, n), pa.int32()).cast(pa.date32()),
        "change_seq": seq.astype(np.int64),
    }


def target_table(seed: int) -> pa.Table:
    rng = _rng(seed, 1)
    keys = np.sort(rng.choice(TARGET_ROWS * 4, TARGET_ROWS, replace=False)).astype(np.int64)
    return pa.table(_line_values(rng, keys, np.zeros(TARGET_ROWS, np.int64)))


class CdcStream:
    """Sequence of CDC batches against the evolving target key set.

    Batch ``i`` depends on the batches before it (updates and deletes pick
    live keys), so batches are produced in order with ``next_batch``.
    """

    def __init__(self, seed: int, initial_keys: np.ndarray):
        self.seed = seed
        self.live = np.sort(initial_keys.astype(np.int64))
        self.next_key = TARGET_ROWS * 4
        self.index = 0

    def next_batch(self) -> pa.Table:
        rng = _rng(self.seed, 2, self.index)
        n = len(self.live)
        n_upd, n_del = int(n * CDC_UPDATE_SHARE), int(n * CDC_DELETE_SHARE)
        n_ins, n_exc = int(n * CDC_INSERT_SHARE), int(n * CDC_EXCLUDED_SHARE)
        picked = rng.choice(n, n_upd + n_del + n_exc, replace=False)
        upd = self.live[picked[:n_upd]]
        dele = self.live[picked[n_upd : n_upd + n_del]]
        exc = self.live[picked[n_upd + n_del :]]
        ins = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins

        # images per key: updates 1..MAX, deletes and excluded keys get an
        # update image first, then their final D / X image
        images = rng.integers(1, CDC_MAX_IMAGES + 1, n_upd)
        keys = np.concatenate([np.repeat(upd, images), dele, dele, exc, exc, ins])
        rank = np.concatenate(
            [np.concatenate([np.arange(k) for k in images]) if n_upd else np.zeros(0, np.int64),
             np.zeros(n_del, np.int64), np.ones(n_del, np.int64),
             np.zeros(n_exc, np.int64), np.ones(n_exc, np.int64),
             np.zeros(n_ins, np.int64)]
        )
        mode = np.concatenate(
            [np.where(rng.random(int(images.sum())) < 0.5, "", "N"),
             np.full(n_del, "N"), np.full(n_del, "D"),
             np.full(n_exc, "N"), np.full(n_exc, "X"),
             np.full(n_ins, "N")]
        )
        seq = (self.index + 1) * 16 + rank
        cols = _line_values(rng, keys, seq)
        cols["recordmode"] = mode.astype(object)
        order = rng.permutation(len(keys))
        table = pa.table({k: (v.take(order) if isinstance(v, pa.Array) else v[order])
                          for k, v in cols.items()})

        self.live = np.union1d(np.setdiff1d(self.live, dele, assume_unique=True), ins)
        self.index += 1
        return table


# ---------------------------------------------------------------- documents


def corpus_table(seed: int, index: int) -> pa.Table:
    rng = _rng(seed, 3, index)
    n = CORPUS_DOCS
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # near-duplicates come in disjoint pairs: with clusters of three or
    # more, the engine and the oracle replay kept different documents
    # (about one op in thirty failed its check)
    n_dup = int(n * NEAR_DUP_SHARE)
    pairs = rng.permutation(n)[: 2 * n_dup].reshape(2, n_dup)
    for src, dst in zip(*pairs):
        toks = texts[src].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[dst] = " ".join(toks)
    base = index * 1_000_000
    return pa.table({
        "doc_id": np.arange(base, base + n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)].astype(object),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)).astype(object),
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })


# ------------------------------------------------------------------- orders


def orders_table(seed: int) -> pa.Table:
    rng = _rng(seed, 4)
    n = ORDERS_ROWS
    day0 = (ORDER_DATE_MIN - _EPOCH).days
    span = (ORDER_DATE_MAX - ORDER_DATE_MIN).days + 1
    return pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, 15_001, n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)].astype(object),
        "o_totalprice": np.round(rng.integers(90_000, 50_000_000, n) / 100.0, 2),
        "o_orderdate": pa.array(day0 + rng.integers(0, span, n), pa.int32()).cast(pa.date32()),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)].astype(object),
    })


def gab_windows(seed: int) -> list:
    """Per-op calendar-year windows: the years in a seeded order."""
    return [int(y) for y in _rng(seed, 5).permutation(GAB_YEARS)]
