"""Seeded benchmark inputs, written as parquet under the run directory.

Every table is a pure function of (seed, size): the same seed gives
byte-identical rows.  The program under test only ever sees the
staged parquet files.

- `documents(doc_id, text, lang, source, n_chars)`: word-soup texts
  over the engine vocabulary, 20 sources, ~5% near-duplicates (an
  earlier text of the same source plus " dup"), so the dedup queries
  find pairs.
- `lineitem` / `part`: TPC-H-shaped rows for the relational and graph
  queries.  Prices are multiples of 1/4 and discounts multiples of
  1/32, so every sum is exact in binary floating point and the Spark
  and DuckDB results compare equal whatever order each engine adds in.
- pages `(url, text)`: `sources.pages.synth_text` PII sentences on page
  ids offset by the seed, optionally followed by a document's text as
  filler.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
DUP_FRACTION = 0.05
PAGE_ID_STRIDE = 1_000_000
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("large ring hot bolt blue cold plate old red green "
              "steel brass").split()


def page_id_base(seed: int) -> int:
    """First page id of a seed: seeds map to disjoint id ranges."""
    return (seed % 1000) * PAGE_ID_STRIDE


def documents(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(8, 100, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for i, k in enumerate(lengths.tolist()):
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    src = np.arange(n) % N_SOURCES
    # near-duplicates: copy an earlier document of the same source
    for i in np.nonzero(rng.random(n) < DUP_FRACTION)[0].tolist():
        back = N_SOURCES * int(rng.integers(1, 6))
        if i - back >= 0:
            texts[i] = texts[i - back] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=n)],
        "source": [f"src{s}" for s in src.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def lineitem(seed: int, n_orders: int, n_parts: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    per_order = rng.integers(1, 8, size=n_orders)
    n = int(per_order.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    linenumber = (np.arange(n) - np.repeat(np.cumsum(per_order) - per_order,
                                           per_order) + 1)
    days = rng.integers(0, 2500, size=n)
    return pd.DataFrame({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_parts, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1000, size=n, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": rng.integers(3600, 420000, size=n) / 4.0,
        "l_discount": rng.integers(0, 4, size=n) / 32.0,
        "l_tax": rng.integers(0, 3, size=n) / 32.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n)],
        "l_shipdate": (np.datetime64("1995-01-02")
                       + days.astype("timedelta64[D]")).astype(
                           "datetime64[us]"),
    })


def part(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    w = rng.integers(0, len(PART_WORDS), size=(n, 2))
    return pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w.tolist()],
        "p_brand": [BRANDS[j] for j in rng.integers(0, 25, size=n)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, size=n)],
        "p_size": rng.integers(1, 51, size=n).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 4.0,
    })


def pages(seed: int, n: int, filler: pd.Series | None = None,
          start: int = 0) -> pd.DataFrame:
    """`n` pages with ids page_id_base(seed) + start + i.  With `filler`,
    page i ends with filler[i % len(filler)] -- each document feeds
    n / len(filler) pages."""
    from redactify_spark.sources.pages import page_url, synth_text

    base = page_id_base(seed) + start
    fill = filler.tolist() if filler is not None else None
    ids = range(base, base + n)
    return pd.DataFrame({
        "url": [page_url(i) for i in ids],
        "text": [synth_text(i, fill[(i - base) % len(fill)] if fill else "")
                 for i in ids],
    })


def write(df: pd.DataFrame, path: str, files: int = 0) -> int:
    """Write `df` as one parquet file at `path`, or with `files` > 0 as
    that many files under directory `path`; return the bytes written."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if not files:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return os.path.getsize(path)
    os.makedirs(path, exist_ok=True)
    step = -(-len(df) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return tree_bytes(path)


def tree_bytes(path: str) -> int:
    """Sum of file sizes under `path` (0 when it does not exist)."""
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total
