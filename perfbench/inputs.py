"""Seeded input generators for the workloads.

Every generator is a pure function of its seed, so the same seed gives
byte-identical inputs. The engine only ever sees the generated tables.

- corpus: the engine's own FIXTURES §1 generator (`synth.corpus_df`),
  shifted by the seed.
- lineitem and documents: one fixed table each, drawn from the value
  distributions of the TPC-H-ish sf0.1 test tables (`lineitem.parquet`,
  `documents.parquet`), in a seeded row order. Those tables are not part
  of a checkout; NOTES.md compares the shapes of these generators with
  them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

LINEITEM_ROWS = 300_000  # half of sf0.1; 37 chunks of 8,192
DOCS = 5_000  # as sf0.1
CONTENT_SEED = 1  # of the fixed tables; --seed only permutes their rows

# the 30 words of the sf0.1 documents, each drawn uniformly
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def corpus_df(spark, n_docs: int, seed: int):
    from eggopress import synth

    # synth seeds block b with seed + b, so distinct benchmark seeds are
    # spread far apart to keep their block streams disjoint
    return synth.corpus_df(spark, n_docs, seed=1_000_003 * seed + 42)


def _permuted(tbl: pa.Table, seed: int) -> pa.Table:
    return tbl.take(np.random.default_rng([seed, 0]).permutation(tbl.num_rows))


def lineitem(seed: int) -> pa.Table:
    """sf0.1 lineitem's columns are independent uniforms: order keys over
    a quarter of the row count (~4 lines a key), prices in cents over [900.68, 104999.91], ship dates over the 2,499
    days from 1995-01-02, flags A/N/R and F/O."""
    rng = np.random.default_rng([CONTENT_SEED, 1])
    n = LINEITEM_ROWS
    day0 = np.datetime64("1995-01-02", "D").astype(np.int64)
    shipdays = day0 + rng.integers(0, 2_499, n)
    return _permuted(pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_068, 10_499_992, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": shipdays.astype("datetime64[D]").astype("datetime64[us]"),
    }), seed)


def documents(seed: int) -> pa.Table:
    """sf0.1 documents: 10-99 uniform words each; 5% of them, at random
    positions, are replaced in id order by a copy of another document
    with " dup" appended (so copies of copies and exact duplicates occur,
    as in sf0.1)."""
    rng = np.random.default_rng([CONTENT_SEED, 2])
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, DOCS)]
    for i in np.sort(rng.choice(DOCS, DOCS // 20, replace=False)):
        j = int(rng.integers(0, DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return _permuted(pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), seed)
