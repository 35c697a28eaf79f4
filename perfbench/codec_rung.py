"""Driver-side codec rung: the codec kernels timed on one thread, no Spark.

The streams are the ones the encode pass wrote: blobs read from a few
chunk rows of the table's data files and decoded back to their exact
arrays. Re-encoding each array must give back the chunk's blob, so the
rung times the very selection the encode made. For each int stream it
times the sampled auto-selection (`encode_ints(arr)`), the winner-only
encode (`encode_ints(arr, (codec_of(blob),))`) and the decode; for each
string stream the selection and the decode.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from eggopress.codecs import core as codecs

REPEATS = 3
CHUNKS = 4  # chunk rows per table, evenly spaced over the data files


def _timed(fn) -> float:
    """Median of REPEATS timings of fn() (single thread, warm)."""
    ts = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def chunk_blobs(table_path: str, int_dtypes: dict[str, type]) -> list[tuple[bytes, type]]:
    """(blob, int dtype) for every `*_blob` column of CHUNKS chunk rows,
    evenly spaced in file-path order. `int_dtypes` names the columns whose
    int stream the encoder saw as other than int64."""
    files = sorted(glob.glob(os.path.join(table_path, "data", "**", "*.parquet"),
                             recursive=True))
    cols = [c for c in pq.read_schema(files[0]).names if c.endswith("_blob")]
    chunks = [(f, i) for f in files for i in range(pq.ParquetFile(f).metadata.num_rows)]
    picks = [chunks[k * len(chunks) // CHUNKS] for k in range(min(CHUNKS, len(chunks)))]
    out = []
    for f, i in picks:
        row = pq.read_table(f, columns=cols).slice(i, 1).to_pylist()[0]
        out += [(row[c], int_dtypes.get(c, np.int64)) for c in cols]
    return out


def measure(blobs: list[tuple[bytes, type]]) -> tuple[bool, dict[str, tuple[float, str]]]:
    """(every stream re-encoded to its chunk blob, (value, unit) per
    codecs.* metric)."""
    winners: dict[str, int] = {}
    sel = win = dec = s_sel = s_dec = 0.0
    n_vals = n_bytes = s_bytes = 0
    same = True
    for blob, dtype in blobs:
        name = codecs.codec_of(blob)
        winners[name] = winners.get(name, 0) + 1
        if name in codecs.STR_CODECS:
            lengths, buf = codecs.decode_strs(blob)
            same &= codecs.encode_strs(lengths, buf) == blob
            s_sel += _timed(lambda: codecs.encode_strs(lengths, buf))
            s_dec += _timed(lambda: codecs.decode_strs(blob))
            s_bytes += len(buf)
            continue
        arr = codecs.decode_ints(blob).astype(dtype)
        same &= codecs.encode_ints(arr) == blob
        sel += _timed(lambda: codecs.encode_ints(arr))
        win += _timed(lambda: codecs.encode_ints(arr, (name,)))
        dec += _timed(lambda: codecs.decode_ints(blob))
        n_vals += len(arr)
        n_bytes += len(blob)
    out = {
        "codecs.int_select_us_per_value": (1e6 * sel / max(n_vals, 1), "us/value"),
        "codecs.int_winner_us_per_value": (1e6 * win / max(n_vals, 1), "us/value"),
        "codecs.int_select_overhead": (sel / win if win else 0.0, "x"),
        "codecs.int_decode_us_per_value": (1e6 * dec / max(n_vals, 1), "us/value"),
        "codecs.int_bytes_per_value": (n_bytes / max(n_vals, 1), "bytes/value"),
        "codecs.str_select_us_per_byte": (1e6 * s_sel / max(s_bytes, 1), "us/byte"),
        "codecs.str_decode_us_per_byte": (1e6 * s_dec / max(s_bytes, 1), "us/byte"),
    }
    for name in codecs.INT_CODECS + codecs.STR_CODECS:
        out[f"codecs.winner_mix.{name}"] = (winners.get(name, 0) / max(len(blobs), 1), "share")
    return same, out
