"""Integer codecs: plain, frame-of-reference (miniblock), RLE, dictionary.

Capabilities C1/C2/C4/C5/C6 of SURVEY.md §2.4. All pure numpy; encode
works on int32/int64 input, decode returns int64 (callers cast to the
column's logical dtype — int32 discipline is enforced at the chunk layer).

forbp is a two-level frame-of-reference: a global min, then per-128-value
miniblock mins, residuals bit-packed per block. Blocks are grouped by bit
width so packing is a handful of vectorized calls, not a per-block loop —
this is what makes skewed (zipf) token streams compress well: a rare large
token only widens its own 128-value block.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from eggopress.codecs import bitpack
from eggopress.codecs.framing import Lazy, framed, make_blob, split_blob, unpack_parts

BLOCK = 128
SAMPLE = 4096


# ---------------------------------------------------------------- plain

def _plain(arr: np.ndarray) -> Lazy:
    n = len(arr)
    w = 4 if arr.dtype == np.int32 or n == 0 or (arr.min() >= -(2**31) and arr.max() < 2**31) else 8
    return make_blob({"c": "plain", "n": n, "w": w},
                     Lazy(w * n, lambda: arr.astype(f"<i{w}").tobytes()))


def dec_plain(header: dict, payload: bytes) -> np.ndarray:
    dt = "<i4" if header["w"] == 4 else "<i8"
    return np.frombuffer(payload, dtype=dt, count=header["n"]).astype(np.int64)


# ------------------------------------------------- frame-of-reference

def _forbp(arr: np.ndarray) -> Lazy:
    n = len(arr)
    if n == 0:
        return make_blob({"c": "forbp", "n": 0, "min": 0, "rw": 0, "nb": 0}, b"")
    gmin = int(arr.min())
    gmax = int(arr.max())
    if gmax - gmin >= 2**32:  # residual too wide for bitpack — caller falls back
        raise OverflowError("forbp residual exceeds 32 bits")
    res = (arr.astype(np.int64, copy=False) - gmin).astype(np.uint32)
    nb = (n + BLOCK - 1) // BLOCK
    padded = np.zeros(nb * BLOCK, dtype=np.uint32)
    padded[:n] = res
    if n % BLOCK:  # pad with the block's first value so it never widens the block
        padded[n:] = padded[(nb - 1) * BLOCK]
    R = padded.reshape(nb, BLOCK)
    bmin = R.min(axis=1)
    bres = R - bmin[:, None]
    widths = bitpack.bit_lengths(bres.max(axis=1))
    rw = int(bmin.max()).bit_length()
    parts = [widths.tobytes(), bitpack.packed(bmin, rw)]
    for w in np.unique(widths):
        parts.append(bitpack.packed(bres[widths == w].ravel(), int(w)))
    header = {"c": "forbp", "n": n, "min": gmin, "rw": rw, "nb": nb}
    return make_blob(header, framed(parts))


def dec_forbp(header: dict, payload: bytes) -> np.ndarray:
    n, gmin, rw, nb = header["n"], header["min"], header["rw"], header["nb"]
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    parts = unpack_parts(payload)
    widths = np.frombuffer(parts[0], dtype=np.uint8, count=nb)
    bmin = bitpack.unpack(parts[1], rw, nb)
    out = np.empty((nb, BLOCK), dtype=np.uint64)
    for i, w in enumerate(np.unique(widths)):
        idx = widths == w
        m = int(idx.sum()) * BLOCK
        out[idx] = bitpack.unpack(parts[2 + i], int(w), m).reshape(-1, BLOCK)
    out += bmin[:, None]
    return (out.ravel()[:n].astype(np.int64)) + gmin


# ----------------------------------------------------- patched FOR (PFOR)

def _pfor(arr: np.ndarray) -> Lazy:
    """Patched frame-of-reference: subtract min, pack every value at a
    single narrow width w, and 'patch' the few wide values from two side
    streams (positions as deltas, high bits). w is chosen exactly from the
    bit-length histogram by total-cost argmin — deterministic by content.
    This is what gets zipf-ish code streams near their entropy: the hot
    mass pays w bits, the tail pays only its excess."""
    n = len(arr)
    if n == 0:
        return make_blob({"c": "pfor", "n": 0, "min": 0, "w": 0}, framed([b"", b"", b""]))
    gmin = int(arr.min())
    gmax = int(arr.max())
    if gmax - gmin >= 2**32:
        raise OverflowError("pfor residual exceeds 32 bits")
    res = (arr.astype(np.int64, copy=False) - gmin).astype(np.uint32)
    bl = bitpack.bit_lengths(res)
    hist = np.bincount(bl, minlength=34)
    above = n - np.cumsum(hist)  # above[w] = #values with bit_length > w
    maxw = int(bl.max())
    costs = [
        n * w + int(above[w]) * ((maxw - w) + 12)  # bits: lows + (high + pos) per exc
        for w in range(maxw + 1)
    ]
    w = int(np.argmin(costs))
    lows = res & np.uint32((1 << w) - 1) if w else np.zeros(n, dtype=np.uint32)
    high_all = res >> np.uint32(w)
    pos = np.flatnonzero(high_all)
    highs = high_all[pos].astype(np.int64)
    deltas = np.diff(pos, prepend=-1).astype(np.int64) - 1
    payload = framed([bitpack.packed(lows, w), _enc_sub(deltas), _enc_sub(highs)])
    return make_blob({"c": "pfor", "n": n, "min": gmin, "w": w}, payload)


def dec_pfor(header: dict, payload: bytes) -> np.ndarray:
    n, gmin, w = header["n"], header["min"], header["w"]
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    lows_buf, dblob, hblob = unpack_parts(payload)
    out = bitpack.unpack(lows_buf, w, n).astype(np.int64) if w else np.zeros(n, dtype=np.int64)
    deltas = decode_ints(dblob)
    if len(deltas):
        pos = np.cumsum(deltas + 1) - 1
        highs = decode_ints(hblob)
        out[pos] += highs << w
    return out + gmin


# ------------------------------------------------------------------ rle

def _runs(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = len(arr)
    if n == 0:
        return arr[:0], np.zeros(0, dtype=np.int64)
    change = np.flatnonzero(arr[1:] != arr[:-1]) + 1
    starts = np.concatenate(([0], change))
    lengths = np.diff(np.concatenate((starts, [n]))).astype(np.int64)
    return arr[starts], lengths


def _rle(arr: np.ndarray) -> Lazy:
    values, lengths = _runs(arr)
    vblob = _enc_sub(values)
    lblob = _enc_sub(lengths)
    header = {"c": "rle", "n": int(len(arr)), "r": int(len(values))}
    return make_blob(header, framed([vblob, lblob]))


def dec_rle(header: dict, payload: bytes) -> np.ndarray:
    vblob, lblob = unpack_parts(payload)
    values = decode_ints(vblob)
    lengths = decode_ints(lblob)
    return np.repeat(values, lengths)


# ----------------------------------------------------------- dictionary

def _dict(arr: np.ndarray) -> Lazy:
    d = pa.array(arr).dictionary_encode()  # hash-based, no O(n log n) sort
    inv = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = d.dictionary.to_numpy(zero_copy_only=False).astype(np.int64)
    # frequency-descending code assignment: hot values get small codes so
    # miniblock packing of the code stream stays narrow
    counts = np.bincount(inv, minlength=len(uniq))
    order = np.argsort(-counts, kind="stable")
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[order] = np.arange(len(uniq), dtype=np.int64)
    codes = rank[inv]
    dict_values = uniq[order]
    vblob = _enc_sub(dict_values)
    cblob = _enc_sub(codes)
    header = {"c": "dict", "n": int(len(arr)), "k": int(len(uniq))}
    return make_blob(header, framed([vblob, cblob]))


def dec_dict(header: dict, payload: bytes) -> np.ndarray:
    vblob, cblob = unpack_parts(payload)
    dict_values = decode_ints(vblob)
    codes = decode_ints(cblob)
    return dict_values[codes]


# -------------------------------------------------------------- delta

def _delta(arr: np.ndarray) -> Lazy:
    """Delta coding for sorted/near-sorted streams (monotone keys,
    clustered timestamps): zigzag the successive differences and feed
    them to the FOR sub-encoder — a sorted key column collapses to its
    step sizes (~1-2 bits/value where FOR needs the full value width).
    Raises OverflowError on ranges where the diff/zigzag arithmetic
    could wrap (selection then simply skips the candidate)."""
    arr = arr.astype(np.int64, copy=False)
    n = len(arr)
    if n == 0:
        return make_blob({"c": "delta", "n": 0, "f": 0, "sp": 0}, b"")
    if n > 1:
        lo, hi = int(arr.min()), int(arr.max())
        # |diff| <= hi-lo must survive <<1 zigzag in int64
        if hi - lo >= (1 << 62):
            raise OverflowError("delta: value range too wide for zigzag")
    d = np.diff(arr)
    zig = (d >> 63) ^ (d << 1)
    sub_cands = ("plain", "forbp", "pfor", "rle")
    if n > 1 and int(zig.max()) >= (1 << 32):
        # wide diffs (a few big section jumps among small steps) overflow
        # the 32-bit-residual FOR/PFOR cap — split the zigzag stream into
        # 32-bit planes; the high plane is almost all zeros and collapses
        # under its own selection
        lo32 = (zig & np.int64(0xFFFFFFFF))
        hi32 = (zig >> np.int64(32))
        payload = framed([
            select_ints(lo32, candidates=sub_cands),
            select_ints(hi32, candidates=sub_cands),
        ])
        return make_blob({"c": "delta", "n": int(n), "f": int(arr[0]),
                          "sp": 1}, payload)
    sub = select_ints(zig, candidates=sub_cands) if n > 1 else b""
    return make_blob({"c": "delta", "n": int(n), "f": int(arr[0]), "sp": 0},
                     sub)


def dec_delta(header: dict, payload: bytes) -> np.ndarray:
    n = header["n"]
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    out = np.empty(n, dtype=np.int64)
    out[0] = header["f"]
    if n > 1:
        if header.get("sp"):
            lo_blob, hi_blob = unpack_parts(payload)
            zig = (decode_ints(hi_blob) << np.int64(32)) | \
                decode_ints(lo_blob)
        else:
            zig = decode_ints(payload)
        d = (zig >> 1) ^ -(zig & 1)
        np.cumsum(d, out=out[1:])
        out[1:] += header["f"]
    return out


# ----------------------------------------------------- selection (C6)

def _enc_sub(arr: np.ndarray) -> Lazy:
    """Sub-stream encoder: forbp if it fits and is smaller, else plain.
    (No pfor here: pfor's own side streams use _enc_sub — keeping the
    recursion one level deep.)"""
    plain = _plain(arr)
    try:
        blob = _forbp(arr)
    except OverflowError:
        return plain
    return blob if blob.size < plain.size else plain


_LAZY = {
    "plain": _plain,
    "forbp": _forbp,
    "pfor": _pfor,
    "rle": _rle,
    "dict": _dict,
    "delta": _delta,
}
_DECODERS = {
    "plain": dec_plain,
    "forbp": dec_forbp,
    "pfor": dec_pfor,
    "rle": dec_rle,
    "dict": dec_dict,
    "delta": dec_delta,
}
INT_CODECS = tuple(_LAZY)


def _eager(lazy_enc):
    """The bytes-returning public form of a lazy encoder."""
    def enc(arr: np.ndarray) -> bytes:
        return lazy_enc(arr).tobytes()
    enc.__name__ = enc.__qualname__ = "enc" + lazy_enc.__name__  # _plain -> enc_plain
    enc.__doc__ = lazy_enc.__doc__
    return enc


_ENCODERS = {name: _eager(fn) for name, fn in _LAZY.items()}
enc_plain, enc_forbp, enc_pfor, enc_rle, enc_dict, enc_delta = _ENCODERS.values()


def _sample(arr: np.ndarray, target: int = SAMPLE, segments: int = 8) -> np.ndarray:
    """Deterministic sample: `segments` contiguous slices spread across the
    chunk. Spreading covers regime-mixed streams (a head-only sample sees
    one document's distribution); contiguity preserves run structure so
    RLE is estimated fairly."""
    n = len(arr)
    if n <= target:
        return arr
    seg = target // segments
    starts = ((n - seg) * np.arange(segments)) // max(segments - 1, 1)
    return np.concatenate([arr[s : s + seg] for s in starts])


CLOSE_CALL = 1.35


def select_ints(arr: np.ndarray, candidates: tuple[str, ...] = INT_CODECS) -> Lazy:
    """Size-first sampled auto-selection. Every candidate builds its
    sub-streams on the deterministic spread sample and reports its exact
    blob size; the smallest wins, and only the winner is built at full
    size (when the stream fits in the sample, the winning probe is the
    full blob). A plain-size guard follows.

    Sample estimates can flip rank on close calls (dict's cost grows with
    full-chunk cardinality in ways a fixed-size sample can't see), so when
    a dict/pfor winner has forbp within CLOSE_CALL of it, forbp is sized
    at full length too and kept only for a real gain — still
    deterministic by content."""
    arr = np.ascontiguousarray(arr)
    sample = _sample(arr)
    probes: dict[str, Lazy] = {}
    for name in candidates:
        try:
            probes[name] = _LAZY[name](sample)
        except OverflowError:
            continue
    sizes = sorted((b.size, name) for name, b in probes.items())
    # delta must win DECISIVELY (<= 0.7x the best alternative): its
    # output is high-entropy (zigzag steps), so a narrow pre-storage win
    # over plain/forbp turns into an on-disk LOSS once the blob parquet's
    # page compression sees the bytes — observed on IEEE-bit-pattern
    # double streams, where sampled delta edged plain by ~12% and grew
    # the stored table. Sorted key/timestamp streams win 2-10x and keep
    # the codec.
    if sizes and sizes[0][1] == "delta":
        others = [s_ for s_ in sizes if s_[1] != "delta"]
        if others and sizes[0][0] > 0.7 * others[0][0]:
            sizes.pop(0)
    # speed tie-break: forbp is the cheapest real codec; within 2% of a
    # pfor/dict winner's sampled size, take forbp (deterministic)
    if sizes and sizes[0][1] in ("pfor", "dict"):
        hit = [s_ for s_ in sizes if s_[1] == "forbp" and s_[0] <= 1.02 * sizes[0][0]]
        if hit:
            sizes.insert(0, hit[0])
    best_name = sizes[0][1] if sizes else "plain"
    # a stream that fits in the sample was probed at full size already
    full = probes if len(arr) <= SAMPLE else {}
    try:
        blob = full.get(best_name) or _LAZY[best_name](arr)
    except OverflowError:
        return _plain(arr)
    # cross-check only when the sample winner's size grows NONLINEARLY with
    # chunk length (dict: cardinality growth; pfor: exception-rate drift) —
    # forbp/rle/plain sampled sizes extrapolate linearly and are trusted.
    # forbp is the only alternate: single pass, cheapest real codec.
    if (
        sizes
        and sizes[0][1] in ("dict", "pfor")
        and any(nm == "forbp" and sz < CLOSE_CALL * sizes[0][0] for sz, nm in sizes)
        and len(arr) > SAMPLE
    ):
        try:
            alt = _forbp(arr)
            if alt.size < 0.98 * blob.size:  # switch only for a real gain
                blob = alt
        except OverflowError:
            pass
    plain = _plain(arr)
    return plain if blob.size >= plain.size else blob


def encode_ints(arr: np.ndarray, candidates: tuple[str, ...] = INT_CODECS) -> bytes:
    """The blob select_ints chooses, as bytes."""
    return select_ints(arr, candidates).tobytes()


def decode_ints(blob: bytes) -> np.ndarray:
    header, payload = split_blob(blob)
    return _DECODERS[header["c"]](header, payload)
