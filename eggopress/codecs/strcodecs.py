"""String-column codecs over the (lengths, concatenated-utf8-buffer) form.

A string column chunk is decomposed Arrow-style into an int32 lengths
stream (encoded with the int auto-selector — ascending offsets come back
via cumsum) and one contiguous byte buffer. Three buffer strategies:

  str_plain — raw buffer
  str_fsst  — FSST symbol-table compression of the buffer (good for
              doc_id-like keys with shared prefixes / zero runs)
  str_dict  — dictionary over whole strings (good for low-cardinality
              columns like `source`); codes via the int auto-selector,
              the unique-string pool recursively via str_plain/str_fsst

Selection mirrors the int path: size each candidate exactly on a
deterministic sample, build only the smallest, plain-size guard.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from eggopress.codecs import fsst
from eggopress.codecs.framing import Lazy, framed, make_blob, split_blob, unpack_parts
from eggopress.codecs.intcodecs import decode_ints, select_ints

SAMPLE_ROWS = 2048


def _slice(lengths: np.ndarray, buf: bytes, n: int) -> tuple[np.ndarray, bytes]:
    if n >= len(lengths):
        return lengths, buf
    ls = lengths[:n]
    return ls, buf[: int(ls.sum())]


def _str_plain(lengths: np.ndarray, buf: bytes, lblob=None) -> Lazy:
    lblob = select_ints(lengths.astype(np.int64, copy=False)) if lblob is None else lblob
    return make_blob({"c": "str_plain", "n": int(len(lengths))}, framed([lblob, buf]))


def dec_str_plain(header: dict, payload: bytes) -> tuple[np.ndarray, bytes]:
    lblob, buf = unpack_parts(payload)
    return decode_ints(lblob), buf


def _str_fsst(lengths: np.ndarray, buf: bytes, lblob=None) -> Lazy:
    table = fsst.build_table(buf)
    enc = fsst.encode(buf, table)
    lblob = select_ints(lengths.astype(np.int64, copy=False)) if lblob is None else lblob
    header = {"c": "str_fsst", "n": int(len(lengths)), "tab": fsst.table_to_json(table)}
    return make_blob(header, framed([lblob, enc]))


def dec_str_fsst(header: dict, payload: bytes) -> tuple[np.ndarray, bytes]:
    lblob, enc = unpack_parts(payload)
    table = fsst.table_from_json(header["tab"])
    return decode_ints(lblob), fsst.decode(enc, table)


def _str_dict(lengths: np.ndarray, buf: bytes, lblob=None) -> Lazy:
    """Ignores lblob: the lengths live in the unique-string pool."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    arr = pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)]
    )
    d = arr.dictionary_encode()  # vectorized C++; codes in first-appearance order
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = d.dictionary
    uoff = np.frombuffer(uniq.buffers()[1], dtype=np.int32, count=len(uniq) + 1)
    ulens = np.diff(uoff).astype(np.int64)
    ubuf = uniq.buffers()[2].to_pybytes()[uoff[0] : uoff[-1]]
    ulblob = select_ints(ulens)
    ublob_fsst = _str_fsst(ulens, ubuf, ulblob)
    ublob_plain = _str_plain(ulens, ubuf, ulblob)
    ublob = ublob_fsst if ublob_fsst.size < ublob_plain.size else ublob_plain
    header = {"c": "str_dict", "n": n, "k": int(len(uniq))}
    return make_blob(header, framed([select_ints(codes), ublob]))


def dec_str_dict(header: dict, payload: bytes) -> tuple[np.ndarray, bytes]:
    cblob, ublob = unpack_parts(payload)
    codes = decode_ints(cblob)
    ulens, ubuf = decode_strs(ublob)
    uoff = np.zeros(len(ulens) + 1, dtype=np.int64)
    np.cumsum(ulens, out=uoff[1:])
    uarr = np.frombuffer(ubuf, dtype=np.uint8)
    lengths = ulens[codes]
    # gather: build output buffer by fancy-indexing source ranges
    out_total = int(lengths.sum())
    if out_total == 0:
        return lengths, b""
    starts = uoff[codes]
    out_off = np.zeros(len(codes) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out_off[1:])
    # index vector: for each output byte its source position
    idx = np.repeat(starts - out_off[:-1], lengths) + np.arange(out_total, dtype=np.int64)
    return lengths, uarr[idx].tobytes()


_DECODERS = {
    "str_plain": dec_str_plain,
    "str_fsst": dec_str_fsst,
    "str_dict": dec_str_dict,
}
_LAZY = {
    "str_plain": _str_plain,
    "str_fsst": _str_fsst,
    "str_dict": _str_dict,
}
STR_CODECS = tuple(_LAZY)


def enc_str_plain(lengths: np.ndarray, buf: bytes,
                  _lblob: bytes | None = None) -> bytes:
    return _str_plain(lengths, buf, _lblob).tobytes()


def enc_str_fsst(lengths: np.ndarray, buf: bytes,
                 _lblob: bytes | None = None) -> bytes:
    return _str_fsst(lengths, buf, _lblob).tobytes()


def enc_str_dict(lengths: np.ndarray, buf: bytes) -> bytes:
    return _str_dict(lengths, buf).tobytes()


_ENCODERS = {
    "str_plain": enc_str_plain,
    "str_fsst": enc_str_fsst,
    "str_dict": enc_str_dict,
}


def encode_strs(lengths: np.ndarray, buf: bytes,
                candidates: tuple[str, ...] = STR_CODECS) -> bytes:
    """Size-first sampled selection: each candidate is sized exactly on
    the first SAMPLE_ROWS strings, the smallest wins (ties go to the
    earlier candidate), only the winner is built at full size, and a
    plain-size guard follows. When the column fits in the sample the
    winning probe is the full blob.

    The fsst probe (a symbol-table build and encode, the costliest) is
    skipped when an exact lower bound proves it cannot win: fsst replaces
    symbols of at most 8 bytes with 1-byte codes, so its blob is strictly
    larger than len(lengths blob) + ceil(len(buf)/8); if that bound is
    already >= another probe's size, fsst is not the first minimum."""
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    s_len, s_buf = _slice(lengths, buf, SAMPLE_ROWS)
    s_lblob = select_ints(s_len)
    probes = {nm: _LAZY[nm](s_len, s_buf, s_lblob) for nm in candidates if nm != "str_fsst"}
    f_lb = s_lblob.size + (len(s_buf) + 7) // 8
    if "str_fsst" in candidates and not any(b.size <= f_lb for b in probes.values()):
        probes["str_fsst"] = _str_fsst(s_len, s_buf, s_lblob)
    best = min((nm for nm in candidates if nm in probes),
               key=lambda nm: probes[nm].size, default="str_plain")
    if len(lengths) <= SAMPLE_ROWS:  # the sample is the column: probes are full blobs
        full, lblob = probes, s_lblob
    else:
        full, lblob = {}, (None if best == "str_dict" else select_ints(lengths))
    blob = full.get(best) or _LAZY[best](lengths, buf, lblob)
    # a full plain blob embeds buf verbatim plus a header and lengths
    # stream, so a winner no larger than buf needs no plain guard
    if best == "str_plain" or blob.size <= len(buf):
        return blob.tobytes()
    plain = full.get("str_plain") or _str_plain(lengths, buf, lblob)
    return (plain if blob.size >= plain.size else blob).tobytes()


def decode_strs(blob: bytes) -> tuple[np.ndarray, bytes]:
    """Returns (lengths:int64 array, concatenated utf8 buffer)."""
    header, payload = split_blob(blob)
    return _DECODERS[header["c"]](header, payload)
