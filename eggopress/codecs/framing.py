"""Blob framing: self-describing codec blobs and multi-part payloads.

Encoders build ``Lazy`` values: a blob's exact byte length is known as
soon as its sub-streams are, before any bit is packed or part framed, so
codec selection can compare sizes and turn only the winner into bytes.
"""

from __future__ import annotations

import json
import struct

_LEN = struct.Struct("<I")
_HEADER_JSON = json.JSONEncoder(separators=(",", ":"))  # == json.dumps(..., separators=...)


class Lazy:
    """Bytes to be built: ``size`` is exactly ``len(tobytes())``."""

    __slots__ = ("size", "_make")

    def __init__(self, size: int, make):
        self.size = size
        self._make = make

    def tobytes(self) -> bytes:
        return self._make()


def _size(part) -> int:
    return part.size if isinstance(part, Lazy) else len(part)


def _bytes(part) -> bytes:
    return part.tobytes() if isinstance(part, Lazy) else part


def make_blob(header: dict, payload) -> Lazy:
    """uint32-LE header_len | header_json_utf8 | payload (bytes or Lazy)."""
    hdr = _HEADER_JSON.encode(header).encode("utf-8")
    return Lazy(4 + len(hdr) + _size(payload),
                lambda: _LEN.pack(len(hdr)) + hdr + _bytes(payload))


def split_blob(blob: bytes) -> tuple[dict, bytes]:
    (hlen,) = _LEN.unpack_from(blob, 0)
    header = json.loads(blob[4 : 4 + hlen].decode("utf-8"))
    return header, blob[4 + hlen :]


def framed(parts: list) -> Lazy:
    """pack_parts of bytes and Lazy parts, sized before any is built."""
    return Lazy(4 + sum(4 + _size(p) for p in parts),
                lambda: pack_parts([_bytes(p) for p in parts]))


def pack_parts(parts: list[bytes]) -> bytes:
    out = [_LEN.pack(len(parts))]
    for p in parts:
        out.append(_LEN.pack(len(p)))
        out.append(p)
    return b"".join(out)


def unpack_parts(buf: bytes) -> list[bytes]:
    (n,) = _LEN.unpack_from(buf, 0)
    parts, off = [], 4
    for _ in range(n):
        (plen,) = _LEN.unpack_from(buf, off)
        off += 4
        parts.append(buf[off : off + plen])
        off += plen
    return parts
