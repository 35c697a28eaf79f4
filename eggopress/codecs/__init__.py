"""Lightweight columnar codecs (data plane of the engine).

Every codec is pure numpy (vectorized; no per-row Python) and produces a
self-describing blob:

    blob := uint32-LE header_len | header_json_utf8 | payload

The header carries the codec name (``"c"``) plus codec-specific params, so
decode needs nothing but the blob. Multi-part payloads are framed with
``pack_parts`` / ``unpack_parts``.

Int entry points:  ``encode_ints(arr) -> bytes`` / ``decode_ints(blob) -> np.ndarray``
Str entry points:  ``encode_strs(lengths, buf) -> bytes`` / ``decode_strs(blob) -> (lengths, buf)``

Auto-selection (reference capability C6, SURVEY.md §2.4) is size-first:
each candidate builds its sub-streams on a deterministic sample (ints: 8
contiguous segments spread over the chunk, 4096 values in all; strings:
the first 2048) and reports its blob's exact size without packing or
framing it; the smallest wins, only the winner becomes bytes, and a
plain-size guard follows. Selection depends only on chunk content, so
re-encoding after failure reproduces identical blobs.

The reference (eggo) delegates all physical encoding to ADAM/Parquet
(datasets/dbsnp/toast.sh:27-42); these codecs bring that capability
in-house per the mission north star.
"""

from eggopress.codecs.core import (  # noqa: F401
    decode_ints,
    decode_strs,
    encode_ints,
    encode_strs,
    INT_CODECS,
    STR_CODECS,
    pack_parts,
    unpack_parts,
)
