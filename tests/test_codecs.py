"""Codec unit tests: decode(encode(x)) == x exactly, adversarial inputs.

SURVEY.md §5 items 1-2. Deterministic seeds throughout.
"""

import numpy as np
import pytest

from eggopress.codecs import core
from eggopress.codecs import bitpack, fsst
from eggopress.codecs.intcodecs import (
    dec_delta,
    dec_dict,
    dec_forbp,
    dec_plain,
    dec_rle,
    enc_delta,
    enc_dict,
    enc_forbp,
    enc_plain,
    enc_rle,
)
from eggopress.codecs.framing import split_blob

RNG = np.random.default_rng(42)

INT_CASES = {
    "empty": np.zeros(0, dtype=np.int32),
    "single": np.array([7], dtype=np.int32),
    "all_equal": np.full(1000, 123, dtype=np.int32),
    "ascending": np.arange(5000, dtype=np.int32),
    "descending": np.arange(5000, dtype=np.int32)[::-1].copy(),
    "zipf": np.minimum(RNG.zipf(1.3, 20000), 50257).astype(np.int32),
    "runny": np.repeat(
        RNG.integers(0, 50, 500).astype(np.int32), RNG.geometric(0.05, 500)
    ),
    "narrow": (RNG.integers(0, 2**6, 10000) + 2**29).astype(np.int32),
    "incompressible": RNG.integers(0, 2**31, 10000, dtype=np.int64).astype(np.int32),
    "extremes": np.array([0, 2147483647, -2147483648, 1, -1], dtype=np.int32),
    "block_edge": np.arange(128 * 3 + 1, dtype=np.int32),
    "int64_runs": np.repeat(np.array([2**40, 0, 2**40], dtype=np.int64), 100),
}


@pytest.mark.parametrize("name", list(INT_CASES))
def test_int_auto_roundtrip(name):
    arr = INT_CASES[name]
    blob = core.encode_ints(arr)
    out = core.decode_ints(blob)
    np.testing.assert_array_equal(out, arr.astype(np.int64))


@pytest.mark.parametrize("name", list(INT_CASES))
@pytest.mark.parametrize(
    "enc,dec",
    [(enc_plain, dec_plain), (enc_forbp, dec_forbp), (enc_rle, dec_rle),
     (enc_dict, dec_dict), (enc_delta, dec_delta)],
    ids=["plain", "forbp", "rle", "dict", "delta"],
)
def test_each_int_codec_roundtrip(name, enc, dec):
    arr = INT_CASES[name]
    try:
        blob = enc(arr)
    except OverflowError:
        pytest.skip("residual too wide for this codec (falls back in auto)")
    header, payload = split_blob(blob)
    if header["c"] in ("rle", "dict", "delta"):
        out = core.decode_ints(blob)
    else:
        out = dec(header, payload)
    np.testing.assert_array_equal(out, arr.astype(np.int64))


def test_delta_wins_sorted_streams():
    """A sorted key stream must select delta and land far below forbp
    (the step sizes, not the value widths, set the bit cost); the
    zigzag handles descending runs; extreme ranges skip the candidate
    via OverflowError instead of wrapping."""
    sorted_keys = np.sort(RNG.integers(0, 2**40, 50_000)).astype(np.int64)
    blob = core.encode_ints(sorted_keys)
    assert core.codec_of(blob) == "delta"
    np.testing.assert_array_equal(core.decode_ints(blob), sorted_keys)
    # values are ~40-bit, steps are ~24-bit: delta must land well under
    # the plain fallback a bare FOR overflows into on this range
    assert len(blob) < 0.5 * len(enc_plain(sorted_keys))

    desc = sorted_keys[::-1].copy()
    np.testing.assert_array_equal(core.decode_ints(core.encode_ints(desc)), desc)

    wide = np.array([-(2**62), 2**62], dtype=np.int64)
    with pytest.raises(OverflowError):
        enc_delta(wide)
    np.testing.assert_array_equal(  # auto path skips delta, still exact
        core.decode_ints(core.encode_ints(wide)), wide)


def test_selection_deterministic_and_beats_plain():
    arr = INT_CASES["runny"]
    b1, b2 = core.encode_ints(arr), core.encode_ints(arr)
    assert b1 == b2
    assert len(b1) <= 4 * len(arr) + 44
    assert core.codec_of(b1) == "rle"


def test_selection_plain_fallback_on_incompressible():
    arr = INT_CASES["incompressible"]
    blob = core.encode_ints(arr)
    assert len(blob) <= 4 * len(arr) + 44 + 8


def test_bitpack_roundtrip_widths():
    for width in (0, 1, 3, 7, 13, 31, 32):
        vals = RNG.integers(0, 2**width if width else 1, 777, dtype=np.uint64)
        buf = bitpack.pack(vals, width)
        out = bitpack.unpack(buf, width, len(vals))
        np.testing.assert_array_equal(out, vals)
        if width:
            assert len(buf) == (777 * width + 7) // 8


def test_bit_lengths():
    """Exact at every power-of-two boundary 2**k - 1 and 2**k, k = 0..32,
    for both dtypes the codecs pass (uint32 residuals, uint64 maxima)."""
    edges = sorted({v for k in range(33) for v in (2**k - 1, 2**k)})
    for dtype in (np.uint32, np.uint64):
        x = np.array([v for v in edges if v <= np.iinfo(dtype).max], dtype=dtype)
        expected = np.array([int(v).bit_length() for v in x], dtype=np.uint8)
        got = bitpack.bit_lengths(x)
        assert got.dtype == np.uint8
        np.testing.assert_array_equal(got, expected)


# ------------------------------------------------------------- strings

def _mk_strs(strs):
    bufs = [s.encode("utf-8") for s in strs]
    lengths = np.array([len(b) for b in bufs], dtype=np.int64)
    return lengths, b"".join(bufs)


STR_CASES = {
    "doc_ids": [f"web-{i:010d}" for i in range(3000)],
    "low_card": (["web", "books", "code", "wiki", "forums"] * 600),
    "empty_strings": ["", "a", "", "bb", ""],
    "unicode": ["héllo", "wörld", "日本語テキスト", "züri"] * 50,
    "single": ["lonely"],
    "none": [],
    "random_ascii": [
        "".join(chr(c) for c in RNG.integers(32, 127, RNG.integers(1, 30)))
        for _ in range(500)
    ],
}


@pytest.mark.parametrize("name", list(STR_CASES))
def test_str_auto_roundtrip(name):
    lengths, buf = _mk_strs(STR_CASES[name])
    blob = core.encode_strs(lengths, buf)
    out_lengths, out_buf = core.decode_strs(blob)
    np.testing.assert_array_equal(out_lengths, lengths)
    assert out_buf == buf


def test_str_dict_wins_low_cardinality():
    lengths, buf = _mk_strs(STR_CASES["low_card"])
    blob = core.encode_strs(lengths, buf)
    assert core.codec_of(blob) == "str_dict"
    assert len(blob) < len(buf) // 4


def test_fsst_roundtrip_and_compresses():
    buf = b"".join(f"web-{i:010d}".encode() for i in range(5000))
    table = fsst.build_table(buf)
    assert table, "expected learnable symbols"
    enc = fsst.encode(buf, table)
    assert fsst.decode(enc, table) == buf
    assert len(enc) < len(buf) * 0.6


def test_fsst_all_bytes_used_degrades_gracefully():
    buf = bytes(range(256)) * 4
    table = fsst.build_table(buf)
    assert table == []
    assert fsst.decode(fsst.encode(buf, table), table) == buf


def test_fsst_binary_random_roundtrip():
    buf = RNG.integers(0, 200, 10000, dtype=np.int64).astype(np.uint8).tobytes()
    table = fsst.build_table(buf)
    enc = fsst.encode(buf, table)
    assert fsst.decode(enc, table) == buf


def _assert_sized_exactly(lazy_enc, eager_enc, *args):
    """The exact size selection compares is the length of the blob the
    public encoder returns, and sizing raises OverflowError exactly when
    encoding does."""
    try:
        blob = lazy_enc(*args)
    except OverflowError:
        with pytest.raises(OverflowError):
            eager_enc(*args)
        return
    built = blob.tobytes()
    assert blob.size == len(built)
    assert built == eager_enc(*args)


@pytest.mark.parametrize("name", list(INT_CASES))
def test_plain_blob_size_exact(name):
    """Every int encoder's size is exact — plain's, which the plain guard
    compares against, each candidate's and the sub-stream encoder's,
    which selection compares — for int32 and int64 input alike."""
    from eggopress.codecs import intcodecs as ic

    for arr in (INT_CASES[name], INT_CASES[name].astype(np.int64)):
        for codec, lazy_enc in ic._LAZY.items():
            _assert_sized_exactly(lazy_enc, ic._ENCODERS[codec], arr)
        _assert_sized_exactly(ic._enc_sub, lambda a: ic._enc_sub(a).tobytes(), arr)
        _assert_sized_exactly(ic.select_ints, ic.encode_ints, arr)


@pytest.mark.parametrize("name", list(STR_CASES))
def test_str_codec_size_is_blob_length(name):
    from eggopress.codecs import strcodecs as sc

    lengths, buf = _mk_strs(STR_CASES[name])
    for codec, lazy_enc in sc._LAZY.items():
        _assert_sized_exactly(lazy_enc, sc._ENCODERS[codec], lengths, buf)


def _reference_encode_ints(arr, candidates=None):
    """Probe-everything int selection: every candidate fully encoded on
    the sample, the winner fully encoded again, sizes read off the bytes.
    The size-first selector must return exactly this blob."""
    from eggopress.codecs import intcodecs as ic

    candidates = ic.INT_CODECS if candidates is None else candidates
    arr = np.ascontiguousarray(arr)
    sample = ic._sample(arr)
    sizes = []
    for name in candidates:
        try:
            b = ic._ENCODERS[name](sample)
        except OverflowError:
            continue
        sizes.append((len(b), name))
    sizes.sort()
    if sizes and sizes[0][1] == "delta":
        others = [s_ for s_ in sizes if s_[1] != "delta"]
        if others and sizes[0][0] > 0.7 * others[0][0]:
            sizes.pop(0)
    if sizes and sizes[0][1] in ("pfor", "dict"):
        hit = [s_ for s_ in sizes if s_[1] == "forbp" and s_[0] <= 1.02 * sizes[0][0]]
        if hit:
            sizes.insert(0, hit[0])
    best_name = sizes[0][1] if sizes else "plain"
    try:
        blob = ic._ENCODERS[best_name](arr)
    except OverflowError:
        return ic.enc_plain(arr)
    if (
        sizes
        and sizes[0][1] in ("dict", "pfor")
        and any(nm == "forbp" and sz < ic.CLOSE_CALL * sizes[0][0] for sz, nm in sizes)
        and len(arr) > ic.SAMPLE
    ):
        try:
            alt = ic.enc_forbp(arr)
            if len(alt) < 0.98 * len(blob):
                blob = alt
        except OverflowError:
            pass
    if len(blob) >= len(ic.enc_plain(arr)):
        return ic.enc_plain(arr)
    return blob


def _lineitem_streams(n, rng):
    """Int streams shaped like lineitem chunk columns, by the codec each
    is expected to select."""
    days = rng.integers(150, 350, n // 150 + 2)  # rows per ship date
    tail = np.where(rng.random(n) < 0.004, 2**28, 0)
    return {
        "rle": np.repeat(9000 + np.arange(len(days)), days)[:n].astype(np.int32),
        "dict": rng.choice(np.arange(11) / 100.0, n).view(np.int64),
        "plain": (rng.integers(90000, 10500000, n) / 100.0).view(np.int64),
        # order keys: sorted within each ship date, or sorted outright
        "forbp": np.concatenate([np.sort(rng.integers(1, 6_000_000, d))
                                 for d in days])[:n].astype(np.int64),
        "delta": np.cumsum(rng.integers(1, 30, n)).astype(np.int64) + 3_000_000,
        "pfor": np.minimum(rng.zipf(1.3, n), 4000).astype(np.int64) + tail,
    }


def test_encode_ints_matches_reference_selection():
    """Size-first selection (exact sizes, only the winner built) returns
    the very blob the probe-everything reference does: on every INT_CASES
    stream, on lineitem-shaped streams at and around the sample size, and
    under delta's sub-stream candidates (its zigzag steps)."""
    from eggopress.codecs import intcodecs as ic

    delta_sub = ("plain", "forbp", "pfor", "rle")
    rng = np.random.default_rng(3)
    streams = {f"case:{k}": v for k, v in INT_CASES.items()}
    for n in (ic.SAMPLE - 1, ic.SAMPLE, ic.SAMPLE + 1, 8192):
        for codec, arr in _lineitem_streams(n, rng).items():
            assert len(arr) == n
            streams[f"{codec}:{n}"] = arr
            assert core.codec_of(core.encode_ints(arr)) == codec, codec
    for name, arr in streams.items():
        assert ic.encode_ints(arr) == _reference_encode_ints(arr), name
        if len(arr) > 1 and np.ptp(arr.astype(np.int64)) < 2**62:
            d = np.diff(arr.astype(np.int64))
            zig = (d >> 63) ^ (d << 1)
            assert ic.encode_ints(zig, delta_sub) == _reference_encode_ints(
                zig, delta_sub), name


def test_encode_strs_matches_reference_selection():
    """Size-first string selection (exact sizes, fsst lower-bound probe
    skip, full-size probe reuse, plain-guard skip) must stay BYTE-identical
    to the plain probe-everything selection loop on every regime: the
    skips are argued from exact lower bounds, and this pins the argument."""
    from eggopress.codecs import strcodecs as sc

    def reference(lengths, buf):
        lengths = np.ascontiguousarray(lengths, dtype=np.int64)
        s_len, s_buf = sc._slice(lengths, buf, sc.SAMPLE_ROWS)
        best_name, best_size = "str_plain", None
        for name in sc.STR_CODECS:
            size = len(sc._ENCODERS[name](s_len, s_buf))
            if best_size is None or size < best_size:
                best_name, best_size = name, size
        blob = sc._ENCODERS[best_name](lengths, buf)
        if best_name != "str_plain":
            p = sc.enc_str_plain(lengths, buf)
            if len(blob) >= len(p):
                return p
        return blob

    extra = {
        # > SAMPLE_ROWS so the sampled probe and full encode diverge
        "big_low_card": ["AA", "BB", "CC"] * 3000,
        "big_doc_ids": [f"id_{i:09d}" for i in range(5000)],
        "big_same": ["samestring"] * 8192,
        "big_random": [
            "".join(chr(c) for c in RNG.integers(33, 127, 20))
            for _ in range(3000)
        ],
        # exactly at / just over the sample boundary
        "at_sample": [str(i) for i in range(sc.SAMPLE_ROWS)],
        "over_sample": [str(i) for i in range(sc.SAMPLE_ROWS + 1)],
    }
    for name, strs in {**STR_CASES, **extra}.items():
        lengths, buf = _mk_strs(strs)
        assert sc.encode_strs(lengths, buf) == reference(lengths, buf), name


# ------------------------------------------------ format pin (blob bytes)

def _pin_corpus_batch():
    """Fixed seeded corpus batch (CORPUS_ARROW_SCHEMA), zipf-ish tokens,
    some empty docs."""
    import pyarrow as pa

    from eggopress.schema import CORPUS_ARROW_SCHEMA

    rng = np.random.default_rng(20260101)
    n = 5013
    n_tok = rng.integers(0, 120, n).astype(np.int32)
    n_tok[::97] = 0
    tokens = np.minimum(rng.zipf(1.2, int(n_tok.sum())), 50256).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"doc-{i:07d}" for i in range(n)], type=pa.string()),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)).cast(
                CORPUS_ARROW_SCHEMA.field("tokens").type),
            pa.array(n_tok, type=pa.int32()),
            pa.array(["web"] * n, type=pa.string()),
        ],
        schema=CORPUS_ARROW_SCHEMA,
    )


# column -> kind, for the generic pin batch
_PIN_KINDS = {"i64": "int64", "i32": "int32", "f32": "f32", "f64": "f64",
              "f64_wide": "f64", "ts": "ts", "date": "date", "flag": "str",
              "note": "str", "xs": "list_int", "fs": "list_f64"}


def _pin_generic_batch():
    """Fixed seeded lineitem-like batch: one column per generic kind."""
    import pyarrow as pa

    rng = np.random.default_rng(20260102)
    n = 5013
    words = ["quick", "ironic", "deposits", "sleep", "furiously", "final",
             "packages", "haggle", "bold", "accounts"]
    lens = rng.integers(0, 9, n)
    xs_off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=xs_off[1:])
    return pa.RecordBatch.from_pydict({
        "i64": pa.array(np.cumsum(rng.integers(0, 4, n)) + 10**6, pa.int64()),
        "i32": pa.array(np.repeat(rng.integers(1, 51, n // 40 + 1), 40)[:n]
                        .astype(np.int32), pa.int32()),
        "f64": pa.array(rng.choice(np.arange(900, 1100) / 100.0, n), pa.float64()),
        "f64_wide": pa.array(rng.integers(90000, 10500000, n) / 100.0,
                             pa.float64()),
        "ts": pa.array(694224000000000 + np.sort(rng.integers(0, 2 * 10**14, n)),
                       pa.timestamp("us")),
        "date": pa.array((8000 + rng.integers(0, 2500, n)).astype(np.int32),
                         pa.int32()).cast(pa.date32()),
        "flag": pa.array(rng.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "note": pa.array([" ".join(rng.choice(words, 3)) for _ in range(n)],
                         pa.string()),
        "xs": pa.ListArray.from_arrays(
            pa.array(xs_off),
            pa.array(rng.integers(0, 1000, int(lens.sum())).astype(np.int32))),
        "f32": pa.array((rng.integers(0, 500, n) / 8.0).astype(np.float32),
                        pa.float32()),
        "fs": pa.ListArray.from_arrays(
            pa.array(xs_off), pa.array(rng.normal(0, 1e6, int(lens.sum())))),
    })


# (rows offset, rows): a small slice where every sample is the whole
# stream, and a large one where sampling and full encodes diverge; both
# start mid-batch so slice offsets are honoured
_PIN_SLICES = {"small": (13, 20), "large": (13, 5000)}


# sha256 of every blob of the pin batches, in the format that tables on
# disk already hold: a change here is a format change (old tables would
# need a migration), not a refactor
_PIN_SHA256 = {
    ("corpus", "small", "doc_id"):
        "6f0e0e3e54ca31459414d21ae09e03ee3ef6bf140a85c621f9f522c5d73dc1ab",
    ("corpus", "small", "n_tok"):
        "2390567f6b05b183f3f920fc2bb37aff382e0dbf502286e0270f15dc925b39c7",
    ("corpus", "small", "source"):
        "c14ce85d94592f4899cf2dc76130d1578ec52c3824f208c72aeef37553b6b55b",
    ("corpus", "small", "tokens"):
        "1b7d5c07798dbc3258809beebacd8b8c0bef1dae463b547e1a680b48729144c3",
    ("corpus", "large", "doc_id"):
        "1b978120c9d9a7a1a1672adb04eca6976a352c81459f445214bb104452fc8d23",
    ("corpus", "large", "n_tok"):
        "a5eadc196c113b45132db44f9220decce4aae30d8d5de41b26bb4ef7bd85ff93",
    ("corpus", "large", "source"):
        "40e6b8e1d72beff1feff38b3d0cf09755079ef9051e4d608242441e4088801a6",
    ("corpus", "large", "tokens"):
        "513abcba99788dec83afa726df08ea1002d177daa3a68004a120febf260fed70",
    ("generic", "small", "date"):
        "f96615efa57c66b7135da5ed0cb2e99be2adc94e37c083d95d86c6433859b779",
    ("generic", "small", "f32"):
        "14197d47c0dfca94a254b09856e3d5a79e7c3cdeea3a04d18057b90b2f46651d",
    ("generic", "small", "f64"):
        "3064886949af650d68e0ff8ca24d2dbc74e1e1e00604d2a91684281315195757",
    ("generic", "small", "f64_wide"):
        "079f369e20c4853ed53f9df00708045598287c42a21ffa4bcb6fc0deeb4fac3c",
    ("generic", "small", "flag"):
        "4553c6989f914369b542a34aa19300051696f666d0e6edc0e958a63a739cdf58",
    ("generic", "small", "fs"):
        "c10ecd8cef07ddd2a53ba3b707a150777e094e66d7884f4c377ceaeee19800eb",
    ("generic", "small", "i32"):
        "78de6f09d1f1fafaee1c877eedd1b621f7aad0511dfd8d2b128d7ff5295b0784",
    ("generic", "small", "i64"):
        "79bc6278c5f2cfe5fa61702939e300ba14bada6b72834a09e00ded33ff5806b5",
    ("generic", "small", "note"):
        "3276f3f8a844a171f748342fa9a468d6d313aa2b21243f3ff19c05816e95e219",
    ("generic", "small", "ts"):
        "20698565ebf7d23132ee8525f48621f59865cdeb56503ec1176a99535ec0371f",
    ("generic", "small", "xs"):
        "6e8ba0b2e4b5ab5e88dc16d11c7220dc14ad5ef5cd72de95f422e930e7171552",
    ("generic", "large", "date"):
        "2e26cd767c5d5e495aee08fcef8187e670f1cca0da73969e61b6372a585075c1",
    ("generic", "large", "f32"):
        "7cd0689582e184482f2491bd8c3ca22fe2cd49a94429cf1f25170dade10c35c0",
    ("generic", "large", "f64"):
        "82ee52a547e128517ff92b6aaade9c37b0da5cff7ddc009a236da040e3fffb66",
    ("generic", "large", "f64_wide"):
        "731790232cf89303e392a3a2c31a3f099ab1b9d61ded88bd9c9cd22c943bd811",
    ("generic", "large", "flag"):
        "51a0d3d005845db915251af70c5a0d4efe11b3dc924cac1d1ec38e48bcb06a11",
    ("generic", "large", "fs"):
        "dcbc1578e01d61a44a461df291f2c7f65712b1329e52e60cbed4436926f8245a",
    ("generic", "large", "i32"):
        "21341dea4969730cba3aaae955c124a65b3a9ad630a5858dc144f414f1c268dc",
    ("generic", "large", "i64"):
        "54b1ed137295b9f390b538eaca9381527b1565f37e90145c1dca7f7395674155",
    ("generic", "large", "note"):
        "e42ccde1f85d34f1f0530c77185239c6b0ef0159f57e5dbd9d6000e33ebc1df2",
    ("generic", "large", "ts"):
        "bb98511518bf81672d64ab590126823350fbaa76adcd7b65fc4c63a71cb44f8d",
    ("generic", "large", "xs"):
        "9fb2a3363c1a98f75b73570d7c127cb734143a0abde2f3c2c9639800210fcecb",
}
# corpus raw_bytes per pin slice
_PIN_CORPUS_RAW = {"small": 6336, "large": 1321552}


def test_column_kernel_blob_bytes_pinned():
    """The on-disk format across refactors: every blob the column kernel
    writes for the fixed corpus and generic pin batches has the recorded
    sha256, and decodes back to its input exactly."""
    import hashlib

    from eggopress import decode, encode, generic
    from eggopress.schema import CORPUS_KINDS

    cb, gb = _pin_corpus_batch(), _pin_generic_batch()
    got = {}
    for sl, (off, n) in _PIN_SLICES.items():
        corpus = cb.slice(off, n)
        row = encode._encode_chunk(corpus, "source=web/salt=0", "web", 0, 0)
        for c in CORPUS_KINDS:
            got[("corpus", sl, c)] = hashlib.sha256(row[f"{c}_blob"]).hexdigest()
        assert row["raw_bytes"] == _PIN_CORPUS_RAW[sl]
        blobs = {f"{c}_blob": row[f"{c}_blob"] for c in CORPUS_KINDS}
        assert decode._decode_chunk(decode.ALL_COLUMNS, blobs).equals(corpus)
        batch = gb.slice(off, n)
        for c, kind in _PIN_KINDS.items():
            blob, _, _ = generic._encode_column(c, kind, batch.column(c))
            got[("generic", sl, c)] = hashlib.sha256(blob).hexdigest()
            back = generic._decode_column(kind, blob, batch.schema.field(c))
            assert back.equals(batch.column(c)), (sl, c)
    assert got == _PIN_SHA256
