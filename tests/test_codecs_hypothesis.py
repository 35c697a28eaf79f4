"""Property-based codec fuzzing (hypothesis): decode(encode(x)) == x must
hold for ARBITRARY inputs, not just the curated INT_CASES — hypothesis
explores value/shape corners (sign boundaries, tiny/huge spreads, pfor
exception paths, dict cardinality cliffs) the fixed fixtures can miss.
Examples are capped small so the whole module stays fast."""

import numpy as np
from hypothesis import given, settings, strategies as st

from eggopress.codecs import core

SETTINGS = dict(max_examples=60, deadline=None)


@st.composite
def int_arrays(draw):
    """int32 arrays mixing regimes: raw values, a narrow band at a random
    base, or run-length-style repeats."""
    kind = draw(st.sampled_from(["raw", "narrow", "runny"]))
    n = draw(st.integers(min_value=0, max_value=3000))
    if kind == "raw":
        vals = draw(
            st.lists(
                st.integers(min_value=-(2**31), max_value=2**31 - 1),
                min_size=min(n, 64), max_size=min(n, 64),
            )
        )
        reps = max(1, n // max(len(vals), 1))
        arr = np.array(vals * reps, dtype=np.int32)
    elif kind == "narrow":
        base = draw(st.integers(min_value=-(2**30), max_value=2**30))
        width = draw(st.integers(min_value=0, max_value=12))
        seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
        rng = np.random.default_rng(seed)
        arr = (rng.integers(0, 2**width + 1, n) + base).astype(np.int32)
    else:
        seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
        rng = np.random.default_rng(seed)
        n_runs = max(1, n // 20)
        arr = np.repeat(
            rng.integers(-512, 512, n_runs).astype(np.int32),
            rng.geometric(0.08, n_runs),
        )[:n].astype(np.int32)
    return arr


@given(int_arrays())
@settings(**SETTINGS)
def test_int_encode_roundtrip_any_input(arr):
    out = core.decode_ints(core.encode_ints(arr))
    np.testing.assert_array_equal(out, arr.astype(np.int64))


@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8",
                                   blacklist_categories=("Cs",)),
            max_size=40,
        ),
        max_size=300,
    )
)
@settings(**SETTINGS)
def test_str_encode_roundtrip_any_input(strings):
    encoded = [s.encode("utf-8") for s in strings]
    lengths = np.array([len(b) for b in encoded], dtype=np.int64)
    buf = b"".join(encoded)
    out_len, out_buf = core.decode_strs(core.encode_strs(lengths, buf))
    np.testing.assert_array_equal(out_len, lengths)
    assert out_buf == buf


@given(int_arrays(), int_arrays())
@settings(max_examples=30, deadline=None)
def test_encoding_is_deterministic_by_content(a, b):
    """Equal content -> identical blob (resume determinism); the codec
    choice must be a pure function of the values."""
    blob_a1 = core.encode_ints(a)
    blob_a2 = core.encode_ints(a)
    assert blob_a1 == blob_a2
    if len(a) == len(b) and np.array_equal(a, b):
        assert blob_a1 == core.encode_ints(b)


@given(int_arrays())
@settings(**SETTINGS)
def test_exact_size_is_blob_length_any_input(arr):
    """Selection compares exact sizes without building blobs: for every
    int encoder, the sub-stream encoder and the selector itself, the size
    equals the length of the blob it then builds."""
    from eggopress.codecs import intcodecs as ic

    for a in (arr, arr.astype(np.int64)):
        for enc in (*ic._LAZY.values(), ic._enc_sub, ic.select_ints):
            try:
                blob = enc(a)
            except OverflowError:
                continue
            assert blob.size == len(blob.tobytes())
