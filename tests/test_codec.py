"""Codec round-trip properties — mirror of the reference's codec invariants
(_unbinarize∘_binarize = id, _unpackbits∘_packbits = id;
reference test/indexing/codecs/residual.jl:154-161, 844-850, 975-991)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from colbert_jl_spark.functions.codec import (
    block_max_score,
    bm25_partial,
    decode_block,
    encode_block,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


def test_varint_boundaries():
    # every power-of-128 boundary where byte count changes
    vals = []
    for j in range(9):
        for d in (-1, 0, 1):
            v = 128**j + d
            if 0 <= v < 2**63:
                vals.append(v)
    arr = np.array(sorted(set(vals)), dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == arr.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**40),  # docid gap
            st.integers(min_value=1, max_value=255),     # tf
            st.integers(min_value=0, max_value=300),     # doclen
        ),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_block_roundtrip(run):
    # strictly increasing docids from gaps (FIXTURES.md §5 property input)
    gaps = np.array([g for g, _, _ in run], dtype=np.int64)
    docids = np.cumsum(gaps)
    tfs = np.array([t for _, t, _ in run], dtype=np.int64)
    dls = np.array([d for _, _, d in run], dtype=np.int64)
    d2, t2, l2 = decode_block(encode_block(docids, tfs, dls))
    assert d2.tolist() == docids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


def test_empty_block():
    d, t, l = decode_block(b"")
    assert len(d) == len(t) == len(l) == 0
    assert encode_block(np.array([]), np.array([]), np.array([])) == b""


def test_block_max_score_is_true_upper_bound():
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 50, size=128)
    dls = rng.integers(1, 300, size=128)
    idf, avgdl, k1, b = 2.5, 60.0, 1.2, 0.75
    partials = bm25_partial(tfs, dls, idf, avgdl, k1, b)
    mx = block_max_score(tfs, dls, idf, avgdl, k1, b)
    assert mx == pytest.approx(partials.max())
    assert (partials <= mx + 1e-12).all()
