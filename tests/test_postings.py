"""Round-trip + property tests for the posting codec (SURVEY.md 5.3 item 1)."""

from __future__ import annotations

from collections import namedtuple

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from engine import postings as P


@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), max_size=600))
@settings(max_examples=200, deadline=None)
def test_svb_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint32)
    assert np.array_equal(P.svb_decode(P.svb_encode(arr), len(vals)), arr)


def test_svb_sizes():
    # 4 small values: 1 control byte + 4 data bytes
    assert len(P.svb_encode(np.array([1, 2, 3, 4], dtype=np.uint32))) == 5
    assert len(P.svb_encode(np.array([2**31], dtype=np.uint32))) == 1 + 4
    assert P.svb_encode(np.array([], dtype=np.uint32)) == b""


@given(
    st.lists(st.integers(min_value=0, max_value=50_000), min_size=1, max_size=1000, unique=True),
    st.integers(min_value=1, max_value=40),
)
@settings(max_examples=60, deadline=None)
def test_term_postings_roundtrip(doc_ids, tf_cap):
    doc_ids = np.sort(np.array(doc_ids, dtype=np.int64))
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, tf_cap + 1, size=doc_ids.size).astype(np.uint32)
    dls = rng.integers(1, 500, size=doc_ids.size).astype(np.uint32)
    avgdl = 123.4
    enc = P.encode_term_postings(doc_ids, tfs, dls, avgdl)
    d, t, l = P.decode_term_postings(enc["docs_bin"], enc["tfs_bin"], enc["dls_bin"], enc["blocks"])
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert enc["df"] == doc_ids.size
    assert enc["cf"] == int(tfs.sum())
    # block metadata invariants: coverage, ordering, block-max dominance
    impacts = P.bm25_impact(tfs, dls, avgdl)
    pos = 0
    for i, blk in enumerate(enc["blocks"]):
        first, last, n, *_offs, mi = blk
        bd, bt, bl = P.decode_block(enc["docs_bin"], enc["tfs_bin"], enc["dls_bin"], enc["blocks"], i)
        assert bd[0] == first and bd[-1] == last and bd.size == n
        assert np.array_equal(bd, doc_ids[pos : pos + n])
        blk_imp = impacts[pos : pos + n]
        assert mi == pytest.approx(blk_imp.max(), abs=0)
        assert (blk_imp <= mi + 1e-15).all()
        pos += n
    assert pos == doc_ids.size


def test_idf_matches_lucene_formula():
    assert P.bm25_idf(1, 2) == pytest.approx(np.log(1 + (2 - 1 + 0.5) / 1.5))
    assert P.bm25_idf(10, 10) == pytest.approx(np.log(1 + 0.5 / 10.5))


@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_encode_groups_identical_to_per_group(sizes, seed):
    """The vectorized multi-group encoder is byte-identical to running
    encode_term_postings per group (incl. >BLOCK groups and 4-pad edges)."""
    rng = np.random.default_rng(seed)
    groups, starts, off = [], [], 0
    for s in sizes:
        ids = np.sort(rng.choice(100_000, size=s, replace=False))
        groups.append(
            (ids, rng.integers(1, 300, size=s).astype(np.uint32),
             rng.integers(1, 70_000, size=s).astype(np.uint32))
        )
        starts.append(off)
        off += s
    L = np.concatenate([g[0] for g in groups])
    T = np.concatenate([g[1] for g in groups])
    D = np.concatenate([g[2] for g in groups])
    avgdl = 321.5
    out = P.encode_groups(L, T, D, np.array(starts), avgdl)
    assert len(out) == len(groups)
    for got, (ids, tfs, dls) in zip(out, groups):
        ref = P.encode_term_postings(ids, tfs, dls, avgdl)
        for k in ("docs_bin", "tfs_bin", "dls_bin", "df", "cf"):
            assert got[k] == ref[k]
        assert [tuple(b) for b in got["blocks"]] == [tuple(b) for b in ref["blocks"]]
        d, t, l = P.decode_term_postings(
            got["docs_bin"], got["tfs_bin"], got["dls_bin"], got["blocks"]
        )
        assert np.array_equal(d, ids) and np.array_equal(t, tfs) and np.array_equal(l, dls)


def test_encode_groups_block_boundaries():
    """Exact-BLOCK-multiple groups and singleton groups encode correctly."""
    for n in (1, 4, P.BLOCK - 1, P.BLOCK, P.BLOCK + 1, 2 * P.BLOCK, 2 * P.BLOCK + 3):
        ids = np.arange(n, dtype=np.int64) * 3
        tfs = np.full(n, 2, dtype=np.uint32)
        dls = np.full(n, 50, dtype=np.uint32)
        got = P.encode_groups(ids, tfs, dls, np.array([0]), 100.0)[0]
        ref = P.encode_term_postings(ids, tfs, dls, 100.0)
        assert got["docs_bin"] == ref["docs_bin"]
        assert [tuple(b) for b in got["blocks"]] == [tuple(b) for b in ref["blocks"]]


_Row = namedtuple("_Row", ["docs_bin", "tfs_bin", "dls_bin", "blocks"])


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=3 * P.BLOCK + 5), st.booleans()),
        max_size=10,
    ),
    st.integers(min_value=0, max_value=2**31),
)
@example([], 0)  # empty row list
@example([(1, True), (1, False), (1, True)], 1)  # single-posting rows
@example([(2 * P.BLOCK + 3, False), (P.BLOCK, True)], 2)  # multi-block rows
@settings(max_examples=60, deadline=None)
def test_decode_rows_equals_per_row_decode(spec, seed):
    """decode_rows over many rows == decode_term_postings per row,
    concatenated, with counts == the row lengths. spec is one (size,
    starts_at_zero) per row: rows restart their doc ids (at 0 or above)
    like the rows of one shard."""
    rng = np.random.default_rng(seed)
    rows, want = [], []
    for size, at_zero in spec:
        ids = np.sort(rng.choice(5_000, size=size, replace=False)).astype(np.int64)
        if at_zero:
            ids[0] = 0
        tfs = rng.integers(1, 300, size=size).astype(np.uint32)
        dls = rng.integers(1, 70_000, size=size).astype(np.uint32)
        enc = P.encode_term_postings(ids, tfs, dls, 250.0)
        rows.append(_Row(enc["docs_bin"], enc["tfs_bin"], enc["dls_bin"], enc["blocks"]))
        want.append(P.decode_term_postings(
            enc["docs_bin"], enc["tfs_bin"], enc["dls_bin"], enc["blocks"]
        ))
    counts, d, t, l = P.decode_rows(rows)
    assert counts.tolist() == [size for size, _ in spec]
    for got, j in ((d, 0), (t, 1), (l, 2)):
        ref = np.concatenate([w[j] for w in want]) if want else np.empty(0, got.dtype)
        assert got.dtype == ref.dtype and np.array_equal(got, ref)
