"""Property-based equivalence of the query kernels over random posting
sets: the vectorized block-max kernel (the scale path) must return
exactly what brute-force TAAT returns — same docs, bit-identical scores
(both accumulate per-doc contributions in term order via np.bincount)."""

from __future__ import annotations

from collections import namedtuple

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine import postings as P
from engine.query import _bmw_shard_topk, _taat_shard_topk

Row = namedtuple("Row", ["term", "docs_bin", "tfs_bin", "dls_bin", "blocks"])


def _mk_rows(term_specs, avgdl):
    rows = []
    for name, doc_ids in term_specs:
        doc_ids = np.array(sorted(set(doc_ids)), dtype=np.int64)
        if doc_ids.size == 0:
            continue
        rng = np.random.default_rng(len(name) + doc_ids.size)
        tfs = rng.integers(1, 9, size=doc_ids.size).astype(np.uint32)
        dls = rng.integers(5, 200, size=doc_ids.size).astype(np.uint32)
        enc = P.encode_term_postings(doc_ids, tfs, dls, avgdl)
        rows.append(Row(name, enc["docs_bin"], enc["tfs_bin"], enc["dls_bin"], enc["blocks"]))
    return rows


@given(
    lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=400),
        min_size=1,
        max_size=4,
    ),
    k=st.integers(min_value=1, max_value=15),
)
@settings(max_examples=40, deadline=None)
def test_bmw_identical_to_taat(lists, k):
    avgdl, k1, b = 100.0, P.K1, P.B
    specs = [(f"t{i}", ids) for i, ids in enumerate(lists)]
    rows = _mk_rows(specs, avgdl)
    if not rows:
        return
    idfs = {r.term: 1.0 + 0.37 * i for i, r in enumerate(rows)}
    bmw = _bmw_shard_topk(rows, idfs, k, k1, b, avgdl)
    taat = _taat_shard_topk(rows, idfs, k, k1, b, avgdl, "or")
    assert sorted(bmw) == sorted(taat)  # exact: same accumulation order


@given(
    lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=300),
        min_size=1,
        max_size=4,
    ),
    k=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=30, deadline=None)
def test_dismax_kernel_vs_brute(lists, k):
    """The dis_max shard kernel must equal a per-doc brute-force blend of
    the three per-field scores (best + tie_breaker * rest)."""
    from engine.query import _dismax_shard_topk

    avgdl, k1, b, tb = 100.0, P.K1, P.B, 0.3
    fields = ("default", "nonorms", "doconly")
    specs = [(f"t{i}", ids) for i, ids in enumerate(lists)]
    rows = _mk_rows(specs, avgdl)
    if not rows:
        return
    idfs = {r.term: 1.0 + 0.37 * i for i, r in enumerate(rows)}
    got = _dismax_shard_topk(rows, idfs, k, k1, b, avgdl, fields, tb)

    per_doc: dict[int, list[float]] = {}
    for r in rows:
        d, t, l = P.decode_term_postings(r.docs_bin, r.tfs_bin, r.dls_bin, list(r.blocks))
        idf = idfs[r.term]
        t = t.astype(np.float64)
        l = l.astype(np.float64)
        s0 = idf * t / (t + k1 * (1 - b + b * l / avgdl))
        s1 = idf * t / (t + k1)
        s2 = idf * 1.0 / (1.0 + k1 * (1 - b + b * l / avgdl))
        for doc, a0, a1, a2 in zip(d.tolist(), s0, s1, s2):
            acc = per_doc.setdefault(doc, [0.0, 0.0, 0.0])
            acc[0] += a0
            acc[1] += a1
            acc[2] += a2
    blended = {
        doc: max(s) + tb * (sum(s) - max(s)) for doc, s in per_doc.items()
    }
    want = sorted(blended.items(), key=lambda x: (-x[1], x[0]))[:k]
    assert [doc for doc, _ in got] == [doc for doc, _ in want]
    for (_, s1_), (_, s2_) in zip(got, want):
        assert s1_ == pytest.approx(s2_, rel=1e-9)


@given(
    a=st.text(alphabet="abcde", max_size=8),
    b_=st.text(alphabet="abcde", max_size=8),
    d=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=300, deadline=None)
def test_lev_within_matches_full_dp(a, b_, d):
    """The banded early-exit Levenshtein bound must agree with the full
    O(nm) DP (same classic unit-cost distance as Spark's and DuckDB's
    levenshtein) for every threshold."""
    from engine.query import _lev_within

    prev = list(range(len(b_) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b_, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    assert _lev_within(a, b_, d) == (prev[-1] <= d)


@given(
    lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=300),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=1, max_value=12),
    n_must=st.integers(min_value=0, max_value=2),
    has_not=st.booleans(),
    msm=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=40, deadline=None)
def test_bool_kernel_vs_brute(lists, k, n_must, has_not, msm):
    """The bool shard kernel (must/should/must_not + msm) must equal a
    per-doc brute force: sum must+should contributions, keep docs matching
    every must term, >= msm should terms, and no must_not term."""
    from engine.query import _bool_shard_topk

    avgdl, k1, b = 100.0, P.K1, P.B
    specs = [(f"t{i}", ids) for i, ids in enumerate(lists)]
    rows = _mk_rows(specs, avgdl)
    if not rows:
        return
    names = [r.term for r in rows]
    # last term (when requested and available) is the must_not filter;
    # first n_must of the rest are must, remainder should
    not_names = set(names[-1:]) if has_not and len(names) > 1 else set()
    scoring = [n for n in names if n not in not_names]
    must = frozenset(scoring[:n_must])
    should = [n for n in scoring if n not in must]
    idfs = {n: 1.0 + 0.37 * i for i, n in enumerate(scoring)}
    got = _bool_shard_topk(
        rows, idfs, k, k1, b, avgdl, must, frozenset(not_names), msm
    )

    per_doc: dict[int, float] = {}
    hits: dict[int, set[str]] = {}
    excluded: set[int] = set()
    for r in rows:
        d, t, l = P.decode_term_postings(r.docs_bin, r.tfs_bin, r.dls_bin, list(r.blocks))
        if r.term in not_names:
            excluded.update(d.tolist())
            continue
        idf = idfs[r.term]
        t = t.astype(np.float64)
        l = l.astype(np.float64)
        contrib = idf * t / (t + k1 * (1 - b + b * l / avgdl))
        for doc, c in zip(d.tolist(), contrib):
            per_doc[doc] = per_doc.get(doc, 0.0) + c
            hits.setdefault(doc, set()).add(r.term)
    keep = {
        doc: s
        for doc, s in per_doc.items()
        if doc not in excluded
        and must <= hits[doc]
        and len(hits[doc] & set(should)) >= msm
    }
    want = sorted(keep.items(), key=lambda x: (-x[1], x[0]))[:k]
    assert [doc for doc, _ in got] == [doc for doc, _ in want]
    for (_, s1_), (_, s2_) in zip(got, want):
        assert s1_ == pytest.approx(s2_, rel=1e-9)
