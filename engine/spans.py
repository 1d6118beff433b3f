"""ES span queries (span_term / span_near / span_first) over the
positional index.

The Lucene span family over term-level clauses — the subset the
reference's search mapping can express (the reference delegates span
execution to ES/Lucene wholesale; this module implements it natively on
the pos_bin/pos_offs position stream from engine/index_build.py:91-100).
span_or is supported both top-level and NESTED inside span_near (an
or-clause is a slot of alternative terms — the same multi-alternative
machinery match_phrase_prefix uses); span_not is supported with a
span_term / span_near include and a term-set exclude (pre/post overlap
window). Deeper nesting (span_near inside span_near, span_containing)
remains a frozen out-of-scope divergence, documented in COVERAGE.md.

Frozen span semantics — the same combinatorial freeze as the sloppy
match_phrase kernel (engine/query.py _phrase_slop_shard_topk), diverging
from Lucene's greedy SpanScorer iterator, which can count fewer matches
on repeated-token docs:

- ``span_near(clauses=[c0..c{n-1}], slop, in_order)``: each clause is a
  term or a span_or set of alternative terms; a match is ONE
  token-occurrence choice per clause. Clauses sharing a term (or an
  alternative) must take pairwise-distinct positions (distinct terms can
  never collide — a token position holds exactly one term). ``width`` is the count of
  unmatched positions inside the span — ``max(pos) - min(pos) - (n-1)``,
  Lucene's matchWidth for unit-length term spans — and a match requires
  ``width <= slop``. ``in_order=True`` additionally requires strictly
  increasing positions in clause order. Matches are enumerated
  combinatorially over ordered clause assignments (two same-term clauses
  swapped count as two matches — frozen, what the SQL self-join oracle
  computes), each weighted ``1 / (1 + width)`` (SpanScorer sloppyFreq),
  and the span tf is the weight sum.
- ``span_first(term, end)``: matches occurrences of ``term`` whose span
  END (0-based token position + 1, Lucene layout) is <= ``end``; every
  unit span has width 0, so tf is the plain count of qualifying
  occurrences.

Scoring is the pseudo-term model shared with match_phrase: the whole
span query behaves as ONE term with tf = the span frequency and idf =
the sum of the idfs of every DICTIONARY-LIVE term in the span tree
(duplicate clauses counted; span_first has a single member; span_not's
exclude terms never contribute — Lucene exclusion is score-free). A
slot with no live alternative means zero hits (conjunctive); a dead
alternative inside a live or-slot is simply dropped.

- ``span_or(terms)``: every occurrence of any alternative is a unit
  span (width 0, weight 1); tf = the occurrence count.
- ``span_not(include, exclude, pre, post)``: include matches are kept
  only when NO exclude-term occurrence falls inside [span_start - pre,
  span_end + post] (Lucene SpanNotQuery's dist window).

Identities (property-tested in tests/test_spans.py):
- ``span_near(in_order=True, slop=0)`` == ``match_phrase`` slop=0
  (consecutive strictly-increasing positions == exact adjacency, every
  weight 1, identical pseudo-term idf).
- ``span_first(t, end >= max_dl)`` == single-term BM25 over ``t``.

Execution is match_phrase_topk's: engine.query._positional_topk on the
shared scatter-gather executor — driver-local pyarrow read + in-process
kernel when the terms' postings fit LOCAL_MAX_POSTINGS, else ONE Spark
scatter-gather (<= k rows back per shard); winner urls via the pruned
docmap lookup.
"""

from __future__ import annotations

import numpy as np

from engine import postings as P
from engine.query import (
    IndexReader,
    _frame_api,
    _phrase_candidates,
    _phrase_score_rows,
    _positional_topk,
    _require_positions,
    _slot_occurrences,
)
from engine.textnorm import standard_tokenize_py


def _span_near_freqs(
    rows: list,
    slots: list[list[str]],
    slop: int,
    in_order: bool,
    dels: "np.ndarray | None",
    allow: "np.ndarray | None" = None,
    exclude: "list[str] | None" = None,
    pre: int = 0,
    post: int = 0,
) -> "tuple[dict, np.ndarray, np.ndarray] | None":
    """(by_term, match_docs, tf) for one shard's positional posting rows
    under the frozen span semantics, or None when nothing matches. Each
    slot is a term list — singletons for span_term clauses, several
    alternatives for a nested span_or. `exclude` (span_not) drops any
    match whose [min_pos - pre, max_pos + post] window contains an
    occurrence of an exclude term.

    Vectorized as the same iterative constrained join as _phrase_freqs'
    slop branch, but over RAW positions: states after clause i are
    parallel arrays (doc, min-pos, max-pos, chosen positions); clause
    i+1's occurrences are range-looked-up per state via searchsorted over
    (doc << 32 | pos + bias) keys. The window is [max - W, min + W] with
    W = slop + n - 1 (width <= slop <=> raw span <= W); in_order narrows
    the lower bound to prev_pos + 1 (which also subsumes the shared-term
    distinctness guard). Work is O(assignments), bounded per doc by
    occ_clause0 * (2W + 1)^(n-1). Exclusion is one searchsorted range
    probe per surviving state."""
    got = _phrase_candidates(rows, slots, dels, allow)
    if got is None:
        return None
    by_term, cand = got
    n = len(slots)
    W = slop + n - 1
    bias = W + 1  # keeps every packed pos key strictly positive
    occs = [_slot_occurrences(by_term, cand, s) for s in slots]
    d0, p0 = occs[0]
    if d0.size == 0:
        return None
    s_doc = d0
    s_mn, s_mx = p0.copy(), p0.copy()
    s_pos = [p0]  # absolute positions per processed clause
    for i in range(1, n):
        d, p = occs[i]
        keys = (d << 32) | (p + bias)
        if in_order:
            lo_v = s_pos[-1] + 1  # strictly after the previous clause
        else:
            lo_v = np.maximum(s_mx - W, 0)
        hi_v = s_mn + W
        lo = np.searchsorted(keys, (s_doc << 32) | (lo_v + bias), side="left")
        hi = np.searchsorted(keys, (s_doc << 32) | (hi_v + bias), side="right")
        cnt = np.maximum(hi - lo, 0)
        tot = int(cnt.sum())
        if tot == 0:
            return None
        parent = np.repeat(np.arange(s_doc.size), cnt)
        head = np.concatenate(([0], np.cumsum(cnt)))[:-1]
        offs = np.arange(tot) - np.repeat(head, cnt) + np.repeat(lo, cnt)
        new_pos = p[offs]
        if not in_order:
            # clauses sharing a term (or an or-alternative) must take
            # pairwise-distinct positions; strictly increasing order
            # already enforces this in ordered mode. Disjoint slots can
            # never collide (a token position holds exactly one term).
            keep = np.ones(tot, dtype=bool)
            for j in range(i):
                if set(slots[j]) & set(slots[i]):
                    keep &= s_pos[j][parent] != new_pos
            if not keep.all():
                parent, new_pos = parent[keep], new_pos[keep]
                if parent.size == 0:
                    return None
        s_mn = np.minimum(s_mn[parent], new_pos)
        s_mx = np.maximum(s_mx[parent], new_pos)
        s_doc = s_doc[parent]
        s_pos = [sp[parent] for sp in s_pos] + [new_pos]
    if exclude:
        d_e, p_e = _slot_occurrences(by_term, cand, exclude)
        if d_e.size:
            bias2 = pre + 1  # lo_v >= -pre, so keys stay strictly positive
            keys_e = (d_e << 32) | (p_e + bias2)
            lo = np.searchsorted(
                keys_e, (s_doc << 32) | (s_mn - pre + bias2), side="left"
            )
            hi = np.searchsorted(
                keys_e, (s_doc << 32) | (s_mx + post + bias2), side="right"
            )
            keep = hi == lo
            if not keep.all():
                s_doc, s_mn, s_mx = s_doc[keep], s_mn[keep], s_mx[keep]
                if s_doc.size == 0:
                    return None
    width = (s_mx - s_mn - (n - 1)).astype(np.float64)
    w = 1.0 / (1.0 + width)
    match_docs, inv = np.unique(s_doc, return_inverse=True)
    tf = np.bincount(inv, weights=w)
    return by_term, match_docs, tf


def _span_near_shard_topk(
    rows: list,
    slots: list[list[str]],
    slop: int,
    in_order: bool,
    idf_sum: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dels: "np.ndarray | None",
    allow: "np.ndarray | None" = None,
    exclude: "list[str] | None" = None,
    pre: int = 0,
    post: int = 0,
) -> list[tuple[int, float]]:
    """Per-shard span kernel (span_near / nested span_or / span_not):
    frozen combinatorial span frequency + the shared pseudo-term scoring
    tail."""
    got = _span_near_freqs(
        rows, slots, slop, in_order, dels, allow, exclude, pre, post
    )
    if got is None:
        return []
    by_term, match_docs, tf = got
    return _phrase_score_rows(
        by_term, slots, match_docs, tf, idf_sum, k, k1, b, avgdl
    )


def _span_first_shard_topk(
    rows: list,
    term: str,
    end: int,
    idf: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dels: "np.ndarray | None",
) -> list[tuple[int, float]]:
    """Per-shard span_first kernel: tf = count of occurrences with span
    end (0-based pos + 1) <= end; unit spans weigh 1."""
    got = _phrase_candidates(rows, [[term]], dels)
    if got is None:
        return []
    by_term, cand = got
    d, p = _slot_occurrences(by_term, cand, [term])
    keep = (p + 1) <= end
    d = d[keep]
    if d.size == 0:
        return []
    match_docs, tf = np.unique(d, return_counts=True)
    return _phrase_score_rows(
        by_term, [[term]], match_docs, tf.astype(np.float64),
        idf, k, k1, b, avgdl,
    )


def _span_near_topk(
    reader: IndexReader,
    clauses,
    k: int = 10,
    slop: int = 0,
    in_order: bool = True,
    execution: str = "auto",
    exclude: "list[str] | None" = None,
    pre: int = 0,
    post: int = 0,
    filters=(),
):
    """ES ``span_near`` top-k over a POSITIONAL index: (url, doc_id,
    score), score desc / doc_id asc. clauses: a string (one slot per
    analyzed token), or a list mixing terms and nested span_or
    alternative lists. exclude/pre/post = the span_not overlap window
    (span_not_topk is the named front-end). Defaults mirror ES's
    SpanNearQueryBuilder: slop=0, in_order=true. See the module
    docstring for the frozen span semantics."""
    _require_positions(reader, "span_near")
    slots = _parse_clauses(clauses)
    if not slots:
        return "rows", []
    exclude = [t.lower() for t in (exclude or [])]
    fetch = list(dict.fromkeys([t for sl in slots for t in sl] + exclude))
    stats = reader.term_stats(fetch)
    # conjunctive per SLOT: drop dead alternatives; a slot with none left
    # cannot match. Exclude terms are optional (absent => no exclusion)
    # and never contribute to idf (Lucene exclusion is score-free).
    live_slots = [[t for t in sl if t in stats] for sl in slots]
    if any(not sl for sl in live_slots):
        return "rows", []
    slots = live_slots
    exclude = [t for t in exclude if t in stats]
    idf_sum = float(
        sum(P.bm25_idf(stats[t], reader.n_docs) for sl in slots for t in sl)
    )
    distinct = list(dict.fromkeys([t for sl in slots for t in sl] + exclude))
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def kernel(rows: list, dels, kk: int) -> list[tuple[int, float]]:
        return _span_near_shard_topk(
            rows, slots, slop, in_order, idf_sum, kk, k1, b, avgdl, dels,
            exclude=exclude, pre=pre, post=post,
        )

    return _positional_topk(
        reader, distinct, kernel, sum(stats[t] for t in distinct), k,
        execution, filters,
    )


span_near_topk = _frame_api(_span_near_topk)


def _parse_clauses(clauses) -> list[list[str]]:
    """Clause spec -> slots: a str analyzes to one slot per token; a list
    mixes terms (str) and nested span_or alternative lists."""
    if isinstance(clauses, str):
        return [[t] for t in standard_tokenize_py(clauses.lower())]
    slots: list[list[str]] = []
    for c in clauses:
        if isinstance(c, str):
            slots.append([c.lower()])
        else:
            alts = [t.lower() for t in c]
            if not alts:
                raise ValueError("empty span_or clause")
            slots.append(list(dict.fromkeys(alts)))
    return slots


def _span_or_topk(
    reader: IndexReader,
    alternatives: "list[str]",
    k: int = 10,
    execution: str = "auto",
    filters=(),
):
    """ES top-level ``span_or`` top-k: every occurrence of any alternative
    is a unit span (width 0, weight 1), so tf = the per-doc occurrence
    count over the alternative set and idf = the sum of the live
    alternatives' idfs — a one-slot span_near by construction."""
    return _span_near_topk(
        reader, [list(alternatives)], k=k, slop=0, in_order=False,
        execution=execution, filters=filters,
    )


span_or_topk = _frame_api(_span_or_topk)


def _span_not_topk(
    reader: IndexReader,
    include,
    exclude: "list[str]",
    k: int = 10,
    slop: int = 0,
    in_order: bool = True,
    pre: int = 0,
    post: int = 0,
    execution: str = "auto",
    filters=(),
):
    """ES ``span_not`` top-k: matches of the include span (a span_term, a
    span_near clause list, or nested span_or slots) kept only when no
    exclude-term occurrence falls inside [span_start - pre, span_end +
    post] (Lucene SpanNotQuery's dist window). Exclusion filters tf
    BEFORE scoring and never contributes to idf."""
    return _span_near_topk(
        reader, include, k=k, slop=slop, in_order=in_order,
        exclude=list(exclude), pre=pre, post=post,
        execution=execution, filters=filters,
    )


span_not_topk = _frame_api(_span_not_topk)


def _span_first_topk(
    reader: IndexReader,
    term: str,
    end: int,
    k: int = 10,
    execution: str = "auto",
    filters=(),
):
    """ES ``span_first`` top-k (match = a span_term clause, the supported
    subset): occurrences of ``term`` whose span end (0-based position + 1)
    is <= ``end``; tf = the qualifying-occurrence count, idf = the term's
    idf — a head-of-document match amplifier."""
    _require_positions(reader, "span_first")
    if end < 1:
        return "rows", []
    toks = standard_tokenize_py(term.lower())
    if len(toks) != 1:
        raise ValueError(
            f"span_first match must analyze to one term, got {toks!r}"
        )
    t = toks[0]
    stats = reader.term_stats([t])
    if t not in stats:
        return "rows", []
    idf = float(P.bm25_idf(stats[t], reader.n_docs))
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def kernel(rows: list, dels, kk: int) -> list[tuple[int, float]]:
        return _span_first_shard_topk(rows, t, end, idf, kk, k1, b, avgdl, dels)

    return _positional_topk(
        reader, [t], kernel, stats[t], k, execution, filters
    )


span_first_topk = _frame_api(_span_first_topk)
