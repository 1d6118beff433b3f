"""Sloppy match_phrase + match_phrase_prefix (round-4 positions follow-up).

Frozen spec under test (see engine/query.py _phrase_slop_shard_topk /
match_phrase_prefix_topk docstrings):
- a sloppy match picks one occurrence per slot with the ADJUSTED positions
  (pos - slot) spanning <= slop (ES metric: one gap costs 1, a swap costs
  2); slots sharing a term take pairwise-distinct token positions;
- matches are counted combinatorially, each weighted 1/(1 + span)
  (Lucene's sloppyFreq weight); phrase tf = the weight sum;
- slop=0 must reduce EXACTLY to the adjacency kernel;
- match_phrase_prefix expands the last slot from the dictionary
  (df-ordered, max_expansions cap) and scores the prefix slot as ONE
  pseudo-term whose df is the union doc count of the expansions.

All checked against a brute-force itertools oracle, on both execution
paths, plus a hypothesis property sweep over random corpora.
"""

from __future__ import annotations

import itertools
import math
import re
import shutil
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine import postings as P
from engine.index_build import build_index
from engine.query import IndexReader, match_phrase_prefix_topk, match_phrase_topk

K1, B = P.K1, P.B


def _tok(s: str) -> list[str]:
    return re.findall(r"\w+", s.lower())


def _brute_sloppy(
    docs: list[tuple[str, str]],
    slots: list[list[str]],
    slot_dfs: list[int],
    slop: int,
    k: int,
):
    """Combinatorial span-semantics oracle: enumerate every occurrence
    choice, keep span(adjusted) <= slop with pairwise-distinct positions,
    weight each 1/(1+span). slot_dfs: the df driving each slot's idf
    (term df for exact slots, union df for a prefix slot)."""
    toks = {u: _tok(t) for u, t in docs if t}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    idf_sum = sum(
        math.log(1 + (n - df + 0.5) / (df + 0.5)) for df in slot_dfs
    )
    out = []
    for u, v in toks.items():
        occ = [
            [p for p, w in enumerate(v) if w in alts] for alts in slots
        ]
        if any(not o for o in occ):
            continue
        pf = 0.0
        for combo in itertools.product(*occ):
            if len(set(combo)) < len(combo):
                continue  # one token cannot serve two slots
            adj = [p - i for i, p in enumerate(combo)]
            span = max(adj) - min(adj)
            if span <= slop:
                pf += 1.0 / (1.0 + span)
        if pf > 0:
            dl = len(v)
            out.append((u, idf_sum * pf / (pf + K1 * (1 - B + B * dl / avgdl))))
    out.sort(key=lambda x: (-x[1], x[0]))
    return [(u, round(s, 6)) for u, s in out[:k]]


def _term_dfs(docs, terms: list[str]) -> list[int]:
    toks = [set(_tok(t)) for _, t in docs if t]
    return [sum(1 for v in toks if t in v) for t in terms]


def _union_df(docs, prefix: str) -> int:
    toks = [set(_tok(t)) for _, t in docs if t]
    return sum(1 for v in toks if any(w.startswith(prefix) for w in v))


CORPUS = [
    ("u1", "the quick brown fox jumps over the lazy dog"),
    ("u2", "quick red fox and a quick clever brown fox with fox quick swaps"),
    ("u3", "brown quick fox reversed order here"),
    ("u4", "the fox is quick and brown but never quick brown fox adjacent wait yes"),
    ("u5", "no relevant animals at all"),
    ("u6", "quick brown fox"),
    ("u7", "echo part echo part echo chained overlapping duplicate slots"),
    ("u8", "echo gap part echo unrelated tail words for length variation"),
    ("u9", "foxglove foxes foxtrot quick foxhole quick foxed"),
]


@pytest.fixture(scope="module")
def pos_index(spark):
    df = spark.createDataFrame(CORPUS, "url string, text string")
    out = tempfile.mkdtemp(prefix="sparkft_test_slop_")
    build_index(spark, df, out, n_shards=2, n_buckets=4, index_options="positions")
    yield out
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize(
    "phrase,slop",
    [
        ("quick fox", 1),       # one intervening token
        ("quick brown fox", 1),
        ("fox quick", 2),       # swapped bigram costs 2
        ("quick fox", 0),
        ("brown fox", 2),
        ("echo part echo", 1),  # duplicate slots + slop
        ("echo part", 1),
        ("the quick dog", 6),   # wide window, 3 slots
    ],
)
def test_sloppy_phrase_matches_brute(spark, pos_index, phrase, slop):
    r = IndexReader(spark, pos_index)
    terms = phrase.split()
    want = _brute_sloppy(
        CORPUS, [[t] for t in terms], _term_dfs(CORPUS, terms), slop, 10
    )
    local = [
        (x["url"], round(x["score"], 6))
        for x in match_phrase_topk(
            r, phrase, k=10, slop=slop, execution="local"
        ).collect()
    ]
    dist = [
        (x["url"], round(x["score"], 6))
        for x in match_phrase_topk(
            r, phrase, k=10, slop=slop, execution="spark"
        ).collect()
    ]
    assert local == want, (phrase, slop, local, want)
    assert dist == want, (phrase, slop, dist, want)


def test_slop_zero_identical_to_exact_kernel(spark, pos_index):
    """slop=0 must take the sloppy kernel through the exact-adjacency
    special case: identical (url, score) lists for every corpus phrase."""
    from engine.query import _phrase_slop_shard_topk, _phrase_shard_topk

    r = IndexReader(spark, pos_index)
    for phrase in ("quick brown fox", "echo part echo", "brown fox", "quick fox"):
        terms = phrase.split()
        slots = [[t] for t in terms]
        stats = r.term_stats(list(dict.fromkeys(terms)))
        if any(t not in stats for t in terms):
            continue
        idf = sum(P.bm25_idf(stats[t], r.n_docs) for t in terms)
        by_shard = r.postings_pos_local(list(dict.fromkeys(terms)))
        for shard, rows in by_shard.items():
            exact = _phrase_shard_topk(rows, slots, idf, 10, r.k1, r.b, r.avgdl, None)
            sloppy = _phrase_slop_shard_topk(
                rows, slots, 0, idf, 10, r.k1, r.b, r.avgdl, None
            )
            assert [(d, round(s, 9)) for d, s in exact] == [
                (d, round(s, 9)) for d, s in sloppy
            ], (phrase, shard)


def test_match_phrase_prefix_matches_brute(spark, pos_index):
    r = IndexReader(spark, pos_index)
    vocab = sorted({w for _, t in CORPUS for w in _tok(t)})
    for phrase, pre, slop in [
        ("quick fox", "fox", 0),   # expands fox, foxglove, foxes, ...
        ("quick fox", "fox", 1),
        ("brown fo", "fo", 0),
        ("echo par", "par", 0),
    ]:
        head = phrase.split()[:-1]
        exp = [w for w in vocab if w.startswith(pre)]
        slots = [[t] for t in head] + [exp]
        dfs = _term_dfs(CORPUS, head) + [_union_df(CORPUS, pre)]
        want = _brute_sloppy(CORPUS, slots, dfs, slop, 10)
        for execution in ("local", "spark"):
            got = [
                (x["url"], round(x["score"], 6))
                for x in match_phrase_prefix_topk(
                    r, phrase, k=10, slop=slop, max_expansions=100,
                    execution=execution,
                ).collect()
            ]
            assert got == want, (phrase, slop, execution, got, want)


def test_match_phrase_prefix_empty_and_guards(spark, pos_index, tmp_path):
    r = IndexReader(spark, pos_index)
    assert match_phrase_prefix_topk(r, "quick zzznope", k=5).count() == 0
    assert match_phrase_prefix_topk(r, "", k=5).count() == 0
    df = spark.createDataFrame(CORPUS[:3], "url string, text string")
    out = str(tmp_path / "freqs_idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4)
    with pytest.raises(ValueError, match="positional"):
        match_phrase_prefix_topk(IndexReader(spark, out), "quick bro")


@settings(max_examples=15, deadline=None)
@given(
    data=st.data(),
    slop=st.integers(min_value=0, max_value=3),
)
def test_sloppy_phrase_property(spark, data, slop):
    """Random tiny corpora from a 6-word vocabulary (dense co-occurrence,
    duplicate tokens guaranteed): kernel == itertools oracle for a random
    2-3 slot phrase at every slop in 0..3."""
    vocab = ["ant", "bee", "cat", "dog", "elk", "fly"]
    n_docs = data.draw(st.integers(min_value=3, max_value=6))
    docs = [
        (
            f"d{i}",
            " ".join(
                data.draw(
                    st.lists(st.sampled_from(vocab), min_size=3, max_size=12)
                )
            ),
        )
        for i in range(n_docs)
    ]
    phrase = data.draw(
        st.lists(st.sampled_from(vocab), min_size=2, max_size=3)
    )
    out = tempfile.mkdtemp(prefix="sparkft_test_slopprop_")
    try:
        df = spark.createDataFrame(docs, "url string, text string")
        build_index(spark, df, out, n_shards=2, n_buckets=2, index_options="positions")
        r = IndexReader(spark, out)
        terms = [t for t in phrase]
        stats = r.term_stats(list(dict.fromkeys(terms)))
        if any(t not in stats for t in terms):
            want = []
        else:
            want = _brute_sloppy(
                docs, [[t] for t in terms], _term_dfs(docs, terms), slop, 10
            )
        got = [
            (x["url"], round(x["score"], 6))
            for x in match_phrase_topk(
                r, terms, k=10, slop=slop, execution="local"
            ).collect()
        ]
        assert got == want, (docs, phrase, slop, got, want)
    finally:
        shutil.rmtree(out, ignore_errors=True)
