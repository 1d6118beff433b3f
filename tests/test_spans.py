"""ES span queries (span_near / span_first) — round-4 positions follow-up.

Frozen spec under test (engine/spans.py module docstring):
- span_near: one occurrence choice per clause, width = max(pos) -
  min(pos) - (n-1) <= slop, in_order additionally requires strictly
  increasing positions; same-term clauses take pairwise-distinct
  positions; combinatorial count, each match weighted 1/(1+width), tf =
  the weight sum; pseudo-term scoring (idf = sum of member idfs).
- span_first: tf = count of the term's occurrences with 0-based pos + 1
  <= end; idf = the term's idf.

Checked against brute-force itertools oracles on both execution paths,
the in_order=True/slop=0 == match_phrase identity, the span_first(end >=
max dl) == single-term BM25 identity, and a hypothesis property sweep.
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
from engine.query import IndexReader, bm25_topk, match_phrase_topk
from engine.spans import span_first_topk, span_near_topk

K1, B = P.K1, P.B


def _tok(s: str) -> list[str]:
    return re.findall(r"\w+", s.lower())


def _brute_span_near(docs, terms, slop, in_order, k=10):
    toks = {u: _tok(t) for u, t in docs if t}
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    doc_sets = list(toks.values())
    idf_sum = 0.0
    for t in terms:
        df = sum(1 for v in doc_sets if t in v)
        idf_sum += math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
    n = len(terms)
    out = []
    for u, v in toks.items():
        occ = [[p for p, w in enumerate(v) if w == t] for t in terms]
        if any(not o for o in occ):
            continue
        tf = 0.0
        for combo in itertools.product(*occ):
            if len(set(combo)) < len(combo):
                continue  # spans must not overlap
            if in_order and any(
                combo[i] >= combo[i + 1] for i in range(n - 1)
            ):
                continue
            width = max(combo) - min(combo) - (n - 1)
            if width <= slop:
                tf += 1.0 / (1.0 + width)
        if tf > 0:
            dl = len(v)
            out.append((u, idf_sum * tf / (tf + K1 * (1 - B + B * dl / avgdl))))
    out.sort(key=lambda x: (-x[1], x[0]))
    return [(u, round(s, 6)) for u, s in out[:k]]


def _brute_span_first(docs, term, end, k=10):
    toks = {u: _tok(t) for u, t in docs if t}
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df = sum(1 for v in toks.values() if term in v)
    idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
    out = []
    for u, v in toks.items():
        tf = sum(1 for p, w in enumerate(v) if w == term and p + 1 <= end)
        if tf > 0:
            dl = len(v)
            out.append((u, idf * tf / (tf + K1 * (1 - B + B * dl / avgdl))))
    out.sort(key=lambda x: (-x[1], x[0]))
    return [(u, round(s, 6)) for u, s in out[:k]]


CORPUS = [
    ("u1", "the quick brown fox jumps over the lazy dog"),
    ("u2", "quick red fox and a quick clever brown fox with fox quick swaps"),
    ("u3", "brown quick fox reversed order here"),
    ("u4", "the fox is quick and brown but never quick brown fox adjacent wait yes"),
    ("u5", "no relevant animals at all"),
    ("u6", "quick brown fox"),
    ("u7", "echo part echo part echo chained overlapping duplicate slots"),
    ("u8", "echo gap part echo unrelated tail words for length variation"),
    ("u9", "fox leads here while quick trails far far far behind quick"),
]


@pytest.fixture(scope="module")
def pos_index(spark):
    df = spark.createDataFrame(CORPUS, "url string, text string")
    out = tempfile.mkdtemp(prefix="sparkft_test_spans_")
    build_index(spark, df, out, n_shards=2, n_buckets=4, index_options="positions")
    yield out
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize(
    "terms,slop,in_order",
    [
        (["quick", "fox"], 0, True),     # adjacency, ordered
        (["quick", "fox"], 1, True),
        (["quick", "fox"], 1, False),    # unordered catches "fox ... quick"
        (["fox", "quick"], 0, False),    # unordered adjacency: both orders
        (["quick", "brown", "fox"], 2, False),
        (["quick", "brown", "fox"], 2, True),
        (["echo", "part", "echo"], 1, False),  # duplicate clauses
        (["echo", "part"], 3, True),
        (["fox", "quick"], 8, True),     # wide ordered window (u9)
    ],
)
def test_span_near_matches_brute(spark, pos_index, terms, slop, in_order):
    r = IndexReader(spark, pos_index)
    want = _brute_span_near(CORPUS, terms, slop, in_order)
    local = [
        (x["url"], round(x["score"], 6))
        for x in span_near_topk(
            r, terms, k=10, slop=slop, in_order=in_order, execution="local"
        ).collect()
    ]
    dist = [
        (x["url"], round(x["score"], 6))
        for x in span_near_topk(
            r, terms, k=10, slop=slop, in_order=in_order,
            execution="spark",
        ).collect()
    ]
    assert local == want, (terms, slop, in_order, local, want)
    assert dist == want, (terms, slop, in_order, dist, want)


def test_ordered_slop0_is_match_phrase(spark, pos_index):
    """span_near(in_order=True, slop=0) == match_phrase slop=0: strictly
    increasing consecutive positions == exact adjacency, every sloppyFreq
    weight 1, same pseudo-term idf."""
    r = IndexReader(spark, pos_index)
    for phrase in ("quick brown fox", "echo part echo", "brown fox", "quick fox"):
        want = [
            (x["url"], round(x["score"], 9))
            for x in match_phrase_topk(r, phrase, k=10).collect()
        ]
        got = [
            (x["url"], round(x["score"], 9))
            for x in span_near_topk(
                r, phrase.split(), k=10, slop=0, in_order=True
            ).collect()
        ]
        assert got == want, phrase


@pytest.mark.parametrize("term,end", [("fox", 1), ("fox", 3), ("quick", 2), ("echo", 5)])
def test_span_first_matches_brute(spark, pos_index, term, end):
    r = IndexReader(spark, pos_index)
    want = _brute_span_first(CORPUS, term, end)
    for execution in ("local", "spark"):
        got = [
            (x["url"], round(x["score"], 6))
            for x in span_first_topk(
                r, term, end, k=10, execution=execution
            ).collect()
        ]
        assert got == want, (term, end, execution, got, want)


def test_span_first_wide_end_is_term_bm25(spark, pos_index):
    """end >= the longest doc: every occurrence qualifies, so span_first
    degrades to the single-term BM25 ranking."""
    r = IndexReader(spark, pos_index)
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(r, ["fox"], k=10).collect()
    ]
    got = [
        (x["url"], round(x["score"], 9))
        for x in span_first_topk(r, "fox", end=10_000, k=10).collect()
    ]
    assert got == want


def test_span_guards(spark, pos_index, tmp_path):
    r = IndexReader(spark, pos_index)
    assert span_near_topk(r, ["quick", "zzznope"], k=5).count() == 0
    assert span_near_topk(r, [], k=5).count() == 0
    assert span_first_topk(r, "zzznope", end=5).count() == 0
    assert span_first_topk(r, "fox", end=0).count() == 0
    with pytest.raises(ValueError, match="one term"):
        span_first_topk(r, "two words", end=5)
    df = spark.createDataFrame(CORPUS[:3], "url string, text string")
    out = str(tmp_path / "freqs_idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4)
    with pytest.raises(ValueError, match="positional"):
        span_near_topk(IndexReader(spark, out), ["quick", "fox"])


def test_dsl_span_dispatch(spark, pos_index):
    """The _search DSL routes span blocks to the native operators
    (dispatch identity) and rejects the documented divergences."""
    from engine.dsl import search

    r = IndexReader(spark, pos_index)

    def ids(resp):
        return [(h["_id"], round(h["_score"], 9)) for h in resp["hits"]["hits"]]

    body = {
        "query": {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": {"value": "quick"}}},
                    {"span_term": {"text": "fox"}},
                ],
                "slop": 1,
                "in_order": False,
            }
        },
        "size": 5,
    }
    want = [
        (x["url"], round(x["score"], 9))
        for x in span_near_topk(
            r, ["quick", "fox"], k=5, slop=1, in_order=False
        ).collect()
    ]
    assert ids(search(r, body)) == want

    # defaults mirror ES SpanNearQueryBuilder: slop=0, in_order=true
    body2 = {
        "query": {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": "quick"}},
                    {"span_term": {"text": "fox"}},
                ]
            }
        }
    }
    want2 = [
        (x["url"], round(x["score"], 9))
        for x in span_near_topk(r, ["quick", "fox"], k=10).collect()
    ]
    assert ids(search(r, body2)) == want2

    body3 = {
        "query": {
            "span_first": {
                "match": {"span_term": {"text": "fox"}},
                "end": 3,
            }
        }
    }
    want3 = [
        (x["url"], round(x["score"], 9))
        for x in span_first_topk(r, "fox", end=3, k=10).collect()
    ]
    assert ids(search(r, body3)) == want3

    # span_term alone == term BM25 (unit spans all weigh 1)
    body4 = {"query": {"span_term": {"text": "fox"}}}
    want4 = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(r, ["fox"], k=10).collect()
    ]
    assert ids(search(r, body4)) == want4

    # span_or of span_terms is now a supported clause (round-5); deeper
    # nesting and empty or-sets still reject cleanly
    with pytest.raises(ValueError, match="span_term blocks"):
        search(r, {"query": {"span_near": {"clauses": [
            {"span_or": {"clauses": [{"span_near": {}}]}}]}}})
    with pytest.raises(ValueError, match="non-empty"):
        search(r, {"query": {"span_near": {"clauses": [{"span_or": {}}]}}})
    with pytest.raises(ValueError, match="text field"):
        search(r, {"query": {"span_term": {"lang": "en"}}})


@settings(max_examples=12, deadline=None)
@given(
    data=st.data(),
    slop=st.integers(min_value=0, max_value=3),
    in_order=st.booleans(),
)
def test_span_near_property(spark, data, slop, in_order):
    """Random tiny corpora from a 6-word vocabulary (dense co-occurrence,
    duplicate tokens guaranteed): kernel == itertools oracle for a random
    2-3 clause span_near at every (slop, in_order)."""
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
    terms = data.draw(st.lists(st.sampled_from(vocab), min_size=2, max_size=3))
    out = tempfile.mkdtemp(prefix="sparkft_test_spanprop_")
    try:
        df = spark.createDataFrame(docs, "url string, text string")
        build_index(spark, df, out, n_shards=2, n_buckets=2, index_options="positions")
        r = IndexReader(spark, out)
        stats = r.term_stats(list(dict.fromkeys(terms)))
        want = (
            []
            if any(t not in stats for t in terms)
            else _brute_span_near(docs, terms, slop, in_order)
        )
        got = [
            (x["url"], round(x["score"], 6))
            for x in span_near_topk(
                r, terms, k=10, slop=slop, in_order=in_order, execution="local"
            ).collect()
        ]
        assert got == want, (docs, terms, slop, in_order, got, want)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dsl_intervals_dispatch(spark, pos_index):
    """ES intervals query routes onto the span engine: `match` with
    max_gaps/ordered == span_near(slop, in_order) (identical MATCHING
    set; scoring is the frozen combinatorial-span weighting — documented
    divergence from Lucene's minimal-interval freq); `all_of` over
    single-term match rules flattens to the same span_near; a one-term
    rule is the plain term query; max_gaps is required >= 0."""
    from engine.dsl import search

    r = IndexReader(spark, pos_index)

    def ids(resp):
        return [(h["_id"], round(h["_score"], 9)) for h in resp["hits"]["hits"]]

    want = [
        (x["url"], round(x["score"], 9))
        for x in span_near_topk(
            r, ["quick", "fox"], k=5, slop=2, in_order=False
        ).collect()
    ]
    got = search(r, {
        "query": {"intervals": {"text": {
            "match": {"query": "Quick FOX", "max_gaps": 2}
        }}},
        "size": 5,
    })
    assert ids(got) == want

    # all_of over single-term rules == the flattened span_near (ordered)
    want = [
        (x["url"], round(x["score"], 9))
        for x in span_near_topk(
            r, ["quick", "fox"], k=5, slop=1, in_order=True
        ).collect()
    ]
    got = search(r, {
        "query": {"intervals": {"text": {
            "all_of": {
                "ordered": True, "max_gaps": 1,
                "intervals": [
                    {"match": {"query": "quick"}},
                    {"match": {"query": "fox"}},
                ],
            }
        }}},
        "size": 5,
    })
    assert ids(got) == want

    # single-term rule == term BM25
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(r, ["fox"], k=5).collect()
    ]
    got = search(r, {
        "query": {"intervals": {"text": {
            "match": {"query": "fox", "max_gaps": 0}
        }}},
        "size": 5,
    })
    assert ids(got) == want

    with pytest.raises(ValueError, match="max_gaps"):
        search(r, {"query": {"intervals": {"text": {
            "match": {"query": "quick fox"}
        }}}})
    with pytest.raises(ValueError, match="single-term"):
        search(r, {"query": {"intervals": {"text": {
            "all_of": {"max_gaps": 1, "intervals": [
                {"match": {"query": "quick fox", "max_gaps": 3}},
            ]}
        }}}})


def test_dsl_intervals_any_of(spark, pos_index):
    """round-5 lift: intervals any_of — sub-intervals become span
    ALTERNATIVE slots. A lone any_of equals span_or over the
    alternatives; any_of inside all_of equals span_near with an
    alternatives slot."""
    from engine.dsl import search
    from engine.spans import span_or_topk

    r = IndexReader(spark, pos_index)

    def ids(resp):
        return [(h["_id"], round(h["_score"], 9)) for h in resp["hits"]["hits"]]

    want = [
        (x["url"], round(x["score"], 9))
        for x in span_or_topk(r, ["red", "brown"], k=6).collect()
    ]
    got = search(r, {"query": {"intervals": {"text": {
        "any_of": {"intervals": [
            {"match": {"query": "red"}}, {"match": {"query": "brown"}},
        ]}}}}, "size": 6})
    assert ids(got) == want and want

    want = [
        (x["url"], round(x["score"], 9))
        for x in span_near_topk(
            r, ["quick", ["red", "brown"], "fox"], k=6, slop=1,
            in_order=True,
        ).collect()
    ]
    got = search(r, {"query": {"intervals": {"text": {
        "all_of": {"ordered": True, "max_gaps": 1, "intervals": [
            {"match": {"query": "quick"}},
            {"any_of": {"intervals": [
                {"match": {"query": "red"}}, {"match": {"query": "brown"}},
            ]}},
            {"match": {"query": "fox"}},
        ]}}}}, "size": 6})
    assert ids(got) == want and want

    import pytest as _pt
    with _pt.raises(ValueError, match="any_of sub-intervals"):
        search(r, {"query": {"intervals": {"text": {
            "any_of": {"intervals": [
                {"match": {"query": "quick fox"}}]}}}}, "size": 3})
