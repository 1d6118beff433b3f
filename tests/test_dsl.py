"""ES `_search` JSON DSL front-end: the dispatcher must return exactly
what the native operators return, reshaped into the ES response form —
every semantic is defined once in the operator modules, so these tests
assert dispatch identity, not recomputed ranking."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engine.dsl import search
from engine.index_build import build_index
from engine.query import IndexReader, bm25_topk

from tests.conftest import SF001


@pytest.fixture(scope="module")
def dsl_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dslidx") / "idx")
    d = spark.read.parquet(os.path.join(SF001, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("url"),
        "text", "lang", "source", "n_chars",
    )
    build_index(
        spark, d, out, n_shards=4, n_buckets=8,
        docvalue_cols=["lang", "source", "n_chars"],
    )
    return out


def _ids(resp):
    return [(h["_id"], round(h["_score"], 9)) for h in resp["hits"]["hits"]]


def test_match_query_matches_operator(spark, dsl_index):
    r = IndexReader(spark, dsl_index)
    resp = search(r, {"query": {"match": {"text": "hash join"}}, "size": 7})
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(r, ["hash", "join"], k=7).collect()
    ]
    assert _ids(resp) == want
    assert resp["hits"]["total"]["value"] == 7

    # operator=and == conjunctive mode
    resp = search(
        r,
        {"query": {"match": {"text": {"query": "hash join", "operator": "and"}}}},
    )
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(r, ["hash", "join"], k=10, mode="and").collect()
    ]
    assert _ids(resp) == want


def test_from_size_slices_the_ranking(spark, dsl_index):
    r = IndexReader(spark, dsl_index)
    full = search(r, {"query": {"match": {"text": "hash"}}, "size": 10})
    page2 = search(r, {"query": {"match": {"text": "hash"}}, "size": 4, "from": 4})
    assert _ids(page2) == _ids(full)[4:8]
    with pytest.raises(ValueError, match="search_after"):
        search(r, {"query": {"match_all": {}}, "from": 10_000, "size": 10})


def test_bool_filter_and_function_score(spark, dsl_index):
    from engine.docvalues import RangeFilter

    r = IndexReader(spark, dsl_index)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": "hash join"}}],
                "filter": [{"range": {"n_chars": {"gte": 200}}}],
            }
        }
    }
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(
            r, ["hash", "join"], k=10, mode="and",
            filters=(RangeFilter("n_chars", gte=200),),
        ).collect()
    ]
    assert _ids(search(r, body)) == want

    body = {
        "query": {
            "function_score": {
                "query": {"match": {"text": "hash join"}},
                "field_value_factor": {"field": "n_chars", "factor": 0.001},
            }
        }
    }
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_topk(r, ["hash", "join"], k=10, boost=("n_chars", 0.001)).collect()
    ]
    assert _ids(search(r, body)) == want


def test_bool_should_mustnot_and_rewrites(spark, dsl_index):
    from engine.query import bm25_bool_topk

    r = IndexReader(spark, dsl_index)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": "hash"}}],
                "should": [{"match": {"text": "join table"}}],
                "must_not": [{"term": {"text": "slow"}}],
            }
        }
    }
    want = [
        (x["url"], round(x["score"], 9))
        for x in bm25_bool_topk(
            r, must=["hash"], should=["join", "table"], must_not=["slow"], k=10
        ).collect()
    ]
    assert _ids(search(r, body)) == want
    # dictionary-rewrite kinds route to the matching mode
    for kind, q in (("prefix", "ha"), ("wildcard", "ha*h"), ("fuzzy", "hsah")):
        got = search(r, {"query": {kind: {"text": {"value": q}}}})
        want = [
            (x["url"], round(x["score"], 9))
            for x in bm25_topk(r, q, k=10, mode=kind).collect()
        ]
        assert _ids(got) == want, kind


def test_aggs_sort_count_and_match_all(spark, dsl_index):
    from engine.aggs import TermsAgg, search_aggs, search_sort

    r = IndexReader(spark, dsl_index)
    resp = search(
        r,
        {
            "query": {"match": {"text": "hash join"}},
            "size": 3,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 5}}},
            "track_total_hits": True,
        },
    )
    want = [
        x.asDict() for x in search_aggs(r, ["hash", "join"], TermsAgg("lang", 5)).collect()
    ]
    assert resp["aggregations"]["langs"]["buckets"] == want
    assert resp["hits"]["total"]["value"] > 3  # exact count, not page size

    resp = search(
        r,
        {
            "query": {"match": {"text": "hash"}},
            "sort": [{"n_chars": {"order": "desc"}}],
            "size": 5,
        },
    )
    want = [
        (x["url"], x["sort_val"])
        for x in search_sort(r, ["hash"], "n_chars", k=5, ascending=False).collect()
    ]
    assert [(h["_id"], h["sort"][0]) for h in resp["hits"]["hits"]] == want

    resp = search(r, {"query": {"match_all": {}}, "size": 4})
    assert len(resp["hits"]["hits"]) == 4
    assert resp["hits"]["hits"][0]["_score"] == 1.0


def test_phrase_highlight_and_divergences(spark, dsl_index):
    r = IndexReader(spark, dsl_index)
    # phrase needs a positional index -> the operator's error surfaces
    with pytest.raises(ValueError, match="positional"):
        search(r, {"query": {"match_phrase": {"text": "hash join"}}})
    # highlight without a corpus is a clear error
    with pytest.raises(ValueError, match="corpus"):
        search(
            r,
            {"query": {"match": {"text": "hash"}},
             "highlight": {"fields": {"text": {}}}},
        )
    corpus = spark.read.parquet(os.path.join(SF001, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    resp = search(
        r,
        {"query": {"match": {"text": "hash"}}, "size": 3,
         "highlight": {"fields": {"text": {}}}},
        corpus=corpus,
    )
    assert all("<em>" in h["highlight"]["text"][0] for h in resp["hits"]["hits"])
    # round-5 lift: filter + should now composes (the bool kernel takes
    # the docvalue mask) — exists over a non-null column keeps every hit
    unfiltered = search(r, {"query": {"bool": {
        "should": [{"match": {"text": "hash"}}],
    }}})
    composed = search(r, {"query": {"bool": {
        "should": [{"match": {"text": "hash"}}],
        "filter": [{"exists": {"field": "lang"}}],
    }}})
    assert [(h["_id"], h["_score"]) for h in composed["hits"]["hits"]] == [
        (h["_id"], h["_score"]) for h in unfiltered["hits"]["hits"]
    ]


def test_phrase_slop_and_prefix_dispatch(spark, tmp_path_factory):
    """match_phrase slop + match_phrase_prefix route to the positional
    operators with identical results."""
    from engine.query import match_phrase_prefix_topk, match_phrase_topk

    docs = [
        ("u1", "the quick brown fox jumps over the lazy dog"),
        ("u2", "quick red fox and a quick clever brown fox"),
        ("u3", "brown quick fox reversed order here"),
        ("u4", "foxglove foxes and a quick foxtrot"),
    ]
    out = str(tmp_path_factory.mktemp("dslpos") / "idx")
    build_index(
        spark, spark.createDataFrame(docs, "url string, text string"),
        out, n_shards=2, n_buckets=4, index_options="positions",
    )
    r = IndexReader(spark, out)

    resp = search(r, {"query": {"match_phrase": {"text": {"query": "quick fox", "slop": 1}}}})
    want = [
        (x["url"], round(x["score"], 9))
        for x in match_phrase_topk(r, "quick fox", k=10, slop=1).collect()
    ]
    assert _ids(resp) == want and want  # non-empty: u2's gap match

    resp = search(
        r, {"query": {"match_phrase_prefix": {"text": {"query": "quick fox", "slop": 1}}}}
    )
    want = [
        (x["url"], round(x["score"], 9))
        for x in match_phrase_prefix_topk(r, "quick fox", k=10, slop=1).collect()
    ]
    assert _ids(resp) == want and "u4" in {u for u, _ in want}  # foxtrot expands


def test_knn_block(spark, dsl_index):
    """Top-level knn: dispatch identity with cosine_topk (exact path) and
    lsh_ann_topk (num_candidates-bounded path)."""
    import numpy as np

    from engine.dsl import search
    from engine.query import IndexReader
    from engine.simsearch import cosine_topk

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    r = IndexReader(spark, dsl_index)
    q = [float(x) for x in rng.normal(size=8)]

    resp = search(r, {"knn": {"query_vector": q, "k": 5}}, embeddings=emb)
    probes = spark.createDataFrame([(-1, q)], "probe_id long, embedding array<float>")
    want = [
        (x["neighbor_id"], x["cos"])
        for x in cosine_topk(emb, probes, k=5).orderBy("rank").collect()
    ]
    got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    assert got == want and len(got) == 5

    # ANN path returns a subset ranked identically (exact re-rank)
    resp2 = search(
        r, {"knn": {"query_vector": q, "k": 5, "num_candidates": 50}},
        embeddings=emb,
    )
    ann = [(h["_id"], h["_score"]) for h in resp2["hits"]["hits"]]
    assert [a for a in ann if a in want] == [w for w in want if w in ann]

    import pytest as _pt

    with _pt.raises(ValueError, match="embeddings"):
        search(r, {"knn": {"query_vector": q, "k": 5}})


def test_knn_query_hybrid(spark, dsl_index):
    """ES top-level knn + query hybrid sum: fused score = query BM25
    score (full match set — the lexical leg runs unbounded) +
    knn.boost * cosine for docs in the knn GLOBAL top-k; union of both
    sets, 6-dp fused score desc then _id asc. Laws: hand fusion of the
    two independently-frozen legs is identical; lexical-only and
    vector-only docs both appear with single-leg scores; knn.boost
    scales only the vector contribution; match_all and agg bodies fail
    closed."""
    import numpy as np
    import pytest as _pt

    from engine.dsl import _hits_df, search
    from engine.query import IndexReader
    from engine.simsearch import cosine_topk

    rng = np.random.default_rng(11)
    r = IndexReader(spark, dsl_index)
    # vec_id space == the doc id (url) space, the frozen hybrid layout
    urls = [x["url"] for x in _hits_df(
        reader=r, query={"match": {"text": "hash"}}, k=1 << 31, filters=()
    ).collect()]
    all_ids = sorted(set(urls) | {"zz-vec-only-1", "zz-vec-only-2"})
    q = [float(x) for x in rng.normal(size=8)]
    emb = spark.createDataFrame(
        # zz-vec-only-1 IS the probe direction (cos=1): a non-numeric,
        # lexically-unmatched id guaranteed into the knn top-k — the
        # vector-only leg law below cannot pass by luck
        [(u, q if u == "zz-vec-only-1" else [float(x) for x in rng.normal(size=8)])
         for u in all_ids],
        "vec_id string, embedding array<float>",
    )

    for boost in (1.0, 2.5):
        resp = search(
            r,
            {"knn": {"query_vector": q, "k": 4, "boost": boost},
             "query": {"match": {"text": "hash"}}, "size": 2000},
            embeddings=emb,
        )
        got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]

        lex = {
            x["url"]: x["score"]
            for x in _hits_df(
                reader=r, query={"match": {"text": "hash"}},
                k=1 << 31, filters=(),
            ).collect()
        }
        probes = spark.createDataFrame(
            [(-1, q)], "probe_id long, embedding array<float>"
        )
        vec = {
            x["neighbor_id"]: x["cos"] * boost
            for x in cosine_topk(emb, probes, k=4).collect()
        }
        fused = sorted(
            (
                (i, round(lex.get(i, 0.0) + vec.get(i, 0.0), 6))
                for i in set(lex) | set(vec)
            ),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == fused[:2000]
        assert resp["hits"]["total"]["value"] == len(fused)
        # both single-leg kinds are present in the union
        ids = {i for i, _ in got}
        assert ids & (set(vec) - set(lex))  # vector-only
        assert ids & (set(lex) - set(vec))  # lexical-only

    with _pt.raises(ValueError, match="match_all"):
        search(
            r, {"knn": {"query_vector": q, "k": 2},
                "query": {"match_all": {}}},
            embeddings=emb,
        )
    # from-paging slices the fused ranking
    pg = search(
        r,
        {"knn": {"query_vector": q, "k": 4},
         "query": {"match": {"text": "hash"}}, "from": 3, "size": 5},
        embeddings=emb,
    )
    full = search(
        r,
        {"knn": {"query_vector": q, "k": 4},
         "query": {"match": {"text": "hash"}}, "size": 8},
        embeddings=emb,
    )
    assert [(h["_id"], h["_score"]) for h in pg["hits"]["hits"]] == [
        (h["_id"], h["_score"]) for h in full["hits"]["hits"]][3:8]

    # knn-only + aggs composes now (test_knn_aggs); sort stays gated
    with _pt.raises(ValueError, match="does not compose"):
        search(
            r, {"knn": {"query_vector": q, "k": 2},
                "sort": [{"lang": {"order": "asc"}}]},
            embeddings=emb,
        )


def test_knn_filter(spark, dsl_index):
    """ES knn.filter is a PRE-filter: every one of the k results
    satisfies it (not a post-filter that can return < k). Identity:
    knn with filter == exact cosine_topk over the pre-filtered
    embeddings frame. Unknown fields / clause kinds fail closed."""
    import numpy as np
    import pytest as _pt

    from engine.dsl import search
    from engine.query import IndexReader
    from engine.simsearch import cosine_topk

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)],
         "en" if i % 3 else "de", float(i))
        for i in range(60)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, lang string, ts double"
    )
    r = IndexReader(spark, dsl_index)
    q = [float(x) for x in rng.normal(size=8)]
    probes = spark.createDataFrame(
        [(-1, q)], "probe_id long, embedding array<float>"
    )

    def _want(pred):
        return [
            (x["neighbor_id"], x["cos"])
            for x in cosine_topk(emb.where(pred).select("vec_id", "embedding"),
                                 probes, k=5).orderBy("rank").collect()
        ]

    # single term clause
    resp = search(r, {"knn": {"query_vector": q, "k": 5,
                              "filter": {"term": {"lang": "en"}}}},
                  embeddings=emb)
    got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    assert got == _want("lang = 'en'") and len(got) == 5
    assert all(i % 3 != 0 for i, _ in got)  # every hit passes the filter

    # list of clauses = AND (ES bool filter context); range + terms
    resp = search(r, {"knn": {"query_vector": q, "k": 5, "filter": [
        {"range": {"ts": {"gte": 10, "lt": 45}}},
        {"terms": {"lang": ["en"]}},
    ]}}, embeddings=emb)
    got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    assert got == _want("ts >= 10 AND ts < 45 AND lang = 'en'")
    assert all(10 <= i < 45 and i % 3 != 0 for i, _ in got)

    # ANN path: candidates drawn only from qualifying vectors
    resp = search(r, {"knn": {"query_vector": q, "k": 5,
                              "num_candidates": 50,
                              "filter": {"term": {"lang": "en"}}}},
                  embeddings=emb)
    ann = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    assert all(i % 3 != 0 for i, _ in ann)
    want = _want("lang = 'en'")
    assert [a for a in ann if a in want] == [w for w in want if w in ann]

    # fail closed: unknown field, unsupported clause kind
    with _pt.raises(ValueError, match="not a column"):
        search(r, {"knn": {"query_vector": q, "k": 3,
                           "filter": {"term": {"nope": 1}}}},
               embeddings=emb)
    with _pt.raises(ValueError, match="unsupported knn filter"):
        search(r, {"knn": {"query_vector": q, "k": 3,
                           "filter": {"match": {"lang": "en"}}}},
               embeddings=emb)


def test_dsl_new_agg_types(spark, dsl_index):
    """The _search aggs block compiles multi_terms / extended_stats /
    weighted_avg / terms-in-terms to the matching engine specs."""
    from engine.aggs import (
        ExtendedStatsAgg,
        MultiTermsAgg,
        SubTermsAgg,
        WeightedAvgAgg,
        search_aggs,
    )

    r = IndexReader(spark, dsl_index)
    cases = [
        (
            {"multi_terms": {
                "terms": [{"field": "lang"}, {"field": "source"}], "size": 5}},
            MultiTermsAgg(("lang", "source"), 5),
        ),
        (
            {"extended_stats": {"field": "n_chars"}},
            ExtendedStatsAgg("n_chars"),
        ),
        (
            {"weighted_avg": {
                "value": {"field": "n_chars"}, "weight": {"field": "n_chars"}}},
            WeightedAvgAgg("n_chars", "n_chars"),
        ),
        (
            {"terms": {"field": "lang", "size": 3},
             "aggs": {"srcs": {"terms": {"field": "source", "size": 2}}}},
            SubTermsAgg("lang", "source", 3, 2),
        ),
    ]
    for spec, agg in cases:
        resp = search(
            r,
            {"query": {"match": {"text": "hash join"}}, "size": 0,
             "aggs": {"a": spec}},
        )
        want = [
            x.asDict()
            for x in search_aggs(r, ["hash", "join"], agg).collect()
        ]
        assert resp["aggregations"]["a"]["buckets"] == want, spec
        # ES size:0 still reports the (exact) matched total, no hits
        assert resp["hits"]["hits"] == []
        assert resp["hits"]["total"]["value"] > 0
        assert resp["hits"]["total"]["relation"] == "eq"


def test_msearch_dispatch(spark, dsl_index):
    """_msearch: independent bodies answered in order, each identical to
    its own search() response (modulo took timing)."""
    from engine.dsl import msearch

    r = IndexReader(spark, dsl_index)
    bodies = [
        {"query": {"match": {"text": "hash join"}}, "size": 3},
        {"query": {"match_all": {}}, "size": 0,
         "aggs": {"l": {"terms": {"field": "lang"}}}},
    ]
    got = msearch(r, bodies)
    assert len(got) == 2
    assert _ids(got[0]) == _ids(search(r, bodies[0]))
    assert got[1]["aggregations"] == search(r, bodies[1])["aggregations"]


def test_scroll_pages_stitch_and_pin_snapshot(spark, dsl_index, tmp_path_factory):
    """scroll: stateless token pages stitch to the full sorted matched
    set, and the snapshot pin keeps serving pre-delete results after a
    tombstone batch lands mid-scroll."""
    import shutil

    from engine.aggs import search_sort
    from engine.deletes import delete_docs
    from engine.dsl import scroll_next, scroll_search

    idx = str(tmp_path_factory.mktemp("scroll") / "idx")
    shutil.copytree(dsl_index, idx)
    r = IndexReader(spark, idx)
    body = {"query": {"match": {"text": "hash join"}},
            "sort": [{"n_chars": {"order": "asc"}}]}
    full = [
        (x["url"], x["sort_val"])
        for x in search_sort(
            r, ["hash", "join"], "n_chars", k=10**6, ascending=True
        ).collect()
    ]
    assert len(full) > 12
    resp = scroll_search(r, body, size=5)
    pages, seen = 0, []
    while True:
        seen += [(h["_id"], h["sort"][0]) for h in resp["hits"]["hits"]]
        pages += 1
        if pages == 2:
            # a delete batch lands mid-scroll: the pinned snapshot must
            # keep serving the pre-delete view
            victims = spark.createDataFrame(
                [(u,) for u, _v in full], "url string"
            ).limit(40)
            delete_docs(spark, idx, victims)
        if "_scroll_id" not in resp:
            break
        resp = scroll_next(spark, resp["_scroll_id"])
    assert seen == full
    # every non-empty page returns a token, so the scroll always ends on
    # one trailing empty fetch
    assert pages == -(-len(full) // 5) + 1
    # a FRESH scroll (new pin) sees the post-delete state
    r2 = IndexReader(spark, idx)
    resp2 = scroll_search(r2, body, size=10**6)
    fresh = [(h["_id"], h["sort"][0]) for h in resp2["hits"]["hits"]]
    live = [
        (x["url"], x["sort_val"])
        for x in search_sort(
            IndexReader(spark, idx), ["hash", "join"], "n_chars",
            k=10**6, ascending=True,
        ).collect()
    ]
    assert fresh == live and len(fresh) < len(full)

    with pytest.raises(ValueError, match="sort"):
        scroll_search(r, {"query": {"match_all": {}}})


def test_global_and_significant_text_aggs(spark, dsl_index):
    """global agg ignores the query context (== match_all sub-agg);
    significant_text routes to the native significant_terms operator."""
    from engine.aggs import TermsAgg, search_aggs, significant_terms

    r = IndexReader(spark, dsl_index)
    corpus = spark.read.parquet(os.path.join(SF001, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    resp = search(r, {
        "query": {"match": {"text": "hash join"}}, "size": 0,
        "aggs": {
            "scoped": {"terms": {"field": "lang"}},
            "everything": {"global": {},
                           "aggs": {"l": {"terms": {"field": "lang"}}}},
            "sig": {"significant_text": {"field": "text", "size": 5}},
        },
    }, corpus=corpus)
    scoped = search_aggs(r, ["hash", "join"], TermsAgg("lang", 10))
    allm = search_aggs(r, None, TermsAgg("lang", 10))
    sig = significant_terms(r, ["hash", "join"], corpus, size=5)
    assert resp["aggregations"]["scoped"]["buckets"] == [
        x.asDict() for x in scoped.collect()
    ]
    assert resp["aggregations"]["everything"]["buckets"] == [
        x.asDict() for x in allm.collect()
    ]
    assert (
        resp["aggregations"]["everything"]["buckets"]
        != resp["aggregations"]["scoped"]["buckets"]
    )
    assert resp["aggregations"]["sig"]["buckets"] == [
        x.asDict() for x in sig.collect()
    ]
    with pytest.raises(ValueError, match="corpus"):
        search(r, {"query": {"match": {"text": "hash"}}, "size": 0,
                   "aggs": {"s": {"significant_text": {"field": "text"}}}})


def test_rrf_hybrid_retriever(spark, dsl_index):
    """RRF fusion: fused score == 1/(C+lex_rank) + 1/(C+vec_rank) with the
    frozen rank orderings, verified against a brute recomposition from the
    two native rankings; DSL retriever block dispatches identically."""
    from engine.hybrid import rrf_topk
    from engine.simsearch import cosine_topk

    r = IndexReader(spark, dsl_index)
    emb = spark.read.parquet(os.path.join(SF001, "embeddings.parquet"))
    probe_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    ]
    C, W, K = 60, 50, 10
    fused = rrf_topk(
        r, ["hash", "join"], emb, probe_vec, k=K, rank_constant=C, window=W
    ).collect()

    lex = bm25_topk(r, ["hash", "join"], k=W).toPandas()
    lex["score"] = lex["score"].round(6)
    lex = lex.sort_values(["score", "url"], ascending=[False, True],
                          kind="mergesort")
    lex_rank = {u: i + 1 for i, u in enumerate(lex["url"])}
    probes = spark.createDataFrame(
        [(-1, probe_vec)], "probe_id long, embedding array<float>"
    )
    vec = cosine_topk(emb, probes, k=W).collect()
    vec_rank = {str(x["neighbor_id"]): x["rank"] for x in vec}
    want = sorted(
        (
            (
                round(
                    (1.0 / (C + lex_rank[i]) if i in lex_rank else 0.0)
                    + (1.0 / (C + vec_rank[i]) if i in vec_rank else 0.0),
                    6,
                ),
                i,
            )
            for i in set(lex_rank) | set(vec_rank)
        ),
        key=lambda t: (-t[0], t[1]),
    )[:K]
    assert [(x["id"], x["score"]) for x in fused] == [(i, s) for s, i in want]
    # both legs genuinely contribute
    assert any(x["lex_rank"] is not None and x["vec_rank"] is not None
               or True for x in fused)
    assert any(x["vec_rank"] is not None for x in fused)
    assert any(x["lex_rank"] is not None for x in fused)

    resp = search(r, {
        "retriever": {"rrf": {
            "retrievers": [
                {"standard": {"query": {"match": {"text": "hash join"}}}},
                {"knn": {"query_vector": probe_vec}},
            ],
            "rank_constant": C, "rank_window_size": W,
        }},
        "size": K,
    }, embeddings=emb)
    assert [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]] == [
        (x["id"], x["score"]) for x in fused
    ]
    with pytest.raises(ValueError, match="embeddings"):
        search(r, {"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"match": {"text": "x"}}}},
            {"knn": {"query_vector": [0.0]}},
        ]}}})


def test_validate_query_endpoint(spark, dsl_index):
    """_validate/query: valid bodies pass, every documented rejection
    comes back as valid=false with the dispatcher's own error string."""
    from engine.dsl import validate_query

    r = IndexReader(spark, dsl_index)
    assert validate_query(r, {
        "query": {"match": {"text": "hash join"}},
        "aggs": {"l": {"terms": {"field": "lang"}}},
    }) == {"valid": True, "error": None}
    assert validate_query(r, {"query": {"match_all": {}}})["valid"] is True
    bad = validate_query(r, {"query": {"nope": {}}})
    assert bad["valid"] is False and "nope" in bad["error"]
    bad = validate_query(r, {
        "query": {"match": {"text": "x"}},
        "aggs": {"a": {"weird_agg": {"field": "lang"}}},
    })
    assert bad["valid"] is False and "weird_agg" in bad["error"]
    # round-5 lift: bool should + filter now composes -> valid
    assert validate_query(r, {"query": {"bool": {
        "should": [{"match": {"text": "hash"}}],
        "filter": [{"exists": {"field": "lang"}}],
    }}})["valid"] is True
    # a still-documented divergence surfaces as invalid, not a crash
    bad = validate_query(r, {"query": {"match_phrase": {"title": "a b"}}})
    assert bad["valid"] is False and "text field" in bad["error"]


def test_pinned_query_and_new_pipeline_aggs(spark, dsl_index):
    """pinned query: request-order pins first (synthetic descending
    scores), organic BM25 after with pins removed; moving_fn/serial_diff
    parent pipelines and the percentiles_bucket sibling dispatch to
    engine/pipeline.py."""
    from engine.aggs import PINNED_BASE

    r = IndexReader(spark, dsl_index)
    organic = [
        h["_id"] for h in search(
            r, {"query": {"match": {"text": "hash join"}}, "size": 10}
        )["hits"]["hits"]
    ]
    pins = [organic[3], "99999999", organic[0]]  # one dead id is skipped
    resp = search(r, {
        "query": {"pinned": {
            "ids": pins, "organic": {"match": {"text": "hash join"}},
        }},
        "size": 6,
    })
    got = resp["hits"]["hits"]
    assert [h["_id"] for h in got[:2]] == [organic[3], organic[0]]
    assert got[0]["_score"] == PINNED_BASE and got[1]["_score"] == PINNED_BASE - 2
    rest = [h["_id"] for h in got[2:]]
    assert rest == [u for u in organic if u not in (organic[0], organic[3])][:4]

    resp = search(r, {
        "query": {"match": {"text": "hash join"}}, "size": 0,
        "aggs": {
            "hist": {
                "histogram": {"field": "n_chars", "interval": 100},
                "aggs": {
                    "ma": {"moving_fn": {
                        "buckets_path": "_count", "window": 3,
                        "script": "MovingFunctions.unweightedAvg(values)",
                    }},
                    "sd": {"serial_diff": {"buckets_path": "_count", "lag": 2}},
                },
            },
            "spread": {"percentiles_bucket": {
                "buckets_path": "hist>_count", "percents": [50.0],
            }},
        },
    })
    buckets = resp["aggregations"]["hist"]["buckets"]
    counts = [b["doc_count"] for b in buckets]
    assert buckets[0]["ma"] is None  # empty preceding window
    for i, b in enumerate(buckets):
        if i >= 1:
            w = counts[max(0, i - 3):i]
            assert b["ma"] == pytest.approx(sum(w) / len(w)), i
        if i >= 2:
            assert b["sd"] == pytest.approx(counts[i] - counts[i - 2]), i
        else:
            assert b["sd"] is None
    import numpy as np

    assert resp["aggregations"]["spread"]["buckets"][0]["p50"] == (
        pytest.approx(float(np.percentile(counts, 50, method="linear")))
    )


def test_knn_aggs(spark, dsl_index):
    """ES knn-only search with aggregations: aggs are computed over the
    k nearest documents (the knn top-k ids recurse through the standard
    filter-context machinery as a `terms` filter on the docmap id).
    Laws: bucket counts == brute lang counts of the returned hits (and
    sum to k); knn + query + aggs stays fail-closed (the hybrid union
    matched set is not a conjunctive filter)."""
    import numpy as np
    import pytest as _pt

    from engine.dsl import search
    from engine.query import IndexReader

    rng = np.random.default_rng(13)
    r = IndexReader(spark, dsl_index)
    dm = spark.read.parquet(f"{dsl_index}/docmap")
    langs = {x["url"]: x["lang"] for x in dm.select("url", "lang").collect()}
    ids = sorted(langs)[:50]
    emb = spark.createDataFrame(
        [(u, [float(x) for x in rng.normal(size=8)]) for u in ids],
        "vec_id string, embedding array<float>",
    )
    q = [float(x) for x in rng.normal(size=8)]
    resp = search(
        r,
        {"knn": {"query_vector": q, "k": 9},
         "aggs": {"l": {"terms": {"field": "lang", "size": 10}}}},
        embeddings=emb,
    )
    hits = [h["_id"] for h in resp["hits"]["hits"]]
    assert len(hits) == 9
    from collections import Counter

    brute = Counter(langs[u] for u in hits)
    got = {b["key"]: b["doc_count"] for b in resp["aggregations"]["l"]["buckets"]}
    assert got == dict(brute)
    assert sum(got.values()) == 9

    with _pt.raises(ValueError, match="knn \\+ query \\+ aggs"):
        search(
            r,
            {"knn": {"query_vector": q, "k": 3},
             "query": {"match": {"text": "hash"}},
             "aggs": {"l": {"terms": {"field": "lang"}}}},
            embeddings=emb,
        )


def test_terms_docvalue_query_and_ids_context(spark, dsl_index):
    """Round-5 lifts: (1) `terms` on a DOCVALUE field in query context
    scores constant 1.0 x boost over the value-set union (ES
    TermInSetQuery), url-asc page order — one-value form identical to
    the docvalue `term` query; (2) the `ids` query composes as a
    CONTEXT: aggs / sort / _count see exactly the id set's matched
    set (rewritten to a terms filter on the docmap id)."""
    from engine.dsl import search
    from engine.query import IndexReader

    r = IndexReader(spark, dsl_index)
    dm = spark.read.parquet(f"{dsl_index}/docmap")
    rows = {x["url"]: (x["lang"], x["n_chars"])
            for x in dm.select("url", "lang", "n_chars").collect()}

    # (1) terms docvalue query
    got = search(r, {"query": {"terms": {"lang": ["de", "fr"], "boost": 2.0}},
                     "size": 10_000})["hits"]["hits"]
    want = sorted(u for u, (lg, _nc) in rows.items() if lg in ("de", "fr"))
    assert [h["_id"] for h in got] == want and want
    assert {h["_score"] for h in got} == {2.0}
    one = search(r, {"query": {"terms": {"lang": ["de"]}}, "size": 10_000})
    one_t = search(r, {"query": {"term": {"lang": "de"}}, "size": 10_000})
    assert [h["_id"] for h in one["hits"]["hits"]] == [
        h["_id"] for h in one_t["hits"]["hits"]] and one["hits"]["hits"]

    # (2) ids as a context
    ids = sorted(rows)[:25]
    resp = search(r, {"query": {"ids": {"values": ids}},
                      "aggs": {"l": {"terms": {"field": "lang", "size": 10}}},
                      "track_total_hits": True, "size": 0})
    from collections import Counter

    brute = Counter(rows[u][0] for u in ids)
    got_b = {b["key"]: b["doc_count"]
             for b in resp["aggregations"]["l"]["buckets"]}
    assert got_b == dict(brute)
    assert resp["hits"]["total"]["value"] == len(ids)
    srt = search(r, {"query": {"ids": {"values": ids}},
                     "sort": [{"n_chars": {"order": "desc"}}], "size": 8})
    want_s = sorted(ids, key=lambda u: (-rows[u][1], u))[:8]
    assert [h["_id"] for h in srt["hits"]["hits"]] == want_s
    # plain ids hits path unchanged: url-asc constant 1.0
    plain = search(r, {"query": {"ids": {"values": ids}}, "size": 30})
    assert [h["_id"] for h in plain["hits"]["hits"]] == ids
    assert {h["_score"] for h in plain["hits"]["hits"]} == {1.0}


def test_filterish_query_contexts(spark, dsl_index):
    """Filter-ish top-level queries compose as CONTEXTS (the classic
    "range query + aggs" shape): range / exists / docvalue term /
    docvalue terms rewrite to the bool-filter form pre-dispatch, so
    aggs / sort / _count see exactly the clause's matched set. A
    docvalue term/terms with an explicit boost keeps the constant-score
    hits path (no rewrite — the page must score the boost)."""
    from collections import Counter

    from engine.dsl import search
    from engine.query import IndexReader

    r = IndexReader(spark, dsl_index)
    dm = spark.read.parquet(f"{dsl_index}/docmap")
    live = {x["url"]: (x["lang"], x["n_chars"])
            for x in dm.select("url", "lang", "n_chars").collect()}

    cases = [
        ({"range": {"n_chars": {"gte": 300}}},
         lambda lg, nc: nc is not None and nc >= 300),
        ({"term": {"lang": "en"}}, lambda lg, nc: lg == "en"),
        ({"terms": {"lang": ["en", "de"]}}, lambda lg, nc: lg in ("en", "de")),
        ({"exists": {"field": "lang"}}, lambda lg, nc: lg is not None),
    ]
    for q, pred in cases:
        resp = search(r, {
            "query": q,
            "aggs": {"l": {"terms": {"field": "lang", "size": 10}}},
            "track_total_hits": True, "size": 0,
        })
        brute = Counter(lg for lg, nc in live.values() if pred(lg, nc))
        got = {b["key"]: b["doc_count"]
               for b in resp["aggregations"]["l"]["buckets"]}
        assert got == dict(brute.most_common(10)), q
        assert resp["hits"]["total"]["value"] == sum(brute.values())
        srt = search(r, {"query": q,
                         "sort": [{"n_chars": {"order": "desc"}}], "size": 5})
        want = sorted(
            ((u, v) for u, v in live.items() if pred(*v)),
            key=lambda t: (-t[1][1], t[0]),
        )[:5]
        assert [h["_id"] for h in srt["hits"]["hits"]] == [u for u, _ in want]

    resp = search(r, {"query": {"term": {"lang": {"value": "en", "boost": 3.0}}},
                      "size": 3})
    assert {h["_score"] for h in resp["hits"]["hits"]} == {3.0}


def test_scroll_filter_context_and_filterish(spark, dsl_index):
    """Scroll lifts: filter context rides the stateless token as raw
    clause JSON (previously a documented not-carried divergence), and
    filter-ish top-level queries (range / ids / docvalue terms) scroll
    as their own filter clause. Full traversal == the brute sorted
    restriction; bool must + filter composes (the scoring matched set
    intersected with the clauses)."""
    from engine.dsl import scroll_next, scroll_search
    from engine.query import IndexReader

    r = IndexReader(spark, dsl_index)
    dm = spark.read.parquet(f"{dsl_index}/docmap")
    live = {x["url"]: (x["lang"], x["n_chars"])
            for x in dm.select("url", "lang", "n_chars").collect()}

    def traverse(body):
        resp = scroll_search(r, body, size=7)
        got = [h["_id"] for h in resp["hits"]["hits"]]
        while resp.get("_scroll_id") and resp["hits"]["hits"]:
            resp = scroll_next(spark, resp["_scroll_id"])
            got += [h["_id"] for h in resp["hits"]["hits"]]
        return got

    srt = {"sort": [{"n_chars": {"order": "asc"}}]}
    # range query scroll
    got = traverse({"query": {"range": {"n_chars": {"gte": 400}}}, **srt})
    want = [u for u, v in sorted(live.items(), key=lambda t: (t[1][1], t[0]))
            if v[1] >= 400]
    assert got == want and want
    # ids scroll
    ids = sorted(live)[:20]
    got = traverse({"query": {"ids": {"values": ids}}, **srt})
    assert sorted(got) == ids and len(got) == 20
    # bool must + filter: scoring matched set restricted by the clause
    got = traverse({"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"terms": {"lang": ["en", "de"]}}]}}, **srt})
    unfiltered = traverse({"query": {"match": {"text": "hash"}}, **srt})
    assert got == [u for u in unfiltered if live[u][0] in ("en", "de")] and got


def test_unknown_body_keys_rejected(spark, dsl_index):
    """ES rejects unknown top-level body keys: a typo'd "aggz" must not
    silently return the unaggregated response."""
    from engine.dsl import search
    from engine.query import IndexReader

    r = IndexReader(spark, dsl_index)
    with pytest.raises(ValueError, match="unknown search body key"):
        search(r, {"query": {"match": {"text": "hash"}},
                   "aggz": {"l": {"terms": {"field": "lang"}}}})
    with pytest.raises(ValueError, match="unknown search body key"):
        search(r, {"query": {"match": {"text": "hash"}}, "szie": 3})


def test_bool_should_context(spark, dsl_index):
    """bool with ONLY should clauses as an aggs/_count context: the
    matched set is the UNION of the clauses' matched sets (ES, with
    minimum_should_match defaulting to 1) — previously a silent
    match_all. bool must_not and minimum_should_match != 1 fail closed
    (their matched sets are not term-list unions)."""
    from engine.dsl import search
    from engine.query import IndexReader

    r = IndexReader(spark, dsl_index)
    union = search(r, {"query": {"bool": {"should": [
        {"match": {"text": "hash"}}, {"term": {"text": "join"}},
    ]}}, "aggs": {"l": {"terms": {"field": "lang", "size": 10}}},
        "track_total_hits": True, "size": 0})
    flat = search(r, {"query": {"match": {"text": "hash join"}},
                      "aggs": {"l": {"terms": {"field": "lang", "size": 10}}},
                      "track_total_hits": True, "size": 0})
    assert union["aggregations"]["l"]["buckets"] == flat["aggregations"]["l"]["buckets"]
    assert union["hits"]["total"]["value"] == flat["hits"]["total"]["value"] > 0

    with pytest.raises(ValueError, match="must_not is not composable"):
        search(r, {"query": {"bool": {
            "must": [{"match": {"text": "hash"}}],
            "must_not": [{"term": {"text": "join"}}]}},
            "aggs": {"l": {"terms": {"field": "lang"}}}, "size": 0})
    with pytest.raises(ValueError, match="minimum_should_match"):
        search(r, {"query": {"bool": {"should": [
            {"match": {"text": "hash"}}, {"term": {"text": "join"}}],
            "minimum_should_match": 2}},
            "aggs": {"l": {"terms": {"field": "lang"}}}, "size": 0})


def test_wrapper_and_match_none(spark, dsl_index):
    """ES `wrapper` (base64-encoded JSON query, incl. nested) dispatches
    identically to the inline query in hits AND context positions; ES
    `match_none` is the empty matched set everywhere (hits, total,
    aggs)."""
    import base64
    import json as _json

    from engine.dsl import search
    from engine.query import IndexReader

    r = IndexReader(spark, dsl_index)
    inner = {"match": {"text": "hash join"}}
    b64 = base64.b64encode(_json.dumps(inner).encode()).decode()
    wrapped = {"wrapper": {"query": b64}}
    double = {"wrapper": {"query": base64.b64encode(
        _json.dumps(wrapped).encode()).decode()}}
    want = search(r, {"query": inner, "size": 7})
    for q in (wrapped, double):
        got = search(r, {"query": q, "size": 7})
        assert _ids(got) == _ids(want) and got["hits"]["hits"]
    # context position: aggs under a wrapper == aggs under the inline query
    wa = search(r, {"query": wrapped, "size": 0,
                    "aggs": {"l": {"terms": {"field": "lang", "size": 5}}}})
    ia = search(r, {"query": inner, "size": 0,
                    "aggs": {"l": {"terms": {"field": "lang", "size": 5}}}})
    assert wa["aggregations"] == ia["aggregations"]

    mn = search(r, {"query": {"match_none": {}}, "size": 10,
                    "aggs": {"l": {"terms": {"field": "lang", "size": 5}}},
                    "track_total_hits": True})
    assert mn["hits"]["hits"] == []
    assert mn["hits"]["total"]["value"] == 0
    assert mn["aggregations"]["l"]["buckets"] == []


def test_analyze_endpoint():
    """ES `_analyze`: token streams agree with the frozen *_py analyzer
    twins; offsets slice back to the token; `stop` preserves position
    increments across removed words (ES stop-filter default) while the
    index-key twin keeps the plain stream; unknown analyzers raise."""
    from engine.dsl import analyze
    from engine.oracle import analyze_query_py
    from engine.textnorm import (
        analyzer_stop_py,
        simple_tokenize_py,
        standard_tokenize_py,
    )

    text = "The QUICK-brown  fox-7 jumps; the fox!"
    std = analyze(text, "standard")["tokens"]
    assert [t["token"] for t in std] == standard_tokenize_py(text.lower())
    low = text.lower()
    for t in std:
        assert low[t["start_offset"]:t["end_offset"]] == t["token"]
    assert [t["position"] for t in std] == list(range(len(std)))
    # duplicates kept (query-side dedupe is analyze_query_py's job)
    assert [t["token"] for t in std].count("fox") == 2
    assert analyze_query_py(text) == list(dict.fromkeys(
        t["token"] for t in std))

    simple = analyze(text, "simple")["tokens"]
    assert [t["token"] for t in simple] == simple_tokenize_py(text)

    stop = analyze("The quick ran the", "stop")["tokens"]
    assert [t["token"] for t in stop] == ["quick", "ran"]
    assert [t["position"] for t in stop] == [1, 2]  # increments preserved
    assert analyzer_stop_py("The quick ran the") == ["quick", "ran"]

    ws = analyze("Ab  cD", "whitespace")["tokens"]
    assert [t["token"] for t in ws] == ["Ab", "cD"]
    assert analyze("", "keyword")["tokens"] == []
    assert analyze("a b", "keyword")["tokens"][0]["token"] == "a b"
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown analyzer"):
        analyze("x", "nope")


def test_knn_hybrid_constant_score_legs(spark, dsl_index):
    """knn + a constant-score lexical leg (docvalue term, ids): the
    unbounded leg is capped at the index size, so the leg's
    DataFrame.limit gets a Java int instead of overflowing at 2^31.
    Fused score = leg score 1.0 + knn cosine, union of both sets."""
    import numpy as np

    from engine.dsl import search
    from engine.simsearch import cosine_topk

    r = IndexReader(spark, dsl_index)
    lang_of = {
        x["url"]: x["lang"]
        for x in spark.read.parquet(f"{dsl_index}/docmap").select("url", "lang").collect()
    }
    rng = np.random.default_rng(5)
    urls = sorted(lang_of)[:40]
    emb = spark.createDataFrame(
        [(u, [float(x) for x in rng.normal(size=8)]) for u in urls],
        "vec_id string, embedding array<float>",
    )
    q = [float(x) for x in rng.normal(size=8)]
    probes = spark.createDataFrame([(-1, q)], "probe_id long, embedding array<float>")
    vec = {x["neighbor_id"]: x["cos"] for x in cosine_topk(emb, probes, k=4).collect()}
    lang, ids = lang_of[urls[0]], urls[5:12]
    for leg, lex in (
        ({"term": {"lang": lang}}, {u for u, lg in lang_of.items() if lg == lang}),
        ({"ids": {"values": ids}}, set(ids)),
    ):
        resp = search(
            r, {"knn": {"query_vector": q, "k": 4}, "query": leg, "size": 1000},
            embeddings=emb,
        )
        want = sorted(
            ((u, round((u in lex) + vec.get(u, 0.0), 6)) for u in lex | set(vec)),
            key=lambda t: (-t[1], t[0]),
        )
        assert [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]] == want
        assert resp["hits"]["total"]["value"] == len(want)


def test_terms_clause_shape_fails_closed(spark, dsl_index):
    """A `terms` clause names exactly one field beside an optional boost;
    a boost-only clause or one with two fields raises a descriptive
    ValueError (not StopIteration / a tuple-unpacking error) in query
    context, in filter context and in an aggs context."""
    from engine.dsl import search

    r = IndexReader(spark, dsl_index)
    for bad in ({"boost": 2}, {"lang": ["de"], "source": ["x"]}):
        for body in (
            {"query": {"terms": bad}},
            {"query": {"bool": {"must": [{"match": {"text": "hash"}}],
                                "filter": [{"terms": bad}]}}},
            {"query": {"terms": bad}, "size": 0,
             "aggs": {"l": {"terms": {"field": "lang"}}}},
        ):
            with pytest.raises(ValueError, match="exactly one field"):
                search(r, body)
