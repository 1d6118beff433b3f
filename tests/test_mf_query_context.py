"""multi_match / combined_fields as a QUERY CONTEXT (aggs / sort /
_count / track_total_hits) — the round-5 composition lift.

ES semantics under test: a multi-field query in the `query` slot of a
body whose work is a matched SET (terms agg, field sort, _count) must
restrict that work to exactly the docs the scoring query would match:

- field-centric (best_fields / most_fields): a doc matches when ANY
  field holds >= req of the analyzed terms (req = all under
  operator=and, else minimum_should_match or 1);
- term-centric (cross_fields / combined_fields): a term matches when
  ANY field holds it; the doc matches when >= req terms do.

Correctness judge: a brute-force python matched-set oracle over the raw
rows, composed with pandas-side agg/sort replication. The engine path is
engine.query.multifield_matcher feeding the src= hook of
engine.aggs.search_aggs / search_sort / search_count / matched_urls
(per-shard matched set next to the postings, never collected).
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from engine.index_build import build_index
from engine.query import IndexReader, multifield_matcher
from engine.textnorm import standard_tokenize_py

VOCAB = [
    "web", "page", "search", "index", "spark", "query", "term", "data",
    "crawl", "text", "rank", "score", "title", "body", "engine", "open",
]


def _toks(s):
    return standard_tokenize_py((s or "").lower())


@pytest.fixture(scope="module")
def ctx_index(spark, tmp_path_factory):
    rng = random.Random(11)
    rows = []
    for i in range(150):
        text = " ".join(rng.choices(VOCAB, k=rng.randint(5, 30)))
        title = " ".join(rng.choices(VOCAB, k=rng.randint(1, 5)))
        if i % 17 == 0:
            title = None
        rows.append((f"u{i:04d}", text, title, "enfrde"[2 * (i % 3):2 * (i % 3) + 2]))
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "url string, text string, title string, lang string"
    ).withColumn("n_chars", F.length("text"))
    out = str(tmp_path_factory.mktemp("mfctx") / "idx")
    build_index(
        spark, df, out, n_shards=2, n_buckets=4, bucket_chunk=2,
        text_fields=["text", "title"], docvalue_cols=["lang", "n_chars"],
        index_options="positions",
    )
    return out, rows


def _matched(rows, mtype, q, op="or", msm=None):
    """Brute-force matched set per the ES multi_match matching laws."""
    terms = _toks(q)
    req = len(terms) if op == "and" else (msm or 1)
    got = set()
    for u, t, ti, _ in rows:
        per = {"text": Counter(_toks(t)), "title": Counter(_toks(ti))}
        if mtype in ("best_fields", "most_fields"):
            if any(sum(1 for w in terms if per[f][w]) >= req for f in per):
                got.add(u)
        else:
            n = sum(1 for w in terms if any(per[f][w] for f in per))
            if n >= req:
                got.add(u)
    return got


def _body(mtype, q, op="or", msm=None):
    key = "combined_fields" if mtype == "combined_fields" else "multi_match"
    mm = {"query": q, "fields": ["text", "title"], "operator": op}
    if mtype != "combined_fields":
        mm["type"] = mtype
    if msm is not None:
        mm["minimum_should_match"] = msm
    return {key: mm}


CASES = [("web search", "or", None), ("web search", "and", None),
         ("web search rank", "or", 2)]


@pytest.mark.parametrize(
    "mtype", ["best_fields", "most_fields", "cross_fields", "combined_fields"]
)
def test_count_aggs_sort_vs_oracle(spark, ctx_index, mtype):
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    for q, op, msm in CASES:
        exp = _matched(rows, mtype, q, op, msm)
        body = {"query": _body(mtype, q, op, msm)}
        # _count via track_total_hits at size 0
        r = search(reader, {**body, "size": 0, "track_total_hits": True})
        assert r["hits"]["total"] == {"value": len(exp), "relation": "eq"}
        # terms agg on a docvalue, restricted to the matched set
        r2 = search(reader, {**body, "size": 0,
                             "aggs": {"l": {"terms": {"field": "lang"}}}})
        got_b = {b["key"]: b["doc_count"] for b in r2["aggregations"]["l"]["buckets"]}
        lang = {u: l for u, _, _, l in rows}
        assert got_b == dict(Counter(lang[u] for u in exp))
        # field sort over the matched set (url is the ES-style tiebreak)
        r3 = search(reader, {**body, "size": 7, "sort": [{"lang": "asc"}]})
        ids = [h["_id"] for h in r3["hits"]["hits"]]
        assert ids == sorted(exp, key=lambda u: (lang[u], u))[:7]


def test_search_after_pages_through(spark, ctx_index):
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    exp = _matched(rows, "best_fields", "web search")
    lang = {u: l for u, _, _, l in rows}
    want = sorted(exp, key=lambda u: (lang[u], u))
    body = {"query": _body("best_fields", "web search"),
            "sort": [{"lang": "asc"}], "size": 40}
    got, after = [], None
    while True:
        b = dict(body, **({"search_after": after} if after else {}))
        hits = search(reader, b)["hits"]["hits"]
        if not hits:
            break
        got += [h["_id"] for h in hits]
        after = hits[-1]["sort"]
    assert got == want


def test_bool_filter_composes(spark, ctx_index):
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    lang = {u: l for u, _, _, l in rows}
    exp = {u for u in _matched(rows, "cross_fields", "web search")
           if lang[u] == "en"}
    r = search(reader, {
        "query": {"bool": {
            "must": [_body("cross_fields", "web search")],
            "filter": [{"term": {"lang": "en"}}],
        }},
        "size": 0, "track_total_hits": True,
        "aggs": {"l": {"terms": {"field": "lang"}}},
    })
    assert r["hits"]["total"]["value"] == len(exp)
    assert r["aggregations"]["l"]["buckets"] == [
        {"key": "en", "doc_count": len(exp)}
    ]


@pytest.mark.parametrize("execution", ["local", "spark"])
def test_local_and_spark_paths_identical(spark, ctx_index, execution):
    """src.local() and src.df() must produce the same matched set (the
    same per-shard matcher runs over rows from either transport)."""
    from engine.aggs import matched_urls

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    exp = _matched(rows, "most_fields", "web search rank", msm=2)
    src, matcher = multifield_matcher(
        reader, ["text", "title"], "web search rank",
        mtype="most_fields", minimum_should_match=2,
    )
    got = matched_urls(
        reader, [], execution=execution, matcher=matcher, src=src,
    )
    assert {r["url"] for r in got.collect()} == exp


def test_dead_everywhere_and_unsatisfiable(spark, ctx_index):
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    # no analyzed term lives in either field -> matcher is None -> empty
    assert multifield_matcher(
        reader, ["text", "title"], "zzzz qqqq", mtype="best_fields"
    ) is None
    r = search(reader, {"query": _body("best_fields", "zzzz qqqq"),
                        "size": 0, "track_total_hits": True,
                        "aggs": {"l": {"terms": {"field": "lang"}}}})
    assert r["hits"]["total"]["value"] == 0
    assert r["aggregations"]["l"]["buckets"] == []
    # msm above the FULL analyzed term count is unsatisfiable (Lucene
    # does not clamp msm to the live-clause count)
    r2 = search(reader, {"query": _body("best_fields", "web search", msm=3),
                         "size": 0, "track_total_hits": True})
    assert r2["hits"]["total"]["value"] == 0
    # a dead term still raises the bar under operator=and
    r3 = search(reader, {"query": _body("cross_fields", "web zzzz", "and"),
                         "size": 0, "track_total_hits": True})
    assert r3["hits"]["total"]["value"] == 0


def test_top_metrics_under_multifield(spark, ctx_index):
    """top_metrics composes with a multi-field query context: the metric
    docvalue of THE top matched doc by the sort docvalue (search_sort
    k=1 over the matcher's matched set)."""
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    exp = _matched(rows, "best_fields", "web search", "and")
    lang = {u: l for u, _, _, l in rows}
    nch = {u: len(t) for u, t, _, _ in rows}
    top = min(exp, key=lambda u: (nch[u], u))
    r = search(reader, {
        "query": _body("best_fields", "web search", "and"), "size": 0,
        "aggs": {"tm": {"top_metrics": {
            "metrics": {"field": "lang"}, "sort": [{"n_chars": "asc"}],
        }}},
    })
    (b,) = r["aggregations"]["tm"]["buckets"]
    assert (b["url"], b["sort_val"], b["metric"]) == (top, nch[top], lang[top])


def test_top_metrics_under_phrase(spark, ctx_index):
    """top_metrics composes with a match_phrase query context (the
    positional matcher path, needs_pos=True)."""
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    exp = {
        u for u, t, _, _ in rows
        if any(t.split()[i:i + 2] == ["web", "search"]
               for i in range(len(t.split()) - 1))
    }
    assert exp, "weak corpus — phrase matched nothing"
    nch = {u: len(t) for u, t, _, _ in rows}
    top = min(exp, key=lambda u: (nch[u], u))
    r = search(reader, {
        "query": {"match_phrase": {"text": "web search"}}, "size": 0,
        "aggs": {"tm": {"top_metrics": {
            "metrics": {"field": "n_chars"}, "sort": [{"n_chars": "asc"}],
        }}},
    })
    (b,) = r["aggregations"]["tm"]["buckets"]
    assert (b["url"], b["metric"]) == (top, nch[top])


def test_significant_text_under_multifield(spark, ctx_index):
    """significant_text composes with a multi-field query context:
    foreground = the multi_match matched set, background df from the
    index; brute JLH twin recomputed from rows."""
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    corpus = spark.createDataFrame(
        rows, "url string, text string, title string, lang string"
    )
    r = search(reader, {
        "query": _body("cross_fields", "web search", "and"), "size": 0,
        "aggs": {"sig": {"significant_text": {"field": "text", "size": 5}}},
    }, corpus=corpus)
    fg = [t for u, t, _, _ in rows if u in _matched(rows, "cross_fields", "web search", "and")]
    n_fg, n_docs = len(fg), len(rows)
    assert n_fg, "weak corpus"
    fg_df: dict = {}
    for t in fg:
        for w in set(t.split()):
            fg_df[w] = fg_df.get(w, 0) + 1
    bg_df: dict = {}
    for _, t, _, _ in rows:
        for w in set(t.split()):
            bg_df[w] = bg_df.get(w, 0) + 1
    want = []
    for w, c in fg_df.items():
        fr, br = c / n_fg, bg_df[w] / n_docs
        sc = (fr - br) * (fr / br)
        if sc > 0:
            want.append((w, c, bg_df[w], round(sc, 6)))
    want.sort(key=lambda x: (-x[3], x[0]))
    got = [(b["term"], b["doc_count"], b["bg_count"], b["score"])
           for b in r["aggregations"]["sig"]["buckets"]]
    assert got == want[:5]


def _phrase_hits(s, words):
    toks = _toks(s)
    return any(
        toks[i:i + len(words)] == words for i in range(len(toks) - len(words) + 1)
    )


def test_mm_phrase_as_context(spark, ctx_index):
    """multi_match type=phrase as a query context: ES scores it as a
    dis_max of per-field match_phrase, so the matched set is the UNION
    of the fields' phrase-matching docs — count/aggs/sort restrict to
    exactly that set."""
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    words = ["web", "search"]
    exp = {
        u for u, t, ti, _ in rows
        if _phrase_hits(t, words) or _phrase_hits(ti or "", words)
    }
    assert exp, "weak corpus — phrase matched nothing"
    lang = {u: l for u, _, _, l in rows}
    body = {"query": {"multi_match": {
        "query": "web search", "fields": ["text", "title"], "type": "phrase",
    }}}
    r = search(reader, {**body, "size": 0, "track_total_hits": True,
                        "aggs": {"l": {"terms": {"field": "lang"}}}})
    assert r["hits"]["total"]["value"] == len(exp)
    got_b = {b["key"]: b["doc_count"] for b in r["aggregations"]["l"]["buckets"]}
    assert got_b == dict(Counter(lang[u] for u in exp))
    r2 = search(reader, {**body, "size": 6, "sort": [{"lang": "asc"}]})
    assert [h["_id"] for h in r2["hits"]["hits"]] == sorted(
        exp, key=lambda u: (lang[u], u)
    )[:6]
    # a phrase matching ONLY via the title field still counts (union law)
    only_title = {
        u for u, t, ti, _ in rows
        if _phrase_hits(ti or "", words) and not _phrase_hits(t, words)
    }
    if only_title:
        r3 = search(reader, {
            "query": {"multi_match": {"query": "web search",
                                      "fields": ["title"], "type": "phrase"}},
            "size": 0, "track_total_hits": True})
        assert r3["hits"]["total"]["value"] == len(
            {u for u, _, ti, _ in rows if _phrase_hits(ti or "", words)}
        )
    # dead-in-every-field phrase: empty set
    r4 = search(reader, {"query": {"multi_match": {
        "query": "web zzzznope", "fields": ["text", "title"],
        "type": "phrase"}}, "size": 0, "track_total_hits": True})
    assert r4["hits"]["total"]["value"] == 0


def test_scroll_over_multifield(spark, ctx_index):
    """Scroll pages through a multi-field matched set: the stateless
    token carries the multi_match spec and every page rebuilds the
    matcher against the pinned snapshot — full traversal equals the
    brute matched set in (sort_val, _id) order."""
    from engine.dsl import scroll_next, scroll_search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    lang = {u: l for u, _, _, l in rows}
    for body_q, mtype, kw in [
        (_body("most_fields", "web search rank", msm=2), "most_fields",
         {"msm": 2}),
        ({"multi_match": {"query": "web search",
                          "fields": ["text", "title"], "type": "phrase"}},
         None, {}),
    ]:
        if mtype:
            exp = _matched(rows, mtype, "web search rank", msm=kw["msm"])
        else:
            exp = {
                u for u, t, ti, _ in rows
                if _phrase_hits(t, ["web", "search"])
                or _phrase_hits(ti or "", ["web", "search"])
            }
        want = sorted(exp, key=lambda u: (lang[u], u))
        resp = scroll_search(
            reader, {"query": body_q, "sort": [{"lang": "asc"}]}, size=25
        )
        got = [h["_id"] for h in resp["hits"]["hits"]]
        while resp.get("_scroll_id") and resp["hits"]["hits"]:
            resp = scroll_next(spark, resp["_scroll_id"])
            got += [h["_id"] for h in resp["hits"]["hits"]]
        assert got == want
    # bool_prefix scroll (round-5 lift): union matched set — any head
    # term or any last-token prefix expansion, in any field
    exp_bp = {
        u for u, t, ti, _ in rows
        if any(w == "web" or w.startswith("s")
               for w in _toks(t) + _toks(ti))
    }
    want_bp = sorted(exp_bp, key=lambda u: (lang[u], u))
    resp = scroll_search(reader, {
        "query": {"multi_match": {"query": "web s",
                                  "fields": ["text", "title"],
                                  "type": "bool_prefix"}},
        "sort": [{"lang": "asc"}]}, size=40)
    got = [h["_id"] for h in resp["hits"]["hits"]]
    while resp.get("_scroll_id") and resp["hits"]["hits"]:
        resp = scroll_next(spark, resp["_scroll_id"])
        got += [h["_id"] for h in resp["hits"]["hits"]]
    assert got == want_bp


def test_guards(spark, ctx_index):
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    # phrase_prefix context (round-5 lift): union of per-field phrase-
    # prefix matches — head adjacency + per-field last-slot expansion
    def _pp_hits(s):
        w = _toks(s)
        return any(
            w[i] == "web" and w[i + 1].startswith("s")
            for i in range(len(w) - 1)
        )

    exp_pp = {u for u, t, ti, _ in rows if _pp_hits(t) or _pp_hits(ti)}
    resp = search(reader, {
        "query": {"multi_match": {"query": "web s",
                                  "fields": ["text", "title"],
                                  "type": "phrase_prefix"}},
        "size": 0, "track_total_hits": True,
        "aggs": {"l": {"terms": {"field": "lang"}}}})
    assert resp["hits"]["total"]["value"] == len(exp_pp)
    lang_of = {u: l for u, _, _, l in rows}
    want_counts = Counter(lang_of[u] for u in exp_pp)
    got_counts = {b["key"]: b["doc_count"]
                  for b in resp["aggregations"]["l"]["buckets"]}
    assert got_counts == dict(want_counts)
    # fuzziness context (round-5 lift): matched = any per-field fuzzy
    # expansion in any field
    def _lev1(a, b):
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        s, t = (a, b) if la < lb else (b, a)
        for i in range(len(t)):
            if t[:i] + t[i + 1:] == s:
                return True
        return False

    mmf = {"query": "web", "fields": ["text", "title"], "fuzziness": 1}
    exp_fz = {
        u for u, t, ti, _ in rows
        if any(_lev1(w, "web") for w in _toks(t) + _toks(ti))
    }
    resp = search(reader, {"query": {"multi_match": mmf}, "size": 0,
                           "track_total_hits": True})
    assert resp["hits"]["total"]["value"] == len(exp_fz)
    # cross_fields + fuzziness keeps the documented divergence gate
    with pytest.raises(ValueError, match="fuzziness context"):
        search(reader, {"query": {"multi_match": dict(
            mmf, type="cross_fields")}, "size": 0,
            "track_total_hits": True})
    # matcher-gated agg kinds fail closed under a multi-field query
    with pytest.raises(ValueError, match="not composed"):
        search(reader, {"query": _body("best_fields", "web search"), "size": 0,
                        "aggs": {"s": {"sampler": {"shard_size": 5},
                                       "aggs": {"l": {"terms": {"field": "lang"}}}}}})
    with pytest.raises(ValueError, match="not indexed"):
        multifield_matcher(reader, ["text", "nope"], "web")


def test_highlight_under_mm_phrase(spark, ctx_index):
    """highlight under a multi_match type=phrase page marks the analyzed
    query tokens (plain-highlighter behavior) instead of nothing."""
    from engine.dsl import search
    from pyspark.sql import functions as F

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    corpus = spark.createDataFrame(
        [(u, t) for u, t, _ti, _l in rows], "url string, text string"
    )
    resp = search(reader, {
        "query": {"multi_match": {"query": "web search",
                                  "fields": ["text", "title"],
                                  "type": "phrase"}},
        "size": 5, "highlight": {"fields": {"text": {}}},
    }, corpus=corpus)
    hits = resp["hits"]["hits"]
    assert hits, "weak corpus"
    marked = [h for h in hits if "highlight" in h]
    assert marked, "no fragments produced"
    assert any("<em>web</em>" in h["highlight"]["text"][0]
               or "<em>search</em>" in h["highlight"]["text"][0]
               for h in marked)


def _serve_bodies(rows) -> dict:
    """perfbench's 8 serve kinds on this index (lang / url filters, the
    title^2 multi_match, a bigram phrase from a real doc), plus the
    boosted phrase, 2-field phrase multi_match and cross-field dis_max
    shapes whose legs are blended in Python."""
    bigram = " ".join(rows[3][1].split()[:2])
    must = {"match": {"text": "search index rank"}}
    return {
        "match_or": {"match": {"text": "spark query"}},
        "match_and": {"match": {"text": {"query": "web page", "operator": "and"}}},
        "bool_lang": {"bool": {"must": [must], "filter": [{"term": {"lang": "fr"}}]}},
        "bool_range": {"bool": {"must": [must], "filter": [
            {"range": {"url": {"gte": "u0050", "lt": "u0100"}}}]}},
        "multi_match": {"multi_match": {"query": "rank score", "type": "best_fields",
                                        "fields": ["title^2", "text"]}},
        "match_phrase": {"match_phrase": {"text": bigram}},
        "prefix": {"prefix": {"text": "sea"}},
        "query_string": {"query_string": {"query": "crawl text", "default_field": "text"}},
        "boosted_phrase": {"match_phrase": {"text": {"query": bigram, "boost": 2.5}}},
        "mm_phrase": {"multi_match": {"query": bigram, "type": "phrase",
                                      "fields": ["title^2", "text"]}},
        "dis_max": {"dis_max": {"tie_breaker": 0.3, "queries": [
            {"match": {"text": "engine open"}}, {"match": {"title": "engine"}}]}},
    }


def _hit_pairs(resp) -> list:
    return [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]


@pytest.fixture(scope="module")
def serve_hits(spark, ctx_index):
    """Each serve body's public dsl.search hits, recorded unpatched."""
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    got = {
        kind: _hit_pairs(search(reader, {"query": q, "size": 10}))
        for kind, q in _serve_bodies(rows).items()
    }
    for kind, hits in got.items():
        assert hits, f"{kind}: no hits — weak test"
    return got


@pytest.mark.parametrize("path", ["local", "spark"])
def test_serve_hits_skip_the_dataframe_round_trip(spark, ctx_index, serve_hits,
                                                  monkeypatch, path):
    """Driver-local dsl.search serves its hits from the kernels' rows: with
    SparkSession.createDataFrame, DataFrame.collect and DataFrame.toPandas
    patched to raise, every serve body still returns the recorded hits.
    collect / toPandas are patched on the concrete frame class too
    (pyspark 4's classic DataFrame defines its own), so they fire.
    A Spark job count cannot see this round trip — a pandas
    createDataFrame is a local relation whose collect starts no job, on
    the DataFrame path as well — so the test forbids the calls instead.
    A rescore body must return the public rescore_topk frame's rows,
    collected before the patch. The "spark" leg forces the scatter onto
    Spark (a 0 postings gate, no patching) and must return the same hits."""
    from pyspark.sql import DataFrame, SparkSession

    from engine.dsl import search
    from engine.query import rescore_topk

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    bigram = " ".join(rows[3][1].split()[:2])
    rescore = {"query": {"match": {"text": "search index rank"}}, "size": 10,
               "rescore": {"window_size": 20,
                           "query": {"rescore_query": {"match_phrase": {"text": bigram}},
                                     "rescore_query_weight": 2.0}}}
    rescored = [(r["url"], r["score"]) for r in rescore_topk(
        reader.for_field("text"), "search index rank", bigram, k=10, window_size=20,
        rescore_weight=2.0).collect()]
    assert rescored
    if path == "local":
        def forbidden(*_a, **_k):
            raise AssertionError("DataFrame round trip on the serve path")

        frame_cls = type(spark.range(0))
        for cls, name in ((SparkSession, "createDataFrame"),
                          (DataFrame, "collect"), (DataFrame, "toPandas"),
                          (frame_cls, "collect"), (frame_cls, "toPandas")):
            monkeypatch.setattr(cls, name, forbidden)
    else:
        monkeypatch.setattr(IndexReader, "LOCAL_MAX_POSTINGS", 0)
    for kind, q in _serve_bodies(rows).items():
        assert _hit_pairs(search(reader, {"query": q, "size": 10})) == serve_hits[kind], kind
    assert _hit_pairs(search(reader, rescore)) == rescored


def test_leaf_boost_scales_result_rows(spark, ctx_index, serve_hits):
    """A leaf boost on match_phrase, prefix and match returns the unboosted
    hits with every score multiplied by the boost; boost <= 0 raises."""
    from engine.dsl import search

    out, rows = ctx_index
    reader = IndexReader(spark, out)
    bigram = " ".join(rows[3][1].split()[:2])
    for base, boosted in (
        ("match_phrase", {"match_phrase": {"text": {"query": bigram, "boost": 2.5}}}),
        ("prefix", {"prefix": {"text": {"value": "sea", "boost": 2.5}}}),
        ("match_or", {"match": {"text": {"query": "spark query", "boost": 2.5}}}),
    ):
        got = _hit_pairs(search(reader, {"query": boosted, "size": 10}))
        assert got == [(u, s * 2.5) for u, s in serve_hits[base]], base
    with pytest.raises(ValueError, match="boost must be > 0"):
        search(reader, {"query": {"prefix": {"text": {"value": "sea", "boost": 0}}}})
