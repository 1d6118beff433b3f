"""Round-5 general dis_max: the DSL's dis_max now follows ES
DisjunctionMaxQuery per-LEG semantics for every shape beyond the frozen
same-field all-term contract (which stays routed to the scoring-variant
blend, test_field_lift). Invariants judged here: cross-field and
mixed-kind legs blend max + tie_breaker * rest over FULL leg match sets
(exact for any tie_breaker), filter context rides every leg, and the
blend equals a hand-computed per-doc reference built from the
independently-tested single kernels."""

from __future__ import annotations

import pytest

from engine.dsl import _clause_filters, search
from engine.index_build import build_index
from engine.query import IndexReader

ROWS = [
    ("d1", "alpha beta gamma delta alpha", "red green blue alpha"),
    ("d2", "beta alpha delta", "green blue green alphax"),
    ("d3", "alpha beta beta gamma", "alpha beta red"),
    ("d4", "gamma delta delta", "red red green alpha beta"),
    ("d5", "alpha beta", "blue alpha beta green"),
    ("d6", "delta gamma alpha", "alpha green red blue"),
]


@pytest.fixture(scope="module")
def lift_index(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [(u, t, ti, len(t)) for u, t, ti in ROWS],
        "url string, text string, title string, nc long",
    )
    out = str(tmp_path_factory.mktemp("dmx") / "idx")
    build_index(
        spark, df, out, n_shards=2, n_buckets=4,
        text_fields=["text", "title"], index_options="positions",
        docvalue_cols=["nc"],
    )
    return out


def _ids(resp):
    return [h["_id"] for h in resp["hits"]["hits"]]


def _scores(resp):
    return [round(h["_score"], 9) for h in resp["hits"]["hits"]]


def _hand_blend(legs, tb, k):
    """Per-doc ES dis_max over full leg row-lists [(url, score), ...]."""
    by_doc: dict[str, list[float]] = {}
    for rows in legs:
        for u, s in rows:
            by_doc.setdefault(u, []).append(s)
    scored = [
        (u, max(ss) + tb * (sum(ss) - max(ss))) for u, ss in by_doc.items()
    ]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return (
        [u for u, _ in scored[:k]],
        [round(s, 9) for _, s in scored[:k]],
    )


def _rows(df):
    return [(r["url"], r["score"]) for r in df.collect()]


def test_cross_field_term_legs(spark, lift_index):  # noqa: F811
    from engine.query import bm25_topk

    r = IndexReader(spark, lift_index)
    rt = r.for_field("title")
    legs = [_rows(bm25_topk(r, ["alpha"], k=1 << 31)),
            _rows(bm25_topk(rt, ["red"], k=1 << 31))]
    for tb in (0.0, 0.3, 1.0):
        resp = search(r, {"query": {"dis_max": {
            "queries": [{"match": {"text": "alpha"}},
                        {"match": {"title": "red"}}],
            "tie_breaker": tb}}, "size": 10})
        wid, ws = _hand_blend(legs, tb, 10)
        assert _ids(resp) == wid and _scores(resp) == ws, tb


def test_mixed_kind_legs(spark, lift_index):  # noqa: F811
    from engine.query import bm25_topk, match_phrase_topk

    r = IndexReader(spark, lift_index)
    rt = r.for_field("title")
    legs = [_rows(bm25_topk(r, ["alpha", "beta"], k=1 << 31)),
            _rows(match_phrase_topk(rt, "alpha beta", k=1 << 31))]
    resp = search(r, {"query": {"dis_max": {
        "queries": [{"match": {"text": "alpha beta"}},
                    {"match_phrase": {"title": "alpha beta"}}],
        "tie_breaker": 0.4}}, "size": 10})
    wid, ws = _hand_blend(legs, 0.4, 10)
    assert _ids(resp) == wid and _scores(resp) == ws


def test_single_nonterm_leg_is_identity(spark, lift_index):  # noqa: F811
    from engine.query import match_phrase_topk

    r = IndexReader(spark, lift_index)
    rt = r.for_field("title")
    want = _rows(match_phrase_topk(rt, "alpha beta", k=10))
    resp = search(r, {"query": {"dis_max": {
        "queries": [{"match_phrase": {"title": "alpha beta"}}],
        "tie_breaker": 0.7}}, "size": 10})
    assert _ids(resp) == [u for u, _ in want]
    assert _scores(resp) == [round(s, 9) for _, s in want]


def test_filter_context_rides_every_leg(spark, lift_index):  # noqa: F811
    from engine.query import bm25_topk

    r = IndexReader(spark, lift_index)
    rt = r.for_field("title")
    filt = _clause_filters([{"range": {"nc": {"gte": 18}}}])
    legs = [_rows(bm25_topk(r, ["alpha"], k=1 << 31, filters=filt)),
            _rows(bm25_topk(rt, ["green"], k=1 << 31, filters=filt))]
    body = {"query": {"bool": {
        "must": [{"dis_max": {
            "queries": [{"match": {"text": "alpha"}},
                        {"match": {"title": "green"}}],
            "tie_breaker": 0.3}}],
        "filter": [{"range": {"nc": {"gte": 18}}}]}}, "size": 10}
    resp = search(r, body)
    wid, ws = _hand_blend(legs, 0.3, 10)
    assert _ids(resp) == wid and _scores(resp) == ws
    # restriction identity: the filtered page is exactly the unfiltered
    # blend restricted to filter-passing docs, scores untouched
    un = search(r, {"query": {"dis_max": {
        "queries": [{"match": {"text": "alpha"}},
                    {"match": {"title": "green"}}],
        "tie_breaker": 0.3}}, "size": 10})
    keep = set(wid)
    want = [(u, s) for u, s in zip(_ids(un), _scores(un)) if u in keep]
    assert list(zip(_ids(resp), _scores(resp))) == want


def test_match_all_leg_raises(spark, lift_index):  # noqa: F811
    r = IndexReader(spark, lift_index)
    with pytest.raises(ValueError, match="match_all"):
        search(r, {"query": {"dis_max": {"queries": [
            {"match_all": {}}, {"match": {"text": "alpha"}}]}}, "size": 5})


@pytest.mark.parametrize("leg", [
    {"term": {"nc": 16}},
    {"terms": {"nc": [16, 17]}},
    {"range": {"nc": {"gte": 10}}},
    {"exists": {"field": "nc"}},
    {"ids": {"values": ["d1"]}},
    {"constant_score": {"filter": {"range": {"nc": {"gte": 10}}}}},
    {"rank_feature": {"field": "nc", "saturation": {"pivot": 10}}},
    {"distance_feature": {"field": "nc", "origin": 10, "pivot": 5}},
    {"pinned": {"ids": ["d1"], "organic": {"match": {"text": "alpha"}}}},
], ids=lambda leg: next(iter(leg)))
def test_docvalue_leg_raises(spark, lift_index, leg):  # noqa: F811
    """A leg served by an aggs.py docmap kernel carries no doc_id to
    blend on (and the unbounded leg k overflowed DataFrame.limit into a
    Py4JError): the general dis_max rejects it by kind."""
    r = IndexReader(spark, lift_index)
    with pytest.raises(ValueError, match=f"{next(iter(leg))} leg"):
        search(r, {"query": {"dis_max": {"queries": [
            {"match": {"text": "alpha"}}, leg]}}, "size": 5})


def test_frozen_same_field_term_path_unchanged(spark, lift_index):  # noqa: F811
    from engine.query import bm25_dismax_topk

    r = IndexReader(spark, lift_index)
    rt = r.for_field("title")
    resp = search(r, {"query": {"dis_max": {
        "queries": [{"match": {"title": "red"}},
                    {"match": {"title": "blue"}}],
        "tie_breaker": 0.3}}, "size": 10})
    want = bm25_dismax_topk(rt, ["red", "blue"], k=10, tie_breaker=0.3)
    rows = want.collect()
    assert _ids(resp) == [x["url"] for x in rows]
    assert _scores(resp) == [round(x["score"], 9) for x in rows]


def test_mlt_multifield(spark, lift_index):  # noqa: F811
    """more_like_this over two fields: global (field, term) tf x idf
    selection (score desc, field asc, term asc) then per-field BM25
    bool-should SUM — hand-recomputed from the single kernels."""
    import math
    from collections import Counter

    from engine.query import IndexReader, bm25_topk

    r = IndexReader(spark, lift_index)
    rt = r.for_field("title")
    like = "alpha beta red red green"
    n_q = 4
    ltf = Counter(like.split())
    cands = []
    for name, view in (("text", r), ("title", rt)):
        stats = view.term_stats(list(ltf))
        n = float(view.n_docs)
        for t, c in ltf.items():
            if t in stats:
                idf = math.log(1.0 + (n - stats[t] + 0.5) / (stats[t] + 0.5))
                cands.append((c * idf, name, t))
    cands.sort(key=lambda x: (-x[0], x[1], x[2]))
    by_field: dict[str, list[str]] = {}
    for _, name, t in cands[:n_q]:
        by_field.setdefault(name, []).append(t)
    assert len(by_field) == 2, "selection should span both fields"
    by_doc: dict[str, float] = {}
    for name, terms in by_field.items():
        view = r if name == "text" else rt
        for x in bm25_topk(view, terms, k=1 << 31).collect():
            by_doc[x["url"]] = by_doc.get(x["url"], 0.0) + x["score"]
    want = sorted(by_doc.items(), key=lambda t: (-t[1], t[0]))[:10]

    resp = search(r, {"query": {"more_like_this": {
        "like": like, "fields": ["text", "title"],
        "max_query_terms": n_q}}, "size": 10})
    assert _ids(resp) == [u for u, _ in want]
    assert _scores(resp) == [round(s, 9) for _, s in want]

    with pytest.raises(ValueError, match="boost"):
        search(r, {"query": {"more_like_this": {
            "like": like, "fields": ["text", "title^2"]}}, "size": 10})


def test_single_field_fuzzy_and_mbp_contexts(spark, lift_index):  # noqa: F811
    """round-5 fix: match+fuzziness under aggs/_count uses the fuzzy
    EXPANSION's matched set (the exact-term path silently dropped it);
    match_bool_prefix composes as an OR-union context."""
    r = IndexReader(spark, lift_index)

    def _lev1(a, b):
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        s, t = (a, b) if la < lb else (b, a)
        return any(t[:i] + t[i + 1:] == s for i in range(len(t)))

    exp = {u for u, t, _ti in ROWS if any(_lev1(w, "alpa") for w in t.split())}
    resp = search(r, {"query": {"match": {"text": {
        "query": "alpa", "fuzziness": "AUTO"}}},
        "size": 0, "track_total_hits": True,
        "aggs": {"n": {"value_count": {"field": "nc"}}}})
    assert resp["hits"]["total"]["value"] == len(exp) > 0
    # bool-wrapped + filter composes too
    filt_exp = {u for u in exp
                if len(dict((x[0], x[1]) for x in ROWS)[u]) >= 18}
    resp = search(r, {"query": {"bool": {
        "must": [{"match": {"text": {"query": "alpa",
                                     "fuzziness": "AUTO"}}}],
        "filter": [{"range": {"nc": {"gte": 18}}}]}},
        "size": 0, "track_total_hits": True})
    assert resp["hits"]["total"]["value"] == len(filt_exp)

    exp_mbp = {
        u for u, _t, ti in ROWS
        if any(w == "red" or w.startswith("gr") for w in ti.split())
    }
    resp = search(r, {"query": {"match_bool_prefix": {"title": "red gr"}},
                      "size": 0, "track_total_hits": True})
    assert resp["hits"]["total"]["value"] == len(exp_mbp) > 0


def test_dismax_and_mlt_contexts(spark, lift_index):  # noqa: F811
    """round-5 lift: dis_max and more_like_this as query contexts — the
    matched set is the union of term-leg postings (per their fields);
    verified against brute token scans; non-term legs stay fail-closed."""
    r = IndexReader(spark, lift_index)
    # dis_max cross-field term legs
    exp = {u for u, t, ti in ROWS
           if "alpha" in t.split() or "red" in ti.split()}
    resp = search(r, {"query": {"dis_max": {"queries": [
        {"match": {"text": "alpha"}}, {"match": {"title": "red"}}]}},
        "size": 0, "track_total_hits": True,
        "aggs": {"n": {"terms": {"field": "nc", "size": 20}}}})
    assert resp["hits"]["total"]["value"] == len(exp) > 0
    assert sum(b["doc_count"]
               for b in resp["aggregations"]["n"]["buckets"]) == len(exp)
    with pytest.raises(ValueError, match="term-kind legs"):
        search(r, {"query": {"dis_max": {"queries": [
            {"match_phrase": {"text": "alpha beta"}}]}},
            "size": 0, "track_total_hits": True})

    # more_like_this over both fields: selection then union
    import math
    from collections import Counter

    rt = r.for_field("title")
    like = "alpha beta red red green"
    ltf = Counter(like.split())
    cands = []
    for name, view in (("text", r), ("title", rt)):
        stats = view.term_stats(list(ltf))
        n = float(view.n_docs)
        for t, c in ltf.items():
            if t in stats:
                idf = math.log(1.0 + (n - stats[t] + 0.5) / (stats[t] + 0.5))
                cands.append((c * idf, name, t))
    cands.sort(key=lambda x: (-x[0], x[1], x[2]))
    sel = cands[:4]
    exp2 = set()
    for _s, f, t in sel:
        for u, tx, ti in ROWS:
            if t in (tx if f == "text" else ti).split():
                exp2.add(u)
    resp = search(r, {"query": {"more_like_this": {
        "like": like, "fields": ["text", "title"], "max_query_terms": 4}},
        "size": 0, "track_total_hits": True})
    assert resp["hits"]["total"]["value"] == len(exp2) > 0


def test_scroll_over_context_kinds(spark, lift_index):  # noqa: F811
    """scroll over dis_max / fuzzy-match / match_bool_prefix: the token
    carries the query spec; full traversal equals the brute matched set
    in (sort_val, _id) order."""
    from engine.dsl import scroll_next, scroll_search

    r = IndexReader(spark, lift_index)
    nc = {u: len(t) for u, t, _ti in ROWS}
    cases = [
        ({"dis_max": {"queries": [{"match": {"text": "alpha"}},
                                  {"match": {"title": "red"}}]}},
         {u for u, t, ti in ROWS
          if "alpha" in t.split() or "red" in ti.split()}),
        ({"match_bool_prefix": {"title": "red gr"}},
         {u for u, _t, ti in ROWS
          if any(w == "red" or w.startswith("gr") for w in ti.split())}),
    ]
    for q, exp in cases:
        want = sorted(exp, key=lambda u: (nc[u], u))
        resp = scroll_search(r, {"query": q, "sort": [{"nc": "asc"}]}, size=2)
        got = [h["_id"] for h in resp["hits"]["hits"]]
        while resp.get("_scroll_id") and resp["hits"]["hits"]:
            resp = scroll_next(spark, resp["_scroll_id"])
            got += [h["_id"] for h in resp["hits"]["hits"]]
        assert got == want, q


def test_clause_boost(spark, lift_index):  # noqa: F811
    """ES clause boost: a TOP-LEVEL match/term boost multiplies scores
    (rank-identical); scoring compositions that would silently drop it
    fail closed; matched-set contexts correctly ignore it (a positive
    boost never changes the matched set); dis_max legs honor it through
    the general per-leg path."""
    r = IndexReader(spark, lift_index)
    base = search(r, {"query": {"match": {"text": "alpha"}}, "size": 10})
    boosted = search(r, {"query": {"match": {"text": {
        "query": "alpha", "boost": 2.5}}}, "size": 10})
    assert _ids(boosted) == _ids(base)
    raw_b = [h["_score"] for h in boosted["hits"]["hits"]]
    raw_a = [h["_score"] for h in base["hits"]["hits"]]
    assert all(abs(b - a * 2.5) < 1e-9 for a, b in zip(raw_a, raw_b))
    # single-must bool wrap recurses and still honors the boost
    wrapped = search(r, {"query": {"bool": {"must": [{"match": {"text": {
        "query": "alpha", "boost": 2.5}}}]}}, "size": 10})
    assert _scores(wrapped) == _scores(boosted)
    # multi-clause flatten fails closed instead of silently dropping
    with pytest.raises(ValueError, match="boost is not composed"):
        search(r, {"query": {"bool": {"should": [
            {"match": {"text": {"query": "alpha", "boost": 2.0}}},
            {"match": {"text": "beta"}}]}}, "size": 10})
    # dis_max general path: a boosted leg's scores scale before the blend
    legs_plain = search(r, {"query": {"dis_max": {"queries": [
        {"match": {"text": "alpha"}},
        {"match_phrase": {"title": "alpha beta"}}],
        "tie_breaker": 0.0}}, "size": 10})
    legs_boost = search(r, {"query": {"dis_max": {"queries": [
        {"match": {"text": {"query": "alpha", "boost": 3.0}}},
        {"match_phrase": {"title": "alpha beta"}}],
        "tie_breaker": 0.0}}, "size": 10})
    plain = dict(zip(_ids(legs_plain), _scores(legs_plain)))
    boost = dict(zip(_ids(legs_boost), _scores(legs_boost)))
    # every doc's boosted blend >= its plain blend (max over legs grows)
    assert all(boost[u] >= plain[u] - 1e-9 for u in boost if u in plain)
    # matched-set context: boost ignored, same total as unboosted
    a = search(r, {"query": {"match": {"text": {
        "query": "alpha", "boost": 9.0}}}, "size": 0,
        "track_total_hits": True})
    b = search(r, {"query": {"match": {"text": "alpha"}}, "size": 0,
               "track_total_hits": True})
    assert a["hits"]["total"] == b["hits"]["total"]


def test_leaf_boost_other_kinds(spark, lift_index):  # noqa: F811
    """leaf boost on match_phrase / prefix / fuzzy / docvalue term:
    scores scale, ranks identical; constant-score docvalue term scores
    the boost itself."""
    r = IndexReader(spark, lift_index)
    cases = [
        ({"match_phrase": {"text": {"query": "alpha beta", "boost": 2.0}}},
         {"match_phrase": {"text": "alpha beta"}}),
        ({"prefix": {"title": {"value": "gre", "boost": 3.0}}},
         {"prefix": {"title": {"value": "gre"}}}),
        ({"fuzzy": {"title": {"value": "grean", "boost": 1.5}}},
         {"fuzzy": {"title": {"value": "grean"}}}),
    ]
    for boosted_q, plain_q in cases:
        b = next(iter(next(iter(boosted_q.values())).values()))["boost"]
        got = search(r, {"query": boosted_q, "size": 10})
        ref = search(r, {"query": plain_q, "size": 10})
        assert _ids(got) == _ids(ref), boosted_q
        gb = [h["_score"] for h in got["hits"]["hits"]]
        ga = [h["_score"] for h in ref["hits"]["hits"]]
        assert gb and all(abs(x - y * b) < 1e-9 for x, y in zip(gb, ga)), boosted_q
    resp = search(r, {"query": {"term": {"nc": {
        "value": len(ROWS[0][1]), "boost": 5.0}}}, "size": 10})
    assert resp["hits"]["hits"]
    assert all(h["_score"] == 5.0 for h in resp["hits"]["hits"])


def test_track_scores_on_sorted_page(spark, lift_index):  # noqa: F811
    """ES track_scores: sorted hits carry the query's _score (looked up
    from the unbounded scoring run); match_all scores 1.0; min_score
    composes with sort once scores are tracked."""
    from engine.query import bm25_topk

    r = IndexReader(spark, lift_index)
    want = {x["url"]: x["score"]
            for x in bm25_topk(r, ["alpha"], k=1 << 31).collect()}
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "sort": [{"nc": "asc"}], "track_scores": True,
                      "size": 10})
    hits = resp["hits"]["hits"]
    assert hits and all(
        abs(h["_score"] - want[h["_id"]]) < 1e-12 for h in hits)
    # phrase context too (matcher-based sort path)
    from engine.query import match_phrase_topk

    wantp = {x["url"]: x["score"]
             for x in match_phrase_topk(r, "alpha beta", k=1 << 31).collect()}
    resp = search(r, {"query": {"match_phrase": {"text": "alpha beta"}},
                      "sort": [{"nc": "asc"}], "track_scores": True,
                      "size": 10})
    hits = resp["hits"]["hits"]
    assert hits and all(
        abs(h["_score"] - wantp[h["_id"]]) < 1e-12 for h in hits)
    # match_all -> 1.0
    resp = search(r, {"query": {"match_all": {}}, "sort": [{"nc": "asc"}],
                      "track_scores": True, "size": 3})
    assert [h["_score"] for h in resp["hits"]["hits"]] == [1.0, 1.0, 1.0]
    # min_score + sort + track_scores: the floor applies
    floor = sorted(want.values())[len(want) // 2]
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "sort": [{"nc": "asc"}], "track_scores": True,
                      "min_score": floor, "size": 10})
    got_ids = {h["_id"] for h in resp["hits"]["hits"]}
    assert got_ids == {u for u, s in want.items() if s >= floor}
    # without track_scores the old gate still fails closed
    with pytest.raises(ValueError, match="track_scores"):
        search(r, {"query": {"match": {"text": "alpha"}},
                   "sort": [{"nc": "asc"}], "min_score": 0.1, "size": 10})


def test_collapse_inner_hits(spark, lift_index):  # noqa: F811
    """ES collapse.inner_hits: per group, the top-size docs by the
    query's score within that group (score desc, url tiebreak),
    recomputed by brute from the unfiltered kernel + group partition."""
    from engine.query import bm25_topk

    r = IndexReader(spark, lift_index)
    nc = {u: len(t) for u, t, _ti in ROWS}
    full = {x["url"]: x["score"]
            for x in bm25_topk(r, ["alpha"], k=1 << 31).collect()}
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "collapse": {"field": "nc",
                                   "inner_hits": {"name": "grp", "size": 2}},
                      "size": 10})
    hits = resp["hits"]["hits"]
    assert hits
    for h in hits:
        gval = h["fields"]["nc"][0]
        members = sorted(
            ((u, s) for u, s in full.items() if nc[u] == gval),
            key=lambda t: (-t[1], t[0]),
        )[:2]
        inner = h["inner_hits"]["grp"]["hits"]["hits"]
        assert [(x["_id"], round(x["_score"], 9)) for x in inner] == [
            (u, round(s, 9)) for u, s in members
        ]
        # the representative is the group's best
        assert inner[0]["_id"] == h["_id"]


def test_collapse_inner_hits_collect_once(spark, lift_index, monkeypatch):  # noqa: F811
    """Inner hits read the kernel's rows: a collapse + inner_hits page
    collects the same number of DataFrames however many groups it
    holds (one per group was a result-frame round trip each)."""
    r = IndexReader(spark, lift_index)
    frame_cls = type(spark.range(0))  # the concrete class defines collect
    collect = frame_cls.collect
    calls = []

    def counted(self):
        calls.append(1)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", counted)
    counts = []
    for size in (1, 5):
        calls.clear()
        resp = search(r, {"query": {"match": {"text": "alpha"}},
                          "collapse": {"field": "nc",
                                       "inner_hits": {"name": "grp", "size": 2}},
                          "size": size})
        assert len(resp["hits"]["hits"]) == size
        counts.append(len(calls))
    assert counts[0] == counts[1], counts


def test_source_includes_excludes_and_zero_terms(spark, tmp_path_factory):
    """_source object form (includes/excludes) serves from stored
    columns; zero_terms_query=all turns an analyzed-away match into
    match_all (default none stays empty)."""
    df = spark.createDataFrame(
        [(u, t, ti) for u, t, ti in ROWS],
        "url string, text string, title string",
    )
    out = str(tmp_path_factory.mktemp("zts") / "idx")
    build_index(
        spark, df, out, n_shards=2, n_buckets=4,
        text_fields=["text"], store_source=["text", "title"],
    )
    r = IndexReader(spark, out)
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "_source": {"excludes": ["text"]}, "size": 3})
    assert resp["hits"]["hits"]
    for h in resp["hits"]["hits"]:
        assert set(h["_source"]) == {"title"}
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "_source": {"includes": ["text", "title"],
                                  "excludes": ["text"]}, "size": 3})
    for h in resp["hits"]["hits"]:
        assert set(h["_source"]) == {"title"}
    # zero_terms_query
    allr = search(r, {"query": {"match": {"text": {
        "query": "...", "zero_terms_query": "all"}}}, "size": 100})
    assert len(allr["hits"]["hits"]) == len(ROWS)
    noner = search(r, {"query": {"match": {"text": "..."}}, "size": 100})
    assert noner["hits"]["hits"] == []


def test_stored_fields(spark, tmp_path_factory):
    """ES stored_fields: stored columns attach under hit.fields; an
    unstored name fails closed."""
    df = spark.createDataFrame(
        [(u, t, ti) for u, t, ti in ROWS],
        "url string, text string, title string",
    )
    out = str(tmp_path_factory.mktemp("stf") / "idx")
    build_index(
        spark, df, out, n_shards=2, n_buckets=4,
        text_fields=["text"], store_source=["title"],
    )
    r = IndexReader(spark, out)
    titles = {u: ti for u, _t, ti in ROWS}
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "stored_fields": ["title"], "size": 5})
    assert resp["hits"]["hits"]
    for h in resp["hits"]["hits"]:
        assert h["fields"]["title"] == [titles[h["_id"]]]
    with pytest.raises(ValueError, match="not stored"):
        search(r, {"query": {"match": {"text": "alpha"}},
                   "stored_fields": ["nope"], "size": 5})


def test_explain_phrase(spark, lift_index):  # noqa: F811
    """explain:true on a match_phrase page: the pseudo-term tree —
    idf_sum x phrase impact == the hit score (kernel identity)."""
    import math

    from engine import postings as P
    from engine.query import match_phrase_topk

    r = IndexReader(spark, lift_index)
    resp = search(r, {"query": {"match_phrase": {"text": "alpha beta"}},
                      "size": 5, "explain": True})
    hits = resp["hits"]["hits"]
    assert hits
    stats = r.term_stats(["alpha", "beta"])
    idf_sum = sum(P.bm25_idf(stats[t], r.n_docs) for t in ("alpha", "beta"))
    kernel = {x["url"]: x["score"]
              for x in match_phrase_topk(r, "alpha beta", k=1 << 31).collect()}
    for h in hits:
        ex = h["_explanation"]
        assert "phrase" in ex["description"]
        assert abs(ex["value"] - kernel[h["_id"]]) < 1e-9
        d_idf, d_imp = ex["details"]
        assert abs(d_idf["value"] - round(idf_sum, 6)) < 1e-6
        assert abs(d_idf["value"] * d_imp["value"] - ex["value"]) < 1e-4
    # term explain unchanged
    resp = search(r, {"query": {"match": {"text": "alpha"}},
                      "size": 3, "explain": True})
    for h in resp["hits"]["hits"]:
        assert h["_explanation"]["description"] == "sum of:"
