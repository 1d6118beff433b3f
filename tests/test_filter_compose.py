"""Filter context composed with every scoring query kind (round-5 lift).

ES semantics under test, uniform across kinds: filter clauses restrict
the matched set WITHOUT touching surviving docs' scores — the filtered
result must equal the unfiltered full result restricted to the docs the
filter admits, score-identical. Kernel plumbing:

- bool / minimum_should_match -> _bool_shard_topk local_filter
- simple_query_string / query_string -> _sqs/_qs_shard_topk local_filter
- match_phrase / sloppy / prefix -> _phrase_slots_topk post-kernel mask
  (exact: the kernel runs unbounded, mask + truncate on ordered output)
- prefix/wildcard/regexp/fuzzy -> bm25_topk's existing TAAT mask
"""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest

from engine.docvalues import RangeFilter, TermFilter
from engine.dsl import search
from engine.index_build import build_index
from engine.query import IndexReader

VOCAB = [
    "hash", "table", "join", "sort", "merge", "scan", "index", "fast",
    "query", "plan", "tree", "leaf", "page", "disk", "cache", "hit",
]


def _mk_corpus(n: int = 90):
    rng = random.Random(3)
    rows = []
    for i in range(n):
        words = rng.choices(VOCAB, k=rng.randint(6, 40))
        if i % 4 == 0:
            # seed exact phrases so phrase queries have real matches
            p = rng.randint(0, len(words) - 2)
            words[p : p + 2] = ["hash", "table"]
        text = " ".join(words)
        # req: small per-doc terms_set threshold (1..3, deterministic)
        rows.append((f"u{i:04d}", text, "abc"[i % 3], len(text), i % 3 + 1))
    return rows


@pytest.fixture(scope="module")
def fc_index(spark):
    rows = _mk_corpus()
    df = spark.createDataFrame(
        rows, "url string, text string, grp string, nc long, req long"
    )
    out = tempfile.mkdtemp(prefix="sparkft_test_fc_")
    build_index(
        spark, df, out, n_shards=3, n_buckets=4,
        index_options="positions", docvalue_cols=["grp", "nc", "req"],
    )
    yield out, rows
    shutil.rmtree(out, ignore_errors=True)


FILTER_BODY = [{"term": {"grp": "b"}}, {"range": {"nc": {"gte": 60, "lt": 200}}}]


def _allowed(rows):
    return {u for u, _t, g, nc, _r in rows if g == "b" and 60 <= nc < 200}


def _hits(reader, query: dict, filt: bool, k: int = 300):
    q = dict(query)
    if filt:
        inner = q.pop("__wrap__", None)
        if inner is None:
            q = {"bool": {"must": [query], "filter": FILTER_BODY}}
    body = {"query": q, "size": k}
    return search(reader, body)["hits"]["hits"]


QUERIES = [
    ("bool_should", {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "should": [{"match": {"text": "join"}}, {"match": {"text": "sort"}}],
        "must_not": [{"match": {"text": "scan"}}],
    }}),
    ("msm", {"match": {"text": {
        "query": "hash join sort merge", "minimum_should_match": 2}}}),
    ("prefix", {"prefix": {"text": {"value": "ha"}}}),
    ("wildcard", {"wildcard": {"text": {"value": "ta*e"}}}),
    ("fuzzy", {"fuzzy": {"text": {"value": "hashh"}}}),
    ("phrase", {"match_phrase": {"text": "hash table"}}),
    ("phrase_slop", {"match_phrase": {"text": {"query": "hash join", "slop": 3}}}),
    ("phrase_prefix", {"match_phrase_prefix": {"text": "hash ta"}}),
    ("sqs", {"simple_query_string": {
        "query": '"hash table" join -scan me*', "fields": ["text"]}}),
    ("query_string", {"query_string": {
        "query": '(hash AND table) OR "sort merge" -scan', "fields": ["text"]}}),
    # round-5 second batch: spans / intervals / terms_set / boosting /
    # pinned / ids / match_bool_prefix / synonym_match
    ("span_near", {"span_near": {"clauses": [
        {"span_term": {"text": "hash"}}, {"span_term": {"text": "table"}}],
        "slop": 1, "in_order": True}}),
    ("span_first", {"span_first": {
        "match": {"span_term": {"text": "hash"}}, "end": 5}}),
    ("intervals", {"intervals": {"text": {"match": {
        "query": "hash table", "max_gaps": 2, "ordered": True}}}}),
    ("terms_set", {"terms_set": {"text": {
        "terms": ["hash", "join", "sort"],
        "minimum_should_match_field": "req"}}}),
    ("boosting", {"boosting": {
        "positive": {"match": {"text": "hash table"}},
        "negative": {"match": {"text": "scan"}}, "negative_boost": 0.4}}),
    ("pinned", {"pinned": {
        "ids": ["u0004", "u0016", "u0001"],
        "organic": {"match": {"text": "hash table"}}}}),
    ("ids", {"ids": {"values": [f"u{i:04d}" for i in range(0, 60, 2)]}}),
    ("match_bool_prefix", {"match_bool_prefix": {"text": "join ta"}}),
    ("synonym_match", {"synonym_match": {"text": {
        "groups": [["hash", "index"], ["table"]]}}}),
]


@pytest.mark.parametrize("name,query", QUERIES, ids=[n for n, _ in QUERIES])
def test_filter_restricts_without_rescoring(spark, fc_index, name, query):
    out, rows = fc_index
    reader = IndexReader(spark, out)
    # filter composes via the ES body shape bool{must:[q], filter:[...]}
    # EXCEPT when q is itself a bool: then the filter merges into it
    if "bool" in query:
        q_f = {"bool": dict(query["bool"], filter=FILTER_BODY)}
        got = search(reader, {"query": q_f, "size": 300})["hits"]["hits"]
    else:
        got = _hits(reader, query, filt=True)
    full = _hits(reader, query, filt=False)
    allowed = _allowed(rows)
    want = [h for h in full if h["_id"] in allowed]
    assert [h["_id"] for h in got] == [h["_id"] for h in want], name
    assert [h["_score"] for h in got] == pytest.approx(
        [h["_score"] for h in want], rel=1e-12
    ), name
    # the filter is real: it must exclude at least one unfiltered hit
    assert len(want) < len(full), f"{name}: filter excluded nothing — weak test"
    assert got, f"{name}: zero filtered hits — weak test"


def test_kernel_api_filters_spark_path(spark, fc_index):
    """The Spark execution path applies the same per-shard mask (shard id
    is threaded through applyInPandas)."""
    from engine.query import bm25_bool_topk, match_phrase_topk
    from engine.querystring import simple_query_string_topk

    out, rows = fc_index
    reader = IndexReader(spark, out)
    filters = [TermFilter("grp", "b"), RangeFilter("nc", 60, 200)]
    for fn in (
        lambda ex: bm25_bool_topk(
            reader, must=["hash"], should=["join", "sort"], k=300,
            filters=filters, execution=ex),
        lambda ex: match_phrase_topk(
            reader, "hash table", k=300, filters=filters, execution=ex),
        lambda ex: simple_query_string_topk(
            reader, '"hash table" join', k=300, filters=filters, execution=ex),
    ):
        loc = [(r["url"], round(r["score"], 9)) for r in fn("local").collect()]
        spk = [(r["url"], round(r["score"], 9)) for r in fn("spark").collect()]
        assert loc == spk and loc


def test_aggs_and_count_under_phrase(spark, fc_index):
    """Round-5 composition: {"query": {"match_phrase": ...}, "aggs"/
    "track_total_hits"} — the matched set comes from the per-shard
    positional phrase matcher (docs with phrase freq > 0), computed next
    to the postings, then feeds the same docvalue agg/count machinery."""
    out, rows = fc_index
    reader = IndexReader(spark, out)

    def brute_matched(slop=0):
        got = set()
        for u, t, _g, _nc, _r in rows:
            toks = t.split()
            if slop == 0:
                if any(toks[i:i + 2] == ["hash", "table"]
                       for i in range(len(toks) - 1)):
                    got.add(u)
            else:
                # sloppy: hash at i, table at j, |(j-1) - i| <= slop
                hs = [i for i, w in enumerate(toks) if w == "hash"]
                ts = [j for j, w in enumerate(toks) if w == "table"]
                if any(abs((j - 1) - i) <= slop for i in hs for j in ts):
                    got.add(u)
        return got

    for slop in (0, 2):
        q = {"match_phrase": {"text": {"query": "hash table", "slop": slop}}}
        resp = search(reader, {
            "query": q, "size": 0, "track_total_hits": True,
            "aggs": {"by_grp": {"terms": {"field": "grp", "size": 10}}},
        })
        want = brute_matched(slop)
        assert resp["hits"]["total"]["value"] == len(want), f"slop={slop}"
        from collections import Counter
        grp_of = {u: g for u, _t, g, _nc, _r in rows}
        want_counts = Counter(grp_of[u] for u in want)
        got_counts = {
            b["key"]: b["doc_count"]
            for b in resp["aggregations"]["by_grp"]["buckets"]
        }
        assert got_counts == dict(want_counts), f"slop={slop}"

    # phrase + filter context + aggs compose together
    resp = search(reader, {
        "query": {"bool": {"must": [
            {"match_phrase": {"text": "hash table"}}], "filter": FILTER_BODY}},
        "size": 0, "aggs": {"g": {"terms": {"field": "grp", "size": 10}}},
    })
    want = brute_matched(0) & _allowed(rows)
    got = {b["key"]: b["doc_count"]
           for b in resp["aggregations"]["g"]["buckets"]}
    assert sum(got.values()) == len(want) and set(got) <= {"b"}

    # a dead slot term: empty buckets, zero total (conjunctive semantics)
    resp = search(reader, {
        "query": {"match_phrase": {"text": "hash zzzznope"}},
        "size": 0, "track_total_hits": True,
        "aggs": {"g": {"terms": {"field": "grp"}}},
    })
    assert resp["hits"]["total"]["value"] == 0
    assert resp["aggregations"]["g"]["buckets"] == []

    # sampler under a phrase query composes via the SCORED phrase
    # matcher (round-5 lift): sample = global top shard_size docs by
    # 6-dp-rounded TRUE phrase BM25 (url asc ties), then terms-bucketed
    from engine.query import match_phrase_topk

    full = match_phrase_topk(reader, "hash table", k=1 << 31).collect()
    grp_of = {u: g for u, _t, g, _nc, _r in rows}
    ranked = sorted(
        ((x["url"], round(x["score"], 6)) for x in full),
        key=lambda t: (-t[1], t[0]),
    )
    assert len(ranked) > 5, "weak corpus — need > shard_size matches"
    sample = [u for u, _s in ranked[:5]]
    from collections import Counter

    want_counts = Counter(grp_of[u] for u in sample)
    resp = search(reader, {
        "query": {"match_phrase": {"text": "hash table"}}, "size": 0,
        "aggs": {"s": {"sampler": {"shard_size": 5},
                       "aggs": {"t": {"terms": {"field": "grp"}}}}},
    })
    got = {b["key"]: b["doc_count"]
           for b in resp["aggregations"]["s"]["buckets"]}
    assert got == dict(want_counts)

    # diversified_sampler under the phrase: greedy per-value cap before
    # the size cut, same score order
    per_grp: dict[str, int] = {}
    div_sample = []
    for u, _s in ranked:
        g = grp_of[u]
        if per_grp.get(g, 0) < 2:
            per_grp[g] = per_grp.get(g, 0) + 1
            div_sample.append(u)
        if len(div_sample) == 4:
            break
    resp = search(reader, {
        "query": {"match_phrase": {"text": "hash table"}}, "size": 0,
        "aggs": {"s": {"diversified_sampler": {
            "shard_size": 4, "field": "grp", "max_docs_per_value": 2},
            "aggs": {"t": {"terms": {"field": "grp"}}}}},
    })
    got = {b["key"]: b["doc_count"]
           for b in resp["aggregations"]["s"]["buckets"]}
    assert got == dict(Counter(grp_of[u] for u in div_sample))

    # phrase + filter context + sampler: the filter mask rides the
    # scored matched set before the cut
    allowed = _allowed(rows)
    frank = [u for u, _s in ranked if u in allowed][:5]
    resp = search(reader, {
        "query": {"bool": {"must": [
            {"match_phrase": {"text": "hash table"}}],
            "filter": FILTER_BODY}},
        "size": 0,
        "aggs": {"s": {"sampler": {"shard_size": 5},
                       "aggs": {"t": {"terms": {"field": "grp"}}}}},
    })
    got = {b["key"]: b["doc_count"]
           for b in resp["aggregations"]["s"]["buckets"]}
    assert got == dict(Counter(grp_of[u] for u in frank))


def test_sort_and_highlight_under_phrase(spark, fc_index):
    """sort + search_after and highlight compose with match_phrase: the
    sort path uses the positional matcher's matched set; highlight marks
    the phrase's slot terms (plain-highlighter behavior)."""
    out, rows = fc_index
    reader = IndexReader(spark, out)
    matched = {
        u for u, t, _g, _nc, _r in rows
        if any(t.split()[i:i + 2] == ["hash", "table"]
               for i in range(len(t.split()) - 1))
    }
    body = {"query": {"match_phrase": {"text": "hash table"}},
            "sort": [{"nc": {"order": "asc"}}], "size": 500}
    hits = search(reader, body)["hits"]["hits"]
    nc_of = {u: nc for u, _t, _g, nc, _r in rows}
    assert {h["_id"] for h in hits} == matched
    vals = [h["sort"][0] for h in hits]
    assert vals == sorted(vals)
    # search_after resumes exactly after the cursor
    cur = hits[2]["sort"]
    body2 = dict(body, search_after=cur, size=500)
    page2 = search(reader, body2)["hits"]["hits"]
    assert [h["_id"] for h in page2] == [h["_id"] for h in hits[3:]]
    # phrase + filter + sort
    body3 = {"query": {"bool": {"must": [
        {"match_phrase": {"text": "hash table"}}], "filter": FILTER_BODY}},
        "sort": [{"nc": {"order": "asc"}}], "size": 500}
    hits3 = search(reader, body3)["hits"]["hits"]
    assert {h["_id"] for h in hits3} == matched & _allowed(rows)
    assert all(nc_of[h["_id"]] == h["sort"][0] for h in hits3)
    # highlight marks the slot terms
    corpus = spark.createDataFrame(
        [(u, t) for u, t, _g, _nc, _r in rows], "url string, text string"
    )
    resp = search(reader, {
        "query": {"match_phrase": {"text": "hash table"}}, "size": 3,
        "highlight": {"fields": {"text": {}}},
    }, corpus=corpus)
    for h in resp["hits"]["hits"]:
        assert "<em>hash</em>" in h["highlight"]["text"][0] or \
               "<em>table</em>" in h["highlight"]["text"][0]


def test_scroll_under_phrase(spark, fc_index):
    """Scroll (stateless token) over a match_phrase query: the token
    carries the phrase spec; every page rebuilds the positional matcher
    and resumes exactly (concatenated pages == sorted matched set)."""
    from engine.dsl import scroll_next, scroll_search

    out, rows = fc_index
    reader = IndexReader(spark, out)
    matched = {
        u for u, t, _g, _nc, _r in rows
        if any(t.split()[i:i + 2] == ["hash", "table"]
               for i in range(len(t.split()) - 1))
    }
    nc_of = {u: nc for u, _t, _g, nc, _r in rows}
    want = sorted(matched, key=lambda u: (nc_of[u], u))
    resp = scroll_search(
        reader,
        {"query": {"match_phrase": {"text": "hash table"}},
         "sort": [{"nc": {"order": "asc"}}]},
        size=7,
    )
    got = [h["_id"] for h in resp["hits"]["hits"]]
    while resp.get("_scroll_id"):
        resp = scroll_next(spark, resp["_scroll_id"])
        got.extend(h["_id"] for h in resp["hits"]["hits"])
    assert got == want


def test_match_fuzziness(spark, fc_index):
    """match + fuzziness=AUTO: per-token dictionary expansion (df-ordered
    50-cap) then ranked OR union; composes with filter context; fuzziness
    with operator=and or minimum_should_match raises the documented
    divergence."""
    out, rows = fc_index
    reader = IndexReader(spark, out)
    # 'hashh' (1 edit from hash) + 'tablee' (1 edit from table)
    got = search(reader, {"query": {"match": {"text": {
        "query": "hashh tablee", "fuzziness": "AUTO"}}}, "size": 300,
    })["hits"]["hits"]
    want = search(reader, {"query": {"bool": {"should": [
        {"match": {"text": "hash"}}, {"match": {"text": "table"}},
    ]}}, "size": 300})["hits"]["hits"]
    # expansions on this vocab are exactly {hash} and {table}: identical
    # matched set with identical scores (per-expansion idf rewrite)
    assert {h["_id"]: round(h["_score"], 9) for h in got} == {
        h["_id"]: round(h["_score"], 9) for h in want
    } and got
    filt = search(reader, {"query": {"bool": {
        "must": [{"match": {"text": {"query": "hashh", "fuzziness": 1}}}],
        "filter": FILTER_BODY}}, "size": 300})["hits"]["hits"]
    assert {h["_id"] for h in filt} <= _allowed(rows) and filt
    with pytest.raises(ValueError, match="operator=or only"):
        search(reader, {"query": {"match": {"text": {
            "query": "hashh", "fuzziness": 1, "operator": "and"}}}})


def test_terms_filter(spark, fc_index):
    """ES `terms` filter: field IN a fixed value set. Laws: a one-value
    terms filter == the term filter; the matched set is the UNION of the
    per-value term-filter sets with scores untouched (restriction
    identity); composes on the scoring path, the match_all/agg path, and
    with the other clause kinds; unknown docvalue fields raise."""
    out, rows = fc_index
    reader = IndexReader(spark, out)
    # single-term match: the frozen bool flatten is conjunctive over the
    # must terms, so or/and coincide only for one token — keeps this a
    # pure filter law, not a flatten-semantics test
    q = {"match": {"text": "hash"}}

    one_terms = search(reader, {"query": {"bool": {
        "must": [q], "filter": [{"terms": {"grp": ["b"]}}]}}, "size": 300})
    one_term = search(reader, {"query": {"bool": {
        "must": [q], "filter": [{"term": {"grp": "b"}}]}}, "size": 300})
    assert [(h["_id"], h["_score"]) for h in one_terms["hits"]["hits"]] == [
        (h["_id"], h["_score"]) for h in one_term["hits"]["hits"]
    ] and one_terms["hits"]["hits"]

    both = search(reader, {"query": {"bool": {
        "must": [q], "filter": [{"terms": {"grp": ["a", "b"]}}]}}, "size": 300})
    unfiltered = search(reader, {"query": q, "size": 300})
    allowed = {u for u, _t, g, _nc, _r in rows if g in ("a", "b")}
    want = [(h["_id"], h["_score"]) for h in unfiltered["hits"]["hits"]
            if h["_id"] in allowed]
    assert [(h["_id"], h["_score"]) for h in both["hits"]["hits"]] == want
    # composes with a range clause (conjunctive)
    mix = search(reader, {"query": {"bool": {"must": [q], "filter": [
        {"terms": {"grp": ["a", "b"]}}, {"range": {"nc": {"gte": 60}}},
    ]}}, "size": 300})
    allowed2 = {u for u, _t, g, nc, _r in rows if g in ("a", "b") and nc >= 60}
    assert {h["_id"] for h in mix["hits"]["hits"]} == {
        u for u, _ in want if u in allowed2}
    # match_all path (Spark predicate) agrees with the python rows
    ma = search(reader, {"query": {"bool": {"filter": [
        {"terms": {"grp": ["a", "c"]}}]}}, "size": 300,
        "track_total_hits": True})
    assert ma["hits"]["total"]["value"] == sum(
        1 for _u, _t, g, _nc, _r in rows if g in ("a", "c"))
    with pytest.raises(ValueError, match="docvalue"):
        search(reader, {"query": {"bool": {
            "must": [q], "filter": [{"terms": {"nope": ["x"]}}]}}})


@pytest.fixture(scope="module")
def fc_deleted(spark, fc_index):
    """fc_index copy with every 5th doc tombstoned."""
    from engine.deletes import delete_docs

    src, rows = fc_index
    out = tempfile.mkdtemp(prefix="sparkft_test_fc_del_")
    shutil.rmtree(out)
    shutil.copytree(src, out)
    gone = {u for u, *_ in rows[::5]}
    assert delete_docs(spark, out, sorted(gone)) == len(gone)
    yield out, gone
    shutil.rmtree(out, ignore_errors=True)


def _executor_cases():
    """(name, fn(reader, execution, filters)) for every entry point that
    runs on the scatter-gather executor; filters go wherever the entry
    point takes them."""
    from engine.query import (
        bm25_bool_topk, bm25_boosting_topk, bm25_dismax_topk,
        bm25_synonym_topk, bm25_topk, match_bool_prefix_topk,
        match_phrase_prefix_topk, match_phrase_topk, terms_set_topk,
    )
    from engine.querystring import query_string_topk, simple_query_string_topk
    from engine.spans import span_first_topk, span_near_topk

    k = 12
    return [
        ("bm25_bmw", lambda r, ex, f: bm25_topk(r, "hash join sort", k=k, execution=ex)),
        ("bm25_taat", lambda r, ex, f: bm25_topk(
            r, "hash join sort", k=k, execution=ex, filters=f)),
        ("bm25_prefix", lambda r, ex, f: bm25_topk(
            r, "ta", k=k, mode="prefix", execution=ex, filters=f)),
        ("dismax", lambda r, ex, f: bm25_dismax_topk(r, "hash join", k=k, execution=ex)),
        ("synonym", lambda r, ex, f: bm25_synonym_topk(
            r, [["hash", "index"], ["table"]], k=k, execution=ex, filters=f)),
        ("bool", lambda r, ex, f: bm25_bool_topk(
            r, must=["hash"], should=["join", "sort"], must_not=["scan"],
            k=k, execution=ex, filters=f)),
        ("terms_set", lambda r, ex, f: terms_set_topk(
            r, ["hash", "join", "sort"], "req", k=k, execution=ex, filters=f)),
        ("boosting", lambda r, ex, f: bm25_boosting_topk(
            r, "hash table", "scan", 0.4, k=k, execution=ex, filters=f)),
        ("match_bool_prefix", lambda r, ex, f: match_bool_prefix_topk(
            r, "join ta", k=k, execution=ex, filters=f)),
        ("phrase", lambda r, ex, f: match_phrase_topk(
            r, "hash table", k=k, execution=ex, filters=f)),
        ("phrase_slop", lambda r, ex, f: match_phrase_topk(
            r, "hash join", k=k, slop=3, execution=ex, filters=f)),
        ("phrase_prefix", lambda r, ex, f: match_phrase_prefix_topk(
            r, "hash ta", k=k, execution=ex, filters=f)),
        ("sqs", lambda r, ex, f: simple_query_string_topk(
            r, '"hash table" join -scan me*', k=k, execution=ex, filters=f)),
        ("query_string", lambda r, ex, f: query_string_topk(
            r, '(hash AND table) OR "sort merge" -scan', k=k, execution=ex,
            filters=f)),
        ("span_near", lambda r, ex, f: span_near_topk(
            r, ["hash", "table"], k=k, slop=1, execution=ex, filters=f)),
        ("span_first", lambda r, ex, f: span_first_topk(
            r, "hash", 5, k=k, execution=ex, filters=f)),
    ]


@pytest.mark.parametrize(
    "name", [n for n, _ in _executor_cases()]
)
def test_executor_local_spark_identical(spark, fc_deleted, name):
    """Every executor entry point returns the same (url, doc_id, score)
    list from the driver-local path and the Spark scatter-gather path,
    on an index with tombstones and under a docvalue filter."""
    out, gone = fc_deleted
    reader = IndexReader(spark, out)
    fn = dict(_executor_cases())[name]
    filters = [RangeFilter("nc", 60, 240)]

    def run(ex):
        return [(r["url"], r["doc_id"], r["score"]) for r in fn(reader, ex, filters).collect()]

    loc = run("local")
    assert loc, f"{name}: empty result — weak test"
    assert not {u for u, _, _ in loc} & gone
    assert run("spark") == loc


def test_forced_spark_phrase_prefix_and_rescore(spark, fc_deleted, monkeypatch):
    """match_phrase_prefix_topk's union-df count and rescore_topk's phrase
    pass take the Spark scatter once the postings exceed
    LOCAL_MAX_POSTINGS: forced there with a 0 gate (no local postings
    read happens), they return the same (url, doc_id, score) lists as the
    driver-local path, on an index with tombstones."""
    from engine.query import match_phrase_prefix_topk, rescore_topk

    out, gone = fc_deleted
    reader = IndexReader(spark, out)
    calls = [
        lambda: match_phrase_prefix_topk(reader, "hash ta", k=12),
        lambda: match_phrase_prefix_topk(reader, "join ta", k=12, slop=2),
        lambda: rescore_topk(reader, "hash join sort", "hash table", k=10,
                             window_size=30),
        lambda: rescore_topk(reader, "hash join sort", "hash table", k=10,
                             window_size=30, slop=2),
    ]

    def run(call):
        return [(r["url"], r["doc_id"], r["score"]) for r in call().collect()]

    local = [run(c) for c in calls]

    def no_local_read(self, terms):
        raise AssertionError("local postings read on the forced Spark path")

    monkeypatch.setattr(IndexReader, "LOCAL_MAX_POSTINGS", 0)
    monkeypatch.setattr(IndexReader, "postings_local", no_local_read)
    monkeypatch.setattr(IndexReader, "postings_pos_local", no_local_read)
    for loc, call in zip(local, calls):
        assert loc, "empty result — weak test"
        assert not {u for u, _, _ in loc} & gone
        assert run(call) == loc


def test_should_context_and_clause_fails_closed(spark, fc_index):
    """A bool should-only aggs/count context whose clause has
    operator=and (or a clause minimum_should_match > 1) raises instead
    of aggregating the OR union of the clause's terms (a superset)."""
    out, _ = fc_index
    reader = IndexReader(spark, out)
    for spec in ({"query": "hash join", "operator": "and"},
                 {"query": "hash join sort", "minimum_should_match": 2}):
        with pytest.raises(ValueError, match="should clause"):
            search(reader, {
                "query": {"bool": {"should": [{"match": {"text": spec}}]}},
                "size": 0, "aggs": {"g": {"terms": {"field": "grp"}}},
            })


def test_must_should_explicit_msm_context_fails_closed(spark, fc_index):
    """must + should with an explicit minimum_should_match: 1 requires a
    should match; as an aggs/count context that requirement is not a
    term list, so it raises instead of silently dropping it."""
    out, _ = fc_index
    reader = IndexReader(spark, out)
    with pytest.raises(ValueError, match="minimum_should_match"):
        search(reader, {
            "query": {"bool": {
                "must": [{"match": {"text": "hash"}}],
                "should": [{"match": {"text": "join"}}],
                "minimum_should_match": 1,
            }},
            "size": 0, "track_total_hits": True,
        })


def test_match_clause_operator_and_msm_in_context(spark, fc_index):
    """A single bool must clause keeps its own operator as a count
    context (a default operator=or match is the union of its terms, not
    their intersection); a match with minimum_should_match > 1, or
    several must clauses with a multi-term operator=or one, fail closed."""
    out, rows = fc_index
    reader = IndexReader(spark, out)

    def total(q):
        return search(reader, {"query": q, "size": 0, "track_total_hits": True})[
            "hits"]["total"]["value"]

    def n_with(pred):
        return sum(1 for _u, t, *_ in rows if pred(set(t.split())))

    assert total({"bool": {"must": [{"match": {"text": "hash join"}}]}}) == n_with(
        lambda ws: "hash" in ws or "join" in ws)
    assert total({"bool": {"must": [{"match": {"text": {
        "query": "hash join", "operator": "and"}}}]}}) == n_with(
        lambda ws: "hash" in ws and "join" in ws)
    for q in (
        {"match": {"text": {"query": "hash join sort", "minimum_should_match": 2}}},
        {"bool": {"must": [{"match": {"text": "hash join"}},
                           {"match": {"text": "sort"}}]}},
    ):
        with pytest.raises(ValueError, match="not composable"):
            total(q)


def _agg_cases():
    """(name, fn(reader, execution, filters)) for the aggs.py query
    contexts; each returns plain rows, url first where it has urls."""
    from engine.aggs import collapse_topk, matched_urls, sampler_terms, search_sort

    def rows(df):
        return [tuple(r) for r in df.collect()]

    return [
        ("search_sort", lambda r, ex, f: rows(search_sort(
            r, "hash join sort", "nc", k=200, execution=ex, filters=f))),
        ("collapse_topk", lambda r, ex, f: rows(collapse_topk(
            r, "hash join sort", "grp", k=10, execution=ex, filters=f))),
        ("sampler_terms", lambda r, ex, f: sorted(rows(sampler_terms(
            r, "hash join sort", "grp", sample_size=1000, execution=ex,
            filters=f)))),
        ("matched_urls", lambda r, ex, f: sorted(rows(matched_urls(
            r, "hash join sort", execution=ex, filters=f)))),
    ]


@pytest.mark.parametrize("name", [n for n, _ in _agg_cases()])
def test_tombstoned_agg_contexts_local_spark_identical(spark, fc_index, fc_deleted, name):
    """The aggs.py query contexts return the same rows from the driver
    path and the Spark per-shard tasks on an index with tombstones and
    under a docvalue filter; no tombstoned doc reaches any of them."""
    _, corpus = fc_index
    out, gone = fc_deleted
    reader = IndexReader(spark, out)
    fn = dict(_agg_cases())[name]
    filters = [RangeFilter("nc", 60, 240)]
    live = sorted(
        u for u, t, _g, nc, _r in corpus
        if u not in gone and 60 <= nc < 240 and {"hash", "join", "sort"} & set(t.split())
    )

    loc = fn(reader, "local", filters)
    assert loc, f"{name}: empty result — weak test"
    if name == "sampler_terms":  # (key, doc_count) buckets of every live match
        assert sum(n for _, n in loc) == len(live)
    else:
        assert {row[0] for row in loc} <= set(live)
        if name != "collapse_topk":
            assert len(loc) == len(live)
    assert fn(reader, "spark", filters) == loc


_BATCH = {1: ["hash", "join"], 2: ["sort"], 3: ["table", "scan"]}


def _new_jobs(spark, call):
    """(call's result, the Spark job ids it added)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    got = call()
    return got, set(tracker.getJobIdsForGroup()) - before


def test_forced_spark_query_and_batch_run_one_job(spark, fc_deleted, monkeypatch):
    """Forced-Spark bm25_topk (with its collect) and bm25_topk_batch under a
    0 postings gate (with its collect) each run ONE Spark job: per-shard
    tasks read their postings with pyarrow, so no Spark-SQL postings read
    (and no schema inference job or shuffle) happens."""
    from pyspark.sql.readwriter import DataFrameReader

    from engine.query import bm25_topk, bm25_topk_batch

    out, _ = fc_deleted
    reader = IndexReader(spark, out)
    local = [tuple(r) for r in bm25_topk(reader, "hash join sort", k=12, execution="local").collect()]
    assert local

    def no_sql_read(*_a, **_k):
        raise AssertionError("Spark-SQL parquet read on the scatter path")

    monkeypatch.setattr(DataFrameReader, "parquet", no_sql_read)
    monkeypatch.setattr(reader, "LOCAL_MAX_POSTINGS", 0)
    calls = [
        lambda: [tuple(r) for r in bm25_topk(
            reader, "hash join sort", k=12, execution="spark").collect()],
        lambda: bm25_topk_batch(reader, _BATCH, k=5).collect(),
    ]
    for i, call in enumerate(calls):
        got, jobs = _new_jobs(spark, call)
        assert got and len(jobs) == 1
        if i == 0:
            assert got == local


@pytest.mark.parametrize("mode", ["or", "and"])
def test_small_batch_runs_on_the_driver(spark, fc_deleted, monkeypatch, mode):
    """Under the default gate a small bm25_topk_batch runs its shards on
    the driver: the call plus its collect add no Spark job, and its rows
    equal the forced-Spark (0 gate) rows bit for bit."""
    from engine.query import bm25_topk_batch

    out, _ = fc_deleted
    reader = IndexReader(spark, out)
    got, jobs = _new_jobs(spark, lambda: [
        tuple(r) for r in bm25_topk_batch(reader, _BATCH, k=5, mode=mode).collect()
    ])
    assert got and not jobs
    monkeypatch.setattr(reader, "LOCAL_MAX_POSTINGS", 0)
    spark_rows, jobs = _new_jobs(spark, lambda: [
        tuple(r) for r in bm25_topk_batch(reader, _BATCH, k=5, mode=mode).collect()
    ])
    assert len(jobs) == 1 and spark_rows == got


def test_batch_gate_counts_signatures(spark, fc_deleted, monkeypatch):
    """The batch's gate cost is its postings plus BATCH_SIG_COST per
    (signature, shard): with the gate strictly between the postings total
    and that cost, the batch goes to Spark (one job), with the same rows."""
    from engine.query import BATCH_SIG_COST, bm25_topk_batch

    out, _ = fc_deleted
    reader = IndexReader(spark, out)
    want = [tuple(r) for r in bm25_topk_batch(reader, _BATCH, k=5).collect()]
    stats = reader.term_stats(sorted({t for ts in _BATCH.values() for t in ts}))
    assert len(stats) == 5  # every term live: one signature per query
    postings = sum(stats.values())
    cost = postings + BATCH_SIG_COST * len(_BATCH) * reader.manifest["n_shards"]
    monkeypatch.setattr(reader, "LOCAL_MAX_POSTINGS", (postings + cost) // 2)
    assert postings < reader.LOCAL_MAX_POSTINGS < cost
    got, jobs = _new_jobs(spark, lambda: [
        tuple(r) for r in bm25_topk_batch(reader, _BATCH, k=5).collect()
    ])
    assert len(jobs) == 1 and got == want


def test_point_reads_start_no_spark_scan(spark, fc_index, fc_deleted, monkeypatch):
    """The index is a local directory: dictionary, docmap and postings
    point reads and the top-k / collapse / batch url lookups read it with
    pyarrow, never through a Spark-SQL parquet scan. The caches are off so
    the pruned reads (the large-index path) run, on a tombstoned index."""
    from pyspark.sql.readwriter import DataFrameReader

    from engine.aggs import collapse_topk
    from engine.query import (
        bm25_topk_batch, bm25_topk_rows, explain_rows, matched_queries, mget,
        suggest_complete,
    )

    out, gone = fc_deleted
    urls = ["u0001", "u0003", sorted(gone)[0], "nope"]
    named = {"one": (["hash"], "or"), "both": (["hash", "join"], "and")}

    def reads():
        reader = IndexReader(spark, out)
        reader.CACHE_MAX_DOCS = reader.DOCMAP_MEM_MAX_DOCS = 0
        top = bm25_topk_rows(reader, "hash join sort", k=12)
        return {
            "term_stats": reader.term_stats(["hash", "join", "zzz"]),
            "suggest_complete": suggest_complete(reader, "ha").collect(),
            "mget": mget(reader, urls, fields=["grp"]).collect(),
            "explain_rows": explain_rows(reader, "hash join sort", top[0][0]),
            "matched_queries": matched_queries(reader, urls, named),
            "bm25_topk_rows": top,
            "collapse_topk": collapse_topk(reader, "hash join", "grp", k=5).collect(),
            "bm25_topk_batch": bm25_topk_batch(
                reader, {1: ["hash", "join"], 2: ["sort"]}, k=5
            ).collect(),
        }

    want = reads()
    assert all(want.values()), want
    # url point reads route to the shard the build assigned: with 3
    # shards the signed-hash pmod and the unsigned modulo disagree
    every = [u for u, *_ in fc_index[1]]
    found = mget(IndexReader(spark, out), every).collect()
    assert [r["found"] for r in found] == [u not in gone for u in every]

    def no_sql_read(*_a, **_k):
        raise AssertionError("Spark-SQL parquet read on a point-read path")

    monkeypatch.setattr(DataFrameReader, "parquet", no_sql_read)
    assert reads() == want
