"""Round-4 feature batch: synonym queries (Lucene SynonymQuery blended
stats), runtime fields (dual-target script compiler), min_score, fields
retrieval, indices_boost, field_caps, search templates, profile."""

from __future__ import annotations

import math
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from engine.dsl import field_caps, render_search_template, search
from engine.index_build import build_index
from engine.postings import B, K1
from engine.query import IndexReader, bm25_synonym_topk, bm25_topk
from engine.textnorm import standard_tokenize_py

from tests.conftest import SF001, plan_of

GROUPS = [["hash", "join"], ["table"]]


@pytest.fixture(scope="module")
def syn_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("synidx") / "idx")
    d = spark.read.parquet(os.path.join(SF001, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("url"),
        "text", "lang", "n_chars",
        ((F.col("n_chars") % 7) + 1).cast("long").alias("weight"),
    )
    build_index(
        spark, d, out, n_shards=4, n_buckets=8,
        docvalue_cols=["lang", "n_chars", "weight"],
    )
    return out


def _brute_synonym(spark, groups, mode, k=10):
    """Counter-based blended-stats twin over the sf0.001 documents."""
    rows = (
        spark.read.parquet(os.path.join(SF001, "documents.parquet"))
        .select(F.col("doc_id").cast("string").alias("url"), "text")
        .collect()
    )
    docs = [(r["url"], r["text"]) for r in rows if r["text"]]
    tfs, dls, df = {}, {}, Counter()
    for url, text in docs:
        toks = standard_tokenize_py(text.lower())
        c = Counter(toks)
        tfs[url], dls[url] = c, len(toks)
        df.update(c.keys())
    n = len(docs)
    avgdl = sum(dls.values()) / n
    live_groups = [[t for t in g if df.get(t)] for g in groups]
    if mode == "and" and any(not g for g in live_groups):
        return []
    live_groups = [g for g in live_groups if g]
    gidfs = [
        math.log(1.0 + (n - max(df[t] for t in g) + 0.5) / (max(df[t] for t in g) + 0.5))
        for g in live_groups
    ]
    scored = []
    for url, _ in docs:
        c, dl = tfs[url], dls[url]
        norm = K1 * (1.0 - B + B * dl / avgdl)
        s, hit = 0.0, 0
        for gi, g in enumerate(live_groups):
            tf_g = sum(c.get(t, 0) for t in g)
            if tf_g == 0:
                continue
            hit += 1
            s += gidfs[gi] * tf_g / (tf_g + norm)
        if hit == 0 or (mode == "and" and hit < len(live_groups)):
            continue
        scored.append((s, url))
    scored.sort(key=lambda p: (-p[0], p[1]))
    return [(u, s) for s, u in scored[:k]]


def test_synonym_single_groups_equal_plain_match(spark, syn_index):
    """Single-term groups degenerate to plain BM25: blended df == the
    term's own df, tf-sum == tf — bit-identical to bm25_topk."""
    r = IndexReader(spark, syn_index)
    for mode in ("or", "and"):
        got = bm25_synonym_topk(r, [["hash"], ["join"]], k=10, mode=mode).collect()
        want = bm25_topk(r, ["hash", "join"], k=10, mode=mode, algo="taat").collect()
        assert [(x["url"], x["score"]) for x in got] == [
            (x["url"], x["score"]) for x in want
        ], mode


def test_synonym_blended_vs_brute(spark, syn_index):
    r = IndexReader(spark, syn_index)
    for mode in ("or", "and"):
        got = bm25_synonym_topk(r, GROUPS, k=10, mode=mode).collect()
        want = _brute_synonym(spark, GROUPS, mode, k=10)
        assert [x["url"] for x in got] == [u for u, _ in want], mode
        for x, (_, s) in zip(got, want):
            assert x["score"] == pytest.approx(s, abs=1e-9), mode
    # blended scoring differs from plain OR over the flattened terms
    # whenever group members co-occur (tf-sum + max-df vs per-term idf)
    flat = bm25_topk(r, ["hash", "join", "table"], k=10, algo="taat").collect()
    syn = bm25_synonym_topk(r, GROUPS, k=10).collect()
    assert [(x["url"], x["score"]) for x in syn] != [
        (x["url"], x["score"]) for x in flat
    ]


def test_synonym_execution_paths_identical(spark, syn_index):
    r = IndexReader(spark, syn_index)
    loc = bm25_synonym_topk(r, GROUPS, k=10, execution="local").collect()
    spk = bm25_synonym_topk(
        r, GROUPS, k=10, execution="spark"
    ).collect()
    assert [(x["url"], x["doc_id"], x["score"]) for x in loc] == [
        (x["url"], x["doc_id"], x["score"]) for x in spk
    ]


def test_synonym_absent_members_and_dsl(spark, syn_index):
    r = IndexReader(spark, syn_index)
    # absent member inside a group: ignored for OR groups (df 0 terms
    # contribute nothing); a fully-dead group under AND -> empty
    with_ghost = bm25_synonym_topk(
        r, [["hash", "zzzzabsentterm"], ["table"]], k=10
    ).collect()
    plain = bm25_synonym_topk(r, [["hash"], ["table"]], k=10).collect()
    assert [(x["url"], x["score"]) for x in with_ghost] == [
        (x["url"], x["score"]) for x in plain
    ]
    assert (
        bm25_synonym_topk(r, [["zzzzabsentterm"], ["table"]], k=5, mode="and").collect()
        == []
    )
    # DSL dispatch identity
    resp = search(
        r,
        {"query": {"synonym_match": {"text": {"groups": GROUPS}}}, "size": 7},
    )
    want = bm25_synonym_topk(r, GROUPS, k=7).collect()
    assert [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]] == [
        (x["url"], x["score"]) for x in want
    ]


RT_SCRIPT = "log1p(doc['n_chars'].value) * doc['weight'].value"
RT_BODY = {
    "runtime_mappings": {
        "quality": {"type": "double", "script": {"source": RT_SCRIPT}}
    },
    "sort": [{"quality": {"order": "desc"}}],
    "size": 8,
}


def _brute_runtime_sort(spark, syn_index, terms, asc=False, k=8):
    rows = (
        spark.read.parquet(os.path.join(SF001, "documents.parquet"))
        .select(F.col("doc_id").cast("string").alias("url"), "text", "n_chars")
        .collect()
    )
    out = []
    for r in rows:
        if not r["text"]:
            continue
        toks = set(standard_tokenize_py(r["text"].lower()))
        if terms is not None and not any(t in toks for t in terms):
            continue
        w = (r["n_chars"] % 7) + 1
        out.append((math.log1p(r["n_chars"]) * w, r["url"]))
    out.sort(key=lambda p: (p[0] if asc else -p[0], p[1]))
    return out[:k]


def test_runtime_sort_query_path_vs_brute(spark, syn_index):
    from engine.aggs import search_sort

    r = IndexReader(spark, syn_index)
    rt = {"quality": RT_SCRIPT}
    for execution in ("local", "spark"):
        got = search_sort(
            r, ["hash"], "quality", k=8, ascending=False,
            runtime=rt, execution=execution,
        ).collect()
        want = _brute_runtime_sort(spark, syn_index, ["hash"], asc=False, k=8)
        assert [g["url"] for g in got] == [u for _, u in want], execution
        for g, (v, _) in zip(got, want):
            assert g["sort_val"] == pytest.approx(v, abs=1e-12), execution


def test_runtime_sort_matchall_is_catalyst(spark, syn_index):
    """match_all + runtime sort compiles to a pure Column plan: the
    expression runs JVM-side (no Python evaluation node in the plan) and
    agrees with the numpy target on every row."""
    from engine.aggs import search_sort

    r = IndexReader(spark, syn_index)
    df = search_sort(r, None, "quality", k=8, ascending=False,
                     runtime={"quality": RT_SCRIPT})
    plan = plan_of(df, "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = df.collect()
    want = _brute_runtime_sort(spark, syn_index, None, asc=False, k=8)
    assert [g["url"] for g in got] == [u for _, u in want]
    for g, (v, _) in zip(got, want):
        assert g["sort_val"] == pytest.approx(v, abs=1e-12)
    # DSL dispatch: runtime_mappings + sort
    resp = search(r, dict(RT_BODY, query={"match": {"text": "hash"}}))
    q_want = search_sort(
        r, ["hash"], "quality", k=8, ascending=False,
        runtime={"quality": RT_SCRIPT},
    ).collect()
    assert [h["_id"] for h in resp["hits"]["hits"]] == [g["url"] for g in q_want]


def test_runtime_script_rejects_score_and_unknown_fields(spark, syn_index):
    from engine.aggs import search_sort
    from engine.scripts import compile_runtime_script

    with pytest.raises(ValueError, match="_score"):
        compile_runtime_script("_score * 2")
    r = IndexReader(spark, syn_index)
    with pytest.raises(ValueError, match="docvalues"):
        search_sort(
            r, ["hash"], "q", k=5, runtime={"q": "doc['nope'].value + 1"}
        ).collect()


def test_min_score_and_fields_retrieval(spark, syn_index):
    r = IndexReader(spark, syn_index)
    base = search(r, {"query": {"match": {"text": "hash join"}}, "size": 10})
    scores = [h["_score"] for h in base["hits"]["hits"]]
    cut = scores[4]  # floor at the 5th hit's score
    resp = search(
        r,
        {"query": {"match": {"text": "hash join"}}, "size": 10, "min_score": cut},
    )
    assert [h["_id"] for h in resp["hits"]["hits"]] == [
        h["_id"] for h in base["hits"]["hits"] if h["_score"] >= cut
    ]
    with pytest.raises(ValueError, match="min_score"):
        search(
            r,
            {"query": {"match": {"text": "hash"}}, "min_score": 1.0,
             "track_total_hits": True},
        )
    # fields retrieval: docvalues fetched for exactly the page's hits
    resp = search(
        r,
        {"query": {"match": {"text": "hash join"}}, "size": 5,
         "fields": ["lang", {"field": "n_chars"}]},
    )
    assert len(resp["hits"]["hits"]) == 5
    fetched = {
        x["url"]: (x["lang"], x["n_chars"])
        for x in r.spark.read.parquet(os.path.join(syn_index, "docmap"))
        .select("url", "lang", "n_chars").collect()
    }
    for h in resp["hits"]["hits"]:
        lang, n_chars = fetched[h["_id"]]
        assert h["fields"]["lang"] == [lang]
        assert h["fields"]["n_chars"] == [n_chars]


def test_indices_boost_federated(spark, syn_index, tmp_path_factory):
    from engine.query import multi_index_topk

    docs = spark.read.parquet(os.path.join(SF001, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    members = []
    for par in (0, 1):
        d = str(tmp_path_factory.mktemp(f"ib{par}") / "idx")
        build_index(
            spark, docs.filter(F.length("url") % 2 == par), d,
            n_shards=2, n_buckets=4,
        )
        members.append(IndexReader(spark, d))
    plain = multi_index_topk(members, ["hash", "join"], k=10).collect()
    ones = multi_index_topk(
        members, ["hash", "join"], k=10, boosts=[1.0, 1.0]
    ).collect()
    assert [(x["url"], x["score"]) for x in plain] == [
        (x["url"], x["score"]) for x in ones
    ]
    # boost 2x on member 0: its docs' scores exactly double; ranking
    # re-merges on the boosted scores
    m0 = {x["url"] for x in bm25_topk(members[0], ["hash", "join"], k=1000).collect()}
    boosted = multi_index_topk(
        members, ["hash", "join"], k=10, boosts=[2.0, 1.0]
    ).collect()
    base = {x["url"]: x["score"] for x in plain}
    for x in boosted:
        if x["url"] in base:
            factor = 2.0 if x["url"] in m0 else 1.0
            assert x["score"] == pytest.approx(base[x["url"]] * factor, rel=1e-12)
    with pytest.raises(ValueError, match="one boost"):
        multi_index_topk(members, ["hash"], k=5, boosts=[2.0])


def test_field_caps_and_profile(spark, syn_index):
    r = IndexReader(spark, syn_index)
    caps = field_caps(r)["fields"]
    assert caps["text"] == {"text": {"searchable": True, "aggregatable": False}}
    assert set(caps) == {"text", "url", "lang", "n_chars", "weight"}
    assert "long" in caps["n_chars"] and caps["n_chars"]["long"]["aggregatable"]
    assert "keyword" in caps["lang"]
    resp = search(r, {"query": {"match": {"text": "hash"}}, "profile": True})
    prof = resp["profile"]["shards"][0]["searches"][0]["query"][0]
    assert prof["type"] == "match" and prof["description"] == "topk"
    assert prof["time_in_nanos"] >= 0


def test_search_template_end_to_end(spark, syn_index):
    r = IndexReader(spark, syn_index)
    tpl = {
        "query": {"match": {"text": {"query": "{{q}}", "operator": "{{op}}"}}},
        "size": "{{k}}",
    }
    body = render_search_template(tpl, {"q": "hash join", "op": "and", "k": 4})
    assert body["size"] == 4 and body["query"]["match"]["text"]["operator"] == "and"
    resp = search(r, body)
    want = bm25_topk(r, ["hash", "join"], k=4, mode="and").collect()
    assert [h["_id"] for h in resp["hits"]["hits"]] == [x["url"] for x in want]
    # partial-string holes substitute textually
    assert render_search_template({"a": "x-{{v}}-y"}, {"v": 9}) == {"a": "x-9-y"}


def test_matched_queries_named_clauses(spark, syn_index):
    """ES named queries: per-hit matched_queries arrays — text clauses
    verified against a brute re-tokenization, docvalue names against the
    docmap values."""
    from engine.query import matched_queries

    r = IndexReader(spark, syn_index)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": {"query": "hash join", "_name": "m_hj"}}}],
                "should": [{"match": {"text": {"query": "table", "_name": "s_table"}}}],
            }
        },
        "size": 8,
    }
    resp = search(r, body)
    assert resp["hits"]["hits"], "bool query must match"
    toks_of = {
        x["url"]: set(standard_tokenize_py(x["text"].lower()))
        for x in spark.read.parquet(os.path.join(SF001, "documents.parquet"))
        .select(F.col("doc_id").cast("string").alias("url"), "text")
        .collect()
        if x["text"]
    }
    for h in resp["hits"]["hits"]:
        toks = toks_of[h["_id"]]
        want = []
        if {"hash", "join"} & toks:  # match operator=or
            want.append("m_hj")
        if "table" in toks:
            want.append("s_table")
        assert h["matched_queries"] == want, h["_id"]

    # docvalue-named filter clause (bool must + filter composes)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": "hash"}}],
                "filter": [{"term": {"lang": {"value": "en", "_name": "f_en"}}}],
            }
        },
        "size": 5,
    }
    resp = search(r, body)
    langs = {
        x["url"]: x["lang"]
        for x in spark.read.parquet(os.path.join(syn_index, "docmap"))
        .select("url", "lang").collect()
    }
    assert resp["hits"]["hits"]
    for h in resp["hits"]["hits"]:
        assert langs[h["_id"]] == "en"
        assert h["matched_queries"] == ["f_en"]

    # engine primitive: and-operator needs every term; absent term kills
    # an 'and' clause but not an 'or' clause; unknown url matches nothing
    urls = [h["_id"] for h in resp["hits"]["hits"]][:3] + ["no-such-url"]
    got = matched_queries(
        r, urls,
        {
            "and_hj": (["hash", "join"], "and"),
            "and_ghost": (["hash", "zzzzabsentterm"], "and"),
            "or_ghost": (["hash", "zzzzabsentterm"], "or"),
        },
    )
    for u in urls[:3]:
        toks = toks_of[u]
        assert ("and_hj" in got[u]) == ({"hash", "join"} <= toks)
        assert "and_ghost" not in got[u]
        assert ("or_ghost" in got[u]) == ("hash" in toks)
    assert got["no-such-url"] == []


def test_search_explain_true(spark, syn_index):
    """ES `"explain": true`: per-hit _explanation trees whose detail
    contributions (unrounded sum asserted to 6dp) reconstruct the hit's
    score; match_all gets the constant leaf; non-term-scored bodies
    raise, mirroring the aggs/sort gate."""
    r = IndexReader(spark, syn_index)
    resp = search(
        r, {"query": {"match": {"text": "hash join"}}, "size": 5,
            "explain": True},
    )
    hits = resp["hits"]["hits"]
    assert hits
    for h in hits:
        ex = h["_explanation"]
        assert ex["value"] == h["_score"]
        got = sum(d["value"] for d in ex["details"])
        assert abs(got - h["_score"]) < 2e-6  # details rounded 6dp
        assert all("weight(text:" in d["description"] for d in ex["details"])

    resp = search(r, {"query": {"match_all": {}}, "size": 3,
                      "explain": True})
    for h in resp["hits"]["hits"]:
        assert h["_explanation"] == {
            "value": 1.0, "description": "*:*", "details": []}

    with pytest.raises(ValueError):
        search(r, {"query": {"dis_max": {"queries": [
            {"match": {"text": "hash"}}, {"match": {"text": "table"}}]}},
            "size": 3, "explain": True})
