"""Multi-field text indexing (ES multi-field mapping: the reference stores
one value indexed nine ways, config/search_scheme.json:140-180; a web corpus
indexes title+body). Correctness judges:

- a brute-force numpy oracle computing per-field BM25 with per-field
  df/avgdl, blended per ES multi_match semantics (best_fields /
  most_fields / cross_fields);
- the federation identity: a two-field index's per-field views must score
  exactly like two separately built single-field indexes (same corpus, no
  rejects, so doc ids / stats coincide by construction).
"""

from __future__ import annotations

import math
import random

import pytest

from engine.index_build import build_index
from engine.oracle import analyze_query_py
from engine.query import IndexReader, bm25_multifield_topk, bm25_topk

K1, B = 1.2, 0.75

VOCAB = [
    "web", "page", "search", "index", "spark", "query", "term", "data",
    "crawl", "text", "rank", "score", "title", "body", "engine", "open",
]


def _mk_docs(n: int = 120, with_nulls: bool = True):
    rng = random.Random(7)
    rows = []
    for i in range(n):
        text = " ".join(rng.choices(VOCAB, k=rng.randint(5, 30)))
        title = " ".join(rng.choices(VOCAB, k=rng.randint(1, 5)))
        if with_nulls and i % 17 == 0:
            title = None
        elif with_nulls and i % 23 == 0:
            title = ""
        rows.append((f"u{i:04d}", text, title))
    return rows


class _FieldOracle:
    """Full per-doc BM25 score map for ONE field over valid docs."""

    def __init__(self, docs: list[tuple[str, str | None]]):
        from collections import Counter

        self.tfs, self.dls, self.urls = [], [], []
        self.df: Counter = Counter()
        for url, txt in docs:
            toks = analyze_tokens(txt or "")
            c = Counter(toks)
            self.urls.append(url)
            self.tfs.append(c)
            self.dls.append(len(toks))
            self.df.update(c.keys())
        self.n_docs = len(self.urls)
        self.avgdl = sum(self.dls) / self.n_docs if self.n_docs else 0.0

    def idf(self, t: str) -> float:
        df = self.df.get(t, 0)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def impact(self, t: str, i: int) -> float:
        tf = self.tfs[i].get(t, 0)
        if not tf:
            return 0.0
        norm = K1 * (1.0 - B + B * self.dls[i] / self.avgdl)
        return tf / (tf + norm)

    def scores(self, terms: list[str]) -> dict[str, float]:
        out = {}
        for i, url in enumerate(self.urls):
            s = sum(self.idf(t) * self.impact(t, i) for t in terms)
            if s > 0:
                out[url] = s
        return out


def analyze_tokens(s: str) -> list[str]:
    from engine.textnorm import standard_tokenize_py

    return standard_tokenize_py(s.lower())


def _oracle_topk(rows, terms, mtype, boosts, tie_breaker, k=10):
    """Brute-force multi-field blend over (url, text, title) rows."""
    fx = _FieldOracle([(u, t) for u, t, _ in rows])
    ft = _FieldOracle([(u, ti) for u, _, ti in rows])
    oracles = {"text": fx, "title": ft}
    per_field = {
        f: {
            u: boosts[f] * s
            for u, s in oracles[f].scores(terms).items()
        }
        for f in boosts
    }
    urls = set().union(*[set(v) for v in per_field.values()])
    scored = []
    if mtype == "cross_fields":
        n = fx.n_docs
        for u in urls:
            s = 0.0
            for t in terms:
                dfb = max(fx.df.get(t, 0), ft.df.get(t, 0))
                if not dfb:
                    continue
                idf = math.log(1.0 + (n - dfb + 0.5) / (dfb + 0.5))
                iu = fx.urls.index(u)
                imp = max(
                    boosts["text"] * fx.impact(t, iu),
                    boosts["title"] * ft.impact(t, iu),
                )
                s += idf * imp
            if s > 0:
                scored.append((u, s))
    else:
        for u in urls:
            vals = [per_field[f].get(u, 0.0) for f in boosts]
            tot = sum(vals)
            s = tot if mtype == "most_fields" else max(vals) + tie_breaker * (tot - max(vals))
            scored.append((u, s))
    scored.sort(key=lambda p: (-round(p[1], 6), p[0]))
    return scored[:k]


@pytest.fixture(scope="module")
def mf_index(spark, tmp_path_factory):
    rows = _mk_docs(with_nulls=True)
    df = spark.createDataFrame(rows, "url string, text string, title string")
    out = str(tmp_path_factory.mktemp("mf") / "idx")
    man = build_index(
        spark, df, out, n_shards=2, n_buckets=4, bucket_chunk=2,
        text_fields=["text", "title"],
    )
    return out, rows, man


def test_manifest_and_layout(mf_index):
    import os

    out, rows, man = mf_index
    assert man["text_fields"] == ["text", "title"]
    assert set(man["field_stats"]) == {"text", "title"}
    assert os.path.isdir(os.path.join(out, "postings", "field=text"))
    assert os.path.isdir(os.path.join(out, "postings", "field=title"))
    assert os.path.isdir(os.path.join(out, "term_stats", "field=title"))
    # validity bound to field 0: null/empty titles don't reject docs
    assert man["n_docs"] == len(rows)


@pytest.mark.parametrize("mtype,tb", [("best_fields", 0.0), ("best_fields", 0.3),
                                      ("most_fields", 0.0), ("cross_fields", 0.0)])
def test_multifield_vs_oracle(spark, mf_index, mtype, tb):
    out, rows, _ = mf_index
    reader = IndexReader(spark, out)
    q = "web search title"
    terms = analyze_query_py(q)
    # k = whole matched set: engine tie-break is doc_id (shard-hash order),
    # the oracle's is url — comparing the FULL set sorted by (score, url)
    # removes the tie-order dependence without weakening the score check
    got = bm25_multifield_topk(
        reader, q, ["title^2", "text"], k=500, mtype=mtype, tie_breaker=tb
    ).collect()
    want = _oracle_topk(rows, terms, mtype, {"title": 2.0, "text": 1.0}, tb, k=500)
    assert sorted((r["url"], round(r["score"], 6)) for r in got) == sorted(
        (u, round(s, 6)) for u, s in want
    )


def test_spark_path_rank_identical(spark, mf_index):
    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    loc = bm25_multifield_topk(
        reader, "spark index engine", ["title^2", "text"], k=10,
        mtype="best_fields", tie_breaker=0.3, execution="local",
    ).collect()
    spk = bm25_multifield_topk(
        reader, "spark index engine", ["title^2", "text"], k=10,
        mtype="best_fields", tie_breaker=0.3, execution="spark",
    ).collect()
    assert [(r["url"], round(r["score"], 9)) for r in loc] == [
        (r["url"], round(r["score"], 9)) for r in spk
    ]


def test_field_view_equals_single_field_index(spark, tmp_path_factory):
    """Judge-suggested identity: a two-field index queried per field is
    rank-and-score identical to two separately built single-field indexes
    (no-null corpus so stats/doc-ids coincide)."""
    rows = _mk_docs(80, with_nulls=False)
    df = spark.createDataFrame(rows, "url string, text string, title string")
    base = tmp_path_factory.mktemp("mf_eq")
    both = str(base / "both")
    solo_t = str(base / "solo_title")
    build_index(spark, df, both, n_shards=2, n_buckets=4,
                text_fields=["text", "title"])
    build_index(spark, df, solo_t, n_shards=2, n_buckets=4,
                text_fields=["title"])
    rb = IndexReader(spark, both).for_field("title")
    rs = IndexReader(spark, solo_t)
    for q in ("web page", "index engine rank", "title"):
        a = bm25_topk(rb, q, k=10).collect()
        b = bm25_topk(rs, q, k=10).collect()
        assert [(r["url"], round(r["score"], 9)) for r in a] == [
            (r["url"], round(r["score"], 9)) for r in b
        ], q


def test_resume_is_noop(spark, mf_index):
    out, rows, man = mf_index
    man2 = build_index(
        spark, spark.createDataFrame(rows, "url string, text string, title string"),
        out, n_shards=2, n_buckets=4, bucket_chunk=2,
        text_fields=["text", "title"], resume=True,
    )
    assert man2["n_docs"] == man["n_docs"]
    assert man2["field_stats"] == man["field_stats"]


def test_dsl_multi_match_routes(spark, mf_index):
    from engine.dsl import search
    from engine.query import bm25_multifield_topk

    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    body = {
        "query": {
            "multi_match": {
                "query": "web search",
                "fields": ["title^2", "text"],
                "type": "best_fields",
                "tie_breaker": 0.3,
            }
        },
        "size": 5,
    }
    resp = search(reader, body)
    want = bm25_multifield_topk(
        reader, "web search", ["title^2", "text"], k=5,
        mtype="best_fields", tie_breaker=0.3,
    ).collect()
    assert [h["_id"] for h in resp["hits"]["hits"]] == [r["url"] for r in want]
    # match on the secondary field routes through the field view
    resp2 = search(reader, {"query": {"match": {"title": "web"}}, "size": 5})
    want2 = bm25_topk(reader.for_field("title"), "web", k=5).collect()
    assert [h["_id"] for h in resp2["hits"]["hits"]] == [r["url"] for r in want2]
    # unknown field still raises cleanly
    with pytest.raises(ValueError):
        search(reader, {"query": {"match": {"nope": "web"}}})


def test_multifield_positional_phrase(spark, tmp_path_factory):
    """index_options='positions' composes with text_fields: each field's
    pass carries its own position stream, so match_phrase works per field
    view with that field's stats."""
    from engine.query import match_phrase_topk

    rows = [
        ("p1", "alpha beta gamma", "red green blue"),
        ("p2", "beta alpha gamma", "green red blue"),
        ("p3", "alpha beta again alpha beta", "blue red green red"),
        ("p4", "gamma gamma", "red green"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, title string")
    out = str(tmp_path_factory.mktemp("mfpos") / "idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4,
                text_fields=["text", "title"], index_options="positions")
    r = IndexReader(spark, out)
    got_text = {x["url"] for x in match_phrase_topk(r, "alpha beta", k=10).collect()}
    assert got_text == {"p1", "p3"}
    got_title = {
        x["url"]
        for x in match_phrase_topk(r.for_field("title"), "red green", k=10).collect()
    }
    assert got_title == {"p1", "p3", "p4"}
    # and the phrase is field-scoped: "red green" never matches in text
    assert not match_phrase_topk(r, "red green", k=10).collect()


def test_unknown_field_raises(spark, mf_index):
    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    with pytest.raises(ValueError, match="not indexed"):
        bm25_multifield_topk(reader, "web", ["nope"], k=5)


def _combined_oracle(rows, terms, boosts, k=500):
    """Brute-force ES combined_fields (Lucene CombinedFieldQuery): the
    fields score as ONE synthetic field — tf and doc length are the
    boost-weighted sums across fields, avgdl the boost-weighted sum of
    per-field avgdls, idf the max-df blend."""
    fx = _FieldOracle([(u, t) for u, t, _ in rows])
    ft = _FieldOracle([(u, ti) for u, _, ti in rows])
    bx, bt = boosts["text"], boosts["title"]
    avgdl_c = bx * fx.avgdl + bt * ft.avgdl
    scored = []
    for i, u in enumerate(fx.urls):
        dl_c = bx * fx.dls[i] + bt * ft.dls[i]
        s = 0.0
        for t in terms:
            dfb = max(fx.df.get(t, 0), ft.df.get(t, 0))
            if not dfb:
                continue
            tfc = bx * fx.tfs[i].get(t, 0) + bt * ft.tfs[i].get(t, 0)
            if not tfc:
                continue
            idf = math.log(1.0 + (fx.n_docs - dfb + 0.5) / (dfb + 0.5))
            s += idf * tfc / (tfc + K1 * (1.0 - B + B * dl_c / avgdl_c))
        if s > 0:
            scored.append((u, s))
    scored.sort(key=lambda p: (-round(p[1], 6), p[0]))
    return scored[:k]


def test_combined_fields_vs_oracle(spark, mf_index):
    out, rows, _ = mf_index
    reader = IndexReader(spark, out)
    q = "web search title"
    got = bm25_multifield_topk(
        reader, q, ["title^2", "text"], k=500, mtype="combined_fields"
    ).collect()
    want = _combined_oracle(rows, analyze_query_py(q), {"title": 2.0, "text": 1.0})
    assert sorted((r["url"], round(r["score"], 6)) for r in got) == sorted(
        (u, round(s, 6)) for u, s in want
    )


def test_combined_fields_paths_identical(spark, mf_index):
    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    loc = bm25_multifield_topk(
        reader, "spark index engine", ["title^2", "text"], k=10,
        mtype="combined_fields", execution="local",
    ).collect()
    spk = bm25_multifield_topk(
        reader, "spark index engine", ["title^2", "text"], k=10,
        mtype="combined_fields", execution="spark",
    ).collect()
    assert [(r["url"], round(r["score"], 9)) for r in loc] == [
        (r["url"], round(r["score"], 9)) for r in spk
    ]
    assert loc  # non-degenerate comparison


def test_combined_fields_single_field_is_plain_match(spark, mf_index):
    """combined_fields over ONE unboosted field degenerates to the plain
    match score: tf_c = tf, dl_c = dl, avgdl_c = avgdl, blended df = df."""
    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    a = bm25_multifield_topk(
        reader, "web page data", ["text"], k=10, mtype="combined_fields"
    ).collect()
    b = bm25_topk(reader, "web page data", k=10).collect()
    assert [(r["url"], round(r["score"], 9)) for r in a] == [
        (r["url"], round(r["score"], 9)) for r in b
    ]


def test_combined_fields_dsl_and_guards(spark, mf_index):
    from engine.dsl import search

    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    body = {
        "query": {
            "combined_fields": {
                "query": "web search",
                "fields": ["title^2", "text"],
            }
        },
        "size": 5,
    }
    resp = search(reader, body)
    want = bm25_multifield_topk(
        reader, "web search", ["title^2", "text"], k=5, mtype="combined_fields"
    ).collect()
    assert [h["_id"] for h in resp["hits"]["hits"]] == [r["url"] for r in want]
    assert [round(h["_score"], 9) for h in resp["hits"]["hits"]] == [
        round(r["score"], 9) for r in want
    ]
    # ES contract: combined_fields boosts must be >= 1
    with pytest.raises(ValueError, match=">= 1"):
        bm25_multifield_topk(
            reader, "web", ["title^0.5", "text"], k=5, mtype="combined_fields"
        )
    # operator=and (round-5 lift): every term required in >= 1 field
    resp_and = search(reader, {"query": {"combined_fields": {
        "query": "web search", "fields": ["title", "text"],
        "operator": "and"}}, "size": 500})
    resp_or = search(reader, {"query": {"combined_fields": {
        "query": "web search", "fields": ["title", "text"]}}, "size": 500})
    or_scores = {h["_id"]: h["_score"] for h in resp_or["hits"]["hits"]}
    and_ids = {h["_id"] for h in resp_and["hits"]["hits"]}
    assert and_ids < set(or_scores)  # strict subset on this corpus
    for h in resp_and["hits"]["hits"]:  # AND never rescores survivors
        assert h["_score"] == pytest.approx(or_scores[h["_id"]], rel=1e-12)
    with pytest.raises(ValueError, match="unknown multi_match type"):
        bm25_multifield_topk(reader, "web", ["text"], k=5, mtype="nope")


@pytest.fixture(scope="module")
def mf_dv_index(spark, tmp_path_factory):
    """Two-field index WITH docvalues (grp, nc) for filter-context tests.

    grp cycles a/b/c by row number; nc is each doc's text length — both
    deterministic so the brute-force restriction below is exact."""
    rows = _mk_docs(100, with_nulls=False)
    aug = [
        (u, t, ti, "abc"[i % 3], len(t)) for i, (u, t, ti) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        aug, "url string, text string, title string, grp string, nc long"
    )
    out = str(tmp_path_factory.mktemp("mf_dv") / "idx")
    build_index(
        spark, df, out, n_shards=2, n_buckets=4, bucket_chunk=2,
        text_fields=["text", "title"], docvalue_cols=["grp", "nc"],
    )
    return out, aug


@pytest.mark.parametrize("execution", ["local", "spark"])
@pytest.mark.parametrize("mtype,tb", [("best_fields", 0.3), ("cross_fields", 0.0)])
def test_multifield_filter_context(spark, mf_dv_index, mtype, tb, execution):
    """ES filter context over a multi-field query: the filtered top-k is
    the UNFILTERED full result restricted to filter-matching docs —
    surviving docs keep their exact unfiltered scores (filter clauses
    never contribute to or alter scoring; idf/avgdl stay corpus-global)."""
    from engine.docvalues import RangeFilter, TermFilter

    out, aug = mf_dv_index
    reader = IndexReader(spark, out)
    q = "web search title data"
    filters = [TermFilter("grp", "b"), RangeFilter("nc", 40, 150)]
    got = bm25_multifield_topk(
        reader, q, ["title^2", "text"], k=500, mtype=mtype, tie_breaker=tb,
        filters=filters, execution=execution,
    ).collect()
    allowed = {u for u, t, _, g, nc in aug if g == "b" and 40 <= nc < 150}
    full = bm25_multifield_topk(
        reader, q, ["title^2", "text"], k=500, mtype=mtype, tie_breaker=tb,
        execution=execution,
    ).collect()
    want = {r["url"]: r["score"] for r in full if r["url"] in allowed}
    assert {r["url"] for r in got} == set(want)
    for r in got:
        assert r["score"] == pytest.approx(want[r["url"]], rel=1e-12)


def test_multifield_filter_missing_docvalue_raises(spark, mf_index):
    from engine.docvalues import TermFilter

    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    with pytest.raises(ValueError, match="docvalue"):
        bm25_multifield_topk(
            reader, "web", ["title", "text"], k=5,
            filters=[TermFilter("grp", "b")],
        )


def test_dsl_multifield_filter_context(spark, mf_dv_index):
    """ES body shape: bool {must: [multi_match], filter: [term, range]}
    routes to the multi-field kernel with the composed docvalue mask;
    combined_fields composes the same way. Hits equal the direct
    bm25_multifield_topk(filters=...) call."""
    from engine.docvalues import RangeFilter, TermFilter
    from engine.dsl import search

    out, _ = mf_dv_index
    reader = IndexReader(spark, out)
    filters = [TermFilter("grp", "b"), RangeFilter("nc", 40, 150)]
    for mm_key, extra in [
        ("multi_match", {"type": "best_fields", "tie_breaker": 0.3}),
        ("combined_fields", {}),
    ]:
        body = {
            "query": {"bool": {
                "must": [{mm_key: {
                    "query": "web search data",
                    "fields": ["title^2", "text"], **extra,
                }}],
                "filter": [
                    {"term": {"grp": "b"}},
                    {"range": {"nc": {"gte": 40, "lt": 150}}},
                ],
            }},
            "size": 10,
        }
        resp = search(reader, body)
        mtype = extra.get("type", mm_key if mm_key == "combined_fields" else "best_fields")
        want = bm25_multifield_topk(
            reader, "web search data", ["title^2", "text"], k=10,
            mtype=mtype, tie_breaker=extra.get("tie_breaker", 0.0),
            filters=filters,
        ).collect()
        assert [h["_id"] for h in resp["hits"]["hits"]] == [r["url"] for r in want]
        assert [round(h["_score"], 9) for h in resp["hits"]["hits"]] == [
            round(r["score"], 9) for r in want
        ]


def test_multifield_phrase_dismax(spark, tmp_path_factory):
    """multi_match type=phrase over two fields: dis_max of per-field
    match_phrase scores (max + tie_breaker * rest), title boosted 2x.
    Blend identity vs the independently-oracled per-field phrase kernels;
    DSL multi_match type=phrase routes both single- and multi-field."""
    from engine.dsl import search
    from engine.query import bm25_multifield_phrase_topk, match_phrase_topk

    rows = [
        ("p1", "alpha beta gamma", "red green blue alpha beta"),
        ("p2", "beta alpha gamma alpha beta", "green red blue"),
        ("p3", "alpha beta again alpha beta", "alpha beta red"),
        ("p4", "gamma gamma", "red green alpha"),
        ("p5", "alpha beta", "alpha beta"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, title string")
    out = str(tmp_path_factory.mktemp("mfph") / "idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4,
                text_fields=["text", "title"], index_options="positions")
    r = IndexReader(spark, out)
    tb = 0.3
    per_field = {}
    for fld, boost in (("text", 1.0), ("title", 2.0)):
        rv = r if fld == "text" else r.for_field("title")
        per_field[fld] = {
            x["url"]: boost * x["score"]
            for x in match_phrase_topk(rv, "alpha beta", k=100).collect()
        }
    urls = set(per_field["text"]) | set(per_field["title"])
    want = {}
    for u in urls:
        vals = [per_field[f].get(u, 0.0) for f in per_field]
        want[u] = max(vals) + tb * (sum(vals) - max(vals))
    got = bm25_multifield_phrase_topk(
        r, "alpha beta", ["title^2", "text"], k=100, tie_breaker=tb
    ).collect()
    assert {x["url"]: round(x["score"], 9) for x in got} == {
        u: round(s, 9) for u, s in want.items()
    }
    # DSL routes: multi-field phrase == the kernel; named-field phrase
    resp = search(r, {"query": {"multi_match": {
        "query": "alpha beta", "fields": ["title^2", "text"],
        "type": "phrase", "tie_breaker": tb}}, "size": 100})
    assert [h["_id"] for h in resp["hits"]["hits"]] == [x["url"] for x in got]
    resp_t = search(r, {"query": {"match_phrase": {"title": "alpha beta"}},
                        "size": 100})
    assert {h["_id"] for h in resp_t["hits"]["hits"]} == set(per_field["title"])


@pytest.mark.parametrize("mtype", ["best_fields", "most_fields", "cross_fields"])
def test_multifield_operator_and(spark, mf_index, mtype):
    """multi_match operator=and: field-centric for best/most_fields (a
    field scores only where the doc holds ALL query terms IN that field;
    docs no field fully matched drop), term-centric for cross_fields
    (every term in >= 1 field). Surviving docs keep their operator=or
    blend scores for cross_fields; for best/most a partially-matching
    field's contribution is zeroed."""
    out, rows, _ = mf_index
    reader = IndexReader(spark, out)
    q = "web search"
    terms = analyze_query_py(q)
    tok = {u: (analyze_tokens(t or ""), analyze_tokens(ti or ""))
           for u, t, ti in rows}

    def field_full(u, fi):
        return all(t in tok[u][fi] for t in terms)

    got = bm25_multifield_topk(
        reader, q, ["title^2", "text"], k=500, mtype=mtype, operator="and",
    ).collect()
    got_ids = {r["url"] for r in got}
    if mtype == "cross_fields":
        want = {u for u in tok
                if all(t in tok[u][0] or t in tok[u][1] for t in terms)}
        # scores identical to the or-blend for survivors
        or_scores = {r["url"]: r["score"] for r in bm25_multifield_topk(
            reader, q, ["title^2", "text"], k=500, mtype=mtype).collect()}
        for r in got:
            assert r["score"] == pytest.approx(or_scores[r["url"]], rel=1e-12)
    else:
        want = {u for u in tok if field_full(u, 0) or field_full(u, 1)}
        # per-field zeroing: a doc fully matched ONLY by text scores as
        # the text field alone — equal to the single-field AND match
        only_text = [u for u in want if field_full(u, 0) and not field_full(u, 1)]
        if only_text:
            single = {r["url"]: r["score"] for r in bm25_topk(
                reader, terms, k=500, mode="and").collect()}
            by_url = {r["url"]: r["score"] for r in got}
            for u in only_text:
                assert by_url[u] == pytest.approx(single[u], rel=1e-12)
    assert got_ids == want, mtype
    assert got_ids, f"{mtype}: empty AND set — weak corpus"


def test_multifield_minimum_should_match(spark, mf_index):
    """multi_match minimum_should_match=N (operator=or): at least N of
    the analyzed terms required — field-centric for best_fields (>= N in
    one field), term-centric for cross_fields (>= N across fields).
    Survivor scores equal the plain or-blend; msm above the clause count
    matches nothing (Lucene, not clamped)."""
    from engine.dsl import search

    out, rows, _ = mf_index
    reader = IndexReader(spark, out)
    q, n = "web search data", 2
    terms = analyze_query_py(q)
    tok = {u: (analyze_tokens(t or ""), analyze_tokens(ti or ""))
           for u, t, ti in rows}
    for mtype in ("best_fields", "cross_fields"):
        got = bm25_multifield_topk(
            reader, q, ["title^2", "text"], k=500, mtype=mtype,
            minimum_should_match=n,
        ).collect()
        if mtype == "cross_fields":
            want = {u for u in tok if sum(
                1 for t in terms if t in tok[u][0] or t in tok[u][1]) >= n}
        else:
            want = {u for u in tok if any(
                sum(1 for t in terms if t in tok[u][fi]) >= n
                for fi in (0, 1))}
        assert {r["url"] for r in got} == want, mtype
        assert want, mtype
    # DSL routes msm; msm > clause count matches nothing
    resp = search(reader, {"query": {"multi_match": {
        "query": q, "fields": ["title^2", "text"],
        "minimum_should_match": 2}}, "size": 500})
    assert len(resp["hits"]["hits"]) > 0
    none = bm25_multifield_topk(
        reader, q, ["title^2", "text"], k=10, minimum_should_match=99,
    ).collect()
    assert none == []
    with pytest.raises(ValueError, match="operator=and already"):
        bm25_multifield_topk(
            reader, q, ["title", "text"], operator="and",
            minimum_should_match=2,
        )


@pytest.mark.parametrize("kind", ["phrase_prefix", "bool_prefix"])
def test_multifield_prefix_kinds_dismax(spark, tmp_path_factory, kind):
    """multi_match type=phrase_prefix / bool_prefix over two fields:
    dis_max of per-field leg scores (max + tie_breaker * rest), title
    boosted 2x — blend identity vs the independently-tested single-field
    kernels; DSL routes both the multi-field and single-field shapes."""
    from engine.dsl import search
    from engine.query import (
        bm25_multifield_phrase_topk,
        match_bool_prefix_topk,
        match_phrase_prefix_topk,
    )

    rows = [
        ("p1", "alpha beta gamma", "red green blue alpha betamax"),
        ("p2", "beta alpha gamma alpha betty", "green red blue"),
        ("p3", "alpha beta again alpha beta", "alpha betator red"),
        ("p4", "gamma gamma", "red green alpha"),
        ("p5", "alpha beta", "alpha beta"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, title string")
    out = str(tmp_path_factory.mktemp(f"mfpk_{kind}") / "idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4,
                text_fields=["text", "title"], index_options="positions")
    r = IndexReader(spark, out)
    tb = 0.3
    per_field = {}
    for fld, boost in (("text", 1.0), ("title", 2.0)):
        rv = r if fld == "text" else r.for_field("title")
        leg = (
            match_phrase_prefix_topk(rv, "alpha bet", k=100)
            if kind == "phrase_prefix"
            else match_bool_prefix_topk(rv, "alpha bet", k=100)
        )
        per_field[fld] = {x["url"]: boost * x["score"] for x in leg.collect()}
    urls = set(per_field["text"]) | set(per_field["title"])
    assert urls, "weak corpus — no leg matched"
    want = {}
    for u in urls:
        vals = [per_field[f].get(u, 0.0) for f in per_field]
        want[u] = max(vals) + tb * (sum(vals) - max(vals))
    got = bm25_multifield_phrase_topk(
        r, "alpha bet", ["title^2", "text"], k=100, tie_breaker=tb, kind=kind
    ).collect()
    assert {x["url"]: round(x["score"], 9) for x in got} == {
        u: round(s, 9) for u, s in want.items()
    }
    # DSL multi-field route == the kernel
    resp = search(r, {"query": {"multi_match": {
        "query": "alpha bet", "fields": ["title^2", "text"],
        "type": kind, "tie_breaker": tb}}, "size": 100})
    assert [h["_id"] for h in resp["hits"]["hits"]] == [x["url"] for x in got]
    assert [round(h["_score"], 9) for h in resp["hits"]["hits"]] == [
        round(x["score"], 9) for x in got
    ]
    # DSL single-field route == the single-field kernel on that field
    resp_t = search(r, {"query": {"multi_match": {
        "query": "alpha bet", "fields": ["title"], "type": kind}},
        "size": 100})
    assert {h["_id"] for h in resp_t["hits"]["hits"]} == {
        u for u, s in per_field["title"].items()
    }


def test_three_field_index(spark, tmp_path_factory):
    """THREE analyzed fields in one index: multi_match blends all three
    (brute per-field oracle), each field is independently queryable, and
    the per-field views expose their own stats — guards against hidden
    two-field assumptions in the blend kernels."""
    from engine.dsl import search
    from engine.oracle import analyze_query_py as _an

    rows = [
        ("t1", "alpha beta gamma", "red green", "cat dog alpha"),
        ("t2", "beta beta", "green alpha blue", "dog bird"),
        ("t3", "alpha alpha beta", "red blue", "cat alpha bird"),
        ("t4", "gamma gamma", "alpha green red", "bird bird cat"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, title string, snippet string")
    out = str(tmp_path_factory.mktemp("mf3") / "idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4,
                text_fields=["text", "title", "snippet"])
    r = IndexReader(spark, out)
    assert set(r.text_fields) == {"text", "title", "snippet"}
    q = "alpha"
    # brute per-field BM25 (K1/B module constants), most_fields = sum
    import math as _m

    def field_scores(fi):
        toks = [x[1 + fi].split() for x in rows]
        n = len(toks)
        avgdl = sum(len(t) for t in toks) / n
        df_ = sum(1 for t in toks if q in t)
        idf = _m.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
        out_ = {}
        for (u, *_), t in zip(rows, toks):
            tf = t.count(q)
            if tf:
                out_[u] = idf * tf / (tf + K1 * (1 - B + B * len(t) / avgdl))
        return out_
    per = [field_scores(i) for i in range(3)]
    boosts = {"text": 1.0, "title": 2.0, "snippet": 3.0}
    want = {}
    for i, fname in enumerate(("text", "title", "snippet")):
        for u, s_ in per[i].items():
            want[u] = want.get(u, 0.0) + boosts[fname] * s_
    got = bm25_multifield_topk(
        r, _an(q), ["text", "title^2", "snippet^3"], k=10,
        mtype="most_fields",
    ).collect()
    assert {x["url"]: round(x["score"], 9) for x in got} == {
        u: round(s_, 9) for u, s_ in want.items()}
    # the third field is independently queryable through the DSL
    resp = search(r, {"query": {"match": {"snippet": "cat"}}, "size": 10})
    cats = {u for u, t, ti, sn in rows if "cat" in sn.split()}
    assert {h["_id"] for h in resp["hits"]["hits"]} == cats


def test_repeated_field_raises(spark, mf_index):
    """A field listed twice would read (and score) its postings twice on
    one path only; every multi-field entry point rejects it."""
    from engine.dsl import search
    from engine.query import multifield_matcher

    out, _, _ = mf_index
    reader = IndexReader(spark, out)
    dup = ["title", "title^2", "text"]
    with pytest.raises(ValueError, match="more than once"):
        bm25_multifield_topk(reader, "web search", dup, k=5)
    with pytest.raises(ValueError, match="more than once"):
        multifield_matcher(reader, dup, "web search")
    with pytest.raises(ValueError, match="more than once"):
        search(reader, {"query": {"multi_match": {
            "query": "web search", "fields": dup}}})


@pytest.fixture(scope="module")
def mf_tomb_index(spark, mf_index, tmp_path_factory):
    """mf_index copy with every 5th doc tombstoned."""
    import shutil

    from engine.deletes import delete_docs

    src, rows, _ = mf_index
    out = str(tmp_path_factory.mktemp("mf_tomb") / "idx")
    shutil.copytree(src, out)
    victims = {u for u, _, _ in rows[::5]}
    assert delete_docs(spark, out, sorted(victims)) == len(victims)
    return out, victims


@pytest.mark.parametrize("operator", ["or", "and"])
@pytest.mark.parametrize(
    "mtype", ["best_fields", "most_fields", "cross_fields", "combined_fields"]
)
def test_multifield_tombstoned_paths_identical(
    spark, mf_tomb_index, monkeypatch, mtype, operator
):
    """Driver-local, Spark and forced-Spark (auto over the gate, no local
    read possible) runs agree on every (url, doc_id, score); no deleted
    doc comes back."""
    out, victims = mf_tomb_index
    reader = IndexReader(spark, out)

    def run(execution):
        return [
            (r["url"], r["doc_id"], r["score"])
            for r in bm25_multifield_topk(
                reader, "web search title", ["title^2", "text"], k=500,
                mtype=mtype, tie_breaker=0.3, execution=execution,
                operator=operator,
            ).collect()
        ]

    loc = run("local")
    assert loc, f"{mtype}/{operator}: empty result — weak corpus"
    assert not {u for u, _, _ in loc} & victims
    assert run("spark") == loc

    def no_local_read(self, terms):
        raise AssertionError("postings_local on the forced-Spark path")

    monkeypatch.setattr(reader, "LOCAL_MAX_POSTINGS", 0)
    monkeypatch.setattr(IndexReader, "postings_local", no_local_read)
    assert run("auto") == loc


def test_postings_sources_one_read(spark, mf_index, tmp_path_factory):
    """FieldPostings and MultiFieldPostings hand the driver path (local())
    and a Spark task (shard_read(), shipped cloudpickled) the same rows
    for every shard: _PostRow fields (plus the field tag) on a
    non-positional read, with pos_bin/pos_offs on a positional one."""
    from pyspark import cloudpickle

    from engine.query import FieldPostings, MultiFieldPostings, _PosRow, _PostRow

    out, _, _ = mf_index
    rows = [("p1", "alpha beta", "red green"), ("p2", "beta gamma", "green"),
            ("p3", "green beta", "alpha")]
    df = spark.createDataFrame(rows, "url string, text string, title string")
    pos = str(tmp_path_factory.mktemp("mfpos_cols") / "idx")
    build_index(spark, df, pos, n_shards=2, n_buckets=4,
                text_fields=["text", "title"], index_options="positions")
    plain, posr = IndexReader(spark, out), IndexReader(spark, pos)
    cases = [
        (FieldPostings(plain, ["web", "search"], 1), _PostRow._fields),
        (MultiFieldPostings(plain, ["title", "text"], ["web"]),
         ("field",) + _PostRow._fields),
        (FieldPostings(posr, ["beta", "green"], 1, needs_pos=True), _PosRow._fields),
        (MultiFieldPostings(posr, ["text", "title"], ["beta", "green"],
                            needs_pos=True), ("field",) + _PosRow._fields),
    ]
    for src, fields in cases:
        by_shard = src.local()
        read = cloudpickle.loads(cloudpickle.dumps(src.shard_read()))
        assert by_shard, "empty read — weak test"
        for shard in range(src.reader.manifest["n_shards"]):
            got = read(shard)
            assert got == by_shard.get(shard, [])
            assert all(r._fields == fields for r in got)


def test_columnar_block_read_matches_dicts(spark, tmp_path_factory):
    """_read_postings builds each row's blocks from the Arrow struct's child
    arrays and list offsets. On a tombstoned two-field positional index,
    for needs_pos False and True, its rows equal the rows rebuilt from
    to_pylist() dicts (blocks through BLOCK_KEYS) field by field,
    multi-block rows included, and decode_rows decodes both identically."""
    import numpy as np
    import pyarrow.dataset as ds

    from engine import postings as P
    from engine.deletes import delete_docs
    from engine.query import _PosRow, _PostRow, _read_postings

    rows = _mk_docs(600)
    df = spark.createDataFrame(rows, "url string, text string, title string")
    out = str(tmp_path_factory.mktemp("mf_blocks") / "idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4,
                text_fields=["text", "title"], index_options="positions")
    assert delete_docs(spark, out, [u for u, _, _ in rows[::5]]) == 120
    reader = IndexReader(spark, out)
    filt = ds.field("term").isin(VOCAB)
    multi = 0
    for field in ("text", "title"):
        fr = reader.for_field(field)
        dataset = fr._pa_dataset(fr._post_sub)
        for needs_pos, row in ((False, _PostRow), (True, _PosRow)):
            got = _read_postings(fr._postings_files(VOCAB), VOCAB, None, needs_pos)
            want: dict[int, list] = {}
            tbl = dataset.to_table(filter=filt, columns=["shard", *row._fields])
            for d in tbl.to_pylist():
                d["blocks"] = [tuple(b[k] for k in P.BLOCK_KEYS) for b in d["blocks"]]
                want.setdefault(d.pop("shard"), []).append(row(**d))
            assert got == want and len(got) == 2
            for shard, rs in got.items():
                for a, b in zip(rs, want[shard]):
                    assert [type(v) for v in a] == [type(v) for v in b]
                multi += sum(len(r.blocks) > 1 for r in rs)
                for a, b in zip(P.decode_rows(rs), P.decode_rows(want[shard])):
                    assert a.dtype == b.dtype and np.array_equal(a, b)
    assert multi, "no multi-block row — weak test"
