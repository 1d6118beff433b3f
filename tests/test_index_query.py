"""End-to-end: index build + BM25 top-k vs the pure-Python oracle
(SURVEY.md 5.3 items 2 and 4 — rank identity and resume idempotency)."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from engine import synth
from engine.index_build import build_index
from engine.oracle import Bm25Oracle
from engine.query import IndexReader, bm25_topk, bm25_topk_dataframe

N_DOCS = 3000


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "pages.parquet"
    synth.write_pages(str(p), N_DOCS)
    return str(p)


@pytest.fixture(scope="module")
def oracle(corpus):
    t = pq.read_table(corpus, columns=["url", "text"])
    urls = t.column("url").to_pylist()
    texts = t.column("text").to_pylist()
    # oracle doc ids must mirror the engine's frozen assignment: dense rank
    # by (shard, url); recompute shard with the same xxhash64 — via Spark is
    # circular, so the oracle keys on url and we map via the docmap instead.
    return urls, texts


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "idx")
    # tiny Arrow batches force encoder group-carry across batch boundaries
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        manifest = build_index(spark, corpus, out, n_shards=4, n_buckets=8, bucket_chunk=3)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    return out, manifest


def _oracle_from_docmap(spark, index_dir, corpus):
    """Build the oracle over (engine doc_id, text) so both sides share ids."""
    t = pq.read_table(corpus, columns=["url", "text"])
    text_by_url = dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select("doc_id", "url").collect()
    docs = [(r["doc_id"], text_by_url[r["url"]]) for r in dm]
    return Bm25Oracle(sorted(docs))


def test_build_outputs(spark, index):
    out, manifest = index
    assert manifest["n_docs"] > N_DOCS * 0.95
    stats = spark.read.parquet(os.path.join(out, "stats")).collect()[0]
    assert stats["n_docs"] == manifest["n_docs"]
    assert stats["n_rejects"] > 0  # synthetic nulls/empties flowed to rejects
    rl = spark.read.parquet(os.path.join(out, "reject_log"))
    reasons = {r["reason"] for r in rl.select("reason").distinct().collect()}
    assert reasons == {"missing_text", "empty_text"}
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.count() > 0
    # S8/ST1 telemetry: per-stage observed metrics (rows, wall, rate)
    metrics = {
        r["metric"]: r["value"]
        for r in spark.read.parquet(os.path.join(out, "metrics")).collect()
    }
    assert metrics["stage:docmap:docs_read"] == manifest["n_docs"]
    assert metrics["stage:docmap:tokens"] == manifest["sum_dl"]
    assert metrics["stage:docmap:docs_per_sec"] > 0
    post_stages = [m for m in metrics if m.startswith("stage:postings:")]
    assert any(m.endswith(":postings_in") for m in post_stages)
    assert any(m.endswith(":postings_per_sec") for m in post_stages)
    total_postings = sum(
        v for m, v in metrics.items() if m.endswith(":postings_in")
    )
    assert total_postings == manifest["sum_dl"]  # every token observed
    # lineage covers every (bucket, shard) posting group
    post = spark.read.parquet(os.path.join(out, "postings"))
    assert lineage.count() == post.select("bucket", "shard").distinct().count()


def test_docmap_deterministic(spark, index, corpus, tmp_path_factory):
    """Same corpus, different parallelism -> identical doc ids."""
    out, _ = index
    out2 = str(tmp_path_factory.mktemp("index2") / "idx")
    build_index(spark, corpus, out2, n_shards=4, n_buckets=8, bucket_chunk=8)
    a = spark.read.parquet(os.path.join(out, "docmap")).select("url", "doc_id", "shard", "local_id")
    b = spark.read.parquet(os.path.join(out2, "docmap")).select("url", "doc_id", "shard", "local_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    shutil.rmtree(out2)


@pytest.mark.parametrize("algo", ["wand", "taat"])
def test_rank_identity_frozen_queries(spark, index, corpus, algo):
    out, _ = index
    reader = IndexReader(spark, out)
    oracle = _oracle_from_docmap(spark, out, corpus)
    assert oracle.n_docs == reader.n_docs
    assert oracle.avgdl == pytest.approx(reader.avgdl, rel=1e-12)
    for q in synth.frozen_queries():
        mode = synth.MODE_BY_KIND[q["kind"]]
        got = bm25_topk(reader, q["terms"], k=q["k"], mode=mode, algo=algo).collect()
        if mode == "prefix":
            exp_terms = oracle.expand_prefix(q["terms"][0])
            expected = oracle.topk(exp_terms, k=q["k"], mode="or")
        else:
            expected = oracle.topk(q["terms"], k=q["k"], mode=mode)
        got_ids = [r["doc_id"] for r in got]
        exp_ids = [d for d, _ in expected]
        assert got_ids == exp_ids, (q, algo, got_ids, exp_ids)
        for r, (_, s) in zip(got, expected):
            assert r["score"] == pytest.approx(s, abs=1e-6), (q, algo)
        if q["kind"] == "absent":
            assert got == []


def test_dataframe_bm25_matches_oracle(spark, index, corpus):
    """The declarative no-index scorer agrees with the oracle too."""
    out, _ = index
    oracle = _oracle_from_docmap(spark, out, corpus)
    dm = spark.read.parquet(os.path.join(out, "docmap")).select("doc_id", "url")
    docs = spark.read.parquet(corpus).join(dm, "url").select("doc_id", "text")
    q = synth.frozen_queries()[0]
    got = bm25_topk_dataframe(docs, q["terms"], k=10).collect()
    expected = oracle.topk(q["terms"], k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, abs=1e-6)


def test_resume_idempotent(spark, corpus, tmp_path_factory, index):
    """Kill-after-partial-buckets -> resume -> logically identical index,
    no duplicate lineage, untouched buckets byte-stable."""
    out, _ = index
    out2 = str(tmp_path_factory.mktemp("index3") / "idx")
    build_index(spark, corpus, out2, n_shards=4, n_buckets=8, bucket_chunk=3, job_id="j1")

    # simulate a crash: drop two checkpointed buckets' dirs AND their
    # checkpoint rows, plus one un-checkpointed partial dir
    import json as _json

    ckpt_path = os.path.join(out2, "checkpoint.jsonl")
    with open(ckpt_path) as f:
        lines = [ln for ln in f if ln.strip()]
    dropped = {"postings:bucket=2", "postings:bucket=5", "term_stats"}
    with open(ckpt_path, "w") as f:
        for ln in lines:
            if _json.loads(ln)["stage"] not in dropped:
                f.write(ln)
    shutil.rmtree(os.path.join(out2, "postings", "bucket=2"))
    # bucket=5 left on disk but NOT checkpointed -> must be wiped + rebuilt

    build_index(spark, corpus, out2, n_shards=4, n_buckets=8, bucket_chunk=3, job_id="j2", resume=True)

    for sub in ["postings", "docmap", "term_stats"]:
        a = spark.read.parquet(os.path.join(out, sub))
        b = spark.read.parquet(os.path.join(out2, sub))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, sub
    # lineage: one row per (bucket, shard), no duplicates after resume
    lin = spark.read.parquet(os.path.join(out2, "lineage"))
    assert lin.count() == lin.select("bucket", "shard").distinct().count()
    # and the resumed index answers queries identically
    reader = IndexReader(spark, out2)
    oracle = _oracle_from_docmap(spark, out2, corpus)
    q = synth.frozen_queries()[5]
    got = [r["doc_id"] for r in bm25_topk(reader, q["terms"], k=10, mode="and").collect()]
    assert got == [d for d, _ in oracle.topk(q["terms"], k=10, mode="and")]
    shutil.rmtree(out2)


def test_shard_offsets_match_docmap(spark, index):
    out, manifest = index
    reader = IndexReader(spark, out)
    offs = reader.shard_offsets()
    assert offs == manifest["shard_offsets"]
    dm = spark.read.parquet(os.path.join(out, "docmap"))
    by_shard = {
        r["shard"]: r["off"]
        for r in dm.groupBy("shard").agg(F.min("doc_id").alias("off")).collect()
    }
    for s, off in by_shard.items():
        assert offs[s] == off


def test_local_and_spark_execution_identical(spark, index, corpus):
    """The driver-side serving path (pyarrow postings read + in-process
    kernels) returns exactly what the Spark scatter-gather path returns,
    for every mode/algo combination in the frozen set."""
    out, _ = index
    reader = IndexReader(spark, out)
    oracle = _oracle_from_docmap(spark, out, corpus)
    for q in synth.frozen_queries():
        mode = synth.MODE_BY_KIND[q["kind"]]
        loc = bm25_topk(reader, q["terms"], k=q["k"], mode=mode, execution="local").collect()
        dist = bm25_topk(reader, q["terms"], k=q["k"], mode=mode, execution="spark").collect()
        assert [(r["url"], r["doc_id"], r["score"]) for r in loc] == [
            (r["url"], r["doc_id"], r["score"]) for r in dist
        ], q
        if mode == "prefix":
            expected = oracle.topk(oracle.expand_prefix(q["terms"][0]), k=q["k"])
        else:
            expected = oracle.topk(q["terms"], k=q["k"], mode=mode)
        assert [r["doc_id"] for r in loc] == [d for d, _ in expected], q


def test_rows_api_identical_to_dataframe_api(spark, index):
    """bm25_topk_rows (serving path, no result DataFrame) returns exactly
    the rows of bm25_topk for every frozen query."""
    from engine.query import bm25_topk_rows

    out, _ = index
    reader = IndexReader(spark, out)
    for q in synth.frozen_queries():
        mode = synth.MODE_BY_KIND[q["kind"]]
        rows = bm25_topk_rows(reader, q["terms"], k=q["k"], mode=mode)
        df = bm25_topk(reader, q["terms"], k=q["k"], mode=mode).collect()
        assert rows == [(r["url"], r["doc_id"], r["score"]) for r in df], q


def test_and_with_absent_term_is_empty(spark, index):
    """Frozen conjunctive semantics: a required term absent from the index
    means NO document matches — identical in the single-query and batch
    paths (and in the pure-Python oracle, oracle.py:73)."""
    from engine.query import bm25_topk_batch

    out, _ = index
    reader = IndexReader(spark, out)
    # 'the' is guaranteed present in the synthetic corpus; the other is not
    terms = ["the", "zzzzabsentterm"]
    assert bm25_topk(reader, terms, k=10, mode="and").collect() == []
    assert bm25_topk_batch(reader, {0: terms}, k=10, mode="and").collect() == []
    # OR mode still ranks on the remaining live term
    assert len(bm25_topk(reader, terms, k=10, mode="or").collect()) > 0


def test_bad_arguments_fail_closed(spark, index):
    """Unknown algo / execution / batch mode values, multi-term
    dictionary rewrites and bad multi_index_topk members raise ValueError
    instead of silently running another path (and not as asserts, which
    vanish under python -O)."""
    from engine.aggs import (
        TermsAgg, collapse_topk, matched_urls, sampler_terms, search_aggs,
        search_sort,
    )
    from engine.query import (
        bm25_dismax_topk, bm25_topk_batch, bm25_topk_rows, multi_index_topk,
    )

    out, _ = index
    reader = IndexReader(spark, out)
    other_k1 = IndexReader(spark, out)
    other_k1.k1 += 0.5
    terms = synth.frozen_queries()[0]["terms"]
    calls = [
        (lambda: bm25_topk(reader, terms, algo="wand_daat"), "algo"),
        (lambda: bm25_topk_rows(reader, terms, algo="bmw"), "algo"),
        (lambda: bm25_topk(reader, terms, execution="cluster"), "execution"),
        (lambda: bm25_dismax_topk(reader, terms, execution="cluster"), "execution"),
        # the aggs.py query contexts ("url" is the docmap id, always there)
        (lambda: search_aggs(reader, terms, TermsAgg("url"), execution="cluster"),
         "execution"),
        (lambda: search_sort(reader, terms, "url", execution="cluster"), "execution"),
        (lambda: collapse_topk(reader, terms, "url", execution="cluster"), "execution"),
        (lambda: sampler_terms(reader, terms, "url", execution="cluster"), "execution"),
        (lambda: matched_urls(reader, terms, execution="cluster"), "execution"),
        (lambda: search_aggs(reader, terms, TermsAgg("url"), src=object()), "matcher"),
        # the batch path took any mode other than "and" as OR
        (lambda: bm25_topk_batch(reader, {0: terms}, mode="prefix"), "mode"),
        # federation: no members, members that disagree on k1/b, and one
        # boost per member
        (lambda: multi_index_topk([], terms), "at least one reader"),
        (lambda: multi_index_topk([reader, other_k1], terms), "k1/b"),
        (lambda: multi_index_topk([reader], terms, boosts=[1.0, 2.0]), "one boost"),
    ] + [
        (lambda m=m: bm25_topk(reader, ["the", "and"], mode=m), "one term")
        for m in ("prefix", "fuzzy", "wildcard", "regexp")
    ]
    for call, match in calls:
        with pytest.raises(ValueError, match=match):
            call()


def test_expand_prefix_capped(spark, index):
    """Prefix expansion is bounded (driver-OOM guard) and df-ordered."""
    out, _ = index
    reader = IndexReader(spark, out)
    capped = reader.expand_prefix("t", max_expansions=3)
    assert len(capped) <= 3
    full = reader.expand_prefix("t", max_expansions=100000)
    if len(full) > 3:
        stats = reader.term_stats(full)
        kept_min_df = min(stats[t] for t in capped)
        dropped_max_df = max(stats[t] for t in full if t not in capped)
        assert kept_min_df >= dropped_max_df  # highest-df first


def test_batch_query_matches_per_query(spark, index, corpus):
    """bm25_topk_batch (one distributed pass over many queries) returns the
    same top-k as the per-query path for every frozen OR/AND query."""
    from engine.query import bm25_topk_batch

    out, _ = index
    reader = IndexReader(spark, out)
    frozen = [q for q in synth.frozen_queries() if q["kind"] in ("single", "and", "or", "absent")]
    queries = {q["query_id"]: q["terms"] for q in frozen if q["kind"] != "and"}
    got = bm25_topk_batch(reader, queries, k=10, mode="or").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for q in frozen:
        if q["kind"] == "and":
            continue
        exp = bm25_topk(reader, q["terms"], k=10, mode="or").collect()
        rows = sorted(by_q.get(q["query_id"], []))
        assert [d for _, d, _ in rows] == [r["doc_id"] for r in exp], q
        for (_, _, s), r in zip(rows, exp):
            assert s == pytest.approx(r["score"], abs=1e-9)
    # AND kind via its own batch
    and_qs = {q["query_id"]: q["terms"] for q in frozen if q["kind"] == "and"}
    got_and = bm25_topk_batch(reader, and_qs, k=10, mode="and").collect()
    by_q = {}
    for r in got_and:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    for q in frozen:
        if q["kind"] != "and":
            continue
        exp = bm25_topk(reader, q["terms"], k=10, mode="and").collect()
        rows = sorted(by_q.get(q["query_id"], []))
        assert [d for _, d in rows] == [r["doc_id"] for r in exp], q


def test_batch_duplicate_queries_memoized_identical(spark, index):
    """Duplicate-heavy batches (the common production shape) are memoized
    inside bm25_topk_batch — queries with the same live-term multiset and
    arity score ONCE per shard and fan out. This test freezes the contract:
    every duplicate qid receives results bit-identical to the per-query
    path, and a query that differs only in arity (an extra absent term)
    is NOT conflated with its shorter twin in AND mode."""
    from engine.query import bm25_topk_batch

    out, _ = index
    reader = IndexReader(spark, out)
    # a frozen two-term AND query that actually matches (head terms co-occur)
    base = next(
        q["terms"]
        for q in synth.frozen_queries()
        if q["kind"] == "and" and bm25_topk(reader, q["terms"], k=1, mode="and").collect()
    )
    batch = {
        0: base,
        1: list(base),  # exact duplicate → same signature
        2: base + ["zzzzabsentterm"],  # same live set, arity 3 → distinct sig
        3: ["company"],
    }
    got = bm25_topk_batch(reader, batch, k=10, mode="or").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, terms in batch.items():
        exp = bm25_topk(reader, terms, k=10, mode="or").collect()
        rows = sorted(by_q.get(qid, []))
        assert [d for _, d, _ in rows] == [r["doc_id"] for r in exp], qid
        for (_, _, s), r in zip(rows, exp):
            assert s == r["score"], qid  # bit-identical, not approx
    # AND mode: qid 2's absent term must yield EMPTY even though its live
    # terms equal qid 0's (arity is part of the signature)
    got_and = bm25_topk_batch(reader, {0: base, 2: batch[2]}, k=10, mode="and").collect()
    and_q = {r["query_id"] for r in got_and}
    assert 0 in and_q and 2 not in and_q


def test_reader_generation_guard(spark, index):
    """A reader held across an in-place rebuild must raise, not silently
    serve the old generation from its caches (ADVICE round 2)."""
    out, _ = index
    reader = IndexReader(spark, out)
    assert reader.term_stats(["the"]) is not None  # warm the caches
    os.utime(os.path.join(out, "MANIFEST.json"))  # simulate rebuild commit
    with pytest.raises(RuntimeError, match="generation"):
        reader.term_stats(["the"])
    # a NEW reader over the same dir serves fine
    assert IndexReader(spark, out).term_stats(["the"]) is not None


def test_fuzzy_expansion_and_topk_match_oracle(spark, index, corpus):
    """expand_fuzzy on the built index == the pure-Python oracle's
    brute-force expansion (same AUTO edits, cap, ordering); mode='fuzzy'
    top-k == oracle.topk over those expansions, on both execution paths.
    Also: cached-vocab driver expansion == distributed Spark expansion."""
    out, _ = index
    reader = IndexReader(spark, out)
    oracle = _oracle_from_docmap(spark, out, corpus)
    # a 1-edit typo of a 6+-char indexed term (len >= 6 -> AUTO = 2 edits);
    # the synthetic vocab is seed-stable random letter words, so derive the
    # query from an actual head term instead of hardcoding English
    base = next(t for t in oracle.vocab if len(t) >= 6 and oracle.df[t] >= 3)
    q = base[:-1] + ("a" if base[-1] != "a" else "b")
    want_terms = oracle.expand_fuzzy(q)
    assert base in want_terms, "fuzzy expansion must recover the typo'd term"
    got_cached = reader.expand_fuzzy(q)
    assert got_cached == want_terms
    # force the distributed dictionary-scan path (no vocab cache)
    fresh = IndexReader(spark, out)
    fresh.CACHE_MAX_DOCS = 0
    assert fresh.expand_fuzzy(q) == want_terms
    # prefix_length pins the leading chars
    pinned = reader.expand_fuzzy(q, prefix_length=3)
    assert pinned == [t for t in want_terms if t.startswith(q[:3])]

    expected = oracle.topk(want_terms, k=10)
    for execution in ("local", "spark"):
        got = bm25_topk(reader, [q], k=10, mode="fuzzy", execution=execution).collect()
        assert [int(r["doc_id"]) for r in got] == [d for d, _ in expected], execution
        for r, (_, s) in zip(got, expected):
            assert r["score"] == pytest.approx(s, rel=1e-9)
    # AUTO on a <=2-char query is exact-match only
    assert reader.expand_fuzzy("th") == (["th"] if reader.term_stats(["th"]) else [])


def test_wildcard_regexp_expansion_and_topk_match_oracle(spark, index, corpus):
    """Wildcard (`*`/`?`) and regexp query modes: expansion list (df desc,
    term asc, capped) and ranked top-k both identical to the brute-force
    oracle; the serving path does not analyze the pattern."""
    from engine.query import bm25_topk_rows

    out, _ = index
    reader = IndexReader(spark, out)
    oracle = _oracle_from_docmap(spark, out, corpus)
    seed_terms = [q["terms"][0] for q in synth.frozen_queries() if q["kind"] == "single"]
    cases = []
    for t in seed_terms[:3]:
        if len(t) >= 3:
            cases.append(("wildcard", f"{t[0]}*{t[-1]}"))
            cases.append(("wildcard", f"{t[:2]}?{t[3:]}" if len(t) > 3 else f"{t[:2]}?"))
            cases.append(("regexp", f"{t[0]}.*{t[-1]}"))
            cases.append(("regexp", f"[{t[0]}{t[1]}].{{1,4}}"))
    assert cases
    for mode, pat in cases:
        exp_terms = (
            oracle.expand_wildcard(pat) if mode == "wildcard" else oracle.expand_regexp(pat)
        )
        got_terms = (
            reader.expand_wildcard(pat) if mode == "wildcard" else reader.expand_regexp(pat)
        )
        assert got_terms == exp_terms, (mode, pat)
        got = bm25_topk_rows(reader, pat, k=10, mode=mode)
        expected = oracle.topk(exp_terms, k=10)
        assert [d for _, d, _ in got] == [d for d, _ in expected], (mode, pat)
        for (_, _, s), (_, es) in zip(got, expected):
            assert s == pytest.approx(es, abs=1e-6), (mode, pat)
    # literal pattern (no metachars) degrades to a plain term lookup
    lit = seed_terms[0]
    assert reader.expand_wildcard(lit) == ([lit] if oracle.df.get(lit) else [])


def test_bool_on_index_vs_brute(spark, index):
    """bm25_bool_topk == driver-side brute force over full single-term
    score lists: sum must+should contributions, require all must terms,
    >= msm should matches, exclude must_not docs. Local and Spark
    execution paths must agree row-for-row."""
    from engine.query import bm25_bool_topk, bm25_topk_rows

    out, _ = index
    reader = IndexReader(spark, out)
    must, should, must_not, msm = ["the"], ["data", "fast"], ["slow"], 0

    per_term: dict[str, dict[int, float]] = {}
    for t in must + should + must_not:
        per_term[t] = {
            doc: sc
            for _, doc, sc in bm25_topk_rows(reader, [t], k=reader.n_docs, algo="taat")
        }
    excluded = set(per_term["slow"])
    scores: dict[int, float] = {}
    for t in must + should:
        for doc, sc in per_term[t].items():
            scores[doc] = scores.get(doc, 0.0) + sc
    keep = {
        doc: s
        for doc, s in scores.items()
        if doc not in excluded
        and all(doc in per_term[m] for m in must)
        and sum(doc in per_term[t] for t in should) >= msm
    }
    want = sorted(keep.items(), key=lambda x: (-x[1], x[0]))[:10]

    for execution in ("local", "spark"):
        got = bm25_bool_topk(
            reader, must=must, should=should, must_not=must_not, k=10,
            execution=execution,
        ).collect()
        assert [int(r["doc_id"]) for r in got] == [d for d, _ in want], execution
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-9)


def test_bool_degenerate_modes_match_or_and(spark, index):
    """bool(should=T, msm=1) == mode='or'; bool(must=T) == mode='and';
    absent must term -> empty; msm above the live should count -> empty."""
    from engine.query import bm25_bool_topk

    out, _ = index
    reader = IndexReader(spark, out)
    terms = ["the", "data"]
    or_rows = [
        (r["url"], r["doc_id"], r["score"])
        for r in bm25_topk(reader, terms, k=10, mode="or").collect()
    ]
    and_rows = [
        (r["url"], r["doc_id"], r["score"])
        for r in bm25_topk(reader, terms, k=10, mode="and").collect()
    ]
    got_or = [
        (r["url"], r["doc_id"], r["score"])
        for r in bm25_bool_topk(reader, should=terms, k=10).collect()
    ]
    got_and = [
        (r["url"], r["doc_id"], r["score"])
        for r in bm25_bool_topk(reader, must=terms, k=10).collect()
    ]
    assert got_or == or_rows
    assert got_and == and_rows
    assert bm25_bool_topk(reader, must=["zzzzabsentterm"], should=terms).collect() == []
    # absent should terms drop out; msm beyond the live count matches nothing
    assert bm25_bool_topk(
        reader, should=["the", "zzzzabsentterm"], minimum_should_match=2
    ).collect() == []
    # must_not of an absent term is a no-op
    got_noop = [
        (r["url"], r["doc_id"], r["score"])
        for r in bm25_bool_topk(
            reader, should=terms, must_not=["zzzzabsentterm"], k=10
        ).collect()
    ]
    assert got_noop == or_rows


def test_dismax_on_index_blends_field_variants(spark, index, corpus):
    """bm25_dismax_topk == driver-side blend of the three single-field
    scores (best + tie_breaker * rest), doc-for-doc."""
    from engine.query import bm25_dismax_topk, bm25_topk_rows

    out, _ = index
    reader = IndexReader(spark, out)
    terms = ["the", "data"]
    tb = 0.3
    per_field = {}
    for fo in ("default", "nonorms", "doconly"):
        for url, doc, sc in bm25_topk_rows(
            reader, terms, k=reader.n_docs, field_opts=fo, algo="taat"
        ):
            per_field.setdefault(doc, {})[fo] = sc
    blended = {}
    for doc, by_f in per_field.items():
        s = [by_f.get(f, 0.0) for f in ("default", "nonorms", "doconly")]
        blended[doc] = max(s) + tb * (sum(s) - max(s))
    want = sorted(blended.items(), key=lambda x: (-x[1], x[0]))[:10]
    got = bm25_dismax_topk(reader, terms, k=10, tie_breaker=tb).collect()
    assert [int(r["doc_id"]) for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_highlight_fragments_frozen_contract(spark):
    """Frozen highlight semantics: earliest-occurrence anchor, pad
    clipping at doc start, word-boundary-only tagging, case folding,
    and silent drop of hits with no term occurrence."""
    from engine.query import highlight_fragments

    corpus = spark.createDataFrame(
        [
            (1, "Hash at the very start of this document then filler words"),
            (2, "x" * 50 + " a join here " + "y" * 50),
            (3, "hashing is not a hit but a real hash appears later on"),
            (4, "nothing relevant in this one at all"),
        ],
        "doc_id long, text string",
    )
    hits = spark.createDataFrame(
        [(1, 1.0), (2, 0.9), (3, 0.8), (4, 0.7)], "doc_id long, score double"
    )
    got = {
        r["doc_id"]: r["fragment"]
        for r in highlight_fragments(
            hits, corpus, ["hash", "join"], frag_size=40, pad=10
        ).collect()
    }
    # doc 4 dropped: no occurrence
    assert set(got) == {1, 2, 3}

    # brute twin of the frozen spec: earliest substring occurrence,
    # pad-clipped RAW extraction, tags applied after extraction
    import re

    def brute(text: str) -> str:
        pos = min(
            (p for p in (text.lower().find(t) for t in ("hash", "join")) if p >= 0),
        )
        start = max(0, pos - 10)
        frag = text[start : start + 40]
        return re.sub(r"(?i)\b(hash|join)\b", r"<em>\1</em>", frag)

    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    for i in (1, 2, 3):
        assert got[i] == brute(texts[i]), i
    # doc 1: anchor at pos 1, pad clips to doc start, case preserved
    assert got[1].startswith("<em>Hash</em> at the very start")
    # doc 2: anchor at the mid-doc 'join', 10 chars of left context
    assert "a <em>join</em> here" in got[2]
    # doc 3: 'hashing' anchors the fragment (substring rule) but is NOT
    # tagged (word-boundary rule); the later standalone 'hash' is
    assert "<em>hashing</em>" not in got[3]
    assert "<em>hash</em>" in got[3]


def test_mlt_topk_matches_brute_selection(spark, index, oracle):
    """more_like_this: the driver-side term selection must equal the
    brute tf x idf ranking over the like text, and the result must be
    exactly bm25_topk on those terms."""
    import math
    from collections import Counter

    from engine.query import IndexReader, bm25_topk, mlt_topk
    from engine.textnorm import standard_tokenize_py

    out, _m = index
    urls, texts = oracle
    r = IndexReader(spark, out)
    like = next(t for t in texts if t and len(t.split()) > 20)
    tf = Counter(standard_tokenize_py(like.lower()))
    stats = r.term_stats(list(tf))
    n = float(r.n_docs)
    scored = sorted(
        (
            (t, c * math.log(1.0 + (n - stats[t] + 0.5) / (stats[t] + 0.5)))
            for t, c in tf.items()
            if t in stats
        ),
        key=lambda x: (-x[1], x[0]),
    )
    want_terms = [t for t, _ in scored[:5]]
    got = mlt_topk(r, like, max_query_terms=5, k=10).collect()
    want = bm25_topk(r, want_terms, k=10).collect()
    assert [(x["url"], x["score"]) for x in got] == [
        (x["url"], x["score"]) for x in want
    ]
    assert got  # the like doc itself matches, so never empty
    # unknown-vocabulary like text -> empty frame, not an error
    assert mlt_topk(r, "zzz qqq vvv unknownwords", k=5).count() == 0


def test_percolate_vs_brute_and_plan(spark, index, corpus):
    """Percolator matches == brute token-set checks; the stored-query
    side broadcasts (no |queries| x |docs| cross join in the plan)."""
    from engine.query import percolate
    from engine.textnorm import standard_tokenize_py
    from tests.conftest import plan_of

    out, _m = index
    stored = [
        ("s_or", ["if", "line"], "or"),
        ("s_and", ["if", "line"], "and"),
        ("s_none", ["zzznothing"], "or"),
    ]
    qdf = spark.createDataFrame(
        stored, "query_id string, terms array<string>, mode string"
    )
    docs = spark.read.parquet(corpus).selectExpr("url as doc_id", "text")
    got_df = percolate(qdf, docs)
    plan = plan_of(got_df)
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    got = {(r["query_id"], r["doc_id"]): r["hits"] for r in got_df.collect()}

    t = pq.read_table(corpus, columns=["url", "text"])
    want = {}
    for url, text in zip(t.column("url").to_pylist(), t.column("text").to_pylist()):
        if not text:
            continue
        toks = set(standard_tokenize_py(text.lower()))
        for qid, terms, mode in stored:
            hits = len(toks & set(terms))
            ok = hits == len(set(terms)) if mode == "and" else hits > 0
            if ok:
                want[(qid, url)] = hits
    assert got == want
    assert any(q == "s_or" for q, _ in got)  # non-vacuous
    assert not any(q == "s_none" for q, _ in got)
    # AND matches are a subset of OR matches with full hit count
    for (q, d), h in got.items():
        if q == "s_and":
            assert ("s_or", d) in got and h == 2


def test_term_vectors_vs_brute(spark, index, oracle):
    from collections import Counter

    from engine.query import IndexReader, term_vectors
    from engine.textnorm import standard_tokenize_py

    out, _m = index
    urls, texts = oracle
    r = IndexReader(spark, out)
    like = next(t for t in texts if t and len(t.split()) > 10)
    got = {x["term"]: (x["tf"], x["df"]) for x in term_vectors(r, like).collect()}
    tf = Counter(standard_tokenize_py(like.lower()))
    stats = r.term_stats(list(tf))
    assert got == {t: (c, stats.get(t, 0)) for t, c in tf.items()}
    assert all(df >= 1 for _, df in got.values())  # indexed doc: df >= 1
    # not-yet-ingested doc: unknown terms report df = 0, still vectorized
    got2 = {x["term"]: (x["tf"], x["df"]) for x in
            term_vectors(r, "brandnewword brandnewword otherunknown").collect()}
    assert got2 == {"brandnewword": (2, 0), "otherunknown": (1, 0)}


def test_explain_score_sums_to_kernel_score(spark, index, corpus):
    """_explain: per-term contributions from the index must sum to the
    kernel's score for that doc; unknown urls raise; a tombstoned doc
    explains to zero rows."""
    import math

    from engine.query import IndexReader, bm25_topk, explain_score

    out, _m = index
    r = IndexReader(spark, out)
    q = synth.frozen_queries()[0]
    top = bm25_topk(r, q["terms"], k=3).collect()
    url, want = top[0]["url"], top[0]["score"]
    rows = explain_score(r, q["terms"], url).collect()
    assert rows
    # recompute unrounded contributions from the row's integer tf/df
    n, avgdl = float(r.n_docs), float(r.avgdl)
    k1, b = float(r.manifest["k1"]), float(r.manifest["b"])
    dm = spark.read.parquet(os.path.join(out, "docmap")).filter(
        F.col("url") == url
    ).collect()[0]
    dl = float(dm["dl"])
    total = sum(
        math.log(1.0 + (n - x["df"] + 0.5) / (x["df"] + 0.5))
        * (x["tf"] / (x["tf"] + k1 * (1.0 - b + b * dl / avgdl)))
        for x in rows
    )
    assert total == pytest.approx(want, abs=1e-6)
    for x in rows:
        assert x["contribution"] == pytest.approx(x["idf"] * x["impact"], abs=1e-5)
    with pytest.raises(KeyError):
        explain_score(r, q["terms"], "https://no.such/url")
    # unknown-vocabulary query -> zero rows
    assert explain_score(r, ["zzznothing"], url).count() == 0


def test_suggest_terms_both_paths_match_brute(spark, index, oracle):
    """Term suggester: (distance asc, df desc, term asc) top-k vs brute;
    cached-vocab and distributed dictionary paths identical."""
    from engine.query import IndexReader, _lev_dist, suggest_terms

    out, _m = index
    r = IndexReader(spark, out)
    q = "lne"  # near 'line'/'the'-ish synth vocab
    stats_all = r.term_stats(["line"])  # populate cache
    assert r._ts_cache is not None
    got = [
        (x["suggestion"], x["df"], x["distance"])
        for x in suggest_terms(r, q, max_edits=2, size=5).collect()
    ]
    brute = sorted(
        (
            (t, d, _lev_dist(q, t))
            for t, d in r._ts_cache.items()
            if t != q and abs(len(t) - len(q)) <= 2 and _lev_dist(q, t) <= 2
        ),
        key=lambda x: (x[2], -x[1], x[0]),
    )[:5]
    assert got == [(t, d, dist) for t, d, dist in brute] and got
    # distributed path (no vocab cache) must agree
    fresh = IndexReader(spark, out)
    fresh.CACHE_MAX_DOCS = 0
    got2 = [
        (x["suggestion"], x["df"], x["distance"])
        for x in suggest_terms(fresh, q, max_edits=2, size=5).collect()
    ]
    assert got2 == got
    # the input term itself is excluded even when in-vocabulary
    in_vocab = next(iter(r._ts_cache))
    sugg = {x["suggestion"] for x in suggest_terms(r, in_vocab, 2, 10).collect()}
    assert in_vocab not in sugg


def test_index_stats_summary(spark, index):
    """index_stats: manifest/metadata-only summary, consistent with the
    build, no Spark job (driver-side reads only)."""
    from engine.query import IndexReader, index_stats

    out, manifest = index
    r = IndexReader(spark, out)
    st = index_stats(r)
    assert st["n_docs"] == manifest["n_docs"] == st["n_live_docs"]
    assert st["n_shards"] == 4 and st["n_buckets"] == 8
    assert st["n_terms"] > 100
    assert st["sum_dl"] == manifest["sum_dl"]
    assert st["postings_bytes"] > 0 and st["docmap_bytes"] > 0
    assert st["tombstones"] == 0 and st["snapshots"] == 0
    assert st["analyzer"] and st["codec"]


def test_federated_equals_single_index(spark, index, corpus, tmp_path_factory):
    """dfs_query_then_fetch federation: two parity-split member indexes
    queried with global stats must be rank- AND score-identical to the
    one index built over the whole corpus (the segment-merge identity
    without rewriting a byte)."""
    from engine.query import IndexReader, bm25_topk, multi_index_topk

    out, _m = index
    full = IndexReader(spark, out)
    docs = spark.read.parquet(corpus)
    members = []
    for par in (0, 1):
        d = str(tmp_path_factory.mktemp(f"fed{par}") / "idx")
        half = docs.filter(
            (F.length("url") % 2 == par)
        )
        build_index(spark, half, d, n_shards=2, n_buckets=4)
        members.append(IndexReader(spark, d))
    assert full.n_docs == sum(r.n_docs for r in members)
    for q in synth.frozen_queries():
        mode = synth.MODE_BY_KIND[q["kind"]]
        if mode == "prefix":
            continue  # rewrites are single-index (dictionary-local)
        got = multi_index_topk(members, q["terms"], k=q["k"], mode=mode).collect()
        want = bm25_topk(full, q["terms"], k=q["k"], mode=mode, algo="taat").collect()
        gs = sorted(((x["url"], x["score"]) for x in got), key=lambda t: (-t[1], t[0]))
        ws = sorted(((x["url"], x["score"]) for x in want), key=lambda t: (-t[1], t[0]))
        assert [u for u, _ in gs] == [u for u, _ in ws], q
        for (gu, gsc), (wu, wsc) in zip(gs, ws):
            assert gsc == pytest.approx(wsc, abs=1e-9), (q, gu, wu)


def test_suggest_phrase_vs_brute(spark, index, oracle):
    """Phrase suggester: max_errors=1 single-slot corrections from the
    term suggester, laplace-unigram log-likelihood in slot order,
    confidence=1 (strictly better than the original phrase), rounded-
    score desc / suggestion asc — vs a brute twin over the vocab cache."""
    import math

    from engine.query import IndexReader, _lev_dist, suggest_phrase

    out, _m = index
    r = IndexReader(spark, out)
    text = "lne the"
    slots = text.split()
    r.term_stats(["line"])  # populate the vocab cache
    vocab = dict(r._ts_cache)
    n1 = r.n_docs + 1

    def lp(df):
        return math.log((df + 1) / n1)

    base_lps = [lp(vocab.get(t, 0)) for t in slots]
    base = sum(base_lps)
    want = []
    for i, slot in enumerate(slots):
        cands = sorted(
            (
                (t, d, _lev_dist(slot, t))
                for t, d in vocab.items()
                if t != slot and abs(len(t) - len(slot)) <= 2
                and _lev_dist(slot, t) <= 2
            ),
            key=lambda x: (x[2], -x[1], x[0]),
        )[:5]
        for t, d, _dist in cands:
            score = sum(
                lp(d) if j == i else base_lps[j] for j in range(len(slots))
            )
            if score > base:
                phrase = " ".join(
                    t if j == i else slots[j] for j in range(len(slots))
                )
                want.append((phrase, round(score, 6)))
    want.sort(key=lambda x: (-x[1], x[0]))
    got = [
        (x["suggestion"], x["score"])
        for x in suggest_phrase(r, text, size=5).collect()
    ]
    assert got == want[:5] and got
    # every suggestion must outscore the original phrase; the original
    # phrase itself never appears
    assert all(s > round(base, 6) for _p, s in got)
    assert text not in {p for p, _s in got}


def test_dsl_suggest_block(spark, index):
    """The _search DSL suggest block routes term / phrase / completion
    suggesters to the native operators (dispatch identity)."""
    from engine.dsl import search
    from engine.query import (
        IndexReader, suggest_complete, suggest_phrase, suggest_terms,
    )

    out, _m = index
    r = IndexReader(spark, out)
    resp = search(r, {
        "size": 0,
        "query": {"match_all": {}},
        "suggest": {
            "fix": {"text": "lne", "term": {"field": "text", "size": 3}},
            "dym": {"text": "lne the", "phrase": {"field": "text", "size": 3}},
            "auto": {"prefix": "li", "completion": {"field": "text"}},
        },
    })
    assert resp["suggest"]["fix"][0]["options"] == [
        x.asDict() for x in suggest_terms(r, "lne", size=3).collect()
    ]
    assert resp["suggest"]["dym"][0]["options"] == [
        x.asDict() for x in suggest_phrase(r, "lne the", size=3).collect()
    ]
    assert resp["suggest"]["auto"][0]["options"] == [
        x.asDict() for x in suggest_complete(r, "li").collect()
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported suggester"):
        search(r, {"suggest": {"x": {"text": "a", "nope": {}}}})


def test_mget_point_fetch(spark, index, corpus):
    """_mget: request-order rows, found flags, docvalue projection,
    tombstone masking, local and Spark-fallback paths identical."""
    from engine.deletes import delete_docs
    from engine.query import IndexReader, mget

    out, _m = index
    r = IndexReader(spark, out)
    t = pq.read_table(corpus, columns=["url", "text"])
    pairs = list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
    present = [u for u, tx in pairs if tx][:4]
    want_urls = present[:3] + ["nope-such-url"] + present[3:4]
    got = mget(r, want_urls).collect()
    assert [x["url"] for x in got] == want_urls
    assert [x["found"] for x in got] == [True, True, True, False, True]
    assert got[3]["doc_id"] is None
    # Spark fallback path (no local docmap dir) must agree
    import shutil
    import tempfile

    # docvalue projection on an index that has them
    d = spark.createDataFrame(
        [(u, tx, len(tx or "")) for u, tx in pairs],
        "url string, text string, n_chars long",
    )
    out2 = tempfile.mkdtemp(prefix="sparkft_mget_")
    try:
        build_index(spark, d, out2, n_shards=2, n_buckets=4,
                    docvalue_cols=["n_chars"])
        r2 = IndexReader(spark, out2)
        rows = mget(r2, want_urls, fields=["n_chars"]).collect()
        lens = {u: len(tx) for u, tx in pairs if tx}
        for x in rows:
            assert x["n_chars"] == (lens[x["url"]] if x["found"] else None)
        # tombstoned docs report found=false
        delete_docs(spark, out2, spark.createDataFrame(
            [(want_urls[0],)], "url string"))
        r3 = IndexReader(spark, out2)
        rows = {x["url"]: x["found"] for x in mget(r3, want_urls).collect()}
        assert rows[want_urls[0]] is False and rows[want_urls[1]] is True
        with pytest.raises(ValueError, match="docvalues"):
            mget(r3, want_urls, fields=["nope"])
    finally:
        shutil.rmtree(out2, ignore_errors=True)


def test_mterm_vectors_batches_single_doc_api(spark, index):
    """_mtermvectors == per-doc _termvectors rows, one dictionary probe."""
    from engine.query import IndexReader, mterm_vectors, term_vectors

    out, _m = index
    r = IndexReader(spark, out)
    docs = [("d1", "the line of the code"), ("d2", "zzqq unknown words line")]
    got = [tuple(x) for x in mterm_vectors(r, docs).collect()]
    want = []
    for did, text in docs:
        want += [(did, *tuple(x)) for x in term_vectors(r, text).collect()]
    assert got == want
    assert any(df == 0 for _d, _t, _tf, df in got)  # unknown term reports df 0
