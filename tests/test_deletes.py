"""Deletes: tombstones, query-time masking, compaction (engine/deletes.py).

Reference analog: the Go loader has NO per-doc delete path — it rebuilds the
whole ES index (companybindex/main.go drops/recreates via config DDL); at
10^12 docs that's untenable, so this engine adds Lucene's live-docs model:
tombstones masked at query time, space/stats reclaimed by compaction.

Frozen semantics under test:
- masking only REMOVES docs: post-delete top-k == pre-delete top-(all)
  minus deleted, truncated to k, with IDENTICAL scores (stats still count
  deleted docs until compaction — Lucene's behavior);
- every kernel (bmw / taat), both executions (local serving
  path / Spark scatter-gather), and the batch + dismax + bool paths all
  mask identically;
- compaction is equivalent to a from-scratch build over the live docs:
  same docmap (ids, shards), same term_stats, rank- AND score-identical
  queries (stats recomputed exactly).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from engine import synth
from engine.deletes import compact_index, delete_docs, load_tombstones
from engine.index_build import build_index
from engine.oracle import Bm25Oracle
from engine.query import (
    IndexReader,
    bm25_bool_topk,
    bm25_dismax_topk,
    bm25_topk,
    bm25_topk_batch,
    bm25_topk_rows,
)

N_DOCS = 1500


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = tmp_path_factory.mktemp("del_corpus") / "pages.parquet"
    synth.write_pages(str(p), N_DOCS)
    return str(p)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("del_index") / "idx")
    build_index(spark, corpus, out, n_shards=4, n_buckets=8)
    return out


@pytest.fixture(scope="module")
def victims(spark, index, corpus):
    """Urls to delete: the top-3 winners of the first frozen query (forces
    visible result churn) plus every 7th docmap url (~14% of the corpus,
    exercises block-level masking across shards)."""
    reader = IndexReader(spark, index)
    q = synth.frozen_queries()[0]
    top = bm25_topk_rows(reader, q["terms"], k=3)
    dm = spark.read.parquet(os.path.join(index, "docmap")).orderBy("doc_id").collect()
    urls = {u for u, _, _ in top} | {r["url"] for r in dm[::7]}
    return sorted(urls)


@pytest.fixture(scope="module")
def deleted_index(spark, index, victims, tmp_path_factory):
    """Copy of the index with victims tombstoned (the shared index fixture
    stays pristine for the pre/post comparisons)."""
    out = str(tmp_path_factory.mktemp("del_index2") / "idx")
    shutil.copytree(index, out)
    n = delete_docs(spark, out, victims)
    assert n == len(victims)
    return out


def _rows(reader, terms, k, **kw):
    df = bm25_topk(reader, terms, k=k, **kw)
    return [(r["url"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("algo", ["wand", "taat"])
@pytest.mark.parametrize("execution", ["local", "spark"])
def test_masking_equals_pre_delete_minus_victims(
    spark, index, deleted_index, victims, algo, execution
):
    """For every frozen query/mode: masked top-k == unmasked top-(everything)
    with victims dropped, truncated to k — scores bit-identical (global
    stats unchanged until compaction)."""
    pre = IndexReader(spark, index)
    post = IndexReader(spark, deleted_index)
    gone = set(victims)
    for q in synth.frozen_queries():
        mode = synth.MODE_BY_KIND[q["kind"]]
        full = _rows(pre, q["terms"], k=N_DOCS, mode=mode, algo=algo,
                     execution=execution)
        expected = [(u, s) for u, s in full if u not in gone][: q["k"]]
        got = _rows(post, q["terms"], k=q["k"], mode=mode, algo=algo,
                    execution=execution)
        assert got == expected, (q, algo, execution)
        assert not ({u for u, _ in got} & gone)


def test_batch_dismax_bool_paths_mask(spark, index, deleted_index, victims):
    gone = set(victims)
    pre = IndexReader(spark, index)
    post = IndexReader(spark, deleted_index)
    q0, q1 = synth.frozen_queries()[0], synth.frozen_queries()[1]

    # batch: same masking as the per-query path
    batch = bm25_topk_batch(post, {0: q0["terms"], 1: q1["terms"]}, k=5).collect()
    assert batch and not ({r["url"] for r in batch} & gone)
    single0 = bm25_topk_rows(post, q0["terms"], k=5)
    got0 = sorted(
        [(r["url"], r["doc_id"], r["score"]) for r in batch if r["query_id"] == 0],
        key=lambda t: (-t[2], t[1]),
    )
    assert got0 == single0

    # dismax: drop-victims-from-full-prefix equivalence
    full = [
        (r["url"], r["score"])
        for r in bm25_dismax_topk(pre, q0["terms"], k=N_DOCS).collect()
    ]
    exp = [t for t in full if t[0] not in gone][:5]
    got = [(r["url"], r["score"]) for r in bm25_dismax_topk(post, q0["terms"], k=5).collect()]
    assert got == exp

    # bool: must + must_not still masks tombstones on top
    full = [
        (r["url"], r["score"])
        for r in bm25_bool_topk(pre, must=q0["terms"], k=N_DOCS).collect()
    ]
    exp = [t for t in full if t[0] not in gone][:5]
    got = [
        (r["url"], r["score"])
        for r in bm25_bool_topk(post, must=q0["terms"], k=5).collect()
    ]
    assert got == exp


def _batch_queries() -> dict[int, list[str]]:
    """Every frozen query, plus duplicate signatures of query 0, query 1
    with an absent term appended (same live terms, longer arity) and a
    query of only an absent term."""
    fq = synth.frozen_queries()
    qs = {i: list(q["terms"]) for i, q in enumerate(fq)}
    n = len(qs)
    qs[n] = list(fq[0]["terms"])
    qs[n + 1] = list(fq[0]["terms"])
    qs[n + 2] = fq[1]["terms"] + ["zzzzabsentterm"]
    qs[n + 3] = ["zzzzabsentterm"]
    return qs


def _batch_by_query(df) -> dict[int, list[tuple]]:
    """Batch result -> {query_id: [(url, doc_id, score), ...] in rank
    order}; ranks must run 1..n per query."""
    by_q: dict[int, list] = {}
    for r in df.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    out = {}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1)), qid
        out[qid] = [(r["url"], r["doc_id"], r["score"]) for r in rows]
    return out


@pytest.mark.parametrize("mode", ["or", "and"])
def test_batch_equals_rows_on_tombstoned_index(spark, deleted_index, mode):
    """bm25_topk_batch == bm25_topk_rows bit for bit on a tombstoned
    index: duplicate signatures, an absent term beside live terms, an
    absent-only query, and a k larger than any query's match count."""
    post = IndexReader(spark, deleted_index)
    qs = _batch_queries()
    n = len(synth.frozen_queries())
    for k in (5, 2 * N_DOCS):
        got = _batch_by_query(bm25_topk_batch(post, qs, k=k, mode=mode))
        for qid, terms in qs.items():
            assert got.get(qid, []) == bm25_topk_rows(post, terms, k=k, mode=mode), (qid, k)
        assert got[n] and got[n] == got[n + 1] == got[0]
        assert n + 3 not in got
        if mode == "and":
            assert n + 2 not in got


def test_batch_collect_runs_no_spark_job(spark, deleted_index):
    """The batch result is a driver-local relation: collecting it starts
    no Spark job."""
    post = IndexReader(spark, deleted_index)
    df = bm25_topk_batch(post, _batch_queries(), k=5)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    rows = df.collect()
    assert rows and set(tracker.getJobIdsForGroup()) == before


def test_delete_is_idempotent_and_df_input_matches(spark, deleted_index, victims, tmp_path_factory, index):
    # re-deleting writes duplicate tombstone rows; the loaded view dedups
    before = {s: a.copy() for s, a in load_tombstones(deleted_index).items()}
    delete_docs(spark, deleted_index, victims[:5])
    after = load_tombstones(deleted_index)
    assert set(before) == set(after)
    for s in before:
        assert (before[s] == after[s]).all()
    # unknown urls resolve to nothing
    assert delete_docs(spark, deleted_index, ["https://nope.example/x"]) == 0
    assert delete_docs(spark, deleted_index, []) == 0
    # DataFrame input resolves the same tombstones as the list input
    out = str(tmp_path_factory.mktemp("del_index3") / "idx")
    shutil.copytree(index, out)
    vic_df = spark.createDataFrame([(u,) for u in victims], "url string")
    assert delete_docs(spark, out, vic_df) == len(victims)
    a, b = load_tombstones(out), load_tombstones(deleted_index)
    assert set(a) == set(b) and all((a[s] == b[s]).all() for s in a)
    shutil.rmtree(out)


def test_compaction_equals_fresh_build(spark, corpus, deleted_index, victims, tmp_path_factory):
    """compact(deleted index) == build(live docs) — docmap identical,
    term_stats identical, frozen queries rank- AND score-identical, and the
    compacted index agrees with the pure-Python oracle over live docs."""
    compacted = str(tmp_path_factory.mktemp("compacted") / "idx")
    manifest = compact_index(spark, deleted_index, compacted)

    live = str(tmp_path_factory.mktemp("live") / "pages.parquet")
    t = pq.read_table(corpus)
    mask = [u not in set(victims) for u in t.column("url").to_pylist()]
    pq.write_table(t.filter(mask), live)
    fresh = str(tmp_path_factory.mktemp("fresh") / "idx")
    fresh_manifest = build_index(spark, live, fresh, n_shards=4, n_buckets=8)

    assert manifest["n_docs"] == fresh_manifest["n_docs"]
    assert manifest["avgdl"] == pytest.approx(fresh_manifest["avgdl"], rel=1e-12)
    assert manifest["shard_offsets"] == fresh_manifest["shard_offsets"]

    cols = ["url", "doc_id", "shard", "local_id", "dl"]
    a = spark.read.parquet(os.path.join(compacted, "docmap")).select(cols)
    b = spark.read.parquet(os.path.join(fresh, "docmap")).select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    ts_a = spark.read.parquet(os.path.join(compacted, "term_stats")).select("term", "df", "cf")
    ts_b = spark.read.parquet(os.path.join(fresh, "term_stats")).select("term", "df", "cf")
    assert ts_a.exceptAll(ts_b).count() == 0 and ts_b.exceptAll(ts_a).count() == 0

    r_c = IndexReader(spark, compacted)
    r_f = IndexReader(spark, fresh)
    assert r_c.tombstones() == {}
    text_by_url = dict(
        zip(t.column("url").to_pylist(), t.column("text").to_pylist())
    )
    dm = a.select("doc_id", "url").collect()
    oracle = Bm25Oracle(sorted((r["doc_id"], text_by_url[r["url"]]) for r in dm))
    assert oracle.n_docs == r_c.n_docs
    for q in synth.frozen_queries():
        mode = synth.MODE_BY_KIND[q["kind"]]
        got_c = bm25_topk_rows(r_c, q["terms"], k=q["k"], mode=mode)
        got_f = bm25_topk_rows(r_f, q["terms"], k=q["k"], mode=mode)
        assert got_c == got_f, q
        if mode == "prefix":
            expected = oracle.topk(oracle.expand_prefix(q["terms"][0]), k=q["k"])
        else:
            expected = oracle.topk(q["terms"], k=q["k"], mode=mode)
        assert [d for _, d, _ in got_c] == [d for d, _ in expected], q
        for (_, _, s), (_, es) in zip(got_c, expected):
            assert s == pytest.approx(es, abs=1e-6)


def test_snapshot_time_travel(spark, index, victims, tmp_path_factory):
    """Snapshot pinning (Iceberg-flavored time travel over deletes): a
    reader at snapshot 0 sees the base build, at k sees exactly the first
    k delete batches, at None sees the current state — all from the same
    directory, no rewrite."""
    from engine.deletes import list_snapshots

    out = str(tmp_path_factory.mktemp("snap_idx") / "idx")
    shutil.copytree(index, out)
    q = synth.frozen_queries()[0]

    base = IndexReader(spark, out)
    pre = bm25_topk_rows(base, q["terms"], k=20)

    batch_a, batch_b = victims[:3], victims[3:6]
    assert delete_docs(spark, out, batch_a) == 3
    assert delete_docs(spark, out, batch_b) == 3
    snaps = list_snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[0]["parent_id"] == 0 and snaps[1]["parent_id"] == 1
    assert len(snaps[0]["tombstone_files"]) == 1
    assert len(snaps[1]["tombstone_files"]) == 2

    def rows(snap):
        return bm25_topk_rows(IndexReader(spark, out, snapshot_id=snap), q["terms"], k=20)

    assert rows(0) == pre  # time travel to before any delete
    exp_after_a = [t for t in pre if t[0] not in set(batch_a)]
    got_1 = rows(1)
    n = min(len(got_1), len(exp_after_a))
    assert n > 10 and got_1[:n] == exp_after_a[:n]
    assert rows(2) == rows(None)  # latest snapshot == current state
    gone = set(batch_a) | set(batch_b)
    assert not ({u for u, _, _ in rows(2)} & gone)
    with pytest.raises(KeyError):
        rows(99)
    shutil.rmtree(out)


def test_compact_without_tombstones_is_identity(spark, index, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("noop_compact") / "idx")
    manifest = compact_index(spark, index, out)
    r0, r1 = IndexReader(spark, index), IndexReader(spark, out)
    assert manifest["n_docs"] == r0.n_docs and r1.avgdl == pytest.approx(r0.avgdl)
    q = synth.frozen_queries()[0]
    assert bm25_topk_rows(r1, q["terms"], k=10) == bm25_topk_rows(r0, q["terms"], k=10)
    shutil.rmtree(out)


def test_pit_sorted_page_restores_predelete(spark, corpus, tmp_path_factory):
    """ES point-in-time search over the sorted-paging path: a reader
    pinned at snapshot 0 serves the pre-delete page from an index whose
    current state excludes tombstoned docs (the driver's
    pit_page_snapshot0 contract)."""
    from pyspark.sql import functions as F

    from engine.aggs import search_sort

    out = str(tmp_path_factory.mktemp("pit_idx") / "idx")
    d = spark.read.parquet(corpus).select(
        "url", "text", F.length("text").alias("n_chars")
    )
    build_index(spark, d, out, n_shards=4, n_buckets=8, docvalue_cols=["n_chars"])
    q = synth.frozen_queries()[0]

    def page(snap):
        r = IndexReader(spark, out, snapshot_id=snap)
        return [
            (x["url"], x["sort_val"])
            for x in search_sort(r, q["terms"], "n_chars", k=10).collect()
        ]

    base = page(None)
    assert len(base) == 10
    # tombstone the first three docs OF THE PAGE so the current state
    # visibly differs
    assert delete_docs(spark, out, [u for u, _v in base[:3]]) == 3
    cur = page(None)
    assert cur != base and not ({u for u, _v in cur} & {u for u, _v in base[:3]})
    assert page(0) == base  # the PIT pin restores the pre-delete page
