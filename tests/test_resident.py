"""engine.resident: the driver's process-level LRU of decompressed parquet
column chunks behind the postings fetch (query._read_postings) and the
docvalue gather (docvalues.gather_docvalues).

Judges: a reference pyarrow dataset scan (the read the layer replaced),
the unpatched engine's own hits, and the layer's hit / miss / byte
counters."""

from __future__ import annotations

import os
import random
import shutil
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from engine import postings as P
from engine import resident
from engine.deletes import delete_docs
from engine.docvalues import gather_docvalues
from engine.index_build import build_index
from engine.query import IndexReader, _PosRow, _PostRow, _read_postings

VOCAB = [
    "web", "page", "search", "index", "spark", "query", "term", "data",
    "crawl", "text", "rank", "score", "title", "body", "engine", "open",
]
BODIES = [
    {"query": {"match": {"text": "web search"}}, "size": 10},
    {"query": {"match": {"text": {"query": "spark data", "operator": "and"}}}},
    {"query": {"bool": {"must": [{"match": {"text": "rank"}}],
                        "filter": [{"term": {"lang": "fr"}}]}}},
    {"query": {"bool": {"must": [{"match": {"text": "index term"}}],
                        "filter": [{"range": {"n": {"gte": 10, "lt": 40}}}]}}},
    {"query": {"multi_match": {"query": "title body", "fields": ["title^2", "text"]}}},
    {"query": {"match_phrase": {"text": "web page"}}},
    {"query": {"prefix": {"text": "sc"}}},
    {"query": {"query_string": {"query": "crawl open", "default_field": "text"}}},
]


def _docs(n: int, seed: int) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (f"u{i:04d}", " ".join(rng.choices(VOCAB, k=rng.randint(5, 30))),
         None if i % 17 == 0 else " ".join(rng.choices(VOCAB, k=rng.randint(1, 5))),
         "enfrde"[2 * (i % 3):2 * (i % 3) + 2], i % 50)
        for i in range(n)
    ]


def _build(spark, rows, out):
    df = spark.createDataFrame(
        rows, "url string, text string, title string, lang string, n int")
    build_index(spark, df, out, n_shards=2, n_buckets=4, bucket_chunk=2,
                text_fields=["text", "title"], index_options="positions",
                docvalue_cols=["lang", "n"])


@pytest.fixture(scope="module")
def res_index(spark, tmp_path_factory):
    """Two-field positional index with docvalues, every 5th doc deleted."""
    rows = _docs(600, 5)
    out = str(tmp_path_factory.mktemp("resident") / "idx")
    _build(spark, rows, out)
    assert delete_docs(spark, out, [r[0] for r in rows[::5]]) == 120
    return out


@pytest.fixture
def fresh_cache(monkeypatch):
    """An empty resident cache for one test (restored afterwards)."""
    monkeypatch.setattr(resident, "_chunks", OrderedDict())
    monkeypatch.setattr(resident, "_state", {"bytes": 0, "hits": 0, "misses": 0})


def _hits(reader, body):
    from engine.dsl import search

    return [(h["_id"], h["_score"]) for h in search(reader, body)["hits"]["hits"]]


def _scan(dataset, filt, row):
    """Reference read: a filtered dataset scan, as {shard: [row, ...]}."""
    out: dict[int, list] = {}
    for d in dataset.to_table(filter=filt, columns=["shard", *row._fields]).to_pylist():
        d["blocks"] = [tuple(b[k] for k in P.BLOCK_KEYS) for b in d["blocks"]]
        out.setdefault(d.pop("shard"), []).append(row(**d))
    return out


def _split_row_groups(src_dir: str, rows_per_group: int) -> None:
    """Rewrite every parquet file under src_dir in place with small row
    groups (same rows, same order)."""
    for root, _, files in os.walk(src_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                pq.write_table(pq.read_table(p), p, row_group_size=rows_per_group)


def test_read_postings_matches_dataset_scan(spark, res_index, tmp_path, fresh_cache):
    """_read_postings equals a bucket-isin & term-isin dataset scan field
    by field and in order, for needs_pos False and True, on the driver
    (all shards) and per shard (the Spark task form); also over a copy
    whose files hold many row groups (statistics pruning on term and
    shard, several row groups per file)."""
    split = str(tmp_path / "split")
    shutil.copytree(res_index, split)
    _split_row_groups(os.path.join(split, "postings"), 2)
    multi = 0
    for out in (res_index, split):
        reader = IndexReader(spark, out)
        for field in ("text", "title"):
            fr = reader.for_field(field)
            dataset = fr._pa_dataset(fr._post_sub)
            for terms in (VOCAB[:1], VOCAB[3:6], VOCAB, ["web", "absent"]):
                filt = (ds.field("bucket").isin(fr._bucket_of(terms))
                        & ds.field("term").isin(terms))
                files = fr._postings_files(terms)
                for needs_pos, row in ((False, _PostRow), (True, _PosRow)):
                    want = _scan(dataset, filt, row)
                    got = _read_postings(files, terms, None, needs_pos)
                    assert got == want and got
                    for shard in (0, 1):
                        assert _read_postings(files, terms, shard, needs_pos) == {
                            shard: want[shard]}
                    multi += sum(len(r.blocks) > 1 for rs in got.values() for r in rs)
                    assert all(
                        [type(v) for v in a] == [type(v) for v in b]
                        for s in got for a, b in zip(got[s], want[s])
                    )
    assert multi, "no multi-block row — weak test"
    assert pq.read_metadata(_first_file(split)).num_row_groups > 1


def _first_file(root: str) -> str:
    """The largest postings file of the text field."""
    d = os.path.join(root, "postings", "field=text")
    return max((os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
                if f.endswith(".parquet")), key=os.path.getsize)


def _gather_reference(out: str, shard: int, fields: list[str], matched) -> pa.Table:
    tbl = ds.dataset(os.path.join(out, "docmap", f"shard={shard}")).to_table()
    pos = {lid: i for i, lid in enumerate(tbl.column("local_id").to_pylist())}
    return tbl.select(fields).take(pa.array([pos[m] for m in matched], pa.int64()))


def test_gather_docvalues_dense_and_shuffled(res_index, tmp_path, fresh_cache):
    """gather_docvalues equals a full-shard read + take on the dense
    docmap (the fast path) and on a copy whose docmap rows are shuffled
    across several row groups (the inverse-permutation fallback)."""
    shuffled = str(tmp_path / "shuffled")
    shutil.copytree(res_index, shuffled)
    for shard in (0, 1):
        d = os.path.join(shuffled, "docmap", f"shard={shard}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                t = pq.read_table(p)
                perm = np.random.default_rng(shard).permutation(t.num_rows)
                pq.write_table(t.take(perm), p, row_group_size=64)
    fields = ["lang", "n", "url"]
    rng = np.random.default_rng(3)
    for out in (res_index, shuffled):
        for shard in (0, 1):
            n = ds.dataset(os.path.join(out, "docmap", f"shard={shard}")).count_rows()
            for matched in (np.arange(n), np.sort(rng.choice(n, 37, replace=False)),
                            np.array([n - 1]), np.array([], dtype=np.int64)):
                matched = matched.astype(np.int64)
                got = gather_docvalues(out, shard, fields, matched)
                assert got.column_names == fields
                assert got.to_pydict() == _gather_reference(
                    out, shard, fields, matched.tolist()).to_pydict()


def test_budget_bounds_resident_bytes(spark, res_index, monkeypatch, fresh_cache):
    """Under a few-KB budget a serve-mix loop keeps resident bytes at or
    under the budget after every request, answers exactly as with the
    default budget, and never keeps a chunk larger than the budget."""
    want = [_hits(IndexReader(spark, res_index), b) for b in BODIES]
    assert resident.stats()["bytes"] > 2048
    budget = 2048
    monkeypatch.setattr(resident, "RESIDENT_MAX_BYTES", budget)
    monkeypatch.setattr(resident, "_chunks", OrderedDict())
    monkeypatch.setitem(resident._state, "bytes", 0)
    reader = IndexReader(spark, res_index)
    for _ in range(2):
        for body, w in zip(BODIES, want):
            assert _hits(reader, body) == w
            st = resident.stats()
            assert 0 < st["bytes"] <= budget
            assert st["bytes"] == sum(nb for _, nb in resident._chunks.values())
    assert all(nb <= budget for _, nb in resident._chunks.values())
    path = _first_file(res_index)
    cols = ["shard", "term", "pos_bin", "pos_offs"]
    tbl = resident.tables([(path, 0)], cols, resident.footers([path]))[0]
    big = max(tbl.column_names, key=lambda c: tbl.column(c).nbytes)
    assert tbl.column(big).nbytes > budget
    assert not any(k[0] == path and k[-1] == big for k in resident._chunks)


def test_reopen_after_delete_reads_nothing(spark, res_index, tmp_path, monkeypatch,
                                           fresh_cache):
    """A reader opened after delete_docs on the same directory serves the
    serve mix from resident chunks only (delete_docs writes a tombstone
    file, no postings or docmap file changes); an in-place rebuild into
    the same directory is served the new index's hits, never stale
    chunks."""
    out = str(tmp_path / "idx")
    shutil.copytree(res_index, out)
    r1 = IndexReader(spark, out)
    for body in BODIES:
        _hits(r1, body)
    gone = [u for u, _ in _hits(r1, BODIES[0])[:3]]
    assert delete_docs(spark, out, gone) == 3

    reads = []
    orig = pq.ParquetFile.read_row_group
    monkeypatch.setattr(pq.ParquetFile, "read_row_group",
                        lambda self, *a, **kw: reads.append(a) or orig(self, *a, **kw))
    misses = resident.stats()["misses"]
    r2 = IndexReader(spark, out)
    after = [_hits(r2, body) for body in BODIES]
    assert reads == [] and resident.stats()["misses"] == misses
    assert not {u for u, _ in after[0]} & set(gone) and after[0]

    rows = _docs(300, 9)
    rows = [(u, t.replace("web", "zebra"), ti, la, n) for u, t, ti, la, n in rows]
    _build(spark, rows, out)
    r3 = IndexReader(spark, out)
    zebra = {u for u, t, *_ in rows if "zebra" in t.split()}
    got = _hits(r3, {"query": {"match": {"text": "zebra"}}, "size": 1000})
    assert got and {u for u, _ in got} == zebra
    assert _hits(r3, BODIES[0]) != after[0]
    assert reads, "the rebuilt index's files were served without a read"


def test_executors_keep_nothing(spark, res_index, tmp_path, monkeypatch, fresh_cache):
    """A forced-Spark query returns the driver-local rows bit for bit, and
    a Spark task that runs the postings read and the docvalue gather over
    a copy whose files hold many row groups reports 0 resident bytes in
    its worker and reads each file's footer once per call."""
    import pandas as pd

    from engine.query import bm25_topk

    reader = IndexReader(spark, res_index)
    fr = reader.for_field("text")
    loc = [tuple(r) for r in bm25_topk(fr, "web search rank", k=50).collect()]
    monkeypatch.setattr(IndexReader, "LOCAL_MAX_POSTINGS", 0)
    assert [tuple(r) for r in bm25_topk(fr, "web search rank", k=50).collect()] == loc

    out = str(tmp_path / "split")
    shutil.copytree(res_index, out)
    _split_row_groups(os.path.join(out, "postings"), 2)
    _split_row_groups(os.path.join(out, "docmap"), 64)
    terms = ["web", "rank"]
    files = IndexReader(spark, out).for_field("text")._postings_files(terms)
    assert max(pq.read_metadata(f).num_row_groups for f in files) > 2
    n_dm = {s: len([f for f in os.listdir(os.path.join(out, "docmap", f"shard={s}"))
                    if not f.startswith((".", "_"))]) for s in (0, 1)}

    def task(it):
        orig, reads = pq.read_metadata, []
        pq.read_metadata = lambda path, *a, **kw: reads.append(path) or orig(path, *a, **kw)
        try:
            for pdf in it:
                for shard in pdf["id"]:
                    rows = _read_postings(files, terms, int(shard), True)
                    n_post = len(reads)
                    tbl = gather_docvalues(out, int(shard), ["lang"], np.arange(5))
                    yield pd.DataFrame({
                        "shard": [int(shard)], "rows": [sum(len(v) for v in rows.values())],
                        "dv": [tbl.num_rows], "bytes": [resident.stats()["bytes"]],
                        "post_reads": [n_post], "dm_reads": [len(reads) - n_post],
                    })
        finally:
            pq.read_metadata = orig

    got = spark.range(0, 2, 1, 2).mapInPandas(
        task, "shard long, rows long, dv long, bytes long, post_reads long, dm_reads long"
    ).collect()
    assert [r["bytes"] for r in got] == [0, 0]
    assert all(r["rows"] > 0 and r["dv"] == 5 for r in got)
    assert [r["post_reads"] for r in got] == [len(files)] * 2
    assert [r["dm_reads"] for r in got] == [n_dm[r["shard"]] for r in got]
