"""match_phrase over positional indexes (round-3 verdict ask #2a).

The reference scheme (config/search_scheme.json:140-198) declares no
position-hungry field, so positions are OPT-IN here (index_options=
"positions" on build_index); a freqs index stays byte-identical to prior
rounds and rejects phrase queries with a clear error — the ES behavior for
a field indexed with index_options below "positions".

Covers: the position stream codec round-trip (block-aligned svb deltas),
match_phrase rank/score identity against a brute-force Lucene-PhraseQuery
oracle, local/Spark execution-path identity, tombstone masking,
position-preserving compaction, duplicate-slot phrases, and the guard
errors.
"""

from __future__ import annotations

import math
import re
import shutil
import tempfile

import numpy as np
import pytest

from engine import postings as P
from engine.index_build import build_index
from engine.query import IndexReader, match_phrase_topk

K1, B = P.K1, P.B


def _tok(s: str) -> list[str]:
    return re.findall(r"\w+", s.lower())


def _brute_phrase(docs: list[tuple[str, str]], phrase: list[str], k: int):
    """Lucene PhraseQuery oracle: phrase freq by exact adjacency over the
    frozen tokenization; score = (sum of member idfs) * pf/(pf + k1*norm)."""
    toks = {u: _tok(t) for u, t in docs if t}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in set(phrase)}
    idf_sum = sum(math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in phrase)
    out = []
    m = len(phrase)
    for u, v in toks.items():
        pf = sum(1 for i in range(len(v) - m + 1) if v[i : i + m] == phrase)
        if pf:
            dl = len(v)
            out.append((u, idf_sum * pf / (pf + K1 * (1 - B + B * dl / avgdl))))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


CORPUS = [
    ("u1", "the quick brown fox jumps over the lazy dog"),
    ("u2", "quick brown shoes and a brown fox farm with quick brown fox again quick brown fox"),
    ("u3", "brown quick fox reversed order here"),
    ("u4", "the fox is quick and brown but never quick brown fox adjacent wait yes it was"),
    ("u5", "no relevant animals at all"),
    ("u6", "quick brown fox"),
    ("u7", "echo part echo part echo chained overlapping duplicate slots"),
    ("u8", "echo part echo unrelated tail words for length variation"),
]


@pytest.fixture(scope="module")
def pos_index(spark):
    df = spark.createDataFrame(CORPUS, "url string, text string")
    out = tempfile.mkdtemp(prefix="sparkft_test_pos_")
    build_index(spark, df, out, n_shards=2, n_buckets=4, index_options="positions")
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_position_codec_roundtrip():
    """encode_groups_columnar(pos_deltas) -> decode_term_positions must be
    the identity, across group/128-doc-block boundaries."""
    rng = np.random.default_rng(7)
    sizes = [1, 200, 300]
    ids_l, tf_l, dl_l, gs, pos_l = [], [], [], [], []
    start = 0
    for sz in sizes:
        ids_l.append(np.sort(rng.choice(10_000, size=sz, replace=False)))
        tf_l.append(rng.integers(1, 6, size=sz))
        dl_l.append(rng.integers(5, 500, size=sz))
        gs.append(start)
        start += sz
        for t in tf_l[-1]:
            pos_l.append(np.sort(rng.choice(1000, size=t, replace=False)))
    ids, tfs, dls = map(np.concatenate, (ids_l, tf_l, dl_l))
    positions = np.concatenate(pos_l)
    deltas = []
    for p in pos_l:
        d = np.diff(p, prepend=0)
        d[0] = p[0]
        deltas.append(d)
    pos_deltas = np.concatenate(deltas).astype(np.uint32)

    groups = P.encode_groups(ids, tfs, dls, np.array(gs), 100.0, pos_deltas=pos_deltas)
    occ_all = np.concatenate(([0], np.cumsum(tfs)))
    for g, rec in enumerate(groups):
        s, e = gs[g], gs[g] + sizes[g]
        d, t, _l = P.decode_term_postings(
            rec["docs_bin"], rec["tfs_bin"], rec["dls_bin"], rec["blocks"]
        )
        assert (d == ids[s:e]).all() and (t == tfs[s:e]).all()
        got = P.decode_term_positions(t, rec["pos_bin"], rec["pos_offs"], rec["blocks"])
        assert (got == positions[occ_all[s] : occ_all[e]]).all()


def test_match_phrase_matches_brute_and_both_paths(spark, pos_index):
    r = IndexReader(spark, pos_index)
    for phrase in ("quick brown fox", "the lazy dog", "brown fox", "fox brown"):
        want = [
            (u, round(s, 6)) for u, s in _brute_phrase(CORPUS, phrase.split(), 10)
        ]
        local = [
            (x["url"], round(x["score"], 6))
            for x in match_phrase_topk(r, phrase, k=10, execution="local").collect()
        ]
        dist = [
            (x["url"], round(x["score"], 6))
            for x in match_phrase_topk(
                r, phrase, k=10, execution="spark"
            ).collect()
        ]
        assert local == want, (phrase, local, want)
        assert dist == want, (phrase, dist, want)


def test_match_phrase_duplicate_slots(spark, pos_index):
    """'echo part echo' repeats a slot term — the per-slot position
    intersection and the duplicate-counting idf sum must both be exact
    (u7 has two overlapping occurrences, u8 one)."""
    r = IndexReader(spark, pos_index)
    got = [
        (x["url"], round(x["score"], 6))
        for x in match_phrase_topk(r, "echo part echo", k=10).collect()
    ]
    want = [(u, round(s, 6)) for u, s in _brute_phrase(CORPUS, ["echo", "part", "echo"], 10)]
    assert got == want and {u for u, _ in got} == {"u7", "u8"}


def test_match_phrase_empty_and_missing_term(spark, pos_index):
    r = IndexReader(spark, pos_index)
    assert match_phrase_topk(r, "zzznotindexed fox", k=5).count() == 0
    assert match_phrase_topk(r, "", k=5).count() == 0


def test_freqs_index_rejects_phrase(spark, tmp_path):
    df = spark.createDataFrame(CORPUS[:3], "url string, text string")
    out = str(tmp_path / "freqs_idx")
    build_index(spark, df, out, n_shards=2, n_buckets=4)
    with pytest.raises(ValueError, match="positional"):
        match_phrase_topk(IndexReader(spark, out), "quick brown")


def test_match_phrase_tombstones_then_compaction(spark, pos_index):
    """Deletes mask phrase hits immediately (tombstones); compaction of a
    positional index carries the position stream and is rank- AND
    score-identical to a fresh positional build without the deleted doc."""
    from engine.deletes import compact_index, delete_docs

    work = tempfile.mkdtemp(prefix="sparkft_test_posdel_")
    try:
        src = work + "/src"
        shutil.copytree(pos_index, src)
        delete_docs(spark, src, spark.createDataFrame([("u2",)], "url string"))
        r = IndexReader(spark, src)
        got = {x["url"] for x in match_phrase_topk(r, "quick brown fox", k=10).collect()}
        assert got == {"u1", "u4", "u6"}

        cmp_dir = work + "/cmp"
        compact_index(spark, src, cmp_dir)
        rc = IndexReader(spark, cmp_dir)
        assert rc.index_options == "positions"
        res_c = [
            (x["url"], round(x["score"], 6))
            for x in match_phrase_topk(rc, "quick brown fox", k=10).collect()
        ]
        fresh = work + "/fresh"
        df = spark.createDataFrame(
            [c for c in CORPUS if c[0] != "u2"], "url string, text string"
        )
        build_index(spark, df, fresh, n_shards=2, n_buckets=4, index_options="positions")
        res_f = [
            (x["url"], round(x["score"], 6))
            for x in match_phrase_topk(
                IndexReader(spark, fresh), "quick brown fox", k=10
            ).collect()
        ]
        assert res_c == res_f
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_positional_index_serves_nonpositional_queries_identically(spark, pos_index, tmp_path):
    """A positional index must answer every non-phrase query exactly like
    the freqs build of the same corpus — the extra stream is invisible to
    the frozen kernels (WAND/TAAT/aggs read the same columns)."""
    from engine.query import bm25_topk

    out = str(tmp_path / "freqs_twin")
    df = spark.createDataFrame(CORPUS, "url string, text string")
    build_index(spark, df, out, n_shards=2, n_buckets=4)
    rp, rf = IndexReader(spark, pos_index), IndexReader(spark, out)
    for algo in ("wand", "taat"):
        a = [
            (x["url"], round(x["score"], 6))
            for x in bm25_topk(rp, ["quick", "brown"], k=10, algo=algo).collect()
        ]
        b = [
            (x["url"], round(x["score"], 6))
            for x in bm25_topk(rf, ["quick", "brown"], k=10, algo=algo).collect()
        ]
        assert a == b, (algo, a, b)
