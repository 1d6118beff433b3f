"""Document deletes: tombstones + live-doc query masking + compaction.

The Lucene model, re-expressed for the parquet index layout
(reference analog: the loader's full-reload lifecycle — the Go loader
rebuilds the whole ES index to remove documents; companybindex/main.go
has no per-doc delete path — this module adds the incremental
alternative a long-lived 10^12-doc index needs):

- `delete_docs` resolves urls to (shard, local_id) through a
  shard-pruned docmap read and APPENDS tombstone rows under
  `<index>/tombstones/`. Nothing else is touched: postings stay
  immutable, global stats (n_docs, avgdl, df) keep counting deleted
  docs until compaction — exactly Lucene's semantics, where deletes
  are a bitmap consulted at search time and space/stats are reclaimed
  by segment merges.
- Query-time: IndexReader loads the tombstones once per reader into
  per-shard sorted local-id arrays; every kernel masks candidates
  against its shard's array (engine/query.py). A reader constructed
  before a delete keeps serving its point-in-time view (same contract
  as the reader's generation guard: construct a new reader to observe
  new deletes).
- `compact_index` rewrites the index WITHOUT the tombstoned docs:
  docmap rows dropped and local ids renumbered dense per shard,
  postings decoded -> masked -> ids shifted -> re-encoded with the
  recomputed avgdl (block-max impacts refreshed), term_stats/stats/
  lineage/manifest rebuilt. Output is a standard index dir with no
  tombstones.

Scale: tombstones are tiny relative to the corpus (deletes are rare
events at 10^12 docs); they broadcast to kernels as per-shard int64
arrays. Compaction is one pass over postings (mapInPandas, one task
per parquet split, no shuffle — every posting row is rewritten
independently because doc renumbering is a per-shard prefix-sum over
the tombstone array, not a join) plus one shuffle to rewrite the
docmap partitioned by shard.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine import postings as P
from engine.hashing import term_bucket
from engine.index_build import POSTING_SCHEMA, POSTING_SCHEMA_POS, _local_df


def _tomb_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def _snap_path(index_dir: str) -> str:
    return os.path.join(index_dir, "snapshots.jsonl")


def list_snapshots(index_dir: str) -> list[dict]:
    """Snapshot log (Iceberg-flavored, deletes-only): snapshot_id k = the
    index state after the k-th delete batch; snapshot 0 is the base build
    (implicit — no log entry needed). Each record pins the exact tombstone
    files visible at that snapshot, so a reader can time-travel across
    deletes without any data rewrite (tombstone files are immutable and
    append-only; compaction starts a fresh index with a fresh history)."""
    p = _snap_path(index_dir)
    if not os.path.exists(p):
        return []
    out = []
    with open(p) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _append_snapshot(index_dir: str, record: dict) -> None:
    with open(_snap_path(index_dir), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
        f.flush()
        os.fsync(f.fileno())


def delete_docs(
    spark: SparkSession, index_dir: str, urls: list[str] | DataFrame
) -> int:
    """Mark documents deleted by url. Returns the number of NEW tombstone
    rows written (urls not present in the docmap are ignored; re-deleting
    an already-tombstoned url writes a duplicate row, deduped at read).

    The docmap read is shard-pruned: shards are computed driver-side with
    the same XXH64 routing the build used (hashing.term_bucket == pmod(
    xxhash64(url), n_shards)), so a small delete batch touches only its
    shards' partitions, never the full 10^12-row docmap."""
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    n_shards = manifest["n_shards"]
    dm = spark.read.parquet(os.path.join(index_dir, "docmap"))
    if isinstance(urls, DataFrame):
        url_df = urls.select("url").distinct()
        shards_expr = F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int")
        tomb = (
            dm.join(
                F.broadcast(url_df.withColumn("shard", shards_expr)),
                ["shard", "url"],
            )
            .select("shard", "local_id")
        )
    else:
        url_list = list(dict.fromkeys(urls))
        if not url_list:
            return 0
        shards = sorted({term_bucket(u, n_shards) for u in url_list})
        tomb = (
            dm.filter(F.col("shard").isin(shards))  # static -> partition pruning
            .filter(F.col("url").isin(url_list))
            .select("shard", "local_id")
        )
    rows = tomb.collect()  # tombstone batches are small by contract
    if not rows:
        return 0
    import pyarrow as pa
    import pyarrow.parquet as pq

    td = _tomb_dir(index_dir)
    os.makedirs(td, exist_ok=True)
    snaps = list_snapshots(index_dir)
    snap_id = 1 + (snaps[-1]["snapshot_id"] if snaps else 0)
    fname = f"tomb-{snap_id:06d}.parquet"
    tmp = os.path.join(td, f".{fname}.tmp{os.getpid()}")
    pq.write_table(
        pa.table(
            {
                "shard": pa.array([int(r["shard"]) for r in rows], pa.int32()),
                "local_id": pa.array([int(r["local_id"]) for r in rows], pa.int64()),
            }
        ),
        tmp,
    )
    os.replace(tmp, os.path.join(td, fname))
    # the snapshot record pins EVERY tombstone file visible at this point
    # (including any files from before the log existed), committed fsync'd
    # AFTER the data file lands — a crash between the two leaves an
    # unreferenced file the next snapshot sweeps in, never a dangling ref
    _append_snapshot(
        index_dir,
        {
            "snapshot_id": snap_id,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else 0,
            "operation": "delete",
            "ts": time.time(),
            "tombstone_files": sorted(
                fn for fn in os.listdir(td) if fn.endswith(".parquet")
            ),
            "n_new": len(rows),
        },
    )
    return len(rows)


def load_tombstones(index_dir: str, as_of: int | None = None) -> dict[int, np.ndarray]:
    """{shard: sorted unique local_id int64 array}, read via pyarrow (no
    Spark job). Empty dict if the index has no tombstones.

    as_of pins a snapshot (list_snapshots): only the tombstone files that
    snapshot recorded are read — time travel across delete batches with no
    data rewrite. as_of=0 is the base build (no deletes); None is the
    current state. Raises KeyError for an unknown snapshot id."""
    p = _tomb_dir(index_dir)
    if as_of is not None:
        if as_of == 0:
            return {}
        by_id = {s["snapshot_id"]: s for s in list_snapshots(index_dir)}
        if as_of not in by_id:
            raise KeyError(
                f"index at {index_dir} has no snapshot {as_of}; "
                f"known: 0 (base) + {sorted(by_id)}"
            )
        import pyarrow.dataset as ds

        files = [os.path.join(p, fn) for fn in by_id[as_of]["tombstone_files"]]
        tbl = ds.dataset(files, format="parquet").to_table(columns=["shard", "local_id"])
        shards = np.asarray(tbl.column("shard"), dtype=np.int64)
        locals_ = np.asarray(tbl.column("local_id"), dtype=np.int64)
    elif os.path.isdir(p):
        import pyarrow.dataset as ds

        tbl = ds.dataset(p, format="parquet").to_table(columns=["shard", "local_id"])
        shards = np.asarray(tbl.column("shard"), dtype=np.int64)
        locals_ = np.asarray(tbl.column("local_id"), dtype=np.int64)
    else:
        return {}  # no delete batch yet
    out: dict[int, np.ndarray] = {}
    for s in np.unique(shards):
        out[int(s)] = np.unique(locals_[shards == s])
    return out


def _make_rewriter(
    deleted: dict[int, np.ndarray], avgdl: float, k1: float, b: float,
    positions: bool = False,
):
    """mapInPandas posting rewriter: decode -> drop deleted docs -> shift
    local ids down by the count of deleted ids below them (prefix-sum via
    searchsorted over the shard's sorted tombstone array) -> re-encode
    with the compacted index's avgdl. Rows are independent (one per
    (bucket, shard, term)), so no group-carry is needed.

    positions=True (positional src index): the token-position stream is
    carried through compaction — decode to absolute positions, drop the
    occurrence slices of deleted postings, re-derive within-posting deltas
    from the survivors, re-encode alongside the other streams."""

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            buckets, shards, terms = [], [], []
            starts: list[int] = []
            d_parts, t_parts, l_parts, p_parts = [], [], [], []
            off = 0
            for row in pdf.itertuples(index=False):
                blocks = [
                    tuple(blk[k] for k in ("first_doc", "last_doc", "n", "doc_off",
                                           "tf_off", "dl_off", "max_impact"))
                    if isinstance(blk, dict) else tuple(blk)
                    for blk in row.blocks
                ]
                d, t, l = P.decode_term_postings(
                    row.docs_bin, row.tfs_bin, row.dls_bin, blocks
                )
                pos = None
                if positions:
                    pos = P.decode_term_positions(
                        t, row.pos_bin, list(row.pos_offs), blocks
                    )
                dels = deleted.get(int(row.shard))
                if dels is not None and dels.size:
                    keep = ~np.isin(d, dels, assume_unique=True)
                    if not keep.any():
                        continue  # term vanishes from this shard
                    if pos is not None:
                        pos = pos[np.repeat(keep, t.astype(np.int64))]
                    d, t, l = d[keep], t[keep], l[keep]
                    d = d - np.searchsorted(dels, d, side="left")
                buckets.append(row.bucket)
                shards.append(row.shard)
                terms.append(row.term)
                starts.append(off)
                d_parts.append(d)
                t_parts.append(t)
                l_parts.append(l)
                if pos is not None:
                    # re-derive within-posting deltas over the survivors
                    pos = pos.astype(np.int64)
                    pd_ = np.empty(pos.size, dtype=np.uint32)
                    if pos.size:
                        pd_[1:] = (pos[1:] - pos[:-1]).astype(np.uint32)
                        run_start = np.concatenate(
                            ([0], np.cumsum(t.astype(np.int64))[:-1])
                        )
                        pd_[run_start] = pos[run_start].astype(np.uint32)
                    p_parts.append(pd_)
                off += d.size
            if not starts:
                continue
            outs = P.encode_groups(
                np.concatenate(d_parts),
                np.concatenate(t_parts),
                np.concatenate(l_parts),
                np.asarray(starts, dtype=np.int64),
                avgdl, k1, b,
                pos_deltas=(
                    np.concatenate(p_parts).astype(np.uint32) if positions else None
                ),
            )
            cols = {
                "bucket": np.asarray(buckets, dtype=np.int64),
                "shard": np.asarray(shards, dtype=np.int64),
                "term": np.asarray(terms, dtype=object),
                "df_local": np.array([o["df"] for o in outs], dtype=np.int64),
                "cf_local": np.array([o["cf"] for o in outs], dtype=np.int64),
                "docs_bin": [o["docs_bin"] for o in outs],
                "tfs_bin": [o["tfs_bin"] for o in outs],
                "dls_bin": [o["dls_bin"] for o in outs],
                "blocks": [o["blocks"] for o in outs],
            }
            if positions:
                cols["pos_bin"] = [o["pos_bin"] for o in outs]
                cols["pos_offs"] = [o["pos_offs"] for o in outs]
            yield pd.DataFrame(cols)

    return rewrite


def compact_index(spark: SparkSession, src_dir: str, out_dir: str) -> dict:
    """Rewrite src_dir without its tombstoned docs into out_dir (a fresh
    standard index layout: docmap/postings/term_stats/stats/lineage +
    MANIFEST.json + checkpoint.jsonl; no tombstones). Returns the new
    manifest. src_dir is untouched — swap directories (or point new
    readers at out_dir) to publish, mirroring Lucene's merge-then-switch
    commit discipline."""
    with open(os.path.join(src_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    if len(manifest.get("text_fields", ["text"])) > 1:
        raise ValueError(
            "compact_index supports single-field indexes (multi-field "
            "compaction is a documented divergence; rebuild via build_index)"
        )
    n_shards, n_buckets = manifest["n_shards"], manifest["n_buckets"]
    k1, b = manifest["k1"], manifest["b"]
    deleted = load_tombstones(src_dir)
    job_id = f"compact-of-{manifest.get('job_id', 'index')}"
    os.makedirs(out_dir, exist_ok=True)

    def path(name: str) -> str:
        return os.path.join(out_dir, name)

    # ---- docmap: drop tombstoned rows, renumber local ids dense ----------
    dm = spark.read.parquet(os.path.join(src_dir, "docmap"))
    if deleted:
        tomb_rows = [
            (s, int(l)) for s, arr in deleted.items() for l in arr
        ]
        tomb_df = _local_df(spark, tomb_rows, "shard int, local_id long")
        kept = dm.join(F.broadcast(tomb_df), ["shard", "local_id"], "left_anti")
    else:
        kept = dm
    w = Window.partitionBy("shard").orderBy("local_id")
    kept = kept.withColumn("new_local", F.row_number().over(w).cast("long") - 1)

    shard_agg = {
        r["shard"]: (r["cnt"], r["sdl"])
        for r in kept.groupBy("shard")
        .agg(F.count("*").alias("cnt"), F.sum("dl").alias("sdl"))
        .collect()
    }
    n_docs = sum(c for c, _ in shard_agg.values())
    sum_dl = int(sum(s for _, s in shard_agg.values()))
    avgdl = sum_dl / n_docs if n_docs else 0.0
    offsets, acc = {}, 0
    for s in range(n_shards):
        offsets[s] = acc
        acc += shard_agg.get(s, (0, 0))[0]
    off_df = _local_df(
        spark, [(s, offsets[s]) for s in range(n_shards)], "shard int, shard_offset long"
    )
    (
        kept.join(F.broadcast(off_df), "shard")
        .select(
            "shard",
            F.col("new_local").alias("local_id"),
            (F.col("shard_offset") + F.col("new_local")).alias("doc_id"),
            "url",
            "dl",
            # docvalue columns (manifest docvalue_cols) survive compaction
            *[c for c in dm.columns if c not in
              {"shard", "local_id", "doc_id", "url", "dl"}],
        )
        .repartition(n_shards, "shard")
        .sortWithinPartitions("local_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path("docmap"))
    )

    # ---- postings: one independent rewrite pass (no shuffle) -------------
    with_pos = manifest.get("index_options", "freqs") == "positions"
    post = spark.read.parquet(os.path.join(src_dir, "postings"))
    rewriter = _make_rewriter(deleted, avgdl, k1, b, positions=with_pos)
    schema = POSTING_SCHEMA_POS if with_pos else POSTING_SCHEMA
    (
        post.mapInPandas(rewriter, schema)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path("postings"))
    )

    # ---- derived tables + manifest (same shapes as the batch build) ------
    newp = spark.read.parquet(path("postings"))
    (
        newp.groupBy("bucket", "term")
        .agg(F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf"))
        .repartition(max(1, n_buckets // 2), "bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path("term_stats"))
    )
    (
        newp.groupBy("bucket", "shard")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df_local").alias("n_postings"),
            F.sum(
                F.length("docs_bin") + F.length("tfs_bin") + F.length("dls_bin")
            ).alias("bytes"),
            F.min("term").alias("term_range_lo"),
            F.max("term").alias("term_range_hi"),
        )
        .withColumn("job_id", F.lit(job_id))
        .withColumn("input_snapshot", F.lit(int(n_docs)))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path("lineage"))
    )
    n_deleted = sum(int(a.size) for a in deleted.values())
    _local_df(
        spark,
        [(n_docs, float(avgdl), sum_dl, 0)],
        "n_docs long, avgdl double, sum_dl long, n_rejects long",
    ).coalesce(1).write.mode("overwrite").parquet(path("stats"))
    _local_df(
        spark,
        [
            (job_id, "docs_read", n_docs + n_deleted),
            (job_id, "docs_deleted", n_deleted),
            (job_id, "docs_indexed", n_docs),
        ],
        "job_id string, metric string, value long",
    ).coalesce(1).write.mode("append").parquet(path("metrics"))

    new_manifest = dict(
        manifest,
        n_docs=int(n_docs),
        avgdl=float(avgdl),
        sum_dl=sum_dl,
        shard_offsets=[offsets[s] for s in range(n_shards)],
        job_id=job_id,
    )
    ckpt = {
        "job_id": job_id,
        "stages": ["docmap", "stats", "postings", "term_stats"],
        "seq": 0,
        "ts": time.time(),
    }
    with open(os.path.join(out_dir, "checkpoint.jsonl"), "w") as f:
        f.write(json.dumps(ckpt) + "\n")
        f.flush()
        os.fsync(f.fileno())
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(new_manifest, f, indent=2, sort_keys=True)
    return new_manifest


def delete_by_query(spark: SparkSession, index_dir: str, body: dict) -> int:
    """ES `_delete_by_query`: tombstone every live document whose _id
    matches the DSL body's query context — the common housekeeping call
    the reference delegates to Elasticsearch. Composes the dispatcher's
    matched-set compiler (engine/dsl.py matched_urls_for_query:
    match_all / match / term / terms / match_phrase / multi_match /
    combined_fields + bool filter context, any indexed field) with
    the url-list tombstone writer above; returns the number of NEW
    tombstone rows (one snapshot, so the whole delete is one atomic
    point-in-time step for readers).

    Cost shape: the matched set comes from the SAME bucket-pruned
    postings kernels a search uses (engine/aggs.py matched_urls), never
    a corpus scan; match_all composes the live docmap with pushed filter
    predicates instead."""
    from engine.dsl import matched_urls_for_query
    from engine.query import IndexReader

    query = body.get("query", body) if isinstance(body, dict) else body
    if "query" in query:  # accept either a full body or a bare query
        query = query["query"]
    reader = IndexReader(spark, index_dir)
    urls = matched_urls_for_query(reader, query)
    return delete_docs(spark, index_dir, urls)
