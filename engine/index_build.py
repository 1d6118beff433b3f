"""Inverted-index build: doc-sharded, term-bucketed, resumable.

Architecture (scale rationale, SURVEY.md sections 3-4):

- **Doc sharding** (`shard = pmod(xxhash64(url), n_shards)`) is the outer
  partitioning — the Spark-native form of the reference's 3-shard hash
  routing (config/search_scheme.json:5). Doc-at-a-time block-max WAND needs
  every query term's postings co-located per doc subset; doc shards make
  that true at 10^12 docs and bound the largest head-term posting by the
  shard size. Shard count scales with the corpus (10^5 at full scale);
  the hash also acts as the head-term salt: a stopword's postings split
  across all shards, so no single reducer ever sees a full head-term list
  (north_rule skew requirement).
- **Doc ids** are global dense ordinals, contiguous per shard: rank of url
  within its shard plus the shard's cumulative offset. Deterministic across
  runs and parallelism levels (no sampling-based range partitioner), which
  freezes the rank tiebreak and makes resume byte-stable.
- **Term buckets** (`bucket = pmod(xxhash64(term), n_buckets)`) are the
  storage partitioning of the postings table (parquet `partitionBy`), the
  plain-parquet stand-in for Iceberg `PARTITIONED BY (bucket(term))`: a
  query's terms touch at most |q| bucket directories (partition pruning).
- **Posting encode** is an Arrow-native mapInArrow over RAW exploded token
  rows sorted by (shard, term, local_id): tf recovered as run lengths after
  the sort (a map-side hash agg over the nearly-unique key measured slower
  than shuffling the extra rows), groups straddling Arrow-batch boundaries
  carried, numpy StreamVByte encode (engine/postings.py), Arrow buffers in
  and out — zero Python objects on the hot path.
- **Resume** (north_rule): the tf table and postings are materialized
  per-bucket; a checkpoint table records completed stages and buckets, a
  lineage table records per (bucket, shard) doc counts and bytes. A resumed
  build deletes un-checkpointed partial bucket dirs and rebuilds only
  missing buckets. (On a real cluster these would be Iceberg snapshot
  commits; plain parquet + atomic dir renames here.)

Reference parity: replaces the loader pipeline main.go:105-313 (scan ->
validate -> enrich -> transform -> bulk sink, reject side-files
write/write.go:8-16, metrics ticker main.go:283-313) with
scan -> reject-log -> tokenize -> shard -> encode -> segment write ->
lineage/metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine import postings as P
from engine.textnorm import standard_tokenize_col

DEFAULT_SHARDS = 8
DEFAULT_BUCKETS = 16

POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("df_local", T.IntegerType()),
        T.StructField("cf_local", T.LongType()),
        T.StructField("docs_bin", T.BinaryType()),
        T.StructField("tfs_bin", T.BinaryType()),
        T.StructField("dls_bin", T.BinaryType()),
        T.StructField(
            "blocks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("first_doc", T.LongType()),
                        T.StructField("last_doc", T.LongType()),
                        T.StructField("n", T.IntegerType()),
                        T.StructField("doc_off", T.IntegerType()),
                        T.StructField("tf_off", T.IntegerType()),
                        T.StructField("dl_off", T.IntegerType()),
                        T.StructField("max_impact", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)

# positional indexes (index_options="positions") append a token-position
# stream: pos_bin = per-block svb streams of within-posting position
# deltas (first raw, rest gaps — Lucene layout), pos_offs = per-block byte
# offsets into pos_bin (parallel to blocks, NOT folded into the frozen
# block struct so every freqs-index reader/kernel is untouched).
POSTING_SCHEMA_POS = T.StructType(
    POSTING_SCHEMA.fields
    + [
        T.StructField("pos_bin", T.BinaryType()),
        T.StructField("pos_offs", T.ArrayType(T.IntegerType())),
    ]
)


# ---------------------------------------------------------------------------
# driver-side small tables: ALWAYS pandas-backed (Arrow -> LocalRelation).
# A list-backed createDataFrame becomes a Python RDD whose every action
# respawns pyspark workers (~7s/job measured) — never use it for metadata.
# ---------------------------------------------------------------------------


def _local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    cols = [f.split()[0] for f in schema.split(",")]
    pdf = pd.DataFrame(rows, columns=[c.strip() for c in cols])
    return spark.createDataFrame(pdf, schema)


def _append_metrics(spark: SparkSession, out_dir: str, job_id: str, rows: list[tuple[str, int]]) -> None:
    """Append (job_id, metric, value) rows to the metrics table — the S8/ST1
    progress-sink analog of the reference's status ticker (main.go:283-313):
    instead of a 1 s stderr print loop, every build stage commits its row
    counts, wall time, and throughput, observed in-flight via df.observe
    (CollectMetricsExec — no extra pass over the data)."""
    _local_df(
        spark,
        [(job_id, m, int(v)) for m, v in rows],
        "job_id string, metric string, value long",
    ).coalesce(1).write.mode("append").parquet(os.path.join(out_dir, "metrics"))


# ---------------------------------------------------------------------------
# reject filter (P2/P3: transform/transform.go:37-45 analog)
# ---------------------------------------------------------------------------


def split_rejects(pages: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """valid docs + reject_log(url, reason, detail) side-output — the single-
    table replacement for the reference's five error files (write.go:8-16).
    Validity is judged on `text_col` (the primary analyzed field)."""
    rejects = pages.select(
        "url",
        F.when(F.col(text_col).isNull(), F.lit("missing_text"))
        .when(F.col(text_col) == "", F.lit("empty_text"))
        .alias("reason"),
        F.lit("").alias("detail"),
    ).filter(F.col("reason").isNotNull())
    valid = pages.filter(F.col(text_col).isNotNull() & (F.col(text_col) != ""))
    return valid, rejects


# ---------------------------------------------------------------------------
# doc-id assignment (deterministic, dense, shard-contiguous)
# ---------------------------------------------------------------------------


def assign_doc_ids(valid: DataFrame, n_shards: int) -> DataFrame:
    """Adds shard, local_id, doc_id. One shuffle (window by shard); offsets
    are a tiny driver-side cumulative sum broadcast back — the scalable
    zipWithIndex pattern, deterministic because shard is a pure hash (no
    sampled range boundaries)."""
    spark = valid.sparkSession
    df = valid.withColumn("shard", F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int"))
    counts = {r["shard"]: r["cnt"] for r in df.groupBy("shard").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for s in range(n_shards):
        offsets[s] = acc
        acc += counts.get(s, 0)
    off_df = _local_df(
        spark, [(s, offsets[s]) for s in range(n_shards)], "shard int, shard_offset long"
    )
    w = Window.partitionBy("shard").orderBy("url")
    return (
        df.join(F.broadcast(off_df), "shard")
        .withColumn("local_id", F.row_number().over(w).cast("long") - 1)
        .withColumn("doc_id", F.col("shard_offset") + F.col("local_id"))
        .drop("shard_offset")
    )


# ---------------------------------------------------------------------------
# posting encoder (mapInArrow, group-carry across Arrow batches)
# ---------------------------------------------------------------------------


def _make_encoder(avgdl: float, k1: float, b: float, positions: bool = False):
    """Arrow-native (mapInArrow) posting encoder: ZERO Python objects on the
    hot path. Input rows are RAW exploded tokens (one row per occurrence,
    no tf column) sorted by (shard, term, local_id) — plus, for positional
    indexes, a `pos` column (token position within the doc) with `pos` as
    the final sort key, emitted as the pos_bin/pos_offs stream:

    - a map-side hash aggregation over the nearly-unique (shard, term,
      local_id) key costs more than it saves (measured), and the reduce
      side sorts anyway — tf is recovered here as run lengths, vectorized;
    - term strings never become Python objects: group boundaries come from
      pyarrow.compute.not_equal on adjacent slices, group keys from
      Array.take, output binaries from Array.from_buffers over the
      encoder's contiguous buffers, and blocks from ListArray.from_arrays
      — all C++-side.

    A group straddling an Arrow batch boundary is carried into the next
    batch (term as an Arrow slice, numerics as numpy slices).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    block_struct = pa.struct(
        [
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("n", pa.int32()),
            ("doc_off", pa.int32()),
            ("tf_off", pa.int32()),
            ("dl_off", pa.int32()),
            ("max_impact", pa.float64()),
        ]
    )

    def _bin_array(buf: bytes, off: np.ndarray) -> "pa.Array":
        offsets = off.astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), offsets.size - 1,
            [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)],
        )

    def _emit(term: "pa.Array", arrs: dict, starts: np.ndarray) -> "pa.RecordBatch":
        local = arrs["local_id"]
        n = local.size
        is_new_group = np.zeros(n, dtype=bool)
        is_new_group[starts] = True
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (local[1:] != local[:-1]) | is_new_group[1:]
        run_start = np.flatnonzero(change)
        tf = np.diff(np.append(run_start, n))
        dedup_starts = np.flatnonzero(is_new_group[run_start])
        pos_deltas = None
        if positions:
            # within-posting deltas: first occurrence raw, rest gaps —
            # rows arrive pos-sorted within each (term, doc) run
            pos = arrs["pos"]
            pos_deltas = np.empty(n, dtype=np.uint32)
            pos_deltas[1:] = (pos[1:] - pos[:-1]).astype(np.uint32)
            pos_deltas[run_start] = pos[run_start].astype(np.uint32)
        c = P.encode_groups_columnar(
            local[run_start], tf, arrs["dl"][run_start], dedup_starts, avgdl, k1, b,
            pos_deltas=pos_deltas,
        )
        idx = pa.array(starts)
        blocks_flat = pa.StructArray.from_arrays(
            [
                pa.array(c["blk_first"]),
                pa.array(c["blk_last"]),
                pa.array(c["blk_n"]),
                pa.array(c["blk_doc_off"]),
                pa.array(c["blk_tf_off"]),
                pa.array(c["blk_dl_off"]),
                pa.array(c["blk_max"]),
            ],
            fields=list(block_struct),
        )
        blocks = pa.ListArray.from_arrays(
            pa.array(c["blk_group_off"].astype(np.int32)), blocks_flat
        )
        cols = [
            pa.array(arrs["bucket"][starts].astype(np.int32)),
            pa.array(arrs["shard"][starts].astype(np.int32)),
            term.take(idx),
            pa.array(c["df"].astype(np.int32)),
            pa.array(c["cf"]),
            _bin_array(c["docs_buf"], c["docs_off"]),
            _bin_array(c["tfs_buf"], c["tfs_off"]),
            _bin_array(c["dls_buf"], c["dls_off"]),
            blocks,
        ]
        names = ["bucket", "shard", "term", "df_local", "cf_local",
                 "docs_bin", "tfs_bin", "dls_bin", "blocks"]
        if positions:
            cols.append(_bin_array(c["pos_buf"], c["pos_off"]))
            cols.append(
                pa.ListArray.from_arrays(
                    pa.array(c["blk_group_off"].astype(np.int32)),
                    pa.array(c["blk_pos_off"]),
                )
            )
            names += ["pos_bin", "pos_offs"]
        return pa.record_batch(cols, names=names)

    _NUM = ("bucket", "shard", "local_id", "dl") + (("pos",) if positions else ())

    def encode(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        carry_term: "pa.Array | None" = None
        carry: dict | None = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            term = rb.column("term")
            arrs = {k: rb.column(k).to_numpy(zero_copy_only=False) for k in _NUM}
            if carry is not None:
                term = pa.concat_arrays([carry_term, term])
                arrs = {k: np.concatenate([carry[k], arrs[k]]) for k in _NUM}
            n = len(term)
            tchange = pc.not_equal(term.slice(1), term.slice(0, n - 1)).to_numpy(
                zero_copy_only=False
            )
            change = np.flatnonzero(tchange | (arrs["shard"][1:] != arrs["shard"][:-1])) + 1
            starts = np.concatenate(([0], change))
            last_start = int(starts[-1])
            carry_term = term.slice(last_start)
            carry = {k: arrs[k][last_start:] for k in _NUM}
            if len(starts) > 1:
                head = {k: arrs[k][:last_start] for k in _NUM}
                yield _emit(term.slice(0, last_start), head, starts[:-1])
        if carry is not None and carry["local_id"].size:
            yield _emit(carry_term, carry, np.array([0], dtype=np.int64))

    return encode


# ---------------------------------------------------------------------------
# checkpoint helpers (plain-parquet stand-ins for Iceberg snapshot commits)
# ---------------------------------------------------------------------------


def _ckpt_path(out_dir: str) -> str:
    return os.path.join(out_dir, "checkpoint.jsonl")


LOCK_NAME = "_BUILD_LOCK"


def _acquire_build_lock(out_dir: str, job_id: str) -> tuple[int, str]:
    """Single-writer guard (DURABILITY.md contract #3): take an exclusive
    flock on the lock file, held open for the build's lifetime. A second
    concurrent build fails the non-blocking flock and is REJECTED; a
    crashed builder's lock is released by the KERNEL when its fd closes,
    so staleness needs no pid probing — no dead-pid race between two
    stealers, no EPERM misread of a live foreign-uid holder. The Iceberg
    analog is optimistic metadata-swap conflict detection — single-
    writer-per-table is the stricter, simpler local contract."""
    import fcntl

    lock = os.path.join(out_dir, LOCK_NAME)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        holder = "unknown"
        try:
            with open(lock) as f:
                holder = json.load(f)
        except Exception:
            pass
        os.close(fd)
        raise RuntimeError(
            f"concurrent build rejected: {out_dir} is locked by {holder!r}"
        )
    os.ftruncate(fd, 0)
    os.write(fd, json.dumps({"job_id": job_id, "pid": os.getpid()}).encode())
    os.fsync(fd)
    return fd, lock


def _release_build_lock(fd: int, lock: str) -> None:
    try:
        os.unlink(lock)
    except FileNotFoundError:
        pass
    os.close(fd)  # releases the flock


def _wipe_contents(out_dir: str) -> None:
    """Fresh (non-resume) build: clear prior outputs but keep OUR lock."""
    for name in os.listdir(out_dir):
        if name == LOCK_NAME:
            continue
        p = os.path.join(out_dir, name)
        shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)


def _read_ckpt(spark: SparkSession, out_dir: str) -> set[str]:
    """Completed stages from the checkpoint log. The log is a driver-side
    append-only JSONL metadata file — the same commit shape as an Iceberg
    metadata.json chain; stage data itself is always written by executors
    first, then the stage is committed here (write-then-commit ordering).

    Falls back to the legacy `checkpoint/` parquet dir (pre-JSONL format)
    so resume on an old index does not silently rebuild everything; legacy
    stages are re-logged to the JSONL on the next _mark_ckpt."""
    p = _ckpt_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return {json.loads(line)["stage"] for line in f if line.strip()}
    legacy = os.path.join(out_dir, "checkpoint")
    if os.path.isdir(legacy):
        try:
            import pyarrow.parquet as _pq

            t = _pq.read_table(legacy, columns=["stage"])
            return set(t.column("stage").to_pylist())
        except Exception:
            return set()
    return set()


def _mark_ckpt(spark: SparkSession, out_dir: str, job_id: str, stages: list[str], seq: int) -> None:
    with open(_ckpt_path(out_dir), "a") as f:
        for s in stages:
            f.write(json.dumps({"job_id": job_id, "stage": s, "status": "done", "seq": seq}) + "\n")
        f.flush()
        os.fsync(f.fileno())


# ---------------------------------------------------------------------------
# the build
# ---------------------------------------------------------------------------


def build_index(
    spark: SparkSession,
    pages: DataFrame | str,
    out_dir: str,
    n_shards: int = DEFAULT_SHARDS,
    n_buckets: int = DEFAULT_BUCKETS,
    k1: float = P.K1,
    b: float = P.B,
    job_id: str = "build-1",
    resume: bool = False,
    bucket_chunk: int = 4,
    persist_tokens: bool | None = None,
    docvalue_cols: list[str] | None = None,
    index_options: str = "freqs",
    text_fields: list[str] | None = None,
    store_source: bool | list[str] = False,
) -> dict:
    """Build the full index under out_dir. Returns the manifest dict.

    index_options: "freqs" (default — the frozen layout, byte-identical to
    prior rounds) or "positions": adds the pos_bin/pos_offs token-position
    stream to every posting row (Lucene positions analog) so match_phrase
    can verify term adjacency from the index. Freqs-only indexes answer
    every non-positional query identically; the query layer refuses phrase
    queries against a freqs index with a clear error (ES parity: a field
    indexed without positions rejects phrase queries).

    text_fields: analyzed text columns to index. Default ["text"] — the
    frozen single-field layout, byte-identical to prior rounds. With
    several fields (ES multi-field mapping: the reference stores ONE value
    indexed nine ways, config/search_scheme.json:140-180; a web corpus
    stores title+body), each field gets its OWN postings and term
    dictionary under postings/field=<f>/bucket=* and
    term_stats/field=<f>/bucket=* (per-field df/avgdl — ES scores each
    field with its own stats), sharing one docmap/doc-id space; per-field
    doc lengths ride the docmap as dl__<f> columns. Each field runs its
    own tokenize->shuffle->encode pass: the passes read DISJOINT column
    sets off the source (parquet column pruning makes F passes scan the
    same total bytes as one fused pass) and the per-field shuffles
    carry exactly the fused shuffle's rows, so at 100 TB this is F
    sequential jobs over 1/F of the data each — no extra IO, and the
    resume unit stays (field, bucket). Validity (reject filter) is bound
    to the FIRST field; other fields null-coalesce to "".

    store_source: ES `_source`/stored-fields analog — True stores every
    text_fields column in the docmap (as src__<f>), a list stores those
    named source columns (indexed or not: the reference mapping stores
    non-indexed fields, config/search_scheme.json:213-224 "index":"false").
    Stored columns ride the docmap write; parquet column pruning keeps
    them free for queries that don't fetch _source.

    docvalue_cols: extra source columns stored per doc in the docmap — the
    Lucene-docvalues analog backing aggregations (engine/aggs.py). They ride
    the existing docmap shuffle/write (no extra pass); parquet column
    pruning keeps them free for queries that don't ask for them.

    persist_tokens: the fused build scans+tokenizes the corpus twice (the
    docmap/stats pass must complete before encoding — impacts need avgdl).
    True caches the tokenized docs between the passes (MEMORY_AND_DISK),
    trading executor memory for one full tokenize; None (auto) enables it
    only when the input is a parquet path smaller than
    $SPARK_GRAFT_PERSIST_MAX_BYTES (default 8 GiB) — at 100 TB the cache
    would thrash and re-tokenizing the pruned scan is the right plan, so
    auto turns itself off.

    Layout: stats/ term_stats/ docmap/ tf_table/ postings/ lineage/
    reject_log/ metrics/ + checkpoint.jsonl + MANIFEST.json + _BUILD_LOCK
    while running (legacy checkpoint/ parquet dirs still readable on
    resume). Durability semantics — write-then-commit ordering, crash
    windows, single-writer locking — are the frozen contract in
    DURABILITY.md, tested by tests/test_durability.py.
    """
    os.makedirs(out_dir, exist_ok=True)
    fd, lock = _acquire_build_lock(out_dir, job_id)
    try:
        if not resume:
            _wipe_contents(out_dir)
        return _build_index_locked(
            spark, pages, out_dir, n_shards, n_buckets, k1, b, job_id,
            resume, bucket_chunk, persist_tokens, docvalue_cols,
            index_options, text_fields, store_source,
        )
    finally:
        _release_build_lock(fd, lock)


def _build_index_locked(
    spark: SparkSession,
    pages: DataFrame | str,
    out_dir: str,
    n_shards: int,
    n_buckets: int,
    k1: float,
    b: float,
    job_id: str,
    resume: bool,
    bucket_chunk: int,
    persist_tokens: bool | None = None,
    docvalue_cols: list[str] | None = None,
    index_options: str = "freqs",
    text_fields: list[str] | None = None,
    store_source: bool | list[str] = False,
) -> dict:
    assert index_options in ("freqs", "positions"), index_options
    with_pos = index_options == "positions"
    dv_cols = list(docvalue_cols or [])
    fields = list(text_fields or ["text"])
    multi = len(fields) > 1
    src_cols = list(fields) if store_source is True else list(store_source or [])
    if isinstance(pages, str):
        if persist_tokens is None:
            cap = int(os.environ.get("SPARK_GRAFT_PERSIST_MAX_BYTES", 8 << 30))
            paths = [pages]
            if os.path.isdir(pages):
                paths = [
                    os.path.join(r, fn)
                    for r, _, fns in os.walk(pages)
                    for fn in fns
                ]
            try:
                persist_tokens = sum(os.path.getsize(p) for p in paths) <= cap
            except OSError:  # remote path: size unknown, stay conservative
                persist_tokens = False
        pages = spark.read.parquet(pages)
    done = _read_ckpt(spark, out_dir) if resume else set()
    seq = len(done)

    def path(name: str) -> str:
        return os.path.join(out_dir, name)

    # ---- stage: rejects + tokenized docs + doc ids -------------------------
    valid, rejects = split_rejects(pages, fields[0])
    docs = assign_doc_ids(valid, n_shards)
    src_sel = [F.col(c).alias(f"src__{c}") for c in src_cols]
    if multi:
        # per-field token arrays; field 0 keeps the frozen tokens/dl names
        # so every single-field code path (and the docmap dl column) reads
        # the primary field unchanged
        tok_sel = [
            standard_tokenize_col(
                F.lower(F.coalesce(F.col(f), F.lit("")))
            ).alias(f"tokens__{f}")
            for f in fields
        ]
        docs = docs.select(
            "url", "shard", "local_id", "doc_id", *tok_sel, *dv_cols, *src_sel
        )
        for f in fields:
            docs = docs.withColumn(f"dl__{f}", F.size(f"tokens__{f}"))
        docs = docs.withColumn("dl", F.col(f"dl__{fields[0]}"))
        dl_extra = [f"dl__{f}" for f in fields]
        tokens_of = {f: f"tokens__{f}" for f in fields}
    else:
        docs = docs.select(
            "url",
            "shard",
            "local_id",
            "doc_id",
            standard_tokenize_col(F.lower(F.col(fields[0]))).alias("tokens"),
            *dv_cols,
            *src_sel,
        ).withColumn("dl", F.size("tokens"))
        dl_extra = []
        tokens_of = {fields[0]: "tokens"}
    src_names = [f"src__{c}" for c in src_cols]
    if persist_tokens:
        from pyspark import StorageLevel

        # one tokenize pass instead of two: the docmap/stats pass and the
        # postings pass share the cached tokenized docs (spills to disk if
        # the executors can't hold them)
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)

    if "docmap" not in done:
        rejects.write.mode("overwrite").parquet(path("reject_log"))
        obs = Observation("load_docmap")
        t0 = time.monotonic()
        (
            docs.select(
                "shard", "local_id", "doc_id", "url", "dl",
                *dl_extra, *dv_cols, *src_names,
            )
            .observe(obs, F.count(F.lit(1)).alias("docs"), F.sum("dl").alias("tokens"))
            .repartition(n_shards, "shard")
            .sortWithinPartitions("local_id")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path("docmap"))
        )
        el = max(time.monotonic() - t0, 1e-9)
        got = obs.get
        _append_metrics(
            spark, out_dir, job_id,
            [
                ("stage:docmap:docs_read", got["docs"]),
                ("stage:docmap:tokens", got["tokens"] or 0),
                ("stage:docmap:elapsed_ms", el * 1000),
                ("stage:docmap:docs_per_sec", got["docs"] / el),
            ],
        )
        _mark_ckpt(spark, out_dir, job_id, ["docmap"], seq)
        done.add("docmap")
        seq += 1

    docmap = spark.read.parquet(path("docmap"))
    shard_agg = {
        r["shard"]: (r["cnt"], r["sdl"], r["off"])
        for r in docmap.groupBy("shard")
        .agg(F.count("*").alias("cnt"), F.sum("dl").alias("sdl"), F.min("doc_id").alias("off"))
        .collect()
    }
    n_docs = sum(c for c, _, _ in shard_agg.values())
    sum_dl = int(sum(s for _, s, _ in shard_agg.values()))
    avgdl = sum_dl / n_docs if n_docs else 0.0
    # doc_id = shard_offsets[shard] + local_id — lets the query path compute
    # global ids driver-side and prune the docmap read to the winners only
    shard_offsets = [int(shard_agg[s][2]) if s in shard_agg else -1 for s in range(n_shards)]

    if "stats" not in done:
        n_rejects = spark.read.parquet(path("reject_log")).count()
        _local_df(
            spark,
            [(n_docs, float(avgdl), sum_dl, n_rejects)],
            "n_docs long, avgdl double, sum_dl long, n_rejects long",
        ).coalesce(1).write.mode("overwrite").parquet(path("stats"))
        # S8 metrics analog (main.go:283-313): totals written once per job
        _local_df(
            spark,
            [
                (job_id, "docs_read", n_docs + n_rejects),
                (job_id, "docs_rejected", n_rejects),
                (job_id, "docs_indexed", n_docs),
            ],
            "job_id string, metric string, value long",
        ).coalesce(1).write.mode("append").parquet(path("metrics"))
        _mark_ckpt(spark, out_dir, job_id, ["stats"], seq)
        done.add("stats")
        seq += 1

    # per-field avgdl (ES scores each field with its own stats). Field 0's
    # numbers are the shard_agg ones already computed; extra fields cost one
    # tiny agg over the (column-pruned) docmap.
    field_stats: dict[str, dict] = {fields[0]: {"avgdl": float(avgdl), "sum_dl": sum_dl}}
    if multi:
        sums = docmap.agg(
            *[F.sum(f"dl__{f}").alias(f) for f in fields[1:]]
        ).collect()[0]
        for f in fields[1:]:
            s = int(sums[f] or 0)
            field_stats[f] = {
                "avgdl": s / n_docs if n_docs else 0.0,
                "sum_dl": s,
            }

    # ---- stage: postings (one pass per field) -------------------------------
    # tf = per (shard, term, doc) frequency with the term's storage bucket.
    # Two physical strategies, identical output:
    #  - fused (bucket_chunk >= n_buckets): tokenize -> explode -> partial-agg
    #    -> ONE shuffle onto (bucket, shard) -> sort -> encode -> write. No
    #    intermediate materialization; checkpoint unit = the whole stage.
    #  - chunked: materialize the tf table partitioned by bucket once, then
    #    encode bucket chunks with per-bucket checkpoints — the resumable
    #    path for very large corpora (re-tokenization would dwarf the IO).
    # Multi-field: each field runs its own pass into postings/field=<f>
    # (disjoint rows, per-field avgdl baked into the block-max impacts);
    # single-field keeps the frozen paths and checkpoint names.
    posting_schema = POSTING_SCHEMA_POS if with_pos else POSTING_SCHEMA
    sort_keys = ["shard", "term", "local_id"] + (["pos"] if with_pos else [])
    default_par = spark.sparkContext.defaultParallelism
    chunked = bucket_chunk < n_buckets
    for fld in fields:
        fsub = f"/field={fld}" if multi else ""
        fckpt = f":{fld}" if multi else ""
        dl_col = f"dl__{fld}" if multi else "dl"
        tcol = tokens_of[fld]
        tok_col = (
            [F.posexplode(tcol).alias("pos", "term")]
            if with_pos
            else [F.explode(tcol).alias("term")]
        )
        tf = (
            docs.select("shard", "local_id", F.col(dl_col).alias("dl"), *tok_col)
            .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
        )
        if chunked and f"tf_table{fckpt}" not in done:
            tf.write.mode("overwrite").partitionBy("bucket").parquet(
                path("tf_table" + fsub)
            )
            _mark_ckpt(spark, out_dir, job_id, [f"tf_table{fckpt}"], seq)
            done.add(f"tf_table{fckpt}")
            seq += 1

        ck_prefix = f"postings{fckpt}:bucket="
        done_buckets = {int(s.split("=")[1]) for s in done if s.startswith(ck_prefix)}
        missing = [bkt for bkt in range(n_buckets) if bkt not in done_buckets]
        # clean partial (un-checkpointed) bucket dirs from a crashed run
        post_dir = path("postings" + fsub)
        if os.path.exists(post_dir):
            for d in os.listdir(post_dir):
                if d.startswith("bucket=") and int(d.split("=")[1]) not in done_buckets:
                    shutil.rmtree(os.path.join(post_dir, d))

        encoder = _make_encoder(field_stats[fld]["avgdl"], k1, b, positions=with_pos)
        tf_src = spark.read.parquet(path("tf_table" + fsub)) if chunked else tf
        for i in range(0, len(missing), bucket_chunk):
            chunk = missing[i : i + bucket_chunk]
            # one task per (bucket, shard) cell, capped at ~2x the cores: tasks
            # scale with the cluster, not with the bucket x shard product
            n_parts = max(1, min(len(chunk) * n_shards, 2 * default_par))
            src = tf_src if len(chunk) == n_buckets else tf_src.filter(F.col("bucket").isin(chunk))
            obs = Observation(f"postings_chunk{fckpt}_{chunk[0]}")
            t0 = time.monotonic()
            encoded = (
                src.observe(obs, F.count(F.lit(1)).alias("postings"))
                .repartition(n_parts, "bucket", "shard")
                .sortWithinPartitions(*sort_keys)
                .mapInArrow(encoder, posting_schema)
            )
            (
                encoded.write.mode("append")
                .partitionBy("bucket")
                .parquet(post_dir)
            )
            el = max(time.monotonic() - t0, 1e-9)
            n_post = obs.get["postings"]
            tag = f"buckets={chunk[0]}..{chunk[-1]}"
            _append_metrics(
                spark, out_dir, job_id,
                [
                    (f"stage:postings{fckpt}:{tag}:postings_in", n_post),
                    (f"stage:postings{fckpt}:{tag}:elapsed_ms", el * 1000),
                    (f"stage:postings{fckpt}:{tag}:postings_per_sec", n_post / el),
                ],
            )
            _mark_ckpt(
                spark, out_dir, job_id,
                [f"{ck_prefix}{bkt}" for bkt in chunk], seq,
            )
            seq += 1

        # ---- stage: global term stats + lineage (from the written postings) --
        if f"term_stats{fckpt}" not in done:
            post = spark.read.parquet(post_dir)
            (
                post.groupBy("bucket", "term")
                .agg(F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf"))
                .repartition(max(1, n_buckets // 2), "bucket")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(path("term_stats" + fsub))
            )
            lineage = (
                post.groupBy("bucket", "shard")
                .agg(
                    F.count("*").alias("n_terms"),
                    F.sum("df_local").alias("n_postings"),
                    F.sum(F.length("docs_bin") + F.length("tfs_bin") + F.length("dls_bin")).alias("bytes"),
                    F.min("term").alias("term_range_lo"),
                    F.max("term").alias("term_range_hi"),
                )
                .withColumn("job_id", F.lit(job_id))
                .withColumn("input_snapshot", F.lit(int(n_docs)))
            )
            if multi:
                lineage = lineage.withColumn("field", F.lit(fld))
            lineage.coalesce(1).write.mode(
                "overwrite" if fld == fields[0] else "append"
            ).parquet(path("lineage"))
            _mark_ckpt(spark, out_dir, job_id, [f"term_stats{fckpt}"], seq)
            done.add(f"term_stats{fckpt}")
            seq += 1

    manifest = {
        "n_shards": n_shards,
        "n_buckets": n_buckets,
        "k1": k1,
        "b": b,
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "sum_dl": sum_dl,
        "analyzer": "standard_lower_v1",
        "codec": "svb_delta_block128_v1",
        "shard_offsets": shard_offsets,
        "job_id": job_id,
        "docvalue_cols": dv_cols,
        "index_options": index_options,
    }
    if multi:
        manifest["text_fields"] = fields
        manifest["field_stats"] = field_stats
    elif fields[0] != "text":
        manifest["text_fields"] = fields
    if src_cols:
        manifest["stored_cols"] = src_cols
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    if persist_tokens:
        docs.unpersist()
    return manifest


def swap_index(
    spark: SparkSession,
    pages: DataFrame | str,
    live_dir: str,
    **build_kwargs,
) -> dict:
    """Zero-downtime index replace — the reference's delete-then-create
    lifecycle (run-elastic-search.sh:84-104: DELETE index -> PUT from DDL
    -> run loader) re-expressed as a build-aside + atomic publish:

      1. the new generation builds in <live>.next (readers of live_dir
         are untouched the whole time — never a wiped live index);
      2. publish = two renames: live -> <live>.old, <live>.next -> live
         (each rename atomic; the sub-ms window between them affects only
         brand-new opens, never an already-open reader);
      3. <live>.old is removed after publish.

    Already-open IndexReaders pinned to the old generation fail CLEANLY on
    next use: the manifest-mtime generation guard (_check_generation)
    raises instead of silently mixing old cached dictionaries with new
    postings. Fresh IndexReaders serve the new generation. Crash safety:
    a crash before the first rename leaves live untouched (+ a .next to
    garbage-collect); between renames, live is momentarily absent but
    both generations exist on disk; after, the swap is complete."""
    live_dir = os.path.abspath(live_dir).rstrip("/")
    nxt, old = live_dir + ".next", live_dir + ".old"
    shutil.rmtree(nxt, ignore_errors=True)
    manifest = build_index(spark, pages, nxt, **build_kwargs)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(live_dir):
        os.rename(live_dir, old)
    os.rename(nxt, live_dir)
    shutil.rmtree(old, ignore_errors=True)
    return manifest
