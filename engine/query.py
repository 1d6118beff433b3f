"""BM25 top-k query engine over the built index.

Execution (SURVEY.md 3.3): analyze the query with the SAME frozen analyzer
used at index time -> look up per-term global df from term_stats (bucket-
pruned parquet read, tiny) -> compute Lucene idf on the driver -> per
doc-shard, read only the query terms' posting rows (bucket directory
pruning + term pushdown) and run top-k with block-max WAND (or vectorized
TAAT) into a bounded heap -> merge the tiny per-shard heaps on the driver
(score desc, doc_id asc) -> pruned docmap read for the k winners' urls.

Two physical algorithms, both rank-identical to the oracle:
- algo="wand": vectorized block-max pruning — doc space is cut at posting-
  block boundaries into disjoint intervals, processed in descending
  upper-bound order; intervals whose block-max sum can't beat theta are
  skipped without decoding, survivors are scored with numpy accumulation.
  The 10^12-doc scale path: work is bounded by the blocks whose upper
  bound beats theta, with zero per-posting Python.
- algo="taat": term-at-a-time vectorized numpy accumulation — decodes the
  query terms' postings fully; the brute-force cross-check at any scale.

Every query path that maps a function over the query terms' postings
runs on one per-shard scatter, _scatter: the same function runs either
in-process on the driver (small queries) or in Spark workers, and only
small frames (k-row heaps, partial aggregates) leave a shard. Its
docstring lists its users and the paths that deliberately do not use it.

Scoring spec is frozen (SURVEY.md 5.4): exact dl, idf = ln(1+(N-df+0.5)/
(df+0.5)), score = sum idf * tf/(tf+k1*(1-b+b*dl/avgdl)), ties doc_id asc.

Deletes (engine/deletes.py): tombstoned docs are masked at decode time in
every kernel — Lucene's live-docs-bitmap semantics. Global stats (n_docs,
df, avgdl) keep counting deleted docs until compaction, so masking only
REMOVES docs from results; surviving scores are unchanged. Block-max
metadata still upper-bounds the masked postings (deleting docs can only
lower a block's true max), so block-max pruning stays safe. The reader
loads tombstones once (point-in-time view, same contract as the
generation guard); construct a new reader to observe new deletes.
"""

from __future__ import annotations

import functools
import heapq
import inspect
import json
import os
from collections import namedtuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine import postings as P
from engine.oracle import analyze_query_py


class IndexReader:
    """Query-side handle on one built index dir. Caches are bound to the
    bytes present at first use (dataset handles, dictionary, docmap) — a
    reader is a searcher over one index generation; construct a NEW reader
    after rebuilding or merging into the same directory."""

    # cache the term dictionary / docmap only when comfortably in-memory;
    # above this the parquet scans (bucket-pruned) are the scale path
    CACHE_MAX_DOCS = 5_000_000
    # resident docmap url arrays (driver serving path) — tighter gate than
    # CACHE_MAX_DOCS because urls are the wide column (~100 B each)
    DOCMAP_MEM_MAX_DOCS = 2_000_000

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        snapshot_id: int | None = None,
        field: str | None = None,
    ):
        self.spark = spark
        self.dir = index_dir
        # pin the live-docs view to a delete snapshot (engine/deletes.py
        # list_snapshots): 0 = base build, k = after the k-th delete batch,
        # None = current. Postings/docmap are immutable between snapshots,
        # so pinning tombstones IS time travel for this index layout.
        self.snapshot_id = snapshot_id
        self._manifest_path = os.path.join(index_dir, "MANIFEST.json")
        with open(self._manifest_path) as f:
            self.manifest = json.load(f)
        # generation id: the manifest is (re)written LAST by build/merge, so
        # its mtime identifies the index generation this reader's caches are
        # bound to. Cached paths check it and raise instead of silently
        # serving stale terms/urls after an in-place rebuild.
        self._gen_mtime_ns = os.stat(self._manifest_path).st_mtime_ns
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = self.manifest["avgdl"]
        self.k1 = self.manifest["k1"]
        self.b = self.manifest["b"]
        self.n_buckets = self.manifest["n_buckets"]
        # "freqs" (default, pre-positions indexes) or "positions"
        self.index_options = self.manifest.get("index_options", "freqs")
        # multi-field indexes (engine/index_build.py text_fields): one
        # reader serves ONE field's postings/dictionary; for_field() hands
        # out sibling readers over the shared docmap/doc-id space. avgdl is
        # the FIELD's (ES: per-field norms/stats).
        self.text_fields: list[str] = self.manifest.get("text_fields", ["text"])
        self.multi_field = len(self.text_fields) > 1
        self.field = field or self.text_fields[0]
        if self.field not in self.text_fields:
            raise ValueError(
                f"field {self.field!r} is not indexed (text_fields={self.text_fields})"
            )
        fsub = f"/field={self.field}" if self.multi_field else ""
        self._post_sub = "postings" + fsub
        self._ts_sub = "term_stats" + fsub
        if self.multi_field:
            self.avgdl = self.manifest["field_stats"][self.field]["avgdl"]
        self.stored_cols: list[str] = self.manifest.get("stored_cols", [])
        self._field_readers: dict[str, "IndexReader"] = {self.field: self}
        self._ts_df: DataFrame | None = None
        self._dm_df: DataFrame | None = None
        self._pa_ds: dict = {}  # cached pyarrow dataset handles per subdir
        self._post_files: list[tuple[int, str]] | None = None  # (bucket, path)
        self._ts_cache: dict[str, int] | None = None  # term -> df (small idx)
        self._dm_cache: dict[int, list] | None = None  # shard -> url list
        self._tomb: dict[int, np.ndarray] | None = None  # shard -> sorted dels

    def _check_generation(self) -> None:
        """Raise if the index was rebuilt/merged in place since this reader
        was constructed — the cached dataset handles / dictionary / docmap
        would silently serve the OLD generation otherwise. An os.stat is
        ~1 us; construct a new IndexReader after any in-place rebuild."""
        now = os.stat(self._manifest_path).st_mtime_ns
        if now != self._gen_mtime_ns:
            raise RuntimeError(
                f"index at {self.dir} changed generation (manifest mtime "
                f"{self._gen_mtime_ns} -> {now}); this IndexReader's caches "
                "are stale — construct a new IndexReader"
            )

    def for_field(self, field: str) -> "IndexReader":
        """Sibling reader over another indexed field of the SAME index
        generation (shared docmap/doc ids/tombstones; per-field postings,
        dictionary, and avgdl). Cached per root reader, so multi-field
        queries pay the manifest read once per field per process."""
        if field not in self._field_readers:
            r = IndexReader(self.spark, self.dir, self.snapshot_id, field=field)
            r._field_readers = self._field_readers  # share the sibling cache
            self._field_readers[field] = r
        return self._field_readers[field]

    def _pa_dataset(self, sub: str):
        """Cached pyarrow dataset handle: file/partition discovery costs a
        few ms per open — pay it once per reader, not per query."""
        self._check_generation()
        if sub not in self._pa_ds:
            import pyarrow.dataset as ds

            self._pa_ds[sub] = ds.dataset(
                os.path.join(self.dir, sub), format="parquet", partitioning="hive"
            )
        return self._pa_ds[sub]

    def tombstones(self) -> dict[int, np.ndarray]:
        """{shard: sorted unique deleted local_id int64 array}, loaded once
        per reader (point-in-time live-docs view, like a Lucene searcher's
        deleted-docs bitmap). Tombstone batches are tiny by contract
        (engine/deletes.py), so they ride into the Spark kernels inside the
        per-shard task closure."""
        if self._tomb is None:
            from engine.deletes import load_tombstones

            self._tomb = load_tombstones(self.dir, as_of=self.snapshot_id)
        return self._tomb

    def _term_stats_df(self) -> DataFrame:
        self._check_generation()
        if self._ts_df is None:
            ts = self.spark.read.parquet(os.path.join(self.dir, self._ts_sub))
            if self.n_docs <= self.CACHE_MAX_DOCS:
                ts = ts.persist()
            self._ts_df = ts
        return self._ts_df

    def _bucket_of(self, terms: list[str]) -> list[int]:
        # driver-side XXH64 (bit-identical to Spark's xxhash64, tested) —
        # no Spark job just to route terms to buckets
        from engine.hashing import term_bucket

        return sorted({term_bucket(t, self.n_buckets) for t in terms})

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Global df per term — a driver-side pyarrow dataset read (|q|
        bucket directories, term predicate into row groups): no Spark job
        for a handful of dictionary rows."""
        if not terms:
            return {}
        if self._ts_cache is not None:
            self._check_generation()
            return {t: self._ts_cache[t] for t in terms if t in self._ts_cache}
        import pyarrow.dataset as ds

        if self.n_docs <= self.CACHE_MAX_DOCS:
            # small index: load the whole dictionary once (vocab grows
            # ~ docs^0.5-0.7, Heaps' law — a few MB here); per-query
            # lookups become dict hits. Above the gate the bucket-pruned
            # + term-pushdown read IS the scale path.
            tbl = self._pa_dataset(self._ts_sub).to_table(columns=["term", "df"])
            self._ts_cache = dict(
                zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
            )
            return {t: self._ts_cache[t] for t in terms if t in self._ts_cache}
        tbl = self._pa_dataset(self._ts_sub).to_table(
            filter=ds.field("bucket").isin(self._bucket_of(terms))
            & ds.field("term").isin(terms),
            columns=["term", "df"],
        )
        return dict(zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()))

    def expand_prefix(self, prefix: str, max_expansions: int = 128) -> list[str]:
        """Prefix rewrite against the term dictionary (scoring_boolean).

        Bounded like Lucene's top_terms_N rewrite: at most max_expansions
        terms, highest-df first (a 1-char prefix over a web-scale vocabulary
        must not collect the whole dictionary to the driver). A prefix is
        served by a driver-side pyarrow range read (term_stats is
        term-sorted within buckets, so [prefix, prefix+1) prunes row
        groups); the empty prefix takes the Spark dictionary scan."""
        if prefix:
            import pyarrow.dataset as ds

            hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
            tbl = self._pa_dataset(self._ts_sub).to_table(
                filter=(ds.field("term") >= prefix) & (ds.field("term") < hi),
                columns=["term", "df"],
            )
            pairs = [
                (t, d)
                for t, d in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
                if t.startswith(prefix)
            ]
            pairs.sort(key=lambda x: (-x[1], x[0]))
            return [t for t, _ in pairs[:max_expansions]]
        ts = self._term_stats_df()
        return [
            r["term"]
            for r in ts.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term")
            .collect()
        ]

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int | None = None,
        max_expansions: int = 50,
        prefix_length: int = 0,
    ) -> list[str]:
        """Fuzzy rewrite against the term dictionary: terms within classic
        Levenshtein distance max_edits of `term`, highest-df first (term
        asc tiebreak), capped at max_expansions (ES fuzzy default 50).

        max_edits=None applies ES AUTO fuzziness: 0 edits for 1-2 char
        terms, 1 for 3-5, 2 above. prefix_length (ES fuzzy prefix_length)
        requires the first p chars to match exactly and enables the same
        range-pruned dictionary read as expand_prefix. Spec choices vs ES,
        frozen: classic Levenshtein (fuzzy_transpositions=false — Spark's
        and DuckDB's native levenshtein are both classic) and
        scoring_boolean rewrite (each expansion scored with its own idf,
        matching expand_prefix) instead of top_terms_blended_freqs.

        Scale: the cached-vocabulary driver path serves small indexes; a
        web-scale dictionary is matched by a distributed scan with the
        length-band predicate (|len(t)-len(q)| <= d) in codegen and
        Spark's thresholded levenshtein short-circuiting the DP — the
        dictionary is bucket-hashed, so no bucket pruning is possible for
        fuzzy (unlike exact-term lookups); pruning comes from prefix_length
        when set."""
        q = term
        if max_edits is None:  # ES AUTO
            max_edits = 0 if len(q) <= 2 else (1 if len(q) <= 5 else 2)
        if max_edits == 0:
            return [q] if self.term_stats([q]) else []
        lo_len, hi_len = len(q) - max_edits, len(q) + max_edits
        pref = q[:prefix_length]
        if self._ts_cache is None and self.n_docs <= self.CACHE_MAX_DOCS:
            self.term_stats([q])  # populates the whole-vocab cache
        if self._ts_cache is not None:
            self._check_generation()
            pairs = [
                (t, df)
                for t, df in self._ts_cache.items()
                if lo_len <= len(t) <= hi_len
                and t.startswith(pref)
                and _lev_within(q, t, max_edits)
            ]
            pairs.sort(key=lambda x: (-x[1], x[0]))
            return [t for t, _ in pairs[:max_expansions]]
        ts = self._term_stats_df()
        cond = F.length("term").between(lo_len, hi_len)
        if pref:
            hi = pref[:-1] + chr(ord(pref[-1]) + 1)
            cond = cond & (F.col("term") >= pref) & (F.col("term") < hi)
        rows = (
            ts.filter(cond)
            .filter(F.levenshtein(F.col("term"), F.lit(q), max_edits) != -1)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term")
            .collect()
        )
        return [r["term"] for r in rows]

    def _expand_matching(
        self, match_py, spark_cond, prefix_lit: str, max_expansions: int
    ) -> list[str]:
        """Shared bounded dictionary rewrite (wildcard/regexp): terms
        passing `match_py`, highest-df first (term asc tiebreak), capped at
        max_expansions — Lucene's top_terms_N rewrite bound. Serving order:
        whole-vocab driver cache (small index) -> literal-prefix-pruned
        local pyarrow read -> distributed scan with `spark_cond`."""
        if self._ts_cache is None and self.n_docs <= self.CACHE_MAX_DOCS:
            self.term_stats([prefix_lit or "\x00"])  # populate the cache
        if self._ts_cache is not None:
            self._check_generation()
            pairs = [(t, d) for t, d in self._ts_cache.items() if match_py(t)]
            pairs.sort(key=lambda x: (-x[1], x[0]))
            return [t for t, _ in pairs[:max_expansions]]
        if prefix_lit:
            import pyarrow.dataset as ds

            hi = prefix_lit[:-1] + chr(ord(prefix_lit[-1]) + 1)
            tbl = self._pa_dataset(self._ts_sub).to_table(
                filter=(ds.field("term") >= prefix_lit) & (ds.field("term") < hi),
                columns=["term", "df"],
            )
            pairs = [
                (t, d)
                for t, d in zip(
                    tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
                )
                if match_py(t)
            ]
            pairs.sort(key=lambda x: (-x[1], x[0]))
            return [t for t, _ in pairs[:max_expansions]]
        ts = self._term_stats_df()
        rows = (
            ts.filter(spark_cond)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term")
            .collect()
        )
        return [r["term"] for r in rows]

    def expand_wildcard(self, pattern: str, max_expansions: int = 128) -> list[str]:
        """Wildcard rewrite (`*` = any sequence, `?` = one char — the ES
        wildcard query alphabet) against the term dictionary, df-ordered
        and capped like expand_prefix. The literal run before the first
        wildcard prunes the dictionary read; a leading-wildcard pattern
        scans the whole dictionary (the same cost ES warns about). The
        pattern is NOT analyzed (ES wildcard operates on raw terms)."""
        import re as _re

        lit = _re.match(r"[^*?]*", pattern).group(0)
        if lit == pattern:  # no wildcards: plain term lookup
            return [pattern] if self.term_stats([pattern]) else []
        rx = _re.compile(
            "".join(
                ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                for c in pattern
            )
        )
        # LIKE translation is exact for the */? alphabet over \w+ terms
        # (terms never contain % or _)
        like = pattern.replace("*", "%").replace("?", "_")
        return self._expand_matching(
            lambda t: rx.fullmatch(t) is not None,
            F.col("term").like(like),
            lit,
            max_expansions,
        )

    def expand_regexp(self, pattern: str, max_expansions: int = 128) -> list[str]:
        """Regexp rewrite (ES regexp query: the pattern is implicitly
        anchored at both ends and not analyzed) against the term
        dictionary, df-ordered and capped. Portability contract: patterns
        must stay within the syntax shared by Python re, Java regex, and
        RE2 (classes, alternation, ?/*/+ quantifiers) — the frozen oracle
        (DuckDB regexp_full_match) runs RE2."""
        import re as _re

        lit = _re.match(r"[^\\\[\](){}.*+?|^$]*", pattern).group(0)
        if lit == pattern:
            return [pattern] if self.term_stats([pattern]) else []
        rx = _re.compile(pattern)
        return self._expand_matching(
            lambda t: rx.fullmatch(t) is not None,
            F.col("term").rlike(f"^(?:{pattern})$"),
            lit,
            max_expansions,
        )

    def docmap(self) -> DataFrame:
        self._check_generation()
        if self._dm_df is None:
            dm = self.spark.read.parquet(os.path.join(self.dir, "docmap"))
            if self.n_docs <= self.CACHE_MAX_DOCS:
                dm = dm.persist()
            self._dm_df = dm
        return self._dm_df

    # a query whose total posting count is below this is served entirely
    # on the driver (node-local read of |q| bucket dirs + in-process
    # kernels) — the Lucene-searcher-style serving path; bigger queries
    # scatter-gather through Spark. Set at the measured driver/Spark
    # crossover of bm25_topk_batch's cost (BENCH.md §26); 2.5M postings
    # decode to ~30 MB of numpy.
    LOCAL_MAX_POSTINGS = 2_500_000

    def postings_local(self, terms: list[str]):
        """Driver-side postings read for a small query, {shard: [_PostRow,
        ...]}."""
        return self._local_read(terms, False)

    def postings_pos_local(self, terms: list[str]):
        """postings_local plus the position stream ([_PosRow, ...])."""
        return self._local_read(terms, True)

    def _local_read(self, terms: list[str], needs_pos: bool):
        """_read_postings over the parquet files of the terms' buckets."""
        return _read_postings(self._postings_files(terms), terms, None, needs_pos)

    def _postings_files(self, terms: list[str]) -> list[str]:
        """The parquet files of the terms' bucket directories, in dataset
        file order (listed once per reader; generation-checked per call)."""
        sub = self._pa_dataset(self._post_sub)
        if self._post_files is None:
            self._post_files = [(int(p.split("bucket=")[-1].split("/")[0]), p)
                                for p in sub.files]
        want = set(self._bucket_of(terms))
        return [p for b, p in self._post_files if b in want]

    def docmap_lookup_local(
        self, shards: list[int], local_ids: list[int]
    ) -> dict[tuple[int, int], str]:
        """Driver-side url lookup for a handful of winner rows, {(shard,
        local_id): url}: a pyarrow dataset read with shard (hive
        partition) + local_id filters — directory pruning on shard,
        row-group pruning on local_id (the docmap is local_id-sorted within
        each shard) — with no Spark job for k rows."""
        import pyarrow.dataset as ds

        self._check_generation()
        if self.n_docs <= self.DOCMAP_MEM_MAX_DOCS:
            # small index: resident per-shard url arrays (local ids are
            # dense shard ordinals, so lookup is a list index). Above the
            # gate the pruned read below is the 10^12-doc path.
            if self._dm_cache is None:
                tbl = self._pa_dataset("docmap").to_table(
                    columns=["shard", "local_id", "url"]
                )
                cache: dict[int, list] = {}
                for s, l, u in zip(
                    tbl.column("shard").to_pylist(),
                    tbl.column("local_id").to_pylist(),
                    tbl.column("url").to_pylist(),
                ):
                    lst = cache.setdefault(int(s), [])
                    if len(lst) <= l:
                        lst.extend([None] * (l + 1 - len(lst)))
                    lst[l] = u
                self._dm_cache = cache
            lids = [int(l) for l in local_ids]
            out = {}
            for s in map(int, shards):
                urls = self._dm_cache.get(s, [])
                out.update(((s, l), urls[l]) for l in lids if l < len(urls))
            return out
        tbl = self._pa_dataset("docmap").to_table(
            filter=ds.field("shard").isin([int(s) for s in shards])
            & ds.field("local_id").isin([int(l) for l in local_ids]),
            columns=["shard", "local_id", "url"],
        )
        return {
            (int(s), int(l)): u
            for s, l, u in zip(
                tbl.column("shard").to_pylist(),
                tbl.column("local_id").to_pylist(),
                tbl.column("url").to_pylist(),
            )
        }

    def stored_source_df(self) -> DataFrame:
        """The stored `_source` columns as a (url, <col>, ...) DataFrame —
        the ES stored-fields analog (build_index(store_source=...) keeps
        them in the docmap as src__<col>; the reference mapping stores
        non-indexed fields the same way, config/search_scheme.json:213-224).
        Parquet column pruning means this view costs nothing until a
        query actually selects a stored column; highlight/_source serve
        from it without the caller passing a corpus."""
        if not self.stored_cols:
            raise ValueError(
                "index stores no source columns — build with "
                "store_source=True (or a column list) to enable "
                "_source/highlight without a corpus"
            )
        return self.docmap().select(
            "url", *[F.col(f"src__{c}").alias(c) for c in self.stored_cols]
        )

    def get_source(self, urls: list[str]) -> dict[str, dict]:
        """Driver-side stored-source point fetch for a handful of hit
        urls: XXH64 shard routing + ONE pruned pyarrow read per touched
        shard (url isin pushdown), the same cost shape as mget — never a
        docmap scan. Returns {url: {col: value}} for found urls."""
        if not self.stored_cols:
            raise ValueError("index stores no source columns")
        if not urls:
            return {}
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from engine.hashing import doc_shard

        self._check_generation()
        phys = [f"src__{c}" for c in self.stored_cols]
        n_shards = self.manifest["n_shards"]
        by_shard: dict[int, list[str]] = {}
        for u in urls:
            by_shard.setdefault(doc_shard(u, n_shards), []).append(u)
        out: dict[str, dict] = {}
        for shard, us in by_shard.items():
            part = os.path.join(self.dir, "docmap", f"shard={shard}")
            if not os.path.isdir(part):  # an empty shard has no partition
                continue
            tbl = ds.dataset(part).to_table(
                columns=["url"] + phys, filter=pc.field("url").isin(us)
            )
            for row in tbl.to_pylist():
                out[row["url"]] = {c: row[p] for c, p in zip(self.stored_cols, phys)}
        return out

    def shard_offsets(self) -> list[int]:
        """Global doc_id offset per shard (doc_id = offset + local_id).
        From the manifest when present; derived from the docmap otherwise
        (legacy indexes / merged segment dirs)."""
        offs = self.manifest.get("shard_offsets")
        if offs is None:
            rows = (
                self.docmap()
                .groupBy("shard")
                .agg(F.min("doc_id").alias("off"))
                .collect()
            )
            by_shard = {r["shard"]: int(r["off"]) for r in rows}
            offs = [by_shard.get(s, -1) for s in range(self.manifest["n_shards"])]
            self.manifest["shard_offsets"] = offs
        return offs


# ---------------------------------------------------------------------------
# per-shard kernels (run by _scatter, on the driver or in a Spark task)
# ---------------------------------------------------------------------------


_PostRow = namedtuple("_PostRow", ["term", "docs_bin", "tfs_bin", "dls_bin", "blocks"])
_PosRow = namedtuple(
    "_PosRow", ["term", "docs_bin", "tfs_bin", "dls_bin", "blocks", "pos_bin", "pos_offs"]
)


def _read_postings(
    files: list[str], terms: list[str], shard: int | None, needs_pos: bool
) -> dict[int, list]:
    """The one postings read, on the driver and in Spark tasks alike: the
    rows of `terms` (of `shard` only, when given) in the parquet `files`
    as {shard: [_PostRow, ...]} ([_PosRow, ...], with the position stream,
    when needs_pos), in file and row order. Row groups that statistics
    exclude are skipped; the rest come decompressed from engine.resident."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from engine import resident

    row = _PosRow if needs_pos else _PostRow
    cols = ["shard", *row._fields]
    want = sorted(set(terms))
    if not want:
        return {}
    bounds = {"term": (want[0], want[-1])}
    if shard is not None:
        bounds["shard"] = (shard, shard)
    metas = resident.footers(files)
    chunks = [(path, rg) for path, meta in metas.items()
              for rg in range(meta.num_row_groups)
              if _rg_may_hold(meta.row_group(rg), bounds)]
    if not chunks:
        return {}
    tbl = pa.concat_tables(resident.tables(chunks, cols, metas), promote_options="permissive")
    mask = pc.is_in(tbl.column("term"), value_set=pa.array(want, pa.string()))
    if shard is not None:
        mask = pc.and_(mask, pc.equal(tbl.column("shard"), shard))
    tbl = tbl.filter(mask)
    by_shard: dict[int, list] = {}
    for s, *rest in zip(*(
        _block_lists(tbl.column(c)) if c == "blocks" else tbl.column(c).to_pylist()
        for c in cols
    )):
        by_shard.setdefault(s, []).append(row(*rest))
    return by_shard


def _rg_may_hold(rg, bounds: dict) -> bool:
    """False when the row group is empty, or its min/max statistics on a
    bounds column (name -> (lo, hi)) lie outside [lo, hi]."""
    left = dict(bounds)
    for i in range(rg.num_columns if rg.num_rows else 0):
        if not left:
            return True
        col = rg.column(i)
        lo, hi = left.pop(col.path_in_schema, (None, None))
        st = col.statistics if lo is not None else None
        if st is not None and st.has_min_max and (st.max < lo or st.min > hi):
            return False
    return rg.num_rows > 0


def _block_lists(col) -> list[list[tuple]]:
    """The postings `blocks` list<struct> column -> per row, its blocks as
    positional tuples in P.BLOCK_KEYS order: zipped from the struct's child
    arrays and cut at the list offsets, never one dict per block."""
    out: list[list[tuple]] = []
    for chunk in col.chunks:
        offs = chunk.offsets.to_numpy()
        lo = int(offs[0])
        vals = chunk.values.slice(lo, int(offs[-1]) - lo)
        blks = list(zip(*(vals.field(k).to_numpy().tolist() for k in P.BLOCK_KEYS)))
        offs = (offs - lo).tolist()
        out.extend(blks[a:z] for a, z in zip(offs, offs[1:]))
    return out


def _lev_within(a: str, b: str, d: int) -> bool:
    """Bounded classic Levenshtein: True iff dist(a, b) <= d. Unit costs,
    no transpositions — must agree exactly with Spark's F.levenshtein and
    DuckDB's levenshtein() (both classic). Early-exits a row whose minimum
    already exceeds d."""
    if abs(len(a) - len(b)) > d:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        row_min = cur[0]
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if cur[j] < row_min:
                row_min = cur[j]
        if row_min > d:
            return False
        prev = cur
    return prev[-1] <= d


def _live_mask(d: np.ndarray, dels: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask of d (sorted doc ids) against the shard's sorted
    tombstone array — None when nothing is deleted (the common case pays
    one branch, no allocation). searchsorted, not np.isin: both sides are
    sorted, O((|d|+|dels|) log) with no hashing."""
    if dels is None or dels.size == 0:
        return None
    idx = np.searchsorted(dels, d)
    np.minimum(idx, dels.size - 1, out=idx)
    return dels[idx] != d


def _decode_live(r, dels: np.ndarray | None):
    """One posting row -> its (docs, tfs, dls) arrays minus the shard's
    tombstoned docs (dels None = keep every doc): the kernels' one
    decode front, one P.decode_term_postings call per row."""
    d, t, l = P.decode_term_postings(r.docs_bin, r.tfs_bin, r.dls_bin, r.blocks)
    keep = _live_mask(d, dels)
    if keep is None:
        return d, t, l
    return d[keep], t[keep], l[keep]


def _bmw_shard_topk(
    rows, idfs: dict[str, float], k: int, k1: float, b: float, avgdl: float,
    dels: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Vectorized Block-Max pruning ("wand" algo): the scale kernel.

    The doc-id axis is cut at every posting-block boundary into disjoint
    intervals; within an interval each term contributes at most one block,
    so the interval's upper bound is a plain sum of block max_impacts.
    Intervals are processed in DESCENDING upper-bound order (fast theta
    ramp, MaxScore-style); an interval with ub < theta is skipped without
    decoding, and a surviving interval is scored with the same vectorized
    unique/bincount accumulation as TAAT — zero per-posting Python, unlike
    a classic doc-at-a-time cursor loop.
    Exact: intervals partition doc space, so every doc is fully scored in
    exactly one interval; skipping is strict (ub < theta), preserving
    score==theta candidates for the doc-id tiebreak."""
    terms = []
    for r in rows:
        idf = idfs.get(r.term)
        if not idf:
            continue
        blocks = r.blocks
        terms.append(
            {
                "row": r,
                "blocks": blocks,
                "firsts": np.array([bl[0] for bl in blocks], dtype=np.int64),
                "lasts": np.array([bl[1] for bl in blocks], dtype=np.int64),
                "maxes": np.array([bl[6] for bl in blocks]) * idf,
                "idf": idf,
                "decoded": {},
            }
        )
    if not terms:
        return []
    bounds = np.unique(
        np.concatenate([np.concatenate([t["firsts"], t["lasts"] + 1]) for t in terms])
    )
    lo, hi = bounds[:-1], bounds[1:]  # hi exclusive
    n_iv = lo.size
    ub = np.zeros(n_iv)
    active = []  # per term: (block_idx[n_iv], overlaps[n_iv])
    for t in terms:
        j = np.searchsorted(t["lasts"], lo, side="left")
        jj = np.minimum(j, t["firsts"].size - 1)
        # boundaries guarantee: block j overlaps interval i iff it covers it
        ov = (j < t["firsts"].size) & (t["firsts"][jj] <= lo)
        ub += np.where(ov, t["maxes"][jj], 0.0)
        active.append((jj, ov))

    heap: list[tuple[float, int]] = []  # (score, -doc)

    def _decode(t: dict, j: int):
        got = t["decoded"].get(j)
        if got is None:
            r = t["row"]
            d, tf, dl = P.decode_block(r.docs_bin, r.tfs_bin, r.dls_bin, t["blocks"], j)
            keep = _live_mask(d, dels)
            if keep is not None:
                d, tf, dl = d[keep], tf[keep], dl[keep]
            got = (d, t["idf"] * P.bm25_impact(tf, dl, avgdl, k1, b))
            t["decoded"][j] = got
        return got

    for i in np.argsort(-ub, kind="stable"):
        if len(heap) >= k and (not heap or ub[i] < heap[0][0]):
            continue  # strict skip: score==theta docs still get evaluated (k=0: skip all)
        locs_parts, contrib_parts = [], []
        for t, (jj, ov) in zip(terms, active):
            if not ov[i]:
                continue
            d, imp = _decode(t, int(jj[i]))
            a = int(np.searchsorted(d, lo[i], side="left"))
            z = int(np.searchsorted(d, hi[i], side="left"))
            if a < z:
                locs_parts.append(d[a:z])
                contrib_parts.append(imp[a:z])
        if not locs_parts:
            continue
        locs = np.concatenate(locs_parts)
        contribs = np.concatenate(contrib_parts)
        uniq, inv = np.unique(locs, return_inverse=True)
        scores = np.bincount(inv, weights=contribs, minlength=uniq.size)
        # intervals partition doc space, so only the interval's own top-k
        # (same (score desc, doc asc) total order as the heap) can reach the
        # global top-k — vectorized argpartition prune, then <= k heap ops
        # per surviving interval instead of one per candidate doc. This was
        # the last per-posting-row Python on the query hot path.
        order = _topk_order(uniq, scores, min(k, uniq.size))
        for i in order.tolist():
            cand = (float(scores[i]), -int(uniq[i]))
            if len(heap) < k:
                heapq.heappush(heap, cand)
            elif cand > heap[0]:
                heapq.heapreplace(heap, cand)
            else:
                break  # order is descending: the rest can't beat theta
    return [(-nl, s) for s, nl in heap]


def _taat_scores(
    rows, idfs: dict[str, float], k1: float, b: float, avgdl: float, mode: str,
    dels: np.ndarray | None = None, field_opts: str = "default",
) -> tuple[np.ndarray, np.ndarray]:
    """Term-at-a-time BM25 accumulation over one shard's posting rows:
    decode each scored term, drop tombstoned docs, sum the per-doc
    contributions. Returns (sorted unique local ids, scores); mode="and"
    keeps only the docs every decoded term hits (callers check that the
    shard holds every query term).

    field_opts implements the reference's per-field index options
    (search_scheme.json, SURVEY 2.6 M1/M2) as scoring variants:
    - "nonorms" (norms: false): length normalization off -> b = 0
    - "doconly" (index_options: docs): postings carry membership only ->
      tf scored as 1"""
    locals_parts, contrib_parts = [], []
    b_eff = 0.0 if field_opts == "nonorms" else b
    for r in rows:
        idf = idfs.get(r.term)
        if not idf:
            continue
        d, t, l = _decode_live(r, dels)
        if field_opts == "doconly":
            t = np.ones_like(t)
        locals_parts.append(d)
        contrib_parts.append(idf * P.bm25_impact(t, l, avgdl, k1, b_eff))
    return _accumulate(locals_parts, contrib_parts, mode)


def _accumulate(
    locals_parts: list[np.ndarray], contrib_parts: list[np.ndarray], mode: str
) -> tuple[np.ndarray, np.ndarray]:
    """Sum per-term (local ids, contributions) parts per doc, in part
    order -> (sorted unique local ids, scores); mode="and" keeps only the
    docs every part hits. The TAAT accumulation of _taat_scores and the
    bm25_topk_batch kernel."""
    if not locals_parts:
        return np.empty(0, dtype=np.int64), np.empty(0)
    uniq, inv = np.unique(np.concatenate(locals_parts), return_inverse=True)
    scores = np.bincount(inv, weights=np.concatenate(contrib_parts), minlength=uniq.size)
    if mode == "and":
        keep = np.bincount(inv, minlength=uniq.size) == len(locals_parts)
        uniq, scores = uniq[keep], scores[keep]
    return uniq, scores


def _taat_shard_topk(
    rows, idfs: dict[str, float], k: int, k1: float, b: float, avgdl: float, mode: str,
    field_opts: str = "default", dels: np.ndarray | None = None,
    local_filter=None, local_boost=None, local_rescore=None,
) -> list[tuple[int, float]]:
    """Vectorized term-at-a-time top-k over one shard: _taat_scores, then
    the optional per-doc hooks, then the top-k cut.

    local_filter: optional (sorted local_ids) -> keep-mask callback (ES
    filter context, engine/docvalues.py) applied to the candidate docs
    AFTER score accumulation and BEFORE top-k selection — scores of
    surviving docs are unchanged (idf/avgdl stay corpus-global, like ES).
    """
    uniq, scores = _taat_scores(rows, idfs, k1, b, avgdl, mode, dels, field_opts)
    if local_filter is not None and uniq.size:
        keep = local_filter(uniq)
        uniq, scores = uniq[keep], scores[keep]
    if local_boost is not None and uniq.size:
        # function_score: additive per-doc boost from docvalues, applied
        # after accumulation and BEFORE the top-k cut (exact — not an ES
        # rescore window; every matched doc competes with its final score)
        scores = scores + local_boost(uniq)
    if local_rescore is not None and uniq.size:
        # script_score: the compiled script REPLACES the accumulated
        # score (engine/scripts.py) — again before the cut, so the top-k
        # selection runs on final scores
        scores = local_rescore(uniq, scores)
    if uniq.size == 0:
        return []
    kk = min(k, uniq.size)
    order = _topk_order(uniq, scores, kk)
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _field_contrib(
    field_opts: str, idf: float, t: np.ndarray, l: np.ndarray,
    avgdl: float, k1: float, b: float,
) -> np.ndarray:
    """Per-posting score contribution under one per-field index-option
    variant (SURVEY 2.6 M1/M2): nonorms -> b=0; doconly -> tf scored 1."""
    if field_opts == "nonorms":
        return idf * P.bm25_impact(t, l, avgdl, k1, 0.0)
    if field_opts == "doconly":
        return idf * P.bm25_impact(np.ones_like(t), l, avgdl, k1, b)
    return idf * P.bm25_impact(t, l, avgdl, k1, b)


def _dismax_shard_topk(
    rows, idfs: dict[str, float], k: int, k1: float, b: float, avgdl: float,
    fields: tuple[str, ...], tie_breaker: float,
    dels: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """dis_max multi-field top-k over one shard (ES dis_max semantics:
    score = max over fields + tie_breaker * sum of the other fields).

    The reference mapping indexes corporate_name nine ways
    (config/search_scheme.json:140-180); a real search service queries
    several subfields at once with best-fields blending. Here every field
    variant shares the SAME postings (same analyzer chain feeding tf/dl),
    so one decode pass yields per-field contribution arrays and the
    combination is pure numpy — per-field top-k lists would be WRONG
    (a doc outside every field's top-k can still win on the blended
    score when tie_breaker > 0), so blending happens on full per-doc
    field scores before any truncation."""
    locs_parts: list[np.ndarray] = []
    contrib_parts: dict[str, list[np.ndarray]] = {f: [] for f in fields}
    for r in rows:
        idf = idfs.get(r.term)
        if not idf:
            continue
        d, t, l = _decode_live(r, dels)
        locs_parts.append(d)
        for f in fields:
            contrib_parts[f].append(_field_contrib(f, idf, t, l, avgdl, k1, b))
    if not locs_parts:
        return []
    locs = np.concatenate(locs_parts)
    uniq, inv = np.unique(locs, return_inverse=True)
    per_field = np.stack(
        [
            np.bincount(inv, weights=np.concatenate(contrib_parts[f]), minlength=uniq.size)
            for f in fields
        ]
    )
    mx = per_field.max(axis=0)
    score = mx + tie_breaker * (per_field.sum(axis=0) - mx)
    order = _topk_order(uniq, score, min(k, uniq.size))
    return [(int(uniq[i]), float(score[i])) for i in order]


def _mf_shard_topk(
    rows: list,
    idfs_by_field: dict[str, dict[str, float]],
    blended_idfs: dict[str, float],
    avgdl_by_field: dict[str, float],
    boosts: dict[str, float],
    mtype: str,
    tie_breaker: float,
    k: int,
    k1: float,
    b: float,
    dels: np.ndarray | None = None,
    local_doclens=None,
    local_filter=None,
    n_required: int = 0,
) -> list[tuple[int, float]]:
    """True multi-field top-k over one shard — fields with their OWN
    postings/df/avgdl (ES multi_match over e.g. title+body), unlike
    _dismax_shard_topk whose "fields" are scoring variants of one posting
    set.

    best_fields: per-field full match scores, blended max + tie_breaker *
    rest (ES wraps per-field match queries in dis_max). most_fields: sum
    of per-field scores. cross_fields: term-centric — per term, the
    per-field impacts compete (max across fields, boosts applied before
    the max) under ONE blended idf whose df is the max across fields
    (Lucene BlendedTermQuery's df blending); per-doc score = sum over
    terms. combined_fields: Lucene CombinedFieldQuery — the fields score
    as ONE synthetic field: per (doc, term) tf = sum of boost-weighted
    per-field tfs, per-doc length = sum of boost-weighted per-field
    lengths (ES requires boosts >= 1), avgdl = sum of boost-weighted
    per-field avgdls, idf = the same max-df blend as cross_fields; score
    = sum over terms of idf * impact(tf_c, dl_c, avgdl_c). The combined
    per-doc length needs every queried field's length for every candidate
    (Lucene reads each field's norms), so combined_fields takes
    local_doclens: (sorted candidate local ids) -> {field: aligned float
    dl array}, the docmap's dl__<field> columns (this engine's norms)
    gathered for the candidates only.
    Blending happens on full per-doc arrays before any truncation
    (a doc outside every field's top-k can still win the blend).

    n_required > 0 = ES operator=and with that many analyzed query
    terms. Field-centric types (best_fields/most_fields: each field is
    its own match query) keep a field's score only when the doc contains
    ALL query terms IN that field, and drop docs no field fully matched;
    term-centric types (cross_fields/combined_fields) require each term
    in AT LEAST ONE field (Lucene's blended-term conjunction).

    rows carry their field view in .field (MultiFieldPostings); they are
    grouped by field in `boosts` order and by term within a field, so
    both execution paths sum in the same order."""
    combined = mtype == "combined_fields"
    rows_by_field: dict[str, list] = {f: [] for f in boosts}
    for r in sorted(rows, key=lambda r: r.term):
        rows_by_field[r.field].append(r)
    decoded: list[tuple[str, str, np.ndarray, np.ndarray]] = []
    all_docs: list[np.ndarray] = []
    for f, frows in rows_by_field.items():
        avgdl_f, boost_f = avgdl_by_field[f], boosts[f]
        for r in frows:
            d, t, l = _decode_live(r, dels)
            if d.size == 0:
                continue
            payload = (
                t.astype(np.float64)
                if combined
                else boost_f * P.bm25_impact(t, l, avgdl_f, k1, b)
            )
            decoded.append((f, r.term, d, payload))
            all_docs.append(d)
    if not all_docs:
        return []
    uniq = np.unique(np.concatenate(all_docs))
    nu = uniq.size
    if combined:
        dls_of = local_doclens(uniq)
        dl_c = np.zeros(nu)
        avgdl_c = 0.0
        for f, boost_f in boosts.items():
            dl_c += boost_f * dls_of[f]
            avgdl_c += boost_f * avgdl_by_field[f]
        per_term: dict[str, np.ndarray] = {}
        for f, term, d, tf in decoded:
            if term not in blended_idfs:
                continue
            arr = per_term.setdefault(term, np.zeros(nu))
            np.add.at(arr, np.searchsorted(uniq, d), boosts[f] * tf)
        score = np.zeros(nu)
        for term, tfc in per_term.items():
            score += blended_idfs[term] * P.bm25_impact(tfc, dl_c, avgdl_c, k1, b)
        if n_required:
            if len(per_term) < n_required:
                return []
            cnt = np.zeros(nu, dtype=np.int64)
            for tfc in per_term.values():
                cnt += tfc > 0
            keep = cnt >= n_required
            uniq, score = uniq[keep], score[keep]
            nu = uniq.size
            if nu == 0:
                return []
    elif mtype == "cross_fields":
        score = np.zeros(nu)
        per_term: dict[str, np.ndarray] = {}
        for f, term, d, imp in decoded:
            if term not in blended_idfs:
                continue
            arr = per_term.setdefault(term, np.zeros(nu))
            np.maximum.at(arr, np.searchsorted(uniq, d), imp)
        for term, arr in per_term.items():
            score += blended_idfs[term] * arr
        if n_required:
            # and: every query term in AT LEAST ONE field (blended-term
            # conjunction) — a term with zero per-doc impact everywhere
            # in this shard simply never satisfies it
            if len(per_term) < n_required:
                return []
            cnt = np.zeros(nu, dtype=np.int64)
            for arr in per_term.values():
                cnt += arr > 0
            keep = cnt >= n_required
            uniq, score = uniq[keep], score[keep]
            nu = uniq.size
            if nu == 0:
                return []
    else:
        per_field: dict[str, np.ndarray] = {}
        hits_field: dict[str, np.ndarray] = {}
        for f, term, d, imp in decoded:
            idf = idfs_by_field[f].get(term)
            if not idf:
                continue
            sf = per_field.setdefault(f, np.zeros(nu))
            sf += np.bincount(
                np.searchsorted(uniq, d), weights=idf * imp, minlength=nu
            )
            if n_required:
                hf = hits_field.setdefault(f, np.zeros(nu, dtype=np.int64))
                hf[np.searchsorted(uniq, d)] += 1  # one row per (f,term)
        if not per_field:
            return []
        if n_required:
            # and, field-centric: each field is its own operator=and
            # match — its score survives only where the doc holds ALL
            # query terms in THAT field; docs no field fully matched drop
            any_full = np.zeros(nu, dtype=bool)
            for f, sf in per_field.items():
                full = hits_field.get(f)
                full = (
                    np.zeros(nu, dtype=bool)
                    if full is None
                    else full >= n_required
                )
                sf *= full
                any_full |= full
            if not any_full.any():
                return []
        mat = np.stack(list(per_field.values()))
        tot = mat.sum(axis=0)
        if mtype == "most_fields":
            score = tot
        else:  # best_fields
            mx = mat.max(axis=0)
            score = mx + tie_breaker * (tot - mx)
        if n_required:
            uniq, score = uniq[any_full], score[any_full]
            nu = uniq.size
            if nu == 0:
                return []
    if local_filter is not None:
        # ES filter context: restricts the matched set, never the scores —
        # the docvalue mask applies AFTER accumulation (the per-term
        # searchsorted positions above index into the UNFILTERED uniq)
        keep = local_filter(uniq)
        uniq, score = uniq[keep], score[keep]
        nu = uniq.size
        if nu == 0:
            return []
    order = _topk_order(uniq, score, min(k, nu))
    return [(int(uniq[i]), float(score[i])) for i in order]


def _bool_shard_topk(
    rows,
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    must: frozenset[str],
    must_not: frozenset[str],
    msm: int,
    field_opts: str = "default",
    dels: np.ndarray | None = None,
    local_filter=None,
) -> list[tuple[int, float]]:
    """ES bool query over one shard: score = sum of matching must+should
    clause scores; docs must match EVERY must term, at least `msm` should
    terms, and NO must_not term (must_not is a pure filter — it never
    contributes to the score, per ES bool semantics).

    Vectorized like TAAT: one decode per term, np.unique/bincount
    accumulation, then three boolean masks (must-hit count, should-hit
    count, exclusion) before the top-k order. must/should doc arrays are
    subsets of the scored doc set, so searchsorted against the sorted
    uniq array lands exactly — no hash joins, no per-doc Python."""
    locs_parts: list[np.ndarray] = []
    contrib_parts: list[np.ndarray] = []
    must_doc_parts: list[np.ndarray] = []
    should_doc_parts: list[np.ndarray] = []
    excl_parts: list[np.ndarray] = []
    must_seen: set[str] = set()
    for r in rows:
        if r.term in must_not:
            excl_parts.append(_decode_live(r, None)[0])
            continue
        idf = idfs.get(r.term)
        if not idf:
            continue
        d, t, l = _decode_live(r, dels)
        locs_parts.append(d)
        contrib_parts.append(_field_contrib(field_opts, idf, t, l, avgdl, k1, b))
        if r.term in must:
            must_seen.add(r.term)
            must_doc_parts.append(d)
        else:
            should_doc_parts.append(d)
    if len(must_seen) < len(must):
        # a required term has no postings in this shard -> no shard doc
        # can satisfy the conjunction (docs live in exactly one shard)
        return []
    if not locs_parts:
        return []
    locs = np.concatenate(locs_parts)
    contribs = np.concatenate(contrib_parts)
    uniq, inv = np.unique(locs, return_inverse=True)
    scores = np.bincount(inv, weights=contribs, minlength=uniq.size)
    keep = np.ones(uniq.size, dtype=bool)
    if must:
        hits = np.zeros(uniq.size, dtype=np.int64)
        for d in must_doc_parts:
            hits[np.searchsorted(uniq, d)] += 1
        keep &= hits == len(must)
    if msm > 0:
        s_hits = np.zeros(uniq.size, dtype=np.int64)
        for d in should_doc_parts:
            s_hits[np.searchsorted(uniq, d)] += 1
        keep &= s_hits >= msm
    if excl_parts:
        keep &= ~np.isin(uniq, np.concatenate(excl_parts))
    uniq, scores = uniq[keep], scores[keep]
    if uniq.size == 0:
        return []
    if local_filter is not None:
        # ES filter context: docvalue mask over the surviving candidates
        # only (uniq stays sorted after boolean slicing), applied after
        # clause accumulation so scores are untouched
        fkeep = local_filter(uniq)
        uniq, scores = uniq[fkeep], scores[fkeep]
        if uniq.size == 0:
            return []
    order = _topk_order(uniq, scores, min(k, uniq.size))
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _topk_order(uniq: np.ndarray, scores: np.ndarray, kk: int) -> np.ndarray:
    """Indices of the top-kk by (score desc, doc asc): argpartition prune
    then exact lexsort of the survivors — O(n + k log k), not O(n log n).
    The partition boundary is widened to include every score tied with the
    k-th so the doc-id tiebreak stays exact."""
    n = uniq.size
    if kk >= n:
        return np.lexsort((uniq, -scores))
    part = np.argpartition(-scores, kk - 1)
    thresh = scores[part[kk - 1]]
    cand = np.flatnonzero(scores >= thresh)
    order = cand[np.lexsort((uniq[cand], -scores[cand]))][:kk]
    return order


# ---------------------------------------------------------------------------
# the distributed query
# ---------------------------------------------------------------------------


def _frame_api(fn):
    """The public DataFrame API of a top-k result form fn (a function
    returning _finalize_topk's (kind, payload)): the same signature,
    defaults and docstring under fn's name without its leading
    underscore, returning _to_frame(reader.spark, fn(...))."""

    @functools.wraps(fn)
    def api(reader, *args, **kwargs):
        return _to_frame(reader.spark, fn(reader, *args, **kwargs))

    api.__name__ = api.__qualname__ = fn.__name__.lstrip("_")
    api.__signature__ = inspect.signature(fn).replace(return_annotation="DataFrame")
    return api


def _bm25_topk(
    reader: IndexReader,
    query: str | list[str],
    k: int = 10,
    mode: str = "or",
    algo: str = "wand",
    field_opts: str = "default",
    execution: str = "auto",
    filters=(),
    stats_override=None,
    boost=None,
    script=None,
):
    """Top-k (url, doc_id, score) DataFrame, ordered score desc, doc_id asc.

    mode: "or" (ranked union), "and" (conjunctive), "prefix" (dictionary
    expansion of a single prefix, then ranked union), "fuzzy" (dictionary
    expansion by bounded edit distance, ES AUTO fuzziness, then ranked
    union; expand_fuzzy for the knobs), "wildcard" (`*`/`?` pattern over
    the dictionary, not analyzed), "regexp" (anchored regex over the
    dictionary, not analyzed) — all rewrites are df-ordered and bounded.
    field_opts: "default" | "nonorms" (M1) | "doconly" (M2) scoring
    variants per the reference's per-field index options.
    execution: where the per-shard kernels run — "spark" (one Spark task
    per shard; the 10^12-doc path), "local" (driver-side pyarrow
    postings read + in-process kernels; the Lucene-searcher-style serving
    path, ~ms instead of a job launch), "auto" = local when the query's
    total postings (known exactly from the dictionary dfs) fit
    LOCAL_MAX_POSTINGS. All paths are rank-identical (same kernels, same
    bytes).

    filters: ES filter-context clauses (engine/docvalues.py TermFilter /
    RangeFilter / ExistsFilter over docvalues, conjunctive) restricting
    the result set without changing surviving docs' scores; routed to the
    exact TAAT kernel with a post-accumulation docvalue mask.

    bm25_topk_rows returns the same winners as plain tuples without the
    result-DataFrame round-trip — the serving-path API."""
    if algo not in ("wand", "taat"):
        raise ValueError(f"unknown algo {algo!r}: expected 'wand' or 'taat'")
    if mode in ("wildcard", "regexp") and isinstance(query, str):
        # patterns are NOT analyzed (ES wildcard/regexp operate on raw
        # dictionary terms; the analyzer would strip the metacharacters)
        terms = [query]
    else:
        terms = analyze_query_py(query) if isinstance(query, str) else list(dict.fromkeys(query))
    expand = {
        "prefix": reader.expand_prefix,
        "fuzzy": reader.expand_fuzzy,  # ES AUTO edits, 50 expansions
        "wildcard": reader.expand_wildcard,
        "regexp": reader.expand_regexp,
    }.get(mode)
    if expand is not None:
        if len(terms) != 1:
            raise ValueError(f"mode={mode!r} takes exactly one term, got {terms!r}")
        terms = expand(terms[0])
        mode = "or"
    stats = reader.term_stats(terms)
    live_terms = [t for t in terms if t in stats]
    # conjunctive semantics: a required term absent from the index means no
    # document can match (aligned with bm25_topk_batch; frozen by test)
    all_terms_live = len(live_terms) == len(terms)
    terms = live_terms

    if not terms or (mode == "and" and not all_terms_live):
        return "rows", []
    if algo == "wand" and (
        # the conjunctive path is the vectorized intersection
        mode == "and"
        # stored block-max impacts bound DEFAULT scoring only; variant
        # scoring can exceed them (e.g. nonorms on long docs)
        or field_opts != "default"
        # many-term queries (prefix expansions): block pruning degenerates
        # (interval overhead); vectorized TAAT is exact and faster
        or len(terms) > 8
        # filter context would need filtered upper bounds; function_score
        # boosts and script_score replacements exceed or ignore the stored
        # bounds; federated stats (stats_override) break the local-avgdl-
        # baked impacts — TAAT with its post-accumulation hooks is exact
        or filters
        or boost is not None
        or script is not None
        or stats_override is not None
    ):
        algo = "taat"
    shard_filter = _shard_filter(reader, filters)
    shard_boost = None
    if boost is not None:
        from engine.docvalues import build_shard_boost

        shard_boost = build_shard_boost(reader, boost[0], boost[1])
    shard_script = None
    if script is not None:
        from engine.scripts import build_shard_script

        shard_script = build_shard_script(reader, script)

    if stats_override is None:
        idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in terms}
        avgdl = reader.avgdl
    else:
        # federated scoring (multi_index_topk): corpus-global idf/avgdl
        # replace this index's local stats
        g_idfs, g_avgdl = stats_override
        idfs = {t: float(g_idfs[t]) for t in terms}
        avgdl = float(g_avgdl)
    k1, b = reader.k1, reader.b
    n_terms = len(terms)

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        if mode == "and" and len({r.term for r in rows}) < n_terms:
            return []
        if algo == "wand" and mode == "or":
            return _bmw_shard_topk(rows, idfs, k, k1, b, avgdl, dels)
        return _taat_shard_topk(
            rows, idfs, k, k1, b, avgdl, mode, field_opts, dels,
            _at_shard(shard_filter, shard), _at_shard(shard_boost, shard),
            _at_shard(shard_script, shard),
        )

    return _scatter_topk(
        FieldPostings(reader, terms, sum(stats[t] for t in terms)),
        run_kernel, k, execution,
    )


bm25_topk = _frame_api(_bm25_topk)


def bm25_topk_rows(
    reader: IndexReader,
    query: str | list[str],
    k: int = 10,
    mode: str = "or",
    algo: str = "wand",
    field_opts: str = "default",
    filters=(),
) -> list[tuple[str, int, float]]:
    """Serving-path twin of bm25_topk: the same analysis, kernels, and
    winner selection, returned as [(url, doc_id, score)] with NO result
    DataFrame — for a query server, the ~40 ms of JVM round-trips that
    building and collecting a 10-row DataFrame costs is the latency floor,
    and this path removes it. Rank-identical to bm25_topk by construction
    (tested): both are rows of the one _bm25_topk result (_result_rows),
    the same form dsl.search serves its hits from."""
    return _result_rows(_bm25_topk(
        reader, query, k, mode, algo, field_opts, filters=filters,
    ))


_PATHS = ("auto", "local", "spark")  # the execution values
# bm25_topk_batch's per-(signature, shard) kernel cost in postings: one
# signature's accumulate + top-k cut on one shard costs about as much as
# decoding this many postings (the batch-size sweep in BENCH.md)
BATCH_SIG_COST = 200
_HEAP_SCHEMA = "shard int, local_id long, score double"


def _runs_local(reader: IndexReader, execution: str, total_postings: int) -> bool:
    """Validate `execution` and pick the path: True = driver-local kernels
    (execution="local", or "auto" when the query's total posting count
    fits LOCAL_MAX_POSTINGS), False = Spark."""
    if execution not in _PATHS:
        raise ValueError(f"unknown execution {execution!r}: expected one of {_PATHS}")
    return execution == "local" or (
        execution == "auto" and total_postings <= reader.LOCAL_MAX_POSTINGS
    )


def _heap_frame(shard: int, top: list[tuple[int, float]]) -> pd.DataFrame:
    """One shard's kernel output [(local_id, score)] as a _HEAP_SCHEMA
    pandas frame — what a Spark task of _scatter yields."""
    return pd.DataFrame(
        {
            "shard": np.full(len(top), shard, dtype=np.int32),
            "local_id": np.array([t[0] for t in top], dtype=np.int64),
            "score": np.array([t[1] for t in top], dtype=np.float64),
        }
    )


class FieldPostings:
    """Postings source over ONE field view: the rows of `terms` (with the
    position stream when needs_pos). total_postings is the cost _scatter's
    gate weighs: the caller's dictionary count for those terms
    (bm25_topk_batch adds its per-signature kernel cost).
    MultiFieldPostings unions one per field, with the same members."""

    def __init__(self, reader: IndexReader, terms: list[str],
                 total_postings: int, needs_pos: bool = False):
        self.reader = reader
        self.terms = terms
        self.total_postings = total_postings
        self.needs_pos = needs_pos

    def local(self):
        """{shard: [row, ...]}: the driver-side read."""
        r = self.reader
        if self.needs_pos:
            return r.postings_pos_local(self.terms)
        return r.postings_local(self.terms)

    def shard_read(self):
        """shard -> [row, ...]: the same rows, one shard at a time, for a
        Spark task. Bound to the parquet files of the terms' bucket dirs;
        it holds no reader (a SparkSession does not pickle)."""
        files = self.reader._postings_files(self.terms)
        terms, needs_pos = self.terms, self.needs_pos
        return lambda shard: _read_postings(files, terms, shard, needs_pos).get(shard, [])


def _scatter(src, shard_fn, schema: str, execution: str, frame=None):
    """The per-shard postings map every query path runs on.

    shard_fn(rows, dels, shard) runs once per shard over src's posting
    rows for that shard and the shard's sorted tombstone array (None =
    no deletes). _runs_local picks only WHERE it runs, from
    src.total_postings (the count the caller already has from its
    dictionary read, or bm25_topk_batch's batch cost): in-process on
    the driver over src.local(), or as one Spark task per shard over
    src.shard_read(). Both reads are _read_postings, so both paths run
    the same function over the same rows (tested identical).

    Returns the driver-local path's [(shard, output), ...], or the Spark
    DataFrame of `schema` whose per-shard parts are frame(shard, output)
    (default: the output is already a pandas frame; None = no rows).

    Users: _scatter_topk (every top-k query, multi-field included),
    rescore_topk's phrase pass, match_phrase_prefix_topk's union-df
    count, the aggs.py query contexts (search_aggs, search_sort,
    matched_urls, collapse_topk, sampler_terms) and bm25_topk_batch
    (many queries in one pass, gated on a batch cost, heaps merged on the
    driver). explain_rows and matched_queries read a handful of known
    docs, not a query's matched set, so they read postings directly."""
    reader = src.reader
    tomb = reader.tombstones()  # {} on an index with no deletes
    if _runs_local(reader, execution, src.total_postings):
        # NOTE: thread-pooling the per-shard kernels was measured 4-5x
        # SLOWER here (interleaved A/B, head-term query: 113 ms
        # sequential vs 522 ms with an 8-thread pool) — the kernel's
        # Python-side control flow serializes on the GIL and thrashes.
        # Kernel-bound queries belong on the Spark path
        # (execution="spark" / above LOCAL_MAX_POSTINGS), which
        # parallelizes across real worker processes.
        return [
            (shard, shard_fn(rows, tomb.get(shard), shard))
            for shard, rows in src.local().items()
        ]

    read, frame = src.shard_read(), frame or (lambda _shard, out: out)

    def per_shard(batches):
        for ids in batches:
            for shard in ids["id"].tolist():
                rows = read(shard)
                part = frame(shard, shard_fn(rows, tomb.get(shard), shard)) if rows else None
                if part is not None:
                    yield part

    n = reader.manifest["n_shards"]
    return reader.spark.range(0, n, 1, n).mapInPandas(per_shard, schema)


def _heap_rows(out) -> list[tuple[int, int, float]]:
    """_scatter output of per-shard [(local_id, score)] lists (frame=
    _heap_frame) -> [(shard, local_id, score)]. The Spark heaps are tiny
    (<= k x n_shards rows) by construction, so they are collected."""
    if isinstance(out, list):
        return [(shard, lid, sc) for shard, top in out for lid, sc in top]
    return [(r["shard"], r["local_id"], r["score"]) for r in out.collect()]


def _scatter_topk(src, run_kernel, k: int, execution: str):
    """Top-k over _scatter: run_kernel(rows, dels, shard) -> the shard's
    top-k [(local_id, score)] over the postings source src's rows. The
    heaps go through _finalize_topk (global top-k + url lookup), whose
    ("rows", [(url, doc_id, score)]) result this returns.

    That result is the internal currency up to the API edge: each public
    *_topk is its private result form through _frame_api (bm25_topk =
    _frame_api(_bm25_topk), ...), while bm25_topk_rows and dsl.search
    read its rows (_result_rows) — so a driver-local request never
    builds a result DataFrame only to collect it back.

    Users: _bm25_topk (bm25_topk, bm25_topk_rows, and through it
    match_bool_prefix_topk, mlt_topk, multi_index_topk, rescore_topk's
    base query), bm25_dismax_topk, bm25_synonym_topk, bm25_bool_topk,
    terms_set_topk, bm25_boosting_topk, _positional_topk
    (match_phrase_topk, match_phrase_prefix_topk, the span queries), the
    querystring kernels (simple_query_string_topk, query_string_topk)
    and, over a MultiFieldPostings source, bm25_multifield_topk."""
    out = _scatter(src, run_kernel, _HEAP_SCHEMA, execution, _heap_frame)
    return _finalize_topk(src.reader, _heap_rows(out), k)


def _finalize_topk(reader: IndexReader, heap_rows: list[tuple[int, int, float]], k: int):
    """Shared winner-selection tail: per-shard heap rows -> global top-k
    (doc_id = shard offset + local_id) -> urls from docmap_lookup_local
    (the winners' pruned docmap read, never a full docmap scan). Returns
    the top-k result ("rows", [(url, doc_id, score)]) (("rows", []) when
    nothing matched)."""
    if not heap_rows:
        return "rows", []
    offsets = reader.shard_offsets()
    winners = sorted(
        ((s, l, offsets[s] + l, sc) for s, l, sc in heap_rows),
        key=lambda t: (-t[3], t[2]),
    )[:k]
    urls = reader.docmap_lookup_local(
        sorted({t[0] for t in winners}), sorted({t[1] for t in winners})
    )
    return "rows", [(urls[(s, l)], d, sc) for s, l, d, sc in winners]


def _empty_topk(spark) -> DataFrame:
    return spark.range(0).select(
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("double").alias("score"),
    )


def _rows_frame(spark, rows) -> DataFrame:
    """[(url, doc_id, score)] -> the top-k result DataFrame (the typed
    empty frame when there are no rows)."""
    if not rows:
        return _empty_topk(spark)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "doc_id", "score"]),
        "url string, doc_id long, score double",
    )


def _to_frame(spark, result) -> DataFrame:
    """_finalize_topk's (kind, payload) -> the top-k result DataFrame
    (the public API edge)."""
    kind, payload = result
    return payload if kind == "df" else _rows_frame(spark, payload)


def _result_rows(result) -> list:
    """_finalize_topk's (kind, payload) -> its (url, doc_id, score)
    tuples: the payload itself, or the DataFrame's collected rows."""
    kind, payload = result
    return payload if kind == "rows" else [tuple(r) for r in payload.collect()]


def _shard_filter(reader: IndexReader, filters):
    """ES filter-context clauses -> the per-shard docvalue mask
    (shard, sorted local ids) -> keep, or None without filters."""
    if not filters:
        return None
    from engine.docvalues import build_shard_filter

    return build_shard_filter(reader, filters)


def _at_shard(fn, shard: int):
    """Bind a per-shard docvalue callable fn(shard, ...) — a shard
    filter, boost or script — to one shard, the form the kernels'
    local_* hooks take. None stays None."""
    return None if fn is None else functools.partial(fn, shard)


def _positional_topk(
    reader: IndexReader,
    terms: list[str],
    kernel,
    total_postings: int,
    k: int,
    execution: str,
    filters=(),
):
    """Executor front for the positional kernels (match_phrase and the
    span queries): kernel(rows, dels, kk) -> the shard's top-kk,
    ordered (score desc, doc asc), over positional posting rows.
    Returns _scatter_topk's result.

    filters (ES filter context): a positional match set is conjunctive,
    hence small enough to materialize per shard — the kernel runs
    unbounded (kk = 2^31) and the docvalue mask + truncation to k apply
    to its ordered output. Exact: identical to masking before top-k
    selection."""
    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows: list, dels, shard: int) -> list[tuple[int, float]]:
        if shard_filter is None:
            return kernel(rows, dels, k)
        top = kernel(rows, dels, 1 << 31)
        if not top:
            return top
        loc = np.array([t[0] for t in top], dtype=np.int64)
        order = np.argsort(loc, kind="stable")  # gather needs sorted ids
        keep = np.empty(loc.size, dtype=bool)
        keep[order] = shard_filter(shard, loc[order])
        return [t for t, m in zip(top, keep) if m][:k]

    return _scatter_topk(
        FieldPostings(reader, terms, total_postings, needs_pos=True),
        run_kernel, k, execution,
    )


def _bm25_dismax_topk(
    reader: IndexReader,
    query: str | list[str],
    k: int = 10,
    tie_breaker: float = 0.3,
    fields: tuple[str, ...] = ("default", "nonorms", "doconly"),
    execution: str = "auto",
):
    """Multi-field dis_max top-k (url, doc_id, score) over the real index.

    Scores the analyzed query against several per-field scoring variants of
    the SAME indexed text (the reference's multi-field mapping indexes one
    value many ways, search_scheme.json:140-180; default/nonorms/doconly
    correspond to its text/nonorms/doconly subfields) and blends per ES
    dis_max: score = best field + tie_breaker * (others). One postings
    read serves every field — the variants differ only in the scoring
    formula, so no extra IO or shuffle vs a single-field query. Same
    local/Spark adaptive execution and pruned docmap lookup as bm25_topk;
    ties doc_id asc."""
    terms = analyze_query_py(query) if isinstance(query, str) else list(dict.fromkeys(query))
    stats = reader.term_stats(terms)
    terms = [t for t in terms if t in stats]
    if not terms:
        return "rows", []
    idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in terms}
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        return _dismax_shard_topk(
            rows, idfs, k, k1, b, avgdl, tuple(fields), tie_breaker, dels
        )

    return _scatter_topk(
        FieldPostings(reader, terms, sum(stats[t] for t in terms)),
        run_kernel, k, execution,
    )


bm25_dismax_topk = _frame_api(_bm25_dismax_topk)


def parse_field_boosts(fields: list) -> list[tuple[str, float]]:
    """ES "title^2"-style field specs -> [(name, boost)]."""
    out = []
    for f in fields:
        if isinstance(f, str):
            name, _, bs = f.partition("^")
            out.append((name, float(bs) if bs else 1.0))
        else:
            out.append((str(f[0]), float(f[1])))
    return out


def _mf_fields(reader: IndexReader, fields: list) -> list[tuple[str, float]]:
    """parse_field_boosts for a multi-field query over `reader`: every
    name must be an indexed text field and listed once (a repeated field
    would read its postings once per listing)."""
    fb = parse_field_boosts(fields)
    seen: set[str] = set()
    for name, _ in fb:
        if name not in reader.text_fields:
            raise ValueError(
                f"field {name!r} is not indexed (text_fields={reader.text_fields})"
            )
        if name in seen:
            raise ValueError(f"field {name!r} is listed more than once")
        seen.add(name)
    return fb


_MF_TYPES = ("best_fields", "most_fields", "cross_fields", "combined_fields")
_MfRow = namedtuple("_MfRow", ("field",) + _PostRow._fields)
_MfPosRow = namedtuple("_MfPosRow", ("field",) + _PosRow._fields)


class MultiFieldPostings:
    """Union postings source over several field views of ONE index
    generation for _scatter: one FieldPostings per field with a live
    term, its rows tagged with .field. Feeds bm25_multifield_topk and
    search_aggs / search_sort / search_count / matched_urls (their `src=`
    hook) with a multi-field matcher.

    Scale shape: all fields share one docmap, so local doc ids are
    field-independent and a multi-field matched set is computable PER
    SHARD from the union of the fields' postings — the same
    zero-extra-shuffle shape as the single-field kernels. Each
    (field, live-terms) read is bucket-pruned + term-pushdown; the
    matched set never leaves its shard."""

    def __init__(
        self,
        reader: "IndexReader",
        fields: list[str],
        terms,
        require_all: bool = False,
        needs_pos: bool = False,
    ):
        """terms: one list shared by every field, or {field: [term, ...]}
        when the read list is field-specific (per-field prefix/fuzzy
        expansions — round-5 phrase_prefix/bool_prefix contexts); a
        field absent from the dict reads nothing. term_stats keeps each
        read field's dictionary stats {field: {term: df}}."""
        self.reader = reader
        self.needs_pos = needs_pos
        self.parts: dict[str, FieldPostings] = {}
        self.term_stats: dict[str, dict[str, int]] = {}
        for f in fields:
            tl = terms.get(f, []) if isinstance(terms, dict) else terms
            if not tl:
                continue
            r = reader.for_field(f)
            st = self.term_stats[f] = r.term_stats(tl)
            live = [t for t in tl if t in st]
            # require_all: a conjunctive (phrase) context — a field with
            # ANY dead slot term matches nothing and reads nothing
            if live and (not require_all or len(live) == len(tl)):
                self.parts[f] = FieldPostings(
                    r, live, sum(st[t] for t in live), needs_pos
                )
        self.total_postings = sum(p.total_postings for p in self.parts.values())

    def local(self):
        """{shard: [row, ...]} with rows carrying .field."""
        row = _MfPosRow if self.needs_pos else _MfRow
        merged: dict[int, list] = {}
        for f, p in self.parts.items():
            for shard, rows in p.local().items():
                merged.setdefault(shard, []).extend(row(f, *x) for x in rows)
        return merged

    def shard_read(self):
        """The fields' shard_reads, rows tagged with .field as in local()."""
        row = _MfPosRow if self.needs_pos else _MfRow
        reads = [(f, p.shard_read()) for f, p in self.parts.items()]
        return lambda shard: [row(f, *x) for f, read in reads for x in read(shard)]


def multifield_matcher(
    reader: "IndexReader",
    fields: list,
    query: str | list[str],
    mtype: str = "best_fields",
    operator: str = "or",
    minimum_should_match: int | None = None,
):
    """(src, matcher) for composing multi_match / combined_fields as a
    QUERY CONTEXT (aggs / sort / _count / matched_urls): only the matched
    SET is needed, never scores. Returns None when the matched set is
    empty everywhere by construction (no term live in any field, or an
    unsatisfiable requirement).

    Matched-set laws mirror _mf_shard_topk's n_required scoring masks:
      field-centric (best_fields / most_fields): a field matches a doc
        when it holds >= req of the ANALYZED query terms (req = all
        terms under operator=and, else minimum_should_match or 1); the
        doc matches when ANY field does.
      term-centric (cross_fields / combined_fields): a term matches a
        doc when ANY field holds it; the doc matches when >= req of the
        analyzed terms do.
    req counts the FULL analyzed term list, so a term dead in every
    field still raises the bar under operator=and (Lucene: msm above the
    satisfiable clause count is unsatisfiable, not clamped)."""
    if mtype not in _MF_TYPES:
        raise ValueError(f"unknown multi_match type {mtype!r}")
    if operator not in ("or", "and"):
        raise ValueError(f"multi_match operator must be or/and, got {operator!r}")
    if operator == "and" and minimum_should_match is not None:
        raise ValueError("operator=and already requires every term; "
                         "minimum_should_match composes with operator=or only")
    names = [n for n, _ in _mf_fields(reader, fields)]
    terms = (
        analyze_query_py(query) if isinstance(query, str)
        else list(dict.fromkeys(query))
    )
    req = len(terms) if operator == "and" else int(minimum_should_match or 1)
    if not terms or req > len(terms):
        return None
    src = MultiFieldPostings(reader, names, terms)
    if src.total_postings == 0:
        return None
    field_centric = mtype in ("best_fields", "most_fields")

    def _at_least(arrs: list[np.ndarray], need: int) -> np.ndarray | None:
        """Docs appearing in >= `need` of the (unique-doc) arrays."""
        arrs = [a for a in arrs if a.size]
        if not arrs or len(arrs) < need:
            return None
        if need <= 1:
            return arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        cat, cnt = np.unique(np.concatenate(arrs), return_counts=True)
        m = cat[cnt >= need]
        return m if m.size else None

    def matcher(rows: list, dels) -> np.ndarray:
        per: dict[tuple, np.ndarray] = {}
        for r in rows:
            per[(r.field, r.term)] = _decode_live(r, None)[0]
        if field_centric:
            sets = [
                m for f in names
                if (m := _at_least(
                    [per[(f, t)] for t in terms if (f, t) in per], req
                )) is not None
            ]
            m = (
                None if not sets
                else sets[0] if len(sets) == 1
                else np.unique(np.concatenate(sets))
            )
        else:
            unions = [
                u for t in terms
                if (u := _at_least(
                    [per[(f, t)] for f in names if (f, t) in per], 1
                )) is not None
            ]
            m = _at_least(unions, req)
        if m is None or m.size == 0:
            return np.empty(0, dtype=np.int64)
        keep = _live_mask(m, dels)
        return m if keep is None else m[keep]

    return src, matcher


def multifield_phrase_matcher(
    reader: "IndexReader",
    fields: list,
    phrase: str | list[str],
    slop: int = 0,
    kind: str = "phrase",
    max_expansions: int = 50,
):
    """(src, matcher) for composing multi_match type=phrase (or
    phrase_prefix, round-5 lift) as a QUERY CONTEXT (aggs / sort /
    _count): ES scores these as a dis_max of per-field queries, so the
    matched set is the UNION of the fields' matching docs. Per field,
    the matched set is the exact/sloppy phrase kernel run unbounded with
    scores discarded (the single-field phrase_matcher law); a field
    missing ANY slot term matches nothing (conjunctive) and its
    postings aren't read. kind="phrase_prefix": the LAST token expands
    against each FIELD's own dictionary (df-ordered, max_expansions
    cap — the match_phrase_prefix_topk rewrite) into that field's final
    slot alternatives; a field with an empty expansion is dead. Returns
    None when every field is dead. Pair with needs_pos=True."""
    _require_positions(
        reader, f"multi_match type={kind} (agg/count context)"
    )
    from engine.textnorm import standard_tokenize_py

    names = [n for n, _ in _mf_fields(reader, fields)]
    terms = (
        standard_tokenize_py(phrase.lower()) if isinstance(phrase, str)
        else list(phrase)
    )
    if not terms:
        return None
    slots_of: dict[str, list] = {}
    if kind == "phrase":
        distinct = list(dict.fromkeys(terms))
        src = MultiFieldPostings(
            reader, names, distinct, require_all=True, needs_pos=True
        )
        if not src.parts:
            return None
        for f in src.parts:
            slots_of[f] = [[t] for t in terms]
    elif kind == "phrase_prefix":
        head, pre = terms[:-1], terms[-1]
        terms_by_field: dict[str, list] = {}
        for f in names:
            r = reader.for_field(f)
            st = r.term_stats(list(dict.fromkeys(head))) if head else {}
            if any(t not in st for t in head):
                continue
            exps = list(r.expand_prefix(pre, max_expansions))
            if not exps:
                continue
            terms_by_field[f] = list(dict.fromkeys(head + exps))
            slots_of[f] = [[t] for t in head] + [exps]
        if not terms_by_field:
            return None
        src = MultiFieldPostings(
            reader, names, terms_by_field, require_all=True, needs_pos=True
        )
        if not src.parts:
            return None
    else:
        raise ValueError(f"unknown multi-field phrase context kind {kind!r}")
    # per-field kernel params (avgdl is per-field; scores are discarded
    # so only dl-norm shape differs — kept per-field for exactness)
    params = {
        f: (p.reader.k1, p.reader.b, p.reader.avgdl)
        for f, p in src.parts.items()
    }

    def matcher(rows: list, dels) -> np.ndarray:
        by_field: dict[str, list] = {}
        for r in rows:
            by_field.setdefault(r.field, []).append(r)
        sets = []
        for f, frows in by_field.items():
            k1, b, avgdl = params[f]
            slots = slots_of[f]
            if slop:
                top = _phrase_slop_shard_topk(
                    frows, slots, slop, 1.0, 1 << 31, k1, b, avgdl, dels
                )
            else:
                top = _phrase_shard_topk(
                    frows, slots, 1.0, 1 << 31, k1, b, avgdl, dels
                )
            if top:
                sets.append(np.array([t[0] for t in top], dtype=np.int64))
        if not sets:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(sets))

    return src, matcher


def multifield_union_matcher(reader: "IndexReader", fields: list,
                             terms_by_field: dict):
    """(src, matcher) for OR-union multi-field query contexts whose
    matched set is "any listed term in any listed field" — multi_match
    type=bool_prefix (per-field analyzed head terms + the last token's
    per-field prefix expansions; ES scores it as a dis_max of per-field
    match_bool_prefix OR unions, round-5 lift). terms_by_field maps each
    field to ITS OWN read list; a field absent (or empty) reads nothing.
    Returns None when no field has a live term. needs_pos=False."""
    names = [n for n, _ in _mf_fields(reader, fields)]
    src = MultiFieldPostings(reader, names, terms_by_field)
    if src.total_postings == 0:
        return None

    def matcher(rows: list, dels) -> np.ndarray:
        arrs = []
        for r in rows:
            d = _decode_live(r, None)[0]
            if d.size:
                arrs.append(d)
        if not arrs:
            return np.empty(0, dtype=np.int64)
        m = np.unique(np.concatenate(arrs))
        keep = _live_mask(m, dels)
        return m if keep is None else m[keep]

    return src, matcher


def _bm25_multifield_topk(
    reader: IndexReader,
    query: str | list[str],
    fields: list,
    k: int = 10,
    mtype: str = "best_fields",
    tie_breaker: float = 0.0,
    execution: str = "auto",
    filters=(),
    operator: str = "or",
    minimum_should_match: int | None = None,
):
    """ES multi_match over a multi-field index (url, doc_id, score):
    per-field postings + per-field df/avgdl, blended per `mtype`
    (best_fields / most_fields / cross_fields / combined_fields —
    semantics in _mf_shard_topk). fields: ["title^2", "text"] boost
    syntax, each field listed once (combined_fields requires boosts
    >= 1, the ES contract).

    Scale shape matches bm25_topk: _scatter_topk over a
    MultiFieldPostings source, whose per-field postings reads are each
    bucket-pruned + term-pushdown (a query touches |q| bucket dirs PER
    FIELD, not the index); kernels run per shard (local driver-side for
    small queries, Spark scatter-gather above LOCAL_MAX_POSTINGS); only
    k-row heaps leave the shards; urls come from a pruned docmap read.
    combined_fields additionally needs the queried fields' doc lengths
    (the docmap dl__<field> columns — this engine's norms): each shard
    kernel gathers them for its candidate docs only, the docvalue read
    filters and scripts use, so norms never leave their shard. Rank
    identity local-vs-Spark is by construction (same kernel) and
    tested, as is equivalence of a two-field index's per-field views
    with two separately built single-field indexes."""
    if mtype not in _MF_TYPES:
        raise ValueError(f"unknown multi_match type {mtype!r}")
    fb = _mf_fields(reader, fields)
    if mtype == "combined_fields" and any(w < 1.0 for _, w in fb):
        raise ValueError("combined_fields requires per-field boosts >= 1")
    if operator not in ("or", "and"):
        raise ValueError(f"multi_match operator must be or/and, got {operator!r}")
    if operator == "and" and minimum_should_match is not None:
        raise ValueError("operator=and already requires every term; "
                         "minimum_should_match composes with operator=or only")
    terms = analyze_query_py(query) if isinstance(query, str) else list(dict.fromkeys(query))
    # operator=and requires every ANALYZED term; minimum_should_match=N
    # requires at least N — both ride the same kernel masks (semantics
    # per _mf_shard_topk's n_required docstring: field-centric for
    # best/most_fields, term-centric for cross/combined_fields; the
    # masks compare >=, so any threshold works)
    n_required = (
        len(terms) if operator == "and" else int(minimum_should_match or 0)
    )
    if not terms or n_required > len(terms):
        # Lucene: msm above the clause count is unsatisfiable, not clamped
        return "rows", []
    boosts = dict(fb)
    src = MultiFieldPostings(reader, list(boosts), terms)
    stats = src.term_stats
    live = [t for t in terms if any(t in st for st in stats.values())]
    if not live or (n_required and len(live) < n_required):
        return "rows", []
    n_docs = reader.n_docs
    idfs_by_field = {
        f: {t: float(P.bm25_idf(df, n_docs)) for t, df in st.items()}
        for f, st in stats.items()
    }
    blended_idfs = {
        t: float(P.bm25_idf(max(st.get(t, 0) for st in stats.values()), n_docs))
        for t in live
    }
    avgdl_by_field = {f: reader.for_field(f).avgdl for f in boosts}
    k1, b = reader.k1, reader.b
    # filter context composes exactly like bm25_topk's: a candidates-only
    # docvalue mask per shard, applied after blend accumulation (scores
    # of survivors are unchanged, per ES)
    shard_filter = _shard_filter(reader, filters)
    field_doclens = None
    if mtype == "combined_fields":
        from engine.docvalues import gather_docvalues

        index_dir = reader.dir
        dl_col = {f: (f"dl__{f}" if reader.multi_field else "dl") for f in boosts}
        cols = sorted(set(dl_col.values()))

        def field_doclens(shard: int, uniq: np.ndarray) -> dict[str, np.ndarray]:
            tbl = gather_docvalues(index_dir, int(shard), cols, uniq)
            return {
                f: tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
                for f, c in dl_col.items()
            }

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        return _mf_shard_topk(
            rows, idfs_by_field, blended_idfs, avgdl_by_field, boosts, mtype,
            tie_breaker, k, k1, b, dels, _at_shard(field_doclens, shard),
            _at_shard(shard_filter, shard), n_required,
        )

    return _scatter_topk(src, run_kernel, k, execution)


bm25_multifield_topk = _frame_api(_bm25_multifield_topk)


def _bm25_synonym_topk(
    reader: IndexReader,
    groups: list[list[str]],
    k: int = 10,
    mode: str = "or",
    execution: str = "auto",
    filters=(),
):
    """Search-time synonym expansion with Lucene SynonymQuery scoring —
    the engine-side equivalent of ES's search-time `synonym_graph` token
    filter (the reference delegates synonyms entirely to Elasticsearch
    analyzer settings; search_scheme.json declares the analyzers).

    Each group is a set of terms treated as ONE pseudo-term, scored with
    Lucene's blended statistics (SynonymQuery): per doc, tf = SUM of the
    member tfs; df = MAX of the member dfs (so a rare alias never inflates
    the idf of its common synonym). Groups then combine exactly like plain
    terms in a match query: OR sums group scores; AND requires every group
    to match (a group with no live member under AND -> empty, the frozen
    conjunctive semantics shared with bm25_topk/bool). A single-term group
    degenerates to plain BM25 scoring by construction (tested identity).

    Plan shape: one bucket-pruned postings read covers the union of all
    member terms; per shard a vectorized kernel concatenates each group's
    decoded postings, group-sums tf per doc (np.unique + bincount), and
    applies idf(max df) * impact(tf_sum, dl) — no joins, no extra shuffle
    vs a plain match of the same number of terms. Same adaptive
    local/Spark execution + pruned docmap lookup as bm25_topk."""
    groups = [list(dict.fromkeys(g)) for g in groups if g]
    all_terms = sorted({t for g in groups for t in g})
    stats = reader.term_stats(all_terms)
    live_groups = [[t for t in g if t in stats] for g in groups]
    if mode == "and" and any(not g for g in live_groups):
        return "rows", []
    live_groups = [g for g in live_groups if g]
    if not live_groups:
        return "rows", []
    # blended group idf: df = max over live members (Lucene SynonymQuery)
    gidfs = [
        float(P.bm25_idf(max(stats[t] for t in g), reader.n_docs))
        for g in live_groups
    ]
    term_grp = {t: gi for gi, g in enumerate(live_groups) for t in g}
    terms = sorted(term_grp)
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl
    n_groups = len(live_groups)
    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        by_grp: dict[int, list[tuple]] = {}
        for r in rows:
            d, t, l = _decode_live(r, dels)
            if d.size:
                by_grp.setdefault(term_grp[r.term], []).append((d, t, l))
        if not by_grp or (mode == "and" and len(by_grp) < n_groups):
            return []
        locs_all, contribs_all = [], []
        for gi, parts in by_grp.items():
            d = np.concatenate([p[0] for p in parts])
            t = np.concatenate([p[1] for p in parts])
            l = np.concatenate([p[2] for p in parts])
            uniq, inv = np.unique(d, return_inverse=True)
            tf_sum = np.bincount(inv, weights=t, minlength=uniq.size)
            dls = np.zeros(uniq.size, dtype=np.int64)
            dls[inv] = l  # dl is a per-doc constant across members
            locs_all.append(uniq)
            contribs_all.append(gidfs[gi] * P.bm25_impact(tf_sum, dls, avgdl, k1, b))
        locs = np.concatenate(locs_all)
        contribs = np.concatenate(contribs_all)
        uniq, inv = np.unique(locs, return_inverse=True)
        scores = np.bincount(inv, weights=contribs, minlength=uniq.size)
        if mode == "and":
            keep = np.bincount(inv, minlength=uniq.size) == len(by_grp)
            uniq, scores = uniq[keep], scores[keep]
        if uniq.size == 0:
            return []
        if shard_filter is not None:
            # ES filter context: candidates-only docvalue mask
            fkeep = shard_filter(shard, uniq)
            uniq, scores = uniq[fkeep], scores[fkeep]
            if uniq.size == 0:
                return []
        kk = min(k, uniq.size)
        order = _topk_order(uniq, scores, kk)
        return list(zip(uniq[order].tolist(), scores[order].tolist()))

    return _scatter_topk(
        FieldPostings(reader, terms, sum(stats[t] for t in terms)),
        run_kernel, k, execution,
    )


bm25_synonym_topk = _frame_api(_bm25_synonym_topk)


def _bm25_bool_topk(
    reader: IndexReader,
    must: str | list[str] = (),
    should: str | list[str] = (),
    must_not: str | list[str] = (),
    k: int = 10,
    minimum_should_match: int | None = None,
    field_opts: str = "default",
    execution: str = "auto",
    filters=(),
):
    """ES-style bool query top-k (url, doc_id, score) over the real index.

    Semantics (ES bool): every `must` term is required and contributes to
    the score; `should` terms contribute when they match, with at least
    `minimum_should_match` of them required (ES default: 1 when there are
    no must clauses, else 0); `must_not` terms are a pure filter — a doc
    containing any is excluded, and they never affect the score. A must
    term absent from the index matches nothing (conjunctive semantics,
    aligned with mode="and"); an absent should/must_not term is a no-op.
    A term listed in both must and should is treated as must (scored
    once). mode="or" == bool(should=terms, msm<=1); mode="and" ==
    bool(must=terms).

    One postings read covers all three clause lists (must_not costs its
    postings IO but no scoring); the per-shard kernel is vectorized
    (np.unique/bincount + searchsorted masks, no per-doc Python) and runs
    on the same adaptive local/Spark scatter-gather as bm25_topk, with the
    same pruned docmap lookup. Ties doc_id asc."""

    def _analyze(q) -> list[str]:
        if isinstance(q, str):
            return analyze_query_py(q)
        return list(dict.fromkeys(q))

    must_terms = _analyze(must)
    should_terms = [t for t in _analyze(should) if t not in set(must_terms)]
    not_terms = [
        t for t in _analyze(must_not)
        if t not in set(must_terms) and t not in set(should_terms)
    ]
    msm = minimum_should_match
    if msm is None:
        msm = 0 if must_terms else 1
    stats = reader.term_stats(must_terms + should_terms + not_terms)
    if any(t not in stats for t in must_terms):
        return "rows", []
    should_terms = [t for t in should_terms if t in stats]
    not_terms = [t for t in not_terms if t in stats]
    scoring = must_terms + should_terms
    if not scoring or msm > len(should_terms):
        return "rows", []
    idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in scoring}
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl
    must_set, not_set = frozenset(must_terms), frozenset(not_terms)
    # filter context: same candidates-only docvalue mask as bm25_topk,
    # applied inside the kernel after clause accumulation
    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        return _bool_shard_topk(
            rows, idfs, k, k1, b, avgdl, must_set, not_set, msm, field_opts,
            dels, _at_shard(shard_filter, shard),
        )

    all_terms = scoring + not_terms
    return _scatter_topk(
        FieldPostings(reader, all_terms, sum(stats[t] for t in all_terms)),
        run_kernel, k, execution,
    )


bm25_bool_topk = _frame_api(_bm25_bool_topk)


def _terms_set_shard_topk(
    rows,
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    required_fn,
    shard: int,
    dels: np.ndarray | None = None,
    local_filter=None,
) -> list[tuple[int, float]]:
    """ES terms_set query over one shard (Lucene CoveringQuery): a doc
    matches when it contains at least required(doc) of the query terms,
    where required(doc) comes from a numeric docvalue
    (minimum_should_match_field). Score = sum of the matching terms' BM25
    contributions (each term scores like a should clause).

    Frozen spec: required = max(1, docvalue) — a doc always needs at
    least one matching term (Lucene's scorer iterates the clause union,
    so a zero/negative field value can never admit a term-free doc); a
    NULL docvalue excludes the doc (ES missing-field semantics).

    Same vectorized shape as _bool_shard_topk: one decode per term,
    unique/bincount accumulation; the per-doc threshold is gathered for
    CANDIDATE docs only (uniq ids), never the shard's full docmap."""
    locs_parts: list[np.ndarray] = []
    contrib_parts: list[np.ndarray] = []
    for r in rows:
        idf = idfs.get(r.term)
        if not idf:
            continue
        d, t, l = _decode_live(r, dels)
        locs_parts.append(d)
        contrib_parts.append(idf * P.bm25_impact(t, l, avgdl, k1, b))
    if not locs_parts:
        return []
    locs = np.concatenate(locs_parts)
    uniq, inv = np.unique(locs, return_inverse=True)
    scores = np.bincount(
        inv, weights=np.concatenate(contrib_parts), minlength=uniq.size
    )
    # each posting row is one distinct (term, doc) pair, so the bincount
    # of inv IS the per-doc matching-term count
    s_hits = np.bincount(inv, minlength=uniq.size)
    req = required_fn(shard, uniq)
    keep = ~np.isnan(req) & (s_hits >= np.maximum(req, 1.0))
    uniq, scores = uniq[keep], scores[keep]
    if uniq.size == 0:
        return []
    if local_filter is not None:
        # ES filter context: docvalue mask over surviving candidates only
        fkeep = local_filter(uniq)
        uniq, scores = uniq[fkeep], scores[fkeep]
        if uniq.size == 0:
            return []
    order = _topk_order(uniq, scores, min(k, uniq.size))
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _terms_set_topk(
    reader: IndexReader,
    terms: list[str],
    minimum_should_match_field: str,
    k: int = 10,
    execution: str = "auto",
    filters=(),
):
    """ES terms_set query top-k (url, doc_id, score): docs containing at
    least `doc[minimum_should_match_field]` of `terms`, scored as the
    BM25 sum of their matching terms — the per-DOC msm variant of the
    bool query (Lucene CoveringQuery). Frozen semantics in
    _terms_set_shard_topk's docstring. Adaptive local/Spark execution,
    pruned docmap lookup, tombstone-masked; ties doc_id asc."""
    from engine.docvalues import gather_docvalues

    dv_cols = reader.manifest.get("docvalue_cols") or []
    if minimum_should_match_field not in dv_cols:
        raise ValueError(
            f"terms_set field {minimum_should_match_field!r} not in index "
            f"docvalues {dv_cols}; rebuild with build_index(..., "
            "docvalue_cols=[...])"
        )
    qterms = list(dict.fromkeys(terms))
    stats = reader.term_stats(qterms)
    present = [t for t in qterms if t in stats]
    if not present:
        return "rows", []
    idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in present}
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl
    index_dir, field = reader.dir, minimum_should_match_field

    def required_fn(shard: int, uniq: np.ndarray) -> np.ndarray:
        tbl = gather_docvalues(index_dir, int(shard), [field], uniq)
        return (
            tbl.column(field)
            .cast("float64")
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
        )

    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        return _terms_set_shard_topk(
            rows, idfs, k, k1, b, avgdl, required_fn, shard, dels,
            _at_shard(shard_filter, shard),
        )

    return _scatter_topk(
        FieldPostings(reader, present, sum(stats[t] for t in present)),
        run_kernel, k, execution,
    )


terms_set_topk = _frame_api(_terms_set_topk)


def _match_bool_prefix_topk(
    reader: IndexReader,
    text: str,
    k: int = 10,
    max_expansions: int = 128,
    execution: str = "auto",
    filters=(),
):
    """ES match_bool_prefix query top-k: analyze the text; every token
    but the last becomes a should term clause, the LAST token becomes a
    prefix clause (the search-box "user is mid-word" query). Frozen
    rewrite: the prefix clause expands df-ordered against the dictionary
    (top_terms_{max_expansions}, same bound as mode="prefix"), each
    expansion scoring as itself (scoring_boolean) — the whole query is
    then one ranked OR union over leading terms + expansions, served by
    the shared adaptive kernels. An empty expansion leaves the leading
    terms ranking alone (ES: the prefix clause simply matches nothing
    under OR semantics)."""
    toks = analyze_query_py(text)
    if not toks:
        return "rows", []
    lead, last = toks[:-1], toks[-1]
    terms = list(dict.fromkeys(lead + reader.expand_prefix(last, max_expansions)))
    if not terms:
        return "rows", []
    return _bm25_topk(
        reader, terms, k=k, mode="or", execution=execution,
        filters=filters,
    )


match_bool_prefix_topk = _frame_api(_match_bool_prefix_topk)


def _boosting_shard_topk(
    rows,
    idfs: dict[str, float],
    neg_set: frozenset[str],
    negative_boost: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dels: np.ndarray | None = None,
    local_filter=None,
) -> list[tuple[int, float]]:
    """ES boosting query over one shard: positive terms score like the
    OR TAAT kernel; docs also containing ANY negative term keep their
    positive score multiplied by negative_boost (demotion, not
    exclusion — the distinction from bool must_not). Same vectorized
    shape as _bool_shard_topk: one decode per term, unique/bincount
    accumulation, one isin demote mask."""
    locs_parts, contrib_parts, neg_parts = [], [], []
    for r in rows:
        if r.term in neg_set:
            neg_parts.append(_decode_live(r, None)[0])
            continue
        idf = idfs.get(r.term)
        if not idf:
            continue
        d, t, l = _decode_live(r, dels)
        locs_parts.append(d)
        contrib_parts.append(idf * P.bm25_impact(t, l, avgdl, k1, b))
    if not locs_parts:
        return []
    locs = np.concatenate(locs_parts)
    uniq, inv = np.unique(locs, return_inverse=True)
    scores = np.bincount(
        inv, weights=np.concatenate(contrib_parts), minlength=uniq.size
    )
    if neg_parts:
        demote = np.isin(uniq, np.concatenate(neg_parts))
        scores = np.where(demote, scores * negative_boost, scores)
    if local_filter is not None:
        # ES filter context: candidates-only docvalue mask, post-demotion
        fkeep = local_filter(uniq)
        uniq, scores = uniq[fkeep], scores[fkeep]
        if uniq.size == 0:
            return []
    order = _topk_order(uniq, scores, min(k, uniq.size))
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _bm25_boosting_topk(
    reader: IndexReader,
    positive: str | list[str],
    negative: str | list[str],
    negative_boost: float = 0.5,
    k: int = 10,
    execution: str = "auto",
    filters=(),
):
    """ES `boosting` query top-k: rank by the positive query's BM25 (OR
    over its analyzed terms, the frozen subset — ES allows any subquery),
    demoting docs that also match the negative query by multiplying
    their score with negative_boost in [0, 1). Unlike bool must_not the
    negative docs stay in the ranking — ES's 'relevance backoff' for
    disfavored-but-valid results. Adaptive local/Spark execution, pruned
    docmap lookup, tombstone-masked; ties doc_id asc."""
    if not (0.0 <= negative_boost < 1.0):
        raise ValueError(f"negative_boost must be in [0, 1), got {negative_boost}")

    def _analyze(q) -> list[str]:
        if isinstance(q, str):
            return analyze_query_py(q)
        return list(dict.fromkeys(q))

    pos_terms = _analyze(positive)
    neg_terms = [t for t in _analyze(negative) if t not in set(pos_terms)]
    stats = reader.term_stats(pos_terms + neg_terms)
    pos_terms = [t for t in pos_terms if t in stats]
    neg_terms = [t for t in neg_terms if t in stats]
    if not pos_terms:
        return "rows", []
    idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in pos_terms}
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl
    neg_set = frozenset(neg_terms)
    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows, dels, shard) -> list[tuple[int, float]]:
        return _boosting_shard_topk(
            rows, idfs, neg_set, negative_boost, k, k1, b, avgdl, dels,
            _at_shard(shard_filter, shard),
        )

    all_terms = pos_terms + neg_terms
    return _scatter_topk(
        FieldPostings(reader, all_terms, sum(stats[t] for t in all_terms)),
        run_kernel, k, execution,
    )


bm25_boosting_topk = _frame_api(_bm25_boosting_topk)


def bm25_topk_batch(
    reader: IndexReader,
    queries: dict[int, list[str]],
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Evaluate MANY queries in ONE distributed pass (the reference query
    set is a batch — this is the throughput path, vs bm25_topk's latency
    path). Returns (query_id, url, doc_id, score, rank): each query's
    top-k by (score desc, doc_id asc), rank from 1. mode is "or" or
    "and"; anything else raises ValueError.

    One postings read covers the union of all query terms (bucket-pruned,
    position columns pruned) and runs on _scatter, whose gate weighs the
    batch's cost: the live terms' postings plus BATCH_SIG_COST per
    (signature, shard), because the kernel's cost also grows with the
    number of distinct queries. Below LOCAL_MAX_POSTINGS the shards run
    on the driver, above it as one Spark task each. Per shard, ONE
    decode_rows call decodes every term's postings, the tombstone mask
    runs once over the concatenation, and each distinct query signature
    gets the _accumulate TAAT sum and a top-k cut. Only those heaps leave
    the shards: at most n_shards x n_signatures x k rows, bounded by the
    batch size and not by the matched docs. Both paths merge them on the
    driver (one lexsort gives every signature's global top-k; urls come
    from docmap_lookup_local). The result is a local relation, so
    collecting it runs no Spark job."""
    if mode not in ("or", "and"):
        raise ValueError(f"unknown batch mode {mode!r}: expected 'or' or 'and'")
    spark = reader.spark
    queries = {int(q): list(dict.fromkeys(ts)) for q, ts in queries.items()}
    all_terms = sorted({t for ts in queries.values() for t in ts})
    stats = reader.term_stats(all_terms)
    live_terms = [t for t in all_terms if t in stats]
    if not live_terms:
        return _batch_frame(spark, None)
    idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in live_terms}
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl
    # batch-internal memoization (the ES request-cache analog, scoped to
    # this batch): two queries with the same live-term multiset and the
    # same original arity have IDENTICAL results by construction, so each
    # distinct signature scores once per shard and the driver fans its
    # top-k out to every owning query id (bit-identical, tested).
    sig_of: dict[tuple, int] = {}
    q_sig = np.array(
        [
            sig_of.setdefault((tuple(t for t in ts if t in idfs), len(ts)), len(sig_of))
            for ts in queries.values()
        ],
        dtype=np.int64,
    )
    sigs = list(sig_of)

    def shard_topk(rows, dels, shard: int) -> pd.DataFrame | None:
        counts, d, tf, dl = P.decode_rows(rows)
        imp = np.repeat([idfs[r.term] for r in rows], counts) * P.bm25_impact(
            tf, dl, avgdl, k1, b
        )
        keep = _live_mask(d, dels)
        if keep is not None:
            row_of = np.repeat(np.arange(len(rows)), counts)
            counts = np.bincount(row_of[keep], minlength=len(rows))
            d, imp = d[keep], imp[keep]
        ends = np.cumsum(counts).tolist()
        span = {r.term: (e - c, e) for r, c, e in zip(rows, counts.tolist(), ends)}
        out_sig, out_lid, out_score = [], [], []
        for si, (terms, n_q) in enumerate(sigs):
            hit = [span[t] for t in terms if t in span]
            if not hit or (mode == "and" and len(hit) != n_q):
                continue
            uniq, scores = _accumulate(
                [d[a:z] for a, z in hit], [imp[a:z] for a, z in hit], mode
            )
            if uniq.size == 0:
                continue
            order = _topk_order(uniq, scores, min(k, uniq.size))
            out_sig.append(np.full(order.size, si, dtype=np.int32))
            out_lid.append(uniq[order])
            out_score.append(scores[order])
        if not out_sig:
            return None
        sig_col = np.concatenate(out_sig)
        return pd.DataFrame({
            "shard": np.full(sig_col.size, shard, dtype=np.int32),
            "sig": sig_col,
            "local_id": np.concatenate(out_lid),
            "score": np.concatenate(out_score),
        })

    cost = sum(stats[t] for t in live_terms) + (
        BATCH_SIG_COST * len(sigs) * reader.manifest["n_shards"]
    )
    out = _scatter(
        FieldPostings(reader, live_terms, cost),
        shard_topk, "shard int, sig int, local_id long, score double", "auto",
    )
    if isinstance(out, list):  # driver-local: the shards' frames in shard order
        parts = [f for _s, f in sorted(out, key=lambda p: p[0]) if f is not None]
        if not parts:
            return _batch_frame(spark, None)
        heaps = pd.concat(parts, ignore_index=True)
    else:
        heaps = out.toPandas()
    shard = heaps["shard"].to_numpy(np.int64)
    sig = heaps["sig"].to_numpy(np.int64)
    lid = heaps["local_id"].to_numpy(np.int64)
    score = heaps["score"].to_numpy(np.float64)
    doc = np.asarray(reader.shard_offsets(), dtype=np.int64)[shard] + lid
    # every signature's global top-k at once: (sig, score desc, doc_id asc)
    # order, rank = position within the signature's run
    order = np.lexsort((doc, -score, sig))
    rank = np.arange(order.size) - np.searchsorted(sig[order], sig[order])
    win, rank = order[rank < k], rank[rank < k]
    if win.size == 0:
        return _batch_frame(spark, None)
    shard, lid, doc, score = shard[win], lid[win], doc[win], score[win]
    # fan-out: query q gets its signature's run of winners
    n_win = np.bincount(sig[win], minlength=len(sigs))
    lens = n_win[q_sig]
    first = (np.cumsum(n_win) - n_win)[q_sig]
    idx = np.repeat(first - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())
    qid = np.repeat(np.fromiter(queries, dtype=np.int64, count=len(queries)), lens)
    tail = {"doc_id": doc[idx], "score": score[idx], "rank": (rank[idx] + 1).astype(np.int32)}
    shards = sorted(set(shard.tolist()))
    locals_ = sorted(set(lid.tolist()))
    urls = reader.docmap_lookup_local(shards, locals_)
    url = np.array([urls[sl] for sl in zip(shard.tolist(), lid.tolist())], dtype=object)
    return _batch_frame(spark, pd.DataFrame({"query_id": qid, "url": url[idx], **tail}))


def _batch_frame(spark, res: pd.DataFrame | None) -> DataFrame:
    """bm25_topk_batch's result rows as a local relation (None = no
    rows)."""
    if res is None:
        res = pd.DataFrame({
            "query_id": np.empty(0, np.int64), "url": np.empty(0, object),
            "doc_id": np.empty(0, np.int64), "score": np.empty(0),
            "rank": np.empty(0, np.int32),
        })
    return spark.createDataFrame(
        res, "query_id long, url string, doc_id long, score double, rank int"
    )


# ---------------------------------------------------------------------------
# pure-DataFrame BM25 (no index) — the relational cross-check path
# ---------------------------------------------------------------------------


def bm25_topk_dataframe(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = P.K1,
    b: float = P.B,
    field_opts: str = "default",
) -> DataFrame:
    """Brute-force BM25 as a single declarative DataFrame plan (tokenize ->
    stats -> tf -> score -> top-k). SQL-expressible, used for the DuckDB
    oracle contract; Catalyst broadcasts the 1-row stats and tiny df table
    automatically."""
    from engine.textnorm import standard_tokenize_col

    terms = list(dict.fromkeys(terms))
    toks = docs.filter(F.col(text_col).isNotNull() & (F.col(text_col) != "")).select(
        F.col(id_col).alias("doc_id"),
        standard_tokenize_col(F.lower(F.col(text_col))).alias("tokens"),
    )
    toks = toks.withColumn("dl", F.size("tokens"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # M1/M2 index-option variants (SURVEY 2.6): nonorms -> b=0;
    # doconly -> tf scored as 1
    b_eff = 0.0 if field_opts == "nonorms" else b
    tf_expr = F.lit(1.0) if field_opts == "doconly" else F.col("tf")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * tf_expr
            / (tf_expr + k1 * (1.0 - b_eff + b_eff * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return scored


def highlight_fragments(
    hits: "DataFrame",
    corpus: "DataFrame",
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    frag_size: int = 80,
    pad: int = 30,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> "DataFrame":
    """ES-style highlighting, simplified to a frozen column-op contract:
    for each hit row (any DataFrame carrying `id_col`, e.g. a bm25 top-k),
    the `frag_size`-char fragment of the doc's text starting `pad` chars
    before the EARLIEST case-insensitive substring occurrence of any query
    term, with every word-boundary term occurrence inside the fragment
    wrapped in pre/post tags. Hits whose text contains no term occurrence
    (possible when the match came from another field) emit no row.

    All JVM column ops (locate / substring / regexp_replace — no UDF);
    the hit set is broadcast (top-k-sized by construction), so the corpus
    side stays a pruned scan: only id + text columns are read and the
    join filter reaches the parquet scan via the broadcast hash join.
    The regex stays in the Java/RE2 common dialect ((?i), \\b, literal
    alternation) so the DuckDB oracle differs only in backreference
    spelling ($1 vs \\1)."""
    import re as _re

    lows = list(dict.fromkeys(t.lower() for t in terms))
    hay = F.lower(F.col(text_col))
    locs = [F.when(F.locate(t, hay) > 0, F.locate(t, hay)) for t in lows]
    pos = locs[0] if len(locs) == 1 else F.least(*locs)  # least() needs >= 2
    start = F.greatest(F.lit(1), pos - F.lit(pad))
    frag = F.substring(F.col(text_col), start, F.lit(frag_size))
    alt = "|".join(_re.escape(t) for t in lows)
    marked = F.regexp_replace(
        frag, f"(?i)\\b({alt})\\b", f"{pre_tag}$1{post_tag}"
    )
    keep = [c for c in hits.columns]
    return (
        corpus.select(id_col, text_col)
        .join(F.broadcast(hits), id_col)
        .withColumn("_pos", pos)
        .filter(F.col("_pos").isNotNull())
        .select(*keep, marked.alias("fragment"))
    )


def mlt_topk(
    reader: "IndexReader",
    like_text: str,
    max_query_terms: int = 5,
    k: int = 10,
    **bm25_kwargs,
):
    """ES `more_like_this` (frozen single-`like` form): analyze the like
    text, keep its `max_query_terms` most significant terms by
    tf x BM25-idf — idf = ln(1 + (n_docs - df + 0.5) / (df + 0.5)),
    descending, term-asc tiebreak — and run the standard BM25 top-k with
    them. Terms absent from the index dictionary are skipped (they carry
    no signal and ES's analyzer does the same in the coordinating node).

    Term selection is driver-side by contract: the like text is ONE
    document (ES also analyzes it on the coordinator); its df lookups are
    a pruned term_stats read, not a corpus pass. The selection uses raw
    double scores (no rounding): both engines compute the identical IEEE
    expression, so the SQL oracle reproduces the exact term set."""
    terms = _mlt_terms(reader, like_text, max_query_terms)
    if not terms:
        return reader.spark.createDataFrame([], "url string, score double")
    return bm25_topk(reader, terms, k=k, **bm25_kwargs)


def _mlt_topk(reader, like_text, max_query_terms=5, k=10, **bm25_kwargs):
    """mlt_topk's result form."""
    terms = _mlt_terms(reader, like_text, max_query_terms)
    return _bm25_topk(reader, terms, k=k, **bm25_kwargs) if terms else ("rows", [])


def _mlt_terms(reader: "IndexReader", like_text: str, max_query_terms: int) -> list[str]:
    """mlt_topk's driver-side term selection (see its docstring)."""
    import math
    from collections import Counter

    from engine.textnorm import standard_tokenize_py

    tf = Counter(standard_tokenize_py(like_text.lower()))
    stats = reader.term_stats(list(tf))
    n = float(reader.n_docs)
    scored = [
        (t, c * math.log(1.0 + (n - stats[t] + 0.5) / (stats[t] + 0.5)))
        for t, c in tf.items()
        if t in stats
    ]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [t for t, _ in scored[:max_query_terms]]


def _mlt_multifield_topk(
    reader: "IndexReader",
    like_text: str,
    fields: list,
    max_query_terms: int = 5,
    k: int = 10,
    filters=(),
):
    """ES `more_like_this` over SEVERAL fields (round-5 lift): candidate
    (field, term) pairs score ltf x that FIELD's BM25-idf (each field's
    own df/n_docs via its for_field view), the global top
    `max_query_terms` pairs are kept — frozen tie rule: score desc,
    field asc, term asc (Lucene's MoreLikeThis priority queue does not
    specify cross-field tie order) — and the result is the bool-should
    of the per-field term queries: per-field BM25 legs run UNBOUNDED
    and SUM per doc (blend_dismax tie_breaker=1). Selection is
    driver-side by the same contract as mlt_topk (the like text is ONE
    document; df lookups are pruned term_stats reads)."""
    import math
    from collections import Counter

    from engine.textnorm import standard_tokenize_py

    ltf = Counter(standard_tokenize_py(like_text.lower()))
    cands: list[tuple[float, str, str]] = []
    views: dict[str, "IndexReader"] = {}
    for name in fields:
        if "^" in str(name):
            raise ValueError(
                "more_like_this fields do not take ^boosts (documented "
                "divergence: per-field boosting of selected terms)"
            )
        if name not in reader.text_fields:
            raise ValueError(
                f"more_like_this field {name!r} is not indexed "
                f"(text_fields={reader.text_fields})"
            )
        r = reader if name == reader.field else reader.for_field(name)
        views[name] = r
        stats = r.term_stats(list(ltf))
        n = float(r.n_docs)
        for t, c in ltf.items():
            if t in stats:
                cands.append((
                    c * math.log(1.0 + (n - stats[t] + 0.5) / (stats[t] + 0.5)),
                    name, t,
                ))
    cands.sort(key=lambda x: (-x[0], x[1], x[2]))
    by_field: dict[str, list[str]] = {}
    for _, name, t in cands[:max_query_terms]:
        by_field.setdefault(name, []).append(t)
    legs = [
        _result_rows(_bm25_topk(views[name], terms, k=1 << 31, filters=filters))
        for name, terms in by_field.items()
    ]
    return blend_dismax(legs, 1.0, k)


mlt_multifield_topk = _frame_api(_mlt_multifield_topk)


def percolate(
    queries: "DataFrame",
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    mode_col: str = "mode",
) -> "DataFrame":
    """ES percolator: match DOCUMENTS against STORED QUERIES — the
    reverse of search, the alerting/routing primitive. `queries` rows are
    (query_id, terms array<string>, mode 'or'|'and'); a doc matches an
    'or' query when any stored term is in its analyzed token set, an
    'and' query when all are. Returns (query_id, doc_id, hits) with
    hits = distinct stored terms present.

    Scale shape: queries explode to (query_id, term) rows and BROADCAST
    (stored-query sets are registry-sized, tiny vs the corpus); each doc
    explodes its DISTINCT tokens once; the match is a term-keyed join +
    per-(query, doc) hit count checked against the query's term count —
    word-count shaped, no per-row Python, never an |queries| x |docs|
    cross join."""
    from engine.textnorm import standard_tokenize_col

    terms = F.array_distinct(F.col(terms_col))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.size(terms).alias("n_terms"),
        F.col(mode_col).alias("mode"),
        F.explode(terms).alias("term"),
    )
    t = F.col(text_col)
    d = docs.filter(t.isNotNull() & (t != "")).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(standard_tokenize_col(F.lower(t)))
        ).alias("term"),
    )
    hits = (
        d.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id", "n_terms", "mode")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    keep = F.when(F.col("mode") == "and", F.col("hits") == F.col("n_terms")).otherwise(
        F.col("hits") > 0
    )
    return hits.filter(keep).select("query_id", "doc_id", "hits")


def term_vectors(reader: "IndexReader", doc_text: str) -> "DataFrame":
    """ES `_termvectors` (frozen subset): per analyzed term of one
    document — term_freq within the doc and doc_freq from the index.
    Single-doc API by contract (like ES): analysis is driver-side, df is
    a pruned term_stats read, never a corpus pass. Returns (term, tf,
    df) rows; terms absent from the index dictionary report df = 0 (a
    doc not yet ingested still gets its vector)."""
    from collections import Counter

    from engine.textnorm import standard_tokenize_py

    tf = Counter(standard_tokenize_py(doc_text.lower()))
    stats = reader.term_stats(list(tf))
    rows = [(t, int(c), int(stats.get(t, 0))) for t, c in sorted(tf.items())]
    return reader.spark.createDataFrame(rows, "term string, tf long, df long")


def mterm_vectors(reader: "IndexReader", docs: "list[tuple[str, str]]") -> "DataFrame":
    """ES `_mtermvectors`: term vectors for a batch of (doc_id, text)
    pairs in ONE dictionary probe — the union of every doc's analyzed
    terms feeds a single pruned term_stats read (vs N probes for N
    single-doc calls). Returns (doc_id, term, tf, df) rows, doc order
    preserved within the sorted-term contract of term_vectors."""
    from collections import Counter

    from engine.textnorm import standard_tokenize_py

    tfs = [(did, Counter(standard_tokenize_py(text.lower()))) for did, text in docs]
    all_terms = sorted({t for _d, c in tfs for t in c})
    stats = reader.term_stats(all_terms)
    rows = [
        (did, t, int(c), int(stats.get(t, 0)))
        for did, cnt in tfs
        for t, c in sorted(cnt.items())
    ]
    return reader.spark.createDataFrame(
        rows, "doc_id string, term string, tf long, df long"
    )


EXPLAIN_SCHEMA = (
    "term string, tf long, df long, idf double, impact double, "
    "contribution double"
)


def explain_score(
    reader: "IndexReader",
    query: "str | list[str]",
    url: str,
) -> "DataFrame":
    """ES `_explain` (frozen subset): the per-term BM25 breakdown for one
    (query, document) pair, computed FROM THE INDEX — a pruned docmap
    point lookup (driver-side XXH64 shard routing, url predicate pushed
    to the parquet scan) plus the same bucket-pruned postings read the
    kernels use; never a corpus or full-index scan.

    Rows: (term, tf, df, idf, impact, contribution), floats rounded 6 on
    output; the UNROUNDED contributions sum to the kernel's score for the
    doc (asserted in tests). Query terms absent from the doc or the
    dictionary emit no row (ES: "no matching term"). Raises KeyError for
    an unknown url; a tombstoned doc returns zero rows (masked, like the
    kernels)."""
    return reader.spark.createDataFrame(
        explain_rows(reader, query, url), EXPLAIN_SCHEMA
    )


def explain_rows(
    reader: "IndexReader",
    query: "str | list[str]",
    url: str,
) -> "list[tuple]":
    """explain_score's engine core: the same per-term breakdown as plain
    tuples, no result-DataFrame round-trip — the serving-path form that
    `search(..., explain=true)` calls once per hit (each call is a
    pyarrow point read)."""
    import math

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from engine.hashing import doc_shard
    from engine.oracle import analyze_query_py

    terms = (
        analyze_query_py(query) if isinstance(query, str)
        else list(dict.fromkeys(query))
    )
    stats = reader.term_stats(terms)
    live = [t for t in terms if t in stats]
    shard = doc_shard(url, reader.manifest["n_shards"])
    dm = ds.dataset(
        os.path.join(reader.dir, "docmap", f"shard={shard}")
    ).to_table(columns=["local_id", "dl"], filter=pc.field("url") == url)
    if dm.num_rows == 0:
        raise KeyError(f"url {url!r} not in index {reader.dir}")
    local_id = int(dm.column("local_id")[0].as_py())
    dl = float(dm.column("dl")[0].as_py())
    tomb = reader.tombstones().get(shard)
    if tomb is not None and np.searchsorted(tomb, local_id) < tomb.size and int(
        tomb[np.searchsorted(tomb, local_id)]
    ) == local_id:
        return []
    if not live:
        return []

    rows = reader.postings_local(live).get(shard, [])
    n, avgdl, k1, b = (
        float(reader.n_docs),
        float(reader.avgdl),
        float(reader.manifest["k1"]),
        float(reader.manifest["b"]),
    )
    out = []
    for r in rows:
        docs, tfs, _dls = _decode_live(r, None)
        i = int(np.searchsorted(docs, local_id))
        if i >= docs.size or int(docs[i]) != local_id:
            continue
        tf = float(tfs[i])
        df = float(stats[r.term])
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        impact = tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
        out.append(
            (
                r.term,
                int(tf),
                int(df),
                round(idf, 6),
                round(impact, 6),
                round(idf * impact, 6),
            )
        )
    out.sort(key=lambda x: x[0])
    return out


def _lev_dist(a: str, b: str) -> int:
    """Classic Levenshtein (no transpositions — matches Spark's and
    DuckDB's native levenshtein)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def suggest_terms(
    reader: "IndexReader",
    term: str,
    max_edits: int = 2,
    size: int = 5,
    prefix_length: int = 0,
) -> "DataFrame":
    """ES term suggester (frozen spec): dictionary terms within classic
    Levenshtein distance `max_edits` of the lowercased input, the input
    term itself excluded, ordered (distance asc, df desc, term asc), top
    `size` — suggest_mode=always, classic distance (Spark's and DuckDB's
    native levenshtein; fuzzy_transpositions=false, same freeze as
    expand_fuzzy). Returns (suggestion, df, distance) rows.

    Serving order mirrors expand_fuzzy: whole-vocab driver cache (small
    index, no Spark job) -> distributed term_stats scan with the
    length-band predicate in codegen and thresholded levenshtein;
    prefix_length adds the range-pruned dictionary read."""
    q = term.lower()
    lo_len, hi_len = len(q) - max_edits, len(q) + max_edits
    pref = q[:prefix_length]
    schema = "suggestion string, df long, distance long"
    if reader._ts_cache is None and reader.n_docs <= reader.CACHE_MAX_DOCS:
        reader.term_stats([q])  # populates the whole-vocab cache
    if reader._ts_cache is not None:
        reader._check_generation()
        rows = [
            (t, int(d), _lev_dist(q, t))
            for t, d in reader._ts_cache.items()
            if t != q
            and lo_len <= len(t) <= hi_len
            and t.startswith(pref)
            and _lev_within(q, t, max_edits)
        ]
        rows.sort(key=lambda x: (x[2], -x[1], x[0]))
        return reader.spark.createDataFrame(rows[:size], schema)
    ts = reader._term_stats_df()
    cond = F.length("term").between(lo_len, hi_len) & (F.col("term") != q)
    if pref:
        hi = pref[:-1] + chr(ord(pref[-1]) + 1)
        cond = cond & (F.col("term") >= pref) & (F.col("term") < hi)
    return (
        ts.filter(cond)
        .withColumn("distance", F.levenshtein(F.col("term"), F.lit(q)).cast("long"))
        .filter(F.col("distance") <= max_edits)
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .limit(size)
        .select(F.col("term").alias("suggestion"), "df", "distance")
    )


def suggest_complete(
    reader: "IndexReader", prefix: str, size: int = 10
) -> "DataFrame":
    """ES completion suggester (frozen spec): dictionary terms starting
    with the lowercased prefix, ranked weight desc then term asc, top
    `size`, returned as (suggestion, weight) with weight = the term's df
    (the engine has no per-suggestion weights field; document frequency
    is the popularity signal, same ordering ES uses when weights tie).

    Serving: term_stats read with a [prefix, prefix+1) pyarrow range
    filter (term-sorted row groups prune — the same pruned read
    expand_prefix uses, FST-like in cost: never the whole dictionary)."""
    import pyarrow.dataset as ds

    p = prefix.lower()
    schema = "suggestion string, weight long"
    if not p:
        return reader.spark.createDataFrame([], schema)
    hi = p[:-1] + chr(ord(p[-1]) + 1)
    tbl = reader._pa_dataset(reader._ts_sub).to_table(
        filter=(ds.field("term") >= p) & (ds.field("term") < hi),
        columns=["term", "df"],
    )
    pairs = [
        (t, int(d))
        for t, d in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
        if t.startswith(p)
    ]
    pairs.sort(key=lambda x: (-x[1], x[0]))
    return reader.spark.createDataFrame(pairs[:size], schema)


def suggest_phrase(
    reader: "IndexReader",
    text: str,
    size: int = 5,
    max_edits: int = 2,
    per_slot: int = 5,
) -> "DataFrame":
    """ES phrase suggester ("did you mean"), frozen spec:

    - slots = the analyzed input (order + duplicates kept);
    - per-slot corrections = the term suggester's top `per_slot`
      (distance asc, df desc, term asc within `max_edits`, input term
      excluded) — suggest_terms IS the candidate generator, so both of
      its serving paths (cached vocab / distributed term_stats scan)
      back this too;
    - max_errors = 1 (the ES default): each candidate phrase replaces
      exactly ONE slot with one of its corrections;
    - score = the Laplace-smoothed unigram log-likelihood
      sum_slots ln((df+1)/(n_docs+1)), summed in slot order — the frozen
      divergence from ES's shingle-LM (this engine indexes no shingle
      field; ES's own docs require one for LM smoothing to work, and the
      unigram LM is the degenerate laplace(0.5)-like baseline);
    - confidence = 1 (ES default): only phrases scoring STRICTLY above
      the original phrase's own score are returned;
    - order: 6-dp-rounded score desc, suggestion asc (the rounding makes
      the DuckDB twin's float sums tie-stable), top `size`.

    Returns (suggestion string, score double) rows. Cost shape: one
    suggest_terms per slot (distributed when the vocab cache is cold) +
    O(slots * per_slot) driver-side arithmetic — never corpus work."""
    import math

    from engine.textnorm import standard_tokenize_py

    slots = standard_tokenize_py(text.lower())
    schema = "suggestion string, score double"
    if not slots:
        return reader.spark.createDataFrame([], schema)
    n1 = float(reader.n_docs + 1)
    base_df = reader.term_stats(slots)  # absent terms -> df 0

    def lp(term: str, df_override: int | None = None) -> float:
        df = base_df.get(term, 0) if df_override is None else df_override
        return math.log((df + 1) / n1)

    base_lps = [lp(t) for t in slots]
    base_score = sum(base_lps)
    out: list[tuple[str, float]] = []
    for i, slot in enumerate(slots):
        cands = suggest_terms(
            reader, slot, max_edits=max_edits, size=per_slot
        ).collect()
        for c in cands:
            score = sum(
                lp(c["suggestion"], int(c["df"])) if j == i else base_lps[j]
                for j in range(len(slots))
            )
            if score > base_score:
                phrase = " ".join(
                    c["suggestion"] if j == i else slots[j]
                    for j in range(len(slots))
                )
                out.append((phrase, round(score, 6)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return reader.spark.createDataFrame(out[:size], schema)


def mget(
    reader: "IndexReader",
    urls: "list[str]",
    fields: "list[str] | None" = None,
) -> "DataFrame":
    """ES `_mget`: point-fetch documents by _id (url), one row per
    requested id in request order: (url, found, doc_id, <requested
    docvalue columns>). Missing ids and tombstoned docs report
    found=false with null attributes (ES reports deleted docs as not
    found). doc_id is the engine-internal global ordinal (shard offset +
    local id), null when not found.

    Cost shape: driver-side XXH64 shard routing groups the ids by shard,
    and each touched shard is served by ONE pruned pyarrow read carrying
    an `isin` url predicate (row-group pruning, no Spark job) — never a
    full corpus materialization."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from engine.hashing import doc_shard

    fields = list(fields or [])
    dv_cols = reader.manifest.get("docvalue_cols") or []
    bad = [f for f in fields if f not in dv_cols and f not in reader.stored_cols]
    if bad:
        raise ValueError(
            f"field(s) {bad} not in index docvalues {dv_cols} "
            f"or stored columns {reader.stored_cols}"
        )
    # stored-source fields live in the docmap as src__<f>; docvalues win on
    # a name collision (they are the typed aggregation copy)
    phys = {f: (f if f in dv_cols else f"src__{f}") for f in fields}
    ftypes = {f: _spark_vtype(reader, phys[f]) for f in fields}
    schema = "url string, found boolean, doc_id long" + "".join(
        f", {f} {ftypes[f]}" for f in fields
    )
    if not urls:
        return reader.spark.createDataFrame([], schema)
    n_shards = reader.manifest["n_shards"]
    offsets = reader.shard_offsets()
    tomb = reader.tombstones()
    by_shard: dict[int, list[str]] = {}
    for u in urls:
        by_shard.setdefault(doc_shard(u, n_shards), []).append(u)
    cols = ["url", "local_id"] + [phys[f] for f in fields]
    hits: dict[str, tuple] = {}
    reader._check_generation()
    for shard, us in by_shard.items():
        part = os.path.join(reader.dir, "docmap", f"shard={shard}")
        if not os.path.isdir(part):  # an empty shard has no partition
            continue
        tbl = ds.dataset(part).to_table(columns=cols, filter=pc.field("url").isin(us))
        dels = tomb.get(shard)
        for row in tbl.to_pylist():
            lid = int(row["local_id"])
            if dels is not None and lid in dels:
                continue
            hits[row["url"]] = (
                offsets[shard] + lid,
                tuple(row[phys[f]] for f in fields),
            )
    out = [
        (u, True, hits[u][0], *hits[u][1]) if u in hits
        else (u, False, None, *([None] * len(fields)))
        for u in urls
    ]
    return reader.spark.createDataFrame(out, schema)


def matched_queries(
    reader: "IndexReader",
    urls: "list[str]",
    named: "dict[str, tuple[list[str], str]]",
) -> "dict[str, list[str]]":
    """ES named queries: which `_name`d text clauses match each of the
    given documents — the engine primitive behind the per-hit
    `matched_queries` response array. `named` maps clause name ->
    (analyzed terms, operator 'or'|'and'); returns {url: [names]} with
    names in `named` insertion order (ES preserves clause order).

    Semantics mirror the scoring kernels exactly: 'or' matches when ANY
    live member term occurs in the doc; 'and' requires EVERY term (a term
    absent from the dictionary makes an 'and' clause unmatchable — the
    frozen conjunctive rule shared with bm25_topk). Tombstoned/missing
    urls match nothing.

    Cost shape: one mget routes the urls (pruned per-shard docmap reads);
    ONE driver-side postings read covers the union of every clause's
    terms (bucket-pruned); membership is a
    searchsorted probe of each decoded doc list against the page's local
    ids — the decode cost is the same postings IO a query for those terms
    would pay, amortized over all clauses and all k urls."""
    from engine.hashing import doc_shard

    all_terms = sorted({t for ts, _ in named.values() for t in ts})
    stats = reader.term_stats(all_terms)
    n_shards = reader.manifest["n_shards"]
    tomb = reader.tombstones()
    # url -> (shard, local_id), tombstone-masked, via the mget routing
    doc_of: dict[str, tuple[int, int]] = {}
    offsets = reader.shard_offsets()
    for r in mget(reader, list(urls)).collect():
        if r["found"]:
            shard = doc_shard(r["url"], n_shards)
            doc_of[r["url"]] = (shard, int(r["doc_id"]) - offsets[shard])
    live = [t for t in all_terms if t in stats]
    # (shard, term) -> sorted decoded local-id array
    docs_of: dict[tuple[int, str], np.ndarray] = {}
    if live and doc_of:
        for shard, rows in reader.postings_local(live).items():
            dels = tomb.get(shard)
            for r in rows:
                docs_of[(shard, r.term)] = _decode_live(r, dels)[0]

    def _has(shard: int, lid: int, term: str) -> bool:
        d = docs_of.get((shard, term))
        if d is None or d.size == 0:
            return False
        i = int(np.searchsorted(d, lid))
        return i < d.size and int(d[i]) == lid

    out: dict[str, list[str]] = {}
    for u in urls:
        names = []
        loc = doc_of.get(u)
        if loc is not None:
            shard, lid = loc
            for name, (ts, op) in named.items():
                if not ts:
                    continue
                if op == "and":
                    ok = all(t in stats and _has(shard, lid, t) for t in ts)
                else:
                    ok = any(_has(shard, lid, t) for t in ts if t in stats)
                if ok:
                    names.append(name)
        out[u] = names
    return out


def _spark_vtype(reader: "IndexReader", fld: str) -> str:
    import pyarrow as pa

    t = reader._pa_dataset("docmap").schema.field(fld).type
    if pa.types.is_timestamp(t):
        return "timestamp_ntz"
    if pa.types.is_integer(t):
        return "long"
    if pa.types.is_floating(t):
        return "double"
    return "string"


def _phrase_candidates(rows: list, slots: list[list[str]], dels, allow=None):
    """Decode positional posting rows and intersect the slots' doc lists
    (conjunctive, live-filtered). Each slot is a list of alternative terms
    (singletons for plain match_phrase; the expansion set for the
    match_phrase_prefix last slot) — a candidate doc must contain at least
    one alternative of EVERY slot. `allow` (sorted local ids) restricts
    candidates to an explicit doc set — the rescore-window / query-tree
    hook. Returns (by_term, cand) or None when the phrase cannot match in
    this shard.

    Position-stream block skipping (round-5): the doc/tf/dl streams decode
    first (cheap — they also carry the intersection), and the POSITION
    stream — the wide one, sum(tf) values vs df — decodes only for blocks
    whose [first_doc, last_doc] range contains a surviving candidate.
    A rare head-term in a selective phrase decodes a few blocks instead
    of its whole position stream; a shard with no candidates decodes no
    positions at all. Correct on any block subset because each posting's
    first position delta is stored raw (the per-posting rebase never
    crosses a block)."""
    decoded: dict[str, tuple] = {}
    for r in rows:
        docs, tfs, dls = P.decode_term_postings(r.docs_bin, r.tfs_bin, r.dls_bin, r.blocks)
        decoded[r.term] = (r, r.blocks, docs, tfs, dls)
    slot_docs = []
    for alts in dict.fromkeys(tuple(s) for s in slots):  # distinct slots
        present = [decoded[t][2] for t in alts if t in decoded]
        if not present:
            return None  # conjunctive: slot absent from this shard
        slot_docs.append(
            present[0] if len(present) == 1 else np.unique(np.concatenate(present))
        )
    # doc intersection, rarest-first (sorted arrays -> searchsorted chain)
    slot_docs.sort(key=lambda d: d.size)
    cand = slot_docs[0]
    for d in slot_docs[1:]:
        idx = np.searchsorted(d, cand)
        np.minimum(idx, d.size - 1, out=idx)
        cand = cand[d[idx] == cand]
        if cand.size == 0:
            return None
    mask = _live_mask(cand, dels)
    if mask is not None:
        cand = cand[mask]
    if allow is not None and cand.size:
        idx = np.searchsorted(allow, cand)
        np.minimum(idx, allow.size - 1, out=idx)
        cand = cand[allow[idx] == cand] if allow.size else cand[:0]
    if cand.size == 0:
        return None
    by_term: dict[str, tuple] = {}
    for t, (r, blocks, docs, tfs, dls) in decoded.items():
        nb = len(blocks)
        first = np.fromiter((b[0] for b in blocks), dtype=np.int64, count=nb)
        last = np.fromiter((b[1] for b in blocks), dtype=np.int64, count=nb)
        lo = np.searchsorted(cand, first, side="left")
        sel = (lo < cand.size) & (cand[np.minimum(lo, cand.size - 1)] <= last)
        offs = list(r.pos_offs)
        if sel.all():
            pos = P.decode_term_positions(tfs, r.pos_bin, offs, blocks)
            tfs64 = tfs.astype(np.int64)
            by_term[t] = (docs, tfs64, dls,
                          pos, np.concatenate(([0], np.cumsum(tfs64))))
            continue
        ns = np.fromiter((b[2] for b in blocks), dtype=np.int64, count=nb)
        keep = np.repeat(sel, ns)
        docs_f, tfs_f, dls_f = docs[keep], tfs[keep], dls[keep]
        blocks_f = [b for b, s in zip(blocks, sel) if s]
        offs_f = [o for o, s in zip(offs, sel) if s]
        pos = P.decode_term_positions(tfs_f, r.pos_bin, offs_f, blocks_f)
        tfs64 = tfs_f.astype(np.int64)
        by_term[t] = (docs_f, tfs64, dls_f,
                      pos, np.concatenate(([0], np.cumsum(tfs64))))
    return by_term, cand


def _slot_occurrences(
    by_term: dict, cand: np.ndarray, alts: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """(doc, pos) arrays of one slot's occurrences inside the candidate
    docs, sorted by (doc, pos). Single-term slots come out sorted for free
    (postings are doc- then position-ordered); multi-alternative slots
    (prefix expansions) are merged with one lexsort."""
    ds, ps = [], []
    for t in alts:
        if t not in by_term:
            continue
        docs, tfs, _dls, pos, occ = by_term[t]
        j = np.searchsorted(docs, cand)
        np.minimum(j, docs.size - 1, out=j)
        j = j[docs[j] == cand] if docs.size else j[:0]
        lens = tfs[j]
        srcs = occ[j]
        n_occ = int(lens.sum())
        head = np.concatenate(([0], np.cumsum(lens)))[:-1]
        gather = np.arange(n_occ) - np.repeat(head, lens) + np.repeat(srcs, lens)
        keep_docs = docs[j]
        ds.append(np.repeat(keep_docs, lens))
        ps.append(pos[gather].astype(np.int64))
    if not ds:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    if len(ds) == 1:
        return ds[0], ps[0]
    d = np.concatenate(ds)
    p = np.concatenate(ps)
    order = np.lexsort((p, d))
    return d[order], p[order]


def _phrase_score_rows(
    by_term: dict,
    slots: list[list[str]],
    match_docs: np.ndarray,
    pf: np.ndarray,
    idf_sum: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
) -> list[tuple[int, float]]:
    """Shared phrase-scoring tail: dl lookup from the first slot whose
    term carries the matched docs, Lucene pseudo-term saturation, top-k."""
    dl = np.zeros(match_docs.size, dtype=np.float64)
    found = np.zeros(match_docs.size, dtype=bool)
    for t in dict.fromkeys(t for s in slots for t in s):
        if t not in by_term:
            continue
        docs, _tfs, dls, _pos, _occ = by_term[t]
        j = np.searchsorted(docs, match_docs)
        np.minimum(j, docs.size - 1, out=j)
        hit = (~found) & (docs[j] == match_docs)
        dl[hit] = dls[j[hit]]
        found |= hit
        if found.all():
            break
    scores = idf_sum * (pf / (pf + k1 * (1.0 - b + b * dl / avgdl)))
    sel = _topk_order(match_docs, scores, k)
    return [(int(match_docs[i]), float(scores[i])) for i in sel]


def _phrase_shard_topk(
    rows: list,
    slots: list[list[str]],
    idf_sum: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dels: "np.ndarray | None",
    allow: "np.ndarray | None" = None,
) -> list[tuple[int, float]]:
    """Per-shard exact match_phrase kernel over positional postings.

    rows: posting rows (with pos_bin/pos_offs) for the phrase's DISTINCT
    terms in this shard; slots: one term-alternative list per phrase slot
    (singletons except the match_phrase_prefix expansion slot). Candidates
    = the conjunctive doc intersection; each candidate is verified by
    intersecting its per-slot position sets shifted by the slot offset
    (slot i's positions minus i) — the survivors' count is the phrase
    frequency. Lucene PhraseQuery scoring: the whole phrase behaves as ONE
    pseudo-term with tf = phrase_freq and idf = the sum of the member
    terms' idfs (duplicate slots counted),
    score = idf_sum * pf / (pf + k1*(1 - b + b*dl/avgdl)).

    Work is O(decoded postings of the rarest-term-bounded candidate set)
    and FULLY vectorized: after the conjunctive doc intersection, every
    slot's candidate occurrences become 64-bit (doc << 32 | pos - slot)
    keys and the phrase starts are one iterated sorted-set intersection
    over the whole shard — no per-candidate Python loop, so a head-bigram
    phrase with thousands of matching docs costs a handful of numpy
    passes."""
    got = _phrase_freqs(rows, slots, 0, dels, allow)
    if got is None:
        return []
    by_term, match_docs, pf = got
    return _phrase_score_rows(
        by_term, slots, match_docs, pf, idf_sum, k, k1, b, avgdl
    )


def _phrase_freqs(
    rows: list,
    slots: list[list[str]],
    slop: int,
    dels: "np.ndarray | None",
    allow: "np.ndarray | None" = None,
) -> "tuple[dict, np.ndarray, np.ndarray] | None":
    """Shared phrase-frequency core: (by_term, match_docs, pf) for one
    shard's positional posting rows, or None when nothing matches. slop=0
    is the exact-adjacency start-key intersection; slop>0 the frozen span
    semantics (see the two kernel docstrings). `allow` restricts the
    candidate docs (rescore window / query-string tree evaluation) — the
    frequencies of the surviving docs are unchanged."""
    got = _phrase_candidates(rows, slots, dels, allow)
    if got is None:
        return None
    by_term, cand = got
    if slop == 0:

        def _slot_keys(i: int, alts: list[str]) -> np.ndarray:
            # (doc << 32 | pos - i) keys of slot i's candidate occurrences,
            # sorted ascending (occurrences are doc- then position-ordered
            # and the shift preserves both orders within the kept subset)
            d, p = _slot_occurrences(by_term, cand, alts)
            keep = p >= i  # a phrase starting before the doc head can't exist
            return (d[keep] << 32) | (p[keep] - i)

        inter = _slot_keys(0, slots[0])
        for i, alts in enumerate(slots[1:], start=1):
            if inter.size == 0:
                return None
            inter = np.intersect1d(inter, _slot_keys(i, alts), assume_unique=True)
        if inter.size == 0:
            return None
        # phrase frequency per doc = count of surviving start keys
        match_docs, pf = np.unique(inter >> 32, return_counts=True)
        return by_term, match_docs, pf.astype(np.float64)
    n = len(slots)
    bias = n + slop + 1  # keeps every packed adj key strictly positive
    occs = []
    for i, alts in enumerate(slots):
        d, p = _slot_occurrences(by_term, cand, alts)
        adj = p - i
        occs.append(((d << 32) | (adj + bias), adj, p))
    keys0, adj0, pos0 = occs[0]
    s_doc = keys0 >> 32
    if s_doc.size == 0:
        return None
    s_mn, s_mx = adj0.copy(), adj0.copy()
    s_pos = [pos0]  # absolute positions per processed slot (dup-term guard)
    for i in range(1, n):
        keys, adj, p = occs[i]
        lo = np.searchsorted(keys, (s_doc << 32) | (s_mx - slop + bias), side="left")
        hi = np.searchsorted(keys, (s_doc << 32) | (s_mn + slop + bias), side="right")
        cnt = hi - lo
        tot = int(cnt.sum())
        if tot == 0:
            return None
        parent = np.repeat(np.arange(s_doc.size), cnt)
        head = np.concatenate(([0], np.cumsum(cnt)))[:-1]
        offs = np.arange(tot) - np.repeat(head, cnt) + np.repeat(lo, cnt)
        a = adj[offs]
        new_pos = p[offs]
        keep = np.ones(tot, dtype=bool)
        same = set(slots[i])
        for j in range(i):
            if same & set(slots[j]):  # shared term alternatives
                keep &= s_pos[j][parent] != new_pos
        if not keep.all():
            parent, a, new_pos = parent[keep], a[keep], new_pos[keep]
            if parent.size == 0:
                return None
        s_mn = np.minimum(s_mn[parent], a)
        s_mx = np.maximum(s_mx[parent], a)
        s_doc = s_doc[parent]
        s_pos = [sp[parent] for sp in s_pos] + [new_pos]
    w = 1.0 / (1.0 + (s_mx - s_mn).astype(np.float64))
    match_docs, inv = np.unique(s_doc, return_inverse=True)
    pf = np.bincount(inv, weights=w)
    return by_term, match_docs, pf


def _phrase_slop_shard_topk(
    rows: list,
    slots: list[list[str]],
    slop: int,
    idf_sum: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dels: "np.ndarray | None",
    allow: "np.ndarray | None" = None,
) -> list[tuple[int, float]]:
    """Per-shard sloppy match_phrase kernel (frozen span semantics).

    Frozen spec (divergence from Lucene's SloppyPhraseScorer, which
    enumerates matches greedily — repeated-token docs can count fewer
    matches there): a match is ONE occurrence choice per slot whose
    ADJUSTED positions (pos - slot index) span at most `slop` — exactly
    ES's metric, where a swapped bigram costs 2 and one intervening token
    costs 1; slots sharing a term must take pairwise-distinct token
    positions; matches are counted combinatorially, each weighted
    1 / (1 + span) (Lucene's sloppyFreq weight), and the phrase tf is the
    weight sum. slop=0 reduces exactly to the adjacency kernel (span 0
    <=> all adjusted positions equal; property-tested). Scoring is the
    same pseudo-term model as _phrase_shard_topk. The combinatorial count
    is order-independent and expressible as a positions self-join, which
    is what makes the DuckDB oracle twin exact.

    Vectorized as an iterative constrained join: states after slot i are
    parallel arrays (doc, adj-min, adj-max, chosen positions); slot i+1's
    occurrences are range-looked-up per state via searchsorted over
    (doc << 32 | adj + bias) keys. The window [adj_max - slop,
    adj_min + slop] preserves the span invariant, so no post-filter is
    needed. Work is O(assignments), bounded per doc by
    tf_slot0 * (2*slop + 1)^(n_slots - 1). The frequency core lives in
    _phrase_freqs (shared with the exact kernel, the rescore window, and
    the query-string tree evaluator)."""
    got = _phrase_freqs(rows, slots, slop, dels, allow)
    if got is None:
        return []
    by_term, match_docs, pf = got
    return _phrase_score_rows(
        by_term, slots, match_docs, pf, idf_sum, k, k1, b, avgdl
    )


def _phrase_slots_topk(
    reader: "IndexReader",
    slots: list[list[str]],
    idf_sum: float,
    k: int,
    slop: int,
    total_postings: int,
    execution: str,
    filters=(),
):
    """Shared phrase front: the exact (slop=0) or sloppy kernel per shard
    over the slots' distinct terms, run by _positional_topk (which also
    applies the filter context). Returns its result."""
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def kernel(rows: list, dels, kk: int) -> list[tuple[int, float]]:
        if slop:
            return _phrase_slop_shard_topk(
                rows, slots, slop, idf_sum, kk, k1, b, avgdl, dels
            )
        return _phrase_shard_topk(rows, slots, idf_sum, kk, k1, b, avgdl, dels)

    return _positional_topk(
        reader, list(dict.fromkeys(t for s in slots for t in s)), kernel,
        total_postings, k, execution, filters,
    )


def _require_positions(reader: "IndexReader", what: str) -> None:
    if reader.index_options != "positions":
        raise ValueError(
            f"{what} needs a positional index; {reader.dir} was built "
            "with index_options="
            f"{reader.index_options!r} (rebuild with index_options='positions')"
        )


def _match_phrase_topk(
    reader: "IndexReader",
    phrase: str | list[str],
    k: int = 10,
    slop: int = 0,
    execution: str = "auto",
    filters=(),
):
    """ES `match_phrase` top-k over a POSITIONAL index: (url, doc_id,
    score), score desc / doc_id asc.

    The phrase analyzer keeps duplicates and order (unlike the bag-of-words
    queries): "the cat the hat" is four slots. A slot term missing from the
    dictionary means zero hits (conjunctive, ES behavior). Scoring is the
    Lucene PhraseQuery model — the phrase is one pseudo-term whose tf is
    the exact phrase frequency and whose idf is the sum of member idfs.

    slop=0 is exact adjacency; slop>0 matches ES's proximity metric —
    adjusted positions (pos - slot) may span up to `slop`, so one
    intervening token costs 1 and a swapped bigram costs 2 — with the
    frozen combinatorial sloppyFreq documented on _phrase_slop_shard_topk.

    Execution mirrors bm25_topk: driver-local pyarrow read + in-process
    kernel when the index is local and the distinct terms' postings fit
    LOCAL_MAX_POSTINGS, else ONE Spark scatter-gather (one task per shard,
    <= k rows back per shard); winner urls via the
    pruned docmap lookup. Requires index_options="positions" (build_index;
    a freqs index raises ValueError — ES parity: a field indexed without
    positions rejects phrase queries)."""
    _require_positions(reader, "match_phrase")
    from engine.textnorm import standard_tokenize_py

    terms = (
        standard_tokenize_py(phrase.lower()) if isinstance(phrase, str)
        else list(phrase)
    )
    if not terms:
        return "rows", []
    distinct = list(dict.fromkeys(terms))
    stats = reader.term_stats(distinct)
    if any(t not in stats for t in distinct):
        return "rows", []
    idf_sum = float(
        sum(P.bm25_idf(stats[t], reader.n_docs) for t in terms)  # dups counted
    )
    return _phrase_slots_topk(
        reader, [[t] for t in terms], idf_sum, k, slop,
        sum(stats[t] for t in distinct), execution, filters,
    )


match_phrase_topk = _frame_api(_match_phrase_topk)


def _bm25_multifield_phrase_topk(
    reader: "IndexReader",
    phrase: str | list[str],
    fields: list,
    k: int = 10,
    slop: int = 0,
    tie_breaker: float = 0.0,
    filters=(),
    kind: str = "phrase",
    max_expansions: int = 50,
):
    """ES multi_match type=phrase / phrase_prefix / bool_prefix over
    SEVERAL indexed fields: per-field leg scores (each field's own
    postings, df, avgdl) blended dis_max — max + tie_breaker * rest
    (Lucene wraps the per-field queries in a DisjunctionMaxQuery).
    "title^2" boost syntax. kind picks the per-field leg: "phrase" =
    match_phrase, "phrase_prefix" = match_phrase_prefix (last slot
    expands), "bool_prefix" = match_bool_prefix (ranked OR union with the
    last token as prefix).

    Exactness: each field's FULL match set is materialized (phrase legs
    are conjunctive hence small; bool_prefix legs are OR unions — the
    one leg to watch at scale, same footprint as running that match on
    the field alone) and the blend is computed per doc over the union
    BEFORE top-k, so any tie_breaker is exact. Filter clauses ride every
    per-field leg (identical docvalue mask -> identical restriction).
    Shared docmap => per-field doc_ids coincide by construction."""
    legs = []
    for name, boost in _mf_fields(reader, fields):
        r = reader if name == reader.field else reader.for_field(name)
        if kind == "phrase":
            leg = _match_phrase_topk(r, phrase, k=1 << 31, slop=slop, filters=filters)
        elif kind == "phrase_prefix":
            leg = _match_phrase_prefix_topk(
                r, phrase, k=1 << 31, slop=slop,
                max_expansions=max_expansions, filters=filters,
            )
        elif kind == "bool_prefix":
            leg = _match_bool_prefix_topk(
                r, phrase, k=1 << 31, max_expansions=max_expansions,
                filters=filters,
            )
        else:
            raise ValueError(f"unknown multi-field phrase kind {kind!r}")
        legs.append([(u, d, sc * boost) for u, d, sc in _result_rows(leg)])
    return blend_dismax(legs, tie_breaker, k)


bm25_multifield_phrase_topk = _frame_api(_bm25_multifield_phrase_topk)


def blend_dismax(legs: list, tie_breaker: float, k: int):
    """Lucene DisjunctionMaxQuery blend over FULL per-leg match sets:
    score = max(leg scores) + tie_breaker * (sum - max) per doc, then
    (score desc, doc_id asc) top-k, returned as the ("rows", ...) top-k
    result. Each leg is ONE leg's complete (unbounded-k) scored match
    set as (url, doc_id, score) rows — any boost must already be applied
    by the caller. Exact for every tie_breaker because no leg was
    truncated before the blend. The per-doc sum runs in leg order with
    Kahan compensation, the summation pandas' groupby sum uses, so the
    blend is bit-stable against the frame-based form it replaced.
    Shared by bm25_multifield_phrase_topk, mlt_multifield_topk and the
    DSL's fuzzy multi_match and general dis_max (engine/dsl.py) so the
    blends cannot drift."""
    acc: dict = {}  # doc_id -> [url, max, sum, compensation]
    for leg in legs:
        for url, doc, sc in leg:
            a = acc.get(doc)
            if a is None:
                acc[doc] = [url, sc, 0.0 + sc, 0.0]
                continue
            y = sc - a[3]
            t = a[2] + y
            c = t - a[2] - y
            a[3] = 0.0 if c != c else c  # an infinite score leaves no NaN
            a[2] = t
            if sc > a[1]:
                a[1] = sc
    rows = [
        (url, doc, mx + tie_breaker * (sm - mx))
        for doc, (url, mx, sm, _c) in acc.items()
    ]
    rows.sort(key=lambda r: (-r[2], r[1]))
    return "rows", rows[:k]


def phrase_matcher(reader: "IndexReader", phrase: str | list[str], slop: int = 0):
    """(distinct_terms, matcher) for composing a match_phrase query
    context with aggs/count: matcher(rows, dels) -> SORTED local ids of
    the docs whose phrase frequency > 0 in one shard (the exact/sloppy
    kernel run unbounded; scores discarded — idf_sum=1 placeholder).
    Returns None when a slot term is missing from the dictionary
    (conjunctive: the matched set is empty everywhere). The caller feeds
    `distinct_terms` to the positional postings read and `matcher` to
    search_aggs(matcher=..., needs_pos=True) — the matched set is
    computed per shard next to the postings, never collected globally."""
    _require_positions(reader, "match_phrase (agg/count context)")
    from engine.textnorm import standard_tokenize_py

    terms = (
        standard_tokenize_py(phrase.lower()) if isinstance(phrase, str)
        else list(phrase)
    )
    if not terms:
        return None
    distinct = list(dict.fromkeys(terms))
    stats = reader.term_stats(distinct)
    if any(t not in stats for t in distinct):
        return None
    slots = [[t] for t in terms]
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def matcher(rows: list, dels) -> np.ndarray:
        if slop:
            top = _phrase_slop_shard_topk(
                rows, slots, slop, 1.0, 1 << 31, k1, b, avgdl, dels
            )
        else:
            top = _phrase_shard_topk(rows, slots, 1.0, 1 << 31, k1, b, avgdl, dels)
        if not top:
            return np.empty(0, dtype=np.int64)
        return np.sort(np.array([t[0] for t in top], dtype=np.int64))

    return distinct, matcher


def phrase_scored_matcher(reader: "IndexReader", phrase: str | list[str],
                          slop: int = 0):
    """(distinct_terms, scored_matcher) for the sampler aggs under a
    match_phrase query context (round-5 lift): scored_matcher(rows,
    dels) -> the shard's full [(local_id, score)] phrase match list
    with the TRUE phrase BM25 score (idf_sum = slot-counted member
    idfs, identical to match_phrase_topk — unlike phrase_matcher's
    discarded-score placeholder), ordered score desc / doc asc. The
    sampler's top cut is by score, so the placeholder would pick the
    WRONG sample. Returns None when a slot term is missing from the
    dictionary (conjunctive: empty everywhere)."""
    _require_positions(reader, "match_phrase (sampler context)")
    from engine.textnorm import standard_tokenize_py

    terms = (
        standard_tokenize_py(phrase.lower()) if isinstance(phrase, str)
        else list(phrase)
    )
    if not terms:
        return None
    distinct = list(dict.fromkeys(terms))
    stats = reader.term_stats(distinct)
    if any(t not in stats for t in distinct):
        return None
    idf_sum = float(
        sum(P.bm25_idf(stats[t], reader.n_docs) for t in terms)  # dups counted
    )
    slots = [[t] for t in terms]
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def scored(rows: list, dels) -> list:
        if slop:
            return _phrase_slop_shard_topk(
                rows, slots, slop, idf_sum, 1 << 31, k1, b, avgdl, dels
            )
        return _phrase_shard_topk(rows, slots, idf_sum, 1 << 31, k1, b,
                                  avgdl, dels)

    return distinct, scored


def _match_phrase_prefix_topk(
    reader: "IndexReader",
    phrase: str | list[str],
    k: int = 10,
    slop: int = 0,
    max_expansions: int = 50,
    execution: str = "auto",
    filters=(),
):
    """ES `match_phrase_prefix` top-k: the LAST slot matches every
    dictionary term with that prefix (df-ordered, capped at
    max_expansions — ES default 50), the earlier slots are exact.

    Frozen scoring spec (divergence from Lucene's MultiPhraseQuery, whose
    idf SUMS every expansion's idf so the score inflates with the
    expansion count): the prefix slot is ONE pseudo-term whose df is the
    number of docs containing ANY expansion — computed exactly (shards
    partition docs, so the per-shard union-doc counts sum), deterministic,
    oracle-expressible (`term LIKE 'pre%'` in SQL), and stable as the
    vocabulary grows. tf is the phrase frequency over the expanded last
    slot; everything else is the match_phrase model (slop supported)."""
    _require_positions(reader, "match_phrase_prefix")
    from engine.textnorm import standard_tokenize_py

    terms = (
        standard_tokenize_py(phrase.lower()) if isinstance(phrase, str)
        else list(phrase)
    )
    if not terms:
        return "rows", []
    head, pre = terms[:-1], terms[-1]
    expansions = reader.expand_prefix(pre, max_expansions=max_expansions)
    if not expansions:
        return "rows", []
    # one dictionary read: head idfs, plus the expansions' dfs for the
    # executor's local/Spark gate
    fetch = list(dict.fromkeys(head + expansions))
    stats = reader.term_stats(fetch)
    if any(t not in stats for t in head):
        return "rows", []
    # exact union df of the prefix slot: shards partition the doc space,
    # so the per-shard distinct-doc counts of the expansions' merged
    # postings sum to the global df (tombstones are not masked: df counts
    # deleted docs until compaction). Doc ids only, so no position read.
    def n_union(rows: list, _dels, _shard: int) -> int:
        docs = [_decode_live(r, None)[0] for r in rows]
        return int(np.unique(np.concatenate(docs)).size) if docs else 0

    out = _scatter(
        FieldPostings(reader, expansions, sum(stats.get(t, 0) for t in expansions)),
        n_union, "n long", execution, lambda _s, n: pd.DataFrame({"n": [n]}),
    )
    df_union = (
        sum(n for _, n in out) if isinstance(out, list)
        else int(sum(r["n"] for r in out.collect()))
    )
    if df_union == 0:
        return "rows", []
    idf_sum = float(
        sum(P.bm25_idf(stats[t], reader.n_docs) for t in head)
        + P.bm25_idf(df_union, reader.n_docs)
    )
    slots = [[t] for t in head] + [list(expansions)]
    return _phrase_slots_topk(
        reader, slots, idf_sum, k, slop, sum(stats.get(t, 0) for t in fetch),
        execution, filters,
    )


match_phrase_prefix_topk = _frame_api(_match_phrase_prefix_topk)


def _rescore_topk(
    reader: "IndexReader",
    query: str | list[str],
    rescore_phrase: str | list[str],
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    slop: int = 0,
    mode: str = "or",
    filters=(),
):
    """ES `rescore` (query rescorer, score_mode=total): re-rank the top
    `window_size` hits of the base BM25 query by blending in a
    match_phrase score — (url, doc_id, score), score desc / doc_id asc.

    Reference parity: the ES _search `rescore` block with a `match_phrase`
    rescore query — the classic precision pass over a cheap recall query.
    final = query_weight * base + rescore_weight * phrase for window docs
    the phrase matches; window docs it does not match keep
    query_weight * base. Docs outside the window are never re-ranked (and
    never returned: k <= window_size, ES behavior).

    Frozen determinism spec (divergence from ES, which rescores per-shard
    windows): the window is GLOBAL — the top window_size docs by 6-dp
    ROUNDED base score with doc_id tiebreak (the same float-sum-noise
    guard as the oracle harness; raw parallel-sum near-ties at the window
    boundary would otherwise flip between runs). Phrase scores are exact
    (same kernels as match_phrase_topk, restricted to the window via the
    candidate allowlist — the phrase never ranks docs the base query
    didn't admit, so a head-phrase rescore costs O(window) verification,
    not a corpus-wide phrase search)."""
    _require_positions(reader, "rescore (phrase rescorer)")
    from engine.textnorm import standard_tokenize_py

    if k > window_size:
        raise ValueError(f"k={k} > window_size={window_size}")
    # over-fetch so the rounded window boundary region is fully present.
    # filters (ES post_filter): applied at hit collection, so the window
    # is cut from the FILTERED base ranking — survivor scores unchanged
    # (the filter-context contract), exactly Lucene's filtered collector.
    base = bm25_topk_rows(
        reader, query, k=window_size + 16, mode=mode, filters=filters
    )
    if not base:
        return "rows", []
    base.sort(key=lambda r: (-round(r[2], 6), r[1]))
    window = base[:window_size]
    # doc_id -> (shard, local) inverse map. shard_offsets() marks EMPTY
    # shards with a -1 sentinel (tiny corpora routinely leave a shard
    # empty); searchsorted needs a monotone boundary array, so build it
    # from the non-empty shards only (their offsets strictly increase —
    # each holds >= 1 doc) and index back to the real shard numbers.
    offs_raw = reader.shard_offsets()
    live = sorted((off, s) for s, off in enumerate(offs_raw) if off >= 0)
    bounds = np.asarray([off for off, _ in live], dtype=np.int64)
    shard_of = np.asarray([s for _, s in live], dtype=np.int64)
    doc_ids = np.asarray([r[1] for r in window], dtype=np.int64)
    idx = np.searchsorted(bounds, doc_ids, side="right") - 1
    shards = shard_of[idx]
    locals_ = doc_ids - bounds[idx]
    allow_by_shard: dict[int, np.ndarray] = {
        int(s): np.sort(locals_[shards == s]) for s in np.unique(shards)
    }

    terms = (
        standard_tokenize_py(rescore_phrase.lower())
        if isinstance(rescore_phrase, str)
        else list(rescore_phrase)
    )
    phrase_scores: dict[tuple[int, int], float] = {}
    distinct = list(dict.fromkeys(terms))
    stats = reader.term_stats(distinct)
    if terms and all(t in stats for t in distinct):
        idf_sum = float(sum(P.bm25_idf(stats[t], reader.n_docs) for t in terms))
        slots = [[t] for t in terms]
        k1, b, avgdl = reader.k1, reader.b, reader.avgdl

        def shard_scores(rows: list, dels, shard: int) -> list[tuple[int, float]]:
            allow = allow_by_shard.get(shard)
            if allow is None:
                return []
            if slop:
                return _phrase_slop_shard_topk(
                    rows, slots, slop, idf_sum, allow.size, k1, b, avgdl,
                    dels, allow,
                )
            return _phrase_shard_topk(
                rows, slots, idf_sum, allow.size, k1, b, avgdl, dels, allow,
            )

        src = FieldPostings(
            reader, distinct, sum(stats[t] for t in distinct), needs_pos=True
        )
        phrase_scores = {
            (int(s), int(lid)): sc for s, lid, sc in _heap_rows(_scatter(
                src, shard_scores, _HEAP_SCHEMA, "auto", _heap_frame,
            ))
        }

    out = []
    for (url, doc_id, base_sc), shard, local in zip(window, shards, locals_):
        ph = phrase_scores.get((int(shard), int(local)), 0.0)
        out.append((url, int(doc_id), query_weight * base_sc + rescore_weight * ph))
    out.sort(key=lambda r: (-r[2], r[1]))
    return "rows", out[:k]


rescore_topk = _frame_api(_rescore_topk)


def index_stats(reader: "IndexReader") -> dict:
    """ES `_stats` / `_cat/indices` analog: index-level summary assembled
    driver-side from the manifest, parquet metadata, and the delete log —
    no Spark job, no data scan (term count comes from parquet row-group
    metadata, bytes from the directory walk)."""
    import pyarrow.dataset as ds

    from engine.deletes import list_snapshots

    def _dir_bytes(sub: str) -> int:
        p = os.path.join(reader.dir, sub)
        if not os.path.isdir(p):
            return 0
        return sum(
            os.path.getsize(os.path.join(r, fn))
            for r, _d, fns in os.walk(p)
            for fn in fns
        )

    n_terms = ds.dataset(os.path.join(reader.dir, reader._ts_sub)).count_rows()
    tomb = reader.tombstones()
    return {
        "n_docs": int(reader.n_docs),
        "n_live_docs": int(reader.n_docs) - sum(a.size for a in tomb.values()),
        "n_terms": int(n_terms),
        "sum_dl": int(reader.manifest.get("sum_dl", 0)),
        "avgdl": float(reader.avgdl),
        "n_shards": int(reader.manifest["n_shards"]),
        "n_buckets": int(reader.manifest["n_buckets"]),
        "docvalue_cols": list(reader.manifest.get("docvalue_cols") or []),
        "tombstones": int(sum(a.size for a in tomb.values())),
        "snapshots": len(list_snapshots(reader.dir)),
        "postings_bytes": _dir_bytes("postings"),
        "docmap_bytes": _dir_bytes("docmap"),
        "analyzer": reader.manifest.get("analyzer", ""),
        "codec": reader.manifest.get("codec", ""),
    }


def multi_index_topk(
    readers: list,
    query: "str | list[str]",
    k: int = 10,
    mode: str = "or",
    boosts: "list[float] | None" = None,
) -> "DataFrame":
    """Federated BM25 across several indexes with GLOBAL statistics —
    ES's dfs_query_then_fetch over an alias: a stats phase combines the
    per-index dictionaries (df summed per term, n_docs and sum_dl summed,
    one pruned term_stats read per index), then EACH index scores its own
    postings with the corpus-global idf/avgdl (the exact TAAT kernels via
    bm25_topk's stats_override; block-max bounds are local-avgdl-baked so
    pruning stays single-index) and only per-index top-k rows merge.

    Because the indexes partition the corpus, global-stats federation is
    score-identical to querying one index built over the union — the
    segment-merge identity WITHOUT rewriting a byte (tested: federated
    == merged, rank and score). Doc-id (url) uniqueness across member
    indexes is the caller's contract, exactly as with ES aliases.
    k1/b must agree across members (ValueError otherwise).

    boosts: ES `indices_boost` — a per-member multiplier applied to that
    index's hit scores BEFORE the cross-index merge (ES semantics: a
    plain multiply, which deliberately breaks global comparability in
    favor of the caller's index preference). None/1.0 everywhere is the
    score-identical federation above."""
    from engine.oracle import analyze_query_py as _aq

    if not readers:
        raise ValueError("multi_index_topk needs at least one reader")
    k1b = {(float(r.k1), float(r.b)) for r in readers}
    if len(k1b) != 1:
        raise ValueError(f"members disagree on k1/b: {k1b}")
    if boosts is not None and len(boosts) != len(readers):
        raise ValueError(
            f"one boost per member index: {len(boosts)} boosts, {len(readers)} readers"
        )
    terms = _aq(query) if isinstance(query, str) else list(dict.fromkeys(query))
    df_g: dict[str, int] = {}
    for r in readers:
        for t, d in r.term_stats(terms).items():
            df_g[t] = df_g.get(t, 0) + int(d)
    live = [t for t in terms if df_g.get(t)]
    if not live or (mode == "and" and len(live) < len(terms)):
        return _empty_topk(readers[0].spark)
    n_g = sum(int(r.n_docs) for r in readers)
    sum_dl = sum(int(r.manifest["sum_dl"]) for r in readers)
    avgdl_g = sum_dl / n_g
    idfs_g = {t: float(P.bm25_idf(df_g[t], n_g)) for t in live}
    parts = [
        bm25_topk(
            r, live, k=k, mode=mode, algo="taat",
            stats_override=(idfs_g, avgdl_g),
        )
        for r in readers
    ]
    if boosts is not None:
        parts = [
            p.withColumn("score", F.col("score") * F.lit(float(w)))
            for p, w in zip(parts, boosts)
        ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    # cross-index merge: scores are globally comparable by construction;
    # url is the only cross-index total tiebreak (doc_ids are per-index)
    return out.orderBy(F.desc("score"), F.asc("url")).limit(k)
