"""ES-style aggregations over the matched-doc set, from index docvalues.

The reference delegates search AND analytics to Elasticsearch (SURVEY
§3.3: eshttp/eshttp.go posts documents, queries run in ES) — a real ES
user composes a query context with aggregations (terms / range /
histogram / date_histogram / stats facets). This module is the native
replacement for the aggregation half, backed by docvalue columns the
index build stores per doc in the docmap (`build_index(...,
docvalue_cols=[...])` — the Lucene-docvalues analog: columnar per-doc
attributes, column-pruned parquet so queries that don't aggregate never
read them).

Scale design — the matched-doc set is NEVER shuffled:

- each shard's kernel decodes its own postings (same codec path as the
  BM25 kernels), masks tombstones (snapshot-aware via
  IndexReader.tombstones()), gathers the docvalue column for exactly the
  matched ordinals with a STREAMING batched read of that shard's docmap
  directory (memory = one Arrow batch + the matched values, not the
  shard's column), and emits only its partial buckets;
- the global combine is a groupBy over n_shards x |buckets| partial rows
  (word-count-shaped) — so bucket counts are EXACT, unlike ES's
  per-shard `shard_size` truncation (doc_count_error_upper_bound). The
  deliberate divergence is documented here: exactness costs one tiny
  extra shuffle, approximation costs silent error bars.
- match_all (query=None) skips postings entirely: a pure DataFrame plan
  over the docmap (groupBy / conditional aggregates inside whole-stage
  codegen), tombstones removed by a broadcast anti-join.

Like the BM25 path, small queries run driver-side (pyarrow reads +
numpy, no Spark job) and big ones scatter-gather through Spark with the
SAME kernel code — result identity between the two is tested.

ES semantic notes (frozen by tests):
- terms agg: buckets ordered doc_count desc then key asc, top `size`
  kept, null keys skipped; optional `stats_of` sub-aggregation computes
  count/min/max/sum/avg of a numeric docvalue per bucket (nulls skipped
  in metrics but counted in doc_count, per ES missing-value handling).
- range agg: [from, to) half-open, open ends allowed, overlapping ranges
  allowed, every range emits a bucket (count 0 included).
- histogram: key = floor(value/interval)*interval; min_doc_count=1
  (ES defaults to 0 WITH empty-bucket fill between min and max; SQL
  GROUP BY semantics — the DuckDB oracle — produce only non-empty
  buckets, so 1 is this engine's frozen default).
- date_histogram: calendar floor to 'hour' | 'day' | 'month'.
- stats: count/min/max/sum/avg; avg = sum/count in one division (when
  the field is integral the sum is exact int64, so avg is bit-stable).
- multi_terms: buckets keyed by a TUPLE of docvalues, doc_count desc
  then compound key asc; docs null in ANY key field are skipped.
- nested terms->terms (SubTermsAgg): exact at both levels; the sub-rank
  window runs only over the winning parents (broadcast semi prune).
- extended_stats: stats + sum_of_squares / population variance /
  std_deviation under the frozen formula
  `(sum_sq - sum*sum/count) / count` (exact partial sums below 2^53).
- weighted_avg: sum(v*w)/sum(w) over docs non-null in BOTH fields.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from engine import postings as P
from engine.docvalues import (  # noqa: F401  (filter clauses re-exported)
    ExistsFilter,
    RangeFilter,
    TermFilter,
    TermsFilter,
    filter_fields,
    filter_mask,
    gather_docvalues,
)
from engine.query import (
    FieldPostings, IndexReader, _decode_live, _live_mask, _scatter, _taat_scores,
)
from engine.oracle import analyze_query_py


# ---------------------------------------------------------------------------
# agg specs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TermsAgg:
    """ES `terms` aggregation (optionally with a `stats` sub-agg)."""

    field: str
    size: int = 10
    stats_of: str | None = None


@dataclass(frozen=True)
class RareTermsAgg:
    """ES `rare_terms` aggregation: the long-tail complement of `terms` —
    buckets whose GLOBAL doc_count is <= max_doc_count, ordered
    doc_count asc then key asc. EXACT, a deliberate divergence from ES
    (CuckooFilter-based, approximate): shards emit full untruncated
    (key, cnt) partials — the same exactness argument as TermsAgg — so
    the global filter sees true counts. No `size` truncation (ES has
    none either; the rarity bound itself limits the bucket count)."""

    field: str
    max_doc_count: int = 1


@dataclass(frozen=True)
class MultiTermsAgg:
    """ES `multi_terms` aggregation: buckets keyed by a TUPLE of
    docvalues, doc_count desc then keys asc (ES order); docs with a
    null in any key field are skipped (ES missing-value default).
    Exact cross-shard counts like TermsAgg — partials are never
    truncated."""

    fields: tuple
    size: int = 10


@dataclass(frozen=True)
class SubTermsAgg:
    """ES nested bucket aggregation: `terms` on `field` with a `terms`
    sub-aggregation on `sub_field` inside each bucket. Parent buckets
    order doc_count desc / key asc and keep `size`; within each parent
    the sub-buckets order the same way and keep `sub_size`. Parent
    doc_count counts every doc with a non-null parent key (a null
    SUB-key drops only the sub-bucket row, matching ES). Exact at both
    levels: shards emit full (key, sub_key) partials, the combine
    truncates only after the global sums."""

    field: str
    sub_field: str
    size: int = 10
    sub_size: int = 10


@dataclass(frozen=True)
class ExtendedStatsAgg:
    """ES `extended_stats`: count/min/max/sum/avg plus sum_of_squares,
    variance and std_deviation. Frozen formula (= ES ExtendedStats):
    variance = (sum_of_squares - sum*sum/count) / count, population
    variance in IEEE double with exactly that parenthesization — the
    DuckDB oracle spells the identical expression, so results are
    bit-stable. Partial sums of squares ride as doubles: integral
    docvalues keep them exact below 2^53."""

    field: str


@dataclass(frozen=True)
class WeightedAvgAgg:
    """ES `weighted_avg`: sum(value*weight) / sum(weight) over docs
    where BOTH fields are non-null (ES skips docs missing either side
    under the no-`missing`-param default). Partials carry exact double
    sums; one final division keeps the result bit-stable for integral
    inputs."""

    value_field: str
    weight_field: str


@dataclass(frozen=True)
class RangeAgg:
    """ES `range` aggregation: [(from, to), ...], None = open end."""

    field: str
    ranges: tuple = dc_field(default=())


@dataclass(frozen=True)
class HistogramAgg:
    field: str
    interval: float


@dataclass(frozen=True)
class DateHistogramAgg:
    field: str
    interval: str = "day"  # 'hour' | 'day' | 'month'


@dataclass(frozen=True)
class StatsAgg:
    field: str


@dataclass(frozen=True)
class CompositeAgg:
    """ES `composite` aggregation: key-ordered bucket paging over one or
    more docvalue sources — THE scalable way to enumerate a
    high-cardinality bucket space (a terms agg's doc_count-desc top-k
    needs every key's global count; composite pages keys in key order
    with an `after` cursor, so each page is a bounded amount of work no
    matter how many buckets exist).

    Exactness under per-shard truncation: each shard emits only its first
    `size` bucket partials in key order strictly after `after`. For any
    key K in the GLOBAL first `size` keys after the cursor, fewer than
    `size` keys precede K globally, hence fewer than `size` precede K
    within any one shard — so every shard containing K emitted it, and
    the combined doc_counts are exact (same argument as ES's composite
    shard protocol). Docs with a null in any source are skipped (ES
    missing_bucket=false default). Buckets order by source tuple asc;
    `after` is a full source-value tuple, strictly-greater lexicographic."""

    sources: tuple
    size: int = 10
    after: tuple | None = None


@dataclass(frozen=True)
class TopHitsAgg:
    """ES `terms` aggregation with a `top_hits` sub-aggregation: the top
    `size` buckets of `field` (doc_count desc, key asc — TermsAgg order)
    and, per kept bucket, the first `hits_k` documents sorted by the
    `hits_sort` docvalue (asc|desc) with the url tiebreak. Docs with a
    null sort value count toward doc_count but never appear as hits
    (frozen; ES would sort missing last). Buckets whose every doc has a
    null sort value emit no rows. Intended for low-cardinality bucket
    fields (each shard returns <= |keys| x hits_k hit rows + one count
    row per key); for high-cardinality enumeration use CompositeAgg."""

    field: str
    size: int = 10
    hits_sort: str = ""
    hits_k: int = 3
    ascending: bool = True


@dataclass(frozen=True)
class PercentilesAgg:
    """ES `percentiles` aggregation — EXACT (linear interpolation between
    closest ranks, the percentile_cont definition Spark's `percentile`
    and DuckDB's `quantile_cont` both implement), a deliberate divergence
    from ES's TDigest approximation. The cost of exactness: each shard
    ships its matched values (one double per matched doc) to the combine
    instead of a constant-size sketch — matched-set-sized, not
    corpus-sized, and explicitly the trade documented here. For matched
    sets too big to gather, ES's answer (TDigest) is approximate anyway;
    an approximate sketch combine can be slotted in behind the same spec
    if that trade ever inverts."""

    field: str
    percents: tuple = (25.0, 50.0, 75.0, 95.0, 99.0)


@dataclass(frozen=True)
class PercentileRanksAgg:
    """ES `percentile_ranks`: for each probe value v, the percentage of
    matched docvalues <= v. Frozen EXACT definition: the empirical CDF
    100 * count(x <= v) / count(x) — a deliberate divergence from ES's
    TDigest-interpolated ranks, consistent with this module's exact
    percentiles. Partials are one (le, tot) pair per probe per shard —
    constant size."""

    field: str
    values: tuple = dc_field(default=())


@dataclass(frozen=True)
class MissingAgg:
    """ES `missing` aggregation: count of matched docs whose docvalue is
    null (the complement of ExistsFilter)."""

    field: str


@dataclass(frozen=True)
class FiltersAgg:
    """ES `filters` aggregation: named buckets, one per filter-clause
    list (TermFilter/RangeFilter/ExistsFilter, conjunctive within a
    bucket — the same clause objects as the query-side filter context).
    Every named bucket emits (count 0 included), in declaration order."""

    named: tuple  # ((name, (clause, ...)), ...)


@dataclass(frozen=True)
class AdjacencyMatrixAgg:
    """ES `adjacency_matrix` aggregation: named filter buckets PLUS one
    bucket per pairwise intersection, keyed "a&b" in declaration order
    (i < j). Zero-count buckets are dropped and the result orders key asc
    — both per ES. Clause lists are the same filter-context objects as
    FiltersAgg; each shard computes every name's mask once and reuses it
    for the pair counts (n masks, n*(n-1)/2 vectorized ANDs)."""

    named: tuple  # ((name, (clause, ...)), ...)


@dataclass(frozen=True)
class DateRangeAgg:
    """ES `date_range` aggregation over a timestamp docvalue:
    [(from, to), ...] as ISO-8601 strings (None = open end), half-open
    [from, to) like RangeAgg; bucket key is the literal "from-to" label
    with '*' for open ends (frozen label format). Every declared range
    emits (count 0 included), declaration order — same contract as
    RangeAgg, just date-typed bounds."""

    field: str
    ranges: tuple = dc_field(default=())


@dataclass(frozen=True)
class CardinalityAgg:
    """Distinct count of a docvalue over the matched set — EXACT, unlike
    ES (HLL++, approximate above precision_threshold). Per-shard kernels
    emit their shard-distinct values; the combine is a distributed
    countDistinct over sum-of-shard-distincts rows (word-count-shaped).
    The exactness/shuffle trade is deliberate and documented — for a
    field whose global cardinality itself breaks the combine, the right
    tool is the terms agg's top-k, not a count."""

    field: str


@dataclass(frozen=True)
class AutoDateHistogramAgg:
    """ES `auto_date_histogram` over a timestamp docvalue: pick the
    calendar interval automatically so the bucket count fits `buckets`.
    Frozen rule (ES uses a wider rounding ladder + shard-side
    downsampling): ladder = hour -> day -> month, choose the FIRST unit
    whose global distinct-bucket count over the matched set is <=
    `buckets`, else month. One kernel pass emits all three units'
    partial bucket counts (3x a date_histogram partial — still
    word-count-shaped); the combine sums each unit's buckets exactly,
    then the ladder decision reads three tiny distinct counts. Output
    rows carry the chosen `interval` so callers see the resolution."""

    field: str
    buckets: int = 10


@dataclass(frozen=True)
class StringStatsAgg:
    """ES `string_stats` aggregation over a keyword docvalue: count of
    non-null values, min/max/avg length (Unicode code points, = DuckDB
    `len(varchar)`), and Shannon entropy (log2) of the CHARACTER
    distribution across all matched values — ES's
    `show_distribution`-independent summary. Partials carry per-shard
    character counts plus one length-moments row, so the combine sees
    exact global counts; entropy = log2(T) - sum(c*log2(c))/T over the
    combined counts (one pass, no char table materialized globally)."""

    field: str


@dataclass(frozen=True)
class MedianAbsoluteDeviationAgg:
    """ES `median_absolute_deviation`: median(|v - median(v)|) — EXACT
    interpolated medians (percentile_cont), the same deliberate
    divergence from ES's TDigest approximation as PercentilesAgg, with
    the same cost profile (shards ship matched values, not a sketch)."""

    field: str


@dataclass(frozen=True)
class BoxplotAgg:
    """ES `boxplot` aggregation: min / q1 / q2 / q3 / max with EXACT
    interpolated quartiles (percentile_cont; ES uses TDigest — same
    documented exactness divergence as PercentilesAgg)."""

    field: str


@dataclass(frozen=True)
class MatrixStatsAgg:
    """ES `matrix_stats` over a pair of numeric docvalues: doc_count
    (docs non-null in BOTH fields, ES's listwise deletion), means,
    population variances under the extended_stats parenthesization
    `(sum_sq - sum*sum/n) / n`, covariance `(sum_ab - sum_a*sum_b/n) / n`
    and Pearson correlation cov/sqrt(var_a*var_b). Frozen divergence
    from ES: population (not sample) moments, matching this module's
    extended_stats, and no skewness/kurtosis. Partials are six exact
    double sums per shard — constant size, perfectly combinable."""

    field_a: str
    field_b: str


@dataclass(frozen=True)
class TTestAgg:
    """ES `t_test` (paired) over two numeric docvalues: with d = a - b
    per doc non-null in both fields, t = mean(d) / sqrt(s2/n) where s2 is
    the SAMPLE variance `(sum_dd - sum_d*sum_d/n) / (n - 1)`. Returns the
    t statistic and dof = n-1; frozen divergence from ES, which returns
    the p-value (a Student-t CDF no SQL oracle can replay — the statistic
    is the checkable part, and the CDF is a pure driver-side function of
    (t, dof) any caller can apply)."""

    field_a: str
    field_b: str


_DT_UNIT = {"hour": "datetime64[h]", "day": "datetime64[D]", "month": "datetime64[M]"}


def _range_label(lo, hi) -> str:
    f = lambda v: "*" if v is None else f"{float(v):g}"  # noqa: E731
    return f"{f(lo)}-{f(hi)}"


def _pct_name(p: float) -> str:
    return "p" + f"{float(p):g}".replace(".", "_")


def _date_range_label(lo, hi) -> str:
    return f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"


# ---------------------------------------------------------------------------
# matched-doc set (per shard, kernel-side)
# ---------------------------------------------------------------------------


def _matched_local_ids(
    rows, mode: str, n_terms: int, dels: np.ndarray | None
) -> np.ndarray:
    """Sorted local ids of docs matching the query in one shard.

    Posting doc arrays are sorted unique by codec contract, so OR is one
    unique-of-concat and AND is successive sorted intersections."""
    per_term: dict[str, np.ndarray] = {}
    for r in rows:
        per_term[r.term] = _decode_live(r, None)[0]
    if not per_term or (mode == "and" and len(per_term) < n_terms):
        return np.empty(0, dtype=np.int64)
    arrs = sorted(per_term.values(), key=lambda a: a.size)
    if mode == "and":
        m = arrs[0]
        for a in arrs[1:]:
            m = np.intersect1d(m, a, assume_unique=True)
    elif len(arrs) == 1:
        m = arrs[0]
    else:
        m = np.unique(np.concatenate(arrs))
    keep = _live_mask(m, dels)
    return m if keep is None else m[keep]


def _context_source(reader: IndexReader, query, mode: str, matcher,
                    needs_pos: bool, src):
    """(postings source, matched(rows, dels) -> sorted local ids) of a
    query context, or None when its matched set is empty everywhere by
    construction. With src (engine.query MultiFieldPostings) the matcher
    is required and `query` is not read; otherwise `query`'s live terms
    are read (positions when needs_pos) and matched by `matcher`, or by
    mode's or/and term semantics."""
    if src is not None:
        if matcher is None:
            raise ValueError("src= needs a matcher")
        return src, matcher
    terms = analyze_query_py(query) if isinstance(query, str) else list(dict.fromkeys(query))
    stats = reader.term_stats(terms)
    live = [t for t in terms if t in stats]
    # matcher contexts are conjunctive over their term list (phrase), like
    # mode="and": any dead term empties the matched set everywhere
    if not live or ((matcher is not None or mode == "and") and len(live) < len(terms)):
        return None
    if matcher is None:
        n_terms = len(live)

        def matcher(rows: list, dels) -> np.ndarray:
            return _matched_local_ids(rows, mode, n_terms, dels)

    return FieldPostings(reader, live, sum(stats[t] for t in live), needs_pos), matcher


def _frames_pandas(out) -> pd.DataFrame | None:
    """_scatter output of per-shard pandas frames (None = no rows) -> one
    pandas frame, or None when no shard emitted a row. The Spark path is
    collected: callers pass it only for bounded per-shard frames."""
    if isinstance(out, list):
        frames = [f for _, f in out if f is not None and len(f)]
        return pd.concat(frames, ignore_index=True) if frames else None
    pdf = out.toPandas()
    return pdf if len(pdf) else None


def _frames_df(spark, out, schema: str) -> DataFrame:
    """_scatter output of per-shard pandas frames -> one Spark DataFrame
    of `schema` (the Spark path's DataFrame as it is)."""
    if not isinstance(out, list):
        return out
    pdf = _frames_pandas(out)
    if pdf is None:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pdf[[c.split()[0] for c in schema.split(", ")]], schema)


def _scored_context(reader: IndexReader, query, mode: str, needs_pos: bool = False):
    """(postings source, scores(rows, dels) -> (sorted local ids, BM25
    scores)) of a term query context — exact TAAT accumulation over one
    shard with mode's or/and semantics — or None when nothing can match."""
    terms = analyze_query_py(query) if isinstance(query, str) else list(dict.fromkeys(query))
    stats = reader.term_stats(terms)
    live = [t for t in terms if t in stats]
    if not live or (mode == "and" and len(live) < len(terms)):
        return None
    idfs = {t: float(P.bm25_idf(stats[t], reader.n_docs)) for t in live}
    k1, b, avgdl = reader.k1, reader.b, reader.avgdl

    def scores(rows: list, dels) -> tuple[np.ndarray, np.ndarray]:
        if mode == "and" and len({r.term for r in rows}) < len(live):
            return np.empty(0, dtype=np.int64), np.empty(0)
        return _taat_scores(rows, idfs, k1, b, avgdl, mode, dels)

    src = FieldPostings(reader, live, sum(stats[t] for t in live), needs_pos)
    return src, scores


# docvalue gather + filter predicates live in engine/docvalues.py (shared
# with the filtered BM25 path in engine/query.py)
_gather_docvalues = gather_docvalues


def _spark_filter_conds(filters) -> list:
    """Filter clauses as Spark Column predicates (match_all paths)."""
    conds = []
    for f in filters:
        c = F.col(f.field)
        if isinstance(f, TermFilter):
            conds.append(c.isNotNull() & (c == f.value))
        elif isinstance(f, TermsFilter):
            conds.append(c.isNotNull() & c.isin(list(f.values)))
        elif isinstance(f, RangeFilter):
            cond = c.isNotNull()
            if f.gte is not None:
                cond &= c >= f.gte
            if f.lt is not None:
                cond &= c < f.lt
            conds.append(cond)
        elif isinstance(f, ExistsFilter):
            conds.append(c.isNotNull())
        else:
            raise ValueError(f"unknown filter clause {f!r}")
    return conds


def live_docmap(reader: IndexReader, filters=()) -> DataFrame:
    """The docmap minus tombstones, with filter clauses applied as
    pushable Spark predicates — the shared entry for every match_all /
    filter-context-only plan. Tombstones leave via a broadcast anti-join
    (delete batches are small by the deletes-module contract)."""
    dm = reader.docmap()
    tomb = reader.tombstones()
    if tomb:
        rows = [(int(s), int(l)) for s, arr in tomb.items() for l in arr]
        tdf = reader.spark.createDataFrame(rows, "shard int, local_id long")
        dm = dm.join(F.broadcast(tdf), ["shard", "local_id"], "left_anti")
    for cond in _spark_filter_conds(filters):
        dm = dm.filter(cond)
    return dm


def constant_score_topk(reader: IndexReader, filters=(), boost: float = 1.0,
                        k: int = 10) -> DataFrame:
    """ES `constant_score` (and the bare filter-ish queries — term /
    range / exists in query context): every doc passing the filter scores
    exactly `boost`. All scores tie, so the page is the frozen url-asc
    tiebreak order — one docmap scan with the clauses pushed to the
    parquet reader, TopK(k) global sort, no postings touched."""
    return (
        live_docmap(reader, tuple(filters))
        .select("url")
        .orderBy("url")
        .limit(k)
        .withColumn("score", F.lit(float(boost)))
    )


def rank_feature_topk(
    reader: IndexReader, field: str, pivot: float, boost: float = 1.0,
    k: int = 10, filters=(),
) -> DataFrame:
    """ES `rank_feature` query (saturation function, the default): every
    live doc with a positive non-null `field` docvalue scores
    boost * v / (v + pivot) — static quality/popularity ranking with NO
    text terms. One docmap scan (predicates pushed), columnar score,
    TopK(k); ties url asc (frozen — ES has no doc-order guarantee)."""
    if pivot <= 0:
        raise ValueError(f"rank_feature pivot must be > 0, got {pivot}")
    dm = live_docmap(reader, tuple(filters))
    v = F.col(field).cast("double")
    return (
        dm.filter(v.isNotNull() & (v > 0))
        .withColumn("score", F.lit(float(boost)) * v / (v + F.lit(float(pivot))))
        .select("url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )


def distance_feature_topk(
    reader: IndexReader, field: str, origin, pivot, boost: float = 1.0,
    k: int = 10, filters=(),
) -> DataFrame:
    """ES `distance_feature` query over a numeric/date docvalue: every
    live doc with a non-null `field` scores
    boost * pivot / (pivot + |value - origin|) — the closer to origin the
    higher (recency/proximity ranking). Same docmap-only plan shape as
    rank_feature_topk; ties url asc (frozen)."""
    p = float(pivot)
    if p <= 0:
        raise ValueError(f"distance_feature pivot must be > 0, got {pivot}")
    dm = live_docmap(reader, tuple(filters))
    v = F.col(field).cast("double")
    dist = F.abs(v - F.lit(float(origin)))
    return (
        dm.filter(v.isNotNull())
        .withColumn("score", F.lit(float(boost)) * F.lit(p) / (F.lit(p) + dist))
        .select("url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )


def ids_topk(reader: IndexReader, values, k: int = 10, filters=()) -> DataFrame:
    """ES `ids` query: fetch by document id (url). Constant score 1.0
    (ES behavior), url-asc page order; the IN-list is a pushable
    predicate over the docmap scan. filters: ES filter context — extra
    docvalue predicates on the same scan (live_docmap composes them)."""
    return (
        live_docmap(reader, filters)
        .filter(F.col("url").isin([str(v) for v in values]))
        .select("url")
        .orderBy("url")
        .limit(k)
        .withColumn("score", F.lit(1.0))
    )


PINNED_BASE = 1_000_000_000.0  # frozen synthetic score base for pinned docs


def pinned_topk(
    reader: IndexReader,
    ids,
    organic,
    k: int = 10,
    mode: str = "or",
    filters=(),
) -> DataFrame:
    """ES `pinned` query: the given ids rank first IN REQUEST ORDER
    (synthetic score PINNED_BASE - position — frozen; ES uses a float-max
    ladder with the same ordering), followed by the organic query's BM25
    ranking with the pinned ids removed. Ids absent from the live index
    are skipped (ES behavior: a pinned id must exist to pin).

    Cost shape: the pinned leg is an _mget point fetch; the organic leg
    over-fetches k + len(ids) so removals can never starve the page."""
    from engine.query import bm25_topk_rows, mget

    ids = [str(v) for v in ids]
    found = {
        x["url"] for x in mget(reader, ids).collect() if x["found"]
    }
    if filters:
        # ES filter context restricts pins too: a pinned id the filter
        # rejects drops out (same docvalue predicates, pushed into the
        # id-pruned docmap scan)
        found &= {
            x["url"]
            for x in live_docmap(reader, filters)
            .filter(F.col("url").isin(ids))
            .select("url")
            .collect()
        }
    pinned = [
        (u, PINNED_BASE - i) for i, u in enumerate(ids) if u in found
    ][:k]
    organic_rows = [
        (url, float(score))
        for url, _doc_id, score in bm25_topk_rows(
            reader, organic, k=k + len(ids), mode=mode, filters=filters
        )
        if url not in found
    ]
    rows = pinned + organic_rows[: k - len(pinned)]
    return reader.spark.createDataFrame(rows, "url string, score double")


def top_metrics(
    reader: IndexReader,
    query,
    sort_field: str,
    metric_field: str,
    ascending: bool = True,
    mode: str = "or",
    filters=(),
    matcher=None,
    needs_pos: bool = False,
    src=None,
) -> DataFrame:
    """ES `top_metrics` (size=1, the default): the metric docvalue of THE
    top matched doc by the sort docvalue ((sort, _id) total order, the
    search_sort contract). Returns one (url, sort_val, metric) row — or
    zero rows when nothing matches. Composition: search_sort k=1 for the
    winner + an _mget point fetch for its metric (two bounded reads,
    never a corpus pass)."""
    from engine.query import mget

    top = search_sort(
        reader, query, sort_field, k=1, mode=mode,
        ascending=ascending, filters=filters,
        matcher=matcher, needs_pos=needs_pos, src=src,
    ).collect()
    if not top:
        return reader.spark.createDataFrame(
            [], f"url string, sort_val {_vtype(reader, sort_field)}, "
                f"metric {_vtype(reader, metric_field)}",
        )
    url, sv = top[0]["url"], top[0]["sort_val"]
    m = mget(reader, [url], fields=[metric_field]).collect()[0][metric_field]
    return reader.spark.createDataFrame(
        [(url, sv, m)],
        f"url string, sort_val {_vtype(reader, sort_field)}, "
        f"metric {_vtype(reader, metric_field)}",
    )


# ---------------------------------------------------------------------------
# partial buckets (per shard) + global combine
# ---------------------------------------------------------------------------


def _partial_frame(tbl: pa.Table, agg, vt: str) -> pd.DataFrame:
    """One shard's partial buckets for `agg` over its matched docvalues."""
    if isinstance(agg, RareTermsAgg) or (
        isinstance(agg, TermsAgg) and agg.stats_of is None
    ):
        keys = tbl.column(agg.field).drop_null()
        vc = pc.value_counts(keys)
        return pd.DataFrame(
            {
                "key": [str(v) for v in vc.field("values").to_pylist()],
                "cnt": vc.field("counts").to_numpy(zero_copy_only=False),
            }
        )
    if isinstance(agg, TermsAgg):
        pdf = tbl.select([agg.field, agg.stats_of]).to_pandas()
        pdf = pdf[pdf[agg.field].notna()]
        g = pdf.groupby(agg.field, sort=False)[agg.stats_of]
        out = g.agg(cnt="size", vcnt="count", vmin="min", vmax="max", vsum="sum")
        out.index.name = "key"
        out = out.reset_index()
        out["key"] = out["key"].astype(str)
        # groups with null metric values: pandas sum() of empties is 0 but
        # min/max are NaN — null vsum too; Int64 (nullable) keeps integral
        # partials exact through the Arrow boundary instead of float64
        out.loc[out["vcnt"] == 0, "vsum"] = np.nan
        if vt == "long":
            for c in ("vmin", "vmax", "vsum"):
                out[c] = out[c].astype("Int64")
        return out
    if isinstance(agg, MultiTermsAgg):
        cols = list(agg.fields)
        pdf = tbl.select(cols).to_pandas().dropna(subset=cols)
        g = pdf.groupby(cols, sort=False).size().reset_index(name="cnt")
        for c in cols:
            g[c] = g[c].astype(str)
        return g
    if isinstance(agg, SubTermsAgg):
        pdf = tbl.select([agg.field, agg.sub_field]).to_pandas()
        pdf = pdf[pdf[agg.field].notna()]
        # sub-null rows keep the parent count: dropna=False groups them
        # under a null sub_key the combine drops from sub-buckets only
        g = (
            pdf.groupby([agg.field, agg.sub_field], sort=False, dropna=False)
            .size()
            .reset_index(name="cnt")
        )
        g["key"] = g[agg.field].astype(str)
        sk = g[agg.sub_field]
        g["sub_key"] = np.where(sk.isna(), None, sk.astype(str))
        return g[["key", "sub_key", "cnt"]]
    if isinstance(agg, ExtendedStatsAgg):
        vals = tbl.column(agg.field).drop_null().to_numpy(zero_copy_only=False)
        if vals.size == 0:
            return pd.DataFrame(
                {"vcnt": [], "vmin": [], "vmax": [], "vsum": [], "vsumsq": []}
            )
        fv = vals.astype(np.float64)
        return pd.DataFrame(
            {
                "vcnt": [vals.size],
                "vmin": [vals.min()],
                "vmax": [vals.max()],
                "vsum": [vals.sum()],
                "vsumsq": [float((fv * fv).sum())],
            }
        )
    if isinstance(agg, WeightedAvgAgg):
        pdf = tbl.select([agg.value_field, agg.weight_field]).to_pandas()
        pdf = pdf.dropna(subset=[agg.value_field, agg.weight_field])
        v = pdf[agg.value_field].to_numpy(dtype=np.float64)
        w = pdf[agg.weight_field].to_numpy(dtype=np.float64)
        return pd.DataFrame({"swv": [float((v * w).sum())], "sw": [float(w.sum())]})
    if isinstance(agg, CardinalityAgg):
        uniq = pc.unique(tbl.column(agg.field).drop_null())
        return pd.DataFrame({"v": [str(x) for x in uniq.to_pylist()]})
    if isinstance(agg, CompositeAgg):
        cols = list(agg.sources)
        pdf = tbl.select(cols).to_pandas().dropna(subset=cols)
        g = pdf.groupby(cols, sort=True).size().reset_index(name="cnt")
        if agg.after is not None:
            g = g[_lex_after_pandas(g, agg.sources, agg.after)]
        # first `size` keys in key order is exact under the combine's
        # re-merge (see CompositeAgg docstring); mergesort keeps the
        # groupby's key order stable for equal leading sources
        return g.sort_values(cols, kind="mergesort").head(agg.size)
    if isinstance(agg, TopHitsAgg):
        pdf = tbl.select([agg.field, agg.hits_sort, "url"]).to_pandas()
        pdf = pdf[pdf[agg.field].notna()]
        pdf["key"] = pdf[agg.field].astype(str)
        gcnt = pdf.groupby("key").size()
        hits = pdf[pdf[agg.hits_sort].notna()].sort_values(
            ["key", agg.hits_sort, "url"],
            ascending=[True, agg.ascending, True],
            kind="mergesort",
        )
        hits = hits.groupby("key").head(agg.hits_k)
        # shard-key doc_count rides on the key's first hit row (0 on the
        # rest) so sum(cnt) is exact; keys with only-null sort values
        # still need their count -> one url-less row each
        first = ~hits["key"].duplicated()
        out = pd.DataFrame(
            {
                "key": hits["key"],
                "cnt": np.where(first, hits["key"].map(gcnt), 0),
                "url": hits["url"],
                "v": hits[agg.hits_sort],
            }
        )
        nohit = gcnt.index.difference(hits["key"].unique())
        if len(nohit):
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "key": nohit,
                            "cnt": gcnt.loc[nohit].to_numpy(),
                            "url": None,
                            "v": None,
                        }
                    ),
                ],
                ignore_index=True,
            )
        if vt == "long":
            out["v"] = out["v"].astype("Int64")
        return out
    if isinstance(agg, MissingAgg):
        col = tbl.column(agg.field)
        return pd.DataFrame({"cnt": [col.null_count]})
    if isinstance(agg, FiltersAgg):
        from engine.docvalues import filter_mask as _fm

        cnts = [
            int(np.count_nonzero(_fm(tbl, fs))) for _n, fs in agg.named
        ]
        return pd.DataFrame({"fidx": np.arange(len(cnts)), "cnt": cnts})
    if isinstance(agg, AdjacencyMatrixAgg):
        from engine.docvalues import filter_mask as _fm

        names = [n for n, _fs in agg.named]
        masks = [_fm(tbl, fs) for _n, fs in agg.named]
        keys, cnts = [], []
        for i, n in enumerate(names):
            keys.append(n)
            cnts.append(int(np.count_nonzero(masks[i])))
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                keys.append(f"{names[i]}&{names[j]}")
                cnts.append(int(np.count_nonzero(masks[i] & masks[j])))
        return pd.DataFrame({"key": keys, "cnt": cnts})
    if isinstance(agg, DateRangeAgg):
        tv = tbl.column(agg.field).drop_null().to_numpy(zero_copy_only=False)
        cnts = []
        for lo, hi in agg.ranges:
            m = np.ones(tv.size, dtype=bool)
            if lo is not None:
                m &= tv >= np.datetime64(lo)
            if hi is not None:
                m &= tv < np.datetime64(hi)
            cnts.append(int(np.count_nonzero(m)))
        return pd.DataFrame({"ridx": np.arange(len(cnts)), "cnt": cnts})
    if isinstance(agg, StringStatsAgg):
        from collections import Counter

        svals = [v for v in tbl.column(agg.field).to_pylist() if v is not None]
        if not svals:
            return pd.DataFrame(
                {"ch": [], "cnt": [], "vcnt": [], "lmin": [], "lmax": [], "lsum": []}
            )
        lens = np.fromiter((len(s) for s in svals), dtype=np.int64)
        counts = Counter("".join(svals))
        out = pd.DataFrame(
            {
                "ch": list(counts.keys()),
                "cnt": list(counts.values()),
                "vcnt": 0, "lmin": 0, "lmax": 0, "lsum": 0,
            }
        )
        stats_row = pd.DataFrame(
            {
                "ch": [None], "cnt": [0],
                "vcnt": [len(svals)], "lmin": [int(lens.min())],
                "lmax": [int(lens.max())], "lsum": [int(lens.sum())],
            }
        )
        return pd.concat([out, stats_row], ignore_index=True)
    if isinstance(agg, (MatrixStatsAgg, TTestAgg)):
        pdf = tbl.select([agg.field_a, agg.field_b]).to_pandas()
        pdf = pdf.dropna(subset=[agg.field_a, agg.field_b])
        a = pdf[agg.field_a].to_numpy(dtype=np.float64)
        b = pdf[agg.field_b].to_numpy(dtype=np.float64)
        return pd.DataFrame(
            {
                "n": [a.size],
                "sa": [float(a.sum())], "sb": [float(b.sum())],
                "saa": [float((a * a).sum())], "sbb": [float((b * b).sum())],
                "sab": [float((a * b).sum())],
            }
        )
    vals = tbl.column(agg.field).drop_null().to_numpy(zero_copy_only=False)
    if isinstance(agg, (PercentilesAgg, MedianAbsoluteDeviationAgg, BoxplotAgg)):
        return pd.DataFrame({"v": vals.astype(np.float64)})
    if isinstance(agg, PercentileRanksAgg):
        fv = vals.astype(np.float64)
        return pd.DataFrame(
            {
                "vidx": np.arange(len(agg.values), dtype=np.int32),
                "le": [int((fv <= float(v)).sum()) for v in agg.values],
                "tot": fv.size,
            }
        )
    if isinstance(agg, RangeAgg):
        cnts = []
        for lo, hi in agg.ranges:
            m = np.ones(vals.size, dtype=bool)
            if lo is not None:
                m &= vals >= lo
            if hi is not None:
                m &= vals < hi
            cnts.append(int(np.count_nonzero(m)))
        return pd.DataFrame({"ridx": np.arange(len(cnts)), "cnt": cnts})
    if isinstance(agg, HistogramAgg):
        if vals.size == 0:
            return pd.DataFrame({"bucket": [], "cnt": []})
        keys = np.floor(vals.astype(np.float64) / agg.interval) * agg.interval
        uniq, counts = np.unique(keys, return_counts=True)
        return pd.DataFrame({"bucket": uniq, "cnt": counts})
    if isinstance(agg, DateHistogramAgg):
        if vals.size == 0:
            return pd.DataFrame({"bucket_us": [], "cnt": []})
        floored = vals.astype(_DT_UNIT[agg.interval])
        uniq, counts = np.unique(floored, return_counts=True)
        return pd.DataFrame(
            {"bucket_us": uniq.astype("datetime64[us]").astype(np.int64), "cnt": counts}
        )
    if isinstance(agg, AutoDateHistogramAgg):
        frames = []
        for unit, dt in _DT_UNIT.items():
            if vals.size == 0:
                continue
            uniq, counts = np.unique(vals.astype(dt), return_counts=True)
            frames.append(pd.DataFrame({
                "unit": unit,
                "bucket_us": uniq.astype("datetime64[us]").astype(np.int64),
                "cnt": counts,
            }))
        if not frames:
            return pd.DataFrame({"unit": [], "bucket_us": [], "cnt": []})
        return pd.concat(frames, ignore_index=True)
    if isinstance(agg, StatsAgg):
        if vals.size == 0:
            # zero-row partial: the combine's coalesce supplies count=0
            return pd.DataFrame({"vcnt": [], "vmin": [], "vmax": [], "vsum": []})
        return pd.DataFrame(
            {
                "vcnt": [vals.size],
                "vmin": [vals.min()],
                "vmax": [vals.max()],
                "vsum": [vals.sum()],
            }
        )
    raise ValueError(f"unknown agg spec {agg!r}")


def _agg_fields(agg) -> list[str]:
    """Docvalue fields the agg gathers per matched doc ('url' is the
    docmap id column, always present — not a docvalue)."""
    if isinstance(agg, CompositeAgg):
        return list(agg.sources)
    if isinstance(agg, MultiTermsAgg):
        return list(agg.fields)
    if isinstance(agg, SubTermsAgg):
        return [agg.field, agg.sub_field]
    if isinstance(agg, WeightedAvgAgg):
        return [agg.value_field, agg.weight_field]
    if isinstance(agg, TopHitsAgg):
        return [agg.field, agg.hits_sort, "url"]
    if isinstance(agg, (FiltersAgg, AdjacencyMatrixAgg)):
        return sorted({f.field for _n, fs in agg.named for f in fs})
    if isinstance(agg, (MatrixStatsAgg, TTestAgg)):
        return [agg.field_a, agg.field_b]
    if isinstance(agg, TermsAgg):
        return [agg.field] + ([agg.stats_of] if agg.stats_of else [])
    return [agg.field]


def _agg_vt(reader: IndexReader, agg):
    """Value-type tag(s) threaded through partial schema + combine."""
    if isinstance(agg, CompositeAgg):
        return tuple(_vtype(reader, s) for s in agg.sources)
    if isinstance(agg, TopHitsAgg):
        return _vtype(reader, agg.hits_sort)
    if isinstance(agg, (MissingAgg, FiltersAgg, AdjacencyMatrixAgg,
                        DateRangeAgg, MultiTermsAgg, SubTermsAgg, WeightedAvgAgg,
                        StringStatsAgg, MatrixStatsAgg, TTestAgg,
                        PercentileRanksAgg)):
        return ""  # keys stringified / sums pre-doubled in the partial
    if isinstance(agg, (PercentilesAgg, MedianAbsoluteDeviationAgg, BoxplotAgg)):
        return "double"
    if isinstance(agg, TermsAgg):
        return _vtype(reader, agg.stats_of or agg.field)
    return _vtype(reader, agg.field)


def _lex_after_pandas(g: pd.DataFrame, sources, after) -> pd.Series:
    """Strictly-greater lexicographic cursor mask over bucket-key rows."""
    gt = pd.Series(False, index=g.index)
    eq = pd.Series(True, index=g.index)
    for c, a in zip(sources, after):
        gt = gt | (eq & (g[c] > a))
        eq = eq & (g[c] == a)
    return gt


def _vtype(reader: IndexReader, fld: str) -> str:
    t = reader._pa_dataset("docmap").schema.field(fld).type
    if pa.types.is_timestamp(t):
        return "timestamp_ntz"
    if pa.types.is_integer(t):
        return "long"
    if pa.types.is_floating(t):
        return "double"
    return "string"


def _partial_schema(agg, vt: str) -> str:
    if isinstance(agg, RareTermsAgg) or (
        isinstance(agg, TermsAgg) and agg.stats_of is None
    ):
        return "key string, cnt long"
    if isinstance(agg, TermsAgg):
        return f"key string, cnt long, vcnt long, vmin {vt}, vmax {vt}, vsum {vt}"
    if isinstance(agg, CardinalityAgg):
        return "v string"
    if isinstance(agg, CompositeAgg):
        srcs = ", ".join(f"{s} {t}" for s, t in zip(agg.sources, vt))
        return f"{srcs}, cnt long"
    if isinstance(agg, TopHitsAgg):
        return f"key string, cnt long, url string, v {vt}"
    if isinstance(agg, (PercentilesAgg, MedianAbsoluteDeviationAgg, BoxplotAgg)):
        return "v double"
    if isinstance(agg, PercentileRanksAgg):
        return "vidx int, le long, tot long"
    if isinstance(agg, StringStatsAgg):
        return "ch string, cnt long, vcnt long, lmin long, lmax long, lsum long"
    if isinstance(agg, (MatrixStatsAgg, TTestAgg)):
        return "n long, sa double, sb double, saa double, sbb double, sab double"
    if isinstance(agg, MissingAgg):
        return "cnt long"
    if isinstance(agg, FiltersAgg):
        return "fidx int, cnt long"
    if isinstance(agg, AdjacencyMatrixAgg):
        return "key string, cnt long"
    if isinstance(agg, (RangeAgg, DateRangeAgg)):
        return "ridx int, cnt long"
    if isinstance(agg, HistogramAgg):
        return "bucket double, cnt long"
    if isinstance(agg, DateHistogramAgg):
        return "bucket_us long, cnt long"
    if isinstance(agg, AutoDateHistogramAgg):
        return "unit string, bucket_us long, cnt long"
    if isinstance(agg, StatsAgg):
        return f"vcnt long, vmin {vt}, vmax {vt}, vsum {vt}"
    if isinstance(agg, MultiTermsAgg):
        keys = ", ".join(f"{c} string" for c in agg.fields)
        return f"{keys}, cnt long"
    if isinstance(agg, SubTermsAgg):
        return "key string, sub_key string, cnt long"
    if isinstance(agg, ExtendedStatsAgg):
        return f"vcnt long, vmin {vt}, vmax {vt}, vsum {vt}, vsumsq double"
    if isinstance(agg, WeightedAvgAgg):
        return "swv double, sw double"
    raise ValueError(f"unknown agg spec {agg!r}")


def _combine(spark, partials: DataFrame, agg, vt: str) -> DataFrame:
    """Global combine of per-shard partials -> final bucket table. Runs as
    a DataFrame plan either way; partial inputs are tiny by construction."""
    avg = (F.col("v_sum").cast("double") / F.col("v_count")).alias("v_avg")
    if isinstance(agg, RareTermsAgg):
        return (
            partials.groupBy("key")
            .agg(F.sum("cnt").alias("doc_count"))
            .filter(F.col("doc_count") <= agg.max_doc_count)
            .orderBy(F.asc("doc_count"), F.asc("key"))
        )
    if isinstance(agg, TermsAgg) and agg.stats_of is None:
        return (
            partials.groupBy("key")
            .agg(F.sum("cnt").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
    if isinstance(agg, TermsAgg):
        return (
            partials.groupBy("key")
            .agg(
                F.sum("cnt").alias("doc_count"),
                F.sum("vcnt").alias("v_count"),
                F.min("vmin").alias("v_min"),
                F.max("vmax").alias("v_max"),
                F.sum("vsum").alias("v_sum"),
            )
            .withColumn("v_avg", avg)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
    if isinstance(agg, CardinalityAgg):
        return partials.agg(F.count_distinct("v").alias("value"))
    if isinstance(agg, CompositeAgg):
        cols = list(agg.sources)
        return (
            partials.groupBy(*cols)
            .agg(F.sum("cnt").alias("doc_count"))
            .orderBy(*[F.asc(c) for c in cols])
            .limit(agg.size)
        )
    if isinstance(agg, TopHitsAgg):
        from pyspark.sql import Window

        buckets = (
            partials.groupBy("key")
            .agg(F.sum("cnt").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
        v_ord = F.col("v").asc() if agg.ascending else F.col("v").desc()
        w = Window.partitionBy("key").orderBy(v_ord, F.col("url").asc())
        return (
            partials.filter(F.col("url").isNotNull())
            .join(F.broadcast(buckets), "key")
            .withColumn("hit_rank", F.row_number().over(w))
            .filter(F.col("hit_rank") <= agg.hits_k)
            .select("key", "doc_count", "hit_rank", "url", F.col("v").alias("sort_val"))
            .orderBy(F.desc("doc_count"), F.asc("key"), F.asc("hit_rank"))
        )
    if isinstance(agg, PercentilesAgg):
        fracs = ", ".join(f"{p / 100.0!r}" for p in agg.percents)
        q = partials.agg(F.expr(f"percentile(v, array({fracs}))").alias("q"))
        return q.select(
            *[F.col("q")[i].alias(_pct_name(p)) for i, p in enumerate(agg.percents)]
        )
    if isinstance(agg, PercentileRanksAgg):
        sums = (
            partials.groupBy("vidx")
            .agg(F.sum("le").alias("le"), F.sum("tot").alias("tot"))
            .collect()
        )
        by_idx = {r["vidx"]: (r["le"], r["tot"]) for r in sums}
        row = [
            100.0 * by_idx[i][0] / by_idx[i][1]
            if by_idx.get(i, (0, 0))[1] else None
            for i in range(len(agg.values))
        ]
        names = ["pr_" + f"{float(v):g}".replace(".", "_") for v in agg.values]
        return spark.createDataFrame(
            [tuple(row)], ", ".join(f"{n} double" for n in names)
        )
    if isinstance(agg, MedianAbsoluteDeviationAgg):
        med = partials.agg(F.expr("percentile(v, 0.5)").alias("med"))
        return (
            partials.crossJoin(F.broadcast(med))
            .agg(F.expr("percentile(abs(v - med), 0.5)"))
            .toDF("value")
        )
    if isinstance(agg, BoxplotAgg):
        q = partials.agg(
            F.expr("percentile(v, array(0.0, 0.25, 0.5, 0.75, 1.0))").alias("q")
        )
        names = ["v_min", "q1", "q2", "q3", "v_max"]
        return q.select(*[F.col("q")[i].alias(n) for i, n in enumerate(names)])
    if isinstance(agg, StringStatsAgg):
        lens = partials.filter(F.col("ch").isNull()).agg(
            F.coalesce(F.sum("vcnt"), F.lit(0)).alias("v_count"),
            F.min(F.when(F.col("vcnt") > 0, F.col("lmin"))).alias("min_length"),
            F.max(F.when(F.col("vcnt") > 0, F.col("lmax"))).alias("max_length"),
            F.sum("lsum").alias("lsum"),
        )
        chars = (
            partials.filter(F.col("ch").isNotNull())
            .groupBy("ch")
            .agg(F.sum("cnt").alias("c"))
            .agg(
                F.sum("c").alias("tot"),
                F.sum(F.col("c") * F.log2("c")).alias("clog"),
            )
        )
        # entropy = log2(T) - sum(c*log2(c))/T over the exact global counts
        ent = F.when(
            F.col("tot") > 0, F.log2("tot") - F.col("clog") / F.col("tot")
        ).otherwise(F.lit(None)).alias("entropy")
        return lens.crossJoin(F.broadcast(chars)).select(
            "v_count", "min_length", "max_length",
            (F.col("lsum").cast("double") / F.col("v_count")).alias("avg_length"),
            ent,
        )
    if isinstance(agg, (MatrixStatsAgg, TTestAgg)):
        sums = partials.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
            F.sum("sa").alias("sa"), F.sum("sb").alias("sb"),
            F.sum("saa").alias("saa"), F.sum("sbb").alias("sbb"),
            F.sum("sab").alias("sab"),
        )
        n = F.col("n").cast("double")
        if isinstance(agg, MatrixStatsAgg):
            var_a = (F.col("saa") - F.col("sa") * F.col("sa") / n) / n
            var_b = (F.col("sbb") - F.col("sb") * F.col("sb") / n) / n
            cov = (F.col("sab") - F.col("sa") * F.col("sb") / n) / n
            return sums.select(
                F.col("n").alias("doc_count"),
                (F.col("sa") / n).alias("mean_a"),
                (F.col("sb") / n).alias("mean_b"),
                var_a.alias("variance_a"), var_b.alias("variance_b"),
                cov.alias("covariance"),
                (cov / F.sqrt(var_a * var_b)).alias("correlation"),
            )
        sd = F.col("sa") - F.col("sb")  # sum of d = a - b
        sdd = F.col("saa") - 2 * F.col("sab") + F.col("sbb")  # sum of d^2
        s2 = (sdd - sd * sd / n) / (n - 1)  # sample variance of d
        return sums.select(
            ((sd / n) / F.sqrt(s2 / n)).alias("t_stat"),
            (F.col("n") - 1).alias("dof"),
        )
    if isinstance(agg, MissingAgg):
        return partials.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("doc_count")
        )
    if isinstance(agg, FiltersAgg):
        labels = spark.createDataFrame(
            [(i, n) for i, (n, _fs) in enumerate(agg.named)],
            "fidx int, filter_key string",
        )
        return (
            labels.join(partials, "fidx", "left")
            .groupBy("fidx", "filter_key")
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("doc_count"))
            .orderBy("fidx")
            .drop("fidx")
        )
    if isinstance(agg, AdjacencyMatrixAgg):
        return (
            partials.groupBy("key")
            .agg(F.sum("cnt").alias("doc_count"))
            .filter(F.col("doc_count") > 0)
            .orderBy(F.asc("key"))
        )
    if isinstance(agg, (RangeAgg, DateRangeAgg)):
        label = _date_range_label if isinstance(agg, DateRangeAgg) else _range_label
        labels = spark.createDataFrame(
            [(i, label(lo, hi)) for i, (lo, hi) in enumerate(agg.ranges)],
            "ridx int, range_key string",
        )
        return (
            labels.join(partials, "ridx", "left")
            .groupBy("ridx", "range_key")
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("doc_count"))
            .orderBy("ridx")
            .drop("ridx")
        )
    if isinstance(agg, HistogramAgg):
        return (
            partials.groupBy("bucket")
            .agg(F.sum("cnt").alias("doc_count"))
            .orderBy("bucket")
        )
    if isinstance(agg, DateHistogramAgg):
        return (
            partials.groupBy("bucket_us")
            .agg(F.sum("cnt").alias("doc_count"))
            .select(
                F.timestamp_micros("bucket_us").alias("bucket"),
                "doc_count",
            )
            .orderBy("bucket")
        )
    if isinstance(agg, AutoDateHistogramAgg):
        # ONE pass: all three units' exact global buckets come back to the
        # driver (3x a date_histogram bucket table — tiny by construction),
        # the ladder decision is pure Python over their sizes
        rows = (
            partials.groupBy("unit", "bucket_us")
            .agg(F.sum("cnt").alias("doc_count"))
            .collect()
        )
        by_unit: dict[str, list] = {}
        for r in rows:
            by_unit.setdefault(r["unit"], []).append(
                (r["bucket_us"], r["doc_count"])
            )
        chosen = next(
            (u for u in _DT_UNIT if len(by_unit.get(u, ())) <= agg.buckets),
            "month",
        )
        out = sorted(by_unit.get(chosen, ()))
        return spark.createDataFrame(
            [(b, c, chosen) for b, c in out],
            "bucket_us long, doc_count long, interval string",
        ).select(
            F.timestamp_micros("bucket_us").alias("bucket"),
            "doc_count", "interval",
        )
    if isinstance(agg, StatsAgg):
        return partials.agg(
            F.coalesce(F.sum("vcnt"), F.lit(0)).alias("v_count"),
            F.min("vmin").alias("v_min"),
            F.max("vmax").alias("v_max"),
            F.sum("vsum").alias("v_sum"),
        ).withColumn("v_avg", avg)
    if isinstance(agg, MultiTermsAgg):
        cols = list(agg.fields)
        return (
            partials.groupBy(*cols)
            .agg(F.sum("cnt").alias("doc_count"))
            .orderBy(F.desc("doc_count"), *[F.asc(c) for c in cols])
            .limit(agg.size)
        )
    if isinstance(agg, SubTermsAgg):
        from pyspark.sql import Window

        parents = (
            partials.groupBy("key")
            .agg(F.sum("cnt").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
        w = Window.partitionBy("key").orderBy(
            F.desc("sub_doc_count"), F.asc("sub_key")
        )
        # prune to the winning parents (broadcast semi) BEFORE the window:
        # the rank runs over <= size keys' sub-buckets, not the full keyspace
        ranked = (
            partials.filter(F.col("sub_key").isNotNull())
            .groupBy("key", "sub_key")
            .agg(F.sum("cnt").alias("sub_doc_count"))
            .join(F.broadcast(parents.select("key")), "key", "left_semi")
            .withColumn("sub_rank", F.row_number().over(w))
            .filter(F.col("sub_rank") <= agg.sub_size)
        )
        # left join (tiny broadcast right side): a parent whose sub-keys
        # are all null still emits its bucket (one row, null sub_key) —
        # ES renders it with empty subs
        return (
            parents.join(F.broadcast(ranked), "key", "left")
            .select("key", "doc_count", "sub_key", "sub_doc_count")
            .orderBy(
                F.desc("doc_count"), F.asc("key"),
                F.desc("sub_doc_count"), F.asc("sub_key"),
            )
        )
    if isinstance(agg, ExtendedStatsAgg):
        base = partials.agg(
            F.coalesce(F.sum("vcnt"), F.lit(0)).alias("v_count"),
            F.min("vmin").alias("v_min"),
            F.max("vmax").alias("v_max"),
            F.sum("vsum").alias("v_sum"),
            F.sum("vsumsq").alias("sum_of_squares"),
        )
        s = F.col("v_sum").cast("double")
        var = (F.col("sum_of_squares") - s * s / F.col("v_count")) / F.col(
            "v_count"
        )
        return (
            base.withColumn("v_avg", avg)
            .withColumn("variance", var)
            .withColumn("std_deviation", F.sqrt(F.col("variance")))
            .select(
                "v_count", "v_min", "v_max", "v_sum", "v_avg",
                "sum_of_squares", "variance", "std_deviation",
            )
        )
    if isinstance(agg, WeightedAvgAgg):
        return (
            partials.agg(F.sum("swv").alias("swv"), F.sum("sw").alias("sw"))
            .select(
                F.when(F.col("sw") != 0, F.col("swv") / F.col("sw")).alias(
                    "value"
                )
            )
        )
    raise ValueError(f"unknown agg spec {agg!r}")


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def search_aggs(
    reader: IndexReader,
    query: str | list[str] | None,
    agg,
    mode: str = "or",
    execution: str = "auto",
    filters=(),
    matcher=None,
    needs_pos: bool = False,
    src=None,
) -> DataFrame:
    """Aggregation over the docs matching `query` (None = match_all).

    query/mode follow bm25_topk's analysis and or/and semantics; the
    result is the agg's bucket table (see module docstring for schemas).
    filters: ES filter-context clauses (TermFilter / RangeFilter /
    ExistsFilter over docvalues, conjunctive) restricting the matched set
    — evaluated vectorized on the candidates' gathered docvalues, never
    on the corpus.
    matcher: optional per-shard matched-set override —
    matcher(rows, dels) -> sorted local ids. Lets non-term query kinds
    (match_phrase via engine.query.phrase_matcher) drive the agg context;
    `query` then supplies the postings read's term list and needs_pos=True
    reads the positional stream. The matched set is computed per shard
    next to its postings (never collected), preserving the scale shape.
    src: optional postings-source override (engine.query
    MultiFieldPostings — multi_match / combined_fields query contexts):
    the rows come from src.local()/src.shard_read() (a union over field
    views with a `field` tag) instead of `query`'s single-field read; a
    matcher MUST accompany it, and `query` is ignored for reading and
    liveness gating (the source already pruned dead (field, term)
    pairs; its constructor gates the all-dead case).
    execution: 'auto' serves small queries driver-side (no Spark job for
    the matched-set work), 'spark' forces the scatter-gather path,
    'local' forces driver-side (raises if postings aren't local)."""
    spark = reader.spark
    filters = tuple(filters)
    fields = _agg_fields(agg)
    dv_cols = reader.manifest.get("docvalue_cols") or []
    missing = [
        f
        for f in fields + filter_fields(filters)
        if f not in dv_cols and f != "url"  # url = docmap id, always there
    ]
    if missing:
        raise ValueError(
            f"field(s) {missing} not in index docvalues {dv_cols}; rebuild "
            f"with build_index(..., docvalue_cols=[...])"
        )
    vt = _agg_vt(reader, agg)
    if query is None:
        return _match_all_aggs(reader, agg, vt, filters)
    gat_fields = list(dict.fromkeys(fields + filter_fields(filters)))
    _dir = reader.dir  # plain string: masked_gather ships to executors

    def masked_gather(shard: int, m: np.ndarray) -> pa.Table:
        tbl = _gather_docvalues(_dir, shard, gat_fields, m)
        if filters:
            tbl = tbl.filter(pa.array(filter_mask(tbl, filters)))
        return tbl

    pschema = _partial_schema(agg, vt)
    ctx = _context_source(reader, query, mode, matcher, needs_pos, src)
    if ctx is None:
        return _combine(spark, spark.createDataFrame([], pschema), agg, vt)
    src, matched = ctx

    def shard_partials(rows: list, dels, shard: int) -> pd.DataFrame | None:
        m = matched(rows, dels)
        return _partial_frame(masked_gather(shard, m), agg, vt) if m.size else None

    out = _scatter(src, shard_partials, pschema, execution)
    return _combine(spark, _frames_df(spark, out, pschema), agg, vt)


def search_sort(
    reader: IndexReader,
    query: str | list[str] | None,
    sort_field: str,
    k: int = 10,
    mode: str = "or",
    ascending: bool = True,
    search_after: tuple | None = None,
    execution: str = "auto",
    filters=(),
    runtime: dict[str, str] | None = None,
    matcher=None,
    needs_pos: bool = False,
    src=None,
) -> DataFrame:
    """Field-sorted search with search_after deep paging (the ES `sort`
    clause + `search_after` cursor — the scalable alternative to
    from/size offsets, SURVEY §3.3's paging story generalized from the
    alphabetical O1 case to any docvalue).

    runtime: ES `runtime_mappings` — {name: script source}. A sort_field
    named here is COMPUTED per doc from stored docvalues by the frozen
    safe-expression grammar (engine/scripts.py compile_runtime_script),
    never stored: the match_all path evaluates it as a Catalyst Column
    over the docmap scan (whole-stage codegen, no Python); the query path
    evaluates the same AST vectorized (numpy) over the per-shard gathered
    docvalue arrays. Both targets compile from one parse, so sort order
    is identical regardless of path (tested). Runtime values are total
    (nulls read as 0.0), so no null-exclusion applies.

    Sort key is (sort_field asc|desc, url asc) — url is the document _id,
    so the tiebreak is total and a (value, url) cursor from the last row
    of a page resumes exactly after it. Docs with a null sort value are
    excluded (frozen; ES would sort missing last). Returns (url,
    sort_val) rows.

    Scale shape: each shard gathers sort values for ITS matched docs
    (streamed docvalue read), applies the cursor predicate, and keeps a
    k-row heap — only n_shards x k rows ever leave the shards; the global
    merge re-sorts that tiny set. match_all skips postings: the plan is a
    filter + TakeOrderedAndProject over the docmap."""
    spark = reader.spark
    filters = tuple(filters)
    dv_cols = reader.manifest.get("docvalue_cols") or []
    rt_np = rt_col = None
    if runtime and sort_field in runtime:
        from engine.scripts import compile_runtime_script

        rt_fields, rt_np, rt_col = compile_runtime_script(runtime[sort_field])
        gather_flds = rt_fields
        vt = "double"
    else:
        gather_flds = [sort_field]
        vt = _vtype(reader, sort_field)
    missing = [
        f for f in gather_flds + filter_fields(filters)
        if f not in dv_cols and f != "url"  # url = docmap id, always there
    ]
    if missing:
        raise ValueError(
            f"sort/filter field(s) {missing} not in index docvalues {dv_cols}"
        )

    def after_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        if search_after is None:
            return pdf
        av, aurl = search_after
        v, u = pdf["v"], pdf["url"]
        if ascending:
            keep = (v > av) | ((v == av) & (u > aurl))
        else:
            keep = (v < av) | ((v == av) & (u > aurl))
        return pdf[keep]

    def page(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["v"].notna()]
        pdf = after_pdf(pdf)
        return pdf.sort_values(
            ["v", "url"], ascending=[ascending, True], kind="mergesort"
        ).head(k)

    order = [
        F.col("v").asc() if ascending else F.col("v").desc(),
        F.col("url").asc(),
    ]
    pschema = f"url string, v {vt}"

    if query is None:
        dm = live_docmap(reader, filters)
        vcol = rt_col() if rt_col is not None else F.col(sort_field)
        out = dm.select("url", vcol.alias("v")).filter(
            F.col("v").isNotNull()
        )
        if search_after is not None:
            av, aurl = search_after
            cmp = (F.col("v") > av) if ascending else (F.col("v") < av)
            out = out.filter(cmp | ((F.col("v") == av) & (F.col("url") > aurl)))
        return (
            out.orderBy(*order).limit(k)
            .select("url", F.col("v").alias("sort_val"))
        )

    out_schema = f"url string, sort_val {vt}"
    ctx = _context_source(reader, query, mode, matcher, needs_pos, src)
    if ctx is None:
        return spark.createDataFrame([], out_schema)
    src, matched = ctx
    index_dir = reader.dir
    fields = list(dict.fromkeys(gather_flds + ["url"] + filter_fields(filters)))

    def gather_page_input(shard: int, m: np.ndarray) -> pd.DataFrame:
        tbl = _gather_docvalues(index_dir, shard, fields, m)
        if filters:
            tbl = tbl.filter(pa.array(filter_mask(tbl, filters)))
        if rt_np is not None:
            cols = {
                f: np.nan_to_num(
                    tbl.column(f).to_numpy(zero_copy_only=False).astype(np.float64),
                    nan=0.0,
                )
                for f in gather_flds
            }
            v = rt_np(cols)
        else:
            v = tbl.column(sort_field).to_numpy(zero_copy_only=False)
        return pd.DataFrame({"url": tbl.column("url").to_pylist(), "v": v})

    def shard_page(rows: list, dels, shard: int) -> pd.DataFrame | None:
        # each shard keeps its own page: the (v, url) order is total, so
        # the global page is the page of the shard pages' union
        m = matched(rows, dels)
        return page(gather_page_input(shard, m)) if m.size else None

    out = _scatter(src, shard_page, pschema, execution)
    if not isinstance(out, list):
        return (
            out.orderBy(*order).limit(k)
            .select("url", F.col("v").alias("sort_val"))
        )
    merged = _frames_pandas(out)
    if merged is None:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(page(merged).rename(columns={"v": "sort_val"}), out_schema)


def collapse_topk(
    reader: IndexReader,
    query: str | list[str],
    field: str,
    k: int = 10,
    mode: str = "or",
    execution: str = "auto",
    filters=(),
) -> DataFrame:
    """ES `collapse`: rank the matched docs by BM25, keep only the BEST
    doc per `field` value (the others are collapsed away), return the
    top-k groups as (url, doc_id, score, collapse_val) ordered score
    desc / doc_id asc.

    Frozen spec: group selection AND final ranking use the 6-dp ROUNDED
    score with doc_id tiebreak (the same float-sum-noise guard the
    oracle harness applies — raw parallel-sum near-ties inside a group
    would otherwise flip which doc represents it between runs); null
    field values form ONE group (SQL window semantics, what the DuckDB
    twin computes). This kernel returns representatives only;
    `collapse.inner_hits` (the collapsed group members) is served at
    the DSL layer (engine/dsl.py — one filtered kernel per page group).

    Scale shape: each shard TAAT-scores its own matched docs (exact
    kernel, same decode path as bm25_topk), gathers the collapse
    docvalue for exactly those ordinals (streamed read), and reduces to
    ONE candidate row per (shard, value) — only n_shards x |values|
    rows leave the executors; the driver merge and the pruned docmap
    lookup are O(values + k)."""
    spark = reader.spark
    filters = tuple(filters)
    dv_cols = reader.manifest.get("docvalue_cols") or []
    missing = [
        f for f in [field] + filter_fields(filters)
        if f not in dv_cols and f != "url"  # url = docmap id, always there
    ]
    if missing:
        raise ValueError(
            f"collapse/filter field(s) {missing} not in index docvalues {dv_cols}"
        )
    vt = _vtype(reader, field)
    out_schema = f"url string, doc_id long, score double, collapse_val {vt}"

    ctx = _scored_context(reader, query, mode)
    if ctx is None:
        return spark.createDataFrame([], out_schema)
    src, score = ctx
    index_dir = reader.dir
    gat_fields = list(dict.fromkeys([field] + filter_fields(filters)))

    def shard_best(rows: list, dels, shard: int) -> pd.DataFrame | None:
        """One candidate row (shard, local_id, score, v) per field value."""
        uniq, scores = score(rows, dels)
        if uniq.size == 0:
            return None
        tbl = gather_docvalues(index_dir, shard, gat_fields, uniq)
        if filters:
            fm = np.asarray(filter_mask(tbl, filters))
            tbl = tbl.filter(pa.array(fm))
            uniq, scores = uniq[fm], scores[fm]
            if uniq.size == 0:
                return None
        pdf = pd.DataFrame(
            {
                "shard": np.full(uniq.size, shard, dtype=np.int32),
                "local_id": uniq,
                "score": np.round(scores, 6),
                "v": tbl.column(field).to_pylist(),
            }
        )
        # best per value: score desc then local asc, first row of each
        # group (NaN/None values form one group via dropna=False)
        pdf = pdf.sort_values(
            ["score", "local_id"], ascending=[False, True], kind="mergesort"
        )
        return pdf[~pdf["v"].duplicated()]

    cand = _frames_pandas(_scatter(
        src, shard_best, f"shard int, local_id long, score double, v {vt}",
        execution,
    ))
    if cand is None:
        return spark.createDataFrame([], out_schema)
    # global best per value (cross-shard), then top-k groups
    offsets = reader.shard_offsets()
    cand = cand.assign(
        doc_id=[offsets[int(s)] + int(l) for s, l in zip(cand["shard"], cand["local_id"])]
    )
    cand = cand.sort_values(
        ["score", "doc_id"], ascending=[False, True], kind="mergesort"
    )
    winners = cand[~cand["v"].duplicated()].head(k)
    shards = sorted({int(s) for s in winners["shard"]})
    locals_ = sorted({int(l) for l in winners["local_id"]})
    urls = reader.docmap_lookup_local(shards, locals_)
    out = pd.DataFrame(
        {
            "url": [urls[(int(s), int(l))] for s, l in
                    zip(winners["shard"], winners["local_id"])],
            "doc_id": winners["doc_id"].to_numpy(),
            "score": winners["score"].to_numpy(),
            "collapse_val": winners["v"].to_numpy(),
        }
    )
    return spark.createDataFrame(out, out_schema)


def sampler_terms(
    reader: IndexReader,
    query: str | list[str],
    agg_field: str,
    sample_size: int = 100,
    diversify_field: str | None = None,
    max_per_value: int = 1,
    mode: str = "or",
    execution: str = "auto",
    filters=(),
    scored_matcher=None,
    needs_pos: bool = False,
) -> DataFrame:
    """ES `sampler` / `diversified_sampler` aggregation with a `terms`
    sub-agg: restrict the aggregation scope to the top-`sample_size`
    BEST-SCORING matched docs (diversified: additionally keep at most
    `max_per_value` docs per `diversify_field` value before the size
    cut), then bucket the sample by `agg_field` (doc_count desc, key asc
    — TermsAgg order, null keys skipped).

    Frozen spec (deliberate, makes the SQL twin exact): the sample is a
    GLOBAL top cut ordered by 6-dp ROUNDED score desc then url asc —
    unlike ES, whose sampler cuts `shard_size` docs per shard (a
    shard-count-dependent result no oracle can replay). Diversified
    selection: ES's greedy scan (take docs in score order, skip docs
    whose value already holds max_per_value picks) is equivalent to
    "rank within value <= max_per_value, then top sample_size overall",
    because a value's docs are only ever skipped once the cap is
    reached — exactly a QUALIFY window in SQL. Null diversify values
    form ONE group (collapse_topk's rule).

    Scale shape: each shard TAAT-scores its own matched docs and emits
    only its top `sample_size` rows (plain) or per-value top
    `max_per_value` rows (diversified) — any member of the global
    sample has, within its own shard, rank <= its global rank on both
    orderings, so the shard streams are a superset of the sample; the
    driver merge is O(emitted), never corpus-sized.

    scored_matcher (round-5 lift): per-shard scored-match-set override —
    scored_matcher(rows, dels) -> [(local_id, score), ...] with the
    QUERY's true scores (engine.query.phrase_scored_matcher for a
    match_phrase context); `query` then supplies the postings read's
    distinct term list and needs_pos=True switches the read to the
    positional stream. mode is ignored (the kernel owns matching);
    everything downstream (rounding, diversified cap, global cut,
    bucketing) is identical, so the frozen sampling spec is unchanged."""
    spark = reader.spark
    filters = tuple(filters)
    dv_cols = reader.manifest.get("docvalue_cols") or []
    need = [agg_field] + ([diversify_field] if diversify_field else [])
    missing = [
        f for f in need + filter_fields(filters)
        if f not in dv_cols and f != "url"  # url = docmap id, always there
    ]
    if missing:
        raise ValueError(
            f"sampler field(s) {missing} not in index docvalues {dv_cols}"
        )
    out_schema = "key string, doc_count long"
    ctx = _scored_context(reader, query, mode, needs_pos)
    if ctx is None:
        return spark.createDataFrame([], out_schema)
    src, score = ctx
    index_dir = reader.dir
    gat_fields = list(dict.fromkeys(["url"] + need + filter_fields(filters)))
    div_b, cap_b, size_b = diversify_field, int(max_per_value), int(sample_size)

    def shard_sample(rows: list, dels, shard: int) -> pd.DataFrame | None:
        if scored_matcher is not None:
            top = scored_matcher(rows, dels)
            uniq = np.array([t[0] for t in top], dtype=np.int64)
            scores = np.array([t[1] for t in top], dtype=np.float64)
            order = np.argsort(uniq, kind="stable")  # gather wants sorted
            uniq, scores = uniq[order], scores[order]
        else:
            uniq, scores = score(rows, dels)
        if uniq.size == 0:
            return None
        tbl = gather_docvalues(index_dir, shard, gat_fields, uniq)
        if filters:
            fm = np.asarray(filter_mask(tbl, filters))
            tbl = tbl.filter(pa.array(fm))
            scores = scores[fm]
            if not len(tbl):
                return None
        s = lambda x: None if x is None else str(x)  # noqa: E731  TermsAgg key rule
        pdf = pd.DataFrame(
            {
                "url": tbl.column("url").to_pylist(),
                "score": np.round(scores, 6),
                "v": [s(x) for x in tbl.column(agg_field).to_pylist()],
                "g": [s(x) for x in tbl.column(div_b).to_pylist()]
                if div_b else None,
            }
        )
        pdf = pdf.sort_values(
            ["score", "url"], ascending=[False, True], kind="mergesort"
        )
        if div_b is None:
            return pdf.head(size_b)
        # per-value local top-cap: a superset of the shard's contribution
        # to the global greedy sample (see docstring); no size cut here —
        # a locally-kept-but-globally-over-cap doc must not crowd out a
        # real sample member below a local size boundary
        return pdf[pdf.groupby("g", dropna=False).cumcount() < cap_b]

    cand = _frames_pandas(_scatter(
        src, shard_sample, "url string, score double, v string, g string",
        execution,
    ))
    if cand is None:
        return spark.createDataFrame([], out_schema)
    cand = cand.sort_values(
        ["score", "url"], ascending=[False, True], kind="mergesort"
    )
    if diversify_field is not None:
        cand = cand[cand.groupby("g", dropna=False).cumcount() < max_per_value]
    sample = cand.head(sample_size)
    vc = sample["v"].dropna().astype(str).value_counts()
    out = pd.DataFrame({"key": vc.index, "doc_count": vc.to_numpy()})
    out = out.sort_values(
        ["doc_count", "key"], ascending=[False, True], kind="mergesort"
    )
    return spark.createDataFrame(out, out_schema)


def matched_urls(
    reader: IndexReader,
    query: str | list[str] | None,
    mode: str = "or",
    execution: str = "auto",
    filters=(),
    matcher=None,
    needs_pos: bool = False,
    src=None,
) -> DataFrame:
    """DataFrame of the _ids (urls) of docs matching the query context —
    the foreground set feeding significant_terms (and a useful primitive
    on its own: ES `_search?_source=false` id-only retrieval). Same
    kernels, filter clauses, and tombstone masking as search_aggs; each
    shard emits only its matched urls (streamed docvalue gather)."""
    spark = reader.spark
    filters = tuple(filters)
    dv_cols = reader.manifest.get("docvalue_cols") or []
    missing = [
        f for f in filter_fields(filters)
        if f not in dv_cols and f != "url"  # url = docmap id, always there
    ]
    if missing:
        raise ValueError(
            f"filter field(s) {missing} not in index docvalues {dv_cols}"
        )
    ctx = _context_source(reader, query, mode, matcher, needs_pos, src)
    if ctx is None:
        return spark.createDataFrame([], "url string")
    src, matched = ctx
    index_dir = reader.dir
    fields = list(dict.fromkeys(["url"] + filter_fields(filters)))

    def shard_urls(rows: list, dels, shard: int) -> pd.DataFrame | None:
        m = matched(rows, dels)
        if m.size == 0:
            return None
        tbl = _gather_docvalues(index_dir, shard, fields, m)
        if filters:
            tbl = tbl.filter(pa.array(filter_mask(tbl, filters)))
        return pd.DataFrame({"url": tbl.column("url").to_pylist()})

    return _frames_df(spark, _scatter(src, shard_urls, "url string", execution), "url string")


def search_count(
    reader: IndexReader,
    query: str | list[str] | None,
    mode: str = "or",
    execution: str = "auto",
    filters=(),
    matcher=None,
    needs_pos: bool = False,
    src=None,
) -> DataFrame:
    """ES `_count`: doc_count of the query context (None = match_all),
    filter clauses included. The kernel path counts over the matched-id
    stream — Spark's partial aggregation collapses each partition to one
    count before the single-row shuffle; match_all is a docmap-only plan
    (tombstones out via broadcast anti-join, filters as pushable
    predicates)."""
    spark = reader.spark
    filters = tuple(filters)
    if query is None:
        dm = live_docmap(reader, filters)
        return dm.agg(F.count(F.lit(1)).alias("doc_count"))
    return matched_urls(
        reader, query, mode, execution, filters,
        matcher=matcher, needs_pos=needs_pos, src=src,
    ).agg(F.count(F.lit(1)).alias("doc_count"))


def significant_terms(
    reader: IndexReader,
    query: str | list[str],
    corpus: DataFrame,
    size: int = 10,
    mode: str = "or",
    min_doc_count: int = 1,
    id_col: str = "url",
    text_col: str = "text",
    execution: str = "auto",
    filters=(),
    stats_reader: IndexReader | None = None,
    matcher=None,
    needs_pos: bool = False,
    src=None,
) -> DataFrame:
    """ES `significant_terms` on the indexed text field: terms
    overrepresented in the matched (foreground) set vs the whole index
    (background), scored with ES's JLH heuristic —
    score = (fg_rate - bg_rate) * (fg_rate / bg_rate), keeping only
    positive scores (fg_rate > bg_rate), ordered score desc / term asc,
    top `size`.

    Scale shape (the index stores no term vectors, mirroring ES reading
    them from _source): the matched ids semi-join the corpus so ONLY
    matched docs are re-tokenized — O(matched) tokenize work, never a
    corpus re-scan; per-term background df comes from the term_stats
    table via a term-keyed join (both sides vocabulary-bounded; AQE
    broadcasts the candidate side when small). Frozen stats semantics:
    foreground masks tombstones (kernel live-docs), background df / n_docs
    stay pre-delete until compaction — the same Lucene live-docs contract
    as BM25 idf here.

    Output: term, doc_count (fg df), bg_count (index df), score
    (rounded 6; ordering applied on the rounded value identically in the
    SQL oracle)."""
    spark = reader.spark
    from engine.textnorm import standard_tokenize_col

    fg_ids = matched_urls(
        reader, query, mode, execution, filters,
        matcher=matcher, needs_pos=needs_pos, src=src,
    )
    t = F.col(text_col)
    docs = corpus.filter(t.isNotNull() & (t != "")).select(
        F.col(id_col).cast("string").alias("url"), t.alias("_t")
    )
    m = docs.join(fg_ids, "url", "left_semi")
    n_fg = m.count()
    out_schema = "term string, doc_count long, bg_count long, score double"
    if n_fg == 0:
        return spark.createDataFrame([], out_schema)
    fg = (
        m.select(
            F.explode(
                F.array_distinct(standard_tokenize_col(F.lower(F.col("_t"))))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    # significant_text on a NON-query field: the foreground matched set
    # comes from the QUERY's field (reader), the background df and the
    # re-analyzed column from the NAMED field (stats_reader) — ES reads
    # _source for the named field while the query matches wherever it
    # matched. Shared docmap => n_docs identical.
    sr = stats_reader or reader
    bg = spark.read.parquet(os.path.join(sr.dir, sr._ts_sub)).select(
        "term", "df"
    )
    fr = F.col("doc_count") / F.lit(float(n_fg))
    br = F.col("df") / F.lit(float(reader.n_docs))
    return (
        fg.join(bg, "term")
        .filter(F.col("doc_count") >= min_doc_count)
        .withColumn("score_raw", (fr - br) * (fr / br))
        .filter(F.col("score_raw") > 0)
        .orderBy(F.desc(F.round("score_raw", 6)), F.asc("term"))
        .limit(size)
        .select(
            "term",
            "doc_count",
            F.col("df").alias("bg_count"),
            F.round("score_raw", 6).alias("score"),
        )
    )


def _match_all_aggs(reader: IndexReader, agg, vt: str, filters=()) -> DataFrame:
    """match_all: no postings at all — one DataFrame plan over the docmap
    (docvalue columns pruned at the parquet scan, aggregation inside
    whole-stage codegen; filter clauses become pushable Spark predicates).
    Tombstones leave via a broadcast anti-join (delete batches are small
    by the deletes-module contract)."""
    spark = reader.spark
    dm = live_docmap(reader, filters)
    avg = (F.col("v_sum").cast("double") / F.col("v_count")).alias("v_avg")
    if isinstance(agg, RareTermsAgg):
        return (
            dm.filter(F.col(agg.field).isNotNull())
            .groupBy(F.col(agg.field).cast("string").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") <= agg.max_doc_count)
            .orderBy(F.asc("doc_count"), F.asc("key"))
        )
    if isinstance(agg, TermsAgg) and agg.stats_of is None:
        return (
            dm.filter(F.col(agg.field).isNotNull())
            .groupBy(F.col(agg.field).cast("string").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
    if isinstance(agg, TermsAgg):
        return (
            dm.filter(F.col(agg.field).isNotNull())
            .groupBy(F.col(agg.field).cast("string").alias("key"))
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.count(agg.stats_of).alias("v_count"),
                F.min(agg.stats_of).alias("v_min"),
                F.max(agg.stats_of).alias("v_max"),
                F.sum(agg.stats_of).alias("v_sum"),
            )
            .withColumn("v_avg", avg)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
    if isinstance(agg, CardinalityAgg):
        return dm.agg(F.count_distinct(agg.field).alias("value"))
    if isinstance(agg, CompositeAgg):
        cols = list(agg.sources)
        out = dm
        for s in cols:
            out = out.filter(F.col(s).isNotNull())
        if agg.after is not None:
            gt, eq = F.lit(False), F.lit(True)
            for s, a in zip(agg.sources, agg.after):
                gt = gt | (eq & (F.col(s) > F.lit(a)))
                eq = eq & (F.col(s) == F.lit(a))
            out = out.filter(gt)
        return (
            out.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(*[F.asc(s) for s in cols])
            .limit(agg.size)
        )
    if isinstance(agg, TopHitsAgg):
        from pyspark.sql import Window

        keyed = dm.filter(F.col(agg.field).isNotNull()).withColumn(
            "key", F.col(agg.field).cast("string")
        )
        buckets = (
            keyed.groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
        hv = F.col(agg.hits_sort)
        v_ord = hv.asc() if agg.ascending else hv.desc()
        w = Window.partitionBy("key").orderBy(v_ord, F.col("url").asc())
        return (
            keyed.filter(hv.isNotNull())
            .join(F.broadcast(buckets), "key")
            .withColumn("hit_rank", F.row_number().over(w))
            .filter(F.col("hit_rank") <= agg.hits_k)
            .select("key", "doc_count", "hit_rank", "url", hv.alias("sort_val"))
            .orderBy(F.desc("doc_count"), F.asc("key"), F.asc("hit_rank"))
        )
    if isinstance(agg, PercentilesAgg):
        fracs = ", ".join(f"{p / 100.0!r}" for p in agg.percents)
        q = dm.agg(
            F.expr(
                f"percentile({agg.field}, array({fracs}))"
            ).alias("q")
        )
        return q.select(
            *[F.col("q")[i].alias(_pct_name(p)) for i, p in enumerate(agg.percents)]
        )
    if isinstance(agg, PercentileRanksAgg):
        c = F.col(agg.field)
        sums = dm.agg(
            F.count(c).alias("tot"),
            *[
                F.sum(F.when(c <= F.lit(float(v)), 1).otherwise(0)).alias(f"le{i}")
                for i, v in enumerate(agg.values)
            ],
        ).collect()[0]
        names = ["pr_" + f"{float(v):g}".replace(".", "_") for v in agg.values]
        row = [
            100.0 * sums[f"le{i}"] / sums["tot"] if sums["tot"] else None
            for i in range(len(agg.values))
        ]
        return spark.createDataFrame(
            [tuple(row)], ", ".join(f"{n} double" for n in names)
        )
    if isinstance(agg, MedianAbsoluteDeviationAgg):
        med = dm.agg(F.expr(f"percentile({agg.field}, 0.5)").alias("med"))
        return (
            dm.select(F.col(agg.field).cast("double").alias("v"))
            .filter(F.col("v").isNotNull())
            .crossJoin(F.broadcast(med))
            .agg(F.expr("percentile(abs(v - med), 0.5)"))
            .toDF("value")
        )
    if isinstance(agg, BoxplotAgg):
        q = dm.agg(
            F.expr(
                f"percentile({agg.field}, array(0.0, 0.25, 0.5, 0.75, 1.0))"
            ).alias("q")
        )
        names = ["v_min", "q1", "q2", "q3", "v_max"]
        return q.select(*[F.col("q")[i].alias(n) for i, n in enumerate(names)])
    if isinstance(agg, StringStatsAgg):
        col = F.col(agg.field)
        lens = dm.agg(
            F.count(col).alias("v_count"),
            F.min(F.length(col)).alias("min_length"),
            F.max(F.length(col)).alias("max_length"),
            F.sum(F.length(col)).alias("lsum"),
        )
        chars = (
            dm.filter(col.isNotNull())
            .select(F.explode(F.split(col, "")).alias("ch"))
            .filter(F.col("ch") != "")  # split("") emits a trailing empty
            .groupBy("ch")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum("c").alias("tot"),
                F.sum(F.col("c") * F.log2("c")).alias("clog"),
            )
        )
        ent = F.when(
            F.col("tot") > 0, F.log2("tot") - F.col("clog") / F.col("tot")
        ).otherwise(F.lit(None)).alias("entropy")
        return lens.crossJoin(F.broadcast(chars)).select(
            "v_count", "min_length", "max_length",
            (F.col("lsum").cast("double") / F.col("v_count")).alias("avg_length"),
            ent,
        )
    if isinstance(agg, (MatrixStatsAgg, TTestAgg)):
        a, b = F.col(agg.field_a), F.col(agg.field_b)
        both = dm.filter(a.isNotNull() & b.isNotNull()).select(
            a.cast("double").alias("a"), b.cast("double").alias("b")
        )
        sums = both.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a").alias("sa"), F.sum("b").alias("sb"),
            F.sum(F.col("a") * F.col("a")).alias("saa"),
            F.sum(F.col("b") * F.col("b")).alias("sbb"),
            F.sum(F.col("a") * F.col("b")).alias("sab"),
        )
        n = F.col("n").cast("double")
        if isinstance(agg, MatrixStatsAgg):
            var_a = (F.col("saa") - F.col("sa") * F.col("sa") / n) / n
            var_b = (F.col("sbb") - F.col("sb") * F.col("sb") / n) / n
            cov = (F.col("sab") - F.col("sa") * F.col("sb") / n) / n
            return sums.select(
                F.col("n").alias("doc_count"),
                (F.col("sa") / n).alias("mean_a"),
                (F.col("sb") / n).alias("mean_b"),
                var_a.alias("variance_a"), var_b.alias("variance_b"),
                cov.alias("covariance"),
                (cov / F.sqrt(var_a * var_b)).alias("correlation"),
            )
        sd = F.col("sa") - F.col("sb")
        sdd = F.col("saa") - 2 * F.col("sab") + F.col("sbb")
        s2 = (sdd - sd * sd / n) / (n - 1)
        return sums.select(
            ((sd / n) / F.sqrt(s2 / n)).alias("t_stat"),
            (F.col("n") - 1).alias("dof"),
        )
    if isinstance(agg, MissingAgg):
        return dm.agg(
            F.coalesce(
                F.sum(F.when(F.col(agg.field).isNull(), 1).otherwise(0)),
                F.lit(0),
            ).alias("doc_count")
        )
    if isinstance(agg, FiltersAgg):
        sums = []
        for i, (_n, fs) in enumerate(agg.named):
            conds = _spark_filter_conds(fs)
            cond = conds[0] if conds else F.lit(True)
            for extra in conds[1:]:
                cond &= extra
            sums.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"f{i}"))
        row = dm.agg(*sums).collect()[0]
        return spark.createDataFrame(
            [(n, int(row[f"f{i}"])) for i, (n, _fs) in enumerate(agg.named)],
            "filter_key string, doc_count long",
        )
    if isinstance(agg, AdjacencyMatrixAgg):
        names, conds_by_name = [], []
        for _i, (n, fs) in enumerate(agg.named):
            cl = _spark_filter_conds(fs)
            cond = cl[0] if cl else F.lit(True)
            for extra in cl[1:]:
                cond &= extra
            names.append(n)
            conds_by_name.append(cond)
        sums, keys = [], []
        for i, n in enumerate(names):
            keys.append(n)
            sums.append(F.sum(F.when(conds_by_name[i], 1).otherwise(0)).alias(f"c{len(sums)}"))
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                keys.append(f"{names[i]}&{names[j]}")
                sums.append(
                    F.sum(
                        F.when(conds_by_name[i] & conds_by_name[j], 1).otherwise(0)
                    ).alias(f"c{len(sums)}")
                )
        row = dm.agg(*sums).collect()[0]
        rows = [
            (k, int(row[f"c{i}"]))
            for i, k in enumerate(keys)
            if int(row[f"c{i}"]) > 0
        ]
        return spark.createDataFrame(
            sorted(rows), "key string, doc_count long"
        )
    if isinstance(agg, DateRangeAgg):
        if not agg.ranges:
            return spark.createDataFrame([], "range_key string, doc_count long")
        sums = []
        for i, (lo, hi) in enumerate(agg.ranges):
            cond = F.col(agg.field).isNotNull()
            if lo is not None:
                cond &= F.col(agg.field) >= F.to_timestamp(F.lit(lo))
            if hi is not None:
                cond &= F.col(agg.field) < F.to_timestamp(F.lit(hi))
            sums.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"r{i}"))
        row = dm.agg(*sums).collect()[0]
        return spark.createDataFrame(
            [
                (_date_range_label(lo, hi), int(row[f"r{i}"]))
                for i, (lo, hi) in enumerate(agg.ranges)
            ],
            "range_key string, doc_count long",
        )
    if isinstance(agg, MultiTermsAgg):
        cols = list(agg.fields)
        out = dm
        for s in cols:
            out = out.filter(F.col(s).isNotNull())
        return (
            out.groupBy(*[F.col(s).cast("string").alias(s) for s in cols])
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), *[F.asc(s) for s in cols])
            .limit(agg.size)
        )
    if isinstance(agg, SubTermsAgg):
        from pyspark.sql import Window

        keyed = dm.filter(F.col(agg.field).isNotNull()).withColumn(
            "key", F.col(agg.field).cast("string")
        )
        parents = (
            keyed.groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg.size)
        )
        w = Window.partitionBy("key").orderBy(
            F.desc("sub_doc_count"), F.asc("sub_key")
        )
        ranked = (
            keyed.filter(F.col(agg.sub_field).isNotNull())
            .groupBy("key", F.col(agg.sub_field).cast("string").alias("sub_key"))
            .agg(F.count(F.lit(1)).alias("sub_doc_count"))
            .join(F.broadcast(parents.select("key")), "key", "left_semi")
            .withColumn("sub_rank", F.row_number().over(w))
            .filter(F.col("sub_rank") <= agg.sub_size)
        )
        return (
            parents.join(F.broadcast(ranked), "key", "left")
            .select("key", "doc_count", "sub_key", "sub_doc_count")
            .orderBy(
                F.desc("doc_count"), F.asc("key"),
                F.desc("sub_doc_count"), F.asc("sub_key"),
            )
        )
    if isinstance(agg, ExtendedStatsAgg):
        cd = F.col(agg.field).cast("double")
        base = dm.agg(
            F.count(agg.field).alias("v_count"),
            F.min(agg.field).alias("v_min"),
            F.max(agg.field).alias("v_max"),
            F.sum(agg.field).alias("v_sum"),
            F.sum(cd * cd).alias("sum_of_squares"),
        )
        s = F.col("v_sum").cast("double")
        var = (F.col("sum_of_squares") - s * s / F.col("v_count")) / F.col(
            "v_count"
        )
        return (
            base.withColumn("v_avg", avg)
            .withColumn("variance", var)
            .withColumn("std_deviation", F.sqrt(F.col("variance")))
            .select(
                "v_count", "v_min", "v_max", "v_sum", "v_avg",
                "sum_of_squares", "variance", "std_deviation",
            )
        )
    if isinstance(agg, WeightedAvgAgg):
        v = F.col(agg.value_field)
        wt = F.col(agg.weight_field)
        return (
            dm.filter(v.isNotNull() & wt.isNotNull())
            .agg(
                F.sum(v.cast("double") * wt.cast("double")).alias("swv"),
                F.sum(wt.cast("double")).alias("sw"),
            )
            .select(
                F.when(F.col("sw") != 0, F.col("swv") / F.col("sw")).alias(
                    "value"
                )
            )
        )
    c = F.col(agg.field)
    if isinstance(agg, RangeAgg):
        sums = []
        for i, (lo, hi) in enumerate(agg.ranges):
            cond = c.isNotNull()
            if lo is not None:
                cond &= c >= lo
            if hi is not None:
                cond &= c < hi
            sums.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"r{i}"))
        row = dm.agg(*sums).collect()[0]
        return spark.createDataFrame(
            [
                (_range_label(lo, hi), int(row[f"r{i}"]))
                for i, (lo, hi) in enumerate(agg.ranges)
            ],
            "range_key string, doc_count long",
        )
    if isinstance(agg, HistogramAgg):
        key = (F.floor(c.cast("double") / agg.interval) * agg.interval).alias("bucket")
        return (
            dm.filter(c.isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("bucket")
        )
    if isinstance(agg, DateHistogramAgg):
        return (
            dm.filter(c.isNotNull())
            .groupBy(F.date_trunc(agg.interval, c).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("bucket")
        )
    if isinstance(agg, AutoDateHistogramAgg):
        # one docmap pass: explode each live doc's timestamp into its
        # three calendar floors, group once, decide the ladder driver-side
        units = list(_DT_UNIT)
        rows = (
            dm.filter(c.isNotNull())
            .select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(u).alias("unit"),
                            F.date_trunc(u, c).alias("bucket"),
                        )
                        for u in units
                    ])
                ).alias("ub")
            )
            .groupBy("ub.unit", "ub.bucket")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .collect()
        )
        by_unit: dict[str, list] = {}
        for r in rows:
            by_unit.setdefault(r["unit"], []).append(
                (r["bucket"], r["doc_count"])
            )
        chosen = next(
            (u for u in units if len(by_unit.get(u, ())) <= agg.buckets),
            "month",
        )
        return spark.createDataFrame(
            [
                (b, cnt, chosen)
                for b, cnt in sorted(by_unit.get(chosen, ()))
            ],
            "bucket timestamp_ntz, doc_count long, interval string",
        )
    if isinstance(agg, StatsAgg):
        return dm.agg(
            F.count(agg.field).alias("v_count"),
            F.min(agg.field).alias("v_min"),
            F.max(agg.field).alias("v_max"),
            F.sum(agg.field).alias("v_sum"),
        ).withColumn("v_avg", avg)
    raise ValueError(f"unknown agg spec {agg!r}")
