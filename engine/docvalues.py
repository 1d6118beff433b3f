"""Docvalue gather + ES filter-context predicates.

Shared by engine/aggs.py (aggregations, sorted paging) and
engine/query.py (filtered BM25 top-k) — a separate module so the query
module never imports the aggs module. See engine/aggs.py's docstring for
the docvalue storage model (build_index(docvalue_cols=...) → docmap
columns, the Lucene-docvalues analog).

Filter context per ES bool-query `filter` clauses: predicates over
docvalues that RESTRICT the matched set without affecting scores (idf /
avgdl stay corpus-global, exactly like ES). Supported clauses:
TermFilter (exact value), TermsFilter (value IN a fixed set),
RangeFilter (gte/lt half-open, open ends), and ExistsFilter (field
non-null). Filters are evaluated vectorized on the gathered docvalue
table of candidate docs only — never on the corpus. The docmap id
column `url` passes every field validator (it is always gatherable),
so id-set filters need no docvalue declaration.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from engine import resident


@dataclass(frozen=True)
class TermFilter:
    field: str
    value: object


@dataclass(frozen=True)
class RangeFilter:
    field: str
    gte: object = None
    lt: object = None


@dataclass(frozen=True)
class TermsFilter:
    # ES `terms` filter: field value IN a fixed set (values is a tuple —
    # the dataclass stays hashable/frozen like the other clauses)
    field: str
    values: tuple


@dataclass(frozen=True)
class ExistsFilter:
    field: str


def filter_fields(filters) -> list[str]:
    return sorted({f.field for f in filters})


def filter_mask(tbl: pa.Table, filters) -> np.ndarray:
    """Boolean keep-mask over tbl rows for the AND of all filter clauses
    (ES filter context is conjunctive). Null docvalues fail every clause
    (ES: a missing field matches nothing but exists-negation)."""
    mask = np.ones(tbl.num_rows, dtype=bool)
    for f in filters:
        col = tbl.column(f.field)
        if isinstance(f, TermFilter):
            m = pc.equal(col, f.value)
        elif isinstance(f, TermsFilter):
            m = pc.is_in(col, value_set=pa.array(list(f.values)))
        elif isinstance(f, RangeFilter):
            m = pc.is_valid(col)
            if f.gte is not None:
                m = pc.and_kleene(m, pc.greater_equal(col, f.gte))
            if f.lt is not None:
                m = pc.and_kleene(m, pc.less(col, f.lt))
        elif isinstance(f, ExistsFilter):
            m = pc.is_valid(col)
        else:
            raise ValueError(f"unknown filter clause {f!r}")
        mask &= (
            pc.fill_null(m, False).to_numpy(zero_copy_only=False).astype(bool)
        )
    return mask


def gather_docvalues(
    index_dir: str, shard: int, fields: list[str], matched: np.ndarray
) -> pa.Table:
    """Docvalue rows for the sorted matched local ids of one shard.

    Each docmap row group's local_id + field columns come decompressed
    from engine.resident. Fast path: the docmap is written local_id-sorted
    and dense per shard, so each row group contributes
    `matched[searchsorted(off)..searchsorted(off+n)] - off` (beyond the
    budget, memory is one row group plus the gathered values). A docmap
    that is NOT dense-sorted (foreign layout) falls back to an inverse
    permutation over the whole shard, O(n_shard) with no Python loop."""
    part = os.path.join(index_dir, "docmap", f"shard={shard}")
    paths = sorted(
        os.path.join(part, f) for f in os.listdir(part) if not f.startswith((".", "_"))
    )
    metas = resident.footers(paths)
    chunks = [(p, rg) for p, meta in metas.items() for rg in range(meta.num_row_groups)]
    want = ["local_id"] + fields
    parts: list[pa.Table] = []
    off = 0
    for chunk in chunks:
        tbl = resident.tables([chunk], want, metas)[0]
        n = tbl.num_rows
        if not np.array_equal(tbl.column(0).to_numpy(), np.arange(off, off + n)):
            break
        lo, hi = np.searchsorted(matched, [off, off + n])
        if hi > lo:
            parts.append(tbl.select(fields).take(pa.array(matched[lo:hi] - off)))
        off += n
    else:
        if not parts:
            schema = metas[paths[0]].schema.to_arrow_schema()
            return schema.empty_table().select(fields)
        return pa.concat_tables(parts, promote_options="permissive")
    tbl = pa.concat_tables(resident.tables(chunks, want, metas),
                           promote_options="permissive")
    lid = tbl.column("local_id").to_numpy()
    pos = np.empty(lid.size, dtype=np.int64)
    pos[lid] = np.arange(lid.size)
    return tbl.select(fields).take(pa.array(pos[matched]))


def build_shard_filter(reader, filters):
    """(shard, sorted_local_ids) -> keep-mask callable for the query
    kernels, validating the filter fields against the index's docvalue
    columns up front."""
    filters = tuple(filters)
    dv_cols = reader.manifest.get("docvalue_cols") or []
    fields = filter_fields(filters)
    missing = [
        f for f in fields
        if f not in dv_cols and f != "url"  # url = docmap id, always there
    ]
    if missing:
        raise ValueError(
            f"filter field(s) {missing} not in index docvalues {dv_cols}; "
            f"rebuild with build_index(..., docvalue_cols=[...])"
        )
    index_dir = reader.dir

    def shard_filter(shard: int, local_ids: np.ndarray) -> np.ndarray:
        tbl = gather_docvalues(index_dir, int(shard), fields, local_ids)
        return filter_mask(tbl, filters)

    return shard_filter


def build_shard_boost(reader, field: str, weight: float):
    """(shard, sorted_local_ids) -> additive per-doc boost array for the
    query kernels — ES function_score with field_value_factor
    (modifier=ln(1 + value), boost_mode=sum, frozen): boost = weight *
    ln(1 + docvalue), null docvalues contribute 0 (ES missing-value
    behavior). Same candidates-only gather as the filter context."""
    dv_cols = reader.manifest.get("docvalue_cols") or []
    if field not in dv_cols:
        raise ValueError(
            f"boost field {field!r} not in index docvalues {dv_cols}; "
            f"rebuild with build_index(..., docvalue_cols=[...])"
        )
    index_dir = reader.dir
    w = float(weight)

    def shard_boost(shard: int, local_ids: np.ndarray) -> np.ndarray:
        tbl = gather_docvalues(index_dir, int(shard), [field], local_ids)
        v = np.nan_to_num(
            tbl.column(field).to_numpy(zero_copy_only=False).astype(np.float64),
            nan=0.0,
        )
        out = w * np.log(1.0 + v)
        # null -> 0 boost exactly (log(1+0)=0 already, but keep explicit)
        return out

    return shard_boost
