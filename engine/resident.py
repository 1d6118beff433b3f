"""Resident column chunks: the driver's process-level LRU of decompressed
parquet column chunks (and footers), the Lucene analog of a searcher
paying for a segment's bytes once across queries and reopens. A key is
the file's identity (path, size, mtime_ns) + row group + column: committed
files are never rewritten in place (DURABILITY.md), so no key serves stale
bytes, and a reader over unchanged files starts warm. LRU under one byte
budget; a chunk over the budget is returned, not kept. Inside a Spark task
nothing is kept: executor memory is not the driver's to spend."""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext

RESIDENT_MAX_BYTES = 256 << 20  # resident sizes measured: BENCH.md §27

_lock = threading.Lock()
_chunks: OrderedDict = OrderedDict()  # key -> (value, nbytes)
_state = {"bytes": 0, "hits": 0, "misses": 0}


def _ident(path: str) -> tuple:
    st = os.stat(path)
    return (path, st.st_size, st.st_mtime_ns)


def _get(key):
    """The kept value for key (now most recently used), or None."""
    with _lock:
        v = _chunks.get(key)
        if v is not None:
            _chunks.move_to_end(key)
        return v and v[0]


def _put(key, value, nbytes: int) -> None:
    if nbytes > RESIDENT_MAX_BYTES or TaskContext.get() is not None:
        return
    with _lock:
        if key not in _chunks:
            _chunks[key] = (value, nbytes)
            _state["bytes"] += nbytes
        while _state["bytes"] > RESIDENT_MAX_BYTES:
            _state["bytes"] -= _chunks.popitem(last=False)[1][1]


def footers(paths: list[str]) -> dict[str, pq.FileMetaData]:
    """path -> its parquet footer, each read at most once per call."""
    out = {}
    for path in paths:
        key = _ident(path) + (None, None)
        out[path] = _get(key)
        if out[path] is None:
            out[path] = pq.read_metadata(path)
            _put(key, out[path], out[path].serialized_size)
    return out


def tables(chunks: list[tuple[str, int]], names: list[str], metas: dict) -> list[pa.Table]:
    """Per (path, row_group) in chunks, that row group's columns `names`;
    metas: footers() of the paths. A row group's missing columns are read
    in one read_row_group call and kept under the budget."""
    idents = {p: _ident(p) for p, _ in chunks}
    files: dict[str, pq.ParquetFile] = {}
    out, misses = [], 0
    for path, rg in chunks:
        key = idents[path] + (rg,)
        got = {n: _get(key + (n,)) for n in names}
        miss = [n for n, v in got.items() if v is None]
        if miss:
            if path not in files:
                files[path] = pq.ParquetFile(path, metadata=metas[path])
            tbl = files[path].read_row_group(rg, columns=miss)
            for n in miss:
                got[n] = tbl.column(n)
                _put(key + (n,), got[n], got[n].nbytes)
        misses += len(miss)
        out.append(pa.table(got))
    with _lock:
        _state["hits"] += len(chunks) * len(names) - misses
        _state["misses"] += misses
    return out


def stats() -> dict[str, int]:
    """{"bytes", "chunks", "hits", "misses"} of this process's cache
    (hits / misses count the columns requested through tables())."""
    with _lock:
        return dict(_state, chunks=len(_chunks))
