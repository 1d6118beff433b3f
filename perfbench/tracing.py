"""Span recording around the engine's layer boundaries, installed from the
benchmark's side only.

`install(rec)` replaces engine module attributes and `IndexReader` methods
with wrappers that record a span per call: name, start, end, parent span and
the request it belongs to. Every engine module that bound the same function
object by name (``from engine.query import _finalize_topk``) gets the wrapper
too. `uninstall()` puts the originals back, so untraced passes run the
engine's own functions. Spans stay in memory; `Recorder.dump` writes them out.

A wrapper pickles as the function it wraps, so a Spark closure that captured
one ships the engine's original function to the Python workers.
"""

from __future__ import annotations

import importlib
import json
import operator
import sys
import threading
import time
import types


class Recorder:
    """In-memory span store. A span is [id, parent id, name, request,
    t0 ns, t1 ns, attrs]; attrs holds the counts taken at that boundary."""

    def __init__(self):
        self.spans: list[list] = []
        self.request = -1
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        sid = len(self.spans)
        self.spans.append([sid, st[-1] if st else -1, name, self.request, time.perf_counter_ns(), 0, None])
        st.append(sid)
        return sid

    def close(self, sid: int, attrs: dict | None = None) -> None:
        span = self.spans[sid]
        span[5] = time.perf_counter_ns()
        span[6] = attrs
        self._stack().pop()

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, req, t0, t1, attrs in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "name": name, "request": req,
                    "start_ns": t0, "end_ns": t1, "attrs": attrs,
                }) + "\n")

    def self_ns(self) -> dict[int, int]:
        """Per span: its duration minus the part of its interval that its
        child spans cover."""
        children: dict[int, list[tuple[int, int]]] = {}
        for sid, parent, _, _, t0, t1, _ in self.spans:
            if parent >= 0:
                children.setdefault(parent, []).append((t0, t1))
        out = {}
        for sid, _, _, _, t0, t1, _ in self.spans:
            covered, end = 0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[sid] = (t1 - t0) - covered
        return out


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str):
        self.rec, self.name = rec, name

    def __enter__(self):
        self.sid = self.rec.open(self.name)
        return self

    def __exit__(self, *exc):
        self.rec.close(self.sid)
        return False


class _Wrapper:
    """Callable stand-in for one engine function. `name` is the span name or
    a callable (args) -> span name; `post(args, result)` returns the
    span's attrs; `wrap_result` wraps a returned callable in a span too."""

    def __init__(self, rec, fn, name, post=None, wrap_result=None):
        self.rec, self.fn, self.name = rec, fn, name
        self.post, self.wrap_result = post, wrap_result

    def __call__(self, *args, **kwargs):
        rec = self.rec
        sid = rec.open(self.name(args) if callable(self.name) else self.name)
        attrs = None
        try:
            out = self.fn(*args, **kwargs)
            if self.post is not None:
                attrs = self.post(args, out)
        finally:
            rec.close(sid, attrs)
        if self.wrap_result is not None and callable(out):
            out = _Wrapper(rec, out, self.wrap_result)
        return out

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


def _rows_bytes(by_shard) -> int:
    if not by_shard:
        return 0
    n = 0
    for rows in by_shard.values():
        for r in rows:
            n += len(r.docs_bin) + len(r.tfs_bin) + len(r.dls_bin)
            n += len(getattr(r, "pos_bin", b"") or b"")
    return n


def _fetch_post(args, out):
    return {"bytes": _rows_bytes(out)}


def _bmw_post(args, out):
    rows, idfs = args[0], args[1]
    return {"blocks": sum(len(r.blocks) for r in rows if idfs.get(r.term))}


def _delete_post(args, out):
    return {"written": int(out)}


def _dictionary_name(args):
    r = args[0]
    if r._ts_cache is None and r.n_docs <= r.CACHE_MAX_DOCS:
        return "query.dictionary_load"
    return "query.dictionary"


def _docmap_name(args):
    r = args[0]
    if r._dm_cache is None and r.n_docs <= r.DOCMAP_MEM_MAX_DOCS:
        return "query.docmap_load"
    return "query.finalize"


# (module, attribute, span name, post hook, span name for a returned callable)
MODULE_TARGETS = [
    ("engine.dsl", "search", "dsl", None, None),
    ("engine.querystring", "query_string_topk", "querystring", None, None),
    ("engine.postings", "decode_block", "postings.decode", None, None),
    ("engine.postings", "decode_term_postings", "postings.decode", None, None),
    ("engine.postings", "decode_term_positions", "postings.decode", None, None),
    ("engine.query", "_bmw_shard_topk", "query.kernel.bmw", _bmw_post, None),
    ("engine.query", "_taat_shard_topk", "query.kernel.taat", None, None),
    ("engine.query", "_phrase_shard_topk", "query.kernel.phrase", None, None),
    ("engine.query", "_phrase_slop_shard_topk", "query.kernel.phrase", None, None),
    ("engine.query", "_mf_shard_topk", "query.kernel.mf", None, None),
    ("engine.query", "_dismax_shard_topk", "query.kernel.mf", None, None),
    ("engine.query", "_bool_shard_topk", "query.kernel.other", None, None),
    ("engine.querystring", "_qs_shard_topk", "query.kernel.other", None, None),
    ("engine.query", "_finalize_topk", "query.finalize", None, None),
    ("engine.docvalues", "build_shard_filter", "docvalues.filter", None, "docvalues.filter"),
    ("engine.deletes", "load_tombstones", "deletes.load_tombstones", None, None),
    ("engine.deletes", "delete_docs", "deletes.delete_docs", _delete_post, None),
]

# IndexReader method -> span name (or namer), post hook
READER_TARGETS = [
    ("__init__", "query.reader_open", None),
    ("term_stats", _dictionary_name, None),
    ("expand_prefix", "query.dictionary", None),
    ("postings_local", "query.postings_fetch", _fetch_post),
    ("postings_pos_local", "query.postings_fetch", _fetch_post),
    ("docmap_lookup_local", _docmap_name, None),
]


class Installation:
    """The set of (namespace, attribute, original) swaps one `install` made."""

    def __init__(self):
        self.swaps: list[tuple[object, str, object]] = []

    def uninstall(self) -> None:
        for ns, attr, orig in reversed(self.swaps):
            setattr(ns, attr, orig)
        self.swaps.clear()


def install(rec: Recorder) -> Installation:
    inst = Installation()
    for mod_name, *_ in MODULE_TARGETS:
        importlib.import_module(mod_name)
    engine_mods = [m for n, m in list(sys.modules.items()) if n.startswith("engine.")]
    for mod_name, attr, name, post, wrap_result in MODULE_TARGETS:
        orig = getattr(sys.modules[mod_name], attr)
        w = _Wrapper(rec, orig, name, post, wrap_result)
        for mod in engine_mods:
            for k, v in list(vars(mod).items()):
                if v is orig:
                    inst.swaps.append((mod, k, orig))
                    setattr(mod, k, w)
    reader_cls = sys.modules["engine.query"].IndexReader
    for attr, name, post in READER_TARGETS:
        orig = reader_cls.__dict__[attr]
        inst.swaps.append((reader_cls, attr, orig))
        setattr(reader_cls, attr, _Wrapper(rec, orig, name, post))
    return inst
