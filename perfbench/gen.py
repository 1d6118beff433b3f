"""Seeded inputs for every workload: corpus, serve mix, batch query sets and
delete batches. Everything derives from one seed; the engine only ever sees
the generated values.

The vocabulary is the engine's fixed synthetic vocabulary
(`engine.synth.make_vocab`), indexed by Zipf rank, so a rank band picks
head, mid or tail terms by construction.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from engine import synth

# Zipf rank bands of the fixed 10k-term vocabulary
HEAD = (0, 50)
MID = (50, 1000)
TAIL = (1000, 5000)

TITLE_CHARS = 60

SERVE_KINDS = (
    "match_or", "match_and", "bool_lang", "bool_range",
    "multi_match", "match_phrase", "prefix", "query_string",
)


def corpus(n_docs: int, seed: int) -> pa.Table:
    """`synth.generate_pages(n_docs, seed)` without the html column, plus a
    `title` field: the first TITLE_CHARS characters of the text."""
    tbl = synth.generate_pages(n_docs, seed).drop_columns(["html"])
    title = pc.utf8_slice_codeunits(tbl.column("text"), 0, TITLE_CHARS)
    return tbl.append_column("title", title)


class Inputs:
    """Request generators bound to one corpus. Each generator draws from
    its own stream derived from the seed, so changing how many requests
    one stream yields leaves every other stream unchanged."""

    def __init__(self, tbl: pa.Table, seed: int):
        self.seed = seed
        self.vocab = synth.make_vocab()
        texts = tbl.column("text").to_pylist()
        self.valid = [
            (u, t) for u, t in zip(tbl.column("url").to_pylist(), texts) if t
        ]

    def _rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def _terms(self, rng: np.random.Generator, n: int) -> list[str]:
        bands = (HEAD, MID, TAIL)
        out: list[str] = []
        while len(out) < n:
            lo, hi = bands[int(rng.integers(0, 3))]
            t = self.vocab[int(rng.integers(lo, hi))]
            if t not in out:
                out.append(t)
        return out

    def match_or(self, rng: np.random.Generator) -> dict:
        terms = self._terms(rng, int(rng.integers(1, 4)))
        return {"query": {"match": {"text": " ".join(terms)}}, "size": 10}

    def _body(self, kind: str, rng: np.random.Generator) -> dict:
        if kind == "match_or":
            return self.match_or(rng)
        if kind == "match_and":
            a, b = (self.vocab[int(r)] for r in rng.choice(MID[1], 2, replace=False))
            return {"query": {"match": {"text": {"query": f"{a} {b}", "operator": "and"}}}}
        if kind in ("bool_lang", "bool_range"):
            must = {"match": {"text": " ".join(self._terms(rng, int(rng.integers(1, 3))))}}
            if kind == "bool_lang":
                flt = {"term": {"lang": "cy"}}
            else:
                # urls sort as https://site<n>.example/...; [site<s>, site<s+1>)
                # keeps site s and its decimal extensions, about a ninth of docs
                s = int(rng.integers(1, 9))
                flt = {"range": {"url": {"gte": f"https://site{s}", "lt": f"https://site{s + 1}"}}}
            return {"query": {"bool": {"must": [must], "filter": [flt]}}}
        if kind == "multi_match":
            q = " ".join(self._terms(rng, int(rng.integers(1, 3))))
            return {"query": {"multi_match": {
                "query": q, "fields": ["title^2", "text"], "type": "best_fields",
            }}}
        if kind == "match_phrase":
            # a bigram taken from a real document, so the phrase matches
            _, text = self.valid[int(rng.integers(0, len(self.valid)))]
            words = text.split()
            i = int(rng.integers(0, max(1, len(words) - 1)))
            return {"query": {"match_phrase": {"text": " ".join(words[i:i + 2])}}}
        if kind == "prefix":
            t = self.vocab[int(rng.integers(HEAD[0], MID[1]))]
            return {"query": {"prefix": {"text": t[:3]}}}
        if kind == "query_string":
            q = " ".join(self._terms(rng, 2))
            return {"query": {"query_string": {"query": q, "default_field": "text"}}}
        raise ValueError(kind)

    def serve_stream(self, stream: int):
        """Endless seeded (kind, body) stream over the serve mix. Kinds take
        turns in SERVE_KINDS order, so every run sends the same mix of
        kinds; the seed picks each body."""
        rng = self._rng(stream)
        while True:
            for kind in SERVE_KINDS:
                yield kind, self._body(kind, rng)

    def match_or_bodies(self, stream: int, n: int) -> list[dict]:
        rng = self._rng(stream)
        return [self.match_or(rng) for _ in range(n)]

    def batch_queries(self, stream: int, n: int) -> dict[int, list[str]]:
        """n distinct 1-3-term queries (no two share a term multiset, so the
        batch's signature memoization cannot serve one from another)."""
        rng = self._rng(stream)
        seen: set[tuple] = set()
        out: dict[int, list[str]] = {}
        while len(out) < n:
            terms = self._terms(rng, int(rng.integers(1, 4)))
            key = tuple(sorted(terms))
            if key not in seen:
                seen.add(key)
                out[len(out)] = terms
        return out

    def delete_batch(self, stream: int, n: int, deleted: set[str]) -> list[str]:
        """n live urls not deleted before."""
        rng = self._rng(stream)
        out: list[str] = []
        while len(out) < n:
            u = self.valid[int(rng.integers(0, len(self.valid)))][0]
            if u not in deleted and u not in out:
                out.append(u)
        return out
