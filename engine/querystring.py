"""ES `simple_query_string` — the search-box query language.

A reference-index user's free-text search box sends
`simple_query_string` bodies (reference parity: the ES _search endpoint
the loader's index serves — config/search_scheme.json declares the
analyzed fields such a search box queries). This module
parses the query text and evaluates it with the engine's existing
kernels — nothing here rescans postings its own way.

Frozen spec (the supported ES flag subset, all divergences explicit):

- flags = PHRASE | PREFIX | NOT | WHITESPACE. As in ES with the other
  flags disabled, the remaining operator characters (`+`, `|`, `(`,
  `)`, `~` outside a phrase) are NOT special: they go to the analyzer,
  which strips them. `default_operator` ("or"/"and") combines clauses
  exactly as in ES.
- clause grammar, per whitespace token: a leading `-` negates the
  clause (ES must_not: pure exclusion, never scores); `"quoted text"`
  with an optional `~N` suffix is a phrase clause with slop N;
  `token*` is a prefix clause; anything else analyzes into term
  clauses (one clause per analyzed token — the frozen analyzer can
  split a raw token, e.g. "a.b" -> two clauses, matching ES's
  per-token boolean expansion).
- scoring: term clause = BM25; phrase clause = the engine's frozen
  pseudo-term phrase score (match_phrase / sloppy-span semantics,
  engine/query.py _phrase_freqs); prefix clause = ranked union over
  the df-ordered dictionary expansion (scoring_boolean, the same
  frozen rewrite as bm25_topk mode="prefix", max_expansions-capped).
  A doc's score is the SUM of its matching positive clauses' scores;
  with default_operator "and" a doc must match EVERY positive clause.
- a query with no positive clause raises (ES rewrites `-foo` alone to
  match_all + must_not; an unscored full scan belongs to the
  docvalue/filter path, documented divergence).
- a prefix with no dictionary expansion, or a term absent from the
  dictionary, matches nothing: dropped under "or", empty result under
  "and" (ES conjunction semantics), always dropped when negated.

Scale shape: identical to the phrase/bool kernels — per-shard numpy
kernels over pruned posting reads (bucket partition filter + term
row-group pushdown), local in-process for small queries, ONE Spark
scatter-gather for head terms; only per-shard top-k rows leave the
executors, and the docmap lookup is pruned to the winners.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
import pandas as pd

from engine import postings as P
from engine.query import (
    FieldPostings,
    IndexReader,
    _at_shard,
    _decode_live,
    _frame_api,
    _phrase_freqs,
    _require_positions,
    _result_rows,
    _scatter_topk,
    _shard_filter,
    _topk_order,
)
from engine.textnorm import standard_tokenize_py


class Clause(NamedTuple):
    neg: bool
    kind: str  # "term" | "prefix" | "phrase"
    terms: tuple  # term clause: (term,); prefix: (stem,); phrase: slot terms
    slop: int = 0


_TOKEN_RE = re.compile(r'-?"[^"]*"(?:~\d+)?|\S+')
_PHRASE_RE = re.compile(r'^"([^"]*)"(?:~(\d+))?$')


def parse_simple_query_string(query: str) -> list[Clause]:
    """Tokenize the query text into clauses per the frozen grammar.
    Tokens that analyze to nothing (pure punctuation, lone operators)
    are dropped; a 1-token phrase degrades to a term clause (ES)."""
    out: list[Clause] = []
    for m in _TOKEN_RE.finditer(query):
        tok = m.group(0)
        neg = tok.startswith("-") and len(tok) > 1
        if neg:
            tok = tok[1:]
        pm = _PHRASE_RE.match(tok)
        if pm:
            toks = standard_tokenize_py(pm.group(1).lower())
            if not toks:
                continue
            if len(toks) == 1:
                out.append(Clause(neg, "term", (toks[0],)))
            else:
                out.append(
                    Clause(neg, "phrase", tuple(toks), int(pm.group(2) or 0))
                )
            continue
        is_prefix = tok.endswith("*") and len(tok) > 1
        if is_prefix:
            tok = tok[:-1]
        toks = standard_tokenize_py(tok.lower())
        if not toks:
            continue
        if is_prefix:
            # "a.b*" -> term clause 'a' + prefix clause 'b'
            out.extend(Clause(neg, "term", (t,)) for t in toks[:-1])
            out.append(Clause(neg, "prefix", (toks[-1],)))
        else:
            out.extend(Clause(neg, "term", (t,)) for t in toks)
    return out


# kernel-facing clause specs (plain tuples: picklable into Spark tasks)
#   ("sum", ((term, idf), ...))        term / prefix-expansion clause
#   ("phrase", slots, slop, idf_sum)   phrase clause; slots = ((t,), ...)


def _freq_cache(by_row: dict, dels):
    """Memoized (docs, tfs, dls) decoder over a shard's posting rows —
    the shared per-shard decode core for the clause evaluators."""
    cache: dict[str, tuple | None] = {}

    def freq(t):
        if t not in cache:
            r = by_row.get(t)
            cache[t] = None if r is None else _decode_live(r, dels)
        return cache[t]

    return freq


def _clause_eval(spec, by_row, freq, dels):
    """(docs, scores) of one clause within a shard — docs unique per
    clause (the AND hit-counting invariant). Empty arrays = no match."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if spec[0] == "sum":
        dparts, sparts = [], []
        for t, idf, k1, b, avgdl in spec[1]:
            got = freq(t)
            if got is None:
                continue
            d, tf, dl = got
            dparts.append(d)
            sparts.append(idf * P.bm25_impact(tf, dl, avgdl, k1, b))
        if not dparts:
            return empty
        if len(dparts) == 1:  # single term: postings are unique per doc
            return dparts[0], sparts[0]
        locs = np.concatenate(dparts)
        uniq, inv = np.unique(locs, return_inverse=True)
        return uniq, np.bincount(
            inv, weights=np.concatenate(sparts), minlength=uniq.size
        )
    _, slots, slop, idf_sum, k1, b, avgdl = spec
    terms = list(dict.fromkeys(t for s in slots for t in s))
    rows = [by_row[t] for t in terms if t in by_row]
    if len(rows) < len(terms):  # conjunctive: a slot term absent here
        return empty
    got = _phrase_freqs(rows, [list(s) for s in slots], slop, dels)
    if got is None:
        return empty
    by_term, match_docs, pf = got
    # dl lookup from the first slot term carrying each matched doc
    # (same scheme as engine/query.py _phrase_score_rows)
    dl = np.zeros(match_docs.size, dtype=np.float64)
    found = np.zeros(match_docs.size, dtype=bool)
    for t in terms:
        docs, _tfs, dls, _pos, _occ = by_term[t]
        j = np.searchsorted(docs, match_docs)
        np.minimum(j, docs.size - 1, out=j)
        hit = (~found) & (docs[j] == match_docs)
        dl[hit] = dls[j[hit]]
        found |= hit
        if found.all():
            break
    scores = idf_sum * (pf / (pf + k1 * (1.0 - b + b * dl / avgdl)))
    return match_docs, scores


def _sqs_shard_topk(
    rows, pos_specs, neg_specs, and_mode: bool, k: int, dels,
    local_filter=None,
) -> list[tuple[int, float]]:
    """Per-shard simple_query_string kernel: evaluate each clause with
    the shared decode/phrase cores, sum matching positive clause scores,
    apply the AND hit-count mask and the must_not exclusion, top-k.
    Vectorized like the bool kernel: np.unique/bincount accumulation,
    searchsorted hit counting, no per-doc Python."""
    by_row = {r.term: r for r in rows}
    freq = _freq_cache(by_row, dels)

    doc_parts, score_parts = [], []
    for spec in pos_specs:
        d, s = _clause_eval(spec, by_row, freq, dels)
        if d.size == 0:
            if and_mode:  # docs live in one shard: conjunction dead here
                return []
            continue
        doc_parts.append(d)
        score_parts.append(s)
    if not doc_parts:
        return []
    locs = np.concatenate(doc_parts)
    uniq, inv = np.unique(locs, return_inverse=True)
    scores = np.bincount(
        inv, weights=np.concatenate(score_parts), minlength=uniq.size
    )
    keep = np.ones(uniq.size, dtype=bool)
    if and_mode and len(doc_parts) > 1:
        hits = np.zeros(uniq.size, dtype=np.int64)
        for d in doc_parts:
            hits[np.searchsorted(uniq, d)] += 1
        keep &= hits == len(doc_parts)
    excl_parts = []
    for spec in neg_specs:
        d, _s = _clause_eval(spec, by_row, freq, dels)
        if d.size:
            excl_parts.append(d)
    if excl_parts:
        keep &= ~np.isin(uniq, np.concatenate(excl_parts))
    uniq, scores = uniq[keep], scores[keep]
    if uniq.size == 0:
        return []
    if local_filter is not None:
        # ES filter context: candidates-only docvalue mask (uniq stays
        # sorted under boolean slicing), after clause accumulation so
        # surviving scores are untouched
        fkeep = local_filter(uniq)
        uniq, scores = uniq[fkeep], scores[fkeep]
        if uniq.size == 0:
            return []
    order = _topk_order(uniq, scores, min(k, uniq.size))
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _simple_query_string_topk(
    reader: IndexReader,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    max_expansions: int = 50,
    execution: str = "auto",
    filters=(),
):
    """Top-k (url, doc_id, score) for a simple_query_string body — see
    the module docstring for the frozen grammar and scoring spec.
    filters: ES filter-context clauses (engine/docvalues.py), applied as
    the candidates-only docvalue mask after clause accumulation."""
    if default_operator not in ("or", "and"):
        raise ValueError(f"default_operator must be or/and, got {default_operator!r}")
    and_mode = default_operator == "and"
    clauses = parse_simple_query_string(query)
    if not any(not c.neg for c in clauses):
        raise ValueError(
            "simple_query_string needs at least one positive clause "
            "(pure negation is served by the filter path, frozen divergence)"
        )
    if any(c.kind == "phrase" for c in clauses):
        _require_positions(reader, "simple_query_string (phrase clause)")

    # dictionary work on the driver: prefix expansion + global idfs
    expanded: list[tuple[Clause, tuple[str, ...]]] = []
    for c in clauses:
        terms = (
            reader.expand_prefix(c.terms[0], max_expansions)
            if c.kind == "prefix"
            else list(c.terms)
        )
        expanded.append((c, tuple(terms)))
    stats = reader.term_stats(
        list(dict.fromkeys(t for _c, ts in expanded for t in ts))
    )
    n_docs, k1, b, avgdl = reader.n_docs, reader.k1, reader.b, reader.avgdl

    pos_specs, neg_specs = [], []
    for c, terms in expanded:
        if c.kind == "phrase":
            if any(t not in stats for t in terms):
                # a slot term absent from the dictionary: never matches
                if c.neg:
                    continue
                if and_mode:
                    return "rows", []
                continue
            idf_sum = float(sum(P.bm25_idf(stats[t], n_docs) for t in terms))
            spec = (
                "phrase", tuple((t,) for t in terms), c.slop, idf_sum,
                k1, b, avgdl,
            )
        else:
            known = [(t, float(P.bm25_idf(stats[t], n_docs)), k1, b, avgdl)
                     for t in terms if t in stats]
            if not known:
                if c.neg:
                    continue
                if and_mode:
                    return "rows", []
                continue
            spec = ("sum", tuple(known))
        (neg_specs if c.neg else pos_specs).append(spec)
    if not pos_specs:
        return "rows", []

    needs_pos = any(s[0] == "phrase" for s in pos_specs + neg_specs)
    distinct = list(dict.fromkeys(
        t
        for s in pos_specs + neg_specs
        for t in (
            [x[0] for x in s[1]] if s[0] == "sum"
            else [t for slot in s[1] for t in slot]
        )
    ))
    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows: list, dels, shard: int) -> list[tuple[int, float]]:
        return _sqs_shard_topk(
            rows, pos_specs, neg_specs, and_mode, k, dels,
            _at_shard(shard_filter, shard),
        )

    src = FieldPostings(
        reader, distinct, sum(stats.get(t, 0) for t in distinct), needs_pos
    )
    return _scatter_topk(src, run_kernel, k, execution)


simple_query_string_topk = _frame_api(_simple_query_string_topk)


# ---------------------------------------------------------------------------
# ES `query_string` — the full Lucene query grammar.
#
# Reference parity: the ES _search endpoint the loader's index serves
# accepts `query_string` bodies (the power-user twin of the
# simple_query_string search box above). Frozen grammar subset, all
# divergences explicit:
#
#   expr      := andChain ((OR | implicit) andChain)*
#   andChain  := clause (AND clause)*
#   clause    := [+ | - | NOT | !] primary [^boost]
#   primary   := '(' expr ')' | '"phrase"'[~slop] | term[~fuzz] | field:primary
#
# - Precedence is frozen clean: NOT/+/- bind to one clause, AND binds
#   tighter than OR/implicit. (Lucene's classic parser resolves mixed
#   operators left-associatively with well-known quirks; this engine
#   freezes the unsurprising grammar instead — documented divergence.)
# - `default_operator` chooses the implicit conjunction ("or"/"and"),
#   exactly ES's query_string option.
# - Occurs: at an OR level a bare clause is SHOULD; inside an AND chain
#   it is MUST; `+` forces MUST, `-`/`NOT`/`!` force MUST_NOT. Lucene
#   BooleanQuery semantics apply: MUST clauses gate and score, SHOULD
#   clauses gate only when no MUST exists (else score-only), MUST_NOT
#   excludes and never scores. A group's score is the SUM of its
#   matching scoring clauses (Lucene ≥6: no coord), times its boost.
# - Leaves reuse the engine's frozen rewrites: term = BM25; `term~N` /
#   `term~` = fuzzy (classic Levenshtein, AUTO for bare ~, df-ordered
#   scoring_boolean cap at max_expansions — bm25_topk mode="fuzzy");
#   `stem*` = prefix; embedded `*`/`?` = wildcard; `"..."~N` = the
#   frozen sloppy-phrase pseudo-term. Boost multiplies the leaf score.
# - `field:` accepts only the index's analyzed text field ("text") —
#   single-field index, anything else raises (frozen divergence from
#   multi-field ES).
# - A query whose every scoring path sits under MUST_NOT raises, like
#   simple_query_string (pure exclusion belongs to the filter path).
#
# AST nodes (plain picklable tuples):
#   ("term", term, fuzzy, boost)   fuzzy: None | "auto" | 0 | 1 | 2
#   ("prefix", stem, boost)
#   ("wild", pattern, boost)
#   ("phrase", text, slop, boost)
#   ("bool", ((occur, node), ...), boost)   occur: should|must|must_not
# ---------------------------------------------------------------------------

_QS_TOK_RE = re.compile(r'\(|\)|"[^"]*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?|[^\s()"]+')
_QS_BOOST_TOK = re.compile(r"\^(\d+(?:\.\d+)?)$")
_QS_PHRASE = re.compile(r'^"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?$')
_QS_FUZZ = re.compile(r"~(\d?)$")
_QS_FIELD = re.compile(r"^(\w+):(.*)$", re.S)

DEFAULT_FIELD = "text"


def _qs_boosted(node, b: float):
    if b == 1.0 or node is None:
        return node
    return node[:-1] + (node[-1] * b,)


def _qs_phrase_node(tok: str):
    m = _QS_PHRASE.match(tok)
    if m is None:
        raise ValueError(f"unterminated phrase {tok!r}")
    return (
        "phrase", m.group(1), int(m.group(2) or 0), float(m.group(3) or 1.0),
    )


def _qs_leaf(tok: str, default_operator: str):
    """One word token -> leaf node (or None when it analyzes away)."""
    boost = 1.0
    m = _QS_BOOST_TOK.search(tok)
    if m and m.start() > 0:
        boost = float(m.group(1))
        tok = tok[: m.start()]
    fuzzy = None
    m = _QS_FUZZ.search(tok)
    if m and m.start() > 0:
        fuzzy = "auto" if m.group(1) == "" else min(int(m.group(1)), 2)
        tok = tok[: m.start()]
    low = tok.lower()
    if "*" in low or "?" in low:
        if fuzzy is not None:
            raise ValueError(f"fuzzy + wildcard unsupported: {tok!r}")
        if (
            low.endswith("*")
            and len(low) > 1
            and "*" not in low[:-1]
            and "?" not in low[:-1]
        ):
            return ("prefix", low[:-1], boost)
        return ("wild", low, boost)
    toks = standard_tokenize_py(low)
    if not toks:
        return None
    if fuzzy is not None:
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy on a multi-token term {tok!r} "
                "(frozen: one analyzed token)"
            )
        return ("term", toks[0], fuzzy, boost)
    if len(toks) == 1:
        return ("term", toks[0], None, boost)
    occ = "must" if default_operator == "and" else "should"
    return (
        "bool",
        tuple((occ, ("term", t, None, 1.0)) for t in toks),
        boost,
    )


def _qs_resolve(entries, default_operator: str):
    """Entry list [(conj, occur, node)] -> one node, applying the frozen
    precedence: AND chains fuse into MUST groups, OR/implicit separate
    children at the outer level."""
    if not entries:
        return None
    or_children: list[tuple[str, tuple]] = []
    chain: list[tuple[str | None, tuple]] = []

    def flush():
        if not chain:
            return
        if len(chain) == 1:
            occ, nd = chain[0]
            or_children.append((occ or "should", nd))
        else:
            kids = tuple((occ or "must", nd) for occ, nd in chain)
            or_children.append(("should", ("bool", kids, 1.0)))
        chain.clear()

    for conj, occur, node in entries:
        c = conj or default_operator
        if c == "or" and chain:
            flush()
        chain.append((occur, node))
    flush()
    if len(or_children) == 1 and or_children[0][0] == "should":
        return or_children[0][1]
    return ("bool", tuple(or_children), 1.0)


def parse_query_string(
    query: str,
    default_operator: str = "or",
    default_field: str = DEFAULT_FIELD,
):
    """Parse a Lucene query_string into the AST (module comment has the
    frozen grammar). Raises ValueError on unbalanced parens, unknown
    fields, and unsupported leaf combinations; tokens that analyze to
    nothing drop silently (their pending operators drop with them)."""
    if default_operator not in ("or", "and"):
        raise ValueError(
            f"default_operator must be or/and, got {default_operator!r}"
        )
    toks = _QS_TOK_RE.findall(query)
    n = len(toks)
    i = 0

    def level(depth: int):
        nonlocal i
        entries: list[tuple] = []
        conj: str | None = None
        occur: str | None = None
        closed = False
        while i < n:
            t = toks[i]
            if t == ")":
                if depth == 0:
                    raise ValueError("unbalanced ')'")
                i += 1
                closed = True
                break
            i += 1
            if t in ("AND", "&&"):
                conj = "and"
                continue
            if t in ("OR", "||"):
                conj = "or"
                continue
            if t in ("NOT", "!"):
                occur = "must_not"
                continue
            if t == "+":
                occur = "must"
                continue
            if t == "-":
                occur = "must_not"
                continue
            node = None
            if t == "(":
                node = level(depth + 1)
                if i < n and _QS_BOOST_TOK.fullmatch(toks[i]):
                    node = _qs_boosted(node, float(toks[i][1:]))
                    i += 1
            elif t.startswith('"'):
                node = _qs_phrase_node(t)
            else:
                while t[:1] in "+-!" and len(t) > 1:
                    occur = "must" if t[0] == "+" else "must_not"
                    t = t[1:]
                fm = _QS_FIELD.match(t)
                if fm:
                    if fm.group(1) != default_field:
                        raise ValueError(
                            f"unknown field {fm.group(1)!r} "
                            "(single-field index, frozen)"
                        )
                    rest = fm.group(2)
                    if rest:
                        t = rest
                    elif i < n and toks[i].startswith('"'):
                        node = _qs_phrase_node(toks[i])
                        i += 1
                    elif i < n and toks[i] == "(":
                        i += 1
                        node = level(depth + 1)
                        if i < n and _QS_BOOST_TOK.fullmatch(toks[i]):
                            node = _qs_boosted(node, float(toks[i][1:]))
                            i += 1
                    else:
                        raise ValueError(f"dangling field prefix {t!r}")
                if node is None and not fm or node is None and fm and rest:
                    node = _qs_leaf(t, default_operator)
            if node is None:
                conj = None
                occur = None
                continue
            entries.append((conj, occur, node))
            conj = None
            occur = None
        if depth > 0 and not closed:
            raise ValueError("unbalanced '('")
        return _qs_resolve(entries, default_operator)

    root = level(0)
    if i < n:
        raise ValueError("unbalanced ')'")
    return root


def _qs_has_positive(node) -> bool:
    if node is None:
        return False
    if node[0] != "bool":
        return True
    return any(
        occ != "must_not" and _qs_has_positive(ch) for occ, ch in node[1]
    )


def _qs_expand(reader: IndexReader, node, max_expansions: int, acc: set):
    """AST -> raw spec tree with dictionary rewrites resolved (driver
    side), collecting every referenced term into `acc`. Raw leaves:
    ("sumraw", terms, boost) | ("phraseraw", slots, slop, boost)."""
    kind = node[0]
    if kind == "term":
        _, t, fuzzy, boost = node
        if fuzzy is None:
            ts = [t]
        else:
            ts = reader.expand_fuzzy(
                t, None if fuzzy == "auto" else fuzzy, max_expansions
            )
        acc.update(ts)
        return ("sumraw", tuple(ts), boost)
    if kind == "prefix":
        ts = reader.expand_prefix(node[1], max_expansions)
        acc.update(ts)
        return ("sumraw", tuple(ts), node[2])
    if kind == "wild":
        ts = reader.expand_wildcard(node[1], max_expansions)
        acc.update(ts)
        return ("sumraw", tuple(ts), node[2])
    if kind == "phrase":
        slots = tuple(standard_tokenize_py(node[1].lower()))
        if not slots:
            return None
        acc.update(slots)
        if len(slots) == 1:
            return ("sumraw", slots, node[3])
        return ("phraseraw", slots, node[2], node[3])
    kids = []
    for occ, ch in node[1]:
        e = _qs_expand(reader, ch, max_expansions, acc)
        if e is not None:
            kids.append((occ, e))
    if not kids:
        return None
    return ("bool", tuple(kids), node[2])


def _qs_spec(raw, stats, n_docs, k1, b, avgdl):
    """Raw spec tree -> kernel spec tree with global idfs folded in
    (boost multiplies idf, so the kernels stay boost-blind)."""
    if raw[0] == "sumraw":
        known = tuple(
            (t, raw[2] * float(P.bm25_idf(stats[t], n_docs)), k1, b, avgdl)
            for t in raw[1]
            if t in stats
        )
        return ("sum", known) if known else ("none",)
    if raw[0] == "phraseraw":
        if any(t not in stats for t in raw[1]):
            return ("none",)
        idf_sum = raw[3] * float(
            sum(P.bm25_idf(stats[t], n_docs) for t in raw[1])
        )
        return (
            "phrase", tuple((t,) for t in raw[1]), raw[2], idf_sum,
            k1, b, avgdl,
        )
    kids = tuple(
        (occ, _qs_spec(ch, stats, n_docs, k1, b, avgdl)) for occ, ch in raw[1]
    )
    return ("bool", kids, raw[2])


def _qs_eval(spec, by_row, freq, dels):
    """(docs, scores) of one spec-tree node within a shard. Doc-sharded
    postings make per-shard intersection/exclusion globally correct.
    Docs are unique and sorted at every level (leaf invariant preserved
    by intersect/unique)."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    kind = spec[0]
    if kind == "none":
        return empty
    if kind != "bool":
        return _clause_eval(spec, by_row, freq, dels)
    _, children, boost = spec
    must_res: list[tuple] = []
    should_res: list[tuple] = []
    not_specs: list[tuple] = []
    for occ, ch in children:
        if occ == "must_not":
            not_specs.append(ch)
            continue
        d, s = _qs_eval(ch, by_row, freq, dels)
        if occ == "must":
            if d.size == 0:
                return empty
            must_res.append((d, s))
        elif d.size:
            should_res.append((d, s))
    if must_res:
        base = must_res[0][0]
        for d, _s in must_res[1:]:
            base = np.intersect1d(base, d, assume_unique=True)
    elif should_res:
        base = np.unique(np.concatenate([d for d, _s in should_res]))
    else:
        return empty
    if base.size == 0:
        return empty
    scores = np.zeros(base.size, dtype=np.float64)
    for d, s in must_res + should_res:
        j = np.searchsorted(base, d)
        ok = j < base.size
        jj, dd, ss = j[ok], d[ok], s[ok]
        hit = base[jj] == dd
        scores[jj[hit]] += ss[hit]  # unique docs per child: plain add
    for ch in not_specs:
        d, _s = _qs_eval(ch, by_row, freq, dels)
        if d.size:
            keep = ~np.isin(base, d, assume_unique=True)
            base, scores = base[keep], scores[keep]
            if base.size == 0:
                return empty
    if boost != 1.0:
        scores = scores * boost
    return base, scores


def _qs_shard_topk(
    rows, root_spec, k: int, dels, local_filter=None
) -> list[tuple[int, float]]:
    by_row = {r.term: r for r in rows}
    freq = _freq_cache(by_row, dels)
    d, s = _qs_eval(root_spec, by_row, freq, dels)
    if d.size == 0:
        return []
    if local_filter is not None:
        # ES filter context: the docvalue gather needs sorted ids — the
        # tree eval composes unique-sorted arrays, but guard anyway
        if d.size > 1 and not np.all(d[:-1] <= d[1:]):
            o = np.argsort(d, kind="stable")
            d, s = d[o], s[o]
        fkeep = local_filter(d)
        d, s = d[fkeep], s[fkeep]
        if d.size == 0:
            return []
    order = _topk_order(d, s, min(k, d.size))
    return [(int(d[i]), float(s[i])) for i in order]


def _query_string_topk(
    reader: IndexReader,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    max_expansions: int = 50,
    execution: str = "auto",
    filters=(),
):
    """Top-k (url, doc_id, score) for a full Lucene query_string — see
    the section comment above for the frozen grammar and semantics.
    Scale shape identical to simple_query_string_topk: dictionary
    rewrites + global idfs on the driver, one pruned postings read,
    per-shard numpy tree evaluation, only top-k rows collected."""
    root = parse_query_string(query, default_operator)
    if root is None:
        return "rows", []
    if not _qs_has_positive(root):
        raise ValueError(
            "query_string needs at least one positive clause "
            "(pure negation is served by the filter path, frozen divergence)"
        )
    acc: set[str] = set()
    raw = _qs_expand(reader, root, max_expansions, acc)
    if raw is None or not _qs_has_positive(raw):
        if raw is not None and not _qs_has_positive(raw):
            raise ValueError(
                "query_string needs at least one positive clause "
                "(pure negation is served by the filter path, "
                "frozen divergence)"
            )
        return "rows", []

    def _needs_pos(r) -> bool:
        if r[0] == "phraseraw":
            return True
        return r[0] == "bool" and any(_needs_pos(ch) for _o, ch in r[1])

    needs_pos = _needs_pos(raw)
    if needs_pos:
        _require_positions(reader, "query_string (phrase clause)")
    stats = reader.term_stats(sorted(acc))
    spec = _qs_spec(
        raw, stats, reader.n_docs, reader.k1, reader.b, reader.avgdl
    )
    distinct = sorted(t for t in acc if t in stats)
    if not distinct:
        return "rows", []

    shard_filter = _shard_filter(reader, filters)

    def run_kernel(rows: list, dels, shard: int) -> list[tuple[int, float]]:
        return _qs_shard_topk(rows, spec, k, dels, _at_shard(shard_filter, shard))

    src = FieldPostings(
        reader, distinct, sum(stats.get(t, 0) for t in distinct), needs_pos
    )
    return _scatter_topk(src, run_kernel, k, execution)


query_string_topk = _frame_api(_query_string_topk)


def _sqs_multifield_topk(
    reader: IndexReader,
    query: str,
    fields: list,
    k: int = 10,
    default_operator: str = "or",
    max_expansions: int = 50,
    filters=(),
):
    """simple_query_string over SEVERAL indexed fields (round-5 lift).

    Lucene's SimpleQueryParser with field weights builds, per clause, a
    BooleanQuery of SHOULD per-field sub-queries — so a clause's score
    is the SUM over fields of boost_f x that field's clause score, and
    a clause matches wherever ANY field matches. Clauses then combine
    exactly as in the single-field kernel: positive clause scores sum;
    default_operator "and" requires every positive clause matched (in
    >= 1 field); a negated clause excludes docs it matches in any
    field. "title^2" boost syntax is honored per field.

    Exactness: every (clause, field) leg is the already-frozen
    single-field kernel run UNBOUNDED (term = single-term BM25, prefix
    = the df-ordered capped expansion against that FIELD's own
    dictionary as a ranked union, phrase = the frozen pseudo-term
    phrase score on that field's positional postings), and the clause
    algebra is computed per doc over the full legs before top-k — no
    leg truncation, so sums and exclusions are exact. filters ride
    every leg (identical docvalue mask -> identical restriction).
    Scale shape: legs are the same reads the single-field query does,
    once per field; only the per-doc merge is driver-side, bounded by
    the union match set (the same bound the single-field OR kernel's
    accumulator carries per shard)."""
    from engine.query import _bm25_topk, _match_phrase_topk, parse_field_boosts

    if default_operator not in ("or", "and"):
        raise ValueError(
            f"default_operator must be or/and, got {default_operator!r}"
        )
    and_mode = default_operator == "and"
    clauses = parse_simple_query_string(query)
    if not any(not c.neg for c in clauses):
        raise ValueError(
            "simple_query_string needs at least one positive clause "
            "(pure negation is served by the filter path, frozen divergence)"
        )
    fb = parse_field_boosts(fields)
    unknown = [n for n, _ in fb if n not in reader.text_fields]
    if unknown:
        raise ValueError(
            f"simple_query_string fields {unknown} are not indexed "
            f"(text_fields={reader.text_fields})"
        )
    views = {
        n: (reader if n == reader.field else reader.for_field(n))
        for n, _ in fb
    }

    def _leg(c: Clause, name: str):
        view = views[name]
        if c.kind == "phrase":
            return _match_phrase_topk(
                view, list(c.terms), k=1 << 31, slop=c.slop, filters=filters
            )
        if c.kind == "prefix":
            terms = view.expand_prefix(c.terms[0], max_expansions)
            if not terms:
                return None
            return _bm25_topk(view, terms, k=1 << 31, filters=filters)
        return _bm25_topk(view, list(c.terms), k=1 << 31, filters=filters)

    pos_maps, neg_maps = [], []
    for c in clauses:
        per: dict[str, tuple[int, float]] = {}
        for name, boost in fb:
            leg = _leg(c, name)
            if leg is None:
                continue
            for url, doc_id, score in _result_rows(leg):
                prev = per.get(url)
                per[url] = (doc_id, (prev[1] if prev else 0.0) + boost * score)
        if c.neg:
            if per:
                neg_maps.append(per)
        else:
            pos_maps.append(per)
    total: dict[str, tuple[int, float, int]] = {}
    for per in pos_maps:
        if and_mode and not per:
            return "rows", []
        for u, (d, s) in per.items():
            t = total.get(u)
            total[u] = (d, (t[1] if t else 0.0) + s, (t[2] if t else 0) + 1)
    if and_mode:
        need = len(pos_maps)
        total = {u: v for u, v in total.items() if v[2] == need}
    for per in neg_maps:
        for u in per:
            total.pop(u, None)
    rows = sorted(
        ((u, d, s) for u, (d, s, _c) in total.items()),
        key=lambda x: (-x[2], x[1]),
    )[:k]
    return "rows", rows


sqs_multifield_topk = _frame_api(_sqs_multifield_topk)


def _qs_multifield_topk(
    reader: IndexReader,
    query: str,
    fields: list,
    k: int = 10,
    default_operator: str = "or",
    tie_breaker: float = 0.0,
    max_expansions: int = 50,
    filters=(),
):
    """Lucene query_string over SEVERAL indexed fields (round-5 lift).

    ES's QueryStringQueryParser with multiple fields rewrites every LEAF
    clause (term / fuzzy / prefix / wildcard / phrase) into a
    DisjunctionMaxQuery over the per-field sub-queries (type=best_fields,
    the default; `tie_breaker` as in ES) — the bool structure above the
    leaves is shared. This evaluator mirrors the single-field kernel's
    spec-tree semantics EXACTLY (engine _qs_eval: must intersection,
    should union, matching-children score sum, must_not exclusion,
    leaf/bool boost multiplication, analyzed-away children dropped) but
    evaluates driver-side over FULL per-(leaf, field) match sets, each
    leg being the frozen single-field kernel run unbounded against that
    field's OWN dictionary and stats; leaf blend = max + tie_breaker *
    rest, scaled by "title^2" field boosts, so collapsing to one
    unboosted field reproduces query_string_topk identically. filters
    ride every leg. Scale shape: legs are the same pruned reads the
    single-field query does, once per field; the driver-side merge is
    bounded by the union match set."""
    from engine.query import _bm25_topk, _match_phrase_topk, parse_field_boosts

    root = parse_query_string(query, default_operator)
    if root is None:
        return "rows", []
    if not _qs_has_positive(root):
        raise ValueError(
            "query_string needs at least one positive clause "
            "(pure negation is served by the filter path, frozen divergence)"
        )
    fb = parse_field_boosts(fields)
    unknown = [n for n, _ in fb if n not in reader.text_fields]
    if unknown:
        raise ValueError(
            f"query_string fields {unknown} are not indexed "
            f"(text_fields={reader.text_fields})"
        )
    views = {
        n: (reader if n == reader.field else reader.for_field(n))
        for n, _ in fb
    }
    tb = float(tie_breaker)

    def _leg(view, kind, payload, slop):
        # every call site below passes "phrase" or "terms": fail closed
        if kind == "phrase":
            return _match_phrase_topk(
                view, payload, k=1 << 31, slop=slop, filters=filters
            )
        if kind == "terms":
            return _bm25_topk(view, payload, k=1 << 31, filters=filters)
        raise ValueError(f"query_string: unknown leg kind {kind!r}")

    def _leaf(node):
        """leaf node -> dict url -> (doc_id, score) blended across
        fields, or None when the leaf analyzes away entirely."""
        kind = node[0]
        legs: list[dict] = []
        analyzed_away = False
        for name, fboost in fb:
            view = views[name]
            if kind == "term":
                _, t, fuzzy, boost = node
                ts = (
                    [t] if fuzzy is None
                    else view.expand_fuzzy(
                        t, None if fuzzy == "auto" else fuzzy, max_expansions
                    )
                )
                leg = _leg(view, "terms", list(ts), 0) if ts else None
            elif kind == "prefix":
                ts = view.expand_prefix(node[1], max_expansions)
                boost = node[2]
                leg = _leg(view, "terms", list(ts), 0) if ts else None
            elif kind == "wild":
                ts = view.expand_wildcard(node[1], max_expansions)
                boost = node[2]
                leg = _leg(view, "terms", list(ts), 0) if ts else None
            else:  # phrase
                slots = standard_tokenize_py(node[1].lower())
                boost = node[3]
                if not slots:
                    analyzed_away = True
                    leg = None
                elif len(slots) == 1:
                    leg = _leg(view, "terms", slots, 0)
                else:
                    leg = _leg(view, "phrase", list(slots), node[2])
            per: dict = {}
            if leg is not None:
                for url, doc_id, score in _result_rows(leg):
                    per[url] = (doc_id, fboost * score)
            legs.append(per)
        if analyzed_away:
            return None
        out: dict = {}
        for per in legs:
            for u, (d, s) in per.items():
                prev = out.get(u)
                if prev is None:
                    out[u] = (d, s, s)
                else:
                    out[u] = (d, max(prev[1], s), prev[2] + s)
        return {
            u: (d, boost * (mx + tb * (sm - mx)))
            for u, (d, mx, sm) in out.items()
        }

    def _eval(node):
        """node -> dict url -> (doc_id, score); None = analyzed away."""
        if node[0] != "bool":
            return _leaf(node)
        _, children, boost = node
        must_res, should_res, not_res = [], [], []
        kept_any = False
        for occ, ch in children:
            r = _eval(ch)
            if r is None:
                continue  # analyzed away: dropped like _qs_expand's None
            kept_any = True
            if occ == "must_not":
                if r:
                    not_res.append(r)
            elif occ == "must":
                if not r:
                    return {}
                must_res.append(r)
            elif r:
                should_res.append(r)
        if not kept_any:
            return None  # every child analyzed away -> node drops
        if must_res:
            base = set(must_res[0])
            for r in must_res[1:]:
                base &= set(r)
        elif should_res:
            base = set()
            for r in should_res:
                base |= set(r)
        else:
            return {}
        if not base:
            return {}
        out = {}
        for r in must_res + should_res:
            for u in base:
                if u in r:
                    d, s = r[u]
                    prev = out.get(u)
                    out[u] = (d, (prev[1] if prev else 0.0) + s)
        for r in not_res:
            for u in r:
                out.pop(u, None)
        if boost != 1.0:
            out = {u: (d, s * boost) for u, (d, s) in out.items()}
        return out

    res = _eval(root) or {}
    rows = sorted(
        ((u, d, s) for u, (d, s) in res.items()),
        key=lambda x: (-x[2], x[1]),
    )[:k]
    return "rows", rows


qs_multifield_topk = _frame_api(_qs_multifield_topk)
