"""ES `_search` JSON DSL front-end — the migration-facing API.

A user of the reference system talks to Elasticsearch with JSON query
bodies; this module accepts that JSON (the subset the engine implements —
which covers every query shape the reference's index can answer) and
routes it to the engine's native operators, returning an ES-shaped
response dict. Nothing here computes: it is a pure dispatcher, so every
semantic stays defined (and tested) exactly once in the operator modules.

Supported body keys: query (match_all / match / match_phrase [+slop] /
match_phrase_prefix [+slop, max_expansions] / term / terms / prefix /
wildcard / regexp / fuzzy / bool with must+should+
must_not+filter+minimum_should_match / dis_max / boosting / more_like_this /
function_score.field_value_factor / simple_query_string / span_term /
span_near [slop, in_order] / span_first [end]), size, from,
sort + search_after, collapse (best doc per docvalue group),
aggs/aggregations (terms [+stats sub-agg / +top_hits sub-agg] / range /
histogram / date_histogram / stats / cardinality / percentiles / missing
/ composite / filters), track_total_hits, rescore (match_phrase
rescorer over a match/term base query — needs a positional index),
knn (top-level vector search over the embeddings table: exact cosine,
or the LSH-ANN scale path when num_candidates bounds the search;
knn + query blends per ES hybrid sum — query score + knn.boost *
cosine for docs in the knn global top-k, union of both sets).

Deliberate divergences (documented, raise cleanly):
- `highlight`/`_source` need the source text: an index built with
  store_source=... serves them from its own stored columns (ES parity);
  otherwise pass the corpus DataFrame via search(..., corpus=...).
- from+size paging is served by over-fetch (from+size <= 10k, the same
  guardrail ES ships); deep paging belongs to sort+search_after.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from engine.docvalues import ExistsFilter, RangeFilter, TermFilter, TermsFilter


def _terms_field(spec: dict) -> tuple:
    """(field, values) of a `terms` clause body, which names exactly one
    field beside an optional clause-level `boost`."""
    fields = [f for f in spec if f != "boost"]
    if len(fields) != 1:
        raise ValueError(
            f"terms query needs exactly one field besides boost, got {fields}"
        )
    return fields[0], spec[fields[0]]


def _clause_filters(clauses: list) -> tuple:
    out = []
    for c in clauses:
        if "bool" in c and set(c["bool"]) == {"filter"}:
            # a pure filter-bool wrapper (the common post_filter shape)
            # flattens into its clause list
            out.extend(_clause_filters(c["bool"]["filter"]))
        elif "term" in c:
            ((f, v),) = c["term"].items()
            out.append(TermFilter(f, v["value"] if isinstance(v, dict) else v))
        elif "terms" in c:
            # ES `terms` filter: field IN a fixed value set (a clause
            # `boost` sibling key is legal ES and scoreless here)
            f, vals = _terms_field(c["terms"])
            out.append(TermsFilter(f, tuple(vals)))
        elif "range" in c:
            ((f, spec),) = c["range"].items()
            out.append(RangeFilter(f, gte=spec.get("gte"), lt=spec.get("lt")))
        elif "exists" in c:
            out.append(ExistsFilter(c["exists"]["field"]))
        else:
            raise ValueError(f"unsupported filter clause: {list(c)[0]}")
    return tuple(out)


def _text_reader(reader, fld: str, kind: str):
    """Resolve a named text field to its per-field reader view — the
    single-field lift every query kind shares. Multi-field indexes keep
    one docmap, so per-field doc_ids coincide by construction and the
    resolved reader composes with filters/sort/aggs unchanged."""
    if fld == reader.field:
        return reader
    if fld in reader.text_fields:
        return reader.for_field(fld)
    raise ValueError(
        f"{kind} on field {fld!r}: not an indexed text field "
        f"(indexed: {reader.text_fields})"
    )


def _spec_boost(spec) -> float:
    """The boost a leaf spec dict carries (1.0 when absent/plain)."""
    if isinstance(spec, dict) and spec.get("boost") is not None:
        return float(spec["boost"])
    return 1.0


def _boost_scaled(result, b: float):
    """ES leaf boost on a top-level query's top-k result: multiply the
    scores (rank-identical for b > 0, scores ES-parity)."""
    if b == 1.0:
        return result
    if b <= 0:
        raise ValueError("boost must be > 0")
    kind, payload = result
    if kind == "rows":
        return "rows", [(u, d, s * b) for u, d, s in payload]
    return "df", payload.withColumn("score", F.col("score") * F.lit(b))


def _clause_boost(clause: dict) -> float:
    """The `boost` a match/term/terms clause carries (1.0 when absent)."""
    for kk in ("match", "term", "terms"):
        if kk in clause:
            sp = next(iter(clause[kk].values()))
            if isinstance(sp, dict) and sp.get("boost") is not None:
                return float(sp["boost"])
    return 1.0


def _match_terms(
    clause: dict, allowed: tuple[str, ...] = ("text",),
    reject_boost: bool = False,
) -> tuple[list[str], str, int | None, str]:
    """(terms, operator, minimum_should_match, field) of a match/term/terms
    clause on an indexed text field. `allowed` is the index's text_fields
    for the paths that can route per-field (plain match); composite-kernel
    paths (bool/boosting/dis_max/rescore) keep the primary-field default —
    cross-field composition there is a documented divergence that raises.

    reject_boost: SCORING callers that flatten clauses into shared
    kernels must pass True — a clause `boost` would be silently dropped
    there (wrong scores), so it fails closed instead. Matched-SET
    callers (aggs/sort/_count/by_query contexts) keep the default:
    a positive boost never changes the matched set, so ignoring it is
    exactly ES's behavior."""
    from engine.oracle import analyze_query_py

    if reject_boost and _clause_boost(clause) != 1.0:
        raise ValueError(
            "clause boost is not composed in this context (it would be "
            "silently dropped); use dis_max/multi_match field boosts"
        )
    if "match" in clause:
        ((fld, spec),) = clause["match"].items()
        if fld not in allowed:
            raise ValueError(
                f"match on field {fld!r}: not an indexed text field of this "
                f"index (indexed: {list(allowed)})"
            )
        if isinstance(spec, dict):
            msm = spec.get("minimum_should_match")
            return (
                analyze_query_py(spec["query"]),
                spec.get("operator", "or"),
                int(msm) if msm is not None else None,
                fld,
            )
        return analyze_query_py(spec), "or", None, fld
    if "term" in clause:
        ((fld, spec),) = clause["term"].items()
        v = spec["value"] if isinstance(spec, dict) else spec
        if fld not in allowed:
            raise ValueError("term query on a docvalue field belongs in filter context")
        return [str(v)], "or", None, fld
    if "terms" in clause:
        ((fld, vals),) = clause["terms"].items()
        if fld not in allowed:
            raise ValueError("terms query on a docvalue field belongs in filter context")
        return [str(v) for v in vals], "or", None, fld
    raise ValueError(f"unsupported scoring clause: {list(clause)[0]}")


# ES single-metric aggs ride the StatsAgg kernel (one pass computes all
# five); the post-projection keeps the response to the one ES value
_METRIC_COL = {
    "avg": "v_avg",
    "sum": "v_sum",
    "min": "v_min",
    "max": "v_max",
    "value_count": "v_count",
}

_PIPELINE_SUBS = (
    "cumulative_sum", "derivative", "bucket_sort", "bucket_script",
    "bucket_selector", "moving_fn", "serial_diff",
)


def _pipeline_post(parent_kind: str, sub: dict):
    """Compile a parent bucket agg's pipeline sub-aggs (declaration
    order) into one DataFrame->DataFrame transform. Sequential pipelines
    (cumulative_sum / derivative) need a bucket sequence, so they require
    a histogram-family parent — the ES restriction."""
    from engine import pipeline as P

    order_col = {"histogram": "bucket", "date_histogram": "bucket"}.get(
        parent_kind
    )
    steps = []
    for name, s in sub.items():
        ((kind, body),) = s.items()
        if kind in ("cumulative_sum", "derivative", "moving_fn", "serial_diff"):
            if order_col is None:
                raise ValueError(
                    f"{kind} requires a histogram-family parent (ES rule)"
                )
            if kind == "moving_fn":
                # ES ships a Painless script naming a MovingFunctions
                # builtin; the frozen subset maps those names (or a bare
                # `fn` key) onto the window aggregate
                script = body.get("script", "")
                fn_name = body.get("fn") or next(
                    (f for f, t in (("avg", "unweightedAvg"), ("sum", "sum"),
                                    ("min", "min"), ("max", "max"))
                     if t in script),
                    None,
                )
                if fn_name is None:
                    raise ValueError(
                        "moving_fn supports MovingFunctions.unweightedAvg/"
                        "sum/min/max"
                    )
                steps.append(
                    lambda df, p=body["buckets_path"], w=body["window"],
                    f=fn_name, n=name:
                    P.moving_fn(df, p, order_col, int(w), f, out=n)
                )
                continue
            if kind == "serial_diff":
                steps.append(
                    lambda df, p=body["buckets_path"],
                    lg=body.get("lag", 1), n=name:
                    P.serial_diff(df, p, order_col, int(lg), out=n)
                )
                continue
            fn = P.cumulative_sum if kind == "cumulative_sum" else P.derivative
            steps.append(
                lambda df, fn=fn, p=body["buckets_path"], n=name: fn(
                    df, p, order_col, out=n
                )
            )
        elif kind == "bucket_sort":
            sort = [
                (c, (o.get("order", "asc") if isinstance(o, dict) else o) == "asc")
                for item in body.get("sort", [])
                for c, o in (
                    item.items() if isinstance(item, dict) else [(item, "asc")]
                )
            ]
            steps.append(
                lambda df, s=sort, sz=body.get("size"), fr=body.get("from", 0):
                P.bucket_sort(df, s or None, sz, fr)
            )
        elif kind == "bucket_script":
            steps.append(
                lambda df, b=body, n=name: P.bucket_script(
                    df, b["buckets_path"], b["script"], out=n
                )
            )
        elif kind == "bucket_selector":
            steps.append(
                lambda df, b=body: P.bucket_selector(
                    df, b["buckets_path"], b["script"]
                )
            )
        else:
            raise ValueError(f"unsupported pipeline sub-agg: {kind}")

    def post(df):
        for s in steps:
            df = s(df)
        return df

    return post


def _compile_agg(spec: dict):
    """One named agg spec -> (engine agg object, optional post-transform
    over the combined bucket DataFrame)."""
    from engine.aggs import RareTermsAgg, StatsAgg

    sub = spec.get("aggs") or spec.get("aggregations") or {}
    pipe_sub = {
        n: s for n, s in sub.items()
        if isinstance(s, dict) and any(k in s for k in _PIPELINE_SUBS)
    }
    sub = {n: s for n, s in sub.items() if n not in pipe_sub}
    for kind, col in _METRIC_COL.items():
        if kind in spec:
            fld = spec[kind]["field"]
            return StatsAgg(fld), lambda df, c=col: df.select(
                F.col(c).alias("value")
            )
    if "rare_terms" in spec:
        r = spec["rare_terms"]
        return RareTermsAgg(r["field"], r.get("max_doc_count", 1)), None
    if pipe_sub:
        (parent_kind,) = [k for k in spec if k not in ("aggs", "aggregations")]
        post = _pipeline_post(parent_kind, pipe_sub)
        agg, base_post = _compile_agg(
            {k: v for k, v in spec.items() if k not in ("aggs", "aggregations")}
            | ({"aggs": sub} if sub else {})
        )
        if base_post is not None:
            prior = base_post
            return agg, lambda df: post(prior(df))
        return agg, post
    return _compile_agg_obj(spec, sub), None


def _compile_agg_obj(spec: dict, sub: dict):
    """The non-pipeline, non-metric agg kinds -> engine agg object."""
    from engine.aggs import (
        CardinalityAgg,
        CompositeAgg,
        DateHistogramAgg,
        ExtendedStatsAgg,
        FiltersAgg,
        HistogramAgg,
        MissingAgg,
        MultiTermsAgg,
        PercentilesAgg,
        RangeAgg,
        StatsAgg,
        SubTermsAgg,
        TermsAgg,
        TopHitsAgg,
        WeightedAvgAgg,
    )

    if "multi_terms" in spec:
        mt = spec["multi_terms"]
        return MultiTermsAgg(
            tuple(t["field"] for t in mt["terms"]), mt.get("size", 10)
        )
    if "extended_stats" in spec:
        return ExtendedStatsAgg(spec["extended_stats"]["field"])
    if "weighted_avg" in spec:
        wa = spec["weighted_avg"]
        return WeightedAvgAgg(wa["value"]["field"], wa["weight"]["field"])
    if "terms" in spec:
        t = spec["terms"]
        if sub:
            ((_n, s),) = sub.items()
            if "terms" in s:
                return SubTermsAgg(
                    t["field"], s["terms"]["field"],
                    t.get("size", 10), s["terms"].get("size", 10),
                )
            if "stats" in s:
                return TermsAgg(t["field"], t.get("size", 10), s["stats"]["field"])
            if "top_hits" in s:
                th = s["top_hits"]
                srt = th.get("sort", [])
                fld, order = "", "asc"
                if srt:
                    ((fld, o),) = srt[0].items()
                    order = o.get("order", "asc") if isinstance(o, dict) else o
                return TopHitsAgg(
                    t["field"], t.get("size", 10), fld,
                    th.get("size", 3), order == "asc",
                )
            raise ValueError(f"unsupported terms sub-agg: {list(s)[0]}")
        return TermsAgg(t["field"], t.get("size", 10))
    if "range" in spec:
        r = spec["range"]
        return RangeAgg(
            r["field"],
            tuple((x.get("from"), x.get("to")) for x in r["ranges"]),
        )
    if "histogram" in spec:
        h = spec["histogram"]
        return HistogramAgg(h["field"], h["interval"])
    if "date_histogram" in spec:
        h = spec["date_histogram"]
        return DateHistogramAgg(
            h["field"], h.get("calendar_interval", h.get("interval", "day"))
        )
    if "auto_date_histogram" in spec:
        from engine.aggs import AutoDateHistogramAgg

        h = spec["auto_date_histogram"]
        return AutoDateHistogramAgg(h["field"], h.get("buckets", 10))
    if "stats" in spec:
        return StatsAgg(spec["stats"]["field"])
    if "cardinality" in spec:
        return CardinalityAgg(spec["cardinality"]["field"])
    if "percentiles" in spec:
        p = spec["percentiles"]
        return PercentilesAgg(
            p["field"], tuple(p.get("percents", (25.0, 50.0, 75.0, 95.0, 99.0)))
        )
    if "percentile_ranks" in spec:
        from engine.aggs import PercentileRanksAgg

        p = spec["percentile_ranks"]
        return PercentileRanksAgg(p["field"], tuple(p["values"]))
    if "missing" in spec:
        return MissingAgg(spec["missing"]["field"])
    if "composite" in spec:
        c = spec["composite"]
        sources = tuple(
            fld for src in c["sources"] for fld in (list(src.values())[0]["field"],)
        )
        after = c.get("after")
        return CompositeAgg(
            sources, c.get("size", 10), tuple(after) if after is not None else None
        )
    if "filters" in spec:
        named = tuple(
            (name, _clause_filters(cl if isinstance(cl, list) else [cl]))
            for name, cl in spec["filters"]["filters"].items()
        )
        return FiltersAgg(named)
    if "adjacency_matrix" in spec:
        from engine.aggs import AdjacencyMatrixAgg

        named = tuple(
            (name, _clause_filters(cl if isinstance(cl, list) else [cl]))
            for name, cl in spec["adjacency_matrix"]["filters"].items()
        )
        return AdjacencyMatrixAgg(named)
    if "date_range" in spec:
        from engine.aggs import DateRangeAgg

        r = spec["date_range"]
        return DateRangeAgg(
            r["field"],
            tuple((x.get("from"), x.get("to")) for x in r["ranges"]),
        )
    raise ValueError(f"unsupported aggregation: {sorted(spec)}")


def _unwrap(query: dict) -> dict:
    """ES `wrapper` query: base64-encoded JSON dispatched as if written
    inline (unwrapped repeatedly for nested wrappers)."""
    import base64
    import json as _json

    while isinstance(query, dict) and set(query) == {"wrapper"}:
        query = _json.loads(
            base64.b64decode(query["wrapper"]["query"]).decode()
        )
    return query


def _hits_df(reader, query: dict, k: int, filters: tuple):
    """_hits as the (url, doc_id, score) DataFrame (None for match_all)
    — the DataFrame edge for callers that compose it further."""
    from engine.query import _to_frame

    result = _hits(reader, query, k, filters)
    return None if result is None else _to_frame(reader.spark, result)


_DOCMAP_KINDS = (
    "constant_score", "ids", "rank_feature", "distance_feature", "exists",
    "range", "pinned",
)


def _docmap_kind(reader, query: dict) -> str | None:
    """The kind of a query _hits serves from an aggs.py docmap kernel
    (a ("df", (url, score)) result), else None."""
    for kind in _DOCMAP_KINDS:
        if kind in query:
            return kind
    if "term" in query and next(iter(query["term"])) not in reader.text_fields:
        return "term"
    if "terms" in query and _terms_field(query["terms"])[0] not in reader.text_fields:
        return "terms"
    return None


def _hits(reader, query: dict, k: int, filters: tuple):
    """Compile + run the scoring query -> its top-k result: the kernels'
    ("rows", [(url, doc_id, score)]) or ("df", DataFrame) — the aggs.py
    docmap kernels return ("df", (url, score) DataFrame). None for
    match_all: the caller decides between sort/agg/id paging."""
    from engine.query import (
        _bm25_bool_topk,
        _bm25_dismax_topk,
        _bm25_topk,
        _match_bool_prefix_topk,
        _match_phrase_prefix_topk,
        _match_phrase_topk,
        _mlt_topk,
        _result_rows,
        blend_dismax,
    )

    query = _unwrap(query)
    if "match_all" in query:
        return None
    if "match_none" in query:
        # ES match_none: the empty matched set, served through a
        # dead-term kernel run so the result schema matches every other
        # scoring query
        return _bm25_topk(reader, ["\x00match_none\x00"], k=k)
    if "synonym_match" in query:
        # frozen surface for ES search-time synonym_graph analysis: the
        # caller supplies the expanded synonym groups explicitly (the
        # reference declares synonyms in analyzer settings; this engine
        # takes them per-request) and scoring is Lucene SynonymQuery
        # blended stats (engine/query.py bm25_synonym_topk)
        ((fld, spec),) = query["synonym_match"].items()
        r = _text_reader(reader, fld, "synonym_match")
        from engine.query import _bm25_synonym_topk

        return _bm25_synonym_topk(
            r, spec["groups"], k=k,
            mode=spec.get("operator", "or").lower(),
            filters=filters,
        )
    if "multi_match" in query:
        m = query["multi_match"]
        specs = m.get("fields", [reader.field])
        flds = [f.split("^")[0] for f in specs]
        unknown = [f for f in flds if f not in reader.text_fields]
        if unknown:
            raise ValueError(
                f"multi_match fields {unknown} are not indexed "
                f"(text_fields={reader.text_fields})"
            )
        if m.get("fuzziness") is not None:
            # ES multi_match + fuzziness: each field runs its own
            # match-with-fuzziness (per-field dictionary expansion,
            # per-field stats), then ES blends per type — best_fields =
            # DisjunctionMaxQuery over the per-field legs (tie_breaker),
            # most_fields = bool should, i.e. the SUM of leg scores
            # (= the same blend with tie_breaker 1). Each leg compiles
            # UNBOUNDED so the blend is exact; filters ride every leg.
            # cross_fields/phrase types don't define fuzziness -> raise.
            mtype_ = m.get("type", "best_fields")
            if mtype_ not in ("best_fields", "most_fields"):
                raise ValueError(
                    f"multi_match type={mtype_} does not compose with "
                    "fuzziness (ES defines it for best_fields/most_fields)"
                )
            def _fuzzy_leg(fld: str) -> dict:
                return {"match": {fld: {
                    "query": m["query"], "fuzziness": m["fuzziness"],
                    "max_expansions": int(m.get("max_expansions", 50)),
                    "operator": m.get("operator", "or"),
                }}}
            if len(flds) == 1:
                return _hits(reader, _fuzzy_leg(flds[0]), k, filters)
            from engine.query import parse_field_boosts

            tb = (
                1.0 if mtype_ == "most_fields"
                else float(m.get("tie_breaker", 0.0))
            )
            legs = [
                [(u, d, s * boost) for u, d, s in _result_rows(
                    _hits(reader, _fuzzy_leg(name), 1 << 31, filters)
                )]
                for name, boost in parse_field_boosts(specs)
            ]
            return blend_dismax(legs, tb, k)
        if m.get("type") in ("phrase", "phrase_prefix", "bool_prefix"):
            kind_ = m["type"]
            slop_ = int(m.get("slop", 0))
            maxexp_ = int(m.get("max_expansions", 50))
            if len(flds) == 1:
                r = reader if flds[0] == reader.field else reader.for_field(flds[0])
                if kind_ == "phrase":
                    return _match_phrase_topk(
                        r, m["query"], k=k, slop=slop_, filters=filters
                    )
                if kind_ == "phrase_prefix":
                    return _match_phrase_prefix_topk(
                        r, m["query"], k=k, slop=slop_,
                        max_expansions=maxexp_, filters=filters,
                    )
                return _match_bool_prefix_topk(
                    r, m["query"], k=k, max_expansions=maxexp_,
                    filters=filters,
                )
            from engine.query import _bm25_multifield_phrase_topk

            # several fields: dis_max of per-field leg scores (Lucene
            # wraps each field's query in a DisjunctionMaxQuery)
            return _bm25_multifield_phrase_topk(
                reader, m["query"], specs, k=k, slop=slop_,
                tie_breaker=float(m.get("tie_breaker", 0.0)),
                filters=filters, kind=kind_, max_expansions=maxexp_,
            )
        from engine.oracle import analyze_query_py

        if len(flds) == 1:
            # one field: every type degenerates to that field's match score
            r = reader if flds[0] == reader.field else reader.for_field(flds[0])
            return _bm25_topk(
                r, analyze_query_py(m["query"]), k=k,
                mode=m.get("operator", "or"), filters=filters,
            )
        # true multi-field: per-field postings + stats, blended per type;
        # filter context composes as the post-blend docvalue mask
        # (engine/query._mf_shard_topk local_filter); operator=and per
        # _mf_shard_topk's n_required semantics
        from engine.query import _bm25_multifield_topk

        msm_ = m.get("minimum_should_match")
        return _bm25_multifield_topk(
            reader, m["query"], specs, k=k,
            mtype=m.get("type", "best_fields"),
            tie_breaker=float(m.get("tie_breaker", 0.0)),
            filters=filters,
            operator=m.get("operator", "or").lower(),
            minimum_should_match=int(msm_) if msm_ is not None else None,
        )
    if "combined_fields" in query:
        # ES combined_fields: the listed fields score as ONE synthetic
        # field (Lucene CombinedFieldQuery — boost-weighted tf and length
        # sums under a blended max-df idf; engine/query._mf_shard_topk)
        m = query["combined_fields"]
        specs = m.get("fields", [reader.field])
        flds = [f.split("^")[0] for f in specs]
        unknown = [f for f in flds if f not in reader.text_fields]
        if unknown:
            raise ValueError(
                f"combined_fields fields {unknown} are not indexed "
                f"(text_fields={reader.text_fields})"
            )
        from engine.query import _bm25_multifield_topk

        return _bm25_multifield_topk(
            reader, m["query"], specs, k=k, mtype="combined_fields",
            filters=filters,
            operator=m.get("operator", "or").lower(),
        )
    if "constant_score" in query:
        from engine.aggs import constant_score_topk

        cs = query["constant_score"]
        return "df", constant_score_topk(
            reader, _clause_filters([cs["filter"]]) + filters,
            boost=float(cs.get("boost", 1.0)), k=k,
        )
    if "ids" in query:
        from engine.aggs import ids_topk

        return "df", ids_topk(reader, query["ids"]["values"], k=k, filters=filters)
    if "terms_set" in query:
        from engine.query import _terms_set_topk

        ((fld, spec),) = query["terms_set"].items()
        r = _text_reader(reader, fld, "terms_set")
        return _terms_set_topk(
            r, list(spec["terms"]), spec["minimum_should_match_field"],
            k=k, filters=filters,
        )
    if "match_bool_prefix" in query:
        ((fld, spec),) = query["match_bool_prefix"].items()
        r = _text_reader(reader, fld, "match_bool_prefix")
        text = spec["query"] if isinstance(spec, dict) else spec
        return _match_bool_prefix_topk(r, text, k=k, filters=filters)
    if "rank_feature" in query:
        from engine.aggs import rank_feature_topk

        rf = query["rank_feature"]
        pivot = rf.get("saturation", {}).get("pivot")
        if pivot is None:
            raise ValueError(
                "rank_feature requires saturation.pivot (the frozen function)"
            )
        return "df", rank_feature_topk(
            reader, rf["field"], pivot=float(pivot),
            boost=float(rf.get("boost", 1.0)), k=k, filters=filters,
        )
    if "distance_feature" in query:
        df_ = query["distance_feature"]
        from engine.aggs import distance_feature_topk

        return "df", distance_feature_topk(
            reader, df_["field"], origin=df_["origin"], pivot=df_["pivot"],
            boost=float(df_.get("boost", 1.0)), k=k, filters=filters,
        )
    if "exists" in query or "range" in query:
        # bare filter-ish queries in query context: constant score 1.0
        from engine.aggs import constant_score_topk

        return "df", constant_score_topk(
            reader, _clause_filters([query]) + filters, boost=1.0, k=k
        )
    if "term" in query and next(iter(query["term"])) not in reader.text_fields:
        # term on a DOCVALUE (keyword-ish) field: constant score 1.0
        # (x the clause boost); term on any indexed text field falls
        # through to the BM25 scoring path (_match_terms) below
        from engine.aggs import constant_score_topk

        return "df", constant_score_topk(
            reader, _clause_filters([query]) + filters,
            boost=_spec_boost(next(iter(query["term"].values()))), k=k
        )
    if "terms" in query and _terms_field(query["terms"])[0] not in reader.text_fields:
        # terms on a DOCVALUE field in query context (ES TermInSetQuery):
        # constant score 1.0 x the clause-level boost; terms on an
        # indexed text field falls through to the scoring path below
        from engine.aggs import constant_score_topk

        return "df", constant_score_topk(
            reader, _clause_filters([query]) + filters,
            boost=float(query["terms"].get("boost", 1.0)), k=k,
        )
    if "match_phrase" in query:
        ((fld, spec),) = query["match_phrase"].items()
        if fld not in reader.text_fields:
            raise ValueError(
                f"match_phrase on field {fld!r}: not an indexed text field "
                f"(indexed: {reader.text_fields})"
            )
        r = reader if fld == reader.field else reader.for_field(fld)
        text = spec["query"] if isinstance(spec, dict) else spec
        slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
        return _boost_scaled(
            _match_phrase_topk(r, text, k=k, slop=slop, filters=filters),
            _spec_boost(spec),
        )
    if "match_phrase_prefix" in query:
        ((fld, spec),) = query["match_phrase_prefix"].items()
        if fld not in reader.text_fields:
            raise ValueError(
                f"match_phrase_prefix on field {fld!r}: not an indexed text "
                f"field (indexed: {reader.text_fields})"
            )
        r = reader if fld == reader.field else reader.for_field(fld)
        text = spec["query"] if isinstance(spec, dict) else spec
        return _boost_scaled(_match_phrase_prefix_topk(
            r, text, k=k,
            slop=int(spec.get("slop", 0)) if isinstance(spec, dict) else 0,
            max_expansions=(
                int(spec.get("max_expansions", 50)) if isinstance(spec, dict) else 50
            ),
            filters=filters,
        ), _spec_boost(spec))
    if "bool" in query:
        b = query["bool"]
        filt = _clause_filters(b.get("filter", [])) + filters
        must_c = b.get("must", [])
        must_c = must_c if isinstance(must_c, list) else [must_c]
        should_c = b.get("should", [])
        should_c = should_c if isinstance(should_c, list) else [should_c]
        not_c = b.get("must_not", [])
        not_c = not_c if isinstance(not_c, list) else [not_c]
        def _flattenable(c) -> bool:
            # match/term/terms clauses flatten into the bool kernel's term
            # lists — EXCEPT a match carrying minimum_should_match or
            # fuzziness, whose sub-clause semantics the flatten would
            # silently drop
            if not any(kk in c for kk in ("match", "term", "terms")):
                return False
            spec = next(iter(c["match"].values())) if "match" in c else None
            if _clause_boost(c) != 1.0:
                return False
            return not (
                isinstance(spec, dict)
                and (
                    spec.get("minimum_should_match")
                    or spec.get("fuzziness") is not None
                )
            )

        if (
            len(must_c) == 1 and not should_c and not not_c
            and isinstance(must_c[0], dict)
            and not _flattenable(must_c[0])
        ):
            # ES bool {must: <ONE non-term scoring query>, filter: [...]}:
            # recurse with the merged filter context — multi_match /
            # combined_fields compose via their post-blend docvalue mask;
            # kinds that can't compose raise their own documented
            # divergence instead of _match_terms' misleading field error
            return _hits(reader, must_c[0], k, filt)
        af = tuple(reader.text_fields)
        pm = [_match_terms(c, allowed=af, reject_boost=True) for c in must_c]
        ps = [_match_terms(c, allowed=af, reject_boost=True) for c in should_c]
        pn = [_match_terms(c, allowed=af, reject_boost=True) for c in not_c]
        bflds = {x[3] for x in pm + ps + pn}
        if len(bflds) > 1:
            raise ValueError(
                f"bool term clauses must all name ONE field (got "
                f"{sorted(bflds)}; cross-field bool scoring is a "
                "documented divergence — use multi_match)"
            )
        br = _text_reader(reader, bflds.pop(), "bool") if bflds else reader
        must = [t for x in pm for t in x[0]]
        should = [t for x in ps for t in x[0]]
        must_not = [t for x in pn for t in x[0]]
        if not (should or must_not):
            # FROZEN flatten contract (documented divergence): must
            # clauses flatten to ONE conjunctive term list, so a single
            # multi-term match under must is AND — stricter than the
            # bare clause's operator=or default (ES intersects CLAUSE
            # matched sets, not tokens). Deterministic, kernel-oracled
            # (bm25_bool_filtered_topk twin), and frozen since round 1;
            # write the bare match (or operator=and) for ES-default OR.
            return _bm25_topk(br, must, k=k, mode="and", filters=filt)
        return _bm25_bool_topk(
            br, must=must, should=should, must_not=must_not, k=k,
            minimum_should_match=b.get("minimum_should_match"),
            filters=filt,
        )
    if "span_term" in query:
        # a lone unit span scores exactly like the term query (Lucene:
        # SpanTermQuery freq == tf when every match weighs 1).
        # _span_clauses (below) parses clause lists for the composite
        # span kinds: span_term blocks stay single-term slots, span_or
        # blocks of span_terms become alternative slots.
        ((fld, spec),) = query["span_term"].items()
        r = _text_reader(reader, fld, "span_term")
        value = spec["value"] if isinstance(spec, dict) else spec
        return _bm25_topk(r, [value], k=k, filters=filters)
    if "span_near" in query:
        s = query["span_near"]
        from engine.spans import _span_near_topk

        flds: set = set()
        slots = _span_clauses(s["clauses"], flds)
        r = _text_reader(reader, flds.pop(), "span_near")
        return _span_near_topk(
            r, slots, k=k,
            slop=int(s.get("slop", 0)),
            in_order=bool(s.get("in_order", True)),
            filters=filters,
        )
    if "span_or" in query:
        # top-level span_or: one slot of alternatives (unit spans)
        s = query["span_or"]
        flds: set = set()
        (alts,) = _span_clauses([{"span_or": s}], flds)
        from engine.spans import _span_or_topk

        r = _text_reader(reader, flds.pop(), "span_or")
        return _span_or_topk(r, alts, k=k, filters=filters)
    if "span_not" in query:
        s = query["span_not"]
        inc = s["include"]
        flds: set = set()
        if "span_near" in inc:
            include = _span_clauses(inc["span_near"]["clauses"], flds)
            slop = int(inc["span_near"].get("slop", 0))
            in_order = bool(inc["span_near"].get("in_order", True))
        else:
            include = _span_clauses([inc], flds)
            slop, in_order = 0, True
        exc = s["exclude"]
        if "span_or" in exc:
            exclude = _span_clauses([exc], flds)[0]
        elif "span_term" in exc:
            exclude = _span_clauses([exc], flds)[0]
        else:
            raise ValueError(
                "span_not exclude must be span_term or span_or of span_terms"
            )
        from engine.spans import _span_not_topk

        r = _text_reader(reader, flds.pop(), "span_not")
        return _span_not_topk(
            r, include, exclude, k=k, slop=slop, in_order=in_order,
            pre=int(s.get("pre", s.get("dist", 0))),
            post=int(s.get("post", s.get("dist", 0))),
            filters=filters,
        )
    if "span_first" in query:
        s = query["span_first"]
        m = s["match"]
        if set(m) != {"span_term"}:
            raise ValueError(
                "span_first match must be a span_term block "
                "(nested spans are a documented divergence)"
            )
        ((fld, spec),) = m["span_term"].items()
        r = _text_reader(reader, fld, "span_first")
        from engine.spans import _span_first_topk

        return _span_first_topk(
            r,
            spec["value"] if isinstance(spec, dict) else spec,
            end=int(s["end"]), k=k, filters=filters,
        )
    if "intervals" in query:
        # ES intervals query over a positional index, routed onto the
        # span engine. Supported rules (frozen subset): `match` with
        # max_gaps/ordered, and `all_of` whose sub-intervals are
        # single-term `match` rules. The MATCHING set is identical to
        # Lucene's (an interval of width <= max_gaps exists iff a span of
        # slop <= max_gaps exists); SCORING is the span engine's frozen
        # combinatorial-span weighting, a documented divergence from
        # Lucene's minimal-interval 1/(1+width) freq. max_gaps must be
        # >= 0 (ES's -1 = unlimited would make the combinatorial span
        # count unbounded; use a bool/match query for pure conjunction).
        ((fld, rule),) = query["intervals"].items()
        r = _text_reader(reader, fld, "intervals")

        def _anyof_alts(a_: dict) -> list:
            """any_of whose sub-intervals are single-term match rules ->
            one slot of alternatives (Lucene: the interval matches where
            ANY alternative does — exactly a span_or slot)."""
            alts: list = []
            for sub in a_["intervals"]:
                st, sg, _so = _rule_slots(sub)
                if (
                    len(st) != 1 or not isinstance(st[0], str)
                    or sg not in (-1, 0)
                ):
                    raise ValueError(
                        "any_of sub-intervals must be single-term match "
                        "rules (nested composites are a documented "
                        "divergence)"
                    )
                alts.append(st[0])
            return alts

        def _rule_slots(r_: dict) -> tuple[list, int, bool]:
            """rule -> (slots, max_gaps, ordered); a slot is a term (str)
            or an alternatives list (from any_of)."""
            if "match" in r_:
                m_ = r_["match"]
                from engine.oracle import analyze_query_py as _an

                return (
                    list(_an(m_["query"])),
                    int(m_.get("max_gaps", -1)),
                    bool(m_.get("ordered", False)),
                )
            if "any_of" in r_:
                return [_anyof_alts(r_["any_of"])], -1, False
            if "all_of" in r_:
                a_ = r_["all_of"]
                slots_: list = []
                for sub in a_["intervals"]:
                    st, sg, _so = _rule_slots(sub)
                    if len(st) != 1 or sg not in (-1, 0):
                        raise ValueError(
                            "all_of sub-intervals must be single-term "
                            "match or any_of rules (nested gaps are a "
                            "documented divergence)"
                        )
                    slots_.append(st[0])
                return (
                    slots_,
                    int(a_.get("max_gaps", -1)),
                    bool(a_.get("ordered", False)),
                )
            raise ValueError(f"unsupported intervals rule: {sorted(r_)}")

        iv_slots, max_gaps, ordered = _rule_slots(rule)
        from engine.spans import _span_near_topk, _span_or_topk

        if len(iv_slots) == 1:
            slot0 = iv_slots[0]
            if isinstance(slot0, list):
                # a lone any_of: matches where any alternative occurs
                return _span_or_topk(r, slot0, k=k, filters=filters)
            return _bm25_topk(r, [slot0], k=k, filters=filters)
        if max_gaps < 0:
            raise ValueError(
                "intervals needs max_gaps >= 0 (unlimited gaps would make "
                "the span count unbounded; use bool/match for conjunction)"
            )
        return _span_near_topk(
            r, iv_slots, k=k, slop=max_gaps, in_order=ordered,
            filters=filters,
        )
    if "simple_query_string" in query:
        s = query["simple_query_string"]
        flds = s.get("fields", ["text"])
        if len(flds) == 1 and flds[0].split("^")[1:] in ([], ["1.0"], ["1"]):
            r = _text_reader(
                reader, flds[0].split("^")[0], "simple_query_string"
            )
            from engine.querystring import _simple_query_string_topk

            return _simple_query_string_topk(
                r, s["query"], k=k,
                default_operator=s.get("default_operator", "or").lower(),
                filters=filters,
            )
        # several (or boosted) fields: Lucene SimpleQueryParser field
        # weights — per-clause SUM across per-field legs
        from engine.querystring import _sqs_multifield_topk

        return _sqs_multifield_topk(
            reader, s["query"], flds, k=k,
            default_operator=s.get("default_operator", "or").lower(),
            filters=filters,
        )
    if "query_string" in query:
        s = query["query_string"]
        dflt = s.get("default_field")
        flds = s.get("fields", [dflt or "text"])
        if len(flds) == 1 and flds[0].split("^")[1:] in ([], ["1.0"], ["1"]):
            fld = flds[0].split("^")[0]
            if dflt is not None and dflt != fld:
                raise ValueError(
                    "query_string default_field conflicts with fields"
                )
            r = _text_reader(reader, fld, "query_string")
            from engine.querystring import _query_string_topk

            return _query_string_topk(
                r, s["query"], k=k,
                default_operator=s.get("default_operator", "or").lower(),
                max_expansions=int(s.get("fuzzy_max_expansions", 50)),
                filters=filters,
            )
        # several (or boosted) fields: every LEAF becomes a dis_max over
        # the per-field sub-queries (ES type=best_fields + tie_breaker;
        # most_fields = the same blend with tie_breaker 1)
        if dflt is not None:
            raise ValueError("query_string default_field conflicts with fields")
        qtype = s.get("type", "best_fields")
        if qtype not in ("best_fields", "most_fields"):
            raise ValueError(
                f"query_string type={qtype} is not composed over several "
                "fields (best_fields/most_fields only)"
            )
        tb = (
            1.0 if qtype == "most_fields"
            else float(s.get("tie_breaker", 0.0))
        )
        from engine.querystring import _qs_multifield_topk

        return _qs_multifield_topk(
            reader, s["query"], flds, k=k,
            default_operator=s.get("default_operator", "or").lower(),
            tie_breaker=tb,
            max_expansions=int(s.get("fuzzy_max_expansions", 50)),
            filters=filters,
        )
    if "boosting" in query:
        bq = query["boosting"]
        af = tuple(reader.text_fields)
        pos, _op, _m, pfld = _match_terms(bq["positive"], allowed=af, reject_boost=True)
        neg, _op2, _m2, nfld = _match_terms(bq["negative"], allowed=af, reject_boost=True)
        if pfld != nfld:
            raise ValueError(
                "boosting positive and negative clauses must name ONE "
                "field (cross-field demotion is a documented divergence)"
            )
        from engine.query import _bm25_boosting_topk

        return _bm25_boosting_topk(
            _text_reader(reader, pfld, "boosting"), pos, neg,
            negative_boost=float(bq.get("negative_boost", 0.5)),
            k=k, filters=filters,
        )
    if "dis_max" in query:
        # Two frozen routings (documented split):
        # 1. ALL-term legs on ONE field, no filter context -> the
        #    reference's multi-field mapping analog: the union terms
        #    blended across the per-field SCORING VARIANTS
        #    (bm25_dismax_topk default/nonorms/doconly,
        #    search_scheme.json:140-180) — the original DSL contract,
        #    kept for back-compat (test_field_lift freezes it).
        # 2. Every other shape — cross-field legs, non-term legs
        #    (match_phrase, prefix, bool, ...), or ANY filter context —
        #    follows ES DisjunctionMaxQuery per-LEG semantics: each leg
        #    compiles through this dispatcher UNBOUNDED (k = 2^31, full
        #    match set, so tie_breaker is exact), filters ride every
        #    leg (identical docvalue mask -> identical restriction),
        #    blend = max + tie_breaker * rest
        #    (engine/query.py blend_dismax, the same helper the
        #    multi-field phrase kinds use). Shapes that previously
        #    raised ("legs must name ONE field") or silently dropped
        #    the filter context now compose.
        # Scale note: the general path materializes FULL leg match sets
        # driver-side (exactness contract). At 10^12 docs the per-shard
        # blended kernel is the shape to use — multi_match best_fields
        # (engine/query.py _mf_shard_topk) covers the common cross-field
        # term-leg case with the blend computed NEXT TO the postings;
        # the general path serves the long tail of heterogeneous legs.
        d = query["dis_max"]
        af = tuple(reader.text_fields)
        legs = d["queries"]
        tb = float(d.get("tie_breaker", 0.0))
        if not filters:
            try:
                parsed = [_match_terms(c, allowed=af, reject_boost=True) for c in legs]
            except ValueError:
                parsed = None
            if parsed is not None and len({pf[3] for pf in parsed}) == 1:
                terms = [t for pf in parsed for t in pf[0]]
                return _bm25_dismax_topk(
                    _text_reader(reader, parsed[0][3], "dis_max"), terms,
                    k=k, tie_breaker=tb,
                )
        if any("match_all" in leg for leg in legs):
            raise ValueError(
                "dis_max does not compose a match_all leg (a "
                "constant-score leg over the whole corpus)"
            )
        for leg in legs:
            kind = _docmap_kind(reader, _unwrap(leg))
            if kind is not None:
                raise ValueError(
                    f"dis_max does not compose a {kind} leg (a docmap "
                    "kernel's rows carry no doc_id to blend on)"
                )
        return blend_dismax(
            [_result_rows(_hits(reader, leg, 1 << 31, filters)) for leg in legs],
            tb, k,
        )
    if "more_like_this" in query:
        m = query["more_like_this"]
        mlf = m.get("fields", [reader.field])
        like = m["like"] if isinstance(m["like"], str) else m["like"][0]
        if len(mlf) == 1:
            return _mlt_topk(
                _text_reader(reader, mlf[0], "more_like_this"), like,
                max_query_terms=m.get("max_query_terms", 5), k=k,
                filters=filters,
            )
        # several fields: global (field, term) selection + per-field
        # bool-should sum (engine/query.py mlt_multifield_topk)
        from engine.query import _mlt_multifield_topk

        return _mlt_multifield_topk(
            reader, like, mlf,
            max_query_terms=m.get("max_query_terms", 5), k=k,
            filters=filters,
        )
    if "pinned" in query:
        p = query["pinned"]
        terms, op, _, ofld = _match_terms(
            p["organic"], allowed=tuple(reader.text_fields),
            reject_boost=True,
        )
        from engine.aggs import pinned_topk

        return "df", pinned_topk(
            _text_reader(reader, ofld, "pinned"), p["ids"], terms, k=k,
            mode=op, filters=filters
        )
    if "script_score" in query:
        f = query["script_score"]
        inner = f.get("query", {"match_all": {}})
        terms, op, _, sfld = (
            _match_terms(inner, allowed=tuple(reader.text_fields), reject_boost=True)
            if "match_all" not in inner else ([], "or", None, reader.field)
        )
        if not terms:
            raise ValueError("script_score needs a match/term query")
        return _bm25_topk(
            _text_reader(reader, sfld, "script_score"), terms, k=k,
            mode=op, filters=filters,
            script=f["script"]["source"],
        )
    if "function_score" in query:
        f = query["function_score"]
        fvf = f["field_value_factor"]
        inner = f.get("query", {"match_all": {}})
        terms, op, _, ffld = (
            _match_terms(inner, allowed=tuple(reader.text_fields), reject_boost=True)
            if "match_all" not in inner else ([], "or", None, reader.field)
        )
        if not terms:
            raise ValueError("function_score needs a match/term query")
        return _bm25_topk(
            _text_reader(reader, ffld, "function_score"), terms, k=k,
            mode=op, filters=filters,
            boost=(fvf["field"], fvf.get("factor", 1.0)),
        )
    for kind in ("prefix", "wildcard", "regexp", "fuzzy"):
        if kind in query:
            ((fld, spec),) = query[kind].items()
            r = _text_reader(reader, fld, kind)
            v = spec["value"] if isinstance(spec, dict) else spec
            return _boost_scaled(
                _bm25_topk(r, v, k=k, mode=kind, filters=filters),
                _spec_boost(spec),
            )
    terms, op, msm, fld = _match_terms(query, allowed=tuple(reader.text_fields))
    r = reader if fld == reader.field else reader.for_field(fld)
    if "match" in query and not terms:
        spec0 = next(iter(query["match"].values()))
        if (
            isinstance(spec0, dict)
            and spec0.get("zero_terms_query", "none") == "all"
        ):
            # ES zero_terms_query=all: a query that analyzes to nothing
            # matches every doc (match_all semantics — None routes the
            # caller onto the match_all paging path); default "none"
            # falls through to the empty result below
            return None
    qboost = _clause_boost(query)

    def _scaled(result):
        # ES clause boost on a TOP-LEVEL match/term/terms (composite
        # contexts fail closed in _match_terms instead)
        return _boost_scaled(result, qboost)

    if "match" in query:
        spec_ = next(iter(query["match"].values()))
        fz = spec_.get("fuzziness") if isinstance(spec_, dict) else None
        if fz is not None:
            # ES match + fuzziness: each analyzed token rewrites to its
            # dictionary expansions (AUTO or explicit edits, per-token
            # 50-cap df-ordered — the frozen scoring_boolean rewrite the
            # fuzzy query mode uses), then one ranked OR union. Frozen
            # divergences: operator=and / minimum_should_match over fuzzy
            # groups are not composed (raise), and expansions score with
            # their own idf (not ES's top_terms_blended_freqs blend).
            if op != "or" or msm is not None:
                raise ValueError(
                    "match fuzziness composes with operator=or only "
                    "(no minimum_should_match; documented divergence)"
                )
            me = None if str(fz).upper() == "AUTO" else int(fz)
            mx = int(spec_.get("max_expansions", 50))
            expanded = list(dict.fromkeys(
                e for t in terms
                for e in r.expand_fuzzy(t, max_edits=me, max_expansions=mx)
            ))
            return _scaled(_bm25_topk(r, expanded, k=k, mode="or", filters=filters))
    if msm is not None:
        return _scaled(_bm25_bool_topk(
            r, should=terms, k=k, minimum_should_match=msm, filters=filters
        ))
    return _scaled(_bm25_topk(r, terms, k=k, mode=op, filters=filters))


def _rescore(reader, query: dict, spec, k: int, filters=()):
    """Compile the ES `rescore` block (query rescorer, phrase rescore
    query) to engine.query._rescore_topk over the base match/term query.
    `filters` (the body's post_filter, compiled): Lucene applies the
    post_filter at hit COLLECTION, before the rescore phase — so the
    rescore window is the top window_size of (base query ∩ filter),
    which is exactly rescore_topk's filtered base kernel."""
    from engine.query import _rescore_topk

    if isinstance(spec, list):  # ES accepts a list of rescorers; one supported
        if len(spec) != 1:
            raise ValueError("exactly one rescore block is supported")
        spec = spec[0]
    q = spec["query"]
    rq = q["rescore_query"]
    if "match_phrase" not in rq:
        raise ValueError("rescore_query supports match_phrase (phrase rescorer)")
    ((fld, pspec),) = rq["match_phrase"].items()
    r = _text_reader(reader, fld, "match_phrase rescorer")
    text = pspec["query"] if isinstance(pspec, dict) else pspec
    slop = int(pspec.get("slop", 0)) if isinstance(pspec, dict) else 0
    terms, op, msm, bfld = _match_terms(
        query, allowed=tuple(reader.text_fields), reject_boost=True
    )
    if msm is not None:
        raise ValueError("rescore over minimum_should_match is not composed")
    if bfld != fld:
        raise ValueError(
            f"rescore base query field {bfld!r} must equal the rescorer "
            f"field {fld!r} (cross-field rescore is a documented divergence)"
        )
    return _rescore_topk(
        r, terms, text, k=k,
        window_size=int(spec.get("window_size", 10)),
        query_weight=float(q.get("query_weight", 1.0)),
        rescore_weight=float(q.get("rescore_query_weight", 1.0)),
        slop=slop, mode=op, filters=filters,
    )


def _collect_named(query: dict) -> list[tuple]:
    """ES named queries: walk the body for `_name`d clauses. Frozen
    scope: match/term clauses on the text field (postings membership)
    and term clauses on docvalue fields in bool.filter (value equality);
    must_not naming is a documented divergence (ES reports a must_not's
    name when the inner clause does NOT match — inverted bookkeeping this
    dispatcher doesn't carry). Returns [(name, kind, payload)] in clause
    order: kind 'text' -> (terms, op); kind 'dv' -> (field, value)."""
    from engine.oracle import analyze_query_py

    out: list[tuple] = []

    def scan(clause: dict):
        if "match" in clause:
            ((fld, spec),) = clause["match"].items()
            if isinstance(spec, dict) and "_name" in spec and fld == "text":
                out.append((
                    spec["_name"], "text",
                    (analyze_query_py(spec["query"]), spec.get("operator", "or")),
                ))
        elif "term" in clause:
            ((fld, spec),) = clause["term"].items()
            if isinstance(spec, dict) and "_name" in spec:
                if fld == "text":
                    out.append((spec["_name"], "text", ([str(spec["value"])], "or")))
                else:
                    out.append((spec["_name"], "dv", (fld, spec["value"])))

    scan(query)
    b = query.get("bool", {})
    for key in ("must", "should", "filter"):
        cs = b.get(key, [])
        for c in cs if isinstance(cs, list) else [cs]:
            scan(c)
    return out


def _attach_matched_queries(reader, query: dict, hits: list) -> None:
    """Evaluate the body's named clauses for exactly the page's hits and
    attach each hit's `matched_queries` array (ES response contract).
    Text clauses share ONE bucket-pruned postings probe
    (engine/query.py matched_queries); docvalue clauses share one mget."""
    named = _collect_named(query)
    if not named or not hits:
        return
    from engine.query import matched_queries as _mq
    from engine.query import mget as _mget

    urls = [h["_id"] for h in hits]
    text_named = {n: p for n, k, p in named if k == "text"}
    text_hits = _mq(reader, urls, text_named) if text_named else {}
    dv_fields = sorted({p[0] for _n, k, p in named if k == "dv"})
    dv_rows = (
        {r["url"]: r for r in _mget(reader, urls, fields=dv_fields).collect()}
        if dv_fields else {}
    )
    for h in hits:
        got = []
        for n, k, p in named:
            if k == "text":
                if n in text_hits.get(h["_id"], []):
                    got.append(n)
            else:
                r = dv_rows.get(h["_id"])
                if r is not None and r["found"] and r[p[0]] == p[1]:
                    got.append(n)
        h["matched_queries"] = got


def _phrase_context_spec(reader, query: dict):
    """(field_view_reader, phrase_text, slop) when the query context is a
    plain match_phrase (optionally wrapped in a single-must bool whose
    filter the caller extracts), else None — the shape the sampler's
    scored-matcher lift (engine.query.phrase_scored_matcher) accepts."""
    if "bool" in query:
        b = query["bool"]
        must_c = b.get("must", [])
        must_c = must_c if isinstance(must_c, list) else [must_c]
        if (
            len(must_c) == 1 and not b.get("should") and not b.get("must_not")
            and isinstance(must_c[0], dict) and "match_phrase" in must_c[0]
        ):
            return _phrase_context_spec(reader, must_c[0])
    if "match_phrase" not in query:
        return None
    ((fld, spec),) = query["match_phrase"].items()
    r = _text_reader(reader, fld, "match_phrase")
    text = spec["query"] if isinstance(spec, dict) else spec
    slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
    return r, text, slop


def _mm_context_matcher(reader, key: str, m: dict):
    """(src, matcher, needs_pos) for a multi_match / combined_fields
    query CONTEXT (aggs / sort / _count / scroll), or None when the
    matched set is empty everywhere by construction. Raises for
    unindexed fields and for shapes whose SCORING path is a documented
    divergence (fuzziness beyond best/most_fields operator=or)."""
    if m.get("fuzziness") is not None:
        # fuzzy context (round-5 lift): the fuzzy blend's leg is a
        # ranked OR union of each token's per-FIELD dictionary
        # expansions, so the matched set is "any expansion in any
        # field" — the same union-matcher law as bool_prefix
        from engine.oracle import analyze_query_py
        from engine.query import multifield_union_matcher

        if (
            m.get("type", "best_fields") not in ("best_fields", "most_fields")
            or m.get("operator", "or").lower() != "or"
            or m.get("minimum_should_match")
        ):
            raise ValueError(
                f"{key} fuzziness context composes with "
                "best_fields/most_fields operator=or only (the scoring "
                "path's documented divergence)"
            )
        toks = analyze_query_py(m["query"])
        if not toks:
            return None
        me = (
            None if str(m["fuzziness"]).upper() == "AUTO"
            else int(m["fuzziness"])
        )
        mx = int(m.get("max_expansions", 50))
        tbf = {}
        for spec_f in m.get("fields", [reader.field]):
            f = spec_f.split("^")[0]
            r = _text_reader(reader, f, key)
            tbf[f] = list(dict.fromkeys(
                e for t in toks
                for e in r.expand_fuzzy(t, max_edits=me, max_expansions=mx)
            ))
        ctx = multifield_union_matcher(
            reader, m.get("fields", [reader.field]), tbf
        )
        return None if ctx is None else (*ctx, False)
    if m.get("type") in ("phrase", "phrase_prefix"):
        # dis_max of per-field match_phrase / match_phrase_prefix: the
        # matched set is the UNION of the fields' matching docs
        from engine.query import multifield_phrase_matcher

        ctx = multifield_phrase_matcher(
            reader, m.get("fields", [reader.field]), m["query"],
            slop=int(m.get("slop", 0)), kind=m["type"],
            max_expansions=int(m.get("max_expansions", 50)),
        )
        return None if ctx is None else (*ctx, True)
    if m.get("type") == "bool_prefix":
        # dis_max of per-field match_bool_prefix OR unions: matched =
        # any head term OR any last-token expansion, in any field
        from engine.oracle import analyze_query_py
        from engine.query import multifield_union_matcher

        if m.get("operator", "or").lower() != "or" or m.get(
            "minimum_should_match"
        ):
            raise ValueError(
                f"{key} bool_prefix context composes with operator=or "
                "only (and/msm over a prefix union is a documented "
                "divergence)"
            )
        toks = analyze_query_py(m["query"])
        if not toks:
            return None
        head, pre = toks[:-1], toks[-1]
        maxexp = int(m.get("max_expansions", 50))
        tbf = {}
        for spec_f in m.get("fields", [reader.field]):
            f = spec_f.split("^")[0]
            r = _text_reader(reader, f, key)
            tbf[f] = list(dict.fromkeys(
                head + list(r.expand_prefix(pre, maxexp))
            ))
        ctx = multifield_union_matcher(
            reader, m.get("fields", [reader.field]), tbf
        )
        return None if ctx is None else (*ctx, False)
    from engine.query import multifield_matcher

    msm_ = m.get("minimum_should_match")
    ctx = multifield_matcher(
        reader, m.get("fields", [reader.field]), m["query"],
        mtype=(m.get("type", "best_fields") if key == "multi_match"
               else "combined_fields"),
        operator=m.get("operator", "or").lower(),
        minimum_should_match=int(msm_) if msm_ is not None else None,
    )
    return None if ctx is None else (*ctx, False)


def _agg_context(reader, query: dict):
    """(reader, terms, mode, matcher, needs_pos, src) of the aggs matched
    set — the term-query kinds pass through _query_terms_or_none;
    match_phrase (exact or sloppy) supplies a per-shard positional
    matcher (engine.query.phrase_matcher: docs with phrase freq > 0);
    multi_match / combined_fields supply a multi-field matcher + union
    postings source (engine.query.multifield_matcher: the per-type
    matched-set laws over field-tagged rows) — so {"query":
    {"match_phrase"|"multi_match": ...}, "aggs"|"sort"|...} composes.
    The returned reader is the query field's per-field view (shared
    docmap, so the matched doc set composes with the caller's sort/agg
    columns). The matched set is computed per shard next to its
    postings — never collected."""
    query = _unwrap(query)
    if "bool" in query:
        # bool {must: [ONE non-term query], filter: [...]}: the filter is
        # extracted by the caller (_clause_filters) — recurse on the
        # clause so phrase/multi-field + filter + aggs composes
        b = query["bool"]
        must_c = b.get("must", [])
        must_c = must_c if isinstance(must_c, list) else [must_c]
        if (
            len(must_c) == 1 and not b.get("should") and not b.get("must_not")
            and isinstance(must_c[0], dict)
            and (
                "match_phrase" in must_c[0] or "multi_match" in must_c[0]
                or "combined_fields" in must_c[0]
                or "match_bool_prefix" in must_c[0]
                or "dis_max" in must_c[0]
                or "more_like_this" in must_c[0]
                or (
                    "match" in must_c[0]
                    and isinstance(next(iter(must_c[0]["match"].values())), dict)
                    and next(iter(must_c[0]["match"].values())).get("fuzziness")
                    is not None
                )
            )
        ):
            return _agg_context(reader, must_c[0])
    if "match" in query:
        ((fld_, spec_),) = query["match"].items()
        if isinstance(spec_, dict) and spec_.get("fuzziness") is not None:
            # match + fuzziness context (round-5 fix: the exact-term path
            # would SILENTLY drop the expansion): matched set = docs
            # holding ANY of the tokens' dictionary expansions — the
            # ranked-OR rewrite's matched set, as a plain term list
            if (
                spec_.get("operator", "or").lower() != "or"
                or spec_.get("minimum_should_match")
            ):
                raise ValueError(
                    "match fuzziness composes with operator=or only "
                    "(no minimum_should_match; documented divergence)"
                )
            from engine.oracle import analyze_query_py

            r = _text_reader(reader, fld_, "match")
            me = (
                None if str(spec_["fuzziness"]).upper() == "AUTO"
                else int(spec_["fuzziness"])
            )
            mx = int(spec_.get("max_expansions", 50))
            expanded = list(dict.fromkeys(
                e for t in analyze_query_py(spec_["query"])
                for e in r.expand_fuzzy(t, max_edits=me, max_expansions=mx)
            ))
            if not expanded:
                return r, ["\x00dead\x00"], "and", None, False, None
            return r, expanded, "or", None, False, None
    if "match_bool_prefix" in query:
        # single-field bool_prefix context: matched = any analyzed head
        # term OR any last-token dictionary expansion (the OR-union law)
        ((fld_, spec_),) = query["match_bool_prefix"].items()
        from engine.oracle import analyze_query_py

        r = _text_reader(reader, fld_, "match_bool_prefix")
        text_ = spec_["query"] if isinstance(spec_, dict) else spec_
        mx = (
            int(spec_.get("max_expansions", 50))
            if isinstance(spec_, dict) else 50
        )
        toks = analyze_query_py(text_)
        if not toks:
            return r, ["\x00dead\x00"], "and", None, False, None
        expanded = list(dict.fromkeys(
            toks[:-1] + list(r.expand_prefix(toks[-1], mx))
        ))
        if not expanded:
            return r, ["\x00dead\x00"], "and", None, False, None
        return r, expanded, "or", None, False, None
    if "dis_max" in query:
        # dis_max context (round-5 lift): the matched set is the UNION
        # of the legs' matched sets; composed for term-kind legs
        # (match/term/terms, operator=or, any indexed fields) via the
        # any-term-in-its-field union matcher. Non-term or and/msm legs
        # fail closed (their matched set isn't a postings union).
        from engine.query import multifield_union_matcher

        af = tuple(reader.text_fields)
        try:
            parsed = [
                _match_terms(c, allowed=af)
                for c in query["dis_max"]["queries"]
            ]
        except ValueError:
            raise ValueError(
                "dis_max as a query context (aggs/sort/_count) composes "
                "with term-kind legs only (match/term/terms)"
            )
        tbf: dict[str, list] = {}
        for terms_l, op_l, msm_l, fld_l in parsed:
            if op_l != "or" or msm_l:
                raise ValueError(
                    "dis_max context legs compose with operator=or only "
                    "(an and/msm leg's matched set is not a term union)"
                )
            tbf.setdefault(fld_l, []).extend(terms_l)
        tbf = {f: list(dict.fromkeys(ts)) for f, ts in tbf.items()}
        if len(tbf) == 1:
            ((fld_l, terms_l),) = tbf.items()
            return (
                _text_reader(reader, fld_l, "dis_max"), terms_l, "or",
                None, False, None,
            )
        ctx = multifield_union_matcher(reader, list(tbf), tbf)
        if ctx is None:
            return reader, ["\x00dead\x00"], "and", None, False, None
        src, matcher = ctx
        return reader, [], "or", matcher, False, src
    if "more_like_this" in query:
        # more_like_this context: matched set = docs holding ANY of the
        # globally-selected (field, term) pairs — the bool-should OR of
        # per-field term queries (mlt_multifield_topk's selection)
        import math
        from collections import Counter

        from engine.query import multifield_union_matcher
        from engine.textnorm import standard_tokenize_py

        m = query["more_like_this"]
        mlf = [str(f) for f in m.get("fields", [reader.field])]
        if any("^" in f for f in mlf):
            raise ValueError(
                "more_like_this fields do not take ^boosts (documented "
                "divergence)"
            )
        like = m["like"] if isinstance(m["like"], str) else m["like"][0]
        mqt = int(m.get("max_query_terms", 5))
        ltf = Counter(standard_tokenize_py(like.lower()))
        cands: list[tuple] = []
        for f in mlf:
            r = _text_reader(reader, f, "more_like_this")
            stats = r.term_stats(list(ltf))
            n = float(r.n_docs)
            for t, c in ltf.items():
                if t in stats:
                    cands.append((
                        c * math.log(
                            1.0 + (n - stats[t] + 0.5) / (stats[t] + 0.5)
                        ),
                        f, t,
                    ))
        cands.sort(key=lambda x: (-x[0], x[1], x[2]))
        tbf2: dict[str, list] = {}
        for _s, f, t in cands[:mqt]:
            tbf2.setdefault(f, []).append(t)
        if not tbf2:
            return reader, ["\x00dead\x00"], "and", None, False, None
        if len(tbf2) == 1:
            ((fld_l, terms_l),) = tbf2.items()
            return (
                _text_reader(reader, fld_l, "more_like_this"), terms_l,
                "or", None, False, None,
            )
        ctx = multifield_union_matcher(reader, list(tbf2), tbf2)
        if ctx is None:
            return reader, ["\x00dead\x00"], "and", None, False, None
        src, matcher = ctx
        return reader, [], "or", matcher, False, src
    if "match_phrase" in query:
        ((fld, spec),) = query["match_phrase"].items()
        reader = _text_reader(reader, fld, "match_phrase")
        text = spec["query"] if isinstance(spec, dict) else spec
        slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
        from engine.query import phrase_matcher

        pm = phrase_matcher(reader, text, slop)
        if pm is None:
            # a dead slot term: conjunctive empty set — [] under "and"
            # short-circuits to the empty bucket table in search_aggs
            return reader, ["\x00dead\x00"], "and", None, False, None
        terms, matcher = pm
        return reader, terms, "or", matcher, True, None
    if "multi_match" in query or "combined_fields" in query:
        key = "multi_match" if "multi_match" in query else "combined_fields"
        m = query[key]
        ctx = _mm_context_matcher(reader, key, m)
        if ctx is None:
            # no term live in any field (or unsatisfiable requirement):
            # empty matched set everywhere
            return reader, ["\x00dead\x00"], "and", None, False, None
        src, matcher, needs_pos = ctx
        from engine.oracle import analyze_query_py

        terms = [] if needs_pos else analyze_query_py(m["query"])
        return reader, terms, "or", matcher, needs_pos, src
    fl: set = set()
    terms, mode = _query_terms_or_none(
        query, allowed=tuple(reader.text_fields), fields_out=fl
    )
    if fl:
        reader = _text_reader(reader, fl.pop(), "query")
    return reader, terms, mode, None, False, None


def _query_terms_or_none(
    query: dict, allowed: tuple = ("text",), fields_out: set | None = None
):
    """The analyzed term list driving aggs/sort/count for this query, or
    None for match_all. Raises for query kinds whose matched set is not a
    plain term query (phrase/dis_max/mlt aggs are not composed yet).
    `allowed`/`fields_out` let field-lifted callers accept any indexed
    field and learn which ONE the clauses named (mixes raise)."""
    fo = set() if fields_out is None else fields_out
    query = _unwrap(query)
    if "match_all" in query:
        return None, "or"
    if "match_none" in query:
        # the empty matched set: the dead-term conjunctive sentinel the
        # phrase/multi-field contexts use (empty bucket table everywhere)
        return ["\x00dead\x00"], "and"
    if "bool" in query:
        b = query["bool"]
        must_c = b.get("must", [])
        must_c = must_c if isinstance(must_c, list) else [must_c]
        must_c = [c for c in must_c if "match_all" not in c]
        if b.get("must_not"):
            # matched set = base MINUS the must_not union — not a plain
            # term list; fail closed instead of silently aggregating
            # the unexcluded set
            raise ValueError(
                "bool must_not is not composable as an aggs/sort/count "
                "context (the exclusion is not a term-list matched set)"
            )
        should_c = b.get("should", [])
        should_c = should_c if isinstance(should_c, list) else [should_c]
        msm = b.get("minimum_should_match")
        if should_c and msm is not None and int(str(msm)) != 1:
            raise ValueError(
                "bool minimum_should_match != 1 is not composable as an "
                "aggs/sort/count context (the >=k-of-n matched set is "
                "not a term-list union)"
            )
        if must_c and should_c and msm is not None:
            raise ValueError(
                "bool must + should with an explicit minimum_should_match "
                "is not composable as an aggs/sort/count context (the "
                "should requirement is not a term-list matched set)"
            )
        if not must_c and should_c:
            # ES: a bool with ONLY should clauses matches the UNION of
            # the clauses' matched sets (minimum_should_match defaults
            # to 1 with no must) — an OR term list. A should beside a
            # must stays score-only (must alone decides membership).
            parsed = [_match_terms(c, allowed=allowed) for c in should_c]
            if any(
                len(ts) > 1 and (op == "and" or (c_msm or 1) > 1)
                for ts, op, c_msm, _f in parsed
            ):
                raise ValueError(
                    "a bool should clause with operator=and or "
                    "minimum_should_match > 1 is not composable as an "
                    "aggs/sort/count context (its matched set is not a "
                    "term-list union)"
                )
            fo.update(x[3] for x in parsed)
            if len(fo) > 1:
                raise ValueError(
                    f"term clauses must all name ONE field (got {sorted(fo)})"
                )
            return [t for x in parsed for t in x[0]], "or"
        if not must_c:  # pure filter-context bool: match_all semantics
            return None, "or"
        parsed = [_match_terms(c, allowed=allowed) for c in must_c]
        fo.update(x[3] for x in parsed)
        if len(fo) > 1:
            raise ValueError(
                f"term clauses must all name ONE field (got {sorted(fo)})"
            )
        if len(parsed) == 1:
            return _clause_context(*parsed[0][:3])
        if any(op == "or" and len(ts) > 1 for ts, op, _m, _f in parsed):
            raise ValueError(
                "several bool must clauses with a multi-term operator=or "
                "clause are not composable as an aggs/sort/count context "
                "(an intersection of unions is not a term-list matched set)"
            )
        return [t for x in parsed for t in x[0]], "and"
    terms, op, msm, f = _match_terms(query, allowed=allowed)
    fo.add(f)
    return _clause_context(terms, op, msm)


def _clause_context(terms: list[str], op: str, msm: int | None):
    """(terms, mode) of ONE match clause as a matched-set context: its
    operator decides or/and; minimum_should_match > 1 (an at-least-N
    set, not a term-list union) fails closed."""
    if op == "or" and (msm or 1) > 1 and len(terms) > 1:
        raise ValueError(
            "match minimum_should_match > 1 is not composable as an "
            "aggs/sort/count context (the >=k-of-n matched set is not a "
            "term-list union)"
        )
    return terms, op


def _span_clauses(clauses: list, fields: set | None = None) -> list[list]:
    """span clause blocks -> engine slot lists: span_term -> [term],
    span_or (of span_terms) -> [alt, alt, ...]. Deeper nesting raises
    (documented divergence). Every clause must name the SAME field
    (Lucene requires it); the names seen are accumulated into `fields`
    for the caller to resolve against the index."""
    if fields is None:
        fields = set()
    slots: list[list] = []

    def _take(fld: str):
        fields.add(fld)
        if len(fields) > 1:
            raise ValueError(
                f"span clauses must all name ONE field (got {sorted(fields)})"
            )

    for cl in clauses:
        if set(cl) == {"span_term"}:
            ((fld, spec),) = cl["span_term"].items()
            _take(fld)
            slots.append([spec["value"] if isinstance(spec, dict) else spec])
        elif set(cl) == {"span_or"}:
            alts = []
            if not cl["span_or"].get("clauses"):
                raise ValueError("span_or needs a non-empty clauses list")
            for inner in cl["span_or"]["clauses"]:
                if set(inner) != {"span_term"}:
                    raise ValueError(
                        "span_or clauses must be span_term blocks "
                        "(deeper nesting is a documented divergence)"
                    )
                ((fld, spec),) = inner["span_term"].items()
                _take(fld)
                alts.append(spec["value"] if isinstance(spec, dict) else spec)
            slots.append(alts)
        else:
            raise ValueError(
                "span clauses must be span_term or span_or blocks "
                "(deeper nesting is a documented divergence)"
            )
    return slots


def matched_urls_for_query(reader, query: dict):
    """DataFrame of the _ids (urls) matching a DSL query context — the
    shared back-end for the set-valued APIs (delete_by_query /
    update_by_query). Composes every context kind _agg_context handles:
    match_all (live docmap + pushed filters), term kinds on any indexed
    field, match_phrase (positional matcher), multi_match /
    combined_fields (multi-field matcher + union postings source) —
    each optionally bool-wrapped with filter clauses."""
    from engine.aggs import live_docmap, matched_urls

    filters = ()
    if "bool" in query:
        filters = _clause_filters(query["bool"].get("filter", []))
    ar, terms, mode, matcher, needs_pos, src = _agg_context(reader, query)
    if terms is None:
        return live_docmap(ar, filters).select("url")
    return matched_urls(
        ar, terms, mode=mode, filters=filters,
        matcher=matcher, needs_pos=needs_pos, src=src,
    )


def _knn_filter_pred(clause: dict, cols: list):
    """One ES knn.filter clause -> a Spark Column predicate over the
    embeddings table. Scope: term / terms / range on a metadata column
    of the vectors table (ES filters knn on the DOCUMENT's fields; the
    engine's frozen layout keeps vector metadata beside the vectors,
    so the filterable fields are the embeddings table's columns).
    Unknown fields and clause kinds fail closed."""
    ((kind, body),) = clause.items()
    if kind == "term":
        ((f, v),) = body.items()
        val = v["value"] if isinstance(v, dict) else v
        pred = F.col(f) == F.lit(val)
    elif kind == "terms":
        ((f, vals),) = body.items()
        pred = F.col(f).isin(list(vals))
    elif kind == "range":
        ((f, spec),) = body.items()
        pred = F.lit(True)
        if spec.get("gte") is not None:
            pred = pred & (F.col(f) >= F.lit(spec["gte"]))
        if spec.get("gt") is not None:
            pred = pred & (F.col(f) > F.lit(spec["gt"]))
        if spec.get("lt") is not None:
            pred = pred & (F.col(f) < F.lit(spec["lt"]))
        if spec.get("lte") is not None:
            pred = pred & (F.col(f) <= F.lit(spec["lte"]))
    else:
        raise ValueError(f"unsupported knn filter clause: {kind}")
    if f not in cols:
        raise ValueError(
            f"knn filter field {f!r} not a column of the embeddings "
            f"table (have: {cols})"
        )
    return pred


def _knn_top_df(spark, spec: dict, embeddings):
    """ES top-level `knn` block -> the (neighbor_id, cos, rank) top-k
    DataFrame by cosine similarity over the embeddings table
    (vec_id, embedding). Exact brute-force when num_candidates is
    absent or >= the ES default ceiling; the LSH-bucketed ANN path
    otherwise (the documented scale path — candidates ~ bucket
    collisions, exact re-rank).

    `knn.filter` (ES PRE-filter: all k results satisfy it — not a
    post-filter that can return < k) compiles term/terms/range clauses
    on the embeddings table's metadata columns to Spark predicates on
    the scan, so Catalyst pushes them into the parquet read and the
    ANN kernels only ever see qualifying vectors."""
    from engine.simsearch import cosine_topk, lsh_ann_topk

    if embeddings is None:
        raise ValueError("knn needs the embeddings table: search(..., embeddings=df)")
    flt = spec.get("filter")
    if flt is not None:
        for clause in flt if isinstance(flt, list) else [flt]:
            embeddings = embeddings.where(
                _knn_filter_pred(clause, embeddings.columns)
            )
    vec = [float(x) for x in spec["query_vector"]]
    k = int(spec.get("k", 10))
    probes = spark.createDataFrame(
        [(-1, vec)], "probe_id long, embedding array<float>"
    )
    nc = spec.get("num_candidates")
    if nc is not None and int(nc) < 10_000:
        return lsh_ann_topk(embeddings, probes, dim=len(vec), k=k)
    return cosine_topk(embeddings, probes, k=k)


def _knn_hits(spark, spec: dict, embeddings) -> list[dict]:
    """`knn`-only hits: the top-k DataFrame collected in rank order."""
    top = _knn_top_df(spark, spec, embeddings)
    return [
        {"_id": r["neighbor_id"], "_score": r["cos"]}
        for r in top.orderBy("rank").collect()
    ]


def _filterish_clauses(query: dict, reader):
    """Top-level filter-ish query -> the equivalent bool-filter clause
    list (identical matched set), or None when the query is a scoring
    kind. ids -> a `terms` filter on the docmap id; range / exists /
    docvalue term / docvalue terms pass through as their own clause
    (the clause boost is membership-neutral and drops — ES matched-set
    semantics)."""
    if set(query) == {"ids"}:
        return [{"terms": {"url": [str(v) for v in query["ids"]["values"]]}}]
    if set(query) in ({"range"}, {"exists"}):
        return [query]
    if set(query) == {"term"}:
        ((fld, spec),) = query["term"].items()
        if fld not in reader.text_fields and _spec_boost(spec) == 1.0:
            # an explicit boost != 1 keeps the constant-score hits path
            # (the rewritten page would score 1.0, not the boost)
            return [query]
    if set(query) == {"terms"}:
        fld, _ = _terms_field(query["terms"])
        if (
            fld not in reader.text_fields
            and float(query["terms"].get("boost", 1.0)) == 1.0
        ):
            return [{"terms": {fld: query["terms"][fld]}}]
    return None


_SEARCH_BODY_KEYS = frozenset({
    "_source", "aggregations", "aggs", "collapse", "docvalue_fields",
    "explain", "fields", "from", "highlight", "knn", "min_score",
    "post_filter", "profile", "query", "rescore", "retriever",
    "runtime_mappings", "search_after", "size", "sort", "stored_fields",
    "suggest", "track_scores", "track_total_hits",
})


def search(reader, body: dict, corpus=None, embeddings=None) -> dict:
    """Run an ES `_search`-shaped JSON body against the index; returns an
    ES-shaped response dict (hits + optional aggregations). corpus: the
    source DataFrame carrying (url, text), required only for `highlight`
    (the index stores no text). embeddings: the (vec_id, embedding)
    table, required only for the top-level `knn` block (vectors live
    beside the index, not in it — frozen layout).

    Body keys are a strict subset of ES's: _source, aggregations / aggs,
    collapse, docvalue_fields, explain, fields, from, highlight, knn,
    min_score, post_filter, profile, query, rescore, retriever,
    runtime_mappings, search_after, size, sort, stored_fields, suggest,
    track_scores and track_total_hits. Any other key, legal ES ones such
    as timeout, terminate_after, version or seq_no_primary_term included,
    raises ValueError."""
    from engine.aggs import search_aggs, search_count, search_sort

    t0 = time.time()
    unknown_keys = set(body) - _SEARCH_BODY_KEYS
    if unknown_keys:
        # ES rejects unknown top-level body keys; a typo'd "aggz" must
        # not silently return the unaggregated response
        raise ValueError(
            f"unknown search body key(s) {sorted(unknown_keys)} "
            f"(supported: {sorted(_SEARCH_BODY_KEYS)})"
        )
    if "retriever" in body:
        # ES retriever tree (frozen subset): rrf over exactly one
        # `standard` (match/term) retriever + one `knn` retriever —
        # hybrid lexical+vector fusion (engine/hybrid.py rrf_topk)
        if "rrf" not in body["retriever"]:
            raise ValueError("only the rrf retriever is supported")
        rrf = body["retriever"]["rrf"]
        std = knn = None
        for leg in rrf["retrievers"]:
            if "standard" in leg:
                std = leg["standard"]["query"]
            elif "knn" in leg:
                knn = leg["knn"]
            else:
                raise ValueError(f"unsupported retriever leg: {sorted(leg)}")
        if std is None or knn is None:
            raise ValueError("rrf needs one standard and one knn retriever")
        if embeddings is None:
            raise ValueError(
                "rrf needs the embeddings table: search(..., embeddings=df)"
            )
        terms, op, _, _f = _match_terms(std)
        from engine.hybrid import rrf_topk

        fused = rrf_topk(
            reader, terms, embeddings, knn["query_vector"],
            k=int(body.get("size", 10)), mode=op,
            rank_constant=int(rrf.get("rank_constant", 60)),
            window=int(rrf.get("rank_window_size", 100)),
        ).collect()
        return {
            "took": int((time.time() - t0) * 1000),
            "hits": {
                "total": {"value": len(fused), "relation": "eq"},
                "hits": [
                    {"_id": x["id"], "_score": x["score"]} for x in fused
                ],
            },
        }
    if "knn" in body:
        # the knn paths serve HITS (+ knn-only aggs below): anything
        # else needing a doc-level matched set over the INDEX
        # (sort/collapse/...) fails closed rather than silently running
        # against the query alone
        unserved = sorted(
            {"sort", "post_filter", "collapse", "rescore", "suggest",
             "highlight", "search_after"} & set(body)
        )
        if unserved:
            raise ValueError(
                f"knn does not compose with {unserved} (vector hits "
                "carry no index matched set; documented divergence)"
            )
        aggs_spec = body.get("aggs") or body.get("aggregations")
        if aggs_spec is not None and "query" in body:
            raise ValueError(
                "knn + query + aggs is not composed (the hybrid union "
                "matched set is not a conjunctive filter; documented "
                "divergence) — drop the query or the aggs"
            )
        if aggs_spec is not None:
            # ES: with a knn-only search, aggregations are computed
            # over the k nearest documents. The knn top-k ids (k rows,
            # bounded) become a `terms` filter on the docmap id and the
            # body recurses through the standard filter-context
            # machinery — one definition of every agg kind, no second
            # matched-set path.
            hits = _knn_hits(reader.spark, body["knn"], embeddings)
            sub = search(
                reader,
                {
                    "query": {"bool": {"filter": [
                        {"terms": {"url": [str(h["_id"]) for h in hits]}}
                    ]}},
                    "aggs": aggs_spec,
                    "size": 0,
                },
                corpus=corpus,
            )
            return {
                "took": int((time.time() - t0) * 1000),
                "hits": {
                    "total": {"value": len(hits), "relation": "eq"},
                    "hits": hits,
                },
                "aggregations": sub["aggregations"],
            }
        if "query" in body:
            # ES hybrid sum (top-level knn + query, ES 8.x): both legs
            # run; fused score = query score (every doc the query
            # matches — the leg runs UNBOUNDED so membership is exact)
            # + knn.boost * cosine for docs in the knn GLOBAL top
            # knn.k. Union of both sets, fused score 6-dp rounded desc
            # then _id asc, page [from, from+size). total = union size.
            # match_all is fail-closed (a constant-score leg over the
            # whole corpus — same gate as dis_max).
            q = body["query"]
            if "match_all" in q:
                raise ValueError(
                    "knn + match_all is not composed (a constant-score "
                    "leg over the whole corpus)"
                )
            size = int(body.get("size", 10))
            frm = int(body.get("from", 0))
            kb = float(body["knn"].get("boost", 1.0))
            # unbounded leg: the lexical set cannot exceed the index, and
            # a constant-score leg's DataFrame.limit takes a Java int
            lex = _hits_df(
                reader, q, min(reader.n_docs, (1 << 31) - 1), ()
            ).select(
                F.col("url").cast("string").alias("_id"),
                F.col("score").cast("double").alias("lscore"),
            )
            vec = _knn_top_df(reader.spark, body["knn"], embeddings).select(
                F.col("neighbor_id").cast("string").alias("_id"),
                (F.col("cos") * F.lit(kb)).alias("vscore"),
            )
            fused = lex.join(vec, "_id", "full_outer").select(
                "_id",
                F.round(
                    F.coalesce("lscore", F.lit(0.0))
                    + F.coalesce("vscore", F.lit(0.0)),
                    6,
                ).alias("_score"),
            )
            page = fused.orderBy(
                F.desc("_score"), F.asc("_id")
            ).limit(frm + size).collect()[frm:]
            return {
                "took": int((time.time() - t0) * 1000),
                "hits": {
                    "total": {"value": fused.count(), "relation": "eq"},
                    "hits": [
                        {"_id": r["_id"], "_score": r["_score"]} for r in page
                    ],
                },
            }
        hits = _knn_hits(reader.spark, body["knn"], embeddings)
        return {
            "took": int((time.time() - t0) * 1000),
            "hits": {
                "total": {"value": len(hits), "relation": "eq"},
                "hits": hits,
            },
        }
    query = _unwrap(body.get("query", {"match_all": {}}))
    size = int(body.get("size", 10))
    frm = int(body.get("from", 0))
    if frm + size > 10_000:
        raise ValueError("from+size > 10000; use sort + search_after")
    if body.get("aggs") or body.get("aggregations") or body.get("sort") \
            or body.get("track_total_hits") or frm + size == 0:
        # filter-ish top-level queries as a CONTEXT (aggs / sort /
        # _count — the classic "range query + aggs" shape): ids /
        # range / exists / docvalue term / docvalue terms all have a
        # filter-clause equivalent with the identical matched set, so
        # the body rewrites to the bool-filter shape pre-dispatch and
        # every downstream path composes unchanged. Matched sets ignore
        # a clause boost (a positive boost never changes membership —
        # ES); the pure-hits paths keep their own kernels (ids_topk /
        # constant_score_topk compile the same live_docmap plan).
        fc = _filterish_clauses(query, reader)
        if fc is not None:
            query = {"bool": {"filter": fc}}
    # ES post_filter: restricts the HITS (exact, pre-top-k — the shared
    # filter-context machinery), while aggregations and hits.total keep
    # the unfiltered query scope. Composes with the scoring-hits, sort,
    # collapse, and rescore paths: in Lucene the post_filter wraps the
    # hit COLLECTOR, so a collapsed group representative or a rescore
    # window entry must itself pass the filter — exactly what passing
    # the filter into those kernels (candidates masked pre-top-k,
    # surviving scores unchanged) computes.
    filters = (
        _clause_filters([body["post_filter"]])
        if body.get("post_filter") is not None else ()
    )
    out: dict = {}

    sort_spec = body.get("sort")
    if frm + size == 0:
        # ES size:0 — the aggs/count-only request shape: no hits query at
        # all (the matched set is still computed by the aggs/total paths)
        hits = []
    elif sort_spec:
        # phrase/multi-field queries sort via their matcher (_agg_context)
        ar, terms, mode, matcher, needs_pos, mf_src = _agg_context(reader, query)
        ((fld, o),) = (
            sort_spec[0].items() if isinstance(sort_spec[0], dict)
            else ((sort_spec[0], "asc"),)
        )
        order = o.get("order", "asc") if isinstance(o, dict) else o
        after = body.get("search_after")
        # ES runtime_mappings: computed sort fields (frozen scope: sort
        # only — runtime fields in aggs/filters are a documented
        # divergence); {name: {"type": ..., "script": {"source": ...}}}
        rt = {
            n: s["script"]["source"]
            for n, s in (body.get("runtime_mappings") or {}).items()
        }
        rows = search_sort(
            ar, terms, fld, k=frm + size, mode=mode,
            ascending=order == "asc",
            search_after=tuple(after) if after else None,
            filters=(_clause_filters(query.get("bool", {}).get("filter", []))
                     if "bool" in query else ()) + filters,
            runtime=rt or None,
            matcher=matcher, needs_pos=needs_pos, src=mf_src,
        ).collect()[frm:]
        hits = [
            {"_id": r["url"], "_score": None, "sort": [r["sort_val"], r["url"]]}
            for r in rows
        ]
        if body.get("track_scores") and hits:
            # ES track_scores: sorted hits carry their query _score.
            # Uniform exactness path: the scoring query runs UNBOUNDED
            # (the general-blend pattern) and the page's urls pick their
            # scores from the full match set; match_all scores 1.0.
            if "match_all" in query or (
                "bool" in query and terms is None and matcher is None
            ):
                for h in hits:
                    h["_score"] = 1.0
            else:
                # no extra filters: filter/post_filter context never
                # changes a surviving doc's score, and the page already
                # holds only survivors — the lookup map just needs values
                from engine.query import _result_rows

                smap = {
                    row[0]: row[-1]  # (url, [doc_id,] score)
                    for row in _result_rows(_hits(reader, query, 1 << 31, ()))
                }
                for h in hits:
                    h["_score"] = smap.get(h["_id"])
    elif body.get("collapse"):
        from engine.aggs import collapse_topk

        fl: set = set()
        terms, mode = _query_terms_or_none(
            query, allowed=tuple(reader.text_fields), fields_out=fl
        )
        if terms is None:
            raise ValueError("collapse needs a scoring query (match/term)")
        filt = (
            _clause_filters(query.get("bool", {}).get("filter", []))
            if "bool" in query else ()
        )
        creader = _text_reader(reader, fl.pop(), "collapse") if fl else reader
        rows = collapse_topk(
            creader, terms, body["collapse"]["field"], k=frm + size,
            mode=mode, filters=filt + filters,
        ).collect()[frm:]
        fld = body["collapse"]["field"]
        hits = [
            {"_id": r["url"], "_score": r["score"],
             "fields": {fld: [r["collapse_val"]]}}
            for r in rows
        ]
        ih = body["collapse"].get("inner_hits")
        if ih and hits:
            # ES collapse.inner_hits: per group, the top-`size` docs by
            # the QUERY's score within that group — each group is one
            # filtered kernel run (page-size x size, a handful of
            # bucket-pruned reads; score order, url tiebreak; the same
            # filter context the page used rides along so inner hits
            # honor bool filters / post_filter like the representatives)
            from engine.docvalues import TermFilter
            from engine.query import bm25_topk_rows

            ih_name = ih.get("name", "inner")
            ih_size = int(ih.get("size", 3))
            for h, row_ in zip(hits, rows):
                sub = bm25_topk_rows(
                    creader, terms, k=ih_size, mode=mode,
                    filters=filt + filters
                    + (TermFilter(fld, row_["collapse_val"]),),
                )
                h["inner_hits"] = {ih_name: {"hits": {
                    "total": {"value": len(sub), "relation": "gte"
                              if len(sub) == ih_size else "eq"},
                    "hits": [
                        {"_id": url, "_score": score}
                        for url, _doc_id, score in sub
                    ],
                }}}
    elif body.get("rescore"):
        from engine.query import _result_rows

        rows = _result_rows(_rescore(reader, query, body["rescore"], frm + size,
                                     filters=filters))[frm:]
        hits = [{"_id": r[0], "_score": r[-1]} for r in rows]
    else:
        result = _hits(reader, query, frm + size, filters)
        if result is None:  # match_all: first `size` live docs in url order
            from engine.aggs import live_docmap

            dm = live_docmap(reader, filters)
            rows = dm.select("url").orderBy("url").limit(frm + size).collect()[frm:]
            hits = [{"_id": r["url"], "_score": 1.0} for r in rows]
        else:
            from engine.query import _result_rows

            # driver-local kernels hand back their rows as they are; a
            # DataFrame result (Spark docmap join, aggs.py docmap kernels)
            # is collected here — either way (url, [doc_id,] score)
            rows = _result_rows(result)[frm:]
            hits = [{"_id": r[0], "_score": r[-1]} for r in rows]
            if body.get("highlight"):
                from engine.query import _to_frame, highlight_fragments

                hl = body["highlight"]
                # ES highlight.fields: each requested field highlights
                # from its own stored column (or a caller corpus column).
                # Frozen require_field_match=false behavior: the query's
                # terms are marked in EVERY requested field (ES's default
                # true would need per-field query attribution). Phrase
                # bodies highlight their slot terms (every occurrence,
                # not only in-phrase ones — ES plain-highlighter
                # behavior, documented divergence from the unified
                # highlighter's position-aware passages).
                hfields = list(hl.get("fields") or {"text": {}})
                stored = getattr(reader, "stored_cols", [])
                src = None
                if corpus is None and any(f in stored for f in hfields):
                    src = reader.stored_source_df()
                _ar2, terms, _mode, _matcher, _np_, _src_ = _agg_context(reader, query)
                if not terms or terms == ["\x00dead\x00"]:
                    # matcher-based contexts (multi-field phrase /
                    # phrase_prefix / fuzzy unions) return an empty read
                    # list — mark the ANALYZED raw query tokens instead
                    # (plain-highlighter behavior: every occurrence of a
                    # query term, field-blind)
                    from engine.oracle import analyze_query_py

                    def _raw_q(qd):
                        for key_ in ("multi_match", "combined_fields"):
                            if key_ in qd:
                                return qd[key_].get("query", "")
                        if "bool" in qd:
                            mc = qd["bool"].get("must", [])
                            mc = mc if isinstance(mc, list) else [mc]
                            if len(mc) == 1 and isinstance(mc[0], dict):
                                return _raw_q(mc[0])
                        return ""
                    terms = analyze_query_py(_raw_q(query)) or terms
                hits_df = _to_frame(reader.spark, result)
                for hf in hfields:
                    csrc = corpus if (
                        corpus is not None and hf in corpus.columns
                    ) else (src if hf in stored else None)
                    if csrc is None:
                        raise ValueError(
                            f"highlight field {hf!r} needs the source text: "
                            "build the index with store_source=... or "
                            "search(..., corpus=df)"
                        )
                    frags = {
                        r["url"]: r["fragment"]
                        for r in highlight_fragments(
                            hits_df, csrc, terms, id_col="url", text_col=hf,
                            pre_tag=hl.get("pre_tags", ["<em>"])[0],
                            post_tag=hl.get("post_tags", ["</em>"])[0],
                        ).collect()
                    }
                    for h in hits:
                        if h["_id"] in frags:
                            h.setdefault("highlight", {})[hf] = [
                                frags[h["_id"]]
                            ]

    if body.get("min_score") is not None:
        # ES min_score: drop hits scoring below the floor. The count path
        # is score-blind, so combining with track_total_hits (which ES
        # defines as the post-floor count) is not composed (frozen).
        if body.get("sort") and not body.get("track_scores"):
            # sort-path hits carry _score=None; silently dropping every hit
            # would look like an empty index — fail closed like the
            # track_total_hits guard below. With track_scores the sorted
            # hits DO carry scores and the floor applies (ES behavior).
            raise ValueError(
                "min_score + sort is not composed without track_scores "
                "(sorted hits are unscored); drop one or set track_scores"
            )
        if body.get("track_total_hits"):
            raise ValueError(
                "min_score + track_total_hits is not composed (the exact "
                "count path is score-blind); drop one (documented divergence)"
            )
        ms = float(body["min_score"])
        hits = [h for h in hits if h["_score"] is not None and h["_score"] >= ms]

    if body.get("_source") and hits:
        # ES `_source`: served from the index's stored columns (never a
        # corpus join — get_source is a pruned per-shard point read)
        spec_src = body["_source"]
        stored = getattr(reader, "stored_cols", [])
        if not stored:
            raise ValueError(
                "_source needs a stored-source index — build with "
                "store_source=True (or a column list)"
            )
        if isinstance(spec_src, dict):
            # ES object form: includes/excludes lists (literal column
            # names; source-path wildcards are a documented divergence)
            inc = spec_src.get("includes")
            exc = set(spec_src.get("excludes") or [])
            want = [
                c for c in (
                    stored if inc is None
                    else ([inc] if isinstance(inc, str) else list(inc))
                )
                if c not in exc
            ]
        else:
            want = (
                stored
                if spec_src is True
                else [spec_src] if isinstance(spec_src, str) else list(spec_src)
            )
        bad = [c for c in want if c not in stored]
        if bad:
            raise ValueError(f"_source field(s) {bad} not stored ({stored})")
        srcs = reader.get_source([h["_id"] for h in hits])
        for h in hits:
            if h["_id"] in srcs:
                h["_source"] = {c: srcs[h["_id"]][c] for c in want}

    _attach_matched_queries(reader, query, hits)

    if body.get("explain") and hits:
        # ES `"explain": true`: per-hit scoring breakdown. Frozen subset:
        # term-scored bodies get the per-term BM25 tree (same engine core
        # as _explain; one pruned point read per hit — k is page-sized);
        # match_all gets the constant-score leaf; match_phrase (round-5)
        # gets the pseudo-term tree (idf_sum x phrase-impact leaves whose
        # product is the hit score — the frozen phrase formula); queries
        # whose score is not a plain term sum (dis_max, function_score,
        # knn, ...) raise through _query_terms_or_none, like the agg gate.
        pc = _phrase_context_spec(reader, query)
        if pc is not None:
            import math as _math

            from engine import postings as _P
            from engine.query import match_phrase_topk

            preader, ptext, pslop = pc
            from engine.textnorm import standard_tokenize_py

            slot_terms = standard_tokenize_py(ptext.lower())
            stats = preader.term_stats(list(dict.fromkeys(slot_terms)))
            idf_sum = float(sum(
                _P.bm25_idf(stats[t], preader.n_docs)
                for t in slot_terms if t in stats
            ))
            smap = {
                x["url"]: x["score"]
                for x in match_phrase_topk(
                    preader, ptext, k=1 << 31, slop=pslop
                ).collect()
            }
            for h in hits:
                sc = smap.get(h["_id"], h["_score"])
                imp = (sc / idf_sum) if idf_sum else 0.0
                h["_explanation"] = {
                    "value": sc,
                    "description": (
                        f'weight({preader.field}:"{ptext}") '
                        f"[phrase, slop={pslop}]"
                    ),
                    "details": [
                        {"value": round(idf_sum, 6),
                         "description": "idf, sum of slot terms",
                         "details": []},
                        {"value": round(imp, 6),
                         "description": (
                             "phrase freq impact pf / (pf + k1 * "
                             "(1 - b + b * dl / avgdl))"
                         ),
                         "details": []},
                    ],
                }
                if sc is not None and _math.isnan(sc):
                    raise ValueError(f"explain: NaN phrase score for {h['_id']!r}")
        else:
            terms, _op = _query_terms_or_none(query)
            from engine.query import explain_rows

            for h in hits:
                if terms is None:
                    h["_explanation"] = {
                        "value": 1.0, "description": "*:*", "details": [],
                    }
                    continue
                rows = explain_rows(reader, terms, h["_id"])
                h["_explanation"] = {
                    "value": h["_score"],
                    "description": "sum of:",
                    "details": [
                        {
                            "value": c,
                            "description": (
                                f"weight(text:{t}) [tf={tf}, df={df}, "
                                f"idf={idf}, impact={imp}]"
                            ),
                            "details": [],
                        }
                        for (t, tf, df, idf, imp, c) in rows
                    ],
                }

    field_spec = body.get("fields") or body.get("docvalue_fields")
    if field_spec and hits:
        # ES fields / docvalue_fields response retrieval: fetch the
        # requested docvalue columns for exactly the page's hits — one
        # mget (pruned per-shard pyarrow reads), never a corpus join
        from engine.query import mget as _mget

        flds = [
            f["field"] if isinstance(f, dict) else f for f in field_spec
        ]
        fetched = {
            r["url"]: r
            for r in _mget(reader, [h["_id"] for h in hits], fields=flds).collect()
        }
        for h in hits:
            r = fetched.get(h["_id"])
            if r is not None and r["found"]:
                h.setdefault("fields", {}).update(
                    {f: [r[f]] for f in flds if r[f] is not None}
                )

    sf_spec = body.get("stored_fields")
    if sf_spec and hits:
        # ES stored_fields: explicitly stored columns attached under
        # hit.fields (served from the stored-source reads, one batched
        # point fetch — never a corpus join)
        want_sf = [sf_spec] if isinstance(sf_spec, str) else list(sf_spec)
        stored = getattr(reader, "stored_cols", [])
        bad = [c for c in want_sf if c not in stored]
        if bad:
            raise ValueError(
                f"stored_fields {bad} not stored ({stored}); build the "
                "index with store_source=..."
            )
        srcs = reader.get_source([h["_id"] for h in hits])
        for h in hits:
            row = srcs.get(h["_id"])
            if row is not None:
                h.setdefault("fields", {}).update(
                    {c: [row[c]] for c in want_sf if row[c] is not None}
                )

    if body.get("track_total_hits") or frm + size == 0:
        # ES reports hits.total even at size:0 (default track_total_hits
        # caps at 10k; our count path is exact, so relation is "eq") —
        # phrase/multi-field queries count via their matcher (_agg_context)
        ar, terms, mode, matcher, needs_pos, mf_src = _agg_context(reader, query)
        total = search_count(
            ar, terms, mode,
            filters=_clause_filters(query.get("bool", {}).get("filter", []))
            if "bool" in query else (),
            matcher=matcher, needs_pos=needs_pos, src=mf_src,
        ).collect()[0]["doc_count"]
        relation = "eq"
    else:
        total, relation = len(hits), "gte" if len(hits) == size else "eq"

    aggs_spec = body.get("aggs") or body.get("aggregations") or {}
    if aggs_spec:
        areader, terms, mode, matcher, needs_pos, mf_src = _agg_context(reader, query)
        filt = (
            _clause_filters(query.get("bool", {}).get("filter", []))
            if "bool" in query else ()
        )
        out["aggregations"] = {}
        _SIBLINGS = (
            "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
            "stats_bucket", "percentiles_bucket",
        )
        bucket_dfs: dict = {}
        siblings = []
        _MATCHER_GATED = ("sampler", "diversified_sampler")
        for name, spec in aggs_spec.items():
            if (
                matcher is not None
                and any(g in spec for g in _MATCHER_GATED)
                and _phrase_context_spec(reader, query) is None
            ):
                # the sampler's top cut needs per-doc SCORES; a phrase
                # context composes via phrase_scored_matcher (true
                # phrase BM25, round-5 lift), but a multi-field blend's
                # per-doc score isn't carried by its matched-set matcher
                # — an OR over the blend's terms would be the WRONG
                # sample (significant_*/top_metrics need only the
                # matched set and DO compose via matcher/src)
                raise ValueError(
                    f"{name}: sampler under a multi-field query is not "
                    "composed (term and phrase queries only)"
                )
            sib = next((s for s in _SIBLINGS if s in spec), None)
            if sib:
                # sibling pipeline aggs reduce ANOTHER agg's bucket table;
                # defer until the referenced parent has been compiled
                siblings.append((name, sib, spec[sib]))
                continue
            if "global" in spec:
                # ES global agg: the sub-agg ignores the query context and
                # runs over the whole live index (the match_all docmap
                # plan); rendered FLAT like the sampler (divergence: ES
                # nests under the global bucket's doc_count)
                sub2 = spec.get("aggs") or spec.get("aggregations") or {}
                if len(sub2) != 1:
                    raise ValueError("global supports exactly one sub-agg")
                ((_gn, gs),) = sub2.items()
                agg, post = _compile_agg(gs)
                df = search_aggs(reader, None, agg, filters=())
                if post is not None:
                    df = post(df)
                bucket_dfs[name] = df
                out["aggregations"][name] = {
                    "buckets": [r.asDict() for r in df.collect()]
                }
                continue
            if "significant_text" in spec or "significant_terms" in spec:
                # significant_text == significant_terms on this engine:
                # the one indexed text field IS the analyzed source, and
                # the native operator already re-analyzes exactly the
                # matched docs (engine/aggs.py significant_terms). Needs
                # the source corpus (the index stores no text), same as
                # highlight.
                sg = spec.get("significant_text") or spec["significant_terms"]
                sgf = sg.get("field", "text")
                if corpus is None or sgf not in corpus.columns:
                    if sgf in getattr(reader, "stored_cols", []):
                        corpus = reader.stored_source_df()
                if corpus is None or sgf not in corpus.columns:
                    raise ValueError(
                        f"significant_text field {sgf!r} needs the source "
                        "text: build the index with store_source=... or "
                        "search(..., corpus=...)"
                    )
                if terms is None:
                    raise ValueError(
                        "significant_text needs a scoring query context"
                    )
                from engine.aggs import significant_terms as _sig

                # foreground matched set: the QUERY's field; background
                # df + re-analyzed column: the NAMED field's reader view
                df = _sig(
                    areader, terms, corpus, size=sg.get("size", 10),
                    mode=mode, filters=filt, text_col=sgf,
                    stats_reader=_text_reader(reader, sgf, "significant_text"),
                    matcher=matcher, needs_pos=needs_pos, src=mf_src,
                )
                bucket_dfs[name] = df
                out["aggregations"][name] = {
                    "buckets": [r.asDict() for r in df.collect()]
                }
                continue
            if "top_metrics" in spec:
                tm = spec["top_metrics"]
                ((sf, o),) = tm["sort"][0].items() if isinstance(
                    tm["sort"], list
                ) else tm["sort"].items()
                order = o.get("order", "asc") if isinstance(o, dict) else o
                from engine.aggs import top_metrics as _tm

                df = _tm(
                    areader, terms, sf, tm["metrics"]["field"],
                    ascending=order == "asc", mode=mode, filters=filt,
                    matcher=matcher, needs_pos=needs_pos, src=mf_src,
                )
                bucket_dfs[name] = df
                out["aggregations"][name] = {
                    "buckets": [r.asDict() for r in df.collect()]
                }
                continue
            samp = next(
                (s for s in ("sampler", "diversified_sampler") if s in spec),
                None,
            )
            if samp:
                # sampler scope + a single terms sub-agg -> the standalone
                # scored-sample kernel; rendered FLAT (the terms buckets
                # directly — divergence: ES nests them under the sampler's
                # own doc_count bucket)
                if terms is None:
                    raise ValueError(f"{samp} needs a scoring query context")
                sp = spec[samp]
                sub2 = spec.get("aggs") or spec.get("aggregations") or {}
                if len(sub2) != 1 or "terms" not in next(iter(sub2.values())):
                    raise ValueError(f"{samp} supports exactly one terms sub-agg")
                ((_sn, s2),) = sub2.items()
                from engine.aggs import sampler_terms

                if matcher is not None:
                    # phrase context (the gate above admits only it):
                    # re-derive a SCORED matcher — true phrase BM25
                    # drives the sampler's top cut
                    from engine.query import phrase_scored_matcher

                    preader, ptext, pslop = _phrase_context_spec(
                        reader, query
                    )
                    sm_terms, sm = phrase_scored_matcher(
                        preader, ptext, pslop
                    )
                    df = sampler_terms(
                        preader, sm_terms, s2["terms"]["field"],
                        sample_size=sp.get("shard_size", 100),
                        diversify_field=sp.get("field")
                        if samp == "diversified_sampler" else None,
                        max_per_value=sp.get("max_docs_per_value", 1),
                        filters=filt, scored_matcher=sm, needs_pos=True,
                    )
                else:
                    df = sampler_terms(
                        reader, terms, s2["terms"]["field"],
                        sample_size=sp.get("shard_size", 100),
                        diversify_field=sp.get("field")
                        if samp == "diversified_sampler" else None,
                        max_per_value=sp.get("max_docs_per_value", 1),
                        mode=mode, filters=filt,
                    )
                bucket_dfs[name] = df
                out["aggregations"][name] = {
                    "buckets": [r.asDict() for r in df.collect()]
                }
                continue
            agg, post = _compile_agg(spec)
            df = search_aggs(
                areader, terms, agg, mode=mode, filters=filt,
                matcher=matcher, needs_pos=needs_pos, src=mf_src,
            )
            if post is not None:
                df = post(df)
            bucket_dfs[name] = df
            out["aggregations"][name] = {
                "buckets": [r.asDict() for r in df.collect()]
            }
        for name, sib, sspec in siblings:
            from engine.pipeline import sibling_bucket

            parent, _, path = sspec["buckets_path"].partition(">")
            if parent not in bucket_dfs:
                raise ValueError(
                    f"{sib} buckets_path references unknown agg {parent!r}"
                )
            if sib == "percentiles_bucket":
                from engine.pipeline import percentiles_bucket

                df = percentiles_bucket(
                    bucket_dfs[parent], path or "_count",
                    tuple(sspec.get("percents", (25.0, 50.0, 75.0))),
                )
            else:
                df = sibling_bucket(
                    bucket_dfs[parent], path or "_count", sib[:-7]
                )
            out["aggregations"][name] = {
                "buckets": [r.asDict() for r in df.collect()]
            }

    suggest_spec = body.get("suggest") or {}
    if suggest_spec:
        # ES suggest block: term / phrase / completion suggesters, each
        # routed to its native operator; options are the operator's rows
        # verbatim (frozen flat shape — no per-option highlighting)
        out["suggest"] = {}
        for name, spec in suggest_spec.items():
            if "term" in spec:
                from engine.query import suggest_terms as _st

                t_ = spec["term"]
                r_ = _text_reader(
                    reader, t_.get("field", reader.field), "term suggester"
                )
                df = _st(
                    r_, spec["text"],
                    max_edits=int(t_.get("max_edits", 2)),
                    size=int(t_.get("size", 5)),
                    prefix_length=int(t_.get("prefix_length", 0)),
                )
            elif "phrase" in spec:
                from engine.query import suggest_phrase as _sp

                p_ = spec["phrase"]
                r_ = _text_reader(
                    reader, p_.get("field", reader.field), "phrase suggester"
                )
                df = _sp(
                    r_, spec["text"],
                    size=int(p_.get("size", 5)),
                    max_edits=int(p_.get("max_edits", 2)),
                )
            elif "completion" in spec:
                from engine.query import suggest_complete as _sc

                c_ = spec["completion"]
                r_ = _text_reader(
                    reader, c_.get("field", reader.field),
                    "completion suggester",
                )
                df = _sc(r_, spec["prefix"], size=int(c_.get("size", 10)))
            else:
                raise ValueError(
                    f"unsupported suggester: {sorted(set(spec) - {'text', 'prefix'})}"
                )
            out["suggest"][name] = [
                {
                    "text": spec.get("text", spec.get("prefix", "")),
                    "options": [r.asDict() for r in df.collect()],
                }
            ]

    if body.get("profile"):
        # ES profile API (frozen minimal shape): which engine path served
        # the request and the wall time — enough to attribute latency to
        # an operator; per-Lucene-collector breakdowns have no analog here
        out["profile"] = {
            "shards": [
                {
                    "searches": [
                        {
                            "query": [
                                {
                                    "type": next(iter(query)),
                                    "description": (
                                        "sort" if sort_spec else
                                        "collapse" if body.get("collapse") else
                                        "rescore" if body.get("rescore") else
                                        "topk"
                                    ),
                                    "time_in_nanos": int((time.time() - t0) * 1e9),
                                }
                            ]
                        }
                    ]
                }
            ]
        }
    out.update(
        {
            "took": int((time.time() - t0) * 1000),
            "hits": {
                "total": {"value": int(total), "relation": relation},
                "hits": hits,
            },
        }
    )
    return out


def msearch(reader, bodies: list, corpus=None, embeddings=None) -> list:
    """ES `_msearch`: a batch of independent search bodies answered in
    request order — a pure dispatcher onto search() (each body already
    routes to operators that batch internally where it matters; the
    dedicated high-QPS path for large homogeneous batches is
    engine/query.py bm25_topk_batch)."""
    return [search(reader, b, corpus=corpus, embeddings=embeddings) for b in bodies]


def scroll_search(reader, body: dict, size: int = 10) -> dict:
    """ES scroll API, re-based on the PIT + search_after machinery (the
    pattern ES itself recommends over classic scroll contexts): the
    initial call pins the CURRENT delete snapshot and requires a
    single-field `sort` spec; each page returns `_scroll_id`, an opaque
    stateless continuation token (snapshot id + sort spec + analyzed
    query + raw filter clauses + last (value, _id) cursor) — no
    server-side context to expire, and any holder of the token resumes
    the exact point-in-time view (tombstone batches after the pin are
    invisible). Frozen divergence: a sort spec is required (no _doc
    default). Filter context rides the token as its raw clause JSON
    (rebuilt via _clause_filters every page), and a filter-ish
    top-level query (ids / range / exists / docvalue term / terms)
    scrolls as its own filter clause."""
    from engine.deletes import list_snapshots

    srt = body.get("sort")
    if not srt or len(srt) != 1:
        raise ValueError("scroll needs exactly one sort field")
    ((fld, o),) = srt[0].items()
    order = o.get("order", "asc") if isinstance(o, dict) else o
    q = _unwrap(body.get("query", {"match_all": {}}))
    filt_clauses = []
    if "bool" in q and q["bool"].get("filter") is not None:
        bf = q["bool"]["filter"]
        filt_clauses = list(bf) if isinstance(bf, list) else [bf]
        rest = {kk: v for kk, v in q["bool"].items() if kk != "filter"}
        q = {"bool": rest} if rest else {"match_all": {}}
    fc = _filterish_clauses(q, reader)
    if fc is not None:
        filt_clauses = filt_clauses + fc
        q = {"match_all": {}}
    _clause_filters(filt_clauses)  # validate, fail fast on page 1
    phrase = mm = ctxq = None
    if (
        "dis_max" in q or "more_like_this" in q
        or "match_bool_prefix" in q
        or (
            "match" in q
            and isinstance(next(iter(q["match"].values())), dict)
            and next(iter(q["match"].values())).get("fuzziness") is not None
        )
    ):
        # context-kind scroll (round-5 lift): the stateless token carries
        # the query SPEC and every page rebuilds the matched set via
        # _agg_context (dis_max term legs / mlt selection / fuzzy
        # expansion / bool_prefix union — all deterministic against the
        # pinned snapshot). Validation fails fast on page 1.
        _agg_context(reader, q)
        ctxq = q
        terms, mode, tfield = None, "or", None
    elif "multi_match" in q or "combined_fields" in q:
        # multi-field scroll: the stateless token carries the query SPEC
        # (matcher closures don't serialize); _scroll_page rebuilds the
        # multi-field matcher from it on every page. Validation happens
        # here (bad fields / unsupported type raise on page 1, not mid-
        # scroll) by building the matcher once and discarding it.
        key = "multi_match" if "multi_match" in q else "combined_fields"
        _mm_context_matcher(reader, key, q[key])  # validate, fail fast
        mm = {"key": key, "spec": q[key]}
        terms, mode, tfield = None, "or", None
    elif "match_phrase" in q:
        # phrase scroll: the stateless token carries the phrase SPEC
        # (matcher closures don't serialize); _scroll_page rebuilds the
        # positional matcher from it on every page
        ((pfld, spec),) = q["match_phrase"].items()
        _text_reader(reader, pfld, "scroll match_phrase")  # validate
        phrase = {
            "text": spec["query"] if isinstance(spec, dict) else spec,
            "slop": int(spec.get("slop", 0)) if isinstance(spec, dict) else 0,
            "tfield": pfld,
        }
        terms, mode = None, "or"
        tfield = None
    else:
        fl: set = set()
        terms, mode = _query_terms_or_none(
            q, allowed=tuple(reader.text_fields), fields_out=fl
        )
        tfield = fl.pop() if fl else None
    token = {
        "dir": reader.dir,
        "snap": len(list_snapshots(reader.dir)),
        "terms": terms, "mode": mode, "phrase": phrase, "mm": mm,
        "ctxq": ctxq, "filt": filt_clauses,
        "field": fld, "asc": order == "asc", "size": int(size),
        "after": None, "tfield": tfield,
    }
    return _scroll_page(reader.spark, token)


def scroll_next(spark, scroll_id: str) -> dict:
    """Continue a scroll: decode the stateless token and fetch the next
    snapshot-pinned page. An exhausted scroll returns zero hits and no
    _scroll_id."""
    import base64
    import json as _json

    token = _json.loads(base64.urlsafe_b64decode(scroll_id.encode()).decode())
    return _scroll_page(spark, token)


def _scroll_page(spark, token: dict) -> dict:
    import base64
    import json as _json

    from engine.aggs import search_sort
    from engine.query import IndexReader

    r = IndexReader(spark, token["dir"], snapshot_id=token["snap"])
    after = None
    if token["after"] is not None:
        val, url = token["after"]
        if isinstance(val, dict) and "__ts_us__" in val:
            # typed cursor: timestamp docvalues round-trip as wall-clock
            # micros since epoch, reconstructed here — never string-coerced
            import datetime as _dt

            val = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=val["__ts_us__"]
            )
        after = (val, url)
    terms, matcher, needs_pos, mf_src = token["terms"], None, False, None
    mode = token["mode"]
    tf_ = token.get("tfield")
    if tf_ and tf_ != r.field:
        r = r.for_field(tf_)
    if token.get("ctxq"):
        r, terms, mode, matcher, needs_pos, mf_src = _agg_context(
            r, token["ctxq"]
        )
        if matcher is not None:
            terms = []
    elif token.get("mm"):
        ctx = _mm_context_matcher(r, token["mm"]["key"], token["mm"]["spec"])
        if ctx is None:
            return {"hits": {"hits": []}}  # dead everywhere: empty scroll
        mf_src, matcher, needs_pos = ctx[0], ctx[1], ctx[2]
        terms = []
    elif token.get("phrase"):
        from engine.query import phrase_matcher

        pfld = token["phrase"].get("tfield", r.field)
        if pfld != r.field:
            r = r.for_field(pfld)
        pm = phrase_matcher(r, token["phrase"]["text"], token["phrase"]["slop"])
        if pm is None:
            return {"hits": {"hits": []}}  # dead slot term: empty scroll
        terms, matcher = pm
        needs_pos = True
    rows = search_sort(
        r, terms, token["field"], k=token["size"],
        mode=mode, ascending=token["asc"], search_after=after,
        filters=_clause_filters(token.get("filt") or []),
        matcher=matcher, needs_pos=needs_pos, src=mf_src,
    ).collect()
    hits = [
        {"_id": x["url"], "sort": [x["sort_val"], x["url"]]} for x in rows
    ]
    out = {"hits": {"hits": hits}}
    if rows:
        sv = rows[-1]["sort_val"]
        if hasattr(sv, "timestamp"):  # datetime / pandas Timestamp docvalue
            import datetime as _dt

            naive = sv.replace(tzinfo=None)
            sv = {
                "__ts_us__": (naive - _dt.datetime(1970, 1, 1))
                // _dt.timedelta(microseconds=1)
            }
        elif hasattr(sv, "item"):  # numpy scalar -> native
            sv = sv.item()
        nxt = dict(token, after=[sv, rows[-1]["url"]])
        # no default=str: every cursor type is encoded explicitly above, so
        # a non-JSON-native value is a bug to surface, not to stringify
        out["_scroll_id"] = base64.urlsafe_b64encode(
            _json.dumps(nxt).encode()
        ).decode()
    return out


def validate_query(reader, body: dict) -> dict:
    """ES `_validate/query` (explain=false shape): dry-run the body
    through the SAME dispatch that serves it, returning {"valid": bool,
    "error": str|None}. A body is valid exactly when search() would
    route it — the query probe runs the real dispatcher with k=0 (the
    trivial empty-k path; nothing is collected here), and agg specs go
    through the same compiler, so there is no second grammar to drift."""
    try:
        q = body.get("query", {"match_all": {}})
        if "match_all" not in q:
            _hits(reader, q, 0, _clause_filters(
                q.get("bool", {}).get("filter", [])) if "bool" in q else ())
        for spec in (body.get("aggs") or body.get("aggregations") or {}).values():
            if not any(
                k in spec
                for k in ("sampler", "diversified_sampler", "global",
                          "significant_text", "significant_terms",
                          "top_metrics", *_SIBLINGS_KINDS)
            ):
                _compile_agg(spec)
        return {"valid": True, "error": None}
    except (ValueError, KeyError) as e:
        return {"valid": False, "error": str(e)}


_SIBLINGS_KINDS = (
    "avg_bucket", "sum_bucket", "min_bucket", "max_bucket", "stats_bucket",
    "percentiles_bucket",
)

def field_caps(reader) -> dict:
    """ES `_field_caps`: what fields exist on this index and what each
    supports — answered entirely from the manifest (no data read). The
    indexed full-text field is always `text` (searchable, not
    aggregatable: the index stores postings, not the source); every
    docvalue column is aggregatable + sortable; `url` is the keyword _id
    twin. Type names come from the docmap arrow schema via the reader's
    vtype mapping (the same source the sort/agg validators use, so caps
    can never disagree with what search_sort/search_aggs accept)."""
    from engine.query import _spark_vtype

    _ES_T = {"long": "long", "double": "double", "string": "keyword",
             "timestamp_ntz": "date"}
    caps: dict = {
        "text": {"text": {"searchable": True, "aggregatable": False}},
        "url": {"keyword": {"searchable": True, "aggregatable": True}},
    }
    for f in reader.manifest.get("docvalue_cols") or []:
        t = _ES_T.get(_spark_vtype(reader, f), "keyword")
        caps[f] = {t: {"searchable": False, "aggregatable": True}}
    return {"indices": [reader.dir], "fields": caps}


def render_search_template(source, params: dict) -> dict:
    """ES `_search/template` (mustache subset): substitute `{{var}}`
    placeholders in the template with `params` values and return the
    rendered body dict ready for search(). Frozen subset: plain variable
    substitution only (no sections/partials — the overwhelming template
    use-case is parameterizing terms/sizes). String-valued holes
    substitute textually; a hole that IS the whole string value adopts
    the param's JSON type (ES's behavior for `"size": "{{k}}"` with
    numeric k). Unresolved placeholders raise (fail closed, not silent
    empty-string holes)."""
    import json as _json
    import re as _re

    if isinstance(source, dict):
        source = _json.dumps(source)

    holes = set(_re.findall(r"\{\{(\w+)\}\}", source))
    missing = holes - set(params)
    if missing:
        raise ValueError(f"unresolved template params: {sorted(missing)}")

    def _render(node):
        if isinstance(node, dict):
            return {_render(k): _render(v) for k, v in node.items()}
        if isinstance(node, list):
            return [_render(v) for v in node]
        if isinstance(node, str):
            m = _re.fullmatch(r"\{\{(\w+)\}\}", node)
            if m:
                return params[m.group(1)]  # whole-hole: adopt param type
            return _re.sub(
                r"\{\{(\w+)\}\}", lambda mm: str(params[mm.group(1)]), node
            )
        return node

    return _render(_json.loads(source))


# ---------------------------------------------------------------------------
# _rank_eval: ranked-result quality metrics over the real search dispatcher
# ---------------------------------------------------------------------------

def _rank_eval_metric(metric: dict, ranked: list, ratings: dict):
    """One request's metric over its ranked hit ids. `ranked` is the hit
    id list in rank order; `ratings` maps id -> integer rating. Returns
    (score, metric_details). Definitions are the ES RankEval module's
    (public docs/Lucene): precision@k / recall@k with a relevance
    threshold, MRR, (n)DCG with the exponential 2^rel-1 gain, and ERR
    with the graded-cascade stopping model."""
    import math

    ((kind, spec),) = metric.items()
    thr = int(spec.get("relevant_rating_threshold", 1))
    if kind == "precision":
        if spec.get("ignore_unlabeled", False):
            considered = [i for i in ranked if i in ratings]
        else:
            considered = ranked
        rel = sum(1 for i in considered if ratings.get(i, 0) >= thr)
        score = rel / len(considered) if considered else 0.0
        return score, {"relevant_docs_retrieved": rel,
                       "docs_retrieved": len(considered)}
    if kind == "recall":
        total_rel = sum(1 for v in ratings.values() if v >= thr)
        rel = sum(1 for i in ranked if ratings.get(i, 0) >= thr)
        score = rel / total_rel if total_rel else 0.0
        return score, {"relevant_docs_retrieved": rel,
                       "relevant_docs": total_rel}
    if kind == "mean_reciprocal_rank":
        for pos, i in enumerate(ranked, 1):
            if ratings.get(i, 0) >= thr:
                return 1.0 / pos, {"first_relevant": pos}
        return 0.0, {"first_relevant": -1}
    if kind == "dcg":
        def dcg_of(rels):
            return sum(
                (2.0 ** r - 1.0) / math.log2(pos + 1)
                for pos, r in enumerate(rels, 1)
            )
        dcg = dcg_of([ratings.get(i, 0) for i in ranked])
        if not spec.get("normalize", False):
            return dcg, {"dcg": dcg}
        # ideal DCG over the metric's k (ES definition), NOT len(ranked):
        # a request returning fewer than k hits must not inflate NDCG
        kk = int(spec.get("k", len(ranked)) or len(ranked))
        ideal = dcg_of(sorted(ratings.values(), reverse=True)[:kk])
        return (dcg / ideal if ideal else 0.0), {"dcg": dcg, "ideal_dcg": ideal}
    if kind == "expected_reciprocal_rank":
        max_r = int(spec["maximum_relevance"])
        p_stay, err = 1.0, 0.0
        for pos, i in enumerate(ranked, 1):
            r = (2.0 ** ratings.get(i, 0) - 1.0) / 2.0 ** max_r
            err += p_stay * r / pos
            p_stay *= 1.0 - r
        return err, {"unrated_docs": sum(1 for i in ranked if i not in ratings)}
    raise ValueError(f"rank_eval: unknown metric {kind!r}")


def rank_eval(reader, body: dict, corpus=None, embeddings=None) -> dict:
    """ES `_rank_eval` endpoint: run each templated/raw request through
    the REAL search() dispatcher, grade its ranked hits against the
    request's ratings with the body's metric, and average. Response
    shape follows ES: overall `metric_score`, per-request `details` with
    `unrated_docs` ([{_id}] actually hit) and rated `hits`, `failures`
    keyed by request id for bodies search() rejects.

    Metric math is driver-side over <=k already-collected hits per
    request -- the correct cost shape for an evaluation endpoint; the
    ranked lists themselves come from the same bucket-pruned kernels
    every query uses. `metric.*.k` overrides each request's size (ES
    contract); templates render via render_search_template."""
    import json as _json

    metric = body["metric"]
    k = next(iter(metric.values())).get("k")
    templates = {
        t["id"]: _json.dumps(t["template"])
        for t in body.get("templates", [])
    }
    details: dict = {}
    failures: dict = {}
    scores = []
    for req in body["requests"]:
        rid = req["id"]
        try:
            if "template_id" in req:
                sbody = render_search_template(
                    templates[req["template_id"]], req.get("params", {}))
            else:
                sbody = dict(req["request"])
            if k is not None:
                sbody["size"] = int(k)
            resp = search(reader, sbody, corpus=corpus, embeddings=embeddings)
        except (ValueError, KeyError) as e:
            failures[rid] = str(e)
            continue
        ranked = [h["_id"] for h in resp["hits"]["hits"]]
        ratings = {r["_id"]: int(r["rating"]) for r in req["ratings"]}
        score, mdet = _rank_eval_metric(metric, ranked, ratings)
        scores.append(score)
        details[rid] = {
            "metric_score": score,
            "unrated_docs": [{"_id": i} for i in ranked if i not in ratings],
            "hits": [
                {"hit": {"_id": i}, "rating": ratings.get(i)} for i in ranked
            ],
            "metric_details": {next(iter(metric)): mdet},
        }
    return {
        "metric_score": sum(scores) / len(scores) if scores else 0.0,
        "details": details,
        "failures": failures,
    }


def analyze(text: str, analyzer: str = "standard") -> dict:
    """ES `_analyze` endpoint: run a named analyzer over `text` and
    return the ES-shaped token list — {"tokens": [{"token",
    "start_offset", "end_offset", "position", "type"}]}.

    Frozen scope (the engine's own analyzers, engine/textnorm.py):
    - "standard": the index/document analyzer — standard tokenize
      (\\w+ runs, the documented UAX#29 divergence) over the lowercased
      input; duplicates kept (ES _analyze shows the raw stream — the
      query-side first-seen dedupe belongs to analyze_query_py only).
    - "simple": letter runs, lowercased.
    - "whitespace": whitespace-delimited tokens, case preserved.
    - "stop": simple + Lucene's public 33-word English stop list;
      position increments are PRESERVED across removed words (ES stop
      tokenfilter default), unlike the index-key twin analyzer_stop_py
      whose plain stream is what a stop-analyzed field stores.
    - "keyword": the whole input as one token.

    Offsets index the LOWERCASED input for the lowercasing analyzers
    (frozen: Python str.lower() may change length for a handful of
    Unicode points; ES maps offsets through the filter chain instead —
    documented divergence, harmless for the \\w token alphabet)."""
    import re as _re

    from engine.textnorm import (
        _SIMPLE_TOKEN_RE,
        _STANDARD_TOKEN_RE,
        _STOPSET,
    )

    def toks(rx, s, ttype):
        return [
            {"token": m.group(0), "start_offset": m.start(),
             "end_offset": m.end(), "position": i, "type": ttype}
            for i, m in enumerate(rx.finditer(s))
        ]

    if analyzer == "standard":
        return {"tokens": toks(_STANDARD_TOKEN_RE, text.lower(), "<ALPHANUM>")}
    if analyzer == "simple":
        return {"tokens": toks(_SIMPLE_TOKEN_RE, text.lower(), "<ALPHANUM>")}
    if analyzer == "whitespace":
        return {"tokens": toks(_re.compile(r"\S+"), text, "word")}
    if analyzer == "stop":
        out = [
            t for t in toks(_SIMPLE_TOKEN_RE, text.lower(), "<ALPHANUM>")
            if t["token"] not in _STOPSET
        ]
        return {"tokens": out}
    if analyzer == "keyword":
        if text == "":
            return {"tokens": []}
        return {"tokens": [{"token": text, "start_offset": 0,
                            "end_offset": len(text), "position": 0,
                            "type": "word"}]}
    raise ValueError(
        f"unknown analyzer {analyzer!r} "
        "(supported: standard, simple, whitespace, stop, keyword)"
    )
