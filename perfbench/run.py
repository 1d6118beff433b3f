"""spark-fulltext benchmark: builds the index from a seeded corpus, runs one
workload against the engine's public API, checks its outputs and prints one
JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs the workload with
span wrappers and Spark's event log on and prints the per-layer metrics.
Everything the run writes goes under .perfbench/ at the checkout root and is
removed at exit. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

N_DOCS = 10_000
BUILD_KW = dict(
    n_shards=8,
    n_buckets=4,
    bucket_chunk=4,  # fused path: one shuffle + encode pass per field
    text_fields=["text", "title"],
    index_options="positions",
    docvalue_cols=["lang"],
)
K = 10
READER_SETUPS = 7
WARMUP_ROUNDS = 6
SERVE_CHECKS = 8
BATCH_QUERIES = 300
BATCH_WARMUP_QUERIES = 100
BATCH_CHECKS = 3
DELETE_BATCH = 50
REFRESH_SEARCHES = 3

E2E = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "ratio",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

# per-layer metric -> the span name whose self time per operation it reports
SPAN_LAYERS = {
    "dsl.self_ms": "dsl",
    "querystring.self_ms": "querystring",
    "query.reader_open_ms": "query.reader_open",
    "query.dictionary_ms": "query.dictionary",
    "query.dictionary_load_ms": "query.dictionary_load",
    "query.docmap_load_ms": "query.docmap_load",
    "query.postings_fetch_ms": "query.postings_fetch",
    "postings.decode_ms": "postings.decode",
    "query.kernel.bmw_self_ms": "query.kernel.bmw",
    "query.kernel.taat_self_ms": "query.kernel.taat",
    "query.kernel.phrase_self_ms": "query.kernel.phrase",
    "query.kernel.mf_self_ms": "query.kernel.mf",
    "query.kernel.other_self_ms": "query.kernel.other",
    "docvalues.filter_ms": "docvalues.filter",
    "query.finalize_ms": "query.finalize",
    "deletes.load_tombstones_ms": "deletes.load_tombstones",
    "deletes.delete_docs_ms": "deletes.delete_docs",
    "query.batch.self_ms": "query.batch",
}
PER_LAYER = {
    **{name: "ms" for name in SPAN_LAYERS},
    "query.postings_fetch_bytes": "bytes",
    "postings.decode_calls": "count",
    "query.bmw_blocks_decoded_frac": "ratio",
    "query.taat_fallbacks": "count",
    "deletes.tombstones_written": "count",
    "refresh.delete_p50_ms": "ms",
    "refresh.reopen_search_p50_ms": "ms",
    "refresh.search_p50_ms": "ms",
    "query.batch.driver_ms": "ms",
    "query.batch.executor_run_ms": "ms",
    "query.batch.executor_cpu_ms": "ms",
    "query.batch.gc_ms": "ms",
    "query.batch.shuffle_read_bytes": "bytes",
    "query.batch.tasks": "count",
    "index_build.docmap_ms": "ms",
    "index_build.postings_ms": "ms",
    "index_build.rest_ms": "ms",
    "index_build.postings_in": "count",
    "index_build.shuffle_write_bytes": "bytes",
    "index_build.spill_bytes": "bytes",
    "index_build.gc_ms": "ms",
    "index_build.executor_run_ms": "ms",
    "index_build.executor_cpu_ms": "ms",
    "index_build.postings_bytes": "bytes",
    "index_build.docmap_bytes": "bytes",
    "index_build.term_stats_bytes": "bytes",
    "trace.overhead_frac": "ratio",
    "trace.accounted_frac": "ratio",
}

# serve kinds whose text clause is a plain OR match, eligible for BMW
OR_KINDS = ("match_or", "bool_lang", "bool_range", "query_string")

DESC_BUILD = "perfbench:index_build"
DESC_BATCH = "perfbench:query.batch"
DESC_OTHER = "perfbench:other"


def _log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


_T0 = time.monotonic()


def _pct(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


class Bench:
    """One run: the seeded corpus and inputs, the oracle, the built index,
    and the operation tallies. Construction needs no Spark session, so it
    can overlap the session start."""

    def __init__(self, seed: int, work: Path, rec):
        import pyarrow.parquet as pq

        from engine.oracle import Bm25Oracle
        from gen import Inputs, corpus

        self.seed, self.work, self.rec = seed, work, rec
        self.spark = None
        self.tbl = corpus(N_DOCS, seed)
        self.pages = str(work / "pages.parquet")
        pq.write_table(self.tbl, self.pages, row_group_size=1024)
        self.inputs = Inputs(self.tbl, seed)
        # doc ids are renumbered to the index's own after the build
        self.oracle = Bm25Oracle(list(enumerate(t for _, t in self.inputs.valid)))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.deleted: set[str] = set()
        self.idx = str(work / "index")

    # -- set-up ---------------------------------------------------------------

    def build(self, spark) -> None:
        """Build the index, then give the oracle the index's doc ids so that
        both break score ties the same way."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from engine.index_build import build_index

        self.spark = spark
        sc = spark.sparkContext
        sc.setJobDescription(DESC_BUILD)
        t0 = time.perf_counter()
        manifest = build_index(spark, self.pages, self.idx, **BUILD_KW)
        self.build_s = time.perf_counter() - t0
        sc.setJobDescription(DESC_OTHER)
        self.n_docs = manifest["n_docs"]
        n_valid = len(self.inputs.valid)
        self.check(self.n_docs == n_valid, f"n_docs {self.n_docs} != {n_valid}")
        self.index_bytes = _dir_bytes(self.idx)
        self.text_bytes = sum(
            pc.sum(pc.binary_length(self.tbl.column(c).cast("binary"))).as_py() or 0
            for c in BUILD_KW["text_fields"]
        )
        dm = ds.dataset(os.path.join(self.idx, "docmap"), format="parquet",
                        partitioning="hive").to_table(columns=["url", "doc_id"])
        doc_of = dict(zip(dm.column("url").to_pylist(), dm.column("doc_id").to_pylist()))
        self.url_of = {d: u for u, d in doc_of.items()}
        self.oracle.doc_ids = [doc_of[u] for u, _ in self.inputs.valid]

    def reader_setups(self):
        """READER_SETUPS times: open a fresh reader and answer one search.
        Returns the last reader; records the median as setup_s."""
        from engine import dsl
        from engine.query import IndexReader

        body = self.inputs.match_or_bodies(90, 1)[0]
        times, reader = [], None
        for _ in range(READER_SETUPS):
            t0 = time.perf_counter()
            reader = IndexReader(self.spark, self.idx)
            dsl.search(reader, body)
            times.append(time.perf_counter() - t0)
        self.setup_s = statistics.median(times)
        return reader

    # -- checks ---------------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def same(self, got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
        return len(got) == len(want) and all(
            gu == wu and math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-9)
            for (gu, gs), (wu, ws) in zip(got, want)
        )

    def check_against_oracle(self, body: dict, resp: dict) -> None:
        """resp must equal the oracle's top-k over live docs for body, a
        plain match-OR on `text`."""
        from engine.oracle import analyze_query_py

        terms = analyze_query_py(body["query"]["match"]["text"])
        want = [
            (self.url_of[d], s)
            for d, s in self.oracle.topk(terms, k=K + len(self.deleted))
            if self.url_of[d] not in self.deleted
        ][:K]
        got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
        self.check(self.same(got, want), f"oracle mismatch for {body}")

    def result(self, metrics: dict) -> dict:
        for p in self.problems[:5]:
            print("perfbench: check failed:", p, file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


# -- workloads ----------------------------------------------------------------


def _timed(bench: Bench, fn, *args):
    """(seconds, result) of one operation; an exception counts as a failed
    operation and returns (seconds, None)."""
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    except Exception as e:  # a failed operation is counted, not fatal
        bench.check(False, f"{type(e).__name__}: {e}")
        return time.perf_counter() - t0, None
    bench.attempted += 1
    return time.perf_counter() - t0, out


def warm_serve(bench: Bench, reader) -> None:
    """WARMUP_ROUNDS rounds of the serve mix on a stream of their own."""
    from engine import dsl
    from gen import SERVE_KINDS

    stream = bench.inputs.serve_stream(1)
    for _ in range(WARMUP_ROUNDS * len(SERVE_KINDS)):
        dsl.search(reader, next(stream)[1])


def run_serve(bench: Bench, reader, seconds: float, inst_fn=None) -> dict:
    """Closed loop, one client: the next _search is sent when the previous
    one returned. With inst_fn (traced runs) whole rounds of the mix
    alternate between traced and untraced, so both sides see the same
    kinds."""
    from engine import dsl
    from gen import SERVE_KINDS

    stream = bench.inputs.serve_stream(2)
    lat, kinds, traced = [], [], []
    inst = None
    t_start = time.perf_counter()
    t_end = t_start + seconds
    while time.perf_counter() < t_end:
        if inst_fn is not None and len(lat) % len(SERVE_KINDS) == 0:
            if inst is None:
                inst = inst_fn()
            else:
                inst.uninstall()
                inst = None
        kind, body = next(stream)
        if bench.rec is not None:
            bench.rec.request = len(lat)
        dt, _ = _timed(bench, dsl.search, reader, body)
        lat.append(dt)
        kinds.append(kind)
        traced.append(inst is not None)
    wall = time.perf_counter() - t_start
    if inst is not None:
        inst.uninstall()
    if bench.rec is not None:
        bench.rec.request = -1
    for body in bench.inputs.match_or_bodies(3, SERVE_CHECKS):
        bench.check_against_oracle(body, dsl.search(reader, body))
    return {"lat": lat, "kinds": kinds, "traced": traced, "wall": wall}


def check_batch(bench: Bench, reader, queries: dict, rows: list, cycle: int) -> None:
    """No deleted url in the batch result, and BATCH_CHECKS seeded queries
    equal to bm25_topk_rows on the same reader."""
    from engine.query import bm25_topk_rows

    bad = [r["url"] for r in rows if r["url"] in bench.deleted]
    bench.check(not bad, f"deleted urls returned: {bad[:3]}")
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    rng = np.random.default_rng([bench.seed, 4000 + cycle])
    for qid in rng.choice(len(queries), BATCH_CHECKS, replace=False).tolist():
        got = [(r["url"], r["score"]) for r in sorted(by_q.get(qid, []), key=lambda r: r["rank"])]
        want = [(u, s) for u, _, s in bm25_topk_rows(reader, queries[qid], k=K)]
        bench.check(bench.same(got, want), f"batch query {qid} != bm25_topk_rows")


def run_batch(bench: Bench, reader, seconds: float) -> dict:
    """Cycles of: delete a seeded batch of live urls, open a new reader and
    answer REFRESH_SEARCHES match-OR searches, then one bm25_topk_batch call
    over BATCH_QUERIES distinct queries, collected."""
    from engine import dsl
    from engine.deletes import delete_docs
    from engine.query import IndexReader, bm25_topk_batch

    sc = bench.spark.sparkContext
    rec = bench.rec

    def batch(queries: dict) -> list:
        return bm25_topk_batch(reader, queries, k=K).collect()

    # warm-up: one smaller batch call on a query set of its own
    batch(bench.inputs.batch_queries(50, BATCH_WARMUP_QUERIES))
    out = {"batch": [], "delete": [], "reopen": [], "search": [], "cycle": []}
    t_start = time.perf_counter()
    cycle = 0
    while time.perf_counter() < t_start + seconds:
        c0 = time.perf_counter()
        if rec is not None:
            rec.request = cycle
        urls = bench.inputs.delete_batch(1000 + cycle, DELETE_BATCH, bench.deleted)
        out["delete"].append(_timed(bench, delete_docs, bench.spark, bench.idx, urls)[0])
        bench.deleted.update(urls)

        bodies = bench.inputs.match_or_bodies(2000 + cycle, REFRESH_SEARCHES)
        t0 = time.perf_counter()
        reader = IndexReader(bench.spark, bench.idx)
        resps = []
        for i, body in enumerate(bodies):
            dt, resp = _timed(bench, dsl.search, reader, body)
            resps.append(resp)
            if i == 0:  # reopen + first search, cold reader caches
                out["reopen"].append(time.perf_counter() - t0)
            else:
                out["search"].append(dt)

        queries = bench.inputs.batch_queries(3000 + cycle, BATCH_QUERIES)
        sc.setJobDescription(DESC_BATCH)
        with rec.span("query.batch") if rec is not None else contextlib.nullcontext():
            dt, rows = _timed(bench, batch, queries)
        sc.setJobDescription(DESC_OTHER)
        out["batch"].append(dt)
        out["cycle"].append(time.perf_counter() - c0)
        if rec is not None:
            rec.request = -1

        # untimed output checks
        for body, resp in zip(bodies, resps):
            if resp is not None:
                bench.check_against_oracle(body, resp)
        if rows is not None:
            check_batch(bench, reader, queries, rows, cycle)
        cycle += 1
    out["wall"] = time.perf_counter() - t_start
    return out


# -- metrics ------------------------------------------------------------------


def e2e_metrics(bench: Bench, workload: str, res: dict) -> dict:
    if workload == "serve":
        lat = res["lat"]
        throughput = len(lat) / res["wall"]
    else:
        lat = res["batch"]
        throughput = BATCH_QUERIES * len(lat) / sum(lat)
    values = {
        "setup_s": bench.setup_s,
        "build_docs_per_s": bench.n_docs / bench.build_s,
        "index_bytes_per_text_byte": bench.index_bytes / bench.text_bytes,
        "op_p50_ms": _pct(lat, 50) * 1e3,
        "op_p90_ms": _pct(lat, 90) * 1e3,
        "throughput_per_s": throughput,
    }
    return {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}


def span_metrics(rec, requests: set[int], n_ops: int, op_wall_s: float) -> tuple[dict, set[int]]:
    """Per-op self time per layer, plus counters, over the spans of the
    given requests."""
    self_ns = rec.self_ns()
    by_name: dict[str, float] = {}
    names = {s[0]: s[2] for s in rec.spans}
    fetch_bytes = decode_calls = bmw_blocks = bmw_decoded = written = 0
    taat_requests: set[int] = set()
    total_ns = 0
    for sid, parent, name, req, t0, t1, attrs in rec.spans:
        if req not in requests:
            continue
        by_name[name] = by_name.get(name, 0) + self_ns[sid]
        total_ns += self_ns[sid]
        if name == "query.postings_fetch":
            fetch_bytes += attrs["bytes"]
        elif name == "postings.decode":
            decode_calls += 1
            if names.get(parent) == "query.kernel.bmw":
                bmw_decoded += 1
        elif name == "query.kernel.bmw" and attrs:
            bmw_blocks += attrs["blocks"]
        elif name == "query.kernel.taat":
            taat_requests.add(req)
        elif name == "deletes.delete_docs" and attrs:
            written += attrs["written"]
    n = max(n_ops, 1)
    out = {m: by_name.get(s, 0) / 1e6 / n for m, s in SPAN_LAYERS.items()}
    out.update({
        "query.postings_fetch_bytes": fetch_bytes / n,
        "postings.decode_calls": decode_calls / n,
        "query.bmw_blocks_decoded_frac": bmw_decoded / bmw_blocks if bmw_blocks else 0.0,
        "deletes.tombstones_written": written,
        "trace.accounted_frac": total_ns / 1e9 / op_wall_s if op_wall_s else 0.0,
    })
    return out, taat_requests


def build_layer_metrics(bench: Bench, log: dict) -> dict:
    import pyarrow.dataset as ds

    tbl = ds.dataset(os.path.join(bench.idx, "metrics"), format="parquet").to_table()
    docmap_ms = postings_ms = postings_in = 0.0
    for metric, value in zip(tbl.column("metric").to_pylist(), tbl.column("value").to_pylist()):
        if metric == "stage:docmap:elapsed_ms":
            docmap_ms += value
        elif metric.startswith("stage:postings") and metric.endswith(":elapsed_ms"):
            postings_ms += value
        elif metric.startswith("stage:postings") and metric.endswith(":postings_in"):
            postings_in += value
    b = log.get(DESC_BUILD, {})
    return {
        "index_build.docmap_ms": docmap_ms,
        "index_build.postings_ms": postings_ms,
        "index_build.rest_ms": bench.build_s * 1e3 - docmap_ms - postings_ms,
        "index_build.postings_in": postings_in,
        "index_build.shuffle_write_bytes": b.get("shuffle_write_bytes", 0),
        "index_build.spill_bytes": b.get("spill_bytes", 0),
        "index_build.gc_ms": b.get("gc_ms", 0),
        "index_build.executor_run_ms": b.get("executor_run_ms", 0),
        "index_build.executor_cpu_ms": b.get("executor_cpu_ms", 0),
        "index_build.postings_bytes": _dir_bytes(os.path.join(bench.idx, "postings")),
        "index_build.docmap_bytes": _dir_bytes(os.path.join(bench.idx, "docmap")),
        "index_build.term_stats_bytes": _dir_bytes(os.path.join(bench.idx, "term_stats")),
    }


def layer_metrics(bench: Bench, workload: str, res: dict, log: dict) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(build_layer_metrics(bench, log))
    if workload == "serve":
        reqs = {i for i, t in enumerate(res["traced"]) if t}
        wall = sum(dt for dt, t in zip(res["lat"], res["traced"]) if t)
        spans, taat = span_metrics(bench.rec, reqs, len(reqs), wall)
        out.update(spans)
        out["query.taat_fallbacks"] = sum(
            1 for i in taat if res["kinds"][i] in OR_KINDS
        )
        on = [dt for dt, t in zip(res["lat"], res["traced"]) if t]
        off = [dt for dt, t in zip(res["lat"], res["traced"]) if not t]
        out["trace.overhead_frac"] = statistics.median(on) / statistics.median(off) - 1
    else:
        n = len(res["batch"])
        spans, _ = span_metrics(bench.rec, set(range(n)), n, sum(res["cycle"]))
        out.update(spans)
        b = log.get(DESC_BATCH, {})
        out.update({
            "refresh.delete_p50_ms": _pct(res["delete"], 50) * 1e3,
            "refresh.reopen_search_p50_ms": _pct(res["reopen"], 50) * 1e3,
            "refresh.search_p50_ms": _pct(res["search"], 50) * 1e3,
            "query.batch.driver_ms": (sum(res["batch"]) * 1e3 - b.get("job_ms", 0)) / n,
            "query.batch.executor_run_ms": b.get("executor_run_ms", 0) / n,
            "query.batch.executor_cpu_ms": b.get("executor_cpu_ms", 0) / n,
            "query.batch.gc_ms": b.get("gc_ms", 0) / n,
            "query.batch.shuffle_read_bytes": b.get("shuffle_read_bytes", 0) / n,
            "query.batch.tasks": b.get("tasks", 0) / n,
        })
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in out.items()}


# -- driver -------------------------------------------------------------------


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, root: Path, work: Path) -> dict:
    import sparklog
    import tracing
    from engine.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": str(work / "tmp"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = work / "eventlog"
    if args.trace:
        log_dir.mkdir()
        conf.update(sparklog.conf(str(log_dir)))
    rec = tracing.Recorder() if args.trace else None
    with ThreadPoolExecutor(1) as pool:
        prep = pool.submit(Bench, args.seed, work, rec)
        spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        _log("spark session up")
    try:
        bench = prep.result()
        bench.build(spark)
        _log(f"index built in {bench.build_s:.1f}s")
        reader = bench.reader_setups()
        if args.workload == "serve":
            warm_serve(bench, reader)
            res = run_serve(
                bench, reader, args.seconds,
                (lambda: tracing.install(rec)) if rec is not None else None,
            )
        else:
            inst = tracing.install(rec) if rec is not None else None
            res = run_batch(bench, reader, args.seconds)
            if inst is not None:
                inst.uninstall()
        _log(f"{args.workload} done")
    finally:
        _stop_spark(spark)
    _log("spark stopped")
    if rec is None:
        return bench.result(e2e_metrics(bench, args.workload, res))
    rec.dump(str(root / ".perfbench" / f"spans-{args.workload}-{args.seed}.jsonl"))
    return bench.result(layer_metrics(bench, args.workload, res, sparklog.read(str(log_dir))))


WORKLOADS = ("serve", "batch")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path(__file__).resolve().parent.parent
    if not (root / "engine" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {root}", file=sys.stderr)
        return 2
    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    tmp = str(work / "tmp")
    # keep every temporary file of this process, the JVM and the Python
    # workers inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(root))
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
