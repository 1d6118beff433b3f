"""In-process interleaved A/B of the serve path: two checkouts of the repo,
one Spark session, one index, alternating sides per round.

    python scripts/serve_ab.py BASE_ROOT HEAD_ROOT --seed 1 --rounds 10

BASE_ROOT / HEAD_ROOT are checkout roots (each holding engine/ and
perfbench/). Both sides' engine packages are imported into this process
under the name `engine` and swapped in sys.modules before each side's turn,
so lazy `from engine.x import y` imports inside a request resolve to that
side. The index is built once, with HEAD's engine and perfbench's build
settings, over perfbench's seeded 10k-doc corpus. Each round sends the next
8-kind serve mix (perfbench/gen.py) through `dsl.search` on both sides, in
alternating order, and compares the responses' (_id, _score) lists.

Because both sides share the JVM, the index and the host's minute-to-minute
speed, this is the steady latency check; perfbench/run.py's fresh-process
runs remain the end-to-end record. Prints one JSON line: per-side p50 / p90
overall and per kind, and the number of differing responses.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BODIES_PER_ROUND = 48  # serve-mix bodies each side answers per round
WARMUP_ROUNDS = 2  # leading rounds left out of the latencies

def _engine_names() -> list[str]:
    return [m for m in sys.modules if m == "engine" or m.startswith("engine.")]


def load_engine(root: str) -> dict:
    """Import every engine module of the checkout at root; return them by
    name and leave sys.modules without them."""
    for name in _engine_names():
        del sys.modules[name]
    sys.path.insert(0, root)
    try:
        for path in sorted(glob.glob(os.path.join(root, "engine", "*.py"))):
            mod = os.path.basename(path)[:-3]
            importlib.import_module("engine" if mod == "__init__" else f"engine.{mod}")
        mods = {name: sys.modules[name] for name in _engine_names()}
    finally:
        sys.path.remove(root)
    for name in mods:
        del sys.modules[name]
    return mods


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=10)
    args = ap.parse_args(argv)
    roots = {"base": os.path.abspath(args.base), "head": os.path.abspath(args.head)}

    sides = {side: load_engine(root) for side, root in roots.items()}
    sys.modules.update(sides["head"])
    sys.path.insert(0, os.path.join(roots["head"], "perfbench"))
    import pyarrow.parquet as pq
    from gen import Inputs, corpus
    from run import BUILD_KW, N_DOCS

    # Spark's Python workers (the index build) import HEAD's engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [roots["head"]] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    work = tempfile.mkdtemp(prefix="serve-ab-")
    spark = sides["head"]["engine.session"].get_spark(
        "serve-ab", master="local[4]",
        extra_conf={"spark.local.dir": os.path.join(work, "tmp"),
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tbl = corpus(N_DOCS, args.seed)
        pages = os.path.join(work, "pages.parquet")
        pq.write_table(tbl, pages, row_group_size=1024)
        idx = os.path.join(work, "index")
        sides["head"]["engine.index_build"].build_index(spark, pages, idx, **BUILD_KW)
        readers = {s: mods["engine.query"].IndexReader(spark, idx) for s, mods in sides.items()}
        stream = Inputs(tbl, args.seed).serve_stream(2)

        lat = {s: {} for s in sides}
        diffs = 0
        for rnd in range(WARMUP_ROUNDS + args.rounds):
            bodies = [next(stream) for _ in range(BODIES_PER_ROUND)]
            order = ["base", "head"] if rnd % 2 == 0 else ["head", "base"]
            got = {}
            for side in order:
                sys.modules.update(sides[side])
                search = sides[side]["engine.dsl"].search
                got[side] = []
                for kind, body in bodies:
                    t0 = time.perf_counter()
                    resp = search(readers[side], body)
                    dt = (time.perf_counter() - t0) * 1000.0
                    got[side].append([(h["_id"], h["_score"]) for h in resp["hits"]["hits"]])
                    if rnd >= WARMUP_ROUNDS:
                        lat[side].setdefault(kind, []).append(dt)
            diffs += sum(a != b for a, b in zip(got["base"], got["head"]))

        out = {"seed": args.seed, "rounds": args.rounds, "bodies": BODIES_PER_ROUND, "differing": diffs}
        for side in sides:
            every = [x for xs in lat[side].values() for x in xs]
            out[side] = {
                "p50_ms": round(statistics.median(every), 2),
                "p90_ms": round(_pct(every, 0.9), 2),
                "kinds_p50_ms": {k: round(statistics.median(v), 2) for k, v in lat[side].items()},
            }
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
