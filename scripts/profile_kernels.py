"""One-core profile of the per-doc kernels, split by stage (no Spark).

    python scripts/profile_kernels.py --seed 901 --docs 2000 [--giant-factor 100]
        [--repeat 3] [--top 20]

Runs ``strip_rows`` → ``finalize_doc`` → ``chunk_doc`` (the default naive
chunker, as the native job runs it) over a datagen corpus and prints:

1. uninstrumented seconds per stage (strip / finalize / chunk), best of
   ``--repeat`` passes, and docs/s on one core;
2. an instrumented pass: seconds inside each ``layout_doc`` step, inside
   ``geom_fields`` and inside ``num_tokens`` (wrapped at their call sites,
   so the wrappers add a little time to the steps they time);
3. the top cProfile entries by own time.
"""

from __future__ import annotations

import argparse
import cProfile
import functools
import os
import pstats
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ragflow_spark.datagen import gen_doc  # noqa: E402
from ragflow_spark.kernels import chunkers  # noqa: E402
from ragflow_spark.kernels import extract as ex  # noqa: E402

# names layout_doc / finalize_doc / chunk_doc look up in their modules, in
# pipeline order
LAYOUT_STEPS = (
    "drop_junk", "drop_garbage", "layouts_cleanup", "median_height", "sort_y",
    "reading_order", "horizontal_merge", "assemble", "doc_is_english",
    "vertical_merge", "filter_toc", "bullet_merge", "filter_scraps",
)
WRAPPED = (
    [(ex, name, name) for name in LAYOUT_STEPS]
    + [(ex, "geom_fields", "geom_fields")]
    + [(ex, "num_tokens", "num_tokens"), (chunkers, "num_tokens", "num_tokens")]
)


def run_pass(docs: list[dict]) -> dict[str, float]:
    clock = time.perf_counter
    acc = {"strip": 0.0, "finalize": 0.0, "chunk": 0.0}
    for doc in docs:
        t0 = clock()
        rows = ex.strip_rows(doc["spans"])
        t1 = clock()
        spans = ex.finalize_doc(rows)
        t2 = clock()
        ex.chunk_doc(spans)
        t3 = clock()
        acc["strip"] += t1 - t0
        acc["finalize"] += t2 - t1
        acc["chunk"] += t3 - t2
    return acc


def instrumented_pass(docs: list[dict]) -> dict[str, float]:
    spent: dict[str, float] = defaultdict(float)
    clock = time.perf_counter

    def timed(fn, label):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = clock()
            try:
                return fn(*a, **kw)
            finally:
                spent[label] += clock() - t0
        return wrapper

    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in WRAPPED]
    try:
        for mod, name, label in WRAPPED:
            setattr(mod, name, timed(getattr(mod, name), label))
        run_pass(docs)
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
    return spent


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=901)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--giant-factor", type=int, default=100)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--top", type=int, default=20)
    args = ap.parse_args()

    docs = [gen_doc(args.seed, i, args.giant_factor) for i in range(args.docs)]
    n_spans = sum(len(d["spans"]) for d in docs)
    print(f"corpus: seed {args.seed}, {len(docs)} docs, {n_spans} spans, "
          f"giant_factor {args.giant_factor}")

    run_pass(docs)  # warm: imports, regex compile caches
    passes = [run_pass(docs) for _ in range(max(1, args.repeat))]
    best = min(passes, key=lambda p: sum(p.values()))
    total = sum(best.values())
    print(f"\n== stages, uninstrumented (best of {len(passes)}) ==")
    for name, s in best.items():
        print(f"{name:>24} {s:8.3f} s  {100 * s / total:5.1f}%")
    print(f"{'total':>24} {total:8.3f} s  {len(docs) / total:8.1f} docs/s (1 core)")

    spent = instrumented_pass(docs)
    print("\n== steps, instrumented pass ==")
    for name in LAYOUT_STEPS:
        print(f"{'layout.' + name:>24} {spent[name]:8.3f} s")
    print(f"{'finalize.geom_fields':>24} {spent['geom_fields']:8.3f} s")
    print(f"{'num_tokens':>24} {spent['num_tokens']:8.3f} s  (inside chunk)")

    prof = cProfile.Profile()
    prof.enable()
    run_pass(docs)
    prof.disable()
    print(f"\n== cProfile, top {args.top} by own time ==")
    pstats.Stats(prof).sort_stats("tottime").print_stats(args.top)


if __name__ == "__main__":
    main()
