"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line.

Headline metric: total wall seconds across the query set. Also reports
extraction throughput (docs/sec over the synthetic interleaved corpus) as an
extra key — the north-rule metric.

Usage: python bench.py [--sf-dir DIR] [--cpus N] [--docs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    )
    ap.add_argument("--docs", type=int, default=None, help="extraction corpus size")
    ap.add_argument("--queries", default="", help="comma-separated subset")
    args = ap.parse_args()

    from ragflow_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(cores=args.cpus, app_name="ragflow_spark_bench")
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    if args.docs is not None:
        entrymod._SF_COUNT[sf] = args.docs

    qs = entrymod.queries()
    subset = [q for q in args.queries.split(",") if q] or list(qs)
    timings: dict[str, float] = {}
    n_extract_docs = entrymod._SF_COUNT.get(sf, 200)
    # untimed warmup: materialize the corpus + pre-fork EVERY worker slot
    # AND pre-import the kernel modules in each (the imports — trie dict
    # build included — cost seconds per worker and amortize to zero in any
    # long-running job; timing them into the first query would measure VM
    # startup, not throughput)
    entrymod._corpus(spark, args.sf_dir).count()
    import pandas as _pd

    def _warm(batches):
        import ragflow_spark.functions.trie_tokenizer  # noqa: F401
        import ragflow_spark.kernels.chunkers  # noqa: F401
        import ragflow_spark.kernels.extract  # noqa: F401
        import ragflow_spark.kernels.media_docs  # noqa: F401
        from ragflow_spark.worker_imports import start_task

        # after the imports: the worker's next task then has no cached
        # zip importers for PySpark's per-task invalidate_caches() to
        # re-read, and the imported modules are frozen out of its GC
        start_task()
        for p in batches:
            yield _pd.DataFrame({"n": [len(p)]})

    ncores = args.cpus or (os.cpu_count() or 8)
    spark.range(0, 4 * ncores, 1, 4 * ncores).mapInPandas(
        _warm, "n long"
    ).count()
    # touch the input tables once (footer reads + file-index cache)
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{args.sf_dir}/{t}.parquet").count()
    for name in subset:
        fn = qs[name]
        t0 = time.time()
        n = fn(spark, args.sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {n} rows in {timings[name]:.2f}s", file=sys.stderr)

    # headline: python-native-source end-to-end extraction throughput
    extra = {}
    if not args.queries:
        import tempfile

        from ragflow_spark.datagen import CORPUS_VERSION, write_corpus
        from ragflow_spark.sources.parquet_spans import extract_chunks_native

        n_native = max(n_extract_docs * 12, 2000)
        corpus = os.path.join(
            tempfile.gettempdir(),
            f"bench_corpus_v{CORPUS_VERSION}_{sf}_{n_native}",
        )
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            # 1 MiB row groups: the row group is the split floor, and the
            # bench corpus is small enough that 2 MiB groups starve cores
            write_corpus(spark, corpus, count=n_native,
                         row_group_bytes=1024 * 1024)
        # size splits to ~4 tasks/core so local[32] isn't starved at the
        # bench corpus size (split floor = one parquet row group)
        cpus = (
            int(os.environ.get("SPARK_GRAFT_CPUS") or 0)
            or os.cpu_count()
            or 8
        )
        target_rows = max(200, n_native // (4 * cpus))
        t0 = time.time()
        extract_chunks_native(spark, corpus, target_rows=target_rows).count()
        timings["extract_chunks_native"] = round(time.time() - t0, 3)
        extra["native_docs_per_sec"] = round(
            n_native / timings["extract_chunks_native"], 2
        )

    total = round(sum(timings.values()), 3)
    if "extract_spans" in timings and timings["extract_spans"] > 0:
        extra["extract_docs_per_sec"] = round(
            n_extract_docs / timings["extract_spans"], 2
        )
    print(
        json.dumps(
            {
                "metric": "total query wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **extra,
            }
        )
    )


if __name__ == "__main__":
    main()
