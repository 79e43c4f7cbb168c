"""One scaling-bench measurement: extraction+chunking throughput at a given
core count over a fixed parquet corpus; prints one JSON line.

Run in a fresh subprocess per core count (a SparkSession is a per-JVM
singleton). The measured job is the python-native parquet source
(sources/parquet_spans.py) — reader inside the task, row-group splits,
giant-doc tail via the salted DataFrame path. A warmup job pre-forks the
worker pool so worker spawn/import cost (a fixed cost, ~2 s) is excluded
from the throughput sample, mirroring a long-running cluster.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--docs", type=int, default=96000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--chunker", default="naive")
    ap.add_argument("--corpus-dir", default=None)
    args = ap.parse_args()

    import shutil

    import pandas as pd

    from ragflow_spark.datagen import write_corpus
    from ragflow_spark.session import get_spark
    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    spark = get_spark(cores=args.cores, app_name=f"scale_{args.cores}")
    corpus = args.corpus_dir or f"/tmp/scale_corpus_{args.seed}_{args.docs}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        write_corpus(spark, corpus, count=args.docs, seed=args.seed)

    # warmup: fork + import in every worker slot, then drop the cached zip
    # importers so the first timed task does not re-read their archives
    def warm(batches):
        from ragflow_spark.worker_imports import drop_zip_importers

        drop_zip_importers()
        for p in batches:
            yield pd.DataFrame({"n": [len(p)]})

    spark.range(0, 4 * args.cores, 1, 4 * args.cores).mapInPandas(
        warm, "n long"
    ).count()

    out_dir = f"/tmp/scale_out_{args.cores}"
    shutil.rmtree(out_dir, ignore_errors=True)

    # measured job = the COMPLETE pipeline incl. the sink: tasks read their
    # row-group splits, extract+chunk, and write their own parquet parts;
    # only the per-split lineage manifest crosses back to the driver
    t0 = time.time()
    manifest = extract_chunks_native_to_parquet(
        spark, corpus, out_dir, chunker=args.chunker
    ).toPandas()
    n_chunks = int(manifest["n_chunks"].sum())
    elapsed = time.time() - t0

    print(
        json.dumps(
            {
                "cores": args.cores,
                "docs": args.docs,
                "chunks": int(n_chunks),
                "elapsed_sec": round(elapsed, 3),
                "docs_per_sec": round(args.docs / elapsed, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
