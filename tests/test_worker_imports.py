"""start_task / drop_zip_importers: the worker-side fixes for PySpark's
per-task ``importlib.invalidate_caches()`` cost and its daemon's after-task
``gc.collect()``. The tests run in a subprocess so the pytest
interpreter's import and GC state (and its shared Spark session) stay
untouched."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, cwd, timeout: int) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=str(cwd),
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


def test_drop_zip_importers_keeps_imports_working(tmp_path):
    code = r"""
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, %(repo)r)
from ragflow_spark.worker_imports import drop_zip_importers

def zip_entries():
    return [k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]

z = os.path.join(%(tmp)r, "zpkg.zip")
with zipfile.ZipFile(z, "w") as zf:
    zf.writestr("zpkg/__init__.py", "")
    zf.writestr("zpkg/a.py", "X = 1\n")
sys.path.insert(0, z)
import zpkg.a
assert zpkg.a.X == 1
cached = zip_entries()
assert z in cached and len(cached) >= 2, cached  # the archive + zpkg/ prefix

n = drop_zip_importers()
assert n == len(cached), (n, cached)
assert zip_entries() == []
assert z not in zipimport._zip_directory_cache
assert drop_zip_importers() == 0
importlib.invalidate_caches()

# a module added to the same archive imports: the rebuilt importer reads
# the archive fresh instead of a stale directory listing
with zipfile.ZipFile(z, "a") as zf:
    zf.writestr("zpkg/b.py", "Y = 2\n")
import zpkg.b
assert zpkg.b.Y == 2
assert zpkg.a.X == 1
print("DROP_OK")
""" % {"repo": REPO, "tmp": str(tmp_path)}
    assert "DROP_OK" in _run(code, tmp_path, timeout=120)


def test_reused_worker_starts_task_without_zip_importers(tmp_path):
    """local[1]: one reused Python worker, so after the kernel tasks have
    run, the next task must start with nothing for PySpark's
    ``invalidate_caches()`` to re-read, and with the worker's heap frozen
    out of the daemon's after-task collection (a frozen count that stays
    flat over a further run: no garbage is frozen); the chunks stay equal
    to ``chunk_doc(extract_doc(...))`` on both runs."""
    code = r"""
import os, sys
sys.path.insert(0, %(repo)r)
import pandas as pd
import pyarrow.dataset as ds

from ragflow_spark.datagen import write_corpus
from ragflow_spark.kernels.extract import chunk_doc, extract_doc
from ragflow_spark.session import get_spark
from ragflow_spark.sources.parquet_spans import _iter_docs, extract_chunks_native

spark = get_spark(cores=1, app_name="worker_imports_guard", shuffle_partitions=2)
corpus = os.path.join(%(tmp)r, "corpus")
write_corpus(spark, corpus, count=40, seed=5, partitions=2,
             row_group_bytes=64 * 1024)

def rows(df):
    return sorted(
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in df.collect()
    )

first = rows(extract_chunks_native(spark, corpus, target_rows=10))
second = rows(extract_chunks_native(spark, corpus, target_rows=10))

doc_ids, per_doc = _iter_docs(
    ds.dataset(corpus, format="parquet").to_table(columns=["doc_id", "spans"])
)
want = sorted(
    (d, c["chunk_seq"], c["text"], c["token_count"], tuple(c["media_refs"] or []))
    for d, recs in zip(doc_ids, per_doc)
    for c in chunk_doc(extract_doc(recs))
)
assert first == want, "first run differs from chunk_doc(extract_doc)"
assert second == first, "second run differs from the first"

def probe(batches):
    import gc, sys, zipimport

    n = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    for p in batches:
        yield pd.DataFrame({"n": [n] * len(p), "frozen": [gc.get_freeze_count()]})

def seen():
    return spark.range(0, 1, 1, 1).mapInPandas(probe, "n long, frozen long").toPandas()

from ragflow_spark.operators.extract import extract_chunks_fused

def more_tasks():  # the grouped giant route's among them
    rows(extract_chunks_native(spark, corpus, target_rows=10))
    extract_chunks_fused(spark.read.parquet(corpus), giant_threshold=1).collect()

more_tasks()
first_probe = seen()
assert first_probe["n"].tolist() == [0], first_probe
for _ in range(3):
    more_tasks()
frozen = [int(first_probe["frozen"][0]), int(seen()["frozen"][0])]
assert frozen[0] > 10000, frozen
assert abs(frozen[1] - frozen[0]) <= 5, frozen
spark.stop()
print("GUARD_OK", len(first))
""" % {"repo": REPO, "tmp": str(tmp_path)}
    assert "GUARD_OK" in _run(code, tmp_path, timeout=600)


def test_start_task_once_per_task(tmp_path):
    """A grouped stage calls start_task for every group: only the first
    call of a task collects and freezes; outside a task every call does."""
    code = r"""
import sys
sys.path.insert(0, %(repo)r)
import gc
import pandas as pd
from ragflow_spark.session import get_spark
from ragflow_spark.worker_imports import start_task

start_task()
before = gc.get_freeze_count()
keep = [[i] for i in range(1000)]
start_task()
assert gc.get_freeze_count() >= before + 1000, "driver-side call must freeze"

spark = get_spark(cores=1, app_name="start_task_guard", shuffle_partitions=1)

def per_group(pdf):
    first = gc.get_freeze_count()
    start_task()
    return pd.DataFrame({"g": [int(pdf["g"].iloc[0])], "before": [first],
                         "after": [gc.get_freeze_count()]})

out = (
    spark.createDataFrame(pd.DataFrame({"g": [0, 1, 2]}))
    .repartition(1)
    .groupBy("g")
    .applyInPandas(per_group, "g long, before long, after long")
    .toPandas()
    .sort_values("g")
)
# one task holds all three groups: only the first one freezes
assert (out["after"] > out["before"]).tolist() == [True, False, False], out
spark.stop()
print("ONCE_OK")
""" % {"repo": REPO}
    assert "ONCE_OK" in _run(code, tmp_path, timeout=300)
