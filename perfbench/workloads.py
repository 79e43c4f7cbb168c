"""The workloads: job modes of ``scripts/run_extraction_job.py``.

Each workload materializes a seeded corpus with ``datagen.write_corpus``,
then runs job passes. A pass is what the job mode runs, timed as one unit;
reading its output back for the oracle check happens after the clock stops.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import oracle


@dataclass(frozen=True)
class Spec:
    name: str
    docs: int
    giant_factor: int  # datagen's span factor for the giant_doc profile


WORKLOADS = {
    s.name: s
    for s in (
        # --native-sink on the default 8-profile corpus: in-task reader,
        # kernels and per-split sink; row-group stats plan the giant tail away
        Spec("native_sink", 2000, 100),
        # --native-reader with the giant_doc profile scaled past
        # GIANT_SPAN_THRESHOLD: ~5% of the docs hold most of the spans and
        # take the JVM scan and the salted operator shuffles
        Spec("giant_tail", 100, 5000),
    )
}


class GuardError(RuntimeError):
    pass


def giant_guard(corpus: str, docs: int, threshold: int) -> int:
    """Check that the corpus takes the giant-doc route: the split planner
    must report possible giants, and the number of docs at or above the
    threshold must be positive and equal to the number of ``giant_doc``
    profile docs datagen generated. Returns that number."""
    from ragflow_spark.datagen import profile_of
    from ragflow_spark.sources.parquet_spans import plan_splits

    _, may_have_giants = plan_splits(corpus, giant_threshold=threshold)
    if not may_have_giants:
        raise GuardError("plan_splits planned the giant tail away")
    n_spans = pq.read_table(corpus, columns=["n_spans"]).column("n_spans").to_pylist()
    observed = sum(1 for n in n_spans if n >= threshold)
    predicted = sum(1 for i in range(docs) if profile_of(i) == "giant_doc")
    if observed <= 0 or observed != predicted:
        raise GuardError(
            f"{observed} docs reach {threshold} spans, datagen predicts {predicted}"
        )
    return observed


def parquet_files(root: str) -> list[str]:
    """Data files of a parquet output dir and its subdirs (markers skipped)."""
    return sorted(
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith(("_", "."))
    )


def dir_mb(root: str) -> float:
    return sum(os.path.getsize(p) for p in parquet_files(root)) / 2**20


def _digests(files: list[str], fields: tuple[str, ...]) -> dict[str, str]:
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f, columns=["doc_id", *fields]).to_pylist())
    return oracle.digests_by_doc(rows, fields)


def run_pass(spark, spec: Spec, corpus: str, out: str):
    """One timed job pass; returns what the job mode hands back (the sink's
    manifest, or the collected chunks)."""
    from ragflow_spark.sources import parquet_spans

    shutil.rmtree(out, ignore_errors=True)
    if spec.name == "native_sink":
        return parquet_spans.extract_chunks_native_to_parquet(spark, corpus, out).toPandas()
    return parquet_spans.extract_chunks_native(spark, corpus).toPandas()


def check_sink(out: str, manifest, expected: dict[str, str]) -> tuple[oracle.Mismatch, bool]:
    """Compare what the native sink committed under ``out`` with the oracle.
    The second value is False when the manifest (the sink's lineage: one row
    per committed split) disagrees with the split files it names."""
    got = _digests(parquet_files(out), oracle.CHUNK_FIELDS)
    committed = sum(pq.read_metadata(f).num_rows for f in manifest["out_file"])
    return (oracle.compare(expected, got, oracle.EMPTY_CHUNKS),
            int(manifest["n_chunks"].sum()) == committed)


def check_pass(spec: Spec, out: str, handle, expected: dict[str, str]) -> tuple[oracle.Mismatch, bool]:
    """Compare a pass's chunks with the oracle; see ``check_sink``."""
    if spec.name == "native_sink":
        return check_sink(out, handle, expected)
    rows = handle[["doc_id", *oracle.CHUNK_FIELDS]].to_dict("records")
    got = oracle.digests_by_doc(rows, oracle.CHUNK_FIELDS)
    return oracle.compare(expected, got, oracle.EMPTY_CHUNKS), True


def checkpoint_pass(spark, corpus: str, base: str):
    """The --checkpoint job mode with a crash: ``run_pipeline`` commits up to
    the extract stage and stops, a second call resumes to completion."""
    from ragflow_spark.plans import pipeline

    shutil.rmtree(base, ignore_errors=True)
    docs = spark.read.parquet(corpus)
    pipeline.run_pipeline(spark, docs, base, stop_after="extract")
    return pipeline.run_pipeline(spark, docs, base)


def check_checkpoint(result, chunks: dict[str, str], spans: dict[str, str]) -> oracle.Mismatch:
    """Compare the committed chunk and extract snapshots with the oracle."""
    got_chunks = _digests(parquet_files(result.stages["chunk"].path), oracle.CHUNK_FIELDS)
    got_spans = _digests(parquet_files(result.stages["extract"].path), oracle.SPAN_FIELDS)
    return oracle.merge(
        oracle.compare(chunks, got_chunks, oracle.EMPTY_CHUNKS),
        oracle.compare(spans, got_spans, oracle.EMPTY_SPANS),
    )
