"""Python-native parquet source for the interleaved-span table.

Motivation (measured, see BENCH.md): feeding nested ``array<struct>`` rows
from the JVM scan through Arrow IPC into Python workers costs more CPU than
the extraction kernels themselves and stops scaling past ~8 workers (the JVM
feed threads compete with the Python workers for the same cores). pyarrow
reads the same corpus columnar-natively at >100k docs/s on one core.

So the hot ingest path puts the *reader inside the Python task*: the driver
lists parquet row-group splits (metadata only — no data touched), Spark
schedules one task per split (locality/retries/speculation still apply), and
each task reads its row groups straight into Arrow and runs the kernels.
The JVM never materializes the span arrays. This is the same architecture as
Spark's own Python DataSource API; rebuilt here explicitly so the split
planning stays under our control (row-group granularity = the salting unit
for giant files).

Giant documents (spans ≥ giant_threshold) are skipped by the Python reader
and handled by the exploded/salted DataFrame path — that filter is pushed
into the JVM parquet scan via ``F.size(spans)``, which prunes whole row
groups cheaply.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ragflow_spark.kernels.extract import chunk_doc, extract_doc
from ragflow_spark.operators.extract import (
    GIANT_SPAN_THRESHOLD,
    chunk_stage,
    explode_spans,
    finalize_stage,
    strip_stage,
)
from ragflow_spark.schemas import CHUNKS_SCHEMA, OUT_SPANS_SCHEMA
from ragflow_spark.worker_imports import drop_zip_importers

# one planned split, as plan_splits returns it: row groups [rg_start, rg_end)
SPLITS_SCHEMA = "path string, rg_start int, rg_end int"


def plan_splits(
    path: str, target_rows: int = 2000, giant_threshold: int | None = None
) -> tuple[list[tuple[str, int, int]], bool]:
    """Row-group split planning from parquet footers only (no data I/O).
    Groups consecutive row groups of a file until ~target_rows.

    Returns (splits, may_have_giants): when the table carries the
    ``n_spans`` stats column, row-group max statistics prove the absence of
    giant docs without reading any data — the giant-doc tail pipeline is
    skipped entirely in that case."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    dataset = ds.dataset(path, format="parquet")
    splits: list[tuple[str, int, int]] = []
    may_have_giants = giant_threshold is None
    for f in dataset.files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        ncol = None
        if giant_threshold is not None and md.num_row_groups > 0:
            # leaf-column index of n_spans (nested spans flatten to leaves,
            # so the arrow field index does NOT match the parquet one)
            rg0 = md.row_group(0)
            for j in range(rg0.num_columns):
                if rg0.column(j).path_in_schema == "n_spans":
                    ncol = j
                    break
        if giant_threshold is not None and ncol is None:
            may_have_giants = True  # no stats column → must assume giants
        n_rg = md.num_row_groups
        start, acc = 0, 0
        for i in range(n_rg):
            rg = md.row_group(i)
            acc += rg.num_rows
            if ncol is not None:
                stats = rg.column(ncol).statistics
                if stats is None or stats.max is None:
                    may_have_giants = True
                elif stats.max >= giant_threshold:
                    may_have_giants = True
            if acc >= target_rows or i == n_rg - 1:
                splits.append((f, start, i + 1))
                start, acc = i + 1, 0
    return splits, may_have_giants


def _iter_docs(batch) -> tuple[list, list]:
    """Arrow RecordBatch/Table → (doc_ids, list-of-span-record-lists) via
    flat child arrays (no per-span pyarrow .to_pylist() object churn)."""
    import pyarrow as pa

    doc_ids = batch.column("doc_id").to_pylist()
    col = batch.column("spans")
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    per_doc: list[list[dict]] = []
    for ch in chunks:
        offs = ch.offsets.to_numpy()
        base = offs[0]
        st = ch.flatten()
        kinds = st.field("kind").to_pylist()
        texts = st.field("text").to_pylist()
        refs = st.field("media_ref").to_pylist()
        offsets = st.field("offset").to_pylist()
        for i in range(len(ch)):
            a, b = offs[i] - base, offs[i + 1] - base
            per_doc.append(
                [
                    {
                        "kind": kinds[j],
                        "text": texts[j],
                        "media_ref": refs[j],
                        "offset": offsets[j],
                    }
                    for j in range(a, b)
                ]
            )
    return doc_ids, per_doc


def _splits_df(
    spark: SparkSession,
    path: str,
    target_rows: int,
    giant_threshold: int | None,
    per_split,
    schema: str,
) -> tuple[DataFrame, bool]:
    """One task per planned row-group split; the task returns
    ``per_split(split_id, (path, rg_start, rg_end))``, a pandas frame of
    ``schema``. Also returns ``may_have_giants`` from ``plan_splits``.

    The source is ``spark.range`` with one id per partition: pinned without
    a shuffle, so AQE cannot coalesce the byte-tiny split rows into a few
    fat tasks, and a JVM operator, so the kernel ``mapInPandas`` is the
    task's only Python stage. The split list rides in the closure (pickled
    once per job, ~80 B per split) and each task looks up ``splits[id]``.
    A Python source (``sc.parallelize`` + ``createDataFrame(rdd)``) would
    pipeline a second Python worker into every task.

    ``run`` first drops the worker's cached zip importers
    (``drop_zip_importers``): PySpark's per-task
    ``importlib.invalidate_caches()`` would otherwise re-read every cached
    archive directory before the worker's next task, a fixed 0.2-0.4 s
    (see CLAUDE.md)."""
    splits, may_have_giants = plan_splits(path, target_rows, giant_threshold)

    def run(batches):
        drop_zip_importers()
        for pdf in batches:
            for split_id in pdf["id"].tolist():
                yield per_split(split_id, splits[split_id])

    n = len(splits)
    ids = spark.range(0, n, 1, max(n, 1))
    return ids.mapInPandas(run, schema=schema), may_have_giants


def _giants_scan(spark: SparkSession, path: str, giant_threshold: int) -> DataFrame:
    """Giant-doc tail scan. With the ``n_spans`` stats column the predicate
    is pushed into the parquet reader and prunes row groups via min/max —
    the JVM never decodes the span arrays of non-giant row groups. Without
    it, fall back to ``size(spans)`` (full decode — only correct, not fast;
    production tables must carry n_spans)."""
    df = spark.read.parquet(path)
    if "n_spans" in df.columns:
        pred = F.col("n_spans") >= giant_threshold
    else:
        pred = F.size("spans") >= giant_threshold
    return df.where(pred).select("doc_id", "spans")


def _small_docs(split: tuple[str, int, int], giant_threshold: int) -> list:
    """(doc_id, span records) of one split's docs below ``giant_threshold``;
    the salted DataFrame path takes the rest."""
    import pyarrow.parquet as pq

    path, rg_start, rg_end = split
    tbl = pq.ParquetFile(path).read_row_groups(
        list(range(rg_start, rg_end)),
        columns=["doc_id", "spans"],
        use_threads=False,  # one task per core already; no per-task pool
    )
    doc_ids, per_doc = _iter_docs(tbl)
    return [
        (d, recs) for d, recs in zip(doc_ids, per_doc) if len(recs) < giant_threshold
    ]


def _chunk_docs(docs: list, html_tables: bool, chunk_kw: dict) -> tuple[list, list]:
    """(doc_id per chunk, chunk dicts) of ``chunk_doc(extract_doc(...))``."""
    ids_out: list[str] = []
    rows: list[dict] = []
    for doc_id, recs in docs:
        for c in chunk_doc(extract_doc(recs, html_tables=html_tables), **chunk_kw):
            ids_out.append(doc_id)
            rows.append(c)
    return ids_out, rows


def extract_chunks_native(
    spark: SparkSession,
    path: str,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
    html_tables: bool = False,
    giant_threshold: int = GIANT_SPAN_THRESHOLD,
    target_rows: int = 2000,
) -> DataFrame:
    """parquet → chunks with the reader inside the Python task (hot path) and
    the exploded/salted DataFrame path for the giant-doc tail."""

    chunk_kw = dict(
        chunker=chunker,
        chunk_token_num=chunk_token_num,
        delimiter=delimiter,
        overlapped_percent=overlapped_percent,
    )

    def per_split(split_id, split):
        ids_out, rows = _chunk_docs(
            _small_docs(split, giant_threshold), html_tables, chunk_kw
        )
        return pd.DataFrame(
            {
                "doc_id": ids_out,
                "chunker": [c["chunker"] for c in rows],
                "chunk_seq": [c["chunk_seq"] for c in rows],
                "text": [c["text"] for c in rows],
                "token_count": [c["token_count"] for c in rows],
                "media_refs": pd.Series(
                    [c["media_refs"] for c in rows], dtype=object
                ),
            }
        )

    small, may_have_giants = _splits_df(
        spark, path, target_rows, giant_threshold, per_split, CHUNKS_SCHEMA
    )
    if not may_have_giants:
        # row-group max(n_spans) statistics prove no giants exist: the whole
        # tail pipeline (scan + 3 shuffles) is planned away, metadata-only
        return small
    giants = _giants_scan(spark, path, giant_threshold)
    giant_spans = finalize_stage(
        strip_stage(explode_spans(giants)), html_tables=html_tables
    )
    giant_chunks = chunk_stage(giant_spans, **chunk_kw)
    return small.unionByName(giant_chunks)


MANIFEST_SCHEMA = (
    "split_id int, n_docs long, n_chunks long, out_file string"
)


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for a plain path or URI
    (s3://, hdfs://, gs://, file://). Gives the sink S3/HDFS portability
    without extra deps — pyarrow ships the filesystem impls."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _use_rename_protocol(fs, direct_write: bool | None) -> bool:
    from pyarrow import fs as pafs

    if direct_write is not None:
        return not direct_write
    return isinstance(fs, pafs.LocalFileSystem)


def _commit_table(fs, path: str, tbl, compression: str, rename: bool) -> None:
    """Atomic per-split commit. Local/HDFS-like (rename=True): write a temp
    file then rename — atomic on POSIX and HDFS. Object stores
    (rename=False): write the final object directly — S3/GCS PUTs become
    visible all-or-nothing and a failed task aborts its multipart upload,
    so a *readable* object at the final key IS the commit marker."""
    import pyarrow.parquet as pq

    if rename:
        tmp = path + ".tmp"
        with fs.open_output_stream(tmp) as f:
            pq.write_table(tbl, f, compression=compression)
        fs.move(tmp, path)
    else:
        with fs.open_output_stream(path) as f:
            pq.write_table(tbl, f, compression=compression)


def _committed_rows(fs, path: str) -> int | None:
    """Row count of a committed split file, None if absent/unreadable.
    Footer validation (rather than bare existence) is the commit check —
    a truncated object can only exist on filesystems without atomic
    visibility, and it must read as not-committed."""
    from pyarrow import fs as pafs

    try:
        info = fs.get_file_info(path)
        if info.type != pafs.FileType.File:
            return None
        import pyarrow.parquet as pq

        with fs.open_input_file(path) as f:
            return pq.ParquetFile(f).metadata.num_rows
    except Exception:
        return None


def extract_chunks_native_to_parquet(
    spark: SparkSession,
    path: str,
    out_dir: str,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
    html_tables: bool = False,
    giant_threshold: int = GIANT_SPAN_THRESHOLD,
    target_rows: int = 2000,
    compression: str = "snappy",
    resume: bool = False,
    direct_write: bool | None = None,
) -> DataFrame:
    """Full python-native pipeline INCLUDING the sink: each task reads its
    row-group split, extracts+chunks, and writes its own parquet part —
    the chunk rows never cross the JVM boundary. Returns the manifest
    DataFrame (split_id, n_docs, n_chunks, out_file): one row per split =
    per-partition lineage for free, and file-per-split makes reruns
    idempotent (same split → same file name, committed atomically).
    ``split_id`` is the split's index in ``plan_splits`` order.

    ``out_dir`` may be a plain path or an s3://, hdfs://, gs://, file://
    URI — the commit protocol adapts (temp+rename on rename-capable
    filesystems, direct all-or-nothing object write elsewhere; override
    with ``direct_write``).

    At cluster scale this is the shape that keeps the write path scaling
    with executors instead of funneling Arrow batches back through the
    scheduler side; giant docs still go through the salted DataFrame path
    into the same directory."""
    import os

    fs0, root0 = _resolve_fs(out_dir)
    fs0.create_dir(root0, recursive=True)

    chunk_kw = dict(
        chunker=chunker,
        chunk_token_num=chunk_token_num,
        delimiter=delimiter,
        overlapped_percent=overlapped_percent,
    )

    def per_split(split_id, split):
        import pyarrow as pa

        fs, root = _resolve_fs(out_dir)
        path_in, rg_start, rg_end = split
        fname = (
            f"{root.rstrip('/')}/"
            f"part-{os.path.basename(path_in)}-{rg_start}-{rg_end}.parquet"
        )

        def lineage(n_docs, n_chunks):
            return pd.DataFrame(
                {
                    "split_id": [split_id],
                    "n_docs": [n_docs],
                    "n_chunks": [n_chunks],
                    "out_file": [fname],
                }
            )

        if resume:
            nrows = _committed_rows(fs, fname)
            if nrows is not None:
                # split already committed; lineage from footer only
                return lineage(-1, nrows)  # n_docs not recounted on resume
        docs = _small_docs(split, giant_threshold)
        ids_out, rows = _chunk_docs(docs, html_tables, chunk_kw)
        out_tbl = pa.table(
            {
                "doc_id": pa.array(ids_out, pa.string()),
                "chunker": pa.array([c["chunker"] for c in rows], pa.string()),
                "chunk_seq": pa.array([c["chunk_seq"] for c in rows], pa.int32()),
                "text": pa.array([c["text"] for c in rows], pa.string()),
                "token_count": pa.array(
                    [c["token_count"] for c in rows], pa.int32()
                ),
                "media_refs": pa.array(
                    [c["media_refs"] for c in rows], pa.list_(pa.string())
                ),
            }
        )
        _commit_table(
            fs, fname, out_tbl, compression, _use_rename_protocol(fs, direct_write)
        )
        return lineage(len(docs), len(rows))

    manifest, may_have_giants = _splits_df(
        spark, path, target_rows, giant_threshold, per_split, MANIFEST_SCHEMA
    )
    if may_have_giants:
        giants_dir = out_dir.rstrip("/") + "/giants"
        if resume:
            from pyarrow import fs as pafs

            info = fs0.get_file_info(f"{root0.rstrip('/')}/giants/_SUCCESS")
            if info.type == pafs.FileType.File:
                # giants already committed (the _SUCCESS marker is written
                # last by the parquet committer) — skip the whole tail
                return manifest
        giants = _giants_scan(spark, path, giant_threshold)
        giant_spans = finalize_stage(
            strip_stage(explode_spans(giants)), html_tables=html_tables
        )
        giant_chunks = chunk_stage(giant_spans, **chunk_kw)
        # overwrite (not append): the giants output is a pure function of the
        # input, so reruns replace it instead of duplicating every giant doc
        giant_chunks.write.mode("overwrite").parquet(giants_dir)
    return manifest


def extract_spans_native(
    spark: SparkSession,
    path: str,
    html_tables: bool = False,
    giant_threshold: int = GIANT_SPAN_THRESHOLD,
    target_rows: int = 2000,
) -> DataFrame:
    """parquet → extracted spans, Python-native reader (same routing)."""

    def per_split(split_id, split):
        ids_out: list[str] = []
        rows: list[dict] = []
        for doc_id, recs in _small_docs(split, giant_threshold):
            for o in extract_doc(recs, html_tables=html_tables):
                ids_out.append(doc_id)
                rows.append(o)
        return pd.DataFrame(
            {
                "doc_id": ids_out,
                "seq": [o["seq"] for o in rows],
                "kind": [o["kind"] for o in rows],
                "text": [o["text"] for o in rows],
                "media_ref": [o["media_ref"] for o in rows],
            }
        )

    small, may_have_giants = _splits_df(
        spark, path, target_rows, giant_threshold, per_split, OUT_SPANS_SCHEMA
    )
    if not may_have_giants:
        return small
    giants = _giants_scan(spark, path, giant_threshold)
    giant_out = finalize_stage(
        strip_stage(explode_spans(giants)), html_tables=html_tables
    )
    return small.unionByName(giant_out)
