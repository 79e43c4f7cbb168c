"""The chunk entry points' giant route (``giant_chunks``: salted strip, then
one fused finalize+chunk stage per doc) equals the single-doc oracle
``chunk_doc(extract_doc(...))`` for every chunker, overlap and html_tables
setting. ``giant_threshold=1`` sends every doc down that route, so
geometry (single/two-column, table+figure), html, markdown/json/txt and
giant docs all take it."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from ragflow_spark.datagen import PROFILES, gen_doc, profile_of
from ragflow_spark.kernels.extract import CHUNKERS, chunk_doc, extract_doc
from ragflow_spark.operators.extract import extract_chunks_fused
from ragflow_spark.schemas import DOCS_SCHEMA
from ragflow_spark.sources.parquet_spans import (
    _iter_docs,
    extract_chunks_native,
    extract_chunks_native_to_parquet,
)

SEED = 17
# two docs of every datagen profile (the giant_doc ones at its default
# 100x span factor)
INDEXES = [
    i for name, _ in PROFILES
    for i in [j for j in range(100) if profile_of(j) == name][:2]
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    from pyspark.sql import types as T

    rows = []
    for i in INDEXES:
        d = gen_doc(SEED, i)
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]
        rows.append((d["doc_id"], spans, len(spans)))
    schema = T.StructType(
        list(DOCS_SCHEMA.fields) + [T.StructField("n_spans", T.IntegerType(), False)]
    )
    path = str(tmp_path_factory.mktemp("giant_route") / "corpus")
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(path)
    ids, per_doc = _iter_docs(pq.read_table(path, columns=["doc_id", "spans"]))
    return path, list(zip(ids, per_doc))


def _key(doc_id, c):
    return (doc_id, c["chunker"], c["chunk_seq"], c["text"], c["token_count"],
            tuple(c["media_refs"] or []))


@pytest.mark.parametrize("html_tables", [False, True], ids=["plain_tables", "html_tables"])
@pytest.mark.parametrize("overlap", [0, 20], ids=["overlap0", "overlap20"])
@pytest.mark.parametrize("chunker", CHUNKERS)
def test_giant_route_equals_oracle(spark, corpus, tmp_path, chunker, overlap, html_tables):
    path, docs = corpus
    kw = dict(chunker=chunker, overlapped_percent=overlap, html_tables=html_tables,
              giant_threshold=1)
    chunk_kw = dict(chunker=chunker, overlapped_percent=overlap)
    want = sorted(
        _key(doc_id, c)
        for doc_id, recs in docs
        for c in chunk_doc(extract_doc(recs, html_tables=html_tables), **chunk_kw)
    )
    assert want

    def collected(df):
        return sorted(_key(r.doc_id, r.asDict()) for r in df.collect())

    assert collected(extract_chunks_native(spark, path, **kw)) == want
    assert collected(extract_chunks_fused(spark.read.parquet(path), **kw)) == want
    out = str(tmp_path / "sink")
    extract_chunks_native_to_parquet(spark, path, out, **kw).collect()
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    rows = [r for f in files for r in pq.read_table(f).to_pylist()]
    assert sorted(_key(r["doc_id"], r) for r in rows) == want
