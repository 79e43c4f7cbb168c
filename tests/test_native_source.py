"""Python-native parquet source ≡ DataFrame path (including the giant-doc
routing split)."""

from __future__ import annotations

import pytest

from ragflow_spark.datagen import write_corpus
from ragflow_spark.operators.extract import extract_chunks_fused, extract_spans
from ragflow_spark.sources.parquet_spans import (
    extract_chunks_native,
    extract_spans_native,
    plan_splits,
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("native") / "corpus")
    write_corpus(spark, p, count=120, seed=5, partitions=4,
                 row_group_bytes=256 * 1024)
    return p


def test_split_planning(corpus_path):
    splits, may_have_giants = plan_splits(corpus_path, target_rows=30)
    assert len(splits) >= 4
    for path, a, b in splits:
        assert b > a
    # metadata-only giant detection: threshold above every doc → provably none
    _, g_hi = plan_splits(corpus_path, target_rows=30, giant_threshold=10**6)
    assert g_hi is False
    # threshold below the biggest fixture docs → giants detected
    _, g_lo = plan_splits(corpus_path, target_rows=30, giant_threshold=120)
    assert g_lo is True


def test_spans_native_equals_dataframe_path(spark, corpus_path):
    native = {
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in extract_spans_native(spark, corpus_path, giant_threshold=120).collect()
    }
    df_path = {
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in extract_spans(spark.read.parquet(corpus_path)).collect()
    }
    assert native == df_path


def test_sink_in_task_equals_fused(spark, corpus_path, tmp_path_factory):
    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    out = str(tmp_path_factory.mktemp("sink") / "chunks")
    manifest = extract_chunks_native_to_parquet(
        spark, corpus_path, out, giant_threshold=120
    ).toPandas()
    assert (manifest["n_chunks"] >= 0).all() and len(manifest) >= 2
    written = spark.read.option("recursiveFileLookup", "true").parquet(out)
    a = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or [])) for r in written.collect()
    }
    b = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_fused(spark.read.parquet(corpus_path)).collect()
    }
    assert a == b
    # rerun is idempotent WITH real giants: the giants subdir is overwritten,
    # not appended, so giant-doc chunks don't duplicate
    extract_chunks_native_to_parquet(
        spark, corpus_path, out, giant_threshold=120
    ).count()
    again = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(out)
        .collect()
    }
    assert again == b
    dup_check = (
        spark.read.option("recursiveFileLookup", "true").parquet(out)
        .groupBy("doc_id", "chunk_seq").count()
    )
    assert dup_check.where("count > 1").count() == 0
    # resume: a kill/rerun skips committed splits (n_docs=-1 marker) and the
    # committed giants dir, and still reports full lineage
    import os

    one_part = sorted(
        f for f in os.listdir(out) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(out, one_part))  # simulate a split lost mid-run
    m2 = extract_chunks_native_to_parquet(
        spark, corpus_path, out, giant_threshold=120, resume=True
    ).toPandas()
    assert (m2["n_docs"] == -1).sum() == len(m2) - 1  # all but one skipped
    resumed = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(out)
        .collect()
    }
    assert resumed == b


def test_sink_manifest_split_ids(spark, corpus_path, tmp_path_factory):
    """Each manifest row names its planned split: split_id i is
    plan_splits()[i] and points at that split's part file, on a first run
    and on a resume rerun that skips every committed split."""
    import os

    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    splits, _ = plan_splits(corpus_path, target_rows=30, giant_threshold=10**6)
    assert len(splits) > 1
    out = str(tmp_path_factory.mktemp("sink_ids") / "chunks")
    want = {
        i: os.path.join(out, f"part-{os.path.basename(p)}-{a}-{b}.parquet")
        for i, (p, a, b) in enumerate(splits)
    }
    for resume in (False, True):
        m = extract_chunks_native_to_parquet(
            spark, corpus_path, out, giant_threshold=10**6, target_rows=30,
            resume=resume,
        ).toPandas()
        assert sorted(m["split_id"]) == list(range(len(splits)))
        assert dict(zip(m["split_id"], m["out_file"])) == want
    assert (m["n_docs"] == -1).all()  # the rerun skipped every split


def test_chunks_native_equals_fused_with_giant_routing(spark, corpus_path):
    # giant_threshold=120 forces a real split: some fixture docs exceed it
    native = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_native(
            spark, corpus_path, giant_threshold=120
        ).collect()
    }
    fused = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_fused(spark.read.parquet(corpus_path)).collect()
    }
    assert native == fused
    # both routing branches actually ran
    import pyarrow.parquet as pq
    import pyarrow.dataset as ds

    tbl = ds.dataset(corpus_path, format="parquet").to_table(columns=["n_spans"])
    n_spans = tbl.column("n_spans").to_pylist()
    assert any(n >= 120 for n in n_spans), "fixture lacks giant docs"
    assert any(n < 120 for n in n_spans)


def test_sink_portable_commit_protocols(spark, corpus_path, tmp_path_factory):
    """The sink's object-store protocol (direct all-or-nothing write, footer
    validity = commit marker) and URI resolution produce the same output as
    the local rename protocol, including rerun idempotence and resume."""
    from ragflow_spark.sources.parquet_spans import (
        extract_chunks_native_to_parquet,
    )

    base = tmp_path_factory.mktemp("sink_fs")
    out_rename = str(base / "rename")
    out_direct = f"file://{base}/direct"  # URI resolution path

    m1 = extract_chunks_native_to_parquet(
        spark, corpus_path, out_rename, giant_threshold=10**6
    ).toPandas()
    # direct_write=True exercises the object-store commit branch
    m2 = extract_chunks_native_to_parquet(
        spark, corpus_path, out_direct, giant_threshold=10**6,
        direct_write=True,
    ).toPandas()
    a = {
        (r.doc_id, r.chunk_seq, r.text)
        for r in spark.read.parquet(out_rename).collect()
    }
    b = {
        (r.doc_id, r.chunk_seq, r.text)
        for r in spark.read.parquet(out_direct).collect()
    }
    assert a == b and len(a) > 0
    assert int(m1["n_chunks"].sum()) == int(m2["n_chunks"].sum())

    # resume on the direct protocol: footer validity gates the skip
    import os

    ddir = f"{base}/direct"
    parts = sorted(f for f in os.listdir(ddir) if f.endswith(".parquet"))
    # truncate one part (simulates a non-atomic-visibility failure): resume
    # must recompute it, not trust bare existence
    victim = os.path.join(ddir, parts[0])
    with open(victim, "r+b") as f:
        f.truncate(10)
    m3 = extract_chunks_native_to_parquet(
        spark, corpus_path, out_direct, giant_threshold=10**6,
        direct_write=True, resume=True,
    ).toPandas()
    assert (m3["n_docs"] == -1).sum() == len(m3) - 1
    again = {
        (r.doc_id, r.chunk_seq, r.text)
        for r in spark.read.parquet(out_direct).collect()
    }
    assert again == a


@pytest.mark.parametrize("chunker", ["book", "manual", "qa", "presentation"])
def test_chunks_native_equals_fused_other_chunkers(spark, corpus_path, chunker):
    native = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_native(
            spark, corpus_path, chunker=chunker, giant_threshold=120
        ).collect()
    }
    fused = {
        (r.doc_id, r.chunk_seq, r.text, r.token_count, tuple(r.media_refs or []))
        for r in extract_chunks_fused(
            spark.read.parquet(corpus_path), chunker=chunker
        ).collect()
    }
    assert native == fused and len(native) > 0
