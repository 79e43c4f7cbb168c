"""Physical-plan regression guards: these pin plan SHAPES that silently
regressed before (AQE re-coalescing the salted strip shuffle; the bounded
default query batch reaching the scan) or that carry a measured cost (the
native reader's split source: one Python worker per split task)."""

from __future__ import annotations

import re

import pytest


def test_strip_stage_salted_repartition_has_explicit_count(spark):
    """The salted exploded-path shuffle must be RepartitionByExpression
    WITH an explicit numPartitions — a bare column repartition is
    AQE-coalescible and got folded to ONE partition for byte-small/
    CPU-huge giant-doc span sets (r5 skew bench, straggler cut 5.8x
    after pinning)."""
    from ragflow_spark.operators.extract import explode_spans, strip_stage

    docs = spark.createDataFrame(
        [("d0", [("txt", "hello world", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    plan = (
        strip_stage(explode_spans(docs))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    m = re.search(r"RepartitionByExpression \[[^\]]*salt[^\]]*\], (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) > 0


def test_knn_default_batch_predicates_reach_scan(spark):
    """The default query batch's stride AND cap must land in the
    query-side embeddings scan as data filters (the cap is what makes
    the batch fixed-size at any corpus scale)."""
    from ragflow_spark.ops.similarity import knn_bruteforce

    s = (
        knn_bruteforce(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .toString()
    )
    assert re.search(r"vec_id#\d+L % 100\) = 0", s), "stride not in scan"
    assert re.search(r"vec_id#\d+L < 1600", s), "cap not in scan"


# the small-doc side of the native entry points: the kernel mapInPandas
# directly over a one-id-per-partition Range, i.e. one Python worker per
# split task (a Python-RDD source would pipeline a second one)
_SMALL_SIDE = re.compile(
    r"MapInPandas [^\n]*\(id#\d+L\)[^\n]*\n"
    r"[ :|]*\+- (?:\*\(\d+\) )?Range \(0, (\d+), step=1, splits=(\d+)\)"
)


@pytest.fixture(scope="module", params=[1, 4], ids=["one_split", "four_splits"])
def native_corpus(spark, tmp_path_factory, request):
    from ragflow_spark.datagen import write_corpus

    p = str(tmp_path_factory.mktemp("native_plan") / "corpus")
    write_corpus(spark, p, count=10 * request.param, seed=3,
                 partitions=request.param)
    return p


def _native_entry(spark, entry, corpus, out_dir, giant_threshold):
    from ragflow_spark.sources import parquet_spans as ps

    if entry == "sink":
        return ps.extract_chunks_native_to_parquet(
            spark, corpus, out_dir, giant_threshold=giant_threshold
        )
    fn = {"chunks": ps.extract_chunks_native, "spans": ps.extract_spans_native}
    return fn[entry](spark, corpus, giant_threshold=giant_threshold)


@pytest.mark.parametrize("entry", ["chunks", "sink", "spans"])
def test_native_small_side_is_mapinpandas_over_range(
    spark, native_corpus, entry, tmp_path
):
    """No giants: the whole plan is the small-doc side, one task per
    planned split, with no ExistingRDD (Python-RDD) scan."""
    from ragflow_spark.sources.parquet_spans import plan_splits

    splits, may_have_giants = plan_splits(native_corpus, giant_threshold=10**6)
    assert not may_have_giants
    df = _native_entry(spark, entry, native_corpus, str(tmp_path / "out"), 10**6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    m = _SMALL_SIDE.search(plan)
    assert m, plan
    assert int(m.group(1)) == int(m.group(2)) == len(splits)
    assert df.rdd.getNumPartitions() == len(splits)


@pytest.mark.parametrize("entry", ["chunks", "spans"])
def test_native_small_side_under_giant_union(spark, native_corpus, entry):
    """With a giant tail the small-doc side keeps its shape inside the
    union with the salted DataFrame path."""
    from ragflow_spark.sources.parquet_spans import plan_splits

    splits, may_have_giants = plan_splits(native_corpus, giant_threshold=1)
    assert may_have_giants
    plan = (
        _native_entry(spark, entry, native_corpus, None, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" in plan and "ExistingRDD" not in plan, plan
    m = _SMALL_SIDE.search(plan)
    assert m, plan
    assert int(m.group(1)) == int(m.group(2)) == len(splits)


_DOC_PIN = re.compile(r"RepartitionByExpression \[doc_id#\d+\], (\d+)")


@pytest.mark.parametrize("stage", ["finalize", "chunk", "fused"])
def test_doc_stages_pin_explicit_count(spark, stage):
    """Every per-doc kernel stage shuffles on doc_id with an explicit
    count (4 × defaultParallelism): AQE folded the bare doc_id shuffle to
    ONE task on giant-only inputs, finalizing the giants one after
    another on one core."""
    from ragflow_spark.operators import extract as ops

    docs = spark.createDataFrame(
        [("d0", [("txt", "hello world", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    stripped = ops.strip_stage(ops.explode_spans(docs))
    df = {
        "finalize": lambda: ops.finalize_stage(stripped),
        "chunk": lambda: ops.chunk_stage(ops.finalize_stage(stripped)),
        "fused": lambda: ops.giant_chunks(docs),
    }[stage]()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    counts = [int(n) for n in _DOC_PIN.findall(plan)]
    want = 4 * spark.sparkContext.defaultParallelism
    assert counts and all(n == want for n in counts), plan


_EXCHANGE = re.compile(r"Exchange hashpartitioning\(([^)]*)\)")


@pytest.mark.parametrize("entry", ["native", "sink", "fused"])
def test_giant_chunk_route_is_two_pinned_exchanges(
    spark, native_corpus, entry, tmp_path, monkeypatch
):
    """The chunk entry points' giant side: salt shuffle → one fused
    finalize+chunk stage, both at the pinned count and neither coalesced
    by AQE once the DataFrame has run (the sink's giant side is the
    DataFrame it writes; collected here again for its final plan)."""
    from ragflow_spark.operators import extract as ops
    from ragflow_spark.sources import parquet_spans as ps

    seen = []

    def recording(*a, **kw):
        seen.append(ops.giant_chunks(*a, **kw))
        return seen[-1]

    if entry == "native":
        df = ps.extract_chunks_native(spark, native_corpus, giant_threshold=1)
    elif entry == "fused":
        df = ops.extract_chunks_fused(spark.read.parquet(native_corpus), giant_threshold=1)
    else:
        monkeypatch.setattr(ps, "giant_chunks", recording)
        ps.extract_chunks_native_to_parquet(
            spark, native_corpus, str(tmp_path / "out"), giant_threshold=1
        ).collect()
        (df,) = seen
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = _EXCHANGE.findall(plan)
    want = 4 * spark.sparkContext.defaultParallelism
    assert len(keys) == 2, plan
    salt, doc = sorted(keys, key=lambda k: "salt" not in k)
    assert re.fullmatch(rf"doc_id#\d+, salt#\d+, {want}", salt), plan
    assert re.fullmatch(rf"doc_id#\d+, {want}", doc), plan
    assert df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final and "coalesced" not in final, final
