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
