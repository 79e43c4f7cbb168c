"""Bucketed co-located join path (ops/bucketing.py): plan shape + output
equality with the shuffle-join title_vector_blend."""

from __future__ import annotations

import shutil
import uuid

import pytest


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucket_schema(spark):
    """(schema, location) of a throwaway table cache."""
    schema = f"rsb_{uuid.uuid4().hex[:8]}"
    loc = f"/tmp/{schema}_wh"
    yield schema, loc
    spark.sql(f"DROP SCHEMA IF EXISTS {schema} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)


@pytest.fixture(scope="module")
def bucketed(spark, bucket_schema):
    from ragflow_spark.ops.bucketing import title_vector_blend_bucketed

    schema, loc = bucket_schema
    return title_vector_blend_bucketed(
        spark, SF, schema=schema, location=loc, refresh=True
    )


def test_bucketed_join_has_no_exchange(spark, bucketed):
    """With broadcast disabled (both sides huge at scale), the bucketed
    blend join must compile to a co-located sort-merge: zero Exchange
    anywhere in the executed plan."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed.count()  # materialize so the AQE final plan exists
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "Exchange" not in plan, plan


def test_bucketed_blend_equals_shuffle_blend(spark, bucketed):
    from ragflow_spark.ops.similarity import title_vector_blend

    plain = title_vector_blend(spark, SF)
    a = sorted(map(tuple, bucketed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) > 0



def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_bucketed_cache_keyed_by_chunks_per_doc(spark, bucket_schema, bucketed):
    """A cached build for chunks_per_doc=5 must not serve a call with
    another chunks_per_doc: the doc grouping and title vectors differ."""
    from ragflow_spark.ops.bucketing import title_vector_blend_bucketed
    from ragflow_spark.ops.similarity import title_vector_blend

    schema, loc = bucket_schema
    bucketed.count()  # the chunks_per_doc=5 tables exist before the call
    got = title_vector_blend_bucketed(
        spark, SF, schema=schema, location=loc, chunks_per_doc=3
    )
    want = _rows(title_vector_blend(spark, SF, chunks_per_doc=3))
    assert _rows(got) == want and want != _rows(bucketed)


def test_bucketed_rebuilds_after_partial_write(spark, bucket_schema, bucketed):
    """A crash between the two table writes leaves only the chunk table;
    the next call must rebuild both instead of failing on the missing
    title table."""
    from ragflow_spark.ops.bucketing import title_vector_blend_bucketed
    from ragflow_spark.ops.similarity import title_vector_blend

    schema, loc = bucket_schema
    bucketed.count()
    titles = [
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN {schema}").collect()
        if r.tableName.startswith("title_vecs_") and r.tableName.endswith("_cpd5")
    ]
    assert len(titles) == 1, titles
    spark.sql(f"DROP TABLE {schema}.{titles[0]}")
    again = title_vector_blend_bucketed(spark, SF, schema=schema, location=loc)
    assert _rows(again) == _rows(title_vector_blend(spark, SF))
