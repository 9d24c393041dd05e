"""session.local_df: driver-built plan tables as exact-stats
LocalRelations (what lets Catalyst broadcast the side joined to them)."""

from __future__ import annotations

from pyspark.sql import types as T

from olake_spark.session import local_df

DDL = "s string, i int, l bigint"


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_empty_rows_keep_schema(spark):
    df = local_df(spark, [], DDL)
    assert df.schema == T.StructType.fromDDL(DDL)
    assert df.collect() == []
    assert _optimized(df).getClass().getSimpleName() == "LocalRelation"


def test_types_and_nulls_preserved_exactly(spark):
    df = local_df(spark, [("a", 1, 2**40), (None, None, None)], DDL)
    assert [f.dataType for f in df.schema.fields] == [
        T.StringType(), T.IntegerType(), T.LongType()
    ]
    assert [tuple(r) for r in df.collect()] == [("a", 1, 2**40), (None, None, None)]
    schema = T.StructType([T.StructField("rel_path", T.StringType())])
    assert local_df(spark, [("x",)], schema).schema == schema


def test_plan_is_broadcastable_local_relation(spark):
    df = local_df(spark, [(f"/t/data/f{i}.parquet", i, i) for i in range(200)], DDL)
    plan = _optimized(df)
    assert plan.getClass().getSimpleName() == "LocalRelation"
    size = int(plan.stats().sizeInBytes())
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert 0 < size < threshold
