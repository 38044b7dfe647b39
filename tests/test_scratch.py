"""Driver-built frames (``local_frame``) and scratch pins (``materialize``):
exact values and schemas survive, and the planner sees the real size."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.operators.scratch import local_frame, materialize


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_local_frame_is_a_local_relation_with_exact_values(spark):
    rows = [
        ("Zürich Versicherung", None, 0.5),
        ("Société Générale", "ORG", 1.0),
        ("東京電力", "ORG", None),
        ("", "", 0.0),
    ]
    df = local_frame(spark, rows, "surface string, entity_type string, score double")
    assert [f.name for f in df.schema] == ["surface", "entity_type", "score"]
    assert [tuple(r) for r in df.collect()] == rows
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    # the optimizer knows the size: a join against it broadcasts it
    big = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, F.lit("東京電力")).otherwise(F.lit("x")).alias("surface")
    )
    joined = _plan(big.join(df, "surface"))
    assert "BroadcastHashJoin" in joined and "SortMergeJoin" not in joined


def test_local_frame_empty_keeps_schema(spark):
    df = local_frame(spark, [], "item_id string, n long")
    assert df.schema == T.StructType(
        [T.StructField("item_id", T.StringType()), T.StructField("n", T.LongType())]
    )
    assert df.collect() == []
    assert "LocalTableScan" in _plan(df)


_NESTED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ts_ntz", T.TimestampNTZType(), True),
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("surface", T.StringType(), False),
                        T.StructField("start", T.IntegerType(), False),
                    ]
                ),
                False,
            ),
            True,
        ),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("lang", T.StringType(), True),
                    T.StructField("counts", T.MapType(T.StringType(), T.LongType()), True),
                ]
            ),
            True,
        ),
    ]
)


def test_materialize_round_trips_nested_structs_and_timestamps(spark):
    ts = dt.datetime(2024, 2, 29, 23, 59, 58, 123456)
    rows = [
        (
            "http://a/é",
            ts.replace(tzinfo=dt.timezone.utc),
            ts,
            [("Zürich", 0), ("東京", 7)],
            ("de", {"p": 3, "q": 0}),
        ),
        ("http://b/", None, None, [], (None, None)),
    ]
    df = spark.createDataFrame(rows, _NESTED)
    pinned = materialize(df, "test_nested")
    assert "Scan parquet" in _plan(pinned)
    assert [(f.name, f.dataType.simpleString()) for f in pinned.schema] == [
        (f.name, f.dataType.simpleString()) for f in _NESTED
    ]
    # like an inferred parquet read, every top-level field reads nullable
    assert all(f.nullable for f in pinned.schema)
    got = sorted(pinned.collect(), key=lambda r: r.url)
    want = sorted(df.collect(), key=lambda r: r.url)
    assert got == want
    assert got[0].ts_ntz == ts


def test_materialize_round_trips_an_empty_frame(spark):
    pinned = materialize(spark.createDataFrame([], _NESTED), "test_empty")
    assert pinned.collect() == []
    assert [f.name for f in pinned.schema] == _NESTED.fieldNames()
