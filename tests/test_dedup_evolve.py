"""Unit tests: last-writer-wins dedup and schema evolution."""

import pytest
from pyspark.sql import types as T

from ds_floodexposure_monitoring_spark.operators.dedup import dedup_last_writer
from ds_floodexposure_monitoring_spark.operators.evolve import (
    align_to_schema,
    can_widen,
    evolve_schema,
)

ROWS = [
    (5, "c1", 0, "v5"),
    (3, "c1", 0, "v3"),
    (7, "c1", 1, "v7"),
    (7, "c1", 1, "v7"),  # exact duplicate (redelivery: same lsn, same payload)
    (1, "c2", 0, "v1"),
]
DDL = "lsn long, conv_id string, turn_idx int, text string"


@pytest.mark.parametrize("strategy", ["agg"])  # the one max_by plan
def test_dedup_last_writer(spark, strategy):
    df = spark.createDataFrame(ROWS, DDL)
    out = dedup_last_writer(df, ["conv_id", "turn_idx"], ["lsn"])
    got = {(r.conv_id, r.turn_idx): (r.lsn, r.text) for r in out.collect()}
    assert got == {("c1", 0): (5, "v5"), ("c1", 1): (7, "v7"), ("c2", 0): (1, "v1")}


def test_dedup_out_of_order_input_irrelevant(spark):
    df = spark.createDataFrame(list(reversed(ROWS)), DDL)
    out = dedup_last_writer(df, ["conv_id", "turn_idx"], ["lsn"])
    assert {r.text for r in out.collect()} == {"v5", "v7", "v1"}


def test_can_widen():
    assert can_widen(T.IntegerType(), T.LongType())
    assert can_widen(T.FloatType(), T.DoubleType())
    assert not can_widen(T.LongType(), T.IntegerType())
    assert not can_widen(T.StringType(), T.LongType())


def _schema(pairs):
    return T.StructType([T.StructField(n, t, True) for n, t in pairs])


def test_evolve_add_and_widen():
    table = _schema([("a", T.StringType()), ("b", T.IntegerType())])
    batch = _schema([("a", T.StringType()), ("b", T.LongType()), ("c", T.DoubleType())])
    evo = evolve_schema(table, batch)
    assert evo.changed
    assert evo.added_columns == ["c"]
    assert evo.widened_columns == [("b", "int", "bigint")]
    assert [f.dataType for f in evo.schema.fields] == [T.StringType(), T.LongType(), T.DoubleType()]


def test_evolve_narrower_batch_ok_table_unchanged():
    table = _schema([("a", T.StringType()), ("b", T.LongType())])
    batch = _schema([("b", T.IntegerType())])
    evo = evolve_schema(table, batch)
    assert not evo.changed
    assert evo.schema == table


def test_evolve_incompatible_rejected():
    table = _schema([("a", T.StringType())])
    batch = _schema([("a", T.LongType())])
    with pytest.raises(ValueError, match="incompatible"):
        evolve_schema(table, batch)


def test_align_to_schema(spark):
    df = spark.createDataFrame([(1, "x")], "b int, a string")
    target = _schema([("a", T.StringType()), ("b", T.LongType()), ("c", T.DoubleType())])
    out = align_to_schema(df, target)
    assert out.schema == target
    r = out.collect()[0]
    assert (r.a, r.b, r.c) == ("x", 1, None)
