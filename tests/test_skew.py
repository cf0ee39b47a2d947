"""Skew handling: split planning and salted spread of hot buckets."""

from pyspark.sql import functions as F

from ds_floodexposure_monitoring_spark.operators.skew import (
    plan_bucket_splits,
    with_salted_split,
)


def test_plan_bucket_splits_sizing():
    splits = plan_bucket_splits([(0, 10), (1, 2_000_000), (2, 2_000_001)], 1_000_000)
    assert splits == {0: 1, 1: 2, 2: 3}


def test_plan_bucket_splits_never_zero():
    assert plan_bucket_splits([(7, 0)], 100)[7] == 1


def test_salted_split_spreads_hot_bucket(spark):
    # one hot bucket (0) with many keys, one cold bucket (1)
    rows = [("conv-%04d" % i, i % 40, 0 if i % 10 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, b int")
    out = with_salted_split(df, "b", {0: 4, 1: 1})
    got = {
        (r["b"], r["_split"])
        for r in out.select("b", "_split").distinct().collect()
    }
    hot_splits = {s for b, s in got if b == 0}
    cold_splits = {s for b, s in got if b == 1}
    assert len(hot_splits) == 4 and hot_splits == {0, 1, 2, 3}
    assert cold_splits == {0}


def test_salted_split_deterministic_per_key(spark):
    df = spark.createDataFrame(
        [("c1", 1, 0), ("c1", 1, 0)], "conv_id string, turn_idx int, b int"
    )
    out = with_salted_split(df, "b", {0: 8}).select("_split").distinct()
    # identical keys always land in the same split (stable salt hash)
    assert out.count() == 1


def test_unknown_bucket_defaults_to_single_split(spark):
    df = spark.createDataFrame([("c9", 3, 5)], "conv_id string, turn_idx int, b int")
    out = with_salted_split(df, "b", {0: 4})  # bucket 5 absent from plan
    assert out.select("_split").collect()[0][0] == 0


def test_all_cold_buckets_constant_split_no_join(spark):
    """splits all 1 → _split is the literal 0 and the plan carries no
    join/broadcast at all (removes a per-batch broadcast job from the
    steady-state ingest loop)."""
    df = spark.range(100).selectExpr("CAST(id % 8 AS INT) b", "id conv_id", "id turn_idx")
    out = with_salted_split(df, "b", {b: 1 for b in range(8)})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Broadcast" not in plan
    assert {r[0] for r in out.select("_split").distinct().collect()} == {0}


def test_few_hot_buckets_inline_map_no_join(spark):
    """a handful of hot buckets → literal-map lookup, still no join."""
    df = spark.range(4000).selectExpr("CAST(id % 8 AS INT) b", "id conv_id", "id turn_idx")
    out = with_salted_split(df, "b", {0: 4, 1: 1, 2: 2})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Broadcast" not in plan
    got = {
        (r["b"], r["_split"])
        for r in out.select("b", "_split").distinct().collect()
    }
    assert {s for b, s in got if b == 0} == {0, 1, 2, 3}
    assert {s for b, s in got if b == 2} == {0, 1}
    assert all({s for bb, s in got if bb == b} == {0} for b in (1, 3, 4, 5, 6, 7))


def test_many_hot_buckets_falls_back_to_broadcast_join(spark):
    """>256 distinct hot buckets → the broadcast-join path, same
    semantics."""
    df = spark.range(2000).selectExpr(
        "CAST(id % 300 AS INT) b", "id conv_id", "id turn_idx"
    )
    splits = {b: 2 for b in range(300)}
    out = with_salted_split(df, "b", splits)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan
    vals = {r[0] for r in out.select("_split").distinct().collect()}
    assert vals == {0, 1}


def test_write_exchange_partitions_sizing(spark):
    """Row-driven exchange width: a small row estimate writes in one
    wave of min(groups, cores) tasks; a large one gets the layout-driven
    width (4x over-partition when the reduce stage would be shallow,
    exactly the group count when waves are plentiful, floored by the
    session default); in between, ceil(rows / ROWS_PER_WRITE_TASK)."""
    from ds_floodexposure_monitoring_spark.operators.skew import (
        ROWS_PER_WRITE_TASK,
        write_exchange_partitions,
    )

    df = spark.range(10)
    cores = spark.sparkContext.defaultParallelism
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shallow = {b: 1 for b in range(max(1, cores))}  # groups < 4*cores
    deep = {b: 1 for b in range(8 * cores)}  # groups >= 4*cores

    # small estimate: one wave, never more tasks than groups or cores
    assert write_exchange_partitions(df, shallow, 1_000) == min(len(shallow), cores)
    assert write_exchange_partitions(df, deep, 1_000) == cores
    assert write_exchange_partitions(df, deep, 0) == cores
    assert write_exchange_partitions(df, {0: 1}, 1_000) == 1

    # large estimate (or none): the layout-driven widths
    for rows in (10**12, None):
        assert write_exchange_partitions(df, shallow, rows) == max(4 * len(shallow), base)
        assert write_exchange_partitions(df, deep, rows) == max(8 * cores, base)
    assert write_exchange_partitions(df, {}, None) >= base

    # in between: one task per ROWS_PER_WRITE_TASK rows
    n = cores + 1
    assert write_exchange_partitions(df, deep, n * ROWS_PER_WRITE_TASK) == n
    assert write_exchange_partitions(df, deep, n * ROWS_PER_WRITE_TASK + 1) == n + 1
