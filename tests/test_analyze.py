"""ANALYZE backfill (operators/analyze.py): legacy manifests (no tombstone
counts, sums or blooms) gain exact ones without any data rewrite;
stat-cols evolution (set_stat_cols) + analyze lights up range pruning
and SUM pushdown on tables created without stats."""

import os

import pytest
from pyspark.sql import functions as F

from ds_floodexposure_monitoring_spark.datagen.transcripts import transcript_schema
from ds_floodexposure_monitoring_spark.operators.analyze import (
    analyze,
    set_stat_cols,
)
from ds_floodexposure_monitoring_spark.operators.compact import merge_append
from ds_floodexposure_monitoring_spark.operators.merge import merge_into
from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

DDL = (
    "lsn long, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, op string"
)


def _rows(spark, lo, hi, deletes=()):
    rows = [
        (i + 1, f"c{i % 10}", i // 10, "user", f"t-{i}", None, None, "U")
        for i in range(lo, hi)
    ]
    rows += [(hi + j + 1, c, ti, None, None, None, None, "D")
             for j, (c, ti) in enumerate(deletes)]
    return spark.createDataFrame(rows, DDL)


def test_analyze_backfills_legacy_manifests(spark, tmpdir_path, legacy_manifest):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(),
        n_buckets=4, stat_cols=("turn_idx",), key_bloom_bits=1 << 10,
    )
    merge_into(t, _rows(spark, 0, 100), op_col="op", batch_id="b1")
    legacy_manifest(t)
    # a legacy manifest cannot prove sums and carries no bloom
    assert t.col_sum("turn_idx") is None
    assert all(f.key_bloom is None for f in t.files())
    paths = {f.path for f in t.files()}

    st = analyze(t)
    assert st.files_analyzed == len(paths)
    want = t.scan().agg(F.sum("turn_idx")).collect()[0][0]
    assert t.col_sum("turn_idx") == want
    assert all(f.key_bloom is not None for f in t.files())
    assert all((f.col_sums or {}).get("turn_idx") for f in t.files())
    # state untouched (metadata-swap only: same data files)
    assert {f.path for f in t.files()} == paths
    assert t.count_rows() == t.scan().count() == 100
    # idempotent: nothing deficient remains
    st2 = analyze(t)
    assert st2.files_analyzed == 0 and st2.snapshot_version == t.version
    # blooms from analyze prune point lookups like writer blooms do
    n_all = len(t.files())
    assert len(t.prune_for_keys(["c3"])) < n_all


def test_analyze_proves_tombstones_exactly(spark, tmpdir_path, legacy_manifest):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(), n_buckets=2
    )
    doomed = [("c1", 0), ("c2", 0), ("c3", 3)]
    merge_into(t, _rows(spark, 0, 100, doomed), op_col="op", batch_id="b1")
    legacy_manifest(t)
    assert all(f.tombstones is None for f in t.files())
    analyze(t)
    fs = t.files()
    assert all(f.tombstones is not None for f in fs)
    assert sum(f.tombstones for f in fs) == len(doomed)
    assert t.count_rows() == t.scan().count() == 100 - len(doomed)


def test_set_stat_cols_then_analyze(spark, tmpdir_path):
    """Stats evolution: a table created with NO stat cols gains SUM
    pushdown and range pruning after set_stat_cols + analyze."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(), n_buckets=2
    )
    merge_into(t, _rows(spark, 0, 80), op_col="op", batch_id="b1")
    with pytest.raises(ValueError, match="no file stats"):
        t.scan_range("turn_idx", 0, 2)
    set_stat_cols(t, ("turn_idx",))
    st = analyze(t)
    assert st.files_analyzed > 0
    want = t.scan().agg(F.sum("turn_idx")).collect()[0][0]
    assert t.col_sum("turn_idx") == want
    got = sorted(
        (r.conv_id, r.turn_idx) for r in t.scan_range("turn_idx", 0, 2).collect()
    )
    exp = sorted(
        (r.conv_id, r.turn_idx)
        for r in t.scan().where(F.col("turn_idx").between(0, 2)).collect()
    )
    assert got == exp
    # future writes accumulate the new stats without analyze
    merge_into(t, _rows(spark, 80, 120), op_col="op", batch_id="b2")
    assert analyze(t).files_analyzed == 0
    assert t.col_sum("turn_idx") == t.scan().agg(
        F.sum("turn_idx")).collect()[0][0]


def test_analyze_proves_preevolution_columns(spark, tmpdir_path):
    """A file written before a column existed is all-null by alignment:
    analyze records [0, 0] and SUM pushdown stays provable across the
    schema evolution."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(), n_buckets=2
    )
    merge_append(t, _rows(spark, 0, 40), op_col="op", batch_id="b1")
    wide = _rows(spark, 40, 80).withColumn(
        "score", (F.col("lsn") % 5).cast("int")
    )
    merge_append(t, wide, op_col="op", batch_id="b2")
    from ds_floodexposure_monitoring_spark.operators.compact import compact

    compact(t, min_files_per_bucket=1)
    set_stat_cols(t, ("score",))
    analyze(t)
    want = t.scan().agg(F.sum("score")).collect()[0][0]
    assert t.col_sum("score") == want


def test_set_stat_cols_guards(spark, tmpdir_path):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(), n_buckets=2
    )
    with pytest.raises(ValueError, match="unknown column"):
        set_stat_cols(t, ("nope",))
    with pytest.raises(ValueError, match="first merge key"):
        set_stat_cols(t, ("conv_id",))


def test_analyze_reads_prerename_bytes(spark, tmpdir_path):
    """Files written before a column rename store the OLD physical
    name; analyze must read those bytes for the new logical name."""
    from pyspark.sql import types as T

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"),
        T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("y", T.IntegerType(), True),
        ]),
        merge_keys=("k",), n_buckets=4,
    )
    b1 = spark.createDataFrame(
        [(i, i % 10, 1) for i in range(40)], "k long, y int, lsn long"
    )
    merge_into(t, b1, batch_id="b1")
    t.rename_column("y", "z")
    b2 = spark.createDataFrame(
        [(100 + i, 50 + i % 10, 2) for i in range(10)], "k long, z int, lsn long"
    )
    merge_into(t, b2, batch_id="b2")
    set_stat_cols(t, ("z",))
    analyze(t)
    want = t.scan().agg(F.sum("z")).collect()[0][0]
    assert t.col_sum("z") == want
    assert want == sum(i % 10 for i in range(40)) + sum(50 + i % 10 for i in range(10))


def test_analyze_never_resurrects_dropped_values(spark, tmpdir_path):
    """A column dropped then re-added reads NULL for pre-drop rows;
    analyze must record [0, 0] for pre-drop files even though their
    bytes still hold the old values."""
    from pyspark.sql import types as T

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"),
        T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("x", T.IntegerType(), True),
        ]),
        merge_keys=("k",), n_buckets=4,
    )
    b1 = spark.createDataFrame(
        [(i, 1000, 1) for i in range(40)], "k long, x int, lsn long"
    )
    merge_into(t, b1, batch_id="b1")
    t.drop_column("x")
    # re-add via schema evolution with DISJOINT keys: buckets untouched
    # by b2 keep their pre-drop physical files
    b2 = spark.createDataFrame(
        [(100 + i, 7, 2) for i in range(10)], "k long, x int, lsn long"
    )
    merge_into(t, b2, batch_id="b2")
    set_stat_cols(t, ("x",))
    analyze(t)
    want = t.scan().agg(F.sum("x")).collect()[0][0]
    assert t.col_sum("x") == want
    # the old 1000s must NOT appear: only b2's 7s are live x values
    assert want == 7 * 10


def test_physical_names_deterministic_mapping():
    """Pure unit pin for the rename inversion: chain roots win over
    identity regardless of hash/iteration order (a set-order flake once
    let a rename TARGET map to itself for pre-rename files, recording
    [0,0] sums)."""
    from ds_floodexposure_monitoring_spark.operators.analyze import (
        _physical_names,
    )

    ren = [{"from": "y", "to": "z", "at_schema_version": 2}]
    assert _physical_names(ren, 1, ["k", "z"]) == {"k": "k", "z": "y"}
    assert _physical_names(ren, 2, ["k", "z"]) == {"k": "k", "z": "z"}
    # chain a->b->c: oldest files read the root, mid-epoch files read b
    chain = [
        {"from": "a", "to": "b", "at_schema_version": 2},
        {"from": "b", "to": "c", "at_schema_version": 3},
    ]
    assert _physical_names(chain, 1, ["c"]) == {"c": "a"}
    assert _physical_names(chain, 2, ["c"]) == {"c": "b"}
    assert _physical_names(chain, 3, ["c"]) == {"c": "c"}
    # drop (rename to hidden) then re-add: pre-drop bytes must NOT
    # resurrect -> None
    drop = [{"from": "x", "to": "_dropped_x", "at_schema_version": 2}]
    assert _physical_names(drop, 1, ["x"]) == {"x": None}
