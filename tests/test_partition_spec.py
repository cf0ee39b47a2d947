"""Value-partition transforms (Iceberg partition-spec analog): writers
split files by days(ts)-style transform values, reads bounded on the
source column prune at exact partition granularity, whole partitions
drop by metadata alone, and MOR pruning is key-range-closure sound."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from ds_floodexposure_monitoring_spark.datagen.transcripts import transcript_schema
from ds_floodexposure_monitoring_spark.operators.compact import compact, merge_append
from ds_floodexposure_monitoring_spark.operators.merge import merge_into
from ds_floodexposure_monitoring_spark.sources.lake import (
    LakeTable,
    _parse_partition_spec,
    _partition_value_range,
)

DDL = "lsn long, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _batch(spark, lo, n, day, text="t"):
    rows = [
        (lo + i, f"c{(lo + i) % 10}", (lo + i) // 10, "user", f"{text}-{lo + i}",
         None, dt.datetime(2024, 1, day, i % 24))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, DDL)


@pytest.fixture()
def table(spark, tmpdir_path):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(),
        n_buckets=4, partition_by="days(ts)",
    )


def test_parse_and_value_range():
    assert _parse_partition_spec("days(ts)") == {"transform": "days", "col": "ts"}
    assert _parse_partition_spec("conv_id") == {"transform": "identity", "col": "conv_id"}
    with pytest.raises(ValueError):
        _parse_partition_spec("buckets(ts)")
    day_us = 86_400_000_000
    spec = {"transform": "days", "col": "ts"}
    assert _partition_value_range(spec, 0, day_us - 1) == (0, 0)
    assert _partition_value_range(spec, day_us, 3 * day_us) == (1, 3)
    mspec = {"transform": "months", "col": "ts"}
    jan1_2024_us = int(
        (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6
    )
    assert _partition_value_range(mspec, jan1_2024_us, jan1_2024_us) == (648, 648)


def test_writer_splits_files_by_partition_value(spark, table):
    # one COW merge spanning 3 days -> every file carries ONE day value
    b = _batch(spark, 0, 40, 1).union(_batch(spark, 100, 40, 2)).union(
        _batch(spark, 200, 40, 3)
    )
    merge_into(table, b, batch_id="seed")
    days = {f.part for f in table.files()}
    assert days == {19723, 19724, 19725}  # 2024-01-01..03 as epoch days
    # physical layout mirrors it (b=<bucket>/p=<day>/) and all rows in a
    # file share the partition value
    for f in table.files():
        assert f"p={f.part}" in f.path
        vals = (
            spark.read.parquet(os.path.join(table.path, f.path))
            .select(F.datediff("ts", F.lit("1970-01-01")).alias("d"))
            .distinct()
            .collect()
        )
        assert {r["d"] for r in vals} == {f.part}


def test_partition_pruned_read_resolved_and_mor(spark, table):
    for day in (1, 2, 3):
        merge_into(table, _batch(spark, day * 1000, 40, day), batch_id=f"d{day}")
    total = len(table.files())
    lo, hi = dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 4)
    pruned = table.prune_for_range("ts", lo, hi)
    assert 0 < len(pruned) < total
    assert all(f.part == 19725 for f in pruned)
    want = table.scan().where(F.col("ts") >= F.lit(lo)).count()
    assert table.scan_range("ts", lo, hi).count() == want == 40

    # MOR deltas: pruning keeps the key-range closure, results stay exact
    merge_append(table, _batch(spark, 5000, 40, 3, text="late"), batch_id="late")
    assert table.current()["requires_resolve"] is True
    pruned_mor = table.prune_for_range("ts", lo, hi)
    assert len(pruned_mor) < len(table.files()) + 1  # no blow-up to all
    got = table.scan_range("ts", lo, hi).count()
    want = table.scan().where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    ).count()
    assert got == want


def test_mor_prune_never_returns_stale_version(spark, table):
    """A key updated OUT of the queried day range must not reappear via
    its stale in-range version after pruning (the closure guarantee)."""
    merge_into(table, _batch(spark, 0, 40, 1), batch_id="day1")
    # move every day-1 key to day 5 with a higher LSN, as MOR deltas
    moved = _batch(spark, 0, 40, 5, text="moved").withColumn(
        "lsn", F.col("lsn") + 10_000
    )
    merge_append(table, moved, batch_id="moved")
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    got = table.scan_range("ts", lo, hi).count()
    assert got == 0  # every winner now lives on day 5


def test_drop_partitions_metadata_only(spark, table):
    for day in (1, 2, 3):
        merge_into(table, _batch(spark, day * 1000, 40, day), batch_id=f"d{day}")
    paths_before = {f.path for f in table.files()}
    snap = table.drop_partitions(dt.datetime(2024, 1, 3))
    assert snap is not None
    assert snap["summary"]["operation"] == "drop-partitions"
    assert snap["summary"]["rows_dropped"] == 80
    assert table.scan().count() == 40
    # zero writes: surviving files are the same physical files
    assert {f.path for f in table.files()} <= paths_before
    assert all(f.part == 19725 for f in table.files())
    # dropped bytes still on disk until vacuum (snapshots retained)
    assert table.drop_partitions(dt.datetime(2024, 1, 3)) is None  # idempotent


def test_drop_partitions_refuses_mor(spark, table):
    merge_append(table, _batch(spark, 0, 40, 1), batch_id="d1")
    with pytest.raises(ValueError, match="resolved"):
        table.drop_partitions(dt.datetime(2024, 2, 1))
    compact(table, min_files_per_bucket=1)  # resolve
    assert table.drop_partitions(dt.datetime(2024, 2, 1)) is not None
    assert table.scan().count() == 0


def test_partition_col_ddl_guards(spark, table):
    with pytest.raises(ValueError, match="partition source"):
        table.rename_column("ts", "event_ts")
    with pytest.raises(ValueError, match="partition source"):
        table.drop_column("ts")


def test_predicate_prune_uses_partition_values(spark, table):
    for day in (1, 2, 3):
        merge_into(table, _batch(spark, day * 1000, 40, day), batch_id=f"d{day}")
    cond = "ts >= timestamp'2024-01-02 00:00:00' AND ts < timestamp'2024-01-03 00:00:00'"
    pruned = table.prune_for_predicate(cond)
    assert {f.part for f in pruned} == {19724}
    assert table.scan(files=pruned).where(cond).count() == 40


def test_null_partition_values_survive_and_never_prune(spark, table):
    rows = [(1, "c1", 0, "user", "x", None, None)]  # null ts
    merge_into(table, spark.createDataFrame(rows, DDL), batch_id="nulls")
    f = table.files()[0]
    assert f.part is None
    assert "p=__null__" in f.path
    # null-partition files are kept by every partition prune
    assert table.prune_for_range(
        "ts", dt.datetime(2030, 1, 1), dt.datetime(2031, 1, 1)
    ) == table.files()
    assert table.drop_partitions(dt.datetime(2030, 1, 1)) is None
    assert table.scan().count() == 1


def test_months_partition_non_utc_session(spark, tmpdir_path):
    """Regression (ADVICE r3, medium): months/years partition values
    must come from the SAME UTC epoch basis as the pruning math. On a
    non-UTC session, F.month(ts)-based values disagree with
    _partition_value_range near month boundaries and a matching file is
    silently pruned away."""
    utc = dt.timezone.utc
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, "mtz"), transcript_schema(),
            n_buckets=2, partition_by="months(ts)",
        )
        # 2024-02-01 02:00 UTC == 2024-01-31 21:00 New York: UTC month
        # (Feb, part 649) differs from session-tz month (Jan, part 648)
        rows = [(1, "c1", 0, "user", "boundary", None,
                 dt.datetime(2024, 2, 1, 2, 0, tzinfo=utc))]
        merge_into(t, spark.createDataFrame(rows, DDL), batch_id="b1")
        assert {f.part for f in t.files()} == {(2024 - 1970) * 12 + 1}  # 649
        lo = dt.datetime(2024, 2, 1, tzinfo=utc)
        hi = dt.datetime(2024, 2, 28, tzinfo=utc)
        assert len(t.prune_for_range("ts", lo, hi)) == 1
        assert t.scan_range("ts", lo, hi).count() == 1
        # years behaves the same near a year boundary
        t2 = LakeTable.create(
            spark, os.path.join(tmpdir_path, "ytz"), transcript_schema(),
            n_buckets=2, partition_by="years(ts)",
        )
        rows = [(1, "c1", 0, "user", "ny", None,
                 dt.datetime(2024, 1, 1, 3, 0, tzinfo=utc))]
        merge_into(t2, spark.createDataFrame(rows, DDL), batch_id="b1")
        assert {f.part for f in t2.files()} == {2024 - 1970}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_identity_partition_hostile_values(spark, tmpdir_path):
    """Regression (ADVICE r3): a string identity-partition value with
    '/', '=', '%' must not corrupt the directory layout (Hive-style
    percent-escaping) and must round-trip through scan + prune."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "hostile"), transcript_schema(),
        n_buckets=2, partition_by="role",
    )
    hostile = ["a/b", "k=v", "p%20q", "dot.."]
    rows = [
        (i, f"c{i}", 0, role, f"txt-{role}", None, dt.datetime(2024, 1, 1))
        for i, role in enumerate(hostile)
    ]
    merge_into(t, spark.createDataFrame(rows, DDL), batch_id="b1")
    assert t.scan().count() == len(hostile)
    assert {f.part for f in t.files()} == set(hostile)
    for f in t.files():
        # every manifest path resolves to a real file under the root
        assert os.path.isfile(os.path.join(t.path, f.path)), f.path
        assert "/p=" in f.path and f.path.count("=") >= 2
    got = sorted(r.text for r in t.scan().collect())
    assert got == sorted(f"txt-{r}" for r in hostile)


def test_fanout_writer_cap_evicts_and_stays_exact(spark, tmpdir_path):
    """Regression (ADVICE r3): the arrow task writer caps concurrently
    open parquet writers (LRU close + new file on key reappearance);
    manifests and data stay exact when a task holds more (bucket,
    partition) pairs than the cap."""
    import pyarrow as pa

    from ds_floodexposure_monitoring_spark.sources.lake import _make_task_writer

    root = os.path.join(tmpdir_path, "fanout")
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    wp = _make_task_writer(
        "data", root, "conv_id", ["ts"], schema_version=1,
        partitioned=True, max_open_writers=4,
    )
    # 12 partition values interleaved A,B,A,B... so LRU eviction fires
    # and several keys REAPPEAR after their writer was closed
    def mk(lo, n):
        return pa.RecordBatch.from_pydict({
            "b": pa.array([i % 2 for i in range(lo, lo + n)], pa.int32()),
            "_p": pa.array([i % 12 for i in range(lo, lo + n)], pa.int64()),
            "conv_id": pa.array([f"c{i:04d}" for i in range(lo, lo + n)]),
            "ts": pa.array([1000 + i for i in range(lo, lo + n)], pa.int64()),
        })

    out = list(wp([mk(0, 48), mk(0, 48)]))
    assert len(out) == 1
    import json

    metas = [json.loads(m) for m in out[0].column(0).to_pylist()]
    # reappearing (bucket, part) keys produced >1 file — allowed by the
    # manifest — and total rows are exact
    assert sum(m["rows"] for m in metas) == 96
    keys = {(m["bucket"], m["part"]) for m in metas}
    assert keys == {(b, p) for b in (0, 1) for p in range(12) if p % 2 == b}
    assert len(metas) > len(keys)  # eviction really closed+reopened files
    import pyarrow.parquet as pq

    seen = []
    for m in metas:
        tbl = pq.read_table(os.path.join(root, m["path"]))
        assert m["min_key"] == min(tbl.column("conv_id").to_pylist())
        assert m["max_key"] == max(tbl.column("conv_id").to_pylist())
        seen += tbl.column("conv_id").to_pylist()
    assert sorted(seen) == sorted([f"c{i:04d}" for i in range(48)] * 2)


# ---------------------------------------------------------------- evolution


def test_partition_evolution_days_to_months(spark, table):
    """set_partition_spec is metadata-only: old files keep their days()
    values under spec id 0, new writes split by months() under spec id
    1, and pruning evaluates each file under ITS OWN spec."""
    merge_into(table, _batch(spark, 0, 40, 1), batch_id="jan1")
    merge_into(table, _batch(spark, 1000, 40, 2), batch_id="jan2")
    old_paths = {f.path for f in table.files()}

    snap = table.set_partition_spec("months(ts)")
    assert snap["summary"]["operation"] == "set-partition-spec"
    assert {f.path for f in table.files()} == old_paths  # no file touched
    assert table.partition_spec() == {"transform": "months", "col": "ts"}

    # february batch lands under the NEW spec
    feb = spark.createDataFrame(
        [(9000 + i, f"f{i}", 0, "user", f"feb-{i}", None,
          dt.datetime(2024, 2, 10, i % 24)) for i in range(30)],
        DDL,
    )
    merge_into(table, feb, batch_id="feb")
    by_spec = {}
    for f in table.files():
        by_spec.setdefault(f.spec_id, set()).add(f.part)
    assert by_spec[0] == {19723, 19724}           # days: Jan 1-2 2024
    assert by_spec[1] == {649}                    # months: Feb 2024

    # pruning works across specs: a Jan-1-only range keeps neither the
    # Jan-2 days files nor the Feb months files
    jan1 = dt.datetime(2024, 1, 1)
    kept = table.prune_for_range("ts", jan1, dt.datetime(2024, 1, 1, 23, 59))
    assert {f.part for f in kept} == {19723}
    # and a Feb range keeps only the months files
    kept = table.prune_for_range("ts", dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 28))
    assert {(f.spec_id, f.part) for f in kept} == {(1, 649)}

    # scan_range equals scan+filter on both sides of the evolution
    got = sorted(
        r.text for r in table.scan_range("ts", jan1, dt.datetime(2024, 1, 1, 23, 59))
        .where(F.col("ts") <= dt.datetime(2024, 1, 1, 23, 59)).collect()
    )
    want = sorted(
        r.text for r in table.scan()
        .where(F.col("ts").between(jan1, dt.datetime(2024, 1, 1, 23, 59))).collect()
    )
    assert got == want and got

    # predicate pruning takes the same per-file-spec path
    kept = table.prune_for_predicate("ts >= timestamp'2024-02-01 00:00:00'")
    assert {(f.spec_id, f.part) for f in kept} == {(1, 649)}


def test_drop_partitions_across_specs(spark, table):
    """Retention cutoffs compare files from DIFFERENT specs through the
    epoch-micros interval each partition covers: a days-file wholly
    before the cutoff drops even though the current spec is months."""
    merge_into(table, _batch(spark, 0, 40, 1), batch_id="jan1")
    merge_into(table, _batch(spark, 1000, 40, 2), batch_id="jan2")
    table.set_partition_spec("months(ts)")
    feb = spark.createDataFrame(
        [(9000 + i, f"f{i}", 0, "user", f"feb-{i}", None,
          dt.datetime(2024, 2, 10)) for i in range(30)],
        DDL,
    )
    merge_into(table, feb, batch_id="feb")
    n_before = table.scan().count()

    # cutoff mid-Feb snaps down to the months boundary (Feb 1): both
    # Jan days-partitions drop (their intervals end Jan 2/Jan 3), the
    # Feb months-partition straddles and is kept
    snap = table.drop_partitions(dt.datetime(2024, 2, 15))
    assert snap is not None
    assert {(f.spec_id, f.part) for f in table.files()} == {(1, 649)}
    assert table.scan().count() == 30 < n_before
    # metadata-only: operation recorded, no files added
    assert snap["summary"]["operation"] == "drop-partitions"
    assert snap["summary"]["added_files"] == 0


def test_partition_evolution_guards_and_unset(spark, table):
    merge_into(table, _batch(spark, 0, 40, 1), batch_id="jan1")
    with pytest.raises(ValueError, match="already partitioned"):
        table.set_partition_spec("days(ts)")
    with pytest.raises(ValueError, match="not in schema"):
        table.set_partition_spec("days(nope)")

    table.set_partition_spec("months(ts)")
    # the HISTORICAL spec's source column is still rename/drop-protected
    with pytest.raises(ValueError, match="partition source"):
        table.rename_column("ts", "ts2")
    with pytest.raises(ValueError, match="partition source"):
        table.drop_column("ts")

    # unset: new writes are unpartitioned, old files still prune
    # (disjoint keys so the COW merge leaves the day-1 files alone)
    table.set_partition_spec(None)
    assert table.partition_spec() is None
    day3 = spark.createDataFrame(
        [(5000 + i, f"z{i}", 0, "user", f"d3-{i}", None,
          dt.datetime(2024, 1, 3)) for i in range(20)],
        DDL,
    )
    merge_append(table, day3, batch_id="jan3")  # MOR: day-1 files survive
    parts = {f.part for f in table.files()}
    assert None in parts and 19723 in parts
    kept = table.prune_for_range("ts", dt.datetime(2024, 1, 1),
                                 dt.datetime(2024, 1, 1, 23, 59))
    # day-1 files kept, day-3 unpartitioned files conservatively kept,
    # nothing else
    assert {f.part for f in kept} == {19723, None}

    # re-specifying an old spec reuses its spec id (Iceberg dedup)
    table.set_partition_spec("days(ts)")
    merge_into(table, _batch(spark, 7000, 20, 4), batch_id="jan4")
    snap = table.current()
    assert snap["partition_specs"].count({"transform": "days", "col": "ts"}) == 1
    assert {f.spec_id for f in table.files() if f.part == 19726} == {0}


def test_major_compaction_migrates_to_current_spec(spark, tmpdir_path):
    """A post-evolution major compaction rewrites rows under the CURRENT
    spec — the natural no-extra-cost migration path at 100 TB."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mig"), transcript_schema(),
        n_buckets=2, partition_by="days(ts)",
    )
    merge_append(t, _batch(spark, 0, 40, 1), batch_id="b1")
    merge_append(t, _batch(spark, 1000, 40, 2), batch_id="b2")
    t.set_partition_spec("months(ts)")
    assert t.current()["requires_resolve"] is True
    before = sorted((r.conv_id, r.turn_idx, r.text) for r in t.scan().collect())
    compact(t)
    assert t.current()["requires_resolve"] is False
    assert {(f.spec_id, f.part) for f in t.files()} == {(1, 648)}  # Jan 2024
    after = sorted((r.conv_id, r.turn_idx, r.text) for r in t.scan().collect())
    assert after == before
