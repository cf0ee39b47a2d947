"""Python-worker task counts on the apply and lookup hot paths.

A Python-worker task pays a fixed set-up cost (~0.24 s on a 4-vCPU
host) whatever rows it carries, so the ``mapInArrow`` writer of a small
batch must run in one wave (at most ``cores`` tasks), and bucketing a
lookup's keys must not fan out into a job of ``defaultParallelism``
Python tasks. Counted with ``statusTracker()`` under job groups.
"""

import os
import uuid

from ds_floodexposure_monitoring_spark.datagen.transcripts import transcript_schema
from ds_floodexposure_monitoring_spark.operators.compact import compact, merge_append
from ds_floodexposure_monitoring_spark.operators.merge import merge_into
from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

DDL = "lsn long, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
N_BUCKETS = 16  # 16 groups: the layout-driven width alone would be 16+ tasks


def _batch(spark, lsn0, n_convs, turns=10):
    rows = [
        (lsn0 + turns * c + t, f"conv-{c:04d}", t, "user", f"m{lsn0}.{c}.{t}", None, None)
        for c in range(n_convs)
        for t in range(turns)
    ]
    return spark.createDataFrame(rows, DDL)


def _stage_tasks(sc, group):
    """Per job launched under ``group``: numTasks of each of its stages,
    in stage-id order (a job's result stage has its highest id)."""
    st = sc.statusTracker()
    out = []
    for j in sorted(st.getJobIdsForGroup(group)):
        stages = sorted(st.getJobInfo(j).stageIds)
        out.append([st.getStageInfo(s).numTasks for s in stages])
    return out


def _in_group(sc, group, fn, *args, **kwargs):
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        return fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _count_writer_stages(spark, monkeypatch):
    """Run every ``write_data_files`` call under a fresh job group and
    record the task count of each writer (result) stage it launched."""
    sc = spark.sparkContext
    seen: list[list[int]] = []
    orig = LakeTable.write_data_files

    def counted(self, *args, **kwargs):
        group = f"writer-{uuid.uuid4().hex}"
        try:
            return _in_group(sc, group, orig, self, *args, **kwargs)
        finally:
            seen.append([stages[-1] for stages in _stage_tasks(sc, group)])

    monkeypatch.setattr(LakeTable, "write_data_files", counted)
    return seen


def test_small_writes_run_one_wave(spark, tmpdir_path, monkeypatch):
    cores = spark.sparkContext.defaultParallelism
    seen = _count_writer_stages(spark, monkeypatch)

    mor = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mor"), transcript_schema(), n_buckets=N_BUCKETS
    )
    for i in range(2):
        batch = _batch(spark, 10_000 * i, 200)
        merge_append(mor, batch, batch_id=f"b{i}", approx_rows=2_000)
    assert compact(mor, min_files_per_bucket=2) is not None

    cow = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cow"), transcript_schema(), n_buckets=N_BUCKETS
    )
    merge_into(cow, _batch(spark, 0, 200), batch_id="c0")
    merge_into(cow, _batch(spark, 10_000, 200), batch_id="c1")

    # 2 appends, 1 compaction, 2 merges: one writer job each, every
    # writer stage one wave deep
    assert len(seen) == 5
    assert all(len(jobs) == 1 for jobs in seen), seen
    assert all(0 < jobs[0] <= cores for jobs in seen), (seen, cores)


def test_prune_for_keys_at_most_one_single_task_job(spark, tmpdir_path):
    sc = spark.sparkContext
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), transcript_schema(), n_buckets=N_BUCKETS
    )
    merge_append(t, _batch(spark, 0, 50), batch_id="b0")
    group = f"prune-{uuid.uuid4().hex}"
    kept = _in_group(sc, group, t.prune_for_keys, ["conv-0003", "conv-0042", "absent"])
    assert kept
    jobs = _stage_tasks(sc, group)
    assert len(jobs) <= 1, jobs
    assert all(sum(stages) <= 1 for stages in jobs), jobs
