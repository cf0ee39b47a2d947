"""The workloads. Each drives the engine only through its public
API (``CDCPipeline``, ``LakeTable``, the changelog and envelope readers,
``datagen.transcripts``); the engine sees nothing but generated files.

Every workload returns the table and the version the timed phase
started from. Sizes scale with ``--seconds`` (and ``--scale`` for the
self-test) so that one run's ingest phase lasts about ``--seconds`` on a
4-core host.
"""

from __future__ import annotations

import math
import os
import time

from harness import N_BUCKETS, Lander, Run

KEY_BLOOM_BITS = 1 << 13
N_SHARDS = 4

# replay_mor: closed-loop catch-up of one backlog
REPLAY_EVENTS_PER_S = 30_000  # timed backlog events per --seconds
REPLAY_BATCH = 100_000  # max events per micro-batch
REPLAY_WARM = 50_000  # max events of the untimed warm-up batch
REPLAY_FILE = 12_500  # events per change file
REPLAY_EVENTS_PER_CONV = 200  # about 5 versions of each (conv_id, turn_idx)

# tail_cow: open-loop Debezium tail over a preloaded COW table
TAIL_RATE = 2.0  # files landed per second (a quarter of the sustained rate)
TAIL_FILE = 1_000
TAIL_PRELOAD = 10_000
TAIL_WARM_FILES = 2
# processing-time trigger (Spark's Trigger.ProcessingTime analog): a poll
# every interval, or at once when a batch overran it. A batch of one
# interval's 8 files takes about 3 s on a 4-core host, so every batch
# holds the same files and open-loop phase does not change batch sizes
# between runs (a 3 s interval at 4 files/s was overrun and was not).
TAIL_TRIGGER_S = 4.0


def _spec(run: Run, n_events: int, events_per_file: int, schema_change_frac: float,
          events_per_conv: int = 40):
    from ds_floodexposure_monitoring_spark.datagen.transcripts import ChangeLogSpec

    return ChangeLogSpec(
        n_events=n_events,
        n_convs=max(200, n_events // events_per_conv),
        n_shards=N_SHARDS,
        seed=run.seed,
        hot_frac=0.3,
        n_hot=3,
        dup_rate=0.05,
        delete_rate=0.02,
        ooo_window=1_000,
        schema_change_at=int(n_events * schema_change_frac),
        events_per_file=events_per_file,
    )


def _table(run: Run, name: str):
    from ds_floodexposure_monitoring_spark.datagen.transcripts import transcript_schema
    from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

    return LakeTable.create(
        run.spark, os.path.join(run.work, name), transcript_schema(),
        n_buckets=N_BUCKETS, stat_cols=("ts",), key_bloom_bits=KEY_BLOOM_BITS,
    )


def _move(f: dict, root: str) -> str:
    return os.path.join(root, f"shard={f['shard']}", os.path.basename(f["path"]))


def instrument(run: Run, pipe) -> None:
    """Wrap the public entry points the timed phase goes through (no-op
    unless tracing): the runner, the reader, the merge/compact names the
    runner calls, the table's commit and read API, the checkpoint."""
    tr = run.tracer
    if not run.trace:
        return
    tr.start()
    import dataclasses
    import types

    import ds_floodexposure_monitoring_spark.sources.changelog as changelog_mod
    import ds_floodexposure_monitoring_spark.streaming.runner as runner_mod

    def stats(attrs, args, kwargs, out):
        if dataclasses.is_dataclass(out):
            attrs.update(dataclasses.asdict(out))

    def planned(attrs, args, kwargs, out):
        attrs["picked"] = len(out.files) if out is not None else 0

    # what discovery lists: the change files each of the reader module's
    # per-shard globs returns, booked on the span open at the time
    # (plan_batch)
    listing = changelog_mod.glob

    def counted_glob(pattern, *a, **kw):
        out = listing.glob(pattern, *a, **kw)
        span = tr.open_span()
        if span is not None and pattern.endswith(pipe.reader.FILE_GLOB):
            span["attrs"]["listed"] = span["attrs"].get("listed", 0) + len(out)
        return out

    changelog_mod.glob = types.SimpleNamespace(glob=counted_glob)

    table = pipe.table

    def pruned(attrs, args, kwargs, out):
        attrs["kept"] = len(out)
        attrs["files"] = len(table.current()["files"])

    tr.wrap(pipe, "run_once", "runner.run_once")
    tr.wrap(pipe.reader, "plan_batch", "changelog.plan_batch", planned)
    tr.wrap(pipe.reader, "read_batch", "changelog.read_batch")
    tr.wrap(runner_mod, "merge_append", "compact.merge_append", stats)
    tr.wrap(runner_mod, "merge_into", "merge.merge_into", stats)
    tr.wrap(runner_mod, "compact", "compact.compact", stats)
    for name in ("commit_retrying", "commit", "lookup", "scan", "scan_changes", "scan_range"):
        tr.wrap(table, name, f"lake.{name}")
    tr.wrap(table, "prune_for_keys", "lake.prune_for_keys", pruned)
    tr.wrap(pipe.ckpt, "write", "checkpoint.write")


# ---------------------------------------------------------------- replay_mor
def replay_mor(run: Run, t_proc0: float):
    from ds_floodexposure_monitoring_spark.streaming.runner import CDCPipeline

    batch = max(2_000, int(REPLAY_BATCH * run.scale))
    warm = max(1_000, int(REPLAY_WARM * run.scale))
    n = int(REPLAY_EVENTS_PER_S * run.seconds * run.scale) + warm
    spec = _spec(run, n, max(250, int(REPLAY_FILE * run.scale)), 2 / 3, REPLAY_EVENTS_PER_CONV)
    src = os.path.join(run.work, "log")
    files = run.generate(spec, src)
    for f in files:
        run.register(f["path"], f)

    table = _table(run, "t")
    ck = os.path.join(run.work, "ck")

    def pipeline(max_events: int):
        return CDCPipeline(
            run.spark, src, table, ck, max_events_per_batch=max_events, mode="mor",
            compact_mode="tiered", compact_every=2, compact_min_files=3, major_every=2,
        )

    run.version_prefix[table.version] = 0
    # warm-up: a half-size first batch (JIT, Python workers, caches); the
    # timed pipeline resumes from its checkpoint and catches up the rest
    with run.phase("warmup"):
        run.run_batch(pipeline(warm), None, timed=False)
    pipe = pipeline(batch)
    v0 = table.version
    run.version_prefix[v0] = len(run.consumed)
    versions = [v0]
    instrument(run, pipe)
    t0 = time.monotonic()
    run.timings["setup_s"] = t0 - t_proc0
    due = dict.fromkeys(run.file_bytes, t0)  # the whole backlog is due now
    while run.run_batch(pipe, due) is not None:
        versions.append(table.version)
    with run.phase("probe"):
        run.read_probe(table, spec, versions)
    return table, v0


# ---------------------------------------------------------------- tail_cow
def tail_cow(run: Run, t_proc0: float):
    from ds_floodexposure_monitoring_spark.datagen.transcripts import (
        transcript_schema,
        write_envelope_changelog,
    )
    from ds_floodexposure_monitoring_spark.streaming.runner import CDCPipeline

    epf = max(100, int(TAIL_FILE * run.scale))
    n_tail = math.ceil(run.seconds * TAIL_RATE)
    n_land = n_tail + TAIL_WARM_FILES
    n = int((TAIL_PRELOAD * run.scale + n_land * epf * 1.1) / 1.05)
    spec = _spec(run, n, epf, 1 / 3)
    gen = os.path.join(run.work, "gen")
    files = run.generate(spec, gen)
    pre, tail = files[:-n_land], files[-n_land:]

    # the tail's parquet originals move aside (the oracle reads them);
    # their Debezium encoding is staged for landing
    tail_pq = os.path.join(run.work, "tail-parquet")
    for f in tail:
        dst = _move(f, tail_pq)
        Run.land(f["path"], dst)
        f["path"] = dst
    staged = os.path.join(run.work, "tail-staged")
    with run.phase("encode"):
        write_envelope_changelog(tail_pq, staged, "debezium")
    src = os.path.join(run.work, "src")
    moves = []
    for f in tail:
        name = os.path.basename(f["path"])[: -len(".parquet")] + ".jsonl"
        stage = os.path.join(staged, f"shard={f['shard']}", name)
        dst = os.path.join(src, f"shard={f['shard']}", name)
        run.register(dst, f, nbytes=os.path.getsize(stage))
        moves.append((stage, dst))

    # preload: the log's offset prefix, applied as parquet in one batch
    table = _table(run, "t")
    ck = os.path.join(run.work, "ck")
    for f in pre:
        run.register(f["path"], f)
    with run.phase("preload"):
        CDCPipeline(
            run.spark, gen, table, ck, max_events_per_batch=10**9, mode="cow"
        ).run_until_caught_up()
    run.consumed = [f["path"] for f in pre]
    run.info["preload_rows"] = table.count_rows()

    pipe = CDCPipeline(
        run.spark, src, table, ck, max_events_per_batch=10**9, mode="cow",
        changelog_format="debezium",
        payload_schema=transcript_schema(with_model=True, wide_turn_idx=True),
    )
    # warm-up: the first landed files go through the envelope path
    with run.phase("warmup"):
        for stage, dst in moves[:TAIL_WARM_FILES]:
            Run.land(stage, dst)
        run.landed = TAIL_WARM_FILES
        while run.run_batch(pipe, None, timed=False) is not None:
            pass

    v0 = table.version
    run.version_prefix[v0] = len(run.consumed)
    versions = [v0]
    instrument(run, pipe)
    base = len(run.consumed)
    t0 = time.monotonic() + 0.05
    run.timings["setup_s"] = t0 - t_proc0
    lander = Lander(run, moves[TAIL_WARM_FILES:], TAIL_RATE, t0)
    last_due = t0 + (n_tail - 1) / TAIL_RATE
    give_up = last_due + 3 * run.seconds
    pending: list[int] = []  # files waiting at each trigger while landing
    lander.start()
    trigger = t0
    try:
        while len(run.consumed) - base < n_tail:
            trigger += TAIL_TRIGGER_S
            time.sleep(max(0.0, trigger - time.monotonic()))
            if trigger <= last_due + TAIL_TRIGGER_S:
                pending.append(run.landed - TAIL_WARM_FILES - (len(run.consumed) - base))
            if run.run_batch(pipe, lander.due) is not None:
                versions.append(table.version)
            now = time.monotonic()
            trigger = max(trigger, now - TAIL_TRIGGER_S)
            if now > give_up:
                run.invalid("tail not drained in time")
                break
    finally:
        lander.join()
    if lander.error is not None:
        raise lander.error
    run.info["lander"] = lander.lateness()
    run.info["rate_files_per_s"] = TAIL_RATE
    # keeping up, each trigger finds one interval's arrivals waiting. One
    # slow batch leaves a few extra, which the next, larger batch takes
    # (a COW batch costs about the same whatever its file count); a whole
    # interval's arrivals extra by the last trigger means falling behind
    growth = pending[-1] - pending[0]
    run.info["backlog_at_triggers"] = pending
    limit = TAIL_RATE * TAIL_TRIGGER_S
    if growth > limit:
        run.invalid(f"backlog grew by {growth} files across the run (limit {limit:.1f})")
    with run.phase("probe"):
        run.read_probe(table, spec, versions)
    return table, v0


WORKLOADS = {"replay_mor": replay_mor, "tail_cow": tail_cow}
