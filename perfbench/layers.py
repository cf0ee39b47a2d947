"""Per-layer metrics of a traced run, from its spans, the Spark task
metrics attributed to them, and the table's snapshots. README.md lists
which end-to-end metric each one should move, on which workload."""

from __future__ import annotations

from collections import defaultdict

from harness import median
from spans import TASK_KEYS, per_span_tasks

# (name, unit, better)
PER_LAYER = [
    ("runner.self_s", "s", "lower"),
    ("runner.jobs_per_batch", "count", "lower"),
    ("changelog.plan_s", "s", "lower"),
    ("changelog.files_listed_per_picked", "ratio", "lower"),
    ("changelog.read_plan_s", "s", "lower"),
    ("changelog.input_bytes", "bytes", "lower"),
    ("changelog.scan_cpu_s", "s", "lower"),
    ("envelope.input_bytes_per_event", "B/event", "lower"),
    ("envelope.decode_cpu_s", "s", "lower"),
    ("envelope.corrupt_check_s", "s", "lower"),
    ("append.wall_s", "s", "lower"),
    ("append.driver_s", "s", "lower"),
    ("append.shuffle_write_bytes", "bytes", "lower"),
    ("append.spill_bytes", "bytes", "lower"),
    ("append.task_skew", "ratio", "lower"),
    ("append.dedup_dropped_frac", "ratio", "higher"),
    ("merge.carried_rows", "count", "lower"),
    ("merge.useful_frac", "ratio", "higher"),
    ("merge.wall_s", "s", "lower"),
    ("merge.files_removed", "count", "lower"),
    ("merge.shuffle_write_bytes", "bytes", "lower"),
    ("merge.spill_bytes", "bytes", "lower"),
    ("compact.wall_s", "s", "lower"),
    ("compact.runs", "count", "lower"),
    ("compact.bytes_rewritten", "bytes", "lower"),
    ("compact.files_removed", "count", "higher"),
    ("lake.commit_s", "s", "lower"),
    ("lake.commit_attempts", "count", "lower"),
    ("lake.snapshot_bytes", "bytes", "lower"),
    ("lake.delta_files_per_bucket", "count", "lower"),
    ("lake.lookup_prune_s", "s", "lower"),
    ("lake.lookup_files_kept_frac", "ratio", "lower"),
    ("lake.resolve_rows_in_per_out", "ratio", "lower"),
    ("lake.changes_buckets_diffed_frac", "ratio", "lower"),
    ("lake.range_files_kept_frac", "ratio", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.cpu_busy_frac", "ratio", "higher"),
    ("datagen.s", "s", "lower"),
]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(run, events: dict, storage: dict, envelope: bool) -> tuple[dict, dict]:
    """Returns (per-layer metrics, Spark task metrics summed per span
    name). Metrics of a layer the workload never calls read 0."""
    spans = run.tracer.spans
    self_t = run.tracer.self_times()
    own = per_span_tasks(events)
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])

    def incl(sid: int) -> dict:
        """Task metrics of a span's jobs and all its descendants'."""
        acc = {k: 0 for k in TASK_KEYS} | {"jobs": 0, "job_s": 0.0, "stages": []}
        stack = [sid]
        while stack:
            x = stack.pop()
            t = own.get(x)
            if t:
                for k in (*TASK_KEYS, "jobs", "job_s"):
                    acc[k] += t[k]
                acc["stages"] += t["stages"]
            stack += kids[x]
        return acc

    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in by_name[name]]

    # non-empty batches: run_once spans whose plan child picked files
    batches = []
    for s in by_name["runner.run_once"]:
        plan = [spans[k - 1] for k in kids[s["id"]] if spans[k - 1]["name"] == "changelog.plan_batch"]
        if plan and plan[0]["attrs"].get("picked"):
            batches.append(s)
    scan_cpu = [
        sum(st["cpu_s"] for st in incl(s["id"])["stages"] if st["input_bytes"] > 0)
        for s in batches
    ]
    # the only jobs run_once launches itself are the corrupt-envelope
    # check: a scan that reads and parses every envelope of the batch
    # and does nothing else, so its executor CPU is the decode cost
    decode_cpu = [
        sum(st["cpu_s"] for st in own.get(s["id"], {}).get("stages", []))
        for s in batches
    ]
    plans = [s["attrs"] for s in by_name["changelog.plan_batch"] if s["attrs"].get("picked")]
    appends = by_name["compact.merge_append"]
    merges = by_name["merge.merge_into"]
    compacts = by_name["compact.compact"]

    def skew(sid: int) -> float:
        """max / median task run time of the widest stage (the write)."""
        stages = [st for st in incl(sid)["stages"] if st["tasks"] >= 2]
        if not stages:
            return 0.0
        st = max(stages, key=lambda x: (x["tasks"], x["run_s"]))
        runs = sorted(st["task_run_s"])
        mid = median(runs)
        return _ratio(runs[-1], mid)

    def attr_sum(ss: list[dict], key: str) -> float:
        return sum(s["attrs"].get(key, 0) or 0 for s in ss)

    roots = [s for s in spans if s["parent"] is None]
    window = (max(s["end"] for s in roots) - min(s["start"] for s in roots)) if roots else 0.0
    total = {k: sum(t[k] for t in own.values()) for k in ("cpu_s", "gc_s")}
    commits = by_name["lake.commit_retrying"]
    attempts = [
        sum(1 for k in kids[s["id"]] if spans[k - 1]["name"] == "lake.commit") for s in commits
    ]
    prunes = [s["attrs"] for s in by_name["lake.prune_for_keys"]]

    m = {
        "runner.self_s": median([self_t[s["id"]] for s in batches]),
        "runner.jobs_per_batch": _ratio(sum(incl(s["id"])["jobs"] for s in batches), len(batches)),
        "changelog.plan_s": median(dur("changelog.plan_batch")),
        "changelog.files_listed_per_picked": _ratio(
            sum(p["listed"] for p in plans), sum(p["picked"] for p in plans)
        ),
        "changelog.read_plan_s": median(dur("changelog.read_batch")),
        "changelog.input_bytes": median(run.layer["changelog.input_bytes"]),
        "changelog.scan_cpu_s": median(scan_cpu),
        "envelope.input_bytes_per_event": (
            median(run.layer["changelog.input_bytes_per_event"]) if envelope else 0.0
        ),
        "envelope.decode_cpu_s": median(decode_cpu) if envelope else 0.0,
        "envelope.corrupt_check_s": (
            median([own.get(s["id"], {}).get("job_s", 0.0) for s in batches]) if envelope else 0.0
        ),
        "append.wall_s": median(dur("compact.merge_append")),
        "append.driver_s": median(
            [s["end"] - s["start"] - incl(s["id"])["job_s"] for s in appends]
        ),
        "append.shuffle_write_bytes": median([incl(s["id"])["shuffle_write_bytes"] for s in appends]),
        "append.spill_bytes": median([incl(s["id"])["spill_bytes"] for s in appends]),
        "append.task_skew": median([skew(s["id"]) for s in appends]),
        "append.dedup_dropped_frac": _ratio(
            attr_sum(appends, "dedup_dropped"), attr_sum(appends, "batch_rows")
        ),
        "merge.carried_rows": median([s["attrs"].get("carried_rows", 0) for s in merges]),
        "merge.useful_frac": _ratio(
            attr_sum(merges, "distinct_keys"), attr_sum(merges, "rows_written")
        ),
        "merge.wall_s": median(dur("merge.merge_into")),
        "merge.files_removed": median([s["attrs"].get("removed_files", 0) for s in merges]),
        "merge.shuffle_write_bytes": median([incl(s["id"])["shuffle_write_bytes"] for s in merges]),
        "merge.spill_bytes": median([incl(s["id"])["spill_bytes"] for s in merges]),
        "compact.wall_s": sum(dur("compact.compact")),
        "compact.runs": sum(1 for s in compacts if s["attrs"]),
        "compact.bytes_rewritten": storage["compact_bytes"],
        "compact.files_removed": attr_sum(compacts, "files_removed"),
        "lake.commit_s": median(dur("lake.commit_retrying")),
        "lake.commit_attempts": _ratio(sum(attempts), len(attempts)),
        "lake.snapshot_bytes": storage["snapshot_bytes"],
        "lake.delta_files_per_bucket": storage["files_per_bucket"],
        "lake.lookup_prune_s": median(dur("lake.prune_for_keys")),
        "lake.lookup_files_kept_frac": _ratio(
            sum(p["kept"] for p in prunes), sum(p["files"] for p in prunes)
        ),
        "lake.resolve_rows_in_per_out": median(run.layer["lake.resolve_rows_in_per_out"]),
        "lake.changes_buckets_diffed_frac": median(run.layer["lake.changes_buckets_diffed_frac"]),
        "lake.range_files_kept_frac": median(run.layer["lake.range_files_kept_frac"]),
        "checkpoint.write_s": median(dur("checkpoint.write")),
        "spark.gc_s": total["gc_s"],
        "spark.cpu_busy_frac": _ratio(total["cpu_s"], window * run.width),
        "datagen.s": run.timings.get("datagen_s", 0.0),
    }
    metrics = {k: float(v or 0.0) for k, v in m.items()}

    per_name: dict[str, dict] = {}
    for name, ss in by_name.items():
        acc = {k: 0 for k in TASK_KEYS} | {"spans": len(ss), "jobs": 0, "self_s": 0.0}
        for s in ss:
            t = own.get(s["id"])
            acc["self_s"] += self_t[s["id"]]
            if t:
                for k in (*TASK_KEYS, "jobs"):
                    acc[k] += t[k]
        per_name[name] = acc
    return metrics, per_name
