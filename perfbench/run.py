"""Benchmark of the CDC engine: backlog replay, an open-loop tail, and
reads beside ingest, each checked against a DuckDB oracle.

Run from the repository root:

    python3 perfbench/run.py --workload replay_mor --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a
separate run that wraps the engine's public entry points in spans,
enables the Spark event log and reports the per-layer metrics.
BENCHMARK.json (repository root) names the metrics the last output
line carries; every other line is for people. Per-run details (host
diagnostics, sample counts, lander lateness, spans, per-span Spark task
metrics) go to ``.perfbench/results/``. README.md next to this file
explains the workloads and what each metric should move.

Exit status: 0 when every operation and oracle check passed, 1 when
one failed (the JSON line then says ``"correct": false``), 2 when the
engine cannot be imported (nothing is printed on stdout then).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("replay_mor", "tail_cow")

# printed for every run; the ones BENCHMARK.json lists are also emitted
# (and gated) in the JSON line
E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "batch_apply_p50_s": "s",
    "batch_apply_tail_s": "s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "change_feed_p50_s": "s",
    "range_scan_p50_s": "s",
    "full_scan_p50_s": "s",
    "write_amp": "ratio",
    "stored_bytes_per_live_row": "bytes",
    "peak_rss_mb": "MB",
    "ops_failed_frac": "ratio",
}


# the sample list each median is taken over, for the printed counts
SAMPLES = {
    "batch_apply_p50_s": "batch_apply",
    "freshness_p50_s": "freshness",
    "lookup_p50_s": "lookup",
    "change_feed_p50_s": "change_feed",
    "range_scan_p50_s": "range_scan",
    "full_scan_p50_s": "full_scan",
}


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=declared()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test uses a toy scale)")
    return ap.parse_args(argv)


def end_to_end(run, storage: dict, peak_mb: float) -> tuple[dict, dict]:
    """Every end-to-end metric of one run, plus how each tail was taken."""
    from harness import median, tail

    s = run.samples
    busy = sum(s["batch_apply"])  # seconds spent inside timed run_once calls
    fresh_tail, fresh_how = tail(s["freshness"])
    batch_tail, batch_how = tail(s["batch_apply"])
    look_tail, look_how = tail(s["lookup"])
    m = {
        "setup_s": run.timings["setup_s"],
        "ingest_events_per_s": run.info.get("events_applied", 0) / busy if busy else 0.0,
        "batch_apply_p50_s": median(s["batch_apply"]),
        "batch_apply_tail_s": batch_tail,
        "freshness_p50_s": median(s["freshness"]),
        "freshness_tail_s": fresh_tail,
        "lookup_p50_s": median(s["lookup"]),
        "lookup_tail_s": look_tail,
        "change_feed_p50_s": median(s["change_feed"]),
        "range_scan_p50_s": median(s["range_scan"]),
        "full_scan_p50_s": median(s["full_scan"]),
        "write_amp": storage["committed_bytes"] / max(1, run.info.get("bytes_consumed", 0)),
        "stored_bytes_per_live_row": storage["head_bytes"] / max(1, run.info.get("live_rows", 0)),
        "peak_rss_mb": peak_mb,
        "ops_failed_frac": run.failed / max(1, run.attempted),
    }
    how = {
        "freshness_tail_s": fresh_how,
        "batch_apply_tail_s": batch_how,
        "lookup_tail_s": look_how,
        **{f"n_{k}": len(v) for k, v in s.items()},
    }
    return m, how


def tracing_overhead(run, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end figures, against the untraced
    result of the same workload and seed (None until one exists)."""
    path = os.path.join(run.results_dir, f"{run.workload}-seed{run.seed}-timed.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    out = {"against": os.path.basename(path)}
    for k in ("ingest_events_per_s", "batch_apply_p50_s", "lookup_p50_s", "full_scan_p50_s"):
        if base.get(k) and traced.get(k) is not None:
            out[k] = {"traced": traced[k], "untraced": base[k],
                      "diff_frac": (traced[k] - base[k]) / base[k]}
    return out


def run_one(args, t_proc0: float) -> int:
    sys.path.insert(0, ROOT)
    try:
        import ds_floodexposure_monitoring_spark  # noqa: F401  (the engine under test)
        import duckdb  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its oracle from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    decl = declared()
    from harness import BatchFailed, Run
    from workloads import WORKLOADS

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
              os.path.join(ROOT, ".perfbench"))
    try:
        run.start_spark()
        table, v0 = WORKLOADS[args.workload](run, t_proc0)
        with run.phase("verify"):
            run.verify(table)
        storage = run.storage(table, v0)
        peak = run.peak_rss_mb()
        host = run.host()
    except BatchFailed:
        return emit_failure(run)
    except Exception:
        run.fail(f"workload {args.workload}")
        return emit_failure(run)
    finally:
        if getattr(run, "spark", None) is not None:
            run.spark.stop()
    e2e, how = end_to_end(run, storage, peak)
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "end_to_end": e2e, "tails": how,
        "info": run.info, "timings": run.timings, "storage": storage, "host": host,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors,
    }
    for name, v in e2e.items():
        note = how.get(name) or (f"n={len(run.samples[SAMPLES[name]])}" if name in SAMPLES else "")
        print(f"{args.workload:<10} {name:<26} {v if v is not None else float('nan'):>14.6g} "
              f"{E2E_UNITS[name]:<9} {note}")
    print(f"host: {json.dumps(host)}")
    if args.trace:
        from layers import PER_LAYER, layer_metrics
        from spans import read_event_log

        events = read_event_log(run.event_dir)
        metrics, per_name = layer_metrics(
            run, events, storage, envelope=args.workload == "tail_cow"
        )
        doc |= {
            "per_layer": metrics, "span_task_metrics": per_name,
            "self_time_check": run.tracer.self_time_check(),
            "tracing_overhead": tracing_overhead(run, e2e),
        }
        spans_path = os.path.join(
            run.results_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"
        )
        run.tracer.dump(spans_path)
        units = {n: u for n, u, _ in PER_LAYER}
        for name, v in metrics.items():
            print(f"{args.workload:<10} {name:<36} {v:>14.6g} {units[name]}")
        for name, t in sorted(per_name.items()):
            print(f"span {name:<26} n={t['spans']:<4} self={t['self_s']:.3f}s "
                  f"jobs={t['jobs']} cpu={t['cpu_s']:.3f}s in={t['input_bytes']} "
                  f"shuffle={t['shuffle_write_bytes']} spill={t['spill_bytes']}")
        chk = doc["self_time_check"]
        print(f"self-time check: {chk['parents_checked']} parents, "
              f"{chk['violations']} violations")
        if chk["violations"]:
            run.invalid("child self times exceed a parent's duration")
        print(f"tracing overhead: {json.dumps(doc['tracing_overhead'])}")
        print(f"spans: {spans_path}")
        chosen = {m["name"]: (metrics[m["name"]], m["unit"]) for m in decl["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in decl["end_to_end"]}
    doc["attempted"], doc["failed"] = run.attempted, run.failed
    print(f"details: {run.write_result(doc)}")
    run.close()
    ok = run.failed == 0
    print(json.dumps({
        "correct": ok, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if ok else 1


def emit_failure(run) -> int:
    for e in run.errors:
        print(e, file=sys.stderr)
    run.close()
    print(json.dumps({"correct": False, "attempted": max(1, run.attempted),
                      "failed": max(1, run.failed), "metrics": {}}))
    return 1


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM, as the per-workload
    runs get), then one table of every end-to-end metric."""
    agg = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = p.stdout.strip().splitlines()
        if p.returncode == 2 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            return 2
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        if not res["correct"]:
            sys.stderr.write(p.stderr[-4000:])
        agg["correct"] &= res["correct"]
        agg["attempted"] += res["attempted"]
        agg["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            agg["metrics"][f"{w}.{k}"] = v
    print(json.dumps(agg))
    return 0 if agg["correct"] else 1


def main(argv=None) -> int:
    t_proc0 = time.monotonic()
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args, t_proc0)


if __name__ == "__main__":
    sys.exit(main())
