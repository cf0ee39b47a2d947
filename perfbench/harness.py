"""Shared machinery of one benchmark run: the Spark session, generated
inputs, file landing, the reader mix, oracle checks, host diagnostics
and the metric arithmetic. The workloads (workloads.py) compose these.
"""

from __future__ import annotations

import datetime
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from oracle import Oracle, engine_digest
from spans import Tracer

BASE_TS = 1_700_000_000  # datagen: ts = BASE_TS + lsn seconds
N_BUCKETS = 16
MAX_WIDTH = 4  # Spark local[N]: N = min(MAX_WIDTH, usable cores)
PROBE_LOOKUPS = 8  # per read probe, half hot and half cold conversations
PROBE_FEEDS = 2  # change feeds per read probe, one per recent batch
PROBE_SCANS = 4  # range scans and full scans per read probe


class BatchFailed(Exception):
    """A run_once raised; already counted in ``Run.failed``."""


# ---------------------------------------------------------------- stats
def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> tuple[float | None, str]:
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th order statistic. Below 20 samples that percentile is not
    above the median, so the maximum is reported, labelled as such."""
    if not xs:
        return None, "n=0"
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return s[n - 11], f"p{100.0 * (n - 10) / n:.0f} of n={n}"
    return s[-1], f"max of n={n} (<20 samples)"


# ---------------------------------------------------------------- host
def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def spark_width() -> int:
    return min(MAX_WIDTH, len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------- run
class Run:
    """State of one benchmark run: work directory, session, samples,
    operation counts and deferred oracle checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 scale: float, root: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.scale = trace, scale
        self.rng = random.Random(seed)
        self.results_dir = os.path.join(root, "results")
        self.work = os.path.join(root, "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.results_dir, exist_ok=True)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: list = []  # deferred oracle checks: () -> bool
        self.timings: dict[str, float] = {}
        self.info: dict = {}
        self.file_bytes: dict[str, int] = {}  # change file -> size
        self.oracle_path: dict[str, str] = {}  # change file -> parquet original
        self.max_lsn: dict[str, int] = {}  # parquet original -> max lsn in it
        self.consumed: list[str] = []  # parquet originals, in apply order
        self.version_prefix: dict[int, int] = {}  # table version -> len(consumed)
        self.landed = 0  # change files in the pipeline's source directory
        self._cpu0 = cpu_times()

    # ------------------------------------------------------------ session
    def start_spark(self):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp  # py4j, pyarrow and the JVM's temp files
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        from ds_floodexposure_monitoring_spark.session import get_spark

        t0 = time.monotonic()
        self.width = spark_width()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{self.width}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.timings["jvm_start_s"] = time.monotonic() - t0
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.tracer = Tracer(self.spark)
        self.oracle = Oracle()

    @contextmanager
    def phase(self, name: str):
        """Time one set-up or wrap-up phase into ``timings``."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.timings[f"{name}_s"] = time.monotonic() - t0

    # ------------------------------------------------------------ inputs
    def generate(self, spec, out_dir: str) -> list[dict]:
        """One seeded changelog; returns its files in landing order:
        by per-shard offset, shards interleaved (the reader's order)."""
        from ds_floodexposure_monitoring_spark.datagen.transcripts import generate_changelog

        t0 = time.monotonic()
        manifest = generate_changelog(self.spark, spec, out_dir)
        self.timings["datagen_s"] = time.monotonic() - t0
        import pyarrow.parquet as pq

        files = sorted(manifest["files"], key=lambda f: (f["start_seq"], f["shard"]))
        for f in files:
            meta = pq.read_metadata(f["path"])
            ix = meta.schema.to_arrow_schema().get_field_index("lsn")
            f["max_lsn"] = max(
                meta.row_group(i).column(ix).statistics.max for i in range(meta.num_row_groups)
            )
            f["rows"] = meta.num_rows
        self.info["changelog_files"] = len(files)
        self.info["changelog_events"] = sum(f["rows"] for f in files)
        return files

    def register(self, path: str, original: dict, nbytes: int | None = None) -> None:
        """Track a change file the engine will see at ``path`` (for
        freshness, write amplification and the oracle); ``original`` is
        its parquet form in the generated log."""
        self.file_bytes[path] = os.path.getsize(path) if nbytes is None else nbytes
        self.oracle_path[path] = original["path"]
        self.max_lsn[original["path"]] = original["max_lsn"]

    @staticmethod
    def land(src: str, dst: str) -> None:
        """Atomic rename into the source directory, as a WAL shipper
        publishes a finished segment."""
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)

    # ------------------------------------------------------------ ops
    def fail(self, what: str) -> None:
        self.failed += 1
        msg = f"{what}: {traceback.format_exc(limit=3)}"
        self.errors.append(msg)
        print(f"FAILED {msg}", file=sys.stderr)

    def applied(self, result, wall: float, t_return: float,
                due: dict[str, float] | None, timed: bool) -> None:
        """Book one non-empty run_once: consumed files, freshness."""
        for f in result.batch.files:
            self.consumed.append(self.oracle_path[f.path])
            if due is not None:
                self.samples["freshness"].append(t_return - due[f.path])
        if not timed:
            return
        self.samples["batch_apply"].append(wall)
        self.info["events_applied"] = self.info.get("events_applied", 0) + result.batch.n_events
        nbytes = sum(self.file_bytes[f.path] for f in result.batch.files)
        self.info["bytes_consumed"] = self.info.get("bytes_consumed", 0) + nbytes
        self.layer["changelog.input_bytes"].append(nbytes)
        self.layer["changelog.input_bytes_per_event"].append(nbytes / result.batch.n_events)
        self.info["batches"] = self.info.get("batches", 0) + 1

    def invalid(self, reason: str) -> None:
        """The run measured something other than the workload (e.g. an
        open loop whose backlog grew): counted as a failed operation."""
        self.failed += 1
        self.errors.append(f"invalid run: {reason}")
        print(f"INVALID {reason}", file=sys.stderr)

    def run_batch(self, pipe, due: dict[str, float] | None, timed: bool = True):
        """One timed ``run_once``; returns its result (None = caught up).
        A failed batch is booked and raises BatchFailed: the pipeline's
        state is then unknown, so the workload stops ingesting."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            with self.tracer.span("op.batch"):
                r = pipe.run_once()
        except Exception:
            self.fail("run_once")
            raise BatchFailed() from None
        t_ret = time.monotonic()
        if r is None:
            self.attempted -= 1  # an empty poll is not an operation
            return None
        self.applied(r, t_ret - t0, t_ret, due, timed)
        self.version_prefix[pipe.table.version] = len(self.consumed)
        return r

    def read_lookup(self, table, conv_id: str) -> None:
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op.lookup"):
                rows = table.lookup([conv_id]).select("turn_idx", "text").collect()
            self.samples["lookup"].append(time.perf_counter() - t0)
        except Exception:
            self.fail(f"lookup {conv_id}")
            return
        got = sorted((int(r["turn_idx"]), r["text"]) for r in rows)
        prefix = list(self.consumed)
        self.checks.append(("lookup", lambda: self.oracle.lookup(prefix, conv_id) == got))

    def read_changes(self, table, v_from: int, v_to: int) -> None:
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op.change_feed"):
                n = table.scan_changes(v_from, v_to).count()
            self.samples["change_feed"].append(time.perf_counter() - t0)
        except Exception:
            self.fail(f"scan_changes {v_from}->{v_to}")
            return
        if self.trace:
            self.layer["lake.changes_buckets_diffed_frac"].append(
                buckets_diffed(table, v_from, v_to) / N_BUCKETS
            )
        before = self.consumed[: self.version_prefix[v_from]]
        after = self.consumed[: self.version_prefix[v_to]]
        self.checks.append(
            ("change_feed", lambda: self.oracle.change_count(before, after) == n)
        )

    def recent_window(self, width_lsn: int) -> tuple[int, int]:
        hi = BASE_TS + max(self.max_lsn[p] for p in self.consumed)
        return hi - width_lsn, hi

    def read_range(self, table, lo_s: int, hi_s: int) -> None:
        utc = datetime.timezone.utc
        lo = datetime.datetime.fromtimestamp(lo_s, utc)
        hi = datetime.datetime.fromtimestamp(hi_s, utc)
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op.range_scan"):
                got = engine_digest(table.scan_range("ts", lo, hi))
            self.samples["range_scan"].append(time.perf_counter() - t0)
        except Exception:
            self.fail(f"scan_range {lo_s}..{hi_s}")
            return
        if self.trace:
            kept = len(table.prune_for_range("ts", lo, hi))
            self.layer["lake.range_files_kept_frac"].append(kept / max(1, len(table.files())))
        prefix = list(self.consumed)
        self.checks.append(
            ("range_scan", lambda: self.oracle.range_digest(prefix, lo_s, hi_s) == got)
        )

    def read_full(self, table) -> None:
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op.full_scan"):
                rows = table.scan().groupBy("role").count().collect()
            self.samples["full_scan"].append(time.perf_counter() - t0)
        except Exception:
            self.fail("full scan")
            return
        got = {r["role"]: int(r["count"]) for r in rows}
        if self.trace:
            live = sum(got.values())
            self.layer["lake.resolve_rows_in_per_out"].append(table.total_rows() / max(1, live))
        prefix = list(self.consumed)
        self.checks.append(("full_scan", lambda: self.oracle.roles(prefix) == got))

    def read_probe(self, table, spec, versions: list[int]) -> None:
        """The reader mix, run on the table the workload's write policy
        left behind: point lookups of hot and cold conversations, the
        change feed of each of the last batches, range scans over the
        most recent event time, and a resolved full-scan aggregate.
        Every result is checked against the oracle at the prefix of
        change files committed when it was read. The kinds take turns,
        so a burst of host contention lands on a few samples of each
        kind rather than on every sample of one."""
        convs = []
        for i in range(PROBE_LOOKUPS // 2):
            convs.append(f"conv-{i % spec.n_hot:08d}")
            convs.append(f"conv-{self.rng.randrange(spec.n_hot, spec.n_convs):08d}")
        feeds = list(zip(versions, versions[1:]))[-PROBE_FEEDS:]
        kinds = [
            [lambda c=c: self.read_lookup(table, c) for c in convs],
            [lambda v=v: self.read_changes(table, *v) for v in feeds],
            [lambda i=i: self.read_range(table, *self.recent_window(1_000 * (i + 1)))
             for i in range(PROBE_SCANS)],
            [lambda: self.read_full(table)] * PROBE_SCANS,
        ]
        for turn in itertools.zip_longest(*kinds):
            for op in turn:
                if op is not None:
                    op()

    # ------------------------------------------------------------ checks
    def verify(self, table) -> None:
        """Final state against the oracle, then every deferred check."""
        self.attempted += 1
        try:
            got = engine_digest(table.scan())
            want = self.oracle.state_digest(self.consumed)
            self.info["live_rows"] = got[0]
            if got != want:
                self.failed += 1
                self.errors.append(f"final state mismatch: engine {got} oracle {want}")
        except Exception:
            self.fail("final state check")
        for kind, check in self.checks:
            self.attempted += 1
            try:
                ok = check()
            except Exception:
                self.fail(f"oracle {kind}")
                continue
            if not ok:
                self.failed += 1
                self.errors.append(f"oracle mismatch on {kind}")
        self.info["oracle_checks"] = len(self.checks) + 1

    # ------------------------------------------------------------ storage
    def storage(self, table, v_from: int) -> dict:
        """Bytes of data files committed after ``v_from`` (compaction
        rewrites included), bytes referenced by HEAD, snapshot sizes and
        delta files per bucket per committed snapshot."""
        committed = 0
        compact_bytes = 0
        snap_bytes = []
        files_per_bucket = []
        prev = {d["path"] for d in table.snapshot(v_from)["files"]}
        for v in range(v_from + 1, table.version + 1):
            snap = table.snapshot(v)
            paths = {d["path"] for d in snap["files"]}
            added = sum(os.path.getsize(os.path.join(table.path, p)) for p in paths - prev)
            committed += added
            if snap["summary"]["operation"].startswith("compact"):
                compact_bytes += added
            snap_bytes.append(os.path.getsize(table._snap_path(v)))
            buckets = {d["bucket"] for d in snap["files"]}
            files_per_bucket.append(len(snap["files"]) / max(1, len(buckets)))
            prev = paths
        head = sum(os.path.getsize(os.path.join(table.path, p)) for p in prev)
        return {
            "committed_bytes": committed,
            "compact_bytes": compact_bytes,
            "head_bytes": head,
            "snapshot_bytes": median(snap_bytes) or 0,
            "files_per_bucket": median(files_per_bucket) or 0,
        }

    # ------------------------------------------------------------ output
    def host(self) -> dict:
        cpu1 = cpu_times()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        return {
            "steal_pct": round(100.0 * d[7] / max(1, sum(d)), 3) if len(d) > 7 else None,
            "cores_pinned": sorted(os.sched_getaffinity(0)),
            "nproc": os.cpu_count(),
            "spark_width": self.width,
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }

    def peak_rss_mb(self) -> float:
        return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(self.jvm_pid)) / 1024.0

    def close(self) -> None:
        """Stop Spark, wait for its JVM to exit, remove the work files."""
        if getattr(self, "oracle", None) is not None:
            self.oracle.close()
        if getattr(self, "spark", None) is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits on stdin EOF
                gateway.proc.wait(timeout=120)
        shutil.rmtree(self.work, ignore_errors=True)

    def write_result(self, doc: dict) -> str:
        tag = "trace" if self.trace else "timed"
        path = os.path.join(self.results_dir, f"{self.workload}-seed{self.seed}-{tag}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)
        return path


def buckets_diffed(table, v_from: int, v_to: int) -> int:
    """Buckets whose data-file sets differ between two snapshots: the
    buckets ``scan_changes`` must scan and join."""
    sides: dict[int, list[set]] = defaultdict(lambda: [set(), set()])
    for i, v in enumerate((v_from, v_to)):
        for d in table.snapshot(v)["files"]:
            sides[d["bucket"]][i].add(d["path"])
    return sum(1 for a, b in sides.values() if a != b)


class Lander(threading.Thread):
    """Open-loop file landing: file i is due at ``t0 + i / rate`` and is
    renamed into the source directory at (or after) that time, whatever
    the pipeline is doing. Records due and actual landing times."""

    def __init__(self, run: Run, moves: list[tuple[str, str]], rate: float, t0: float):
        super().__init__(daemon=True)
        self.run_, self.moves, self.rate, self.t0 = run, moves, rate, t0
        self.due = {dst: t0 + i / rate for i, (_, dst) in enumerate(moves)}
        self.actual: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for src, dst in self.moves:
                wait = self.due[dst] - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                Run.land(src, dst)
                self.actual[dst] = time.monotonic()
                self.run_.landed += 1
        except BaseException as e:  # surfaced by the caller after join
            self.error = e

    def lateness(self) -> dict:
        late = [self.actual[d] - self.due[d] for d in self.actual]
        return {
            "files": len(late),
            "late_p50_s": median(late),
            "late_max_s": max(late) if late else None,
        }
