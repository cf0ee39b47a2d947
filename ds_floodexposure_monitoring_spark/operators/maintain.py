"""Metadata-driven table maintenance: plan from manifests, then run
compact → analyze → expire in one call.

Every lakehouse grows three debts under sustained CDC ingest: delta
files (read amplification), stats gaps (files written by foreign
writers or before a DDL), and snapshot/orphan debt (storage). The
reference's analog is the manual "rerun the pipeline" hygiene its
GitHub-Actions cron encodes (reference:
.github/workflows/run_update_exposure.yml:6 — daily full pass); this
module is the engine-side replacement: a PLANNER that reads only
manifests to decide what is actually needed, and a RUNNER that executes
the plan in dependency order —

1. **compact** first (minor when the delta share is small — O(delta
   rows); major when deltas dominate — the rewrite pays for itself),
   so analyze never wastes a pass on files about to be replaced and
   compaction's own Arrow writer emits complete stats;
2. **analyze** second, backfilling whatever is STILL deficient
   (legacy manifests, files written before a ``set_stat_cols``) with a
   metadata-swap commit;
3. **expire** last, physically deleting the files steps 1-2 replaced.

The planner is O(files) driver work with zero data I/O and zero Spark
jobs; the whole cycle is idempotent — a second ``run_maintenance``
plans nothing and commits nothing. The Iceberg/Delta analog is the
OPTIMIZE + ANALYZE + VACUUM triplet a human (or an external service)
sequences by hand.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

from ..sources.lake import LakeTable
from .analyze import AnalyzeStats, _deficient, _integral_cols, analyze
from .compact import CompactStats, compact


@dataclass(frozen=True)
class MaintenancePolicy:
    """When to act. Defaults fit a steady CDC ingest cadence."""

    # compact any bucket holding at least this many files
    compact_at_files: int = 4
    # major (fold bases too) when delta rows exceed this share of the
    # table; otherwise minor (O(delta rows), bases exempt)
    major_delta_ratio: float = 0.3
    target_rows_per_file: int = 2_000_000
    # physically drop tombstones below this LSN during a major (None =
    # keep them; see compact()'s ordering-guard contract)
    tombstone_watermark_lsn: int | None = None
    analyze_stats: bool = True
    keep_snapshots: int = 8
    orphan_grace_sec: float = 0.0
    # GC for abandoned transaction stages: a coordinator that crashed
    # BEFORE its WAL intent leaves txn-* branches with no record — and
    # every branch head protects its snapshot chain from expiry, so an
    # abandoned stage pins storage forever. A txn-* branch older than
    # this grace whose id has no pending WAL intent in txn_wal_dir is
    # dropped; pending intents are NEVER touched — they belong to
    # sources.txn.recover(). The GC runs ONLY when txn_wal_dir is given:
    # without the WAL dir, "no pending intent" cannot be proven, and
    # dropping a pending transaction's stage branch would permanently
    # break its roll-forward. None grace also disables the GC.
    stale_txn_branch_sec: float | None = 86_400.0
    txn_wal_dir: str | None = None


@dataclass(frozen=True)
class MaintenancePlan:
    """What the manifests say is needed — computed without any data
    I/O or Spark job."""

    compact_mode: str | None  # None | 'minor' | 'major'
    buckets_over: int
    delta_rows: int
    total_rows: int
    deficient_files: int
    snapshots_over: int
    stale_txn_branches: int = 0

    def to_json(self) -> dict:
        return asdict(self)

    @property
    def nothing_to_do(self) -> bool:
        return (
            self.compact_mode is None
            and self.deficient_files == 0
            and self.snapshots_over == 0
            and self.stale_txn_branches == 0
        )


def _stale_txn_branches(
    table: LakeTable, policy: MaintenancePolicy
) -> list[str]:
    """txn-* branches old enough to be abandoned stages (and, when the
    WAL dir is known, provably without a pending intent)."""
    import glob
    import time

    if policy.stale_txn_branch_sec is None or not policy.txn_wal_dir:
        # no WAL dir -> cannot prove a branch has no pending intent;
        # dropping one mid-commit would break roll-forward recovery
        return []
    pending: set[str] = set()
    for p in glob.glob(os.path.join(policy.txn_wal_dir, "txn-*.json")):
        if not p.endswith(".done.json"):
            pending.add(os.path.basename(p)[: -len(".json")])
    now = time.time()
    out = []
    for name in table.branches():
        if not name.startswith("txn-") or name in pending:
            continue
        head = os.path.join(table._meta_dir, f"HEAD.{name}")
        try:
            age = now - os.path.getmtime(head)
        except FileNotFoundError:
            continue
        if age >= policy.stale_txn_branch_sec:
            out.append(name)
    return out


def plan_maintenance(
    table: LakeTable, policy: MaintenancePolicy = MaintenancePolicy()
) -> MaintenancePlan:
    """Inspect the current snapshot's manifests and decide what
    maintenance is due."""
    cur = table.current()
    files = table.files(cur)
    by_bucket: dict[int, list] = {}
    delta_rows = 0
    total_rows = 0
    for f in files:
        by_bucket.setdefault(f.bucket, []).append(f)
        total_rows += f.rows
        if not f.base:
            delta_rows += f.rows
    # mirror compact()'s victim rules EXACTLY, else the cycle can plan
    # work compact() refuses (or re-plan buckets a rewrite cannot
    # shrink — e.g. a fully-compacted bucket whose rows legitimately
    # span >= compact_at_files base files) and never converge:
    # minor folds buckets with >= max(n-1, 2) DELTA files; major
    # rewrites buckets with >= n total files, but is only WORTH running
    # where at least one delta exists (base-only buckets re-emerge at
    # the same file count)
    n = policy.compact_at_files
    minor_over = sum(
        1 for fs in by_bucket.values()
        if sum(not f.base for f in fs) >= max(n - 1, 2)
    )
    major_over = sum(
        1 for fs in by_bucket.values()
        if len(fs) >= n and any(not f.base for f in fs)
    )
    ratio = delta_rows / total_rows if total_rows else 0.0
    if ratio > policy.major_delta_ratio and major_over:
        compact_mode, buckets_over = "major", major_over
    elif minor_over:
        compact_mode, buckets_over = "minor", minor_over
    elif major_over:
        compact_mode, buckets_over = "major", major_over
    else:
        compact_mode, buckets_over = None, 0

    deficient = 0
    if policy.analyze_stats:
        stat_cols = list(cur.get("stat_cols", []))
        sum_cols = _integral_cols(table.schema(cur), stat_cols)
        kb_bits = int(cur.get("key_bloom_bits") or 0)
        deficient = sum(
            1 for f in files if _deficient(f, stat_cols, sum_cols, kb_bits)
        )

    snapshots_over = max(0, len(table.snapshots()) - policy.keep_snapshots)
    return MaintenancePlan(
        compact_mode=compact_mode,
        buckets_over=buckets_over,
        delta_rows=delta_rows,
        total_rows=total_rows,
        deficient_files=deficient,
        snapshots_over=snapshots_over,
        stale_txn_branches=len(_stale_txn_branches(table, policy)),
    )


def run_maintenance(
    table: LakeTable, policy: MaintenancePolicy = MaintenancePolicy()
) -> dict:
    """Plan, then execute compact → analyze → expire. Returns a
    JSON-able report of the plan and what each step did. Re-running
    converges: an already-maintained table plans nothing."""
    plan = plan_maintenance(table, policy)
    report: dict = {"plan": plan.to_json()}

    cst: CompactStats | None = None
    if plan.compact_mode is not None:
        cst = compact(
            table,
            min_files_per_bucket=policy.compact_at_files,
            tombstone_watermark_lsn=(
                policy.tombstone_watermark_lsn
                if plan.compact_mode == "major"
                else None
            ),
            target_rows_per_file=policy.target_rows_per_file,
            mode=plan.compact_mode,
        )
    report["compact"] = None if cst is None else {
        "mode": cst.mode,
        "buckets": cst.buckets_compacted,
        "files_removed": cst.files_removed,
        "files_added": cst.files_added,
    }

    ast: AnalyzeStats | None = None
    if policy.analyze_stats:
        # re-check post-compaction: compaction's writer emits complete
        # stats, so the deficient set may have shrunk to nothing
        ast = analyze(table)
    report["analyze"] = None if ast is None else {
        "files_analyzed": ast.files_analyzed,
    }

    # drop abandoned txn stages BEFORE expiry: their branch heads would
    # otherwise protect the very snapshot chains expiry should reclaim
    dropped = _stale_txn_branches(table, policy)
    for name in dropped:
        table.drop_branch(name)
    report["txn_branches_dropped"] = dropped

    exp = table.expire_snapshots(
        keep_last=policy.keep_snapshots,
        orphan_grace_sec=policy.orphan_grace_sec,
    )
    report["expire"] = {
        "expired_snapshots": exp.get("expired_snapshots"),
        "deleted_files": exp.get("deleted_files"),
    }
    report["ro_lag_rows"] = table.ro_lag_rows()
    return report
