"""Merge-on-read fast path + compaction.

``merge_append`` is the O(batch) alternative to copy-on-write
``merge_into``: batch winners are appended as *delta files* per bucket —
no existing data is read or rewritten — and last-writer-wins resolution
moves to scan time (sources/lake.py: ``requires_resolve``). This is the
Iceberg merge-on-read / Paimon LSM pattern, and at 10^10-event scale it
is the difference between per-batch cost proportional to the batch and
per-batch cost proportional to the table.

``compact`` folds a bucket's delta files back into one resolved file
(bounded read amplification), retaining tombstones (resurrection
protection — operators/merge.py) unless the caller passes an LSN
watermark below which no in-flight events can exist.

Requirement inherited from the CDC contract: LSN totally orders versions
of a key (duplicate deliveries carry identical payloads), so scan-time
ties are payload-identical and resolution is deterministic.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..sources.lake import LSN_COL, TOMBSTONE_COL, LakeTable
from .evolve import align_to_schema, evolve_schema
from .merge import _check_write_consistency, _lost_duplicate_race
from .skew import plan_bucket_splits, with_salted_split, write_exchange_partitions


@dataclass
class AppendStats:
    batch_rows: int
    distinct_keys: int
    dedup_dropped: int
    rows_written: int
    added_files: int
    snapshot_version: int
    schema_added: list[str]
    schema_widened: list[tuple[str, str, str]]
    bucket_rows: dict[int, int] | None = None  # written rows per bucket
    # True when a concurrent duplicate delivery of the same batch_id won
    # the commit race (stats zeroed; snapshot_version is the winner's)
    duplicate_batch: bool = False

    def to_json(self) -> dict:
        from dataclasses import asdict

        return asdict(self)


def merge_append(
    table: LakeTable,
    batch_df: DataFrame,
    lsn_col: str = "lsn",
    op_col: str | None = None,
    delete_op: str = "D",
    batch_id: str | None = None,
    target_rows_per_file: int = 2_000_000,
    splits_hint: dict[int, int] | None = None,
    approx_rows: int | None = None,
) -> AppendStats:
    """Merge-on-read apply: dedup the batch, append winners as deltas.

    ONE Spark job per batch, ONE payload shuffle in that job (see the
    inline comment at the dedup): the skew-split plan comes from
    ``splits_hint`` (the caller's previous-batch per-bucket row counts —
    CDC batches are statistically stable, AQE-style stat reuse) or, for
    the first batch, a uniform estimate from ``approx_rows`` (known from
    changelog file metadata without reading data). Split sizing only
    controls output file sizes — a stale hint can never affect
    correctness — and the per-file footer stats written back by this
    batch become the next batch's hint."""
    cur = table.current()
    keys = table.merge_keys
    pu = cur.get("merge_engine", "lww") == "partial-update"
    if pu and op_col is not None:
        # Paimon parity: merge-engine=partial-update rejects delete
        # records (a patch stream has no whole-row delete semantics);
        # retractions need the default LWW engine or a COW DELETE
        raise ValueError(
            "partial-update tables do not accept a CDC op/delete column; "
            "ingest patch events without op_col"
        )

    envelope = [c for c in ([op_col] if op_col else []) if c in batch_df.columns]
    evo = evolve_schema(table.schema(), batch_df.drop(lsn_col, *envelope).schema)
    write_schema = evo.schema
    schema_version = cur["schema_version"] + (1 if evo.changed else 0)

    src = batch_df.withColumnRenamed(lsn_col, LSN_COL)
    if op_col and op_col in batch_df.columns:
        src = src.withColumn(TOMBSTONE_COL, F.col(op_col) == F.lit(delete_op)).drop(op_col)
    else:
        src = src.withColumn(TOMBSTONE_COL, F.lit(False))
    batch = align_to_schema(src, write_schema, keep_extra=[LSN_COL, TOMBSTONE_COL])

    if splits_hint:
        splits = dict(splits_hint)
    else:
        # first batch: uniform estimate with 2x hot-bucket margin from
        # metadata-known event count — no census job
        est = approx_rows if approx_rows is not None else target_rows_per_file
        per_bucket = max(1, (2 * est) // max(table.n_buckets, 1))
        splits = plan_bucket_splits(
            [(b, per_bucket) for b in range(table.n_buckets)], target_rows_per_file
        )

    # ONE shuffle total: bucket + skew-split are deterministic functions
    # of the merge key, so they are computed map-side and the batch is
    # exchanged ONCE on (b, _split) — the write layout. The LWW dedup
    # then runs as an aggregate whose grouping keys include (b, _split):
    # HashPartitioning(b, _split) satisfies the agg's clustered
    # distribution (every row of a key shares (b, _split)), so Catalyst
    # plans partial+final max_by in the SAME stage with no second
    # exchange, and the write below inherits the partitioning. The old
    # shape (groupBy(keys) → repartition(b, _split)) moved the full text
    # payload across the wire twice; this moves it once — the dominant
    # per-event memory-bandwidth cost at high core counts
    # (BENCH/BASELINE.md). Bonus: the max_by SortAggregate's required
    # sort on (b, _split, keys) leaves every data file key-sorted, so
    # footer min/max stats are tight for point/range pruning.
    user_payload = [c for c in write_schema.fieldNames() if c not in keys]
    payload = user_payload + [LSN_COL, TOMBSTONE_COL]
    obs = Observation()
    pre = with_salted_split(
        batch.withColumn("b", table.bucket_expr()), "b", splits, salt_cols=keys
    )
    # When no bucket is hot, _split is the constant 0: keep it OUT of the
    # exchange and grouping keys — a folded literal in the partitioning
    # no longer semantically matches the agg's aliased grouping key, and
    # Catalyst would insert a second full-payload exchange (plan-tested).
    part_cols = ["b", "_split"] if any(int(n) > 1 for n in splits.values()) else ["b"]
    # explicit exchange width from the batch's row estimate and group
    # count, not the core count: one wave of writer tasks for a small
    # batch, layout-driven width for a large one
    # (operators/skew.write_exchange_partitions)
    pre = pre.repartition(
        write_exchange_partitions(pre, splits, approx_rows), *part_cols
    )
    if pu:
        # partial-update fold (operators/dedup.partial_update_state
        # semantics, fused into the same one-shuffle write stage): each
        # field keeps its last NON-NULL value by LSN, and its per-field
        # LSN rides to the data file so later deltas/compaction fold
        # field-granularly (Paimon sequence-field analog). Still ONE
        # hash agg with map-side partials — no window, no sort.
        from ..sources.lake import flsn_col

        aggs = []
        for c in user_payload:
            set_lsn = F.when(F.col(c).isNotNull(), F.col(LSN_COL))
            aggs.append(F.max_by(F.col(c), set_lsn).alias(c))
            aggs.append(F.max(set_lsn).alias(flsn_col(c)))
        aggs.append(F.max(F.col(LSN_COL)).alias(LSN_COL))
        aggs.append(F.count(F.lit(1)).alias("_n"))
        to_write = (
            pre.groupBy(*part_cols, *keys)
            .agg(*aggs)
            .observe(
                obs,
                F.count(F.lit(1)).alias("distinct_keys"),
                F.sum("_n").alias("batch_rows"),
            )
            .withColumn(TOMBSTONE_COL, F.lit(False))
            .select(
                "b", *keys, *user_payload, LSN_COL, TOMBSTONE_COL,
                *[flsn_col(c) for c in user_payload],
            )
        )
    else:
        winner = F.max_by(
            F.struct(*[F.col(c) for c in payload]), F.struct(F.col(LSN_COL))
        ).alias("_w")
        to_write = (
            pre.groupBy(*part_cols, *keys)
            .agg(winner, F.count(F.lit(1)).alias("_n"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("distinct_keys"),
                F.sum("_n").alias("batch_rows"),
            )
            .select("b", *keys, *[F.col(f"_w.{c}").alias(c) for c in payload])
        )
    new_files = table.write_data_files(
        to_write, write_schema, schema_version, pre_partitioned=True
    )
    if not new_files:
        snap = table.commit_retrying(
            set(), [], batch_id=batch_id, operation="merge-append-empty",
            validation="append", expected_parent_version=cur["version"],
        )
        return AppendStats(0, 0, 0, 0, 0, snap["version"], [], [], None)
    m = obs.get
    # winners = one row per distinct key; task manifests must agree (duplicate
    # task-commit guard, see operators/merge._check_write_consistency)
    _check_write_consistency(int(m["distinct_keys"]), new_files)
    bucket_rows: dict[int, int] = {}
    for f in new_files:
        bucket_rows[f.bucket] = bucket_rows.get(f.bucket, 0) + f.rows

    snap = table.commit_retrying(
        set(),
        new_files,
        new_schema=write_schema if evo.changed else None,
        batch_id=batch_id,
        operation="merge-append",
        requires_resolve=True,
        summary_extra={"batch_rows": int(m["batch_rows"])},
        validation="append",
        expected_parent_version=cur["version"],
    )
    if _lost_duplicate_race(snap, new_files):
        return AppendStats(
            int(m["batch_rows"]), 0, 0, 0, 0, snap["version"], [], [],
            None, duplicate_batch=True,
        )
    rows_written = sum(f.rows for f in new_files)
    return AppendStats(
        batch_rows=int(m["batch_rows"]),
        distinct_keys=int(m["distinct_keys"]),
        dedup_dropped=int(m["batch_rows"]) - int(m["distinct_keys"]),
        rows_written=rows_written,
        added_files=len(new_files),
        snapshot_version=snap["version"],
        schema_added=evo.added_columns,
        schema_widened=evo.widened_columns,
        bucket_rows=bucket_rows,
    )


@dataclass
class CompactStats:
    buckets_compacted: int
    files_removed: int
    files_added: int
    rows_before: int
    rows_after: int
    tombstones_dropped: bool
    snapshot_version: int
    mode: str = "major"


def compact(
    table: LakeTable,
    min_files_per_bucket: int = 2,
    tombstone_watermark_lsn: int | None = None,
    target_rows_per_file: int = 2_000_000,
    mode: str = "major",
) -> CompactStats | None:
    """Fold delta files: rewrite every bucket holding >= min_files into
    resolved files. Tombstones are dropped only below the caller's LSN
    watermark (no earlier event can still arrive).

    ``mode`` (LSM-style tiering, the RocksDB/Paimon minor/major analog):

    - ``"major"`` — fold EVERY file of a victim bucket into resolved
      base files. Read-optimal afterwards, but each major rewrites the
      whole bucket including its base: at sustained 10^10-event ingest,
      majors every K batches give write amplification proportional to
      table size x ingest duration.
    - ``"minor"`` — leave each victim bucket's BASE files untouched and
      fold only the delta files into ONE resolved delta. Base files are
      identified by the manifest's ``base`` flag (set when a file was
      written by a bucket-complete resolve: major compaction, rebucket,
      replace, COW merge) — NOT by size: a fresh delta batch can be
      larger than the base, and exempting it instead would fold the
      real base and break the O(delta-rows) minor write bound. Pre-flag
      snapshots (no ``base`` field anywhere) fall back to the
      largest-file heuristic. Write cost per minor is O(delta rows),
      independent of table size; scan-time read amplification stays
      bounded at n_bases+1 files/bucket. Tombstones always survive a
      minor (an exempt base may still hold the pre-delete row —
      dropping the tombstone would resurrect it), so
      ``tombstone_watermark_lsn`` is rejected here; run a periodic
      major to reclaim tombstones and clear the resolve flag. A victim
      bucket needs >= 2 delta files — folding one delta into itself is
      pure write amplification.
    """
    if mode not in ("major", "minor"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    if mode == "minor" and tombstone_watermark_lsn is not None:
        raise ValueError(
            "tombstone_watermark_lsn requires a major compaction: a minor "
            "leaves the bucket's base file in place, and dropping a tombstone "
            "while its pre-delete row survives in the base would resurrect it"
        )
    cur = table.current()
    by_bucket: dict[int, list] = {}
    for f in table.files(cur):
        by_bucket.setdefault(f.bucket, []).append(f)
    if mode == "minor":
        flagged_anywhere = any(f.base for fs in by_bucket.values() for f in fs)
        victims = {}
        for b, fs in by_bucket.items():
            if flagged_anywhere:
                deltas = [f for f in fs if not f.base]
            else:
                # legacy snapshot written before the base flag existed:
                # best-effort largest-file heuristic (documented failure
                # mode: a jumbo delta batch may be exempted instead)
                base = max(fs, key=lambda f: (f.rows, f.path))
                deltas = [f for f in fs if f.path != base.path]
            if len(deltas) < max(min_files_per_bucket - 1, 2):
                continue
            victims[b] = deltas
    else:
        victims = {b: fs for b, fs in by_bucket.items() if len(fs) >= min_files_per_bucket}
    if not victims:
        return None
    vfiles = [f for fs in victims.values() for f in fs]
    rows_before = sum(f.rows for f in vfiles)

    df = table.scan(files=vfiles, include_internal=True)
    # scan() already resolved LWW if the snapshot requires it; resolve is
    # idempotent so rely on it, then apply the tombstone watermark
    if tombstone_watermark_lsn is not None:
        df = df.where(
            ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            | (F.col(LSN_COL) >= tombstone_watermark_lsn)
        )
    df = df.withColumn("b", table.bucket_expr())
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    splits = plan_bucket_splits(
        [(b, sum(f.rows for f in fs)) for b, fs in victims.items()], target_rows_per_file
    )
    to_write = with_salted_split(df, "b", splits, salt_cols=table.merge_keys)
    new_files = table.write_data_files(
        to_write, table.schema(cur), cur["schema_version"], sort_by=table.merge_keys,
        mark_base=(mode == "major"),
        num_partitions=write_exchange_partitions(to_write, splits, rows_before),
    )
    _check_write_consistency(int(obs.get["rows"]), new_files)

    # major: resolved afterwards iff no bucket outside the victims has
    # deltas; minor: bases and merged deltas still overlap by key
    if mode == "minor":
        requires_resolve = True
    else:
        requires_resolve = any(
            len(fs) >= 2 for b, fs in by_bucket.items() if b not in victims
        )
    snap = table.commit_retrying(
        {f.path for f in vfiles},
        new_files,
        operation=f"compact-{mode}",
        requires_resolve=requires_resolve,
        validation="rewrite",
        expected_parent_version=cur["version"],
    )
    return CompactStats(
        buckets_compacted=len(victims),
        files_removed=len(vfiles),
        files_added=len(new_files),
        rows_before=rows_before,
        rows_after=sum(f.rows for f in new_files),
        tombstones_dropped=tombstone_watermark_lsn is not None,
        snapshot_version=snap["version"],
        mode=mode,
    )


def _zvalue_column(
    table: LakeTable, cur: dict, df: DataFrame, by: tuple[str, ...]
) -> "F.Column":
    """Morton z-value over ``by`` as a pure-JVM expression (no UDF).

    Each column is normalized to a ``bits``-bit integer rank against its
    TABLE-WIDE bounds, then the ranks' bits are interleaved
    (rank_j bit i → z bit ``i*k + j``). Bounds come FREE from the
    snapshot manifest's per-file stats (min over file mins, max over
    file maxes — a superset of the live data is fine, it only coarsens
    the grid); only if some file predates the stat does a one-pass
    min/max agg run. Timestamps rank on the same epoch-micros basis the
    manifest stats use; nulls rank 0 (cluster together, never pruned
    incorrectly — pruning still goes through the real per-file min/max
    envelopes, the z-value is LAYOUT ONLY)."""
    from pyspark.sql import types as T

    from ..sources.lake import _stat_scalar

    schema = {f.name: f.dataType for f in table.schema(cur).fields}
    for c in by:
        if not isinstance(
            schema[c],
            (T.TimestampType, T.TimestampNTZType, T.LongType, T.IntegerType,
             T.ShortType, T.ByteType, T.DoubleType, T.FloatType, T.DecimalType,
             T.DateType),
        ):
            raise ValueError(
                f"zorder column {c!r} has non-orderable-numeric type "
                f"{schema[c].simpleString()}; z-ordering interleaves numeric "
                "ranks — use linear order for string columns"
            )

    def _num(c: str):
        if isinstance(schema[c], (T.TimestampType, T.TimestampNTZType)):
            # cast-then-unix_micros is the same epoch-micros basis the
            # partition transforms use (lake._partition_transform_expr)
            # and accepts NTZ, which bare unix_micros rejects
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if isinstance(schema[c], T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        return F.col(c).cast("double")

    def _bound_num(c: str, v) -> float:
        # dates rank via unix_date() (epoch DAYS), so their bounds must be
        # epoch days too — _stat_scalar leaves datetime.date untouched and
        # manifests round-trip them as ISO strings, neither float()-able
        if isinstance(schema[c], T.DateType):
            if isinstance(v, str):
                v = datetime.date.fromisoformat(v)
            if isinstance(v, datetime.date):
                return float((v - datetime.date(1970, 1, 1)).days)
        return float(_stat_scalar(v))

    files = table.files(cur)
    bounds: dict[str, tuple[float, float]] = {}
    need_agg = []
    for c in by:
        stats = [(f.col_stats or {}).get(c) for f in files]
        if any(s is None or s[0] is None or s[1] is None for s in stats):
            need_agg.append(c)
            continue
        bounds[c] = (min(_bound_num(c, s[0]) for s in stats),
                     max(_bound_num(c, s[1]) for s in stats))
    if need_agg:
        row = df.agg(
            *[a for c in need_agg for a in (F.min(c), F.max(c))]
        ).first()
        for i, c in enumerate(need_agg):
            lo, hi = row[2 * i], row[2 * i + 1]
            if lo is None:  # all-null column: constant rank
                bounds[c] = (0.0, 0.0)
            else:
                bounds[c] = (_bound_num(c, lo), _bound_num(c, hi))

    k = len(by)
    bits = max(1, min(20, 60 // k))
    maxrank = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(by):
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        rank = F.floor((_num(c) - F.lit(lo)) / F.lit(span) * F.lit(float(maxrank)))
        rank = F.least(F.lit(maxrank).cast("long"),
                       F.greatest(F.lit(0).cast("long"), rank.cast("long")))
        rank = F.when(F.col(c).isNull(), F.lit(0).cast("long")).otherwise(rank)
        for i in range(bits):
            # non-overlapping bit fields: sum == bitwise OR
            z = z + F.shiftleft(
                F.shiftright(rank, i).bitwiseAND(F.lit(1).cast("long")),
                i * k + j,
            )
    return z


def cluster_rewrite(
    table: LakeTable,
    by: tuple[str, ...],
    target_rows_per_file: int = 2_000_000,
    order: str = "linear",
) -> CompactStats | None:
    """Sort-order data clustering: rewrite the table so files cover
    near-DISJOINT ranges of ``by`` (the Iceberg ``rewrite_data_files``
    sort-strategy / Delta ``OPTIMIZE`` analog).

    Ingest-order files all span the full range of a column like event
    time — every time-bounded read opens every file. After clustering,
    footer min/max on ``by`` (which must be manifest ``stat_cols``, or
    the partition source column) prune a range read to O(matching
    files). The merge keys ride as a SECONDARY sort, so per-row-group
    key stats stay useful for point lookups.

    ``order="linear"`` concatenates the sort keys — perfect pruning on
    ``by[0]``, none on later columns. ``order="zorder"`` (Delta
    ``OPTIMIZE ZORDER BY`` / Iceberg z-order strategy analog)
    interleaves the columns' normalized bit ranks into a Morton value
    and clusters on THAT: every file becomes a compact hyper-cube in
    ``by``-space, so range reads on EACH of the columns independently
    prune to ~F^(1-1/k) of the files. The z-value is a pure-JVM
    expression (shift/mask/sum, whole-stage codegen), computed from
    manifest-derived bounds — layout-only, dropped before write;
    correctness never depends on it because pruning still evaluates the
    real per-file min/max envelopes.

    Scale shape: ONE sampled range exchange
    (``repartitionByRange(b, *keys)`` — the same machinery Spark's
    global sort uses; no single-task funnels, hot ranges split across
    tasks by the sampler) + a task-local sort + the standard task
    writer. This is a FULL resolved rewrite, like rebucket: schedule it
    like a major compaction, not per batch. Rows rewritten after
    partition evolution migrate to the current spec. Tombstones ride
    through unchanged."""
    if order not in ("linear", "zorder"):
        raise ValueError(f"unknown cluster order {order!r}")
    cur = table.current()
    stat_ok = set(cur.get("stat_cols", []))
    pspec = cur.get("partition_spec")
    if pspec:
        stat_ok.add(pspec["col"])
    missing = [c for c in by if c not in stat_ok and c not in table.merge_keys]
    if missing:
        raise ValueError(
            f"cluster columns {missing} have no manifest stats (stat_cols="
            f"{sorted(stat_ok)}); pruning could not use the clustered "
            f"layout — create the table with stat_cols including them"
        )
    old_files = table.files(cur)
    if not old_files:
        return None
    rows_before = sum(f.rows for f in old_files)

    df = table.scan(include_internal=True)  # resolved live rows + tombstones
    df = df.withColumn("b", table.bucket_expr())
    n_out = max(1, -(-rows_before // target_rows_per_file))
    if order == "zorder":
        if len(by) < 2:
            raise ValueError("zorder needs >= 2 columns (use linear for 1)")
        df = df.withColumn("__z", _zvalue_column(table, cur, df, by))
        clustered = df.repartitionByRange(n_out, F.col("b"), F.col("__z"))
        # sort here (the writer's sort_by can't see computed columns) and
        # drop the layout column before the write — a projection over the
        # sort preserves row order
        clustered = clustered.sortWithinPartitions(
            "b", "__z", *table.merge_keys
        ).drop("__z")
        sort_by = None
    else:
        clustered = df.repartitionByRange(n_out, F.col("b"), *[F.col(c) for c in by])
        sort_by = [*by, *table.merge_keys]
    # observe AFTER the range exchange: repartitionByRange's boundary
    # sampler executes the child plan once more, and an upstream observe
    # would double-count and trip the consistency guard
    obs = Observation()
    clustered = clustered.observe(obs, F.count(F.lit(1)).alias("rows"))
    new_files = table.write_data_files(
        clustered, table.schema(cur), cur["schema_version"],
        sort_by=sort_by,
        pre_partitioned=True,
        mark_base=True,  # bucket-complete resolve: minors exempt these
    )
    _check_write_consistency(int(obs.get["rows"]), new_files)
    snap = table.commit_retrying(
        {f.path for f in old_files},
        new_files,
        operation="cluster-rewrite",
        requires_resolve=False,
        validation="rewrite",
        expected_parent_version=cur["version"],
        summary_extra={"cluster_by": list(by), "cluster_order": order},
    )
    return CompactStats(
        buckets_compacted=len({f.bucket for f in old_files}),
        files_removed=len(old_files),
        files_added=len(new_files),
        rows_before=rows_before,
        rows_after=sum(f.rows for f in new_files),
        tombstones_dropped=False,
        snapshot_version=snap["version"],
        mode="cluster",
    )
