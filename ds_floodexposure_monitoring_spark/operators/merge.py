"""MERGE INTO the lake table: prune → resolve by key → rewrite → commit.

Semantics of ``MERGE INTO t USING batch ON t.key = batch.key
WHEN MATCHED AND batch.lsn >= t._lsn THEN UPDATE WHEN NOT MATCHED THEN
INSERT`` — i.e. Iceberg MERGE with *order-corrected* last-writer-wins:
a late-arriving event with a lower LSN than what the table already
holds loses (the reference analog is the idempotent skip of
already-processed keys, src/datasources/floodscan.py:101-107,:196-202,
generalized from "skip" to "older writer loses").

Physical plan, built for 100 TB:

1. **Prune** (the reference's "recompute only changed region-days",
   floodscan.py:196-213): a tiny per-bucket census of the batch
   (≤ n_buckets rows collected) selects only the table files whose
   (bucket, min/max key range) overlap the batch. Untouched files carry
   over into the new snapshot by metadata reference only — zero I/O.
2. **Resolve**: affected files ∪ batch, exchanged ONCE on
   ``(bucket, skew_split)`` — both deterministic functions of the merge
   key, computed map-side — then ``groupBy(b, _split, merge keys) →
   max_by(payload, (lsn, is_batch))`` runs in the same post-shuffle
   stage (the hash partitioning satisfies the agg's clustered
   distribution). This fuses per-batch dedup, merge resolution, AND the
   write layout into a single payload shuffle — no separate dedup pass,
   no window sort, no join, no second exchange before the write. Batch
   wins LSN ties (MERGE matched ⇒ update).
3. **Rewrite**: winners leave the resolve already salted-split per
   bucket (operators/skew.py) so hot conversations fan out over
   multiple write tasks/files, and are written ``partitionBy(bucket)``
   task-local; per-file key stats ride back as task results
   (Iceberg-writer style — sources/lake._make_task_writer).
4. **Commit**: atomic snapshot swap carrying the batch_id (exactly-once
   anchor, streaming/checkpoint.py).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..sources.lake import DML_SEQ_COL, LSN_COL, TOMBSTONE_COL, DataFile, LakeTable
from .evolve import align_to_schema, evolve_schema
from .skew import plan_bucket_splits, with_salted_split, write_exchange_partitions


@dataclass
class MergeStats:
    batch_rows: int
    distinct_keys: int
    dedup_dropped: int
    updated: int
    inserted: int
    deleted: int
    carried_rows: int
    removed_files: int
    added_files: int
    rows_written: int
    snapshot_version: int
    schema_added: list[str]
    schema_widened: list[tuple[str, str, str]]
    # True when a concurrent duplicate delivery of the same batch_id won
    # the commit race: the returned snapshot_version is the WINNER's and
    # the write stats are zeroed (our data files are orphaned garbage)
    duplicate_batch: bool = False

    def to_json(self) -> dict:
        return asdict(self)


def _lost_duplicate_race(snap: dict, new_files) -> bool:
    """True when ``commit_retrying`` returned a concurrent duplicate
    delivery's snapshot instead of committing OUR files (the exactly-once
    batch_id race): none of our added paths appear in the returned
    snapshot, so write stats computed from them would describe data that
    is not in the table."""
    if not new_files:
        return False
    added = {f.path for f in new_files}
    return not (added & {d["path"] for d in snap["files"]})


def _check_write_consistency(observed_rows: int, new_files) -> None:
    """Fail BEFORE commit if the committed data files disagree with the
    write job's observed row count.

    Belt-and-braces cross-check of two independent row counters: the
    manifest entries assembled from task results (exactly one successful
    attempt per partition) and the df.observe counter on the same job.
    Divergence means lost/duplicated task output — abort the commit and
    leave the table on its previous snapshot (the write dir is
    unreferenced garbage for vacuum to collect)."""
    manifest_rows = sum(f.rows for f in new_files)
    if manifest_rows != observed_rows:
        raise RuntimeError(
            f"write inconsistency: task manifests hold {manifest_rows} rows but the "
            f"write job produced {observed_rows}; duplicate or missing task outputs "
            "— refusing to commit"
        )


def merge_into(
    table: LakeTable,
    batch_df: DataFrame,
    lsn_col: str = "lsn",
    op_col: str | None = None,
    delete_op: str = "D",
    batch_id: str | None = None,
    target_rows_per_file: int = 2_000_000,
) -> MergeStats:
    """Apply one CDC batch (pre-deduplicated or not) to the table.

    ``op_col`` names the CDC envelope operation column; rows whose op is
    ``delete_op`` become persisted tombstones (WHEN MATCHED ... DELETE,
    order-corrected: a tombstone keeps competing by LSN across batches,
    so a stale pre-delete update can never resurrect the row). Envelope
    columns never enter the table schema."""
    spark = table.spark
    cur = table.current()
    keys = table.merge_keys
    if cur.get("merge_engine", "lww") != "lww":
        raise NotImplementedError(
            "merge_into (copy-on-write) supports only the LWW engine; "
            "partial-update tables ingest through the merge-on-read path "
            "(operators.compact.merge_append / CDCPipeline mode='mor'), "
            "where per-field LSNs fold at scan/compaction"
        )

    # ---- strip the CDC envelope; schema evolution on payload only
    envelope = [c for c in ([op_col] if op_col else []) if c in batch_df.columns]
    batch_payload_schema = batch_df.drop(lsn_col, *envelope).schema
    evo = evolve_schema(table.schema(), batch_payload_schema)
    write_schema = evo.schema
    schema_version = cur["schema_version"] + (1 if evo.changed else 0)

    src = batch_df.withColumnRenamed(lsn_col, LSN_COL)
    if op_col and op_col in batch_df.columns:
        src = src.withColumn(TOMBSTONE_COL, F.col(op_col) == F.lit(delete_op)).drop(op_col)
    else:
        src = src.withColumn(TOMBSTONE_COL, F.lit(False))
    batch = align_to_schema(src, write_schema, keep_extra=[LSN_COL, TOMBSTONE_COL])
    batch = batch.withColumn("b", table.bucket_expr()).persist()
    try:
        # ---- per-bucket census: counts + key ranges (tiny collect)
        key0 = keys[0]
        census = (
            batch.groupBy("b")
            .agg(F.count("*").alias("n"), F.min(key0).alias("mn"), F.max(key0).alias("mx"))
            .collect()
        )
        batch_rows = sum(r["n"] for r in census)
        if batch_rows == 0:
            snap = table.commit_retrying(
                set(), [], batch_id=batch_id, operation="merge-empty",
                validation="append", expected_parent_version=cur["version"],
            )
            return MergeStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, snap["version"], [], [])
        ranges = {r["b"]: (r["mn"], r["mx"], r["n"]) for r in census}

        # ---- prune candidate files by (bucket, key-range) overlap
        candidates = []
        for f in table.files(cur):
            rng = ranges.get(f.bucket)
            if rng is None:
                continue
            if f.min_key is not None and f.max_key is not None:
                if f.max_key < rng[0] or f.min_key > rng[1]:
                    continue
            candidates.append(f)
        removed_paths = {f.path for f in candidates}

        existing = table.scan(files=candidates, include_internal=True)
        existing = (
            align_to_schema(
                existing, write_schema, keep_extra=[LSN_COL, TOMBSTONE_COL, DML_SEQ_COL]
            )
            .withColumn(TOMBSTONE_COL, F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
            .withColumn(DML_SEQ_COL, F.coalesce(F.col(DML_SEQ_COL), F.lit(0)))
            .withColumn("_src", F.lit(0))
        )
        batch_side = (
            batch.drop("b").withColumn(DML_SEQ_COL, F.lit(0)).withColumn("_src", F.lit(1))
        )
        combined = existing.unionByName(batch_side)

        # ---- skew-split plan (driver-side, from census + file stats):
        # needed BEFORE the resolve so bucket + split ride the one shuffle
        existing_rows_per_bucket: dict[int, int] = {}
        for f in candidates:
            existing_rows_per_bucket[f.bucket] = existing_rows_per_bucket.get(f.bucket, 0) + f.rows
        merged_counts = [
            (b, ranges.get(b, (None, None, 0))[2] + existing_rows_per_bucket.get(b, 0))
            for b in set(ranges) | set(existing_rows_per_bucket)
        ]
        splits = plan_bucket_splits(merged_counts, target_rows_per_file)

        # ---- single-shuffle resolve: LWW with batch winning LSN ties.
        # bucket and skew-split are functions of the merge key, computed
        # map-side; the ONE exchange is on (b, _split) — the write layout
        # — and the grouped max_by resolve runs in the same post-shuffle
        # stage (HashPartitioning(b, _split) satisfies the agg's
        # clustered distribution). No second exchange before the write.
        payload = [c for c in write_schema.fieldNames() if c not in keys]
        winner_struct = F.struct(
            *[F.col(c) for c in payload],
            F.col(LSN_COL),
            F.col(TOMBSTONE_COL),
            F.col(DML_SEQ_COL),
            F.col("_src"),
        )
        # lexicographic (lsn, dml_seq, src): a fresh event with a higher
        # LSN beats any correction; at equal LSN a correction (seq > 0)
        # beats the redelivered original (seq 0) — the documented
        # update_where redelivery hazard, closed; at equal (lsn, seq)
        # the batch wins (MERGE matched => update)
        order_struct = F.struct(F.col(LSN_COL), F.col(DML_SEQ_COL), F.col("_src"))
        pre = with_salted_split(
            combined.withColumn("b", table.bucket_expr()), "b", splits, salt_cols=keys
        )
        # _split is the constant 0 when no bucket is hot: exclude it from
        # the exchange/grouping keys or the folded literal stops matching
        # the agg's clustering and Catalyst adds a second exchange
        part_cols = (
            ["b", "_split"] if any(int(n) > 1 for n in splits.values()) else ["b"]
        )
        # explicit exchange width from the rows to resolve (census +
        # candidate manifest rows) and the group count, not the core
        # count (operators/skew.write_exchange_partitions)
        resolve_rows = sum(n for _, n in merged_counts)
        pre = pre.repartition(
            write_exchange_partitions(pre, splits, resolve_rows), *part_cols
        )
        resolved = (
            pre.groupBy(*part_cols, *keys)
            .agg(
                F.max_by(winner_struct, order_struct).alias("_w"),
                F.sum(F.when(F.col("_src") == 0, 1).otherwise(0)).alias("_n_table"),
                F.sum(F.col("_src")).alias("_n_batch"),
            )
            .select(
                "b",
                *keys,
                *[F.col(f"_w.{c}").alias(c) for c in payload],
                F.col(f"_w.{LSN_COL}").alias(LSN_COL),
                F.col(f"_w.{TOMBSTONE_COL}").alias(TOMBSTONE_COL),
                F.col(f"_w.{DML_SEQ_COL}").alias(DML_SEQ_COL),
                F.col("_w._src").alias("_wsrc"),
                "_n_table",
                "_n_batch",
            )
        )

        # merge stats ride along with the write job (df.observe): no
        # second pass over the resolved data, no persist
        live = ~F.col(TOMBSTONE_COL)
        obs = Observation()
        resolved = resolved.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.when((F.col("_wsrc") == 1) & (F.col("_n_table") > 0) & live, 1).otherwise(0)
            ).alias("updated"),
            F.sum(
                F.when((F.col("_wsrc") == 1) & (F.col("_n_table") == 0) & live, 1).otherwise(0)
            ).alias("inserted"),
            F.sum(F.when((F.col("_wsrc") == 1) & ~live, 1).otherwise(0)).alias("deleted"),
            F.sum(F.when(F.col("_wsrc") == 0, 1).otherwise(0)).alias("carried"),
            F.sum(F.when(F.col("_n_batch") > 0, 1).otherwise(0)).alias("batch_keys"),
        )

        to_write = resolved.drop("_wsrc", "_n_table", "_n_batch")
        new_files = table.write_data_files(
            to_write, write_schema, schema_version, pre_partitioned=True, mark_base=True
        )
        agg = obs.get
        _check_write_consistency(int(agg["rows"]), new_files)

        snap = table.commit_retrying(
            removed_paths,
            new_files,
            new_schema=write_schema if evo.changed else None,
            batch_id=batch_id,
            operation="merge",
            summary_extra={"batch_rows": batch_rows},
            validation="rewrite",
            expected_parent_version=cur["version"],
        )
        if _lost_duplicate_race(snap, new_files):
            return MergeStats(
                batch_rows=batch_rows, distinct_keys=0, dedup_dropped=0,
                updated=0, inserted=0, deleted=0, carried_rows=0,
                removed_files=0, added_files=0, rows_written=0,
                snapshot_version=snap["version"], schema_added=[],
                schema_widened=[], duplicate_batch=True,
            )
        return MergeStats(
            batch_rows=batch_rows,
            distinct_keys=int(agg["batch_keys"]),
            dedup_dropped=batch_rows - int(agg["batch_keys"]),
            updated=int(agg["updated"]),
            inserted=int(agg["inserted"]),
            deleted=int(agg["deleted"]),
            carried_rows=int(agg["carried"]),
            removed_files=len(removed_paths),
            added_files=len(new_files),
            rows_written=int(agg["rows"]),
            snapshot_version=snap["version"],
            schema_added=evo.added_columns,
            schema_widened=evo.widened_columns,
        )
    finally:
        batch.unpersist()
