"""Secondary index over a non-key column, maintained incrementally as
a lake table (Hudi record-level/secondary-index analog; the third
member of the incremental-index family after the LSH band index
(operators/neardup_index.py) and the IVF postings index
(operators/ann_index.py)).

Point lookups on a MERGE KEY are already O(files-that-can-hold-the-key)
via bucket pruning + footer key ranges + manifest key blooms. A point
lookup on a NON-key column (``value = X``, ``session_tag = Y``) has
none of that: high-cardinality values scatter across every file, so
min/max stats keep everything and the scan is O(table). At 10^10 rows
that is the difference between milliseconds and a cluster-hour.

The index is a pointer table ``(ival, <base merge keys>)`` — one row
per (indexed value, key) pair ever written:

- it IS a lake table: merge keys ``(ival, *base_keys)`` make
  re-indexing idempotent (redelivered batches LWW onto themselves),
  bucketing on ``ival`` (the first merge key) co-locates each value's
  postings, and compaction/expiry/clustering apply unchanged;
- ``index_append`` adds one ingest batch's (value, key) pairs —
  O(batch) rows, never O(corpus): the at-ingest maintenance cost is one
  extra bounded merge per batch, the same discipline as the LSH and
  IVF indexes;
- ``lookup`` is prune-then-verify, the engine's standard soundness
  pattern: probe the index with the requested values (a bucket-pruned
  point scan via ``join_pruned`` — O(postings), never O(index)), take
  the candidate base keys, cut the base table's FILE SET with them
  (``join_pruned`` again: bucket + footer range + key bloom), and
  re-verify the predicate on the surviving rows. Stale postings (a key
  later overwritten with a different value) and deleted keys cost only
  extra candidates — the final ``col IN values`` filter makes the
  result exact. False negatives cannot happen as long as every batch
  was indexed: a live row's current value was written by SOME batch,
  so its (value, key) posting exists.

Reference parity: the reference has no indexes at all — every lookup
is a full re-read of the blobs it polls (reference:
src/datasources/floodscan.py:60-110 loads whole files to answer any
question). The contract query (plans/contract.py
secondary_index_lookup) proves lookup == full-scan filter, exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ..sources.lake import LakeTable
from .compact import merge_append

IVAL = "ival"


def create_index(
    spark,
    path: str,
    base: LakeTable,
    col: str,
    n_buckets: int = 8,
) -> LakeTable:
    """Create the index table for ``base[col]``. Schema: ``ival`` (the
    indexed column's type) + the base table's merge-key columns; merge
    keys ``(ival, *base_keys)``; bucketed on ``ival``."""
    base_schema = base.schema()
    if col not in base_schema.fieldNames():
        raise ValueError(f"column {col!r} not in base schema")
    fields = [T.StructField(IVAL, base_schema[col].dataType, False)]
    for k in base.merge_keys:
        fields.append(T.StructField(k, base_schema[k].dataType, False))
    return LakeTable.create(
        spark,
        path,
        T.StructType(fields),
        merge_keys=(IVAL, *base.merge_keys),
        n_buckets=n_buckets,
        # per-file stats on the base-key columns: lets a GDPR erase
        # (operators/erase.py) prune the postings files by doomed key
        # instead of rewriting the whole index
        stat_cols=tuple(base.merge_keys),
    )


def index_append(
    index: LakeTable,
    base: LakeTable,
    batch_df: DataFrame,
    col: str,
    lsn_col: str = "lsn",
    batch_id: str | None = None,
):
    """Index one ingest batch: its (value, key) pairs merge into the
    postings table. NULL values are unindexable and skipped (a NULL
    probe can't equal anything). Exactly-once at the maintenance level,
    the same discipline as CDCPipeline (streaming/runner.py:131): a
    ``batch_id`` already on the index's ancestry returns None without
    launching a job — crash-recovery replays cost nothing. Even without
    a batch_id, redelivery folds to the identical index state (postings
    LWW onto themselves via the batch's own LSN column)."""
    if batch_id is not None and batch_id in index.committed_batch_ids():
        return None
    rows = (
        batch_df.where(F.col(col).isNotNull())
        .select(
            F.col(col).alias(IVAL),
            *[F.col(k) for k in base.merge_keys],
            F.col(lsn_col).cast("long").alias("lsn"),
        )
    )
    return merge_append(index, rows, batch_id=batch_id)


def index_backfill(index: LakeTable, base: LakeTable, col: str):
    """Enable an index on a table that already has data: index the
    CURRENT resolved state in one O(table) pass (paid once; every later
    batch is O(batch) via ``index_append``). Rows carry their stored
    ``_lsn`` so a later redelivery of an already-backfilled event still
    folds idempotently. The backfill's ledger id pins the snapshot it
    covered — re-running after a crash is a no-op."""
    from ..sources.lake import LSN_COL, TOMBSTONE_COL

    state = base.scan(include_internal=True)
    if TOMBSTONE_COL in state.columns:
        # include_internal exposes _lsn but also keeps tombstoned rows;
        # deleted keys need no postings (stale-but-sound either way)
        state = state.where(
            F.col(TOMBSTONE_COL).isNull() | ~F.col(TOMBSTONE_COL)
        )
    return index_append(
        index,
        base,
        state,
        col,
        lsn_col=LSN_COL,
        batch_id=f"backfill-v{base.version}",
    )


def lookup(
    index: LakeTable,
    base: LakeTable,
    col: str,
    values: list,
    max_keys: int = 100_000,
) -> DataFrame:
    """Exact live base rows WHERE ``col IN values``, touching only the
    files the index implicates. ``values`` is a bounded driver-side
    list (a point/IN lookup by definition); candidate keys are bounded
    by ``max_keys`` via ``join_pruned``'s loud guard."""
    spark = index.spark
    ival_type = index.schema()[IVAL].dataType
    probe = local_frame(
        spark, [(v,) for v in values], T.StructType([T.StructField(IVAL, ival_type)])
    )
    # postings for the requested values: bucket-pruned index point scan
    hits = index.join_pruned(probe, on=IVAL, how="semi", max_keys=max_keys)
    cand = hits.select(base.merge_keys[0]).distinct()
    # candidate keys cut the BASE file set (bucket + range + bloom),
    # then the predicate re-verifies — stale postings drop out here
    rows = base.join_pruned(cand, on=base.merge_keys[0], how="semi",
                            max_keys=max_keys)
    return rows.where(F.col(col).isin(values))
