"""Core driver-contract queries: the reference's relational/CDC/window
operator shapes (SURVEY.md §2) re-expressed Spark-first, each with an
exact DuckDB oracle.

Determinism rules used throughout (SURVEY.md §7.3):
- money sums go through DECIMAL(18,2) (inputs are 2-decimal by
  construction) so both engines sum exactly, then cast to double;
- float outputs are rounded (6 dp) on BOTH sides;
- every ranking has a total tiebreak;
- casts that diverge between engines (double→int) are made explicit
  (floor) in both.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import dedup_last_writer
from .spec import QuerySpec, table

DEC = "decimal(18,2)"
REGISTRY: dict[str, QuerySpec] = {}

def _tmpbase() -> str:
    """Per-PROCESS scratch base for staged-table scaffolds. The roots
    are deterministic per (tag, sf) so a process reuses its own staged
    tables across calls, but two processes (a pytest run and a driver
    sweep, say) must never share one: a rebuild rmtree's the directory
    out from under the other process's open snapshot."""
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"sparkgraft-run-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return d



def _reg(name: str, sql: str | None, note: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, sql, note)
        return fn

    return deco


def _msum(c: str):
    return F.sum(F.col(c).cast(DEC)).cast("double")


# ---------------------------------------------------------------- CDC core
@_reg(
    "lww_state",
    """
    SELECT user_id, event_type, value, ts AS last_ts, event_id AS last_event_id
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="last-writer-wins dedup: reference upsert semantics (floodscan.py:285-293)",
)
def lww_state(spark: SparkSession, sf: str) -> DataFrame:
    # project BEFORE dedup: pruning cannot reach inside the max_by struct
    ev = table(spark, sf, "events").select("user_id", "event_type", "value", "ts", "event_id")
    out = dedup_last_writer(ev, keys=("user_id", "event_type"), order_cols=("event_id",))
    return out.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
    )


@_reg(
    "partial_update_state",
    """
    WITH p AS (
      SELECT user_id, event_type, event_id,
             CASE WHEN event_id % 3 <> 0 THEN value END AS value,
             CASE WHEN event_id % 5 <> 0 THEN props END AS props,
             CASE WHEN event_id % 7 <> 0 THEN ts END AS ts
      FROM events
    ),
    w AS (
      SELECT user_id, event_type, event_id,
             last_value(value IGNORE NULLS) OVER win AS value,
             last_value(props IGNORE NULLS) OVER win AS props,
             last_value(ts IGNORE NULLS) OVER win AS ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM p
      WINDOW win AS (PARTITION BY user_id, event_type ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_type, value, props, ts,
           CAST(event_id AS BIGINT) AS last_lsn
    FROM w WHERE rn = 1
    """,
    note="partial-update merge engine (Apache Paimon merge-engine="
         "partial-update / Debezium partial-event analog): each non-key "
         "FIELD independently keeps its last non-null value by LSN, so "
         "a patch event updates only the fields it carries — vs row-LWW "
         "where the newest event erases fields it omits. The patch "
         "stream is derived deterministically (value absent when "
         "event_id%3=0, props %5, ts %7) identically on both sides. "
         "Plan: ONE hash agg with map-side partials — per column "
         "max_by(col, CASE WHEN col IS NOT NULL THEN lsn END) (max_by "
         "skips null orderings, so absent fields never compete); no "
         "window, no sort, no self-join — the oracle needs three "
         "IGNORE-NULLS windows to say the same thing "
         "(operators/dedup.partial_update_state)",
)
def partial_update_state(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import partial_update_state as _pus

    ev = table(spark, sf, "events")
    patch = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 3 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 5 != 0, F.col("props")).alias("props"),
        F.when(F.col("event_id") % 7 != 0, F.col("ts")).alias("ts"),
    )
    out = _pus(
        patch, keys=("user_id", "event_type"), order_col="event_id",
        patch_cols=("value", "props", "ts"),
    )
    return out.select(
        "user_id", "event_type", "value", "props", "ts",
        F.col("event_id").alias("last_lsn"),
    )


@_reg(
    "cdc_merge_full",
    """
    SELECT user_id, event_type, value, ts
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="the REAL engine in the gate: 3 incremental MERGEs must equal one-shot LWW",
)
def cdc_merge_full(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.merge import merge_into
    from ..sources.lake import LakeTable

    ev = table(spark, sf, "events").select("event_id", "user_id", "event_type", "value", "ts")
    # schema derived from the source so timestamp NTZ/LTZ flavor matches
    schema = T.StructType([f for f in ev.schema.fields if f.name != "event_id"])
    # query-lifetime table dir (keyed by input path) so the result can be
    # returned as a LAZY scan — no driver-side collect of the merged
    # table; the dir is rebuilt on each call and reclaimed by the OS tmp
    # reaper between sessions
    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-cdcmerge-{tag}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(
        spark, f"{root}/t", schema, merge_keys=("user_id", "event_type"), n_buckets=8
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3, hi]
    lo = -1
    for c in cuts:
        batch = ev.where((F.col("event_id") > lo) & (F.col("event_id") <= c))
        merge_into(t, batch, lsn_col="event_id", target_rows_per_file=500_000)
        lo = c
    return t.scan().select("user_id", "event_type", "value", "ts")


@_reg(
    "lake_partial_update_merge",
    """
    WITH p AS (
      SELECT user_id, event_type, event_id,
             CASE WHEN event_id % 3 <> 0 THEN value END AS value,
             CASE WHEN event_id % 5 <> 0 THEN props END AS props,
             CASE WHEN event_id % 7 <> 0 THEN ts END AS ts
      FROM events
    ),
    w AS (
      SELECT user_id, event_type, event_id,
             last_value(value IGNORE NULLS) OVER win AS value,
             last_value(props IGNORE NULLS) OVER win AS props,
             last_value(ts IGNORE NULLS) OVER win AS ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM p
      WINDOW win AS (PARTITION BY user_id, event_type ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_type, value, props, ts
    FROM w WHERE rn = 1
    """,
    note="partial-update merge engine ON THE LAKE PATH (the persistence "
         "twin of partial_update_state — Paimon merge-engine="
         "partial-update with sequence-field): the SAME deterministic "
         "patch stream is ingested as 3 LSN-split merge_append batches "
         "into a merge_engine='partial-update' LakeTable with a MAJOR "
         "COMPACTION between batches 2 and 3, then scanned back. Every "
         "data file carries per-field LSN columns (_flsn_<col>), the "
         "per-batch fold is fused into the one-shuffle write stage, the "
         "MOR scan folds field-granularly, and compaction folds "
         "physically — so patches MERGE per-field ACROSS commits and "
         "across the compaction boundary. Oracle is identical to "
         "partial_update_state: persistence must not change the fold "
         "(sources/lake.py scan PU resolve; operators/compact.py "
         "merge_append PU branch).",
)
def lake_partial_update_merge(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.compact import compact, merge_append
    from ..sources.lake import LakeTable

    ev = table(spark, sf, "events")
    patch = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 3 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 5 != 0, F.col("props")).alias("props"),
        F.when(F.col("event_id") % 7 != 0, F.col("ts")).alias("ts"),
    )
    schema = T.StructType([f for f in patch.schema.fields if f.name != "event_id"])
    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-pumerge-{tag}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(
        spark, f"{root}/t", schema, merge_keys=("user_id", "event_type"),
        n_buckets=8, merge_engine="partial-update",
    )
    hi = patch.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3, hi]
    lo = -1
    for i, c in enumerate(cuts):
        batch = patch.where((F.col("event_id") > lo) & (F.col("event_id") <= c))
        merge_append(t, batch, lsn_col="event_id", target_rows_per_file=500_000)
        if i == 1:  # fold per-field state physically mid-stream
            compact(t, min_files_per_bucket=1)
        lo = c
    return t.scan().select("user_id", "event_type", "value", "props", "ts")


def _staged_events_table(
    spark: SparkSession, sf: str, tag: str, stat_cols: tuple = (),
    partition_by: str | None = None, key_bloom_bits: int = 0,
    evolve_to: str | None = None,
):
    """Build a MOR lake table from `events` in 3 LSN-ordered batches
    (thirds of event_id), returning (table, [version after each batch]).
    Shared scaffold for the change-feed / time-travel / incremental-rollup
    contract queries; the directory is per-(sf, tag) and rebuilt per call
    so each query is self-contained and deterministic.

    ``evolve_to``: run ``set_partition_spec(evolve_to)`` before the LAST
    batch, so the table holds files written under BOTH specs (partition
    evolution coverage)."""
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.compact import merge_append
    from ..sources.lake import LakeTable

    ev = table(spark, sf, "events").select("event_id", "user_id", "event_type", "value", "ts")
    schema = T.StructType([f for f in ev.schema.fields if f.name != "event_id"])
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-{tag}-{h}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(
        spark, f"{root}/t", schema, merge_keys=("user_id", "event_type"),
        n_buckets=8, stat_cols=stat_cols, partition_by=partition_by,
        key_bloom_bits=key_bloom_bits,
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3, hi]
    lo = -1
    versions = [t.version]  # creation snapshot, then one per batch
    for i, c in enumerate(cuts):
        if evolve_to is not None and i == len(cuts) - 1:
            t.set_partition_spec(evolve_to)
        batch = ev.where((F.col("event_id") > lo) & (F.col("event_id") <= c))
        merge_append(t, batch, lsn_col="event_id", target_rows_per_file=500_000)
        versions.append(t.version)
        lo = c
    return t, versions


_STAGED_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _staged_events_table_shared(
    spark: SparkSession, sf: str, stat_cols: tuple = ("ts",),
    partition_by: str | None = None,
):
    """Memoized _staged_events_table for READ-ONLY consumers.

    Five registry queries (change feed, time travel, incremental
    rollup's base, time-range scan, point lookup) stage the identical
    3-batch MOR table from `events` and never mutate it afterwards —
    per-call rebuilds made that scaffold most of their wall time
    (VERDICT r3 item 6). One staged table per (session, sf, stat_cols,
    partition_by) is built on first use and reused; mutating consumers
    (DML, retention drop, schema DDL, compaction policies) keep their
    private per-call rebuilds. Keyed on the session OBJECT via a
    WeakKeyDictionary — no id() aliasing after GC, and a torn-down
    session drops its entries automatically (the same fix as
    contract_docs._SHINGLE_CACHE). A version guard rebuilds if anything
    ever advanced the cached table's HEAD."""
    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = (sf, tuple(stat_cols), partition_by)
    hit = per.get(key)
    if hit is not None:
        t, versions = hit
        if t.version == versions[-1]:
            return t, versions
    tag = "ro" + ("p" if partition_by else "") + ("s" if stat_cols else "")
    # manifest key blooms on the shared staged table: exercised (as an
    # integral-key bloom over user_id) by every point_lookup_lake run —
    # pruning is transparent to results, so all consumers stay oracle-exact
    t, versions = _staged_events_table(
        spark, sf, tag, stat_cols=stat_cols, partition_by=partition_by,
        key_bloom_bits=1 << 13,
    )
    per[key] = (t, versions)
    return t, versions


@_reg(
    "cdc_change_feed",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events),
    b3 AS (
      SELECT user_id, event_type, value, ts, event_id
      FROM events, h WHERE event_id > cut
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    prior AS (SELECT DISTINCT user_id, event_type FROM events, h WHERE event_id <= cut)
    SELECT b3.user_id, b3.event_type, b3.value, b3.ts,
           b3.event_id AS change_lsn,
           CASE WHEN p.user_id IS NULL THEN 'insert' ELSE 'update' END AS change_type
    FROM b3 LEFT JOIN prior p
      ON b3.user_id = p.user_id AND b3.event_type = p.event_type
    """,
    note="Iceberg CDF analog: snapshot-diff change feed between two commits "
         "(metadata bucket pruning + one key-partitioned diff join); the "
         "reference's changed-(iso3,date) incremental detection "
         "(floodscan.py:196-213) as a first-class table API",
)
def cdc_change_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Apply 3 MOR batches, then read the row-level changes the third
    batch caused: scan_changes(v_after_batch2, v_after_batch3)."""
    t, versions = _staged_events_table_shared(spark, sf)
    return t.scan_changes(versions[2], versions[3]).select(
        "user_id", "event_type", "value", "ts", "change_lsn", "change_type"
    )


@_reg(
    "change_feed_subscription",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events),
    b3 AS (
      SELECT user_id, event_type, value, ts, event_id
      FROM events, h WHERE event_id > cut
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    prior AS (SELECT DISTINCT user_id, event_type FROM events, h WHERE event_id <= cut)
    SELECT b3.user_id, b3.event_type, b3.value, b3.ts,
           b3.event_id AS change_lsn,
           CASE WHEN p.user_id IS NULL THEN 'insert' ELSE 'update' END AS change_type
    FROM b3 LEFT JOIN prior p
      ON b3.user_id = p.user_id AND b3.event_type = p.event_type
    """,
    note="durable change-feed SUBSCRIPTION (sources/feed.py FeedCursor — "
         "the consumer-group analog, the pull twin of the Debezium "
         "export): a per-consumer cursor file (fsync+rename atomic, "
         "same discipline as table HEADs) advances ONLY on ack, so a "
         "crashed consumer re-polls the identical window and falling "
         "behind retention raises FeedLagError instead of silently "
         "skipping; here the consumer resets to the post-batch-2 "
         "snapshot, polls one window to head, acks, and a SECOND "
         "cursor object (fresh process) must read position==head and "
         "poll None — the oracle is the cdc_change_feed SQL verbatim, "
         "so green proves the subscription delivers exactly the "
         "snapshot-diff feed",
)
def change_feed_subscription(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from ..sources.feed import FeedCursor

    t, versions = _staged_events_table_shared(spark, sf)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    d = os.path.join(_tmpbase(), f"sparkgraft-feedcur-{h}")
    shutil.rmtree(d, ignore_errors=True)
    cur = FeedCursor(d, "subscriber")
    cur.reset(versions[2])
    batch = cur.poll(t, to_version=versions[3])
    assert batch is not None
    batch.ack()
    # fresh-process check: a new cursor sees the acked position
    cur2 = FeedCursor(d, "subscriber")
    assert cur2.position() == versions[3]
    assert cur2.poll(t, to_version=versions[3]) is None
    return batch.df.select(
        "user_id", "event_type", "value", "ts", "change_lsn", "change_type"
    )


@_reg(
    "cdc_feed_envelope_roundtrip",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events),
    b3 AS (
      SELECT user_id, event_type, value, ts, event_id
      FROM events, h WHERE event_id > cut
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    prior AS (SELECT DISTINCT user_id, event_type FROM events, h WHERE event_id <= cut)
    SELECT b3.user_id, b3.event_type, b3.value, b3.ts,
           b3.event_id AS change_lsn,
           CASE WHEN p.user_id IS NULL THEN 'insert' ELSE 'update' END AS change_type
    FROM b3 LEFT JOIN prior p
      ON b3.user_id = p.user_id AND b3.event_type = p.event_type
    """,
    note="lake-as-a-source: the same snapshot-diff change feed EXPORTED "
         "as Debezium envelopes (sources/envelope.encode_debezium — one "
         "to_json projection, no shuffle) then decoded back "
         "(decode_debezium with op passthrough). The oracle is the "
         "cdc_change_feed SQL verbatim, so a green row proves the "
         "encode→decode loop reproduces the feed bit-for-bit — "
         "double/timestamp-micros/lsn/op all survive the wire — i.e. a "
         "downstream engine instance can tail THIS lake exactly as this "
         "engine tails an upstream WAL",
)
def cdc_feed_envelope_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources.envelope import decode_debezium, encode_debezium

    t, versions = _staged_events_table_shared(spark, sf)
    feed = t.scan_changes(versions[2], versions[3]).select(
        "user_id", "event_type", "value", "ts", "change_lsn", "change_type"
    )
    wire = encode_debezium(
        feed, ["user_id", "event_type", "value", "ts"],
        db="bench", table="events",
    )
    payload = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.LongType()),  # MicroTimestamp
        ]
    )
    dec = decode_debezium(wire, "value", payload, op_col_out="_op")
    return dec.where(~F.col("_corrupt")).select(
        "user_id",
        "event_type",
        "value",
        F.timestamp_micros(F.col("ts")).cast("timestamp_ntz").alias("ts"),
        F.col("_lsn").alias("change_lsn"),
        F.when(F.col("_op") == "c", F.lit("insert"))
        .when(F.col("_op") == "u", F.lit("update"))
        .otherwise(F.lit("delete"))
        .alias("change_type"),
    )


def _staged_secondary_index_shared(spark: SparkSession, sf: str):
    """(base table, value-index) pair: the shared read-only staged MOR
    table plus a secondary index over its ``value`` column, maintained
    batch-by-batch exactly as at-ingest maintenance would (same thirds,
    same LSNs). Memoized like the scaffold — both are read-only here."""
    from ..operators import secondary_index as sx

    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = (sf, "secidx")
    hit = per.get(key)
    if hit is not None:
        t, idx = hit
        if idx.version == idx.current()["version"]:
            return t, idx
    t, _versions = _staged_events_table_shared(spark, sf)
    import hashlib
    import shutil
    import tempfile

    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-secidx-{h}")
    shutil.rmtree(root, ignore_errors=True)
    idx = sx.create_index(spark, f"{root}/idx", t, "value", n_buckets=8)
    ev = table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    lo = -1
    for c in [hi // 3, 2 * hi // 3, hi]:
        batch = ev.where((F.col("event_id") > lo) & (F.col("event_id") <= c))
        sx.index_append(idx, t, batch, "value", lsn_col="event_id")
        lo = c
    per[key] = (t, idx)
    return t, idx


@_reg(
    "secondary_index_lookup",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    ),
    probes AS (
      SELECT DISTINCT value AS v FROM s
      WHERE user_id % 41 = 3 AND value IS NOT NULL
    )
    SELECT s.user_id, s.event_type, s.value, s.ts
    FROM s JOIN probes p ON s.value = p.v
    """,
    note="Secondary index on a NON-key column (Hudi record-level/"
         "secondary-index analog, operators/secondary_index.py): a "
         "postings lake table (ival, user_id, event_type) bucketed on "
         "the indexed value, maintained per ingest batch (O(batch) "
         "rows, idempotent under redelivery). Lookup is prune-then-"
         "verify: bucket-pruned index point scan -> candidate keys cut "
         "the BASE file set (bucket+range+bloom via join_pruned) -> "
         "predicate re-verified on survivors, so stale postings from "
         "later overwrites only cost candidates, never correctness. "
         "Without it a value-equality lookup scans O(table) at 10^10 "
         "rows. Probe values are drawn deterministically from the LWW "
         "state (user_id % 41 = 3) so every probe is live and the "
         "result set is substantive; value collisions across other "
         "keys are part of the answer on both sides. Oracle: the LWW "
         "state equi-joined to the same probe values",
)
def secondary_index_lookup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import secondary_index as sx

    t, idx = _staged_secondary_index_shared(spark, sf)
    values = [
        r[0]
        for r in t.scan()
        .where((F.col("user_id") % 41 == 3) & F.col("value").isNotNull())
        .select("value").distinct().collect()
    ]
    return sx.lookup(idx, t, "value", values).select(
        "user_id", "event_type", "value", "ts"
    )


@_reg(
    "time_travel_scan",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events)
    SELECT user_id, event_type, value, ts
    FROM events, h WHERE event_id <= cut
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="snapshot time travel: scan(version=v) of a retained historical "
         "snapshot is a pure metadata operation (the old file list), no "
         "data rewrite — Iceberg VERSION AS OF analog over the same "
         "bucketed scan path",
)
def time_travel_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Apply 3 MOR batches, then scan the table AS OF the snapshot after
    batch 2 — the live LWW state over the first two-thirds of the log."""
    t, versions = _staged_events_table_shared(spark, sf)
    return t.scan(version=versions[2]).select("user_id", "event_type", "value", "ts")


@_reg(
    "incremental_rollup_refresh",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id,
           COUNT(*) AS n_types,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_value,
           MAX(ts) AS last_ts
    FROM s GROUP BY user_id
    """,
    note="changed-groups-only materialized rollup maintenance: the "
         "reference's recompute-only-changed-(iso3,date) semantics "
         "(floodscan.py:196-213) lifted to derived aggregate tables — "
         "each refresh reads the snapshot-diff change feed, recomputes "
         "only touched groups, and MERGEs them into the derived table; "
         "after 3 incremental refreshes the derived state must equal a "
         "full recompute (this oracle)",
)
def incremental_rollup_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Maintain a per-user rollup incrementally across the 3 staged
    batches; return the derived table's final state."""
    import shutil

    from pyspark.sql import types as T

    from ..operators.incremental import refresh_rollup
    from ..sources.lake import LakeTable

    t, versions = _staged_events_table_shared(spark, sf)
    # the BASE is shared (read-only here); the derived table is rebuilt
    # per call — the shared root is no longer rmtree'd, so clear it
    derived_dir = os.path.join(os.path.dirname(t.path), "rollup")
    shutil.rmtree(derived_dir, ignore_errors=True)
    derived = LakeTable.create(
        spark,
        derived_dir,
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("n_types", T.LongType()),
                T.StructField("total_value", T.DoubleType()),
                T.StructField("last_ts", T.TimestampType()),
            ]
        ),
        merge_keys=("user_id",),
        n_buckets=4,
    )
    aggs = lambda: [  # noqa: E731
        F.count("*").alias("n_types"),
        F.round(_msum("value"), 6).alias("total_value"),
        F.max("ts").cast("timestamp").alias("last_ts"),
    ]
    prev = versions[0]
    for v in versions[1:]:
        refresh_rollup(t, derived, ("user_id",), aggs, from_version=prev, to_version=v)
        prev = v
    return derived.scan().select("user_id", "n_types", "total_value", "last_ts")


@_reg(
    "incremental_join_refresh",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    d AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 5 = 0 THEN 'vip'
                  ELSE 't' || CAST(user_id % 4 AS VARCHAR) END AS tier
      FROM events WHERE user_id % 13 <> 0
    )
    SELECT s.user_id, s.event_type, s.value, s.ts, d.tier
    FROM s JOIN d ON s.user_id = d.user_id
    """,
    note="incremental join-view maintenance: the reference recomputes its "
         "fact-to-admin-hierarchy enrichment join from scratch before every "
         "upsert (floodscan.py:256-258); here derived = fact JOIN dim is "
         "itself a lake table advanced from BOTH tables' snapshot-diff "
         "change feeds by the n:1 IVM delta rule (dV = dL JOIN R, plus "
         "L semi-joined to dR for dim-update fanout) — three interleaved "
         "fact batches x dim insert/update/delete, final view state must "
         "equal the full join of both live states (this oracle)",
)
def incremental_join_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Maintain fact⋈dim incrementally: 3 staged fact batches interleaved
    with dim bootstrap / tier updates / user deletes; return the final
    view state."""
    import shutil

    from pyspark.sql import types as T

    from ..operators.incremental import refresh_join
    from ..operators.merge import merge_into
    from ..sources.lake import LakeTable

    t, versions = _staged_events_table_shared(spark, sf)
    root = os.path.dirname(t.path)
    dim_dir, view_dir = os.path.join(root, "jdim"), os.path.join(root, "jview")
    shutil.rmtree(dim_dir, ignore_errors=True)
    shutil.rmtree(view_dir, ignore_errors=True)
    dim = LakeTable.create(
        spark, dim_dir,
        T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("tier", T.StringType()),
        ]),
        merge_keys=("user_id",), n_buckets=4,
    )
    view = LakeTable.create(
        spark, view_dir,
        T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tier", T.StringType()),
        ]),
        merge_keys=("user_id", "event_type"), n_buckets=8,
    )
    users = table(spark, sf, "events").select("user_id").distinct()
    dim_batches = [
        users.select(
            F.lit(1).cast("long").alias("lsn"), "user_id",
            F.concat(F.lit("t"), (F.col("user_id") % 4).cast("string")).alias("tier"),
            F.lit("U").alias("op"),
        ),
        users.where(F.col("user_id") % 5 == 0).select(
            F.lit(2).cast("long").alias("lsn"), "user_id",
            F.lit("vip").alias("tier"), F.lit("U").alias("op"),
        ),
        users.where(F.col("user_id") % 13 == 0).select(
            F.lit(3).cast("long").alias("lsn"), "user_id",
            F.lit(None).cast("string").alias("tier"), F.lit("D").alias("op"),
        ),
    ]
    project = lambda: [  # noqa: E731
        F.col("value"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("tier"),
    ]
    lv, rv = versions[0], dim.version
    for fact_v, dbatch in zip(versions[1:], dim_batches):
        merge_into(dim, dbatch, op_col="op", batch_id=f"dim-{fact_v}")
        st = refresh_join(
            t, dim, view, ("user_id",), project,
            from_versions=(lv, rv), to_versions=(fact_v, dim.version),
        )
        lv, rv = st.to_versions
    return view.scan().select("user_id", "event_type", "value", "ts", "tier")


@_reg(
    "read_optimized_scan",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events),
    ro AS (
      SELECT user_id, event_type, value, ts FROM events, h WHERE event_id <= cut
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    rt AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT 'ro' AS side, user_id, event_type, value, ts FROM ro
    UNION ALL
    SELECT 'rt' AS side, user_id, event_type, value, ts FROM rt
    """,
    note="read-optimized vs real-time scan (Hudi RO/RT query-type "
         "analog): after 2 MOR batches + a major compaction + a 3rd "
         "delta batch, scan_read_optimized reads ONLY base files — no "
         "MOR fold, pure columnar scan — and must equal the LWW state "
         "as of the compaction (first two thirds of the log), while the "
         "default scan resolves the full state; both sides come from "
         "the SAME table object in one query",
)
def read_optimized_scan(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.compact import compact, merge_append
    from ..sources.lake import LakeTable

    ev = table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    schema = T.StructType([f for f in ev.schema.fields if f.name != "event_id"])
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-roscan-{h}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(
        spark, f"{root}/t", schema, merge_keys=("user_id", "event_type"),
        n_buckets=8,
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cut = 2 * hi // 3
    merge_append(t, ev.where(F.col("event_id") <= cut // 2),
                 lsn_col="event_id", target_rows_per_file=500_000)
    merge_append(t, ev.where((F.col("event_id") > cut // 2)
                             & (F.col("event_id") <= cut)),
                 lsn_col="event_id", target_rows_per_file=500_000)
    compact(t, min_files_per_bucket=1)
    merge_append(t, ev.where(F.col("event_id") > cut),
                 lsn_col="event_id", target_rows_per_file=500_000)
    cols = ["user_id", "event_type", "value", "ts"]
    ro = t.scan_read_optimized().select(F.lit("ro").alias("side"), *cols)
    rt = t.scan().select(F.lit("rt").alias("side"), *cols)
    return ro.unionByName(rt)


@_reg(
    "timerange_scan",
    """
    WITH b AS (SELECT min(ts) + INTERVAL 10 DAY AS lo,
                      min(ts) + INTERVAL 20 DAY AS hi FROM events),
    s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT s.user_id, s.event_type, s.value, s.ts FROM s, b
    WHERE s.ts BETWEEN b.lo AND b.hi
    """,
    note="non-key file skipping: per-file (min,max) stats on a "
         "configured stat column (ts) live in the snapshot manifest; a "
         "time-bounded read opens only overlapping files on resolved "
         "snapshots, and on MOR snapshots the overlapping set is closed "
         "under same-bucket key-range overlap so unresolved deltas can "
         "never resurrect stale versions (LakeTable.scan_range + "
         "_key_closure)",
)
def timerange_scan(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches with ts file stats, then a 10-day time-bounded
    range read of the LWW state."""
    import datetime as dt

    t, _versions = _staged_events_table_shared(spark, sf)
    mn = table(spark, sf, "events").agg(F.min("ts")).collect()[0][0]
    lo, hi = mn + dt.timedelta(days=10), mn + dt.timedelta(days=20)
    return t.scan_range("ts", lo, hi).select("user_id", "event_type", "value", "ts")


def _clustered_events_table_shared(spark: SparkSession, sf: str):
    """Memoized staged table rewritten by ``cluster_rewrite(by=("ts",))``.

    Built once per (session, sf): the 3-batch MOR scaffold, then the
    sort-order clustering rewrite. Read-only afterwards (version guard
    rebuilds if anything advanced HEAD), so it shares the
    ``_STAGED_CACHE`` discipline of the other read-only scaffolds."""
    from ..operators.compact import cluster_rewrite

    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = ("clustered", sf)
    hit = per.get(key)
    if hit is not None:
        t, ver = hit
        if t.version == ver:
            return t
    t, _versions = _staged_events_table(spark, sf, "clust", stat_cols=("ts",))
    cluster_rewrite(t, ("ts",), target_rows_per_file=500_000)
    per[key] = (t, t.version)
    return t


@_reg(
    "clustered_range_scan",
    """
    WITH b AS (SELECT min(ts) + INTERVAL 10 DAY AS lo,
                      min(ts) + INTERVAL 20 DAY AS hi FROM events),
    s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT s.user_id, s.event_type, s.value, s.ts FROM s, b
    WHERE s.ts BETWEEN b.lo AND b.hi
    """,
    note="sort-order data clustering (Iceberg rewrite_data_files sort "
         "strategy / Delta OPTIMIZE linear-order analog): ingest-order "
         "files all span the table's full ts range, so every bounded "
         "read opens every file; cluster_rewrite resolves the table "
         "through ONE sampled range exchange (repartitionByRange on "
         "bucket + ts — Spark's global-sort machinery, no single-task "
         "funnel) and rewrites files covering near-disjoint ts ranges, "
         "after which the same 10-day read as timerange_scan opens "
         "O(matching) files via footer min/max stats with no key "
         "closure needed (the rewrite leaves a resolved snapshot); "
         "table state is byte-identical across the rewrite "
         "(operators/compact.cluster_rewrite)",
)
def clustered_range_scan(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches, cluster_rewrite(by=ts), then the 10-day bounded
    read — served by the clustered layout's tight per-file ts ranges."""
    import datetime as dt

    t = _clustered_events_table_shared(spark, sf)
    mn = table(spark, sf, "events").agg(F.min("ts")).collect()[0][0]
    lo, hi = mn + dt.timedelta(days=10), mn + dt.timedelta(days=20)
    return t.scan_range("ts", lo, hi).select("user_id", "event_type", "value", "ts")


def _zordered_events_table_shared(spark: SparkSession, sf: str):
    """Memoized staged table rewritten by
    ``cluster_rewrite(by=("ts", "user_id"), order="zorder")`` — the
    Morton-interleaved layout where every file is a compact rectangle in
    (ts, user_id)-space, so range reads on EITHER column independently
    prune files. Same ``_STAGED_CACHE`` discipline as the linear
    clustered scaffold."""
    from ..operators.compact import cluster_rewrite

    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = ("zordered", sf)
    hit = per.get(key)
    if hit is not None:
        t, ver = hit
        if t.version == ver:
            return t
    t, _versions = _staged_events_table(
        spark, sf, "zord", stat_cols=("ts", "user_id")
    )
    cluster_rewrite(
        t, ("ts", "user_id"), target_rows_per_file=500_000, order="zorder"
    )
    per[key] = (t, t.version)
    return t


@_reg(
    "zorder_multirange_scan",
    """
    WITH b AS (SELECT min(ts) + INTERVAL 10 DAY AS lo,
                      min(ts) + INTERVAL 13 DAY AS hi,
                      min(user_id) AS ulo FROM events),
    s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT s.user_id, s.event_type, s.value, s.ts FROM s, b
    WHERE s.ts BETWEEN b.lo AND b.hi
       OR s.user_id BETWEEN b.ulo AND b.ulo + 19
    """,
    note="z-order clustering (Delta OPTIMIZE ZORDER BY / Iceberg z-order "
         "rewrite analog): cluster_rewrite(order='zorder') interleaves "
         "the columns' normalized bit ranks into a Morton value (pure-"
         "JVM shift/mask expression over manifest-derived bounds, "
         "layout-only, dropped before write) and range-clusters on it, "
         "so every file becomes a compact rectangle in (ts, user_id)-"
         "space and a bounded read on EITHER column alone prunes files "
         "— linear order can only prune its leading column; the OR-"
         "predicate read is served as the key-dedup union of the two "
         "independently file-pruned scans, each exact because pruning "
         "rides the real per-file min/max envelopes, never the z-value "
         "(operators/compact._zvalue_column)",
)
def zorder_multirange_scan(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches, zorder rewrite on (ts, user_id), then an
    OR-of-ranges read: ts in a 3-day window OR user_id in a 20-id band,
    each side pruned independently by the z-ordered layout."""
    import datetime as dt

    t = _zordered_events_table_shared(spark, sf)
    row = table(spark, sf, "events").agg(
        F.min("ts").alias("mn"), F.min("user_id").alias("ulo")
    ).collect()[0]
    lo, hi = row["mn"] + dt.timedelta(days=10), row["mn"] + dt.timedelta(days=13)
    ulo = row["ulo"]
    keys = ("user_id", "event_type")
    a = t.scan_range("ts", lo, hi).where(F.col("ts").between(lo, hi))
    b = t.scan_range("user_id", ulo, ulo + 19).where(
        F.col("user_id").between(ulo, ulo + 19)
    )
    return (
        a.unionByName(b)
        .dropDuplicates(list(keys))
        .select("user_id", "event_type", "value", "ts")
    )


@_reg(
    "point_lookup_lake",
    """
    SELECT user_id, event_type, value, ts FROM events
    WHERE user_id IN (1, 2, 3, 4, 5, 6, 7, 8)
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="metadata-pruned point lookup on a MOR lake table: each key's "
         "bucket comes from the exact on-write hash and only files whose "
         "(bucket, min/max key range, manifest key bloom) can hold a "
         "requested key are opened — O(keys) metadata + O(matching "
         "files) I/O, the 'read one conversation out of 10^10 rows' "
         "path; the per-file bloom (key_bloom_bits at create) is what "
         "skips same-bucket delta files whose key RANGE overlaps but "
         "which cannot hold the key; LWW-complete under MOR because "
         "every version of a requested key shares its bucket and key "
         "value (LakeTable.prune_for_keys/lookup)",
)
def point_lookup_lake(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches, then lookup(user_ids 1..8) — resolved live rows
    read from the pruned file set only."""
    t, _versions = _staged_events_table_shared(spark, sf)
    return t.lookup(list(range(1, 9))).select(
        "user_id", "event_type", "value", "ts"
    )


@_reg(
    "runtime_filtered_join",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    d AS (
      SELECT user_id,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS dim_total
      FROM events GROUP BY user_id
      ORDER BY dim_total DESC, user_id LIMIT 10
    )
    SELECT s.user_id, s.event_type, s.value, s.ts, d.dim_total
    FROM s JOIN d ON s.user_id = d.user_id
    """,
    note="dim-driven dynamic file pruning (Delta dynamic-file-pruning / "
         "Iceberg runtime-filter analog): the dim side's distinct join "
         "keys (bounded, loud guard past max_keys) cut the lake table's "
         "file set by (bucket, footer key range, manifest key bloom) "
         "BEFORE Catalyst sees a scan — Spark's own DPP cannot reach "
         "inside a manifest-addressed table — then a broadcast hash "
         "join enriches only the surviving files' rows; exact under MOR "
         "because pruning is key-closed on requested keys and the "
         "equi-join discards partially-resolved bystander keys "
         "(LakeTable.join_pruned)",
)
def runtime_filtered_join(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches into the shared staged table; the dim is the top-10
    users by all-version total value — join_pruned scans only the files
    those 10 keys can live in and broadcast-joins the dim's total on."""
    t, _versions = _staged_events_table_shared(spark, sf)
    dim = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.round(_msum("value"), 6).alias("dim_total"))
        .orderBy(F.col("dim_total").desc(), "user_id")
        .limit(10)
    )
    return t.join_pruned(dim).select(
        "user_id", "event_type", "value", "ts", "dim_total"
    )


@_reg(
    "partition_pruned_scan",
    """
    WITH b AS (SELECT min(ts) + INTERVAL 10 DAY AS lo,
                      min(ts) + INTERVAL 20 DAY AS hi FROM events),
    s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT s.user_id, s.event_type, s.value, s.ts FROM s, b
    WHERE s.ts BETWEEN b.lo AND b.hi
    """,
    note="Iceberg partition-spec value partitioning (days(ts)) layered "
         "inside the hash buckets: writers split data files by exact "
         "partition value, a time-bounded read prunes files by partition "
         "(no stats envelope), and on MOR snapshots the pruned set is "
         "closed under same-bucket key-range overlap so LWW resolution "
         "stays exact (LakeTable.prune_for_range/_key_closure) — the "
         "engine analog of the reference's {iso3}/{date} blob layout "
         "(src/datasources/floodscan.py:346-352)",
)
def partition_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches into a days(ts)-partitioned table, then the same
    10-day bounded read as timerange_scan — served by partition values
    instead of min/max stats."""
    import datetime as dt

    t, _versions = _staged_events_table_shared(
        spark, sf, partition_by="days(ts)"
    )
    mn = table(spark, sf, "events").agg(F.min("ts")).collect()[0][0]
    lo, hi = mn + dt.timedelta(days=10), mn + dt.timedelta(days=20)
    return t.scan_range("ts", lo, hi).select("user_id", "event_type", "value", "ts")


@_reg(
    "partition_retention_drop",
    """
    WITH c AS (SELECT date_trunc('day', min(ts) + INTERVAL 15 DAY) AS cutoff
               FROM events),
    s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT s.user_id, s.event_type, s.value, s.ts FROM s, c
    WHERE date_trunc('day', s.ts) >= c.cutoff
    """,
    note="metadata-only retention drop: drop_partitions removes every "
         "data file whose days(ts) partition is below the cutoff by "
         "dropping manifest references — zero rows read or written, the "
         "cheap retention path value partitioning exists for at 100 TB; "
         "refused on unresolved MOR snapshots (stale-version "
         "resurrection), so the query majors-compacts first",
)
def partition_retention_drop(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches into a days(ts)-partitioned table, major-compact to
    a resolved snapshot, then drop all partitions older than 15 days
    past the corpus start and return the surviving live state."""
    import datetime as dt

    from ..operators.compact import compact

    t, _versions = _staged_events_table(
        spark, sf, "partdrop", partition_by="days(ts)"
    )
    compact(t, min_files_per_bucket=1)  # resolve -> drop is exact
    mn = table(spark, sf, "events").agg(F.min("ts")).collect()[0][0]
    cutoff = (mn + dt.timedelta(days=15)).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    t.drop_partitions(cutoff)
    return t.scan().select("user_id", "event_type", "value", "ts")


def _resolved_partitioned_events_table_shared(spark: SparkSession, sf: str):
    """Memoized days(ts)-partitioned staged table, MAJOR-compacted to a
    fully resolved snapshot (every bucket folded, min_files_per_bucket=1)
    so each live (user_id, event_type) appears in exactly ONE physical
    row — manifest row counts ARE the logical state. Read-only
    afterwards; same ``_STAGED_CACHE`` discipline as the other shared
    scaffolds."""
    from ..operators.compact import compact

    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = ("rpart", sf)
    hit = per.get(key)
    if hit is not None:
        t, ver = hit
        if t.version == ver:
            return t
    t, _versions = _staged_events_table(
        spark, sf, "rpart", stat_cols=("ts",), partition_by="days(ts)"
    )
    compact(t, min_files_per_bucket=1)
    per[key] = (t, t.version)
    return t


@_reg(
    "partition_stats_metadata",
    """
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM (
      SELECT user_id, event_type, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    )
    GROUP BY 1
    """,
    note="Iceberg `partitions` metadata-table analog: per-partition row "
         "counts answered from MANIFESTS ALONE — zero data-file I/O. "
         "Valid because the scaffold is major-compacted to a resolved "
         "snapshot (each live key = one physical row, every file's rows "
         "are counted once under its exact partition value), so the "
         "manifest sum per days(ts) partition equals the LWW state's "
         "per-day count; n_users still requires one partition-pruned "
         "columnar read of the single key column (distinct isn't "
         "manifest-derivable). At 10^10 rows the n_rows half of this "
         "query costs O(files) driver metadata, the production shape "
         "for freshness dashboards and retention planning.",
)
def partition_stats_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day partition stats: n_rows from the manifest (metadata only),
    n_users from a key-column-pruned scan grouped by partition day."""
    t = _resolved_partitioned_events_table_shared(spark, sf)
    meta = [(int(f.part), int(f.rows)) for f in t.files()]
    counts = (
        spark.createDataFrame(meta, "part_day int, rows long")
        .groupBy("part_day")
        .agg(F.sum("rows").cast("long").alias("n_rows"))
    )
    users = (
        t.scan()
        # same UTC epoch-day basis as the manifest's days(ts) transform
        # (_partition_transform_expr) — to_date(ts) would use the SESSION
        # timezone and desync the join under any non-UTC session
        .select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(86_400_000_000)
            ).cast("int").alias("part_day"),
            "user_id",
        )
        .groupBy("part_day")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )
    return (
        counts.join(users, "part_day")
        .select(
            F.date_from_unix_date("part_day").cast("timestamp").alias("day"),
            "n_rows",
            "n_users",
        )
    )


def _tombstoned_events_table_shared(spark: SparkSession, sf: str):
    """Memoized staged table with a MOR DELETE applied (user_id%10=3)
    and then MAJOR-compacted WITHOUT a tombstone watermark — so the
    resolved snapshot still holds one persisted tombstone row per
    deleted key (they must keep guarding against redelivery). The
    shape that makes metadata live-counts non-trivial: physical rows
    != live rows even on a resolved snapshot."""
    from ..operators.compact import compact
    from ..operators.dml import delete_where_mor

    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = ("metacnt", sf)
    hit = per.get(key)
    if hit is not None:
        t, ver = hit
        if t.version == ver:
            return t
    t, _versions = _staged_events_table(spark, sf, "metacnt")
    delete_where_mor(t, "user_id % 10 = 3")
    compact(t, min_files_per_bucket=1)  # resolve; tombstones persist
    per[key] = (t, t.version)
    return t


@_reg(
    "metadata_live_count",
    """
    WITH s AS (
      SELECT user_id, event_type FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    )
    SELECT CAST(SUM(CASE WHEN user_id % 10 <> 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN user_id % 10 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted
    FROM s
    """,
    note="tombstone-aware count(*) pushdown to manifests: after a MOR "
         "DELETE and a major compaction that keeps the delete markers "
         "(no tombstone watermark — they must keep guarding against "
         "redelivery), live and deleted counts are answered from the "
         "MANIFEST ALONE — n_live = sum(rows - tombstones), n_deleted "
         "= sum(tombstones); ZERO data-file I/O, O(files) driver time, "
         "and the query RAISES if the metadata path isn't available "
         "(unresolved snapshot / unknown tombstone count) rather than "
         "silently scanning — the 10^10-row freshness-counter shape "
         "(sources/lake.py DataFile.tombstones, count_rows)",
)
def metadata_live_count(spark: SparkSession, sf: str) -> DataFrame:
    """MOR delete of user_id%10=3 → tombstone-preserving major compact
    → live/deleted counts from manifest sums only."""
    t = _tombstoned_events_table_shared(spark, sf)
    assert not t.current().get("requires_resolve", False)
    fs = t.files()
    assert all(f.tombstones is not None for f in fs), "metadata path lost"
    n_live = sum(f.rows - f.tombstones for f in fs)
    n_deleted = sum(f.tombstones for f in fs)
    return spark.createDataFrame([(n_live, n_deleted)], "n_live long, n_deleted long")


@_reg(
    "metadata_minmax",
    """
    WITH s AS (
      SELECT ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    )
    SELECT CAST(min(ts) AS TIMESTAMP) AS min_ts,
           CAST(max(ts) AS TIMESTAMP) AS max_ts
    FROM s
    """,
    note="MIN/MAX aggregate pushdown to manifests (the Iceberg/Trino "
         "stats-based aggregate analog, sibling of metadata_live_count): "
         "on the major-compacted resolved scaffold every physical row is "
         "live and tombstone-free, so min/max(ts) is the fold of the "
         "manifest col_stats envelopes — ZERO data-file I/O, O(files) "
         "driver time, exact because compaction rewrote the stats over "
         "the RESOLVED rows; the query RAISES if the metadata path "
         "cannot prove the bounds (unresolved snapshot, tombstones, "
         "missing stats) rather than silently scanning "
         "(sources/lake.py col_bounds)",
)
def metadata_minmax(spark: SparkSession, sf: str) -> DataFrame:
    """min/max(ts) over resolved live state answered from manifest
    column stats alone."""
    t = _resolved_partitioned_events_table_shared(spark, sf)
    b = t.col_bounds("ts")
    assert b is not None, "metadata min/max path lost"
    return spark.createDataFrame([b], "min_ts timestamp, max_ts timestamp")


def _staged_docs_sum_table_shared(
    spark: SparkSession, sf: str, partitioned: bool = False
):
    """Memoized resolved lake table of (doc_id[, lang], n_chars) from
    the documents corpus, with ``n_chars`` as an integral stat col so
    the writer's streaming ``col_sums`` accumulate — the SUM-pushdown
    scaffold. ``partitioned`` adds identity(lang) value-partitioning for
    the per-partition fold. Staged in 3 hash-split merge_append batches
    + a major compaction; read-only afterwards (``_STAGED_CACHE``
    discipline)."""
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.compact import compact, merge_append
    from ..sources.lake import LakeTable

    per = _STAGED_CACHE.get(spark)
    if per is None:
        per = _STAGED_CACHE[spark] = {}
    key = ("docsum", sf, partitioned)
    hit = per.get(key)
    if hit is not None:
        t, ver = hit
        if t.version == ver:
            return t
    tag = "docsump" if partitioned else "docsum"
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-{tag}-{h}")
    shutil.rmtree(root, ignore_errors=True)
    fields = [T.StructField("doc_id", T.LongType(), False)]
    if partitioned:
        fields.append(T.StructField("lang", T.StringType(), True))
    fields.append(T.StructField("n_chars", T.IntegerType(), True))
    t = LakeTable.create(
        spark,
        os.path.join(root, "t"),
        T.StructType(fields),
        merge_keys=("doc_id",),
        n_buckets=4,
        stat_cols=("n_chars",),
        partition_by="lang" if partitioned else None,
    )
    cols = [F.col("doc_id")]
    if partitioned:
        cols.append(F.col("lang"))
    cols += [
        F.length("text").cast("int").alias("n_chars"),
        F.lit(1).cast("long").alias("lsn"),
        F.pmod(F.xxhash64("doc_id"), F.lit(3)).alias("_slice"),
    ]
    d = table(spark, sf, "documents").select(*cols)
    for i in range(3):
        merge_append(t, d.where(F.col("_slice") == i).drop("_slice"),
                     batch_id=f"{tag}-{i}")
    compact(t, min_files_per_bucket=1)
    per[key] = (t, t.version)
    return t


@_reg(
    "metadata_sum",
    """
    SELECT CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    """,
    note="SUM aggregate pushdown to manifests (the ADDITIVE sibling of "
         "metadata_live_count/metadata_minmax; Iceberg/Trino stats-based "
         "aggregate family): the writer accumulates exact per-file "
         "[sum, non_null] for INTEGRAL stat cols streaming over its "
         "Arrow batches (zero extra I/O — parquet footers store no "
         "sums), and on a resolved tombstone-free snapshot the corpus "
         "character count is the fold of those entries — ZERO data-file "
         "I/O, O(files) driver time, python-int exact. Float columns "
         "are refused (order-dependent addition could differ from a "
         "scan in the last ulp). At 100 TB this is 'how many tokens is "
         "the corpus' without touching a data file. The query RAISES if "
         "the metadata path is lost rather than silently scanning "
         "(sources/lake.py col_sum)",
)
def metadata_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Total corpus characters + live doc count from manifests alone."""
    t = _staged_docs_sum_table_shared(spark, sf)
    s = t.col_sum("n_chars")
    n = t.count_rows()
    assert s is not None and n is not None, "metadata SUM path lost"
    return spark.createDataFrame([(s, n)], "total_chars long, n_docs long")


@_reg(
    "quality_audit",
    """
    SELECT 'not_null(text)' AS expectation,
           CAST(COUNT(*) FILTER (WHERE text IS NULL) AS BIGINT) AS violations
    FROM documents
    UNION ALL
    SELECT 'in_range(n_chars,1,100000)',
           CAST(COUNT(*) FILTER (
             WHERE n_chars IS NOT NULL AND n_chars NOT BETWEEN 1 AND 100000
           ) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'matches(lang)',
           CAST(COUNT(*) FILTER (
             WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$')
           ) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'len_consistent',
           CAST(COUNT(*) FILTER (
             WHERE NOT coalesce(LENGTH(text) = n_chars, FALSE)
           ) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'unique_key',
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
    FROM documents
    """,
    note="data-quality expectation audit (the A of write-audit-publish; "
         "Iceberg WAP / Delta constraints / Great-Expectations-lite "
         "analog, operators/quality.py): not_null / in_range / regex / "
         "arbitrary-contract / unique-key expectations ALL fold into ONE "
         "aggregate pass (a conditional sum per expectation inside a "
         "single agg — plan-pinned: 4 expectations cost the exchanges of "
         "1), and publish_checked refuses the branch->main pointer swap "
         "while any violation exists, so main never exposes unaudited "
         "rows (pytest test_quality.py covers the refusal+repair WAP "
         "loop; this query value-checks the evaluation semantics, "
         "including null handling on every expectation kind)",
)
def quality_audit(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import quality as Q

    d = table(spark, sf, "documents")
    report = Q.audit_df(
        d,
        [
            Q.not_null("text"),
            Q.in_range("n_chars", 1, 100_000),
            Q.matches("lang", r"^[a-z]{2}$"),
            Q.satisfies("len_consistent", F.length("text") == F.col("n_chars")),
        ],
        keys=["doc_id"],
    )
    return spark.createDataFrame(
        [(k, v) for k, v in report.items()],
        "expectation string, violations long",
    )


@_reg(
    "analyze_stats_backfill",
    """
    SELECT CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    """,
    note="ANALYZE TABLE analog (operators/analyze.py): the corpus is "
         "staged into a table created WITHOUT stat columns, so its "
         "manifests carry no n_chars sums and col_sum() correctly "
         "answers None; set_stat_cols (one metadata commit) then ONE "
         "distributed stats pass over exactly the deficient files + ONE "
         "metadata-swap commit (same paths, no data rewritten) makes "
         "the manifest fold exact, and the query returns the "
         "post-analyze metadata answer. The adoption story at 100 TB: "
         "run analyze once after a stats-config change (or over an "
         "existing parquet estate) and every metadata-only answer "
         "(count_rows / col_sum / col_bounds / bloom point-lookup) "
         "lights up. The query RAISES if analyze failed to make the "
         "path provable",
)
def analyze_stats_backfill(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.analyze import analyze, set_stat_cols
    from ..operators.compact import compact, merge_append
    from ..sources.lake import LakeTable

    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-anlz-{h}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(
        spark,
        os.path.join(root, "t"),
        T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_chars", T.IntegerType(), True),
        ]),
        merge_keys=("doc_id",),
        n_buckets=4,
    )
    d = table(spark, sf, "documents").select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars"),
        F.lit(1).cast("long").alias("lsn"),
    )
    merge_append(t, d, batch_id="anlz-1")
    compact(t, min_files_per_bucket=1)
    assert t.col_sum("n_chars") is None, "untracked column can't prove sums"
    set_stat_cols(t, ("n_chars",))
    analyze(t)
    s = t.col_sum("n_chars")
    n = t.count_rows()
    assert s is not None and n is not None, "analyze failed to prove stats"
    return spark.createDataFrame([(s, n)], "total_chars long, n_docs long")


@_reg(
    "partition_sums_metadata",
    """
    SELECT lang,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
    note="Per-partition SUM fold from manifests alone (col_sum GROUP BY "
         "partition value — the additive completion of the partitions "
         "metadata-table family: partition_row_counts gave counts, this "
         "gives sums): on the identity(lang)-partitioned resolved "
         "scaffold every file belongs to exactly one lang, so 'how many "
         "characters of German' is a driver-side dict fold over "
         "DataFile.col_sums — zero data-file I/O at any corpus size; "
         "the per-lang doc counts ride partition_row_counts the same "
         "way. Sound under the union of both guard sets; RAISES if the "
         "metadata path is lost (sources/lake.py partition_col_sums)",
)
def partition_sums_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus character + doc counts from manifests alone."""
    t = _staged_docs_sum_table_shared(spark, sf, partitioned=True)
    sums = t.partition_col_sums("n_chars")
    counts = t.partition_row_counts()
    assert sums is not None and counts is not None, "metadata path lost"
    rows = [(p, s, counts.get(p, 0)) for p, s in sums.items()]
    return spark.createDataFrame(
        rows, "lang string, total_chars long, n_docs long"
    )


@_reg(
    "partition_evolution_scan",
    """
    WITH b AS (SELECT min(ts) + INTERVAL 10 DAY AS lo,
                      min(ts) + INTERVAL 40 DAY AS hi FROM events),
    s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT s.user_id, s.event_type, s.value, s.ts FROM s, b
    WHERE s.ts BETWEEN b.lo AND b.hi
    """,
    note="Iceberg partition EVOLUTION (ALTER TABLE ... SET PARTITION "
         "SPEC): two MOR batches land under days(ts), a metadata-only "
         "set_partition_spec('months(ts)') commit evolves the table, "
         "the third batch lands under months — NO file is rewritten; "
         "the bounded read then prunes every file under ITS OWN spec "
         "(DataFile.spec_id -> snapshot partition_specs), closed under "
         "same-bucket key-range overlap for exact LWW. At 100 TB this "
         "is how a too-granular daily spec coarsens without a rewrite; "
         "the next major compaction migrates rows it touches anyway",
)
def partition_evolution_scan(spark: SparkSession, sf: str) -> DataFrame:
    """days(ts) for 2 batches -> months(ts) for the last; a 30-day
    bounded read spans files of both specs."""
    import datetime as dt

    t, _versions = _staged_events_table(
        spark, sf, "partevo", partition_by="days(ts)", evolve_to="months(ts)"
    )
    mn = table(spark, sf, "events").agg(F.min("ts")).collect()[0][0]
    lo, hi = mn + dt.timedelta(days=10), mn + dt.timedelta(days=40)
    return t.scan_range("ts", lo, hi).select("user_id", "event_type", "value", "ts")


@_reg(
    "dml_delete_where",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type, value, ts FROM s WHERE NOT (value < 10)
    """,
    note="predicate DELETE (Iceberg DELETE FROM ... WHERE analog): "
         "bucket-granular copy-on-write — one planning pass finds "
         "buckets with live matches (collect bounded by n_buckets), only "
         "those are rewritten, untouched buckets carry by metadata "
         "reference; the GDPR-erasure path at 10^10 rows",
)
def dml_delete_where(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dml import delete_where

    t, _versions = _staged_events_table(spark, sf, "dmldel")
    delete_where(t, F.col("value") < 10)
    return t.scan().select("user_id", "event_type", "value", "ts")


@_reg(
    "dml_delete_matching",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type, value, ts FROM s WHERE user_id % 3 <> 0
    """,
    note="DELETE by key set (DELETE WHERE key IN (SELECT ...)): the "
         "realistic GDPR shape — erase a LIST of ids. Small key sets "
         "take the FILE-granular path: doomed files from prune_for_keys "
         "(bucket + range + manifest key bloom), rewritten verbatim-"
         "minus-doomed with no LWW fold, so erasing K conversations at "
         "10^10 rows rewrites O(K) files, not K buckets. Large key "
         "sets fall back to bucket-granular: touched buckets from "
         "hashing the key set itself (never a table scan), anti-join "
         "rewrite, key set stays distributed (AQE broadcasts when "
         "small). At sf0.01 this query runs the pointwise path; at "
         "sf0.1+ the bucket path — both driver-checked over rounds",
)
def dml_delete_matching(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dml import delete_matching

    t, _versions = _staged_events_table(
        spark, sf, "dmldelm", key_bloom_bits=1 << 13
    )
    doomed = (
        table(spark, sf, "events")
        .select("user_id")
        .where(F.col("user_id") % 3 == 0)
        .distinct()
    )
    delete_matching(t, doomed)
    return t.scan().select("user_id", "event_type", "value", "ts")


@_reg(
    "dml_update_where",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type,
           CASE WHEN value < 50 THEN value + 100 ELSE value END AS value, ts
    FROM s
    """,
    note="predicate UPDATE (Iceberg UPDATE ... SET analog): same "
         "bucket-granular rewrite; assignments see the pre-update row, "
         "LSNs kept so in-flight CDC events still order correctly",
)
def dml_update_where(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dml import update_where

    t, _versions = _staged_events_table(spark, sf, "dmlupd")
    update_where(t, F.col("value") < 50, {"value": F.col("value") + 100})
    return t.scan().select("user_id", "event_type", "value", "ts")


@_reg(
    "dml_mor_correction",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type,
           CASE WHEN value < 25 THEN value + 500 ELSE value END AS value, ts
    FROM s WHERE NOT (value >= 95)
    """,
    note="merge-on-read DML (Iceberg MOR table-mode analog): DELETE then "
         "UPDATE append per-matched-row correction deltas carrying the "
         "original LSN and a bumped _dml_seq sequence number; no bucket "
         "is rewritten — write cost is O(matched rows), the path for a "
         "broad correction over a 10^10-row table. Scan-time LWW "
         "resolves (lsn, seq) so corrections beat stored originals and "
         "exact redeliveries while newer CDC events beat corrections; a "
         "final compaction folds the deltas and physically erases the "
         "deleted rows, leaving the same visible state (this oracle)",
)
def dml_mor_correction(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from ..operators.compact import compact
    from ..operators.dml import delete_where_mor, update_where_mor

    # O(1) private mutating scaffold: zero-copy CLONE of the shared
    # memoized staged table (LakeTable.clone — Delta SHALLOW CLONE
    # analog) instead of a per-call 3-batch rebuild. The DML runs
    # against shared base files by reference; its deltas and the final
    # compaction write only under the clone's root.
    src, _versions = _staged_events_table_shared(spark, sf)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-dmlmor-{h}")
    shutil.rmtree(root, ignore_errors=True)
    t = src.clone(f"{root}/t")
    delete_where_mor(t, F.col("value") >= 95)
    update_where_mor(t, F.col("value") < 25, {"value": F.col("value") + 500})
    compact(t, min_files_per_bucket=1, tombstone_watermark_lsn=2**62)
    return t.scan().select("user_id", "event_type", "value", "ts")


@_reg(
    "clone_divergence",
    """
    WITH s AS (
      SELECT user_id, event_type, value FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    )
    SELECT 'source' AS side, event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM s GROUP BY 1, 2
    UNION ALL
    SELECT 'clone' AS side, event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM s WHERE NOT (value >= 50) GROUP BY 1, 2
    """,
    note="zero-copy table clone (LakeTable.clone — Delta SHALLOW CLONE "
         "/ Iceberg snapshot-ref analog): the clone of the shared staged "
         "MOR table is created by METADATA ONLY (absolute refs to the "
         "source's files, zero data copied, O(files) driver work at any "
         "table size), then a COW DELETE runs on the clone. The query "
         "returns per-type counts from BOTH sides: the source must be "
         "byte-identical to its pre-clone state (the delete rewrote "
         "shared-referenced files into clone-local ones and only "
         "dropped manifest references), the clone must show exactly the "
         "post-delete state (sources/lake.py clone; tests/test_clone.py)",
)
def clone_divergence(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from ..operators.dml import delete_where

    src, _versions = _staged_events_table_shared(spark, sf)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-clonediv-{h}")
    shutil.rmtree(root, ignore_errors=True)
    clone = src.clone(f"{root}/t")
    delete_where(clone, "value >= 50")
    src_counts = (
        src.scan().groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(F.lit("source").alias("side"), "event_type", "n_rows")
    )
    clone_counts = (
        clone.scan().groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(F.lit("clone").alias("side"), "event_type", "n_rows")
    )
    return src_counts.unionByName(clone_counts)


@_reg(
    "multi_table_txn",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    d AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM s WHERE NOT (value >= 50) GROUP BY event_type
    )
    SELECT 'clone' AS side, event_type, n_rows FROM d
    UNION ALL
    SELECT 'dim' AS side, event_type, n_rows FROM d
    """,
    note="multi-table transaction (sources/txn.py — branch-staged "
         "writes + one WAL intent + roll-forward recovery, the "
         "Iceberg/Nessie multi-table-commit analog): a DML DELETE on a "
         "cloned fact table and a summary table DERIVED FROM THE STAGED "
         "STATE are published together; the query reads BOTH tables "
         "after commit — green means the fact delete and its dependent "
         "summary became visible as one unit (per-type counts from the "
         "two tables must be identical, this oracle)",
)
def multi_table_txn(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.dml import delete_where
    from ..operators.merge import merge_into as _mi
    from ..sources.lake import LakeTable
    from ..sources.txn import MultiTableTransaction

    src, _versions = _staged_events_table_shared(spark, sf)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-txn-{h}")
    shutil.rmtree(root, ignore_errors=True)
    clone = src.clone(f"{root}/t")
    dim = LakeTable.create(
        spark, f"{root}/d",
        T.StructType([
            T.StructField("event_type", T.StringType()),
            T.StructField("n_rows", T.LongType()),
        ]),
        merge_keys=("event_type",), n_buckets=2,
    )
    txn = MultiTableTransaction(f"{root}/wal")
    bclone, bdim = txn.stage(clone), txn.stage(dim)
    delete_where(bclone, "value >= 50")
    summary = (
        bclone.scan().groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(F.lit(1).cast("long").alias("lsn"), "event_type", "n_rows")
    )
    _mi(bdim, summary, batch_id="txn-summary")
    txn.commit()
    c = (
        clone.scan().groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(F.lit("clone").alias("side"), "event_type", "n_rows")
    )
    d = dim.scan().select(F.lit("dim").alias("side"), "event_type", "n_rows")
    return c.unionByName(d)


@_reg(
    "gdpr_erase_cascade",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type, value, ts FROM s
    WHERE user_id % 17 <> 0 AND event_type IN ('click', 'purchase')
    """,
    note="GDPR erase cascade (operators/erase.py): erase a user list "
         "from a cloned staged table AND its secondary index in one "
         "call — base files pruned by bucket+range+bloom, index posting "
         "files pruned by per-file user_id stats, every rewrite "
         "verbatim-minus-doomed, then expire_snapshots physically "
         "deletes the replaced files so time travel cannot resurrect "
         "the erased rows; the returned rows are served THROUGH the "
         "index lookup path post-erase (prune-then-verify), proving "
         "the index stayed consistent under the cascade",
)
def gdpr_erase_cascade(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from ..operators import secondary_index as sx
    from ..operators.erase import erase_cascade

    src, _versions = _staged_events_table_shared(spark, sf)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-erase-{h}")
    shutil.rmtree(root, ignore_errors=True)
    clone = src.clone(f"{root}/t")
    idx = sx.create_index(spark, f"{root}/ix", clone, "event_type")
    sx.index_backfill(idx, clone, "event_type")
    doomed = [
        r.user_id
        for r in table(spark, sf, "events")
        .where(F.col("user_id") % 17 == 0)
        .select("user_id").distinct().collect()
    ]
    erase_cascade(clone, doomed, sidecars={"ix": (idx, "user_id")},
                  expire_keep_last=1)
    return sx.lookup(idx, clone, "event_type", ["click", "purchase"]).select(
        "user_id", "event_type", "value", "ts"
    )


@_reg(
    "table_maintenance",
    """
    SELECT user_id, event_type, value, ts FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="one-shot metadata-driven maintenance (operators/maintain.py — "
         "the OPTIMIZE + ANALYZE + VACUUM triplet planned from manifests "
         "alone): on a clone of the 3-batch MOR staged table the planner "
         "reads zero data to decide major-vs-minor compaction, stats "
         "backfill and snapshot expiry, then runs them in dependency "
         "order; the scanned state afterwards must be byte-identical to "
         "the full LWW state (this oracle), RO lag must be 0, and a "
         "second cycle must plan nothing (pytest test_maintain.py)",
)
def table_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from ..operators.maintain import MaintenancePolicy, run_maintenance

    src, _versions = _staged_events_table_shared(spark, sf)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-maint-{h}")
    shutil.rmtree(root, ignore_errors=True)
    clone = src.clone(f"{root}/t")
    run_maintenance(clone, MaintenancePolicy(compact_at_files=1,
                                             keep_snapshots=1))
    return clone.scan().select("user_id", "event_type", "value", "ts")


@_reg(
    "schema_evolution_merge",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events),
    s AS (
      SELECT user_id, event_type,
             CASE WHEN event_id <= cut
                  THEN CAST(CAST(value AS REAL) AS DOUBLE)  -- written as float pre-widen
                  ELSE value END AS value,
             ts,
             CASE WHEN event_id > cut THEN props END AS props
      FROM events, h
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type, value, ts, props FROM s
    """,
    note="automatic mid-stream schema evolution applied before the merge "
         "(north_rule): batches 1-2 write value as FLOAT with no props "
         "column; batch 3 arrives with value DOUBLE (type widen) and a "
         "new props column (add-column). The final scan reads all three "
         "batches under the evolved schema — pre-widen rows surface at "
         "float precision cast up, pre-add rows surface NULL props — "
         "exactly Iceberg UpdateSchema-then-MERGE semantics",
)
def schema_evolution_merge(spark: SparkSession, sf: str) -> DataFrame:
    """3 MOR batches with a type-widen + add-column between batches 2
    and 3; return the final scan under the evolved schema."""
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.compact import merge_append
    from ..sources.lake import LakeTable

    ev = table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value", "ts", "props"
    )
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-schemaevo-{h}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(
        spark,
        f"{root}/t",
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.FloatType()),  # pre-widen type
                T.StructField("ts", next(f for f in ev.schema.fields if f.name == "ts").dataType),
            ]
        ),
        merge_keys=("user_id", "event_type"),
        n_buckets=8,
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3, hi]
    lo = -1
    for i, c in enumerate(cuts):
        batch = ev.where((F.col("event_id") > lo) & (F.col("event_id") <= c))
        if i < 2:  # original schema: float value, no props
            batch = batch.withColumn("value", F.col("value").cast("float")).drop("props")
        merge_append(t, batch, lsn_col="event_id", target_rows_per_file=500_000)
        lo = c
    return t.scan().select(
        "user_id", "event_type", F.col("value").cast("double").alias("value"), "ts", "props"
    )


@_reg(
    "schema_rename_drop",
    """
    WITH s AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type, value AS amount FROM s
    """,
    note="metadata-only column RENAME + DROP (Iceberg ALTER TABLE "
         "analog): zero file rewrites — a rename-chain record maps every "
         "pre-rename file's column forward at scan (field-ID-mapping "
         "analog), and a drop tombstones the name so a later same-name "
         "re-add can never resurrect pre-drop values; batches written "
         "after the rename use the new name and merge with old files",
)
def schema_rename_drop(spark: SparkSession, sf: str) -> DataFrame:
    t, _versions = _staged_events_table(spark, sf, "schemaddl")
    t.rename_column("value", "amount")
    t.drop_column("ts")
    return t.scan().select("user_id", "event_type", "amount")


@_reg(
    "anti_join_new_keys",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    note="update detection: anti-join of discovered vs processed (floodscan.py:196-202)",
)
def anti_join_new_keys(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_reg(
    "semi_join_members",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    note="membership semi-join + IN-list (codab.py:29-31, database.py:106-110)",
)
def semi_join_members(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    )
    o = table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------- aggregation
@_reg(
    "zonal_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    note="zonal sum / partial agg with pushed-down date filter (floodscan.py:242-247)",
)
def zonal_rollup(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").where(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _msum("l_quantity").alias("sum_qty"),
        _msum("l_extendedprice").alias("sum_price"),
        F.count("*").alias("n_rows"),
    )


@_reg(
    "hierarchy_rollup",
    """
    WITH base AS (
      SELECT r.r_name, n.n_name, CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    )
    SELECT '0' AS adm_level, r_name AS pcode, CAST(SUM(price) AS DOUBLE) AS total FROM base GROUP BY r_name
    UNION ALL
    SELECT '1', n_name, CAST(SUM(price) AS DOUBLE) FROM base GROUP BY n_name
    """,
    note="hierarchical rollup at N grains with literal level column (floodscan.py:263-281)",
)
def hierarchy_rollup(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf, "region")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", F.col("o_totalprice").cast(DEC).alias("price"))
    )
    lvl0 = base.groupBy("r_name").agg(F.sum("price").cast("double").alias("total")).select(
        F.lit("0").alias("adm_level"), F.col("r_name").alias("pcode"), "total"
    )
    lvl1 = base.groupBy("n_name").agg(F.sum("price").cast("double").alias("total")).select(
        F.lit("1").alias("adm_level"), F.col("n_name").alias("pcode"), "total"
    )
    return lvl0.unionByName(lvl1)


@_reg(
    "region_member_agg",
    """
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS yr,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS region_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name IN ('CHINA', 'INDIA', 'JAPAN')
    GROUP BY 1
    """,
    note="custom region = member list semi-join + group sum (floodscan.py:296-320)",
)
def region_member_agg(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = (
        table(spark, sf, "nation")
        .where(F.col("n_name").isin("CHINA", "INDIA", "JAPAN"))
        .select("n_nationkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left_semi")
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(_msum("o_totalprice").alias("region_total"))
    )


# ---------------------------------------------------------------- windows
_DAILY_SQL = """
      SELECT event_type, date_trunc('day', ts) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS daily_sum,
             CAST(COUNT(*) AS BIGINT) AS daily_n
      FROM events GROUP BY 1, 2
"""


def _daily(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast(DEC)).alias("daily_sum"),
        F.count("*").alias("daily_n"),
    )


@_reg(
    "rolling_mean_rows",
    f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT event_type, day, CAST(daily_sum AS DOUBLE) AS daily_sum,
           CASE WHEN COUNT(*) OVER w >= 7
                THEN ROUND(CAST(SUM(daily_sum) OVER w AS DOUBLE) / 7.0, 6)
           END AS rolling_7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    note="pandas rolling(7).mean() rows-frame semantics incl. min_periods NaN (exposure_plotting.md:98-111)",
)
def rolling_mean_rows(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return _daily(spark, sf).select(
        "event_type",
        "day",
        F.col("daily_sum").cast("double").alias("daily_sum"),
        F.when(
            F.count("*").over(w) >= 7,
            F.round(F.sum("daily_sum").over(w).cast("double") / 7.0, 6),
        ).alias("rolling_7"),
    )


@_reg(
    "rolling_mean_range",
    f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT event_type, day,
           ROUND(CAST(SUM(daily_sum) OVER w AS DOUBLE)
                 / (COUNT(*) OVER w), 6) AS rolling_avg,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
    note="7-day trailing RANGE frame, gap-robust (update_exposure_quantile.py:27-47)",
)
def rolling_mean_range(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("day"))
        .rangeBetween(-6 * 86400, 0)
    )
    return _daily(spark, sf).select(
        "event_type",
        "day",
        F.round(
            F.sum("daily_sum").over(w).cast("double") / F.count("*").over(w), 6
        ).alias("rolling_avg"),
        F.count("*").over(w).alias("n_in_window"),
    )


@_reg(
    "rank_return_period",
    """
    WITH peaks AS (
      SELECT o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
             MAX(o_totalprice) AS peak
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, yr, peak,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           ROUND(CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
                 / (rank() OVER w), 6) AS rp
    FROM peaks
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY peak DESC, yr)
    """,
    note="yearly peak + rank + return period rp=n/rank (exposure_plotting.md:166-172,:428-431,:263)",
)
def rank_return_period(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    peaks = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    ).agg(F.max("o_totalprice").alias("peak"))
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("peak"), F.asc("yr"))
    n = Window.partitionBy("o_orderpriority")
    return peaks.select(
        "o_orderpriority",
        "yr",
        "peak",
        F.rank().over(w).cast("long").alias("rnk"),
        F.round(F.count("*").over(n).cast("double") / F.rank().over(w), 6).alias("rp"),
    )


@_reg(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
    note="top-k per group (exposure_plotting.md:469-477; sfed_adm.md:182-184)",
)
def topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        table(spark, sf, "orders")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------- quantiles
_QB_SQL = """
      SELECT event_type,
             ROUND(quantile_cont(value, 0.2), 6) AS q20,
             ROUND(quantile_cont(value, 0.4), 6) AS q40,
             ROUND(quantile_cont(value, 0.6), 6) AS q60,
             ROUND(quantile_cont(value, 0.8), 6) AS q80
      FROM events GROUP BY event_type
"""


def _boundaries(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.2)"), 6).alias("q20"),
        F.round(F.expr("percentile(value, 0.4)"), 6).alias("q40"),
        F.round(F.expr("percentile(value, 0.6)"), 6).alias("q60"),
        F.round(F.expr("percentile(value, 0.8)"), 6).alias("q80"),
    )


@_reg(
    "quantile_boundaries",
    _QB_SQL,
    note="per-group exact multi-percentile (update_exposure_quantile.py:79-84)",
)
def quantile_boundaries(spark: SparkSession, sf: str) -> DataFrame:
    return _boundaries(spark, sf)


@_reg(
    "quantile_buckets",
    f"""
    WITH b AS ({_QB_SQL})
    SELECT e.event_type,
           CASE WHEN e.value < b.q20 THEN -2
                WHEN e.value <= b.q40 THEN -1
                WHEN e.value <= b.q60 THEN 0
                WHEN e.value <= b.q80 THEN 1
                ELSE 2 END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN b USING (event_type)
    GROUP BY 1, 2
    """,
    note="CASE-WHEN quantile bucketing with the reference's mixed </<= bounds (update_exposure_quantile.py:52-67) — vectorized, never per-row",
)
def quantile_buckets(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    b = _boundaries(spark, sf)
    j = ev.join(F.broadcast(b), "event_type")
    bucket = (
        F.when(F.col("value") < F.col("q20"), -2)
        .when(F.col("value") <= F.col("q40"), -1)
        .when(F.col("value") <= F.col("q60"), 0)
        .when(F.col("value") <= F.col("q80"), 1)
        .otherwise(2)
    )
    return j.groupBy("event_type", bucket.alias("bucket")).agg(F.count("*").alias("n"))


@_reg(
    "derive_replace_quantile",
    _QB_SQL,
    note="replace sink: derived quantile table dropped-and-recreated per run through the lake layer (update_exposure_quantile.py:98-105, codab.py:42-48); two runs, second wholesale-replaces the first",
)
def derive_replace_quantile(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..sources.lake import LakeTable

    b = _boundaries(spark, sf)
    schema = T.StructType(b.schema.fields)
    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-replace-{tag}")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(spark, f"{root}/t", schema, merge_keys=("event_type",), n_buckets=4)
    # run 1 writes a stale subset; run 2 must wholesale-replace it
    t.replace(b.limit(2))
    t.replace(b)
    # old files are physically reclaimed while the final state survives
    t.expire_snapshots(keep_last=1)
    return t.scan()


# ---------------------------------------------------------------- joins
@_reg(
    "asof_click_attribution",
    """
    WITH tagged AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS src
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    attr AS (
      SELECT *,
             last_value(CASE WHEN src = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, src, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, ts, value, click_id
    FROM attr WHERE src = 1
    """,
    note="as-of join (nearest preceding event) as a pure window — the regrid/interp_like analog (floodscan.py:133-135, raster.py:5-24)",
)
def asof_click_attribution(spark: SparkSession, sf: str) -> DataFrame:
    ev = (
        table(spark, sf, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.when(F.col("event_type") == "click", 0).otherwise(1).alias("src"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    attr = ev.withColumn(
        "click_id",
        F.last(F.when(F.col("src") == 0, F.col("event_id")), ignorenulls=True).over(w),
    )
    return attr.where(F.col("src") == 1).select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value", "click_id"
    )


@_reg(
    "grid_multiply",
    """
    WITH grid AS (
      SELECT p_size AS cell,
             ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 6) AS w
      FROM part GROUP BY p_size
    )
    SELECT g.cell, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * g.w, 2)
             AS exposure
    FROM lineitem l JOIN grid g ON CAST(FLOOR(l.l_quantity) AS INT) = g.cell
    GROUP BY g.cell, g.w
    """,
    note="bucketize-to-grid + broadcast equi-join + elementwise multiply — the nearest-regrid exposure pattern (floodscan.py:133-135)",
)
def grid_multiply(spark: SparkSession, sf: str) -> DataFrame:
    part = table(spark, sf, "part")
    grid = part.groupBy(F.col("p_size").alias("cell")).agg(
        F.round(
            F.sum(F.col("p_retailprice").cast(DEC)).cast("double") / F.count("*"), 6
        ).alias("w")
    )
    li = table(spark, sf, "lineitem").withColumn(
        "cell", F.floor("l_quantity").cast("int")
    )
    return (
        li.join(F.broadcast(grid), "cell")
        .groupBy("cell", "w")
        .agg(F.count("*").alias("n"), _msum("l_extendedprice").alias("s"))
        .select("cell", "n", F.round(F.col("s") * F.col("w"), 2).alias("exposure"))
    )


# ---------------------------------------------------------------- scalars & sets
@_reg(
    "scalar_funcs",
    """
    SELECT o_orderkey,
           upper(o_orderpriority) AS prio_upper,
           'ORD/' || CAST(o_orderkey AS VARCHAR) || '_' || strftime(o_orderdate, '%Y-%m-%d')
             AS blob_name,
           strftime(o_orderdate, '%Y-%m-%d') AS parsed_date,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mth,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(make_date(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT), 1, 1)
             + CAST((dayofyear(o_orderdate) - 1) AS INT) AS TIMESTAMP) AS doy_date,
           ROUND(o_totalprice / 7, 3) AS price_div,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_coalesced,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor
    FROM orders WHERE o_orderkey % 97 = 0
    """,
    note="scalar function battery: filename format+parse, date parts INCLUDING dayofyear->date back-conversion (pd.to_datetime(format='%j') analog, exposure_plotting.md:119), coalesce, round, explicit floor-cast (§2.8; floodscan.py:97-100,:346-362; codab.py:18-23)",
)
def scalar_funcs(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").where(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.concat_ws(
            "_",
            F.concat(F.lit("ORD/"), F.col("o_orderkey").cast("string")),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        ).alias("blob_name"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("parsed_date"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofyear("o_orderdate").alias("doy"),
        # dayofyear -> date back-conversion (the reference's
        # pd.to_datetime(doy, format="%j"): Jan 1 of the year + (doy-1))
        F.date_add(
            F.make_date(F.year("o_orderdate"), F.lit(1), F.lit(1)),
            F.dayofyear("o_orderdate") - 1,
        ).cast("timestamp").alias("doy_date"),
        F.round(F.col("o_totalprice") / 7, 3).alias("price_div"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_coalesced"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
    )


@_reg(
    "distinct_ordered",
    "SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS order_date FROM orders ORDER BY 1",
    note="SELECT DISTINCT ... ORDER BY (database.py:77-82)",
)
def distinct_ordered(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .distinct()
        .orderBy("order_date")
    )


@_reg(
    "scalar_agg",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date,
           MAX(o_totalprice) AS max_price
    FROM orders
    """,
    note="scalar MAX / global aggregates (update_exposure_quantile.py:115-118)",
)
def scalar_agg(spark: SparkSession, sf: str) -> DataFrame:
    return table(spark, sf, "orders").agg(
        F.count("*").alias("n"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
        F.max("o_totalprice").alias("max_price"),
    )


@_reg(
    "json_props_extract",
    r"""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT)
             AS k_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    note="opaque JSON-ish props parsed with regexp (events.props per TESTDATA)",
)
def json_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count("*").alias("n")
    )


@_reg(
    "sessionize_events",
    """
    WITH t AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM t
    )
    SELECT user_id, CAST(sess AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM s GROUP BY 1, 2
    """,
    note="gap-based sessionization (30-min inactivity): lag + running sum + group — the training-pipeline session assembly primitive; one shuffle on user_id serves both windows and the final agg",
)
def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds: unix_timestamp() truncates to whole
    # seconds, so a gap within 1s of the 30-min boundary would classify
    # differently from the oracle's full-precision interval compare.
    # (NTZ -> LTZ cast is a pure reinterpret under the UTC session TZ;
    # unix_micros only accepts TIMESTAMP.)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap_us = us(F.col("ts")) - us(F.lag("ts").over(w))
    new_s = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = ev.withColumn("sess", F.sum(new_s).over(run))
    return s.groupBy("user_id", F.col("sess").cast("long").alias("session_no")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("session_value"),
    )


@_reg(
    "union_dedup_except",
    """
    WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id FROM events WHERE event_type = 'purchase')
    SELECT 'click_no_purchase' AS segment, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT user_id FROM a EXCEPT SELECT DISTINCT user_id FROM b)
    UNION ALL
    SELECT 'all_active', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT DISTINCT user_id FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
    """,
    note="set ops: UNION ALL / EXCEPT / distinct (§2.7; pd.concat + anti patterns)",
)
def union_dedup_except(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    seg1 = (
        a.distinct()
        .exceptAll(b.distinct())
        .agg(F.count("*").alias("n"))
        .select(F.lit("click_no_purchase").alias("segment"), "n")
    )
    seg2 = (
        a.unionAll(b)
        .distinct()
        .agg(F.count("*").alias("n"))
        .select(F.lit("all_active").alias("segment"), "n")
    )
    return seg1.unionByName(seg2)


# ---------------------------------------------------------------- §2 long tail
@_reg(
    "rollup_grouping_sets",
    """
    WITH base AS (
      SELECT r.r_name, n.n_name, CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    )
    SELECT CAST(GROUPING(r_name, n_name) AS BIGINT) AS lvl,
           coalesce(n_name, r_name, 'TOTAL') AS pcode,
           CAST(SUM(price) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM base GROUP BY ROLLUP(r_name, n_name)
    """,
    note="the reference's 3-grain adm rollup loop (floodscan.py:263-281) as a REAL rollup(): one pass computes (region,nation)/(region)/(grand total) with map-side partials per grouping set, vs hierarchy_rollup's manual union",
)
def rollup_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf, "region")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", F.col("o_totalprice").cast(DEC).alias("price"))
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("lvl"),
            F.sum("price").cast("double").alias("total"),
            F.count("*").alias("n"),
        )
        .select(
            "lvl",
            F.coalesce("n_name", "r_name", F.lit("TOTAL")).alias("pcode"),
            "total",
            "n",
        )
    )


@_reg(
    "seasonal_climatology",
    """
    SELECT event_type, CAST(dayofyear(ts) AS INT) AS doy,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
             AS clim_mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
    note="seasonal climatology: dayofyear-grouped mean across years (exposure_plotting.md:134-139)",
)
def seasonal_climatology(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type", F.dayofyear("ts").alias("doy")).agg(
        F.round(F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*"), 6).alias(
            "clim_mean"
        ),
        F.count("*").alias("n"),
    )


@_reg(
    "threshold_nullout",
    """
    WITH m AS (SELECT event_type, MAX(value) AS mx FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type,
           CASE WHEN e.value >= 0.05 * m.mx THEN ROUND(e.value, 6) END AS v_masked
    FROM events e JOIN m USING (event_type)
    """,
    note="NaN-preserving threshold null-out: values under 5% of the group max become NULL but the row survives — the reference's raster mask, NOT a row filter (floodscan.py:131-132)",
)
def threshold_nullout(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    m = ev.groupBy("event_type").agg(F.max("value").alias("mx"))
    return ev.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        F.when(F.col("value") >= 0.05 * F.col("mx"), F.round("value", 6)).alias("v_masked"),
    )


@_reg(
    "rank_avg_ties",
    f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT event_type, day, daily_n,
           CAST(rank() OVER w AS DOUBLE)
             + (COUNT(*) OVER (PARTITION BY event_type, daily_n) - 1) / 2.0 AS avg_rank
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY daily_n DESC)
    """,
    note="pandas average-rank tie semantics reproduced exactly: min-rank + (ties-1)/2 (exposure_plotting.md:428-431 uses pd.rank, which averages ties)",
)
def rank_avg_ties(spark: SparkSession, sf: str) -> DataFrame:
    d = _daily(spark, sf)
    w = Window.partitionBy("event_type").orderBy(F.desc("daily_n"))
    ties = Window.partitionBy("event_type", "daily_n")
    return d.select(
        "event_type",
        "day",
        "daily_n",
        (
            F.rank().over(w).cast("double") + (F.count("*").over(ties) - 1) / 2.0
        ).alias("avg_rank"),
    )


@_reg(
    "dropna_clean",
    r"""
    WITH t AS (
      SELECT event_id, event_type,
             CASE WHEN value >= 10 THEN value END AS v,
             nullif(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 3, 0) AS k3
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
    FROM t WHERE v IS NOT NULL AND k3 IS NOT NULL
    GROUP BY 1
    """,
    note="dropna over derived nullable columns (sfed_adm.md:166): na.drop(how='any') == WHERE ... IS NOT NULL conjunction",
)
def dropna_clean(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
    t = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("value") >= 10, F.col("value")).alias("v"),
        F.nullif(k % 3, F.lit(0)).alias("k3"),
    )
    return (
        t.na.drop(how="any", subset=["v", "k3"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_kept"), _msum("v").alias("v_sum"))
    )


@_reg(
    "collect_qualifying_years",
    """
    WITH peaks AS (
      SELECT o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
             MAX(o_totalprice) AS peak
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT o_orderpriority, yr,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
               / (rank() OVER (PARTITION BY o_orderpriority ORDER BY peak DESC, yr)) AS rp
      FROM peaks
    )
    SELECT o_orderpriority,
           string_agg(CAST(yr AS VARCHAR), ',' ORDER BY yr) FILTER (WHERE rp >= 2.0)
             AS qualifying_years,
           CAST(COUNT(*) FILTER (WHERE rp >= 2.0) AS BIGINT) AS n_qualifying
    FROM r GROUP BY 1
    """,
    note="threshold on return period + collect_list of qualifying years (exposure_plotting.md:264-265); 4-digit years sort identically as strings and ints",
)
def collect_qualifying_years(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    peaks = o.groupBy("o_orderpriority", F.year("o_orderdate").alias("yr")).agg(
        F.max("o_totalprice").alias("peak")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("peak"), F.asc("yr"))
    n = Window.partitionBy("o_orderpriority")
    r = peaks.select(
        "o_orderpriority",
        "yr",
        (F.count("*").over(n).cast("double") / F.rank().over(w)).alias("rp"),
    )
    qual = F.when(F.col("rp") >= 2.0, F.col("yr").cast("string"))
    return r.groupBy("o_orderpriority").agg(
        # empty collect_list joins to '' while the oracle's filtered
        # string_agg is NULL — nullif aligns the two
        F.nullif(
            F.array_join(F.array_sort(F.collect_list(qual)), ","), F.lit("")
        ).alias("qualifying_years"),
        F.sum(F.when(F.col("rp") >= 2.0, 1).otherwise(0)).cast("long").alias("n_qualifying"),
    )


@_reg(
    "transcript_assembly",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(event_type || ':' || CAST(event_id AS VARCHAR), '|' ORDER BY ts, event_id)
             AS transcript
    FROM events GROUP BY user_id
    """,
    note="per-conversation transcript assembly — turns sorted by time into one training-example row, PURE JVM: collect_list(struct) + array_sort + transform + array_join stay inside codegen, one map-side-combined agg, no Python in the hot path (VERDICT r2: the applyInPandas shape this replaces is kept as transcript_assembly_arrow for the §2.10 surface)",
)
def transcript_assembly(spark: SparkSession, sf: str) -> DataFrame:
    """One hash agg: collect each conversation's (ts, event_id, type)
    structs (map-side partials), array_sort orders by the struct fields
    — (ts, event_id) is the stable turn order — and transform+array_join
    renders the training-example string. All JVM expression work: no
    Arrow transfer, no per-group Python."""
    ev = table(spark, sf, "events").select("user_id", "event_id", "event_type", "ts")
    turns = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    render = F.array_join(
        F.transform(
            turns,
            lambda x: F.concat_ws(":", x["event_type"], x["event_id"].cast("string")),
        ),
        "|",
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_turns"), render.alias("transcript")
    )


@_reg(
    "transcript_assembly_arrow",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(event_type || ':' || CAST(event_id AS VARCHAR), '|' ORDER BY ts, event_id)
             AS transcript
    FROM events GROUP BY user_id
    """,
    note="grouped applyInPandas (SURVEY §2.10): the same transcript assembly through the Arrow grouped-UDF path — the primitive for per-group logic that ISN'T expressible as JVM expressions (tokenize-and-truncate, template rendering); kept alongside the pure-JVM transcript_assembly as the §2.10 surface",
)
def transcript_assembly_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-grouped assembly: each group (one conversation) arrives as a
    single pandas frame, is sorted by the stable turn order and joined
    into one training-example string. A group is one conversation —
    bounded turns, so bounded task memory; the shuffle is the same
    single hashpartitioning(user_id) the sessionizer uses."""
    import pandas as pd

    ev = table(spark, sf, "events").select("user_id", "event_id", "event_type", "ts")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_turns": [len(pdf)],
                "transcript": [
                    "|".join(pdf["event_type"] + ":" + pdf["event_id"].astype(str))
                ],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        assemble, "user_id long, n_turns long, transcript string"
    )


def _events_duckdb(spark: SparkSession, sf: str) -> str:
    """Deterministic embedded operational-DB stand-in, memoized per sf:
    the events parquet loaded once into a DuckDB file (the reference's
    Azure Postgres, minus the network). Built atomically so a crashed
    build never leaves a half-written file behind."""
    import hashlib
    import tempfile

    import duckdb

    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    path = os.path.join(_tmpbase(), f"sparkgraft-opdb-{tag}.duckdb")
    if os.path.exists(path):
        return path
    tmp = f"{path}.build-{os.getpid()}"
    con = duckdb.connect(tmp)
    try:
        src = os.path.join(sf, "events.parquet")
        con.execute(f"CREATE TABLE events AS SELECT * FROM '{src}'")
    finally:
        con.close()
    try:
        os.rename(tmp, path)
    except OSError:
        os.remove(tmp)  # concurrent builder won; theirs is identical
    return path


@_reg(
    "jdbc_scan",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total,
           MAX(ts) AS last_ts
    FROM events
    WHERE value >= 50
    GROUP BY event_type
    """,
    note="JDBC-shaped partitioned SQL ingest (SURVEY §2.1, the last "
         "reference residual — utils/database.py:83 pd.read_sql): the "
         "driver plans stride splits on event_id exactly like Spark's "
         "JDBC partitionColumn/lowerBound/upperBound options, each "
         "executor task fetches ONE split from its own read-only "
         "embedded-DB connection as Arrow batches (mapInArrow), and the "
         "value>=50 predicate + column projection push down into every "
         "split's WHERE/SELECT — DB-side filtering, never driver-side "
         "materialization; swapping the embedded connection for a real "
         "JDBC driver changes nothing structural",
)
def jdbc_scan(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.jdbc import read_sql

    db = _events_duckdb(spark, sf)
    ev = read_sql(
        spark,
        db,
        "events",
        partition_column="event_id",
        num_partitions=8,
        predicate="value >= 50",
        columns=("event_type", "value", "ts"),
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(_msum("value"), 6).alias("total"),
        F.max("ts").alias("last_ts"),
    )


# ------------------------------------------------- CDC envelope decoders
@_reg(
    "debezium_decode_lww",
    """
    WITH last AS (
      SELECT user_id, event_type, value, props, ts, event_id,
             (event_id % 11 = 0) AS is_del,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, value, props, ts,
           CAST(event_id AS BIGINT) AS last_lsn
    FROM last WHERE rn = 1 AND NOT is_del
    """,
    note="Debezium JSON envelope decode → canonical change events → LWW "
         "state (sources/envelope.decode_debezium). The envelope stream "
         "is derived deterministically from events: op 'd' when "
         "event_id%11=0 (before = key-only image, after absent), else "
         "'c'/'u' with the full row in after; source.lsn = event_id; ts "
         "travels as int64 epoch micros (Debezium MicroTimestamp "
         "convention); EVEN event_ids ship schemas.enable-wrapped "
         "({'payload': …}), ODD ones unwrapped — one decoder accepts "
         "both dialects row-by-row. Decode is a single whole-stage-"
         "codegen projection (from_json + field routing, zero Python "
         "UDFs — plan-pinned in tests/test_envelope.py); the only "
         "shuffle is the LWW hash agg with map-side partials. The "
         "oracle bypasses JSON entirely and computes the state straight "
         "from events, so a green row proves the encode→decode→merge "
         "loop is lossless incl. the double/props/timestamp roundtrip",
)
def debezium_decode_lww(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources.envelope import decode_debezium

    ev = table(spark, sf, "events")
    payload_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
            T.StructField("ts", T.LongType()),  # MicroTimestamp: epoch micros
        ]
    )
    is_del = F.col("event_id") % 11 == 0
    after = F.struct(
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
    )
    before_del = F.struct(  # delete images carry the key, nothing else
        F.col("user_id"),
        F.col("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
        F.lit(None).cast("long").alias("ts"),
    )
    inner = F.struct(
        F.when(is_del, F.lit("d"))
        .when(F.col("event_id") % 2 == 0, F.lit("c"))
        .otherwise(F.lit("u"))
        .alias("op"),
        F.when(is_del, before_del).alias("before"),
        F.when(~is_del, after).alias("after"),
        F.struct(
            F.col("event_id").alias("lsn"),
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        ).alias("source"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    raw = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.to_json(F.struct(inner.alias("payload"))))
        .otherwise(F.to_json(inner))
        .alias("value")
    )
    dec = decode_debezium(raw, "value", payload_schema)
    state = dedup_last_writer(
        dec.where(~F.col("_corrupt")).drop("_corrupt"),
        keys=("user_id", "event_type"),
        order_cols=("_lsn",),
    )
    return state.where(~F.col("_tombstone")).select(
        "user_id",
        "event_type",
        "value",
        "props",
        F.timestamp_micros(F.col("ts")).cast("timestamp_ntz").alias("ts"),
        F.col("_lsn").alias("last_lsn"),
    )


@_reg(
    "maxwell_decode_state",
    """
    WITH env AS (
      SELECT user_id, event_type, value, props, ts,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000 + event_id AS lsn,
             (event_id % 13 = 0) AS is_del
      FROM events
    ),
    last AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY lsn DESC) AS rn
      FROM env
    )
    SELECT user_id, event_type, value, props, ts, lsn AS last_lsn
    FROM last WHERE rn = 1 AND is_del = FALSE
    """,
    note="Maxwell JSON envelope decode → LWW state "
         "(sources/envelope.decode_maxwell): type 'delete' when "
         "event_id%13=0 (Maxwell carries the FULL deleted image in "
         "data, unlike Debezium's key-only before), else 'insert'; "
         "envelope ts = commit epoch-seconds, xid = event_id, and the "
         "decoder's default ordering key ts*1e6+xid makes intra-second "
         "commit order total — the oracle reproduces that key "
         "arithmetic exactly. Same zero-UDF single-projection decode "
         "plan as the Debezium twin",
)
def maxwell_decode_state(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources.envelope import decode_maxwell

    ev = table(spark, sf, "events")
    payload_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
            T.StructField("ts", T.LongType()),  # epoch micros
        ]
    )
    data = F.struct(
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
    )
    env = F.struct(
        F.lit("appdb").alias("database"),
        F.lit("events").alias("table"),
        F.when(F.col("event_id") % 13 == 0, F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("type"),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)).alias("ts"),
        F.col("event_id").alias("xid"),
        F.lit(True).alias("commit"),
        F.concat(F.lit("master.000001:"), F.col("event_id")).alias("position"),
        data.alias("data"),
    )
    raw = ev.select(F.to_json(env).alias("value"))
    dec = decode_maxwell(raw, "value", payload_schema)
    state = dedup_last_writer(
        dec.where(~F.col("_corrupt")).drop("_corrupt"),
        keys=("user_id", "event_type"),
        order_cols=("_lsn",),
    )
    return state.where(~F.col("_tombstone")).select(
        "user_id",
        "event_type",
        "value",
        "props",
        F.timestamp_micros(F.col("ts")).cast("timestamp_ntz").alias("ts"),
        F.col("_lsn").alias("last_lsn"),
    )


# ------------------------------------------------- Python Data Source API
@_reg(
    "pyds_scan",
    """
    SELECT user_id, event_type, value, ts FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="PySpark-4 Python Data Source API: spark.read.format('lake') over "
         "the staged 3-batch MOR table — partition = bucket, the LWW fold "
         "runs bucket-locally in Arrow with ZERO shuffle (keys are bucket-"
         "complete), resolved snapshots degrade to per-file parallelism "
         "(sources/pyds.py). Oracle = the final LWW state over events.",
)
def pyds_scan(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.pyds import register_lake_sources

    t, _versions = _staged_events_table_shared(spark, sf)
    register_lake_sources(spark)
    return (
        spark.read.format("lake")
        .option("path", t.path)
        .load()
        .select("user_id", "event_type", "value", "ts")
    )


@_reg(
    "pyds_pushdown_lookup",
    """
    SELECT user_id, event_type, value, ts FROM events
    WHERE user_id IN (3, 7, 21, 48, 77)
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="Python DS filter pushdown (pushFilters): the IN-predicate on the "
         "first merge key prunes FILES driver-side via manifest min/max + "
         "key blooms before any I/O (the prune_for_keys analog with no "
         "Spark job); Spark re-applies the filter so bloom false-keeps "
         "never leak. Requires spark.sql.python.filterPushdown.enabled.",
)
def pyds_pushdown_lookup(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.pyds import register_lake_sources

    t, _versions = _staged_events_table_shared(spark, sf)
    register_lake_sources(spark)
    return (
        spark.read.format("lake")
        .option("path", t.path)
        .load()
        .where(F.col("user_id").isin(3, 7, 21, 48, 77))
        .select("user_id", "event_type", "value", "ts")
    )


@_reg(
    "streaming_pyds_change_feed",
    """
    WITH h AS (SELECT (2*max(event_id))//3 AS cut FROM events),
    b3 AS (
      SELECT user_id, event_type, value, ts, event_id
      FROM events, h WHERE event_id > cut
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    ),
    prior AS (SELECT DISTINCT user_id, event_type FROM events, h WHERE event_id <= cut)
    SELECT b3.user_id, b3.event_type, b3.value, b3.ts,
           b3.event_id AS change_lsn,
           CASE WHEN p.user_id IS NULL THEN 'insert' ELSE 'update' END AS change_type
    FROM b3 LEFT JOIN prior p
      ON b3.user_id = p.user_id AND b3.event_type = p.event_type
    """,
    note="Structured Streaming over the Python DS change-feed source: "
         "spark.readStream.format('lake_cdc') tails the table with "
         "snapshot versions as checkpointable offsets; each micro-batch "
         "is the per-changed-bucket snapshot diff computed inside the "
         "partition (zero shuffle). Oracle = the cdc_change_feed SQL "
         "(same diff window, batch 2 -> batch 3).",
)
def streaming_pyds_change_feed(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from ..sources.pyds import register_lake_sources

    t, versions = _staged_events_table_shared(spark, sf)
    register_lake_sources(spark)
    # parquet sink, not format("memory"): memory-sink tables live on the
    # session the STREAM ran on — under a harness that re-wraps sessions
    # the read-back can miss (the round-3 streaming-query lesson)
    out = tempfile.mkdtemp(prefix="pydscdc-out-")
    ckpt = tempfile.mkdtemp(prefix="pydscdc-ckpt-")
    src = (
        spark.readStream.format("lake_cdc")
        .option("path", t.path)
        .option("startingVersion", str(versions[2]))
        .load()
    )
    q = (
        src.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.schema(src.schema).parquet(out).select(
        "user_id", "event_type", "value", "ts", "change_lsn", "change_type"
    )


@_reg(
    "streaming_lake_replication",
    """
    SELECT user_id, event_type, value, ts FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
    note="lake-to-lake streaming replication in plain Spark API: "
         "readStream.format('lake_cdc') tails the staged table's change "
         "feed, foreachBatch(lake_sink(replica)) MERGEs each epoch "
         "through the one-shuffle skew-split write path, exactly-once "
         "via batch_id = (tag, epoch) against the source's versioned "
         "offsets. Oracle: the replica's live state must equal the "
         "source's final LWW state (streaming/sink.py).",
)
def streaming_lake_replication(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..sources.lake import LakeTable
    from ..sources.pyds import register_lake_sources
    from ..streaming.sink import lake_sink

    src, versions = _staged_events_table_shared(spark, sf)
    register_lake_sources(spark)
    h = hashlib.md5(sf.encode()).hexdigest()[:10]
    root = os.path.join(_tmpbase(), f"sparkgraft-lakerepl-{h}")
    shutil.rmtree(root, ignore_errors=True)
    schema = T.StructType(
        [f for f in src.schema().fields]
    )
    replica = LakeTable.create(
        spark, f"{root}/t", schema, merge_keys=("user_id", "event_type"),
        n_buckets=8,
    )
    ckpt = os.path.join(root, "ckpt")
    q = (
        spark.readStream.format("lake_cdc")
        .option("path", src.path)
        .option("startingVersion", str(versions[0]))
        .load()
        .writeStream.foreachBatch(lake_sink(replica, tag="lakerepl"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return replica.scan().select("user_id", "event_type", "value", "ts")
