"""ANALYZE TABLE analog: backfill manifest statistics for files that
lack them, and evolve the tracked-stats configuration — metadata-only,
no data file is ever rewritten.

Two gaps this closes:

1. **Legacy manifests.** The Arrow task writer accumulates exact
   per-file stats streaming (bounds, integral sums, tombstone counts,
   key blooms), but manifests written before it tracked them carry
   none: no sums, no tombstone counts, no bloom. Every
   metadata-pushdown answer (``count_rows``, ``col_sum``,
   ``col_bounds``, ``partition_col_sums``) and every bloom-pruned
   lookup then falls back conservatively forever.
2. **Stats evolution.** ``stat_cols``/``key_bloom_bits`` are fixed at
   CREATE; a table that later needs range pruning or SUM pushdown on a
   new column had no path to it (Iceberg: ``ALTER TABLE ... SET`` write
   properties + ``ANALYZE`` / ``rewrite statistics``).

``set_stat_cols`` is the DDL half: one metadata commit changes the
tracked set; every FUTURE write accumulates the new stats. ``analyze``
is the backfill half: one distributed pass over exactly the DEFICIENT
files (``sc.parallelize(...).map``, one tiny JSON per file back to
the driver), then ONE metadata-swap commit re-adding the same paths
with completed entries (``commit_retrying(validation='rewrite')`` —
concurrent ingest to other buckets carries over; a concurrent rewrite
of an analyzed file re-plans loudly). Old snapshots still reference the same physical files, so time
travel, rollback and vacuum semantics are untouched.

Exactness: stats describe the file's STORED rows, the same contract the
writer keeps — bounds skip nulls like parquet footer stats, sums are
python-int exact and recorded only for INTEGRAL columns, tombstone
counts come from the data itself (exact even where footer min/max cannot
prove a mixed row group), and a column physically absent from an
old file (added by later schema evolution) is all-null by alignment, so
its sum entry is exactly ``[0, 0]`` — analyze can prove what the
original writer could not yet know.

Scale shape: O(deficient files) read once, O(files) driver metadata,
zero shuffle, zero data writes. At 100 TB you run it once after
adopting the engine over an existing parquet estate and every
metadata-only answer lights up.

Reference parity: the reference keeps no file statistics at all — every
question re-reads whole blobs (reference: src/datasources/
floodscan.py:60-110).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

from ..sources.lake import DataFile, LakeTable


@dataclass(frozen=True)
class AnalyzeStats:
    files_total: int
    files_analyzed: int
    snapshot_version: int


def set_stat_cols(table: LakeTable, cols: tuple[str, ...] | list[str]) -> dict:
    """Metadata-only DDL: change the table's tracked stat columns.
    Future writes accumulate bounds (and integral sums) for the new
    set; existing files keep their old entries until ``analyze``."""
    cur = table.current()
    schema = table.schema(cur)
    names = schema.fieldNames()
    key0 = cur["merge_keys"][0]
    for c in cols:
        if c not in names:
            raise ValueError(f"unknown column {c!r}")
        if c == key0:
            raise ValueError(
                f"{c!r} is the first merge key — its bounds/bloom are "
                "tracked as min_key/max_key already"
            )
    return table.commit_retrying(
        set(),
        [],
        operation="set-stat-cols",
        expected_parent_version=cur["version"],
        validation="append",
        snapshot_extra={"stat_cols": list(cols)},
        summary_extra={"stat_cols": list(cols)},
    )


def _integral_cols(schema: T.StructType, stat_cols: list[str]) -> list[str]:
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    return [
        c for c in stat_cols
        if c in schema.fieldNames() and isinstance(schema[c].dataType, integral)
    ]


def _deficient(
    f: DataFile, stat_cols: list[str], sum_cols: list[str], kb_bits: int
) -> bool:
    """Does this manifest entry lack a stat the current config tracks?
    (A non-integral stat col with no bounds entry may simply be
    all-null — analyzing it again is sound but not idempotent-skippable,
    so the trigger set is the PROVABLE gaps: unknown tombstones, missing
    sum entries, missing bloom.)"""
    if f.tombstones is None:
        return True
    if any(c not in (f.col_sums or {}) for c in sum_cols):
        return True
    if kb_bits and f.key_bloom is None:
        return True
    return any(
        c not in (f.col_stats or {}) and c not in (f.col_sums or {})
        for c in stat_cols
    )


def _physical_names(
    renames: list[dict], schema_version: int, logical: list[str]
) -> dict:
    """{logical name -> physical column name in a file written under
    ``schema_version``}, or None when the logical column has no physical
    presence there (added later, or dropped-and-re-added so pre-drop
    bytes alias to a hidden name). Mirrors scan()'s forward rename
    alignment: renames committed AFTER the file map its physical names
    forward; we invert that chase so stats are read from the right
    bytes and never resurrect dropped values."""
    applicable = [r for r in renames if r["at_schema_version"] > schema_version]
    if not applicable:
        return {c: c for c in logical}

    def fwd(p: str) -> str:
        for r in applicable:  # chronological
            if r["from"] == p:
                p = r["to"]
        return p

    # Invert deterministically: only chain ROOTS are physical names in
    # this file's epoch — a rename TARGET did not exist then (the
    # rename's destination must be free), so an identity candidate for
    # a targeted name is spurious. (The old set-union iteration let
    # hash order pick between the root and the identity, silently
    # recording [0,0] for pre-rename files on bad seeds.)
    targets = {r["to"] for r in applicable}
    inv: dict = {}
    for p in {r["from"] for r in applicable} - targets:
        inv.setdefault(fwd(p), p)
    for c in logical:
        if c not in targets and fwd(c) == c:
            inv.setdefault(c, c)
    return {c: inv.get(c) for c in logical}


def _make_file_analyzer(
    table_root: str,
    key0: str,
    stat_cols: list[str],
    sum_cols: list[str],
    key_bloom_bits: int,
    key_bloom_int: bool,
):
    """Executor-side per-file stats pass (self-contained closure, same
    discipline as the task writer: cloudpickle ships it by value so it
    runs without --py-files)."""

    def analyze_file(meta: dict) -> dict:
        import base64 as _b64
        import datetime as _dt
        import os as _os

        import numpy as _np
        import pandas as _pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        _epoch = _dt.datetime(1970, 1, 1)
        _bloom_k = 6  # must equal lake._BLOOM_K

        def _scal(v):
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return (v - _epoch) // _dt.timedelta(microseconds=1)
            if isinstance(v, _dt.date):
                return (v - _epoch.date()).days
            if isinstance(v, bytes):
                return v.decode("utf-8")
            return v

        pf = pq.ParquetFile(_os.path.join(table_root, meta["path"]))
        names = set(pf.schema_arrow.names)
        # logical -> physical column name for THIS file's schema epoch
        # (pre-rename files store old names; dropped-then-re-added
        # columns have NO physical presence — see _physical_names)
        phys = meta.pop("_phys")
        rd = {c: p for c, p in phys.items() if p is not None and p in names}
        want = [*{*rd.values(), "_tombstone"} & names]
        bounds: dict = {c: None for c in [key0] + stat_cols}
        sums: dict = {c: [0, 0] for c in sum_cols}  # absent col = all-null
        tomb = 0
        bloom = (
            _np.zeros(key_bloom_bits >> 3, dtype=_np.uint8)
            if key_bloom_bits
            else None
        )
        for batch in pf.iter_batches(columns=want):
            for c in bounds:
                p = rd.get(c)
                i = batch.schema.get_field_index(p) if p else -1
                if i < 0:
                    continue
                col = batch.column(i)
                if c in sums and pa.types.is_integer(col.type):
                    s = pc.sum(col).as_py()
                    sums[c][0] += int(s or 0)
                    sums[c][1] += len(col) - col.null_count
                try:
                    mm = pc.min_max(col)
                except pa.ArrowNotImplementedError:
                    continue
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is None:
                    continue
                cur = bounds[c]
                bounds[c] = (
                    (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
                )
            ti = batch.schema.get_field_index("_tombstone")
            if ti >= 0:
                tomb += int(pc.sum(batch.column(ti)).as_py() or 0)
            if bloom is not None and rd.get(key0):
                i = batch.schema.get_field_index(rd[key0])
                col = batch.column(i)
                if col.null_count:
                    col = col.drop_null()
                if key_bloom_int:
                    vals = _np.asarray(
                        col.cast(pa.int64()).to_numpy(zero_copy_only=False),
                        dtype=_np.int64,
                    )
                else:
                    vals = _np.asarray(col.to_pandas(), dtype=object)
                # pd.util.hash_array — must match lake._bloom_hash64
                h = _pd.util.hash_array(vals).astype(_np.uint64)
                h2 = (h >> _np.uint64(33)) | _np.uint64(1)
                m = _np.uint64(key_bloom_bits)
                for j in range(_bloom_k):
                    pos = (h + _np.uint64(j) * h2) % m
                    _np.bitwise_or.at(
                        bloom,
                        (pos >> _np.uint64(3)).astype(_np.int64),
                        _np.uint8(1) << (pos & _np.uint64(7)).astype(_np.uint8),
                    )
        kb = bounds[key0]
        out = dict(meta)
        out["min_key"] = _scal(kb[0]) if kb else None
        out["max_key"] = _scal(kb[1]) if kb else None
        out["col_stats"] = {
            c: [_scal(bounds[c][0]), _scal(bounds[c][1])]
            for c in stat_cols
            if bounds[c] is not None
        } or None
        out["col_sums"] = {c: list(v) for c, v in sums.items()} or None
        out["tombstones"] = tomb
        out["key_bloom"] = (
            _b64.b64encode(bloom.tobytes()).decode("ascii")
            if bloom is not None
            else meta.get("key_bloom")
        )
        return out

    return analyze_file


def analyze(table: LakeTable, version: int | None = None) -> AnalyzeStats:
    """Backfill manifest statistics for every deficient file of the
    current snapshot (see module docstring). Idempotent: a second call
    finds nothing deficient and commits nothing."""
    cur = table.current() if version is None else table.snapshot(version)
    schema = table.schema(cur)
    stat_cols = list(cur.get("stat_cols", []))
    sum_cols = _integral_cols(schema, stat_cols)
    kb_bits = int(cur.get("key_bloom_bits") or 0)
    key0 = cur["merge_keys"][0]
    kb_int = isinstance(
        schema[key0].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    fs = table.files(cur)
    todo = [f for f in fs if _deficient(f, stat_cols, sum_cols, kb_bits)]
    if not todo:
        return AnalyzeStats(len(fs), 0, cur["version"])
    fn = _make_file_analyzer(
        table.path, key0, stat_cols, sum_cols, kb_bits, kb_int
    )
    renames = cur.get("renames", [])
    logical = [key0, *stat_cols]
    payload = []
    for f in todo:
        m = f.to_json()
        m["_phys"] = _physical_names(renames, f.schema_version, logical)
        payload.append(m)
    sc = table.spark.sparkContext
    metas = (
        sc.parallelize(
            payload,
            max(1, min(len(todo), 4 * sc.defaultParallelism)),
        )
        .map(fn)
        .collect()
    )
    updated = [DataFile.from_json(m) for m in metas]
    snap = table.commit_retrying(
        {f.path for f in todo},
        updated,
        operation="analyze",
        expected_parent_version=cur["version"],
        validation="rewrite",
        summary_extra={"files_analyzed": len(updated)},
    )
    return AnalyzeStats(len(fs), len(updated), snap["version"])
