"""Iceberg-semantics lake table over parquet + JSON snapshot metadata.

No Iceberg/Delta jars are installable in this environment (SURVEY.md
env facts), so the table format is implemented from scratch with the
same *semantics*, behind a narrow interface a real Iceberg catalog could
replace:

- **Snapshots**: ``metadata/v%08d.json`` lists every data file with
  per-file row counts and min/max merge-key stats (Iceberg manifest
  analog). ``metadata/HEAD`` names the current version.
- **Atomic commit with optimistic concurrency**: the snapshot file is
  published with an exclusive create (``os.link`` CAS — exactly one of
  two racing writers wins) and commits carry the version they were
  planned against, so a writer that lost a race gets
  ``CommitConflictError`` and retries after reload — the local-FS
  equivalent of Iceberg's catalog CAS.
- **Schema evolution**: each snapshot carries the full schema history;
  each data file is tagged with the schema version it was written
  under. Scans read per-version file groups and align them to the
  current schema (add-column → null, widen → cast) — schema-on-read,
  old files never rewritten.
- **Time travel**: ``scan(version=k)`` reads snapshot k's file list
  with snapshot k's schema.
- **Tags & branches**: ``tag(name)`` pins a name to a snapshot and
  protects it from expiry; ``create_branch``/``publish_branch`` give
  write-audit-publish — ingest to ``metadata/HEAD.<branch>``, audit the
  branch scan, fast-forward main in one atomic pointer swap (Iceberg
  tag/branch/fast-forward analog). Version numbers are globally unique
  across branches, arbitrated by the same exclusive-create CAS.
- **Bucketed layout**: data files live in ``data/.../b=<bucket>`` where
  ``bucket = pmod(xxhash64(key_0), n_buckets)``. MERGE prunes to the
  buckets + key ranges a batch touches (the generalization of the
  reference's "recompute only changed region-days" scan avoidance,
  reference: src/datasources/floodscan.py:196-213), and bucket count
  bounds file-rewrite parallelism at scale (SURVEY.md §4).

The reference analog of this whole layer is the Postgres table with a
UNIQUE merge key (reference: src/utils/database.py:33-54) plus the
object store of per-(iso3, date) blobs (src/datasources/floodscan.py:346-352).
"""

from __future__ import annotations

import datetime
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.evolve import align_to_schema
from ..session import local_frame

LSN_COL = "_lsn"  # internal column persisted in data files for cross-batch LWW
TOMBSTONE_COL = "_tombstone"  # persisted delete marker: a tombstone must keep
# competing by LSN across batches (a stale pre-delete update arriving later
# must NOT resurrect the row), so deletes are retained as hidden rows and
# filtered at scan — Iceberg merge-on-read delete-file analog.
DML_SEQ_COL = "_dml_seq"  # Iceberg sequence-number analog for out-of-band
# row-level DML (operators/dml.py MOR paths): corrections keep the row's LSN
# so in-flight CDC events still order correctly, and the sequence breaks the
# LSN tie in favor of the LATER correction — an exact redelivery of the
# pre-correction event (same LSN, seq 0) deterministically loses. Absent /
# null in files written by the ingest paths; read as 0.
INTERNAL_COLS = (LSN_COL, TOMBSTONE_COL, DML_SEQ_COL)

FLSN_PREFIX = "_flsn_"


def flsn_col(c: str) -> str:
    """Per-field LSN column name for partial-update tables (the Paimon
    sequence-field analog): the LSN of the last event that SET field
    ``c``; null when no event in the file's fold ever set it. Carried in
    every partial-update data file so MOR resolve and compaction fold
    per-field across batches."""
    return FLSN_PREFIX + c


@dataclass(frozen=True)
class DataFile:
    path: str  # relative to table root
    bucket: int
    rows: int
    min_key: str | None
    max_key: str | None
    schema_version: int
    # optional per-column (min, max) footer stats for the table's
    # configured stat_cols — drives non-key file skipping (scan_range)
    col_stats: dict | None = None
    # True when the file was written by a bucket-complete resolve (major
    # compaction, rebucket, replace, COW merge): minor compaction exempts
    # exactly these files instead of guessing "the largest file is the
    # base" — a fresh delta batch larger than the base would otherwise be
    # exempted in its place and the real base folded, breaking the
    # O(delta-rows) minor write bound (correctness was never at risk;
    # requires_resolve stays true)
    base: bool = False
    # value-partition tuple member (Iceberg partition-spec analog): the
    # table's partition transform (e.g. days(ts)) evaluated over this
    # file's rows — EXACT, every row in the file shares it (the writer
    # splits output by partition value), unlike col_stats' min/max
    # envelope. None on unpartitioned tables / pre-spec files.
    part: int | str | None = None
    # index into the snapshot's partition-spec list (Iceberg spec-id
    # analog): which spec produced this file's ``part`` value. Partition
    # evolution (set_partition_spec) leaves old files under their
    # original spec — pruning and retention evaluate each file under
    # ITS OWN spec, never the current one. None on unpartitioned files;
    # legacy manifests (written before evolution existed) read as 0.
    spec_id: int | None = None
    # exact count of tombstone (delete-marker) rows in this file —
    # Iceberg's per-manifest delete-count analog. Lets metadata answer
    # live-row counts on resolved snapshots (count_rows): live =
    # rows - tombstones, zero data I/O. None = unknown (legacy manifests
    # written before the writer counted them; ``analyze`` backfills) —
    # consumers must then fall back to a scan.
    tombstones: int | None = None
    # base64 bloom filter over this file's first-merge-key values
    # (parquet column-index bloom analog, kept in the manifest so the
    # DRIVER can skip files without any file I/O). Delta files inside a
    # bucket have near-identical [min_key, max_key] envelopes — random
    # conversation ids span the whole keyspace — so range pruning keeps
    # every delta; the bloom restores O(1)-file point lookups. Written
    # only when the table sets key_bloom_bits and the key is a string
    # or integral column; None = never skipped by bloom.
    key_bloom: str | None = None
    # exact per-column [sum, non_null_count] over this file's stored
    # rows, for INTEGRAL stat_cols only (float addition is order-
    # dependent, so a metadata fold could differ from a scan in the
    # last ulp; integer sums are exact and overflow-free driver-side).
    # Drives SUM aggregate pushdown (col_sum) — the additive sibling of
    # col_stats min/max. None / missing column = unknown (legacy files,
    # non-integral columns, columns added to stat_cols after the file
    # was written) — consumers fall back.
    col_sums: dict | None = None

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "bucket": self.bucket,
            "rows": self.rows,
            "min_key": self.min_key,
            "max_key": self.max_key,
            "schema_version": self.schema_version,
        }
        if self.col_stats:
            d["col_stats"] = self.col_stats
        if self.base:
            d["base"] = True
        if self.part is not None:
            d["part"] = self.part
        if self.spec_id is not None:
            d["spec_id"] = self.spec_id
        if self.tombstones is not None:
            d["tombstones"] = self.tombstones
        if self.key_bloom:
            d["key_bloom"] = self.key_bloom
        if self.col_sums:
            d["col_sums"] = self.col_sums
        return d

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(
            d["path"], d["bucket"], d["rows"], d.get("min_key"), d.get("max_key"),
            d["schema_version"], d.get("col_stats"), d.get("base", False),
            d.get("part"),
            d.get("spec_id", 0 if d.get("part") is not None else None),
            d.get("tombstones"),
            d.get("key_bloom"),
            d.get("col_sums"),
        )


class CommitConflictError(RuntimeError):
    """Another writer committed first: the snapshot this commit was
    planned against is no longer HEAD. Reload the table and re-apply."""


def _atomic_write(path: str, data: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _atomic_create_exclusive(path: str, data: str) -> None:
    """Publish a file atomically, failing if it already exists.

    ``os.link`` of a fully-written temp file is the POSIX
    compare-and-swap: exactly one of two racing writers creates the
    final name; the loser gets EEXIST. This is the local-FS equivalent
    of an Iceberg catalog CAS."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot {os.path.basename(path)} already exists: a concurrent "
            "writer won the commit race"
        ) from None
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


_EPOCH = datetime.datetime(1970, 1, 1)


def _stat_scalar(v):
    """Normalize a parquet footer stat to a JSON-storable, totally
    ordered scalar: datetimes → epoch microseconds (exact integer
    arithmetic, naive treated as UTC), dates → epoch days (the
    ``unix_date()`` basis), bytes → utf-8 str; numbers and strings pass
    through."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):  # after datetime (its subclass)
        return (v - _EPOCH.date()).days
    if isinstance(v, bytes):
        return v.decode("utf-8")
    return v


_PARTITION_TRANSFORMS = ("identity", "hours", "days", "months", "years")


def _parse_partition_spec(spec: str) -> dict:
    """``"days(ts)"`` → ``{"transform": "days", "col": "ts"}`` (Iceberg
    partition-spec transform syntax; a bare column name is identity)."""
    s = spec.strip()
    if "(" not in s:
        return {"transform": "identity", "col": s}
    name, rest = s.split("(", 1)
    col = rest.rstrip(")").strip()
    name = name.strip()
    if name not in _PARTITION_TRANSFORMS or not col:
        raise ValueError(
            f"unsupported partition spec {spec!r}; use one of "
            f"{[t + '(col)' for t in _PARTITION_TRANSFORMS]}"
        )
    return {"transform": name, "col": col}


def _partition_transform_expr(spec: dict) -> F.Column:
    """The partition value as a Spark column (Iceberg transform
    semantics, epoch-anchored): days(ts) = days since 1970-01-01 (UTC),
    hours/months/years analogous, identity = the raw value. Exact
    integer arithmetic — (micros − pmod) / unit is integral and below
    2^53, so the double division is lossless."""
    t, c = spec["transform"], F.col(spec["col"])
    if t == "identity":
        return c
    m = F.unix_micros(c.cast("timestamp"))
    if t in ("hours", "days"):
        unit = 3_600_000_000 if t == "hours" else 86_400_000_000
        return ((m - F.pmod(m, F.lit(unit))) / F.lit(unit)).cast("long")
    # months/years: derive from the SAME UTC epoch-micros basis as
    # days/hours (and as _partition_value_range's metadata math) so a
    # non-UTC session timezone cannot desynchronize written partition
    # values from pruning bounds near month/year boundaries. year()/
    # month() of a DATE are timezone-independent, and date_from_unix_date
    # of floor(micros/day) is the UTC calendar day.
    day = 86_400_000_000
    d = F.date_from_unix_date(((m - F.pmod(m, F.lit(day))) / F.lit(day)).cast("int"))
    if t == "months":
        return ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("long")
    return (F.year(d) - 1970).cast("long")  # years


def _partition_value_range(spec: dict, lo, hi) -> tuple | None:
    """Map a constraint interval on the SOURCE column (epoch micros for
    timestamps, raw value for identity) to the partition-value interval
    it implies — the metadata side of _partition_transform_expr. None =
    unmappable (prune nothing)."""
    t = spec["transform"]
    if t == "identity":
        return (lo, hi)
    if not all(v is None or isinstance(v, (int, float)) for v in (lo, hi)):
        return None  # timestamp transforms need the micros encoding
    unit = {"hours": 3_600_000_000, "days": 86_400_000_000}.get(t)
    if unit is not None:
        return (
            None if lo is None else int(lo) // unit,
            None if hi is None else int(hi) // unit,
        )

    def to_part(us: int) -> int:
        d = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(us))
        return (d.year - 1970) * 12 + d.month - 1 if t == "months" else d.year - 1970

    return (
        None if lo is None else to_part(lo),
        None if hi is None else to_part(hi),
    )


def _snapshot_specs(snap: dict) -> list:
    """The snapshot's partition-spec list (index = DataFile.spec_id).

    Legacy snapshots (written before partition evolution existed) carry
    only ``partition_spec``; their one spec reads as id 0 — matching
    ``DataFile.from_json``'s legacy default."""
    specs = snap.get("partition_specs")
    if specs is not None:
        return specs
    ps = snap.get("partition_spec")
    return [ps] if ps else []


def _partition_interval_micros(spec: dict, part) -> tuple | None:
    """The ``[start, end)`` epoch-micros interval a TIME-transform
    partition value covers — the transform-independent currency that
    lets retention and pruning compare files written under DIFFERENT
    specs over the same source column (Iceberg partition evolution).
    None for identity specs (value-based, no time interval) or
    non-integral partition values."""
    t = spec["transform"]
    if t == "identity" or not isinstance(part, int):
        return None
    unit = {"hours": 3_600_000_000, "days": 86_400_000_000}.get(t)
    if unit is not None:
        return (part * unit, (part + 1) * unit)

    def month_start(months_since_epoch: int) -> int:
        y, m = divmod(months_since_epoch, 12)
        d = datetime.datetime(1970 + y, m + 1, 1)
        return (d - _EPOCH) // datetime.timedelta(microseconds=1)

    if t == "months":
        return (month_start(part), month_start(part + 1))
    return (month_start(part * 12), month_start((part + 1) * 12))  # years


def _file_partition_overlaps(specs: list, f: "DataFile", col: str, lo, hi) -> bool:
    """Can file ``f`` hold rows whose source column ``col`` falls in
    ``[lo, hi]``? Evaluated under the file's OWN partition spec (after
    partition evolution, files written under different specs coexist in
    one snapshot); conservatively True whenever the file's spec doesn't
    constrain ``col`` or the bounds don't map."""
    if f.part is None:
        return True  # pre-spec / null-partition file
    sid = f.spec_id if f.spec_id is not None else 0
    sp = specs[sid] if 0 <= sid < len(specs) else None
    if not sp or sp["col"] != col:
        return True
    prange = _partition_value_range(sp, lo, hi)
    if prange is None:
        return True
    plo, phi = prange
    try:
        if plo is not None and f.part < plo:
            return False
        if phi is not None and f.part > phi:
            return False
        return True
    except TypeError:
        return True


def _key_closure(all_files: list, seeds: list) -> list:
    """Smallest resolve-complete superset of ``seeds`` (metadata only).

    Under merge-on-read a key's versions are spread over files; scanning
    a pruned subset must still include every version of every key the
    caller can RETURN, or a stale version could win the subset resolve.
    A competitor file can hold a version of a seed-file key only if it
    is in the same bucket and its [min_key, max_key] overlaps that
    seed's — so one overlap round per bucket closes the set (a version
    of key k ∈ seed-range intersects the seed's range at k itself).

    Sound ONLY when the caller re-applies the pruning predicate after
    the resolve (every caller here does): keys that live solely in
    competitor files may resolve against missing versions, but a
    competitor is by definition outside the predicate's bounds for
    every row, so those keys can never pass the residual filter.

    Files lacking key stats are full-range. This replaces the coarser
    keep-whole-bucket closure: on a compacted MOR table the key-sorted
    base files overlap few deltas, so a time-bounded read opens
    O(matching files + overlapping deltas), not O(bucket files)."""
    seed_paths = {f.path for f in seeds}
    by_bucket: dict[int, list] = {}
    for s in seeds:
        by_bucket.setdefault(s.bucket, []).append(s)

    def overlaps_any(f) -> bool:
        for s in by_bucket.get(f.bucket, ()):
            if f.min_key is None or f.max_key is None:
                return True  # no key stats: assume full range
            if s.min_key is None or s.max_key is None:
                return True
            try:
                if not (f.max_key < s.min_key or f.min_key > s.max_key):
                    return True
            except TypeError:
                return True
        return False

    return [f for f in all_files if f.path in seed_paths or overlaps_any(f)]


_NO_BOUND = object()  # sentinel: literal/attr not usable for pruning


def _predicate_bounds(spark, condition_sql: str) -> dict[str, tuple]:
    """{column: (lo, hi)} interval constraints implied by the predicate.

    Parses ``condition_sql`` with Catalyst's SQL parser (driver-only, no
    job) and walks the unresolved expression tree over py4j. Only
    top-level AND-conjuncts of ``col <op> literal`` are read; strict
    comparisons widen to closed intervals (sound for min/max stats).
    Literal handling mirrors the manifest's _stat_scalar normalization:
    timestamps are already epoch microseconds in Catalyst literals,
    strings compare by code point (= UTF8String binary order for valid
    UTF-8), ints/floats pass through. Anything else — including date
    literals, whose manifest stat encoding is not pinned — returns no
    bound for that conjunct. Failure anywhere yields {} (no pruning)."""
    try:
        expr = (
            spark._jsparkSession.sessionState().sqlParser().parseExpression(condition_sql)
        )
    except Exception:
        return {}

    def lit_value(e, bump: int = 0):
        """Literal as a comparable scalar. ``bump`` tightens a STRICT
        comparison by one unit where that is exact: timestamps are
        integer microseconds, so ``ts < v`` == ``ts <= v-1µs`` — this
        keeps a strict bound at an exact partition/day boundary from
        conservatively including the boundary partition. Non-integral
        types ignore the bump (widened-to-closed stays sound)."""
        if e.getClass().getSimpleName() != "Literal":
            return _NO_BOUND
        v = e.value()
        if v is None:
            return _NO_BOUND
        dt = e.dataType().simpleString()
        if dt in ("timestamp", "timestamp_ntz"):
            return (v + bump) if isinstance(v, int) else _NO_BOUND
        if dt in ("tinyint", "smallint", "int", "bigint", "float", "double"):
            return v if isinstance(v, (int, float)) else _NO_BOUND
        if dt == "string":
            return str(v)
        return _NO_BOUND

    def attr_name(e):
        if e.getClass().getSimpleName() == "UnresolvedAttribute":
            # nameParts: only bare single-part names (no qualifiers)
            parts = e.nameParts()
            return parts.apply(0) if parts.size() == 1 else None
        return None

    out: dict[str, tuple] = {}

    def add(col: str, lo, hi) -> None:
        if col in out:
            plo, phi = out[col]
            try:
                lo = plo if lo is None else (lo if plo is None else max(plo, lo))
                hi = phi if hi is None else (hi if phi is None else min(phi, hi))
            except TypeError:
                return
        out[col] = (lo, hi)

    def leaf(e) -> None:
        kind = e.getClass().getSimpleName()
        if kind in ("EqualTo", "LessThan", "LessThanOrEqual", "GreaterThan",
                    "GreaterThanOrEqual"):
            # strict ops: tighten integral (timestamp) literals by 1 unit;
            # the bump direction depends on which side the attribute is on
            # (col < v -> hi=v-1; v < col -> lo=v+1)
            strict = kind in ("LessThan", "GreaterThan")
            lt = kind in ("LessThan", "LessThanOrEqual")
            l, r = e.left(), e.right()
            col, flip = attr_name(l), False
            if col is None:
                col, flip = attr_name(r), True
            if col is None:
                return
            lit = l if flip else r
            # col-side upper bound shrinks (-1), lower bound grows (+1)
            is_hi = lt != flip
            v = lit_value(lit, bump=(-1 if is_hi else 1) if strict else 0)
            if v is _NO_BOUND:
                return
            if kind == "EqualTo":
                add(col, v, v)
            elif is_hi:
                add(col, None, v)
            else:
                add(col, v, None)
        elif kind == "In":
            col = attr_name(e.value())
            if col is None:
                return
            lst = e.list()
            vals = [lit_value(lst.apply(i)) for i in range(lst.size())]
            if vals and all(v is not _NO_BOUND for v in vals):
                try:
                    add(col, min(vals), max(vals))
                except TypeError:
                    pass

    def conjuncts(e) -> None:
        if e.getClass().getSimpleName() == "And":
            conjuncts(e.left())
            conjuncts(e.right())
        else:
            leaf(e)

    try:
        conjuncts(expr)
    except Exception:
        return {}
    # open-ended sides become +/- infinity equivalents handled by the
    # caller's comparisons: represent as the other bound where possible
    return {
        c: (lo, hi)
        for c, (lo, hi) in out.items()
        if not (lo is None and hi is None)
    }


_BLOOM_K = 6  # bloom hash count; the task writer inlines this value —
# keep them equal (the closure is self-contained for pickling, see
# _make_task_writer)
_U64 = (1 << 64) - 1


def _bloom_hash64(values: list, integral: bool = False):
    """The ONE hash both bloom sides use: pandas' vectorized hash
    (C-level siphash for object/string arrays, bit-mix for int64 —
    no per-row Python), deterministic under the library's fixed
    default hash key. The executor writer hashes every key value
    through this; the driver probe hashes the handful of lookup
    values through the same function, so a manifest bloom written on
    any worker answers probes on any driver. ``integral`` pins the
    dtype to int64 on BOTH sides — the numeric and object hash paths
    differ, so the probe must take the same branch as the writer."""
    import numpy as np
    import pandas as pd

    if integral:
        return pd.util.hash_array(np.asarray(values, dtype=np.int64))
    return pd.util.hash_array(np.asarray(values, dtype=object))


def _bloom_might_contain(raw: bytes, h: int) -> bool:
    """Probe one value (pre-hashed to ``h``) against a decoded bloom.
    Double hashing g_j = h1 + j*h2 (Kirsch–Mitzenmacher), positions
    mod the filter's bit count; arithmetic wraps mod 2^64 exactly like
    the writer's uint64 numpy ops."""
    m = len(raw) * 8
    h1, h2 = h, ((h >> 33) | 1)
    for j in range(_BLOOM_K):
        pos = ((h1 + j * h2) & _U64) % m
        if not (raw[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _make_task_writer(
    out_dir: str,
    table_root: str,
    key0: str,
    stat_cols: list[str],
    schema_version: int,
    rows_per_group: int = 1 << 17,
    partitioned: bool = False,
    max_open_writers: int = 64,
    key_bloom_bits: int = 0,
    key_bloom_int: bool = False,
):
    """Build the executor-side parquet writer for ``mapInArrow``.

    Each task writes its partition's rows as one parquet file per bucket
    it holds and RETURNS the per-file manifest entry (path, rows, min/max
    key, stat-col bounds) as its task result — the Iceberg-writer
    pattern where data-file stats ride back in task commit messages:

    - **No driver I/O proportional to file count.** The driver never
      lists the written directories or reads a footer; it receives one
      tiny JSON row per file.
    - **Exactly-once manifests.** Spark returns each partition's result
      from exactly ONE successful task attempt, so a retried/speculated
      attempt can never double-enter the manifest — its stray file is
      unreferenced and vacuumed by expire_snapshots.
    - **Stats are exact**, computed streaming over the Arrow batches
      (nulls skipped, like parquet footer stats). A column with no
      non-null values gets NULL bounds = conservatively never skipped.

    Arrow batches arrive already exchanged on (bucket, skew-split) and,
    for compaction, sorted by (b, *merge_keys) — order is preserved, so
    per-bucket appends keep files key-sorted and row groups tight.

    The closure is deliberately SELF-CONTAINED (its own imports, its own
    stat normalizer): cloudpickle ships it by value, so the write path
    works even when the package itself is not importable on the Python
    workers (e.g. a session launched without --py-files / PYTHONPATH).

    ``partitioned``: a ``_p`` column (the table's value-partition
    transform, computed map-side) splits each bucket's output further —
    one file per (bucket, partition value) this task holds, with the
    exact partition value in the manifest entry. Null partition values
    get their own file (``part`` stays null = never pruned).

    Identity-partition directory names are Hive/Iceberg-escaped
    (percent-encoding of path-hostile characters) so a string value
    containing ``/`` or ``=`` cannot corrupt the layout; bytes values
    are normalized like manifest stats (_stat_scalar). The number of
    concurrently open parquet writers per task is capped (Iceberg
    fanout-writer style): on overflow the least-recently-fed (bucket,
    partition) file is closed and its manifest entry recorded — a
    re-appearing key simply opens a second file, which the manifest
    supports.

    ``key_bloom_bits`` (0 = off): additionally accumulate a bloom
    filter over the file's ``key0`` values (vectorized: one pandas
    siphash pass + numpy scatter per Arrow batch) and return it base64
    in the manifest entry — drives driver-side point-lookup file
    skipping (see DataFile.key_bloom). Must stay bit-compatible with
    ``_bloom_hash64`` / ``_bloom_might_contain``.
    """
    drop_cols = ("b", "_split", "_p")

    def write_partition(batches):
        import datetime as _dt
        import json as _json
        import os as _os
        import urllib.parse as _uparse
        import uuid as _uuid

        import base64 as _b64

        import numpy as _np
        import pandas as _pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        _epoch = _dt.datetime(1970, 1, 1)
        _bloom_k = 6  # must equal lake._BLOOM_K (closure stays self-contained)

        def _scal(v):
            # mirror of lake._stat_scalar (kept inline so the closure has
            # no module-global references — see docstring)
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return (v - _epoch) // _dt.timedelta(microseconds=1)
            if isinstance(v, _dt.date):  # after datetime (its subclass)
                return (v - _epoch.date()).days
            if isinstance(v, bytes):
                return v.decode("utf-8")
            return v

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        attempt = _uuid.uuid4().hex[:8]
        # (bucket, part) -> {writer, path, buf, buf_rows, rows, bounds}
        state: dict[tuple, dict] = {}
        done: list[dict] = []  # manifest entries of already-closed files
        clock = [0]  # per-task feed counter for LRU eviction

        def finalize(key, st) -> None:
            """Flush+close one open file and record its manifest entry."""
            bv, pv = key
            flush(st)
            st["writer"].close()
            kb = st["bounds"][key0]
            done.append(
                {
                    "path": st["path"],
                    "bucket": int(bv),
                    "rows": st["rows"],
                    "min_key": _scal(kb[0]) if kb else None,
                    "max_key": _scal(kb[1]) if kb else None,
                    "schema_version": schema_version,
                    "col_stats": {
                        c: [_scal(st["bounds"][c][0]), _scal(st["bounds"][c][1])]
                        for c in stat_cols
                        if st["bounds"][c] is not None
                    }
                    or None,
                    "part": _scal(pv) if pv is not None else None,
                    "tombstones": st["tomb"],
                    "key_bloom": (
                        _b64.b64encode(st["bloom"].tobytes()).decode("ascii")
                        if st.get("bloom") is not None
                        else None
                    ),
                    "col_sums": st["sums"] or None,
                }
            )

        def flush(st: dict) -> None:
            if st["buf_rows"]:
                st["writer"].write_table(pa.Table.from_batches(st["buf"]))
                st["buf"], st["buf_rows"] = [], 0

        def update_bloom(st: dict, sub: "pa.RecordBatch") -> None:
            # one vectorized siphash pass (pd.util.hash_array — must
            # match lake._bloom_hash64) + Kirsch–Mitzenmacher double
            # hashing, bits scattered with bitwise_or.at (duplicate-safe)
            arr = st.get("bloom")
            if arr is None:
                return
            i = sub.schema.get_field_index(key0)
            if i < 0:
                return
            col = sub.column(i)
            if col.null_count:
                # a null key must never poison the hash dtype (int64
                # with nulls pandas-converts to float64, changing every
                # row's hash); nulls are un-probe-able anyway
                col = col.drop_null()
            if key_bloom_int:
                vals = _np.asarray(
                    col.cast(pa.int64()).to_numpy(zero_copy_only=False),
                    dtype=_np.int64,
                )
            else:
                vals = _np.asarray(col.to_pandas(), dtype=object)
            h = _pd.util.hash_array(vals).astype(_np.uint64)
            h2 = (h >> _np.uint64(33)) | _np.uint64(1)
            m = _np.uint64(key_bloom_bits)
            for j in range(_bloom_k):
                pos = (h + _np.uint64(j) * h2) % m  # uint64 wrap, then mod m
                _np.bitwise_or.at(
                    arr,
                    (pos >> _np.uint64(3)).astype(_np.int64),
                    _np.uint8(1) << (pos & _np.uint64(7)).astype(_np.uint8),
                )

        def update_bounds(st: dict, sub: "pa.RecordBatch") -> None:
            for c, cur in st["bounds"].items():
                i = sub.schema.get_field_index(c)
                if i < 0:
                    continue
                col = sub.column(i)
                if c != key0 and pa.types.is_integer(col.type):
                    # exact additive stats for SUM pushdown: python-int
                    # accumulation, no overflow; all-null batch adds
                    # (0, 0) but still proves the entry
                    s = st["sums"].setdefault(c, [0, 0])
                    v = pc.sum(col).as_py()
                    s[0] += int(v or 0)
                    s[1] += len(col) - col.null_count
                try:
                    mm = pc.min_max(col)
                except pa.ArrowNotImplementedError:
                    continue  # un-orderable type: bounds stay None
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is None:
                    continue  # all-null batch: no observation
                st["bounds"][c] = (
                    (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
                )

        def open_state(key, batch, keep_idx):
            bv, pv = key
            rel_dir = _os.path.join(out_dir, f"b={bv}")
            if partitioned:
                # Hive/Iceberg-style escaping: percent-encode everything
                # outside [A-Za-z0-9_.-] so '/', '=', '%', ':' etc. in a
                # string identity-partition value cannot break the layout;
                # bytes normalize through _scal like manifest stats.
                safe = (
                    "__null__"
                    if pv is None
                    else _uparse.quote(str(_scal(pv)), safe="")
                )
                rel_dir = _os.path.join(rel_dir, f"p={safe}")
            _os.makedirs(_os.path.join(table_root, rel_dir), exist_ok=True)
            clock[0] += 1
            rel = _os.path.join(
                rel_dir, f"task-{pid:05d}-{attempt}-{clock[0]:04d}.parquet"
            )
            data_schema = pa.schema([batch.schema.field(i) for i in keep_idx])
            return {
                "writer": pq.ParquetWriter(
                    _os.path.join(table_root, rel), data_schema
                ),
                "path": rel,
                "buf": [],
                "buf_rows": 0,
                "rows": 0,
                "tomb": 0,
                "bounds": {c: None for c in [key0] + stat_cols},
                # per-stat-col [sum, non_null] over stored rows; entry
                # materializes on the first INTEGER-typed observation
                # (float sums are order-dependent — never recorded)
                "sums": {},
                "bloom": (
                    _np.zeros(key_bloom_bits >> 3, dtype=_np.uint8)
                    if key_bloom_bits
                    else None
                ),
            }

        def feed(key, sub, batch, keep_idx):
            st = state.get(key)
            if st is None:
                if len(state) >= max_open_writers:
                    # fanout cap: close the least-recently-fed file so a
                    # long-history compaction with an hours() transform
                    # cannot accumulate unbounded handles/buffers.
                    lru = min(state, key=lambda k: state[k]["last"])
                    finalize(lru, state.pop(lru))
                st = state[key] = open_state(key, batch, keep_idx)
            clock[0] += 1
            st["last"] = clock[0]
            # exact per-file tombstone count ("_tombstone" inlined —
            # closure stays self-contained like _bloom_k): null = live
            ti = sub.schema.get_field_index("_tombstone")
            if ti >= 0:
                s = pc.sum(sub.column(ti)).as_py()  # true count, nulls skip
                st["tomb"] += int(s or 0)
            update_bounds(st, sub)
            update_bloom(st, sub)
            st["buf"].append(sub.select(keep_idx))
            st["buf_rows"] += sub.num_rows
            st["rows"] += sub.num_rows
            if st["buf_rows"] >= rows_per_group:
                flush(st)

        for batch in batches:
            names = batch.schema.names
            keep_idx = [i for i, n in enumerate(names) if n not in drop_cols]
            b_col = batch.column(names.index("b"))
            for bv in pc.unique(b_col).to_pylist():
                sub = batch.filter(pc.equal(b_col, bv))
                if not partitioned:
                    feed((bv, None), sub, batch, keep_idx)
                    continue
                p_col = sub.column(names.index("_p"))
                for pv in pc.unique(p_col).to_pylist():
                    mask = pc.is_null(p_col) if pv is None else pc.equal(p_col, pv)
                    feed((bv, pv), sub.filter(mask), batch, keep_idx)

        for key in list(state):
            finalize(key, state.pop(key))
        done.sort(key=lambda m: (m["bucket"], str(m["part"])))
        metas = [_json.dumps(m) for m in done]
        if metas:
            yield pa.RecordBatch.from_arrays([pa.array(metas)], names=["meta"])

    return write_partition


class LakeTable:
    """A bucketed, snapshot-versioned, merge-keyed lake table.

    ``branch`` selects which head pointer this handle reads and
    advances: "main" is ``metadata/HEAD``; any other name is
    ``metadata/HEAD.<branch>`` (Iceberg branch analog). Version numbers
    are globally unique across branches (the exclusive snapshot-file
    create arbitrates), so time travel, expiry, and the CAS all keep
    working; each branch's history is its parent chain."""

    def __init__(self, spark: SparkSession, path: str, branch: str = "main"):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.branch = branch
        self._meta_dir = os.path.join(self.path, "metadata")
        self._head: dict | None = None  # cached current snapshot

    @property
    def _head_file(self) -> str:
        name = "HEAD" if self.branch == "main" else f"HEAD.{self.branch}"
        return os.path.join(self._meta_dir, name)

    def _next_version(self) -> int:
        """Next globally-unique version number (across all branches)."""
        import glob as _glob

        vs = [
            int(os.path.basename(p)[1:-5])
            for p in _glob.glob(os.path.join(self._meta_dir, "v*.json"))
        ]
        return (max(vs) + 1) if vs else 1

    # ---------------------------------------------------------- lifecycle
    # Default bucket-hash seed. Decorrelates table bucketing from any
    # upstream sharding that uses the same hash family: the changelog
    # shards on pmod(xxhash64(conv_id), n_shards), so an UNSEEDED
    # pmod(xxhash64(conv_id), n_buckets) makes each source shard map to
    # only n_buckets/n_shards buckets — a batch drawn from few shards
    # would then write (and later merge-prune) only a sliver of the
    # bucket space, throttling write parallelism. Stored per table in
    # the snapshot metadata (0 = legacy unseeded hash).
    BUCKET_SEED = 1315423911

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        merge_keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        n_buckets: int = 64,
        stat_cols: tuple[str, ...] = (),
        partition_by: str | None = None,
        key_bloom_bits: int = 0,
        merge_engine: str = "lww",
    ) -> "LakeTable":
        """``stat_cols``: non-key columns whose per-file (min, max)
        footer stats are kept in the snapshot manifest, enabling
        non-key file skipping via ``scan_range`` (e.g. event time for a
        transcripts table — time-bounded reads then open only the files
        whose range overlaps).

        ``partition_by``: an optional Iceberg-style VALUE-partition
        transform (``"days(ts)"``, ``"months(ts)"``, ``"hours(ts)"``,
        ``"years(ts)"``, or a bare column for identity) layered inside
        the hash buckets. Writers split data files by partition value,
        every file's manifest entry carries its exact partition, reads
        bounded on the source column prune at partition granularity
        (exact, no stats envelope), and whole partitions can be dropped
        by metadata alone (``drop_partitions`` — the cheap retention
        path the reference's ``{iso3}/{date}`` blob layout gives it,
        reference: src/datasources/floodscan.py:346-352).

        ``key_bloom_bits`` (0 = off; else a multiple of 64, e.g. 1<<15
        = 4 KiB per file): every data file's manifest entry carries a
        bloom filter over its first-merge-key values, so point lookups
        (``prune_for_keys``/``lookup``) skip delta files whose key
        RANGE overlaps but which cannot hold the key — with random
        conversation ids the per-bucket deltas all span the whole
        keyspace, so range pruning alone keeps every delta and the
        bloom is what makes 'read one conversation' O(1) files at
        10^10 rows. String/integral first keys; sized for ~key_bloom_bits/10
        distinct keys per file at ~1% false-keep (a bigger file just
        degrades toward 'never skipped', never misses)."""
        if merge_engine not in ("lww", "partial-update"):
            raise ValueError(
                f"unknown merge engine {merge_engine!r}; "
                "expected 'lww' or 'partial-update'"
            )
        t = cls(spark, path)
        if os.path.exists(os.path.join(t._meta_dir, "HEAD")):
            raise FileExistsError(f"table already exists at {path}")
        pspec = _parse_partition_spec(partition_by) if partition_by else None
        if pspec and pspec["col"] not in schema.fieldNames():
            raise ValueError(
                f"partition column {pspec['col']!r} not in schema "
                f"{schema.fieldNames()}"
            )
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(os.path.join(t.path, "data"), exist_ok=True)
        snap = {
            "version": 1,
            "snapshot_id": uuid.uuid4().hex,
            "parent": None,
            "batch_id": None,
            "merge_keys": list(merge_keys),
            "merge_engine": merge_engine,
            "n_buckets": n_buckets,
            "bucket_seed": cls.BUCKET_SEED,
            "stat_cols": list(stat_cols),
            "partition_spec": pspec,
            "partition_specs": [pspec] if pspec else [],
            "key_bloom_bits": int(key_bloom_bits),
            "schema_version": 1,
            "schemas": {"1": json.loads(schema.json())},
            "files": [],
            "requires_resolve": False,
            "summary": {"operation": "create", "total_rows": 0},
        }
        t._write_snapshot(snap)
        return t

    def clone(self, dest_path: str) -> "LakeTable":
        """Zero-copy, metadata-only table clone (Delta ``SHALLOW CLONE``
        / Iceberg snapshot-ref analog): the clone's genesis snapshot
        references this table's CURRENT data files by absolute path —
        no data is read or copied, the clone is O(files) driver metadata
        regardless of table size. Each side then evolves under its own
        snapshot log: writes, DML, compaction on one are invisible to
        the other (the clone's rewrites produce files under ITS root and
        merely drop the shared references from its manifest; the shared
        files themselves are never touched).

        Caveats (exactly Delta's shallow-clone contract):
        - ``expire_snapshots`` (vacuum) on the SOURCE can physically
          delete files a clone still references — vacuum the source only
          when its clones are gone or re-materialized. The clone's own
          vacuum is always safe: it walks only the clone's data root, so
          shared (absolute-path) files are structurally out of reach.
        - exactly-once state (``committed_batch_ids``) is NOT carried:
          a clone is a new table; replaying a changelog into it
          re-applies every batch.
        """
        cur = self.current()
        t = LakeTable(self.spark, dest_path)
        if os.path.exists(os.path.join(t._meta_dir, "HEAD")):
            raise FileExistsError(f"table already exists at {dest_path}")
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(os.path.join(t.path, "data"), exist_ok=True)
        src_root = os.path.abspath(self.path)
        files = []
        for d in cur["files"]:
            d = dict(d)
            if not os.path.isabs(d["path"]):
                d["path"] = os.path.join(src_root, d["path"])
            files.append(d)
        snap = {
            "version": 1,
            "snapshot_id": uuid.uuid4().hex,
            "parent": None,
            "batch_id": None,
            "merge_keys": cur["merge_keys"],
            "merge_engine": cur.get("merge_engine", "lww"),
            "n_buckets": cur["n_buckets"],
            "bucket_seed": cur.get("bucket_seed", 0),
            "stat_cols": cur.get("stat_cols", []),
            "partition_spec": cur.get("partition_spec"),
            "partition_specs": _snapshot_specs(cur),
            "key_bloom_bits": cur.get("key_bloom_bits", 0),
            "schema_version": cur["schema_version"],
            "schemas": cur["schemas"],
            "renames": cur.get("renames", []),
            "files": files,
            "requires_resolve": cur.get("requires_resolve", False),
            "summary": {
                "operation": "clone",
                "source": src_root,
                "source_version": cur["version"],
                "total_rows": sum(d["rows"] for d in files),
            },
        }
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        t.current()  # raises if missing
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), "metadata", "HEAD"))

    # ---------------------------------------------------------- snapshots
    def _snap_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version:08d}.json")

    def _write_snapshot(self, snap: dict) -> None:
        # every snapshot carries its wall-clock commit time (Iceberg
        # timestamp-ms analog; drives version_at) — stamped HERE so the
        # hand-built snapshot paths (create/rollback/clone/DDL) get it
        # too, not just commit()
        snap.setdefault("committed_at", time.time())
        # exclusive-create is the CAS: two writers building the same next
        # version race on the snapshot file; the loser raises
        # CommitConflictError and must reload + retry (HEAD is only
        # advanced by the winner, so it never goes backwards)
        _atomic_create_exclusive(
            self._snap_path(snap["version"]), json.dumps(snap, indent=1)
        )
        _atomic_write(self._head_file, str(snap["version"]))
        self._head = snap

    def current(self) -> dict:
        with open(self._head_file) as f:
            version = int(f.read().strip())
        if self._head is not None and self._head["version"] == version:
            return self._head
        self._head = self.snapshot(version)
        return self._head

    def snapshot(self, version: int) -> dict:
        with open(self._snap_path(version)) as f:
            return json.load(f)

    def version_at(self, ts) -> int:
        """TIMESTAMP AS OF addressing (Iceberg snapshot-log analog):
        the newest RETAINED snapshot on this branch's history whose
        commit time is <= ``ts`` (a unix float or an aware/naive-UTC
        datetime). Compose with ``scan(version=...)`` /
        ``scan_changes`` for as-of reads and between-times feeds.
        Snapshots written before the ``committed_at`` field fall back
        to their metadata file's mtime (same clock, written at commit).
        Raises if every retained snapshot is newer than ``ts`` — the
        asked-for history has been expired, the time-travel analog of
        FeedLagError's loud refusal."""
        if isinstance(ts, datetime.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=datetime.timezone.utc)
            ts = ts.timestamp()
        # restrict to THIS branch's ancestry: version numbers are global
        # across branches, so a side branch's higher-numbered snapshot
        # must never answer for main
        by_id = {s["snapshot_id"]: s for s in self.snapshots()}
        cur: dict | None = self.current()
        best = None
        while cur is not None:
            at = cur.get("committed_at")
            if at is None:
                try:
                    at = os.path.getmtime(self._snap_path(cur["version"]))
                except FileNotFoundError:
                    break
            if at <= ts:
                best = cur["version"]
                break  # ancestry is time-ordered; first hit is newest
            cur = by_id.get(cur.get("parent"))
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before {ts}: history has "
                "been expired past the requested time"
            )
        return best

    def snapshots(self) -> list[dict]:
        """All retained snapshots, oldest first (early versions may have
        been removed by expire_snapshots)."""
        import glob as _glob

        out = []
        for p in sorted(_glob.glob(os.path.join(self._meta_dir, "v*.json"))):
            with open(p) as f:
                out.append(json.load(f))
        return out

    # ---------------------------------------------------------- properties
    @property
    def version(self) -> int:
        return self.current()["version"]

    @property
    def merge_keys(self) -> list[str]:
        return self.current()["merge_keys"]

    @property
    def n_buckets(self) -> int:
        return self.current()["n_buckets"]

    @property
    def merge_engine(self) -> str:
        """``"lww"`` (row-granular last-writer-wins, the default) or
        ``"partial-update"`` (Paimon ``merge-engine=partial-update``
        analog: per key, each non-key column independently keeps its
        last NON-NULL value by LSN — patch events update only the
        fields they carry). Partial-update files persist a per-field
        LSN column (``_flsn_<col>``, the Paimon sequence-field analog)
        so MOR deltas and compaction fold field-granularly across
        batches."""
        return self.current().get("merge_engine", "lww")

    def schema(self, snapshot: dict | None = None) -> T.StructType:
        snap = snapshot or self.current()
        return T.StructType.fromJson(snap["schemas"][str(snap["schema_version"])])

    def schema_for_version(self, schema_version: int, snapshot: dict | None = None) -> T.StructType:
        snap = snapshot or self.current()
        return T.StructType.fromJson(snap["schemas"][str(schema_version)])

    def files(self, snapshot: dict | None = None) -> list[DataFile]:
        snap = snapshot or self.current()
        return [DataFile.from_json(d) for d in snap["files"]]

    def total_rows(self) -> int:
        return sum(f.rows for f in self.files())

    def count_rows(self, version: int | None = None) -> int:
        """Live-row count with aggregate pushdown to metadata (the
        Iceberg count(*)-from-manifests analog): on a RESOLVED snapshot
        every live key is physical exactly once, so the live count is
        sum(rows - tombstones) over the manifest — zero data I/O,
        O(files) driver time. Falls back to the distributed resolved
        scan when the snapshot has unresolved MOR deltas (physical rows
        double-count superseded versions) or when any file's tombstone
        count is unknown (legacy manifest not yet analyzed)."""
        snap = self.current() if version is None else self.snapshot(version)
        if not snap.get("requires_resolve", False):
            fs = self.files(snap)
            if all(f.tombstones is not None for f in fs):
                return sum(f.rows - f.tombstones for f in fs)
        return self.scan(version=version).count()

    def partition_row_counts(self, version: int | None = None) -> dict | None:
        """Per-partition live-row counts from manifests alone (the
        GROUP BY partition analog of ``count_rows``): zero data I/O,
        O(files) driver time. The stratum-count input the curation
        samplers (plans/contract_docs.py ``_hash_rank_quota_plan``)
        otherwise pay a full corpus scan for.

        Returns ``None`` whenever metadata cannot PROVE the counts —
        unresolved MOR deltas (physical rows double-count superseded
        versions), unknown per-file tombstone counts (legacy manifest),
        unpartitioned files, or files written under more than one
        partition spec (the same value can mean different slices) —
        and callers fall back to the scan-side count."""
        snap = self.current() if version is None else self.snapshot(version)
        if snap.get("requires_resolve", False):
            return None
        fs = self.files(snap)
        if any(
            f.part is None or f.tombstones is None or f.spec_id is None
            for f in fs
        ):
            return None
        if len({f.spec_id for f in fs}) > 1:
            return None
        out: dict = {}
        for f in fs:
            out[f.part] = out.get(f.part, 0) + f.rows - f.tombstones
        return {p: n for p, n in out.items() if n > 0}

    def partition_col_sums(self, col: str, version: int | None = None):
        """Per-partition SUM fold from manifests alone — ``col_sum``
        grouped by partition value (the GROUP BY analog, like
        ``partition_row_counts`` is to ``count_rows``): zero data I/O,
        O(files) driver time, python-int exact. "Tokens per language"
        over a lang-partitioned corpus without opening a data file.

        Returns ``{part: sum}`` (a partition with zero non-null values
        maps to ``None`` — SQL SUM over that group), or ``None``
        whenever metadata cannot PROVE the answer, under the UNION of
        the ``partition_row_counts`` guards (unresolved MOR, unknown
        tombstone counts, unpartitioned or multi-spec files) and the
        ``col_sum`` guards (integral column only, any tombstoned rows,
        any file without a proven entry, partial-update engine)."""
        field = next(
            (x for x in self.schema().fields if x.name == col), None
        )
        if field is None:
            raise ValueError(f"unknown column {col!r}")
        if not isinstance(
            field.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"partition_col_sums supports integral columns; {col!r} is "
                f"{field.dataType.simpleString()}"
            )
        snap = self.current() if version is None else self.snapshot(version)
        if snap.get("requires_resolve", False):
            return None
        if snap.get("merge_engine", "lww") == "partial-update":
            return None
        fs = self.files(snap)
        if not fs:
            return None
        if any(f.part is None or f.spec_id is None for f in fs):
            return None
        if len({f.spec_id for f in fs}) > 1:
            return None
        sums: dict = {}
        nn: dict = {}
        for f in fs:
            if f.tombstones is None or f.tombstones > 0:
                return None
            entry = (f.col_sums or {}).get(col)
            if entry is None:
                return None
            sums[f.part] = sums.get(f.part, 0) + int(entry[0])
            nn[f.part] = nn.get(f.part, 0) + int(entry[1])
        return {p: (sums[p] if nn[p] else None) for p in sums}

    def col_bounds(self, col: str, version: int | None = None):
        """MIN/MAX aggregate pushdown to metadata (the Iceberg/Trino
        stats-based min/max answer, the sibling of ``count_rows``): on
        a resolved snapshot with ZERO tombstones every physical row is
        live, so min/max over a stat-tracked column is the fold of the
        manifest ``col_stats`` envelopes — zero data I/O, O(files)
        driver time. Returns ``(lo, hi)`` in the column's own type
        (timestamps/dates de-normalized from the manifest's epoch
        representation), or ``None`` whenever metadata cannot PROVE the
        bounds: unresolved MOR deltas, any tombstoned rows (a deleted
        row may hold the extreme), a file without stats for the column,
        or an empty table. Restricted to numeric/temporal columns:
        parquet writers may TRUNCATE string statistics, which is sound
        for range pruning (an envelope) but not for an exact answer.
        SQL MIN/MAX semantics: parquet stats exclude nulls; an all-null
        file has no stats and conservatively returns None."""
        field = next(
            (x for x in self.schema().fields if x.name == col), None
        )
        if field is None:
            raise ValueError(f"unknown column {col!r}")
        temporal = isinstance(
            field.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        )
        numeric = isinstance(field.dataType, T.NumericType)
        if not (temporal or numeric):
            raise ValueError(
                f"col_bounds supports numeric/temporal columns; {col!r} is "
                f"{field.dataType.simpleString()} (string stats may be "
                "truncated by the writer — sound for pruning, not for an "
                "exact answer)"
            )
        snap = self.current() if version is None else self.snapshot(version)
        if snap.get("requires_resolve", False):
            return None
        fs = self.files(snap)
        if not fs:
            return None
        lo = hi = None
        for f in fs:
            if f.tombstones is None or f.tombstones > 0:
                return None
            cs = (f.col_stats or {}).get(col)
            if not cs or cs[0] is None or cs[1] is None:
                return None
            lo = cs[0] if lo is None else min(lo, cs[0])
            hi = cs[1] if hi is None else max(hi, cs[1])
        if isinstance(field.dataType, T.DateType):
            return (
                _EPOCH.date() + datetime.timedelta(days=lo),
                _EPOCH.date() + datetime.timedelta(days=hi),
            )
        if temporal:  # stored as epoch microseconds (see _stat_scalar)
            return (
                _EPOCH + datetime.timedelta(microseconds=lo),
                _EPOCH + datetime.timedelta(microseconds=hi),
            )
        return lo, hi

    def col_sum(self, col: str, version: int | None = None):
        """SUM aggregate pushdown to metadata — the ADDITIVE sibling of
        ``col_bounds``/``count_rows``: on a resolved snapshot with zero
        tombstones, SUM over an integral stat-tracked column is the fold
        of the per-file ``col_sums`` entries the writer accumulated
        streaming over its Arrow batches — zero data I/O, O(files)
        driver time, exact (python-int accumulation, no overflow).
        Returns the sum, or ``None`` whenever metadata cannot PROVE it:
        unresolved MOR deltas, tombstoned rows, any file without a
        proven entry for the column (legacy manifests, files written
        before the column existed or was a stat column, until
        ``analyze``), a partial-update merge engine (stored cell ≠
        resolved cell), or zero non-null values anywhere (SQL ``SUM``
        is NULL there — the scan fallback agrees). Restricted to
        INTEGRAL columns: float addition is order-dependent, so a
        metadata fold could disagree with a scan in the last ulp; an
        integer fold cannot."""
        field = next(
            (x for x in self.schema().fields if x.name == col), None
        )
        if field is None:
            raise ValueError(f"unknown column {col!r}")
        if not isinstance(
            field.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"col_sum supports integral columns; {col!r} is "
                f"{field.dataType.simpleString()} (float sums are "
                "order-dependent — a metadata fold could differ from a "
                "scan in the last ulp)"
            )
        snap = self.current() if version is None else self.snapshot(version)
        if snap.get("requires_resolve", False):
            return None
        if snap.get("merge_engine", "lww") == "partial-update":
            return None  # stored cells fold per-field at resolve
        fs = self.files(snap)
        if not fs:
            return None
        total, non_null = 0, 0
        for f in fs:
            if f.tombstones is None or f.tombstones > 0:
                return None
            entry = (f.col_sums or {}).get(col)
            if entry is None:
                return None
            total += int(entry[0])
            non_null += int(entry[1])
        return total if non_null else None

    def bucket_expr(self, key_col: str | None = None) -> F.Column:
        """bucket = pmod(xxhash64(first merge key[, seed]), n_buckets)."""
        key = key_col or self.merge_keys[0]
        seed = self.current().get("bucket_seed", 0)
        h = F.xxhash64(F.col(key), F.lit(seed)) if seed else F.xxhash64(F.col(key))
        return F.pmod(h, F.lit(self.n_buckets)).cast("int")

    # ---------------------------------------------------------- scan
    def scan(
        self,
        version: int | None = None,
        include_internal: bool = False,
        files: list[DataFile] | None = None,
        resolve: bool | None = None,
    ) -> DataFrame:
        """Read the table (optionally a past snapshot / a pruned file set).

        Files are grouped by the schema version they were written under;
        each group is read with its exact stored schema (so parquet
        type/presence differences never trip the reader), aligned to the
        snapshot's current schema, and unioned. Catalyst still gets
        column pruning + filter pushdown per group. Tombstoned (deleted)
        rows are filtered out unless ``include_internal``.

        ``resolve=False`` skips the MOR LWW resolve and returns the
        stored rows VERBATIM (every version of every key). Only for
        callers doing strictly per-row work over a file subset — e.g.
        the file-granular DELETE rewrite, which must not fold a key's
        partial version chain when other versions live in files outside
        the subset. Implies ``include_internal`` semantics are the
        caller's problem; default (None) resolves per the snapshot.
        """
        snap = self.current() if version is None else self.snapshot(version)
        flist = files if files is not None else self.files(snap)
        target = self.schema(snap)
        pu = snap.get("merge_engine", "lww") == "partial-update"
        keys = snap["merge_keys"]
        payload_cols = [f.name for f in target.fields if f.name not in keys]
        flsn_names = [flsn_col(c) for c in payload_cols] if pu else []
        internal_fields = [
            T.StructField(LSN_COL, T.LongType(), True),
            T.StructField(TOMBSTONE_COL, T.BooleanType(), True),
            T.StructField(DML_SEQ_COL, T.LongType(), True),
        ]
        flsn_fields = [T.StructField(n, T.LongType(), True) for n in flsn_names]
        if not flist:
            out_schema = T.StructType(
                target.fields
                + (internal_fields + flsn_fields if include_internal else [])
            )
            return self.spark.createDataFrame([], out_schema)

        by_schema: dict[int, list[str]] = {}
        for f in flist:
            by_schema.setdefault(f.schema_version, []).append(os.path.join(self.path, f.path))
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_schema.items()):
            stored = self.schema_for_version(sv, snap)
            read_fields = stored.fields + internal_fields
            if pu:
                # per-field LSNs under the names this file group STORES
                # them with (pre-rename); absent columns (file predates
                # the field) read as null — never compete in the fold
                read_fields = read_fields + [
                    T.StructField(flsn_col(f.name), T.LongType(), True)
                    for f in stored.fields
                    if f.name not in keys
                ]
            read_schema = T.StructType(read_fields)
            df = self.spark.read.schema(read_schema).parquet(*paths)
            # rename chain (chronological): files written before a
            # rename/drop carry the old column name; map it forward so
            # name-based alignment hits the current column (the
            # Iceberg field-ID-mapping analog). Drops are renames to a
            # hidden tombstoned name, so a later re-add of the same
            # name can never resurrect pre-drop values.
            for r in snap.get("renames", []):
                if sv < r["at_schema_version"] and r["from"] in df.columns:
                    df = df.withColumnRenamed(r["from"], r["to"])
                    if pu and flsn_col(r["from"]) in df.columns:
                        # the field's LSN column follows its field
                        df = df.withColumnRenamed(flsn_col(r["from"]), flsn_col(r["to"]))
            if pu:
                for n in flsn_names:  # fields added after this file group
                    if n not in df.columns:
                        df = df.withColumn(n, F.lit(None).cast("long"))
            parts.append(
                align_to_schema(
                    df, target,
                    keep_extra=[LSN_COL, TOMBSTONE_COL, DML_SEQ_COL, *flsn_names],
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if (snap.get("requires_resolve", False) if resolve is None else resolve):
            out = out.withColumn(DML_SEQ_COL, F.coalesce(F.col(DML_SEQ_COL), F.lit(0)))
            if pu:
                # partial-update resolve: each field independently keeps
                # its last write by (per-field LSN, dml_seq); same
                # 100-TB shape as row-LWW — ONE hash agg with map-side
                # partials, max_by skipping null orderings so rows that
                # never set a field never compete for it
                aggs = []
                for c in payload_cols:
                    fl = flsn_col(c)
                    ordering = F.when(
                        F.col(fl).isNotNull(),
                        F.struct(F.col(fl), F.col(DML_SEQ_COL)),
                    )
                    aggs.append(F.max_by(F.col(c), ordering).alias(c))
                    aggs.append(F.max(F.col(fl)).alias(fl))
                aggs.append(F.max(F.col(LSN_COL)).alias(LSN_COL))
                aggs.append(
                    F.max(F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))).alias(TOMBSTONE_COL)
                )
                aggs.append(F.max(F.col(DML_SEQ_COL)).alias(DML_SEQ_COL))
                out = (
                    out.groupBy(*keys)
                    .agg(*aggs)
                    .select(
                        *[f.name for f in target.fields],
                        LSN_COL, TOMBSTONE_COL, DML_SEQ_COL, *flsn_names,
                    )
                )
            else:
                # merge-on-read: delta files overlap by key; resolve
                # last-writer-wins by (LSN, dml_seq) before anything else
                # sees the rows (one hash agg with map-side partials; LSN
                # ties cannot carry divergent payloads per CDC contract
                # EXCEPT out-of-band DML corrections, which carry a higher
                # _dml_seq precisely so the tie resolves to the correction)
                from ..operators.dedup import dedup_last_writer

                out = dedup_last_writer(
                    out, keys=keys, order_cols=(LSN_COL, DML_SEQ_COL)
                )
        if not include_internal:
            # IS NULL OR = false is a pushable predicate (Or(IsNull,
            # EqualTo) reaches the parquet row-group stats); the
            # equivalent ~coalesce(col, false) is not
            out = out.where(
                F.col(TOMBSTONE_COL).isNull() | (F.col(TOMBSTONE_COL) == F.lit(False))
            ).drop(LSN_COL, TOMBSTONE_COL, DML_SEQ_COL, *flsn_names)
        return out

    def scan_read_optimized(self, version: int | None = None) -> DataFrame:
        """Hudi read-optimized-query analog (RO vs the default
        real-time scan): read ONLY base files — each bucket's last
        bucket-complete resolution (major compaction, rebucket,
        replace, or COW merge) — and skip unresolved delta files
        entirely. No MOR fold, no per-key hash agg: the plan is a pure
        columnar scan with pushdown, at the price of bounded staleness
        (each bucket reads as of its last resolution; a bucket never
        resolved contributes nothing — Hudi's log-only file-group
        semantics). On a fully-resolved snapshot RO ≡ the normal scan.

        The serving-layer shape at 10^10 rows: dashboards read RO at
        base-scan speed while ingest appends deltas; compaction cadence
        bounds the lag, and :meth:`ro_lag_rows` reports it from
        metadata alone."""
        snap = self.current() if version is None else self.snapshot(version)
        base_files = [f for f in self.files(snap) if f.base]
        # resolve=False: base files are bucket-complete resolutions, so
        # no fold is needed; scan() still drops tombstoned rows kept in
        # bases for out-of-order ordering guards
        return self.scan(version=snap["version"], files=base_files, resolve=False)

    def ro_lag_rows(self, version: int | None = None) -> int:
        """Rows invisible to :meth:`scan_read_optimized` (metadata
        only): the row count of unresolved delta files — the upper
        bound on changes a read-optimized reader hasn't seen."""
        snap = self.current() if version is None else self.snapshot(version)
        return sum(f.rows for f in self.files(snap) if not f.base)

    # ---------------------------------------------------------- point lookup
    def prune_for_keys(self, values: list, snapshot: dict | None = None) -> list[DataFile]:
        """Metadata-only file pruning for a set of first-merge-key
        values: keep a file iff its bucket can hold one of the values
        AND its footer [min_key, max_key] range can contain it. The
        bucket of each value is computed with the exact on-write hash
        (``bucket_expr``, JVM-side) over a local relation of the values
        (session.local_frame), so no file is ever missed; the projection
        folds into the relation and is evaluated on the driver, with no
        job and no Python task. At 10^10 rows this is the 'read one
        conversation' path: O(values) metadata work + a scan of only the
        few files that can match (reference analog: the per-(iso3, date) blob-key
        addressing, src/datasources/floodscan.py:346-352).

        When the table writes manifest key blooms (``key_bloom_bits``
        at create), a surviving file is additionally probed against its
        bloom: delta files in a bucket all span ~the whole keyspace
        (random ids), so the range test keeps them all, and the bloom
        is what cuts 'one conversation' from O(deltas-in-bucket) files
        to the ~1 that actually holds it (±1% false keeps). Sound:
        every key written to a file set its bloom bits, so a negative
        probe proves absence; files without a bloom are kept."""
        import base64 as _b64lib

        snap = snapshot or self.current()
        key0 = snap["merge_keys"][0]
        field = next(f for f in self.schema(snap).fields if f.name == key0)
        vdf = local_frame(self.spark, [(v,) for v in values], T.StructType([field]))
        rows = vdf.select(F.col(key0), self.bucket_expr().alias("b")).collect()
        by_bucket: dict[int, list] = {}
        for r in rows:
            by_bucket.setdefault(r["b"], []).append(r[key0])
        hmap: dict = {}
        if any(d.get("key_bloom") for d in snap["files"]):
            integral = isinstance(
                field.dataType,
                (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
            )
            hmap = {
                v: int(h)
                for v, h in zip(
                    values, _bloom_hash64(list(values), integral=integral)
                )
            }
        out = []
        for f in self.files(snap):
            vals = by_bucket.get(f.bucket)
            if not vals:
                continue
            if f.min_key is not None and f.max_key is not None:
                if all(v < f.min_key or v > f.max_key for v in vals):
                    continue
            if f.key_bloom and hmap:
                raw = _b64lib.b64decode(f.key_bloom)
                if not any(
                    _bloom_might_contain(raw, hmap[v]) for v in vals
                ):
                    continue
            out.append(f)
        return out

    def lookup(self, values: list) -> DataFrame:
        """Point lookup by first merge key (LWW-resolved, tombstones
        filtered), reading only the files `prune_for_keys` keeps."""
        key0 = self.merge_keys[0]
        flist = self.prune_for_keys(values)
        return self.scan(files=flist).where(F.col(key0).isin(list(values)))

    def join_pruned(
        self,
        dim: DataFrame,
        on: str | None = None,
        how: str = "inner",
        max_keys: int = 100_000,
    ) -> DataFrame:
        """Dim-driven dynamic file pruning (Delta dynamic-file-pruning /
        Iceberg runtime-filter analog): collect the dim side's DISTINCT
        join keys (bounded — raises past ``max_keys`` rather than
        silently degrading into an unbounded driver collect), prune this
        table's data files by (bucket, footer key range, manifest key
        bloom) via ``prune_for_keys``, and broadcast-hash-join the
        surviving scan with the dim. At 10^10 rows this turns "enrich
        the 10K active conversations" from a full-table scan + shuffle
        join into O(keys) metadata work + a scan of only the files that
        can hold a requested key + a broadcast join with no exchange on
        the fact side — Spark's own runtime filtering (DPP / InSubquery
        pushdown) cannot reach inside a manifest-addressed table, so the
        engine does the file-set cut itself before Catalyst ever sees a
        scan.

        Exactness under MOR: ``prune_for_keys`` keeps every file that
        can hold any requested key (all of a key's versions share its
        bucket, and range/bloom probes are sound), so requested keys
        LWW-resolve identically to a full scan; keys NOT in the dim may
        resolve against partial version chains in the surviving subset,
        and the equi-join is what discards them — no post-hoc ``IN``
        filter (which at 10^5 keys would be a giant codegen'd predicate)
        is needed.

        ``on`` defaults to (and must be) the table's first merge key —
        bucket/bloom pruning is only sound on the hashed key. ``how``:
        ``'inner'`` (enrich: fact rows + dim columns) or ``'semi'``
        (filter: fact rows only). The dim is broadcast, which is the
        regime this path exists for; a dim too big to broadcast is
        exactly the case where file pruning cannot help and a plain
        bucketed join is the right plan.
        """
        key0 = self.merge_keys[0]
        if on is None:
            on = key0
        if on != key0:
            raise ValueError(
                f"join_pruned prunes on the first merge key {key0!r}; got on={on!r}"
            )
        if how not in ("inner", "semi"):
            raise ValueError(f"join_pruned supports how='inner'|'semi', got {how!r}")
        rows = dim.select(on).distinct().limit(max_keys + 1).collect()
        if len(rows) > max_keys:
            raise ValueError(
                f"join_pruned collected more than max_keys={max_keys} distinct "
                "dim keys — runtime file pruning cannot help at that "
                "cardinality; use a plain bucketed join instead"
            )
        values = [r[0] for r in rows if r[0] is not None]
        fact = self.scan(files=self.prune_for_keys(values))
        if how == "semi":
            return fact.join(F.broadcast(dim.select(on).distinct()), on, "semi")
        return fact.join(F.broadcast(dim), on, "inner")

    def rollback(self, to_version: int) -> dict:
        """Restore the table to a retained earlier snapshot's state by
        COMMITTING a new snapshot that references that version's file
        list and schema — history is preserved (the bad commits stay
        inspectable via time travel until expired), nothing is rewritten
        or deleted, and concurrent-writer CAS still applies. The Iceberg
        ``rollback_to_snapshot`` analog; the undo button for a bad batch
        or DML run."""
        cur = self.current()
        old = self.snapshot(to_version)
        if to_version >= cur["version"]:
            raise ValueError(f"rollback target v{to_version} is not before HEAD v{cur['version']}")
        snap = {
            "version": self._next_version(),
            "branch": self.branch,
            "snapshot_id": uuid.uuid4().hex,
            "parent": cur["snapshot_id"],
            "batch_id": old.get("batch_id"),
            "merge_keys": cur["merge_keys"],
            # bucket layout comes from the TARGET snapshot: its files were
            # hashed under ITS n_buckets/seed — restoring them under a
            # newer layout (e.g. rolling back across a rebucket) would
            # silently corrupt every bucket-pruning path
            "n_buckets": old["n_buckets"],
            "bucket_seed": old.get("bucket_seed", 0),
            "merge_engine": old.get("merge_engine", "lww"),
            "stat_cols": old.get("stat_cols", []),
            "partition_spec": old.get("partition_spec"),
            "partition_specs": _snapshot_specs(old),
            "key_bloom_bits": old.get("key_bloom_bits", 0),
            "schema_version": old["schema_version"],
            "schemas": old["schemas"],
            "renames": old.get("renames", []),
            "files": old["files"],
            "requires_resolve": old.get("requires_resolve", False),
            "summary": {
                "operation": "rollback",
                "rolled_back_to": to_version,
                "total_rows": sum(d["rows"] for d in old["files"]),
            },
        }
        self._write_snapshot(snap)
        return snap

    # ---------------------------------------------------------- tags
    def _tags_file(self) -> str:
        return os.path.join(self._meta_dir, "tags.json")

    def tags(self) -> dict[str, int]:
        """{tag name: version} (Iceberg tag analog). Tagged versions are
        protected from expire_snapshots regardless of retention."""
        p = self._tags_file()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def tag(self, name: str, version: int | None = None, replace: bool = False) -> int:
        """Pin a name to a retained snapshot (default: this branch's
        head). Read it back with ``scan(version=t.tag_version(name))``."""
        v = self.version if version is None else version
        self.snapshot(v)  # raises if not retained
        tags = self.tags()
        if name in tags and not replace:
            raise ValueError(f"tag {name!r} already points at v{tags[name]}")
        tags[name] = v
        _atomic_write(self._tags_file(), json.dumps(tags, indent=1))
        return v

    def drop_tag(self, name: str) -> None:
        tags = self.tags()
        tags.pop(name, None)
        _atomic_write(self._tags_file(), json.dumps(tags, indent=1))

    def tag_version(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}; have {sorted(tags)}")
        return tags[name]

    # ---------------------------------------------------------- branches
    def branches(self) -> dict[str, int]:
        """{branch name: head version}, always including 'main'."""
        import glob as _glob

        out = {}
        for p in sorted(_glob.glob(os.path.join(self._meta_dir, "HEAD*"))):
            base = os.path.basename(p)
            name = "main" if base == "HEAD" else base.split(".", 1)[1]
            with open(p) as f:
                out[name] = int(f.read().strip())
        return out

    def create_branch(self, name: str) -> "LakeTable":
        """Fork a branch at this handle's current head and return a
        handle on it (Iceberg branch analog — the write side of
        write-audit-publish: ingest to the branch, audit its scan, then
        ``publish_branch`` to fast-forward main atomically). Zero data
        copies: the branch starts as a head pointer to the same
        snapshot."""
        if name == "main" or "/" in name or "." in name:
            raise ValueError(f"invalid branch name {name!r}")
        b = LakeTable(self.spark, self.path, branch=name)
        if os.path.exists(b._head_file):
            raise FileExistsError(f"branch {name!r} already exists")
        _atomic_write(b._head_file, str(self.version))
        return b

    def on_branch(self, name: str) -> "LakeTable":
        """Handle on an existing branch."""
        b = LakeTable(self.spark, self.path, branch=name)
        b.current()  # raises if the branch does not exist
        return b

    def publish_branch(self, name: str, drop: bool = True) -> dict:
        """Fast-forward THIS branch's head to ``name``'s head — the
        publish step of write-audit-publish. Requires this head to be an
        ancestor of the branch head (pure fast-forward; a diverged
        branch must be rolled back or abandoned instead — no merge
        commits). Metadata-only and atomic; readers flip from old state
        to audited state in one pointer swap."""
        b = self.on_branch(name)
        head, target = self.current(), b.current()
        if target["version"] != head["version"]:
            by_id = {s["snapshot_id"]: s for s in self.snapshots()}
            cur = target
            while cur is not None and cur["snapshot_id"] != head["snapshot_id"]:
                cur = by_id.get(cur.get("parent"))
            if cur is None:
                raise CommitConflictError(
                    f"branch {name!r} (v{target['version']}) does not descend from "
                    f"{self.branch} head v{head['version']}; cannot fast-forward"
                )
        # optimistic-concurrency re-check right before the pointer swap:
        # a commit landing on this branch after current() was read would
        # otherwise be silently discarded (its snapshot unreferenced and
        # later vacuumed) — the same expected-parent discipline commit()
        # applies. The residual window between this read and the write
        # is the local-FS analog of a catalog CAS retry loop.
        with open(self._head_file) as f:
            if int(f.read().strip()) != head["version"]:
                raise CommitConflictError(
                    f"{self.branch} advanced past v{head['version']} while "
                    f"publishing {name!r}; reload and retry"
                )
        _atomic_write(self._head_file, str(target["version"]))
        self._head = target
        if drop:
            self.drop_branch(name)
        return target

    def drop_branch(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")
        p = os.path.join(self._meta_dir, f"HEAD.{name}")
        if os.path.exists(p):
            os.remove(p)

    # ---------------------------------------------------------- column DDL
    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only column rename (Iceberg ``RENAME COLUMN``).

        No file is touched: a rename record enters the snapshot's rename
        chain, and scans map the old name forward for every file group
        written before it (the field-ID-mapping analog — see scan()).
        Batches arriving after the rename must use the NEW name (an old
        name would schema-evolve in as a fresh column, exactly like
        Iceberg name mapping without the old alias). Merge keys and stat
        columns cannot be renamed — every bucket hash and pruning bound
        in existing metadata was computed under those names."""
        cur = self.current()
        schema = self.schema(cur)
        if old in cur["merge_keys"]:
            raise ValueError(f"cannot rename merge-key column {old!r}")
        if old in cur.get("stat_cols", []):
            raise ValueError(f"cannot rename stat column {old!r}")
        if old in {sp["col"] for sp in _snapshot_specs(cur) if sp}:
            # current OR historical spec: old-spec files still prune
            # under their spec's source-column name
            raise ValueError(f"cannot rename partition source column {old!r}")
        if old not in schema.fieldNames():
            raise ValueError(f"no column {old!r} in {schema.fieldNames()}")
        if new in schema.fieldNames() or new in INTERNAL_COLS:
            raise ValueError(f"column {new!r} already exists")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        return self.commit(
            set(),
            [],
            new_schema=new_schema,
            operation="rename-column",
            summary_extra={"from": old, "to": new},
            expected_parent_version=cur["version"],
            renames_extra=[
                {"at_schema_version": cur["schema_version"] + 1, "from": old, "to": new}
            ],
        )

    def drop_column(self, name: str) -> dict:
        """Metadata-only column drop (Iceberg ``DROP COLUMN``). Existing
        files keep their bytes (column pruning skips them); the dropped
        name is renamed to a hidden tombstoned alias in the chain, so
        re-adding a column with the same name later reads as NULL for
        pre-drop rows instead of resurrecting old values."""
        cur = self.current()
        schema = self.schema(cur)
        if name in cur["merge_keys"]:
            raise ValueError(f"cannot drop merge-key column {name!r}")
        if name in cur.get("stat_cols", []):
            raise ValueError(f"cannot drop stat column {name!r}")
        if name in {sp["col"] for sp in _snapshot_specs(cur) if sp}:
            raise ValueError(f"cannot drop partition source column {name!r}")
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r} in {schema.fieldNames()}")
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        hidden = f"__dropped_{name}_v{cur['schema_version'] + 1}"
        return self.commit(
            set(),
            [],
            new_schema=new_schema,
            operation="drop-column",
            summary_extra={"dropped": name},
            expected_parent_version=cur["version"],
            renames_extra=[
                {"at_schema_version": cur["schema_version"] + 1, "from": name, "to": hidden}
            ],
        )

    def rebucket(self, new_n_buckets: int, target_rows_per_file: int = 2_000_000) -> dict:
        """Change the table's bucket count — the partition-evolution
        operation a growing table needs (bucket count scales with the
        fleet; a table created at 64 buckets throttles write parallelism
        on a 1000-executor cluster).

        One full resolved rewrite: every live row (and still-guarding
        tombstone) is re-hashed into the new bucket space and written as
        key-sorted files, then a single commit swaps the complete file
        list AND the n_buckets metadata — readers and writers planned
        against the old snapshot keep working (their bucket math matches
        the files they reference; the CAS rejects their commits, forcing
        a reload that picks up the new layout). Runs as ONE Spark job +
        commit; at 10^10 rows schedule it like any major compaction."""
        from ..operators.skew import plan_bucket_splits, with_salted_split

        cur = self.current()
        if new_n_buckets == cur["n_buckets"]:
            raise ValueError(f"table already has {new_n_buckets} buckets")
        old_files = [f for f in self.files(cur)]
        df = self.scan(include_internal=True)
        seed = cur.get("bucket_seed", 0)
        h = (
            F.xxhash64(F.col(self.merge_keys[0]), F.lit(seed))
            if seed
            else F.xxhash64(F.col(self.merge_keys[0]))
        )  # must mirror bucket_expr exactly (seedless legacy tables)
        new_bucket = F.pmod(h, F.lit(new_n_buckets)).cast("int")
        out = df.withColumn("b", new_bucket)
        total = sum(f.rows for f in old_files)
        per_bucket = max(1, total // max(new_n_buckets, 1))
        splits = plan_bucket_splits(
            [(b, per_bucket) for b in range(new_n_buckets)], target_rows_per_file
        )
        to_write = with_salted_split(out, "b", splits, salt_cols=self.merge_keys)
        new_files = self.write_data_files(
            to_write, self.schema(cur), cur["schema_version"], sort_by=self.merge_keys,
            mark_base=True,
        )
        snap = {
            "version": self._next_version(),
            "branch": self.branch,
            "snapshot_id": uuid.uuid4().hex,
            "parent": cur["snapshot_id"],
            "batch_id": None,
            "merge_keys": cur["merge_keys"],
            "n_buckets": new_n_buckets,
            "bucket_seed": cur.get("bucket_seed", 0),
            "merge_engine": cur.get("merge_engine", "lww"),
            "stat_cols": cur.get("stat_cols", []),
            "partition_spec": cur.get("partition_spec"),
            "partition_specs": _snapshot_specs(cur),
            "key_bloom_bits": cur.get("key_bloom_bits", 0),
            "schema_version": cur["schema_version"],
            "schemas": cur["schemas"],
            "renames": cur.get("renames", []),
            "files": [f.to_json() for f in new_files],
            "requires_resolve": False,  # rewrite resolves everything
            "summary": {
                "operation": "rebucket",
                "from_buckets": cur["n_buckets"],
                "to_buckets": new_n_buckets,
                "total_rows": sum(f.rows for f in new_files),
            },
        }
        self._write_snapshot(snap)
        return snap

    def history(self) -> DataFrame:
        """Metadata table (Iceberg ``history``/``snapshots`` analog): one
        row per retained snapshot — version, operation, row/file counts,
        batch id, schema version — driver-side metadata only."""
        rows = [
            (
                s["version"],
                s.get("summary", {}).get("operation"),
                s.get("batch_id"),
                s["schema_version"],
                int(s.get("summary", {}).get("total_rows", sum(d["rows"] for d in s["files"]))),
                len(s["files"]),
                s.get("requires_resolve", False),
                # committed_at as UTC timestamp (None pre-field)
                datetime.datetime.fromtimestamp(
                    s["committed_at"], tz=datetime.timezone.utc
                ).replace(tzinfo=None)
                if s.get("committed_at") is not None
                else None,
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, operation string, batch_id string, "
            "schema_version long, total_rows long, n_files long, "
            "requires_resolve boolean, committed_at timestamp",
        )

    def file_manifest(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg ``files`` analog): one row per data
        file of a snapshot with its bucket, row count and key bounds."""
        snap = self.current() if version is None else self.snapshot(version)
        rows = [
            (f.path, f.bucket, f.rows, f.tombstones, f.min_key, f.max_key,
             f.schema_version)
            for f in self.files(snap)
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, bucket int, rows long, tombstones long, "
            "min_key string, max_key string, schema_version long",
        )

    def _bound_scalar(self, v):
        """Normalize a caller-supplied range bound like a footer stat.
        Naive datetimes are interpreted in the SPARK SESSION timezone
        (that is how ``F.lit`` and ``collect()`` render timestamps), not
        blindly as UTC — on a non-UTC session the difference would
        silently shift the prune window and drop overlapping files."""
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            from zoneinfo import ZoneInfo

            tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
            v = v.replace(tzinfo=ZoneInfo(tz))
        return _stat_scalar(v)

    def prune_for_range(self, col: str, lo, hi, snapshot: dict | None = None) -> list[DataFile]:
        """Files a range read on ``col`` must open (metadata only).
        ``col`` must be in the table's ``stat_cols``; files written
        before the stat existed (or with no footer bounds) are
        conservatively kept.

        LWW-correctness guard: FILE-level skipping on a non-key column
        is only safe when each key's live state is self-contained per
        file — true on resolved snapshots (COW merges / post-compaction),
        where every surviving key appears in exactly one file. On a
        merge-on-read snapshot with unresolved deltas, a key's winner
        could sit outside the range while a stale version inside the
        range survives a naive prune — so there the overlapping files
        are closed under same-bucket KEY-RANGE overlap (_key_closure):
        every version of every returnable key is then present, and rows
        in the closure-only files can never pass the caller's residual
        filter (their file's stats don't overlap the range). On a
        compacted MOR table this opens O(matching + key-overlapping
        delta) files — far below the old whole-bucket degradation."""
        snap = snapshot or self.current()
        specs = _snapshot_specs(snap)
        part_cols = {sp["col"] for sp in specs if sp}
        if col not in snap.get("stat_cols", []) and col not in part_cols:
            raise ValueError(
                f"column {col!r} has no file stats (table stat_cols="
                f"{snap.get('stat_cols', [])}); pass stat_cols=({col!r},) at create"
            )
        lo_n, hi_n = self._bound_scalar(lo), self._bound_scalar(hi)
        files = self.files(snap)

        def overlaps(f: DataFile) -> bool:
            cs = (f.col_stats or {}).get(col)
            return cs is None or not (cs[1] < lo_n or cs[0] > hi_n)

        seeds = [f for f in files if overlaps(f)]
        if col in part_cols:
            seeds = [
                f for f in seeds
                if _file_partition_overlaps(specs, f, col, lo_n, hi_n)
            ]
        if snap.get("requires_resolve", False):
            return _key_closure(files, seeds)
        return seeds

    def prune_for_predicate(
        self, condition_sql: str, snapshot: dict | None = None
    ) -> list[DataFile]:
        """Metadata-only file pruning for an arbitrary SQL predicate.

        The predicate is parsed with Catalyst's own SQL parser and its
        top-level AND-conjuncts of the shape ``col <op> literal`` (=,
        <, <=, >, >=, IN) are turned into per-column interval
        constraints — every other conjunct (OR trees, functions,
        col-vs-col) is ignored, which only widens the kept set, never
        narrows it (a dropped conjunct is a dropped NECESSARY
        condition). Files are then skipped exactly as in
        ``prune_for_range``:

        - constraints on the FIRST MERGE KEY skip at file granularity
          on any snapshot (every version of a key carries the same key
          value, so all of a matching key's versions survive the prune
          and LWW resolution stays complete);
        - constraints on the PARTITION SPEC's source column map exactly
          onto each file's partition value (no stats envelope — the
          writer split files by partition);
        - constraints on ``stat_cols`` compare against the per-file
          min/max envelope;
        - on merge-on-read snapshots, partition/stat-pruned survivors
          are closed under same-bucket key-range overlap (_key_closure)
          so LWW resolution over the subset stays exact — callers must
          re-apply the predicate after the scan (every caller does).

        Type-incompatible comparisons (e.g. a string bound against an
        int stat) conservatively keep the file."""
        snap = snapshot or self.current()
        files = self.files(snap)
        bounds = _predicate_bounds(self.spark, condition_sql)
        if not bounds:
            return files

        def _overlaps(lo, hi, mn, mx) -> bool:
            if mn is None or mx is None:
                return True  # no stats -> never skip
            try:
                if lo is not None and mx < lo:
                    return False
                if hi is not None and mn > hi:
                    return False
                return True
            except TypeError:
                return True  # incomparable types -> never skip

        key0 = self.merge_keys[0]
        if key0 in bounds:
            lo, hi = bounds[key0]
            files = [f for f in files if _overlaps(lo, hi, f.min_key, f.max_key)]

        mor = snap.get("requires_resolve", False)
        all_after_key = files
        specs = _snapshot_specs(snap)
        for pcol in {sp["col"] for sp in specs if sp} & set(bounds):
            lo, hi = bounds[pcol]
            files = [
                f for f in files
                if _file_partition_overlaps(
                    specs, f, pcol, self._bound_scalar(lo), self._bound_scalar(hi)
                )
            ]
        for c in snap.get("stat_cols", []):
            if c not in bounds:
                continue
            lo, hi = bounds[c]
            files = [
                f
                for f in files
                if _overlaps(lo, hi, *((f.col_stats or {}).get(c) or (None, None)))
            ]
        if mor and len(files) < len(all_after_key):
            files = _key_closure(all_after_key, files)
        return files

    def scan_range(self, col: str, lo, hi) -> DataFrame:
        """Range read on a non-key stats column (e.g. event time): skip
        every data file (resolved snapshots) or bucket (MOR snapshots —
        see prune_for_range) whose footer stats cannot overlap [lo, hi],
        then apply the residual filter on what remains."""
        snap = self.current()
        flist = self.prune_for_range(col, lo, hi, snap)
        return self.scan(files=flist).where(F.col(col).between(F.lit(lo), F.lit(hi)))

    # ---------------------------------------------------------- partitions
    def partition_spec(self) -> dict | None:
        return self.current().get("partition_spec")

    def set_partition_spec(self, partition_by: str | None) -> dict:
        """Metadata-only partition evolution (Iceberg ``ALTER TABLE …
        SET PARTITION SPEC`` / ``REPLACE PARTITION FIELD``).

        NO file is touched: new writes split under the new transform,
        existing files keep the partition value (and spec id) they were
        written with, and every consumer — ``prune_for_range``,
        ``prune_for_predicate``, ``drop_partitions`` — evaluates each
        file under ITS OWN spec, comparing across specs through the
        transform-independent epoch-micros interval each partition
        value covers. This is how a table partitioned ``days(ts)`` at
        creation moves to ``months(ts)`` when daily partitions grow too
        numerous at 10^10 rows (or vice versa when they grow too fat)
        without a 100-TB rewrite; a later major compaction naturally
        migrates rows it rewrites to the current spec.

        ``partition_by=None`` stops partitioning new writes (old files
        keep pruning under their specs). Identical respecified specs
        reuse their existing spec id (Iceberg spec dedup)."""
        cur = self.current()
        new = _parse_partition_spec(partition_by) if partition_by else None
        if new and new["col"] not in self.schema(cur).fieldNames():
            raise ValueError(
                f"partition column {new['col']!r} not in schema "
                f"{self.schema(cur).fieldNames()}"
            )
        if new == cur.get("partition_spec"):
            raise ValueError(f"table already partitioned by {partition_by!r}")
        specs = list(_snapshot_specs(cur))
        if new is not None and new not in specs:
            specs.append(new)
        return self.commit(
            set(),
            [],
            operation="set-partition-spec",
            expected_parent_version=cur["version"],
            summary_extra={
                "from": cur.get("partition_spec"),
                "to": new,
            },
            snapshot_extra={"partition_spec": new, "partition_specs": specs},
        )

    def drop_partitions(self, before) -> dict | None:
        """Metadata-only retention drop: remove every data file whose
        partition value is below ``before`` (a partition value for
        identity specs, or anything ``_bound_scalar`` accepts — e.g. a
        datetime — for time transforms, mapped through the transform).

        The Iceberg ``DELETE WHERE ts < cutoff`` partition-aligned fast
        path and the reference's per-date blob deletion analog: zero
        rows are read or written, the commit just drops file references
        (vacuum reclaims bytes after expiry). Requires a RESOLVED
        snapshot — under merge-on-read a dropped partition could hold a
        key's tombstone or newest version while a stale version survives
        in a retained file, silently resurrecting deleted/overwritten
        rows; run a major compaction first (the error says so). Files
        with a null/absent partition value are never dropped.

        Returns the commit snapshot, or None when nothing matched."""
        cur = self.current()
        pspec = cur.get("partition_spec")
        if not pspec:
            raise ValueError("table has no partition_spec; create with partition_by=")
        if cur.get("requires_resolve", False):
            raise ValueError(
                "drop_partitions requires a resolved snapshot: unresolved "
                "merge-on-read deltas could resurrect keys whose newest "
                "version or tombstone lives in the dropped partitions — run "
                "operators.compact.compact(table) first"
            )
        specs = _snapshot_specs(cur)
        if pspec["transform"] == "identity":
            # value-based cutoff: only files written under THIS identity
            # spec are comparable; time-transform files from an earlier
            # spec have no defined order against a raw value — kept
            cutoff = before

            def doomed_f(f: DataFile) -> bool:
                sid = f.spec_id if f.spec_id is not None else 0
                sp = specs[sid] if 0 <= sid < len(specs) else None
                if sp != pspec:
                    return False
                try:
                    return f.part < cutoff
                except TypeError:
                    return False
        else:
            prange = _partition_value_range(
                pspec, self._bound_scalar(before), self._bound_scalar(before)
            )
            if prange is None:
                raise ValueError(f"cannot map {before!r} to a partition value")
            # the cutoff instant, snapped DOWN to the current spec's
            # partition boundary (same semantics as the pre-evolution
            # ``part < cutoff``); a file written under ANY time transform
            # over the same source column drops iff its partition's
            # [start, end) interval ends at or before that instant —
            # exact across specs (a days file inside a dropped months
            # range drops; one straddling the boundary is kept)
            cut_us = _partition_interval_micros(pspec, prange[0])[0]

            def doomed_f(f: DataFile) -> bool:
                sid = f.spec_id if f.spec_id is not None else 0
                sp = specs[sid] if 0 <= sid < len(specs) else None
                if not sp or sp["col"] != pspec["col"]:
                    return False
                iv = _partition_interval_micros(sp, f.part)
                return iv is not None and iv[1] <= cut_us

        doomed = [f for f in self.files(cur) if f.part is not None and doomed_f(f)]
        if not doomed:
            return None
        return self.commit(
            {f.path for f in doomed},
            [],
            operation="drop-partitions",
            expected_parent_version=cur["version"],
            summary_extra={
                "partitions_dropped": sorted({f.part for f in doomed}),
                "rows_dropped": sum(f.rows for f in doomed),
            },
        )

    # ---------------------------------------------------------- change feed
    def scan_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level change feed between two retained snapshots (the
        Iceberg changelog-scan / Delta CDF analog): every key whose
        live state differs between ``from_version`` and ``to_version``
        (default HEAD), as one row with ``change_type`` in
        ('insert', 'update', 'delete').

        Output: merge keys + data columns (post-image; pre-image for
        deletes) + ``change_type`` + ``change_lsn`` (the LSN that made
        the change; the replaced row's LSN for deletes whose tombstone
        was already compacted away).

        Designed as a *snapshot diff*, not a log replay, so it is exact
        under every operation mix — out-of-order deliveries where a
        window's delta loses to an older base row with a higher LSN,
        compaction (pure rewrite → empty feed), replace, schema
        evolution (both sides aligned to the newer schema). Scale shape:
        buckets whose data-file sets are identical in both snapshots
        cannot differ and are pruned from BOTH scans using metadata
        only; the remaining diff is one key-partitioned full-outer join
        over just the touched buckets. The reference analog is the
        changed-(iso3, date) detection that drives its incremental
        recompute (reference: src/datasources/floodscan.py:196-213).

        Both snapshots must still be retained (expire_snapshots removes
        old versions; calls past the retention horizon fail)."""
        to_version = self.version if to_version is None else to_version
        if from_version > to_version:
            raise ValueError(f"from_version {from_version} > to_version {to_version}")
        old_snap = self.snapshot(from_version)
        new_snap = self.snapshot(to_version)
        target = self.schema(new_snap)
        keys = new_snap["merge_keys"]
        data_cols = [f.name for f in target.fields if f.name not in keys]

        by_bucket: dict[int, list[set[str]]] = {}
        for i, snap in enumerate((old_snap, new_snap)):
            for d in snap["files"]:
                by_bucket.setdefault(d["bucket"], [set(), set()])[i].add(d["path"])
        changed = {b for b, (o, n) in by_bucket.items() if o != n}

        def side(snap: dict, version: int, tag: str) -> DataFrame:
            flist = [f for f in self.files(snap) if f.bucket in changed]
            df = self.scan(version=version, include_internal=True, files=flist)
            # the older side surfaces pre-rename column names; map them
            # forward through renames committed after it so the diff
            # compares the same logical column, not null-vs-value
            for r in new_snap.get("renames", []):
                if snap["schema_version"] < r["at_schema_version"] and r["from"] in df.columns:
                    df = df.withColumnRenamed(r["from"], r["to"])
            df = align_to_schema(df, target, keep_extra=[LSN_COL, TOMBSTONE_COL])
            return df.select(
                *keys,
                *[F.col(c).alias(f"{tag}{c}") for c in data_cols],
                F.col(LSN_COL).alias(f"{tag}lsn"),
                F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias(f"{tag}dead"),
                F.lit(True).alias(f"{tag}present"),
            )

        o = side(old_snap, from_version, "_o_")
        n = side(new_snap, to_version, "_n_")
        j = o.join(n, on=keys, how="full_outer")
        old_alive = F.coalesce(F.col("_o_present"), F.lit(False)) & ~F.col("_o_dead")
        new_alive = F.coalesce(F.col("_n_present"), F.lit(False)) & ~F.col("_n_dead")
        # an update is a moved LSN OR a changed payload at the same LSN —
        # the latter happens via out-of-band row-level DML (update_where
        # keeps LSNs so in-flight CDC events still order correctly);
        # null-safe struct compare so NULL payload fields diff correctly
        payload_changed = ~F.struct(
            *[F.col(f"_o_{c}") for c in data_cols]
        ).eqNullSafe(F.struct(*[F.col(f"_n_{c}") for c in data_cols]))
        change = (
            F.when(~old_alive & new_alive, F.lit("insert"))
            .when(
                old_alive
                & new_alive
                & ((F.col("_o_lsn") != F.col("_n_lsn")) | payload_changed),
                F.lit("update"),
            )
            .when(old_alive & ~new_alive, F.lit("delete"))
        )
        is_delete = F.col("change_type") == "delete"
        return (
            j.withColumn("change_type", change)
            .where(F.col("change_type").isNotNull())
            .select(
                *keys,
                *[
                    F.when(is_delete, F.col(f"_o_{c}")).otherwise(F.col(f"_n_{c}")).alias(c)
                    for c in data_cols
                ],
                F.when(is_delete, F.coalesce(F.col("_n_lsn"), F.col("_o_lsn")))
                .otherwise(F.col("_n_lsn"))
                .alias("change_lsn"),
                "change_type",
            )
        )

    # ---------------------------------------------------------- commit
    def commit(
        self,
        removed_paths: set[str],
        added_files: list[DataFile],
        new_schema: T.StructType | None = None,
        batch_id: str | None = None,
        operation: str = "merge",
        summary_extra: dict | None = None,
        requires_resolve: bool | None = None,
        expected_parent_version: int | None = None,
        renames_extra: list[dict] | None = None,
        snapshot_extra: dict | None = None,
    ) -> dict:
        """Replace-files commit: untouched files carry over unchanged.

        ``snapshot_extra``: metadata-field overrides merged into the
        snapshot after the standard build (used by DDL-style commits,
        e.g. set_partition_spec).

        Optimistic concurrency: pass ``expected_parent_version`` (the
        version the change was *planned* against) and the commit is
        rejected with CommitConflictError if another writer advanced
        HEAD in between — plus the exclusive snapshot-file create closes
        the remaining race window, so of two simultaneous committers
        exactly one wins (Iceberg catalog-CAS semantics on a local FS).
        """
        cur = self.current()
        if expected_parent_version is not None and cur["version"] != expected_parent_version:
            raise CommitConflictError(
                f"table advanced to v{cur['version']} while this change was planned "
                f"against v{expected_parent_version}; reload and retry"
            )
        kept = [d for d in cur["files"] if d["path"] not in removed_paths]
        schemas = dict(cur["schemas"])
        schema_version = cur["schema_version"]
        if new_schema is not None and json.loads(new_schema.json()) != schemas[str(schema_version)]:
            schema_version += 1
            schemas[str(schema_version)] = json.loads(new_schema.json())
        files = kept + [f.to_json() for f in added_files]
        if requires_resolve is None:
            requires_resolve = cur.get("requires_resolve", False)
        snap = {
            "version": self._next_version(),
            "branch": self.branch,
            "snapshot_id": uuid.uuid4().hex,
            "parent": cur["snapshot_id"],
            "batch_id": batch_id,
            "merge_keys": cur["merge_keys"],
            "merge_engine": cur.get("merge_engine", "lww"),
            "n_buckets": cur["n_buckets"],
            "bucket_seed": cur.get("bucket_seed", 0),
            "stat_cols": cur.get("stat_cols", []),
            "partition_spec": cur.get("partition_spec"),
            "partition_specs": _snapshot_specs(cur),
            "key_bloom_bits": cur.get("key_bloom_bits", 0),
            "schema_version": schema_version,
            "schemas": schemas,
            # rename chain (Iceberg field-ID mapping analog): applied at
            # scan to file groups written before each rename so name-based
            # alignment keeps mapping old files to current columns
            "renames": cur.get("renames", []) + (renames_extra or []),
            "files": files,
            "requires_resolve": requires_resolve,
            "summary": {
                "operation": operation,
                "total_rows": sum(d["rows"] for d in files),
                "removed_files": len(removed_paths),
                "added_files": len(added_files),
                **(summary_extra or {}),
            },
        }
        if snapshot_extra:
            snap.update(snapshot_extra)
        self._write_snapshot(snap)
        return snap

    def commit_retrying(
        self,
        removed_paths: set[str],
        added_files: list["DataFile"],
        *,
        validation: str,
        expected_parent_version: int,
        max_retries: int = 4,
        **commit_kwargs,
    ) -> dict:
        """Optimistic-concurrency commit: on a lost commit race,
        revalidate against the NEW head and retry the metadata commit
        alone — the data files already written are reused, nothing is
        recomputed (Iceberg's SnapshotProducer validate-and-retry loop;
        the reference has no concurrent writers at all — one cron
        process per pipeline).

        ``validation="append"`` (``removed_paths`` must be empty): the
        added files are new data no concurrent commit can have seen, so
        a retry against the advanced head is always safe UNLESS
        (a) the head now carries this commit's ``batch_id`` — a
        duplicate delivery raced us and won; exactly-once means this is
        SUCCESS: the winning snapshot is returned and our orphaned data
        files are left for vacuum; or (b) the head's schema epoch moved
        (evolution or rename) — the added files' stamped
        ``schema_version`` and the planned evolution were computed
        against the old epoch, so the batch must be re-planned (raises).

        ``validation="rewrite"``: the commit replaces files it read.
        Retry is valid iff every removed path is still live at the new
        head AND the affected buckets' file sets are unchanged since the
        planned parent (the concurrent commit touched only OTHER
        buckets — its changes carry over untouched); a commit claiming
        table-wide resolution (explicit ``requires_resolve=False``) also
        requires that no file was added ANYWHERE, since an unseen delta
        would falsify the claim. Anything else raises
        ``CommitConflictError`` and the caller re-plans from fresh
        state, exactly like Iceberg's
        ``validateNoNewDeletesForDataFiles`` family.

        Versions are globally numbered across branches, so losing the
        snapshot-file CAS to a *different branch's* writer leaves this
        branch's head unchanged — that case retries with no validation
        at all (nothing about this branch moved)."""
        if validation not in ("append", "rewrite"):
            raise ValueError(f"unknown conflict validation {validation!r}")
        if validation == "append" and removed_paths:
            raise ValueError("validation='append' requires removed_paths == set()")
        planned = self.snapshot(expected_parent_version)
        parent_v = expected_parent_version
        for attempt in range(max_retries + 1):
            try:
                return self.commit(
                    removed_paths, added_files,
                    expected_parent_version=parent_v, **commit_kwargs,
                )
            except CommitConflictError:
                if attempt == max_retries:
                    raise
            head = self.current()
            if head["version"] == parent_v:
                continue  # cross-branch version-number collision only
            bid = commit_kwargs.get("batch_id")
            if bid is not None and bid in self.committed_batch_ids():
                by_id = {s["snapshot_id"]: s for s in self.snapshots()}
                s: dict | None = head
                while s is not None:
                    if s.get("batch_id") == bid:
                        return s  # exactly-once: the race winner IS this batch
                    s = by_id.get(s.get("parent"))
                raise AssertionError("batch_id in ancestry but snapshot not found")
            if head["schema_version"] != planned["schema_version"] or len(
                head.get("renames", [])
            ) != len(planned.get("renames", [])):
                raise CommitConflictError(
                    "concurrent schema change: head schema epoch moved from "
                    f"{planned['schema_version']} to {head['schema_version']} "
                    "while this commit was planned; re-plan against fresh state"
                )
            if head["n_buckets"] != planned["n_buckets"] or head.get(
                "bucket_seed", 0
            ) != planned.get("bucket_seed", 0):
                # A concurrent rebucket() changed the hash modulus/seed: the
                # added files' stamped bucket values were computed under the
                # OLD layout, so retrying (even an append) would commit keys
                # invisible to bucket-pruned lookups and mis-grouped during
                # MOR resolve. Fail safe like the pre-retry behavior.
                raise CommitConflictError(
                    "concurrent rebucket: bucket layout moved from "
                    f"{planned['n_buckets']}/{planned.get('bucket_seed', 0)} to "
                    f"{head['n_buckets']}/{head.get('bucket_seed', 0)} while this "
                    "commit was planned; re-plan against fresh state"
                )
            if validation == "rewrite":
                head_files = {d["path"]: d for d in head["files"]}
                planned_files = {d["path"]: d for d in planned["files"]}
                missing = removed_paths - set(head_files)
                if missing:
                    raise CommitConflictError(
                        f"{len(missing)} input file(s) of this rewrite were "
                        "removed by a concurrent commit (e.g. a competing "
                        "compaction); re-plan against fresh state"
                    )
                affected = {planned_files[p]["bucket"] for p in removed_paths} | {
                    f.bucket for f in added_files
                }
                head_b = {p for p, d in head_files.items() if d["bucket"] in affected}
                plan_b = {p for p, d in planned_files.items() if d["bucket"] in affected}
                if head_b != plan_b:
                    raise CommitConflictError(
                        "a concurrent commit changed files in the buckets this "
                        f"rewrite covers ({sorted(affected)[:8]}...); re-plan"
                    )
                if commit_kwargs.get("requires_resolve") is False and (
                    set(head_files) - set(planned_files)
                ):
                    raise CommitConflictError(
                        "this rewrite claims table-wide resolution but a "
                        "concurrent commit added files since it was planned; "
                        "re-plan"
                    )
            parent_v = head["version"]
        raise AssertionError("unreachable")

    def committed_batch_ids(self) -> set[str]:
        """Batch ids on THIS branch's retained ancestry (parent chain
        from this head), for exactly-once replay detection.

        Scoped to the ancestry — not all retained snapshots — because a
        batch ingested to a side branch is NOT in this branch's state: in
        the failed-audit recovery (ingest to branch, audit fails,
        drop_branch — which removes only the head pointer, leaving the
        snapshots retained until expiry), re-running the pipeline
        against main must re-apply those batches, not silently skip them
        while the checkpoint advances. After expire_snapshots the window
        shrinks to the retention horizon — keep retention >= the
        checkpoint replay horizon (the checkpoint already bounds how far
        back a batch can be re-offered)."""
        by_id = {s["snapshot_id"]: s for s in self.snapshots()}
        out: set[str] = set()
        seen: set[str] = set()
        s: dict | None = self.current()
        while s is not None and s["snapshot_id"] not in seen:
            seen.add(s["snapshot_id"])
            if s.get("batch_id"):
                out.add(s["batch_id"])
            s = by_id.get(s.get("parent"))
        return out

    # ---------------------------------------------------------- replace sink
    def replace(
        self,
        df: DataFrame,
        batch_id: str | None = None,
        target_rows_per_file: int = 2_000_000,
    ) -> dict:
        """Drop-and-recreate the table contents atomically (the
        reference's ``if_exists="replace"`` derived-table pattern,
        reference: src/datasources/codab.py:42-48,
        pipelines/update_exposure_quantile.py:98-105).

        The replacement schema is the incoming frame's schema (replace
        may reshape the table wholesale, like a SQL CREATE OR REPLACE);
        merge keys must still be present. Readers of the previous
        snapshot keep a consistent view — old files are only *physically*
        reclaimed by expire_snapshots/vacuum."""
        from ..operators.merge import _check_write_consistency
        from ..operators.skew import plan_bucket_splits, with_salted_split
        from pyspark.sql import Observation

        cur = self.current()
        for k in self.merge_keys:
            if k not in df.columns:
                raise ValueError(f"replacement frame is missing merge key {k!r}")
        new_schema = T.StructType(
            [f for f in df.schema.fields if f.name not in INTERNAL_COLS]
        )
        schema_version = cur["schema_version"] + (
            1 if json.loads(new_schema.json()) != cur["schemas"][str(cur["schema_version"])] else 0
        )
        out = df
        if LSN_COL not in out.columns:
            out = out.withColumn(LSN_COL, F.lit(0).cast("long"))
        if TOMBSTONE_COL not in out.columns:
            out = out.withColumn(TOMBSTONE_COL, F.lit(False))
        out = out.withColumn("b", self.bucket_expr()).persist()
        try:
            census = out.groupBy("b").agg(F.count("*").alias("n")).collect()
            splits = plan_bucket_splits(
                [(r["b"], r["n"]) for r in census], target_rows_per_file
            )
            obs = Observation()
            out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
            to_write = with_salted_split(out, "b", splits, salt_cols=self.merge_keys)
            new_files = self.write_data_files(
                to_write, new_schema, schema_version, mark_base=True
            )
            _check_write_consistency(int(obs.get["rows"]), new_files)
            return self.commit(
                removed_paths={d["path"] for d in cur["files"]},
                added_files=new_files,
                new_schema=new_schema,
                batch_id=batch_id,
                operation="replace",
                requires_resolve=False,
                expected_parent_version=cur["version"],
            )
        finally:
            out.unpersist()

    # ---------------------------------------------------------- retention
    def expire_snapshots(self, keep_last: int = 2, orphan_grace_sec: float = 0.0) -> dict:
        """Expire all but the newest ``keep_last`` snapshots and
        physically delete every data file no retained snapshot
        references (replaced/rewritten files AND orphans from failed
        writes). Time travel within the retention window keeps working;
        scans of expired versions fail.

        Storage-bound guarantee at 10^10 events: without this, every
        per-batch COW rewrite strands its replaced files forever. Orphan deletion
        assumes no concurrent writer is mid-write, or pass
        ``orphan_grace_sec`` so files younger than the grace period
        survive (Iceberg's remove_orphan_files retention interval).
        """
        import time as _time

        snaps = self.snapshots()
        head_version = self.version
        cutoff = head_version - keep_last + 1
        # tagged versions and every branch head are protected regardless
        # of age (Iceberg tag/branch retention semantics)
        heads = set(self.branches().values())
        protected = set(self.tags().values()) | heads
        # while any side branch exists, protect every head's FULL parent
        # chain down to the oldest head: publish_branch's fast-forward
        # walk needs each intermediate branch snapshot between the branch
        # head and main's head to still exist, and main's head (the fork
        # floor) is the deepest any such walk can reach — version numbers
        # are global, so everything on those chains is >= min(heads)
        if len(heads) > 1:
            by_id = {s["snapshot_id"]: s for s in snaps}
            by_version = {s["version"]: s for s in snaps}
            floor = min(heads)
            for hv in heads:
                s = by_version.get(hv)
                while s is not None and s["version"] >= floor:
                    protected.add(s["version"])
                    s = by_id.get(s.get("parent"))
        kept = [s for s in snaps if s["version"] >= cutoff or s["version"] in protected]
        expired = [s for s in snaps if not (s["version"] >= cutoff or s["version"] in protected)]
        referenced = {d["path"] for s in kept for d in s["files"]}

        for s in expired:
            os.remove(self._snap_path(s["version"]))

        now = _time.time()
        deleted_files = 0
        data_root = os.path.join(self.path, "data")
        for root, dirs, files in os.walk(data_root, topdown=False):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if rel in referenced:
                    continue
                if orphan_grace_sec and (now - os.path.getmtime(full)) < orphan_grace_sec:
                    continue
                os.remove(full)
                deleted_files += 1
            for d in dirs:
                try:
                    os.rmdir(os.path.join(root, d))
                except OSError:
                    pass  # not empty
        return {
            "expired_snapshots": len(expired),
            "deleted_files": deleted_files,
            "retained_versions": [s["version"] for s in kept],
        }

    # ---------------------------------------------------------- write helper
    def write_data_files(
        self,
        df: DataFrame,
        write_schema: T.StructType,
        schema_version: int,
        sort_by: list[str] | None = None,
        pre_partitioned: bool = False,
        mark_base: bool = False,
        num_partitions: int | None = None,
    ) -> list[DataFile]:
        """Write rows (table-schema columns + _lsn + 'b' bucket + '_split')
        as new parquet data files and return their metadata.

        ``_split`` is the skew-splitting column (operators/skew.py): the
        repartition on (b, _split) bounds file size and spreads a hot
        bucket over several tasks/files. Data files are written by the
        TASKS via an Arrow parquet writer (``mapInArrow``), and each
        task returns its files' manifest entries — rows, min/max merge
        key, stat-col bounds — as its task result (Iceberg-writer style:
        stats ride back in task commit messages). The driver never
        lists, globs, or reads footers of what was written; per-batch
        driver cost is O(1) regardless of file count — on object
        storage at 10^10-row scale, driver footer reads are otherwise
        the ingest ceiling (see _make_task_writer). Each writer task is a
        Python-worker task with a fixed set-up cost (~0.24 s on a 4-vCPU
        host, whatever its rows), so the writer task count is the write
        exchange's width, and the apply paths size that width from their
        row estimate: one wave of at most ``cores`` tasks for a small
        batch (operators/skew.write_exchange_partitions).

        ``pre_partitioned``: the caller already exchanged the rows on
        (b, _split) at that width (the one-shuffle merge paths,
        operators/compact.py / merge.py) — write task-local, no second
        shuffle here. ``num_partitions``: the exchange width to use when
        this method does the exchange (compaction); without it, the
        session default.
        """
        commit_dir = f"data/c{uuid.uuid4().hex[:12]}"
        key0 = self.merge_keys[0]
        cur = self.current()
        stat_cols = list(cur.get("stat_cols", []))
        pspec = cur.get("partition_spec")
        kb_bits = int(cur.get("key_bloom_bits") or 0)
        key_field = next(
            (f for f in write_schema.fields if f.name == key0), None
        )
        kb_int = key_field is not None and isinstance(
            key_field.dataType,
            (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
        )
        if key_field is None or not (
            kb_int or isinstance(key_field.dataType, T.StringType)
        ):
            kb_bits = 0  # blooms only over string/integral first keys

        if pre_partitioned:
            to_write = df.drop("_split") if "_split" in df.columns else df
        elif num_partitions:
            # exchange width from the data layout (group count), not the
            # core count — see operators/skew.write_exchange_partitions
            to_write = df.repartition(
                num_partitions, F.col("b"), F.col("_split")
            ).drop("_split")
        else:
            to_write = df.repartition(F.col("b"), F.col("_split")).drop("_split")
        if pspec:
            # value-partition transform, computed map-side AFTER the
            # exchange (it only splits each task's output into per-
            # partition files — it never adds a shuffle)
            to_write = to_write.withColumn("_p", _partition_transform_expr(pspec))
        if sort_by:
            # read-optimized files (compaction passes the merge keys):
            # rows sorted by key within each file give tight per-row-
            # group min/max stats, so point lookups prune at row-group
            # granularity, not just file granularity. The hot ingest
            # path skips this — deltas stay write-fast. Partition value
            # leads the sort so a task feeds one (b, _p) file at a time:
            # the writer's open-file cap never splits a file.
            to_write = to_write.sortWithinPartitions(
                *(["b", "_p"] if pspec else ["b"]), *sort_by
            )

        # AQE adds a driver-side re-plan round trip per materialized
        # exchange, and this job's one exchange is already sized
        # explicitly from the data layout (write_exchange_partitions) —
        # AQE has nothing to decide here and its stage materialization
        # costs a consistent ~5% of replay wall (same-epoch A/B: 906K
        # vs 838K ev/s on the 16.8M-event replay). Disabled around the
        # write action only, prior value restored.
        aqe_key = "spark.sql.adaptive.enabled"
        prev_aqe = self.spark.conf.get(aqe_key)
        self.spark.conf.set(aqe_key, "false")
        try:
            metas = to_write.mapInArrow(
                _make_task_writer(
                    commit_dir, self.path, key0, stat_cols, schema_version,
                    partitioned=bool(pspec), key_bloom_bits=kb_bits,
                    key_bloom_int=kb_int,
                ),
                schema="meta string",
            ).collect()
        finally:
            self.spark.conf.set(aqe_key, prev_aqe)
        files = [DataFile.from_json(json.loads(r["meta"])) for r in metas]
        import dataclasses as _dc

        if pspec:
            # stamp the spec that produced these partition values — after
            # partition evolution, pruning/retention must evaluate each
            # file under the spec it was WRITTEN with, not the current one
            sid = _snapshot_specs(cur).index(pspec)
            files = [
                _dc.replace(f, spec_id=sid) if f.part is not None else f
                for f in files
            ]
        if mark_base:
            # caller performed a bucket-complete resolve: flag the files
            # so minor compaction exempts exactly them (DataFile.base)
            files = [_dc.replace(f, base=True) for f in files]
        return files
