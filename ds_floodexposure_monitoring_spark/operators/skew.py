"""Hot-key detection and salted skew splitting for the bucket-write path.

north_rule: change events are salted-hash-partitioned on conv_id with
explicit skew splitting for hot conversations. AQE's skew-join splitting
covers joins but not the final bucket-partitioned write, where one hot
conversation (hence one hot bucket) would serialize into a single task
and a single giant file. Here:

1. a cheap per-bucket census (``groupBy(bucket).count()`` — one narrow
   agg over a batch already in memory) finds row counts;
2. each bucket gets ``ceil(rows / target_rows_per_file)`` splits;
3. ``_split = pmod(xxhash64(key..., salt), n_splits)`` spreads the
   bucket over that many write tasks/files.

The census result is tiny (≤ n_buckets rows) and is broadcast-joined
back — never collected into a per-row Python closure.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


def plan_bucket_splits(
    bucket_counts: list[tuple[int, int]], target_rows_per_file: int
) -> dict[int, int]:
    """bucket -> number of output splits (≥1), sized so files stay near
    ``target_rows_per_file``."""
    out: dict[int, int] = {}
    for bucket, rows in bucket_counts:
        out[bucket] = max(1, -(-rows // target_rows_per_file))
    return out


def with_salted_split(
    df: DataFrame,
    bucket_col: str,
    splits: dict[int, int],
    salt_cols: Sequence[str] = ("conv_id", "turn_idx"),
    seed: int = 2654435761,
) -> DataFrame:
    """Add ``_split`` ∈ [0, splits[bucket]) via salted hash of the full
    merge key; cold buckets (splits==1) get a constant 0.

    The salt input always appends a ``'split'`` literal (and uses a seed
    constant distinct from ``LakeTable.BUCKET_SEED``): for a
    single-column merge key, an identical hash input would make the
    split hash a pure function of the bucket hash, so ``_split`` would
    be constant per bucket whenever n_splits divides n_buckets —
    silently disabling hot-bucket splitting.

    Fast paths (both hit constantly on the steady-state ingest loop, so
    they remove a per-batch broadcast JOB from the driver's critical
    path — measured as part of the ~0.8 s/batch fixed cost that caps
    wide-width scaling at bench batch sizes):

    - every bucket has 1 split (no hot buckets): ``_split`` is the
      literal 0 — no lookup of any kind;
    - few distinct split counts (the usual skew profile: a handful of
      hot buckets, everything else cold): the bucket→splits lookup
      inlines as a literal MAP expression evaluated map-side — no
      broadcast, no join operator, no extra job. The broadcast join
      remains only for a pathological many-distinct-hot-buckets profile
      at very large n_buckets.
    """
    values = set(int(n) for n in splits.values())
    if values <= {1}:
        return df.withColumn("_split", F.lit(0).cast("int"))
    salt = F.xxhash64(*[F.col(c) for c in salt_cols], F.lit(seed), F.lit("split"))
    hot = {int(b): int(n) for b, n in splits.items() if int(n) > 1}
    if len(hot) <= 256:
        pairs: list = []
        for b, n in hot.items():
            pairs += [F.lit(b), F.lit(n)]
        n_splits = F.coalesce(
            # lit(int) is LongType; align the key side explicitly
            F.element_at(F.create_map(*pairs), F.col(bucket_col).cast("long")),
            F.lit(1),
        )
        return df.withColumn("_split", F.pmod(salt, n_splits).cast("int"))
    splits_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(int(b), int(n)) for b, n in splits.items()],
            T.StructType([
                T.StructField(bucket_col, T.IntegerType()),
                T.StructField("_n_splits", T.IntegerType()),
            ]),
        )
    )
    df = df.join(splits_df, on=bucket_col, how="left").na.fill({"_n_splits": 1})
    return df.withColumn("_split", F.pmod(salt, F.col("_n_splits")).cast("int")).drop("_n_splits")


# Rows a writer task must carry before one more task pays for itself.
# A Python-worker task costs ~0.24 s before any user code runs
# (bench/python_task_cost.py: no-op mapInArrow at 4 vs 16 tasks on a
# 4-vCPU host), and the apply works at ~12 us (merge_append) to ~18 us
# (compact) of executor CPU per row (traced replay_mor, same host). At
# 200k rows a task's fixed cost stays near a tenth of its row work.
ROWS_PER_WRITE_TASK = 200_000


def write_exchange_partitions(
    df: DataFrame, splits: dict[int, int], rows: int | None
) -> int:
    """Shuffle-partition count for the one-exchange write path.

    Every partition of this exchange is a ``mapInArrow`` writer task
    (sources/lake.write_data_files), and a Python-worker task has a
    fixed cost that does not depend on its rows: ~0.24 s on a 4-vCPU
    host (bench/python_task_cost.py), against ~0.006 s for a JVM-only
    task. Most of it is ``importlib.invalidate_caches()`` in the
    worker's per-task set-up (pyspark/worker_util.py), which makes each
    zipimporter on the worker's path re-read its archive's index on
    every task: 16 importers over pyspark.zip (1,328 entries), the py4j
    zip and the spark-core jar (5,359 entries), ~0.2 s per call measured
    inside a task. So a task only earns its place by the rows it
    carries; the cost model per reduce stage is

        wall ≈ waves x 0.24 s + rows x c_row / min(tasks, cores)

    with waves = ceil(tasks / cores). Below ``cores`` tasks, each extra
    task buys parallelism for free (its fixed cost runs beside the
    others); past ``cores``, each extra wave adds 0.24 s and no
    parallelism. Hence, with ``rows`` the caller's estimate (known
    without a Spark job — changelog metadata, census and manifest
    counts):

        clamp(ceil(rows / ROWS_PER_WRITE_TASK), min(groups, cores), widest)

    so a small batch writes in ONE wave, and only a batch large enough
    that per-task rows (memory, sort-agg spill) matter more than the
    fixed cost widens toward the layout-driven ``widest``.
    ``rows=None`` (no estimate) keeps ``widest``.

    ``widest`` is the width from the table layout: the exchange hashes
    G = sum(splits) (bucket, split) groups, and two failure modes at the
    session default (~2x cores), both measured on the scaling bench:

    - G > partitions: several whole groups pile into one reduce task,
      whose rows then exceed the sort-agg's in-memory budget at narrow
      widths → spill (local[2] replay measured 198K -> 270K ev/s from
      raising the count alone);
    - G ~ partitions: balls-into-bins collisions leave tail tasks with
      2-4 groups while others sit empty — invisible at narrow widths
      (many waves smooth it), a direct wall tax at wide widths where the
      reduce stage is one or two waves deep.

    So ``widest`` over-partitions 4x ONLY when the reduce stage would
    be shallow (groups < 4x cores); with >= 4 waves per core the tail
    averages out and it is exactly the group count. Floored by the
    session default either way. On a real cluster the write-task count
    follows the table layout (Iceberg's write distribution), growing
    with n_buckets, so production sits in the many-waves branch.
    """
    spark = df.sparkSession
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    groups = sum(splits.values()) or 1
    widest = max(groups, base) if groups >= 4 * cores else max(4 * groups, base)
    if rows is None:
        return widest
    by_rows = -(-rows // ROWS_PER_WRITE_TASK)
    return max(min(groups, cores), min(by_rows, widest))
