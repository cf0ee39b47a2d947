"""SparkSession factory with scale-appropriate defaults.

Defaults follow the survey's physical-execution notes (SURVEY.md §4):
AQE on (runtime re-plan + skew-join split + partition coalescing),
shuffle partitions ~2-3x cores locally (on a real cluster this would be
2-3x total executor cores), Arrow enabled for the vectorized pandas-UDF
paths, and UTC session time so results compare bit-for-bit against the
DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "ds-floodexposure-monitoring-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``). On a real cluster, pass ``None`` and let
    spark-submit supply the master; every conf here remains valid.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    n_threads = _parse_local_threads(master)
    if shuffle_partitions is None:
        # ~2x cores: enough parallelism without tiny-task overhead.
        shuffle_partitions = max(2 * n_threads, 8) if n_threads else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): the task-side parquet
        # writer (sources/lake._make_task_writer) and every mapInArrow/
        # pandas-UDF path pay per-batch overhead (IPC framing, per-batch
        # bucket split); larger batches amortize it at ~tens of MB per
        # batch of memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(1 << 16))
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) carries NO footer min/max stats, which
        # blinds both parquet row-group skipping and the lake manifest's
        # per-file stat_cols bounds (LakeTable.scan_range); MICROS is the
        # modern representation with full statistics
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_memory(n_threads)))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # v2 commit moves task outputs inside the tasks instead of a
        # serial driver-side rename pass — that pass is per-batch fixed
        # cost and caps micro-batch throughput at high parallelism
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_memory(n_threads: int | None) -> str:
    """Heap sized per-core (~1.5 GB/thread, floor 8 GB), mirroring a real
    cluster where executor memory is provisioned per core. A fixed heap
    starves wide local[N] runs: 32 concurrent tasks against 8 GB turn
    shuffle+write memory pressure into a GC storm (measured: local[32]
    10x slower than local[8] on the CDC ingest at 8 GB)."""
    gb = max(8, int(1.5 * n_threads)) if n_threads else 8
    return f"{gb}g"


def _parse_local_threads(master: str) -> int | None:
    """Return thread count for a local[...] master, else None."""
    if not master.startswith("local"):
        return None
    if master == "local":
        return 1
    inner = master[master.index("[") + 1 : master.index("]")]
    if inner == "*":
        return os.cpu_count() or 4
    try:
        return int(inner)
    except ValueError:
        return None


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A driver-side row list as a DataFrame that no Python worker touches.

    ``createDataFrame(list)`` parallelizes the rows into a Python RDD, so
    any job over it runs ``defaultParallelism`` Python tasks, each paying
    the worker's fixed start cost (operators/skew.write_exchange_partitions)
    to emit a handful of rows. An Arrow table reaches the JVM as a local
    relation instead (below ``spark.sql.execution.arrow.localRelationThreshold``;
    above it, as a JVM RDD of Arrow batches — still no Python worker): a
    projection over it (the bucket of each lookup key) is folded into
    the relation and collected with no job at all, and joined into a
    bigger plan it is a broadcastable leaf. Rows are checked against
    ``schema`` exactly as ``createDataFrame`` checks them, so a value of
    the wrong type is rejected the same way, and a string field stores
    any other value as its ``str()``, as it does there."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, f in enumerate(schema.fields):
        values = [r[i] for r in rows]
        if isinstance(f.dataType, T.StringType):
            values = [v if v is None or isinstance(v, str) else str(v) for v in values]
        columns.append(pa.array(values, type=arrow_schema.field(i).type))
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)
