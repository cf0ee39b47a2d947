"""Flagship query (SURVEY.md §7.4): one plan exercising every §2 operator
family — CDC last-writer-wins dedup, daily rollup, gap-robust trailing
range window, rank/return-period — with a DuckDB-expressible oracle.

Treats ``events`` as the CDC stand-in: merge key (user_id, event_type),
LSN = event_id (FIXTURES.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import dedup_last_writer
from .spec import table

FLAGSHIP_SQL = """
    WITH lww AS (
      SELECT user_id, event_type, value, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    ),
    daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM lww GROUP BY 1, 2
    )
    SELECT event_type, day, n, CAST(total AS DOUBLE) AS total,
           ROUND(CAST(SUM(total) OVER w AS DOUBLE) / (COUNT(*) OVER w), 6)
             AS rolling_avg,
           CAST(rank() OVER (PARTITION BY event_type
                             ORDER BY total DESC, day) AS BIGINT) AS day_rank
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
"""


def flagship(spark: SparkSession, sf: str) -> DataFrame:
    # project before dedup so the parquet scan prunes unused columns
    ev = table(spark, sf, "events").select("user_id", "event_type", "value", "ts", "event_id")
    lww = dedup_last_writer(ev, keys=("user_id", "event_type"), order_cols=("event_id",))
    daily = lww.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("day"))
        .rangeBetween(-6 * 86400, 0)
    )
    rw = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("day"))
    return daily.select(
        "event_type",
        "day",
        "n",
        F.col("total").cast("double").alias("total"),
        F.round(F.sum("total").over(w).cast("double") / F.count("*").over(w), 6).alias(
            "rolling_avg"
        ),
        F.rank().over(rw).cast("long").alias("day_rank"),
    )
