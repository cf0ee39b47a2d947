"""Independent DuckDB oracle over the consumed changelog files.

Every check recomputes last-writer-wins state straight from parquet
change files (the committed prefix a read or a final state should
reflect) and compares it with what the engine returned. The state
checksum is the order-independent one of ``bench/replay_match.py``: the
sum of 60-bit md5 prefixes over ``(conv_id, turn_idx, text)``, computed
with identical arithmetic on both sides, so nothing is collected from
the engine beyond one aggregate row.
"""

from __future__ import annotations

import duckdb

_SEP, _NUL = "\x01", "\x00NULL"


def engine_digest(df) -> tuple[int, int]:
    """(rows, checksum) of a Spark DataFrame of live rows."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        _SEP, F.col("conv_id"), F.col("turn_idx").cast("string"),
        F.coalesce(F.col("text"), F.lit(_NUL)),
    )
    digest = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(digest).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        self._tables: dict[tuple[str, ...], str] = {}

    def _winners(self, files: list[str]) -> str:
        """Last-writer-wins row per key (tombstones included) over a
        prefix of change files, materialized once per distinct prefix."""
        key = tuple(files)
        if key not in self._tables:
            name = f"w{len(self._tables)}"
            lst = ", ".join("'" + p.replace("'", "''") + "'" for p in files)
            self.con.execute(f"""
                CREATE TEMP TABLE {name} AS
                SELECT conv_id, turn_idx, text, role, epoch(ts) AS ts_s, lsn, op FROM (
                  SELECT *, row_number() OVER (
                      PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
                  FROM read_parquet([{lst}], union_by_name = true)
                ) WHERE rn = 1""")
            self._tables[key] = name
        return f"SELECT * FROM {self._tables[key]}"

    def _live(self, files: list[str]) -> str:
        return f"SELECT * FROM ({self._winners(files)}) WHERE op <> 'D'"

    @staticmethod
    def _digest_sql(rel: str) -> str:
        return f"""
            SELECT count(*), coalesce(sum(('0x' || substr(md5(
                conv_id || chr(1) || CAST(turn_idx AS VARCHAR) || chr(1)
                || coalesce(text, chr(0) || 'NULL')), 1, 15))::UBIGINT), 0)
            FROM ({rel})"""

    def state_digest(self, files: list[str]) -> tuple[int, int]:
        n, s = self.con.sql(self._digest_sql(self._live(files))).fetchone()
        return int(n), int(s)

    def range_digest(self, files: list[str], lo_s: int, hi_s: int) -> tuple[int, int]:
        rel = f"SELECT * FROM ({self._live(files)}) WHERE ts_s BETWEEN {lo_s} AND {hi_s}"
        n, s = self.con.sql(self._digest_sql(rel)).fetchone()
        return int(n), int(s)

    def lookup(self, files: list[str], conv_id: str) -> list[tuple[int, str]]:
        rows = self.con.execute(
            f"SELECT turn_idx, text FROM ({self._live(files)}) WHERE conv_id = ? "
            "ORDER BY turn_idx",
            [conv_id],
        ).fetchall()
        return [(int(t), x) for t, x in rows]

    def roles(self, files: list[str]) -> dict[str, int]:
        rows = self.con.sql(
            f"SELECT role, count(*) FROM ({self._live(files)}) GROUP BY role"
        ).fetchall()
        return {r: int(n) for r, n in rows}

    def change_count(self, before: list[str], after: list[str]) -> int:
        """Keys whose live state differs between two prefixes: the rows
        ``LakeTable.scan_changes`` must return (a payload only changes
        together with its LSN, since ``text`` embeds the LSN)."""
        a = self._winners(before) if before else (
            "SELECT NULL::VARCHAR AS conv_id, NULL::BIGINT AS turn_idx, "
            "NULL::BIGINT AS lsn, NULL::VARCHAR AS op WHERE false"
        )
        b = self._winners(after)
        (n,) = self.con.sql(f"""
            SELECT count(*) FROM ({a}) a FULL OUTER JOIN ({b}) b
              ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
            WHERE coalesce(a.op <> 'D', false) <> coalesce(b.op <> 'D', false)
               OR (a.op <> 'D' AND b.op <> 'D' AND a.lsn <> b.lsn)
        """).fetchone()
        return int(n)

    def close(self) -> None:
        self.con.close()
