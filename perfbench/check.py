"""Correctness checks, run outside every timed region.

The lake workloads are checked against an independent last-writer-wins
fold of the same WAL files in DuckDB: the row count plus an
order-independent digest (the sum of a 60-bit md5 prefix of every row)
must match the engine's ``table.read()``.
"""

from __future__ import annotations

import duckdb

SEP = "|"
NUL = "\u2400"


def _row_string(cols: dict[str, str]) -> str:
    return f"concat_ws('{SEP}', " + ", ".join(cols.values()) + ")"


def fold_digest(wal_dir: str) -> tuple[int, int]:
    """(rows, digest) of the LWW fold of every WAL segment under ``wal_dir``."""
    cols = {
        "conv_id": "conv_id",
        "turn_idx": "CAST(turn_idx AS VARCHAR)",
        "role": f"coalesce(role, '{NUL}')",
        "text": f"coalesce(text, '{NUL}')",
        "tool": f"coalesce(tool, '{NUL}')",
        "ts": "CAST(CAST(epoch(ts) AS BIGINT) AS VARCHAR)",
    }
    sql = f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{wal_dir}/v2/*/*.parquet', hive_partitioning = false)
    ), live AS (
      SELECT * FROM ev
      QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, ts DESC) = 1
    )
    SELECT count(*),
           sum(CAST(('0x' || substr(md5({_row_string(cols)}), 1, 15)) AS BIGINT))
    FROM live WHERE op <> 'delete'
    """
    con = duckdb.connect()
    try:
        n, digest = con.execute(sql).fetchone()
    finally:
        con.close()
    return int(n), int(digest or 0)


def table_digest(df) -> tuple[int, int]:
    """(rows, digest) of a Spark frame with the transcript user columns."""
    from pyspark.sql import functions as F

    parts = [
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.coalesce(F.col("role"), F.lit(NUL)),
        F.coalesce(F.col("text"), F.lit(NUL)),
        F.coalesce(F.col("tool"), F.lit(NUL)),
        F.unix_timestamp(F.col("ts")).cast("string"),
    ]
    h = F.conv(F.substring(F.md5(F.concat_ws(SEP, *parts)), 1, 15), 16, 10)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("d"),
    ).collect()[0]
    return int(row["n"]), int(row["d"] or 0)


def pick_lookup_keys(wal_dir: str, seed: int, n: int) -> list[str]:
    """``n`` conversation ids from the WAL, drawn reproducibly by seed."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT DISTINCT conv_id FROM read_parquet('{wal_dir}/v2/*/*.parquet',"
            " hive_partitioning = false) ORDER BY conv_id"
        ).fetchall()
    finally:
        con.close()
    import random

    ids = [r[0] for r in rows]
    return random.Random(seed).sample(ids, min(n, len(ids)))
