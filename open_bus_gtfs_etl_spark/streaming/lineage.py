"""Per-batch / per-partition lineage + metrics table (SURVEY.md §7 step 7).

The analogue of the reference's ``gtfs_data`` state machine rows
(idempotent_process.py:57-91: started/completed/success/error per date)
combined with its per-loader stats counters (load_stops_to_db.py:51-63,
rolled up at idempotent_process.py:34-54). One row per (batch, bucket)
plus a batch-level row (partition_id = -1), appended as parquet.

Write path: lineage rows are a handful of scalars per merge, so
``record`` writes them with pyarrow DIRECTLY from the driver —
temp-file + atomic rename, no Spark job at all. (The round-3 version
launched one Spark job per batch just to fetch a timestamp and a second
to ``coalesce(1)``-write ~10 rows — pure serial overhead in the
streaming hot loop.) Timestamps are the driver's UTC wall clock:
lineage wall-times are observability data, not replay-determinism
inputs.

The lineage table is itself queryable with plain DataFrame ops — the
reference's "which dates processed successfully" predicate
(idempotent_process.py:97-98) becomes ``where(success)``, and the
newest-first work ordering (W2) becomes ``orderBy(desc(batch_id))``.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..schema import LINEAGE_SCHEMA

_ARROW_SCHEMA = None


def _arrow_schema():
    """LINEAGE_SCHEMA as a pyarrow schema (micros timestamps — the
    int64 parquet encoding Spark's vectorized reader expects)."""
    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        import pyarrow as pa

        _ARROW_SCHEMA = pa.schema(
            [
                pa.field("batch_id", pa.int64(), nullable=False),
                pa.field("partition_id", pa.int32(), nullable=False),
                pa.field("started_at", pa.timestamp("us")),
                pa.field("completed_at", pa.timestamp("us")),
                pa.field("success", pa.bool_(), nullable=False),
                pa.field("error", pa.string()),
                pa.field("rows_inserted", pa.int64(), nullable=False),
                pa.field("rows_updated", pa.int64(), nullable=False),
                pa.field("rows_deleted", pa.int64(), nullable=False),
                pa.field("rows_deduped", pa.int64(), nullable=False),
                pa.field("rows_stale_skipped", pa.int64(), nullable=False),
                pa.field("lsn_min", pa.int64()),
                pa.field("lsn_max", pa.int64()),
            ]
        )
    return _ARROW_SCHEMA


class LineageLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def record(self, batch_id: int, stat: dict, error: str | None = None) -> None:
        """Append lineage rows for one merge. ``stat`` is the dict
        returned by ``apply_batch`` / ``LakeTable.merge``; its
        ``started_at``/``completed_at`` (set by ``apply_batch``) are
        stored, and either one missing (a rejected segment, a bare
        ``merge``) falls back to now. Driver-side pyarrow write (temp +
        atomic rename): no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        # session tz is UTC (session.py); store naive-UTC micros
        ts = datetime.now(timezone.utc).replace(tzinfo=None)
        base = {
            "batch_id": int(batch_id),
            "started_at": stat.get("started_at") or ts,
            "completed_at": stat.get("completed_at") or ts,
            "success": error is None and not stat.get("skipped_fenced", False),
            "error": error,
        }

        def mk(partition_id: int, src: dict) -> dict:
            return {
                **base,
                "partition_id": partition_id,
                # MoR merges report an undifferentiated upsert count
                "rows_inserted": int(
                    src.get("rows_inserted", src.get("inserted", src.get("rows_upserted", 0)))
                    or 0
                ),
                "rows_updated": int(src.get("rows_updated", src.get("updated", 0)) or 0),
                "rows_deleted": int(src.get("rows_deleted", src.get("deleted", 0)) or 0),
                "rows_deduped": int(stat.get("rows_deduped") or 0) if partition_id == -1 else 0,
                "rows_stale_skipped": int(
                    src.get("rows_stale_skipped", src.get("stale_skipped", 0)) or 0
                ),
                "lsn_min": src.get("lsn_min"),
                "lsn_max": src.get("lsn_max"),
            }

        rows = [mk(-1, stat)]
        for bucket, pb in (stat.get("per_bucket") or {}).items():
            rows.append(mk(int(bucket), pb))
        schema = _arrow_schema()
        tbl = pa.Table.from_pylist(rows, schema=schema)
        final = os.path.join(self.root, f"lineage-{int(batch_id)}-{uuid.uuid4().hex}.parquet")
        tmp = final + ".tmp"
        pq.write_table(tbl, tmp, compression="snappy")
        os.replace(tmp, final)

    def read(self) -> DataFrame:
        return (
            self.spark.read.schema(LINEAGE_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .parquet(self.root)
        )

    def successful_batches(self) -> set[int]:
        """Batch ids with a successful batch-level row — the skip set
        for newest-first replay (the reference's 'date already
        processed' check, idempotent_process.py:97-98)."""
        from pyspark.sql import functions as F

        try:
            rows = (
                self.read()
                .where(F.col("success") & (F.col("partition_id") == -1))
                .select("batch_id")
                .distinct()
                .collect()
            )
        except Exception:  # noqa: BLE001 - empty log dir
            return set()
        return {int(r.batch_id) for r in rows}

    def last_successful_batch(self) -> int | None:
        """W1/J10 shape: latest successful batch (the as-of 'nearest
        usable snapshot' check, idempotent_process.py:94-104)."""
        from pyspark.sql import functions as F

        rows = (
            self.read()
            .where((F.col("success")) & (F.col("partition_id") == -1))
            .agg(F.max("batch_id").alias("b"))
            .collect()
        )
        return rows[0]["b"] if rows and rows[0]["b"] is not None else None
