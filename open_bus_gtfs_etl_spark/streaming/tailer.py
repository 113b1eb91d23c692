"""Structured Streaming WAL tailer (SURVEY.md §7 step 4).

One streaming query replaces the reference's outer machinery — the
hourly Airflow trigger (dags.yaml:1-31), the idempotent download/
process state machine (idempotent_download_upload.py:48-74,
idempotent_process.py:141-165) and its gtfs_data success-flag fencing
(idempotent_process.py:57-91):

- the *source tailer* is a file-source ``readStream`` over the WAL
  directory with checkpointed offsets (replaces "which dates have I
  downloaded" tracking);
- the *driver* is ``foreachBatch`` running the same merge kernel as
  batch replay, fenced by the Structured Streaming ``batch_id`` — a
  re-delivered epoch after crash/restart is a no-op because the
  table's manifest records the last committed batch id;
- *late/out-of-order data* needs no watermark state: MERGE is keyed
  and LWW-gated per row (_lsn), so a late event simply loses or wins
  by lsn, exactly like the reference's keyed re-upserts.

Exactly-once: offsets live in the checkpoint, the fence lives in the
table manifest, and the manifest swap is atomic — a batch is either
fully visible with its id recorded, or not at all.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schema import CHANGE_EVENTS_SCHEMA
from ..operators.merge import apply_batch


def stream_writer_id(checkpoint_dir: str) -> str:
    """Stable fence namespace for a streaming query: derived from the
    checkpoint location, which IS the query's identity across restarts.
    Keeps Structured Streaming epoch ids (starting at 0 per checkpoint)
    from colliding with batch-replay WAL segment ids in the table's
    fence — a fresh-checkpoint tailer after a batch backfill must not
    see its early epochs fenced into no-ops (silent data loss)."""
    h = hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]
    return f"stream:{h}"


def start_tailer(
    spark: SparkSession,
    table,
    wal_glob: str,
    checkpoint_dir: str,
    lineage=None,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    max_retries: int = 2,
    retry_backoff_sec: float = 0.0,
    auto_compact: int | None = None,
):
    """Start the streaming merge-apply query.

    ``auto_compact``: for merge-on-read tables, bound the delta depth
    after each epoch (see ``apply_batch``) — the streaming steady state
    the MoR economics table recommends (compact when depth > 4).

    ``wal_glob`` should cover the v2-schema segment files (e.g.
    ``{wal}/v2/seg=*``); for LIVE mixed-version ingestion use
    ``start_multi_tailer``, which runs one aligned stream per registry
    version under the same checkpoint — the file source requires a
    fixed schema, which is exactly the schema-registry boundary (see
    registry.py). Returns the StreamingQuery.

    A failing merge is retried ``max_retries`` times in-batch (the
    reference's download/extract retry loop,
    download_extract_upload.py:29-45); on final failure the error text
    is persisted to the lineage log BEFORE rethrowing (the reference
    persists gtfs_data error then raises, idempotent_process.py:114-120),
    so the failure is queryable state, not just a dead query. Retry is
    safe: the merge commit is an atomic manifest swap, so a failed
    attempt left nothing visible.
    """
    reader = (
        spark.readStream.schema(CHANGE_EVENTS_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(wal_glob)
    return _start(
        stream, table, checkpoint_dir, lineage, available_now,
        max_retries, retry_backoff_sec, auto_compact,
    )


def start_multi_tailer(
    spark: SparkSession,
    table,
    wal_dir: str,
    checkpoint_dir: str,
    versions: list[int] | None = None,
    lineage=None,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    max_retries: int = 2,
    retry_backoff_sec: float = 0.0,
    auto_compact: int | None = None,
):
    """Registry-driven mixed-version tailer: ONE streaming query over
    every schema version's WAL directory — live v1+v2 ingestion with no
    batch backfill step.

    The file source needs a fixed schema per stream, which is exactly
    the registry boundary (registry.py): one ``readStream`` per
    ``{wal_dir}/v{ver}`` with that version's StructType, each aligned
    to the newest envelope via ``align_batch`` (missing columns →
    typed nulls), then unioned into the SAME fenced/checkpointed
    ``foreachBatch`` — offsets for all sources live in the one
    checkpoint, so kill/resume fencing is identical to the
    single-schema tailer.

    **The version set is part of the checkpoint's identity.** Spark
    REJECTS recovery when the number of unioned streaming sources
    changes, so a registry bump (new ``v{N}/`` directory) cannot be
    absorbed by restarting against the same checkpoint — it needs a
    FRESH checkpoint directory, and the full re-replay that implies is
    safe because every batch is LWW-gated and the new checkpoint gets
    its own fence namespace (``stream_writer_id``). To make that
    failure mode explicit instead of a cryptic Spark recovery error,
    the resolved ``versions`` list is pinned to a
    ``wal_versions.json`` sidecar inside the checkpoint directory at
    first start, and every later start asserts the current set matches
    the pinned one (``VersionSetChangedError`` otherwise). ``versions``
    defaults to the registry versions whose directory exists at start
    — auto-discovery is resolved ONCE per checkpoint lifetime by this
    pinning, so a v3 directory appearing later can never silently
    change the source count on resume.
    """
    from ..registry import REGISTRY, align_batch, schema_for

    if versions is None:
        versions = [
            v for v in sorted(REGISTRY)
            if os.path.isdir(os.path.join(wal_dir, f"v{v}"))
        ]
    if not versions:
        raise ValueError(f"no v*/ schema directories under {wal_dir}")
    _pin_versions(checkpoint_dir, list(versions))
    stream = None
    for ver in versions:
        reader = (
            spark.readStream.schema(schema_for(ver))
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        part = align_batch(
            reader.parquet(os.path.join(wal_dir, f"v{ver}"))
        )
        stream = part if stream is None else stream.unionByName(part)
    return _start(
        stream, table, checkpoint_dir, lineage, available_now,
        max_retries, retry_backoff_sec, auto_compact,
    )


class VersionSetChangedError(RuntimeError):
    """The checkpoint was created with a different schema-version set.

    Spark refuses checkpoint recovery when the unioned streaming
    source count changes, so resuming would fail anyway — just later
    and less legibly. Start the tailer with a FRESH checkpoint
    directory: the full re-replay is idempotent (row-level LWW gating
    + a per-checkpoint fence namespace)."""


def _pin_versions(checkpoint_dir: str, versions: list[int]) -> None:
    """Pin the resolved version set to the checkpoint (sidecar file) on
    first start; assert it matches on every later start."""
    import json

    os.makedirs(checkpoint_dir, exist_ok=True)
    pin = os.path.join(checkpoint_dir, "wal_versions.json")
    if os.path.exists(pin):
        with open(pin) as f:
            recorded = json.load(f)
        if recorded != versions:
            raise VersionSetChangedError(
                f"checkpoint {checkpoint_dir} was created for WAL schema "
                f"versions {recorded}, but this start resolved {versions}. "
                "A changed version set changes the unioned streaming source "
                "count, which Spark rejects on checkpoint recovery. Use a "
                "fresh checkpoint directory (full re-replay is idempotent: "
                "LWW row gating + per-checkpoint fence namespace)."
            )
        return
    tmp = pin + ".tmp"
    with open(tmp, "w") as f:
        json.dump(versions, f)
    os.replace(tmp, pin)


def _start(
    stream, table, checkpoint_dir, lineage, available_now,
    max_retries, retry_backoff_sec, auto_compact=None,
):
    """Shared tail: fenced/retrying foreachBatch merge + checkpoint."""
    fence_writer = stream_writer_id(checkpoint_dir)

    def _apply(batch_df, batch_id: int) -> None:
        attempt = 0
        while True:
            try:
                # "per_bucket" buys the per-partition lineage breakdown
                # for one cheap columnar job per (small) streaming batch
                st = apply_batch(
                    table, batch_df, batch_id=batch_id,
                    writer=fence_writer,
                    stats="per_bucket" if lineage is not None else True,
                    auto_compact=auto_compact,
                    # the tailer feeds from the WAL, whose lsn is the
                    # global event id — the lsn-keyed argmax applies
                    # (operators/dedup.lww_dedup_argmax_lsn contract)
                    dedup="argmax_lsn",
                )
                if lineage is not None:
                    lineage.record(batch_id, st)
                return
            except Exception as e:  # noqa: BLE001
                attempt += 1
                if attempt > max_retries:
                    if lineage is not None:
                        try:
                            lineage.record(
                                batch_id, {}, error=f"{type(e).__name__}: {e}"
                            )
                        except Exception:  # noqa: BLE001
                            pass  # never mask the original failure
                    raise
                if retry_backoff_sec:
                    time.sleep(retry_backoff_sec * attempt)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_until_caught_up(query) -> None:
    """Process everything currently available, then stop (the test/
    backfill harness shape; the production query just keeps running)."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(60)


def wal_v2_glob(wal_dir: str) -> str:
    return f"{wal_dir}/v2"


def derive_cdc_feed(df, key_hash_mod: int = 16):
    """Utility: map an arbitrary keyed event table onto the CDC envelope
    (used by entry() and demos)."""
    return df.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", "delete").otherwise("update").alias("op"),
        F.col("ts"),
        F.format_string("conv-%012d", F.col("user_id")).alias("conv_id"),
        F.pmod(F.get_json_object("props", "$.k").cast("int"), F.lit(key_hash_mod)).alias(
            "turn_idx"
        ),
        F.lit("user").alias("role"),
        F.col("event_type").alias("text"),
        F.lit(None).cast("string").alias("tool"),
    )
