"""Maintenance operators: retention GC, weekly thinning, backfill,
reprocess (SURVEY.md §2.9 R1-R4).
"""

from __future__ import annotations

import datetime as dt
import os


def thin_keep_weekly(
    dates: list[dt.date],
    num_days_keep: int = 5,
    num_weeklies_keep: int = 4,
    today: dt.date | None = None,
) -> tuple[set[dt.date], set[dt.date]]:
    """Retention policy (reference cleanup_dated_paths.py:28-51, defaults
    cli.py:73-74): keep the last ``num_days_keep`` days outright
    (inclusive boundary: the reference keeps date == today -
    num_days_keep via '>='), plus one-per-week among older dates down to
    ``today - num_weeklies_keep`` WEEKS — the weekly window is measured
    from TODAY, not from the daily cutoff (reference deletes when
    date <= today - weeks*7). Scan ascending, keep a date only if ≥7
    days after the last kept — the stateful scan W3. Returns
    (keep, delete).

    Pure driver-side function: the date list is snapshot metadata
    (thousands at most), never row data — same altitude as the
    reference's directory walk.
    """
    if today is None:
        today = max(dates, default=None)
    if today is None:
        return set(), set()
    daily_cutoff = today - dt.timedelta(days=num_days_keep)
    weekly_cutoff = today - dt.timedelta(weeks=max(0, int(num_weeklies_keep)))
    keep: set[dt.date] = set()
    last_weekly: dt.date | None = None
    for d in sorted(dates):
        if d >= daily_cutoff:
            keep.add(d)
        elif d > weekly_cutoff:
            if last_weekly is None or (d - last_weekly).days >= 7:
                keep.add(d)
                last_weekly = d
    return keep, set(dates) - keep


def backfill(spark, table, wal_dir: str, segments: list[int]):
    """R2: replay a WAL segment range through the same merge kernel
    (reference load_missing_data.py:16-54 walks a date range and re-runs
    the full pipeline per date). Fencing makes overlap with already-
    applied segments harmless."""
    from .merge import replay_wal

    return replay_wal(spark, table, wal_dir, segments)


def reprocess(spark, table, wal_dir: str, from_version: int, segments: list[int]):
    """R1: cascading reprocess = snapshot rollback + state reset + replay
    (reference reprocess_data.py:16-111 deletes derived rows and resets
    gtfs_data flags so processing re-triggers). Roll the table back to
    ``from_version`` — which also rewinds the batch-id fence recorded in
    that manifest — then replay the segment range."""
    table.rollback(from_version)
    return backfill(spark, table, wal_dir, segments)


def sync_replica(source, replica, writer: str = "replica_sync") -> dict:
    """R5 downstream half: maintain a replica/derived table FROM the
    source's changelog — the changelog becomes the replica's WAL, so
    the whole CDC loop closes on the engine's own primitives (the
    reference's downstream consumers re-query full tables instead).

    One call ships ``changes_between(last_synced, current)`` through
    the same ``apply_batch`` merge kernel:

    - **Resumable with no side ledger**: the sync's batch id IS the
      source snapshot version, fenced under its own ``writer``
      namespace — ``replica.last_committed_batch(writer)`` records how
      far the replica has consumed, and a replayed/crashed-and-retried
      sync is a no-op end to end.
    - **Incremental I/O**: the diff reads only manifest-changed buckets
      of the source (see ``changes_between``), and the merge rewrites
      only touched buckets of the replica.
    - **Idempotent + ordered**: the change feed carries the source's
      commit stamps (``_commit_lsn``/``_commit_ts``) as its envelope,
      so the replica's LWW gate orders overlapping syncs exactly like
      any other CDC feed.

    Retention contract: the source snapshot recorded as last-synced
    must still be retained (``expire_snapshots`` keep window) when the
    next sync runs — the same incremental-read contract Iceberg CDC
    consumers sign. Returns the merge stats dict plus
    ``synced_to_version`` (or ``skipped_up_to_date``).
    """
    from pyspark.sql import functions as F

    from .merge import apply_batch

    m = source.manifest()
    v_to = source.snapshot_id()
    last = replica.last_committed_batch(writer)
    v_from = last if last >= 1 else 1
    if v_from == v_to:
        return {"skipped_up_to_date": True, "synced_to_version": v_to}
    key_cols = m["key_cols"]
    value_cols = [c for c in m["user_cols"] if c not in key_cols]
    ch = source.changes_between(v_from, v_to)
    # the merge envelope's single `ts` serves both as the user ts value
    # and the LWW stamp (exactly like the upstream WAL feed) — the
    # change feed's `_commit_ts` is the stored winner ts, so it IS the
    # user ts for upserts and the tombstone stamp for deletes
    batch = ch.select(
        *key_cols,
        *[c for c in value_cols if c != "ts"],
        "op",
        F.col("_commit_lsn").alias("lsn"),
        F.col("_commit_ts").alias("ts"),
    )
    st = apply_batch(
        replica, batch, batch_id=v_to, writer=writer,
        key_cols=key_cols, value_cols=value_cols,
    )
    st["synced_to_version"] = v_to
    return st


def cleanup_consumed_segments(
    wal_dir: str,
    consumed: set[int],
    fence: int | None = None,
    dry_run: bool = False,
) -> tuple[list[int], list[int]]:
    """R4: workdir/scratch GC. The reference deletes a date's extraction
    workdir once that date is processed (cleanup_workdir.py:6-10; partial
    extractions are cleared in extract.py:36). The WAL analogue: delete a
    ``seg=N`` directory only when it is safe on BOTH ledgers — recorded
    successful in the lineage log (``consumed``, from
    ``LineageLog.successful_batches()``) AND at-or-below the table's
    batch-replay ``fence`` (``table.last_committed_batch("batch")``).
    Requiring both means a crash between lineage write and manifest
    commit can never lose an unapplied segment; a segment is only
    unrecoverable-by-replay after the merge it fed is durably committed.

    Driver-side metadata walk only (like the reference's shutil.rmtree)
    — segment dirs number in the thousands at most, never row data.
    Returns (deleted, kept) segment ids; ``dry_run`` reports the split
    without deleting.
    """
    import re
    import shutil

    present: set[int] = set()
    for ver in ("v1", "v2"):
        ver_dir = os.path.join(wal_dir, ver)
        if not os.path.isdir(ver_dir):
            continue
        for name in os.listdir(ver_dir):
            m = re.fullmatch(r"seg=(\d+)", name)
            if m:
                present.add(int(m.group(1)))
    deletable = {
        s for s in present
        if s in consumed and (fence is None or s <= fence)
    }
    if not dry_run:
        for s in sorted(deletable):
            for ver in ("v1", "v2"):
                shutil.rmtree(
                    os.path.join(wal_dir, ver, f"seg={s}"), ignore_errors=True
                )
    return sorted(deletable), sorted(present - deletable)
