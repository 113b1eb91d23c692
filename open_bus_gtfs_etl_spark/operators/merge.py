"""Merge-apply kernel: one CDC micro-batch → lake table (SURVEY.md §7 step 2).

Pipeline per batch (the E1 loader loop re-expressed as one DataFrame
program; reference: idempotent_process.py:31-54 runs four keyed upsert
loaders — here there is one generalized keyed upsert):

  1. align the batch to the table schema (schema registry: v1 events
     lack ``tool`` → null; reference analogue: fixed ORM schema absorbs
     inferred CSV schema);
  2. LWW dedup to one winner per key, KEEPING ``op`` on the winner
     (delete must beat older update, lose to newer);
  3. ``LakeTable.merge`` — fenced, copy-on-write, out-of-order-gated;
  4. emit a stats/lineage row per batch (reference: stats dicts summed
     across tasks, idempotent_process.py:34-54 + gtfs_data state row).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import KEY_COLS, VALUE_COLS
from ..sources.lake import BUCKET_COL, bucket_expr, bucket_partitions
from .dedup import (
    argmax_winner_stats,
    lww_dedup_argmax_join,
    lww_dedup_argmax_lsn,
)


def align_to_schema(batch: DataFrame, stored_schema) -> DataFrame:
    """Add missing columns as typed nulls (late-added-column evolution)."""
    out = batch
    for field in stored_schema.fields:
        if field.name.startswith("_"):
            continue
        if field.name not in out.columns:
            out = out.withColumn(field.name, F.lit(None).cast(field.dataType))
    return out


# serialized bytes per winner-key row in the broadcast hash relation
# (conv_id string ~16B + turn_idx + up to 3 long counters)
BROADCAST_KEY_BYTES = 48

# the argmax_lsn winner frame is keyless (4 longs/row): the winning lsn
# plus the three lineage counters — see dedup.argmax_winner_stats
BROADCAST_LSN_BYTES = 32

# the deliberate broadcast hint's cap: above the AQE auto-threshold but
# well under Spark's 8 GB broadcast hard limit
BROADCAST_CAP_BYTES = 512 << 20

# apply_batch's dedup plans: keyed argmax, and the lsn-keyed argmax
# of the WAL contract
DEDUP_PLANS = ("auto", "argmax_lsn")


def observe_winner_count(batch: DataFrame, key_cols: list[str]) -> int:
    """Single-pass HLL estimate of the batch's distinct-key (= winner)
    count — the bootstrap-case evidence for the broadcast decision.
    Keys-only columnar scan with partial sketch merge: no wide shuffle,
    no payload read. The ~5% HLL error is irrelevant against the 16×
    margin between the 512 MB policy cap and Spark's 8 GB broadcast
    hard limit."""
    row = batch.agg(
        F.approx_count_distinct(F.struct(*[F.col(c) for c in key_cols])).alias("n")
    ).collect()[0]
    return int(row["n"])


def resolve_broadcast_keys(
    table,
    cap_bytes: int = BROADCAST_CAP_BYTES,
    batch: DataFrame | None = None,
    key_cols: list[str] | None = None,
    row_bytes: int = BROADCAST_KEY_BYTES,
) -> bool:
    """Pick broadcast vs shuffle for the dedup join-back from OBSERVED
    evidence instead of a caller flag: each merge records the winner
    count it measured in-flight (manifest ``last_n_winners``), and the
    next batch broadcasts only while that count × ``row_bytes`` (48 B
    for the keyed winner frame, ``BROADCAST_LSN_BYTES`` for the
    lsn-keyed one) stays under ``cap_bytes`` (``BROADCAST_CAP_BYTES``).

    No-history cases — first batch on a fresh table, or a backend
    without a manifest — never default to broadcast (a 10^9-event
    bootstrap with ~10^8 winners ≈ 5 GB of keys under a forced hint is
    the OOM this policy exists to prevent). Instead, when ``batch`` is
    supplied, the winner count is OBSERVED with one cheap keys-only
    ``approx_count_distinct`` pass before choosing; without a batch the
    answer is False (un-hinted — AQE still broadcasts at runtime when
    the frame proves small). Steady state never pays the observation:
    history exists from the first merge onward."""
    man = getattr(table, "manifest", None)
    est = man().get("last_n_winners") if callable(man) else None
    if est is None:
        if batch is None or key_cols is None:
            return False
        est = observe_winner_count(batch, key_cols)
    return int(est) * row_bytes <= cap_bytes


def apply_batch(
    table,
    batch: DataFrame,
    batch_id: int,
    key_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
    stats: bool | str = True,
    writer: str = "default",
    auto_evolve: bool = True,
    dedup: str = "auto",
    auto_compact: int | None = None,
) -> dict:
    """Apply one micro-batch of change events to ``table``.

    ``dedup`` picks the LWW plan; any other value raises ValueError:

    - "auto" (default): keyed argmax (``lww_dedup_argmax_join``) — a
      keys+longs ``max(lsn)`` aggregation, the winners' payload joined
      back on the key columns. Needs ``(lsn, ts)`` unique only per key
      event, so it is right for any feed. With high in-batch duplication only
      the WINNERS' payload ever crosses a shuffle, and its longs-only
      partial aggregation map-side-combines a hot key to ≤ 1 row per
      map task (the kernel's skew defence).
    - "argmax_lsn": argmax whose join-back equi-joins on the winning
      lsn ALONE (``lww_dedup_argmax_lsn``) — requires lsn to be
      GLOBALLY unique across keys (the WAL contract: lsn is the global
      event id). ~3x smaller broadcast (keyless 4-long rows), single
      long probe hash, and the tie-break exchange doubles as the
      bucketed write's clustering, so the winners cross one exchange
      total. The replay paths (``replay_wal``, the tailer, bench
      replay) pick this explicitly; "auto" never does, because
      apply_batch cannot verify global uniqueness for arbitrary feeds.

    Whether the winner frame is broadcast is decided from evidence
    (``resolve_broadcast_keys``): the winner count the previous merge
    recorded, or an observed count on a table with no history.

    ``batch`` columns: key cols + value cols + (op, lsn, ts). Returns the
    merge stats dict (plus dedup count when ``stats``). Fencing lives in
    the table, namespaced by ``writer``; a replayed batch_id is a no-op
    end to end.

    ``auto_evolve``: when the batch carries ``schema_ver`` and the table
    lacks a registry-known column, drive the table's DDL forward BEFORE
    merging (otherwise a v1-created table silently discards v2 batches'
    new-column values — the merge projects the manifest's user_cols).
    Steady-state cost is zero: the registry probe runs only while the
    table is actually missing a known column.

    ``auto_compact`` (merge-on-read tables): after a committed merge,
    fold any bucket whose delta depth exceeds this bound back into its
    base — the measured-economics cadence from BENCH.md ("read latency
    +0.45 s/delta; compact ≈ one CoW rewrite of the touched buckets")
    as an executable policy instead of a caller loop. ``None`` (default)
    leaves compaction to the caller; fenced/no-op merges never compact.
    Ignored by backends without ``compact`` (CoW has no deltas; Iceberg
    runs its own rewrite_data_files maintenance).

    The stats also carry ``started_at`` and ``completed_at`` (naive UTC,
    the driver's wall clock around the whole call, compaction included)
    for ``LineageLog.record``.
    """
    if dedup not in DEDUP_PLANS:
        raise ValueError(
            f"dedup must be one of {DEDUP_PLANS} (keyed argmax or the "
            f"lsn-keyed WAL-contract argmax), got {dedup!r}"
        )
    started_at = datetime.now(timezone.utc).replace(tzinfo=None)
    key_cols = key_cols or KEY_COLS
    value_cols = value_cols or VALUE_COLS
    if auto_evolve and "schema_ver" in batch.columns:
        from ..registry import VERSION_ADDED_USER_FIELDS, ensure_table_evolved

        have = {f.name for f in table.stored_schema().fields}
        if any(
            f.name not in have
            for fields in VERSION_ADDED_USER_FIELDS.values()
            for f in fields
        ):
            ensure_table_evolved(table, batch)
    batch = align_to_schema(batch, table.stored_schema())
    payload = [c for c in value_cols if c != "ts"] + ["op", "lsn", "ts"]

    lsn_keyed = dedup == "argmax_lsn"
    stats_frame = None  # persisted winner-stats frame, freed after merge
    src_stats_pre = None  # batch-level source counters, precomputed
    carry_winners = bool(stats)  # winner rows carry per-key counters
    man = getattr(table, "manifest", None)
    man_dict = man() if callable(man) else None
    if lsn_keyed and (man_dict or {}).get("last_n_winners") is None:
        # bootstrap: the join-back needs the winner aggregation anyway —
        # persist it and take its EXACT count for the broadcast decision
        # instead of paying a separate keys-only HLL scan of the whole
        # batch (guide §1.2/§2.3: one fewer full pass, and an exact
        # count instead of a ±5% estimate)
        from pyspark import StorageLevel

        stats_frame = argmax_winner_stats(
            batch, key_cols, carry_stats=bool(stats)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_winners = stats_frame.count()
        broadcast_keys = n_winners * BROADCAST_LSN_BYTES <= BROADCAST_CAP_BYTES
        if not broadcast_keys:
            # over the cap the lsn-join would shuffle the payload by
            # lsn AND re-cluster it for the rank — the keyed join's
            # single keys-exchange (window reuses it) is the right
            # non-broadcast plan, so fall back to it
            stats_frame.unpersist()
            stats_frame = None
            lsn_keyed = False
        elif stats is True and man_dict is not None:
            # SLIM the broadcast to the winning lsns alone (8 B/row
            # instead of 32): the lineage counters only ever feed
            # BATCH-level sums in the merge observation when stats
            # is plain True, so aggregate them here from the
            # persisted frame (one tiny cached-input job) and hand
            # them to merge() precomputed. The driver-serial
            # broadcast build — part of the scaling serial floor —
            # shrinks ~4x, and the probe-side hash map gets cache-
            # resident (measured −2.5 s on the 64M join phase at 4
            # cores). stats="per_bucket" keeps the full carry path:
            # it wants the per-ROW _src_* values in the files.
            row = stats_frame.agg(
                F.sum("_n_dups").alias("n_source_rows"),
                F.min("_lsn_min").alias("lsn_min"),
                F.max("_lsn_max").alias("lsn_max"),
            ).collect()[0]
            src_stats_pre = {
                "n_source_rows": int(row["n_source_rows"] or 0),
                "lsn_min": row["lsn_min"],
                "lsn_max": row["lsn_max"],
            }
            slim = stats_frame.select("_win_lsn").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            slim.count()
            stats_frame.unpersist()
            stats_frame = slim
            carry_winners = False
    else:
        # sized from the winner count the PREVIOUS merge observed
        # in-flight (no extra job); only a keyed merge into a table with
        # no history pays a keys-only observation pass
        broadcast_keys = resolve_broadcast_keys(
            table, batch=batch, key_cols=key_cols,
            row_bytes=BROADCAST_LSN_BYTES if lsn_keyed else BROADCAST_KEY_BYTES,
        )
    if lsn_keyed:
        # WAL contract (globally unique lsn): single-long broadcast
        # join-back. When the table's bucket layout is known, the
        # tie-break clusters by the BUCKET expression — the exchange
        # the bucketed write needs anyway — so the winners' payload
        # crosses one exchange + one sort end-to-end instead of two
        # (guide §2.4; see lww_dedup_argmax_lsn). The exchange routes
        # bucket b to partition b mod k (k from bucket_partitions: the
        # session's shuffle width, at most the bucket count), so each
        # task holds whole buckets and the write still produces exactly
        # one file per bucket.
        cluster_expr = k = None
        n_buckets = (man_dict or {}).get("n_buckets")
        if n_buckets:
            cluster_expr = bucket_expr(key_cols[0], n_buckets)
            k = bucket_partitions(batch.sparkSession, n_buckets)
        winners = lww_dedup_argmax_lsn(
            batch, key_cols, payload, carry_stats=carry_winners,
            winner_stats=stats_frame, broadcast_keys=broadcast_keys,
            cluster_expr=cluster_expr,
            cluster_col=BUCKET_COL,
            cluster_partitions=k,
        )
    else:
        # carry_stats folds batch-size/lsn-range counters into the same
        # aggregation pass — no second scan of the batch for lineage
        winners = lww_dedup_argmax_join(
            batch, key_cols, payload, carry_stats=bool(stats),
            broadcast_keys=broadcast_keys,
        )

    try:
        kw = {"src_stats": src_stats_pre} if src_stats_pre is not None else {}
        st = table.merge(
            winners, batch_id=batch_id, stats=stats, writer=writer, **kw,
        )
    finally:
        if stats_frame is not None:
            stats_frame.unpersist()
    if stats and not st.get("skipped_fenced"):
        if "rows_upserted" in st:  # merge-on-read: no outcome split
            n_winners = st["rows_upserted"] + st["rows_deleted"]
        elif "rows_inserted" in st:
            n_winners = (
                st["rows_inserted"]
                + st["rows_updated"]
                + st["rows_deleted"]
                + st["rows_stale_skipped"]
                + st.get("rows_delete_noop", 0)
            )
        else:
            # backend reports no outcome counters (IcebergTable: MERGE
            # INTO doesn't surface per-branch counts) — dedup delta is
            # unknowable, not an error
            n_winners = None
        if n_winners is not None and "n_source_rows" in st:
            st["rows_deduped"] = st["n_source_rows"] - n_winners
        else:
            st["rows_deduped"] = None
    if (
        auto_compact is not None
        and not st.get("skipped_fenced")
        and hasattr(table, "compact")
    ):
        st["compacted_buckets"] = table.compact(max_deltas=auto_compact)
    st["started_at"] = started_at
    st["completed_at"] = datetime.now(timezone.utc).replace(tzinfo=None)
    return st


class StaleResumeError(RuntimeError):
    """Resume gap exceeds tolerance (reference J10: reject a snapshot
    gap > 10 days, idempotent_process.py:100-102)."""


def check_resume_gap(table, batch, max_lsn_gap: int):
    """Guard against resuming across a data hole: if the batch's lowest
    lsn is more than ``max_lsn_gap`` past the table's highest applied
    lsn, segments in between are missing and applying would silently
    skip history. One tiny min() aggregate — only runs when the guard
    is requested."""
    applied = table.manifest().get("lsn_max")
    if applied is None:
        return
    lo = batch.agg(F.min("lsn").alias("lo")).collect()[0]["lo"]
    if lo is not None and lo - applied > max_lsn_gap:
        raise StaleResumeError(
            f"resume gap too large: batch starts at lsn {lo}, table applied up to "
            f"{applied}, tolerance {max_lsn_gap} (missing WAL in between?)"
        )


def replay_wal(
    spark,
    table,
    wal_dir: str,
    segments: list[int],
    writer: str = "wal",
    validate: bool = False,
    lineage=None,
    newest_first: bool = False,
    min_plausible_rows: int | None = None,
    max_lsn_gap: int | None = None,
    auto_compact: int | None = None,
) -> list[dict]:
    """Batch replay of a WAL segment range through the merge kernel —
    the backfill path (reference R2, load_missing_data.py:16-54: walk a
    date range and re-run the full load per date). Segment id doubles
    as batch id, so replaying an already-applied prefix is fenced out.
    The fence is namespaced under ``writer="wal"`` so a later streaming
    tailer (epoch ids from 0) is never fenced out by replayed segment ids.

    Reference-parity gates (each opt-in):
    - ``validate``: refuse an incomplete/truncated segment BEFORE
      ingesting it; the rejection is recorded to ``lineage`` and the
      segment skipped, not merged (reference S8: a date is valid only
      if all 4 files exist with size>1000, update_gtfs_data_db.py:33-47).
    - ``min_plausible_rows``: a merge that applied fewer winners is
      recorded success=False (reference A3: >1000 ride-stops before a
      date counts as processed, update_gtfs_data_db.py:114-122).
    - ``max_lsn_gap``: raise StaleResumeError on a resume hole
      (reference J10 tolerance, idempotent_process.py:100-102).
    - ``newest_first``: process segments newest-first, skipping those
      whose lineage row already succeeded (reference W2: restart from
      today after each processed date, idempotent_process.py:133-138).
      Row-level lsn gating makes out-of-order segment application safe;
      batch fencing switches to the lineage success set, so a failed
      segment is retried on the next sweep exactly like the reference's
      unprocessed dates.
    """
    from ..genlog import read_wal_segment, validate_segment

    order = sorted(segments, reverse=True) if newest_first else list(segments)
    done: set[int] = set()
    if newest_first and lineage is not None:
        done = lineage.successful_batches()
    stats = []
    for seg in order:
        if seg in done:
            stats.append({"batch_id": seg, "skipped_lineage": True})
            continue
        if validate:
            ok, reason = validate_segment(wal_dir, seg)
            if not ok:
                st = {"batch_id": seg, "rejected": True, "error": reason}
                if lineage is not None:
                    lineage.record(seg, {"skipped_fenced": True}, error=reason)
                stats.append(st)
                continue
        batch = read_wal_segment(spark, wal_dir, seg)
        if max_lsn_gap is not None:
            check_resume_gap(table, batch, max_lsn_gap)
        st = apply_batch(
            table, batch,
            batch_id=None if newest_first else seg,
            writer=writer, auto_compact=auto_compact,
            # WAL segments satisfy the globally-unique-lsn contract
            # (lsn = global event id), so the lsn-keyed argmax applies
            dedup="argmax_lsn",
        )
        st["batch_id"] = seg
        if min_plausible_rows is not None and not st.get("skipped_fenced"):
            applied = (st.get("rows_upserted", 0) + st.get("rows_deleted", 0)) or (
                st.get("rows_inserted", 0)
                + st.get("rows_updated", 0)
                + st.get("rows_deleted", 0)
            )
            if applied < min_plausible_rows:
                st["plausibility_failed"] = True
        if lineage is not None:
            err = (
                f"plausibility: {st} below min_plausible_rows={min_plausible_rows}"
                if st.get("plausibility_failed")
                else None
            )
            lineage.record(seg, st, error=err)
        stats.append(st)
    return stats
