"""Last-writer-wins deduplication — the core CDC dedup (SURVEY.md W4).

Reference semantics: re-running a day's load overwrites tracked columns
with the newest file's values, so the later writer wins per natural key
(load_stops_to_db.py:56-61, load_routes_to_db.py:48-56,
load_stop_times_to_db.py:130-137). The CDC generalization orders by
``(lsn, ts)`` and must dedup BEFORE the insert/update/delete branch
split so that a delete beats an older update but loses to a newer one
(SURVEY.md §7 hard parts, "deletes + LWW interplay").

Implementations:

- ``lww_dedup_argmax_lsn`` (``apply_batch``'s ``dedup="argmax_lsn"``,
  run by ``replay_wal`` and the tailer): a keys+longs ``max(lsn)``
  aggregate, broadcast, joined back on the lsn alone — valid under the
  WAL's globally-unique-lsn contract. The tie-break rides the bucketed
  write's exchange.

- ``lww_dedup_argmax_join`` (``apply_batch``'s ``dedup="auto"``): the
  same argmax joined back on the key columns; needs lsn unique only
  per key. Its longs-only partial aggregation map-side-combines a hot
  key before the exchange, which is the kernel's skew defence.

- ``lww_dedup_lag``: one window with ``lag`` instead of a rank — one
  exchange, one sort, no join. For inputs with only a few rows per key:
  the merge-on-read resolve of base + deltas (``SnapshotParquetTable.
  read_stored``).

- ``lww_dedup_window``: the literal reference semantics —
  ``row_number() over (partition by key order by lsn desc, ts desc) = 1``.
  The reference the tests check the other plans against; no engine
  path runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup_argmax_join(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    carry_stats: bool = False,
    broadcast_keys: bool = True,
) -> DataFrame:
    """Argmax-via-semi-join LWW: phase 1 hash-aggregates only
    ``max(lsn)`` per key (a pure-long buffer → HashAggregate, vs the
    SortAggregate that ``max_by(struct)`` plans to); phase 2 joins the
    winning lsn back to fetch the payload. Wins when the payload is wide
    (text) and duplication is high: the agg shuffle carries keys+longs
    only, never text. Needs ``(lsn, ts)`` unique per key event (true
    for a WAL, where duplicate deliveries share the lsn AND payload, so
    any one of the tied winner rows is THE winner).

    ``broadcast_keys`` (default on) hints the keys+longs winner frame
    into a broadcast-hash join, so the wide payload side is never
    written to shuffle at all — measured at 16M×1KB events, the static
    sort-merge plan wrote ~1 GB of payload shuffle that AQE could only
    downgrade to a local read. One winner key is ~40 bytes, so the
    broadcast stays executor-friendly up to tens of millions of
    distinct keys per micro-batch; pass False beyond that (or when the
    driver's maxResultSize is tight) to fall back to the shuffle join.

    Ties on the winning lsn are broken by ``ts`` desc with a row_number
    window over ONLY the ~1-per-key post-filter winners — never an
    aggregation buffer holding the payload. That covers duplicate
    deliveries (identical rows) and feeds whose lsn repeats within a
    key with a different ``ts``: the max-``(lsn, ts)`` row wins, as in
    ``lww_dedup_window``.
    """
    aggs = [F.max(lsn_col).alias("_max_lsn")]
    if carry_stats:
        aggs += [
            F.count("*").alias("_n_dups"),
            F.min(lsn_col).alias("_lsn_min"),
            F.max(lsn_col).alias("_lsn_max"),
        ]
    winners_lsn = df.groupBy(*key_cols).agg(*aggs)
    if broadcast_keys:
        winners_lsn = F.broadcast(winners_lsn)
    j = df.join(
        winners_lsn,
        on=[*key_cols],
        how="inner",
    ).where(F.col(lsn_col) == F.col("_max_lsn"))
    extra = ["_n_dups", "_lsn_min", "_lsn_max"] if carry_stats else []
    # rank BEFORE the output projection: ts_col need not be (and
    # usually isn't) part of the payload the caller keeps
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*key_cols, *payload_cols, *extra)
    )


def argmax_winner_stats(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
    carry_stats: bool = False,
) -> DataFrame:
    """Per-key winning-lsn frame for ``lww_dedup_argmax_lsn``: one row
    per key holding ONLY the winning lsn (plus the lineage counters
    when ``carry_stats``) — the key columns themselves are projected
    away, because under the globally-unique-lsn contract the winning
    lsn alone identifies the winner row. 32 bytes/row (4 longs) vs ~90
    for the keyed frame: the broadcast relation shrinks ~3x and the
    probe-side hash is a single long instead of string+int."""
    aggs = [F.max(lsn_col).alias("_win_lsn")]
    if carry_stats:
        aggs += [
            F.count("*").alias("_n_dups"),
            F.min(lsn_col).alias("_lsn_min"),
            F.max(lsn_col).alias("_lsn_max"),
        ]
    extra = ["_n_dups", "_lsn_min", "_lsn_max"] if carry_stats else []
    return df.groupBy(*key_cols).agg(*aggs).select("_win_lsn", *extra)


def lww_dedup_argmax_lsn(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    carry_stats: bool = False,
    winner_stats: DataFrame | None = None,
    broadcast_keys: bool = True,
    cluster_expr: F.Column | None = None,
    cluster_col: str = "_bucket",
    cluster_partitions: int | None = None,
) -> DataFrame:
    """Argmax LWW for feeds whose lsn is GLOBALLY unique across keys —
    the WAL contract (lsn is the global event id; duplicate deliveries
    share lsn AND payload; see genlog.generate_events).

    Under that contract ``row.lsn == max(lsn) over row's key`` is
    equivalent to ``row.lsn ∈ {winning lsns}``: an lsn belongs to
    exactly one key event, so a row can never match another key's
    winning lsn. The join-back therefore equi-joins on the single
    ``lsn`` long instead of the (string, int) key pair:

    - the broadcast relation carries (``_win_lsn`` + optional counters)
      only — ~32 B/row, ~3x smaller than the keyed winner frame, so the
      driver-serial broadcast build (part of the scaling serial floor)
      shrinks proportionally;
    - the probe side hashes one long per row instead of a ~17-char
      string + int.

    ``winner_stats`` accepts a pre-built (possibly persisted) frame
    from :func:`argmax_winner_stats` so a caller that already counted
    it for the broadcast decision doesn't recompute the aggregation.

    Ties (duplicate deliveries: same key AND lsn, identical payload)
    are broken by a row_number window partitioned by the LSN itself:
    under global uniqueness lsn ⊃ key, so per-lsn rank ≡ per-key rank
    over the survivors, and the exchange/sort compare one long instead
    of a string+int key (measured ~2.4 s cheaper per 16M events at 1
    core than the keyed window). NOT safe when lsn values can repeat
    across keys — use ``lww_dedup_argmax_join`` there (per-key
    uniqueness suffices for it).

    ``cluster_expr`` (guide §2.4 — remove shuffles outright): when the
    caller knows the downstream clustering (the merge's bucket column,
    a pure function of ``key_cols[0]``), the tie-break rides THAT
    exchange instead of adding its own. The survivors are repartitioned
    BY ID on the bucket value into ``cluster_partitions`` partitions
    (required with ``cluster_expr``): bucket ``b`` goes to partition
    ``b mod cluster_partitions``, so each task holds whole buckets and
    the write still produces one file per bucket however few tasks the
    batch gets. Ties then collapse with a ``lag`` window partitioned by
    ``(bucket, *key_cols)``:

    - the partition-id pass-through on ``[bucket]`` satisfies the
      window's ``ClusteredDistribution([bucket, *keys])``, so the window
      adds NO exchange;
    - after the join-back every surviving row of a key carries that
      key's single winning lsn, so ``lag(lsn) IS NULL`` keeps exactly
      the first row of each (bucket, key) group — same survivor set as
      the per-lsn rank (ties are bit-identical re-deliveries);
    - ``lag`` (an offset window function) deliberately replaces
      ``row_number``: a rank filter triggers Spark's WindowGroupLimit
      insertion, whose partial phase fully sorts the payload on the
      map side to drop ~2% of rows — a bad trade the offset function
      sidesteps;
    - the window's required sort (bucket, keys, ts desc) IS the
      bucketed writer's required order, so the write's
      ``sortWithinPartitions`` collapses into it (plan-verified).

    The output then carries ``cluster_col`` so the merge reuses the
    attribute (and with it the partitioning/ordering metadata) instead
    of recomputing the expression. Net: the winners' payload crosses
    ONE exchange and ONE sort end-to-end instead of two of each.
    """
    if winner_stats is None:
        winner_stats = argmax_winner_stats(
            df, key_cols, lsn_col=lsn_col, carry_stats=carry_stats
        )
    side = F.broadcast(winner_stats) if broadcast_keys else winner_stats
    j = df.join(side, F.col(lsn_col) == F.col("_win_lsn"), "inner")
    extra = ["_n_dups", "_lsn_min", "_lsn_max"] if carry_stats else []
    if cluster_expr is not None:
        j = j.withColumn(cluster_col, cluster_expr).repartitionById(
            cluster_partitions, F.col(cluster_col)
        )
        w = Window.partitionBy(cluster_col, *key_cols).orderBy(
            F.col(ts_col).desc()
        )
        return (
            j.withColumn("_prev_lsn", F.lag(lsn_col).over(w))
            .where(F.col("_prev_lsn").isNull())
            .select(*key_cols, *payload_cols, *extra, cluster_col)
        )
    w = Window.partitionBy(lsn_col).orderBy(F.col(ts_col).desc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*key_cols, *payload_cols, *extra)
    )


def lww_dedup_lag(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
) -> DataFrame:
    """One winner row per key from ONE window: partition by key, order
    by (lsn desc, ts desc), keep the row whose ``lag(lsn)`` is null —
    the first row of its key (lsn is never null). All columns pass
    through.

    The plan is one hash exchange on the key and one sort, with no
    join. It suits inputs holding only a few rows per key, such as the
    merge-on-read resolve, where a key has at most one row in the base
    and one per delta: the argmax plans' partial aggregation then drops
    almost nothing and only adds a second exchange, a join and a
    tie-break sort. ``lag`` rather than ``row_number``, as in
    ``lww_dedup_argmax_lsn``: a rank filter makes Spark insert a
    WindowGroupLimit whose partial phase sorts every row map-side.

    Ties on (lsn, ts) are re-deliveries of one event (same payload), so
    whichever copy sorts first is THE winner.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(lsn_col).desc(), F.col(ts_col).desc()
    )
    return (
        df.withColumn("_prev_lsn", F.lag(lsn_col).over(w))
        .where(F.col("_prev_lsn").isNull())
        .drop("_prev_lsn")
    )


def lww_dedup_window(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
) -> DataFrame:
    """Reference-literal LWW: rank within key, keep row 1 (W4).

    The test reference for the engine's plans; no engine path runs it
    (the rank filter makes Spark insert a WindowGroupLimit, and every
    input row crosses the key exchange)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(lsn_col).desc(), F.col(ts_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

