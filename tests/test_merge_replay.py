"""The minimum end-to-end slice (SURVEY.md §7 step 3): generate events →
replay through the merge kernel → final state equals the single-threaded
oracle; applying the same batch twice leaves the snapshot unchanged.
"""

from __future__ import annotations

import pandas as pd
import pytest

from open_bus_gtfs_etl_spark.genlog import generate_events, read_wal_segment, write_wal
from open_bus_gtfs_etl_spark.operators.merge import apply_batch, replay_wal
from open_bus_gtfs_etl_spark.oracle import fold_events
from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable


def _final_state(table) -> pd.DataFrame:
    return (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def _make_table(spark, tmp_path, n_buckets=8):
    return SnapshotParquetTable.create(
        spark,
        str(tmp_path / "lake"),
        TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=n_buckets,
    )


def _assert_equal(table, events_pdf):
    got = _final_state(table)
    want = fold_events(events_pdf)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_replay_matches_oracle(tmp_path, spark):
    events = generate_events(
        spark, 10_000, n_conv=200, seed=42, dup_rate=0.05, ooo_rate=0.05, seg_size=2000
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(events, wal)
    table = _make_table(spark, tmp_path)
    replay_wal(spark, table, wal, segs)
    _assert_equal(table, events.toPandas())


def test_cross_batch_out_of_order_no_regression(tmp_path, spark):
    """A later batch carrying an older lsn must not regress the row, and
    must not resurrect a deleted key (tombstone gating)."""
    from pyspark.sql import functions as F

    def mk(rows):
        return (
            spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int, role string, text string",
            )
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("tool", F.lit(None).cast("string"))
        )

    table = _make_table(spark, tmp_path)
    # batch 0: newer state arrives first
    apply_batch(table, mk([(10, "update", "c-1", 0, "user", "new"),
                           (11, "delete", "c-2", 0, None, None)]), batch_id=0)
    # batch 1: stragglers with older lsns
    st = apply_batch(table, mk([(5, "update", "c-1", 0, "user", "old"),
                                (6, "insert", "c-2", 0, "user", "zombie")]), batch_id=1)
    assert st["rows_stale_skipped"] == 2
    final = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
    assert final == {("c-1", 0): "new"}  # c-2 stays deleted, c-1 keeps new


def test_fencing_idempotent_reapply(tmp_path, spark):
    events = generate_events(spark, 3000, n_conv=60, seed=1, seg_size=1000)
    wal = str(tmp_path / "wal")
    segs = write_wal(events, wal)
    table = _make_table(spark, tmp_path)
    replay_wal(spark, table, wal, segs)
    v = table.snapshot_id()
    # re-apply the last batch with the same batch_id under the same
    # writer namespace → fenced no-op
    batch = read_wal_segment(spark, wal, segs[-1])
    st = apply_batch(table, batch, batch_id=segs[-1], writer="wal")
    assert st["skipped_fenced"] is True
    assert table.snapshot_id() == v
    _assert_equal(table, events.toPandas())


def test_delete_then_reinsert(tmp_path, spark):
    from pyspark.sql import functions as F

    def mk(rows):
        return (
            spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int, role string, text string",
            )
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("tool", F.lit(None).cast("string"))
        )

    table = _make_table(spark, tmp_path)
    apply_batch(table, mk([(1, "insert", "c", 0, "user", "a")]), batch_id=0)
    apply_batch(table, mk([(2, "delete", "c", 0, None, None)]), batch_id=1)
    assert table.read().count() == 0
    apply_batch(table, mk([(3, "insert", "c", 0, "user", "b")]), batch_id=2)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0].text == "b"


def test_schema_evolution_mid_stream(tmp_path, spark):
    """v1 segments (no tool column on disk) then v2 segments: the reader
    aligns, the table absorbs, final state matches the oracle including
    tool values from v2 events."""
    events = generate_events(
        spark, 6000, n_conv=100, seed=5, seg_size=1500, v2_start_lsn=3000
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(events, wal)
    table = _make_table(spark, tmp_path)
    replay_wal(spark, table, wal, segs)
    _assert_equal(table, events.toPandas())
    tools = [r.tool for r in table.read().where("tool is not null").collect()]
    assert tools, "v2 tool values must materialize"


def test_merge_stats_counts(tmp_path, spark):
    from pyspark.sql import functions as F

    def mk(rows):
        return (
            spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int, role string, text string",
            )
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("tool", F.lit(None).cast("string"))
        )

    table = _make_table(spark, tmp_path)
    st0 = apply_batch(
        table,
        mk([(1, "insert", "a", 0, "user", "x"),
            (2, "insert", "a", 0, "user", "y"),   # deduped (same key)
            (3, "insert", "b", 0, "user", "z")]),
        batch_id=0,
    )
    assert st0["rows_inserted"] == 2 and st0["rows_deduped"] == 1
    st1 = apply_batch(
        table,
        mk([(4, "update", "a", 0, "user", "y2"),
            (5, "delete", "b", 0, None, None),
            (6, "insert", "c", 0, "user", "w")]),
        batch_id=1,
    )
    assert st1["rows_updated"] == 1
    assert st1["rows_deleted"] == 1
    assert st1["rows_inserted"] == 1


def test_writer_fences_independent(tmp_path, spark):
    """Batch replay (WAL segment ids) and a streaming checkpoint (epoch
    ids from 0) fence independently: a fresh stream's epoch 0 must APPLY
    after a backfill committed segment id 5 — the shared-scalar design
    silently dropped those events."""
    from pyspark.sql import functions as F

    def mk(rows):
        return (
            spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int, role string, text string",
            )
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("tool", F.lit(None).cast("string"))
        )

    table = _make_table(spark, tmp_path, n_buckets=2)
    apply_batch(table, mk([(1, "insert", "a", 0, "user", "via-wal")]),
                batch_id=5, writer="wal")
    st = apply_batch(table, mk([(2, "insert", "b", 0, "user", "via-stream")]),
                     batch_id=0, writer="stream:ck1")
    assert not st["skipped_fenced"], "fresh stream epoch 0 was fenced by the wal fence"
    assert table.read().count() == 2
    # each writer's own re-delivery IS fenced
    assert apply_batch(table, mk([(1, "insert", "a", 0, "user", "dup")]),
                       batch_id=5, writer="wal")["skipped_fenced"]
    assert apply_batch(table, mk([(2, "insert", "b", 0, "user", "dup")]),
                       batch_id=0, writer="stream:ck1")["skipped_fenced"]
    assert table.last_committed_batch("wal") == 5
    assert table.last_committed_batch("stream:ck1") == 0
    assert table.last_committed_batch() == 5  # max across writers


def test_rollback_allocates_fresh_versions_and_expiry_follows_chain(tmp_path, spark):
    """After rollback, (a) the next merge must allocate a version past
    the abandoned maximum so no still-referenced data dir is
    overwrite-wiped, and (b) expire_snapshots must retain by the CURRENT
    parent chain, not filename order — otherwise it deletes the live
    snapshot and the table is corrupt."""
    import os

    from pyspark.sql import functions as F

    def mk(rows):
        return (
            spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int, role string, text string",
            )
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("tool", F.lit(None).cast("string"))
        )

    table = _make_table(spark, tmp_path, n_buckets=2)
    for i in range(4):  # versions 2..5
        apply_batch(table, mk([(i + 1, "insert", f"c-{i}", 0, "user", f"t{i}")]), batch_id=i)
    assert table.snapshot_id() == 5
    table.rollback(3)  # state after batches 0,1
    assert table.read().count() == 2
    # post-rollback merge: version goes PAST 5, never reuses 4
    apply_batch(table, mk([(10, "insert", "c-new", 0, "user", "post-rb")]), batch_id=2)
    assert table.snapshot_id() == 6
    # the abandoned v4/v5 manifests still reference their data dirs intact
    assert os.path.isdir(os.path.join(table.root, "data", "v000000004"))
    # expiry keeps the CURRENT chain head (6) and its parent (3);
    # abandoned 4 and 5 are GC'd without touching live data
    expired = table.expire_snapshots(keep_last=2)
    assert 4 in expired and 5 in expired
    assert table.snapshot_id() == 6
    got = sorted(r.conv_id for r in table.read().collect())
    assert got == ["c-0", "c-1", "c-new"]
    # the expired-but-shared data dirs kept: v2/v3 buckets referenced by
    # the kept manifests must still read
    table.rollback(3)
    assert table.read().count() == 2


def test_expire_snapshots_and_rollback(tmp_path, spark):
    import os

    from pyspark.sql import functions as F

    def mk(rows):
        return (
            spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int, role string, text string",
            )
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("tool", F.lit(None).cast("string"))
        )

    table = _make_table(spark, tmp_path, n_buckets=2)
    for i in range(5):
        apply_batch(table, mk([(i + 1, "insert", f"c-{i}", 0, "user", f"t{i}")]), batch_id=i)
    n_rows_before = table.read().count()
    v_before = table.snapshot_id()
    expired = table.expire_snapshots(keep_last=2)
    assert expired and table.snapshot_id() == v_before
    assert table.read().count() == n_rows_before
    data_dirs = os.listdir(os.path.join(table.root, "data"))
    # only dirs referenced by kept manifests remain
    assert len(data_dirs) <= 4


def test_expire_sweeps_after_crashed_sweep_and_spares_in_flight(
    tmp_path, spark, monkeypatch
):
    """A call that crashed after removing its manifests but before its
    data sweep leaves unreferenced data dirs behind; the next call
    reclaims them although no manifest is left to expire. A data dir
    newer than every manifest (a write whose commit has not landed)
    survives both calls."""
    import os

    from open_bus_gtfs_etl_spark.sources import lake

    ev = generate_events(spark, 2000, n_conv=40, seed=61, seg_size=500,
                         v2_start_lsn=0)
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    table = _make_table(spark, tmp_path, n_buckets=4)
    replay_wal(spark, table, wal, segs)
    data_dir = os.path.join(table.root, "data")
    in_flight = f"v{table.snapshot_id() + 1:09d}"
    os.makedirs(os.path.join(data_dir, in_flight, "_bucket=0"))

    def crash(*a, **k):
        raise OSError("killed mid-sweep")

    monkeypatch.setattr(lake.shutil, "rmtree", crash)
    with pytest.raises(OSError, match="mid-sweep"):
        table.expire_snapshots(keep_last=1)
    monkeypatch.undo()
    live = {
        rel.split(os.sep)[1] for rel in table.manifest()["buckets"].values()
    }
    leftover = set(os.listdir(data_dir)) - live - {in_flight}
    assert leftover, "precondition: the crashed call left orphan dirs"

    assert table.expire_snapshots(keep_last=1) == []
    assert set(os.listdir(data_dir)) == live | {in_flight}
    _assert_equal(table, ev.toPandas())
