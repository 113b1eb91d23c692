"""Bucketed writes: every write lays whole buckets into each task, so
each bucket a version writes holds exactly one file, and a steady merge
runs no more tasks per stage than the session's shuffle width — not
one task per bucket."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from open_bus_gtfs_etl_spark.genlog import generate_events, write_wal
from open_bus_gtfs_etl_spark.operators.merge import apply_batch, replay_wal
from open_bus_gtfs_etl_spark.oracle import fold_events
from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
from open_bus_gtfs_etl_spark.sources.lake import BUCKET_COL, SnapshotParquetTable
from open_bus_gtfs_etl_spark.streaming.lineage import LineageLog

KEYS = ["conv_id", "turn_idx"]
N_BUCKETS = 16


def _table(spark, root, mode="cow"):
    return SnapshotParquetTable.create(
        spark, str(root), TRANSCRIPTS_SCHEMA, key_cols=KEYS,
        n_buckets=N_BUCKETS, mode=mode,
    )


def _files_per_bucket(table) -> dict[str, int]:
    """Parquet files in each bucket dir of the table's newest version."""
    v = table.manifest()["version"]
    vdir = os.path.join(table.root, "data", f"v{v:09d}")
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(vdir, f"{BUCKET_COL}=*"))
    }


def _assert_one_file_per_bucket(table):
    files = _files_per_bucket(table)
    assert files, "the version wrote no bucket dirs"
    assert set(files.values()) == {1}, files


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("dedup", ["auto", "argmax_lsn"])
def test_every_write_is_one_file_per_bucket(tmp_path, spark, mode, dedup):
    """Bootstrap, a steady merge (CoW rewrite or MoR delta) and, on MoR,
    ``compact()``: each bucket dir of each new version holds one file,
    and the table equals the fold oracle. ``dedup="auto"`` reaches the
    unclustered writes, ``"argmax_lsn"`` the bucket-clustered ones."""
    ev = generate_events(spark, 3000, n_conv=120, seed=71,
                         dup_rate=0.05, ooo_rate=0.05).drop("seg")
    table = _table(spark, tmp_path / "lake", mode)
    for i in range(3):
        apply_batch(table, ev.where(f"lsn % 3 = {i}"), batch_id=i, dedup=dedup)
        _assert_one_file_per_bucket(table)
    if mode == "mor":
        assert table.compact() == list(range(N_BUCKETS))
        _assert_one_file_per_bucket(table)
    got = (
        table.read().toPandas().sort_values(KEYS).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, fold_events(ev.toPandas()),
                                  check_dtype=False)


def test_steady_cow_merge_stages_fit_shuffle_width(tmp_path, spark):
    """A steady CoW merge touching every bucket runs no stage wider than
    ``spark.sql.shuffle.partitions`` (4 here): its bucket-keyed
    exchanges are sized to the session, not to the 16 buckets."""
    ev = generate_events(spark, 4000, n_conv=120, seed=73, seg_size=2000,
                         v2_start_lsn=0, dup_rate=0.05, ooo_rate=0.05)
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    table = _table(spark, tmp_path / "lake")
    replay_wal(spark, table, wal, segs[:1])
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width < N_BUCKETS
    sc = spark.sparkContext
    sc.setJobGroup("steady-cow", "steady-cow")
    try:
        replay_wal(spark, table, wal, segs[1:2])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(_files_per_bucket(table)) == N_BUCKETS
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("steady-cow")
    assert jobs
    tasks = [
        info.numTasks
        for j in jobs
        for s in st.getJobInfo(j).stageIds
        if (info := st.getStageInfo(s)) is not None
    ]
    assert tasks and max(tasks) <= width, (width, tasks)


def test_replay_lineage_spans_the_merge(tmp_path, spark):
    """A ``replay_wal`` lineage row stamps when its merge started and
    when it completed, not one instant for both."""
    ev = generate_events(spark, 1000, n_conv=40, seed=75, seg_size=1000,
                         v2_start_lsn=0)
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    lineage = LineageLog(spark, str(tmp_path / "lin"))
    replay_wal(spark, _table(spark, tmp_path / "lake"), wal, segs,
               lineage=lineage)
    row = lineage.read().where("partition_id = -1").toPandas()
    assert len(row) == len(segs)
    assert (row.started_at < row.completed_at).all(), row
