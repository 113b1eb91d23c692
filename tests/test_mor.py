"""Merge-on-read table mode: final-state equality with copy-on-write,
O(batch) write volume (the 100×-scale CoW-amplification fix), delta
compaction, and retention GC over delta files.
"""

from __future__ import annotations

import os

import pandas as pd

from open_bus_gtfs_etl_spark.genlog import generate_events, write_wal
from open_bus_gtfs_etl_spark.operators.merge import apply_batch, replay_wal
from open_bus_gtfs_etl_spark.oracle import fold_events
from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable


def _mk(spark, root, mode, n_buckets=8):
    return SnapshotParquetTable.create(
        spark, str(root), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=n_buckets, mode=mode,
    )


def _final(table):
    return (
        table.read().toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def _dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def test_mor_equals_cow_and_oracle(tmp_path, spark):
    ev = generate_events(
        spark, 8000, n_conv=150, seed=31, seg_size=2000, v2_start_lsn=4000,
        dup_rate=0.05, ooo_rate=0.05,
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    cow = _mk(spark, tmp_path / "cow", "cow")
    mor = _mk(spark, tmp_path / "mor", "mor")
    replay_wal(spark, cow, wal, segs)
    replay_wal(spark, mor, wal, segs)
    want = fold_events(ev.toPandas())
    pd.testing.assert_frame_equal(_final(cow), want, check_dtype=False)
    pd.testing.assert_frame_equal(_final(mor), want, check_dtype=False)


def test_mor_write_volume_sublinear_in_table_size(tmp_path, spark):
    """The scale claim: a small batch into a big table writes O(batch)
    under MoR, while CoW rewrites every touched bucket in full."""
    big = generate_events(spark, 50000, n_conv=800, seed=7, seg_size=50000)
    small = generate_events(spark, 100, n_conv=800, seed=8, seg_size=100)
    results = {}
    for mode in ("cow", "mor"):
        t = _mk(spark, tmp_path / mode, mode)
        apply_batch(t, big.drop("seg"), batch_id=0)
        data_dir = os.path.join(t.root, "data")
        before = {d: _dir_bytes(os.path.join(data_dir, d)) for d in os.listdir(data_dir)}
        apply_batch(t, small.drop("seg"), batch_id=1)
        new_dirs = [d for d in os.listdir(data_dir) if d not in before]
        results[mode] = sum(_dir_bytes(os.path.join(data_dir, d)) for d in new_dirs)
    # Zipf keys spread the 200-event batch over most buckets, so CoW
    # rewrites nearly the whole table; MoR writes roughly the batch
    assert results["mor"] * 5 < results["cow"], results
    table_bytes = sum(
        _dir_bytes(os.path.join(tmp_path / "mor", "data", d))
        for d in os.listdir(tmp_path / "mor" / "data")
    )
    assert results["mor"] * 5 < table_bytes, (results, table_bytes)


def test_mor_compact_preserves_state_and_clears_deltas(tmp_path, spark):
    ev = generate_events(
        spark, 6000, n_conv=120, seed=37, seg_size=1000, v2_start_lsn=0,
        dup_rate=0.04, ooo_rate=0.04,
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    t = _mk(spark, tmp_path / "mor", "mor")
    replay_wal(spark, t, wal, segs)
    assert any(t.manifest()["deltas"].values())
    before = _final(t)
    compacted = t.compact()
    assert compacted, "nothing compacted"
    assert not any(t.manifest()["deltas"].values())
    pd.testing.assert_frame_equal(_final(t), before, check_dtype=False)
    # fences survive compaction: re-replay is still a no-op
    v = t.snapshot_id()
    replay_wal(spark, t, wal, segs)
    assert t.snapshot_id() == v
    # and new batches keep applying after compaction (lsns shifted past
    # the replayed log so LWW ordering is unambiguous)
    from pyspark.sql import functions as F

    more = (
        generate_events(spark, 1000, n_conv=120, seed=41, seg_size=1000,
                        v2_start_lsn=0)
        .drop("seg")
        .withColumn("lsn", F.col("lsn") + 100000)
    )
    apply_batch(t, more, batch_id=max(segs) + 1, writer="wal")
    want = fold_events(
        pd.concat([ev.toPandas(), more.toPandas().assign(seg=0)], ignore_index=True)
    )
    pd.testing.assert_frame_equal(_final(t), want, check_dtype=False)


def test_mor_expiry_keeps_live_deltas(tmp_path, spark):
    ev = generate_events(spark, 3000, n_conv=80, seed=43, seg_size=1000,
                         v2_start_lsn=0)
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    t = _mk(spark, tmp_path / "mor", "mor")
    replay_wal(spark, t, wal, segs)
    before = _final(t)
    expired = t.expire_snapshots(keep_last=1)
    assert expired
    pd.testing.assert_frame_equal(_final(t), before, check_dtype=False)


def test_auto_compact_bounds_delta_depth(tmp_path, spark):
    """apply_batch(auto_compact=N) keeps every bucket's delta depth
    bounded across a replay, final state still equals the oracle, and a
    fenced re-apply never triggers a compaction commit."""
    ev = generate_events(
        spark, 6000, n_conv=100, seed=13, seg_size=1000,
        dup_rate=0.05, ooo_rate=0.05,
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    table = _mk(spark, tmp_path / "mor", "mor", n_buckets=4)
    replay_wal(spark, table, wal, segs, auto_compact=2)
    depths = [len(v) for v in table.manifest().get("deltas", {}).values()]
    assert all(d <= 2 for d in depths), depths
    pd.testing.assert_frame_equal(
        _final(table), fold_events(ev.toPandas()), check_dtype=False
    )
    # fenced re-apply: no merge, no compact, no new snapshot
    sid = table.snapshot_id()
    replay_wal(spark, table, wal, segs, auto_compact=0)
    assert table.snapshot_id() == sid

    # auto_compact=0 folds EVERY delta: fresh table ends deltaless
    t0 = _mk(spark, tmp_path / "mor0", "mor", n_buckets=4)
    stats = replay_wal(spark, t0, wal, segs, auto_compact=0)
    assert table.manifest()["mode"] == "mor"
    assert not t0.manifest().get("deltas")
    assert all("compacted_buckets" in s for s in stats)
    pd.testing.assert_frame_equal(
        _final(t0), fold_events(ev.toPandas()), check_dtype=False
    )


def _raw_union(spark, t):
    """Every stored row of the current snapshot, base and deltas, before
    the read-side resolve."""
    m = t.manifest()
    rels = list(m["buckets"].values()) + [
        r for rs in m["deltas"].values() for r in rs
    ]
    return spark.read.schema(t.stored_schema()).parquet(
        *[os.path.join(t.root, r) for r in rels]
    )


def test_mor_resolve_matches_argmax_join_and_oracle(tmp_path, spark):
    """The one-window resolve picks the same winner per key as the
    argmax-join resolve it replaced and as the fold oracle, over a table
    holding cross-delta re-deliveries (same key and lsn in two deltas),
    same-lsn rows with different ts, tombstones, and a mix of compacted
    and delta-carrying buckets."""
    from pyspark.sql import functions as F

    from open_bus_gtfs_etl_spark.operators.dedup import (
        lww_dedup_argmax_join,
        lww_dedup_lag,
    )
    from open_bus_gtfs_etl_spark.sources.lake import bucket_expr

    t = _mk(spark, tmp_path / "mor", "mor", n_buckets=4)
    ev0 = generate_events(spark, 3000, n_conv=60, seed=51, v2_start_lsn=0,
                          dup_rate=0.03, ooo_rate=0.03).drop("seg")
    ev1 = (
        generate_events(spark, 2000, n_conv=60, seed=52, v2_start_lsn=0)
        .drop("seg").withColumn("lsn", F.col("lsn") + 10**6)
    )
    redeliver = ev1.where(F.pmod("lsn", F.lit(5)) == 0)
    later_ts = ev1.where(F.pmod("lsn", F.lit(5)) == 1).withColumns({
        "ts": F.col("ts") + F.expr("INTERVAL 1 SECOND"),
        "text": F.concat(F.col("text"), F.lit("*")),
    })
    tombstones = ev1.where(F.pmod("lsn", F.lit(5)) == 2).withColumns({
        "op": F.lit("delete"), "lsn": F.col("lsn") + 10**6,
    })
    ev2 = redeliver.unionByName(later_ts).unionByName(tombstones)
    hot = ev1.where(bucket_expr("conv_id", 4) < 2)
    ev3 = hot.withColumn("lsn", F.col("lsn") + 3 * 10**6)
    ev4 = ev3.where(F.pmod("lsn", F.lit(3)) == 0)

    apply_batch(t, ev0, batch_id=0)
    t.compact()
    apply_batch(t, ev1, batch_id=1)
    apply_batch(t, ev2, batch_id=2)
    apply_batch(t, ev3, batch_id=3)
    # buckets 0-1 are three deltas deep, 2-3 two: only 0-1 fold back
    assert t.compact(max_deltas=2) == [0, 1]
    apply_batch(t, ev4, batch_id=4)

    m = t.manifest()
    assert set(m["buckets"]) == {"0", "1", "2", "3"}
    assert {b for b, rs in m["deltas"].items() if rs} == {"0", "1", "2", "3"}
    raw = _raw_union(spark, t)
    keys = ["conv_id", "turn_idx"]
    dup = raw.groupBy(*keys, "_lsn").agg(F.countDistinct("_ts").alias("n_ts"),
                                         F.count("*").alias("n"))
    assert dup.where("n_ts = 1 AND n > 1").count() > 0, "no re-deliveries"
    assert dup.where("n_ts > 1").count() > 0, "no same-lsn ts ties"

    cols = [f.name for f in TRANSCRIPTS_SCHEMA.fields] + ["_lsn", "_ts", "_deleted"]
    payload = [c for c in cols if c not in keys]
    old = lww_dedup_argmax_join(raw, keys, payload, lsn_col="_lsn",
                                ts_col="_ts", broadcast_keys=False)
    new = t.read_stored()
    assert new.where("_deleted").count() > 0, "no tombstones survive"

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    assert rows(new) == rows(old) == rows(lww_dedup_lag(raw, keys, "_lsn", "_ts"))

    events = pd.concat(
        [e.toPandas() for e in (ev0, ev1, ev2, ev3, ev4)], ignore_index=True
    )
    pd.testing.assert_frame_equal(_final(t), fold_events(events), check_dtype=False)


def _mor_with_deltas(spark, root, n_buckets, n_batches):
    t = _mk(spark, root, "mor", n_buckets=n_buckets)
    ev = generate_events(spark, 1000 * n_batches, n_conv=80, seed=71,
                         seg_size=1000, v2_start_lsn=0)
    wal = os.path.join(str(root), "wal")
    replay_wal(spark, t, wal, write_wal(ev, wal))
    return t


def test_mor_read_plan_one_exchange_one_sort(tmp_path, spark):
    """Plan pin: the base+delta resolve is one window — one shuffle
    exchange on the key, one sort, no join, and no WindowGroupLimit."""
    t = _mor_with_deltas(spark, tmp_path / "mor", n_buckets=4, n_batches=3)
    plan = t.read_stored()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(conv_id" in plan, plan
    assert plan.count("Sort [") == 1, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" not in plan, plan


def test_mor_scan_lists_paths_on_driver(tmp_path, spark):
    """A scan over more than 32 bucket-delta dirs (Spark's default
    parallel-listing threshold) lists them on the driver: no job of the
    scan has a stage with one task per listed dir."""
    t = _mor_with_deltas(spark, tmp_path / "mor", n_buckets=16, n_batches=3)
    n_dirs = sum(len(rs) for rs in t.manifest()["deltas"].values())
    assert n_dirs > 32, n_dirs
    sc = spark.sparkContext
    sc.setJobGroup("mor-scan", "mor-scan")
    try:
        t.read().write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("mor-scan")
    assert jobs
    tasks = [
        st.getStageInfo(s).numTasks
        for j in jobs
        for s in st.getJobInfo(j).stageIds
    ]
    assert max(tasks) < n_dirs, (n_dirs, tasks)
