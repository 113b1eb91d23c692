"""Changelog serving (CDC output side) + time travel + bucket-pruned
point lookup — the read-side duals of the merge kernel.

The core invariant is compositional: for any snapshot pair (v1, v2),
applying ``changes_between(v1, v2)`` to the user-visible state at v1
must reproduce the state at v2 exactly — insert/update upsert, delete
removes. Plus the scale contracts: a diff only reads buckets whose
manifest references changed, and a point lookup only reads the key's
own bucket directory.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_bus_gtfs_etl_spark.operators.merge import apply_batch
from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable


def _mk(spark, rows):
    return (
        spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx int, role string, text string",
        )
        .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
        .withColumn("tool", F.lit(None).cast("string"))
    )


def _table(spark, tmp_path, mode="cow", n_buckets=8):
    return SnapshotParquetTable.create(
        spark,
        str(tmp_path / "lake"),
        TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=n_buckets,
        mode=mode,
    )


def _state(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def _apply_changes(state: pd.DataFrame, changes: pd.DataFrame, user_cols) -> pd.DataFrame:
    """Fold a change feed onto a state frame (pandas oracle)."""
    out = {(r.conv_id, r.turn_idx): r for r in state.itertuples(index=False)}
    for r in changes.itertuples(index=False):
        k = (r.conv_id, r.turn_idx)
        if r.op == "delete":
            out.pop(k, None)
        else:
            out[k] = r
    rows = [
        {c: getattr(v, c) for c in user_cols} for v in out.values()
    ]
    return (
        pd.DataFrame(rows, columns=user_cols)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


BATCH_1 = [
    (1, "insert", "c-1", 0, "user", "hello"),
    (2, "insert", "c-1", 1, "assistant", "hi"),
    (3, "insert", "c-2", 0, "user", "q"),
    (4, "insert", "c-3", 0, "user", "x"),
]
BATCH_2 = [
    (5, "update", "c-1", 1, "assistant", "hi there"),  # update
    (6, "delete", "c-2", 0, None, None),               # delete
    (7, "insert", "c-4", 0, "user", "new conv"),       # insert
]
BATCH_3 = [
    (8, "insert", "c-2", 0, "user", "re-created"),     # insert over tombstone
    (9, "delete", "c-4", 0, None, None),
]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changes_between_ops(tmp_path, spark, mode):
    t = _table(spark, tmp_path, mode=mode)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    v1 = t.snapshot_id()
    apply_batch(t, _mk(spark, BATCH_2), batch_id=1)
    v2 = t.snapshot_id()

    ch = t.changes_between(v1, v2).toPandas()
    got = {(r.conv_id, r.turn_idx): r.op for r in ch.itertuples(index=False)}
    assert got == {
        ("c-1", 1): "update",
        ("c-2", 0): "delete",
        ("c-4", 0): "insert",
    }
    by_key = {(r["conv_id"], r["turn_idx"]): r for r in ch.to_dict("records")}
    assert by_key[("c-1", 1)]["text"] == "hi there"
    assert by_key[("c-1", 1)]["_commit_lsn"] == 5
    # delete carries the tombstone stamp and null values
    assert by_key[("c-2", 0)]["_commit_lsn"] == 6
    assert pd.isna(by_key[("c-2", 0)]["text"])
    # the stamp columns live in the underscore namespace precisely so
    # the user's own `ts` value column survives unshadowed
    assert list(ch.columns).count("ts") == 1


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changes_compose_to_state(tmp_path, spark, mode):
    """state(v1) + changes(v1, v3) == state(v3) — across an insert-over-
    tombstone and a delete of a just-inserted key."""
    t = _table(spark, tmp_path, mode=mode)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    v1 = t.snapshot_id()
    s1 = _state(t.read())
    apply_batch(t, _mk(spark, BATCH_2), batch_id=1)
    apply_batch(t, _mk(spark, BATCH_3), batch_id=2)
    v3 = t.snapshot_id()
    s3 = _state(t.read())

    user_cols = t.manifest()["user_cols"]
    ch = t.changes_between(v1, v3).toPandas()
    folded = _apply_changes(s1, ch, user_cols)
    pd.testing.assert_frame_equal(folded, s3, check_dtype=False)
    # time travel agrees with the states captured live
    pd.testing.assert_frame_equal(_state(t.read_at(v1)), s1, check_dtype=False)
    pd.testing.assert_frame_equal(_state(t.read_at(v3)), s3, check_dtype=False)


def test_changes_same_version_empty_and_stamp_filter(tmp_path, spark):
    t = _table(spark, tmp_path)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    v1 = t.snapshot_id()
    assert t.changes_between(v1, v1).count() == 0
    # a fenced replay of the same batch commits nothing: still no changes
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    assert t.snapshot_id() == v1
    # a batch that is entirely stale rewrites rows' buckets but no stamps:
    # every carried/stale row must be filtered by the stamp check
    apply_batch(
        t, _mk(spark, [(0, "update", "c-1", 0, "user", "stale")]), batch_id=1
    )
    v2 = t.snapshot_id()
    assert t.changes_between(v1, v2).count() == 0


def test_changes_bucket_pruning(tmp_path, spark):
    """A diff whose window touched one conversation reads ONLY that
    conversation's bucket files — carried-by-reference buckets are
    pruned at the manifest level, before any I/O."""
    t = _table(spark, tmp_path, n_buckets=8)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    v1 = t.snapshot_id()
    apply_batch(
        t, _mk(spark, [(5, "update", "c-1", 0, "user", "edited")]), batch_id=1,
    )
    v2 = t.snapshot_id()
    ch = t.changes_between(v1, v2)
    rows = ch.collect()
    assert [(r.op, r.conv_id) for r in rows] == [("update", "c-1")]
    # compute c-1's bucket the same way the engine does
    b = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("c-1")), F.lit(8)).cast("int").alias("b")
    ).first()["b"]
    files = ch.inputFiles()
    assert files, "diff plan lists no files"
    assert all(f"_bucket={b}" in f for f in files), files


def test_changes_from_side_prunes_payload(tmp_path, spark):
    """The from-side of a diff contributes only keys + stamps, so its
    parquet scan must column-prune the wide payload (text): exactly one
    of the two snapshot scans in the plan reads `text`."""
    t = _table(spark, tmp_path)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    v1 = t.snapshot_id()
    apply_batch(t, _mk(spark, BATCH_2), batch_id=1)
    v2 = t.snapshot_id()
    plan = t.changes_between(v1, v2)._sc._jvm.PythonSQLUtils.explainString(
        t.changes_between(v1, v2)._jdf.queryExecution(), "formatted"
    )
    import re

    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(reads) == 2, plan
    with_text = [r for r in reads if "text" in r]
    assert len(with_text) == 1, reads


def test_changes_across_schema_evolution(tmp_path, spark):
    """Diffing across an ALTER: the from-side (pre-evolution) aligns to
    the to-side schema with typed nulls; new-column values surface."""
    import pyspark.sql.types as T

    slim = T.StructType([f for f in TRANSCRIPTS_SCHEMA.fields if f.name != "tool"])
    t = SnapshotParquetTable.create(
        spark, str(tmp_path / "lake"), slim,
        key_cols=["conv_id", "turn_idx"], n_buckets=4,
    )
    b1 = _mk(spark, BATCH_1).drop("tool")
    apply_batch(t, b1, batch_id=0, value_cols=["role", "text", "ts"])
    v1 = t.snapshot_id()
    t.evolve_schema([T.StructField("tool", T.StringType(), True)])
    b2 = _mk(spark, [(5, "update", "c-1", 0, "assistant", "tooled")]).withColumn(
        "tool", F.lit("search")
    )
    apply_batch(t, b2, batch_id=1, value_cols=["role", "text", "tool", "ts"])
    v2 = t.snapshot_id()
    ch = {r.conv_id: r for r in t.changes_between(v1, v2).collect()}
    assert ch["c-1"].op == "update" and ch["c-1"].tool == "search"
    # and the pre-evolution time-travel read has no tool column at all
    assert "tool" not in t.read_at(v1).columns


def test_changes_expired_snapshot_raises(tmp_path, spark):
    t = _table(spark, tmp_path)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    v1 = t.snapshot_id()
    apply_batch(t, _mk(spark, BATCH_2), batch_id=1)
    apply_batch(t, _mk(spark, BATCH_3), batch_id=2)
    v3 = t.snapshot_id()
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        t.changes_between(v1, v3)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_sync_replica_closes_the_loop(tmp_path, spark, mode):
    """The changelog feeds the merge kernel: a replica maintained purely
    from changes_between tracks the source exactly, incrementally, and
    idempotently (re-sync is fenced to a no-op)."""
    from open_bus_gtfs_etl_spark.operators.maintenance import sync_replica

    src = _table(spark, tmp_path / "s", mode=mode)
    dst = SnapshotParquetTable.create(
        spark, str(tmp_path / "d" / "lake"), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=4,  # different bucketing
    )
    apply_batch(src, _mk(spark, BATCH_1), batch_id=0)
    st = sync_replica(src, dst)
    assert st["synced_to_version"] == src.snapshot_id()
    pd.testing.assert_frame_equal(_state(dst.read()), _state(src.read()))

    apply_batch(src, _mk(spark, BATCH_2), batch_id=1)
    apply_batch(src, _mk(spark, BATCH_3), batch_id=2)
    st = sync_replica(src, dst)  # one incremental sync over two commits
    assert not st.get("skipped_fenced")
    pd.testing.assert_frame_equal(_state(dst.read()), _state(src.read()))

    st = sync_replica(src, dst)  # nothing new
    assert st["skipped_up_to_date"]


def test_sync_replica_replayed_wal(tmp_path, spark):
    """Replica sync over a realistic multi-segment WAL replay: sync
    after every segment; the replica ends equal to the fold oracle."""
    from open_bus_gtfs_etl_spark.genlog import generate_events, write_wal
    from open_bus_gtfs_etl_spark.operators.maintenance import sync_replica
    from open_bus_gtfs_etl_spark.operators.merge import replay_wal
    from open_bus_gtfs_etl_spark.oracle import fold_events

    ev = generate_events(
        spark, 8_000, n_conv=150, seed=7, dup_rate=0.05, ooo_rate=0.05,
        seg_size=2_000,
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    src = _table(spark, tmp_path)
    dst = SnapshotParquetTable.create(
        spark, str(tmp_path / "replica"), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=8,
    )
    for seg in segs:
        replay_wal(spark, src, wal, [seg])
        sync_replica(src, dst)
    got = _state(dst.read())
    want = fold_events(ev.toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_lookup_point_read(tmp_path, spark, mode):
    t = _table(spark, tmp_path, mode=mode, n_buckets=8)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    apply_batch(t, _mk(spark, BATCH_2), batch_id=1)

    got = t.lookup({"conv_id": "c-1"}).collect()
    want = t.read().where(F.col("conv_id") == "c-1").collect()
    assert sorted((r.conv_id, r.turn_idx, r.text) for r in got) == sorted(
        (r.conv_id, r.turn_idx, r.text) for r in want
    )
    # composite-key residual filter
    one = t.lookup({"conv_id": "c-1", "turn_idx": 1}).collect()
    assert len(one) == 1 and one[0].text == "hi there"
    # a deleted key reads empty
    assert t.lookup({"conv_id": "c-2"}).count() == 0
    # missing bucketing column is an error
    with pytest.raises(ValueError, match="conv_id"):
        t.lookup({"turn_idx": 0})


def test_lookup_reads_one_bucket(tmp_path, spark):
    t = _table(spark, tmp_path, n_buckets=8)
    apply_batch(t, _mk(spark, BATCH_1), batch_id=0)
    df = t.lookup({"conv_id": "c-1"})
    b = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("c-1")), F.lit(8)).cast("int").alias("b")
    ).first()["b"]
    files = df.inputFiles()
    assert files and all(f"_bucket={b}" in f for f in files), files
    # within the bucket, the key predicate reaches the parquet scan as
    # a pushed filter — row groups whose conv_id min/max exclude the
    # key are skipped without decoding
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan
    import re

    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "conv_id" in pushed, plan
