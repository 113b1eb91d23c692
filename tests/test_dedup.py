"""LWW dedup: the engine's plans agree with the reference window and
with brute force."""

from __future__ import annotations

import re

import pytest

from open_bus_gtfs_etl_spark.genlog import generate_events
from open_bus_gtfs_etl_spark.operators.dedup import (
    lww_dedup_argmax_join,
    lww_dedup_argmax_lsn,
    lww_dedup_window,
)
from open_bus_gtfs_etl_spark.sources.lake import BUCKET_COL, bucket_expr

KEYS = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "op", "lsn", "ts"]


def _norm(rows):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.op, r.lsn, r.ts) for r in rows
    )


def _engine_plans(df, payload):
    """Keyed argmax and both forms of the lsn-keyed argmax (per-lsn rank
    and the bucket-clustered tie-break apply_batch runs)."""
    return {
        "argmax_join": lww_dedup_argmax_join(df, KEYS, payload),
        "argmax_lsn": lww_dedup_argmax_lsn(df, KEYS, payload),
        "argmax_lsn_clustered": lww_dedup_argmax_lsn(
            df, KEYS, payload,
            cluster_expr=bucket_expr(KEYS[0], 8), cluster_col=BUCKET_COL,
            cluster_partitions=8,
        ),
    }


def test_implementations_agree(spark):
    df = generate_events(spark, 5000, n_conv=50, skew_s=1.4, seed=3, dup_rate=0.05)
    w = _norm(lww_dedup_window(df, KEYS).select(*KEYS, *PAYLOAD).collect())
    for name, out in _engine_plans(df, PAYLOAD).items():
        assert _norm(out.collect()) == w, name
    # exactly one row per key
    keys = [t[:2] for t in w]
    assert len(keys) == len(set(keys))


def test_payload_without_ordering_cols(spark):
    """Regression: the caller's payload need not include lsn/ts — the
    argmax join used to project them away before its tie-break window
    ordered by ts (AnalysisException); every plan must resolve and
    agree with the reference when the payload is text-only."""
    df = generate_events(spark, 3000, n_conv=30, seed=7, dup_rate=0.05)
    slim = ["role", "text", "tool"]

    def norm(rows):
        return sorted((r.conv_id, r.turn_idx, r.role, r.text, r.tool) for r in rows)

    w = norm(lww_dedup_window(df, KEYS).select(*KEYS, *slim).collect())
    for name, out in _engine_plans(df, slim).items():
        assert norm(out.collect()) == w, name


def test_winner_is_max_lsn(spark):
    df = generate_events(spark, 2000, n_conv=20, seed=9, dup_rate=0)
    pdf = df.toPandas()
    expected = {}
    for r in pdf.sort_values(["lsn", "ts"]).itertuples():
        expected[(r.conv_id, r.turn_idx)] = r.lsn
    got = {
        (r.conv_id, r.turn_idx): r.lsn
        for r in lww_dedup_argmax_join(df, KEYS, PAYLOAD).collect()
    }
    assert got == expected


def test_delete_kept_in_winner(spark):
    """Dedup happens BEFORE branch split: the op column survives on the
    winner so a delete beats an older update and loses to a newer one."""
    rows = [
        (1, "insert", "c-1", 0, "user", "v1"),
        (2, "delete", "c-1", 0, None, None),
        (3, "insert", "c-2", 0, "user", "v1"),
        (4, "update", "c-2", 0, "user", "v2"),
    ]
    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame(
            rows, "lsn long, op string, conv_id string, turn_idx int, role string, text string"
        )
        .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
        .withColumn("tool", F.lit(None).cast("string"))
    )
    got = {
        (r.conv_id, r.turn_idx): r.op
        for r in lww_dedup_argmax_join(df, KEYS, PAYLOAD).collect()
    }
    assert got == {("c-1", 0): "delete", ("c-2", 0): "update"}


def test_same_lsn_tie_keeps_max_ts(tmp_path, spark):
    """A feed whose lsn is unique only per key EVENT can repeat an lsn
    within a key with a different ts and payload. Keyed argmax must keep
    the max-(lsn, ts) row: the same winner as a brute-force (lsn, ts)
    sort, and through apply_batch the same table as the oracle fold."""
    import pandas as pd
    from pyspark.sql import functions as F

    from open_bus_gtfs_etl_spark.operators.merge import apply_batch
    from open_bus_gtfs_etl_spark.oracle import fold_events
    from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
    from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable

    rows = [
        # (lsn, ts seconds, op, conv_id, turn_idx, role, text)
        (5, 100, "insert", "c-1", 0, "user", "a"),
        (5, 200, "update", "c-1", 0, "user", "b"),  # max ts at lsn 5
        (5, 150, "update", "c-1", 0, "user", "c"),
        (3, 50, "insert", "c-2", 0, "user", "x"),
        (7, 10, "update", "c-2", 0, "assistant", "y"),
        (7, 20, "update", "c-2", 0, "assistant", "z"),  # max ts at lsn 7
        (9, 1, "insert", "c-3", 0, "user", "u"),
        (9, 2, "delete", "c-3", 0, None, None),  # the delete wins the tie
    ]
    df = (
        spark.createDataFrame(
            rows,
            "lsn long, tsec long, op string, conv_id string, turn_idx int,"
            " role string, text string",
        )
        .withColumn("ts", F.timestamp_seconds(F.col("tsec")))
        .drop("tsec")
        .withColumn("tool", F.lit(None).cast("string"))
    )
    brute = {}
    for r in sorted(rows, key=lambda r: (r[0], r[1])):
        brute[(r[3], r[4])] = (r[2], r[6])
    got = {
        (r.conv_id, r.turn_idx): (r.op, r.text)
        for r in lww_dedup_argmax_join(df, KEYS, PAYLOAD).collect()
    }
    assert got == brute == {
        ("c-1", 0): ("update", "b"),
        ("c-2", 0): ("update", "z"),
        ("c-3", 0): ("delete", None),
    }

    table = SnapshotParquetTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_SCHEMA,
        key_cols=KEYS, n_buckets=2,
    )
    apply_batch(table, df, batch_id=0)
    state = (
        table.read().toPandas()
        .sort_values(KEYS).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        state, fold_events(df.toPandas()), check_dtype=False
    )


def test_argmax_lsn_cluster_matches_window_form(spark):
    """The bucket-clustered argmax_lsn tie-break (round-6 fused plan)
    returns the same winner set as the per-lsn rank form and as the
    reference window dedup, and its output bucket column matches the
    bucket expression."""
    from pyspark.sql import functions as F

    df = generate_events(spark, 5000, n_conv=50, skew_s=1.4, seed=3, dup_rate=0.05)
    plain = lww_dedup_argmax_lsn(df, KEYS, PAYLOAD)
    clustered = lww_dedup_argmax_lsn(
        df, KEYS, PAYLOAD,
        cluster_expr=bucket_expr(KEYS[0], 16), cluster_col=BUCKET_COL,
        cluster_partitions=16,
    )
    w = _norm(lww_dedup_window(df, KEYS).select(*KEYS, *PAYLOAD).collect())
    assert _norm(plain.collect()) == w
    rows = clustered.collect()
    assert _norm(rows) == w
    # the carried bucket column is the bucket expression of the key
    recomputed = clustered.withColumn(
        "_expect", bucket_expr(KEYS[0], 16)
    ).where(F.col(BUCKET_COL) != F.col("_expect"))
    assert recomputed.count() == 0


def test_argmax_lsn_cluster_plan_single_payload_exchange(spark):
    """Plan pin for the fused tie-break: the window rides the bucket
    repartition (no exchange of its own), so between the broadcast
    join-back and the output there is exactly ONE exchange — the
    by-id bucket pass-through — and no WindowGroupLimit (the lag form
    must not trigger the rank-limit rewrite, whose partial phase
    re-sorts the payload map-side)."""
    df = generate_events(spark, 2000, n_conv=50, seed=5, dup_rate=0.05)
    out = lww_dedup_argmax_lsn(
        df, KEYS, PAYLOAD,
        cluster_expr=bucket_expr(KEYS[0], 8), cluster_col=BUCKET_COL,
        cluster_partitions=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange carries the payload (the bucket repartition
    # the write reuses); the one hashpartitioning in the plan is the
    # winner-stats aggregation's keys+longs shuffle below the broadcast
    passthrough = "Exchange shufflepartitionidpassthrough(direct_shuffle_partition_id(_bucket"
    assert plan.count(passthrough) == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert len(re.findall(r"\bExchange ", plan)) == 2, plan  # not Broadcast
    assert "hashpartitioning(lsn" not in plan, plan
    assert "WindowGroupLimit" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("dedup", ["argmax_lns", "window", "agg", "argmax"])
def test_apply_batch_rejects_unknown_dedup(tmp_path, spark, dedup):
    """A typo or a retired plan name raises instead of silently running
    some other plan, and names the accepted values; the table is left
    untouched."""
    from open_bus_gtfs_etl_spark.operators.merge import apply_batch
    from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
    from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable

    table = SnapshotParquetTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_SCHEMA,
        key_cols=KEYS, n_buckets=2,
    )
    v0 = table.snapshot_id()
    ev = generate_events(spark, 100, n_conv=5, seed=1).drop("seg")
    with pytest.raises(ValueError, match="'auto'.*'argmax_lsn'") as err:
        apply_batch(table, ev, batch_id=0, dedup=dedup)
    assert repr(dedup) in str(err.value)
    assert table.snapshot_id() == v0
