"""Property-based check (hypothesis) of the engine's core invariant:
for ANY event log — arbitrary op mix, duplicate deliveries, arbitrary
delivery order, arbitrary batch boundaries — the replayed table equals
the single-threaded oracle fold. This is the shrinkable-random
complement to the fixed-seed matrix in test_replay_matrix.py
(SURVEY.md §5 items 2-3).
"""

from __future__ import annotations

import tempfile

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from open_bus_gtfs_etl_spark.operators.merge import apply_batch
from open_bus_gtfs_etl_spark.oracle import fold_events
from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable

KEYS = [("c0", 0), ("c0", 1), ("c1", 0), ("c1", 1), ("c2", 0)]
OPS = ["insert", "update", "delete"]


@st.composite
def event_logs(draw):
    """A logical log with unique lsns, plus verbatim duplicate
    deliveries, an arbitrary delivery permutation, and arbitrary batch
    cut points."""
    n = draw(st.integers(min_value=1, max_value=24))
    logical = [
        {
            "lsn": i,
            "op": draw(st.sampled_from(OPS)),
            "key": draw(st.sampled_from(KEYS)),
        }
        for i in range(n)
    ]
    dup_idx = draw(
        st.lists(st.integers(min_value=0, max_value=n - 1), max_size=6)
    )
    delivered = logical + [logical[i] for i in dup_idx]
    order = draw(st.permutations(range(len(delivered))))
    n_batches = draw(st.integers(min_value=1, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(delivered)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    return delivered, order, cuts


def _rows(delivered, idxs):
    rows = []
    for i in idxs:
        e = delivered[i]
        lsn, (conv, turn), op = e["lsn"], e["key"], e["op"]
        rows.append(
            (
                lsn,
                op,
                conv,
                turn,
                None if op == "delete" else ("user" if lsn % 2 else "assistant"),
                None if op == "delete" else f"text-{lsn}",
            )
        )
    return rows


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(log=event_logs())
def test_any_log_any_batching_matches_oracle(spark, log):
    """Each example runs through both dedup plans: keyed argmax
    ("auto") and the lsn-keyed argmax ("argmax_lsn") — the logs'
    lsns are globally unique by construction, as that plan needs."""
    delivered, order, cuts = log
    all_rows = _rows(delivered, order)
    want = fold_events(
        pd.DataFrame(
            all_rows,
            columns=["lsn", "op", "conv_id", "turn_idx", "role", "text"],
        ).assign(
            ts=lambda d: pd.to_datetime(d["lsn"], unit="s"),
            tool=None,
        )
    )
    bounds = [0, *cuts, len(order)]
    for dedup in ("auto", "argmax_lsn"):
        with tempfile.TemporaryDirectory() as tmp:
            table = SnapshotParquetTable.create(
                spark, f"{tmp}/lake", TRANSCRIPTS_SCHEMA,
                key_cols=["conv_id", "turn_idx"], n_buckets=2,
            )
            for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                rows = _rows(delivered, order[lo:hi])
                if not rows:
                    continue
                batch = (
                    spark.createDataFrame(
                        rows,
                        "lsn long, op string, conv_id string, turn_idx int,"
                        " role string, text string",
                    )
                    .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
                    .withColumn("tool", F.lit(None).cast("string"))
                )
                apply_batch(table, batch, batch_id=b, dedup=dedup)
            got = (
                table.read()
                .toPandas()
                .sort_values(["conv_id", "turn_idx"], kind="stable")
                .reset_index(drop=True)
            )
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=dedup)
