"""Randomized robustness matrix (SURVEY.md §5 item 3): several seeds ×
adversarial knob combinations, final state must equal the oracle every
time. Small sizes keep the suite fast; the knobs, not the volume, are
the point.
"""

from __future__ import annotations

import pandas as pd
import pytest

from open_bus_gtfs_etl_spark.genlog import generate_events, write_wal
from open_bus_gtfs_etl_spark.operators.merge import replay_wal
from open_bus_gtfs_etl_spark.oracle import fold_events
from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable

CASES = [
    # (seed, dup, ooo, delete_rate, skew)  — adversarial corners
    (101, 0.25, 0.25, 0.30, 1.6),   # heavy dup+ooo+delete, hot keys
    (202, 0.0, 0.0, 0.0, 0.01),     # clean insert-mostly, flat keys
    (303, 0.10, 0.15, 0.10, 1.3),   # hot key with moderate dup+ooo
]


@pytest.mark.parametrize("seed,dup,ooo,dele,skew", CASES)
def test_replay_matrix(tmp_path, spark, seed, dup, ooo, dele, skew):
    ev = generate_events(
        spark, 4000, n_conv=80, seed=seed, dup_rate=dup, ooo_rate=ooo,
        delete_rate=dele, skew_s=skew, seg_size=1000,
    )
    wal = str(tmp_path / "wal")
    segs = write_wal(ev, wal)
    table = SnapshotParquetTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=4,
    )
    replay_wal(spark, table, wal, segs)
    got = (
        table.read().toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    want = fold_events(ev.toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
