"""spark-submit entry point: CDC replay / streaming tail job.

    spark-submit --driver-memory 8g --py-files dist/engine_pyfiles.zip jobs/replay_job.py \
        --wal /path/to/wal --table /path/to/lake \
        [--mode batch|stream] [--checkpoint /path/ckpt] \
        [--n-buckets 256] [--create] [--lineage /path/lineage]

In batch mode, replays all WAL segments through the fenced merge
kernel (resumable: already-committed segment ids no-op). In stream
mode, starts the Structured Streaming tailer and blocks.

On a cluster, submit WITHOUT local master overrides — every session
knob set here is cluster-safe; parallelism comes from the cluster
manager. The two-cluster-size scaling run is this same job submitted
at N and 4N executors.

NOTE: pass --driver-memory on the spark-submit line (or in
spark-defaults). The in-code session default cannot take effect here
because spark-submit launches the JVM before this module runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--wal", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--mode", choices=["batch", "stream"], default="batch")
    ap.add_argument("--checkpoint")
    ap.add_argument("--lineage")
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--create", action="store_true")
    ap.add_argument("--table-mode", choices=["cow", "mor"], default="cow",
                    help="storage mode when --create: copy-on-write or "
                         "merge-on-read (O(batch) writes + compaction)")
    ap.add_argument("--auto-compact", type=int, default=None, metavar="N",
                    help="merge-on-read: fold buckets whose delta depth "
                         "exceeds N after each committed merge "
                         "(recommended steady state: 4)")
    args = ap.parse_args()

    from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
    from open_bus_gtfs_etl_spark.session import get_spark
    from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable
    from open_bus_gtfs_etl_spark.streaming.lineage import LineageLog

    # dedicated replay-job profile: AQE off — the merge plan is
    # statically sized (explicit broadcast, data-sized partitions) and
    # AQE's per-stage re-planning is measurable driver-serial cost per
    # batch (see bench/replay_once.py)
    spark = get_spark(
        app_name="cdc_replay",
        extra_conf={"spark.sql.adaptive.enabled": "false",
                    # high-entropy text payload: dictionary encoding is
                    # pure fill-and-fall-back waste with GC contention
                    # at high parallelism (measured in bench/replay_once
                    # .py — same profile); output size unchanged
                    "spark.hadoop.parquet.enable.dictionary": "false"},
    )

    if args.create:
        table = SnapshotParquetTable.create(
            spark, args.table, TRANSCRIPTS_SCHEMA,
            key_cols=["conv_id", "turn_idx"], n_buckets=args.n_buckets,
            mode=args.table_mode,
        )
    else:
        table = SnapshotParquetTable(spark, args.table)

    lineage = LineageLog(spark, args.lineage) if args.lineage else None

    if args.mode == "batch":
        from open_bus_gtfs_etl_spark.operators.merge import replay_wal

        segs = sorted(
            {
                int(d.split("seg=")[1])
                for ver in ("v1", "v2")
                if os.path.isdir(os.path.join(args.wal, ver))
                for d in os.listdir(os.path.join(args.wal, ver))
                if d.startswith("seg=")
            }
        )
        stats = replay_wal(spark, table, args.wal, segs,
                           auto_compact=args.auto_compact)
        if lineage:
            for st in stats:
                lineage.record(st["batch_id"], st)
        print(json.dumps({"mode": "batch", "segments": len(segs),
                          "final_version": table.snapshot_id(),
                          # proves the submit line's --master governed
                          # (get_spark defers to spark-submit)
                          "default_parallelism":
                              spark.sparkContext.defaultParallelism}))
    else:
        from open_bus_gtfs_etl_spark.streaming.tailer import start_tailer, wal_v2_glob

        q = start_tailer(
            spark, table, wal_v2_glob(args.wal),
            args.checkpoint or os.path.join(args.table, "_checkpoint"),
            lineage=lineage,
            auto_compact=args.auto_compact,
        )
        q.awaitTermination()


if __name__ == "__main__":
    main()
