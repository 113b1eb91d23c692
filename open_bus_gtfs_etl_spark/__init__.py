"""open_bus_gtfs_etl_spark — a from-scratch PySpark-native CDC /
incremental-ingest engine with the query and data-processing
capabilities of hasadna/open-bus-gtfs-etl.

The reference (read-only at /root/reference) is a daily-batch pandas +
SQLAlchemy ETL; its operator set — keyed idempotent upserts, state-tracked
incremental processing, lookup joins, per-key grouped batching, retention
GC, backfill — is re-expressed here as idiomatic Spark DataFrame programs:

- ``schema``      — explicit StructTypes for transcripts / change events / lineage
- ``genlog``      — deterministic, scale-parameterized CDC event generator
- ``oracle``      — single-threaded Python fold used as the golden oracle
- ``sources.lake``— LakeTable abstraction (snapshot-parquet backend with
                    atomic manifest commits + batch-id fencing; Iceberg
                    mapping gated behind runtime availability)
- ``operators``   — LWW dedup (keyed and lsn-keyed argmax), merge-apply kernel,
                    as-of join, text dedup / similarity / quality operators
- ``streaming``   — Structured Streaming WAL tailer with foreachBatch fenced
                    merge and per-batch/per-partition lineage
"""

__version__ = "0.1.0"
