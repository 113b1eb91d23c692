"""LakeTable — the engine's lake-table abstraction (SURVEY.md §7).

Two backends behind one interface:

- ``SnapshotParquetTable`` (from scratch, default in tests/bench):
  versioned parquet snapshots + JSON manifests committed via
  temp-write + atomic rename — the same atomic-publish idiom the
  reference uses for downloads (reference: common.py:14-30, temp file +
  shutil.move) — storing ``last_committed_batch_id`` for fencing (the
  reference's gtfs_data success-flag state machine done right,
  idempotent_process.py:57-91).

- ``IcebergTable``: thin mapping to Iceberg SQL (MERGE INTO / ALTER
  TABLE / snapshot-summary fencing), used when an Iceberg catalog is
  configured on the session. The sandbox has no Iceberg jar, so this
  path raises unless the runtime is present; the production north rule
  names it, the snapshot store keeps the repo testable offline.

Physical layout of SnapshotParquetTable::

    root/
      manifest/v{N:09d}.json   # immutable snapshot manifests
      manifest/CURRENT          # atomic commit point (os.replace)
      data/v{N:09d}/_bucket=K/part-*.parquet

The table is hash-bucketed on the first key column (conv_id), so all
turns of one conversation co-locate and a MERGE rewrites only the
buckets the batch touches (copy-on-write); untouched buckets are
carried forward by manifest reference. At cluster scale the bucket
count is the unit of merge parallelism and of partition pruning.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import lww_dedup_lag

BUCKET_COL = "_bucket"
CURRENT = "CURRENT"


def bucket_expr(key: str | F.Column, n_buckets: int) -> F.Column:
    """Deterministic hash bucket (non-negative) of a key column, given
    by name or as a Column (a typed literal, for a point lookup)."""
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def bucket_partitions(spark: SparkSession, n_buckets: int) -> int:
    """Width of a bucket-keyed exchange: the buckets the write can
    touch, capped at ``spark.sql.shuffle.partitions`` (the width of
    every other exchange in the merge). Used with ``repartitionById``,
    bucket ``b`` lands in partition ``b mod k``: each task holds whole
    buckets, so ``partitionBy(BUCKET_COL)`` still writes one file per
    bucket, while a small batch pays a few tasks rather than one per
    bucket. AQE never coalesces a by-number exchange, so the width has
    to be right when the plan is built."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n_buckets, cap))


def cluster_by_bucket(df: DataFrame, n_buckets: int, key_cols: list[str]) -> DataFrame:
    """``df`` (carrying ``BUCKET_COL``) laid out for a bucketed write:
    whole buckets per task (``bucket_partitions``), sorted by bucket
    then key — the writer's required order, so it adds no sort."""
    k = bucket_partitions(df.sparkSession, n_buckets)
    return df.repartitionById(k, F.col(BUCKET_COL)).sortWithinPartitions(
        BUCKET_COL, *key_cols
    )


class SnapshotParquetTable:
    """Versioned copy-on-write parquet table with atomic manifest commits,
    batch-id fencing, LWW-gated MERGE, schema evolution, and snapshot
    expiry. Single-writer (the streaming driver), many-reader.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._manifest_dir = os.path.join(root, "manifest")
        self._data_dir = os.path.join(root, "data")

    # ------------------------------------------------------------------ init
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        internal_cols: bool = True,
        mode: str = "cow",
    ) -> "SnapshotParquetTable":
        """Create an empty table. ``schema`` is the USER schema; the
        engine appends its internal columns (_lsn, _ts, _deleted) used
        for cross-batch out-of-order gating and tombstones.

        ``mode``:
        - "cow" (copy-on-write): MERGE full-outer-joins the batch with
          the touched buckets and rewrites them — reads pay nothing,
          but steady-state write volume approaches table size per batch
          once most buckets are touched (the 100 TB scale killer).
        - "mor" (merge-on-read): MERGE appends the deduped winners as a
          DELTA per touched bucket — write volume is O(batch), the
          Iceberg merge-on-read analogue; reads resolve base+deltas by
          LWW on (_lsn, _ts) and ``compact()`` folds deltas back into
          the base to bound read cost.
        """
        t = cls(spark, root)
        os.makedirs(t._manifest_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        # _outcome/_src_rows/_src_lsn_* record what the LAST merge that
        # rewrote the row did to it — lineage counters are then a cheap
        # columnar scan of the freshly written files instead of a second
        # join against the target (which costs as much as the merge itself)
        stored = T.StructType(
            schema.fields
            + (
                [
                    T.StructField("_lsn", T.LongType(), False),
                    T.StructField("_ts", T.TimestampType(), False),
                    T.StructField("_deleted", T.BooleanType(), False),
                    T.StructField("_outcome", T.StringType(), True),
                    T.StructField("_src_rows", T.LongType(), True),
                    T.StructField("_src_lsn_min", T.LongType(), True),
                    T.StructField("_src_lsn_max", T.LongType(), True),
                ]
                if internal_cols
                else []
            )
        )
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown table mode {mode!r}")
        manifest = {
            "version": 1,
            "mode": mode,
            "deltas": {},
            "last_committed_batch_id": -1,
            # per-writer fences: batch replay (WAL segment ids) and each
            # streaming checkpoint (epoch ids from 0) fence independently
            # — a shared scalar silently no-ops a fresh tailer's early
            # epochs after a batch backfill, dropping their events
            "fences": {},
            "n_buckets": n_buckets,
            "key_cols": key_cols,
            "schema": json.loads(stored.json()),
            "user_cols": [f.name for f in schema.fields],
            "buckets": {},
            "parent": None,
        }
        t._write_manifest(manifest)
        return t

    # ------------------------------------------------------------- manifests
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version:09d}.json")

    def _write_manifest(self, manifest: dict) -> None:
        path = self._manifest_path(manifest["version"])
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        cur_tmp = os.path.join(self._manifest_dir, CURRENT + ".tmp")
        with open(cur_tmp, "w") as f:
            f.write(os.path.basename(path))
            f.flush()
            os.fsync(f.fileno())
        # the single atomic commit point: data + manifest are invisible
        # until this rename lands (reference idiom: common.py:14-30)
        os.replace(cur_tmp, os.path.join(self._manifest_dir, CURRENT))

    def manifest(self) -> dict:
        with open(os.path.join(self._manifest_dir, CURRENT)) as f:
            name = f.read().strip()
        with open(os.path.join(self._manifest_dir, name)) as f:
            return json.load(f)

    def manifest_at(self, version: int) -> dict:
        """Manifest of a specific snapshot version (time travel). Raises
        with an actionable message when the snapshot has been expired —
        changelog serving windows are bounded by the retention policy
        (``expire_snapshots(keep_last=...)``), exactly like Iceberg's
        incremental reads."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise ValueError(
                f"no snapshot v{version} (expired by retention GC or never "
                f"committed); changelog/time-travel reads only reach "
                f"snapshots still under expire_snapshots' keep window"
            )
        with open(path) as f:
            return json.load(f)

    def snapshot_id(self) -> int:
        return self.manifest()["version"]

    def last_committed_batch(self, writer: str | None = None) -> int:
        """Fence position. ``writer=None`` returns the max across all
        writers (progress indicator); a named writer gets its own fence."""
        m = self.manifest()
        fences = m.get("fences", {})
        if writer is None:
            return max(
                [m.get("last_committed_batch_id", -1), *fences.values()]
            )
        return fences.get(
            writer,
            m.get("last_committed_batch_id", -1) if writer == "default" else -1,
        )

    def _max_version(self) -> int:
        """Highest version EVER allocated (manifest-dir scan, not the
        CURRENT chain): after rollback() the next commit must allocate
        past the abandoned versions, or its overwrite-write would wipe
        data dirs those manifests still reference."""
        versions = [
            int(n[1:10])
            for n in os.listdir(self._manifest_dir)
            if n.startswith("v") and n.endswith(".json")
        ]
        return max(versions, default=0)

    def stored_schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest()["schema"])

    # ----------------------------------------------------------------- reads
    def read_stored(
        self, buckets: list[int] | None = None, at_version: int | None = None
    ) -> DataFrame:
        """Read stored rows (incl. tombstones + internal cols), optionally
        restricted to a bucket subset (the MERGE partition-pruning path)
        and/or to a past snapshot (``at_version`` — time travel; the
        schema is that snapshot's, so a pre-evolution read lacks the
        later-added columns exactly as it did then).
        In merge-on-read mode, base and delta files are unioned and
        resolved to one winner per key by LWW on (_lsn, _ts) with ONE
        window (``lww_dedup_lag``): one hash exchange on the key and one
        sort, no join. A key has at most 1 + delta-depth rows here (one
        in the base, one per delta), so an argmax aggregate would drop
        almost nothing before its shuffle. Predicates on the key columns
        (``lookup``) push below the window; any other predicate, such as
        ``read``'s tombstone filter, stays above it.
        """
        m = self.manifest() if at_version is None else self.manifest_at(at_version)
        schema = T.StructType.fromJson(m["schema"])
        want = None if buckets is None else {str(b) for b in buckets}
        sel = m["buckets"]
        if want is not None:
            sel = {k: v for k, v in sel.items() if k in want}
        paths = [os.path.join(self.root, rel) for rel in sel.values()]
        delta_rels = [
            rel
            for b, rels in m.get("deltas", {}).items()
            if want is None or b in want
            for rel in rels
        ]
        paths += [os.path.join(self.root, rel) for rel in delta_rels]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(*paths)
        df = df.select([f.name for f in schema.fields])
        if delta_rels:
            df = lww_dedup_lag(df, m["key_cols"], lsn_col="_lsn", ts_col="_ts")
        return df

    def read(self) -> DataFrame:
        """User view: live rows only, user columns only."""
        m = self.manifest()
        df = self.read_stored()
        if "_deleted" in df.columns:
            df = df.where(~F.col("_deleted"))
        return df.select(m["user_cols"])

    def read_at(self, version: int) -> DataFrame:
        """User view of a past snapshot (time travel): live rows, that
        snapshot's user columns. The audit/repro read the reference
        approximates by re-running a date's load from archived files
        (load_missing_data.py:16-54) — here it is a manifest pointer."""
        m = self.manifest_at(version)
        df = self.read_stored(at_version=version)
        if "_deleted" in df.columns:
            df = df.where(~F.col("_deleted"))
        return df.select(m["user_cols"])

    def lookup(self, key: dict) -> DataFrame:
        """Bucket-pruned point lookup: live rows matching ``key`` (which
        must include the bucketing column ``key_cols[0]``; extra entries
        become residual filters). The bucket id is computed driver-side
        from the key literal (one 1-row local job, no table scan), so
        the read plans over exactly ONE bucket directory — at a 100 TB /
        1024-bucket table a conversation fetch reads ~0.1% of the files
        a full-scan filter would list. The reference's per-key fetch is
        an indexed SQL point read (ORM get); this is the lake-native
        equivalent of that index."""
        m = self.manifest()
        kc = m["key_cols"][0]
        if kc not in key:
            raise ValueError(f"lookup key must include bucketing column {kc!r}")
        ktype = {f.name: f.dataType for f in self.stored_schema().fields}[kc]
        b = self.spark.range(1).select(
            bucket_expr(F.lit(key[kc]).cast(ktype), m["n_buckets"]).alias("b")
        ).first()["b"]
        df = self.read_stored(buckets=[b])
        for c, v in key.items():
            df = df.where(F.col(c).eqNullSafe(F.lit(v)))
        if "_deleted" in df.columns:
            df = df.where(~F.col("_deleted"))
        return df.select(m["user_cols"])

    @staticmethod
    def _bucket_refs(m: dict) -> dict:
        """Per-bucket physical references (base relpath + delta relpaths)
        — two snapshots whose references match for a bucket cannot differ
        in that bucket (copy-on-write carries untouched buckets forward
        by reference, never by rewrite)."""
        keys = set(m["buckets"]) | set(m.get("deltas", {}))
        return {
            b: (m["buckets"].get(b), tuple(m.get("deltas", {}).get(b, [])))
            for b in keys
        }

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Changelog serving — the CDC *output* side, dual of the merge
        kernel: the minimal insert/update/delete feed that transforms the
        user-visible state at ``v_from`` into the state at ``v_to``
        (Iceberg's incremental read / Delta CDF analogue; the reference
        has no equivalent — downstream consumers re-query full tables).

        Columns: ``op`` ('insert'|'update'|'delete'), the key columns,
        the ``v_to`` snapshot's value columns (typed nulls on deletes and
        on rows predating a schema evolution), and the ``v_to``-side
        ``_commit_lsn``/``_commit_ts`` stamp (the tombstone's stamp for
        deletes; null only if the row was physically GC'd rather than
        tombstoned). The stamps live in the engine's underscore
        namespace because user columns may legitimately be named
        ``lsn``/``ts`` (the transcript schema's own ``ts`` is).

        Scale shape, in order:

        1. **Manifest-level bucket pruning** (no I/O): a bucket whose
           base + delta references are identical in both manifests was
           carried forward by reference through every intermediate
           commit and cannot contain a change — only buckets whose
           references differ are read at all. A small update window over
           a 100 TB table diffs only the buckets it touched.
        2. **Stamp-based change detection** (no value comparison): the
           merge kernel only rewrites a row under a newer (lsn, ts), so
           stamp equality proves the row unchanged — the join compares
           two longs, never the wide payload. Like a binlog, an
           idempotent re-upsert under a newer lsn IS emitted as an
           update (version stamp changed; values may be equal).
        3. One key-hashed full-outer join over the changed buckets;
           both sides are bucket-files of the same layout.

        Deletes report null value columns (the tombstone already stores
        nulls); a tombstone physically dropped by compaction between the
        two snapshots yields no row (not-live on both sides).
        """
        m_from = self.manifest_at(v_from)
        m_to = self.manifest_at(v_to)
        schema_to = T.StructType.fromJson(m_to["schema"])
        key_cols = m_to["key_cols"]
        user_cols = m_to["user_cols"]
        value_cols = [c for c in user_cols if c not in key_cols]
        types = {f.name: f.dataType for f in schema_to.fields}

        out_schema = T.StructType(
            [T.StructField("op", T.StringType(), False)]
            + [T.StructField(c, types[c], True) for c in user_cols]
            + [
                T.StructField("_commit_lsn", T.LongType(), True),
                T.StructField("_commit_ts", T.TimestampType(), True),
            ]
        )
        rf, rt = self._bucket_refs(m_from), self._bucket_refs(m_to)
        changed = sorted(
            int(b) for b in (set(rf) | set(rt)) if rf.get(b) != rt.get(b)
        )
        if not changed:
            return self.spark.createDataFrame([], out_schema)

        def side(version: int, alias: str, values: bool) -> DataFrame:
            df = self.read_stored(buckets=changed, at_version=version)
            # align a pre-evolution snapshot to the v_to user schema
            cols = user_cols if values else key_cols
            for c in cols:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(types[c]))
            # the from-side contributes only keys + stamps + liveness —
            # dropping its value columns here lets the parquet scan
            # column-prune the wide payload (text) on that whole side
            return df.select(cols + ["_lsn", "_ts", "_deleted"]).alias(alias)

        f = side(v_from, "f", values=False)
        t = side(v_to, "t", values=True)
        cond = [F.col(f"f.{k}").eqNullSafe(F.col(f"t.{k}")) for k in key_cols]
        j = f.join(t, cond, "full_outer")

        f_live = F.coalesce(~F.col("f._deleted"), F.lit(False))
        t_live = F.coalesce(~F.col("t._deleted"), F.lit(False))
        same_stamp = F.col("f._lsn").eqNullSafe(F.col("t._lsn")) & F.col(
            "f._ts"
        ).eqNullSafe(F.col("t._ts"))
        op = (
            F.when(t_live & ~f_live, F.lit("insert"))
            .when(t_live & f_live & ~same_stamp, F.lit("update"))
            .when(~t_live & f_live, F.lit("delete"))
        )
        out = [op.alias("op")]
        out += [
            F.coalesce(F.col(f"t.{k}"), F.col(f"f.{k}")).alias(k) for k in key_cols
        ]
        out += [F.col(f"t.{c}").alias(c) for c in value_cols]
        out += [
            F.col("t._lsn").alias("_commit_lsn"),
            F.col("t._ts").alias("_commit_ts"),
        ]
        return j.select(out).where(F.col("op").isNotNull())

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        winners: DataFrame,
        batch_id: int,
        stats: bool | str = True,
        writer: str = "default",
        src_stats: dict | None = None,
    ) -> dict:
        """Copy-on-write MERGE of a pre-deduplicated batch of winners.

        ``winners`` must have exactly one row per key (the LWW dedup in
        operators/dedup.py guarantees it) with columns: key cols + user
        value cols + (lsn, ts, op). Semantics (reference M1-M5 merge
        branches, load_stops_to_db.py:55-72 etc., plus the delete branch
        the CDC envelope adds):

        - not matched, op != delete  → insert
        - not matched, op == delete  → insert tombstone (guards against
          a later out-of-order update resurrecting the key)
        - matched and (s.lsn, s.ts) > (t._lsn, t._ts):
            op == delete → tombstone; else overwrite
        - matched but stale (older lsn)  → keep target row, count skipped

        Fencing: if ``batch_id`` <= the WRITER's last committed id, the
        whole merge is a no-op (exactly-once re-delivery, the gtfs_data
        skip-if-done check, idempotent_process.py:94-104). Fences are
        namespaced per writer so batch replay (WAL segment ids) and each
        streaming checkpoint (epoch ids) never fence each other out.

        Touched buckets: a merge into a populated table materializes
        the winners (persist + count, the bucket set rides that job as
        an Observation), then joins ONLY the touched buckets — minimal
        read/write volume when the batch touches few buckets.

        Bootstrap (empty table) skips the target join entirely — the
        merge is a pure source projection (every winner inserts, or
        tombstones for deletes), one job, no join shuffle. Catalyst's
        empty-relation propagation would eventually fold the join too,
        but making it explicit guarantees the plan and the outcome
        column without relying on an optimizer rule.

        A ``winners`` frame that already carries ``BUCKET_COL`` (the
        bucket-clustered ``lww_dedup_argmax_lsn`` tie-break) is
        clustered by bucket: a bootstrap then writes
        ``partitionBy(bucket)`` straight from those partitions instead
        of paying a second payload shuffle on the bucket key. Every
        other write lays its rows out with ``cluster_by_bucket``. Either
        way each task holds whole buckets, so each touched bucket gets
        exactly one file.
        """
        m = self.manifest()
        fences = dict(m.get("fences", {}))
        last_for_writer = fences.get(
            writer,
            m.get("last_committed_batch_id", -1) if writer == "default" else -1,
        )
        if batch_id is not None and batch_id <= last_for_writer:
            return {
                "skipped_fenced": True,
                "version": m["version"],
                "rows_inserted": 0,
                "rows_updated": 0,
                "rows_deleted": 0,
                "rows_stale_skipped": 0,
            }

        if m.get("mode") == "mor":
            return self._merge_mor(winners, batch_id, m, stats, writer, src_stats)

        key_cols = m["key_cols"]
        user_cols = m["user_cols"]
        n_buckets = m["n_buckets"]
        value_cols = [c for c in user_cols if c not in key_cols]
        types = {f.name: f.dataType for f in self.stored_schema().fields}

        # a winners frame that already carries BUCKET_COL (the bucket-
        # clustered argmax tie-break) keeps its attribute: recomputing
        # the expression would discard the partitioning/ordering
        # metadata the clustered write path relies on
        clustered = BUCKET_COL in winners.columns
        src = (
            winners
            if clustered
            else winners.withColumn(
                BUCKET_COL, bucket_expr(key_cols[0], n_buckets)
            )
        )
        from pyspark import StorageLevel
        from pyspark.sql import Observation

        carry = "_n_dups" in src.columns
        # touched buckets + batch-level source counters ride an existing
        # job as an Observation: the round-1 kernel paid a separate
        # distinct() shuffle for the bucket set and a third job reading
        # the written files back for counters — both serial floor at
        # high parallelism
        obs_src = Observation()
        # n_winners is observed unconditionally: the NEXT batch's
        # broadcast-vs-shuffle join-back choice is sized from it
        # (operators/merge.py resolve_broadcast_keys)
        src_exprs = [
            F.collect_set(BUCKET_COL).alias("touched"),
            F.count("*").alias("n_winners"),
        ]
        if carry:
            src_exprs += [
                F.sum("_n_dups").alias("n_source_rows"),
                F.min("_lsn_min").alias("lsn_min"),
                F.max("_lsn_max").alias("lsn_max"),
            ]
        bootstrap = not m["buckets"]
        if bootstrap:
            # empty target: no join at all — every winner inserts (or
            # tombstones); the observation rides the write job
            src = src.observe(obs_src, *src_exprs)
            touched = sorted(range(n_buckets))
        else:
            # the winners frame feeds two consumers (bucket discovery,
            # the rewrite join) — persist once instead of recomputing
            # the dedup shuffle twice
            src = src.observe(obs_src, *src_exprs).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            src.count()  # materialize cache + fire the observation
            obs_stats = obs_src.get
            touched = sorted(obs_stats["touched"])
            tgt = self.read_stored(buckets=touched)

        if bootstrap:
            is_del = F.col("op") == "delete"
            out_cols = [F.col(k) for k in key_cols]
            for c in value_cols:
                out_cols.append(
                    F.when(is_del, F.lit(None).cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            out_cols += [
                F.col("lsn").alias("_lsn"),
                F.col("ts").alias("_ts"),
                is_del.alias("_deleted"),
                F.when(is_del, F.lit("delete_noop"))
                .otherwise(F.lit("inserted"))
                .alias("_outcome"),
                (F.col("_n_dups") if carry else F.lit(None).cast("long")).alias(
                    "_src_rows"
                ),
                (F.col("_lsn_min") if carry else F.lit(None).cast("long")).alias(
                    "_src_lsn_min"
                ),
                (F.col("_lsn_max") if carry else F.lit(None).cast("long")).alias(
                    "_src_lsn_max"
                ),
                F.col(BUCKET_COL),
            ]
            merged = src.select(out_cols)
        else:
            s = src.alias("s")
            t = tgt.alias("t")
            cond = [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in key_cols]
            joined = s.join(t, cond, "full_outer")

            s_present = F.col("s.lsn").isNotNull()
            t_present = F.col("t._lsn").isNotNull()
            s_wins = s_present & (
                ~t_present
                | (F.col("s.lsn") > F.col("t._lsn"))
                | ((F.col("s.lsn") == F.col("t._lsn")) & (F.col("s.ts") >= F.col("t._ts")))
            )
            is_del = F.col("s.op") == "delete"
            t_live = t_present & ~F.col("t._deleted")

            # the MERGE branch outcome, computed IN the rewrite join and
            # persisted into the new files — lineage counters then come
            # from a columnar scan of what was just written, not a
            # second join
            outcome = (
                F.when(~s_present, F.lit("carried"))
                .when(~s_wins, F.lit("stale_skipped"))
                .when(is_del & t_live, F.lit("deleted"))
                .when(is_del, F.lit("delete_noop"))
                .when(t_live, F.lit("updated"))
                .otherwise(F.lit("inserted"))
            )
            src_rows = F.col("s._n_dups") if carry else F.lit(None).cast("long")
            src_lsn_min = F.col("s._lsn_min") if carry else F.lit(None).cast("long")
            src_lsn_max = F.col("s._lsn_max") if carry else F.lit(None).cast("long")

            out_cols = []
            for k in key_cols:
                out_cols.append(
                    F.when(s_wins, F.col(f"s.{k}")).otherwise(F.col(f"t.{k}")).alias(k)
                )
            for c in value_cols:
                out_cols.append(
                    F.when(s_wins & is_del, F.lit(None).cast(types[c]))
                    .when(s_wins, F.col(f"s.{c}"))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                )
            out_cols += [
                F.when(s_wins, F.col("s.lsn")).otherwise(F.col("t._lsn")).alias("_lsn"),
                F.when(s_wins, F.col("s.ts")).otherwise(F.col("t._ts")).alias("_ts"),
                F.when(s_wins, is_del).otherwise(F.col("t._deleted")).alias("_deleted"),
                outcome.alias("_outcome"),
                F.when(s_present, src_rows).alias("_src_rows"),
                F.when(s_present, src_lsn_min).alias("_src_lsn_min"),
                F.when(s_present, src_lsn_max).alias("_src_lsn_max"),
            ]
            merged = joined.select(out_cols).withColumn(
                BUCKET_COL, bucket_expr(key_cols[0], n_buckets)
            )

        # outcome counters ride the write job as an Observation — no
        # read-back job; the round-1 kernel re-read the written files
        obs_out = Observation()
        if stats:
            def _n(outcome: str) -> F.Column:
                return F.sum(
                    F.when(F.col("_outcome") == outcome, 1).otherwise(0)
                ).alias(outcome)

            merged = merged.observe(
                obs_out,
                _n("inserted"), _n("updated"), _n("deleted"),
                _n("stale_skipped"), _n("delete_noop"),
            )

        # allocate past the global max, never m["version"]+1: after a
        # rollback the chain head is old, and reusing an abandoned
        # version number would overwrite-wipe data dirs its manifest
        # still references
        new_version = max(m["version"], self._max_version()) + 1
        rel_data = os.path.join("data", f"v{new_version:09d}")
        out_path = os.path.join(self.root, rel_data)
        if clustered and bootstrap:
            # winners are already clustered by bucket (the argmax_lsn
            # tie-break routes whole buckets to each of its tasks), so
            # partitionBy can split the existing partitions directly —
            # one file per bucket, no second payload shuffle. Sorting
            # bucket-first satisfies the writer's required ordering (no
            # writer-side re-sort). After a join (non-bootstrap)
            # clustering is gone, so this only applies to the bootstrap
            # projection.
            out_df = merged.sortWithinPartitions(BUCKET_COL, *key_cols)
        else:
            out_df = cluster_by_bucket(merged, len(touched), key_cols)
        (
            out_df.write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out_path)
        )
        if bootstrap:
            obs_stats = obs_src.get  # fired inside the write job

        stat = {"skipped_fenced": False, "version": new_version}
        if stats:
            counts = obs_out.get
            stat.update(
                rows_inserted=int(counts["inserted"] or 0),
                rows_updated=int(counts["updated"] or 0),
                rows_deleted=int(counts["deleted"] or 0),
                rows_stale_skipped=int(counts["stale_skipped"] or 0),
                rows_delete_noop=int(counts["delete_noop"] or 0),
            )
            if carry:
                stat["n_source_rows"] = int(obs_stats["n_source_rows"] or 0)
                stat["lsn_min"] = obs_stats["lsn_min"]
                stat["lsn_max"] = obs_stats["lsn_max"]
            elif src_stats is not None:
                stat["n_source_rows"] = src_stats["n_source_rows"]
                stat["lsn_min"] = src_stats["lsn_min"]
                stat["lsn_max"] = src_stats["lsn_max"]
        if stats == "per_bucket":
            # opt-in columnar read-back of ONLY the stats columns of the
            # files this merge just wrote — the per-partition lineage
            # breakdown (parquet column pruning keeps this to a few
            # bytes per row); the default path pays no extra job
            det = (
                self.spark.read.parquet(out_path)
                .groupBy(BUCKET_COL, "_outcome")
                .agg(
                    F.count("*").alias("n"),
                    F.min("_src_lsn_min").alias("lsn_min"),
                    F.max("_src_lsn_max").alias("lsn_max"),
                )
                .collect()
            )
            per_bucket: dict[int, dict] = {}
            for r in det:
                b, o = r[BUCKET_COL], r["_outcome"]
                pb = per_bucket.setdefault(int(b), {"lsn_min": None, "lsn_max": None})
                pb[o] = pb.get(o, 0) + r["n"]
                for k, fn in (("lsn_min", min), ("lsn_max", max)):
                    if r[k] is not None:
                        pb[k] = fn(x for x in (pb[k], r[k]) if x is not None)
            stat["per_bucket"] = per_bucket

        new_buckets = dict(m["buckets"])
        for b in touched:
            new_buckets[str(b)] = os.path.join(rel_data, f"{BUCKET_COL}={b}")
        if batch_id is not None:
            fences[writer] = batch_id
        lsn_max = m.get("lsn_max")
        new_lsn_max = (
            obs_stats["lsn_max"] if carry
            else (src_stats or {}).get("lsn_max")
        )
        if new_lsn_max is not None:
            lsn_max = max(x for x in (lsn_max, new_lsn_max) if x is not None)
        new_manifest = {
            **m,
            "version": new_version,
            "last_committed_batch_id": (
                batch_id
                if batch_id is not None and writer == "default"
                else m.get("last_committed_batch_id", -1)
            ),
            "fences": fences,
            "lsn_max": lsn_max,
            "last_n_winners": int(obs_stats["n_winners"] or 0),
            "buckets": new_buckets,
            "parent": m["version"],
        }
        self._write_manifest(new_manifest)
        if not bootstrap:
            src.unpersist()
        return stat

    def _merge_mor(
        self,
        winners: DataFrame,
        batch_id: int,
        m: dict,
        stats: bool | str,
        writer: str,
        src_stats: dict | None = None,
    ) -> dict:
        """Merge-on-read apply: append the deduped winners as a DELTA,
        one directory per touched bucket — ONE Spark job, no read of the
        target, write volume O(batch) instead of O(table). Out-of-order
        and cross-batch LWW resolve at read time (read_stored); a stale
        event simply loses the read-side resolve. Outcome split
        (insert vs update vs stale) is therefore not knowable here —
        the stat reports upserts/deletes written instead.
        """
        from pyspark.sql import Observation

        key_cols = m["key_cols"]
        n_buckets = m["n_buckets"]
        types = {f.name: f.dataType for f in self.stored_schema().fields}
        carry = "_n_dups" in winners.columns

        is_del = F.col("op") == "delete"
        cols = []
        for name in [f.name for f in self.stored_schema().fields]:
            if name in key_cols:
                cols.append(F.col(name))
            elif name == "_lsn":
                cols.append(F.col("lsn").alias("_lsn"))
            elif name == "_ts":
                cols.append(F.col("ts").alias("_ts"))
            elif name == "_deleted":
                cols.append(is_del.alias("_deleted"))
            elif name == "_outcome":
                cols.append(
                    F.when(is_del, F.lit("deleted")).otherwise(F.lit("upserted")).alias("_outcome")
                )
            elif name == "_src_rows":
                cols.append(
                    (F.col("_n_dups") if carry else F.lit(None).cast("long")).alias("_src_rows")
                )
            elif name == "_src_lsn_min":
                cols.append(
                    (F.col("_lsn_min") if carry else F.lit(None).cast("long")).alias("_src_lsn_min")
                )
            elif name == "_src_lsn_max":
                cols.append(
                    (F.col("_lsn_max") if carry else F.lit(None).cast("long")).alias("_src_lsn_max")
                )
            elif name in winners.columns:
                cols.append(
                    F.when(is_del, F.lit(None).cast(types[name]))
                    .otherwise(F.col(name))
                    .alias(name)
                )
            else:
                cols.append(F.lit(None).cast(types[name]).alias(name))
        clustered = BUCKET_COL in winners.columns
        if clustered:
            # keep the existing attribute (partitioning/ordering
            # metadata) from the bucket-clustered tie-break
            delta = winners.select(*cols, F.col(BUCKET_COL))
        else:
            delta = winners.select(*cols).withColumn(
                BUCKET_COL, bucket_expr(key_cols[0], n_buckets)
            )

        obs = Observation()
        exprs = [
            F.collect_set(BUCKET_COL).alias("touched"),
            F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("deleted"),
            F.count("*").alias("n_winners"),
        ]
        if carry:
            exprs += [
                F.sum("_src_rows").alias("n_source_rows"),
                F.min("_src_lsn_min").alias("lsn_min"),
                F.max("_src_lsn_max").alias("lsn_max"),
            ]
        delta = delta.observe(obs, *exprs)

        new_version = max(m["version"], self._max_version()) + 1
        rel_data = os.path.join("data", f"v{new_version:09d}")
        out_path = os.path.join(self.root, rel_data)
        if clustered:
            # MoR never joins the target, so the tie-break's bucket
            # clustering always survives to the delta write
            out_df = delta.sortWithinPartitions(BUCKET_COL, *key_cols)
        else:
            out_df = cluster_by_bucket(delta, n_buckets, key_cols)
        (
            out_df.write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out_path)
        )
        got = obs.get
        touched = sorted(got["touched"])

        stat = {"skipped_fenced": False, "version": new_version, "mode": "mor"}
        if stats:
            stat.update(
                rows_upserted=int(got["n_winners"] or 0) - int(got["deleted"] or 0),
                rows_deleted=int(got["deleted"] or 0),
            )
            if carry:
                stat["n_source_rows"] = int(got["n_source_rows"] or 0)
                stat["lsn_min"] = got["lsn_min"]
                stat["lsn_max"] = got["lsn_max"]
            elif src_stats is not None:
                stat["n_source_rows"] = src_stats["n_source_rows"]
                stat["lsn_min"] = src_stats["lsn_min"]
                stat["lsn_max"] = src_stats["lsn_max"]

        fences = dict(m.get("fences", {}))
        if batch_id is not None:
            fences[writer] = batch_id
        new_deltas = {k: list(v) for k, v in m.get("deltas", {}).items()}
        for b in touched:
            new_deltas.setdefault(str(b), []).append(
                os.path.join(rel_data, f"{BUCKET_COL}={b}")
            )
        lsn_max = m.get("lsn_max")
        mor_lsn_max = (
            got["lsn_max"] if carry else (src_stats or {}).get("lsn_max")
        )
        if mor_lsn_max is not None:
            lsn_max = max(x for x in (lsn_max, mor_lsn_max) if x is not None)
        new_manifest = {
            **m,
            "version": new_version,
            "last_committed_batch_id": (
                batch_id
                if batch_id is not None and writer == "default"
                else m.get("last_committed_batch_id", -1)
            ),
            "fences": fences,
            "lsn_max": lsn_max,
            "last_n_winners": int(got["n_winners"] or 0),
            "deltas": new_deltas,
            "parent": m["version"],
        }
        self._write_manifest(new_manifest)
        return stat

    def compact(self, max_deltas: int = 0) -> list[int]:
        """Fold deltas back into the base (the Iceberg MoR compaction
        analogue): buckets holding more than ``max_deltas`` delta dirs
        are resolved (read-side LWW) and rewritten as a fresh base, and
        their delta list cleared. Returns the compacted bucket ids.
        Amortizes read cost: run on a cadence or when delta counts pass
        a threshold; the rewrite is the CoW cost paid once per N batches
        instead of every batch. Measured economics (BENCH.md
        "Merge-on-read economics"): read latency grows ~linearly with
        delta depth (~+0.45 s/delta at 16M rows/8 cores) and a compact
        costs about one CoW rewrite of the touched buckets — the
        recommended steady-state cadence is ``compact(max_deltas=4)``
        after each apply."""
        m = self.manifest()
        todo = sorted(
            int(b) for b, rels in m.get("deltas", {}).items() if len(rels) > max_deltas
        )
        if not todo:
            return []
        resolved = self.read_stored(buckets=todo).withColumn(
            BUCKET_COL, bucket_expr(m["key_cols"][0], m["n_buckets"])
        )
        new_version = max(m["version"], self._max_version()) + 1
        rel_data = os.path.join("data", f"v{new_version:09d}")
        out_path = os.path.join(self.root, rel_data)
        (
            cluster_by_bucket(resolved, len(todo), m["key_cols"])
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out_path)
        )
        new_buckets = dict(m["buckets"])
        new_deltas = {k: list(v) for k, v in m.get("deltas", {}).items()}
        for b in todo:
            new_buckets[str(b)] = os.path.join(rel_data, f"{BUCKET_COL}={b}")
            new_deltas.pop(str(b), None)
        new_manifest = {
            **m,
            "version": new_version,
            "buckets": new_buckets,
            "deltas": new_deltas,
            "parent": m["version"],
        }
        self._write_manifest(new_manifest)
        return todo

    # ------------------------------------------------------ schema evolution
    def evolve_schema(self, new_fields: list[T.StructField]) -> int:
        """Add columns (late-added ``tool`` case). Existing data files
        are untouched; reads align missing columns to null via the
        explicit read schema. Returns new snapshot version.
        """
        m = self.manifest()
        stored = self.stored_schema()
        existing = {f.name for f in stored.fields}
        add = [f for f in new_fields if f.name not in existing]
        if not add:
            return m["version"]
        # insert user fields before internal ones
        internal = [f for f in stored.fields if f.name.startswith("_")]
        user = [f for f in stored.fields if not f.name.startswith("_")]
        new_stored = T.StructType(user + add + internal)
        new_manifest = {
            **m,
            "version": max(m["version"], self._max_version()) + 1,
            "schema": json.loads(new_stored.json()),
            "user_cols": [f.name for f in user + add],
            "parent": m["version"],
        }
        self._write_manifest(new_manifest)
        return new_manifest["version"]

    # --------------------------------------------------------------- expiry
    def _chain_versions(self) -> list[int]:
        """Versions reachable from CURRENT via parent pointers, newest
        first (the live snapshot history). Manifests OFF this chain are
        abandoned — e.g. versions newer than CURRENT after a rollback."""
        chain = []
        man = self.manifest()
        while True:
            chain.append(man["version"])
            parent = man.get("parent")
            if parent is None:
                break
            ppath = self._manifest_path(parent)
            if not os.path.exists(ppath):
                break  # ancestor already expired
            with open(ppath) as f:
                man = json.load(f)
        return chain

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Retention GC (reference R3, cleanup_dated_paths.py:28-51):
        keep the newest ``keep_last`` manifests ON THE CURRENT PARENT
        CHAIN (Iceberg-style, never by filename order — after rollback()
        CURRENT points at an older manifest and lexicographic retention
        would delete the live snapshot); drop every other manifest,
        including abandoned post-rollback ones, and delete data
        directories no kept manifest references. Returns expired versions.

        The data sweep runs on every call, also when no manifest expires,
        so a call that crashed after removing manifests but before its
        sweep is finished by the next one. A ``data/vN`` with N above
        every manifest's version is left alone: it is a write whose
        manifest has not been committed yet.
        """
        chain = self._chain_versions()
        keep_versions = set(chain[:keep_last])
        names = sorted(
            n for n in os.listdir(self._manifest_dir) if n.startswith("v") and n.endswith(".json")
        )
        referenced: set[str] = set()
        expired: list[int] = []
        for n in names:
            with open(os.path.join(self._manifest_dir, n)) as f:
                man = json.load(f)
            if man["version"] in keep_versions:
                rels = list(man["buckets"].values())
                for drels in man.get("deltas", {}).values():
                    rels += drels
                for rel in rels:
                    referenced.add(rel.split(os.sep + BUCKET_COL + "=")[0])
            else:
                expired.append(man["version"])
        newest = self._max_version()
        for v in expired:
            os.remove(self._manifest_path(v))
        if os.path.isdir(self._data_dir):
            for d in os.listdir(self._data_dir):
                if d[:1] != "v" or not d[1:].isdigit() or int(d[1:]) > newest:
                    continue  # not a version dir, or an in-flight write
                if os.path.join("data", d) not in referenced:
                    shutil.rmtree(os.path.join(self._data_dir, d), ignore_errors=True)
        return sorted(expired)

    def rollback(self, version: int) -> None:
        """Point CURRENT at an older manifest (reference R1 reprocess:
        reset state so a range replays, reprocess_data.py:100-111)."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise ValueError(f"no snapshot v{version}")
        cur_tmp = os.path.join(self._manifest_dir, CURRENT + ".tmp")
        with open(cur_tmp, "w") as f:
            f.write(os.path.basename(path))
        os.replace(cur_tmp, os.path.join(self._manifest_dir, CURRENT))


def iceberg_merge_sql(
    identifier: str,
    source_view: str,
    key_cols: list[str],
    value_cols: list[str],
) -> str:
    """The Iceberg MERGE the production path runs (reference M1-M5
    upsert semantics + the CDC delete branch + the cross-batch
    out-of-order gate ``s.lsn >= t._lsn`` from SURVEY.md §7 hard parts).
    Pure SQL generation so the statement is unit-testable without the
    runtime jar.

    Deletes are SOFT (tombstone rows, ``_deleted = TRUE``), exactly
    like SnapshotParquetTable — never ``WHEN MATCHED THEN DELETE``: a
    physical delete forgets the applied lsn, so a stale out-of-order
    update in a LATER batch would hit WHEN NOT MATCHED and resurrect
    the row. Same reasoning inserts a tombstone for a not-matched
    delete. The user view filters ``_deleted`` (``iceberg_read_sql``);
    tombstones age out with retention GC, not with the merge."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in key_cols)
    # (lsn, ts) lexicographic win condition spelled out — Spark SQL has
    # no general row-value comparison outside IN subqueries
    wins = "(s.lsn > t._lsn OR (s.lsn = t._lsn AND s.ts >= t._ts))"
    del_sets = ", ".join(
        [f"t.{c} = NULL" for c in value_cols]
        + ["t._lsn = s.lsn", "t._ts = s.ts", "t._deleted = TRUE"]
    )
    sets = ", ".join(
        [f"t.{c} = s.{c}" for c in value_cols]
        + ["t._lsn = s.lsn", "t._ts = s.ts", "t._deleted = FALSE"]
    )
    ins_cols = ", ".join(key_cols + value_cols + ["_lsn", "_ts", "_deleted"])
    ins_vals = ", ".join(
        [f"s.{c}" for c in key_cols]
        + [f"CASE WHEN s.op = 'delete' THEN NULL ELSE s.{c} END" for c in value_cols]
        + ["s.lsn", "s.ts", "(s.op = 'delete')"]
    )
    return (
        f"MERGE INTO {identifier} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s.op = 'delete' AND {wins} THEN UPDATE SET {del_sets}\n"
        f"WHEN MATCHED AND {wins} THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED"
        f" THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def iceberg_read_sql(identifier: str, user_cols: list[str]) -> str:
    """User view over the Iceberg table: live rows, user columns only
    (tombstones filtered — the read-side half of soft-delete)."""
    return (
        f"SELECT {', '.join(user_cols)} FROM {identifier} "
        f"WHERE NOT coalesce(_deleted, FALSE)"
    )


def iceberg_ddl_sql(
    identifier: str, schema: T.StructType, key_cols: list[str], n_buckets: int
) -> str:
    """CREATE TABLE with hash bucketing on the first key column — the
    same co-location contract SnapshotParquetTable's _bucket layout
    provides (all turns of a conversation in one bucket)."""
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    ) + ", _lsn bigint, _ts timestamp, _deleted boolean"
    return (
        f"CREATE TABLE IF NOT EXISTS {identifier} ({cols})\n"
        f"USING iceberg PARTITIONED BY (bucket({n_buckets}, {key_cols[0]}))\n"
        f"TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
        f"'write.distribution-mode'='hash', 'format-version'='2')"
    )


def iceberg_evolve_sql(identifier: str, fields: list[T.StructField]) -> list[str]:
    return [
        f"ALTER TABLE {identifier} ADD COLUMN {f.name} {f.dataType.simpleString()}"
        for f in fields
    ]


def iceberg_wap_sequence(
    identifier: str,
    source_view: str,
    key_cols: list[str],
    value_cols: list[str],
    writer: str,
    batch_id: int,
) -> list[tuple[str, object]]:
    """Write-audit-publish MERGE with the fence INSIDE the commit — the
    single-commit exactly-once story for the Iceberg production path,
    as explicit as SnapshotParquetTable's atomic manifest swap.

    ``IcebergTable.merge``'s plain flow needs TWO commits (MERGE, then
    ALTER TABLE fence property), leaving a crash window where data is
    visible but the fence is not. WAP closes it: with
    ``write.wap.enabled`` and ``spark.wap.id`` set, the MERGE commits a
    snapshot that carries ``summary['wap.id']`` but is NOT made current
    — publication is a separate atomic ``cherrypick_snapshot``. Making
    ``wap.id = '{writer}:{batch_id}'`` turns the commit summary itself
    into the fence: data and fence become visible in ONE atomic step.

    Ordered steps (``(name, payload)``; ``*_conf`` payloads are
    ``(spark conf key, value)``, the rest SQL; ``{snapshot_id}`` is
    filled from the ``staged_snapshot_sql`` result):

    1. ``enable_wap_sql``   — one-time table property.
    2. ``fence_check_sql``  — a PUBLISHED snapshot (ancestor of
       current: ``history.is_current_ancestor``) already carrying this
       wap id ⇒ the batch is applied; skip as a fenced no-op. The
       ancestor restriction matters: a crash after stage but before
       publish leaves an ORPHANED staged snapshot whose wap id must
       NOT fence the retry (it never became visible).
    3. ``stage_conf``       — set ``spark.wap.id``; the MERGE below
       now stages without publishing.
    4. ``merge_sql``        — exactly ``iceberg_merge_sql`` (soft
       deletes, lsn gate); identical semantics to the two-commit path.
    5. ``staged_snapshot_sql`` — newest NON-ancestor snapshot with
       this wap id (orphans from dead retries are older; harmless,
       aged out by ``expire_snapshots``).
    6. ``audit_sql``        — validation gate over the staged-but-
       invisible data (the reference's plausibility check, A3 —
       update_gtfs_data_db.py:114-122 — run BEFORE anything is
       visible, which the two-commit path cannot do).
    7. ``publish_sql``      — atomic ``cherrypick_snapshot``: data +
       fence become current together.
    8. ``unstage_conf``     — clear ``spark.wap.id``.

    Crash analysis: before 7 ⇒ nothing visible, no fence, retry is
    clean (one orphaned snapshot for GC). After 7 ⇒ everything
    visible incl. fence; retry stops at step 2. There is no state
    where data is visible without its fence.
    """
    catalog, _, _ = identifier.partition(".")
    wap_id = f"{writer}:{batch_id}"
    published = (
        f"SELECT s.snapshot_id FROM {identifier}.snapshots s\n"
        f"JOIN {identifier}.history h\n"
        f"  ON h.snapshot_id = s.snapshot_id AND h.is_current_ancestor\n"
        f"WHERE s.summary['wap.id'] = '{wap_id}'"
    )
    staged = (
        f"SELECT s.snapshot_id FROM {identifier}.snapshots s\n"
        f"LEFT JOIN {identifier}.history h\n"
        f"  ON h.snapshot_id = s.snapshot_id AND h.is_current_ancestor\n"
        f"WHERE s.summary['wap.id'] = '{wap_id}' AND h.snapshot_id IS NULL\n"
        f"ORDER BY s.committed_at DESC LIMIT 1"
    )
    return [
        ("enable_wap_sql",
         f"ALTER TABLE {identifier} SET TBLPROPERTIES ('write.wap.enabled'='true')"),
        ("fence_check_sql", published),
        ("stage_conf", ("spark.wap.id", wap_id)),
        ("merge_sql",
         iceberg_merge_sql(identifier, source_view, key_cols, value_cols)),
        ("staged_snapshot_sql", staged),
        ("audit_sql",
         f"SELECT count(*) AS n_rows FROM {identifier} "
         f"VERSION AS OF {{snapshot_id}}"),
        ("publish_sql",
         f"CALL {catalog}.system.cherrypick_snapshot("
         f"table => '{identifier}', snapshot_id => {{snapshot_id}})"),
        ("unstage_conf", ("spark.wap.id", None)),
    ]


def iceberg_changelog_sql(
    identifier: str,
    key_cols: list[str],
    user_cols: list[str],
    start_snapshot_id: int,
    end_snapshot_id: int,
    view_name: str = "engine_changes",
) -> list[tuple[str, str]]:
    """Production mapping of ``SnapshotParquetTable.changes_between``:
    Iceberg's ``create_changelog_view`` procedure plus a SELECT that
    lifts the RAW storage-level change types through the soft-delete
    layer into the engine's user-level feed.

    The lift is the same truth table ``changes_between`` implements —
    Iceberg only sees tombstone writes as ordinary row changes, so:

    - after-image live, no before / before tombstoned  → ``insert``
      (covers genuine inserts AND resurrection over a tombstone)
    - after-image live, before live                    → ``update``
    - after-image tombstoned, before live              → ``delete``
    - tombstone→tombstone and fresh no-resurrect-guard tombstones are
      storage noise, invisible at user level                → filtered

    ``identifier_columns`` (the merge keys) make the procedure pair
    UPDATE_BEFORE/UPDATE_AFTER images, which the before-join consumes;
    the join is per ``_change_ordinal``, so a key changed by several
    commits in the window yields one user-level row per commit — the
    per-commit granular feed. The NET feed (what ``changes_between``
    emits) is one net-effect compaction away (the m5 catalog shape).

    Offline-bound like the other ``iceberg_*_sql`` generators: the
    sandbox has no Iceberg runtime jar, so the statements are
    unit-tested textually (tests/test_iceberg_sql.py) against the
    snapshot store's oracle-verified semantics.
    """
    catalog, _, table = identifier.partition(".")
    value_cols = [c for c in user_cols if c not in key_cols]
    ids = ", ".join(f"'{k}'" for k in key_cols)
    call = (
        f"CALL {catalog}.system.create_changelog_view(\n"
        f"  table => '{table}',\n"
        f"  options => map('start-snapshot-id', '{start_snapshot_id}', "
        f"'end-snapshot-id', '{end_snapshot_id}'),\n"
        f"  changelog_view => '{view_name}',\n"
        f"  identifier_columns => array({ids}),\n"
        f"  compute_updates => true)"
    )
    key_eq = " AND ".join(f"b.{k} <=> a.{k}" for k in key_cols)
    select_cols = ",\n       ".join(
        [f"a.{k}" for k in key_cols]
        + [f"a.{c}" for c in value_cols]
        + ["a._lsn AS _commit_lsn", "a._ts AS _commit_ts"]
    )
    changes = (
        f"SELECT CASE WHEN a._deleted THEN 'delete'\n"
        f"            WHEN b._deleted IS NULL OR b._deleted THEN 'insert'\n"
        f"            ELSE 'update' END AS op,\n"
        f"       {select_cols}\n"
        f"FROM {view_name} a\n"
        f"LEFT JOIN {view_name} b\n"
        f"  ON b._change_type = 'UPDATE_BEFORE'\n"
        f" AND b._change_ordinal = a._change_ordinal\n"
        f" AND {key_eq}\n"
        f"WHERE a._change_type IN ('INSERT', 'UPDATE_AFTER')\n"
        f"  AND NOT (a._deleted AND coalesce(b._deleted, TRUE))"
    )
    return [("create_view_call", call), ("changes_sql", changes)]


def iceberg_expire_sql(identifier: str, keep_last: int) -> str:
    catalog, _, _ = identifier.partition(".")
    return (
        f"CALL {catalog}.system.expire_snapshots(table => '{identifier}', "
        f"retain_last => {keep_last})"
    )


class IcebergTable:
    """Thin Iceberg mapping (production path named by the north rule):
    the engine-side dedup/fencing logic is identical to the snapshot
    store; only the storage verbs change — MERGE INTO (generated by
    ``iceberg_merge_sql``), ALTER TABLE ADD COLUMN, snapshot-summary
    properties for the per-writer fences, ``expire_snapshots`` for GC.
    ``format-version=2`` + ``write.merge.mode=merge-on-read`` selects
    the same delta-and-compact strategy SnapshotParquetTable's "mor"
    mode implements from scratch.
    Requires the Iceberg runtime jar + a configured catalog, which this
    sandbox does not have — constructing without one raises (the SQL
    builders above stay unit-testable offline).

    Exactly-once note: the fence property write in ``merge`` below is a
    separate commit from the MERGE (SQL cannot attach snapshot-summary
    props to a MERGE commit), so on THIS path the checkpoint remains
    the primary exactly-once mechanism. The single-commit production
    story is ``iceberg_wap_sequence``: write-audit-publish with
    ``wap.id = '{writer}:{batch_id}'``, where the commit summary IS
    the fence and ``cherrypick_snapshot`` publishes data + fence in
    one atomic step (unit-tested offline in tests/test_iceberg_sql.py;
    crash-window analysis in its docstring). SnapshotParquetTable
    fences atomically too (one manifest swap).
    """

    def __init__(self, spark: SparkSession, identifier: str,
                 key_cols: list[str] | None = None,
                 value_cols: list[str] | None = None):
        jars = spark.conf.get("spark.jars.packages", "") + spark.conf.get("spark.jars", "")
        if "iceberg" not in jars.lower():
            raise RuntimeError(
                "IcebergTable requires the iceberg-spark-runtime jar and a "
                "configured catalog; use SnapshotParquetTable offline"
            )
        self.spark = spark
        self.identifier = identifier
        self.key_cols = key_cols or ["conv_id", "turn_idx"]
        self.value_cols = value_cols or ["role", "text", "tool", "ts"]

    def merge(self, winners, batch_id: int, stats: bool = True,
              writer: str = "default") -> dict:
        # Iceberg's MERGE plans its own file pruning (metadata min/max)
        # and write distribution (TBLPROPERTIES write.distribution-mode)
        fence = self._fences().get(writer, -1)
        if batch_id is not None and batch_id <= fence:
            return {"skipped_fenced": True}
        winners.createOrReplaceTempView("_merge_source")
        self.spark.sql(
            iceberg_merge_sql(self.identifier, "_merge_source",
                              self.key_cols, self.value_cols)
        )
        if batch_id is not None:
            self.spark.sql(
                f"ALTER TABLE {self.identifier} SET TBLPROPERTIES "
                f"('fence.{writer}'='{batch_id}')"
            )
        return {"skipped_fenced": False}

    def merge_wap(
        self,
        winners,
        batch_id: int,
        writer: str = "default",
        min_plausible_rows: int | None = None,
    ) -> dict:
        """Single-commit merge via ``iceberg_wap_sequence`` — data and
        fence publish in one atomic cherrypick (see the sequence's
        docstring for the crash-window analysis). ``min_plausible_rows``
        is the audit gate run over the STAGED, still-invisible snapshot
        (reference A3 plausibility check, update_gtfs_data_db.py:114-122)
        — an audit failure leaves the table untouched and the batch
        unfenced, so the retry path is identical to a crash-before-
        publish. Executor logic (ordering, fenced skip, audit refusal)
        is offline-tested with a recording mock in
        tests/test_iceberg_sql.py; the SQL itself in the same file."""
        seq = dict(iceberg_wap_sequence(
            self.identifier, "_merge_source", self.key_cols,
            self.value_cols, writer, batch_id,
        ))
        spark = self.spark
        spark.sql(seq["enable_wap_sql"])
        if spark.sql(seq["fence_check_sql"]).count() > 0:
            return {"skipped_fenced": True}
        winners.createOrReplaceTempView("_merge_source")
        conf_key, wap_id = seq["stage_conf"]
        spark.conf.set(conf_key, wap_id)
        try:
            spark.sql(seq["merge_sql"])
            staged = spark.sql(seq["staged_snapshot_sql"]).collect()
            if not staged:
                raise RuntimeError(
                    "WAP merge committed no staged snapshot "
                    "(write.wap.enabled not effective?)"
                )
            sid = staged[0]["snapshot_id"]
            n = spark.sql(
                seq["audit_sql"].format(snapshot_id=sid)
            ).collect()[0]["n_rows"]
            if min_plausible_rows is not None and n < min_plausible_rows:
                # nothing published, nothing fenced; orphaned staged
                # snapshot ages out with expire_snapshots
                return {
                    "skipped_fenced": False, "audit_failed": True,
                    "staged_snapshot_id": sid, "n_rows": n,
                }
            spark.sql(seq["publish_sql"].format(snapshot_id=sid))
            return {
                "skipped_fenced": False, "published_snapshot_id": sid,
                "n_rows": n,
            }
        finally:
            spark.conf.unset(conf_key)

    def read(self):
        """User view: live rows only (tombstones filtered), user cols."""
        return self.spark.sql(
            iceberg_read_sql(self.identifier, self.key_cols + self.value_cols)
        )

    def _fences(self) -> dict:
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(
                f"SHOW TBLPROPERTIES {self.identifier}"
            ).collect()
        }
        return {
            k[len("fence."):]: int(v)
            for k, v in props.items()
            if k.startswith("fence.")
        }
