"""Broadcast-vs-shuffle join-back policy for the dedup kernel.

The write path's winner-key broadcast is a deliberate hint (the static
planner can't size agg output), but at 10^8+ winners a forced broadcast
OOMs — so the choice is auto-sized from the winner count the PREVIOUS
merge observed (manifest ``last_n_winners``), and the table-scale MoR
read path never hints at all.
"""

from __future__ import annotations

from pyspark.sql import types as T

from open_bus_gtfs_etl_spark.genlog import generate_events
from open_bus_gtfs_etl_spark.operators.dedup import lww_dedup_argmax_join
from open_bus_gtfs_etl_spark.operators.merge import (
    BROADCAST_KEY_BYTES,
    apply_batch,
    resolve_broadcast_keys,
)
from open_bus_gtfs_etl_spark.schema import (
    STORED_TRANSCRIPTS_SCHEMA,
    TRANSCRIPTS_SCHEMA,
)
from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable


class _ManifestStub:
    def __init__(self, last_n_winners):
        self._m = (
            {} if last_n_winners is None else {"last_n_winners": last_n_winners}
        )

    def manifest(self):
        return self._m


def test_resolver_thresholds():
    # no manifest at all (Iceberg backend), no batch to observe → NO
    # hint: zero evidence the winner frame is small, AQE sizes at runtime
    class NoManifest:
        pass

    assert resolve_broadcast_keys(NoManifest()) is False
    # first batch, no batch supplied: no evidence → NO hint (a
    # 10^8-winner bootstrap under a forced broadcast is the OOM the
    # policy exists to prevent)
    assert resolve_broadcast_keys(_ManifestStub(None)) is False
    # small recorded winner set → broadcast
    assert resolve_broadcast_keys(_ManifestStub(1_000_000)) is True
    # recorded count over the cap → shuffle, with NO caller flag
    huge = (512 << 20) // BROADCAST_KEY_BYTES + 1
    assert resolve_broadcast_keys(_ManifestStub(huge)) is False
    # cap is a parameter (deployments with bigger executors raise it)
    assert resolve_broadcast_keys(_ManifestStub(huge), cap_bytes=1 << 40) is True


def test_bootstrap_observes_winner_count_before_choosing(tmp_path, spark):
    """A fresh no-history table: the 'auto' policy must derive the
    broadcast decision from an OBSERVED winner count of the incoming
    batch (one keys-only HLL pass), never from a blind default — so a
    key count over the cap takes the non-broadcast path with no caller
    flag, and a small one still earns the hint."""
    t = SnapshotParquetTable.create(
        spark, str(tmp_path / "boot"), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=4,
    )
    assert t.manifest().get("last_n_winners") is None
    ev = generate_events(spark, 2000, n_conv=50, seed=17).drop("seg")
    keys = ["conv_id", "turn_idx"]
    # observed-small → hint; observed over the cap → no hint. The cap is
    # the policy parameter (same code path as a 10^8-key batch under the
    # default 512 MB cap — the decision is evidence × cap, nothing else).
    assert resolve_broadcast_keys(t, batch=ev, key_cols=keys) is True
    assert (
        resolve_broadcast_keys(t, cap_bytes=10 * BROADCAST_KEY_BYTES,
                               batch=ev, key_cols=keys)
        is False
    )
    # steady state: the first merge records the in-flight winner count,
    # after which no observation pass is needed
    apply_batch(t, ev, batch_id=0)  # broadcast_keys defaults to "auto"
    assert t.manifest()["last_n_winners"] > 0
    assert resolve_broadcast_keys(t) is True


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_hint_present_only_when_requested(spark):
    ev = generate_events(spark, 500, n_conv=40, seed=3).drop("seg")
    payload = ["role", "text", "op", "lsn", "ts"]
    keys = ["conv_id", "turn_idx"]
    with_hint = lww_dedup_argmax_join(ev, keys, payload, broadcast_keys=True)
    without = lww_dedup_argmax_join(ev, keys, payload, broadcast_keys=False)
    assert "ResolvedHint" in _analyzed(with_hint)
    assert "ResolvedHint" not in _analyzed(without)


def test_mor_read_plan_never_hints_broadcast(tmp_path, spark):
    """The MoR read resolves base+delta LWW over EVERY key in the table
    — a forced broadcast there is the 100×-scale OOM; the resolve must
    never hint one."""
    t = SnapshotParquetTable.create(
        spark, str(tmp_path / "mor"), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=4, mode="mor",
    )
    ev = generate_events(spark, 2000, n_conv=60, seed=5).drop("seg")
    apply_batch(t, ev, batch_id=0)
    apply_batch(t, ev.limit(300), batch_id=1)  # ensure a delta exists
    assert t.manifest().get("deltas"), "precondition: deltas present"
    assert "ResolvedHint" not in _analyzed(t.read_stored())
    assert "ResolvedHint" not in _analyzed(t.read())


def test_merge_records_last_n_winners_and_auto_resolves(tmp_path, spark):
    t = SnapshotParquetTable.create(
        spark, str(tmp_path / "cow"), TRANSCRIPTS_SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=4,
    )
    ev = generate_events(spark, 1000, n_conv=30, seed=11).drop("seg")
    st = apply_batch(t, ev, batch_id=0)
    rec = t.manifest().get("last_n_winners")
    assert rec is not None and rec > 0
    # second batch under "auto" runs and stays correct either way
    st2 = apply_batch(t, ev, batch_id=1)
    assert not st2.get("skipped_fenced")
    assert st2["rows_stale_skipped"] + st2["rows_updated"] + st2[
        "rows_inserted"
    ] + st2["rows_deleted"] + st2.get("rows_delete_noop", 0) == rec


class _IcebergShapedTable:
    """Stub with IcebergTable's stat-dict shape: merge() returns only
    {'skipped_fenced': False} — apply_batch must not KeyError on the
    missing outcome counters (ADVICE r2)."""

    def __init__(self):
        self.merged = 0

    def stored_schema(self):
        return T.StructType(STORED_TRANSCRIPTS_SCHEMA.fields)

    def merge(self, winners, batch_id, stats=True, writer="default"):
        self.merged += 1
        return {"skipped_fenced": False}

    def evolve_schema(self, fields):  # pragma: no cover - not hit here
        raise AssertionError("schema already current")


def test_apply_batch_tolerates_counterless_backend(spark):
    t = _IcebergShapedTable()
    ev = generate_events(spark, 200, n_conv=10, seed=13).drop("seg")
    st = apply_batch(t, ev, batch_id=0, stats=True)
    assert t.merged == 1
    assert st["skipped_fenced"] is False
    assert st["rows_deduped"] is None  # unknowable, not a crash
