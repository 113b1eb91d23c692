#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cow_ingest --seed 1 --seconds 4 --trace 0

Run from the repository root. Both workloads drive the same pipeline
over the same seeded WAL through the engine's public calls, and differ
in the lake table's mode (see perfbench/README.md):

1. bootstrap: ``apply_batch(dedup="argmax_lsn")`` of one large segment
   into an empty 32-bucket table;
2. steady: small segments through ``replay_wal`` one at a time, closed
   loop (one caller);
3. reads, on the state the closed loop left: full scans and
   ``changes_between`` over the steady window, then point lookups;
4. tail: a publisher renames segments into a watched directory (on
   mor_tail, spaced evenly over ``--seconds``: an open loop), and a live
   ``start_tailer(..., auto_compact=4)`` applies them; then one
   ``compact()``. After the tail and after the compaction the state of
   step 3 is scanned again through ``read_at``;
5. rewrite: step 1 twice and step 2 again on fresh tables, timed once
   the JVM has compiled the most code.

Set-up, input generation, a warm-up and every correctness check run
outside the timed regions. With ``--trace 1`` the session writes Spark's
event log and the result carries the per-layer metrics instead of the
end-to-end ones. The last stdout line is the result; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import jvm  # noqa: E402
from inputs import WalLayout, segment_stats  # noqa: E402

# the lake table's mode, and whether the tail's publications are spaced
# evenly over --seconds. A copy-on-write epoch rewrites every bucket it
# touches (5-8 s for one small segment on a 4-core VM), so a schedule
# under its capacity does not fit a run: cow_ingest publishes its tail
# at once, for the streaming layer's per-layer figures.
WORKLOADS = {"cow_ingest": ("cow", False), "mor_tail": ("mor", True)}
FULL = {
    "layout": WalLayout(
        boot_events=25_000, steady_segs=2, steady_events=12_500,
        tail_segs=3, tail_events=1_250,
    ),
    "setup_reps": 41,
    "lookups": 4,
}
TINY = {
    "layout": WalLayout(
        boot_events=4_000, steady_segs=2, steady_events=2_000,
        tail_segs=3, tail_events=500,
    ),
    "setup_reps": 2,
    "lookups": 4,
}
N_BUCKETS = 32
AUTO_COMPACT = 4
RESCAN_S = 2.0
HEAP = "2g"
SPANS = [
    "merge.apply_batch.bootstrap",
    "merge.replay_wal.steady",
    "tailer.epoch",
    "lake.read",
    "lake.lookup",
    "lake.changes_between",
    "lake.compact",
]
# compact() on a copy-on-write table runs no task, so these executor
# times read 0 on every cow_ingest run
NOT_REPORTED = ("lake.compact.executor_run_s", "lake.compact.executor_cpu_s")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail_percentile(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples beyond it
    (nearest rank), and its value. Up to 20 samples no percentile above
    the median has 10 beyond it, and the maximum is returned."""
    n = len(values)
    if n <= 20:
        return max(values), 100
    p = math.floor(100 * (n - 10) / n)
    return sorted(values)[math.ceil(p * n / 100) - 1], p


def tree_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its descendants (the JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def noop(df) -> None:
    """Run a frame to the end without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if not f.startswith(".")
    )


def bucket_refs(m: dict) -> dict:
    keys = set(m["buckets"]) | set(m.get("deltas", {}))
    return {b: (m["buckets"].get(b), tuple(m.get("deltas", {}).get(b, []))) for b in keys}


def iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Run:
    def __init__(self, args, cfg: dict, work: str):
        self.args = args
        self.cfg = cfg
        self.layout: WalLayout = cfg["layout"]
        self.mode, self.spaced = WORKLOADS[args.workload]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}

    # -------------------------------------------------------------- helpers
    def op(self, fn, what: str):
        """Run one attempted operation; an exception counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is reported
            self.failed += 1
            log(f"FAILED {what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def session(self):
        extra = {}
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        # one core stays free for the client, publisher and poller
        # threads, the collector and the JIT: with every core running a
        # task, their contention showed up as run-to-run spread
        n = max(1, len(os.sched_getaffinity(0)) - 1)
        return jvm.start(f"perfbench-{self.args.workload}", self.work, HEAP, n, extra)

    # ---------------------------------------------------------------- setup
    def setup_once(self, rep: int) -> dict:
        """One set-up unit: stage the tail segments for publication, gate
        each with ``validate_segment``, and create the empty table."""
        from open_bus_gtfs_etl_spark.genlog import validate_segment

        base = os.path.join(self.work, f"setup{rep}")
        stage = os.path.join(base, "stage")
        for seg in self.layout.tail_ids:
            shutil.copytree(
                os.path.join(self.wal, "v2", f"seg={seg}"),
                os.path.join(stage, "v2", f"seg={seg}"),
            )
            ok, reason = validate_segment(stage, seg)
            if not ok:
                raise RuntimeError(f"staged segment {seg} invalid: {reason}")
        return {"base": base, "stage": stage,
                "table": self.new_table(os.path.join(base, "lake"))}

    def new_table(self, root: str):
        from open_bus_gtfs_etl_spark.schema import KEY_COLS, TRANSCRIPTS_SCHEMA
        from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable

        return SnapshotParquetTable.create(
            self.spark, root, TRANSCRIPTS_SCHEMA,
            key_cols=KEY_COLS, n_buckets=N_BUCKETS, mode=self.mode,
        )

    def setup(self) -> None:
        # the set-ups write a few files each: flush what earlier work left
        # dirty first, so that its writeback does not land in their time
        os.sync()
        times, env = [], None
        for rep in range(self.cfg["setup_reps"]):
            if env is not None:
                shutil.rmtree(env["base"])
            t0 = time.perf_counter()
            env = self.setup_once(rep)
            times.append(time.perf_counter() - t0)
        self.env = env
        self.table = env["table"]
        self.e2e["setup_s"] = (statistics.median(times), "s")
        self.notes["setup_ms"] = [round(x * 1e3, 2) for x in times]

    # --------------------------------------------------------------- phases
    def warmup(self) -> None:
        """Untimed: a bootstrap, a steady batch, a scan and two lookups on
        a throwaway table fed two of the small tail segments, so that the
        timed calls meet a JVM that has compiled their code. The first
        merge in a JVM spends 10-15 s compiling; the size of its input
        adds little to that."""
        from open_bus_gtfs_etl_spark.genlog import read_wal_segment
        from open_bus_gtfs_etl_spark.operators.merge import apply_batch, replay_wal

        first, second = self.layout.tail_ids[:2]
        root = os.path.join(self.work, "warmup")
        t = self.new_table(root)
        apply_batch(t, read_wal_segment(self.spark, self.wal, first),
                    batch_id=first, writer="wal", dedup="argmax_lsn")
        replay_wal(self.spark, t, self.wal, [second])
        noop(t.read())
        for key in self.keys[:2]:
            t.lookup({"conv_id": key}).collect()
        shutil.rmtree(root)

    def bootstrap_into(self, table) -> dict | None:
        """One timed bootstrap merge into the empty ``table``; its stats."""
        from open_bus_gtfs_etl_spark.genlog import read_wal_segment
        from open_bus_gtfs_etl_spark.operators.merge import apply_batch

        def go():
            t0 = time.perf_counter()
            with self.tracer.span("merge.apply_batch.bootstrap"):
                st = apply_batch(
                    table, read_wal_segment(self.spark, self.wal, 0),
                    batch_id=0, writer="wal", dedup="argmax_lsn",
                )
            return st, time.perf_counter() - t0

        res = self.op(go, "bootstrap")
        if res is None:
            return None
        st, dt = res
        self.boot_rates.append(self.seg[0]["rows"] / dt)
        return st

    def steady_into(self, table) -> tuple[list[dict], list[int]]:
        """The steady segments through ``replay_wal`` onto ``table``, one
        at a time: the batches' stats, and per batch the number of
        buckets whose references it changed."""
        from open_bus_gtfs_etl_spark.operators.merge import replay_wal

        stats, rewritten = [], []
        for seg in self.layout.steady_ids:
            before = bucket_refs(table.manifest())

            def go(seg=seg):
                t0 = time.perf_counter()
                with self.tracer.span("merge.replay_wal.steady"):
                    sts = replay_wal(self.spark, table, self.wal, [seg])
                return sts, time.perf_counter() - t0

            res = self.op(go, f"steady segment {seg}")
            if res:
                sts, dt = res
                stats += sts
                self.steady_rates.append(self.seg[seg]["rows"] / dt)
                after = bucket_refs(table.manifest())
                rewritten.append(sum(1 for b in after if after[b] != before.get(b)))
        return stats, rewritten

    def bootstrap(self) -> None:
        """The bootstrap merge into the table the later phases use."""
        st = self.bootstrap_into(self.table)
        if st is not None:
            self.merge_stats.append(st)
        self.v_boot = self.table.snapshot_id()

    def steady(self) -> None:
        stats, rewritten = self.steady_into(self.table)
        self.merge_stats += stats
        self.layer["lake.buckets_rewritten_per_batch"] = (
            statistics.mean(rewritten) if rewritten else 0.0, "count")
        # closed-loop write amplification: bytes the lake wrote for the
        # bootstrap and steady batches per WAL byte they ingested
        wal_bytes = sum(self.seg[s]["bytes"] for s in [0, *self.layout.steady_ids])
        self.e2e["write_amp"] = (
            dir_bytes(os.path.join(self.table.root, "data")) / wal_bytes, "ratio")

    def tail(self) -> None:
        from open_bus_gtfs_etl_spark.streaming.lineage import LineageLog
        from open_bus_gtfs_etl_spark.streaming.tailer import start_tailer

        ids = self.layout.tail_ids
        stage, watch = self.env["stage"], os.path.join(self.work, "watch")
        os.makedirs(os.path.join(watch, "v2"))
        interval = self.args.seconds / len(ids) if self.spaced else 0.0
        due = [0.0] * len(ids)
        published = [0.0] * len(ids)
        visible: list[float | None] = [None] * len(ids)
        depth_max = [0]
        stop = threading.Event()

        query = start_tailer(
            self.spark, self.table, os.path.join(watch, "v2"),
            os.path.join(self.work, "checkpoint"),
            lineage=LineageLog(self.spark, os.path.join(self.work, "lineage")),
            auto_compact=AUTO_COMPACT,
        )
        # the first publication is due once the stream is up and idle, so
        # the first epoch does not also carry the stream's start-up
        deadline = time.time() + 60
        while time.time() < deadline and (
            query.status["isTriggerActive"] or query.status["message"] != "Waiting for data to arrive"
        ):
            time.sleep(0.02)
        t_start = time.time() + 0.1
        for i in range(len(ids)):
            due[i] = t_start + i * interval

        def publisher():
            for i, seg in enumerate(ids):
                time.sleep(max(0.0, due[i] - time.time()))
                os.rename(
                    os.path.join(stage, "v2", f"seg={seg}"),
                    os.path.join(watch, "v2", f"seg={seg}"),
                )
                published[i] = time.time()

        def poller():
            nxt = 0
            while nxt < len(ids) and not stop.is_set():
                try:
                    m = self.table.manifest()
                except (OSError, ValueError):
                    m = None
                now = time.time()
                if m is not None:
                    depth = max((len(v) for v in m.get("deltas", {}).values()), default=0)
                    depth_max[0] = max(depth_max[0], depth)
                    lsn = m.get("lsn_max")
                    while nxt < len(ids) and lsn is not None and (
                        lsn >= self.seg[ids[nxt]]["lsn_max"]
                    ):
                        visible[nxt] = now
                        nxt += 1
                time.sleep(0.005)

        threads = [threading.Thread(target=publisher), threading.Thread(target=poller)]
        for t in threads:
            t.start()
        threads[0].join()
        threads[1].join(timeout=max(0.0, due[-1] + 60 - time.time()))
        stop.set()
        threads[1].join()
        # stop the stream only once it is idle: stopping mid-epoch can
        # abort an inline compaction's write job
        deadline = time.time() + 60
        while time.time() < deadline and (
            query.status["isTriggerActive"] or query.status["isDataAvailable"]
        ):
            time.sleep(0.05)
        query.stop()
        query.awaitTermination(60)
        if query.exception() is not None:
            self.attempted += 1
            self.failed += 1
            log(f"FAILED tailer: {query.exception()}")

        self.attempted += len(ids)
        fresh = []
        for i in range(len(ids)):
            if visible[i] is None:
                self.failed += 1
                log(f"FAILED segment {ids[i]} not visible by end of run")
            else:
                fresh.append(visible[i] - due[i])
        epochs = []
        for p in query.recentProgress:
            if p.get("numInputRows", 0) > 0:
                start = iso_to_epoch(p["timestamp"])
                epochs.append((start, start + p["durationMs"]["triggerExecution"] / 1e3))
        self.tracer.record("tailer.epoch", sum(e - s for s, e in epochs), len(epochs))
        self.aliases[str(query.runId)] = "tailer.epoch"
        waits = []
        for i, v in enumerate(visible):
            if v is None:
                continue
            for s, e in epochs:
                if s - 0.05 <= v <= e + 0.05:
                    waits.append(max(0.0, s - published[i]))
                    break
        if fresh:
            tail, pct = tail_percentile(fresh)
            self.layer["tailer.freshness_s_p50"] = (statistics.median(fresh), "s")
            self.layer["tailer.freshness_s_tail"] = (tail, "s")
            self.notes["freshness_tail"] = f"p{pct} of n={len(fresh)}"
        self.notes["generator_late_max_s"] = round(
            max(p - d for p, d in zip(published, due)), 4)
        self.notes["epochs"] = len(epochs)
        self.notes["epoch_s"] = [round(e - s, 2) for s, e in epochs]
        self.notes["fresh_s"] = [round(x, 2) for x in fresh]
        self.notes["tail_events"] = sum(self.seg[s]["rows"] for s in ids)
        self.layer["tailer.detect_wait_s"] = (
            statistics.median(waits) if waits else 0.0, "s")
        self.layer["lake.delta_depth_max"] = (float(depth_max[0]), "count")

    def timed(self, span: str, fn):
        """One attempted call inside ``span``; its wall time, or None."""
        def go():
            t0 = time.perf_counter()
            with self.tracer.span(span):
                fn()
            return time.perf_counter() - t0
        return self.op(go, span)

    def scan(self, at_version: int | None = None) -> float | None:
        """One full scan of the state the closed-loop batches left, and
        its wall time: ``read()`` right after them, ``read_at`` once later
        phases have moved the table on (the same files, the same plan)."""
        t = self.table
        frame = t.read if at_version is None else lambda: t.read_at(at_version)
        return self.timed("lake.read", lambda: noop(frame()))

    def rescan(self) -> None:
        """Scans through ``read_at`` for at least ``RESCAN_S``: about two
        on a merge-on-read table, more than ten on a copy-on-write one."""
        t0 = time.perf_counter()
        while True:
            dt = self.scan(self.v_steady)
            if dt is not None:
                self.scan_times.append(dt)
            if time.perf_counter() - t0 >= RESCAN_S:
                return

    def reads(self) -> None:
        """The read mix on the state the closed-loop batches left, which
        is the same on every run (a merge-on-read table holds one delta
        per batch in each touched bucket)."""
        t = self.table
        self.v_steady = t.snapshot_id()
        dt = self.scan()
        if dt is not None:
            self.notes["first_scan_s"] = round(dt, 3)
        # one call: on a merge-on-read table it costs about as much as two
        # scans, more than a run can spend on a bounded metric
        self.timed("lake.changes_between",
                   lambda: noop(t.changes_between(self.v_boot, t.snapshot_id())))
        lat = []
        for key in self.keys:
            dt = self.timed("lake.lookup", lambda key=key: t.lookup({"conv_id": key}).collect())
            if dt is not None:
                lat.append(dt * 1e3)
        if lat:
            # logged, not a bounded metric: the median of a run's lookups
            # moved by more than a quarter between runs of the same code
            self.notes["lookup_ms_p50"] = round(statistics.median(lat), 1)
            self.notes["lookup_ms"] = [round(x) for x in lat]

    def rewrite(self) -> None:
        """The bootstrap twice and the steady batches again, on fresh
        tables, once every other phase has run: timed calls made in the run's
        warmest JVM. The pipeline's peak RSS is read first: these writes
        repeat it only to time it again, and on the run's grown heap they
        raised the peak by up to a quarter in some runs and not in
        others."""
        self.e2e["peak_rss_mb"] = (tree_peak_rss_mb(), "MB")
        first = self.new_table(os.path.join(self.work, "late0"))
        self.bootstrap_into(first)
        shutil.rmtree(first.root)
        table = self.new_table(os.path.join(self.work, "late1"))
        if self.bootstrap_into(table) is not None:
            self.steady_into(table)
        shutil.rmtree(table.root)

    def compact(self) -> None:
        dt = self.timed("lake.compact", lambda: self.table.compact(max_deltas=0))
        if dt is not None:
            self.notes["compact_s"] = round(dt, 4)

    # --------------------------------------------------------------- checks
    def check(self) -> None:
        """The final table against the DuckDB fold of the WAL: one
        attempted operation, failed on a mismatch."""
        import check

        want = check.fold_digest(self.wal)
        self.attempted += 1
        got = check.table_digest(self.table.read())
        if got != want:
            self.failed += 1
            log(f"FAILED lake state {got} != DuckDB LWW fold {want}")

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        import spans as tracing

        # a missing WAL is generated by a child process while this one
        # starts its session; this JVM never runs the
        # generator, so it is in the same state whether or not the cache
        # held the WAL
        self.wal, gen = inputs.spawn(
            os.path.join(ROOT, ".perfbench_cache"), self.args.seed, self.layout,
            os.path.join(self.work, "inputs"))
        try:
            t0 = time.perf_counter()
            self.spark = self.session()
            self.notes["session_s"] = round(time.perf_counter() - t0, 2)
            self.tracer = tracing.Tracer(self.spark)
            try:
                inputs.finish(gen, self.wal, self.args.seed, self.layout)
                self.notes["wal_cache"] = "hit" if gen is None else "miss"
                self.notes["ready_s"] = round(time.perf_counter() - t0, 2)
                self.measure()
            finally:
                jvm.stop(self.spark)
        finally:
            if gen is not None and gen.poll() is None:
                gen.kill()
                gen.wait()
        if self.args.trace:
            reduced = tracing.reduce_event_log(self.event_dir, self.aliases)
            self.layer.update(tracing.per_layer(self.tracer, reduced, SPANS, NOT_REPORTED))
            metrics = self.layer
        else:
            metrics = self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }

    def measure(self) -> None:
        import check

        self.aliases: dict[str, str] = {}
        self.merge_stats: list[dict] = []
        self.seg = {s: segment_stats(self.wal, s) for s in
                    [0, *self.layout.steady_ids, *self.layout.tail_ids]}
        self.keys = check.pick_lookup_keys(self.wal, self.args.seed, self.cfg["lookups"])
        self.boot_rates: list[float] = []
        self.steady_rates: list[float] = []
        self.scan_times: list[float] = []
        # The timed calls of each kind are spread over the run: the JVM
        # is still compiling code for a minute and more, so a run's early
        # calls are its slowest, and a neighbour's load slows every call
        # made while it lasts. The bootstrap and steady rates are the best
        # call's; scan_s is the median of the scans made after the tail.
        for phase in (self.warmup, self.setup, self.bootstrap, self.steady,
                      self.reads, self.tail, self.rescan, self.compact, self.rescan,
                      self.rewrite):
            t0 = time.perf_counter()
            phase()
            name = f"{phase.__name__}_wall_s"
            self.notes[name] = round(self.notes.get(name, 0) + time.perf_counter() - t0, 2)
        for metric, values, stat, unit in (
            ("bootstrap_events_per_s", self.boot_rates, max, "1/s"),
            ("steady_events_per_s", self.steady_rates, max, "1/s"),
            ("scan_s", self.scan_times, statistics.median, "s"),
        ):
            if values:
                self.e2e[metric] = (stat(values), unit)
                self.notes[metric] = [round(v, 3) for v in values]
        src = sum(st.get("n_source_rows", 0) for st in self.merge_stats)
        won = sum(
            st.get("rows_upserted", 0) + st.get("rows_inserted", 0)
            + st.get("rows_updated", 0) + st.get("rows_deleted", 0)
            + st.get("rows_stale_skipped", 0) + st.get("rows_delete_noop", 0)
            for st in self.merge_stats
        )
        self.layer["merge.winners_per_source_row"] = (won / src if src else 0.0, "ratio")
        t0 = time.perf_counter()
        self.check()
        self.notes["check_s"] = round(time.perf_counter() - t0, 2)
        self.e2e["success_frac"] = (
            (self.attempted - self.failed) / max(1, self.attempted), "ratio")
        log("e2e " + json.dumps({k: v for k, (v, _) in self.e2e.items()}))
        log("notes " + json.dumps(self.notes))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the open-loop publication schedule")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test scale")
    args = ap.parse_args()
    try:
        import open_bus_gtfs_etl_spark  # noqa: F401
    except ImportError as e:
        log(f"engine package not found next to the benchmark: {e}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = Run(args, TINY if args.tiny else FULL, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
