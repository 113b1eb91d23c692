"""Seeded WAL inputs for the lake workloads, with a validated cache.

One ``genlog.generate_events`` call produces the whole change feed for a
seed. Its segments are regrouped into the layout the pipeline consumes:

- segment 0: the bootstrap batch (``boot_events`` events);
- segments 1..``steady_segs``: the closed-loop steady batches;
- the rest: small segments the open-loop publisher hands the tailer.

genlog delays some events (out-of-order and duplicate deliveries) into
the following segment, so its last segment holds only such spill-over.
That segment is folded into the last publication: published alone it
would carry no new lsn and read as zero freshness.

Generated WALs are cached under ``cache_root`` keyed by the seed, the
layout parameters and the md5 of the genlog source, and every segment is
revalidated with ``genlog.validate_segment`` before a cached WAL is used.

Run as a script, this module generates one WAL (the benchmark does this
on a cache miss)::

    python3 perfbench/inputs.py --seed 1 --layout '{...}' --out DIR --work DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq


@dataclass(frozen=True)
class WalLayout:
    boot_events: int
    steady_segs: int
    steady_events: int
    tail_segs: int
    tail_events: int

    @property
    def n_events(self) -> int:
        return (
            self.boot_events
            + self.steady_segs * self.steady_events
            + self.tail_segs * self.tail_events
        )

    @property
    def steady_ids(self) -> list[int]:
        return list(range(1, 1 + self.steady_segs))

    @property
    def tail_ids(self) -> list[int]:
        first = 1 + self.steady_segs
        return list(range(first, first + self.tail_segs))


def _genlog_md5() -> str:
    from open_bus_gtfs_etl_spark import genlog

    with open(genlog.__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def _token(seed: int, layout: WalLayout) -> dict:
    return {"seed": seed, "layout": asdict(layout), "genlog_md5": _genlog_md5()}


def wal_segments(wal_dir: str) -> list[int]:
    v2 = os.path.join(wal_dir, "v2")
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(v2) if d.startswith("seg="))


def _valid(wal_dir: str, seed: int, layout: WalLayout) -> bool:
    from open_bus_gtfs_etl_spark.genlog import validate_segment

    try:
        with open(os.path.join(wal_dir, "_TOKEN.json")) as f:
            if json.load(f) != _token(seed, layout):
                return False
        segs = wal_segments(wal_dir)
    except (OSError, ValueError):
        return False
    want = [0, *layout.steady_ids, *layout.tail_ids]
    return segs == want and all(validate_segment(wal_dir, s)[0] for s in segs)


def _generate(spark, wal_dir: str, seed: int, layout: WalLayout) -> None:
    from pyspark.sql import functions as F

    from open_bus_gtfs_etl_spark.genlog import generate_events, write_wal

    unit = layout.tail_events
    if layout.boot_events % unit or layout.steady_events % unit:
        raise ValueError("boot/steady sizes must be multiples of tail_events")
    n_boot = layout.boot_events // unit
    per_steady = layout.steady_events // unit
    n_units = layout.n_events // unit
    ev = generate_events(
        spark, layout.n_events, seed=seed, seg_size=unit, v2_start_lsn=0
    )
    # fold the trailing spill-over unit into the last one, then regroup
    u = F.least(F.col("seg"), F.lit(n_units - 1))
    steady_end = n_boot + layout.steady_segs * per_steady
    seg = (
        F.when(u < n_boot, F.lit(0))
        .when(u < steady_end, F.floor((u - n_boot) / per_steady) + 1)
        .otherwise(u - steady_end + 1 + layout.steady_segs)
        .cast("long")
    )
    write_wal(ev.withColumn("seg", seg), wal_dir)


def wal_dir(cache_root: str, seed: int, layout: WalLayout) -> str:
    key = hashlib.md5(
        json.dumps(_token(seed, layout), sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(cache_root, f"wal_s{seed}_{key}")


def spawn(cache_root: str, seed: int, layout: WalLayout, work: str):
    """Return ``(wal_dir, process)``. On a cache miss the WAL is generated
    by a child process with its own Spark session; the process is None on
    a hit. Wait for it with ``finish``."""
    path = wal_dir(cache_root, seed, layout)
    if _valid(path, seed, layout):
        return path, None
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--seed", str(seed),
         "--layout", json.dumps(asdict(layout)), "--out", path, "--work", work],
        stdout=sys.stderr,
    )
    return path, proc


def finish(proc, path: str, seed: int, layout: WalLayout) -> None:
    if proc is None:
        return
    if proc.wait() != 0 or not _valid(path, seed, layout):
        raise RuntimeError(f"generating the WAL at {path} failed (exit {proc.returncode})")


def generate(spark, path: str, seed: int, layout: WalLayout) -> None:
    """Generate the WAL for ``seed`` into ``path``, atomically."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    _generate(spark, tmp, seed, layout)
    with open(os.path.join(tmp, "_TOKEN.json"), "w") as f:
        json.dump(_token(seed, layout), f)
    os.replace(tmp, path)


def segment_stats(wal_dir: str, seg: int) -> dict:
    """Rows, bytes and max lsn of one segment, from parquet footers."""
    d = os.path.join(wal_dir, "v2", f"seg={seg}")
    rows = nbytes = 0
    lsn_max = None
    for fn in os.listdir(d):
        if not fn.endswith(".parquet"):
            continue
        p = os.path.join(d, fn)
        nbytes += os.path.getsize(p)
        md = pq.ParquetFile(p).metadata
        rows += md.num_rows
        col = md.schema.to_arrow_schema().get_field_index("lsn")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            if st is not None and st.has_min_max:
                lsn_max = st.max if lsn_max is None else max(lsn_max, st.max)
    return {"rows": rows, "bytes": nbytes, "lsn_max": lsn_max}


def main() -> int:
    ap = argparse.ArgumentParser(description="Generate one benchmark WAL.")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--layout", required=True, help="WalLayout fields as JSON")
    ap.add_argument("--out", required=True, help="WAL directory to create")
    ap.add_argument("--work", required=True, help="scratch directory for Spark")
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import jvm

    spark = jvm.start("perfbench-inputs", args.work, "1g", len(os.sched_getaffinity(0)))
    try:
        generate(spark, args.out, args.seed, WalLayout(**json.loads(args.layout)))
    finally:
        jvm.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
