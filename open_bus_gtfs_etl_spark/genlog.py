"""Deterministic, scale-parameterized CDC change-event generator.

Every field derives from ``(seed, lsn)`` through hash expressions —
``spark.range`` + column exprs only, no per-row Python, no wall clock
(SURVEY.md §7 step 1). This replaces the reference's external file-drop
source (gtfs_extractor.py:78-116): instead of "a new daily zip shows
up", the generator writes WAL segments of insert/update/delete envelopes
over the transcripts key space.

Knobs (FIXTURES.md §2): n_events, n_conv, skew_s (Zipfian conv_id
skew), dup_rate (duplicate deliveries), ooo_rate (cross-segment
out-of-order delivery), delete_rate, v2_start_lsn (schema evolution
boundary), seed.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_EPOCH = int(_dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc).timestamp())
_U_BITS = 30
_U_MOD = 1 << _U_BITS


def _u(seed: int, tag: str, *cols) -> F.Column:
    """Deterministic uniform in [0, 1) derived from (seed, tag, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), *cols)
    return F.pmod(h, F.lit(_U_MOD)).cast("double") / F.lit(float(_U_MOD))


def _h(seed: int, tag: str, *cols) -> F.Column:
    """Deterministic non-negative long derived from (seed, tag, cols)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), *cols), F.lit(1 << 62))


def zipf_rank(u: F.Column, n: int, s: float) -> F.Column:
    """Map uniform u → Zipf(s)-distributed rank in [1, n].

    Continuous inverse-CDF approximation of the Zipf distribution
    (bounded Pareto): rank = (u * (n^(1-s) - 1) + 1)^(1/(1-s)).
    Hot-conversation skew knob for the hot-key replay tests.
    """
    if abs(s - 1.0) < 1e-9:
        s = 1.000001
    one_minus_s = 1.0 - s
    r = F.pow(u * F.lit(float(n) ** one_minus_s - 1.0) + F.lit(1.0), F.lit(1.0 / one_minus_s))
    return F.least(F.lit(n), F.greatest(F.lit(1), F.floor(r).cast("long")))


def generate_events(
    spark: SparkSession,
    n_events: int,
    n_conv: int | None = None,
    skew_s: float = 1.2,
    dup_rate: float = 0.02,
    ooo_rate: float = 0.02,
    delete_rate: float = 0.05,
    update_rate: float = 0.25,
    v2_start_lsn: int | None = None,
    seg_size: int = 10_000,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build the change-event DataFrame.

    Returns columns: lsn, op, ts, schema_ver, conv_id, turn_idx, role,
    text, tool, seg. ``seg`` is the WAL segment (micro-batch) the event
    is delivered in: normally lsn // seg_size, but with probability
    ``ooo_rate`` an event is deferred one segment, so a later batch
    carries an older lsn (the cross-batch out-of-order case the merge
    kernel must not regress on — SURVEY.md §7 hard parts).

    Duplicate deliveries: with probability ``dup_rate`` an event is
    emitted a second time in the following segment (same lsn/payload),
    exercising idempotent re-apply (reference analogue: re-running a
    day's load, load_stops_to_db.py:55-72).
    """
    if n_conv is None:
        n_conv = max(16, n_events // 20)
    if v2_start_lsn is None:
        v2_start_lsn = n_events // 2

    df = spark.range(0, n_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    lsn = F.col("id")

    u_conv = _u(seed, "conv", lsn)
    conv_rank = zipf_rank(u_conv, n_conv, skew_s)
    conv_id = F.format_string("conv-%012d", conv_rank)

    # per-conversation turn count ~ geometric(mean 12), capped 512
    u_k = _u(seed, "nturn", conv_rank)
    n_turns = F.least(
        F.lit(512),
        F.greatest(F.lit(1), F.ceil(F.log(F.lit(1.0) - u_k) / F.lit(float(-1.0 / 12.0))).cast("int")),
    )
    turn_idx = F.pmod(_h(seed, "turn", lsn), n_turns.cast("long")).cast("int")

    u_op = _u(seed, "op", lsn)
    op = (
        F.when(u_op < F.lit(delete_rate), F.lit("delete"))
        .when(u_op < F.lit(delete_rate + update_rate), F.lit("update"))
        .otherwise(F.lit("insert"))
    )

    schema_ver = F.when(lsn < F.lit(v2_start_lsn), F.lit(1)).otherwise(F.lit(2)).cast("int")

    # role: v1 domain {user, assistant}; v2 widens to 4 values (the
    # role-widening evolution case). Null on deletes.
    role_v1 = F.element_at(F.array(F.lit("user"), F.lit("assistant")), (F.pmod(_h(seed, "role", lsn), F.lit(2)) + 1).cast("int"))
    role_v2 = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (F.pmod(_h(seed, "role", lsn), F.lit(4)) + 1).cast("int"),
    )
    role = F.when(op == "delete", F.lit(None).cast("string")).otherwise(
        F.when(schema_ver == 1, role_v1).otherwise(role_v2)
    )

    # text: hash-derived token string, length 10..2000 chars, distinct per
    # event (so LWW winners are observable by value). Repeat only as many
    # 17-char tokens as the target length needs — materializing a fixed
    # 2 KiB string per row and truncating is ~20× slower at 10^6+ rows.
    text_len = (F.pmod(_h(seed, "tlen", lsn), F.lit(1991)) + 10).cast("int")
    token = F.lower(F.hex(F.xxhash64(F.lit(seed), F.lit("text"), lsn)))
    n_tokens = (text_len / F.lit(17)).cast("int") + 1
    text = F.when(op == "delete", F.lit(None).cast("string")).otherwise(
        F.repeat(F.concat(token, F.lit(" ")), n_tokens).substr(F.lit(1), text_len)
    )

    tool = (
        F.when(
            (schema_ver == 2) & (role == "tool"),
            F.format_string("tool-%02d", F.pmod(_h(seed, "tool", lsn), F.lit(20))),
        )
        .otherwise(F.lit(None))
        .cast("string")
    )

    ts = F.timestamp_seconds(F.lit(BASE_EPOCH) + lsn)

    base_seg = F.floor(lsn / F.lit(seg_size))
    deferred = _u(seed, "ooo", lsn) < F.lit(ooo_rate)
    seg = F.when(deferred, base_seg + 1).otherwise(base_seg).cast("long")

    out = df.select(
        lsn.alias("lsn"),
        op.alias("op"),
        ts.alias("ts"),
        schema_ver.alias("schema_ver"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        seg.alias("seg"),
    )

    if dup_rate > 0:
        dups = out.where(_u(seed, "dup", F.col("lsn")) < F.lit(dup_rate)).withColumn(
            "seg", F.col("seg") + 1
        )
        out = out.unionByName(dups)
    return out


def write_wal(events: DataFrame, wal_dir: str, manifests: bool = True) -> list[int]:
    """Write events as parquet WAL segments: one directory per segment
    (``seg=N``), the analogue of the reference's dated Y/M/D file-drop
    layout (common.py:51-65). Returns sorted segment ids.

    schema_ver=1 events are written WITHOUT the ``tool`` column — the
    physical files really do have the old schema, so the reader's
    schema-evolution path is exercised for real, not simulated.

    With ``manifests``, each ``seg=N`` directory gets a ``_SEGMENT.json``
    recording the expected row count — the completeness token the replay
    gate checks before ingesting (the reference refuses a date unless
    all 4 expected files exist with size>1000,
    update_gtfs_data_db.py:33-47; a producer-written manifest is the
    WAL-segment equivalent of "all files present and big enough").

    CUMULATIVE semantics: counts come from the parquet footers of
    everything on disk, so with ``mode('append')`` into a pre-populated
    ``wal_dir`` the manifests and the returned ``segs`` cover ALL
    rows/segments present, not just this call's batch — deliberately
    consistent with ``validate_segment``, which checks the same on-disk
    totals. A ``seg=`` directory whose suffix is not an integer (stray
    dir, null-partition placeholder) raises ``ValueError`` naming the
    directory rather than crashing opaquely mid-scan.
    """
    import json

    import pyarrow.parquet as pq

    v1 = events.where((F.col("schema_ver") == 1)).drop("tool")
    v2 = events.where(F.col("schema_ver") == 2)
    v1.write.mode("append").partitionBy("seg").parquet(os.path.join(wal_dir, "v1"))
    v2.write.mode("append").partitionBy("seg").parquet(os.path.join(wal_dir, "v2"))
    # manifest counts come from the WRITTEN files' parquet footers
    # (driver-side metadata reads, same mechanism validate_segment
    # checks against) — a groupBy((ver, seg)).count() over the events
    # frame would be a third full evaluation of the generator
    # expressions, ~1/3 of total generation wall at 64M events, and
    # the completeness token should describe what is on disk anyway
    counts: dict[tuple[str, int], int] = {}
    for ver in ("v1", "v2"):
        vdir = os.path.join(wal_dir, ver)
        if not os.path.isdir(vdir):
            continue
        for d in os.listdir(vdir):
            if not d.startswith("seg="):
                continue
            raw = d.split("seg=", 1)[1]
            if not raw.lstrip("-").isdigit():
                raise ValueError(
                    f"write_wal: unparsable WAL partition dir {ver}/{d!r} — "
                    f"expected seg=<int>; a null/invalid seg value or a stray "
                    f"directory is corrupting the WAL layout"
                )
            seg_id = int(raw)
            n = 0
            for fn in os.listdir(os.path.join(vdir, d)):
                if fn.endswith(".parquet"):
                    n += pq.ParquetFile(
                        os.path.join(vdir, d, fn)
                    ).metadata.num_rows
            counts[(ver, seg_id)] = n
    segs = sorted({s for (_, s) in counts})
    if manifests:
        for (ver, seg), n in counts.items():
            seg_dir = os.path.join(wal_dir, ver, f"seg={seg}")
            if os.path.isdir(seg_dir):
                tmp = os.path.join(seg_dir, "_SEGMENT.json.tmp")
                with open(tmp, "w") as f:
                    json.dump({"seg": seg, "ver": ver, "n_rows": int(n)}, f)
                os.replace(tmp, os.path.join(seg_dir, "_SEGMENT.json"))
    return segs


def validate_segment(wal_dir: str, seg: int) -> tuple[bool, str | None]:
    """Completeness gate for one WAL segment (reference S8 semantics,
    update_gtfs_data_db.py:33-47): every version dir present for the
    segment must carry a producer manifest whose expected row count
    matches the parquet footers' actual total. Pure driver-side metadata
    reads (pyarrow footers) — no Spark job. Returns (ok, reason)."""
    import json

    import pyarrow.parquet as pq

    found_any = False
    for ver in ("v1", "v2"):
        seg_dir = os.path.join(wal_dir, ver, f"seg={seg}")
        if not os.path.isdir(seg_dir):
            continue
        found_any = True
        man_path = os.path.join(seg_dir, "_SEGMENT.json")
        if not os.path.exists(man_path):
            return False, f"{ver}/seg={seg}: missing _SEGMENT.json manifest"
        with open(man_path) as f:
            man = json.load(f)
        files = [
            os.path.join(seg_dir, n)
            for n in os.listdir(seg_dir)
            if n.endswith(".parquet")
        ]
        if any(os.path.getsize(p) == 0 for p in files):
            return False, f"{ver}/seg={seg}: zero-byte data file"
        actual = 0
        for p in files:
            try:
                actual += pq.ParquetFile(p).metadata.num_rows
            except Exception as e:  # noqa: BLE001 - truncated/corrupt footer
                return False, f"{ver}/seg={seg}: unreadable parquet {os.path.basename(p)}: {e}"
        if actual != man["n_rows"]:
            return False, (
                f"{ver}/seg={seg}: incomplete — manifest expects {man['n_rows']} rows, "
                f"files hold {actual}"
            )
    if not found_any:
        return False, f"seg={seg}: no version directory found"
    return True, None


def read_wal_segment(spark: SparkSession, wal_dir: str, seg: int) -> DataFrame:
    """Read one WAL segment across schema versions, aligned to the v2
    envelope (missing ``tool`` → null). This is the registry-driven
    alignment step (SURVEY.md §7 step 6) in its batch form.
    """
    from .schema import CHANGE_EVENTS_SCHEMA

    parts = []
    for ver in ("v1", "v2"):
        p = os.path.join(wal_dir, ver, f"seg={seg}")
        if os.path.isdir(p):
            df = spark.read.parquet(p)
            for field in CHANGE_EVENTS_SCHEMA.fields:
                if field.name not in df.columns:
                    df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
            parts.append(df.select([f.name for f in CHANGE_EVENTS_SCHEMA.fields]))
    if not parts:
        return spark.createDataFrame([], CHANGE_EVENTS_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
