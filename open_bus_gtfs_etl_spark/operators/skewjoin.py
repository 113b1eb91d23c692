"""Explicit skew-salted equi-join: replicate-the-dim, salt-the-facts.

The north rule's "hot-conversation skew handled by salted
repartitioning" applied to the JOIN operator itself (the merge path's
dedup needs no salting: its argmax partial aggregation combines a hot
key map-side, operators/dedup.py): when the build
side is too large to broadcast and the probe side's join key is
skewed, a plain shuffle join sends every row of a hot key to ONE
reducer — at 100 TB a single hot domain/conversation key can be
hundreds of GB on one task. AQE's skew-join split only helps
sort-merge joins on sizes it can observe post-shuffle; this operator
makes the mitigation explicit and deterministic instead:

- every probe row gets ``salt = pmod(xxhash64(salt_cols), n_salts)``,
  computed from columns that spread WITHIN a key (the row identity),
  so a hot key's rows land on ``n_salts`` distinct reducers;
- the dim side is replicated ``n_salts`` times with
  ``explode(sequence(0, n_salts-1))`` — the classic
  replicate-broadcast-free recipe (dim shuffle volume grows
  ``n_salts``×, which is the knob: salt just wide enough to flatten
  the hottest key below the per-task budget);
- the join key becomes ``(key, salt)`` — an ordinary equi-join
  Catalyst plans as a shuffle hash join, every partition now bounded
  by ``hot_key_rows / n_salts``.

Row-for-row identical to the unsalted join (each probe row matches
exactly the one dim replica carrying its salt) — property-tested in
tests/test_skewjoin.py and oracle-checked as catalog entry ``j13``.

Reference parity: the reference joins route/trip/stop frames in
pandas where one process sees all rows and skew is invisible
(load_stop_times_to_db.py:48-63); this is the shape that survives the
same join when a key is hot and the dim outgrows a broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    on: list[str],
    salt_cols: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ dim`` on ``on`` with explicit skew salting.

    ``salt_cols`` must identify spread WITHIN a join key on the big
    side (e.g. the fact's primary key): the salt is
    ``pmod(xxhash64(*salt_cols), n_salts)`` — deterministic, so the
    plan is reproducible run-to-run (a ``rand()`` salt is not, and
    breaks retry idempotence). The dim side is exploded into
    ``n_salts`` replicas and hinted ``shuffle_hash``: the operator
    exists precisely for dims too big to broadcast, and without the
    hint AQE would broadcast a small test dim and silently skip the
    path under test.

    Returns ``big``'s rows joined to ``dim``'s non-key columns, salt
    column dropped — same contract as ``big.join(dim, on, how)`` for
    the big-side-preserving modes listed below.

    ``how`` is restricted to ``inner | left | left_semi | left_anti``:
    the dim side is replicated ``n_salts`` times, so any mode that
    emits dim rows without a big-side match (right/full/outer) would
    emit each unmatched dim key once PER REPLICA plus spurious
    null-padded rows for salt buckets with no big rows — silently
    wrong. To salt a right join, swap the arguments.
    """
    salt_safe = {"inner", "left", "left_outer", "leftouter", "left_semi",
                 "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in salt_safe:
        raise ValueError(
            f"salted_join: how={how!r} is not salt-safe — dim-side replication "
            f"breaks right/full/outer joins (unmatched dim keys would appear "
            f"n_salts times). Allowed: inner, left, left_semi, left_anti; "
            f"swap the arguments to salt a right join."
        )
    if not 1 <= n_salts <= 4096:
        raise ValueError(f"n_salts must be in [1, 4096], got {n_salts}")
    for frame, name in ((big, "big"), (dim, "dim")):
        if "_salt" in frame.columns:
            raise ValueError(
                f"salted_join: {name} side already has a '_salt' column — "
                f"it would be silently overwritten and dropped; rename it first"
            )
    salt: Column = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts))
    b = big.withColumn("_salt", salt.cast("int"))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).hint("shuffle_hash")
    return b.join(d, on + ["_salt"], how).drop("_salt")
