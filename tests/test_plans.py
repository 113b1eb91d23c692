"""Physical-plan assertions: the optimizations SURVEY.md §4 claims are
'built-in' must actually materialize — filters reach the parquet scan,
column pruning narrows ReadSchema, small dims broadcast, dedup
aggregates partially (map-side combine), top-k avoids a full sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from open_bus_gtfs_etl_spark.plans.queries import (
    e1_cosine_topk,
    j3_left_join_null,
    p1_project_filter,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_and_column_pruning(spark):
    df = p1_project_filter(spark, SF)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    # pushed predicates on both filter columns
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # pruned read schema: the scan must NOT read unused columns
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "l_returnflag" not in read_schema and "l_tax" not in read_schema


def test_broadcast_join_chosen(spark):
    plan = _plan(j3_left_join_null(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_dedup_has_partial_aggregation(spark):
    """The keyed LWW dedup must run as partial + final hash aggregation
    of ``max(lsn)`` — the map-side combine before the key exchange IS
    the skew defense at 100 TB (a hot key reaches the exchange as ≤ 1
    row per map task)."""
    from open_bus_gtfs_etl_spark.genlog import generate_events
    from open_bus_gtfs_etl_spark.operators.dedup import lww_dedup_argmax_join

    ev = generate_events(spark, 1000, seed=1)
    w = lww_dedup_argmax_join(
        ev, ["conv_id", "turn_idx"], ["role", "text", "op", "lsn", "ts"]
    )
    lines = _plan(w).splitlines()
    partial = [i for i, ln in enumerate(lines) if "partial_max(lsn" in ln]
    assert partial, "expected partial (map-side) aggregation"
    i = partial[0]
    # plan text lists a child under its parent: the partial aggregate
    # sits directly below the key exchange, the final one directly above
    assert "HashAggregate" in lines[i], lines[i]
    assert "Exchange hashpartitioning(conv_id" in lines[i - 1], lines[i - 1]
    assert "functions=[max(lsn" in lines[i - 2], lines[i - 2]


def test_topk_uses_take_ordered(spark):
    plan = _plan(e1_cosine_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, "top-k must not globally sort"


def test_whole_stage_codegen_active(spark):
    df = p1_project_filter(spark, SF)
    assert "codegen id" in _formatted(df)


def test_bpe_mining_topk_and_partial_agg(spark):
    """v1 must plan as map-side-combined count + TakeOrdered — a global
    sort over the pair vocabulary would be the 100-TB bottleneck."""
    from open_bus_gtfs_etl_spark.plans.queries import v1_bpe_pair_mining

    plan = _plan(v1_bpe_pair_mining(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2


def test_stratified_sample_is_shuffle_free(spark):
    """t8 is a pure per-row filter: zero exchanges, pushdown-friendly."""
    from open_bus_gtfs_etl_spark.plans.queries import t8_stratified_sample

    plan = _plan(t8_stratified_sample(spark, SF))
    assert "Exchange" not in plan


def test_decontamination_no_sort_merge_join(spark):
    """c1's only join is the broadcast benchmark lookup — a sort-merge
    join would mean the doc_id join-back crept back into the plan."""
    from open_bus_gtfs_etl_spark.plans.queries import c1_decontamination

    plan = _plan(c1_decontamination(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sliding_window_partial_agg(spark):
    from open_bus_gtfs_etl_spark.plans.queries import s3_sliding_window

    plan = _plan(s3_sliding_window(spark, SF))
    assert plan.count("HashAggregate") >= 2, "expected partial+final agg"


def test_turn_latency_single_exchange(spark):
    """w6 shuffles once on user_id; the lag window must not add a
    second exchange."""
    from open_bus_gtfs_etl_spark.plans.queries import w6_turn_latency

    plan = _plan(w6_turn_latency(spark, SF))
    assert plan.count("Exchange") == 1


def test_transcript_render_reuses_window_partitioning(spark):
    """m2 must plan ONE exchange: HashPartitioning(user_id) satisfies
    both the LWW window's ClusteredDistribution(user_id, turn) (subset
    rule) and the per-user render aggregation."""
    from open_bus_gtfs_etl_spark.plans.queries import m2_render_transcripts

    plan = _plan(m2_render_transcripts(spark, SF))
    assert plan.count("Exchange") == 1


def test_token_chunking_shuffle_free(spark):
    from open_bus_gtfs_etl_spark.plans.queries import c2_token_chunking

    plan = _plan(c2_token_chunking(spark, SF))
    assert "Exchange" not in plan


def test_snapshot_diff_join_reuses_window_partitioning(spark):
    """m3: one exchange per snapshot window, and the full-outer join on
    the same (user_id, turn) keys must NOT add a third shuffle; the
    cutoff filter must reach snapshot A's scan."""
    from open_bus_gtfs_etl_spark.plans.queries import m3_snapshot_diff

    df = m3_snapshot_diff(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "FullOuter" in plan
    pushed = _formatted(df)
    assert "LessThan(ts" in pushed, "cutoff must push to snapshot A's scan"


def test_scd2_history_single_exchange(spark):
    """m4: the lead() window is the only shuffle — the upsert filter
    runs post-window, adding no exchange."""
    from open_bus_gtfs_etl_spark.plans.queries import m4_scd2_history

    plan = _plan(m4_scd2_history(spark, SF))
    assert plan.count("Exchange") == 1


def test_pii_scrub_shuffle_free(spark):
    """c4 is per-row regexp only — zero exchanges, codegen'd."""
    from open_bus_gtfs_etl_spark.plans.queries import c4_pii_scrub

    df = c4_pii_scrub(spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "codegen id" in _formatted(df)


def test_sequence_packing_single_exchange(spark):
    """v2: HashPartitioning(shard) from the running-sum window must
    also satisfy the (shard, seq_id) aggregation (subset rule) — one
    shuffle total, with map-side partial aggregation."""
    from open_bus_gtfs_etl_spark.plans.queries import v2_sequence_packing

    plan = _plan(v2_sequence_packing(spark, SF))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_cube_single_expand_single_shuffle(spark):
    """a10: all four grouping sets must plan as ONE Expand + one
    aggregation exchange — not a union of four scans."""
    from open_bus_gtfs_etl_spark.plans.queries import a10_cube

    plan = _plan(a10_cube(spark, SF))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1


def test_domain_rebalance_broadcasts_rate_table(spark):
    """c5 must broadcast the ~|strata|-row rate table back onto the
    corpus — a sort-merge join would shuffle the whole corpus by lang
    (skewed and pointless at 100 TB)."""
    from open_bus_gtfs_etl_spark.plans.queries import c5_domain_rebalance

    plan = _plan(c5_domain_rebalance(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_take_ordered_and_partial_agg(spark):
    """t9's top-k must be TakeOrdered (no global sort over the token
    vocabulary) and both aggregation levels map-side combined."""
    from open_bus_gtfs_etl_spark.plans.queries import t9_tfidf

    plan = _plan(t9_tfidf(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_late_event_accounting_single_exchange(spark):
    """s4: HashPartitioning(user_id) from the running-max window
    satisfies the following groupBy(user_id) (subset rule) — one
    exchange total, aggregation map-side combined."""
    from open_bus_gtfs_etl_spark.plans.queries import s4_late_event_accounting

    plan = _plan(s4_late_event_accounting(spark, SF))
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_ttr_two_level_agg_partial(spark):
    """t10: explode pipelines into the (doc,token) partial agg — two
    shuffles total ((doc,token) then doc), both map-side combined,
    never a materialized token table."""
    from open_bus_gtfs_etl_spark.plans.queries import t10_type_token_ratio

    plan = _plan(t10_type_token_ratio(spark, SF))
    assert plan.count("Exchange") == 2
    assert "partial_count" in plan


def test_bigram_topk_take_ordered(spark):
    """t11: top-100 must be TakeOrdered (never a global sort over the
    bigram vocabulary); the count is map-side combined."""
    from open_bus_gtfs_etl_spark.plans.queries import t11_bigram_topk

    plan = _plan(t11_bigram_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_interval_overlap_no_nested_loop(spark):
    """j11 (catalog-level): the overlap join plans as an equi join on
    the bucket key, not Catalyst's native nested loop."""
    from open_bus_gtfs_etl_spark.plans.queries import j11_interval_overlap

    plan = _plan(j11_interval_overlap(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dup_passage_fraction_digest_join(spark):
    """d8: the corpus-count join keys on md5 digests, aggregations are
    map-side combined, and no nested loop appears — passages shuffle
    as fixed-width digests, never as text."""
    from open_bus_gtfs_etl_spark.plans.queries import d8_dup_passage_fraction

    plan = _plan(d8_dup_passage_fraction(spark, SF))
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "md5" in plan


def test_locf_gap_fill_no_extra_window_exchange(spark):
    """w9: two hash shuffles (daily agg, spine bounds) + one broadcast
    for the spine join; the LOCF window reuses the spine's user_id
    partitioning rather than adding a fourth exchange."""
    from open_bus_gtfs_etl_spark.plans.queries import w9_locf_gap_fill

    plan = _plan(w9_locf_gap_fill(spark, SF))
    assert plan.count("Exchange") <= 3
    assert "BroadcastNestedLoopJoin" not in plan


def test_null_safe_join_is_hash_join(spark):
    """j12: eqNullSafe must plan as a hash/sort-merge equi join (the
    key hashes as an (isnull, value) pair), never a nested loop."""
    from open_bus_gtfs_etl_spark.plans.queries import j12_null_safe_join

    plan = _plan(j12_null_safe_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_streaks_island_plan(spark):
    """w10: distinct shuffles on (user_id, day), the island window and
    both rollups reuse user_id-compatible clustering — two exchanges
    total, no self-join."""
    from open_bus_gtfs_etl_spark.plans.queries import w10_activity_streaks

    plan = _plan(w10_activity_streaks(spark, SF))
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_changelog_compaction_single_shuffle(spark):
    """m5: the ascending and descending rn windows share one
    (user_id, turn) exchange and the rollup reuses it — one shuffle
    for first+last+rollup."""
    from open_bus_gtfs_etl_spark.plans.queries import m5_changelog_compaction

    plan = _plan(m5_changelog_compaction(spark, SF))
    assert plan.count("Exchange") == 1


def test_mor_read_view_anti_join_and_delta_only_window(spark):
    """m6: the base snapshot must NOT pass through a window — the only
    Window node sits over the delta (orders) side, and the base is
    resolved by a broadcast ANTI join on the key."""
    from open_bus_gtfs_etl_spark.plans.queries import m6_mor_read_view

    plan = _plan(m6_mor_read_view(spark, SF))
    assert "LeftAnti" in plan, plan
    # every Window node partitions by the DELTA key (o_custkey) — the
    # base (customer) is never window-scanned; and the top-1 is pushed
    # into WindowGroupLimit so the delta sort never materializes ranks
    # beyond the winner
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("o_custkey" in ln for ln in win_lines), plan
    assert "WindowGroupLimit" in plan, plan


def test_containment_pairs_digest_join_no_cartesian(spark):
    """d9: candidates come from the shingle-digest equi-join — no
    cartesian/nested-loop product anywhere in the plan."""
    from open_bus_gtfs_etl_spark.plans.queries import d9_containment_pairs

    plan = _plan(d9_containment_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_split_assignment_shuffle_free_scan(spark):
    """v3's split column is a pure per-row expression: the pre-agg scan
    stage carries no Exchange before the single group-by shuffle."""
    from open_bus_gtfs_etl_spark.plans.queries import v3_split_assignment

    plan = _plan(v3_split_assignment(spark, SF))
    assert plan.count("Exchange") == 1, plan


def test_column_profile_single_scan(spark):
    """a14: all distinct/null aggregates ride ONE scan of events —
    multi-distinct plans as Expand + two-level agg, never k rescans."""
    from open_bus_gtfs_etl_spark.plans.queries import a14_column_profile

    plan = _plan(a14_column_profile(spark, SF))
    assert plan.count("FileScan") == 1, plan
    assert "Expand" in plan, plan


def test_cluster_quality_broadcasts_centroids(spark):
    """e5: the member→centroid join broadcasts the |labels|-row
    centroid frame; members never shuffle for it."""
    from open_bus_gtfs_etl_spark.plans.queries import e5_cluster_quality

    plan = _plan(e5_cluster_quality(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the |labels|² separation join is non-equi (label != label_b) and
    # correctly plans as a broadcast nested loop over the TINY centroid
    # frame — what must NOT appear is a sort-merge join anywhere
    assert "SortMergeJoin" not in plan, plan


def test_funnel_single_window_exchange(spark):
    """w13: both qualification flags ride ONE (user_id) exchange — two
    Window nodes share the sort; the only other shuffles belong to the
    final multi-distinct aggregate (Expand plan), never a fact rescan
    or a join."""
    from open_bus_gtfs_etl_spark.plans.queries import w13_funnel_subsequence

    plan = _plan(w13_funnel_subsequence(spark, SF))
    assert plan.count("Window") >= 2, plan
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    # one exchange for the windows + the distinct-agg's own exchanges
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_quantile_trim_broadcasts_group_frame(spark):
    """c6: the per-source quantile frame (one row per group) must come
    back onto the corpus as a BROADCAST hash join — a second shuffle of
    the corpus on the group key would double the operator's cost at
    100 TB — and the final rollup must combine map-side."""
    from open_bus_gtfs_etl_spark.plans.queries import c6_quantile_trim

    plan = _plan(c6_quantile_trim(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_salted_join_spreads_hot_key(spark):
    """j13: the salt must actually be in the join keys, the dim must be
    replicated by explode (Generate), and the join must NOT be a
    broadcast — a broadcast would silently skip the path under test
    (the operator exists for dims that outgrow broadcast)."""
    from open_bus_gtfs_etl_spark.plans.queries import j13_salted_skew_join

    plan = _plan(j13_salted_skew_join(spark, SF))
    assert "_salt" in plan, plan
    assert "Generate explode" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_schema_evolution_union_single_exchange(spark):
    """m8: aligning the pre-evolution branch is a pure projection and
    the union must flow into the LWW window's ONE exchange — evolution
    may not add a shuffle or a second scan pass per version."""
    from open_bus_gtfs_etl_spark.plans.queries import m8_schema_evolution_cdc

    plan = _plan(m8_schema_evolution_cdc(spark, SF))
    assert "Union" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_sampled_ntile_no_full_table_sort(spark):
    """w8b: the whole point of the sampled-boundary form is that NO
    sort or single-partition exchange ever touches the full table —
    the only Sort feeds the row_number window over the LCG-FILTERED
    sample (the filter must be pushed into that scan's DataFilters),
    and the boundary array must come back as a 1-row broadcast
    (BroadcastNestedLoopJoin is fine — the build side is one row)."""
    import re

    from open_bus_gtfs_etl_spark.plans.queries import w8b_ntile_sampled

    plan = _plan(w8b_ntile_sampled(spark, SF))
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    # the sample-side scan carries the LCG filter; the full-table scan
    # (assignment side) reads only o_totalprice
    assert "pmod" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    full_scan = [
        seg for seg in plan.split("FileScan parquet ")
        if seg.startswith("[o_totalprice")
    ]
    assert full_scan, plan
