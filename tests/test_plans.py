"""Physical-plan invariants (SCALE.md): the plans Catalyst picks for our
queries must stay the plans that survive 100 TB.  A regression here (lost
pushdown, a BNLJ, a global sort) is a scale bug even when results stay
correct."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_scan_pruned_pushdown_and_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_scan_pruned")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThanOrEqual(l_shipdate" in m.group(1)
    assert "LessThan(l_quantity" in m.group(1)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["l_orderkey", "l_quantity", "l_shipdate"]


def test_dimension_join_broadcasts(spark, sf_dir):
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, "q_join_broadcast")


def test_large_join_is_sort_merge(spark, sf_dir):
    assert "SortMergeJoin" in _plan(spark, sf_dir, "q_join_sortmerge")


def test_topk_is_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "q_topk")


def test_group_topk_gets_window_group_limit(spark, sf_dir):
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "q_win_topk_group")


def test_flagship_agg_is_partial_plus_final(spark, sf_dir):
    assert _plan(spark, sf_dir, "q_agg_groupby").count("HashAggregate") >= 2


def test_theta_join_keeps_equi_anchor(spark, sf_dir):
    """The band predicate must ride as residual on a hash/merge join —
    never a nested-loop over both sides."""
    p = _plan(spark, sf_dir, "q_join_theta_range")
    assert "NestedLoop" not in p or "BroadcastNestedLoop" in p
    assert ("SortMergeJoin" in p) or ("HashJoin" in p)


def test_asof_join_single_window_shuffle(spark, sf_dir):
    """Union + one window: at most the window's Exchange per branch, no
    join operator at all (the cross-product formulation would show one)."""
    p = _plan(spark, sf_dir, "q_join_asof")
    assert "Join" not in p.replace("WindowGroupLimit", "")  # no join operator
    assert p.count("Window") >= 1


def test_no_cartesian_in_blocked_dedup(spark, sf_dir):
    assert "CartesianProduct" not in _plan(spark, sf_dir, "q_llm_minhash_jaccard")


@pytest.mark.parametrize("name", ["q_llm_cosine_topk", "q_llm_knn_label"])
def test_cosine_broadcasts_query_side(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "Broadcast" in p  # corpus never shuffles for the query join


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Co-located bucketed join: no hash-partitioning Exchange feeds the
    SortMergeJoin (the only shuffle left is the final groupBy's)."""
    p = _plan(spark, sf_dir, "q_join_bucketed")
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2
    # the ONLY shuffle is the post-join groupBy's (on o_orderstatus);
    # neither join key is ever hash-partitioned
    assert "hashpartitioning(l_orderkey" not in p
    assert "hashpartitioning(o_orderkey" not in p


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """Dynamic partition pruning: the fact scan's PartitionFilters must
    carry a dynamicpruning subquery driven by the dim side."""
    p = _plan(spark, sf_dir, "q_scan_dpp")
    assert "dynamicpruning" in p.lower(), p[:2000]


def test_forecast_revenue_filters_pushed(spark, sf_dir):
    """Q6 shape is the pushdown showcase: all three predicates must reach
    the Parquet scan and only the needed columns are read."""
    p = _plan(spark, sf_dir, "q_analytics_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_shipdate" in m.group(1) and "l_discount" in m.group(1)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]


def test_blocking_supplier_self_joins_stay_hashed(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS self joins must anchor on the l_orderkey
    equi key (hash or merge), never degrade to a nested loop."""
    p = _plan(spark, sf_dir, "q_analytics_blocking_supplier")
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_ivf_assignment_partial_aggregates(spark, sf_dir):
    """IVF coarse assignment: centroids broadcast; the argmax runs as
    partial+final HashAggregate so the shuffle carries one row per
    vector, not one per (vector, centroid)."""
    p = _plan(spark, sf_dir, "q_llm_ann_ivf")
    assert "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2 or p.count("SortAggregate") >= 2
    assert "CartesianProduct" not in p


def test_kmeans_step_assignment_partial_aggregates(spark, sf_dir):
    """kmeans_step shares ann_ivf's assignment: fixed-K centroids
    broadcast, argmax as partial+final aggregate, no cartesian product
    (the r9 fixed-K codebook must not change the plan shape)."""
    p = _plan(spark, sf_dir, "q_llm_kmeans_step")
    assert "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2 or p.count("SortAggregate") >= 2
    assert "CartesianProduct" not in p


def test_semdedup_incell_pairing_is_equi_join(spark, sf_dir):
    """semdedup's quadratic pairing must stay confined to a cell-local
    EQUI self-join (shuffle on cell id) — never a cartesian product over
    the corpus."""
    p = _plan(spark, sf_dir, "q_llm_semdedup")
    assert "CartesianProduct" not in p
    assert "hashpartitioning(" in p or "BroadcastHashJoin" in p


def test_semdedup_scale_assignment_shape(spark, sf_dir):
    """The ANN-assisted semdedup assignment (the 100 TB form) must fetch
    centroid candidates through an EQUI shuffle on (table, bucket) with
    NO broadcast anywhere — every side is corpus-proportional (vectors,
    and centroids at n/71), so a broadcast here is a corpus-sized
    broadcast — and the argmax must partial-aggregate map-side.
    Broadcasts are judged with AQE's small-input shortcut disabled: at
    test SF everything fits a broadcast, which is exactly the plan that
    dies at scale."""
    from mu_swarm_logger_service_spark.llm.clustering import (
        _semdedup_scale_assign)

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, assign = _semdedup_scale_assign(spark, sf_dir)
        p = assign._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastExchange" not in p          # no corpus-sized broadcast
    assert re.search(r"hashpartitioning\(table\S*, bucket\S*", p), \
        "candidate fetch lost the (table, bucket) equi shuffle"
    assert p.count("HashAggregate") >= 2 or p.count("SortAggregate") >= 2


def test_semdedup_scale_assignment_materialized_once(spark, sf_dir):
    """The assignment feeds four plan arms; the registered query must
    checkpoint it so the final plan re-reads the materialized RDD, not
    the LSH shuffle per arm — exactly one parquet scan may remain (the
    corpus re-read for NULL-cell singletons)."""
    p = _plan(spark, sf_dir, "q_llm_semdedup_scale")
    # formatted mode prints each node twice (tree line + detail header);
    # count the numbered detail headers only.
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_decontaminate_broadcasts_eval_hashes(spark, sf_dir):
    """The eval fingerprint set must broadcast — the training-corpus side
    (the 100 TB side) never shuffles for the contamination probe."""
    p = _plan(spark, sf_dir, "q_llm_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ngram_topk_gets_window_group_limit(spark, sf_dir):
    """Per-language top-10 bigrams must rank-limit map-side, not sort
    whole per-language count lists through the window."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "q_llm_ngram_stats")


def test_gapfill_spine_broadcasts(spark, sf_dir):
    """The generated hour spine joins the sparse counts by broadcast —
    at 100 TB the spine stays ~10^4 rows/year while counts grow."""
    assert "Broadcast" in _plan(spark, sf_dir, "q_ts_gapfill")


def test_min_cost_supplier_single_fact_shuffle(spark, sf_dir):
    """TPC-H-Q2 analog: dims broadcast; the partkey pre-partitioning is
    reused by both the (partkey, suppkey) aggregate and the per-part
    min-rank window — exactly one non-broadcast exchange."""
    p = _plan(spark, sf_dir, "q_analytics_min_cost_supplier")
    assert len(re.findall(r"\+- Exchange ", p)) == 1
    assert len(re.findall(r"BroadcastExchange \(", p)) >= 2


def test_dominant_supplier_agg_and_window_share_shuffle(spark, sf_dir):
    """TPC-H-Q20 analog: the (partkey, suppkey) aggregate and the
    per-part total window share the partkey exchange; the only other
    exchange is the tiny final supplier count."""
    p = _plan(spark, sf_dir, "q_analytics_dominant_supplier")
    assert len(re.findall(r"\+- Exchange ", p)) == 2


def test_retention_is_windowed_not_self_joined(spark, sf_dir):
    """Cohort retention must not self-join the fact (a join formulation
    scans events twice and broadcasts a per-user table that is huge at
    real scale): one scan, no joins, user_id exchange + final count."""
    p = _plan(spark, sf_dir, "q_ts_retention")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert len(re.findall(r"\+- Exchange ", p)) == 2


def test_banded_range_join_is_not_nested_loop(spark, sf_dir):
    """The anchor-free range join must band-bucket into an equi join —
    a BroadcastNestedLoopJoin here is O(n*m) at any scale."""
    p = _plan(spark, sf_dir, "q_join_banded")
    assert "BroadcastNestedLoopJoin" not in p
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)


def test_acf_lag_pairing_broadcasts(spark, sf_dir):
    """The hourly rollup is tiny (types x hours) — pairing it against
    itself must be broadcast hash joins, never SMJ/BNLJ over exchanges."""
    p = _plan(spark, sf_dir, "q_ts_acf")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Packing = one running-sum window over one exchange on lang; the
    projection math adds no further shuffle."""
    p = _plan(spark, sf_dir, "q_llm_pack_sequences")
    assert len(re.findall(r"\+- Exchange ", p)) == 1


def test_bpe_pairs_partial_aggregates(spark, sf_dir):
    """Pair counting must map-side combine before the (lang, pair)
    shuffle — at 100 TB the pre-aggregation is what bounds shuffle bytes
    by vocabulary size rather than corpus size."""
    p = _plan(spark, sf_dir, "q_llm_bpe_pairs")
    assert p.count("HashAggregate") >= 2
    assert "WindowGroupLimit" in p


def test_cdc_diff_is_full_outer_smj(spark, sf_dir):
    """Snapshot diff must plan as ONE sort-merge FullOuter join of the
    two snapshot scans — the shape that stays a per-bucket zipper when
    the snapshots are bucketed by key at real scale."""
    p = _plan(spark, sf_dir, "q_cdc_snapshot_diff")
    assert "SortMergeJoin FullOuter" in p or (
        "SortMergeJoin" in p and "FullOuter" in p)
    assert "BroadcastNestedLoop" not in p


# (The atomic-output-columns invariant that lived here until round 7 is
# superseded by tests/test_registry_contract.py, which additionally bans
# BinaryType — the omission that let q_fn_encode red a driver row in r6 —
# and avoids a second full-registry DataFrame build in the suite.)


def test_reservoir_sample_gets_window_group_limit(spark, sf_dir):
    """Bottom-k-by-hash-tag sampling must keep only k rows per group on
    the map side (WindowGroupLimit) — the exchange carries O(groups*k),
    not the corpus."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "q_sketch_reservoir")


def test_bloom_sketch_broadcasts_and_partial_aggregates(spark, sf_dir):
    """The 16-row filter must broadcast to the probe side, and the bit_or
    build must partial-aggregate map-side (shuffle carries the sketch)."""
    p = _plan(spark, sf_dir, "q_sketch_bloom")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_sample_gate_filters_at_scan_stage(spark, sf_dir):
    """The hash gate must sit below the aggregate (scan-stage Filter), so
    downstream cost scales with the sample, not the table."""
    p = _plan(spark, sf_dir, "q_sketch_sample")
    filter_pos = p.find("Filter")
    agg_pos = p.find("HashAggregate")
    assert filter_pos != -1 and agg_pos != -1
    # formatted explain lists operators leaves-last; the Filter must be
    # numbered deeper (appear later) than the final aggregate
    assert filter_pos > agg_pos


def test_bitmap_distinct_partial_aggregates(spark, sf_dir):
    """Both the word-level bit_or and the popcount rollup must run
    partial+final — the whole point is O(words) shuffle."""
    p = _plan(spark, sf_dir, "q_sketch_bitmap_distinct")
    assert p.count("HashAggregate") >= 4


def test_scd2_windows_share_one_sort(spark, sf_dir):
    """Both window passes (lag to collapse runs, lead to close versions)
    key and order identically, so the plan must carry exactly ONE
    user_id exchange — the history rebuild is a single shuffle."""
    p = _plan(spark, sf_dir, "q_cdc_scd2")
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 1


def test_incremental_dedup_single_hash_exchange(spark, sf_dir):
    """The corpus-probe join and the within-batch keeper window both key
    on content_hash: the batch side must shuffle once, with the window
    reusing the join's partitioning (no second batch-side exchange)."""
    p = _plan(spark, sf_dir, "q_llm_incremental_dedup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # exactly two content_hash exchanges: one for the corpus-build distinct
    # branch, one shared by the batch side's join AND keeper window.
    assert len(re.findall(r"hashpartitioning\(content_hash", p)) == 2


def test_matryoshka_broadcasts_queries_single_ranking_exchange(spark, sf_dir):
    """The query set must broadcast (the broadcast nested-loop with the
    tiny query side IS the intended shape, same as q_llm_cosine_topk —
    corpus scanned once, never shuffled for the pairing) and both
    rankings must ride ONE q_id exchange — the truncated cosine adds no
    pass over the corpus."""
    p = _plan(spark, sf_dir, "q_llm_matryoshka")
    assert "BroadcastExchange" in p
    assert len(re.findall(r"hashpartitioning\(q_id", p)) == 1


def test_stratified_gate_is_scan_stage_filterless_single_agg(spark, sf_dir):
    """Per-stratum sampling must stay one scan + partial/final aggregate:
    the rate lookup is an inline expression, never a per-stratum pass or
    join."""
    p = _plan(spark, sf_dir, "q_sketch_stratified")
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p


def test_prefix_filter_join_is_equi_not_quadratic(spark, sf_dir):
    """The PPJoin-style candidate build must be an equi join on the
    exploded prefix token — never a nested-loop/cartesian pairing — and
    the verify stage keeps the pinned-parallelism exchange."""
    p = _plan(spark, sf_dir, "q_llm_prefix_filter_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "REPARTITION_BY_NUM" in p


def test_market_basket_no_cartesian_pairing(spark, sf_dir):
    """Pairs come from the user_id-keyed self join (bounded by each
    user's own type set); the only nested-loop allowed is the 1-row
    scalar n_users attach — never a cartesian of the incidence."""
    p = _plan(spark, sf_dir, "q_analytics_market_basket")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # supports attach by broadcast


def test_multi_touch_keeps_equi_anchor_and_window(spark, sf_dir):
    """The banded attribution join must anchor on user_id (residual time
    band, no nested loop over both streams); credit needs exactly one
    purchase_id count window."""
    p = _plan(spark, sf_dir, "q_ts_multi_touch")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Window" in p


def test_embedding_drift_single_aggregate_no_join(spark, sf_dir):
    """Both halves' means ride ONE conditional aggregate over the
    pos-explode — no self-join of the halves, no second scan."""
    p = _plan(spark, sf_dir, "q_llm_embedding_drift")
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2  # partial + final
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_sliding_distinct_expands_then_two_phase(spark, sf_dir):
    """Windowed DISTINCT must plan as Expand (4 window copies) into a
    two-phase aggregate whose first phase dedups (window, user) pairs
    map-side — the shuffle carries pairs, not events."""
    p = _plan(spark, sf_dir, "q_ts_sliding_distinct")
    assert "Expand" in p
    assert p.count("HashAggregate") >= 4  # dedup phase + count phase


def test_rrf_fusion_broadcasts_and_single_ranking_exchange(spark, sf_dir):
    """Same contract as matryoshka: query set broadcast (corpus never
    shuffles for the pairing), all three rankings on ONE q_id exchange."""
    p = _plan(spark, sf_dir, "q_llm_rrf_fusion")
    assert "BroadcastExchange" in p
    assert len(re.findall(r"hashpartitioning\(q_id", p)) == 1


def test_pq_encode_is_narrow_map(spark, sf_dir):
    """PQ encode must be a zero-shuffle narrow map over the corpus scan:
    the only exchange allowed is the broadcast of the 1-row codebook.
    Any other Exchange means the encode stopped pipelining — at 100 TB
    that is the difference between a free pass and a full shuffle."""
    p = _plan(spark, sf_dir, "q_llm_pq_encode")
    assert "BroadcastExchange" in p
    # formatted-mode plans spell exchanges as "Arguments: hashpartitioning(...)"
    assert "hashpartitioning(" not in p
    assert "rangepartitioning(" not in p


def test_ann_pq_broadcasts_queries_and_limits_rank(spark, sf_dir):
    """ADC search: query set + codebook broadcast (corpus scanned once,
    never shuffled pre-rank) and the per-query top-k must get the
    WindowGroupLimit pushdown so only k rows per query survive the map
    side of the rank shuffle."""
    p = _plan(spark, sf_dir, "q_llm_ann_pq")
    assert p.count("BroadcastExchange") >= 2
    assert "WindowGroupLimit" in p


def test_heavy_hitters_shuffle_is_sketch_sized(spark, sf_dir):
    """The MG merge must aggregate partials (map-side combine) and the
    final decrement must ride a broadcast, not shuffle the corpus: the
    only hash exchanges allowed are the deterministic shard groupBy and
    the per-item merge."""
    p = _plan(spark, sf_dir, "q_sketch_heavy_hitters")
    assert "BroadcastExchange" in p
    # 4 hash exchanges: the corpus-sized shard groupBy (by design), and
    # sketch-sized (≤ k·shards rows) item merges — the decrement branch
    # recomputes the 512-row merge, which is free at any scale.
    assert p.count("hashpartitioning(") <= 4


def test_sessionize_single_user_shuffle(spark, sf_dir):
    """Batch sessionization: exactly ONE hash exchange (on user_id) feeds
    both windows AND the (user_id, session_id) groupBy — session_id is a
    refinement of the user partitioning, so Catalyst must not insert a
    second exchange.  Two exchanges would double the 100 TB shuffle."""
    p = _plan(spark, sf_dir, "q_ts_sessionize")
    assert p.count("hashpartitioning(") == 1


def test_paragraph_dedup_shuffles_spans_not_pairs(spark, sf_dir):
    """Span dedup must be explode → window-on-span → reassemble: hash
    exchanges only (span key + doc_id groupBys), no join of documents
    against documents (SortMergeJoin on doc_id is the reassembly join of
    two SMALL per-doc aggregates, never a pairwise candidate join)."""
    p = _plan(spark, sf_dir, "q_llm_paragraph_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_url_dedup_is_single_aggregate(spark, sf_dir):
    """URL canonicalization dedup: narrow parse/normalize projection plus
    one partial+final aggregate on the canonical key — a single hash
    exchange, no join anywhere."""
    p = _plan(spark, sf_dir, "q_llm_url_dedup")
    assert p.count("hashpartitioning(") == 1
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2


def test_weighted_sample_prefix_sum_is_two_phase(spark, sf_dir):
    """The cumulative-weight line must come from the two-phase scan: the
    phase-3 window is PARTITIONED on the block key (hashpartitioning on g)
    and offsets/total ride broadcasts.  A naive global cumsum would show a
    single-partition window over the corpus scan and no block
    partitioning."""
    p = _plan(spark, sf_dir, "q_sketch_weighted_sample")
    assert "hashpartitioning(g" in p
    assert p.count("BroadcastExchange") >= 2


def test_lateral_join_is_decorrelated(spark, sf_dir):
    """Catalyst must decorrelate the LATERAL top-2 subquery into a
    join + per-key rank window — a correlated re-execution per outer row
    would be O(outer × inner-scan) at any scale."""
    p = _plan(spark, sf_dir, "q_sql_lateral")
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_unpivot_is_single_scan_expand(spark, sf_dir):
    """UNPIVOT must plan as ONE lineitem scan feeding an Expand node —
    not the 4-scan UNION ALL the oracle hand-writes."""
    p = _plan(spark, sf_dir, "q_sql_unpivot")
    assert "Expand" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_skyline_phase1_is_block_partitioned(spark, sf_dir):
    """The skyline sweep must run its first pass inside hash blocks
    (window partitioned on blk) — the corpus never single-partition
    sorts; only the frontier-sized phase-2 sweep may."""
    p = _plan(spark, sf_dir, "q_analytics_skyline")
    assert "hashpartitioning(blk" in p
    assert p.count("SinglePartition") <= 1


def test_merge_upsert_shuffles_change_batch_not_base(spark, sf_dir):
    """MERGE's dedup window must partition on the CHANGE key (event_id) —
    change-batch-sized work — and the base join must be a real hash/merge
    join, never a nested loop (which would scan base per change row)."""
    p = _plan(spark, sf_dir, "q_cdc_merge_upsert")
    assert "hashpartitioning(event_id" in p
    assert "Window" in p
    assert ("SortMergeJoin" in p) or ("HashJoin" in p)
    assert "NestedLoop" not in p


def test_expectations_suite_is_one_scan(spark, sf_dir):
    """The whole expectations suite must cost ONE orders scan + a
    single-row aggregate (every rule an agg expression, uniqueness riding
    the same pass), then Expand/stack into report rows — never one scan
    per rule like the oracle's UNION ALL form."""
    p = _plan(spark, sf_dir, "q_audit_expectations")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "HashAggregate" in p
    assert "Join" not in p


def test_k_anonymity_single_aggregation_no_join(spark, sf_dir):
    """The k-anonymity audit is ONE groupBy on the quasi-identifier tuple
    with map-side partials — one exchange, no join, no window."""
    p = _plan(spark, sf_dir, "q_llm_k_anonymity")
    assert p.count("hashpartitioning(") == 1
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p


def test_embed_moments_one_scan_dim_partials_only(spark, sf_dir):
    """The moment statistics must be ONE corpus scan reduced map-side to
    d partial rows per partition, shuffled ONLY on the dim key — never a
    shuffle that scales with the corpus, never a join.  (r12: the old
    128-wide-accumulator single-row form was pinned at zero shuffles,
    but 257 aggregate-buffer fields exceed codegen.maxFields so it ran
    interpreted at ~3 ms/row; the per-dim partial-aggregation form is
    ×6 and its dim shuffle is d rows per map partition — see
    llm/similarity._per_dim_moments.)"""
    p = _plan(spark, sf_dir, "q_llm_embed_moments")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert p.count("hashpartitioning(dim") == 1
    assert p.count("hashpartitioning(") == 1      # ...and no other key
    # partial + final aggregate pair around the dim exchange
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2
    assert "Join" not in p


def test_embed_whiten_broadcasts_stats_never_shuffles_corpus(spark, sf_dir):
    """Fit/transform split: the stats side (per-dim partials → one row of
    d-sorted arrays) must ride a broadcast onto the transform scan; the
    corpus itself is never hash-shuffled (the only hashpartitioning is
    the d-row dim-partial exchange inside the fit side)."""
    p = _plan(spark, sf_dir, "q_llm_embed_whiten")
    assert "BroadcastExchange" in p
    assert p.count("hashpartitioning(dim") == 1
    assert p.count("hashpartitioning(") == 1


def test_gini_windows_over_rollup_not_orders(spark, sf_dir):
    """Gini's rank window must run over the (nation, customer) rollup
    partitioned by nation — dimension joins broadcast, the fact shuffles
    once into the rollup, and no global single-partition sort appears."""
    p = _plan(spark, sf_dir, "q_analytics_revenue_gini")
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(nation" in p
    assert "SinglePartition" not in p


def test_linreg_is_one_pass_moment_aggregate(spark, sf_dir):
    """The regression family must be ONE scan + ONE grouped aggregate
    carrying the moment sums (map-side partials) — no sort, no join, no
    second pass."""
    p = _plan(spark, sf_dir, "q_agg_linreg")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p and "Sort" not in p


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    """Both sides are written bucketBy(8, custkey).sortBy(custkey), so
    with broadcast disabled the equi-join must plan as a SortMergeJoin
    with ZERO shuffle exchanges and no per-side Sort — the entire point
    of paying the bucketed layout at write time.  (The final groupBy
    rollup's exchange is allowed: assert no exchange between the scans
    and the join by requiring exactly one hashpartitioning — the
    rollup's.)"""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(spark, sf_dir, "q_sink_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in p
    assert p.count("hashpartitioning(") == 1  # only the rollup shuffles


def test_bm25_broadcasts_query_side_and_ranks_with_group_limit(spark, sf_dir):
    """BM25's only wide work must be query-term-sized: the query terms /
    df / 1-row stats all broadcast, the token stream is pruned by a
    broadcast semi-join BEFORE the posting aggregation, the ranking gets
    the WindowGroupLimit pushdown, and there is no corpus-sized
    shuffle join (the document length rides through the explode instead
    of joining dl back onto postings)."""
    p = _plan(spark, sf_dir, "q_llm_bm25_topk")
    assert p.count("BroadcastHashJoin") >= 3   # semi-prune, qterms, df
    assert "WindowGroupLimit" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_bucketed_sink_recreates_missing_half(spark, sf_dir):
    """Round-6 advice regression pin: q_sink_bucketed once guarded BOTH
    bucketed-table writes behind tableExists(orders) alone, so a session
    that died between the two saveAsTable calls (orders created, customer
    not) skipped creation forever after and failed at spark.table(cust).
    Simulate exactly that state — drop the customer table while leaving
    orders — and assert the query transparently recreates it."""
    QUERIES["q_sink_bucketed"](spark, sf_dir).count()   # ensure both exist
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    t_cust = f"bkt_customer_{tag}"
    spark.sql(f"DROP TABLE {t_cust}")
    assert not spark.catalog.tableExists(t_cust)
    assert QUERIES["q_sink_bucketed"](spark, sf_dir).count() > 0
    assert spark.catalog.tableExists(t_cust)


def test_kmv_partial_cut_is_map_side_and_merge_join_broadcasts(spark, sf_dir):
    """The KMV sketch's scale contract: every window cut gets the
    WindowGroupLimit pushdown (a partial bottom-K runs map-side before
    each exchange, so shuffles carry <= K rows per (group, shard)), and
    the sketch/exact combine at the end is a broadcast join — five
    sketch rows must never force a sort-merge."""
    p = _plan(spark, sf_dir, "q_sketch_kmv")
    assert p.count("WindowGroupLimit") >= 4   # partial+final per window
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_weighted_median_one_shuffle_on_group_key(spark, sf_dir):
    """Both windows (running weight + group total) and the final rollup
    must share ONE hashpartitioning on the group key — one fact shuffle,
    one sort, no join, no global sort."""
    p = _plan(spark, sf_dir, "q_agg_weighted_median")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(l_returnflag" in p
    assert "SinglePartition" not in p and "Join" not in p


def test_streaks_single_user_shuffle(spark, sf_dir):
    """Distinct, island window, and both rollups must ride one user_id
    exchange — the single-fact-shuffle floor for per-user sequences."""
    p = _plan(spark, sf_dir, "q_ts_streaks")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p


def test_cross_corr_single_scan_no_self_join(spark, sf_dir):
    """The lag lattice must come from lead() columns over the aggregated
    day series, NOT from re-scanning events for bounds/calendar/shifted
    copies (the naive shape planned FOUR scans).  The one allowed
    SinglePartition is the span-sized series window."""
    p = _plan(spark, sf_dir, "q_ts_cross_corr")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p


def test_winnowing_one_doc_shuffle(spark, sf_dir):
    """Shingle hashing, the window MIN selection, and the fingerprint
    distinct must all be per-doc narrow work after a single doc_id
    exchange (the distinct re-uses the doc_id partitioning)."""
    p = _plan(spark, sf_dir, "q_llm_winnowing")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "hashpartitioning(doc_id" in p
    assert "SinglePartition" not in p and "Join" not in p


def test_normalize_text_stateless_no_shuffle(spark, sf_dir):
    """Unicode canonicalization is a pure narrow pass: one scan, zero
    exchanges, and the UDF must be the Arrow-batched kind."""
    p = _plan(spark, sf_dir, "q_fn_normalize_text")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0
    assert "ArrowEvalPython" in p and "BatchEvalPython" not in p


def test_abc_broadcasts_part_and_windows_over_rollup(spark, sf_dir):
    """The part dim must broadcast into the fact rollup; the ABC windows
    run over the ROLLUP partitioned by brand (rollup-sized shuffle), not
    over lineitem, and nothing collapses to a single partition (global
    Pareto would; per-brand is the scale-sound choice)."""
    p = _plan(spark, sf_dir, "q_analytics_abc")
    assert p.count("BroadcastHashJoin") >= 1
    assert "hashpartitioning(p_brand" in p
    assert "SinglePartition" not in p
    assert "SortMergeJoin" not in p


def test_ab_ttest_one_pass_conditional_moments(spark, sf_dir):
    """Welch t must be ONE scan + ONE grouped aggregate of conditional
    moments — no join of two cohort subqueries, no second pass."""
    p = _plan(spark, sf_dir, "q_agg_ab_ttest")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p


def test_benford_one_scan_tiny_rollup(spark, sf_dir):
    """The Benford audit must be one fact scan into a 45-cell rollup plus
    a priority-partitioned window — no join, no single partition."""
    p = _plan(spark, sf_dir, "q_audit_benford")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "hashpartitioning(o_orderpriority" in p
    assert "Join" not in p and "SinglePartition" not in p


def test_cluster_purity_broadcasts_centroids(spark, sf_dir):
    """Purity's assignment must broadcast the centroid side (the corpus
    never shuffles for the argmax) and the rollups ride cell-sized
    partitions — no sort-merge join, no single partition."""
    p = _plan(spark, sf_dir, "q_llm_cluster_purity")
    assert "BroadcastNestedLoopJoin" in p
    assert "hashpartitioning(cell" in p
    assert "SortMergeJoin" not in p and "SinglePartition" not in p


def test_rank_eval_broadcasts_queries_and_label_histogram(spark, sf_dir):
    """Retrieval eval must broadcast both the query side (corpus never
    shuffles for scoring) and the label histogram; the only exchanges are
    the q_id ranking and the dimension-sized label rollup — and the
    rank-limit pushdown must cap rows before the final shuffle."""
    p = _plan(spark, sf_dir, "q_llm_rank_eval")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "hashpartitioning(q_id" in p
    assert "SortMergeJoin" not in p and "SinglePartition" not in p
    assert "WindowGroupLimit" in p


def test_html_extract_stateless_single_stage(spark, sf_dir):
    """Tag stripping is a pure narrow pass: one scan, zero exchanges —
    it must fuse into the scan stage at any scale."""
    p = _plan(spark, sf_dir, "q_llm_html_extract")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0


def test_hashed_features_two_integer_shuffles(spark, sf_dir):
    """Feature hashing must be exactly the (doc, idx) feature sum plus the
    per-doc rollup — two narrow integer shuffles, no vocabulary join, no
    single partition (the dictionary-free property is the point)."""
    p = _plan(spark, sf_dir, "q_llm_hashed_features")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p and "SinglePartition" not in p


def test_lttb_folds_over_aggregate_not_events(spark, sf_dir):
    """The LTTB recurrence must run over the (type, hour) rollup inside a
    JVM higher-order fold: one scan, the rollup + per-type collect
    exchanges, no Python evaluator, no single partition."""
    p = _plan(spark, sf_dir, "q_ts_lttb")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "EvalPython" not in p and "SinglePartition" not in p


def test_rfm_segment_windows_no_global_sort(spark, sf_dir):
    """All three ntile quintiles must ride segment-partitioned windows
    over the customer-sized rollup (broadcast dim, fact shuffle on
    custkey) — a global ntile would collapse to SinglePartition."""
    p = _plan(spark, sf_dir, "q_analytics_rfm")
    assert p.count("BroadcastHashJoin") >= 1
    assert "hashpartitioning(o_custkey" in p
    assert "hashpartitioning(c_mktsegment" in p
    assert "SinglePartition" not in p and "SortMergeJoin" not in p


def test_hhi_two_rollup_shuffles_broadcast_dim(spark, sf_dir):
    """HHI must be broadcast part dim + the (brand, supplier) partial-agg
    shuffle + the brand rollup — the second exchange carries only
    |brands|x|suppliers| rows; no global stage, no sort-merge join."""
    p = _plan(spark, sf_dir, "q_analytics_hhi")
    assert p.count("BroadcastHashJoin") >= 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "hashpartitioning(p_brand" in p
    assert "SinglePartition" not in p and "SortMergeJoin" not in p


def test_sax_rides_one_type_exchange_after_daily_rollup(spark, sf_dir):
    """After the (type, day) partial-agg shuffle, the min-day window, PAA
    rollup, ntile and word assembly must all reuse the event_type
    partitioning (hashpartitioning(event_type) clusters (type, seg)) —
    exactly two exchanges, no SinglePartition, no join."""
    p = _plan(spark, sf_dir, "q_ts_sax")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "hashpartitioning(event_type" in p
    assert "SinglePartition" not in p and "Join" not in p


def test_collocations_topk_pushdown_and_exchange_reuse(spark, sf_dir):
    """The global top-k must be TakeOrderedAndProject (per-partition
    partial top-k), never a single-partition rank window; the marginal
    joins must not sort-merge at this scale; and the repeated
    unigram/bigram rollup subtrees must collapse to ReusedExchange at
    runtime (AQE) so the corpus is exploded at most twice."""
    p = _plan(spark, sf_dir, "q_llm_collocations")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    df = QUERIES["q_llm_collocations"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2


def test_supplier_overlap_pairs_only_via_shared_parts(spark, sf_dir):
    """Pair generation must be the partkey equi-self-join (reusing the
    distinct's partitioning where possible) — no cartesian, no nested
    loop; the supplier-sized degree tables must broadcast into the pair
    rollup."""
    p = _plan(spark, sf_dir, "q_analytics_supplier_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "hashpartitioning(p" in p or "hashpartitioning(pa" in p


def test_spatial_grid_join_is_equi_on_cell_key(spark, sf_dir):
    """Candidates must meet in a cell-key EQUI-join (hash/broadcast) with
    the 9x replication on the supplier side only — never a cartesian or
    nested-loop plan; the integer d² refine is a post-join Filter."""
    p = _plan(spark, sf_dir, "q_join_spatial_grid")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "Generate" in p  # the 3x3 offset explode


def test_span_corruption_doc_keyed_windows_no_single_partition(spark, sf_dir):
    """Token explode, island windows, rank windows and both assembly
    rollups must all be doc-key partitioned — no SinglePartition stage,
    no sort-merge join at this scale, no Python evaluator."""
    p = _plan(spark, sf_dir, "q_llm_span_corruption")
    assert "SinglePartition" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(doc_id" in p


def test_theil_sen_pairs_on_rollup_not_events(spark, sf_dir):
    """The O(span²) pair join must run on the (type, day) ROLLUP — the
    events scan feeds exactly one partial-agg shuffle, the self-join is
    an equi-join on the type key over day-sized data, and nothing
    collapses to a single partition."""
    p = _plan(spark, sf_dir, "q_ts_theil_sen")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SinglePartition" not in p
    assert "hashpartitioning(event_type" in p


def test_mad_outliers_type_keyed_no_single_partition(spark, sf_dir):
    """Both median rank-selects, the deviation join and the gate must
    ride event_type-partitioned exchanges over the day-sized rollup —
    no SinglePartition, no cartesian."""
    p = _plan(spark, sf_dir, "q_ts_mad_outliers")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "hashpartitioning(event_type" in p


def test_wilson_ci_two_rollup_shuffles_one_scan(spark, sf_dir):
    """The conversion CI must cost exactly the (day, user) flag rollup
    plus the day rollup — one scan, two exchanges, no join, no single
    partition; the interval math is scalar projection."""
    p = _plan(spark, sf_dir, "q_analytics_wilson_ci")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p and "SinglePartition" not in p


def test_label_prop_edges_via_shared_parts_rank1_winner(spark, sf_dir):
    """Edge generation must be the hub-capped partkey equi-self-join (no
    cartesian/BNLJ); the winning vote must be a rank-1 filter eligible
    for WindowGroupLimit pushdown; nothing single-partition."""
    p = _plan(spark, sf_dir, "q_graph_label_prop")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SinglePartition" not in p
    assert "WindowGroupLimit" in p


def test_runs_test_one_type_exchange_after_daily_rollup(spark, sf_dir):
    """Diff/flip lags and the final rollup must reuse one event_type
    exchange over the day-sized rollup — one scan, two exchanges, no
    join, no single partition (the SAX shape)."""
    p = _plan(spark, sf_dir, "q_ts_runs_test")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p and "SinglePartition" not in p


def test_bitemporal_two_rank1_windows_user_join(spark, sf_dir):
    """Both temporal states must come from rank-1 user-partitioned
    windows (WindowGroupLimit-eligible) joined user-sized — never the
    fact self-joined on a time band; no single partition."""
    p = _plan(spark, sf_dir, "q_cdc_bitemporal")
    assert "WindowGroupLimit" in p
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "hashpartitioning(user_id" in p


def test_pit_features_one_window_pass(spark, sf_dir):
    """All features must ride ONE user-keyed window sort — one scan, one
    exchange, no join, no single partition (the k-feature cost floor)."""
    p = _plan(spark, sf_dir, "q_join_pit_features")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p and "SinglePartition" not in p
    assert "hashpartitioning(user_id" in p


def test_bayes_rate_prior_from_rollup_no_second_scan(spark, sf_dir):
    """The global prior is a 1-row aggregate of the user rollup broadcast
    back; the statically duplicated rollup subtree must collapse to a
    ReusedExchange at runtime (AQE) so the fact is scanned once."""
    p = _plan(spark, sf_dir, "q_agg_bayes_rate")
    assert "hashpartitioning(user_id" in p
    assert "SortMergeJoin" not in p
    df = QUERIES["q_agg_bayes_rate"](spark, sf_dir)
    df.collect()
    assert df._jdf.queryExecution().executedPlan().toString() \
        .count("ReusedExchange") >= 1


def test_decile_lift_never_ranks_users_individually(spark, sf_dir):
    """The only global (single-partition) windows may run over the
    score-group and decile tables — users collapse into score groups
    BEFORE any ordering, so the per-user stage must show no window and
    the fact is scanned once."""
    p = _plan(spark, sf_dir, "q_analytics_decile_lift")
    assert "hashpartitioning(user_id" in p      # user rollup shuffle
    assert "hashpartitioning(score" in p        # score-group rollup
    assert "CartesianProduct" not in p
    df = QUERIES["q_analytics_decile_lift"](spark, sf_dir)
    df.collect()
    assert df._jdf.queryExecution().executedPlan().toString() \
        .count("ReusedExchange") >= 1


def test_kaplan_meier_domain_bounded_after_user_rollup(spark, sf_dir):
    """The survival estimator must cost one fact scan + the per-user
    rollup; everything after (risk windows, factor array, filtered
    fold) rides arm-partitioned exchanges over the day-domain table —
    no SinglePartition, no join beyond the arm-keyed one, no Python."""
    p = _plan(spark, sf_dir, "q_ts_kaplan_meier")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(user_id" in p
    assert "hashpartitioning(arm" in p


def test_chi2_one_scan_window_marginals(spark, sf_dir):
    """The contingency test must scan the fact table ONCE: marginals are
    windows over the R×C cell table (the join-back form re-scans orders
    per marginal — measured 4 scans), and the only SinglePartition
    stages run on category-domain-bounded rows."""
    p = _plan(spark, sf_dir, "q_agg_chi2")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p


def test_mann_whitney_one_scan_distinct_cents_windows(spark, sf_dir):
    """Rank sums must come from the per-cents rollup: one scan, the
    groupBy(v) exchange, and windows over DISTINCT cents only (the
    decile-lift score-group pattern) — no join, no Python, and exactly
    two exchanges (rollup + the domain-bounded window/final stage)."""
    p = _plan(spark, sf_dir, "q_analytics_mann_whitney")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(v" in p


def test_ks_test_one_scan_distinct_cents_windows(spark, sf_dir):
    """Both empirical CDFs must be integer running sums over the
    distinct-cents rollup — one scan, the groupBy(v) exchange, no join,
    no Python; the max/argmax stage folds domain-bounded rows."""
    p = _plan(spark, sf_dir, "q_analytics_ks_test")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(v" in p


def test_kcore_checkpointed_edges_bounded_rounds(spark, sf_dir):
    """Peel rounds must run off the materialized edge checkpoint — the
    final plan re-derives NOTHING (unchecked lineage compounded to 114
    parquet scans for 3 rounds); each round is an edge-keyed semi-join +
    rollup, no cartesian, no Python."""
    p = _plan(spark, sf_dir, "q_graph_kcore")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 8
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_cohort_ltv_window_min_not_self_join(spark, sf_dir):
    """The first-order month must be a custkey window MIN over ONE
    orders scan (a join-back formulation scans the fact table twice);
    cells and the cumulative ride cohort-keyed exchanges — no join, no
    single partition."""
    p = _plan(spark, sf_dir, "q_analytics_cohort_ltv")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "SinglePartition" not in p
    assert "hashpartitioning(c," in p or "hashpartitioning(c#" in p
    assert "hashpartitioning(cohort" in p


def test_did_one_pass_one_row(spark, sf_dir):
    """All four cells must come from ONE conditional-aggregate pass over
    the purchase-filtered scan: one scan, one exchange (the 1-row
    final-merge), pushed filter, no join."""
    p = _plan(spark, sf_dir, "q_analytics_did")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p
    # r12 class-L measure-domain gate (abs(value) < 1e21) null-rejects
    # value, so IsNotNull(value) joins the pushed set — a strictly better
    # scan prune (extra row-group skip on all-null value chunks).
    assert ("PushedFilters: [IsNotNull(event_type), IsNotNull(value), "
            "EqualTo(event_type,purchase)]") in p


def test_anova_one_scan_k_row_fold(spark, sf_dir):
    """The k-group test must cost one fact scan + the per-priority
    rollup; the SinglePartition stage folds k structs only — no join,
    no Python, exactly two exchanges."""
    p = _plan(spark, sf_dir, "q_agg_anova")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p
    assert "EvalPython" not in p


def test_l_diversity_two_domain_shuffles(spark, sf_dir):
    """One doc scan into the (QI, sensitive) rollup, then the QI-keyed
    re-aggregation — two domain-shrinking exchanges, no join, no single
    partition."""
    p = _plan(spark, sf_dir, "q_llm_l_diversity")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p and "SinglePartition" not in p
    assert "hashpartitioning(source" in p


def test_holt_winters_rollup_then_typed_fold(spark, sf_dir):
    """The seasonal fold must run over the (type, day) aggregate — one
    scan, the daily-rollup exchange plus the per-type collect, no join,
    no single partition, no Python (the q_ts_holt_trend shape)."""
    p = _plan(spark, sf_dir, "q_ts_holt_winters")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p and "SinglePartition" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(event_type" in p


def test_dtw_folds_on_rollup_type_domain_cross(spark, sf_dir):
    """The DP must run over (type, day) AGGREGATE arrays — one scan,
    the daily rollup + per-type collect exchanges; the only join is the
    |types|x|types| pair cross (broadcast NLJ over domain-bounded rows
    is acceptable HERE and nowhere data-sized), no Python."""
    p = _plan(spark, sf_dir, "q_ts_dtw")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "hashpartitioning(event_type" in p


def test_mutual_info_one_scan_cell_windows(spark, sf_dir):
    """Marginals must be windows over the cell table (the chi2
    discipline — a join-back would re-scan events per marginal): one
    scan, no join, SinglePartition stages only on |types|x7 rows."""
    p = _plan(spark, sf_dir, "q_analytics_mutual_info")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p


def test_forecast_backtest_single_fold_shape(spark, sf_dir):
    """The whole backtest must ride ONE sequential fold over the (type,
    day) aggregate — one scan, two exchanges (rollup + per-type
    collect), no join, no single partition, no Python."""
    p = _plan(spark, sf_dir, "q_ts_forecast_backtest")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p and "SinglePartition" not in p
    assert "EvalPython" not in p


def test_shapley_user_rollup_then_mask_bounded(spark, sf_dir):
    """The only data-sized shuffle is the per-user rollup; everything
    after is 2^channels-bounded (mask rollup, 1-row collect, 4-row
    channel cross) — one scan, no Python, no data-sized join."""
    p = _plan(spark, sf_dir, "q_analytics_shapley")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "EvalPython" not in p
    assert "hashpartitioning(user_id" in p


def test_kmv_jaccard_pair_bounded_after_distinct(spark, sf_dir):
    """One distinct (type, user) pass; the pair expansion is a
    broadcast of the |types|² pair table; the rank windows partition on
    the pair key — no data-sized join, no single partition, no
    Python."""
    p = _plan(spark, sf_dir, "q_sketch_kmv_jaccard")
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "hashpartitioning(ta" in p


def test_ipnet_projection_only_after_distinct(spark, sf_dir):
    """Address arithmetic must be pure projection over one distinct-user
    pass — one scan, the distinct exchange, no join, no Python."""
    p = _plan(spark, sf_dir, "q_fn_ipnet")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(user_id" in p


def test_syslog_map_then_single_rollup(spark, sf_dir):
    """Mint + regex parse must stay a per-row map over one scan with a
    single rollup (two exchanges: countDistinct expands to the standard
    two-phase aggregate) — log-pipeline-shaped; no join, no Python."""
    p = _plan(spark, sf_dir, "q_source_syslog")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2
    assert "Join" not in p
    assert "EvalPython" not in p


def test_accesslog_map_then_rollup(spark, sf_dir):
    """CLF mint + parse must stay a per-row map over one scan with the
    (distinct-expanded) rollup — no join, no Python."""
    p = _plan(spark, sf_dir, "q_source_accesslog")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p


def test_modularity_hub_capped_edges_broadcast_labels(spark, sf_dir):
    """The edge builder must be the hub-capped equi-self-join (no
    cartesian/BNLJ beyond the 1-row total broadcast); segment labels
    join broadcast; the rollup is segment-bounded."""
    p = _plan(spark, sf_dir, "q_graph_modularity")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_skew_kurtosis_one_pass(spark, sf_dir):
    """All four power sums must ride one partial-aggregated rollup —
    one scan, one exchange, no join, no Python."""
    p = _plan(spark, sf_dir, "q_agg_skew_kurtosis")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p and "EvalPython" not in p


def test_entropy_rate_user_lag_then_cell_windows(spark, sf_dir):
    """One scan; the lag rides the user-keyed window; marginals are
    windows over the |types|^2 cell table (the chi2/MI discipline) —
    no join, no Python."""
    p = _plan(spark, sf_dir, "q_ts_entropy_rate")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p and "EvalPython" not in p
    assert "hashpartitioning(user_id" in p


def test_srm_two_distinct_passes_no_join(spark, sf_dir):
    """SRM must cost the user-distinct and day-grain distinct rollups
    plus a broadcast 1-row cross — no data-sized join, no Python."""
    p = _plan(spark, sf_dir, "q_analytics_srm")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_pattern_match_windows_no_joins(spark, sf_dir):
    """The CEP rewrite must be join-free: one scan, one user-keyed sort
    feeding both running-state window passes, then the user rollup —
    the oracle's quadratic join formulation must never appear."""
    p = _plan(spark, sf_dir, "q_ts_pattern_match")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(user_id" in p


def test_join_ivm_four_delta_legs_no_cartesian(spark, sf_dir):
    """All four view partials must be orderkey equi-joins (no cartesian,
    no Python); the merge is a status-bounded rollup."""
    p = _plan(spark, sf_dir, "q_cdc_join_ivm")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert len(re.findall(r"Join", p)) >= 4


def test_spearman_one_exchange_shared_sorts(spark, sf_dir):
    """Both rank windows and their peer-count frames must share ONE
    hash exchange on l_returnflag (two in-partition sorts), and the
    final rollup must reuse it — no join, no Python, no second
    exchange."""
    p = _plan(spark, sf_dir, "q_agg_spearman")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(l_returnflag" in p
    assert "Join" not in p and "EvalPython" not in p


def test_kendall_pairs_on_rollup_not_events(spark, sf_dir):
    """The O(span²) concordance join must run on the (type, day)
    ROLLUP: equi-join on the type key over day-sized data — no
    cartesian, no BNLJ, no single-partition collapse, no Python."""
    p = _plan(spark, sf_dir, "q_ts_kendall")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SinglePartition" not in p
    assert "hashpartitioning(event_type" in p
    assert "EvalPython" not in p


def test_edit_dedup_banded_equi_join_no_cartesian(spark, sf_dir):
    """Candidate generation must be the banded (lang, source, bucket)
    EQUI-join — no cartesian, no BNLJ, no Python; the length band and
    distance threshold are post-filters on equi-join output."""
    p = _plan(spark, sf_dir, "q_llm_edit_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "levenshtein" in p


def test_assortativity_windows_on_edges_no_join(spark, sf_dir):
    """Degrees must come from windows over the DISTINCT edge set —
    no join anywhere, no Python, and the fact scan feeds exactly one
    distinct shuffle before the edge-sized exchanges."""
    p = _plan(spark, sf_dir, "q_graph_assortativity")
    assert "Join" not in p
    assert "EvalPython" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "hashpartitioning(p" in p and "hashpartitioning(s" in p


def test_burstiness_one_user_exchange(spark, sf_dir):
    """The lag window and the per-user rollup must share ONE user_id
    exchange — no join, no Python, no second shuffle."""
    p = _plan(spark, sf_dir, "q_ts_burstiness")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p
    assert "Join" not in p and "EvalPython" not in p


def test_curriculum_histogram_terciles_broadcast_back(spark, sf_dir):
    """Stage terciles must come from the difficulty HISTOGRAM (value-
    domain-bounded single-partition window is the accepted discipline)
    broadcast-joined back — the corpus itself must never hit a global
    ntile sort, and positions ride (stage, shard)-keyed windows."""
    p = _plan(spark, sf_dir, "q_llm_curriculum")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(stage" in p


def test_decompose_rollup_window_broadcast_back(spark, sf_dir):
    """The MA window must ride a type-keyed exchange over DAY-grain
    data; seasonal indices are a tiny rollup BROADCAST back — no
    cartesian, no single-partition collapse of the fact table, no
    Python."""
    p = _plan(spark, sf_dir, "q_ts_decompose")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "hashpartitioning(event_type" in p


def test_price_index_single_fact_pass_broadcast_base(spark, sf_dir):
    """Both periods must derive from the MATERIALIZED part-month cell
    rollup — the final plan reads the checkpointed cells, never the
    fact parquet (the lazy form re-scanned it four times); the
    cross-period pairing is a part-keyed broadcast hash join; no
    cartesian, no Python."""
    p = _plan(spark, sf_dir, "q_analytics_price_index")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_mann_kendall_pairs_on_rollup_not_events(spark, sf_dir):
    """The O(span²) sign join must run on the (type, day) rollup —
    type-keyed equi-join over day-grain data, no cartesian, no BNLJ,
    no single-partition collapse, no Python (the Theil–Sen shape)."""
    p = _plan(spark, sf_dir, "q_ts_mann_kendall")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SinglePartition" not in p
    assert "hashpartitioning(event_type" in p
    assert "EvalPython" not in p


def test_slo_burn_hour_grain_windows_no_join(spark, sf_dir):
    """Burn windows must ride the HOUR-GRAIN rollup (one fact scan into
    one partial-agg shuffle), never the raw events — no join, no
    Python."""
    p = _plan(spark, sf_dir, "q_ops_slo_burn")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p


def test_log_templates_map_then_rollup(spark, sf_dir):
    """Template mining must be a pure per-row mint+mask map into one
    template rollup — one scan, no join, no Python; the share window
    runs over the template table."""
    p = _plan(spark, sf_dir, "q_ops_log_templates")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "EvalPython" not in p


def test_bitwise_agg_one_pass(spark, sf_dir):
    """All bitwise aggregates must combine map-side in ONE partial+final
    user rollup — one scan, no join, no Python."""
    p = _plan(spark, sf_dir, "q_agg_bitwise_agg")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p and "EvalPython" not in p


def test_equidepth_prefix_on_value_domain(spark, sf_dir):
    """Depth boundaries must come from the distinct-cents histogram —
    one fact scan into one cents rollup; no join, no Python, no global
    sort of the fact table (the only sorts feed the tiny histogram
    windows)."""
    p = _plan(spark, sf_dir, "q_agg_equidepth_hist")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p and "EvalPython" not in p


def test_mixture_temperature_source_rollup_only(spark, sf_dir):
    """One scan into one source rollup; normalizing windows over the
    source table only — no join, no Python."""
    p = _plan(spark, sf_dir, "q_llm_mixture_temperature")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p and "EvalPython" not in p


def test_asof_nearest_join_free_one_exchange(spark, sf_dir):
    """Both direction passes must ride ONE user_id exchange (two
    in-partition sorts) with NO join operator — the oracle's ranked
    cross-product must never appear."""
    p = _plan(spark, sf_dir, "q_join_asof_nearest")
    assert "Join" not in p.replace("WindowGroupLimit", "")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p
    assert "EvalPython" not in p


def test_no_tokenize_inside_lambda_any_llm_query(spark, sf_dir):
    """r12 class-J pin, registry-wide over the batch text/LLM family: no
    O(T) tokenization inside a higher-order lambda body.  Both
    `slice(split(text,' '), i, k)` AND `element_at(split(text,' '), i)`
    written in a transform lambda re-split the WHOLE document per
    element — O(T^2) in document tokens, measured never-finishing on
    multi-megabyte hostile documents (five queries on first contact:
    repetition/chunk/decontaminate_ngram via slice, ngram_stats/
    collocations via element_at).  The fix materializes the token array
    as a projected column; this pin guards the other direction —
    Catalyst's CollapseProject may only keep that projection while the
    alias is referenced more than once, so a refactor that drops a
    reference would silently re-inline the split into the lambda.  The
    OPTIMIZED plan (where collapsing has already happened) must show no
    split( call inside any lambdafunction, for EVERY q_llm_* key (all
    batch-shaped, so plan compilation is cheap)."""
    def lambda_bodies(plan: str):
        """Balanced-paren spans of every lambdafunction( in the plan —
        a flat regex over-matches past the lambda's closing paren and
        flagged five innocent queries whose split( sat in a SIBLING
        projection expression."""
        i = 0
        while True:
            i = plan.find("lambdafunction(", i)
            if i < 0:
                return
            depth, j = 0, i + len("lambdafunction")
            while j < len(plan):
                if plan[j] == "(":
                    depth += 1
                elif plan[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            yield plan[i:j]
            i += len("lambdafunction(")

    bad = []
    for key in QUERIES:
        if not key.startswith("q_llm_"):
            continue
        df = QUERIES[key](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # only DOCUMENT-text tokenization is unbounded; bounded splits
        # (host labels in q_llm_domain_filter) are fine inside lambdas
        if any("split(text#" in b or "split(lower(text#" in b
               for b in lambda_bodies(plan)):
            bad.append(key)
    assert not bad, bad


def test_streaming_queries_share_one_run_path():
    """Every streaming-executed query starts and awaits its stream in ONE
    place (streaming/queries.py), and partition-overwrite mode is pinned
    per writer, never set on the shared session, anywhere in the
    package."""
    import pathlib

    pkg = pathlib.Path(entrymod.__file__).parent / "mu_swarm_logger_service_spark"
    src = (pkg / "streaming" / "queries.py").read_text()
    assert src.count("awaitTermination(") == 1
    session_set = re.compile(
        r"conf\.set\(\s*[\"']spark\.sql\.sources\.partitionOverwriteMode")
    offenders = [str(p.relative_to(pkg)) for p in sorted(pkg.rglob("*.py"))
                 if session_set.search(p.read_text())]
    assert not offenders, offenders
