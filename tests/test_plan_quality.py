"""Plan-shape regression tests: the physical plans the engine is designed
to produce (broadcast dims, pushed filters, pruned scans, no stray
sort-merge joins). A failure here means a Catalyst behavior change or an
operator edit degraded the plan — catch it before it becomes a bench
regression."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from plan_audit import audit_plan  # noqa: E402

from market_data_pipeline_spark.plans.driver_queries import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    def get(name):
        return audit_plan(QUERIES[name](spark, SF_DIR))

    return get


def test_market_summary_broadcasts_dim(plans):
    facts = plans("a1_market_summary")
    assert facts["bhj"] >= 2          # price⋈master and the brand dim
    assert facts["smj"] == 0
    assert facts["max_read_cols"] <= 4  # column pruning reaches the scan


def test_stock_data_pushes_dynamic_predicates(plans):
    facts = plans("j1_stock_data")
    assert facts["pushed_scans"] >= 1  # date-range filter at the parquet scan
    assert facts["smj"] == 0


def test_revenue_chain_is_broadcast_only(plans):
    facts = plans("j7_revenue_by_nation")
    assert facts["bhj"] >= 3          # nation/region/customer-dim all broadcast
    assert facts["smj"] == 0
    assert facts["pushed_scans"] >= 4


def test_correlation_self_join_shape(plans):
    facts = plans("a5_correlation_matrix")
    # the date self-join may be SMJ (both sides big at scale) — but the
    # dim joins around it must stay broadcast
    assert facts["bhj"] >= 2


def test_latest_prices_no_extra_scans(plans):
    facts = plans("j3_latest_prices")
    # decorrelated max-date window: the staged price frame (LogicalRDD,
    # not a parquet scan — see price_frame's cache) + at most the dim
    # scan; the invariant is NO DUPLICATE scans and no sort-merge join
    assert facts["scans"] <= 2
    assert facts["smj"] == 0


def test_topk_reads_minimal_columns(plans):
    facts = plans("o1_topk_orders")
    assert facts["scans"] == 1
    assert facts["max_read_cols"] <= 4


def test_ngram_jaccard_single_scan(plans):
    facts = plans("dd2_ngram_jaccard")
    # pairs_within_groups: the shingle pipeline must execute ONCE (one
    # scan), not per self-join side
    assert facts["scans"] == 1


def test_timeseries_single_scan_no_joins(plans):
    # rolling windows: one fact scan, window shuffles only, key filter
    # pushed to the scan (bigint IN-list, pre-aggregation)
    for q in ("ts1_sma", "ts2_volatility"):
        facts = plans(q)
        assert facts["scans"] == 1
        assert facts["smj"] == 0 and facts["bhj"] == 0
        assert facts["pushed_scans"] == 1


def test_asof_join_is_single_fact_scan(plans):
    # the union as-of join must not re-scan or range-join: one parquet
    # scan, no join operators at all
    facts = plans("ts5_asof_prices")
    assert facts["scans"] == 1
    assert facts["smj"] == 0 and facts["bnlj"] == 0


def test_blocked_pairs_single_scan(plans):
    # blocked entity resolution = groupBy + in-group expansion; the
    # self-join formulation would show scans == 2
    facts = plans("er1_similar_supplier_names")
    assert facts["scans"] == 1
    assert facts["smj"] == 0


def test_q3_shape_broadcasts_and_pushes(plans):
    facts = plans("j8_segment_top_orders")
    assert facts["bhj"] >= 2          # customer keys + orders side
    assert facts["smj"] == 0
    assert facts["pushed_scans"] >= 3  # segment + both date predicates


def test_rollup_single_pass(plans):
    # ROLLUP plans as one expand+aggregate over the staged price frame
    # (+ dim scan); the invariant is no duplicate scans, broadcast dim,
    # no sort-merge join
    facts = plans("r2_rollup_market_year")
    assert facts["scans"] <= 2
    assert facts["bhj"] >= 1
    assert facts["smj"] == 0


def test_price_frame_raw_shape(spark):
    """The UNCACHED price aggregation (what price_frame stages, and what
    selective callers like j1 use directly): the symbol-key filter
    reaches the parquet footer and the scan reads only the four needed
    columns — the 100 TB pushdown/pruning evidence the session cache
    must not silence."""
    from market_data_pipeline_spark.plans.driver_queries import _price_agg
    from market_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    pushed = audit_plan(_price_agg(li, ["101", "202"]))
    assert pushed["pushed_scans"] >= 1
    assert pushed["max_read_cols"] <= 4
    full = audit_plan(_price_agg(li, None))
    assert full["scans"] == 1
    assert full["max_read_cols"] <= 4


def test_decontaminate_broadcast_single_corpus_scan(plans):
    # corpus side: one scan (shingle count rides the exploded rows);
    # benchmark side: one scan feeding a broadcast; never a sort-merge
    facts = plans("dc1_decontaminate")
    assert facts["scans"] == 2
    assert facts["bhj"] >= 1
    assert facts["smj"] == 0
    assert facts["max_read_cols"] <= 2


def test_semantic_dedup_broadcast_assignment(plans):
    # centroid scoring is a broadcast cross join (BNLJ against the tiny
    # centroid set); the corpus never self-joins via SMJ and pairs are
    # confirmed in-group (no pair-row materialization)
    facts = plans("sd1_semantic_dedup")
    assert facts["smj"] == 0
    # vector carried through the assignment argmax: embeddings + centroid
    # scans only, never a re-join for the vector column
    assert facts["scans"] == 2
    assert facts["max_read_cols"] <= 2


def test_repetition_stats_map_only(plans):
    # map-only: one pruned scan, no joins, no exchange
    facts = plans("tx10_repetition_stats")
    assert facts["scans"] == 1
    assert facts["max_read_cols"] <= 2
    assert facts["smj"] == 0 and facts["bhj"] == 0
    assert facts["shuffles"] == 0


def test_shuffle_shards_no_single_task_stage(plans):
    # the global order must come from the range-partitioned ntile path,
    # never an Exchange SinglePartition (one-task global window)
    facts = plans("shf1_shuffle_shards")
    assert facts["single_partition_exchanges"] == 0


def test_tpch_q3_broadcasts_and_pushes(plans):
    facts = plans("tpch_q3_shipping_priority")
    assert facts["bhj"] >= 2
    assert facts["smj"] == 0
    assert facts["pushed_scans"] >= 3


def test_no_query_plans_a_single_partition_exchange(registry_plans):
    """Global invariant: NO registered query may funnel UNBOUNDED data
    through an Exchange SinglePartition (the one-task global window/sort
    — the canonical scale-killer). Global total orders must use range
    partitioning or the offset-rank pattern instead. SinglePartition
    exchanges whose input is post-aggregation (one partial row per
    upstream partition for global aggs, or a group-cardinality-bounded
    frame) are the canonical plan for those shapes and are allowed — the
    audit's ``unbounded_single_partition`` makes the distinction.
    Streaming queries (which execute on build) and driver-side helpers
    are exercised by their own tests. The same loop checks that no
    registered query ends in a global Sort at its plan root."""
    offenders = {
        name: rec["facts"]["unbounded_single_partition"]
        for name, rec in registry_plans.items()
        if rec.get("facts", {}).get("unbounded_single_partition")
    }
    # registered queries return rows in no defined order: a global Sort at
    # the plan root is a presentation sort nobody reads
    root_sorted = [n for n, rec in registry_plans.items() if rec.get("root_sort")]
    assert not offenders, f"unbounded single-partition exchanges in: {offenders}"
    assert not root_sorted, f"closing global sort at the plan root of: {root_sorted}"


def test_bm25_single_scan_and_distributed_topk(plans):
    facts = plans("tx12_bm25")
    # tf is checkpointed (one corpus pass feeds df + scoring); top-k is
    # TakeOrdered, never a partitionless window
    assert facts["scans"] <= 2
    assert facts["unbounded_single_partition"] == 0
    assert facts["smj"] == 0


def test_bloom_semi_join_pushes_and_broadcasts(plans):
    facts = plans("j10_bloom_semi_join")
    assert facts["bhj"] >= 1          # the confirm semi-join broadcasts keys
    assert facts["smj"] == 0
    assert facts["pushed_scans"] >= 1


def test_bloom_predicate_filters_the_fact_scan_not_the_join(plans):
    """The operator's whole reason to exist is PRE-shuffle fact reduction:
    the bloom membership test (bit_get over the literal bitmap) must sit
    between the fact scan and the semi-join, never above the join. A
    refactor that moves it post-join keeps results identical — only this
    plan assertion catches it."""
    import re

    p = plans("j10_bloom_semi_join")["plan_text"]
    # node ids of Filter operators whose detail block mentions bit_get
    blocks = re.split(r"^(?=\(\d+\) )", p, flags=re.M)
    bloom_ids = {
        int(re.match(r"\((\d+)\) Filter", b).group(1))
        for b in blocks
        if b.startswith("(") and "Filter" in b.split("\n", 1)[0] and "bit_get" in b
    }
    assert bloom_ids, "no Filter with the bloom bit_get predicate in the plan"
    # parse the tree header: (indent, node name, id) per line
    tree = []
    for line in p.splitlines():
        # "Scan parquet  (1)" prints TWO spaces before the id — allow any
        m = re.search(r"^(.*?)(\w[\w]*(?: \w+)*) +\((\d+)\)$", line.rstrip())
        if m:
            tree.append((len(m.group(1)), m.group(2), int(m.group(3))))
    for i, (indent, name, nid) in enumerate(tree):
        if nid not in bloom_ids:
            continue
        # the filter's subtree: following lines strictly deeper than it
        subtree = []
        for t in tree[i + 1 :]:
            if t[0] <= indent:
                break
            subtree.append(t[1])
        assert any("Scan parquet" in n for n in subtree), (
            f"bloom Filter ({nid}) does not sit over a parquet scan: {subtree}"
        )
        assert not any("Join" in n for n in subtree), (
            f"bloom Filter ({nid}) sits ABOVE a join — pruning happens "
            f"post-shuffle: {subtree}"
        )


def test_nearest_event_one_union_window_pass(plans):
    facts = plans("iv3_nearest_event")
    # union + one window partitioning chain: no join at all in the plan
    assert facts["bhj"] == 0 and facts["smj"] == 0 and facts["bnlj"] == 0
    assert facts["unbounded_single_partition"] == 0


def test_ewma_no_single_partition_and_no_smj(plans):
    facts = plans("ts14_ewma")
    assert facts["unbounded_single_partition"] == 0
    assert facts["smj"] == 0


def test_calendar_fill_pushes_symbol_filter(plans):
    facts = plans("ts15_calendar_fill")
    assert facts["pushed_scans"] >= 1  # symbol IN (...) reaches the fact scan
    assert facts["unbounded_single_partition"] == 0


def test_temperature_resample_broadcasts_multipliers(plans):
    facts = plans("mix2_temperature_resample")
    assert facts["scans"] <= 2         # counts chain checkpointed once
    assert facts["smj"] == 0


def test_band_range_join_is_hash_join_not_nested_loop(plans):
    # the operator's reason to exist: the BETWEEN formulation plans a
    # BroadcastNestedLoopJoin; the bucketed rewrite must plan a HASH join
    # on the quantized bucket key
    facts = plans("j11_band_range_join")
    assert facts["bnlj"] == 0
    assert facts["bhj"] + facts["smj"] >= 1
    assert facts["max_read_cols"] <= 1  # only l_extendedprice scanned


def test_status_history_single_shuffle(plans):
    # gaps-and-islands: both row_number windows and the closing aggregate
    # partition on the customer key -> exactly one exchange before the
    # output sort
    facts = plans("cdc2_status_history")
    assert facts["scans"] == 1
    assert facts["bhj"] == 0 and facts["smj"] == 0
    assert facts["unbounded_single_partition"] == 0


def test_interval_coverage_single_key_shuffle(plans):
    # sweep-line as windows: all three window passes + both aggregates on
    # the user key; no join, no interval self-join
    facts = plans("iv5_interval_coverage")
    assert facts["scans"] == 1
    assert facts["bhj"] == 0 and facts["smj"] == 0 and facts["bnlj"] == 0
    assert facts["unbounded_single_partition"] == 0


def test_radius_search_no_post_scan_shuffle(plans):
    # broadcast queries + map-side threshold filter: the only exchange is
    # the broadcast, and the corpus is read once beside the query slice
    facts = plans("k8_radius_search")
    assert facts["smj"] == 0
    assert facts["scans"] == 2  # corpus + query slice
    assert facts["shuffles"] == 0


# --- round-5 plan shapes -----------------------------------------------------


def test_a13_breadth_line_broadcasts_master(plans):
    # the returns->market join must broadcast the symbol dim; the
    # cumulative AD window partitions by market (never SinglePartition)
    facts = plans("a13_advance_decline")
    assert facts["bhj"] >= 1
    assert facts["unbounded_single_partition"] == 0


def test_j12_top_customers_broadcasts_nation(plans):
    facts = plans("j12_nation_top_customers")
    assert facts["bhj"] >= 1          # 25-row nation dim must broadcast
    assert facts["unbounded_single_partition"] == 0


def test_e23_funnel_single_scan(plans):
    # three chained conditional-min windows share ONE events scan and one
    # user-key shuffle — the whole point vs the oracle's three self-joins
    facts = plans("e23_funnel_3step")
    assert facts["scans"] == 1
    assert facts["smj"] == 0


def test_dq4_ship_lag_prunes_columns(plans):
    # the lineitem side must read only (l_orderkey, l_shipdate)
    facts = plans("dq4_ship_lag")
    assert facts["max_read_cols"] <= 4


def test_smp9_systematic_no_single_task_rank(plans):
    # the global row number comes from the range-partitioned rank path
    facts = plans("smp9_systematic_sample")
    assert facts["unbounded_single_partition"] == 0


def test_k13_ivf_balance_broadcast_centroids(plans):
    # centroid scoring joins against a broadcast (tiny centroid set);
    # the corpus never reaches a sort-merge join
    facts = plans("k13_ivf_balance")
    assert facts["smj"] == 0
    assert (facts["bhj"] + facts["plan_text"].count("BroadcastNestedLoopJoin")) >= 1


def test_fx4_winsorize_date_partitioned_window(plans):
    # the percentile window partitions by trade_date (bounded by the
    # universe) — no unbounded single-partition exchange
    facts = plans("fx4_winsorized_returns")
    assert facts["unbounded_single_partition"] == 0


def test_tx18_tx20_map_only(plans):
    # per-document maps: one pruned scan, no joins
    for name in ("tx18_charset_stats", "tx20_lexical_diversity"):
        facts = plans(name)
        assert facts["scans"] == 1
        assert facts["smj"] == 0 and facts["bhj"] == 0
        assert facts["max_read_cols"] <= 2


def test_label_centroid_scoring_broadcasts(spark):
    """r11 extraction: label_centroid_sq_distances (the k15/k16 shared
    staging) must BROADCAST the vocab-sized centroid frame into the
    per-vector cross join — an edit that drops the broadcast hint turns
    it into a shuffled cartesian over the embedding corpus, the exact
    shape that dies at 100 TB."""
    from market_data_pipeline_spark.operators.similarity import (
        label_centroid_sq_distances,
    )
    from market_data_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    facts = audit_plan(label_centroid_sq_distances(emb))
    assert facts["bnlj"] + facts["bhj"] >= 1  # centroids come in broadcast
    assert facts["smj"] == 0
    assert facts["scans"] <= 2  # embeddings read for vectors + centroids
