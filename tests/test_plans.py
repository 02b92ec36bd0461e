"""Physical-plan regression tests: the scale posture is part of the
contract, not an accident of the current Catalyst version.

Each assertion pins a property that matters at 100 TB and that a small
code change could silently lose: dimension joins stay broadcast, fact
predicates reach the parquet scan, grouped aggregates keep their
map-side partial phase, top-k stays TakeOrderedAndProject, and scans
never read columns the query doesn't touch."""

from __future__ import annotations

import pytest

from cognitive_score_bigdata_spark.plans.audit import audit
from cognitive_score_bigdata_spark.queries import load_registry
from tests.conftest import SF_DIR

REGISTRY = load_registry()


def _audit(spark, name):
    return audit(REGISTRY[name].fn(spark, SF_DIR))


# (query, min broadcast joins, max sort-merge joins, min partial aggs)
JOIN_AGG_PLANS = [
    ("flagship_dashboard", 2, 0, 0),
    ("analytics_q3_shipping", 1, 0, 1),
    ("analytics_q5_region_volume", 4, 0, 1),
    ("analytics_q10_returns", 2, 0, 1),
    ("analytics_q7_volume", 4, 0, 1),
    ("analytics_q18_large_orders", 1, 0, 1),
    ("analytics_q19_disjunctive", 1, 0, 1),
    ("analytics_q22_dormant", 1, 0, 1),
    ("join_inner_broadcast", 1, 0, 0),
    # round-2 TPC-H completions: dims broadcast; the bounded SMJs are the
    # deliberate fact-side joins (Q2 min-cost self-join on l_partkey, Q21
    # l2/l3 semi+anti self-joins) that must NOT broadcast at scale
    ("analytics_q2_min_cost_supplier", 4, 2, 2),
    ("analytics_q16_supplier_cnt", 2, 0, 1),
    ("analytics_q20_dominant_supplier", 2, 2, 2),
    ("analytics_q21_waiting_supplier", 2, 2, 1),
    # round-3: BM25 posting-list retrieval — query side + corpus stats
    # broadcast, term/doc aggregates keep their partial phase, and no
    # sort-merge join anywhere (the posting join must stay hash-based)
    ("text_bm25_topk", 5, 0, 4),
    # serving feature assembly: both aggregate sides keep partial
    # phases; the per-user join of two small aggregates broadcasts
    ("ml_feature_assembly", 1, 0, 2),
    # round-3 late additions: validation's referential check is a
    # broadcast anti-join; zscore's stats table broadcasts back onto the
    # daily counts; every funnel stage joins broadcast with partial aggs
    ("quality_data_validation", 1, 0, 1),
    ("anomaly_daily_zscore", 1, 0, 1),
    ("events_funnel_conversion", 3, 0, 3),
]


@pytest.mark.parametrize("name,min_bc,max_smj,min_partial", JOIN_AGG_PLANS)
def test_join_agg_plan_shape(spark, name, min_bc, max_smj, min_partial):
    a = _audit(spark, name)
    assert a["n_broadcast_joins"] >= min_bc, a["text"]
    assert a["n_sortmerge_joins"] <= max_smj, a["text"]
    assert a["n_partial_aggs"] >= min_partial, a["text"]
    assert a["batched_scans"] >= 1, "parquet scan must be vectorized"


@pytest.mark.parametrize(
    "name",
    [
        "analytics_q6_selective",
        "analytics_q3_shipping",
        "proj_filter_basic",
        "scan_time_range_pruned",
    ],
)
def test_predicates_reach_scan(spark, name):
    a = _audit(spark, name)
    assert a["pushed_filters"], f"no PushedFilters on any scan:\n{a['text']}"


@pytest.mark.parametrize(
    "name",
    [
        "flagship_dashboard",
        "window_topk_recent",
        "analytics_q18_large_orders",
        "analytics_q2_min_cost_supplier",
        "analytics_q21_waiting_supplier",
        "corpus_bigram_topk",
    ],
)
def test_topk_is_take_ordered(spark, name):
    a = _audit(spark, name)
    assert a["has_take_ordered"], a["text"]


def test_column_pruning_on_wide_fact(spark):
    # Q6 touches 4 lineitem columns; the scan must not read the rest.
    a = _audit(spark, "analytics_q6_selective")
    assert len(a["read_schemas"]) == 1
    schema = a["read_schemas"][0]
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in schema, f"unpruned column {col}: {schema}"
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in schema


def test_selective_scan_has_no_join_exchange(spark):
    # Q6 is scan→partial agg→final agg: exactly one exchange (the 1-row
    # final agg), no join shuffles.
    a = _audit(spark, "analytics_q6_selective")
    assert a["n_exchanges"] <= 2, a["text"]


def test_salted_join_partitions_by_salt(spark):
    """The salted join's shuffle must hash on (key, salt) — that's the
    whole mechanism: a hot key spreads over n_salts reduce partitions
    instead of one (scripts/skew_study.py measured 12.9M→2.0M rows in
    the worst partition on a 30%-hot-key fact table)."""
    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.operators.skew import salted_join

    fact = spark.range(1000).withColumn("k", F.pmod(F.col("id"), F.lit(3)))
    dim = spark.range(3).withColumnRenamed("id", "k").withColumn(
        "attr", F.col("k") * 10
    )
    # force the shuffle path: salting is a no-op question under broadcast
    # (a broadcast join has no reduce partition to skew)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            salted_join(fact, dim, on="k", unique_col="id", n_salts=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "__salt" in plan
    assert "hashpartitioning(k" in plan and "__salt" in plan.split(
        "hashpartitioning(k", 1
    )[1].split(")")[0], f"join shuffle not keyed by salt:\n{plan[:2000]}"


def test_chunk_dedup_has_partial_window_group_limit(spark):
    """Span-dedup winners must keep the WindowGroupLimit(Partial) node
    BELOW the exchange — that's the map-side pre-collapse that makes hot
    boilerplate spans ship one row per map task instead of every
    occurrence (scripts/span_study.py). Moving the rn==1 filter away
    from the window would silently lose the rewrite."""
    a = _audit(spark, "text_chunk_dedup")
    assert "WindowGroupLimit" in a["text"], a["text"]
    assert "Partial" in a["text"], a["text"]


def test_heavy_hitters_verify_join_broadcasts(spark):
    """The exact-verify pass must broadcast the tiny candidate set over
    the token stream (a shuffled join here would shuffle the whole
    corpus by token), and keep its counting aggregate partial."""
    a = _audit(spark, "sketch_heavy_hitter_tokens")
    assert a["n_broadcast_joins"] >= 1, a["text"]
    assert a["n_sortmerge_joins"] == 0, a["text"]
    assert a["n_partial_aggs"] >= 1, a["text"]


def test_boilerplate_ngrams_partial_agg(spark):
    a = _audit(spark, "text_boilerplate_ngrams")
    assert a["n_partial_aggs"] >= 1, a["text"]
    assert a["n_sortmerge_joins"] == 0, a["text"]


def test_corpus_pipeline_single_dedup_shuffle(spark):
    """The composed cleaning pipeline must stay one narrow pass + one
    dedup aggregate: no join, no window, no extra exchange beyond
    fan_out + the final hash-agg."""
    a = _audit(spark, "corpus_clean_pipeline")
    assert "Window" not in a["text"], a["text"]
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0
    assert a["n_partial_aggs"] >= 1, a["text"]


def test_shard_assignment_broadcasts_offsets(spark):
    """The distributed prefix sum must broadcast the per-partition
    offset table (numPartitions rows) — a shuffled join here would
    defeat the whole two-pass design."""
    a = _audit(spark, "corpus_shard_assignment")
    assert a["n_broadcast_joins"] >= 1, a["text"]
    assert a["n_sortmerge_joins"] == 0, a["text"]


def test_source_mixture_single_agg(spark):
    """Source mixing is one partial-agg shuffle + a tiny global window —
    no joins."""
    a = _audit(spark, "corpus_source_mixture")
    assert a["n_partial_aggs"] >= 1, a["text"]
    assert a["n_broadcast_joins"] == 0 and a["n_sortmerge_joins"] == 0


def test_scd2_single_window_exchange(spark):
    """lag, lead, and row_number all partition on user_id with the same
    ordering — the plan must hash-exchange ONCE and let both Window
    operators (change detection, then interval derivation over the
    filtered rows) reuse that distribution and sort. A second exchange
    here would double the shuffle cost of every SCD2 rebuild."""
    a = _audit(spark, "scd2_user_event_history")
    assert a["n_exchanges"] <= 2, a["text"]  # formatted text ~doubles
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0


@pytest.mark.parametrize(
    "name",
    [
        "corpus_train_holdout_split",
        "agg_histogram_value",
        "vector_centroid_by_group",
        "agg_exact_median_by_type",
    ],
)
def test_single_shuffle_aggregates(spark, name):
    """These are one-shuffle plans by design (rowwise derivation → one
    keyed aggregate/window): no joins, and the map-side partial phase
    must survive for the aggregates."""
    a = _audit(spark, name)
    assert a["n_exchanges"] <= 2, a["text"]  # one real exchange
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0
    if name != "agg_exact_median_by_type":  # window query: no agg combine
        assert a["n_partial_aggs"] >= 1, a["text"]


def test_stratified_sample_window_group_limit(spark):
    """The exact-k stratified sample's scale story IS WindowGroupLimit:
    rank<=k collapses map-side so a hot stratum ships k rows per map
    task, not its population. Losing the node (e.g. by moving the rn
    filter away from the window) silently restores the full shuffle."""
    a = _audit(spark, "sample_stratified_exact_k")
    assert "WindowGroupLimit" in a["text"], a["text"]


@pytest.mark.parametrize("name", ["join_asof", "join_asof_forward"])
def test_asof_single_shuffle_no_join(spark, name):
    """Both as-of directions are the union-tag formulation: ONE hash
    exchange on the key, a sort, a running last() — never a range join
    or per-key cartesian. A SortMergeJoin appearing here means someone
    rewrote it as equi-join + filter, which is O(n*m) per key."""
    a = _audit(spark, name)
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0, a["text"]
    assert a["text"].count("Exchange hashpartitioning") <= 2, a["text"]


def test_bucketed_join_has_no_shuffle(spark):
    """The bucketed pair's whole point: both sides written with
    bucketBy(8, orderkey).sortBy(orderkey), so the sort-merge join zips
    bucket files directly — NO Exchange on a 100 TB fact/detail join.
    Broadcast is disabled for the pin because at test scale the planner
    would rather broadcast the tiny dim (which also skips the shuffle,
    but for the wrong, unscalable reason)."""
    from cognitive_score_bigdata_spark.queries.round4_staging2 import (
        bucketed_pair,
    )

    o, l = bucketed_pair(spark, SF_DIR)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(l, l.l_orderkey == o.o_orderkey)
        j.collect()  # AQE: inspect the final plan, not the draft
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" not in plan, plan[:2000]
    assert "Bucketed: true" in plan, plan[:2000]
    assert "SortMergeJoin" in plan, plan[:2000]


def test_overlap_chunks_is_narrow(spark):
    """Sequence chunking must stay embarrassingly parallel: tokens →
    sequence → explode → slice is all narrow, so the plan has ZERO
    exchanges. An orderBy or distinct sneaking in would turn a free
    map-only pass over 100 TB of text into a global sort."""
    a = _audit(spark, "corpus_overlap_chunks")
    assert a["n_exchanges"] == 0, a["text"]


def test_pagerank_iteration_broadcasts_ranks(spark):
    """Each power iteration must broadcast the |parts|-sized rank vector
    into the (huge) edge list — 5 BroadcastHashJoins, never a sort-merge
    join that would shuffle the edges every iteration."""
    a = _audit(spark, "graph_pagerank_copurchase")
    assert a["n_broadcast_joins"] >= 5, a["text"]
    assert a["n_sortmerge_joins"] == 0, a["text"]
    assert a["has_take_ordered"], a["text"]  # top-50, not a global sort


def test_dpp_prunes_fact_partitions(spark):
    """The partitioned-lake join must carry a dynamic partition filter:
    the fact scan's PartitionFilters gets a dynamicpruning#N subquery
    fed by the dim side at runtime. Without it the scan reads all ~80
    ship-month partitions regardless of how few the dim names."""
    import pyspark.sql.functions as F  # noqa: F401

    df = REGISTRY["scan_dpp_partitioned_join"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_market_basket_broadcasts_supports(spark):
    """Item supports and the basket count must broadcast back onto the
    (much larger) pair table — shuffling pairs against a per-item table
    would re-partition the quadratic side for nothing."""
    a = _audit(spark, "market_basket_pairs")
    assert a["n_broadcast_joins"] >= 2, a["text"]
    assert a["n_partial_aggs"] >= 2, a["text"]


def test_profile_stats_single_scan(spark):
    """The profiling query's contract: 6 columns x 3 stats in ONE pass
    over the table. A second FileScan means someone rewrote it as
    per-column UNION branches — correct, but 6x the IO at 100 TB."""
    a = _audit(spark, "profile_table_stats")
    # one "Location:" per scan node (plan text repeats the node name in
    # the tree summary, so counting "Scan parquet" double-counts)
    assert a["text"].count("Location:") == 1, a["text"]


def test_interval_overlap_is_hash_join(spark):
    """The binned rewrite's contract: the session x incident overlap
    runs as an equi hash join on the hour bucket — never a
    BroadcastNestedLoopJoin/CartesianProduct from the naive inequality
    formulation (the oracle spells that one on purpose)."""
    a = _audit(spark, "join_interval_overlap")
    # the single permitted BNLJ is the 1-row median attach (a scalar
    # broadcast); the session x incident volume join must be hash
    # formatted plans name each node twice (tree + detail): 2 hits = 1 node
    assert a["text"].count("BroadcastNestedLoopJoin") <= 2, a["text"]
    assert "Cartesian" not in a["text"], a["text"]
    assert a["n_broadcast_joins"] >= 1, a["text"]


def test_bucketed_aggregate_has_no_shuffle(spark):
    """Bucketing's second dividend: a groupBy on the bucket key needs no
    Exchange — partial and final agg fuse over the pre-hashed bucket
    files. Losing this (e.g. by reading the raw parquet instead of the
    bucketed table) silently reinstates the full key shuffle."""
    df = REGISTRY["agg_bucketed_no_shuffle"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "Bucketed: true" in plan, plan[:2000]


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's runtime row-level filter: with a selective dim filter
    on a shuffle join, the optimizer builds a bloom filter on the dim
    keys (bloom_filter_agg) and applies might_contain on the fact side
    BEFORE the join shuffle — at 100 TB this drops most fact rows at
    the scan instead of shuffling them. The sandbox-scale thresholds
    are forced here; on a cluster the defaults fire on their own. DPP
    (test_dpp_prunes_fact_partitions) prunes whole partitions; this is
    its row-level sibling for non-partition keys."""
    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert "might_contain" in plan, plan[:2000]


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("agg_gini_value", 2),
        ("agg_weighted_median_by_source", 2),
        ("timeseries_max_drawdown", 2),
        ("agg_corr_value_hour", 2),
        ("agg_equidepth_deciles", 2),
        ("agg_trend_slope_by_type", 4),
        ("ml_kfold_assignment", 4),
    ],
)
def test_exact_stats_battery_stays_joinless(spark, name, max_exchanges):
    """The sufficient-statistics queries are scan -> (window) -> agg
    pipelines by design: no join of any kind, map-side partial aggs
    intact, and a bounded exchange count. A join or lost partial here
    means someone rewrote a one-pass statistic as a self-join."""
    a = _audit(spark, name)
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0
    assert a["n_partial_aggs"] >= 1, a["text"]
    assert a["n_exchanges"] <= max_exchanges, a["text"]


def test_containment_pair_shuffle_carries_no_token_arrays(spark):
    """The containment join's §9c contract (round-4 fix): the quadratic
    pair stage moves packed int64 bitmap signatures, never token arrays
    and never string intersection. A regression to array payloads would
    multiply every pair-shuffle byte by ~50x at 100 TB."""
    import re

    a = _audit(spark, "text_containment_neardup")
    t = a["text"]
    assert "array_intersect" not in t, "string intersect back in the plan"
    # no exchange may output a token ARRAY attribute (scalar tok rows in
    # the vocabulary-dictionary build are fine; arrays of tokens are not)
    for m in re.finditer(
        r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\n"
        r"Input \[\d+\]: \[([^\]]*)\]",
        t,
    ):
        cols = m.group(1)
        assert "toks" not in cols, f"token array in exchange: {cols}"


def test_prefix_join_verify_is_bitmap(spark):
    """The AllPairs verify stage must score candidates on packed bitmap
    signatures (codegen bit_count), never string array_intersect — the
    round-4 rewrite that cut the emit-bound query's per-candidate cost."""
    a = _audit(spark, "text_prefix_filter_join")
    assert "array_intersect" not in a["text"], "string intersect regressed"


def test_dedup_pipeline_blocking_is_bucket_bounded(spark):
    """The production near-dup composition's plan contract (round 5):
    candidate pairs must come from the LSH band-bucket equi-join — the
    join keys include (band, bkey) — never a whole-corpus or
    whole-block self-join, and the verify stage downstream of the
    signature build moves packed bitmap signatures, not token arrays
    or string intersections."""
    import re

    a = _audit(spark, "dedup_pipeline_blocked_verify")
    t = a["text"]
    # bucket-bounded candidate generation: a join keyed by band+bkey
    assert re.search(r"(?:hashpartitioning|Join)[^\n]*band", t), t[:2000]
    assert "bkey" in t
    # bitmap verify, not string set intersection
    assert "array_intersect" not in t
    # no exchange may carry a token ARRAY attribute
    for m in re.finditer(
        r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\n"
        r"Input \[\d+\]: \[([^\]]*)\]",
        t,
    ):
        cols = m.group(1)
        assert "toks" not in cols, f"token array in exchange: {cols}"


@pytest.mark.parametrize(
    "fixpoint", ["pagerank_fixed_point", "minlabel_components",
                 "sssp_fixed_rounds"],
)
def test_bucketed_edge_iteration_has_no_edge_side_exchange(spark, fixpoint):
    """VERDICT r4 #2: beyond the ~2M-node broadcast ceiling the graph
    fixpoints must run on the bucketed-edge layout — the loop-invariant
    edge table is bucketBy(src) once, and with broadcast DISABLED each
    iteration's plan shows (a) the bucketed scan feeding the join with
    no Exchange on the edge side, and (b) every Exchange moving only
    rank/label/dist-table rows: no exchange carries a full edge row
    (src+dst together) or the folded degree/weight columns."""
    import re

    import pyspark.sql.functions as F

    from cognitive_score_bigdata_spark.operators import graph
    from cognitive_score_bigdata_spark.plans.audit import plan_text

    pairs = [(u, v) for u in range(12) for v in range(12) if u != v and (u + v) % 3 == 0]
    e = spark.createDataFrame(pairs, "src long, dst long")
    if fixpoint == "sssp_fixed_rounds":
        e = e.withColumn("w", (F.col("src") % 4 + 1).cast("bigint"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = getattr(graph, fixpoint)(e, n_iters=3, edge_buckets=4)
        out.collect()
        t = plan_text(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in t, t[:3000]
    assert "BroadcastHashJoin" not in t, t[:3000]
    assert "SortMergeJoin" in t, t[:3000]
    for m in re.finditer(
        r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\n"
        r"Input \[\d+\]: \[([^\]]*)\]",
        t,
    ):
        cols = m.group(1)
        has_src = re.search(r"\bsrc#", cols) is not None
        has_dst = re.search(r"\bdst#", cols) is not None
        assert not (has_src and has_dst), f"edge row in exchange: {cols}"
        assert "__w#" not in cols and not re.search(r"\b[dw]#", cols), (
            f"edge payload in exchange: {cols}"
        )


@pytest.mark.parametrize("budget", ["default", 0])
def test_minlabel_plan_follows_driver_budget(spark, monkeypatch, budget):
    """The min-label fixpoint picks its plan from the driver budget: at
    this scale its edge table fits, so the executed plan is a local
    table with no Exchange at all; with the budget at 0 it is the
    unrolled broadcast plan, one BroadcastExchange of the label vector
    per round."""
    from cognitive_score_bigdata_spark.operators import graph
    from cognitive_score_bigdata_spark.plans.audit import plan_text
    from cognitive_score_bigdata_spark.queries.graphs import CC_ITERS

    if budget == 0:
        monkeypatch.setattr(graph, "LOCAL_FINISH_BYTES", 0)
    out = REGISTRY["graph_minlabel_components"].fn(spark, SF_DIR)
    out.collect()
    t = plan_text(out)
    if budget == 0:
        final = t.split("== Initial Plan ==")[0]
        assert final.count("BroadcastExchange") == CC_ITERS, t[:3000]
    else:
        assert "Exchange" not in t, t[:3000]


def test_skyline_is_sweep_not_self_join(spark):
    """The skyline query must run the sort-sweep formulation: per-price
    aggregate + window over the distinct-price table + one broadcast
    join back — never the O(n²) not-exists self-join the oracle runs.
    A SortMergeJoin or a second scan-sized join means someone rewrote
    the sweep as the naive dominance test."""
    a = _audit(spark, "analytics_skyline_parts")
    assert a["n_sortmerge_joins"] == 0, a["text"]
    # the naive dominance test plans as a nested-loop theta-join
    assert "NestedLoop" not in a["text"], a["text"]
    # exactly one join: the tiny price-frontier broadcast back onto part
    # (formatted explain lists each node twice: tree + detail)
    assert a["n_broadcast_joins"] == 2, a["text"]
    assert a["n_partial_aggs"] >= 1, a["text"]


def test_pagerank_bucketed_query_rides_bucketed_scan(spark):
    """The registered bucketed-PageRank row must consume the
    session-cached bucketBy(src) table (a regression here — e.g. the
    cache returning an unbucketed fold — would silently turn the
    physical-mode demonstration back into a plain shuffle plan)."""
    a = _audit(spark, "graph_pagerank_bucketed")
    assert "Bucketed: true" in a["text"], a["text"][:2000]


# ---------------------------------------------------------------------------
# Registry-wide window-skew sweep (VERDICT r9 item 3): §9r as a test
# ---------------------------------------------------------------------------

# §9r class 4 — exact rank/quantile semantics over raw rows, allowed
# because each is the sf-scale EXACTNESS ORACLE for a registry-resident
# approximate sibling (the scale path a 100 TB operator would run).
WINDOW_EXEMPT = {
    "agg_exact_median_by_type": "exact median; scale sibling agg_percentile_approx",
    "agg_percentile_bands": "exact percentile bands; sibling agg_percentile_approx",
    "agg_gini_value": "exact Gini needs a per-type total order; sibling "
    "agg_histogram_value bins the same distribution",
    "agg_equidepth_deciles": "exact global deciles; sibling agg_percentile_approx",
    "agg_weighted_median_by_source": "exact weighted median per source; "
    "sibling quality_length_quantile_audit's histogram quantiles",
    "window_ntile": "exact global ntile; sibling agg_percentile_approx",
    "window_percentiles": "exact percent_rank/cume_dist demo over a "
    "low-cardinality status key; approx quantile siblings cover scale",
    "quality_rank_normalize": "exact per-source rank normalization; "
    "sibling quality_length_quantile_audit (histogram-window quantiles)",
    # flipped to exposed by the round-10 classifier tightening
    # (entity-keyed aggregates no longer count as cardinality bounds):
    "events_pareto_user_deciles": "exact user-decile Pareto curve needs "
    "a global ordering of per-user totals; sketch/quantile siblings "
    "(agg_percentile_approx, histogram forms) are the scale path — the "
    "§9r hand audit already classified this row exposed",
}

_SAFE_WINDOW_CLASSES = {"wgl", "bounded", "per-entity", "partition-local"}


def test_registry_window_skew_classes(spark):
    """Every Window node in every registry plan must fall in a §9r-safe
    class — WindowGroupLimit-rewritten, bounded/pre-aggregated input,
    per-entity partition key, or the two-pass prefix sum's
    partition-local leg — or its query must sit on the explicit
    exact-oracle exempt list above. A future query reintroducing a
    single-partition window over raw rows fails here instead of
    shipping (the hand-maintained §9r table caught
    sample_weighted_systematic only in round 9; this sweep caught
    corpus_dedup_keep_best's hot-cluster window in round 10)."""
    from cognitive_score_bigdata_spark.plans.window_audit import classify_windows

    registry = load_registry()
    violations = []
    for name, spec in registry.items():
        for w in classify_windows(spec.fn(spark, SF_DIR)):
            if w.klass == "exposed" and name not in WINDOW_EXEMPT:
                violations.append((name, w.partition_cols))
    assert not violations, (
        "unclassified skew-exposed Window nodes (add a scale-safe form "
        f"or an exempt rationale): {violations}"
    )


def test_window_audit_classifier_classes(spark):
    """Classifier unit fixtures: one DataFrame per class, including the
    deliberately-broken global-cumsum-over-raw-rows shape that MUST
    come back exposed (the §9r scale-killer the sweep exists to catch)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from cognitive_score_bigdata_spark.io import load_table
    from cognitive_score_bigdata_spark.plans.window_audit import classify_windows

    ev = load_table(spark, SF_DIR, "events")

    topk = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("event_type").orderBy("ts")),
    ).filter("rn <= 3")
    assert [w.klass for w in classify_windows(topk)] == ["wgl"]

    per_entity = ev.withColumn(
        "s", F.sum("value").over(Window.partitionBy("user_id").orderBy("ts"))
    )
    assert [w.klass for w in classify_windows(per_entity)] == ["per-entity"]

    daily = ev.groupBy("event_type").agg(F.sum("value").alias("v"))
    bounded = daily.withColumn("r", F.rank().over(Window.orderBy("v")))
    assert [w.klass for w in classify_windows(bounded)] == ["bounded"]

    local = ev.withColumn("__pid", F.spark_partition_id()).withColumn(
        "s", F.sum("value").over(Window.partitionBy("__pid").orderBy("ts"))
    )
    assert [w.klass for w in classify_windows(local)] == ["partition-local"]

    broken = ev.withColumn("cum", F.sum("value").over(Window.orderBy("ts")))
    assert [w.klass for w in classify_windows(broken)] == ["exposed"]

    # stacked windows: a low-cardinality WGL below (top-3 per
    # event_type, <= 3*|types| rows) genuinely bounds the upper window
    lower = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("event_type").orderBy("ts")),
    ).filter("rn <= 3")
    stacked = lower.withColumn(
        "cum", F.sum("value").over(Window.orderBy("ts"))
    )
    ks = sorted(w.klass for w in classify_windows(stacked))
    assert ks == ["bounded", "wgl"], ks

    # ...but an ENTITY-keyed WGL does not (top-3 per user is |users|*3
    # rows): the upper global window must come back exposed — the
    # two-window false-negative hole, and the per-user-totals shape
    # the hand audit classified exposed for events_pareto_user_deciles
    lower_u = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("ts")),
    ).filter("rn <= 3")
    stacked_u = lower_u.withColumn(
        "cum", F.sum("value").over(Window.orderBy("ts"))
    )
    ks = sorted(w.klass for w in classify_windows(stacked_u))
    assert ks == ["exposed", "wgl"], ks


def test_window_audit_dpp_duplicate_and_novel_subquery_windows(spark):
    """Round-11 classifier extension: dynamic partition pruning COPIES
    a join's broadcast side (windows included) into a scan's pruning
    subquery AFTER InferWindowGroupLimit ran, so the copy lacks its
    group-limit and would false-alarm as exposed. A subquery window
    whose (partition, order) signature matches a main-plan window must
    be skipped as the engine-made duplicate it is (positive fixture =
    the registered vector_ivf_merge_topk plan, the query that first
    tripped this). A subquery window with NO main-plan twin must still
    classify — including coming back exposed when it is (negative
    fixture: global cumsum window inside an IN-subquery)."""
    import pyspark.sql.functions as F  # noqa: F401

    from cognitive_score_bigdata_spark.io import load_table
    from cognitive_score_bigdata_spark.plans.window_audit import classify_windows

    R = load_registry()
    ivf = R["vector_ivf_merge_topk"].fn(spark, SF_DIR)
    ks = [w.klass for w in classify_windows(ivf)]
    assert ks == ["wgl", "wgl"], ks  # the DPP copy reported neither

    load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "__audit_events"
    )
    novel = spark.sql(
        """
        SELECT * FROM __audit_events WHERE user_id IN (
          SELECT user_id FROM (
            SELECT user_id, SUM(value) OVER (ORDER BY ts) AS cum
            FROM __audit_events
          ) WHERE cum > 100
        )
        """
    )
    ks = [w.klass for w in classify_windows(novel)]
    assert "exposed" in ks, ks


def test_entity_share_audit_is_window_free_topk(spark):
    """The audit that exists to FIND skew must not itself be
    skew-exposed: map-side-combined per-user count, the total joined
    back as a broadcast 1-row aggregate, TakeOrderedAndProject for the
    top-K — no Window node, no global sort exchange."""
    a = _audit(spark, "quality_entity_share_audit")
    assert "Window" not in a["text"], a["text"][:2000]
    assert a["has_take_ordered"], a["text"][:2000]
    assert a["n_partial_aggs"] >= 1, a["text"][:2000]
    # the 1-row total broadcasts back as a BuildRight nested-loop cross
    assert "BroadcastNestedLoopJoin Cross BuildRight" in a["text"], (
        a["text"][:2000]
    )
    # one pass over events: the per-user table is localCheckpointed
    # before fan-out, so BOTH legs read the same checkpoint RDD and no
    # raw parquet scan remains in the consuming plan
    assert a["text"].count("Scan parquet") == 0, a["text"][:2000]
    import re as _re

    rdd_ids = set(_re.findall(r"MapPartitionsRDD\[(\d+)\]", a["text"]))
    assert len(rdd_ids) == 1, f"legs read different RDDs: {rdd_ids}"


def test_window_audit_sees_subquery_windows(spark):
    """Subqueries are not planned into sparkPlan() until execution
    prep, so a Window hiding inside a scalar-subquery expression was
    invisible to the physical walk — the classifier sweeps
    optimizedPlan().subqueriesAll() for exactly this. The bounded
    variant (window over an aggregate inside the subquery) must also
    classify, via the logical-plan analogues."""
    from cognitive_score_bigdata_spark.io import load_table
    from cognitive_score_bigdata_spark.plans.window_audit import classify_windows

    load_table(spark, SF_DIR, "events").createOrReplaceTempView("__wa_ev")
    exposed = spark.sql("""
      SELECT user_id, value FROM __wa_ev
      WHERE value > (SELECT avg(x) FROM
        (SELECT max(value) OVER (PARTITION BY event_type) AS x FROM __wa_ev))
    """)
    ks = [w.klass for w in classify_windows(exposed)]
    assert ks == ["exposed"], ks

    bounded = spark.sql("""
      SELECT user_id, value FROM __wa_ev
      WHERE value > (SELECT avg(x) FROM
        (SELECT rank() OVER (ORDER BY v) AS x FROM
          (SELECT event_type, sum(value) AS v FROM __wa_ev GROUP BY 1)))
    """)
    ks = [w.klass for w in classify_windows(bounded)]
    assert ks == ["bounded"], ks
