"""Plan-shape assertions: the 100 TB contract.

Correct rows are necessary but not sufficient — these tests pin the
physical properties each operator relies on at scale: scan-level
filter pushdown, column pruning, broadcast dims, no cartesian blowups.
"""

import __spark_entry__ as entry
from agnes_spark.plans import (
    has_broadcast_join,
    has_cartesian,
    num_shuffles,
    pushed_filters,
    read_schemas,
)


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = entry.filter_pred(spark, sf_dir)
    assert any("c_acctbal" in f for f in pushed_filters(df))


def test_projection_prunes_scan(spark, sf_dir):
    df = entry.subview(spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas and all("c_mktsegment" not in s for s in schemas)


def test_q1_pushdown_and_single_agg_shuffle(spark, sf_dir):
    df = entry.q1_pricing_summary(spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # one hash shuffle for the groupBy + one range for the orderBy
    assert num_shuffles(df) <= 2


def test_join_equal_broadcasts_dim(spark, sf_dir):
    df = entry.join_equal(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_q3_broadcasts_and_no_cartesian(spark, sf_dir):
    df = entry.q3_shipping_priority(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_band_join_is_equi_not_cartesian(spark, sf_dir):
    df = entry.join_band(spark, sf_dir)
    assert not has_cartesian(df)


def test_minhash_candidates_join_is_equi(spark, sf_dir):
    df = entry.dedup_minhash(spark, sf_dir)
    assert not has_cartesian(df)


def test_simhash_join_is_equi(spark, sf_dir):
    df = entry.dedup_simhash(spark, sf_dir)
    assert not has_cartesian(df)


def test_embedding_dedup_blocked_join(spark, sf_dir):
    df = entry.dedup_embedding(spark, sf_dir)
    assert not has_cartesian(df)


def test_q6_full_pushdown_no_join(spark, sf_dir):
    df = entry.q6_forecast_revenue(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf) and any("l_discount" in f for f in pf)
    assert num_shuffles(df) == 0  # scalar agg: partials + single-partition exchange only


def test_q10_broadcasts_dims(spark, sf_dir):
    df = entry.q10_returned_items(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    assert any("l_returnflag" in f for f in pushed_filters(df))


def test_ivf_probe_join_not_cartesian(spark, sf_dir):
    df = entry.ann_ivf_topk(spark, sf_dir)
    assert not has_cartesian(df)


def test_word_count_prunes_to_text(spark, sf_dir):
    df = entry.word_count(spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Directory-partitioned parquet + a partition-column filter =>
    PartitionFilters on the scan (whole directories skipped) — the
    layout play that turns a 100 TB scan into a 1 TB scan."""
    from agnes_spark.plans import plan_string
    from agnes_spark.sources.formats import write_parquet

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = str(tmp_path / "cust_by_seg")
    write_parquet(cust, out, partition_by=["c_mktsegment"])
    back = spark.read.parquet(out).filter("c_mktsegment = 'BUILDING'")
    plan = plan_string(back)
    assert "PartitionFilters" in plan and "c_mktsegment" in plan.split("PartitionFilters")[1][:200]
    n = back.count()
    assert n == cust.filter("c_mktsegment = 'BUILDING'").count() and n > 0


def test_sort_uses_range_partitioning(spark, sf_dir):
    """Global sorts range-partition (sampled split points, parallel
    sort) — never a single-partition sort."""
    from agnes_spark.plans import plan_string

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").orderBy("o_totalprice")
    assert "rangepartitioning" in plan_string(df).lower()


def test_winnow_overlap_join_is_equi(spark, sf_dir):
    df = entry.winnow_overlap(spark, sf_dir)
    assert not has_cartesian(df)


def test_interdoc_repetition_no_cartesian_two_shuffles(spark, sf_dir):
    """DF-count window + per-doc rollup: exactly the hash shuffle on
    the shingle hash and the one on the doc id — no joins at all."""
    df = entry.interdoc_repetition(spark, sf_dir)
    assert not has_cartesian(df)
    assert num_shuffles(df) <= 3  # 2 logical (+1 AQE read split at most)


def test_embedding_quantize_zero_shuffle(spark, sf_dir):
    df = entry.embedding_quantize(spark, sf_dir)
    assert num_shuffles(df) == 0
    assert not has_cartesian(df)


def test_audit_plan_flags_and_clears(spark, sf_dir):
    """audit_plan flags a row-at-a-time Python UDF and a cartesian
    product; a well-shaped query comes back clean."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from agnes_spark.plans import audit_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bad_udf = F.udf(lambda x: x + 1, LongType())  # deliberately row-wise
    rules = {f["rule"] for f in audit_plan(li.select(bad_udf("l_orderkey")))}
    assert "row_python_udf" in rules

    a = spark.range(3)
    b = spark.range(3).withColumnRenamed("id", "id2")
    rules = {f["rule"] for f in audit_plan(a.join(b, a.id < F.col("id2") + 100))}
    assert "nested_loop_join" in rules or "cartesian_product" in rules

    clean = (
        li.filter(F.col("l_quantity") > 45)
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    assert audit_plan(clean) == []


# Keys whose plans legitimately contain a BroadcastNestedLoopJoin: every
# one broadcasts a bounded tiny frame — a 1-row scalar/cutoff aggregate
# (q11/q22/rfm/lm_surprise/bm25/tfidf/fill_missing_hours/check twins), a
# k-row exact-baseline for recall checks (ann_*/dedup_embedding*), or the
# intentional tiny-dim cartesian (join_cross). Anything NOT in this list
# growing a BNLJ — or any key growing any other audit finding — fails.
AUDIT_BNLJ_ALLOWED = {
    "rfm_segmentation",
    "join_cross",
    "q22_lapsed_customers",
    "lm_surprise",
    "bm25_top_terms",
    "q11_important_stock",
    "dedup_incremental_embedding",
    "check_incremental_embedding",
    "check_quantized_recall",
    "join_lt",
    "tfidf_top_terms",
    "ann_cosine_topk",
    "fill_missing_hours",
    "check_heavy_hitters_agree",
    "dedup_embedding_auto",
    "ann_ivf_topk",
    "check_embedding_auto_recall",
    "check_ivf_autotuned_recall",
    "triangle_copurchase",  # crossJoin of three 1-row census aggregates
    "ab_welch_ttest",  # crossJoin of the two 1-row cohort aggregates
    "benford_totalprice",  # 1-row total broadcast onto the 9 digit rows
    "drift_js_divergence",  # 1-row totals broadcast onto the category frame
    "domain_mixture_docs",  # 1-row total + 1-row normalizer onto the domain frame
    "ewma_daily_revenue",  # 1-row min-day broadcast onto the daily frame
    "hourly_seasonality",  # 1-row totals broadcast onto the 24 hour rows
    "mann_whitney_cents",  # 1-row moments broadcast onto the 2 cohort rows
    "ks_test_cents",  # 1-row cohort-totals broadcast onto the value frame
    "mutual_info_lang_source",  # 1-row N broadcast onto the (a,b) cell frame
    "pmi_collocations_docs",  # 1-row corpus-N broadcast onto the candidate frame
    "dq_orders_report",  # 1-row n_rows broadcast onto the per-check rows
    "domain_quality_rollup",  # 1-row corpus-total onto the ~20 domain rows
    "search_bm25_topk",  # 1-row corpus-stats broadcast onto matched postings
    "spearman_qty_price",  # 1-row bounds broadcast onto the value grid (x2 rank frames)
    "cusum_changepoint_revenue",  # 1-row totals + 1-row peak broadcast onto the daily frame
    "feature_encode_orders",  # bounded category-stats broadcast (null-safe equality -> BNLJ form)
    "abc_parts_classification",  # 1-row revenue-total broadcast onto the part frame
    "gini_part_revenue",  # 1-row bounds broadcast onto the value grid
    "kaplan_meier_churn",  # 1-row factor-list broadcast onto the bounded duration frame
    "decision_stump_orders",  # 1-row bounds/totals broadcasts onto the value frame
    "holt_trend_revenue",  # 1-row observation-list broadcast onto the bounded daily frame
    "nb_top_tokens_lang",  # 1-row corpus-totals broadcast onto the (class, token) frame
    "rrf_dedup_docs",  # constant-k (15-row) rank-dominance pair join, broadcast both sides
    "trimmed_mean_price",  # 1-row bounds/totals broadcasts onto the value frame
    "assoc_rules_parts",  # 1-row basket-count broadcast onto the rule frame
    "stump_eval_orders",  # 1-row learned-split broadcast onto the fact scan (+ stump bounds/totals)
    "hard_negatives_embeddings",  # 16-row anchor broadcast (ann exact-baseline pattern)
    "ccf_events_hourly",  # 7-row lag-list broadcast onto the bounded hourly frame
    "quantile_norm_docs",  # bounded distinct-value interval frame broadcast (range join)
    "ks_matrix_sources",  # groups x distinct-values ECDF grid (both sides cardinality-bounded)
    "winsorized_mean_price",  # 1-row totals/cuts broadcasts onto the value frame
    "theil_sen_daily",  # all-pairs x<y over the calendar-bounded daily frame (days^2 by definition of Theil-Sen) + 1-row slope broadcast
    "rrf_fusion_docs",  # 1-row corpus-stats broadcast onto matched postings (x2 query variants, the search_bm25_topk pattern)
}


# Keys whose plans legitimately funnel through one task. Two classes:
# a global window over a DIMENSION table (window_distribution ranks
# supplier) or over an ALREADY-AGGREGATED cardinality-bounded frame
# (daily revenue <= calendar days, per-value counts <= distinct
# values, contingency cells <= |priorities|x|statuses|, per-supplier
# revenue <= suppliers — q15 keeps the max in the same accumulation
# deliberately, so both sides of its equality filter round
# identically). Any other key growing a SinglePartition exchange
# outside agg-merge/top-N fails.
AUDIT_SP_ALLOWED = {
    "window_distribution",
    "revenue_dod_delta",
    "rolling_corr_daily",  # rolling window over the bounded daily frame (calendar days)
    "cumulative_reach",  # running sum over the bounded hourly first-appearance frame
    "column_entropy",
    "chi2_independence",
    "q15_top_supplier",
    "rolling_7d_revenue",
    "vocab_coverage",  # global cum-sum window over the VOCAB frame (bounded by distinct terms)
    "benford_totalprice",  # final sort of the 9-digit profile frame
    "ewma_daily_revenue",  # ordered cumsum over the bounded daily frame (calendar days)
    "mann_whitney_cents",  # bucket-totals prefix sum (n_buckets=64 rows)
    "ks_test_cents",  # bucket-totals prefix sum (n_buckets=64 rows)
    "spearman_qty_price",  # bucket-totals prefix sum (n_buckets=64 rows, x2 rank frames)
    "cusum_changepoint_revenue",  # ordered cumsum over the bounded daily frame (calendar days)
    "rolling_median_revenue",  # rolling frame median over the bounded daily frame
    "abc_parts_classification",  # Pareto cumsum over the part-catalog frame (dimension-bounded)
    "gini_part_revenue",  # bucket-totals prefix sum (n_buckets=64 rows)
    "pareto_frontier_parts",  # skyline prefix-max over the bounded bucket frame (value_range/width rows)
    "kaplan_meier_churn",  # at-risk suffix sum + rank over the bounded distinct-duration frame
    "decision_stump_orders",  # bucket-offset prefix sum over the constant-size bucket frame
    "holt_trend_revenue",  # rank + list fold over the calendar-bounded daily frame
    "trimmed_mean_price",  # bucket-offset prefix sum over the constant-size bucket frame
    "stump_eval_orders",  # bucket-offset prefix sum over the constant-size bucket frame
    "ccf_events_hourly",  # hour rank over the calendar-bounded hourly frame
    "quantile_norm_docs",  # interval prefix over the bounded distinct-value frame
    "winsorized_mean_price",  # bucket-offset prefix sum over the constant-size bucket frame
    "theil_sen_daily",  # bucket-prefix window (4096 rows) + median-select row_number over ONE slope bucket (~pairs/4096 rows; pairs are calendar^2-bounded)
    "rrf_fusion_docs",  # rank windows over the constant-k (200-row) cut frames + final fused top-15 sort
}


def test_audit_plan_whole_registry(spark, sf_dir):
    """Every queries() key's physical plan is free of scale
    anti-patterns (cartesians, row-Python UDFs, single-partition
    exchanges outside agg-merge/top-N, unpushed filters) — the
    registry-wide version of the spot assertions above.
    BroadcastNestedLoopJoin and SinglePartition exchanges are
    tolerated only for the documented allowlists."""
    from agnes_spark.plans import audit_plan

    qs = entry.queries()
    bad = {}
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        rules = sorted({f["rule"] for f in audit_plan(df)})
        if name in AUDIT_BNLJ_ALLOWED:
            rules = [r for r in rules if r != "nested_loop_join"]
        if name in AUDIT_SP_ALLOWED:
            rules = [r for r in rules if r != "single_partition_exchange"]
        if rules:
            bad[name] = rules
    assert not bad, f"plan anti-patterns crept in: {bad}"


def test_single_partition_rule_fires_and_clears(spark, sf_dir):
    """The formatted-plan SinglePartition rule (plans/__init__.py
    _single_partition_findings): a global window over raw rows is
    flagged; a global aggregate's merge exchange and a top-N are not.
    (The old substring rule never fired on formatted plans — the
    Arguments print on their own line.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from agnes_spark.plans import audit_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    global_window = li.select(
        F.row_number().over(Window.orderBy("l_orderkey")).alias("rn")
    )
    assert any(
        f["rule"] == "single_partition_exchange" for f in audit_plan(global_window)
    )
    global_agg = li.agg(F.sum("l_quantity").alias("s"))
    assert not any(
        f["rule"] == "single_partition_exchange" for f in audit_plan(global_agg)
    )
    # a FINAL grouped aggregate feeding a global window is NOT an
    # agg-merge: the whole grouped result crosses one task (the
    # child-only exemption this replaced missed exactly this case)
    grouped_then_window = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .select(F.row_number().over(Window.orderBy("s")).alias("rn"))
    )
    assert any(
        f["rule"] == "single_partition_exchange"
        for f in audit_plan(grouped_then_window)
    )
    topn = li.orderBy("l_orderkey").limit(5)
    assert not any(
        f["rule"] == "single_partition_exchange" for f in audit_plan(topn)
    )


def _detail_block(p: str, nid: int) -> str:
    """The detail section for node `nid` in a formatted plan (from
    '(nid) Name' to the next '(n) ' header)."""
    import re

    m = re.search(rf"^\({nid}\) .*?$", p, re.M)
    if not m:
        return ""
    rest = p[m.end():]
    nxt = re.search(r"^\(\d+\) ", rest, re.M)
    return rest[: nxt.start()] if nxt else rest


def test_bloom_probe_prunes_before_join_shuffle(spark, sf_dir):
    """The Bloom probe must run BELOW the fact side's join exchange —
    pruning after the shuffle would ship the rows it exists to drop.
    Pinned structurally: a Filter whose condition carries the xxhash64
    probe has an Exchange ancestor which has the ShuffledHashJoin as
    its own ancestor."""
    import re

    from agnes_spark.plans import _plan_tree, has_cartesian, plan_string

    df = entry.bloom_pruned_join(spark, sf_dir)
    assert not has_cartesian(df)
    p = plan_string(df)
    assert "ShuffledHashJoin" in p  # the hint held: shuffle join regime
    tree = _plan_tree(p)
    bloom_filters = [
        nid
        for nid, n in tree.items()
        if n["name"] == "Filter" and "xxhash64" in _detail_block(p, nid)
    ]
    assert bloom_filters, "bloom probe filter missing from the plan"

    def ancestors(nid):
        out = []
        cur = tree[nid]["parent"]
        while cur is not None:
            out.append(cur)
            cur = tree[cur]["parent"]
        return out

    ok = False
    for f in bloom_filters:
        anc = ancestors(f)
        exchanges = [a for a in anc if tree[a]["name"].startswith("Exchange")]
        for e in exchanges:
            if any(
                tree[a]["name"].startswith("ShuffledHashJoin")
                for a in ancestors(e)
            ):
                ok = True
    assert ok, "bloom probe is not below the join exchange"


def test_partitioned_gate_scan_prunes_directories(spark, sf_dir):
    """The partitioned_write_prune gate's read-back scan must carry
    the o_year partition predicate as PartitionFilters (directory
    pruning), not as a post-scan Filter."""
    from agnes_spark.plans import plan_string

    df = entry.partitioned_write_prune(spark, sf_dir)
    p = plan_string(df)
    assert "PartitionFilters" in p
    assert "o_year" in p.split("PartitionFilters")[1][:200]


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The DPP gate's fact scan must carry a dynamicpruningexpression
    in its PartitionFilters — partitions picked at RUNTIME from the
    broadcast dim result, not scanned and filtered after the fact."""
    from agnes_spark.plans import plan_string

    df = entry.dynamic_partition_prune(spark, sf_dir)
    p = plan_string(df)
    assert "dynamicpruningexpression" in p.lower()


def test_explain_summary_digest(spark, sf_dir):
    """explain_summary reports the scan pushdowns, join list, shuffle
    count, and audit findings for a representative join+agg query."""
    from pyspark.sql import functions as F

    from agnes_spark.plans import explain_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_quantity") > 45
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    q = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").agg(
        F.sum("l_extendedprice").alias("rev")
    )
    s = explain_summary(q)
    assert s["scans"] and all(sc["format"] == "parquet" for sc in s["scans"])
    assert any("l_quantity" in sc["pushed_filters"] for sc in s["scans"])
    assert any("Join" in j for j in s["joins"])
    assert s["num_shuffles"] >= 1
    assert s["codegen_stages"] >= 1
    assert s["findings"] == []
