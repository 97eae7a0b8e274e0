"""Physical-plan regression guards — the 100 TB posture, asserted.

A correct result with a bad plan is a latent outage at scale: these tests
pin the plan properties that matter (pushdown reaching the scan, broadcast
only on dimensions, top-k without global sort, bucketed joins without
shuffle) so a refactor can't silently regress them.
"""

from __future__ import annotations

import pytest

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _smj_keys(plan: str) -> list[str]:
    """The ``Left keys``/``Right keys`` lines of every SortMergeJoin in a
    formatted plan. The tree line names the node but not its keys; the
    keys sit in the node's numbered detail block, one line each."""
    import re

    keys, in_smj = [], False
    for ln in plan.splitlines():
        header = re.match(r"\(\d+\) (\S+)", ln)
        if header:
            in_smj = header.group(1) == "SortMergeJoin"
        elif in_smj and ln.startswith(("Left keys", "Right keys")):
            keys.append(ln)
    return keys


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, REGISTRY["q1_pricing_summary"].spark_fn(spark, SF_DIR))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reaches the scan
    assert "l_orderkey" not in plan.split("ReadSchema:")[1].splitlines()[0]  # pruned


def test_bbox_bounds_pushed(spark):
    plan = _plan(spark, REGISTRY["bbox_range_filter"].spark_fn(spark, SF_DIR))
    for frag in (
        "GreaterThanOrEqual(l_quantity,10.0",
        "LessThanOrEqual(l_quantity,20.0",
        "GreaterThanOrEqual(l_extendedprice,20000.0",
    ):
        assert frag in plan


def test_lookup_join_broadcasts_dimensions(spark):
    plan = _plan(spark, REGISTRY["lookup_enrich_customers"].spark_fn(spark, SF_DIR))
    # formatted mode prints each node in tree + detail → 2 joins appear ≥2 times
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, REGISTRY["q3_top_unshipped_orders"].spark_fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_covers_kernel(spark):
    # the string kernel must stay inside codegen (JVM), not fall to Python
    plan = _plan(spark, REGISTRY["naming_sanitize_chain"].spark_fn(spark, SF_DIR))
    assert "[codegen id :" in plan  # formatted mode's whole-stage-codegen marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semi_join_stays_semi(spark):
    plan = _plan(spark, REGISTRY["semi_join_include_filter"].spark_fn(spark, SF_DIR))
    assert "LeftSemi" in plan


@pytest.fixture(scope="module")
def bucketed_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    yield "bucketdemo"
    spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")


def test_bucketed_join_is_shuffle_free(spark, bucketed_db):
    """Co-located join: both sides bucketed by the join key → SortMergeJoin
    with NO Exchange. This is the 100 TB recipe for repeated big-big joins
    (bucket once, join many times without reshuffling)."""
    from etl_pipeline_spark.sources.star import load_table

    orders = load_table(spark, SF_DIR, "orders").limit(5000)
    li = load_table(spark, SF_DIR, "lineitem").limit(20000)
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(f"{bucketed_db}.orders_b"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(f"{bucketed_db}.lineitem_b"))
    a = spark.table(f"{bucketed_db}.orders_b")
    b = spark.table(f"{bucketed_db}.lineitem_b")
    # disable broadcast to prove the co-location, not the dimension path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderstatus").count()
        plan = _plan(spark, joined)
        join_section = plan.split("SortMergeJoin")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in join_section  # no shuffle before the join
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q7_dimensions_broadcast(spark):
    """Q7: supplier + both nation aliases broadcast; the only SortMergeJoins
    are the fact-side lineitem/orders/customer chain."""
    plan = _plan(spark, REGISTRY["q7_volume_shipping"].spark_fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, n1, n2
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_q18_having_filter_before_rejoin(spark):
    """Q18: the HAVING aggregate qualifies few orderkeys; they must come back
    as a broadcast semi-join against orders, not a shuffled one."""
    plan = _plan(spark, REGISTRY["q18_large_volume_customers"].spark_fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan  # top-100 never global-sorts


def test_q21_anti_and_semi_probe(spark):
    """Q21 adapted: the EXISTS/NOT EXISTS pair plans as one semi and one
    anti join — no cartesian fallback."""
    plan = _plan(spark, REGISTRY["q21_waiting_supplier"].spark_fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q13_outer_join_preserved(spark):
    """Q13: the ON-clause predicate must not collapse the outer join to
    inner (zero-order customers carry c_count=0)."""
    plan = _plan(spark, REGISTRY["q13_customer_distribution"].spark_fn(spark, SF_DIR))
    assert "LeftOuter" in plan


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucketed interval join must plan as a hash/sort-merge equi-join —
    a raw range predicate would fall back to BroadcastNestedLoopJoin."""
    plan = _plan(spark, REGISTRY["range_join_click_attribution"].spark_fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_sql_not_in_plans_as_single_broadcast_anti(spark):
    """NOT IN must become one broadcast anti join (Spark's null-aware anti
    join path) — not a nested loop, and the fallback cartesian is banned."""
    plan = _plan(spark, REGISTRY["sql_not_in_null_aware"].spark_fn(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_shuffle_partial_agg(spark):
    plan = _plan(
        spark, REGISTRY["sql_funnel_view_click_purchase"].spark_fn(spark, SF_DIR)
    )
    # one exchange for the per-user agg, one single-partition collapse for
    # the global rollup (formatted mode prints tree + detail; count the
    # detail blocks) — and the per-user agg must run partial (map-side)
    assert plan.count("ENSURE_REQUIREMENTS") <= 2
    assert "partial_min" in plan or "partial_count" in plan


def test_snapshot_diff_is_one_join_no_udf(spark):
    plan = _plan(spark, REGISTRY["snapshot_diff_orders"].spark_fn(spark, SF_DIR))
    # exactly one join node (formatted mode mentions it twice: tree + detail)
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert joins == 2 and "FullOuter" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_histogram_partial_agg_no_expand(spark):
    plan = _plan(spark, REGISTRY["sql_histogram_event_values"].spark_fn(spark, SF_DIR))
    # equal-width binning is one map-side-combinable agg — no row explosion
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Generate" not in plan  # no explode anywhere


def test_split_assign_no_shuffle_no_udf(spark):
    plan = _plan(spark, REGISTRY["train_test_split_assign"].spark_fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_eval_side_broadcast(spark):
    plan = _plan(
        spark, REGISTRY["decontaminate_eval_overlap"].spark_fn(spark, SF_DIR)
    )
    # the train-shingle scan must join map-side against broadcast eval
    # shingles — a sort-merge join here would shuffle the whole corpus
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_pairs_distinct_before_quadratic(spark):
    df = REGISTRY["sql_fuzzy_name_pairs"].spark_fn(spark, SF_DIR)
    plan = _plan(spark, df)
    # the vocabulary is deduped BEFORE the pair join: HashAggregate on both
    # sides below the (broadcast) nested-loop pair comparison
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan


def test_zscore_stats_join_broadcast(spark):
    plan = _plan(spark, REGISTRY["sql_zscore_normalize_events"].spark_fn(spark, SF_DIR))
    # the group-count-sized stats relation broadcasts; events never
    # shuffle for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_lookup_is_hash_join_not_nested_loop(spark):
    plan = _plan(spark, REGISTRY["scd2_state_at_purchase"].spark_fn(spark, SF_DIR))
    # key equality drives a hash join; the validity-interval test must stay
    # a residual predicate, never a nested-loop/cartesian plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sketch_probes_broadcast_never_sortmerge(spark):
    """CMS estimate, Bloom check, and the probe side of the pruning query
    must join against the broadcast sketch relation — a SortMergeJoin here
    would shuffle the (unbounded) probe side on sketch cells."""
    for name in ("cms_partkey_estimates", "bloom_supplier_prune"):
        plan = _plan(spark, REGISTRY[name].spark_fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_hll_build_partial_aggregates(spark):
    """HLL register builds must partially aggregate map-side: the exchange
    carries ≤ 2^p register cells per task, never raw rows."""
    plan = _plan(spark, REGISTRY["hll_orderkey_cardinality"].spark_fn(spark, SF_DIR))
    assert "partial_max" in plan


def test_relational_ann_no_python_and_broadcast_candidates(spark):
    """The driver-checked ANN queries (pivot quantizer) must stay entirely
    JVM-side — no Arrow/Python eval nodes anywhere — and the candidate
    join must broadcast the bounded probe side against the cell-assigned
    corpus (the side that scales)."""
    from etl_pipeline_spark.plans.registry import all_queries

    for q in ("ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk"):
        plan = _plan(spark, all_queries()[q](spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
        # candidate generation must broadcast the bounded side (hash join on
        # cell for IVF/IVF-PQ; nested-loop against the bounded query
        # distance tables for flat PQ) — never a shuffled join
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_heavy_hitters_exact_side_prunes_key_space(spark):
    """The exact-count annotation in cms_heavy_hitters must aggregate only
    the bounded candidate set (semi-join BEFORE the groupBy) — never the
    full key space, which is exactly the unbounded distinct-key shuffle
    the CMS exists to avoid."""
    plan = _plan(spark, REGISTRY["cms_heavy_hitters"].spark_fn(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_ann_encode_is_zero_exchange(spark):
    """The IVF cell assignment and PQ code assignment — the parts that touch
    the WHOLE corpus — must be narrow projections over the broadcast
    pivot/codebook array: no shuffle Exchange anywhere between the corpus
    scan and the cell/code output. (The former row_number-window argmin
    shuffled corpus × m × ksub rows; at 100 TB the encode is a one-time
    cost that must stay map-side.) Broadcast exchanges are allowed — they
    move only the bounded pivot/codebook/sample side."""
    from etl_pipeline_spark.operators.similarity import (
        _assign_cells_narrow,
        _codebook_array,
        _codebook_entries,
        _normalized,
        _ordered_sample,
        _pivot_array,
        _pivot_rows,
        _pq_codes,
    )
    from etl_pipeline_spark.sources.star import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    sample = _ordered_sample(emb, "vec_id", "embedding", 4096)
    dim = len(sample[0])
    piv1 = _pivot_array(spark, _pivot_rows(sample, 8))
    cells = _assign_cells_narrow(
        emb, piv1, "vec_id", "embedding", "nid", keep_vec=False, dim=dim
    )
    cn = _normalized(emb, "vec_id", "embedding", dim)
    codes = _pq_codes(cn, _codebook_array(spark, _codebook_entries(sample, 8, 16)), 8, 16, dim // 8)
    for name, df in (("ivf_cells", cells), ("pq_codes", codes)):
        plan = _plan(spark, df)
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name


def test_prefix_sum_windows_are_bucket_partitioned(spark):
    """The distributed prefix sum must never plan a data-sized
    single-partition window: the only unpartitioned window runs over the
    SMALL bucket-totals relation; the data-sized window partitions by
    bucket. Guarded by counting window partitioning specs in the plan."""
    plan = _plan(
        spark, REGISTRY["pack_sequences_budget"].spark_fn(spark, SF_DIR)
    )
    import re

    # the per-row cumsum window must carry a PARTITION BY (__bucket)
    assert "__bucket" in plan
    # exactly one global (unpartitioned) sort for the bucket-offsets window
    assert plan.count("Window") >= 2


def test_gopher_filter_is_narrow_scan(spark):
    """The rule filter is a projection over the scan — zero Exchange."""
    plan = _plan(
        spark, REGISTRY["quality_filter_gopher"].spark_fn(spark, SF_DIR)
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_corpus_side_broadcast_only(spark):
    """The per-language keep-probability relation joins the corpus via
    broadcast; the only hash shuffles are the tiny lang aggregates."""
    plan = _plan(
        spark, REGISTRY["temperature_sampled_mix"].spark_fn(spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_size_estimate_single_grouped_pass(spark):
    """Exact + sampled Σcnt² come from one grouped count and one final
    aggregate — two Exchanges total, volume = distinct keys then 1 row."""
    plan = _plan(spark, REGISTRY["join_size_estimate"].spark_fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_target_encode_broadcasts_stats(spark):
    """The 5-row category stats and 1-row global mean broadcast back over
    the fact scan — the encode itself never shuffles the facts."""
    plan = _plan(
        spark, REGISTRY["target_encode_priority"].spark_fn(spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # facts are never hash-repartitioned: only the grouped stats aggregate
    assert plan.count("Exchange hashpartitioning") <= 2


def test_winnow_fingerprints_no_exchange_before_join(spark):
    """Fingerprint selection is one Arrow pass over the scan: zero
    Exchange between the documents scan and the (doc_id, fp) output."""
    from etl_pipeline_spark.operators.fingerprint import winnow_fingerprints
    from etl_pipeline_spark.sources.star import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    plan = _plan(spark, winnow_fingerprints(docs, k=16, w=8))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_split_leakage_adds_no_joins_beyond_pair_build(spark):
    """Split labels are narrow hash projections on the pair endpoints —
    the leakage rollup adds ZERO joins and ZERO scans on top of the
    near-dup pair build (the old corpus-sized split broadcasts are a
    driver OOM at 100 TB)."""
    from etl_pipeline_spark.plans.llm import _jaccard_pairs

    pairs_plan = _plan(spark, _jaccard_pairs(spark, SF_DIR, threshold=0.5))
    leak_plan = _plan(
        spark, REGISTRY["split_leakage_check"].spark_fn(spark, SF_DIR)
    )
    for node in ("BroadcastHashJoin", "SortMergeJoin", "Scan parquet"):
        assert leak_plan.count(node) == pairs_plan.count(node), node


def test_jl_projection_is_narrow_zero_exchange(spark):
    """The sign projection is one Project over the scan — zero Exchange,
    no Python eval (the literal matrix folds inside codegen)."""
    from etl_pipeline_spark.plans.text_analytics import jl_project
    from etl_pipeline_spark.sources.star import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(spark, jl_project(emb))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salted_join_spreads_key_and_matches_plain(spark):
    """The salted join's keys carry BOTH the join key and the salt, and
    the dim side is exploded (Generate) — the skew-spread shape."""
    plan = _plan(spark, REGISTRY["skew_salted_join"].spark_fn(spark, SF_DIR))
    assert "Generate" in plan
    assert "__salt" in plan


def test_bootstrap_single_pass_no_resample_shuffle(spark):
    """B=32 replicates from ONE scan of orders (formatted mode prints
    each node twice: tree + detail). A crossJoin of separately-derived
    stats would triple the scan count — the regression this pins."""
    plan = _plan(spark, REGISTRY["bootstrap_revenue_ci"].spark_fn(spark, SF_DIR))
    assert plan.count("Scan parquet") == 2  # one scan, printed twice


def test_tfidf_no_python_and_rank_window(spark):
    """TF-IDF stays JVM-side; the per-doc top-k is a rank window (the
    df-side join may auto-broadcast at LOCAL sizes — what matters at
    scale is that no broadcast HINT pins the unbounded vocab side, so
    Spark's size-based planner flips it to a shuffle join on real data)."""
    plan = _plan(spark, REGISTRY["tfidf_top_terms"].spark_fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan
    import inspect

    from etl_pipeline_spark.plans import text_analytics

    src = inspect.getsource(text_analytics.tfidf_top_terms)
    # the only broadcast hint allowed is the 1-row doc count
    assert src.count("F.broadcast") == 1 and "F.broadcast(n)" in src


def test_windowed_distinct_day_grain_reuses_cells(spark):
    """The 24h register relation merges the 6h cells — one events scan
    (printed twice in formatted mode), no second pass."""
    from pyspark.sql import functions as F

    from etl_pipeline_spark.operators.sketch import hll_build_grouped
    from etl_pipeline_spark.sources.star import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        F.expr("(ts DIV 21600000000000) * 21600").alias("win6"), "user_id"
    )
    regs6 = hll_build_grouped(ev, ["win6"], "user_id", p=8)
    regs24 = regs6.groupBy(
        F.expr("(win6 DIV 86400) * 86400").alias("win24"), F.col("idx")
    ).agg(F.max("rho_max").alias("rho_max"))
    plan = _plan(spark, regs24)
    assert plan.count("Scan parquet") == 2  # one scan, printed twice


def test_curation_funnel_single_lineage(spark):
    """Stage counts come from per-doc flags + one aggregate, with the
    twice-consumed flag relations checkpointed — the final plan reads
    materialized flag state (ExistingRDD) and the memoized shingle
    relation, NEVER the documents parquet again, and contains no Union
    of re-derived stage branches."""
    import re

    plan = _plan(
        spark, REGISTRY["corpus_curation_e2e"].spark_fn(spark, SF_DIR)
    )
    # the only parquet scan node is the one INSIDE the persisted shingle
    # relation's printed definition (materialized once per session)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) <= 1, scan_ids
    assert "Union" not in plan
    assert "ExistingRDD" in plan


def test_nb_vocab_prune_is_topk_and_model_broadcasts(spark):
    """The NB vocabulary cap is an exact top-k (TakeOrderedAndProject),
    never a single-partition global window, and the pruned model joins
    the test tokens via broadcast only."""
    plan = _plan(
        spark, REGISTRY["nb_lang_classifier_eval"].spark_fn(spark, SF_DIR)
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # a global row_number over the vocab would show as a 1-partition sort
    assert "Exchange SinglePartition" not in plan.split("TakeOrderedAndProject")[0]


def test_funnel_latency_asof_window_and_histogram_quantiles(spark):
    """The view→purchase pairing is ONE user-keyed window — no
    purchases×views join anywhere in the plan (the old theta join is
    per-user quadratic under a power user at 100×) — and the p50/p90
    rank selection runs over the per-distinct-latency histogram
    aggregate, never a single-partition sort of the conversion
    relation."""
    plan = _plan(
        spark, REGISTRY["funnel_latency_quantiles"].spark_fn(spark, SF_DIR)
    )
    for join in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert join not in plan, join
    # the data-sized as-of window is user-partitioned
    assert "windowspecdefinition(user_id" in plan
    # the quantile selection sits above the groupBy(latency_sec) histogram
    assert "Keys [1]: [latency_sec" in plan


def test_attribution_pairing_is_bucketed_hash_join(spark):
    """The touch↔purchase pairing must go through
    operators/rangejoin.py::bucketed_interval_join — a hash equi-join
    keyed on (user, 30-min time-bin) with the range as residual, the
    same device as range_join_click_attribution — not a user-only theta
    join (per-user quadratic) or a nested loop."""
    plan = _plan(
        spark, REGISTRY["attribution_credit_events"].spark_fn(spark, SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    # the time-bin is part of the join key (explode of the bin sequence
    # on the probe side), proving the bucketed device, not a residual-only
    # user join
    assert "__bin" in plan


def test_pagination_prefix_sum_no_single_partition_window(spark):
    """Both pagination queries compute the global row number with the
    two-level distributed prefix sum: the data-sized window partitions
    by __bucket, and the only single-partition exchange feeds the SMALL
    bucket-offsets window — never the orders scan."""
    for name in ("pagination_page_slice", "pagination_page_manifest"):
        plan = _plan(spark, REGISTRY[name].spark_fn(spark, SF_DIR))
        assert "__bucket" in plan, name
        # the bare ROW_NUMBER plan collapsed the whole scan into one
        # partition; the prefix-sum form has no row_number at all
        assert "row_number" not in plan, name


def _unpartitioned_window_order_keys(plan: str) -> list[str]:
    """First argument of every windowspecdefinition that has NO partition
    spec (an unpartitioned ordered window starts straight with a sort
    field, which carries ASC/DESC; partition columns never do)."""
    import re

    keys = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        first = m.group(1).split(",")[0]
        if " ASC" in first or " DESC" in first:
            keys.append(first)
    return keys


def test_cumshare_quartet_bucketed_prefix_sum(spark):
    """pareto/gini/abc_xyz rank-or-cumsum ENTITY-cardinality relations
    (customers/parts) and quantile_normalize windows the events FACT
    over a ~5-value partition key: all four must route through the
    two-level range-bucketed device (operators/packing.py::
    range_bucketed_rank). The ONLY unpartitioned ordered window allowed
    in their plans is the bucket-offsets window over the SMALL totals
    relation (sort key __bucket) — never the data-sized relation."""
    for name in (
        "pareto_abc_revenue",
        "gini_revenue_concentration",
        "abc_xyz_inventory_matrix",
        "quantile_normalize_values",
    ):
        plan = _plan(spark, REGISTRY[name].spark_fn(spark, SF_DIR))
        assert "__bucket" in plan, name
        for key in _unpartitioned_window_order_keys(plan):
            assert "__bucket" in key, (name, key)
    # the fact-sized percent_rank is gone entirely: ranks come from
    # offset + intra-bucket rank
    qplan = _plan(
        spark, REGISTRY["quantile_normalize_values"].spark_fn(spark, SF_DIR)
    )
    assert "percent_rank" not in qplan


def test_item_cooccurrence_joinless_pair_build(spark):
    """The basket pair build must expand MAP-SIDE inside the collected
    basket array — ZERO joins touch the fact table (the v1 shape
    self-joined a distinct relation: 3 fact-sized shuffles, 50.1 s /
    21.5× at 64×; this shape: 21.7 s / 8.2×). The only joins in the plan are the
    two BROADCAST part-occurrence lookups, and top-k is
    TakeOrderedAndProject, not a global sort of all pairs."""
    plan = _plan(
        spark, REGISTRY["item_cooccurrence_topk"].spark_fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # no fact-sized join anywhere
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both n_a and n_b lookups
    assert "TakeOrderedAndProject" in plan


def test_mann_kendall_pairs_are_day_domain_only(spark):
    """The quadratic pair join must run over the DAILY aggregate (day
    domain), not the orders scan: both join children must sit above a
    HashAggregate, and the fact table is scanned exactly twice (daily
    relation reused per side), never joined raw."""
    plan = _plan(
        spark, REGISTRY["mann_kendall_trend_revenue"].spark_fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    # the day >, cents comparisons ride a real join, and every scan of
    # orders is a 2-column read (day source + cents source — pruned)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("o_orderkey" not in ln for ln in read)


def test_gini_split_search_is_bin_domain(spark):
    """The split search must be bin-domain arithmetic: one grouped
    histogram count over a 2-column pruned scan, no row_number over the
    fact table, and the only window runs over the bounded bin relation."""
    plan = _plan(
        spark, REGISTRY["gini_split_finder_price"].spark_fn(spark, SF_DIR)
    )
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("o_orderkey" not in ln for ln in read)  # pruned
    assert "row_number" not in plan
    assert "CartesianProduct" not in plan


def test_crossdoc_dup_mass_no_joins(spark):
    """Duplication mass is one grouped count + one aggregate: the plan
    must contain NO join of any kind — a join would mean the n-gram
    relation is being re-paired instead of counted."""
    plan = _plan(
        spark, REGISTRY["crossdoc_ngram_dup_mass"].spark_fn(spark, SF_DIR)
    )
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert j not in plan, j


def test_forecast_backtest_joins_are_equi(spark):
    """The t-1/t-7 calendar joins must plan as equi-joins on the
    day key (the +1/+7 shift is in the projection), never a range
    nested loop."""
    plan = _plan(
        spark, REGISTRY["forecast_backtest_mape"].spark_fn(spark, SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_spearman_scan_is_two_columns(spark):
    """Spearman reads exactly (o_orderdate, o_totalprice): the rank
    windows run over the day-domain aggregate, not the fact scan."""
    plan = _plan(
        spark, REGISTRY["spearman_corr_daily"].spark_fn(spark, SF_DIR)
    )
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    for ln in read:
        assert "o_orderdate" in ln and "o_totalprice" in ln
        assert "o_orderkey" not in ln and "o_custkey" not in ln


def test_knn_eval_broadcasts_bounded_query_side(spark):
    """The exact top-k truth side must broadcast the BOUNDED query set
    (10 rows) against the corpus — the corpus itself is never on a
    broadcast side."""
    plan = _plan(spark, REGISTRY["knn_label_accuracy"].spark_fn(spark, SF_DIR))
    assert "Broadcast" in plan  # bounded query side rides a broadcast
    assert "CartesianProduct" not in plan


def test_grid_nearest_single_point_shuffle_no_fact_join(spark):
    """grid_nearest_poi: ring-1 candidates come from a BROADCAST hash
    join on (cx, cy); the only exchange over the fact is the point-keyed
    aggregate (map-side combined), and there is NO fact-vs-fact join —
    the fallback is carved from the same aggregate. The one
    nested-loop join is the dimension-sized broadcast rescan."""
    plan = _plan(spark, REGISTRY["grid_nearest_poi"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan          # ring-1 candidate join
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan          # no fact-vs-fact join
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    for ln in read:  # narrow scans on both sides
        assert "o_totalprice" not in ln and "s_acctbal" not in ln


def test_wasserstein_window_runs_on_value_domain(spark):
    """The CDF window must consume the grouped cents HISTOGRAM (one
    aggregate below every Window), never fact rows; the events scan is
    two columns with the type filter pushed."""
    plan = _plan(
        spark, REGISTRY["wasserstein_value_drift"].spark_fn(spark, SF_DIR)
    )
    assert "Window" in plan and "HashAggregate" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    for ln in read:
        assert "value" in ln and "user_id" not in ln and "props" not in ln
    assert "In(event_type" in plan or "EqualTo(event_type" in plan


def test_heaps_thresholds_broadcast_no_cartesian(spark):
    """Every prefix-threshold fan-out rides a broadcast of the 10-row
    threshold relation; no plain cartesian, no fact-vs-fact SMJ."""
    plan = _plan(spark, REGISTRY["heaps_vocab_growth"].spark_fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny threshold/moment sides


def test_brier_model_join_broadcasts(spark):
    """The test-half joins the (type x type)-domain train model via
    BROADCAST hash join; no cartesian anywhere."""
    plan = _plan(
        spark, REGISTRY["brier_next_event_model"].spark_fn(spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_crosscorr_fact_work_is_one_grouped_count(spark):
    """Lag pairing happens on the day-domain count relation (broadcast
    sides); the events scan reads only (ts, event_type)."""
    plan = _plan(
        spark, REGISTRY["crosscorr_daily_lags"].spark_fn(spark, SF_DIR)
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    for ln in read:
        assert "value" not in ln and "props" not in ln and "user_id" not in ln


def test_croston_windows_are_part_keyed_and_scan_narrow(spark):
    """Croston's windows partition by l_partkey (dimension-keyed) and
    the lineitem scan reads only (partkey, shipdate, quantity)."""
    plan = _plan(
        spark, REGISTRY["croston_demand_forecast"].spark_fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    for ln in read:
        assert "l_extendedprice" not in ln and "l_returnflag" not in ln
    assert "partitionBy=[l_partkey]" in plan.replace(" ", "") or (
        "l_partkey" in plan and "Window" in plan
    )


def test_bh_fdr_broadcasts_nation_only(spark):
    plan = _plan(
        spark, REGISTRY["bh_fdr_nation_conversion"].spark_fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation dimension side


def test_logrank_scan_narrow_and_windows_duration_domain(spark):
    """Log-rank reads only (user_id, ts); every window below the
    user-keyed aggregate runs on the duration-day domain."""
    plan = _plan(
        spark, REGISTRY["logrank_test_retention"].spark_fn(spark, SF_DIR)
    )
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    for ln in read:
        assert "value" not in ln and "props" not in ln and "event_type" not in ln


def test_hits_no_cartesian_and_narrow_scans(spark):
    plan = _plan(
        spark, REGISTRY["hits_hub_authority"].spark_fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    for ln in read:
        assert "o_totalprice" not in ln and "l_extendedprice" not in ln


def test_hits_topk_readout_is_take_ordered(spark):
    """The top-25 read-out must be TakeOrderedAndProject (per-partition
    heaps of k merged on the driver), not a global row_number window that
    funnels the whole node relation through one partition. The residual
    windows in the plan only rank the 25-row limited relations."""
    plan = _plan(
        spark, REGISTRY["hits_hub_authority"].spark_fn(spark, SF_DIR)
    )
    assert "TakeOrderedAndProject" in plan


def test_simpson_single_fact_pass(spark):
    """Pooled moments re-sum the stratum moments — exactly ONE lineitem
    scan in the plan."""
    plan = _plan(
        spark, REGISTRY["simpson_paradox_check"].spark_fn(spark, SF_DIR)
    )
    # formatted mode prints each node twice (tree + detail): 2 == 1 scan
    assert plan.count("Scan parquet") == 2
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    for ln in read:
        assert "l_extendedprice" not in ln and "l_shipdate" not in ln


def test_exact_shingle_verifiers_are_df_capped(spark):
    """No registered query ships a raw shingle self-join: both exact
    verifiers (jaccard, containment) must filter the shingle relation on
    the DF_CAP window count BEFORE the join, bounding per-key fan-out at
    DF_CAP^2 pairs per shingle (a single boilerplate trigram otherwise
    makes the candidate stage quadratic on that key)."""
    import re

    from etl_pipeline_spark.operators.dedup import DF_CAP

    for q in ("dedup_ngram_jaccard", "dedup_containment_pairs"):
        plan = _plan(spark, REGISTRY[q].spark_fn(spark, SF_DIR))
        # the cap filter on the per-shingle row count appears in the
        # optimized plan as `_df#N <= DF_CAP` (reference DF_CAP, not a
        # literal, so a cap retune can't silently break or spuriously
        # pass this guard)
        assert re.search(rf"_df#\d+L? <= {DF_CAP}\b", plan), q
        # r12: candidate pairs come from grouped posting lists (one
        # groupBy(shingle) + in-memory combinations), NOT a raw shingle
        # equi-self-join — the plan must carry the pair-generation
        # Generate over the capped grouped relation and NO sort-merge
        # join on the shingle column (the joins that remain are the
        # doc-keyed size lookups)
        assert "explode(flatten(transform(docs#" in plan, q
        assert not [k for k in _smj_keys(plan) if "shingle" in k], q


def test_smj_key_guard_sees_a_shingle_keyed_join(spark):
    """The guard above must be able to fail: on a plan that does carry a
    shingle-keyed SortMergeJoin, ``_smj_keys`` reports the shingle keys
    on both sides."""
    a = spark.range(10).selectExpr("id AS doc_a", "CAST(id % 3 AS STRING) AS shingle")
    b = a.withColumnRenamed("doc_a", "doc_b")
    keys = _smj_keys(_plan(spark, a.hint("merge").join(b, "shingle")))
    assert len(keys) == 2 and all("shingle#" in k for k in keys), keys


def test_df_cap_drops_hot_shingles(spark):
    """Semantics of the cap itself: a shingle held by > cap docs
    contributes to no pair; pairs whose ONLY overlap is hot boilerplate
    disappear, pairs with rare overlap keep their capped-exact scores."""
    from etl_pipeline_spark.operators.dedup import jaccard_pairs

    rows = [(i, "common boiler plate") for i in range(5)]
    rows += [(10, "rare unique trigram"), (11, "rare unique trigram")]
    sh = spark.createDataFrame(rows, "doc_id long, text string")
    from etl_pipeline_spark.operators.dedup import shingles

    rel = shingles(sh, "doc_id", "text", 3)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(rel, 0.5, df_cap=4).collect()}
    # the 5-doc boilerplate clique (df=5 > cap=4) vanished; the rare pair survives
    assert got == {(10, 11): 1.0}


def test_nulls_wave_isnotnull_filters_reach_the_scan(spark):
    """The r11 drop-at-use NULL filters must be scan-pushed predicates
    (PushedFilters: [IsNotNull(...)]), not post-scan Filter nodes over a
    wider read — at 100 TB the difference is reading every row group vs
    letting parquet statistics skip all-NULL pages. One representative
    per input shape: orders date series, events timeline, ranking
    measure."""
    cases = {
        "ewma_control_chart_daily": "IsNotNull(o_orderdate)",
        "events_sessionize_30m": "IsNotNull(ts)",
        "quantile_normalize_values": "IsNotNull(value)",
        "window_balance_distribution": "IsNotNull(c_acctbal)",
    }
    for name, pushed in cases.items():
        plan = _plan(spark, REGISTRY[name].spark_fn(spark, SF_DIR))
        assert pushed in plan, f"{name}: {pushed} not pushed to scan"


def test_labeled_embeddings_filter_is_scan_side(spark):
    """load_labeled_embeddings' label requirement pushes IsNotNull(label)
    to the embeddings scan (the array-validity predicate itself cannot
    push — it stays a codegen'd post-scan filter, one pass, no shuffle)."""
    plan = _plan(spark, REGISTRY["knn_label_accuracy"].spark_fn(spark, SF_DIR))
    assert "IsNotNull(label)" in plan
