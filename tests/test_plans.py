"""Plan-shape regression tests: the scale properties (pruning, pushdown,
broadcast, top-k short-circuits) asserted as code, so a plan regression
fails CI even while results stay correct."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.plans import (
    formatted_plan,
    has_node,
    node_counts,
    pushed_filters,
    read_schema_columns,
)


def _join_key_lists(df) -> list[list[str]]:
    """Equi-join key column names per join side, from the formatted plan."""
    out = []
    for m in re.finditer(
        r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", formatted_plan(df)
    ):
        cols = [c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    qs = entry_mod.queries()
    return lambda key: qs[key](spark, sf_dir)


def test_scan_pruned_reads_two_columns(q):
    cols = read_schema_columns(q("q_scan_pruned"))
    assert cols and set(cols[0]) == {"l_orderkey", "l_extendedprice"}


def test_filter_pred_pushes_to_scan(q):
    pushed = pushed_filters(q("q_filter_pred"))
    assert any("l_shipdate" in f for f in pushed)
    assert any("l_quantity" in f for f in pushed)


def test_agg_group_pushes_shipdate(q):
    pushed = pushed_filters(q("q_agg_group"))
    assert any("l_shipdate" in f for f in pushed)


def test_broadcast_join_is_broadcast(q):
    assert has_node(q("q_join_broadcast"), "BroadcastHashJoin")


def test_multi_join_broadcasts_dims(q):
    assert has_node(q("q_join_multi"), "BroadcastHashJoin")


def test_semi_anti_plan_shapes(q):
    assert has_node(q("q_join_semi"), "LeftSemi")
    assert has_node(q("q_join_anti"), "LeftAnti")


def test_sort_limit_is_take_ordered(q):
    assert has_node(q("q_sort_limit"), "TakeOrderedAndProject")


def test_topk_uses_window_group_limit(q):
    assert has_node(q("q_topk_per_group"), "WindowGroupLimit")


def test_theta_join_is_not_cartesian(q):
    """The band join must keep its equi key (hash join + range residual),
    never degenerate to a cartesian product."""
    df = q("q_join_theta")
    assert not has_node(df, "CartesianProduct")


def test_similarity_scan_has_no_shuffle_before_topk(q):
    """Brute-force cosine is one narrow scan + TakeOrdered — a shuffle of
    the fact table here would be a 100 TB regression."""
    df = q("q_similarity_cosine")
    assert has_node(df, "TakeOrderedAndProject")


def test_pq_query_is_scan_plus_topk(q):
    """ADC scoring must stay a shuffle-free scan of the code column with
    per-partition top-k heaps: no join (the LUT is literal arrays), no
    exchange before TakeOrdered, and no re-encoding of the corpus
    (Python appears only in the index build, not the query plan)."""
    df = q("q_similarity_pq")
    plan = formatted_plan(df)
    assert has_node(df, "TakeOrderedAndProject")
    assert "Join" not in plan
    # the scan is served from the persisted index (the encode UDF lives
    # only inside the InMemoryRelation's build lineage, not above it)
    assert "InMemoryTableScan" in plan
    assert "ArrowEvalPython" not in plan.split("InMemoryTableScan")[0]


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Engine posture: runtime bloom-filter join pruning is ON (Spark
    default) — when a selective dim feeds a shuffle join, the fact scan
    gets a might_contain(bloom) filter built from the dim side, cutting
    shuffled fact rows before the exchange. The production thresholds
    (creation side <= 10 MB, application side >= 10 GiB scanned) only
    fire at scale, so the test lowers them to observe the injection."""
    from reactor_window_like_flink_spark.sources.tables import load

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        assert "might_contain" in formatted_plan(j)
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_weighted_sample_is_scan_plus_topk(q):
    """The ES key is a pure scan expression and the draw is top-k heaps —
    an Exchange (other than the TakeOrdered driver merge) or a global
    Sort means PPS sampling regressed to a full shuffle."""
    df = q("q_sample_weighted")
    assert has_node(df, "TakeOrderedAndProject")
    assert node_counts(df)["Exchange"] == 0


def test_pattern_sequence_is_one_shuffle_no_join(q):
    """CEP chains resolve through running window structs over one keyed
    sort — a join or second exchange here means the pattern regressed to
    self-join matching."""
    df = q("q_pattern_sequence")
    assert "Join" not in formatted_plan(df)
    assert node_counts(df)["Exchange"] <= 1


def test_range_bucket_join_is_equi_not_bnlj(q):
    """The manufactured bucket key must make this a hash/merge join;
    BroadcastNestedLoopJoin here means the binning regressed to O(n^2)."""
    df = q("q_join_range_bucket")
    assert not has_node(df, "BroadcastNestedLoopJoin")
    assert not has_node(df, "CartesianProduct")


def test_sample_and_split_are_shuffle_free(q):
    """Hash sampling/splitting must ride the scan: any Exchange means the
    one-pass 100 TB property is gone (the split agg gets one shuffle)."""
    assert not has_node(q("q_sample_hash"), "Exchange")


def test_pii_redact_is_narrow(q):
    assert not has_node(q("q_pii_redact"), "Exchange")


def test_ngram_jaccard_candidates_join_on_shingle_hash(q):
    """Candidate generation must be keyed by the high-cardinality shingle
    hash (posting-list join), never by the ~5-value lang block alone —
    a lang-only equi key replays the Σ|block|² all-pairs collapse."""
    key_lists = _join_key_lists(q("q_dedup_ngram_jaccard"))
    assert key_lists
    assert all(set(k) != {"lang"} for k in key_lists)
    assert any("h" in k for k in key_lists)


def test_embedding_candidates_join_on_lsh_bucket(q):
    """Embedding near-dup candidates must join on the sign-LSH
    (band, bucket) key; the raw ~10-value label column must not appear as
    a join key anywhere in the plan."""
    key_lists = _join_key_lists(q("q_dedup_embedding"))
    assert any({"band", "bucket"} <= set(k) for k in key_lists)
    assert all("label" not in k for k in key_lists)


def test_corr_matrix_single_pass_no_join(q):
    """All C(n,2) co-moments fold in ONE wide aggregate over one scan —
    a join or a second data-sized exchange means the matrix regressed to
    per-pair rescans."""
    df = q("q_corr_matrix")
    assert "Join" not in formatted_plan(df)
    # one single-partition gather for the global aggregate is expected
    assert node_counts(df)["Exchange"] <= 1


def test_dedup_chunks_one_shuffle_no_join(q):
    """Chunking is a narrow explode; the dedup aggregate keys on
    chunk_hash. Two exchanges are the exact count-distinct's two-phase
    plan ((chunk_hash, doc_id) partial -> chunk_hash final, both keyed on
    the hash); anything more, or a join, is a regression."""
    df = q("q_dedup_chunks")
    assert "Join" not in formatted_plan(df)
    assert node_counts(df)["Exchange"] <= 2


def test_mad_and_winsorize_broadcast_stats_onto_scan(q):
    """The O(groups) percentile aggregates must come back as broadcast
    builds — a SortMergeJoin here would shuffle the fact side twice."""
    for key in ("q_anomaly_mad", "q_winsorize"):
        df = q(key)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, key
        assert "SortMergeJoin" not in plan, key
        assert "CartesianProduct" not in plan, key


def test_bm25_no_cartesian_one_scalar_bnlj(q):
    """tf/df/dl joins are keyed; the only nested-loop join allowed is the
    broadcast of the ONE-ROW (N, avgdl) stats aggregate."""
    df = q("q_bm25_topterms")
    assert "CartesianProduct" not in formatted_plan(df)
    assert node_counts(df)["BroadcastNestedLoopJoin"] <= 1


def test_retrieval_stats_keys_no_cartesian(q):
    """Entropy/Zipf/novelty/drift all join on real keys (source, shingle,
    bucket) or broadcast O(1)-row / O(buckets)-row aggregates — a
    CartesianProduct anywhere is a scale regression."""
    for key in (
        "q_token_entropy",
        "q_zipf_slope",
        "q_ngram_novelty",
        "q_source_drift",
        "q_bigram_pmi",
    ):
        assert "CartesianProduct" not in formatted_plan(q(key)), key


def test_resample_ffill_joins_keyed_no_cartesian(q):
    """The grid join must stay an equi join on (user_id, hr); the fill
    window shares the user_id partitioning."""
    df = q("q_resample_ffill")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = _join_key_lists(df)
    assert any("user_id" in side for side in keys)


def test_skew_profile_windows_only_size_distribution(q):
    """Skew metrics are count-per-key -> group-size-VALUE-distribution
    aggregate -> closed-form fold. Per key column the only Window is the
    cumulative sum over the O(distinct sizes) <= O(sqrt(n_rows))
    distribution frame — its function must be sum(m), never a per-key
    row_number (the original global rank funneled every distinct key
    through one task; the interim range-partition + offset rank moved
    O(keys) rows through a join) — and there is no join at all."""
    plan = formatted_plan(q("q_skew_profile"))
    assert "Join" not in plan
    assert "row_number" not in plan
    win_blocks = re.findall(
        r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.+)", plan
    )
    assert win_blocks, "expected the cumulative-m Window"
    for args in win_blocks:
        assert "sum(m" in args, args


def test_pattern_absence_one_shuffle_range_frame(q):
    """Absence resolves through one user_id sort + a range-frame window;
    a join (other than the broadcast 1-row max) or second exchange means
    it regressed to NOT-EXISTS self-join matching."""
    df = q("q_pattern_absence")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # keyed window shuffle + the 1-row max gather
    assert node_counts(df)["Exchange"] <= 2


def test_join_salted_spreads_probe_and_replicates_build(q):
    """The salted join must stay an equi hash/merge join on
    (key, salt) — a BNLJ or cartesian means the salt condition broke
    the equi-join detection."""
    df = q("q_join_salted")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = _join_key_lists(df)
    assert any("_salt" in side for side in keys)


def test_heavy_hitters_confirm_is_candidate_semi_join(q):
    """The exact confirm must filter the token stream through a
    broadcast semi join on the (few-hundred-row) candidate set — a
    shuffle-side join or cartesian means the full vocabulary is back on
    the wire."""
    df = q("q_heavy_hitters")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_topk_uses_window_group_limit(q):
    """The per-doc rank filter must compile to WindowGroupLimit so each
    partition keeps k rows instead of ranking everything first."""
    assert has_node(q("q_bm25_topterms"), "WindowGroupLimit")


def test_explicit_bloom_probe_is_jvm_side(q):
    """q_join_bloom's probe must be codegen bit expressions against the
    broadcast 1-row bitmap (BroadcastNestedLoopJoin attach), never a
    Python eval, and the FP-eliminating join must broadcast the dim."""
    df = q("q_join_bloom")
    plan = formatted_plan(df)
    assert "element_at" in plan and "shiftright" in plan
    assert not has_node(df, "BatchEvalPython")
    assert not has_node(df, "ArrowEvalPython")
    assert has_node(df, "BroadcastNestedLoopJoin")
    assert has_node(df, "BroadcastHashJoin")


def test_q18_broadcasts_qualifying_aggregate(q):
    """The HAVING-filtered aggregate must drive a broadcast join (its
    cardinality is data-pathology-bounded, not table-bounded)."""
    assert has_node(q("q_tpch_q18_shape"), "BroadcastHashJoin")


def test_q21_decorrelates_to_semi_and_anti_joins(q):
    """EXISTS / NOT EXISTS must decorrelate into hash semi/anti joins on
    l_orderkey with the suppkey inequality as a residual — never a
    nested-loop or cartesian fallback."""
    df = q("q_tpch_q21_shape")
    plan = formatted_plan(df)
    assert has_node(df, "LeftSemi")
    assert has_node(df, "LeftAnti")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the semi/anti self-joins key on the fact key
    assert any(keys == ["l_orderkey"] for keys in _join_key_lists(df))


def test_q17_single_fact_scan_and_decorrelated_avg(q):
    """The correlated scalar-AVG subquery runs over the checkpointed
    brand slice: the registered plan has ZERO parquet scans of lineitem
    (the one fact scan happened at slice materialization) and the
    decorrelation is a hash join against the per-part aggregate."""
    df = q("q_tpch_q17_shape")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.lower().count("scan parquet") == 0
    assert any(keys == ["l_partkey"] for keys in _join_key_lists(df))


def test_q22_null_aware_anti_is_hash_join_with_pushed_scalar(q):
    """NOT IN must plan the null-aware anti HASH join (not the BNLJ it
    degenerates to without the optimization), and the scalar-average
    subquery must push to the customer scan as a pushed filter."""
    df = q("q_tpch_q22_shape")
    plan = formatted_plan(df)
    assert has_node(df, "LeftAnti")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any("ScalarSubquery" in f for f in pushed_filters(df))


def test_q4_decorrelates_exists_with_outer_column_residual(q):
    """The EXISTS comparing l_shipdate against the OUTER o_orderdate
    must decorrelate into a left-semi hash join on l_orderkey (with the
    date inequality as a residual), and the quarter window must push to
    the orders scan."""
    df = q("q_tpch_q4_shape")
    plan = formatted_plan(df)
    assert has_node(df, "LeftSemi")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(keys == ["o_orderkey"] or keys == ["l_orderkey"]
               for keys in _join_key_lists(df))
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_q20_nested_in_plans_two_semi_joins_one_fact_scan(q):
    """Both IN levels must plan as hash semi joins (inner: part filter
    onto lineitem; outer: qualifying-supplier set onto supplier), with
    no nested-loop fallback and exactly ONE lineitem scan — the scalar
    average must not re-scan the fact."""
    df = q("q_tpch_q20_shape")
    plan = formatted_plan(df)
    assert plan.count("LeftSemi") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    scans = re.findall(r"Scan parquet[^\n]*", plan)
    assert sum("lineitem" in s for s in scans) <= 2  # main + scalar CTE


def test_sample_k_per_group_uses_window_group_limit(q):
    df = q("q_sample_k_per_group")
    assert has_node(df, "WindowGroupLimit")


def test_q15_single_revenue_build_and_broadcast_max(q):
    """The revenue view must be built ONCE (registered plan reads the
    materialized aggregate — zero lineitem parquet scans) with the MAX
    attached as a 1-row broadcast and the dim joined broadcast-hash."""
    df = q("q_tpch_q15_shape")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    scans = re.findall(r"Scan parquet[^\n]*", plan)
    assert not any("lineitem" in s for s in scans)
    assert has_node(df, "BroadcastHashJoin")


def test_q2_correlated_min_decorrelates_over_checkpointed_slice(q):
    """The correlated scalar-MIN must decorrelate into a per-part
    aggregate hash-joined back over the checkpointed type slice: zero
    parquet scans, join keyed on l_partkey, no nested-loop fallback."""
    df = q("q_tpch_q2_shape")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.lower().count("scan parquet") == 0
    # decorrelated form: hash join keyed on (part key, normalized min
    # price) — the classic min-join
    assert any(
        any("l_partkey" in k for k in keys) for keys in _join_key_lists(df)
    )
    assert has_node(df, "BroadcastHashJoin")


def test_q16_anti_join_then_distinct_aggregate(q):
    """The blacklist NOT IN must stay a hash anti join (null-aware, no
    BNLJ) and the distinct count must plan as the two-phase partial
    dedup aggregate (an expand/partial aggregate before the final)."""
    df = q("q_tpch_q16_shape")
    plan = formatted_plan(df)
    assert has_node(df, "LeftAnti")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q8_dual_role_dim_broadcasts_and_one_aggregate(q):
    """Both nation roles (customer filter, supplier label) must resolve
    through broadcast joins with the region filter pruning before the
    fact path, and the share must fold in ONE aggregate (no self-join
    of the volume frame)."""
    df = q("q_tpch_q8_shape")
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    # exactly one scan per relation role (lineitem, orders, customer,
    # supplier, nation x2) — no relation re-scanned for the share
    assert node_counts(df)["Scan"] == 6


def test_kcore_round_broadcasts_frontier_never_sorts_edges(spark):
    """The kcore delta-peel round must join the static edge list and
    the decrement aggregate against a BROADCAST side — checkpointed
    frames carry no stats, so without the explicit hint the planner
    sort-merges the full edge list every round (measured 39 s vs
    ~8.8 s for the 21-round sf0.1 peel). The r16 rework replaced the
    survivor anti-join with a ``deg >= k`` filter (one broadcast join
    fewer by design); the two that remain — frontier onto edges,
    decrements onto survivors — must stay broadcast."""
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.llm.clustering import _kcore_round

    sym = spark.range(100).select(
        (F.col("id") % 20).alias("src"), ((F.col("id") + 7) % 20).alias("dst")
    ).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    bad = deg.filter(F.col("deg") < 3).select("src").localCheckpoint()
    df = _kcore_round(sym, deg, bad, 3)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q6_is_scan_only_with_all_predicates_pushed(q):
    """Q6 is the pushdown canary: no join, every range predicate at the
    parquet reader, read schema limited to the touched columns."""
    df = q("q_tpch_q6_shape")
    plan = formatted_plan(df)
    assert "Join" not in plan
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) <= {
        "l_shipdate",
        "l_discount",
        "l_quantity",
        "l_extendedprice",
    }


def test_tpch_q19_broadcasts_pruned_part_and_never_shuffles_fact(q):
    """The disjunctive-predicate join must stay ONE broadcast equi-join
    on partkey — no SortMergeJoin (fact shuffle), no nested-loop."""
    df = q("q_tpch_q19_shape")
    assert has_node(df, "BroadcastHashJoin")
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan
    # the implied fact-side filter pushes to the lineitem scan
    assert any("l_quantity" in f for f in pushed_filters(df))


def test_tpch_q7_broadcasts_both_nation_dims_and_pushes_dates(q):
    """Q7's supplier⋈nation and customer⋈nation sides must broadcast
    (the fact never shuffles for a dim), the two-year ship window must
    reach the lineitem scan, and the disjunctive nation-pair predicate
    must never degrade the plan to a nested loop."""
    df = q("q_tpch_q7_shape")
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # lineitem is scanned exactly once (no self-join / re-scan)
    li_scans = [c for c in read_schema_columns(df) if "l_suppkey" in c]
    assert len(li_scans) == 1


def test_tpch_q9_single_fact_scan_five_way_star(q):
    """Q9's five-relation star must resolve to equi-joins only (no
    nested loop from the LIKE), scan lineitem exactly once, and join
    the fact on partkey/suppkey/orderkey."""
    df = q("q_tpch_q9_shape")
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    li_scans = [c for c in read_schema_columns(df) if "l_extendedprice" in c]
    assert len(li_scans) == 1
    keys = {k for side in _join_key_lists(df) for k in side}
    assert {"l_partkey", "l_suppkey", "l_orderkey"} <= keys


def test_tpch_q12_pushes_year_and_joins_orderkey_only(q):
    """Q12's fact-fact join must stay ONE equi-join on orderkey with the
    ship-year range at the lineitem reader; the computed CASE bucket
    must not block map-side partial aggregation."""
    df = q("q_tpch_q12_shape")
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    keys = [side for side in _join_key_lists(df)]
    assert all(set(side) <= {"l_orderkey", "o_orderkey"} for side in keys)
    # partial + final HashAggregate pair = map-side combine before the
    # 2-row group exchange
    assert plan.count("HashAggregate") >= 2


def test_tpch_q14_prunes_part_to_two_columns_and_pushes_month(q):
    """Q14's one-month window must push to the lineitem scan and the
    part side must read exactly (p_partkey, p_type) — a scan that drags
    the whole part row into a 2-column join is wrong at any scale."""
    df = q("q_tpch_q14_shape")
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan
    assert any("l_shipdate" in f for f in pushed_filters(df))
    part_scans = [c for c in read_schema_columns(df) if "p_type" in c]
    assert part_scans and set(part_scans[0]) == {"p_partkey", "p_type"}
    # conditional numerator + denominator fold in ONE aggregate: no
    # self-join of lineitem
    li_scans = [c for c in read_schema_columns(df) if "l_extendedprice" in c]
    assert len(li_scans) == 1


def test_tpch_q11_threshold_is_one_row_broadcast(q):
    """Q11's scalar threshold joins back as a 1-row broadcast cross —
    the O(parts) frame must not shuffle for it."""
    plan = formatted_plan(q("q_tpch_q11_shape"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize(
    "key,fact,fact_scans,bnlj_allowed",
    [
        # keys whose docstrings promise a graceful shuffle-join degrade
        ("q_tpch_q9_shape", "lineitem", 1, 0),
        ("q_tpch_q19_shape", "lineitem", 1, 0),
        # the explicit-bloom key attaches TWO 1-row bitmap scalars via
        # BroadcastNestedLoopJoin by design (see
        # test_explicit_bloom_probe_is_jvm_side) — that count must stay
        # pinned, not grow into a real join regression
        ("q_join_bloom", "lineitem", 1, 2),
        # the null-aware anti (NOT IN) keys: Spark's NAAJ requires a
        # broadcast build side, so the classic production trap is the
        # un-hinted form regressing to BNLJ when the threshold is off.
        # Q22's uncorrelated scalar-AVG subquery scans customer a 2nd
        # time by construction — pinned at 2, not allowed to grow
        ("q_tpch_q22_shape", "customer", 2, 0),
        ("q_tpch_q16_shape", "lineitem", 1, 0),
    ],
)
def test_degraded_regime_is_bnlj_free_single_fact_scan(
    spark, sf_dir, key, fact, fact_scans, bnlj_allowed
):
    """r16 (verdict task 7): the broadcast-at-fixture-scale plan
    assertions get a forced-degrade twin. With
    autoBroadcastJoinThreshold=-1 (the regime a 100 TB cluster hits
    when a dim outgrows the driver), the plan must degrade to shuffle
    joins — never BroadcastNestedLoopJoin or CartesianProduct — and
    still scan the fact table exactly once. Explicit F.broadcast()
    hints on genuinely-bounded dims (nation/region/part-filtered)
    legitimately survive the threshold; the assertion is about the
    join ALGORITHM class, not the hint surface."""
    qs = entry_mod.queries()
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    for thr in (saved, "-1"):
        conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        try:
            plan = formatted_plan(qs[key](spark, sf_dir))
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        assert n_bnlj == bnlj_allowed, (
            f"{key} @thr={thr}: {n_bnlj} BNLJ (allowed {bnlj_allowed})"
        )
        assert "CartesianProduct" not in plan, f"{key} @thr={thr}"
        n_fact = len(re.findall(rf"{fact}\.parquet", plan))
        assert n_fact == fact_scans, (
            f"{key} @thr={thr}: {n_fact} scans of {fact} (want {fact_scans})"
        )


def test_node_counts_reads_the_numbered_node_list(q):
    """``node_counts`` counts each operator once, from the numbered node
    list (the rendered tree above it repeats every name)."""
    c = node_counts(q("q_join_multi"))
    assert (c["Exchange"], c["BroadcastExchange"]) == (1, 4), c


def test_run_record_of_a_window_key(spark, q):
    """``observe.run``: a warm ``q_tumbling_window`` builds without a job,
    then writes in 2 jobs (its shuffle stage and the result stage) over
    one shuffle and no Python operator."""
    from reactor_window_like_flink_spark.observe import run

    q("q_tumbling_window")  # infers the events schema once per process
    r = run(spark, lambda: q("q_tumbling_window"))
    got = (r["build_jobs"], r["jobs"], r["shuffles"], r["python_nodes"])
    assert got == (0, 2, 1, 0), r
    assert r["tasks"] >= r["jobs"] and r["index_builds"] == []


def test_counting_sees_only_actions(spark):
    from reactor_window_like_flink_spark.observe import counting

    df = spark.range(10)
    with counting(spark) as lazy:
        df = df.select((df.id * 2).alias("x"))
    with counting(spark) as action:
        df.collect()
    assert lazy["jobs"] == 0 and action["jobs"] >= 1, (lazy, action)
