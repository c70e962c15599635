"""Physical-plan quality gates — the 100 TB story is in the plan, not
the row counts. These assert the properties that make the suite
scale: filters reach the parquet scan, projections prune the read
schema, small dimensions broadcast instead of shuffling, and the
flagship aggregation needs exactly one exchange.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from funding_monitoring_spark import registry
from funding_monitoring_spark.plans import plan_string as plan_str
from funding_monitoring_spark.sources.tables import load_table

ALL = registry.queries()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """S5: the time-range predicate must appear as a pushed filter on
    the scan, not only as a post-scan Filter."""
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") > 1000
    )
    plan = plan_str(df)
    assert re.search(r"PushedFilters: \[.*o_orderkey.*\]", plan), plan


def test_column_pruning_in_read_schema(spark, sf_dir):
    """Projection must prune the parquet ReadSchema to the selected
    columns (a scan reading all columns for a 2-column projection is
    wrong at 100 TB)."""
    df = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    plan = plan_str(df)
    m = re.search(r"ReadSchema: (struct<[^>]*>)", plan)
    assert m, plan
    assert set(re.findall(r"(\w+):", m.group(1))) == {"p_partkey", "p_name"}


def test_dim_join_broadcasts(spark, sf_dir):
    """J1: the small dimension side must broadcast — no shuffle of the
    fact table for a 25-row dimension."""
    plan = plan_str(ALL["broadcast_join_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semi_join_universe_no_sort_merge(spark, sf_dir):
    """J2: the symbol-universe restriction is a broadcast left-semi."""
    plan = plan_str(ALL["semi_join_universe"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan


def test_funding_stats_single_shuffle(spark, sf_dir):
    """The flagship query: one hash exchange for the symbol grouping
    (window + groupBy reuse the same partitioning) plus the broadcast
    of the scalar anchor — no other exchanges."""
    plan = plan_str(ALL["funding_stats"](spark, sf_dir))
    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_exchanges == 1, f"{hash_exchanges} hash exchanges:\n{plan}"


def test_whole_stage_codegen_in_scalar_suite(spark, sf_dir):
    """Scalar pipelines must stay inside WholeStageCodegen (no Python
    in the hot path)."""
    plan = plan_str(ALL["scalar_cast_annualize"](spark, sf_dir))
    # '*(n)' marks whole-stage-codegen stages in simple explain output
    assert "*(1)" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_exact_dedup_single_shuffle_no_text(spark, sf_dir):
    """Exact dedup shuffles the md5 digest, never the document text:
    one exchange, and the pre-shuffle partial aggregate projects only
    the hash."""
    plan = plan_str(ALL["exact_dedup"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    # the md5 is computed below the exchange (partial agg groups on it)
    assert re.search(r"partial_min.*\n.*md5", plan), plan
    # the exchange carries the digest key, not the document text
    m = re.search(r"Exchange hashpartitioning\((\w+)", plan)
    assert m and "text" not in m.group(1), plan


def test_upsert_store_side_never_shuffles(spark, sf_dir):
    """K1/K2 at scale (and the main-DAG funding task): the huge store
    is touched only through broadcast joins against the tiny batch's
    keys — anti-join for untouched keys, semi-join for contested ones.
    A SortMergeJoin here would shuffle the full store every tick."""
    from funding_monitoring_spark.operators.upsert import upsert

    existing = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    batch = existing.limit(50)
    plan = plan_str(
        upsert(existing, batch, ["event_id"], order_cols=["ts"])
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_plan_inspection_helpers(spark, sf_dir):
    """plans.inspect API: the programmatic shuffle/pushdown audit."""
    from funding_monitoring_spark.plans import (
        count_exchanges,
        has_broadcast_join,
        pushed_filters,
        read_schema_columns,
    )

    df = ALL["broadcast_join_dim"](spark, sf_dir)
    assert has_broadcast_join(df)
    q1 = ALL["tpch_q1_pricing_summary"](spark, sf_dir)
    assert count_exchanges(q1) == 1
    assert any("l_shipdate" in f for f in pushed_filters(q1))
    assert {"l_returnflag", "l_linestatus"} <= read_schema_columns(q1)[0]


def test_scan_size_bytes_reads_catalyst_estimate(spark, sf_dir):
    """The private optimizedPlan().stats() path must answer: if it
    raised, the helper would return its 1<<62 fallback and PMI would
    silently switch to always-persist."""
    from funding_monitoring_spark.plans import scan_size_bytes

    size = scan_size_bytes(load_table(spark, sf_dir, "documents"))
    assert 0 < size < 1 << 62, size


def test_spread_to_parallelism_only_spreads_underpartitioned(spark, sf_dir):
    from funding_monitoring_spark.plans import spread_to_parallelism

    parallelism = spark.sparkContext.defaultParallelism
    one_file = load_table(spark, sf_dir, "documents").select("doc_id")
    assert one_file.rdd.getNumPartitions() == 1
    spread = spread_to_parallelism(one_file)
    assert spread.rdd.getNumPartitions() == parallelism
    assert spread.count() == one_file.count()
    wide = spark.range(0, 100, numPartitions=parallelism)
    assert spread_to_parallelism(wide) is wide


def test_conf_override_restores_or_unsets(spark):
    from funding_monitoring_spark.plans import conf_override

    set_key = "spark.funding_monitoring.test.set_key"
    unset_key = "spark.funding_monitoring.test.unset_key"

    def body(raises: bool) -> None:
        with conf_override(spark, set_key, "during"), conf_override(
            spark, unset_key, "during"
        ):
            assert spark.conf.get(set_key) == "during"
            assert spark.conf.get(unset_key) == "during"
            if raises:
                raise RuntimeError("body failed")

    spark.conf.set(set_key, "before")
    try:
        body(raises=False)
        assert spark.conf.get(set_key) == "before"
        assert spark.conf.get(unset_key, None) is None
        with pytest.raises(RuntimeError):
            body(raises=True)
        assert spark.conf.get(set_key) == "before"
        assert spark.conf.get(unset_key, None) is None
    finally:
        spark.conf.unset(set_key)


def test_q19_or_predicate_residues_push_below_join(spark, sf_dir):
    """Q19: Catalyst must derive single-side residues from the
    OR-of-ANDs — the part scan keeps only the three brands, and the
    lineitem quantity bound reaches the scan as a pushed filter — so
    neither side carries rows that can never satisfy the disjunction
    through the join."""
    from funding_monitoring_spark.plans import pushed_filters

    df = ALL["tpch_q19_discounted_revenue"](spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastHashJoin" in plan, plan
    pushed = " ".join(pushed_filters(df))
    assert "p_brand" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    """Q4: the EXISTS subquery must plan as a LeftSemi join (with the
    correlated inequality as a join residual), never as a per-row
    subquery probe."""
    plan = plan_str(ALL["tpch_q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_q22_not_exists_becomes_anti_join(spark, sf_dir):
    """Q22: NOT EXISTS must plan as a LeftAnti join, and the scalar
    threshold must arrive via broadcast, not a shuffle."""
    plan = plan_str(ALL["tpch_q22_dormant_customers"](spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_window_suite_single_partition_exchange(spark, sf_dir):
    """All ten window expressions share the user_id partitioning —
    exactly one hash exchange on user_id feeds every Window node."""
    plan = plan_str(ALL["window_functions_suite"](spark, sf_dir))
    exchanges = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert exchanges == {"user_id"}, f"{exchanges}\n{plan}"


def test_embedding_near_dup_no_cartesian(spark, sf_dir):
    """Embedding near-dup must plan as the LSH bucket equi-join —
    no all-pairs node anywhere (the scale-killer the exact twin
    keeps for bounded recall measurement only)."""
    plan = plan_str(ALL["embedding_near_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime-filter injection: a selectively-filtered dim side of a
    shuffle join plants a bloom filter (`might_contain`) on the fact
    scan, so non-matching fact rows die before the exchange. At
    production defaults this fires only when the application side is
    ≥10 GB — exactly the 100 TB case; the test lowers the thresholds
    to make the plan observable at fixture scale, and restores them."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        part = load_table(spark, sf_dir, "part").filter(
            F.col("p_brand") == "Brand#12"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
            "l_orderkey", "p_brand"
        )
        plan = plan_str(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q9_all_dims_broadcast(spark, sf_dir):
    """Q9 (the widest join in the family): part/supplier/nation must
    all broadcast — the fact table shuffles only for the orders join
    and the final rollup."""
    plan = plan_str(ALL["tpch_q9_profit_by_nation_year"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_q21_correlated_exists_as_single_scan_aggregate(spark, sf_dir):
    """Q21: the double-correlated EXISTS/NOT EXISTS is realized as
    per-order aggregation (r13 reshape) — exactly ONE lineitem scan,
    no semi/anti join pair re-deriving the distinct-pair frame, and
    never a nested-loop over the pair frames."""
    plan = plan_str(ALL["tpch_q21_waiting_suppliers"](spark, sf_dir))
    # count SCAN operators referencing lineitem, not raw substring
    # occurrences of the file name (ADVICE r13: the path can also
    # appear in Location/PushedFilters detail lines)
    lineitem_scans = sum(
        1
        for line in plan.splitlines()
        if ("FileScan" in line or "BatchScan" in line)
        and "lineitem" in line
    )
    assert lineitem_scans == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_scalar_threshold_joins_are_single_row_broadcasts(spark, sf_dir):
    """Q11/Q20: the global-aggregate threshold must arrive as a 1-row
    BROADCAST nested loop (O(n) with a single-row build side), never a
    shuffled cartesian."""
    for name in ("tpch_q11_important_parts", "tpch_q20_excess_suppliers"):
        plan = plan_str(ALL[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" in plan, (name, plan)


def test_salted_join_no_cartesian_and_codegen(spark, sf_dir):
    """The salted join must stay an equi-join on the salted key (no
    nested loop from the inequality-free concat key) with the salt
    computed in codegen, not Python."""
    plan = plan_str(ALL["salted_join_agg"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "xxhash64" in plan.lower(), plan


def test_embedding_covariance_shuffles_partials_only(spark, sf_dir):
    """The covariance aggregate must shuffle (i, j) partials, never the
    vectors: every hash exchange keys on the dim indices (i, j) or the
    exploded dim d — none on vec_id or the embedding column."""
    plan = plan_str(ALL["embedding_covariance"](spark, sf_dir))
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert keys, plan
    for k in keys:
        assert "embedding" not in k and "vec_id" not in k, (k, plan)


def test_sharded_packing_partitions_on_lang_and_shard(spark, sf_dir):
    """The sharded packing window must partition on (lang, shard) —
    the whole point is that no exchange keys on lang alone."""
    plan = plan_str(ALL["sequence_packing_sharded"](spark, sf_dir))
    m = re.findall(r"Exchange hashpartitioning\((\w+)[^)]*?(\w+)?#", plan)
    assert "shard" in plan and "lang" in plan
    # the window exchange carries both keys
    assert re.search(
        r"Exchange hashpartitioning\(lang#\d+, shard#\d+", plan
    ), plan


def test_anomaly_single_window_pass(spark, sf_dir):
    """funding_rate_anomaly: all four trailing-frame aggregates
    (count/avg/stddev and the z-score they feed) must evaluate in ONE
    Window operator over ONE hash exchange on the symbol key — scoring
    is shuffle-once regardless of volume, and no Python touches it."""
    import re

    plan = plan_str(ALL["funding_rate_anomaly"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert plan.count("Window") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_heavy_hitters_partial_aggregation(spark, sf_dir):
    """heavy_hitter_users: the count must partially aggregate below the
    exchange (shuffle carries distinct (type,user) pairs per task, not
    raw rows): two HashAggregates around one exchange on the pair."""
    import re

    plan = plan_str(ALL["heavy_hitter_users"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # the counting exchange keys on BOTH group and item columns
    assert any(
        "event_type" in e and "user_id" in e for e in exchanges
    ), plan


def test_bpe_pair_counts_codegen_fanout(spark, sf_dir):
    """bpe_pair_counts: the per-row pair fan-out must be built-in HOFs
    inside codegen (no Python UDF), and the only wide operation is the
    map-side-combined count (partial HashAggregate below the
    exchange)."""
    plan = plan_str(ALL["bpe_pair_counts"](spark, sf_dir))
    assert "BatchEvalPython" not in plan, plan
    assert "transform" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_snapshot_diff_single_join_no_extra_pass(spark, sf_dir):
    """snapshot_diff_ticks: classification is row-local CASE on top of
    ONE full-outer join — no window, no second join, no Python."""
    plan = plan_str(ALL["snapshot_diff_ticks"](spark, sf_dir))
    assert plan.count("FullOuter") == 1, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_scd2_single_exchange(spark, sf_dir):
    """scd2_history: the lag change-detection and lead
    interval-stamping windows share one (user, time) partitioning —
    the whole dimension build must plan exactly one hash exchange."""
    import re

    plan = plan_str(ALL["scd2_history"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_frequent_sketch_broadcasts_candidates(spark, sf_dir):
    """frequent_tokens_sketch: the exact verify pass must reach the
    token scan as a BROADCAST left-semi of the bounded candidate set
    (the full distinct-token space must never shuffle), and the final
    plan must contain exactly ONE raw scan — the Misra-Gries pass runs
    once inside the checkpointed summary, not once per consumer."""
    plan = plan_str(ALL["frequent_tokens_sketch"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_pruned_queries_read_only_in_range_partitions(spark, sf_dir):
    """The pruned_* driver queries must carry the partition filter in
    their scan AND actually read strictly fewer partition directories
    than the store holds — partition pruning in the external
    correctness path, not only in the layout unit tests."""
    from funding_monitoring_spark.suites.layout_suite import (
        partitioned_events_path,
    )

    import contextlib
    import glob
    import io
    import os

    for name in ("pruned_time_range_stats", "pruned_daily_rollup"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            ALL[name](spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m, plan
        assert "event_date" in m.group(1), plan
        # both range bounds must be partition-level predicates
        assert ">= 2024-01-10" in m.group(1), plan
        assert "<= 2024-01-16" in m.group(1), plan
    # physical check, not just plan text: input_file_name() reflects
    # the files EXECUTION actually read — must be a strict subset of
    # the store's partition directories, one per in-range day
    from funding_monitoring_spark.suites.layout_suite import (
        pruned_events,
    )

    store = partitioned_events_path(spark, sf_dir)
    all_parts = glob.glob(os.path.join(store, "event_date=*"))
    scanned = {
        os.path.basename(os.path.dirname(r[0]))
        for r in pruned_events(spark, sf_dir)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert 0 < len(scanned) < len(all_parts), (scanned, len(all_parts))
    assert scanned == {
        f"event_date=2024-01-{d}" for d in range(10, 17)
    }, scanned


def test_hll_rollup_sketches_combine_map_side(spark, sf_dir):
    """The mergeable-sketch rollup must plan as two-phase
    ObjectHashAggregate: partial_hll_sketch_agg before the exchange
    (each partition ships ONE register array per group, not rows) and
    partial_hll_union_agg merging the per-day sketches up to weeks —
    the property that makes the stored-sketch rollup O(groups), not
    O(rows), at 100 TB."""
    plan = plan_str(ALL["hll_sketch_merge_rollup"](spark, sf_dir))
    assert "partial_hll_sketch_agg" in plan, plan
    assert "partial_hll_union_agg" in plan, plan
    assert "ObjectHashAggregate" in plan, plan


def test_pq_encode_broadcasts_codebook_no_embedding_shuffle(
    spark, sf_dir
):
    """PQ encode (r14 shape): the candidate distances come from ONE
    vectorized mapInPandas survivor pass against the driver-collected
    (O(1)-bounded) codebook — no join at all in the encode — and the
    corpus embeddings never hash-shuffle: the only exchanges are the
    round-robin parallelism spread and the per-(vector, subspace)
    argmin aggregation, which partition on (c_id, m), never on the
    embedding payload."""
    from funding_monitoring_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.pq_codebook(emb)
    plan = plan_str(S.pq_encode(emb, cents))
    assert "MapInPandas" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Join" not in plan, plan  # the codebook join is gone
    # the JVM keeps the rounded (dist, j) argmin tie-break
    assert "min_by" in plan, plan


def test_pq_topk_scan_side_joins_all_broadcast(spark, sf_dir):
    """PQ/ADC search: every join in the pipeline (codebook, LUT,
    shortlist re-rank queries) must be broadcast — the corpus-sized
    side is never sort-merge-joined, so at scale the ADC scan streams
    the codes against in-memory tables."""
    from funding_monitoring_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    plan = plan_str(S.cosine_topk_pq(queries, emb, k=5))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_robots_filter_broadcasts_rules_no_corpus_shuffle(spark, sf_dir):
    """robots_txt_filter: the per-host rule array must reach the URL
    corpus through a broadcast join — a SortMergeJoin here would
    shuffle the corpus on host, the exact thing the operator exists
    to avoid. (The rule-side explode/groupBy exchanges are dim-sized
    and fine.)"""
    plan = plan_str(ALL["robots_txt_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_html_extract_is_pure_projection(spark, sf_dir):
    """html_text_extract: concat/regexp/HOF-fingerprint over one scan
    — the plan must contain NO exchange and NO Python eval node; the
    whole cleaning stage stays in one codegen pass per partition."""
    plan = plan_str(ALL["html_text_extract"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the star notation marks whole-stage-codegen spans
    assert "*(1)" in plan, plan


def test_codec_roundtrips_have_no_join_or_agg_shuffle(spark, sf_dir):
    """The r10 codec/container roundtrips are 1:1 mapInPandas pairs
    over round-robin-spread ids: exactly ONE exchange (the id spread
    repartition), zero joins."""
    for name in (
        "multimodal_tiff_roundtrip",
        "multimodal_aiff_roundtrip",
        "warc_record_scan",
        "zip_manifest_scan",
        "tar_manifest_scan",
        "jpeg_exif_scan",
        "multimodal_pdf_textscan",
    ):
        plan = plan_str(ALL[name](spark, sf_dir))
        assert plan.count("Exchange") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert "MapInPandas" in plan, (name, plan)


def test_gopher_rules_single_tokenization(spark, sf_dir):
    """gopher_quality_rules: one scan, no exchange, and the token
    array must be let-bound — the TOKENIZER regexp appears exactly
    once in the plan, not once per output column (the cheap symbol
    regex may legitimately repeat inside the struct lambda)."""
    plan = plan_str(ALL["gopher_quality_rules"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert plan.count(r"(\S+)") == 1, plan


def test_lsh_bucket_ints_survive_as_single_fold_per_table(spark):
    """ADVICE r13: the with_bucket_ints win relies on CollapseProject's
    non-cheap-expression guard — if a Spark upgrade collapsed the
    projections, each table's hyperplane fold would silently re-inline
    once per key reference (6x per row). Pin the shape: deriving the
    probe keys (N_PLANES+1 references per bucket) from the
    materialized columns must evaluate each table's fold exactly ONCE
    — the plane-0 hyperplane literal appears once per table, not once
    per key."""
    from funding_monitoring_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [0.1] * S.DIM)], "vec_id long, embedding array<double>"
    )
    keyed = S.with_bucket_ints(
        df, S.to_double_array("embedding")
    ).select("vec_id", S.probe_keys_from_ints().alias("keys"))
    plan = plan_str(keyed)
    marker = repr(S.PLANES[0][0][0])
    assert plan.count(marker) == 1, (
        f"hyperplane fold inlined {plan.count(marker)}x; "
        "CollapseProject guard regressed\n" + plan
    )
