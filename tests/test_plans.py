"""Physical-plan regression tests — the plans we verified once must stay
the plans we ship: pushdown reaching scans, broadcasts on dims, top-k as
TakeOrdered (not a global sort), shuffle-free rebatch arithmetic."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bolson_spark.operators.rebatch import add_batch_id, rebatch
from bolson_spark.plans import assert_pushdown, formatted_plan, plan_has
from bolson_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = QUERIES["pricing_summary"].fn(spark, SF)
    assert_pushdown(df, "l_shipdate")
    plan = formatted_plan(df)
    # column pruning: the scan must not read l_orderkey (unused)
    scan = next(s for s in plan.split("\n\n") if "Scan parquet" in s)
    assert "l_orderkey" not in scan
    # partial + final aggregation (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_joins_broadcast_dims_and_pushdown(spark):
    df = QUERIES["local_supplier_volume"].fn(spark, SF)
    has = plan_has(df, "BroadcastHashJoin", "SortMergeJoin")
    assert has["BroadcastHashJoin"]
    assert_pushdown(df, "r_name")
    assert_pushdown(df, "o_orderdate")


def test_topk_is_take_ordered_not_global_sort(spark):
    for name in ("topk_orders", "knn_bruteforce"):
        plan = formatted_plan(QUERIES[name].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, name
        assert "Exchange" not in plan, name  # single pass, no shuffle


def test_rebatch_is_shuffle_free(spark):
    df = add_batch_id(spark.range(10_000).withColumnRenamed("id", "bolson_seq"))
    assert "Exchange" not in formatted_plan(df)


def test_rebatch_hashes_seq_blocks(spark):
    """rebatch lays rows out by seq-block arithmetic: one hash exchange
    on the block id into defaultParallelism partitions, and no
    range-sampling exchange."""
    seqd = spark.range(10_000).withColumnRenamed("id", "bolson_seq")
    plan = formatted_plan(rebatch(seqd, max_rows=1000))
    parts = spark.sparkContext.defaultParallelism
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert re.search(rf"hashpartitioning\(_block#\d+L, {parts}\)", plan), plan
    assert "rangepartitioning" not in plan, plan
    assert rebatch(seqd).columns == ["bolson_seq"]


def test_stream_microbatch_plan_is_exchange_free(spark):
    """The stream's micro-batch composition over a cached three-partition
    batch (strict parse, per-partition seq, coalesce), which the stream
    collects to the driver, has no Exchange, Window, Sort or Python
    node: one narrow stage ending in the Coalesce
    (plans/r14/stream_microbatch_{before,after}.txt,
    plans/r17/stream_microbatch_after.txt)."""
    from bolson_spark.operators import parse_json
    from bolson_spark.schemas import BATTERY_SPARK
    from bolson_spark.operators.seq import partition_layout

    batch = (
        spark.range(0, 3000, 1, 3)
        .selectExpr("concat('{\"voltage\": [', id, ']}') AS value")
        .cache()
    )
    try:
        parsed = parse_json(batch, BATTERY_SPARK, "value")
        plan = formatted_plan(partition_layout(parsed, [1000, 1000, 1000], 0, 256))
        for node in ("Exchange", "Window", "Sort", r"\w*MapInArrow", r"\w*EvalPython"):
            assert not re.search(rf"^\(\d+\) {node}", plan, re.M), plan
        # 3000 rows // (4 * 256) = 2 coalesced partitions
        assert re.search(r"^\(\d+\) Coalesce\n.*\nArguments: 2$", plan, re.M), plan
    finally:
        batch.unpersist()


def test_convert_routes_plans(spark):
    """convert() over ordered input (range partitions, the shape of a
    file scan) numbers each partition from its offset: no Exchange and
    no Window node (the local sort is elided too, as a range reports its
    order), and one MapInArrow node, which parses and serializes in the
    same Python task (plans/r15/convert_{before,after}.txt,
    plans/r18/convert_{before,after}.txt)."""
    from bolson_spark.operators import convert
    from bolson_spark.schemas import BATTERY_SPARK

    raw = spark.range(0, 3000, 1, 3).selectExpr(
        "id AS _ln", "concat('{\"voltage\": [', id, ']}') AS value"
    )
    plan = formatted_plan(
        convert(raw, BATTERY_SPARK, "value", "_ln", serialize=True)
    )
    for node in ("Exchange", "Window", "Sort"):
        assert not re.search(rf"^\(\d+\) {node}", plan, re.M), plan
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1, plan


def test_semi_anti_joins_compile_to_joins(spark):
    plan = formatted_plan(QUERIES["customers_without_orders"].fn(spark, SF))
    assert "LeftAnti" in plan
    plan = formatted_plan(QUERIES["suppliers_in_asia"].fn(spark, SF))
    assert "LeftSemi" in plan


def test_parse_is_jvm_side(spark):
    """The strict parse must compile to JVM expressions (a Project over
    from_json/raise_error — from_json itself is not codegen-supported,
    but it is evaluated on the JVM), never a Python UDF stage."""
    df = QUERIES["convert_parse"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "from_json" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_returned_items_plan(spark):
    """Q10 shape: returnflag filter pushed to the lineitem scan, nation
    broadcast, top-20 as TakeOrdered (no global sort)."""
    df = QUERIES["returned_items"].fn(spark, SF)
    assert_pushdown(df, "l_returnflag")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_session_window_is_native(spark):
    """session_window compiles to the native session-window aggregate
    (no Python stage, no cross join)."""
    plan = formatted_plan(QUERIES["events_sessions"].fn(spark, SF))
    assert "session_window" in plan.lower()
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located joins via bucketing: two tables bucketed by the join
    key join WITHOUT an Exchange on either side — the pre-partitioning
    strategy for repeated large-large joins at scale."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name, df, key in (
        ("b_orders", orders, "o_custkey"),
        ("b_customer", cust, "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # an orphaned location from a previous session blocks CREATE
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
    # the merge hint forces SMJ (the tables fit the broadcast threshold
    # at this SF; at scale both sides would be too large to broadcast)
    j = spark.table("b_orders").hint("merge").join(
        spark.table("b_customer").hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = formatted_plan(j)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange" not in plan  # bucketing pre-partitioned both sides
    for name in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_approx_aggregates_within_tolerance(spark):
    """approx_count_distinct (HLL++) and approx_percentile land within
    their documented error bounds of the exact answers — the sketches
    that replace exact distinct/percentile at 100 TB."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    row = ev.select(
        F.approx_count_distinct("user_id", 0.02).alias("approx_u"),
        F.countDistinct("user_id").alias("exact_u"),
        F.approx_percentile("value", 0.5, 10_000).alias("approx_p50"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
    ).first()
    assert abs(row.approx_u - row.exact_u) <= max(0.05 * row.exact_u, 2)
    assert abs(row.approx_p50 - row.exact_p50) <= 0.5


def test_correlated_subquery_decorrelates(spark):
    """The correlated scalar subquery must compile to an aggregate +
    join (decorrelation), never a per-row subquery plan."""
    plan = formatted_plan(QUERIES["orders_above_cust_avg"].fn(spark, SF))
    assert "HashAggregate" in plan
    assert "Join" in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_market_share_broadcasts_all_dims(spark):
    """Q8 shape: part/nation/region dims broadcast; the date and
    region filters push to their scans."""
    df = QUERIES["market_share"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert_pushdown(df, "o_orderdate")
    assert_pushdown(df, "r_name")
    assert_pushdown(df, "p_type")


def test_large_volume_customers_aggregates_before_join(spark):
    """Q18 shape: the HAVING aggregate must run on lineitem BEFORE the
    orders join (only qualifying orderkeys flow), and top-k must be
    TakeOrdered, not a global sort."""
    plan = formatted_plan(QUERIES["large_volume_customers"].fn(spark, SF))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert 0 <= agg_pos
    assert "TakeOrderedAndProject" in plan


def test_top_supplier_scalar_max_broadcasts(spark):
    """Q15 shape: the scalar max joins as a broadcast, not a window
    over one unbounded partition (which would serialize at scale)."""
    plan = formatted_plan(QUERIES["top_supplier"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_simhash_pairs_candidates_are_equi_join(spark):
    """Banded near-dup: candidate generation must be an equi-join on
    the band key (hash-joinable), never a cross product."""
    plan = formatted_plan(QUERIES["simhash_pairs"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_keeps_equi_key(spark):
    """The user_id equi-key must remain the join key with the time
    range as a residual condition — no nested-loop fallback."""
    plan = formatted_plan(QUERIES["signup_activity_7d"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_clean_corpus_is_jvm_only(spark):
    """The corpus-cleaning composition must stay entirely JVM-side:
    no Python workers anywhere in the plan."""
    plan = formatted_plan(QUERIES["clean_corpus"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ngram_skew_guard_is_anti_join_on_frequent(spark):
    """The shingle document-frequency guard must broadcast the tiny
    FREQUENT set and left-anti join — broadcasting the kept (rare)
    vocabulary would be an unbounded broadcast at 100 TB."""
    plan = formatted_plan(QUERIES["dedup_ngram"].fn(spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_explode_once_null_elements_and_where_once_collisions(spark):
    """r10 ADVICE #1/#2 hardening. explode_once(pos=True) must keep a
    legitimately-NULL array element (filtering on the position alias,
    whose only NULL row is the outer-explode marker), matching plain
    posexplode; where_once must survive a caller whose schema already
    uses the helper column names."""
    from pyspark.sql import functions as F

    from bolson_spark.functions.text import explode_once, where_once

    df = spark.createDataFrame(
        [(1, ["a", None, "b"]), (2, []), (3, None)],
        "id bigint, arr array<string>",
    )
    got = explode_once(
        df, ["id"], F.col("arr"), ["p", "v"], pos=True
    ).collect()
    want = df.select("id", F.posexplode("arr")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert (1, 1, None) in {tuple(r) for r in got}

    clash = spark.createDataFrame(
        [(1, 5, 6), (2, 7, 8)], "id bigint, _w_once int, _w_keep int"
    )
    out = where_once(clash, F.col("id") == 1)
    assert out.columns == clash.columns
    assert [tuple(r) for r in out.collect()] == [(1, 5, 6)]


def test_explode_once_fences_generate_filter_inference(spark):
    """The r10 explode_once/where_once rewrites depend on two Spark
    optimizer behaviors (InferFiltersFromGenerate exempting *_outer
    generates; generator-output filters being non-pushable). If a
    Spark upgrade re-enabled the inference, the expensive array build
    would silently reappear as a scan-level Filter — a 2-10x perf
    regression with no functional signal (r10 ADVICE #3). Pin it: no
    Filter/PushedFilters line of the representative rewritten queries
    may contain an array-building transform tree."""
    for q in ("pq_encode", "sq_encode", "dedup_ngram"):
        plan = formatted_plan(QUERIES[q].fn(spark, SF))
        for line in plan.splitlines():
            if line.lstrip().startswith(("Condition", "PushedFilters")):
                assert "transform(" not in line, (q, line)
                assert "aggregate(" not in line, (q, line)


def test_flagship_has_no_single_partition_exchange(spark):
    """convert_pipeline (= entry()) ships the scalable partition-offset
    seq path: no global single-reducer sort anywhere in the plan."""
    plan = formatted_plan(QUERIES["convert_pipeline"].fn(spark, SF))
    assert "SinglePartition" not in plan
    # the exact parity twin deliberately keeps the global window
    plan_exact = formatted_plan(QUERIES["convert_pipeline_exact"].fn(spark, SF))
    assert "SinglePartition" in plan_exact


def test_decontaminate_eval_gram_join_is_equi_and_aqe_eligible(spark):
    """Decontamination probes the corpus gram stream against the
    eval-set gram hashes. The broadcast decision is deliberately LEFT
    TO AQE (a hard F.broadcast() hint would OOM instead of degrading
    to a shuffle join when the eval set is large), so the static plan
    must be a hash-partitioned EQUI join on gram_hash — broadcast when
    size stats allow, sort-merge otherwise, never a nested-loop — and
    a small eval set must still end up broadcast at runtime."""
    df = QUERIES["decontaminate"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "gram_hash" in plan
    # runtime (AQE) check: after execution the adaptive plan of the
    # hit-marking join collapses to a broadcast for a small eval set
    df.write.mode("overwrite").format("noop").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final


def test_pack_sequences_window_is_partitioned(spark):
    """Sequence packing cumsum must run per source shard — a global
    (unpartitioned) window would funnel 100 TB through one reducer."""
    plan = formatted_plan(QUERIES["pack_sequences"].fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_dsir_resample_no_global_window(spark):
    """The DSIR budget cumsum must run PARTITIONED BY the key bucket
    (the add_seq_scalable 3-pass shape) — a global ORDER BY window
    would funnel the whole pool through one reducer. The only
    SinglePartition exchanges allowed in the plan are the inherited
    1-row dsir_logratio stats aggregates (exactly the set the
    standalone weight query dsir_selection carries)."""
    plan = formatted_plan(QUERIES["dsir_resample"].fn(spark, SF))
    assert "hashpartitioning(_bkt" in plan
    # every SinglePartition in the plan must be the 1-row (Nr, Nt, V)
    # stats exchange — identified by the partial_sum(cr) fold feeding
    # it. (The cached keyed pool prints the stats exchange twice:
    # once in the AQE initial plan, once in the final plan.)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 8):i])
            assert "partial_sum(cr" in ctx, f"unexpected:\n{ctx}\n{ln}"


def test_dup_ngram_fraction_degrades_to_equi_shuffle_join(spark):
    """The gram document-frequency index is unbounded at scale. At toy
    SF Catalyst rightly broadcasts it (size-based); with broadcasts
    disabled — the 100 TB stats regime — the join must degrade to an
    equi shuffle join on gram_hash, never a nested-loop/cartesian."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(QUERIES["dup_ngram_fraction"].fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_weighted_sample_is_take_ordered(spark):
    """ES weighted sampling must select via per-partition heaps
    (TakeOrderedAndProject), not a global sort of the corpus."""
    plan = formatted_plan(QUERIES["weighted_sample"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_kmv_windows_are_partitioned(spark):
    """Both KMV top-k stages are partitioned windows — no group ever
    funnels its full key set through a single reducer."""
    plan = formatted_plan(QUERIES["kmv_distinct"].fn(spark, SF))
    assert "SinglePartition" not in plan


def test_bm25_stats_broadcast_and_take_ordered(spark):
    """BM25: corpus stats join back as a broadcast (1 row), top-20 via
    TakeOrdered, and the doc stream is never exploded (per-term tf is
    a lambda filter, not a Generate)."""
    plan = formatted_plan(QUERIES["bm25_search"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Generate" not in plan


def test_training_corpus_is_one_jvm_plan(spark):
    """The composed pipeline (quality -> decontaminate -> dedup -> mix
    -> pack) must stay one JVM-only Catalyst plan: no Python stages,
    no cartesian joins; the packing window partitioned by source."""
    plan = formatted_plan(QUERIES["training_corpus"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(source" in plan


def test_training_corpus_neardup_shuffle_budget(spark):
    """The near-dup composition must add ONLY the dedup stage's own
    exchanges to the flagship pipeline: no Python stages, no cartesian
    joins, the packing window still partitioned by source, and the
    near-dup pair generation visible as equi-joins (band-key hash
    partitioning), never an all-pairs shape."""
    plan = formatted_plan(QUERIES["training_corpus_neardup"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(source" in plan
    # the near-dup stage runs at the exact-group REPRESENTATIVE level:
    # the set-fingerprint canonicalization partitions on set_fp, and
    # survivors are an anti-join — never a row-level rewrite
    assert "hashpartitioning(set_fp" in plan
    assert "LeftAnti" in plan
    # shuffle-budget: the composition adds NO new single-partition
    # funnels beyond the documented temperature_mix global window the
    # exact-dedup flagship already carries (raw Exchange counts are
    # not comparable here — connected_components' iterations unroll
    # into the formatted plan)
    base = formatted_plan(QUERIES["training_corpus"].fn(spark, SF))
    assert plan.count("SinglePartition") <= base.count("SinglePartition")


# Queries where an Exchange SinglePartition is CORRECT: 1-row scalar
# aggregates (stats rows, funnel counts, layout bounds, TPC-H scalar
# subqueries), the documented exact-seq parity twins, and global-window
# shapes kept deliberately as parity/reference variants.
SINGLE_PARTITION_OK = {
    # hybrid_search: the global top-50 candidate limit is a 50-row
    # exchange by construction — two-stage retrieval funnels through
    # the candidate set on purpose
    "hybrid_search", "hard_negatives",
    # resample_locf: the global time-bounds aggregate is one row
    "resample_locf", "resample_interp", "length_drift",
    # integrity_audit: five 1-row count aggregates unioned
    "integrity_audit",
    "bm25_search", "conversion_funnel", "temperature_mix",
    "training_corpus", "training_corpus_neardup",
    # spandedup: same temperature_mix scalar aggregates as its
    # siblings (the mixture's corpus-total row is 1-row by design)
    "training_corpus_spandedup", "zorder_layout",
    "convert_ipc_messages", "convert_ipc_roundtrip",
    "convert_pipeline_exact", "convert_pipeline_arrow",
    "convert_rebatch", "convert_seq",
    "convert_serialize_stats",
    "discounted_revenue", "idle_customers", "important_stock",
    "order_value_quartiles", "promo_revenue", "revenue_forecast",
    "small_qty_revenue", "top_supplier",
    # lm_quality: two 1-row aggregates (corpus total, vocab floor)
    "lm_quality",
    # dsir_selection: the (Nr, Nt, V) smoothing normalizers are one
    # 1-row stats aggregate broadcast to the vocab ratio table
    "dsir_selection",
    # dsir_resample / training_corpus_dsir: the same inherited 1-row
    # stats aggregate; the budget cumsum itself is bucket-partitioned
    # (3-pass scalable shape — pinned by
    # test_dsir_resample_no_global_window below), never a global window
    "dsir_resample", "training_corpus_dsir",
    # token_budget_mix: 1-row totals aggregate over the per-source table
    "token_budget_mix",
    # bigram_nll: 1-row vocabulary-size aggregate (broadcast V)
    "bigram_nll",
    # pmi_collocations: the N/M normalizers are 1-row aggregates
    # DERIVED from the unigram counts (exchange-reused) and a
    # column-less row count — scalar by construction
    "pmi_collocations",
    # hll_distinct: the ALL row is a 1-row aggregate over the merged
    # union registers (<= 2^p 3-int rows), plus the corpus-wide exact
    # accuracy count — both scalar by construction
    "hll_distinct",
}


def test_registry_plan_hygiene(spark):
    """Sweep EVERY registry query's physical plan: no cartesian
    products, no row-at-a-time Python UDFs anywhere, and
    single-partition exchanges only where a 1-row aggregate or a
    documented parity twin makes them correct. This is the systematic
    net behind the per-query plan tests above."""
    bad = {}
    for name, spec in QUERIES.items():
        plan = formatted_plan(spec.fn(spark, SF))
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF")
        if "SinglePartition" in plan and name not in SINGLE_PARTITION_OK:
            problems.append("undocumented SinglePartition")
        if problems:
            bad[name] = problems
    assert not bad, bad


def test_registry_outputs_are_scalar_columns(spark):
    """Every oracle-checked registry query must return only scalar
    columns: the driver canonicalizes results with pandas sort_values,
    which cannot sort array/map/struct cells (exactly how the r3
    multimodal_features row errored despite correct values). Rows-only
    queries (oracle=None) are exempt — the driver never hashes them."""
    from pyspark.sql import types as T

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    bad = {}
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        offending = [
            f.name
            for f in spec.fn(spark, SF).schema.fields
            if isinstance(f.dataType, complex_types)
        ]
        if offending:
            bad[name] = offending
    assert not bad, f"non-scalar output columns (driver cannot hash): {bad}"


def test_knn_sq_is_take_ordered_with_broadcast_query(spark):
    """Quantized kNN: top-k must be TakeOrdered (no global sort) and
    the 1-row query encoding must arrive by broadcast."""
    plan = formatted_plan(QUERIES["knn_sq"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dedup_keep_best_single_pass_no_union(spark):
    """The keep-best pruning must consume the verified pair list ONCE:
    a symmetric-edge union would execute the un-cached MinHash pair
    pipeline twice (measured 15.5 s -> 3.3 s at sf0.1). The plan
    therefore contains no Union node, and the metadata joins stay
    broadcast at dim size."""
    plan = formatted_plan(QUERIES["dedup_keep_best"].fn(spark, SF))
    assert "Union" not in plan


def test_bigram_nll_vocab_is_broadcast_one_row(spark):
    """The vocabulary-size scalar joins in as a broadcast 1-row
    aggregate, not a shuffled cross join."""
    plan = formatted_plan(QUERIES["bigram_nll"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_sessionize_events_one_user_shuffle(spark):
    """Gap sessionization must cost ONE shuffle: both windows and the
    final (user_id, session_id) aggregation are satisfied by the same
    hashpartitioning(user_id) exchange (HashPartitioning on a subset
    of the grouping keys satisfies ClusteredDistribution)."""
    plan = formatted_plan(QUERIES["sessionize_events"].fn(spark, SF))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_scaled_ivf_dedup_assign_is_shuffle_free(spark):
    """dedup_embedding_ivf_scaled's corpus path: the GEMM assignment is
    a narrow MapInPandas with the vector carried through, the assigned
    frame is persisted (InMemoryTableScan feeds the tiling references
    instead of re-running the GEMM), every join is a BROADCAST join
    (the only full-row exchange is the pair stage's tile grouping),
    and no sort-merge / shuffled-hash join touches the corpus."""
    plan = formatted_plan(QUERIES["dedup_embedding_ivf_scaled"].fn(spark, SF))
    assert "MapInPandas" in plan, plan
    # every tiling reference reads the CACHED assign frame (the
    # MapInPandas text recurs only inside InMemoryRelation's embedded
    # child description — execution-wise the GEMM runs once)
    assert "InMemoryTableScan" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_ivf_knn_batch_all_joins_broadcast(spark):
    """ivf_knn_batch (the batched serving probe): one narrow GEMM
    assign over the corpus, then broadcast-only joins (probed-cell
    pairs + query vectors) into the per-query top-k window — no
    shuffle join of the corpus anywhere."""
    plan = formatted_plan(QUERIES["ivf_knn_batch"].fn(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_user_state_one_user_shuffle(spark):
    """SCD-2 interval build: lag, the change filter, and lead all ride
    one hashpartitioning(user_id) exchange."""
    plan = formatted_plan(QUERIES["scd2_user_state"].fn(spark, SF))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_training_order_uses_scalable_seq_buckets(spark):
    """The global shuffle order must come from the bucket-partitioned
    scalable sequence pass (repartition on the literal bucket id), not
    a single-reducer global window — the plan-hygiene sweep already
    rejects SinglePartition; this pins the positive shape."""
    plan = formatted_plan(QUERIES["training_order"].fn(spark, SF))
    assert "hashpartitioning(_pid" in plan, plan


def test_ivf_pq_knn_is_take_ordered(spark):
    """The composed IVF+PQ stack: top-k must execute as TakeOrdered
    over the cell-restricted ADC scan (no global sort, no cartesian
    expansion — the LUT is a literal, the cell filter an equi-join)."""
    plan = formatted_plan(QUERIES["ivf_pq_knn"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_edge_join_aqe_splits_skewed_hub(spark):
    """q_part_pagerank's docstring names a power-law hub part as AQE
    skew-join territory — prove it on a synthetic hub graph: the
    contrib-round edge x score equi-join (the exact join shape of the
    PageRank iteration) must come back from AQE with the hub's shuffle
    partition SPLIT (SortMergeJoin(skew=true) + AQEShuffleRead skewed)
    instead of one straggler task owning the whole hub. Thresholds are
    scaled to the toy fixture; at 100 TB the defaults (256 MB / 5x
    median) trigger on the same mechanics."""
    import re

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hub = spark.range(200_000).select(
            F.lit(0).alias("src"),
            (F.col("id") + 1).alias("dst"),
            F.lit(200_000).alias("deg"),
        )
        cold = spark.range(5_000).select(
            (F.col("id") % 1000 + 1).alias("src"),
            ((F.col("id") * 7) % 1000 + 1).alias("dst"),
            F.lit(5).alias("deg"),
        )
        edges = hub.unionByName(cold)
        scores = spark.range(1001).select(
            F.col("id").alias("src"),
            F.lit(1_000_000_000).alias("score_e9"),
        )
        contrib = (
            edges.join(scores, "src")
            .select("dst", F.expr("score_e9 div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        # execute THIS DataFrame's own QueryExecution (a writer would
        # clone the plan and leave this one's adaptive plan un-final)
        assert len(contrib.collect()) == 200_000
        plan = contrib._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"SortMergeJoin\(skew=true\)", plan), plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Spark's runtime Bloom-filter join pruning (InjectRuntimeFilter,
    enabled in this session's config) only fires above a 10 GB
    fact-side scan — the 100 TB regime, never the fixture. Scale the
    threshold down and machine-prove the engine's dim-filtered fact
    join shape admits the rewrite: the selective supplier predicate
    must inject a bloom_filter_agg creation subquery and a
    might_contain predicate into the lineitem scan stage, so at
    production scale the fact shuffle only carries rows that can
    possibly join. Broadcast is forced off — with a broadcastable dim
    Spark prunes through the broadcast instead, which is why the
    registry's own plans don't (and shouldn't) show the bloom."""
    from pyspark.sql import functions as F

    from bolson_spark.queries import _t

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1024",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = _t(spark, SF, "lineitem")
        su = _t(spark, SF, "supplier").where(F.col("s_acctbal") > 9000)
        j = (
            li.join(su, li.l_suppkey == su.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("l_quantity").alias("q"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        # the probe sits in the FACT branch as a scan-stage filter on
        # the join key, upstream of the shuffle
        assert "might_contain" in plan and "l_suppkey" in plan.split(
            "might_contain", 1
        )[1][:120], plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, tmp_path):
    """Dynamic Partition Pruning — the other scan-elimination lever at
    100 TB (a date-partitioned fact joined to a filtered dim reads
    ONLY the dim's surviving partitions, at runtime, via the reused
    broadcast): write events partitioned by day, join on the partition
    column against an independently-filtered dim, and assert the fact
    scan's PartitionFilters carry the dynamicpruning subquery. The dim
    must be a genuinely independent relation — a dim derived from the
    fact itself is (correctly) not rewritten."""
    from pyspark.sql import functions as F

    from bolson_spark.queries import _t

    d = str(tmp_path / "events_by_day")
    (
        _t(spark, SF, "events")
        .withColumn("day", F.to_date("ts"))
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(d)
    )
    fact = spark.read.parquet(d)
    days = [r.day for r in fact.select("day").distinct().limit(5).collect()]
    dim = spark.createDataFrame(
        [(x, i) for i, x in enumerate(days)], ["day", "prio"]
    )
    j = (
        fact.join(dim.where(F.col("prio") <= 1), "day")
        .groupBy("day")
        .count()
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    scan_line = next(
        (
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "dynamicpruning" in ln
        ),
        None,
    )
    assert scan_line is not None, plan[:2000]


def test_aqe_upgrades_smj_to_broadcast_at_runtime(spark):
    """AQE's runtime join upgrade — the lever that saves mis-estimated
    joins at 100 TB: planning-time stats can't see a selective filter,
    so the static plan is a SortMergeJoin, but the runtime shuffle
    statistics reveal the filtered side is tiny and AQE replans it as
    a BroadcastHashJoin mid-query. Force the static choice off
    (threshold -1) and assert the FINAL adaptive plan carries the
    broadcast join while the initial plan carried the SMJ."""
    from pyspark.sql import functions as F

    from bolson_spark.queries import _t

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10485760",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = _t(spark, SF, "lineitem")
        orders = _t(spark, SF, "orders").where(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        final = plan.split("Initial Plan", 1)[0]
        initial = plan.split("Initial Plan", 1)[1] if "Initial Plan" in plan else ""
        assert "BroadcastHashJoin" in final, final[:2000]
        assert "SortMergeJoin" not in final, final[:2000]
        assert "SortMergeJoin" in initial  # the static plan was SMJ
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hll_register_build_is_partial_aggregating(spark):
    """The register build must map-side combine: the plan carries a
    partial_max over (group, bucket) BEFORE the exchange, so each task
    emits at most groups x 2^p rows regardless of input size — the
    property that makes the sketch cheaper than distinct()+top-k.
    There must be no distinct() (its extra exchange) anywhere.

    Asserted on the register-build construction itself
    (hll_registers): the hll_distinct registry query consumes it
    through hll_union, which is eager end-to-end since round 8 (one
    job, no caching — the register exchange is AQE-stage-reused
    across its two consumers) — the corpus-scale register job
    therefore no longer appears in the returned frame's plan, but its
    shape is exactly this one."""
    from bolson_spark.functions.sketch import hll_registers

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "source", "explode(split(text, ' ')) AS token"
    )
    plan = formatted_plan(hll_registers(docs, "token", "source", p=6))
    assert "partial_max" in plan, plan
    assert "Deduplicate" not in plan and "distinct" not in plan.lower()


def test_cm_frequency_probe_joins_broadcast_grid(spark):
    """The probe side must join the d x w cell grid as a BROADCAST
    (the grid is constant-size by construction); no cartesian, no
    Python stage."""
    plan = formatted_plan(QUERIES["cm_frequency"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_balanced_shards_uses_scalable_seq_not_global_sort(spark):
    """Shard assignment must ride the bucket-partitioned scalable seq
    (hashpartitioning on the literal bucket id), never a
    range-partitioned global sort or single-reducer window."""
    plan = formatted_plan(QUERIES["balanced_shards"].fn(spark, SF))
    assert "hashpartitioning(_pid" in plan, plan
    assert "rangepartitioning" not in plan, plan
