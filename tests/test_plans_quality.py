"""Physical-plan quality gates: the claims in README's scale posture,
asserted against the actual executed plans so they can't silently rot."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tools.dump_plans import ARROW_PYTHON_OK, build_registry

QS = entrymod.queries()


@pytest.fixture(scope="module")
def registry(spark):
    """Every registry query built once at default conf:
    name -> (executed plan string, jobs run while building)."""
    return build_registry(spark, SF_DIR)


def plan_of(registry, name):
    return registry[name][0]


def test_flagship_all_dims_broadcast(registry):
    p = plan_of(registry, "flagship_regional_revenue")
    assert p.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in p


def test_scan_filters_pushed_to_parquet(registry):
    p = plan_of(registry, "scan_filter_distinct")
    assert "PushedFilters: [IsNotNull" in p
    # column pruning: the scan must not read the full lineitem schema
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema


def test_latest_wins_is_single_shuffle(registry):
    p = plan_of(registry, "latest_wins_dedup")
    assert p.count("Exchange") == 1


def test_enrich_join_broadcasts_supplier_sides(registry):
    p = plan_of(registry, "domanda_unify_mini")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_range_join_is_broadcast_not_shuffled_nested_loop(registry):
    p = plan_of(registry, "range_join_value_bands")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_no_python_udfs_in_scalar_queries(registry):
    # every scalar function must stay JVM-side (no BatchEvalPython /
    # ArrowEvalPython nodes anywhere in the scalar suite)
    for name in [
        "scalar_airline_code",
        "scalar_duration_minutes",
        "scalar_luggage",
        "scalar_time_hhmm",
        "scalar_join_date_normalize",
    ]:
        p = plan_of(registry, name)
        assert "EvalPython" not in p, name


def test_no_forced_broadcast_on_fact_tables(spark):
    """Forced broadcast hints are reserved for bounded dims (region/nation/
    supplier); customer/part/orders/lineitem scale with the data — a forced
    hint overrides AQE's size check and OOMs at 100x. Hint counts per query
    = exactly the legit dim hints."""
    expected = {
        "flagship_regional_revenue": 2,  # nation, region
        "multiway_left_join": 2,         # nation, region
        "tpch_q10_returned_items": 1,    # nation
        "tpch_q18_large_volume_customers": 0,
        "tpch_q14_promo_effect": 0,
        "tpch_q5_local_supplier_volume": 3,  # supplier, nation, region
    }
    for name, n_hints in expected.items():
        analyzed = QS[name](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == n_hints, (
            f"{name}: expected {n_hints} dim hints, "
            f"got {analyzed.count('ResolvedHint')}"
        )


def test_q18_aggregates_below_join(registry):
    """The per-order quantity rollup must sit BELOW the orders/customer
    joins (join input shrinks ~4x; HAVING survivors are tiny)."""
    p = plan_of(registry, "tpch_q18_large_volume_customers")
    agg_pos = p.find("HashAggregate")
    join_pos = min(
        x for x in (p.find("SortMergeJoin"), p.find("BroadcastHashJoin")) if x >= 0
    )
    assert agg_pos >= 0 and join_pos >= 0
    # toString prints operators top-down: the aggregate printed LAST (deepest)
    # must be below every join
    last_agg = p.rfind("HashAggregate")
    last_join = max(p.rfind("SortMergeJoin"), p.rfind("BroadcastHashJoin"))
    assert last_agg > last_join, "lineitem aggregate is not below the join"


def test_lookback_prunes_partitions(spark, sf_dir, tmp_path):
    """The 12h-lookback on a date-partitioned lake must hit PartitionFilters
    (directory prune), not just a row filter."""
    import pyspark.sql.functions as F

    from domanda_etl_spark.sources import load_table
    from domanda_etl_spark.streaming.incremental import incremental_lookback_partitioned

    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = str(tmp_path / "events_by_date")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    back = spark.read.parquet(path).withColumn("ts_epoch", F.unix_timestamp("ts"))
    cutoff = 1704844800.0  # 2024-01-10 00:00:00 UTC
    pruned = incremental_lookback_partitioned(back, "ts_epoch", "event_date", cutoff)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_date" in pf, f"date predicate not in PartitionFilters: {pf}"
    expect = back.filter(F.col("ts_epoch") > cutoff).filter(
        F.to_date(F.timestamp_seconds(F.lit(cutoff))) <= F.col("event_date")
    )
    assert pruned.count() == expect.count()


def test_aqe_splits_skewed_join_without_salting(spark):
    """salted_join's automatic alternative: AQE's skew-join split must
    activate on a skewed SMJ (the PERF.md claim, machine-checked)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~90% of the left side
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pl"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("r").alias("rv"))
        joined = left.join(right, "k")
        # collect() executes THIS DataFrame's queryExecution (count() would
        # plan a separate aggregate and leave this one isFinalPlan=false)
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, "AQE skew-join split did not activate"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gopher_repetition_is_map_only(registry):
    """All repetition stats are higher-order array expressions: the plan
    must contain no key-shuffle and no join (the only Exchange allowed is
    the documented round-robin widening on single-split fixtures)."""
    p = plan_of(registry, "gopher_repetition")
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p


def test_kmeans_assign_zero_shuffle_zero_join(registry):
    """Centroids are baked in as a literal array; assignment is a pure map
    expression — no Exchange-by-key, no join anywhere in the plan."""
    p = plan_of(registry, "kmeans_assign")
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p


def test_contamination_screen_broadcasts_benchmark(registry):
    """The benchmark shingle set is eval-set-sized -> must probe via
    broadcast, never a shuffled join of the full corpus side."""
    p = plan_of(registry, "contamination_screen")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_tpch_q2_broadcasts_bounded_dims_only(spark, registry):
    """Q2's bounded dims (supplier/nation/region) carry explicit hints;
    part is fact-scale (grows with SF) so it must NOT be hinted — AQE
    decides at runtime. The analyzed tree inlines the shared `eligible`
    subtree twice (it also feeds the per-part min), so 3 hints print 6
    times."""
    analyzed = QS["tpch_q2_min_cost_supplier"](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 6
    p = plan_of(registry, "tpch_q2_min_cost_supplier")
    assert "CartesianProduct" not in p


def test_tpch_q16_q20_no_forced_part_broadcast(spark):
    """part scales with SF: q16/q20 must leave the lineitem⋈part join to
    AQE (only the bounded supplier-key sets keep hints)."""
    for name, n_hints in {
        "tpch_q16_part_supplier_counts": 1,  # bad_supp key set
        "tpch_q20_potential_promotion": 1,   # supplier semi-join side
    }.items():
        analyzed = QS[name](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == n_hints, name


def test_tpch_q7_prunes_nations_below_fact_joins(registry):
    """The (n1∧n2)∨(n2∧n1) OR can't be factored by Catalyst, so the
    single-side implications are applied by hand: both nation scans carry
    a pushed In(n_name, [..2 values..]) filter, and the supplier/customer
    pruning joins sit BELOW the fact-scale shuffle joins (deepest
    BroadcastHashJoin prints after the deepest SortMergeJoin)."""
    p = plan_of(registry, "tpch_q7_volume_shipping")
    assert p.count("In(n_name") >= 2, "2-nation filter not pushed to nation scans"
    if "SortMergeJoin" in p:
        assert p.rfind("BroadcastHashJoin") > p.rfind("SortMergeJoin")


def test_tpch_q8_prunes_customer_to_region_below_fact_joins(registry):
    """Customer must be cut to ASIA (via the nation⋈region key set) before
    the orders⋈customer shuffle: the region filter is pushed to the region
    scan and the customer-pruning broadcast join sits below the deepest
    shuffle join."""
    p = plan_of(registry, "tpch_q8_market_share")
    assert "EqualTo(r_name,ASIA)" in p or "r_name" in p.split("PushedFilters")[1]
    if "SortMergeJoin" in p:
        assert p.rfind("BroadcastHashJoin") > p.rfind("SortMergeJoin")


def test_shard_packing_no_single_partition_exchange(registry):
    """The shard prefix sum must be the range-partitioned form: a window
    partitioned by the doc_id range bucket, NEVER a global orderBy window
    (which plans as Exchange SinglePartition — one task doing the whole
    corpus's cumulative sum)."""
    p = plan_of(registry, "shard_packing")
    assert "Exchange SinglePartition" not in p
    assert "Window" in p


def test_token_block_packing_no_single_partition_exchange(registry):
    """Same rule for the GPT-style block packer: the virtual-token-stream
    offsets come from the range-bucketed prefix sum, never a global
    window."""
    p = plan_of(registry, "token_block_packing")
    assert "Exchange SinglePartition" not in p
    assert "Window" in p


def test_tpch_q21_rewrite_aggregates_not_self_join(registry):
    """Q21's EXISTS/NOT-EXISTS pair must be the per-order aggregate
    rewrite: no cartesian/nested-loop self-join of lineitem."""
    p = plan_of(registry, "tpch_q21_waiting_suppliers")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4  # partial+final for the two rollups


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """The 100 TB shuffle-join safety net beyond AQE: when a selective dim
    filter feeds a shuffle join, Spark injects a runtime Bloom filter that
    prunes the fact side BEFORE the exchange. Thresholds are lowered to
    fixture scale (the defaults gate on a 10 GB application side — i.e.
    exactly the regime the engine targets); the assert is that the rewrite
    actually fires, so the claim can't silently rot on a Spark upgrade."""
    import pyspark.sql.functions as F

    from domanda_etl_spark.sources import load_table
    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        li = load_table(spark, SF_DIR, "lineitem")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in final.lower(), "runtime Bloom filter did not inject"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_round3_map_only_operators(registry):
    """pii_redaction and doc_chunking are pure projection/flatMap shapes:
    no key shuffle, no join anywhere (the only allowed Exchange is the
    documented round-robin widening on single-split fixtures)."""
    for name in ["pii_redaction", "doc_chunking"]:
        p = plan_of(registry, name)
        assert "Exchange hashpartitioning" not in p, name
        assert "Join" not in p, name


def test_unpivot_is_expand_no_exchange(registry):
    p = plan_of(registry, "unpivot_melt")
    assert "Expand" in p
    assert "Exchange" not in p


def test_funnel_is_single_shuffle(registry):
    """The timeline fold rides ONE hash exchange (collect per user); the
    sort+walk happens inside the aggregate, not as extra stages."""
    p = plan_of(registry, "funnel_analysis")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_interval_overlap_is_broadcast_nested_loop(registry):
    p = plan_of(registry, "interval_overlap_join")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_ivf_probe_is_broadcast_no_all_pairs(registry):
    """IVF: cell assignment is a literal-centroid map expression and the
    probe join broadcasts the tiny query side — the corpus is never
    shuffled pairwise."""
    p = plan_of(registry, "similarity_topk_ivf")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_bucketed_join_zero_exchange(registry):
    """Bucketed layout must eliminate EVERY shuffle in the join+groupBy
    pipeline: matching bucket specs feed SortMergeJoin directly and the
    bucket-key aggregation reuses the same distribution."""
    p = plan_of(registry, "bucketed_join_colocated")
    assert "SortMergeJoin" in p
    assert "Exchange" not in p, p


def test_partitioned_write_prunes_partitions(registry):
    """The partition-column IN filter must resolve at the directory level
    (PartitionFilters), and column pruning must drop the unused key from
    the read schema."""
    p = plan_of(registry, "partitioned_write_prune")
    assert "PartitionFilters: [o_orderpriority#" in p
    assert "IN (1-URGENT,5-LOW)" in p
    assert "o_orderkey" not in p.split("ReadSchema:")[1].splitlines()[0]


def test_registry_wide_no_cartesian_no_python(registry):
    """Global gate over the ENTIRE query registry, job-runners included:
    no CartesianProduct and no row-level Python eval anywhere (the only
    Python allowed is the Arrow-batched ARROW_PYTHON_OK set)."""
    for n, (p, _) in registry.items():
        assert "CartesianProduct" not in p, n
        if n not in ARROW_PYTHON_OK:
            assert "EvalPython" not in p, n


def test_registry_wide_single_partition_only_after_partial_agg(registry):
    """Global gate: an `Exchange SinglePartition` is allowed ONLY when its
    input is an AGGREGATE — either a partial/merge agg (one pre-combined
    row per map task: global sums, scalar subqueries, min/max spines) or
    a final grouped agg (one row per GROUP: a domain-bounded histogram
    feeding a global cumulative window, e.g. wasserstein_drift_exact's
    bin CDF). Either way the exchange moves combined rows, never raw
    row-scale data. This permanently catches the deterministic_shuffle
    class (a global row_number window that funneled the whole corpus
    through one partition before r6's TakeOrdered rewrite) — a raw scan,
    project, join, or window feeding a SinglePartition exchange still
    fails. Every registry query is inspected, job-runners included."""
    bad = []
    for n, (p, _) in registry.items():
        lines = p.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            feeder = lines[i + 1] if i + 1 < len(lines) else ""
            if not (
                "partial_" in feeder
                or "merge_" in feeder
                or "Aggregate(" in feeder
            ):
                bad.append((n, line.strip()[:80], feeder.strip()[:80]))
    assert not bad, f"row-scale SinglePartition exchanges: {bad}"


def test_registry_counts_jobs_at_build(registry):
    """The build-job count is measured, not listed by hand: iterative
    checkpointing and streaming (jobs on stream threads, outside the
    caller's job group) both register; pure plans run nothing."""
    assert registry["kcore_decomposition"][1] > 0
    assert registry["streaming_batch_equiv"][1] > 0
    assert registry["scan_filter_distinct"][1] == 0
    assert registry["domanda_unify_mini"][1] == 0


def test_pipeline_loader_stage(spark, tmp_path):
    from domanda_etl_spark.plans import domanda
    from domanda_etl_spark.sinks import VersionedTable
    from tests.flight_fixtures import NOW, build_frames

    out = domanda.run_pipeline(*build_frames(spark), now_epoch=NOW)
    table = VersionedTable(str(tmp_path / "flight_compare"))
    version, metrics = domanda.load_output(
        out, table, verify_row={"departure_flight_number_1": "CI073", "final_price": 6200}
    )
    assert version == 0
    assert metrics["rows_in"] == table.read(spark).count() + metrics["removed_null_gds"]


def test_setsim_verification_joins_pinned(registry):
    """ADVICE r13 (high): EliminateResolvedHint attaches a hint to the
    nearest Join ABOVE the hinted subtree and does not look through Join
    nodes, so `cand.hint("shuffle_hash").join(s1).join(s2)` pinned only
    the first verification join — the planner statically BROADCAST the
    array-carrying s2 side (the exact maxResultSize death the sf10 probe
    documented). The fix hints the intermediate result too; this gate is
    explain-only (no execution) so the sf10-unprobed verification stage
    is at least strategy-verified on every pytest run."""
    p = plan_of(registry, "setsim_prefix_join")
    assert "BroadcastExchange" not in p
    assert "SortMergeJoin" not in p
    # posting-list self-join + two verification joins, all shuffled-hash
    assert p.count("ShuffledHashJoin") >= 3


def test_flagship_codegen_compiles_strict(spark):
    """VERDICT r13 (next #3): the 64 KB codegen overflow degraded the
    flagship to whole-stage-interpreted on all 5 supplier branches from
    ~r8 to r13 precisely because nothing asserted COMPILED execution.
    With spark.sql.codegen.fallback=false a generated-code compile
    failure THROWS instead of silently falling back — so this test goes
    red if the subexpression staging (conform.Bindings in joins.py and
    plans/domanda.py) is ever removed and a fused projection re-overflows
    Janino's 64 KB method limit. The registry frames are leg-1 constants
    that Catalyst folds; tests/test_domanda_pipeline.py::
    test_refresh_compiles_without_fallback runs the same gate on the
    benchmark lake's fully populated shape."""
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert QS["domanda_pipeline_full"](spark, SF_DIR).count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_flagship_regexp_node_budget(registry):
    """Companion budget gate: the pre-fix flagship plan carried ~2,000
    regexp nodes (every supplier branch re-deriving the 3-regex date
    normalization per join-key comparison); the barrier-staged form
    carried ~450. Staging each shared subexpression once
    (conform.Bindings) and normalizing the five suppliers' union once
    leaves 113. A regression that re-inlines a shared regex subtree, or
    normalizes per supplier again, blows this budget long before it
    re-overflows codegen, so this fails earlier and cheaper than the
    strict gate."""
    p = plan_of(registry, "domanda_pipeline_full")
    n = p.count("regexp_replace") + p.count("regexp_extract")
    assert n <= 130, f"flagship regexp node count {n} exceeds budget 130"


def test_dedup_family_no_corpus_scale_broadcast(registry):
    """r14 family-wide gate (the setsim r13 bug class, hunted via the
    outlier adjudication's plan audit): every join in the dedup /
    similarity family whose BOTH sides are corpus-scale (posting lists,
    shingle/embedding arrays, per-doc or per-fingerprint rollups, the
    history index) must plan as ShuffledHashJoin — a statically-planned
    BroadcastExchange there collects a corpus-scale side to the driver
    and dies on spark.driver.maxResultSize at decade scale (AQE can
    demote nothing: it can only PROMOTE shuffles to broadcasts).
    similarity_topk_lsh is exempt: its broadcast side is the 32-row
    bounded query set, the legitimate broadcast shape."""
    for name in [
        "minhash_estimate_audit",
        "dedup_minhash_lsh_pairs",
        "lsh_pair_containment",
        "simhash_hamming_join",
        "winnowing_fingerprint_dedup",
        "dedup_embedding_neardup",
        "semdedup_cluster_prune",
        "incremental_dedup_newbatch",
        "setsim_prefix_join",
    ]:
        p = plan_of(registry, name)
        assert "BroadcastExchange" not in p, name
        assert "SortMergeJoin" not in p, name


def test_no_static_broadcast_of_checkpoint_outputs(registry):
    """r15 gate (VERDICT r14 §next#6, generalized beyond the dedup
    family): a localCheckpoint output is a LogicalRDD whose stats use
    default column widths — a measured ~13x UNDER-estimate for two-long
    edge lists (1.2M rows -> 1.49 MB estimate vs ~19 MB real) — so the
    static planner keeps BROADCASTING it until ~50M rows, where the real
    hashed relation is already multi-GB: dead on driver.maxResultSize
    long before the estimate self-corrects, and AQE can never demote a
    static broadcast.  The r15 sweep (tools/broadcast_sweep.py) found 12
    live instances across 5 graph/link-prediction queries that the r14
    fact-scan sweep missed (an ExistingRDD scan is not a fact-table
    scan); all are now shuffle_hash-pinned and this gate keeps the class
    dead: no BroadcastExchange over an unbounded ExistingRDD subtree in
    any registry query (only an ExistingRDD build side can flag, so no
    query needs pre-filtering).  Unkeyed aggregates and limits bound the
    build and stay allowed (e.g. degree_assortativity's n_nodes count)."""
    from tools.broadcast_sweep import CHECKPOINT_BROADCAST_OK, sweep_plan

    flags = [
        f
        for n, (p, _) in registry.items()
        for f in sweep_plan(n, p)
        if f[1] == "checkpoint-output" and n not in CHECKPOINT_BROADCAST_OK
    ]
    assert not flags, f"static broadcast of checkpoint outputs: {flags}"


def test_broadcast_sweep_flags_unhinted_checkpoint_join():
    """The gate above is only as good as the sweep's parser — prove on
    canned plan fragments that it (a) flags a BroadcastExchange whose
    build subtree scans a checkpoint output, (b) exempts the bounded
    unkeyed-aggregate shape, and (c) respects subtree boundaries (a
    sibling ExistingRDD scan outside the broadcast subtree is no flag)."""
    from tools.broadcast_sweep import sweep_plan

    bad = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastHashJoin [x#1L], [x#2L], LeftAnti, BuildRight, false",
        "   :- HashAggregate(keys=[x#1L], functions=[count(1)])",
        "   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)",
        "      +- Scan ExistingRDD[x#2L,y#3L]",
    ])
    assert [f[1] for f in sweep_plan("q", bad)] == ["checkpoint-output"]

    bounded = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastNestedLoopJoin BuildRight, Cross",
        "   :- HashAggregate(keys=[], functions=[count(1)])",
        "   +- BroadcastExchange IdentityBroadcastMode",
        "      +- HashAggregate(keys=[], functions=[count(1)])",
        "         +- Scan ExistingRDD[v#1L,dg#2L]",
    ])
    assert sweep_plan("q", bounded) == []

    sibling = "\n".join([
        "AdaptiveSparkPlan",
        "+- ShuffledHashJoin [x#1L], [x#2L], Inner, BuildRight",
        "   :- Scan ExistingRDD[x#1L,y#3L]",
        "   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)",
        "      +- Filter (n#4L < 8)",
        "         +- Scan parquet [n#4L] ReadSchema: struct<n:bigint>",
    ])
    assert sweep_plan("q", sibling) == []

    # (d) ADVICE r15 medium: the bounding aggregate must lie on the
    # scan's OWN ancestor path — a broadcast of (count(1) agg) JOIN
    # (raw checkpoint scan) has a keys=[] aggregate in the subtree but
    # the raw scan is its SIBLING, so the build is still unbounded and
    # must flag.  The old whole-body check silently passed this.
    mixed = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastHashJoin [x#1L], [x#2L], Inner, BuildRight, false",
        "   :- Scan parquet [x#1L] ReadSchema: struct<x:bigint>",
        "   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)",
        "      +- BroadcastHashJoin [n#5L], [y#3L], Inner, BuildLeft, false",
        "         :- HashAggregate(keys=[], functions=[count(1)])",
        "         +- Scan ExistingRDD[x#2L,y#3L]",
    ])
    assert [f[1] for f in sweep_plan("q", mixed)] == ["checkpoint-output"]

    # (e) ADVICE r15 low: codegen `*(n)` stars used to count as
    # tree-prefix, so a starred SIBLING (`+- *(2) Project` after a
    # `:- BroadcastExchange`) parsed one level deeper and was absorbed
    # into the broadcast subtree — a verified false checkpoint-output
    # flag on final-plan / formatted-explain text.  Depth must be
    # computed with the markers stripped: no flag here.
    starred = "\n".join([
        "AdaptiveSparkPlan",
        "+- *(3) BroadcastHashJoin [x#1L], [x#2L], Inner, BuildLeft, false",
        "   :- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)",
        "   :  +- *(1) Filter isnotnull(x#1L)",
        "   :     +- Scan parquet [x#1L] ReadSchema: struct<x:bigint>",
        "   +- *(2) Project [x#2L]",
        "      +- Scan ExistingRDD[x#2L,y#3L]",
    ])
    assert sweep_plan("q", starred) == []
