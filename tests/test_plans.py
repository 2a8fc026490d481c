"""Plan-shape regression tests: the SCALE.md invariants, asserted against the
physical plan so a refactor that silently de-optimizes a query class fails CI
— scan pruning/pushdown, broadcast policy, top-k without global sort, no
nested-loop joins where an equi conjunct exists."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from etl_lala_spark.plans import query_fns


def plan_of(spark, name, sf_dir) -> str:
    return query_fns()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 needed columns are read
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema and "l_returnflag" in read_schema
    # partial+final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "topk_parts_by_revenue", sf_dir)
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 10


def test_star_joins_broadcast_dimensions(spark, sf_dir):
    for name in ("q3_shipping_priority", "q5_local_supplier_volume"):
        plan = plan_of(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "NestedLoop" not in plan, name


def test_range_join_is_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "join_range_part_qty", sf_dir)
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # equi conjunct drives the join


def test_asof_window_form_has_no_join(spark, sf_dir):
    plan = plan_of(spark, "asof_join_window", sf_dir)
    assert "Join" not in plan  # union + single window pass


def test_rollup_expands_before_partial_agg(spark, sf_dir):
    plan = plan_of(spark, "rollup_pricing", sf_dir)
    assert "Expand" in plan
    assert plan.index("Expand") > plan.index("HashAggregate")  # Expand is below agg


def test_q4_semi_join_keeps_equi_key(spark, sf_dir):
    """EXISTS with an inter-table inequality: the equi conjunct must drive a
    hash semi join (inequality as residual), never a nested loop."""
    plan = plan_of(spark, "q4_order_priority", sf_dir)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = plan_of(spark, "q6_forecast_revenue", sf_dir)
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # 4-column projection only


def test_q2_decorrelated_min_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, "q2_min_cost_supplier", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT 100 without global sort


def test_q21_single_wide_shuffle(spark, sf_dir):
    """The one-agg rewrite of Q21 must not re-shuffle lineitem per EXISTS:
    at most two exchanges touch lineitem-derived data (join + order agg)."""
    plan = plan_of(spark, "q21_suppliers_kept_waiting", sf_dir)
    assert "NestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 2


def test_bm25_single_projection_no_explode(spark, sf_dir):
    """BM25 term frequencies ride one JVM-side projection: no Generate
    (explode) node and no Python UDF in the plan."""
    plan = plan_of(spark, "text_bm25_retrieval", sf_dir)
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must be live: after execution, the adaptive plan of a grouped
    aggregate shows AQEShuffleRead coalescing the tiny shuffle."""
    df = query_fns()["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan


def test_diag_key_skew_never_sorts_fact_table(spark, sf_dir):
    plan = plan_of(spark, "diag_key_skew", sf_dir)
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    assert plan.count("HashAggregate") >= 2  # map-side combine on the key


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """A selective dim filter feeding a shuffle join injects a bloom-filter
    semi-join reduction (`might_contain`) on the fact scan, dropping most
    fact rows before the shuffle. Local test data sits under the 10 MB
    creation-side threshold, so the thresholds are lowered here to assert
    the rewrite itself fires; production keeps the stock thresholds."""
    from etl_lala_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        urgent = orders.filter("o_orderpriority = '1-URGENT'").select("o_orderkey")
        q = li.join(urgent, li.l_orderkey == urgent.o_orderkey).groupBy().count()
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_load(spark, sf_dir, tmp_path):
    """Tables written partitioned by the incremental writer are DPP-eligible:
    joining on the partition column against a filtered broadcast dimension
    puts a dynamicpruningexpression into the scan's PartitionFilters, so only
    the matching partition directories are listed and read — at 100 TB the
    other partitions never leave object storage."""
    from pyspark.sql import functions as F

    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks.writer import load_incremental

    path = str(tmp_path / "li_by_flag")
    li = load_table(spark, sf_dir, "lineitem")
    load_incremental(spark, li, path, part_col="l_returnflag")

    part = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], ["flag", "tag"]
    )
    q = (
        part.join(F.broadcast(dim), part.l_returnflag == dim.flag)
        .filter(F.col("tag") == "keep")
        .groupBy("flag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan


def test_market_basket_has_no_join(spark, sf_dir):
    """Pair mining must generate C(n,2) inside each task (array lambdas
    after one groupBy) — never as a lineitem self-join."""
    plan = plan_of(spark, "market_basket_pairs", sf_dir)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL top-n must decorrelate: partial per-group
    limit below the shuffle, one equi-join, no per-row subquery NLJ."""
    plan = plan_of(spark, "join_lateral_topn", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_is_single_sketch_agg(spark, sf_dir):
    """approx_top_k aggregates to ONE sketch row (partial+final, no
    per-key shuffle of raw counts) before the explode."""
    plan = plan_of(spark, "events_heavy_hitters", sf_dir)
    assert "approx_top_k" in plan
    assert plan.count("Exchange") <= 1  # only the partial->final singleton


def test_quantization_has_no_explode(spark, sf_dir):
    """Vector quantization stays in array lambdas: no Generate (explode)
    node — the 64x row inflation it avoids."""
    plan = plan_of(spark, "embedding_quantize_int8", sf_dir)
    assert "Generate" not in plan


def test_rag_chunking_is_zero_shuffle_narrow_map(spark, sf_dir):
    """Chunking must stay a narrow map: one scan, no join/agg; the only
    exchange is the presentation orderBy."""
    plan = plan_of(spark, "rag_chunk_documents", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "HashAggregate" not in plan
    assert plan.count("Exchange") == 1


def test_source_mixing_scans_corpus_once(spark, sf_dir):
    """The normalizer must come from the per-source aggregate, not a second
    corpus branch — a naive agg-of-agg cross join doubles the 100 TB scan."""
    plan = plan_of(spark, "curate_source_mixing", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_kmeans_assignment_broadcasts_codebook(spark, sf_dir):
    """Lloyd assignment must reach the corpus via a broadcast codebook —
    never a shuffle join of the corpus against centroids."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    asg = sim.kmeans_fit(emb, dim=64, k=4, iters=1)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_er_fuzzy_join_runs_on_deduped_domain(spark, sf_dir):
    """The quadratic ER step must run on the distinct-name domain (post-agg),
    so the self-join's inputs are aggregates, not raw part scans feeding the
    join directly."""
    plan = plan_of(spark, "er_fuzzy_part_names", sf_dir)
    assert plan.count("Scan parquet") == 2  # two branches of the self-join
    # each branch aggregates to the name domain before joining
    assert plan.count("HashAggregate") >= 4


def test_weighted_sample_is_partial_topk(spark, sf_dir):
    """A-Res sampling must cut via TakeOrderedAndProject (partial top-k);
    the ranking window sees only the k survivors, never the corpus."""
    plan = plan_of(spark, "curate_weighted_sample", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_behavior_similarity_rank_uses_window_group_limit(spark, sf_dir):
    """The per-query rank filter must rewrite to WindowGroupLimit (partial
    per-partition top-k before the final window)."""
    plan = plan_of(spark, "behavior_similarity_topk", sf_dir)
    assert "WindowGroupLimit" in plan


_REGISTRY_IMPORT_CHILD = textwrap.dedent(
    """
    import os
    import sys

    pkg = os.path.join(os.getcwd(), "etl_lala_spark") + os.sep
    write_flags = os.O_WRONLY | os.O_RDWR | os.O_CREAT | os.O_APPEND

    # Recorded rather than raised: a caller's ``except Exception`` could
    # swallow an exception raised from the hook.
    violations = []

    def hook(event, args):
        if event == "subprocess.Popen":
            violations.append(f"spawned {args[1]}")
        if event == "open" and isinstance(args[0], str):
            mode, flags = args[1], args[2]
            writes = (
                any(c in mode for c in "wax+") if isinstance(mode, str)
                else bool(flags & write_flags)
            )
            if writes and os.path.abspath(args[0]).startswith(pkg):
                violations.append(f"wrote {args[0]}")

    sys.addaudithook(hook)
    from etl_lala_spark.plans import oracle_sqls, query_fns

    qs = query_fns()
    oracle_sqls()
    if violations:
        sys.exit("registry import side effects: " + "; ".join(violations))
    print(",".join(list(qs)[:3]))
    """
)


def test_registry_import_is_side_effect_free():
    """Importing and listing the registry spawns no process and writes no
    file under the package, and the registry is in registration order."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # -B: the interpreter's own bytecode cache is not a registry write.
    out = subprocess.run(
        [sys.executable, "-B", "-c", _REGISTRY_IMPORT_CHILD],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1].split(",") == [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
    ]


def test_new_curation_operators_plan_shapes(spark, sf_dir):
    # Repetition signals: pure within-row folds — one pruned 2-column scan,
    # a single partial+final aggregate, no join and no explode.
    plan = plan_of(spark, "text_dup_ngram_coverage", sf_dir)
    assert "Join" not in plan and "Generate" not in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" not in read_schema and "n_chars" not in read_schema

    # Repeated-block dedup: the banned set must come back as a BROADCAST
    # join (heavy-hitters-only side), never a shuffle join on block text.
    plan = plan_of(spark, "dedup_repeated_blocks", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # Bigram LM: no nested-loop anywhere; LM joins are hash joins.
    plan = plan_of(spark, "text_bigram_lm_perplexity", sf_dir)
    assert "NestedLoop" not in plan


def test_triangle_count_materializes_edges_once(spark, sf_dir):
    """The co-purchase edge list feeds five consumers; without the
    checkpoint the whole mining pipeline re-executes per consumer
    (observed: 18 lineitem scans). Checkpointed, the plan contains no
    parquet scan at all and single-digit exchanges."""
    plan = plan_of(spark, "graph_triangle_count", sf_dir)
    assert "FileScan parquet" not in plan
    assert plan.count("Exchange") <= 12
    # wedge + closing joins are equi-joins, never a nested loop over edges
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            # only the final 1-row stat assembly may nested-loop
            assert "Cross" in line or "Inner" in line


def test_jl_projection_is_single_narrow_map(spark, sf_dir):
    """All 16 output coordinates are codegen folds in one projection over
    one scan — no Generate (explode), no Python, and only the final
    orderBy's range exchange."""
    plan = plan_of(spark, "embedding_random_projection", sf_dir)
    assert "FileScan parquet" in plan
    assert "Generate" not in plan and "Python" not in plan
    assert plan.count("Exchange") <= 1
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "label" not in read_schema  # column pruning holds


def test_events_funnel_single_fact_shuffle(spark, sf_dir):
    """Funnel: both cumulative-flag windows share the (user_id; ts, event_id)
    partitioning — ONE events shuffle feeds two Window nodes, no self-joins
    (the textbook 3-CTE funnel re-scans events per stage)."""
    plan = plan_of(spark, "events_funnel_conversion", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Window") == 2
    assert "Join" not in plan


def test_events_peak_concurrency_single_scan(spark, sf_dir):
    """Sweep-line peak concurrency: the ±1 boundary points come from one
    explode (not a subtree-duplicating union) and the argmin-at-peak is
    folded into the final aggregate (not a broadcast self-join) — events is
    scanned exactly once. r2's shape scanned it 4×."""
    plan = plan_of(spark, "events_peak_concurrency", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_events_seasonal_baseline_single_scan(spark, sf_dir):
    """Hour-of-day baseline: derived from the hourly pre-agg via an unbounded
    window, never by re-aggregating events and joining back — one scan."""
    plan = plan_of(spark, "events_seasonal_baseline", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_events_sessionization_single_user_shuffle(spark, sf_dir):
    """Gap-rule sessionization (and its session_ids twin): the lag flag and
    the running session counter share one (user_id) partitioning — a single
    events shuffle, two stacked Window nodes, no join."""
    for name in ("events_sessionization", "events_session_ids"):
        plan = plan_of(spark, name, sf_dir)
        assert plan.count("Scan parquet") == 1, name
        assert plan.count("Exchange hashpartitioning(user_id") == 1, name
        assert "Join" not in plan, name


def test_events_enrichment_broadcasts_user_dim(spark, sf_dir):
    """Fact-events × customer-dim enrichment must broadcast the dimension —
    never shuffle events on the join key."""
    plan = plan_of(spark, "events_user_enrichment", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_events_trending_topk_uses_window_group_limit(spark, sf_dir):
    """Per-window trending top-k: rank-filter must plan as WindowGroupLimit
    (partial top-k on both shuffle sides), not a full sort + filter."""
    plan = plan_of(spark, "events_trending_topk", sf_dir)
    assert "WindowGroupLimit" in plan


def test_events_rollups_scan_once_no_python(spark, sf_dir):
    """The grouped-rollup family (tumbling/sliding/hourly-active/tagged-union/
    json-props/variant-props/dedup/gap-detection/rate-anomaly): one events
    scan, JVM-only expressions (no Python eval in the plan)."""
    for name in (
        "events_tumbling_window", "events_sliding_window",
        "events_hourly_active_users", "events_tagged_union",
        "events_json_props", "events_variant_props", "events_dedup_exact",
        "events_gap_detection", "events_rate_anomaly",
    ):
        plan = plan_of(spark, name, sf_dir)
        assert plan.count("Scan parquet") == 1, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_executed_plan_single_scan_ground_truth(spark, sf_dir):
    """Ground-truth complement to the text asserts above: walk the FINAL
    adaptive plan after execution (plan_audit.executed_scan_counts) and pin
    the per-evaluation scan counts — text grep can overcount (cached
    subtrees, AQE initial plan) or undercount (reused stages)."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from plan_audit import executed_scan_counts

    expected = {
        "events_peak_concurrency": 1,
        "events_seasonal_baseline": 1,
        "events_funnel_conversion": 1,
        "q1_pricing_summary": 1,
        # base + the single-scan changelog's two consumers (winner agg,
        # anti-join broadcast) — the naive 3-slice union form costs 7
        "cdc_merge_apply": 3,
        # distribution scan + scoring scan; bucket totals ride a window
        # over the 64-row stats, never a second tokenize of the corpus
        "curate_importance_resampling": 2,
    }
    fns = query_fns()
    for name, n_scans in expected.items():
        df = fns[name](spark, sf_dir)
        df.collect()
        c = executed_scan_counts(df)
        assert c["scan"] == n_scans, (name, c)
        assert c["python_eval"] == 0, (name, c)


def _headline_budget() -> dict:
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "plan_scan_budget.json")
    with open(path) as fh:
        return json.load(fh)


def test_headline_scan_budget_holds(spark, sf_dir):
    """Full-coverage executed-plan regression gate (r3 verdict item 8): for
    EVERY bench headline query, the number of file scans that actually
    re-run per evaluation — and the number of Python/Arrow eval nodes —
    must match the snapshot plan_audit.py recorded
    (tests/plan_scan_budget.json, regenerated with `python plan_audit.py`).
    This is the net that holds the single-scan rewrites (7→3 CDC, 3→2
    DSIR, single-scan sweep-line events) and the zero-Python-in-hot-path
    discipline against silent refactor regressions."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from bench import HEADLINE
    from plan_audit import executed_scan_counts

    budget = _headline_budget()
    assert set(HEADLINE) <= set(budget), (
        "regenerate tests/plan_scan_budget.json: `python plan_audit.py`"
    )
    fns = query_fns()
    failures = []
    for name in HEADLINE:
        df = fns[name](spark, sf_dir)
        # collect() finalizes df's OWN adaptive plan (a noop write executes
        # a separate QueryExecution, hiding runtime exchange reuse)
        df.collect()
        c = executed_scan_counts(df)
        spark.catalog.clearCache()
        want = budget[name]
        if c["scan"] > want["scan"] or c["python_eval"] > want["python_eval"]:
            failures.append((name, {k: c[k] for k in ("scan", "python_eval")}, want))
    assert not failures, failures


def test_per_host_shuffle_skew_posture(spark):
    """Mega-host skew posture of the per-host crawl operators (round-9
    verdict task 7; measured at sf1.0 with a 50%-of-URLs host in
    SCALE.md): (1) the host-edge aggregate must partial-aggregate BEFORE
    its exchange — map-side combine is what absorbs a mega-host, the
    skewed key shuffles as one combined row per map task; (2)
    politeness_schedule's delay join must be a broadcast join — a
    shuffled join on host would put 50% of rows in one task and is the
    shape AQE skew-split exists to rescue, but the delays side is
    hosts-sized by construction so the plan must never shuffle it; (3)
    politeness_waves performs exactly one exchange (the per-host window
    — semantically irreducible: the window IS the host's serialized
    fetch queue) and zero Python evals."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import (
        politeness_schedule,
        politeness_waves,
        robots_crawl_delays,
    )

    fr = spark.range(4000).select(
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("http://mega.example.com/p"), F.col("id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("http://host"), (F.col("id") % 50).cast("string"),
                F.lit(".example.com/p"), F.col("id").cast("string"),
            )
        )
        .alias("url")
    )
    robots = spark.createDataFrame(
        [("mega.example.com", "Crawl-delay: 2")],
        "host string, robots_txt string",
    )

    # (1) host-edge aggregate: partial agg before the exchange
    agg = (
        fr.select(
            F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))).alias("host")
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg.collect()
    txt = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in txt, "host agg lost its map-side combine"

    # (2) schedule: broadcast join on the hosts-sized delay table
    sched = politeness_schedule(
        fr, robots_crawl_delays(robots), per_host_per_wave=4
    )
    sched.collect()
    stxt = sched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in stxt or "BroadcastNestedLoopJoin" in stxt, (
        "delay join must broadcast, never shuffle on the skewed host key"
    )

    # (3) waves: one exchange (the host window), no Python
    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(__file__)))
    from plan_audit import executed_scan_counts

    waves = politeness_waves(fr, per_host_per_wave=4)
    waves.collect()
    c = executed_scan_counts(waves)
    assert c["python_eval"] == 0, c

    # count shuffles by WALKING the finalized tree — toString reprints the
    # AQE initial plan and doubles any grep (the executed_scan_counts
    # docstring's warning)
    def shuffles(node, seen=None):
        seen = set() if seen is None else seen
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return shuffles(node.executedPlan(), seen)
        if cls.endswith("QueryStageExec"):
            sid = node.id()
            if sid in seen:
                return 0
            seen.add(sid)
            return shuffles(node.plan(), seen)
        n = 1 if cls.startswith("ShuffleExchange") else 0
        for i in range(node.children().length()):
            n += shuffles(node.children().apply(i), seen)
        return n

    n_exchanges = shuffles(waves._jdf.queryExecution().executedPlan())
    assert n_exchanges == 1, f"waves must shuffle exactly once, saw {n_exchanges}"
