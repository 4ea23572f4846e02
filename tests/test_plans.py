"""Physical-plan regression tests: the properties that matter at 100 TB
must be visible in the optimized plan, not just assumed.

  * predicate pushdown reaches the parquet scan (PushedFilters);
  * small dims broadcast (BroadcastHashJoin) — no shuffle-sort-merge join
    of a 25-row nation table against a 10^12-row fact;
  * the extraction stage is shuffle-free (no Exchange): embarrassingly
    parallel per page;
  * relational queries stay inside WholeStageCodegen (no Python in the
    hot path).
"""

import __spark_entry__ as E


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


SF = "/root/testdata/sf0.001"


def test_pricing_summary_pushes_filter_to_scan(spark):
    plan = _formatted(E._registry()["pricing_summary"][0](spark, SF))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_revenue_by_nation_broadcasts_dims(spark):
    plan = _formatted(E._registry()["revenue_by_nation"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the dim joins must not fall back to sort-merge
    assert "SortMergeJoin" not in plan


def test_fulltext_broadcasts_query_terms(spark):
    plan = _formatted(E._registry()["fulltext_topn"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    # top-n must be the streaming top-k operator, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_extraction_stage_is_shuffle_free(spark):
    from ragflow_core16_spark.datagen.pages import pages_from_documents
    from ragflow_core16_spark.operators.extract import extract_pages
    plan = _formatted(extract_pages(pages_from_documents(spark, SF)))
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange" in ln and "Reused" not in ln]
    assert exchanges == [], f"unexpected shuffle in extraction: {exchanges}"


def test_relational_query_has_codegen_and_partial_agg(spark):
    # AQE wraps the plan until execution, hiding codegen subtrees from
    # explain — turn it off for the static inspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = E._registry()["pricing_summary"][0](spark, SF)
        codegen = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"))
        assert "WholeStageCodegen subtrees" in codegen
        assert "Found 0 WholeStageCodegen" not in codegen
        simple = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"))
        # map-side combine before the shuffle; vectorized columnar scan
        assert "partial_sum" in simple
        assert "Batched: true" in simple
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_cosine_topk_is_topk_not_global_sort(spark):
    plan = _formatted(E._registry()["cosine_topk"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_lsh_near_dup_subset_of_exact(spark):
    """Every LSH-bucketed near-dup pair must appear in the exact quadratic
    baseline with the same cosine (the LSH variant prunes, never invents)."""
    from ragflow_core16_spark.operators.similarity import (embedding_near_dup,
                                                           near_dup_exact)
    exact = {(r.id_a, r.id_b): r.cosine
             for r in near_dup_exact(spark, SF).collect()}
    approx = {(r.id_a, r.id_b): r.cosine
              for r in embedding_near_dup(spark, SF).collect()}
    for pair, cos in approx.items():
        assert pair in exact and abs(exact[pair] - cos) < 1e-6


def test_insert_citations_no_sort_merge_join(spark):
    # pieces/terms/threshold are literal relations — every join against
    # them must broadcast; a sort-merge join of a 4-row side is wrong
    plan = _formatted(E._registry()["insert_citations"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_ann_bucket_join_broadcasts_query(spark):
    plan = _formatted(E._registry()["lsh_ann_topk"][0](spark, SF))
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_dedup_queries_share_persisted_intermediates(spark):
    """minhash/LSH/jaccard all derive from ONE persisted shingle relation
    and ONE persisted wide signature (session.memo entries): after the
    signature query builds them, the jaccard plan must read the in-memory
    relation instead of re-deriving shingles from parquet."""
    import ragflow_core16_spark.operators.dedup as D
    D.reset_shared_cache()
    D.minhash_lsh_pairs(spark, SF).count()     # builds + persists
    plan = _formatted(D.ngram_jaccard(spark, SF))
    assert "InMemoryTableScan" in plan


def test_decontaminate_partial_agg_no_cartesian(spark):
    """The gram join must be keyed (hash join on gram), never a nested-loop
    cartesian, and the per-doc gram count must combine map-side."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = E._registry()["decontaminate"][0](spark, SF)
        simple = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"))
        assert "CartesianProduct" not in simple
        assert "BroadcastNestedLoopJoin" not in simple
        assert "partial_count" in simple
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_repetition_quality_no_python_stage(spark):
    """Gopher-style repetition metrics are pure JVM columnar — no Arrow/
    Python operator anywhere in the plan."""
    plan = _formatted(E._registry()["repetition_quality"][0](spark, SF))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_template_sort_reads_checkpoint_not_python_stage(spark):
    """The presentation orderBy runs over a lazy localCheckpoint — the
    sort's child is an RDD scan, so the range-partitioner sampling pass
    cannot re-execute the Arrow/Python extraction stage."""
    plan = _formatted(E._registry()["txt_template"][0](spark, SF))
    assert "rangepartitioning" in plan
    assert "Scan ExistingRDD" in plan
    assert "MapInPandas" not in plan       # lineage truncated at checkpoint


def test_asof_join_is_window_not_range_join(spark):
    """The as-of join must be the union+window form: one hash partition
    on user_id, no BroadcastNestedLoop/cartesian range join — the shape
    that survives 10^12 events."""
    df = E._registry()["events_asof_purchase"][0](spark, SF)
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert "SortMergeJoin" not in simple       # no join at all: a window
    assert "Window" in simple
    assert "hashpartitioning(user_id" in simple


def test_rollup_is_expand_single_pass(spark):
    """ROLLUP runs as one Expand + aggregate pass, with partial aggs."""
    df = E._registry()["events_rollup"][0](spark, SF)
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert "Expand" in simple
    assert "partial_count" in simple


def test_range_join_is_bucketed_not_cartesian(spark):
    """The ±60 s band self-join must run as an equi-join on the time
    bucket (hash join), never a nested-loop/cartesian theta-join."""
    plan = _formatted(E._registry()["range_join_events"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # explode of the 3 probe buckets feeds a hash equi-join
    assert "explode(" in plan
    assert "HashJoin" in plan


def test_small_quantity_revenue_partial_agg(spark):
    """Q17 shape: the per-part aggregate must partial-agg map-side and the
    lineitem⋈aggregate join must stay an equi-join."""
    plan = _formatted(E._registry()["small_quantity_revenue"][0](spark, SF))
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_events_pivot_single_aggregate_pass(spark):
    """Explicit pivot domain → one aggregate, no domain-discovery pass
    (no extra job) and no Python stage."""
    plan = _formatted(E._registry()["events_pivot"][0](spark, SF))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # exactly one shuffle family: the groupBy(hh) exchange + the sort
    exchanges = [ln for ln in plan.splitlines()
                 if ln.strip().startswith(") Exchange")]
    assert len(exchanges) <= 2, exchanges


def test_hll_sketch_partial_aggregates(spark):
    """The HLL register build must partial-agg (max per register) before
    its shuffle — that is the whole point of the sketch at scale."""
    plan = _formatted(E._registry()["hll_distinct"][0](spark, SF))
    assert "partial_max" in plan


def test_semantic_dedup_broadcasts_centroids(spark):
    """Cluster assignment is a broadcast against K centroid rows; the pair
    join is keyed on the cluster id — no cartesian anywhere.  The
    assignment subtree is audited pre-checkpoint (semantic_dedup
    materializes it once for its three consumers, truncating lineage)."""
    from ragflow_core16_spark.operators.similarity import (
        semantic_assignment)
    plan = _formatted(semantic_assignment(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    full = _formatted(E._registry()["semantic_dedup"][0](spark, SF))
    assert "CartesianProduct" not in full


def test_pagerank_iteration_partial_aggs(spark):
    """Each PageRank iteration must partial-agg contributions map-side
    and never degrade to a nested-loop join."""
    plan = _formatted(E._registry()["pagerank"][0](spark, SF))
    assert "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_stage(spark):
    """The salted aggregation must show BOTH stages with map-side partial
    aggregation (hot keys fan out 16-way before the final collapse)."""
    plan = _formatted(E._registry()["salted_source_agg"][0](spark, SF))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "salt" in plan


def test_order_count_histogram_outer_join_condition_not_postfilter(spark):
    """Q13 shape: the priority exclusion must ride the join condition (a
    post-filter would turn the outer join inner); the filter reaches the
    orders scan, and both aggs partial-agg map-side."""
    plan = _formatted(E._registry()["order_count_histogram"][0](spark, SF))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "o_orderpriority" in pushed
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_large_orders_broadcasts_filtered_keys(spark):
    """Q18 shape: the HAVING-filtered key set joins back as a broadcast —
    the fact table must not sort-merge against its own aggregate."""
    plan = _formatted(E._registry()["large_orders"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_disjunctive_revenue_hull_pushed_to_both_scans(spark):
    """Q19 shape: the manually-factored hull of the OR-of-ANDs must reach
    BOTH parquet scans (Catalyst does not factor disjunctions itself)."""
    plan = _formatted(E._registry()["disjunctive_revenue"][0](spark, SF))
    assert "LessThanOrEqual(l_quantity,30" in plan
    assert "LessThanOrEqual(p_size,35" in plan
    assert "BroadcastHashJoin" in plan


def test_top_supplier_reuses_cached_revenue_view(spark):
    """Q15 shape: the revenue0 agg must be materialized once (InMemory
    scan in both branches), not two full lineitem scans."""
    df = E._registry()["top_supplier_revenue"][0](spark, SF)
    plan = _formatted(df)
    # both branches (max side and join side) read the cached relation
    assert plan.count("InMemoryTableScan") >= 2
    # exactly one lineitem scan survives: the shared cache-fill plan node
    assert plan.count("Location: InMemoryFileIndex "
                      f"[file:{SF}/lineitem.parquet]") == 1


def test_supplier_part_variety_anti_join_broadcast(spark):
    """Q16 shape: excluded suppliers are a broadcast LEFT ANTI, never a
    shuffle; distinct-count expands once after the join."""
    plan = _formatted(E._registry()["supplier_part_variety"][0](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_partial_aggregates_and_broadcast(spark):
    """CMS: the depth×bucket expansion must collapse map-side (partial
    count) and the ≤256-row sketch must broadcast to the key relation."""
    plan = _formatted(E._registry()["cms_heavy_hitters"][0](spark, SF))
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantile_sketch_partial_aggregates(spark):
    """DDSketch build: the (group, bucket) count must partial-agg map-side
    — the shuffle carries bucket rows, never value rows."""
    plan = _formatted(E._registry()["quantile_sketch"][0](spark, SF))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_latest_capture_collapse_is_agg_not_window_sort(spark):
    """Re-crawl collapse must be one max_by aggregation with a map-side
    partial (each mapper forwards ≤1 candidate per url) — NOT a window
    row_number, which would sort every capture inside each partition.
    Inspected pre-checkpoint (the presentation sort truncates lineage)."""
    from pyspark.sql import functions as F
    from ragflow_core16_spark.datagen.pages import captures_from_documents
    caps = captures_from_documents(spark, SF)
    latest = (caps.groupBy("url")
              .agg(F.max_by(F.struct("warc_ts", "html", "text", "lang"),
                            "warc_ts").alias("s")))
    plan = _formatted(latest)
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_bloom_probe_broadcasts_and_partially_aggregates(spark):
    """Bloom membership: the word relation must BROADCAST to the probe
    (no shuffle of the url stream for the join), the bloom build must
    partially bit_or map-side, and the per-url verdict must partially
    aggregate before its shuffle.  No sort-merge join anywhere."""
    plan = _formatted(E._registry()["bloom_url_filter"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_bit_or" in plan
    # bool_and compiles to min over booleans; partial_min is the
    # map-side combine of the per-url verdict
    assert "partial_min" in plan or "partial_bool_and" in plan


def test_domain_cap_is_salted_topk_not_window(spark):
    """Per-domain caps must select top-K via the salted two-stage
    collect_list/slice aggregation — a hot host is absorbed by the salt
    fanout and map-side partials — never a row_number window (which
    funnels every page of a hot host into one task).  Host totals must
    also partially aggregate."""
    plan = _formatted(E._registry()["domain_cap"][0](spark, SF))
    assert "Window" not in plan
    assert "partial_collect_list" in plan
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_wet_chain_one_shuffle_per_container_build(spark):
    """WARC→extract→WET: the only shuffles in the whole chain are the two
    keyed groupBys that assemble container files (file_id sharding for the
    WARC corpus build and the WET sink).  Parsing and extraction stages
    are embarrassingly parallel mapInPandas — zero extra Exchange."""
    from ragflow_core16_spark.operators.extract import extract_pages
    from ragflow_core16_spark.sources.warc import (
        pages_from_warc, warc_files_from_documents, wet_files_from_extracted,
        text_from_wet)
    files = warc_files_from_documents(spark, SF)
    ext = extract_pages(pages_from_warc(files))
    wet = text_from_wet(wet_files_from_extracted(ext))
    plan = _formatted(wet)
    # formatted mode prints each node once in the tree and once in the
    # node list — count the node-list entries
    assert plan.count(") Exchange") == 2
    assert "SortMergeJoin" not in plan


def test_retrieval_quality_single_corpus_pass_topk_limited(spark):
    """IR-metrics benchmark: the corpus token-explode subtree must run
    ONCE (the scored relation is checkpointed before fanning into the
    run and ideal branches — zero parquet scans in the final plan), the
    query-term lists must broadcast, and the top-30 run cut must be a
    WindowGroupLimit (map-side rank cutoff), not a full sort+filter."""
    plan = _formatted(E._registry()["retrieval_quality"][0](spark, SF))
    assert "Scan parquet" not in plan          # checkpointed scored relation
    assert "WindowGroupLimit" in plan          # rank <= 30 pushed to map side
    assert "SortMergeJoin Inner" not in plan   # qt joins are broadcast


def test_ngram_jaccard_prunes_shingles_to_candidates(spark):
    """The jaccard verify stage must semi-join the shingle relation down to
    LSH-candidate docs (broadcast of the tiny candidate doc-id set) BEFORE
    the (doc, shingle) shuffle — only candidate docs' shingles move, never
    the whole corpus shingle relation."""
    import ragflow_core16_spark.operators.dedup as D
    D.reset_shared_cache()
    plan = _formatted(D.ngram_jaccard(spark, SF))
    # three broadcast pruning join SITES, all fed by ONE reused
    # candidate-doc broadcast subplan (ReuseExchange)
    assert plan.count("BroadcastHashJoin") >= 3


def test_cdx_index_one_pass_one_python_stage(spark):
    """The capture-index build must be a single streaming pass: one
    MapInPandas (the member walk that parsing needs anyway) with the SURT
    key computed as a JVM Project above it — no second scan of the WARC
    bytes, no shuffle between parse and key (the only Exchange is the
    synthetic file build's groupBy, which at deployment is the WARC-dir
    file scan)."""
    import pyspark.sql.functions as F
    from ragflow_core16_spark.sources.cdx import cdx_entries_df, surt_expr
    from ragflow_core16_spark.sources.warc import warc_files_from_documents
    df = (cdx_entries_df(warc_files_from_documents(spark, SF))
          .select(surt_expr(F.col("url")).alias("surt"),
                  "url", "offset", "length"))
    plan = _formatted(df)
    assert plan.count(") MapInPandas") == 1
    assert plan.count(") Exchange") <= 1
    assert "SortMergeJoin" not in plan


def test_sitemap_coverage_join_and_rollups_partial_agg(spark):
    """Sitemap reconciliation: the per-host XML assembly and the final
    rollup must both carry map-side partial aggregates, and the url
    reconciliation is a hash join (no Python stage anywhere — xpath is
    JVM)."""
    from ragflow_core16_spark.operators.webclean import sitemap_rollup
    plan = _formatted(sitemap_rollup(spark, SF))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4    # partial+final × 2 rollups


def test_hits_iteration_partial_aggs(spark):
    """HITS iterations: broadcast max (one-row normalizer), no cartesian
    degradation, and the per-iteration contribution aggregates truncated
    behind lazy localCheckpoints (ExistingRDD in the final plan) so each
    materializes exactly once instead of re-running for every scalar
    max-broadcast.  The partial_sum shape of the aggregates themselves is
    pinned on the un-checkpointed pagerank twin above."""
    plan = _formatted(E._registry()["hits"][0](spark, SF))
    assert "partial_max" in plan
    assert "ExistingRDD" in plan        # checkpoint boundary
    assert "CartesianProduct" not in plan


def test_token_budget_mix_single_window_no_cartesian(spark):
    """The budget fill is ONE running-sum window per source partition
    plus broadcast joins of the tiny per-source relations — no cartesian
    product, no Python stage, and the token histogram aggregates
    partially map-side."""
    from ragflow_core16_spark.operators.training import token_budget_mix
    plan = _formatted(token_budget_mix(spark, SF))
    assert plan.count(") Window") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan


def test_corpus_drift_two_keyed_aggs_no_python(spark):
    """The drift statistic is two map-side-combinable keyed aggregates
    (per-token snapshot counts, then the integer micro-nat sum) with the
    1-row totals broadcast back — no window, no Python, no cartesian."""
    from ragflow_core16_spark.operators.textstats import corpus_drift
    plan = _formatted(corpus_drift(spark, SF))
    assert ") Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # the totals crossJoin must be a broadcast, never a shuffle join
    assert plan.count("BroadcastExchange") >= 1
    assert "SortMergeJoin" not in plan


def test_extract_density_is_shuffle_free(spark):
    """The density strategy rides the SAME single-pass mapInArrow stage
    as the readability strategy: per-row strategy branch, zero Exchange
    before the Python stage.  (The page generator under it is a
    MapInPandas node of its own, so the extraction node is found by
    name.)"""
    from ragflow_core16_spark.datagen.pages import pages_from_documents
    from ragflow_core16_spark.operators.extract import extract_pages
    ext = extract_pages(pages_from_documents(spark, SF), strategy="density")
    tree = _formatted(ext).split("\n\n")[0].splitlines()
    at = [i for i, ln in enumerate(tree) if "MapInArrow" in ln]
    assert len(at) == 1, tree
    indent = len(tree[at[0]]) - len(tree[at[0]].lstrip(" +-:"))
    below = []
    for ln in tree[at[0] + 1:]:
        if len(ln) - len(ln.lstrip(" +-:")) <= indent:
            break
        below.append(ln)
    assert below, tree
    assert not [ln for ln in below if "Exchange" in ln], tree


def test_extraction_pass_is_one_query_with_one_rebalance(spark, tmp_path,
                                                         monkeypatch):
    """An extraction pass is ONE Spark query: the write's plan holds
    exactly one Exchange, the AQE rebalance on (url hash, warc_ts), and
    no job of the pass runs before the write — neither on a first pass
    nor on a resume, whose input carries the anti-join.  Jobs are counted
    per job group: the pass starts under one group, and the write
    switches to another as it begins."""
    import re
    import uuid

    from ragflow_core16_spark.datagen.pages import pages_df
    from ragflow_core16_spark.pipeline.run import run_extraction_snapshotted
    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    plans = []
    write = SnapshotTable._write_data

    def grouped_write(self, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        sc.setJobGroup(f"write-{tag}-{len(plans)}", "extraction write")
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_write_data", grouped_write)
    out = str(tmp_path / "t")
    try:
        for i, (n, fresh) in enumerate(((16, 16), (24, 8)), 1):
            sc.setJobGroup(f"before-{tag}-{i}", "extraction pass")
            s = run_extraction_snapshotted(spark, pages_df(spark, n), out)
            assert s["rows"] == fresh
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(plans) == 2
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    for i in (1, 2):
        assert list(tracker.getJobIdsForGroup(f"before-{tag}-{i}")) == []
        assert list(tracker.getJobIdsForGroup(f"write-{tag}-{i}"))
    exchanges = [ln for ln in plans[0].splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plans[0]
    assert re.search(r"Exchange hashpartitioning\(_url_hash#\d+L, "
                     r"warc_ts#\d+, \d+\), REBALANCE_PARTITIONS_BY_COL",
                     exchanges[0]), exchanges
    assert re.search(r"xxhash64\(url#\d+, 42\) AS _url_hash#\d+L",
                     plans[0]), plans[0]
