"""Physical-plan audits: the 100 TB story depends on filters reaching the
parquet scan, dimensions broadcasting, aggregates combining map-side, and
top-k never doing a global sort.  These assertions pin those properties so
a refactor that silently regresses the plan fails CI, not the cluster.

(Referenced by edgy_spark/session.py's config rationale.)
"""

from __future__ import annotations

import re

from edgy_spark.catalog import QUERIES, load_all_registrations
from tests.conftest import SF_SMOKE

load_all_registrations()


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMOKE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in plan
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "l_shipdate" in m.group(1), m and m.group(1)
    assert "l_discount" in m.group(1)


def test_q6_scan_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    # the fact-fact join may be SMJ/shuffled-hash; but no nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # two-phase hash agg: partial (map-side) + final after one exchange
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "priciest_parts_topk")
    assert "TakeOrderedAndProject" in plan


def test_anti_join_is_broadcast(spark):
    plan = _plan(spark, "customers_without_orders")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_grouping_sets_single_scan(spark):
    plan = _plan(spark, "grouping_sets_revenue")
    assert "Expand" in plan
    # one physical file scan (each scan prints one Location line)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_clean_pipeline_filters_before_shuffle(spark):
    plan = _plan(spark, "corpus_clean_pipeline")
    # rank-limit pushdown: rn=1 becomes WindowGroupLimit partial+final,
    # so each shuffle side only keeps one candidate row per fp group
    assert "WindowGroupLimit" in plan
    # text is consumed in the scan stage (fp/word expressions); only the
    # three needed columns are read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text", "lang"}


def test_keep_latest_single_shuffle_shared_sort(spark):
    plan = _plan(spark, "events_keep_latest")
    # row_number and the group count share one hash exchange + one sort;
    # the only other exchange is the final presentation orderBy
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("Window") >= 2


def test_sketch_distinct_partial_aggregation(spark):
    plan = _plan(spark, "sketch_distinct_users_bounded")
    # exact distinct expands to two-key partial agg; HLL must combine
    # map-side (partial approx_count_distinct) — never a raw-row shuffle
    assert "partial_approx_count_distinct" in plan
    assert plan.count("HashAggregate") >= 4


def test_hll_rollup_merges_sketches(spark):
    plan = _plan(spark, "sketch_hll_mergeable_rollup")
    # DataSketches partials are ObjectHashAggregate map-side; the exact
    # branch (dim-sized after agg) broadcasts into the comparison join
    assert "ObjectHashAggregate" in plan
    assert "hll_union_agg" in plan
    assert "BroadcastHashJoin" in plan


def test_jaccard_single_scan_no_corpus_self_join(spark):
    # Posting-list pair generation with the JACC_MAX_DF stop-shingle cap:
    # the plan has joins now, but ONLY to attach the kept-universe size
    # table (nsz) to the pair counts — never a self-join of the corpus.
    # The na/nb/common branches all hang off the SAME posting-list shuffle,
    # which AQE must collapse at runtime (ReusedExchange) so the expensive
    # shingle pipeline executes exactly once.
    df = QUERIES["dedup_ngram_jaccard_pairs"].fn(spark, SF_SMOKE)
    initial = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # no shingle explosion feeds a join directly (corpus self-join shape);
    # every join input is post-aggregation (HashAggregate above the join)
    assert "SortMergeJoin" not in initial, "corpus-sized join appeared"
    df.collect()
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") >= 2, final


def test_minhash_single_scan_no_self_join(spark):
    plan = _plan(spark, "dedup_minhash_lsh_pairs")
    assert plan.count("Scan parquet") // 2 == 1, plan.count("Scan parquet")
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_bruteforce_ann_broadcasts_probes_and_limits_topk(spark):
    plan = _plan(spark, "sim_bruteforce_topk")
    # the probe set broadcasts into a nested-loop join against the corpus
    # (brute force IS all-pairs — the baseline; IVF/LSH are the scale path),
    # and rank<=k compiles to partial+final WindowGroupLimit so each
    # partition ships only its local top-k to the per-probe sort
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("WindowGroupLimit") >= 2


def test_pivot_single_scan_single_shuffle(spark):
    plan = _plan(spark, "pivot_orders_priority_by_year")
    # explicit pivot values compile to one conditional-agg pass: one scan,
    # one hash exchange (plus the presentation sort) — an implicit value
    # list would add a distinct-collect job and a data-dependent schema
    assert plan.count("Scan parquet") // 2 == 1
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2


def test_bucketed_point_read_prunes_to_one_bucket(spark, tmp_path):
    """Engine(bucket_edges=N): a get_related-style point read filters the
    bucketed edge table on src and must scan exactly ONE bucket — the scan
    says so explicitly via SelectedBucketsCount.  This is the layout that
    makes point adjacency reads O(1/N of the table) at 100 TB."""
    from pyspark.sql import functions as F

    from edgy_spark.graph import Engine
    from tests.test_graph import big_bang
    from tests.test_schema import demo_schema

    engine = Engine(spark, str(tmp_path / "db"), demo_schema(), bucket_edges=8)
    nodes = engine.run(big_bang)
    snap = engine.snapshot()
    df = snap.edge_table("friend").filter(F.col("src") == nodes["bob"].id)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in plan:\n{plan}"
    assert m.group(1) == "1" and m.group(2) == "8"
    # and the point read itself still returns the right adjacency
    assert {r["dst"] for r in df.collect()} == {
        nodes["jane"].id, nodes["jose"].id
    }


def test_bucketed_engine_point_ops_correct(spark, tmp_path):
    """The bucketed layout is a pure physical change: get_related /
    is_related semantics (order, cardinality) are identical to the plain
    layout."""
    from edgy_spark.graph import Engine
    from tests.test_graph import big_bang
    from tests.test_schema import demo_schema

    engine = Engine(spark, str(tmp_path / "db"), demo_schema(), bucket_edges=8)
    nodes = engine.run(big_bang)
    t = engine.read()
    names = [
        t.get_attribute(f, "name") for f in t.get_related_list(nodes["bob"], "friend")
    ]
    assert names == ["Jose", "Jane"]  # prepend order, parity with plain layout
    assert t.is_related(nodes["bob"], "friend", nodes["jane"])
    assert not t.is_related(nodes["jane"], "friend", nodes["jane"])
    assert t.get_attribute(t.get_related(nodes["bob"], "spouse"), "name") == "Jane"


def test_set_attribute_commit_broadcasts_updates(spark, tmp_path):
    """A set_attribute commit joins its few update rows to the node table
    by broadcasting them.  Unhinted, the createDataFrame side has no size
    estimate and the join plans as a sort-merge join that hash-partitions
    the WHOLE node table on id."""
    from edgy_spark.graph import Engine
    from tests.test_graph import big_bang
    from tests.test_schema import demo_schema

    engine = Engine(spark, str(tmp_path / "db"), demo_schema())
    nodes = engine.run(big_bang)
    written = {}
    commit = engine.store.commit

    def capture(base, changed_tables, **kwargs):
        written.update(changed_tables)
        return commit(base, changed_tables, **kwargs)

    engine.store.commit = capture
    engine.run(lambda t: t.set_attribute(nodes["bob"], "age", 33))
    df = written["n_Person"]
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert engine.read().get_attribute(nodes["bob"], "age") == 33


def test_decontaminate_broadcasts_eval_shingles(spark):
    """Decontamination's 100 TB contract: the tiny eval side broadcasts, so
    the corpus shingle stream is never shuffled before the overlap count."""
    plan = _plan(spark, "pipeline_decontaminate_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_uses_window_not_join(spark):
    """The span-dedup corpus count rides a Window over the hash partition —
    the per-doc counts must NOT be shuffled a second time through a
    groupBy+self-join (one Window operator, zero Join nodes) — and the
    window consumes the RAW span stream (r14): exactly two hash exchanges
    (hs for the window, doc_id for the per-doc sums), no third
    per-(doc, hs) pre-aggregation exchange below the window."""
    plan = _plan(spark, "dedup_duplicate_spans")
    assert "Window" in plan
    assert "Join" not in plan, "span counting regressed to a join"
    # assert the two expected partitioning KEYS rather than counting the
    # exact "Arguments: hashpartitioning" wording (ADVICE r14: explain
    # formatting / AQE shape drift would silently under-count): exactly
    # one hash exchange keyed on hs, one on doc_id, and none on the old
    # per-(doc, hs) pre-aggregation key.
    import re

    keys = sorted(
        m.group(1).strip()
        for m in re.finditer(r"hashpartitioning\(([^)]*?), \d+\)", plan)
    )
    hs_keys = [k for k in keys if k.startswith("hs")]
    doc_keys = [k for k in keys if k.startswith("doc_id")]
    assert len(hs_keys) == 1, plan
    assert len(doc_keys) == 1, plan
    assert not any("," in k for k in keys), (
        "composite pre-aggregation exchange reappeared: " + plan
    )


def test_token_rarity_window_and_broadcast_totals(spark):
    """Corpus token frequency via Window over the token partition; the
    one-row corpus totals must arrive by broadcast, and the only joins in
    the plan are that singleton broadcast."""
    plan = _plan(spark, "text_token_rarity_scores")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals crossJoin
    assert "SortMergeJoin" not in plan, "vocabulary self-join reappeared"


def test_common_neighbors_topk_and_posting_reuse(spark):
    """Link prediction: top-K must be TakeOrderedAndProject (no global
    sort), and the degree/pair branches must reuse the single posting-list
    shuffle at runtime instead of recomputing the purchase scan."""
    df = QUERIES["graph_common_neighbors"].fn(spark, SF_SMOKE)
    initial = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in initial
    df.collect()
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final


def test_bpe_candidates_partial_agg_and_topk(spark):
    """The merge-candidate count must combine map-side (partial_count
    before the exchange) and take the top-K without a global sort."""
    plan = _plan(spark, "text_bpe_merge_candidates")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def _partitioning_kinds(plan: str) -> list[str]:
    """Exchange partitioning kinds from a FORMATTED plan: the tree shows
    only 'Exchange (N)'; the kind lives in the detail section's
    'Arguments: hashpartitioning(...)' line (review r08 — a regex over the
    tree line matches nothing and asserts vacuously)."""
    return re.findall(r"Arguments: (\w+partitioning)", plan)


def test_context_chunks_has_no_data_shuffle(spark):
    """Chunking is fully in-row: the only Exchange in the plan is the
    presentation orderBy's range partitioning — no hash shuffle, no join."""
    plan = _plan(spark, "pipeline_context_chunks")
    assert "Join" not in plan
    kinds = _partitioning_kinds(plan)
    assert kinds and all(k == "rangepartitioning" for k in kinds), kinds


def test_gopher_flags_single_pass_no_shuffle(spark):
    """The Gopher battery is one scan of per-row built-ins: no Join, no
    aggregate Exchange — only the presentation sort moves data."""
    plan = _plan(spark, "text_gopher_quality_flags")
    assert "Join" not in plan
    kinds = _partitioning_kinds(plan)
    assert kinds and all(k == "rangepartitioning" for k in kinds), kinds


def test_gapfill_hourly_count_combines_map_side(spark):
    """The hourly rollup must partial-aggregate before its exchange, with
    the LOCF window present.  (The grid-to-counts join strategy is left to
    Catalyst/AQE: at smoke scale the hourly side broadcasts; at cluster
    scale the statistics flip it to a shuffle join on the user key.)"""
    plan = _plan(spark, "events_gapfill_rollup")
    assert "partial_count" in plan
    assert "Window" in plan  # the LOCF carry-forward


def test_wav_loudness_exchanges_only_small_ints(spark):
    """Media never shuffles: the decode emits seven small ints per doc, so
    no Exchange node's input columns include the binary media column (read
    from the detail section's 'Input [...]' list — the tree line carries
    only a node id)."""
    plan = _plan(spark, "multimodal_wav_loudness")
    blocks = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert blocks, "no Exchange detail blocks found"
    for cols in blocks:
        assert "media" not in cols, cols


def test_priority_sample_topk_avoids_global_sort(spark):
    """Priority sampling's top-k is per-partition heaps + one k-sized
    merge; a global sort of the corpus would defeat the operator."""
    plan = _plan(spark, "pipeline_priority_sample")
    assert "TakeOrderedAndProject" in plan


def test_jl_projection_broadcasts_queries_and_limits_ranks(spark):
    """JL top-k: the query side broadcasts (one corpus pass) and the
    per-query rank filter pushes into WindowGroupLimit."""
    plan = _plan(spark, "sim_jl_projection_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_prefix_filter_broadcasts_candidates(spark):
    """Verification joins must be driven by the (tiny) candidate list as
    the broadcast side, so only candidate documents' tokens flow."""
    plan = _plan(spark, "dedup_prefix_filter_jaccard_pairs")
    assert "BroadcastHashJoin" in plan
    # the one pair-emitting structure is the prefix posting list, never a
    # full corpus self-join: exactly one Exchange over the raw token hash
    # feeds both df-rank and posting-list branches via scan reuse
    assert plan.count("SortMergeJoin") == 0


def test_recursive_reach_executes_union_loop_without_cartesian(spark):
    """WITH RECURSIVE compiles to Spark's iterative UnionLoop executor —
    each step a distributed join of the frontier ref against the edge
    table, never a cartesian expansion."""
    plan = _plan(spark, "recursive_copurchase_reach")
    assert "UnionLoop" in plan
    assert "UnionLoopRef" in plan
    assert "Cartesian" not in plan


def test_er_pairs_broadcast_dictionary_no_cartesian(spark):
    """ER's blocked self-join runs on the vocabulary-sized dictionary, so
    the build side must broadcast (never a shuffle of the fact table) and
    blocking must keep the join equi-keyed — no cartesian product."""
    plan = _plan(spark, "er_fuzzy_part_name_pairs")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    # the only base-table pass is the dictionary aggregate: partial
    # (map-side) aggregation before the exchange
    assert "partial_count" in plan


def test_jpeg_block_stats_scans_one_column(spark):
    """The JPEG decode pipeline exchanges only (doc_id, 3 small ints):
    the documents scan must prune to doc_id alone, and synth+decode run
    as ONE fused Arrow-batched MapInPandas stage (r14: the media bytes
    never cross the Arrow boundary at all — _fused_media_gate)."""
    import re

    plan = _plan(spark, "multimodal_jpeg_block_stats")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).split(":")[0] == "doc_id", m and m.group(1)


def test_incremental_probe_equi_joins_no_pair_explosion(spark):
    """The incremental probe must stay an equi-join on (band, bucket_key)
    — no cartesian/nested-loop anywhere — and must NOT run the pairwise
    bucket explode (posting-list pair emission is the full-corpus path)."""
    plan = _plan(spark, "dedup_incremental_new_docs")
    assert "Cartesian" not in plan
    assert "NestedLoop" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_anomaly_zscore_single_shuffle_window(spark):
    plan = _plan(spark, "events_anomaly_zscore")
    # all three trailing aggregates ride ONE window over user_id: exactly
    # one data exchange (hashpartitioning on user_id), no join, no UDF
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Window" in plan
    assert "Join" not in plan
    assert "Python" not in plan  # pure JVM expressions


def test_ra_links_topk_no_cartesian(spark):
    plan = _plan(spark, "graph_resource_allocation_links")
    # posting-list pair emission from ONE grouped scan; ranking never
    # materializes a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # per-pair RA contributions pre-aggregate map-side before the shuffle
    assert "partial_sum" in plan or "partial_count" in plan


def test_quality_percentile_filter_one_shuffle_for_both_windows(spark):
    plan = _plan(spark, "text_quality_percentile_filter")
    # rank and count windows share the lang partitioning: one hash
    # exchange (plus the final presentation sort), zero joins
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "lang", "text"}


def test_semantic_prune_broadcasts_centroids(spark):
    plan = _plan(spark, "dedup_semantic_prune")
    # r14: centroid assignment is IN-ROW (the flat centroid literal +
    # transform scorer — similarity._scored_cells), so the membership
    # table needs NO join at all; the prune self-join shuffles on cell
    # only — never an unkeyed corpus x corpus cartesian, and never the
    # pre-r14 broadcast nested-loop centroid join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # and at runtime the a/b sides of the prune join must REUSE the one
    # assignment exchange (the jaccard lesson: a self-join that executes
    # the expensive upstream pipeline twice doubles the dominant cost)
    df = QUERIES["dedup_semantic_prune"].fn(spark, SF_SMOKE)
    df.collect()
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") >= 1, final


def test_phash_groups_exchange_small_ints_only(spark):
    plan = _plan(spark, "multimodal_phash_dup_groups")
    # decode+hash happen inside ONE Arrow-batched python stage; the window
    # shuffle carries (doc_id, two longs) — pixels never cross an exchange
    assert len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas)", plan)) == 1
    m = re.search(r"Arguments: hashpartitioning\(phash_hi[^)]*\)", plan)
    assert m, "dedup shuffle should key on the hash halves"


def test_market_basket_broadcast_total_and_topk(spark):
    plan = _plan(spark, "orders_market_basket")
    assert "TakeOrderedAndProject" in plan
    # the single-row order count joins broadcast; no unkeyed explosion
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # MB_MAX_BASKET cap: basket sizes are a map-side-combinable count and
    # pair mining runs on capped baskets only — no per-order array exists
    # anywhere (one mega-basket must never emit C(n,2) pairs in one task)
    assert "partial_count" in plan
    assert "collect_list" not in plan


def test_retention_cohorts_broadcasts_sizes(spark):
    plan = _plan(spark, "events_retention_cohorts")
    # the per-week cohort dimension is broadcast; the fact side never
    # re-shuffles for it
    assert "BroadcastHashJoin" in plan


def test_markov_transitions_partial_agg_small_shuffles(spark):
    plan = _plan(spark, "events_markov_transitions")
    # pair counting combines map-side; only the lead window touches the
    # full event stream (one user_id exchange), the rest is 25 cells
    assert "partial_count" in plan
    assert "Arguments: hashpartitioning(user_id" in plan


def test_rfm_window_input_is_dimension_sized(spark):
    plan = _plan(spark, "orders_rfm_segments")
    # the quintile ranks must consume the per-customer AGGREGATE, never raw
    # orders: a partial_count + final HashAggregate precedes all Windows,
    # and the anchor row / chunk spans / offsets all join broadcast
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # execution order from the numbered tree (leaves have low ids): the
    # rollup aggregate's id must precede every Window's id
    nodes = re.findall(r"\((\d+)\) (HashAggregate|Window)", plan)
    agg_ids = [int(i) for i, k in nodes if k == "HashAggregate"]
    win_ids = [int(i) for i, k in nodes if k == "Window"]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids), nodes


def test_rfm_no_unpartitioned_customer_window(spark):
    """The three quintile ranks must NOT serialize the customer dimension
    into one task (r12 verdict task #1): every ordered window whose spec
    touches a customer-level column has to be keyed on the parallel-prefix
    chunk; unpartitioned windows are allowed only over the ≤PREFIX_CHUNKS
    offset tables (specs ordering by __pp_chunk alone)."""
    plan = _plan(spark, "orders_rfm_segments")
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    row_specs = [s for s in specs if "custkey#" in s or "r_days#" in s]
    assert row_specs, "no customer-level ordered window found"
    for s in row_specs:
        assert "__pp_chunk#" in s, f"customer-level window not chunk-keyed: {s}"
    # NTILE itself is gone — the bucket is the positional formula, a
    # map-side expression over (rank, n)
    assert "ntile" not in plan.lower()


def test_rfm_ranks_do_not_nest(spark):
    """The three quintile ranks must derive INDEPENDENTLY from the rollup
    and assemble by join — a chained formulation (rank over rank's
    output) nests each ranked_prefix's 3 input references multiplicatively
    (27 logical rollup copies, a 382-HashAggregate static plan, measured
    3-5x wall regression; review r13).  Bound the static plan size so a
    refactor back to nesting fails here, not on the cluster."""
    plan = _plan(spark, "orders_rfm_segments")
    n_aggs = len(re.findall(r"\(\d+\) HashAggregate", plan))
    assert n_aggs <= 90, f"RFM plan re-nested? {n_aggs} HashAggregates"


def test_scd2_single_shuffle_all_windows(spark):
    plan = _plan(spark, "events_scd2_intervals")
    # change-detect lag, interval-closing lead, and version numbering all
    # ride the user_id partitioning: one hash exchange, no join
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan


def test_pareto_window_input_is_part_dimension(spark):
    plan = _plan(spark, "parts_pareto_classes")
    # the running-share windows consume the per-part AGGREGATE (fact rows
    # never enter any window); revenue combines map-side
    assert "partial_sum" in plan
    nodes = re.findall(r"\((\d+)\) (HashAggregate|Window)", plan)
    agg_ids = [int(i) for i, k in nodes if k == "HashAggregate"]
    win_ids = [int(i) for i, k in nodes if k == "Window"]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids), nodes


def test_pareto_no_unpartitioned_part_window(spark):
    """The revenue running sum and rank must NOT serialize the part
    dimension into one task (r12 verdict task #1): every ordered window
    whose spec touches a part-level column has to be keyed on the
    parallel-prefix chunk; unpartitioned windows are allowed only over the
    ≤PREFIX_CHUNKS offset tables (specs ordering by __pp_chunk alone)."""
    plan = _plan(spark, "parts_pareto_classes")
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    row_specs = [s for s in specs if "partkey#" in s or "rev_c#" in s]
    assert row_specs, "no part-level ordered window found"
    for s in row_specs:
        assert "__pp_chunk#" in s, f"part-level window not chunk-keyed: {s}"
    # offsets broadcast back onto the chunked rows
    assert "BroadcastExchange" in plan


def test_top_paths_small_aggregate_and_topk(spark):
    plan = _plan(spark, "events_top_paths")
    # the triple space is tiny: counts combine map-side, the total joins
    # as a broadcast singleton, ranking never global-sorts
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_simhash_pairs_reuse_fingerprint_exchange(spark):
    """The banded near-dup pairs hang multiple consumers (bands x2, fa, fb)
    off ONE fingerprint aggregation — at runtime the exchanges must be
    reused, not recomputed (the 64-vote groupBy is the expensive stage)."""
    df = QUERIES["dedup_simhash_neardup_pairs"].fn(spark, SF_SMOKE)
    df.collect()
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") >= 2, final


def test_simhash_pairs_capped_no_bucket_arrays(spark):
    """Posting lists are bounded: bucket sizes come from a map-side
    combinable count (never a collect_list array), and the SIMHASH_MAX_BUCKET
    cap filters degenerate buckets before any pair emission — the plan must
    show the partial count and no array aggregation or cartesian."""
    plan = _plan(spark, "dedup_simhash_neardup_pairs")
    assert "partial_count" in plan
    assert "collect_list" not in plan
    assert "CartesianProduct" not in plan


def test_clustering_coefficients_no_cartesian_exact_ints(spark):
    plan = _plan(spark, "graph_clustering_coefficients")
    assert "CartesianProduct" not in plan
    # degree counting combines map-side before its exchange
    assert "partial_count" in plan


def _round_plan(spark, df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ktruss_wedge_join_no_cartesian(spark):
    """run_fixpoint checkpoints between rounds (the final plan is just a
    scan of the checkpointed state), so the audit targets ONE
    un-materialized peel round."""
    from pyspark.sql import functions as F

    from edgy_spark.operators.graph_algos import (
        TRUSS_K,
        _truss_peel,
        copurchase_edges,
    )

    state0 = copurchase_edges(spark, SF_SMOKE).select(
        F.struct("src", "dst").alias("node")
    )
    plan = _round_plan(spark, _truss_peel(TRUSS_K)(state0))
    # triangle enumeration is the wedge join + closure semi-join; support
    # counting combines map-side; nothing degenerates to a cross product
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "LeftSemi" in plan  # the closure check is a semi-join


def test_louvain_broadcast_singleton_no_cartesian(spark):
    from pyspark.sql import functions as F

    from edgy_spark.operators.graph_algos import (
        _louvain_sweep,
        copurchase_edges,
        undirect,
    )

    und = undirect(copurchase_edges(spark, SF_SMOKE))
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("k")
    )
    m2 = und.agg(F.count(F.lit(1)).alias("m2"))
    labels = deg.select("node", F.col("node").alias("label"))
    plan = _round_plan(spark, _louvain_sweep(und, deg, m2)(labels))
    # 2m joins as a broadcast singleton; community weights/candidate
    # scores are keyed joins — no unkeyed explosion anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_count" in plan


def test_revenue_trend_broadcast_dims_partial_aggs(spark):
    plan = _plan(spark, "orders_nation_revenue_trend")
    # customer->nation dimension broadcasts onto the orders scan; both the
    # monthly rollup and the sufficient-statistic sums combine map-side
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_knn_eval_broadcast_probes_window_limit(spark):
    plan = _plan(spark, "sim_knn_label_accuracy")
    # the probe side broadcasts (ONE corpus scan); per-probe top-k runs
    # under a rank pushdown, never a global sort of all similarities
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_cusum_prefix_parallel_by_chunk(spark):
    """The CUSUM running prefix must NOT serialize each event type into
    one task: every ordered window that scans the raw event rows (spec
    orders by ts) has to be keyed on (event_type, chunk) so parallelism
    is types x CUSUM_CHUNKS, not #types.  Windows keyed on event_type
    alone are allowed only over the dimension-sized per-chunk/per-winner
    tables (no ts in their spec)."""
    plan = _plan(spark, "events_cusum_changepoint")
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    row_specs = [s for s in specs if "ts#" in s]
    assert row_specs, "no row-level ordered window found"
    for s in row_specs:
        assert "chunk#" in s, f"row-level window not chunk-keyed: {s}"
    # per-chunk sums combine map-side; chunk offsets broadcast back
    assert "partial_sum" in plan
    assert "BroadcastExchange" in plan
    # both argmax stages run under a rank pushdown, never a full sort
    assert "WindowGroupLimit" in plan


def test_host_cap_window_group_limit_no_global_sort(spark):
    """Per-host caps must pre-prune map-side (partial+final
    WindowGroupLimit) and never single-partition the corpus — the C4-style
    hygiene step runs over EVERYTHING, so a global sort here is the
    pipeline's bottleneck at 100 TB."""
    plan = _plan(spark, "pipeline_host_cap_sample")
    assert "WindowGroupLimit" in plan
    assert "Arguments: SinglePartition" not in plan
    # the only exchange is the hash partition on host
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1


def test_url_canonical_groups_mapside_combine_no_python(spark):
    """URL canonicalization stays inside whole-stage codegen: no Python
    stage anywhere, the dup count combines map-side, and the lone shuffle
    carries (canonical_url, partial agg) — never document text."""
    plan = _plan(spark, "dedup_url_canonical_groups")
    assert not re.search(r"\(\d+\) (MapInPandas|ArrowEvalPython|BatchEvalPython)", plan)
    assert "partial_count" in plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",") if c} == {"doc_id"}


def test_kn_bigram_topk_pushdown_no_python(spark):
    """The KN model's top-k must compile to TakeOrderedAndProject (never a
    global sort of the bigram table) with zero Python stages — the count
    tables are the model; everything after them is dimension-sized."""
    plan = _plan(spark, "text_kn_bigram_probs")
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\(\d+\) (MapInPandas|ArrowEvalPython|BatchEvalPython)", plan)


def test_codec_queries_scan_doc_id_only(spark):
    """Every codec query synthesizes media from doc_id, so its parquet
    scan must read exactly ONE column — a scan dragging `text` (the wide
    column) through the Python stages would multiply the exchanged bytes
    at 100 TB.  (r10 verdict: multimodal_jpeg_block_stats sat in the
    bench top-5 without a plan pin.)"""
    # r14: the six BENCH gates fuse synth+decode into ONE Python stage
    # (_fused_media_gate — the media bytes cross the Arrow boundary zero
    # times instead of twice); r15 fuses the non-bench gates too
    # (decode_features_*(docs, synth=...) via _maybe_fuse_synth), so every
    # gate is ONE Python stage
    for q, stages in (
        ("multimodal_jpeg_block_stats", 1),
        ("multimodal_jpeg_progressive_stats", 1),
        ("multimodal_jpeg_multiscan_stats", 1),
        ("multimodal_png_palette_stats", 1),
        ("multimodal_gif_palette_stats", 1),
        ("multimodal_gif_frame_stats", 1),
    ):
        plan = _plan(spark, q)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, q
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"doc_id"}, (q, cols)
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == stages, q


def test_anf_superstep_bitor_combines_mapside_no_wide_shuffle(spark):
    """One un-materialized ANF superstep: the message shuffle must carry
    only (node, 4 longs) with the BIT_OR combining map-side, and the
    vertex-state join must broadcast — at web-graph scale the edge list
    is the only big thing moving."""
    from pyspark.sql import functions as F

    from edgy_spark.operators.graph_algos import (
        ANF_K,
        _anf_init_sql,
        _anf_step,
        copurchase_edges,
        undirect,
    )

    und = undirect(copurchase_edges(spark, SF_SMOKE))
    state = und.select(F.col("src").alias("node")).distinct().select(
        "node",
        *[
            F.expr(_anf_init_sql(k, "spark")).alias(f"m{k}")
            for k in range(ANF_K)
        ],
    )
    df = _anf_step(und, state)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "partial_bit_or" in plan  # map-side combine of the masks
    assert "BroadcastExchange" in plan  # vertex state broadcast hint
    assert "CartesianProduct" not in plan


def test_tokenize_ids_zero_corpus_shuffle(spark):
    """The frozen-vocab tokenizer is scan → project: the merge table rides
    as in-row literals (the broadcast-vocab stand-in), so producing the
    per-document token-id array introduces NO keyed exchange, join, or
    regroup — at 100 TB tokenization runs at scan speed.  The one
    permitted exchange is the conditional fixture-parallelism spread
    (``spread_if_narrow``, guide §2.5): ROUND-ROBIN only — it fans the
    single-file fixture scan onto every core and vanishes whenever the
    scan has the native multi-file width a real corpus has (the no-op
    branch is pinned in test_spread_if_narrow_is_noop_on_wide_input)."""
    from edgy_spark.operators.text import bpe_token_ids

    df = bpe_token_ids(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan
    # no keyed (hash/range) repartition of the corpus — only the
    # round-robin spread may appear
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}  # column pruning reaches the scan


def test_spread_if_narrow_is_noop_on_wide_input(spark):
    """``spread_if_narrow`` must not add any exchange when the input scan
    already has the cluster's parallelism — the 100 TB case, where the
    spread would be a pure extra corpus shuffle."""
    from edgy_spark.plans.spread import spread_if_narrow

    wide = spark.range(0, 1000).repartition(
        spark.sparkContext.defaultParallelism
    )
    assert spread_if_narrow(wide) is wide
    narrow = spark.range(0, 1000).coalesce(1)
    spread = spread_if_narrow(narrow)
    assert spread is not narrow
    assert (
        spread._jdf.rdd().getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_pack_tokenized_windows_are_per_shard(spark):
    """The composed tokenize→pack plan: tokenization stays in-row (no
    join anywhere) and the only ordered window is the per-shard cumsum —
    never an unpartitioned token-stream scan."""
    plan = _plan(spark, "pipeline_pack_tokenized_blocks")
    assert "Join" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "no window found"
    for s in specs:
        assert "shard#" in s, f"pack window not shard-keyed: {s}"


def test_codec_gates_decode_in_parallel(spark):
    """The pure-Python codec gates must not serialize onto the fixture
    scan's single partition: the plan carries the round-robin doc_id
    spread ahead of the Python stage (review r13 — webp ran 25.9s on one
    core before this), and the scan still prunes to doc_id alone.
    r14 extends the pin from the two r13 gates to EVERY synth gate in
    operators/multimodal.py (the r13 verdict's weak marks)."""
    for name in (
        "multimodal_webp_stats",
        "multimodal_webp_lossy_stats",
        "multimodal_flac_loudness",
        "multimodal_png_pixel_stats",
        "multimodal_jpeg_block_stats",
        "multimodal_jpeg_progressive_stats",
        "multimodal_jpeg_multiscan_stats",
        "multimodal_jpeg_cmyk_stats",
        "multimodal_jpeg_rgb_stats",
        "multimodal_png_palette_stats",
        "multimodal_wav_loudness",
        "multimodal_phash_dup_groups",
        "multimodal_gif_palette_stats",
        "multimodal_gif_timesample_stats",
        "multimodal_gif_composed_stats",
        "multimodal_gif_frame_stats",
        "multimodal_webp_anim_stats",
        "multimodal_mp3_frame_stats",
        "multimodal_jpeg_lossless_stats",
        "multimodal_apng_stats",
    ):
        plan = _plan(spark, name)
        assert "Arguments: roundrobinpartitioning" in plan.lower() or \
            "roundrobinpartitioning" in plan.lower(), name
        # r15: EVERY synth gate (bench and non-bench, single- and
        # multi-row-per-doc) now fuses synth+decode into ONE Python stage
        # (_maybe_fuse_synth) — two MapInPandas nodes means the payload
        # crosses the Arrow boundary twice again
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, name
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and {c.split(":")[0] for c in m.group(1).split(",") if c} == {
            "doc_id"
        }, name


def test_bench_codec_gates_fuse_synth_and_decode(spark):
    """The six BENCH codec gates run synth+decode as ONE fused Python
    stage (r14 _fused_media_gate): as two chained mapInPandas stages the
    synthesized media crossed the JVM<->Python Arrow boundary twice per
    batch — serialize out of synth, deserialize into decode — for bytes
    that exist only to be decoded (interleaved A/B on webp_lossy at
    sf0.1: 2.63 -> 2.36 s/pass, identical rows).  The sort_once hash
    barrier must still sit between the Python stage and the presentation
    sort so the fused stage executes once, not per sort-sampling job."""
    for q in (
        "multimodal_jpeg_block_stats",
        "multimodal_jpeg_progressive_stats",
        "multimodal_jpeg_cmyk_stats",
        "multimodal_webp_stats",
        "multimodal_webp_lossy_stats",
        "multimodal_flac_loudness",
    ):
        plan = _plan(spark, q)
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, q
        assert "roundrobinpartitioning" in plan.lower(), q
        assert "Arguments: hashpartitioning" in plan, q


def test_token_budget_prefix_parallel_by_chunk(spark):
    """The budget mix's running token prefix must never serialize a
    source into one task: row-level ordered windows must key on
    (source, chunk) — the CUSUM parallel-prefix pattern reused."""
    plan = _plan(spark, "pipeline_token_budget_mix")
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    row_specs = [s for s in specs if "hk#" in s]
    assert row_specs, "no row-level ordered window found"
    for s in row_specs:
        assert "chunk#" in s, f"row-level window not chunk-keyed: {s}"
    assert "partial_sum" in plan
    assert "BroadcastExchange" in plan
