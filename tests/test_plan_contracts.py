"""Physical-plan contracts — the scale properties PLANS.md documents,
pinned as regression tests so a future refactor cannot silently
reintroduce a shuffle, lose a broadcast, or un-prune a scan."""

from __future__ import annotations

import re

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = E.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_is_single_shuffle(spark):
    plan = _plan(spark, "asof_click_attribution")
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_small_side_joins_broadcast(spark):
    for name in ("join_fact_dim", "join_three_dims", "range_join_shipments"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_heavy_hitters_no_global_sort(spark):
    plan = _plan(spark, "vocab_heavy_hitters")
    assert "TakeOrderedAndProject" in plan  # top-k, not sort-the-world
    assert plan.count("Exchange") == 1  # partial+final agg only


def test_aggregations_are_partial_final(spark):
    plan = _plan(spark, "tpch_q1_style")
    # two HashAggregate nodes around one exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_scan_pruning_reaches_parquet(spark):
    plan = _plan(spark, "pk_lookup")
    assert "PushedFilters: [" in plan
    # projection pruned to exactly the selected columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"):
        assert col in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_extraction_python_is_mapinpandas_only(spark):
    plan = _plan(spark, "extract_html_roundtrip")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quarantine_filter_adds_no_shuffle(spark):
    """extract() with the error filter has the same exchange count as
    the documented one-path shape: salted repartition of the raw spans
    + reassembly agg = 2."""
    plan = _plan(spark, "extract_span_counts")
    assert plan.count("Exchange") == 2, plan


def test_checkpoint_batch_scans_corpus_once_one_python_stage(spark, tmp_path):
    """The plan a checkpoint batch writes crosses into Python once: one
    MapInPandas node over one scan of the corpus — no second
    extraction leg with its own scan, exchange and Python stage."""
    from docling_api_spark.checkpoint import extract_with_checkpoint
    from docling_api_spark.sources.catalog import load, wrap_documents_as_corpus

    corpus = wrap_documents_as_corpus(load(spark, SF, "documents"))
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    before = max((x.executionId() for x in executions()), default=-1)
    extract_with_checkpoint(corpus, str(tmp_path / "t"), num_buckets=1, batch_buckets=1)
    plans = [x.physicalPlanDescription() for x in executions() if x.executionId() > before]
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1
    # the adaptive plan holds the final tree, then the initial one; the
    # initial tree is checked too, since AQE drops a leg whose input
    # turned out empty from the final one
    final, initial = writes[0].split("== Final Plan ==")[1].split("== Initial Plan ==")
    for tree in (final, initial.split("\n\n")[0]):
        nodes = [re.sub(r"\s*\(\d+\).*", "", ln.lstrip(" :+-*")) for ln in tree.splitlines()]
        assert nodes.count("MapInPandas") == 1, nodes
        assert nodes.count("Scan parquet") == 1, nodes


def test_cluster_edges_shuffle_on_hash_not_text(spark):
    """dedup_clusters' edge join must partition on the 32-bit content
    hash, never on the full document body: at 100 TB a raw-text
    partitioning key ships every byte through both sides of the
    shuffle twice. (VERDICT r2 scale-killer #3.)"""
    plan = _plan(spark, "dedup_clusters")
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text#" not in line.split("hashpartitioning", 1)[1], line


def test_ranking_queries_have_no_single_task_corpus_window(spark):
    """rrf_fusion and hybrid_search_rrf rank via global_rank
    (operators/rank.py): every Window in the plan must run over the
    tiny per-partition offsets (__pid), never an unpartitioned spec
    over the corpus rows — the single-task sort VERDICT r2 flagged."""
    for name in ("rrf_fusion", "hybrid_search_rrf", "sequence_packing_plan"):
        plan = _plan(spark, name)
        assert "rangepartitioning" in plan, name
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert "__pid" in line, f"{name}: {line}"


def test_multi_query_topk_windows_are_partitioned(spark):
    """multi_query_knn_rrf ranks per query via the two-phase
    topk_per_group: every Window must be partitioned (by qid / qid+pid)
    — an empty partition spec would serialize the corpus."""
    plan = _plan(spark, "multi_query_knn_rrf")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "qid" in line, line


def test_boilerplate_dedup_shuffles_on_hash_not_line(spark):
    """boilerplate_line_dedup groups/joins line frequencies on the
    32-bit md5 line hash — raw line text must never be a partitioning
    key (same rule as dedup_clusters)."""
    plan = _plan(spark, "boilerplate_line_dedup")
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            part = line.split("hashpartitioning", 1)[1]
            assert "line#" not in part, line


def test_dedup_pipelines_never_cartesian(spark):
    """The banded-LSH and pigeonhole-band joins must stay keyed
    self-joins — a cartesian (all-pairs) plan is the scale failure the
    banding exists to prevent."""
    for name in ("dedup_minhash_pairs", "simhash_dup_pairs", "dedup_cascade_survivors"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_cdc_merge_base_never_shuffles(spark):
    """MERGE-INTO with a broadcastable feed: every Exchange must be a
    broadcast — the base table is scanned once, never repartitioned."""
    plan = _plan(spark, "cdc_merge_upsert")
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan


def test_scd2_windows_share_one_shuffle(spark):
    """Both SCD2 windows (lag change filter, lead validity) share the
    user_id partitioning: exactly ONE Exchange in the whole plan."""
    plan = _plan(spark, "scd2_user_state")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") >= 2


def test_winnow_pairs_shuffle_is_narrow(spark):
    """The winnow dup-pair join must not partition by document text:
    no 'text' column may appear in any Exchange's output partitioning
    (fingerprint + doc_id only)."""
    plan = _plan(spark, "winnow_dup_pairs")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line.split("hashpartitioning", 1)[1][:120], line


def test_mg_heavy_hitters_counts_candidates_only(spark):
    """The exact-count stage must be candidates-restricted: the token
    stream joins the broadcast candidate set (BroadcastHashJoin), never
    sort-merge; and the Python sketch stage is Arrow-batched."""
    plan = _plan(spark, "heavy_hitters_sketch")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_winnow_fingerprints_generate_reads_bound_array(spark):
    """VERDICT r3 #1: the packed-key arithmetic must read the window-
    hash array through a let-bound lambda variable (functions.hashing
    .let), never an inlined recompute of the full tokenize->md5 chain
    — CollapseProject re-inlining `wh` into the per-element lambda was
    an O(m*W) full-chain re-evaluation per row (378 s -> 4 s at sf0.1).
    Also pins the zero-shuffle shape: selections are map-side only."""
    import re

    plan = _plan(spark, "winnow_fingerprints")
    assert "Exchange" not in plan, plan
    hits = 0
    for m in re.finditer(re.escape("* 1073741824"), plan):
        ctx = plan[max(0, m.start() - 150) : m.start()]
        assert "element_at(lambda" in ctx, ctx
        hits += 1
    assert hits >= 1, plan


def test_cdc_generate_reads_attribute_not_inlined_hashes(spark):
    """content_defined_chunks' boundary filter must probe the window-
    hash array as a bound ATTRIBUTE (wh#N), not an inlined md5 chain:
    `element_at(` may never be directly applied to a transform(...)
    subtree (the quadratic Generate shape VERDICT r3 #1 flags)."""
    plan = _plan(spark, "content_defined_chunks")
    assert "element_at(transform(array(filter(split" not in plan.replace(
        "element_at(transform(array(tk#", "BOUND(#"
    ), plan


def test_self_joins_read_cached_inputs(spark):
    """A self-join evaluates its input tree once PER SIDE unless the
    input is cached — for these queries the input is the expensive
    part (MinHash signature chain, winnow chain, pairwise cosines,
    SimHash token hashing, quantizer assignment), so losing the
    persist silently doubles the query's dominant cost. Both join
    sides must read an InMemoryTableScan."""
    # mutual_nn_pairs also persists its self-join input, but at this
    # gate SF its plan constant-folds to an empty LocalTableScan, so
    # there is nothing to pin here (covered by its parity test).
    for name in (
        "dedup_minhash_pairs",
        "winnow_dup_pairs",
        "simhash_dup_pairs",
        "semdedup_survivors",
    ):
        plan = _plan(spark, name)
        assert plan.count("InMemoryTableScan") >= 2, f"{name}: self-join side(s) uncached\n{plan}"


def test_repetition_grams_read_bound_token_array(spark):
    """repetition_ngram_fractions builds n-grams via per-element F.get
    over the token array; the array must be let-bound so each get reads
    the lambda variable — an inlined tokens(text) chain there would
    re-tokenize the document once per gram element (the quadratic
    Generate shape of VERDICT r3 #1). `get(`/`element_at(` may never
    apply directly to a filter(split(...)) subtree."""
    plan = _plan(spark, "repetition_ngram_fractions")
    flat = plan.replace("\n", " ")
    for probe in ("get(filter(split", "element_at(filter(split"):
        assert probe not in flat, plan


def test_media_ref_integrity_single_kernel_pass(spark):
    """media_ref_integrity consumes the flat span stream from several
    legs (refs probe, media_table's image/caption/page-render lanes);
    unpersisted, each leg re-runs the extraction kernel (measured: 4
    MapInPandas subtrees). The flat stream must be cached — exactly
    one kernel subtree, every consumer on an InMemoryTableScan."""
    import re

    plan = _plan(spark, "media_ref_integrity")
    kernels = set(re.findall(r"MapInPandas \((\d+)\)", plan))
    assert len(kernels) <= 1, f"kernel subtrees: {kernels}\n{plan}"
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_cell_assignment_never_windows_per_vector(spark):
    """Coarse-quantizer cell ASSIGNMENT is the zero-shuffle argmax
    (operators/search.py:assign_cells): a single-row broadcast of the
    centroid grid + a let-bound transform/array_max/array_position —
    no row multiplication, no per-vector row_number sort. The old
    centroid_scores + window shape multiplied every corpus row
    n_cells× and shuffled the multiplied rows (payload vector
    included) through a per-id WindowExec — a full corpus-width
    shuffle that exists solely to pick an argmax."""
    # pure-assignment consumers: no window anywhere in the plan (the
    # IVF query-probe side ranks its 16 rows via TakeOrderedAndProject)
    for name in ("semdedup_survivors", "ivf_fixed_topk"):
        plan = _plan(spark, name)
        assert "Window" not in plan, f"{name}: window crept back in\n{plan}"
    # purity keeps ONE legitimate window — majority label per CELL
    # (16 keys over cell×label counts) — but never one per vector
    plan = _plan(spark, "centroid_label_purity")
    assert "windowspecdefinition(vec_id" not in plan, plan
    assert plan.count("Window [") <= 1, plan


def test_vocab_joins_not_force_broadcast(spark):
    """pmi_collocations / tfidf_top_terms score against unigram/df
    tables that are UNBOUNDED-cardinality aggregates (a web-scale
    token vocab is billions of junk tokens, not ~10^7): an explicit
    F.broadcast() hint on them overrides the size-based planner
    unconditionally and ships the whole vocab to every executor at
    100 TB (VERDICT r4 ask #5). The contract: no broadcast HINT on
    the vocab side — the planner/AQE may still size-gate-broadcast at
    gate scale, which is the wanted behavior. tfidf's single allowed
    hint is the one-row n_docs aggregate (bounded by construction)."""
    import __spark_entry__ as E

    allowed = {"pmi_collocations": 0, "tfidf_top_terms": 1}
    for name, n_allowed in allowed.items():
        df = E.queries()[name](spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n_hints = analyzed.count("ResolvedHint")
        assert n_hints <= n_allowed, (name, n_hints, analyzed)


def test_ccnet_buckets_no_per_lang_sort(spark):
    """ccnet_perplexity_buckets assigns terciles via sketch cutoffs +
    broadcast map-assign: a Window.partitionBy(lang) rank would sort
    one whole (Zipf-dominant) language in a single task at 100 TB
    (VERDICT r4 ask #6). Contract: no Window node, and the cutoff
    join is a broadcast."""
    plan = _plan(spark, "ccnet_perplexity_buckets")
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_topk_paths_share_one_rescoring_tail(spark):
    """Every top-k retrieval path ends in the same exact-rescoring tail
    (operators/search.py ``_rescore_topk``): one TakeOrderedAndProject
    on (sim desc, id asc), with the query attached by broadcast — no
    candidate step shuffles both join sides or goes cartesian."""
    for name in (
        "knn_cosine_topk", "ann_lsh_topk", "ivf_fixed_topk", "ivf_ann_topk", "search_pipeline",
    ):
        plan = _plan(spark, name)
        assert re.search(
            r"TakeOrderedAndProject\(limit=\d+, orderBy=\[sim#\d+ DESC NULLS LAST,vec_id#\d+L? ASC",
            plan,
        ), (name, plan)
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, (name, plan)
