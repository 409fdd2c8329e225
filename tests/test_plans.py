"""Physical-plan shape assertions — the scale contract (SURVEY.md §4).

Correctness says the answer is right at sf0.01; these tests pin that the
PLAN is the one that survives 100 TB: dims broadcast (no giant shuffle
joins), predicates pushed into the parquet scan, top-k compiled to
TakeOrderedAndProject (never a global sort), IVF probes pruning
partitions, and aggregations doing map-side partial combine."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, checkpointed_plans

from vector_db_example_spark.queries import QUERIES


def _plan(df, execute: bool = False) -> str:
    if execute:  # let AQE finalize join strategies
        df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # After execution AQE appends the pre-adaptive "Initial Plan" section;
    # keep only the final plan so node counts aren't doubled.
    return plan.split("== Initial Plan ==")[0]


def test_q3_broadcasts_customer(spark):
    plan = _plan(QUERIES["tpch_q3_shipping_priority"].fn(spark, SF_SMOKE), execute=True)
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    plan = _plan(QUERIES["tpch_q5_local_supplier_volume"].fn(spark, SF_SMOKE), execute=True)
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region at minimum


def test_q1_pushes_shipdate_filter(spark):
    plan = _plan(QUERIES["tpch_q1_pricing_summary"].fn(spark, SF_SMOKE))
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scans and any("l_shipdate" in ln for ln in scans), (
        "shipdate predicate must reach the parquet scan"
    )


def test_q1_partial_aggregation(spark):
    """groupBy compiles to partial (map-side) + final HashAggregate —
    the shuffle carries pre-combined rows, not raw lineitems."""
    plan = _plan(QUERIES["tpch_q1_pricing_summary"].fn(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2


def test_knn_is_takeordered_not_global_sort(spark):
    plan = _plan(QUERIES["vector_knn_exact_l2"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan, (
        "top-k must be per-partition heap + merge, not a cluster-wide sort"
    )


def test_knn_stays_jvm_side(spark):
    """The distance expression (higher-order zip_with/aggregate) must run
    JVM-side: no Python evaluation nodes in the exact-KNN hot path.
    (Higher-order functions are codegen-fallback, so there's no
    WholeStageCodegen span here — but they are still JVM expressions,
    not Python.)"""
    plan = _plan(QUERIES["vector_knn_exact_l2"].fn(spark, SF_SMOKE))
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_ivf_probe_prunes_partitions(spark):
    from vector_db_example_spark.queries.index_q import get_ivf_index
    from vector_db_example_spark.index.ivf import ivf_search
    from vector_db_example_spark.queries.vector_q import _query_vec

    index = get_ivf_index(spark, SF_SMOKE, nlist=16)
    hits = ivf_search(spark, index, _query_vec(spark, SF_SMOKE, 11), k=10, nprobe=4)
    plan = _plan(hits)
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "cell_id" in scan[0], (
        "nprobe must be a partition-pruned scan, not a full read + filter"
    )


def test_lsh_probe_prunes_partitions(spark):
    """The LSH multiprobe list must reach the scan as PARTITION pruning
    on the bucket-partitioned layout (the IVF nprobe mechanism) — not a
    post-read filter over a full corpus scan."""
    plan = _plan(QUERIES["vector_ann_lsh_topk"].fn(spark, SF_SMOKE))
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "bucket" in scan[0], (
        "LSH probes must be a partition-pruned scan, not full read + filter"
    )


def test_ivf_pq_driver_query_scans_codes_only(spark):
    """The registered IVF_PQ query's ADC stage must read the stored code
    column, never the float vectors (column pruning on the persisted
    layout — the 32x IO cut IVF_PQ exists for)."""
    plan = _plan(QUERIES["vector_ivf_pq_topk"].fn(spark, SF_SMOKE), execute=True)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    code_scans = [ln for ln in scans if "pq_codes" in ln and "embedding" not in ln]
    assert code_scans, f"ADC stage must not read float vectors: {scans}"
    assert all("PartitionFilters" in ln and "cell_id" in ln for ln in scans)


def test_tokenize_stopword_join_is_broadcast_anti(spark):
    plan = _plan(QUERIES["text_tokenize_topk"].fn(spark, SF_SMOKE), execute=True)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_events_window_partial_aggregation(spark):
    plan = _plan(QUERIES["events_tumbling_window"].fn(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name", ["tpch_q1_pricing_summary", "window_running_revenue", "dedup_exact_groups"]
)
def test_no_python_in_relational_paths(spark, name):
    """Everything except the embedding/multimodal surface is pure
    Catalyst — UDFs are the slow path and must not leak in."""
    plan = _plan(QUERIES[name].fn(spark, SF_SMOKE))
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_ivf_batch_prunes_and_stays_narrow(spark):
    """Batched IVF: one partition-pruned scan (union of probe cells)
    feeding the Arrow distance kernel (probe map + query matrix ride the
    UDF closure — no join at all on the corpus side), then only the
    narrow (query_id, id, distance) rows reach the rank window. The
    corpus is never hash-shuffled."""
    plan = _plan(QUERIES["vector_ivf_batch_topk"].fn(spark, SF_SMOKE), execute=True)
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and any("cell_id" in ln for ln in scans)
    assert "MapInPandas" in plan
    corpus_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "query_id" not in ln
    ]
    assert not corpus_shuffles, corpus_shuffles


def test_decontaminate_broadcasts_benchmark_set(spark):
    """The benchmark fingerprint set must broadcast — the training corpus
    itself is never shuffled for the contamination check."""
    plan = _plan(QUERIES["dedup_decontaminate"].fn(spark, SF_SMOKE), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_latest_snapshot_is_partial_agg_not_window(spark):
    """CDC compaction must compile to partial+final max_by aggregation —
    no Window node (whose per-key sort the 100 TB changelog can't afford)."""
    plan = _plan(QUERIES["events_latest_snapshot"].fn(spark, SF_SMOKE))
    assert "Window" not in plan
    # Struct-typed max_by buffers fall back to SortAggregate (sorted by
    # the grouping key only) — what matters is the map-side combine: a
    # partial_max_by runs before the exchange, so the shuffle carries one
    # row per (partition, user), not the raw changelog.
    assert "partial_max_by" in plan
    assert plan.index("partial_max_by") > plan.index("Exchange")  # plan prints top-down


def test_funnel_no_user_level_broadcast_single_job(spark):
    """The funnel must not broadcast any per-user stage (users grow with
    the data — that broadcast OOMs at 100×) and must partition by
    user_id exactly once: the chained stage windows and the per-user
    rollup all reuse the one distribution."""
    df = QUERIES["events_conversion_funnel"].fn(spark, SF_SMOKE)
    plan = _plan(df, execute=True)
    assert "BroadcastExchange" not in plan
    user_shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    ]
    assert len(user_shuffles) == 1, user_shuffles


def test_grouping_search_no_corpus_broadcast_single_group_shuffle(spark):
    """Grouping search: one hashpartitioning(label) exchange for the
    per-group window; the corpus itself is never broadcast (only the
    k-row top-groups table is)."""
    plan = _plan(QUERIES["vector_grouping_search"].fn(spark, SF_SMOKE), execute=True)
    label_shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "label" in ln
    ]
    assert len(label_shuffles) <= 2  # window + (AQE-planned) join side
    assert "TakeOrderedAndProject" in plan


def test_range_search_is_pure_map_side(spark):
    """Range search must compile to scan -> filter with no exchange at
    all — the band predicate is evaluated where the data lives."""
    plan = _plan(QUERIES["vector_range_search"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_sequence_packing_single_stream_shuffle(spark):
    """Packing = one shuffle on the stream key; the window and the
    per-pack rollup reuse the same distribution."""
    plan = _plan(QUERIES["pipeline_sequence_packing"].fn(spark, SF_SMOKE), execute=True)
    stream_shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "source" in ln
    ]
    assert len(stream_shuffles) == 1, stream_shuffles
    assert "BroadcastExchange" not in plan


def test_cube_is_single_expand_aggregation(spark):
    """CUBE compiles to one Expand (4 grouping sets map-side) feeding one
    partial+final aggregation — not 4 separate scans unioned."""
    plan = _plan(QUERIES["agg_cube_orders"].fn(spark, SF_SMOKE))
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_filtered_knn_pushes_label_filter(spark):
    """Milvus-style filtered search must filter-then-search: the scalar
    predicate reaches the parquet scan as a pushed filter, so distances
    are only computed on surviving rows."""
    plan = _plan(QUERIES["vector_filtered_knn"].fn(spark, SF_SMOKE))
    assert "PushedFilters" in plan and "label" in plan.split("PushedFilters")[1][:200]
    assert "TakeOrderedAndProject" in plan


def test_pagination_is_takeordered_not_global_sort(spark):
    """Page N of the search iterator still TakeOrders offset+k rows —
    never a global sort of the corpus."""
    plan = _plan(QUERIES["vector_search_pagination"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_bm25_takeordered_broadcast_stats(spark):
    """BM25 top-k must be TakeOrderedAndProject (never a global sort) and
    its corpus statistics (df/N/avgdl) must reach the scorer as broadcast
    1-row tables — no shuffle keyed on the term dimension."""
    plan = _plan(QUERIES["text_bm25_search"].fn(spark, SF_SMOKE), execute=True)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "SortMergeJoin" in plan  # no global sort node
    assert plan.count("BroadcastExchange") >= 2  # dfs row + totals row


def test_hypertable_report_prunes_both_layouts(spark):
    """Closed days must read ONLY rollup partitions < cutoff; the raw
    tail must read ONLY chunk partitions >= cutoff — both as partition
    filters at the source, never a post-scan filter over full history."""
    plan = _plan(QUERIES["events_hypertable_rollup"].fn(spark, SF_SMOKE))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert sum("event_date" in ln and not ln.strip().startswith("PartitionFilters: []") for ln in pf) >= 2, (
        f"expected date partition filters on rollup AND raw scans; got {pf}"
    )


def test_inverted_bm25_prunes_posting_partitions(spark):
    """The posting-list read must prune to the query terms' crc32
    buckets at the source (PartitionFilters on `bucket`), never scan all
    postings and filter afterwards."""
    plan = _plan(QUERIES["text_bm25_inverted_topk"].fn(spark, SF_SMOKE))
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "bucket" in ln
    ]
    assert pf, f"no bucket partition filter in plan:\n{plan[:2000]}"


def test_partition_key_search_prunes_tenant_partition(spark):
    plan = _plan(QUERIES["vector_partition_key_search"].fn(spark, SF_SMOKE))
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "label" in ln
    ]
    assert pf, f"no label partition filter:\n{plan[:1500]}"


def test_maxsim_broadcast_query_single_doc_shuffle(spark):
    """Late interaction must never shuffle the chunk side on the pair
    dimension: the Arrow kernel (default) carries the query matrix in
    its closure — no join AT ALL, the centroid-matrix pattern — with
    one hash exchange (the per-doc maxima groupBy) and TakeOrdered
    top-k; the expression form keeps the broadcast-crossJoin shape."""
    plan = _plan(QUERIES["vector_late_interaction_topk"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:1500]

    from vector_db_example_spark.operators.late_interaction import maxsim_topk
    from vector_db_example_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    eplan = _plan(maxsim_topk(docs, ("alpha beta",), impl="expr"))
    assert "BroadcastNestedLoopJoin" in eplan or "BroadcastExchange" in eplan
    assert eplan.count("Exchange hashpartitioning") <= 1, eplan[:1500]


def test_sparse_weighted_prunes_posting_partitions(spark):
    plan = _plan(QUERIES["text_sparse_weighted_topk"].fn(spark, SF_SMOKE))
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "bucket" in ln
    ]
    assert pf, f"no bucket partition filter in plan:\n{plan[:1500]}"


def test_bucketed_join_needs_no_exchange(spark):
    """The bucketed orders/lineitem layouts must satisfy the join's
    hash-distribution requirement from METADATA: with broadcast disabled
    (the 100 TB fact-fact regime), the equi-join compiles to a
    SortMergeJoin with ZERO Exchange — neither side is shuffled."""
    from vector_db_example_spark.queries.relational_q import (
        get_bucketed_order_tables,
    )

    t_orders, t_lineitem = get_bucketed_order_tables(spark, SF_SMOKE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(t_orders)
        li = spark.table(t_lineitem)
        joined = o.join(li, o["o_orderkey"] == li["l_orderkey"])
        plan = _plan(joined, execute=True)
        assert "SortMergeJoin" in plan, plan[:1200]
        assert "Exchange" not in plan, plan[:1200]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_line_dedup_single_exchange_partial_agg(spark):
    """Corpus-global line dedup is ONE shuffle (line-keyed) and the
    keep-first min-struct aggregate does a map-side partial combine —
    each partition ships ≤1 candidate per distinct line, so a
    boilerplate heavy-hitter line can never pile its occurrences into
    one reducer (the skew story a window row_number cannot offer)."""
    plan = _plan(QUERIES["dedup_line_first_occurrence"].fn(spark, SF_SMOKE))
    assert plan.count("Exchange") == 1, plan
    # struct-min compiles to SortAggregate; the partial_min before the
    # Exchange is the map-side combine that defeats heavy-hitter skew
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_line_kept_stats_single_explode(spark):
    """The survival report's totals side is size(token_windows(text)) —
    a per-row expression, so the whole query contains exactly ONE
    Generate (the explode inside corpus_line_dedup). A totals side that
    re-exploded the corpus would double the scan's fan-out cost for a
    number the array length already provides."""
    plan = _plan(QUERIES["dedup_line_kept_fraction"].fn(spark, SF_SMOKE))
    assert plan.count("Generate") == 1, plan
    assert "Window" not in plan, plan


def test_dup_span_no_window_skew_splittable(spark):
    """Span stats: occurrences collapse to (doc, span, count) with a
    partial-combining aggregate, then the corpus-wide span count is a
    groupBy(span) SUM joined back — NEVER a Window over span: a window
    partition cannot be skew-split by AQE, so one ultra-hot boilerplate
    span would land its whole collapsed row set in a single task,
    whereas the aggregate partial-combines map-side and the join-back
    is an ordinary join AQE splits on skew."""
    plan = _plan(QUERIES["dedup_dup_span_fraction"].fn(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "Join" in plan, plan  # the span-total join-back
    # map-side combine on both the (doc,span) collapse (inside the
    # checkpoint) and the span-total/per-doc aggregates
    assert "partial_sum" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_retention_cohorts_no_join_two_exchanges(spark):
    """The cohort-retention triangle is TWO shuffles and NO join: one
    user-keyed groupBy computes cohort date and distinct active days
    together, then the exploded (cohort, offset) pairs aggregate. The
    obvious first-activity-table-joined-back form would shuffle the raw
    event log twice AND join it — this pins that we never regress to
    it."""
    plan = _plan(QUERIES["events_retention_cohorts"].fn(spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan


def test_count_min_sketch_partial_combine(spark):
    """The CMS build's shuffle is sketch-sized regardless of corpus: the
    (row, col) counter aggregate partial-combines map-side, so each
    input partition ships ≤ depth×width rows — pinned by the
    partial_sum/partial-count before the Exchange; no join, no window
    in the sketch path."""
    plan = _plan(QUERIES["agg_count_min_heavy_hitters"].fn(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "partial_" in plan, plan


def test_minhash_routing_broadcasts_and_no_window(spark):
    """The count-first bucket routing: the over-cap bucket list (bounded
    by corpus/cap, tiny by construction) rides BROADCAST joins — the
    anti-join that strips over-cap buckets from the collect route and
    the star pass — so the memory bound costs zero extra corpus-scale
    shuffle joins; and no Window appears anywhere in the pair path."""
    plan = _plan(QUERIES["dedup_minhash_lsh"].fn(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the under-route strip is a broadcast ANTI join, never a shuffle
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "BroadcastHashJoin" in ln for ln in anti_lines
    ), plan


def test_semantic_dedup_no_window_broadcast_routing(spark):
    """SemDeDup with the cluster cap: sizes/representatives are tiny
    aggregates over ≤ len(centroids) rows and every routing join
    (under-cap keys, over-cap reps) is a BroadcastHashJoin; no Window
    anywhere — the keep policy is join+filter, not a per-cluster sort."""
    plan = _plan(QUERIES["dedup_semantic_prune"].fn(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bpe_word_freqs_partial_combine_and_prelimited_window(spark):
    """The BPE anchor's only corpus-scale stage is the tokenize+groupBy
    word count — it must partial-combine map-side so the shuffle is
    vocabulary-sized; the pair explode runs over the vocab table; the
    top-50 is TakeOrderedAndProject and the rank window ranks only those
    survivors (never the full pair table)."""
    plan = _plan(QUERIES["text_bpe_word_freqs"].fn(spark, SF_SMOKE))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    lines = plan.splitlines()
    for wi in (i for i, ln in enumerate(lines) if "Window" in ln):
        for ln in lines[wi + 1 :]:
            if "TakeOrderedAndProject" in ln:
                break
            assert "FileScan" not in ln, plan


@pytest.mark.parametrize("qname", ["hybrid_rrf_search", "hybrid_weighted_search"])
def test_hybrid_windows_rank_prelimited_survivors_only(spark, qname):
    """Both hybrid arms must top-k with orderBy().limit() — compiled to
    TakeOrderedAndProject (per-partition heap + driver merge) — BEFORE
    any rank window runs. An unpartitioned row_number over the full
    corpus moves every row through one task; here each Window's subtree
    must hit a TakeOrderedAndProject before it reaches a parquet scan,
    so windows only ever sort the ≤20 survivors."""
    plan = _plan(QUERIES[qname].fn(spark, SF_SMOKE))
    lines = plan.splitlines()
    assert "TakeOrderedAndProject" in plan, plan  # the pre-limits exist
    # hybrid_weighted_search has NO window at all (pure limit+join);
    # hybrid_rrf_search ranks with row_number but only over survivors.
    for wi in (i for i, ln in enumerate(lines) if "Window" in ln):
        for ln in lines[wi + 1 :]:
            if "TakeOrderedAndProject" in ln or "CollectLimit" in ln:
                break  # pre-limited: this window ranks ≤20 rows
            assert "FileScan" not in ln, (
                f"{qname}: Window at plan line {wi} reaches a corpus scan "
                f"with no limit in between\n{plan}"
            )


def test_nb_classifier_broadcasts_model_tables(spark):
    """The NB 'model' (per-label token counts, label totals, priors,
    vocab size) must reach inference as broadcasts — the corpus-scale
    token rows are never shuffled for a join, only for the per-doc
    aggregates."""
    plan = _plan(QUERIES["text_nb_lang_confusion"].fn(spark, SF_SMOKE), execute=True)
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 4
    assert "SortMergeJoin" not in plan, plan


def test_fingerprint_overlap_kernel_runs_once(spark):
    """fingerprint_overlap_stats feeds its fingerprint table to both the
    groupBy side and the join probe side; the exchange subtrees differ
    (partial combine before the groupBy's shuffle), so without an
    explicit materialization the md5-per-gram kernel executes TWICE
    (advisor finding, round 6). Pin: the returned plan scans the
    checkpointed RDD — zero Python-kernel nodes survive in it."""
    from vector_db_example_spark.operators.fingerprint import (
        fingerprint_overlap_stats,
    )
    from vector_db_example_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    plan = _plan(fingerprint_overlap_stats(docs, impl="arrow"))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_dedup_index_tombstone_path_plan_contract(spark, tmp_path):
    """The dedup layout's deletion vectors honor the IVF plan contract:
    BEFORE any delete the filter's layout reads are identity — no scan
    of the tombstone sibling at all — and AFTER a delete the corpus side
    anti-joins the tombstones as a BROADCAST join (takedown lists are
    tiny; a shuffle there would tax every future batch). The layout is
    read inside the frames the filter materializes (the key counts, and
    the candidate pairs in verified mode), so those are the plans
    pinned, in band-only and verified mode."""
    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_delete,
        dedup_index_filter,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} alpha beta") for i in range(20)],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, str(tmp_path / "idx"))
    batch = spark.createDataFrame(
        [(100, "corpus document number 3 alpha beta")], "doc_id long, text string"
    )
    # The tombstone scan is the only parquet read of a lone doc_id
    # column in a plan that reads the layout (the layout scan reads
    # (band, key); plan paths truncate, so match by ReadSchema, not
    # directory name).
    def tomb_scans(plan: str) -> list[str]:
        return [
            ln
            for ln in plan.splitlines()
            if "ReadSchema: struct<doc_id:bigint>" in ln
        ]

    def bcast_anti(plan: str) -> int:
        return sum(
            1
            for ln in plan.splitlines()
            if "BroadcastHashJoin" in ln and "LeftAnti" in ln
        )

    def layout_plans(threshold: float) -> list[str]:
        def run():
            verdicts, _ = dedup_index_filter(spark, index, batch, threshold=threshold)
            verdicts.localCheckpoint(eager=True)

        plans = checkpointed_plans(spark, run)
        return [p for p in plans if "key:binary>" in p]

    thresholds = (0.0, 0.5)
    before = {t: layout_plans(t) for t in thresholds}
    for t in thresholds:
        assert before[t], "expected the filter to read the layout"
        assert not any(tomb_scans(p) for p in before[t]), "identity fast path lost"

    assert dedup_index_delete(spark, index, [3]) == 1
    for t in thresholds:
        after = layout_plans(t)
        assert all(tomb_scans(p) for p in after), "tombstones not applied"
        # the first layout read is the key-count checkpoint
        assert bcast_anti(after[0]) == bcast_anti(before[t][0]) + 1, (
            "tombstone anti-join must be the one NEW broadcast anti-join\n"
            + after[0]
        )


def test_curation_loser_broadcast_is_count_gated(spark, monkeypatch):
    """``pipeline_corpus_curation`` forces a broadcast of its loser ids
    only while their materialized count is under
    ``_LOSERS_BROADCAST_MAX``; above it the anti-join is left to the
    planner (a sort-merge join with auto-broadcast off). Same rows
    either way."""
    from vector_db_example_spark.queries import dedup_q

    def bcast_anti(plan: str) -> bool:
        return any(
            "BroadcastHashJoin" in ln and "LeftAnti" in ln for ln in plan.splitlines()
        )

    fn = QUERIES["pipeline_corpus_curation"].fn
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = fn(spark, SF_SMOKE)
        plan_hinted = _plan(hinted, execute=True)
        monkeypatch.setattr(dedup_q, "_LOSERS_BROADCAST_MAX", -1)
        plain = fn(spark, SF_SMOKE)
        plan_plain = _plan(plain, execute=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bcast_anti(plan_hinted), plan_hinted
    assert not bcast_anti(plan_plain), plan_plain
    assert "LeftAnti" in plan_plain
    assert sorted(map(tuple, hinted.collect())) == sorted(map(tuple, plain.collect()))


def test_knn_batch_arrow_two_phase_narrow_scan_broadcast_joinback(spark):
    """The Arrow batch kernel's scale shape (operators/knn.py:230-262):
    (a) only (id, vector) crosses the Python boundary — the corpus scan
    feeding mapInPandas must not read payload columns; (b) top-k is
    two-phase — a partition-local row_number over (query, partition id)
    bounds the per-query sort input to #partitions x k; (c) the payload
    join-back broadcasts the <= q*k winners instead of shuffling payload
    columns through the candidate set."""
    from pyspark.sql import functions as F

    from vector_db_example_spark.operators.knn import knn_batch
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "payload", F.concat(F.lit("meta-"), F.col("vec_id").cast("string"))
    )
    queries = (
        emb.limit(3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    plan = _plan(knn_batch(emb, queries, k=5), execute=True)
    # (a) narrow scan under the Python node: the payload column must not
    # appear in the mapInPandas subtree's ReadSchema (it IS read later,
    # by the join-back scan)
    py_node = next(
        ln for ln in plan.splitlines() if "MapInPandas" in ln or "mapInPandas" in ln
    )
    assert "payload" not in py_node, py_node
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    narrow = [ln for ln in scans if "embedding" in ln and "payload" not in ln]
    assert narrow, f"expected a payload-free (id, vector) scan:\n{plan}"
    # (b) two-phase top-k: two Window nodes, the first keyed by the
    # synthetic partition id
    assert plan.count("Window") >= 2, plan
    assert "SPARK_PARTITION_ID" in plan.upper(), (
        "partition-local phase must key on spark_partition_id()"
    )
    # (c) winners broadcast into the payload join-back
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange rangepartitioning" not in plan, (
        "no global sort anywhere in the batch kernel"
    )
