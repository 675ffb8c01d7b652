"""Executed-plan shape invariants for the headline queries — the
PLANS.md audit, enforced. A regression that adds a shuffle or drops a
broadcast to one of these fails CI, not just the next human read of
the plan. Counts are for sf0.001 with AQE on (the audit conditions)."""

import pytest

from gobblin_spark.queries import QUERIES


def _plan(spark, sf_dir, name):
    # retired catalog entries stay as plain module functions — their
    # plan shapes remain pinned even without an oracle row
    import gobblin_spark.queries as _qmod

    fn = QUERIES.get(name) or getattr(_qmod, name)
    df = fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan):
    return plan.count("Exchange hashpartitioning")


# (query, max hash-exchanges, must-not-contain)
CASES = [
    ("q6_forecast_revenue", 0, "BroadcastNestedLoop"),
    ("q1_pricing_summary", 1, "BroadcastNestedLoop"),
    ("q3_segment_revenue", 1, "CartesianProduct"),
    ("q10_returned_items", 1, "CartesianProduct"),
    ("compaction_dedup_events", 1, "SinglePartition"),
    ("dedup_exact_docs", 1, "CartesianProduct"),
    ("purge_by_id", 1, "CartesianProduct"),
    ("window_tumbling_daily", 1, "SinglePartition"),
    ("range_join_events", 1, "BroadcastNestedLoop"),
    ("cleaning_dedup_lines", 3, "CartesianProduct"),
    # r7-late: the corpus-wide (id, shingle) distinct is GONE — the
    # only wide edges are the per-doc counts groupBy and the id
    # re-attach; the benchmark shingle set must stay broadcast
    ("contamination_check_docs", 2, "CartesianProduct"),
    ("rollup_revenue", 1, "CartesianProduct"),
    ("q13_customer_distribution", 3, "CartesianProduct"),
    # round-4 TPC-H completion: dims must broadcast, one fact shuffle
    # (q2 adds a per-part window min; q21 adds per-order window stats
    # reusing the join's partitioning; q11's 1-row threshold is a
    # deliberate broadcast nested loop, counted not forbidden)
    ("q2_min_cost_supplier", 2, "CartesianProduct"),
    ("q7_volume_shipping", 1, "CartesianProduct"),
    ("q8_market_share", 1, "CartesianProduct"),
    ("q9_product_profit", 1, "CartesianProduct"),
    ("q11_important_parts", 2, "CartesianProduct"),
    ("q20_potential_promotion", 1, "CartesianProduct"),
    ("q21_waiting_suppliers", 2, "CartesianProduct"),
    # grouping sets expand map-side: one exchange for all four levels
    ("grouping_sets_revenue", 1, "CartesianProduct"),
    ("topn_per_group_events", 1, "CartesianProduct"),
    # chunking is a pure narrow map: no hash exchange (the only
    # allowed exchange is ensure_parallelism's round-robin widening,
    # a no-op once the scan has real splits)
    ("text_chunk_windows", 0, "Exchange hashpartitioning"),
    # keep-best dedup: one fingerprint hash-aggregate shuffle
    ("dedup_keep_best_docs", 1, "CartesianProduct"),
    # curation pipeline: keep-best agg + broadcast id re-attach
    ("pipeline_corpus_curation", 1, "CartesianProduct"),
    # seeded shuffle: one per-shard window exchange, never global
    ("mixing_shuffle_seeded", 1, "SinglePartition"),
    # centroid stats: (label, dim) agg + per-label fold
    ("embedding_centroid_norms", 2, "CartesianProduct"),
    # pack manifest: cum-sum window + manifest groupBy share the key
    ("mixing_pack_manifest", 2, "CartesianProduct"),
    # heavy-hitter probe: one sampled aggregate
    ("skew_heavy_hitters", 1, "CartesianProduct"),
    # late routing: frontier literal pushes into both branch scans
    ("streaming_late_routing", 0, "CartesianProduct"),
    # line census: digest-keyed agg; countDistinct(doc) expands into
    # a second exchange on (digest, doc)
    ("cleaning_line_census", 2, "CartesianProduct"),
    # lag window + groupBy share ONE user_id exchange (the groupBy
    # reuses the window sort's hashpartitioning)
    ("event_time_deltas", 1, "CartesianProduct"),
    # distributed exact-rank ntile: per-user agg + per-bucket window
    # + decile rollup, each a keyed exchange — and NO single-partition
    # global sort anywhere in the plan (the r6-verdict scale-killer).
    # Runtime exchanges = 3; the budget is 4 only because the per-user
    # agg is persisted and InMemoryRelation's plan string renders that
    # one exchange twice (cached plan + materialized copy)
    ("user_value_deciles", 4, "SinglePartition"),
    # recursion-eliminated from_json is a pure narrow projection
    ("schema_recursion_truncate", 0, "Exchange hashpartitioning"),
    # round-8 queue pre-staged entries: per-epoch packing rides ONE
    # window shuffle per epoch and must never go global
    ("mixing_pack_epochs", 2, "SinglePartition"),
    # dedup groupBy + census groupBy — the split itself is narrow
    ("curation_dedup_split", 2, "CartesianProduct"),
    # runtime = 1 corpus scan (cache fill) + dimension-sized joins;
    # the generous budget covers InMemoryRelation's double-rendered
    # cached lineage in the plan STRING (see user_value_deciles)
    ("corpus_drift_weekly", 12, "SinglePartition"),
    # .pull CSV compile: converters + range policy fold into the scan
    ("pull_flow_csv", 0, "CartesianProduct"),
    # two example-format round trips: the only exchange is the
    # verification groupBy over the union
    ("example_source_roundtrip", 1, "CartesianProduct"),
    # daily agg exchange, then the 7-row frame over ~days rows
    ("revenue_moving_avg", 1, "CartesianProduct"),
    # 3 fixed iterations in ONE lineage (per-round checkpoints cost a
    # materialization round-trip each; shuffle-stage reuse already runs
    # every round once): with the degree table checkpointed ONCE
    # (r7 — it feeds two plan sites per iteration, and uncheckpointed
    # appeared as 10 exchanges), the lineage carries 3x(contrib join,
    # inbound agg) = 6 keyed exchanges, all on the node id
    ("pagerank_partsupp", 6, "CartesianProduct"),
    # per-type percentile aggregate broadcasts back into the fact scan
    ("winsorize_event_values", 2, "CartesianProduct"),
    # distinct (source, shingle) + sizes + shingle self-join + pair agg
    ("source_overlap_matrix", 7, "CartesianProduct"),
    # inverted-index join, directed normalization
    ("ngram_containment_docs", 2, "CartesianProduct"),
    # quantization is one narrow pass: no exchange, NO self-join (the
    # withColumn-style operator keeps raw + codes in the same row)
    ("embedding_quantize_int8", 0, "Join"),
    # (user, day) distinct + explode-onto-window-ends distinct count
    ("rolling_active_users", 4, "CartesianProduct"),
    # first-day groupBy + cohort-week distinct count + broadcast sizes
    ("cohort_retention", 6, "CartesianProduct"),
    # md5-bucket split is a narrow projection; one reporting groupBy
    ("split_train_val_test", 1, "CartesianProduct"),
    # filter -> redact -> split are ONE narrow pass; the only keyed
    # exchanges are the dedup fingerprint agg + the split report
    ("pipeline_training_data_e2e", 2, "CartesianProduct"),
    # the store merge reads back the swapped parquet (AQE-coalesced);
    # no residual exchange in the final read plan
    ("incremental_rollup_merge", 1, "CartesianProduct"),
    # full-outer diff: one keyed exchange per side + the class rollup
    ("snapshot_diff_rows", 3, "CartesianProduct"),
    # within-doc segment dedup is pure narrow codegen
    ("cleaning_dedup_paragraphs", 0, "Exchange hashpartitioning"),
    # round-5 window additions: remaining TPC-H shapes
    ("q13_customer_distribution", 2, "CartesianProduct"),
    ("q15_top_supplier", 2, "CartesianProduct"),
    ("q16_supplier_part_counts", 2, "CartesianProduct"),
    ("q17_small_quantity_revenue", 1, "CartesianProduct"),
    # q22 keeps its scalar-threshold BroadcastNestedLoopJoin (the
    # build side is ONE row — the correct scalar-subquery shape);
    # a real cartesian is still forbidden
    ("q22_dormant_customers", 1, "CartesianProduct"),
    # min-label propagation runs over localCheckpoint-reset lineage:
    # the final plan must stay checkpoint-backed, not re-derived
    ("graph_components_chain", 0, "CartesianProduct"),
    # real media decode: narrow Arrow-batched pipelines, no exchange
    ("multimodal_decode_wav", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_bmp", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_png", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_jpeg", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_jpeg_color", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_jpeg420", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_jpeg_prog", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_gif", 0, "Exchange hashpartitioning"),
    ("multimodal_decode_tiff", 0, "Exchange hashpartitioning"),
    ("multimodal_audio_spectral", 0, "Exchange hashpartitioning"),
    # round-6 component oracles: the deterministic sampler's global
    # rank is SinglePartition BY DESIGN (auditable variant; the
    # production sampler is the no-shuffle rand path) — the one hash
    # exchange is the bucket rollup
    ("sampler_front_loaded", 1, "CartesianProduct"),
    # tracking-event flatten is pure narrow codegen
    ("tracking_event_flatten", 0, "Exchange hashpartitioning"),
]


@pytest.mark.parametrize("name,max_shuffles,forbidden", CASES)
def test_plan_shape(spark, sf_dir, name, max_shuffles, forbidden):
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) <= max_shuffles, \
        f"{name}: {_shuffles(plan)} exchanges\n{plan[:1200]}"
    assert forbidden not in plan, f"{name} grew a {forbidden}\n{plan[:1200]}"


def test_q6_predicates_reach_scan(spark, sf_dir):
    """The q6 scan must carry pushed data filters — a loader change
    that breaks pushdown turns every scan into a full read at 100 TB."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # at least one real (non-IsNotNull) filter reached the reader
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert any(tok and "IsNotNull" not in tok
               for tok in pushed.split(",")), pushed


def test_topn_pushes_group_limit_into_shuffle(spark, sf_dir):
    """row_number + rnk<=k must trigger WindowGroupLimit so each map
    task ships only its local top-k per key — without it the exchange
    carries the whole fact table."""
    plan = _plan(spark, sf_dir, "topn_per_group_events")
    assert "WindowGroupLimit" in plan, plan[:1200]


def test_asof_join_stays_single_shuffle(spark, sf_dir):
    """The as-of operator itself is one keyed window exchange; the
    catalog query adds one more for the mark-dedup groupBy."""
    plan = _plan(spark, sf_dir, "asof_join_events")
    assert _shuffles(plan) <= 2, plan[:1200]
    assert "BroadcastNestedLoop" not in plan


def test_keep_best_aggregates_map_side(spark, sf_dir):
    """dedup_keep_best's argmax must run as a map-side partial
    aggregate (combine before the fingerprint exchange) — the property
    that keeps the shuffle ~one row per distinct doc. A
    window/row_number formulation would show Window nodes here and
    cost a second exchange. (The struct-valued min_by buffer forces
    SortAggregate rather than HashAggregate — acceptable; the combine
    still happens before the exchange. min_by since r6: the negated
    operand is the SCORE, so string ids work.)"""
    plan = _plan(spark, sf_dir, "dedup_keep_best_docs")
    assert "partial_min_by" in plan, plan[:1200]
    assert "Window" not in plan, plan[:1200]


def test_dedup_exact_hash_aggregates(spark, sf_dir):
    """Grouping on (fp, _solo) leaves only a long min(id) buffer, so
    exact dedup is a partial+final HashAggregate — a string buffer
    (e.g. min(fp)) would force the sort-based aggregate."""
    plan = _plan(spark, sf_dir, "dedup_exact_docs")
    assert "HashAggregate" in plan and "partial_min" in plan, plan[:1200]
    assert "SortAggregate" not in plan, plan[:1200]


@pytest.mark.parametrize("name", ["text_quality_scores", "dedup_exact_docs"])
def test_text_kernels_build_no_match_arrays(spark, sf_dir, name):
    """Character-class counts subtract the length left after a
    run-deleting regexp_replace, not regexp_count — which Spark plans as
    size(regexp_extract_all(...)), one string allocated per match."""
    plan = _plan(spark, sf_dir, name)
    assert "regexp_extract_all" not in plan, plan[:1200]


def test_fingerprint_single_regex_pass(spark, sf_dir):
    """normalize_text is one regexp_replace over the lowered text."""
    plan = _plan(spark, sf_dir, "text_fingerprint")
    assert plan.count("regexp_replace(") == 1, plan[:1200]


def test_ensure_parallelism_bytes_per_task_hint(spark, sf_dir):
    """The per-operator width hint (r14, verdict-r13 #1): a smaller
    bytes_per_task must widen a small scan further than the default
    64 KiB bound, and both must stay capped at the requested target.
    The hint is what lets the heavy-per-byte regex/explode operators
    run full-width while the shuffle-heavy dedup family keeps the
    wider-per-task default."""
    from gobblin_spark.session import ensure_parallelism
    from gobblin_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    wide = ensure_parallelism(docs, min_partitions=8, bytes_per_task=64)
    dflt = ensure_parallelism(docs, min_partitions=8)
    n_wide = wide.rdd.getNumPartitions()
    n_dflt = dflt.rdd.getNumPartitions()
    assert n_wide == 8, n_wide          # tiny bytes/task -> full target
    assert n_dflt <= n_wide, (n_dflt, n_wide)
