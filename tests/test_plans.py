"""Plan-shape audits: the optimizer must produce the plan the engine
was designed for — pushdown at the scan, broadcast on the small side,
whole-stage codegen on the hot path, AQE enabled (SURVEY.md §4)."""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as E
from cadastre_pg_spark.operators.held import release_cached
from cadastre_pg_spark.plans.audit import (
    PYTHON_NODES,
    audit,
    executed_census,
    execution_ids,
    plan_has,
    scan_read_schema,
)
from conftest import SF_UNIT


def test_filter_and_column_pushdown(spark):
    li = spark.read.parquet(f"{SF_UNIT}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1995-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    a = audit(q)
    assert a["pushed_filters"], "shipdate filter did not reach the scan"
    schemas = scan_read_schema(q)
    # scan reads only the 3 needed columns, not all 11
    assert any(
        set(s) <= {"l_orderkey", "l_extendedprice", "l_shipdate"} for s in schemas
    ), schemas


def test_flagship_join_is_broadcast_and_codegen(spark):
    before = execution_ids(spark)
    df = E.queries()["flagship_cell_join"](spark, SF_UNIT)
    a = audit(df)
    assert a["broadcast_join"], "cell join should broadcast the cover at this scale"
    assert a["aqe"]
    df.collect()
    census = executed_census(spark, before)
    release_cached(df)
    # one probe pass: one cover broadcast, no union of branches, and
    # the only Python node is polyfill, under the broadcast
    assert census["broadcasts"] == 1, census
    assert census["unions"] == 0, census
    assert census["python_probe"] == 0, census
    assert census["python_build"] == 1, census
    # codegen spans are hidden inside AdaptiveSparkPlan pre-execution;
    # disable AQE for the shape check only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df2 = E.queries()["flagship_cell_join"](spark, SF_UNIT)
        assert audit(df2)["codegen"]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_probe_side_has_no_pre_join_shuffle(spark):
    """On the broadcast path the probe side must flow scan->join with
    no hash-partition exchange before the join."""
    from cadastre_pg_spark.operators.spatial_join import (
        cell_spatial_join,
        parcels_from_parts,
        points_from_docs,
    )

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    out = cell_spatial_join(
        points_from_docs(docs), parcels_from_parts(parts), strategy="broadcast"
    )
    # full-hit branch: select point/parcel pairs — pure narrow plan
    assert not audit(out)["shuffle_exchange"]


def test_shuffle_path_bbox_is_join_free(spark):
    """On the shuffle strategy (build side too big to broadcast) the
    containment test reads only the cover rows' own edge lists — any
    broadcast there (of rings or bboxes) would scale with parcel count,
    i.e. blow up exactly when the shuffle path was chosen to avoid
    that."""
    from cadastre_pg_spark.operators.spatial_join import (
        cell_spatial_join,
        parcels_from_parts,
        points_from_docs,
    )

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = cell_spatial_join(
            points_from_docs(docs),
            parcels_from_parts(parts),
            strategy="shuffle",
            salt_hot=0,
        )
        a = audit(out)
        assert not a["broadcast_join"], "shuffle path must not broadcast"
        assert a["shuffle_exchange"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tpch_q1_partial_aggregation(spark):
    df = E.queries()["tpch_q1"](spark, SF_UNIT)
    # map-side partial agg before the exchange (HashAggregate x2)
    s_plan = __import__(
        "cadastre_pg_spark.plans.audit", fromlist=["explain_string"]
    ).explain_string(df)
    assert s_plan.count("HashAggregate") >= 2
    assert audit(df)["pushed_filters"]


def test_dedup_anti_is_broadcast(spark):
    df = E.queries()["dedup_anti"](spark, SF_UNIT)
    assert plan_has(df, "BroadcastHashJoin") or plan_has(df, "BroadcastNestedLoop")


def test_exact_dedup_shuffles_hash_not_text(spark):
    """exact_dedup's exchange key must be the sha, never the document:
    the partial HashAggregate's grouping (and therefore the shuffle)
    carries 64 hex chars per group; `text` appears only below the scan
    projection that feeds the hash."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["dedup_exact"](spark, SF_UNIT)
    s_plan = explain_string(df)
    assert s_plan.count("HashAggregate") >= 2  # map-side partial agg
    assert "sha2" in s_plan
    # no exchange may hash-partition on the raw text column
    for line in s_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_line_assembly_is_pure_jvm(spark):
    """G5 line building must stay inside Catalyst (collect/flatten/
    aggregate folds) — no Python evaluation node anywhere."""
    df = E.queries()["line_assembly"](spark, SF_UNIT)
    a = audit(df)
    assert not a["arrow_eval"], "line assembly must not touch Python"


def test_repair_rung_is_pure_jvm(spark):
    from cadastre_pg_spark.operators.assembly import repair_flat_polygons

    df = spark.createDataFrame(
        [("f", [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0], [0, 4])],
        "feature_id string, xs array<double>, ys array<double>, ring_offsets array<int>",
    )
    assert not audit(repair_flat_polygons(df))["arrow_eval"]


def test_stratified_sample_is_shuffle_free_scan_filter(spark):
    """The mixture sampler must stay a scan-level filter: no exchange,
    no aggregation, pure codegen."""
    df = E.queries()["stratified_sample"](spark, SF_UNIT)
    a = audit(df)
    assert not a["shuffle_exchange"], "rate sampling must not shuffle"
    assert a["codegen"] and a["columnar_scan"]


def test_pack_tokens_single_exchange_on_writer(spark):
    """Packing shuffles exactly once — on the writer routing key — then
    runs the window cumsum within partitions."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["pack_tokens"](spark, SF_UNIT)
    s = explain_string(df, "formatted")
    assert s.count("Arguments: hashpartitioning(writer") == 1, s
    # no second hash exchange for any other key
    assert s.count("hashpartitioning(") == s.count("hashpartitioning(writer"), s


def test_contamination_broadcasts_the_eval_side(spark):
    """The eval shingle stream is the small side; the train-hash join
    must be a broadcast, never a sort-merge over the train set."""
    df = E.queries()["contamination"](spark, SF_UNIT)
    assert audit(df)["broadcast_join"]


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """A naive range-predicate join can only be a
    BroadcastNestedLoopJoin; the bucketed formulation must plan as a
    hash equi-join on the bucket key with the range as residual."""
    from cadastre_pg_spark.plans.audit import explain_string

    for name in ("event_concurrency", "session_overlap"):
        df = E.queries()[name](spark, SF_UNIT)
        s = explain_string(df, "formatted")
        assert "NestedLoop" not in s, name
        assert ("BroadcastHashJoin" in s) or ("SortMergeJoin" in s) or (
            "ShuffledHashJoin" in s
        ), name


def test_simplify_is_map_only(spark):
    """Vertex reduction must not exchange — fold + explode in place."""
    from cadastre_pg_spark.data.parcels import generate_star_parcels
    from cadastre_pg_spark.operators.simplify import simplify_radial

    df = simplify_radial(
        generate_star_parcels(spark, 50, partitions=4, size_scale=20.0), tol=0.05
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hll_is_two_stage_partial_aggregate(spark):
    """Registers must combine map-side: two HashAggregate pairs (the
    (grp,bucket) MAX and the per-group combine), value never shuffles
    raw."""
    from cadastre_pg_spark.operators.sketches import hll_distinct

    docs = spark.createDataFrame(
        [("a", f"v{i}") for i in range(100)], "grp string, v string"
    )
    df = hll_distinct(docs, "grp", "v")
    plan = df._jdf.queryExecution().executedPlan().toString(); low = plan.lower()
    assert low.count("hashaggregate") >= 4  # partial+final x 2 stages
    assert "partial_max" in low or "partial" in low


def test_zscore_stats_join_broadcasts(spark):
    """The per-group moments table is tiny — joining it back onto the
    scan must broadcast, never shuffle the fact side."""
    from cadastre_pg_spark.operators.stats import zscore_outliers

    ev = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    df = zscore_outliers(ev, "event_type", "value", "event_id", threshold=1.65)
    a = audit(df)
    assert a["broadcast_join"], "moments join should broadcast"


def test_dup_spans_shuffles_hash_not_text(spark):
    """The repeated-window census and occurrence join must carry only
    (doc_id, pos, h) through exchanges — never document text — and
    stay pure JVM."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["dup_spans"](spark, SF_UNIT)
    s = explain_string(df)
    assert s.count("HashAggregate") >= 2
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line
    assert not audit(df)["arrow_eval"]


def test_surprisal_is_pure_jvm_narrow_keys(spark):
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["surprisal"](spark, SF_UNIT)
    a = audit(df)
    assert not a["arrow_eval"]
    for line in explain_string(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_idw_is_one_aggregate_no_join(spark):
    """IDW is explode + one cell aggregate: no join operator at all,
    no Python."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["idw"](spark, SF_UNIT)
    s = explain_string(df)
    assert "Join" not in s, "idw must not join"
    assert not audit(df)["arrow_eval"]


def test_parcel_overlap_broadcasts_cell_join(spark):
    df = E.queries()["parcel_overlap"](spark, SF_UNIT)
    a = audit(df)
    assert a["broadcast_join"], "cell self-join should broadcast at this scale"
    assert not a["arrow_eval"]


def test_weighted_sample_global_is_take_ordered(spark):
    """Global top-k must be a TakeOrdered (per-partition heaps), never
    a single-task window sort."""
    from cadastre_pg_spark.operators.corpus import weighted_sample
    from cadastre_pg_spark.plans.audit import explain_string

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    df = weighted_sample(docs, k=10, weight_col="n_chars")
    assert "TakeOrdered" in explain_string(df)


def test_new_joins_avoid_nested_loop_and_cartesian(spark):
    """The round-3 candidate-join operators (setsim, snap,
    seg_intersect, hausdorff) must plan as equi-joins on their
    blocking keys — never BroadcastNestedLoopJoin / CartesianProduct,
    which would mean Catalyst saw only a range predicate."""
    for name in ["setsim", "snap", "seg_intersect", "hausdorff"]:
        df = E.queries()[name](spark, SF_UNIT)
        assert not plan_has(df, "CartesianProduct"), name
        assert not plan_has(df, "BroadcastNestedLoopJoin"), name


def test_concurrency_profile_has_no_global_window(spark):
    """The sweep-line cumsum must window per chunk, never over an
    empty partition spec (the single-task global sort trap)."""
    df = E.queries()["peak_concurrency"](spark, SF_UNIT)
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        first = m.group(1).split(",")[0]
        # a GLOBAL window's spec starts with an ORDER expression
        # ("ts ASC NULLS FIRST"); a partitioned one starts with the
        # bare partition attribute
        assert " ASC" not in first and " DESC" not in first, m.group(1)


def test_heavy_hitters_recount_is_broadcast(spark):
    """Pass 2 must broadcast the Misra-Gries candidate set against the
    exploded corpus — a sort-merge join there would shuffle every
    token occurrence, the exact cost the operator exists to avoid."""
    df = E.queries()["heavy_hitters"](spark, SF_UNIT)
    assert plan_has(df, "BroadcastHashJoin")
    assert not plan_has(df, "SortMergeJoin")


def test_group_hull_single_exchange(spark):
    """The hull pipeline's only exchange is the candidate shuffle onto
    the group key — the per-partition prune stage must not add one."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["group_hull"](spark, SF_UNIT)
    s = explain_string(df)
    assert s.count("Exchange") <= 2, s  # hash exchange (+AQE read)
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s


def test_path_interp_single_exchange(spark):
    """Cumulative window, per-user total, crossing filter and lerp all
    ride ONE exchange on user_id — no join, no second shuffle."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["path_interp"](spark, SF_UNIT)
    s = explain_string(df)
    assert s.count("Exchange") <= 2, s
    assert "Join" not in s, s


def test_winsor_bounds_join_is_broadcast(spark):
    """The per-group percentile bounds table is dimension-sized — the
    clamp join must broadcast it, never shuffle the event scan."""
    df = E.queries()["winsor_stats"](spark, SF_UNIT)
    assert plan_has(df, "BroadcastHashJoin")
    assert not plan_has(df, "SortMergeJoin")


def test_dsir_is_pure_jvm_narrow_keys(spark):
    """dsir_logratio must stay JVM-side (no Python stage) and never
    shuffle raw text — every exchange keys on the 8-byte token hash
    or doc_id (the surprisal rule)."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["dsir_logratio"](spark, SF_UNIT)
    a = audit(df)
    assert not a["arrow_eval"]
    for line in explain_string(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_semdedup_pair_grid_is_narrow(spark):
    """The within-cluster pair join must key on list_id with only id
    columns in flight; raw vectors attach AFTER pair generation by id
    join (the narrow-pair rule). Assert no exchange hash-partitions on
    an array payload column."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["semdedup"](spark, SF_UNIT)
    try:
        for line in explain_string(df).splitlines():
            if "Exchange hashpartitioning" in line:
                assert "arr" not in line and "embedding" not in line, line
    finally:
        release_cached(df)


def test_gopher_rules_is_map_only(spark):
    """Quality rule flags must be scan-level column arithmetic: no
    exchange, no Python stage, no explode."""
    df = E.queries()["gopher_rules"](spark, SF_UNIT)
    a = audit(df)
    assert not a["shuffle_exchange"]
    assert not a["arrow_eval"]


def test_dsir_select_global_topk_is_take_ordered(spark):
    """The selection step must use Spark's top-k heap (TakeOrdered),
    not a full global sort."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["dsir_select"](spark, SF_UNIT)
    plan = explain_string(df, mode="simple")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_script_ratios_is_map_only(spark):
    df = E.queries()["script_ratios"](spark, SF_UNIT)
    a = audit(df)
    assert not a["shuffle_exchange"]
    assert not a["arrow_eval"]


def test_bigram_surprisal_is_pure_jvm_narrow_keys(spark):
    """Token hashes, not text, are the only shuffle keys; no Python."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["bigram_surprisal"](spark, SF_UNIT)
    a = audit(df)
    assert not a["arrow_eval"]
    for line in explain_string(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_hash_split_is_shuffle_free(spark):
    df = E.queries()["hash_split"](spark, SF_UNIT)
    a = audit(df)
    assert not a["shuffle_exchange"]
    assert not a["arrow_eval"]


def test_novelty_score_shuffles_hash_not_text(spark):
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["novelty_score"](spark, SF_UNIT)
    a = audit(df)
    assert not a["arrow_eval"]
    for line in explain_string(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_blocklist_and_url_filter_are_map_only(spark):
    """Both prefilters are pure codegen projections: zero exchanges,
    no Python, the blocklist baked in as a plan literal."""
    for name in ("blocklist_filter", "url_filter"):
        df = E.queries()[name](spark, SF_UNIT)
        a = audit(df)
        assert not a["shuffle_exchange"], name
        assert not a["arrow_eval"], name
        assert a["codegen"], name


def test_char_entropy_shuffles_narrow_census_not_text(spark):
    """The census key is (doc_id, single-char) -- full text never
    becomes an exchange key."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["char_entropy"](spark, SF_UNIT)
    a = audit(df)
    assert not a["arrow_eval"]
    for line in explain_string(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_bloom_contamination_probe_has_no_join_no_shuffle(spark):
    """The decontamination probe is ONE Arrow pass: no join operator
    and no exchange anywhere in the probe plan (the eval bitmap was
    collected driver-side and broadcast as a python value)."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["bloom_contamination"](spark, SF_UNIT)
    s = explain_string(df)
    assert "Join" not in s, s[:2000]
    assert "Exchange" not in s, s[:2000]
    assert "MapInArrow" in s or "ArrowEvalPython" in s or "PythonMapInArrow" in s, s[:500]


def test_jl_project_is_single_arrow_pass_no_shuffle(spark):
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["jl_project"](spark, SF_UNIT)
    s = explain_string(df)
    assert "Exchange" not in s, s[:2000]
    assert "Join" not in s


def test_temperature_mixture_broadcasts_rates_onto_scan(spark):
    """The derived-rate table joins back as a broadcast -- the corpus
    never shuffles for its own sampling."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["temperature_mixture"](spark, SF_UNIT)
    a = audit(df)
    assert a["broadcast_join"]
    # the only hash exchanges are group-key-sized (grp), never doc text
    for line in explain_string(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_sorted_neighborhood_pairs_without_self_join(spark):
    """Candidate generation is window lags: exactly the block sort
    exchanges plus the two id-keyed token attaches -- the pair stage
    itself contributes no join. Count joins: the plan's only joins are
    the two token attach equi-joins."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["sorted_neighborhood"](spark, SF_UNIT)
    s = explain_string(df)
    # formatted mode prints one "Join type:" detail per join operator
    assert s.count("Join type:") == 2, s[:3000]
    assert "Window" in s


def test_spearman_ranks_in_one_exchange(spark):
    """All four rank windows and the count window partition by the
    GROUP key only (no (group, value) repartition for tie counting),
    so the whole rank stage runs after ONE shuffle of the scan; the
    moment aggregate adds the usual partial/final pair on the same
    key. Expect exactly 2 exchanges: scan->group-partition windows,
    then the final single-key aggregate exchange."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["spearman_corr"](spark, SF_UNIT)
    s = explain_string(df)
    assert s.count("Exchange") <= 2, s[:3000]
    assert "Window" in s


def test_embedding_contamination_no_shuffle_no_join(spark):
    """Broadcast eval matrix + one matmul per batch: the plan is scan
    -> mapInArrow -> project, with no Exchange and no Join anywhere
    (the |train| x |eval| pair space exists only inside the kernel)."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["embedding_contamination"](spark, SF_UNIT)
    s = explain_string(df)
    assert "Exchange" not in s, s[:3000]
    assert "Join type:" not in s, s[:3000]


def test_inverted_index_shares_census_and_salts_the_rank(spark):
    """The (term, doc) tf census is persisted and read by BOTH
    branches (rank + df/cf stats) via InMemoryTableScan — the corpus
    is tokenized once, not per consumer. Both WindowGroupLimit rungs
    (the salted phase-1 and the per-term phase-2 top-k) must appear,
    and no window ever partitions by raw text. Formatted explain
    prints each physical Exchange twice (tree + detail), so the
    threshold is 2x the physical count."""
    from cadastre_pg_spark.plans.audit import explain_string

    # order-independence: a cached lineage left by another test file
    # can substitute into this plan and add exchanges around the
    # foreign InMemoryRelation's partitioning — audit OUR plan only
    spark.catalog.clearCache()
    df = E.queries()["inverted_index"](spark, SF_UNIT)
    s = explain_string(df)
    assert "InMemoryTableScan" in s, s[:3000]
    assert "WindowGroupLimit" in s, s[:3000]
    assert s.count("Exchange") <= 12, s[:3000]
    release_cached(df)


def test_global_shuffle_single_exchange(spark):
    """The shard-routing window is the ONLY exchange: hash + pmod are
    scan-level projections and row_number partitions by shard.
    (Formatted explain prints the one physical Exchange twice.)"""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["global_shuffle"](spark, SF_UNIT)
    s = explain_string(df)
    assert s.count("Exchange") == 2, s[:3000]
    assert "Window" in s


def test_linear_score_broadcast_model_single_shuffle(spark):
    """The weight table is a broadcast build side; feature extraction
    is the narrow union of two codegen explode branches; the per-doc
    sum partial-aggregates map-side. Exactly one shuffle exchange
    (the doc_id agg) plus the broadcast exchange — each printed twice
    in formatted mode."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["linear_score"](spark, SF_UNIT)
    s = explain_string(df)
    assert "BroadcastHashJoin" in s, s[:3000]
    assert s.count("Exchange") <= 4, s[:3000]


def test_bq_topk_hamming_grid_is_broadcast_and_narrow(spark):
    """The hamming prescreen must broadcast the query masks (never
    shuffle the corpus for the pair grid) and the rerank joins must be
    broadcasts too — the corpus-side exchange count stays at the two
    window partitionings, not pair-grid keys."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["bq_topk"](spark, SF_UNIT)
    a = audit(df)
    assert a["broadcast_join"], "query masks must broadcast"
    s = explain_string(df, "formatted")
    # both windows partition by q_id; no other hash exchange keys
    assert s.count("Arguments: hashpartitioning(q_id") == s.count(
        "Arguments: hashpartitioning("
    ), s


def test_vocab_coverage_ranks_survivors_only(spark):
    """The global ranking must be TakeOrderedAndProject over the
    census (top-max(k) survivors), never a vocab-wide row_number."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["vocab_coverage"](spark, SF_UNIT)
    s = explain_string(df, "formatted")
    assert "TakeOrderedAndProject" in s, s


def test_bpe_apply_is_pure_codegen_map(spark):
    """The merge-chain encode is a single codegen map stage: no
    shuffle, no Python, scan -> project."""
    df = E.queries()["bpe_apply"](spark, SF_UNIT)
    a = audit(df)
    assert not a["shuffle_exchange"], "bpe_apply must not shuffle"
    assert not a["arrow_eval"], "bpe_apply must stay JVM-side"
    assert a["codegen"] and a["columnar_scan"]


def test_calibration_ece_bins_single_corpus_exchange(spark):
    """The corpus collapses onto <= n_bins keys in one exchange; the
    total comes back as a broadcast, not a second corpus pass."""
    from cadastre_pg_spark.plans.audit import explain_string

    df = E.queries()["calibration_ece"](spark, SF_UNIT)
    a = audit(df)
    assert a["broadcast_join"], "one-row total must broadcast back"
    s = explain_string(df, "formatted")
    assert s.count("Arguments: hashpartitioning(bin") >= 1, s


def test_haversine_legs_one_exchange_pruned_scan(spark):
    """The geodesic leg rollup must be ONE exchange end-to-end: the
    lag window shuffles on user_id and the groupBy reuses that
    partitioning; the scan reads only (event_id, user_id) — lon/lat
    are derived columns. The giant series polynomial must stay a
    single codegen projection (no Python, no extra stage)."""
    from cadastre_pg_spark.plans.audit import explain_string

    spark.catalog.clearCache()  # foreign InMemoryRelation adds exchanges
    df = E.queries()["haversine_legs"](spark, SF_UNIT)
    s = explain_string(df, "simple")  # one line per node (no detail dup)
    assert s.count("Exchange") == 1, s[:3000]
    assert "Window" in s
    schemas = scan_read_schema(df)
    assert any(set(s_) <= {"event_id", "user_id"} for s_ in schemas), schemas
    assert not audit(df)["arrow_eval"]  # no Python anywhere


def test_bleu_eval_single_gram_aggregate(spark):
    """All four explode branches (ref/hyp x uni/bi) union into ONE
    (doc_id, ord, gram) hash aggregate with map-side partials: expect
    the gram census exchange plus the doc rollup exchange, and no
    join anywhere."""
    from cadastre_pg_spark.plans.audit import explain_string

    spark.catalog.clearCache()
    df = E.queries()["bleu_eval"](spark, SF_UNIT)
    s = explain_string(df, "simple")  # one line per node (no detail dup)
    assert s.count("Exchange") <= 2, s[:3000]
    assert "Join" not in s
    assert not audit(df)["arrow_eval"]


def test_radius_gyration_one_exchange_pruned_scan(spark):
    """The dispersion rollup matches haversine_legs' topology: the
    ONLY exchange is the window's user_id hash partition (centroid
    sums attach per-row with no agg+join-back), and the final groupBy
    reuses it; the scan reads just (event_id, user_id)."""
    from cadastre_pg_spark.plans.audit import explain_string

    spark.catalog.clearCache()
    df = E.queries()["radius_gyration"](spark, SF_UNIT)
    s = explain_string(df, "simple")
    assert s.count("Exchange") == 1, s[:3000]
    assert "Window" in s
    schemas = scan_read_schema(df)
    assert any(set(s_) <= {"event_id", "user_id"} for s_ in schemas), schemas
    assert not audit(df)["arrow_eval"]


def test_od_matrix_two_exchanges_no_window_after_election(spark):
    """The OD census is one user-keyed exchange (the trip-split window
    and the per-trip struct-min/max election ride it) plus one narrow
    (o_cell, d_cell) rollup exchange; the first/last election is the
    map-side max-struct idiom, so NO window function runs after the
    per-trip aggregate, and no Python node exists (round-5 verdict
    item: the most join-like mobility op gets the same audit as its
    siblings)."""
    from cadastre_pg_spark.plans.audit import explain_string

    spark.catalog.clearCache()
    df = E.queries()["od_matrix"](spark, SF_UNIT)
    s = explain_string(df, "simple")
    assert s.count("Exchange") <= 2, s[:3000]
    # the trip-split window chain (lag/cumsum/lag, one shared user_id
    # spec) sits BELOW the per-trip election aggregate: every Window
    # node line is deeper in the plan than the first HashAggregate,
    # i.e. the first/last-point election is map-side max-struct, not a
    # post-aggregation window
    lines = s.splitlines()
    first_agg = min(
        i for i, ln in enumerate(lines) if "HashAggregate" in ln
    )
    win_lines = [i for i, ln in enumerate(lines) if "+- Window" in ln]
    assert win_lines and all(i > first_agg for i in win_lines), s[:3000]
    assert not audit(df)["arrow_eval"]


def test_trip_segments_one_exchange(spark):
    """Sessionize's two ordered windows and the leg lag share one
    partition+sort spec, and the (user, trip) groupBy is satisfied by
    the user hash partitioning — the whole mobility rollup is ONE
    exchange, no Python."""
    from cadastre_pg_spark.plans.audit import explain_string

    spark.catalog.clearCache()
    df = E.queries()["trip_segments"](spark, SF_UNIT)
    s = explain_string(df, "simple")
    assert s.count("Exchange") == 1, s[:3000]
    assert not audit(df)["arrow_eval"]


def test_tiling_is_pure_jvm(spark):
    """raster_burn, tile_assign and tile_extract compute the mask in
    closed form from the ring bbox: their executed plans must hold no
    Python evaluation node (a polyfill would bring back the Arrow
    round-trip of every fine cell)."""
    for name in ("raster_burn", "tile_assign", "tile_extract"):
        df = E.queries()[name](spark, SF_UNIT)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan and "Scan parquet" in plan, plan
        for node in PYTHON_NODES:
            assert node not in plan, f"{name}: {node}\n{plan}"


# Python nodes of each vector-family query's executed plans at sf0.001
# (a cached plan counts under every scan that reads it). Every one is
# a shared Arrow core of operators/similarity.py.
VECTOR_PYTHON_NODES = {
    "topk_similarity": 1,
    "ann_topk": 3,
    "ivf_topk": 3,
    "semdedup": 6,
    "pq_encode": 1,
    "pq_topk": 3,
    "embedding_contamination": 1,
    "mrl_overlap": 2,
    "bq_topk": 3,
    "embedding_neardup": 3,
    "quantize_int8": 1,
    "jl_project": 2,
}


@pytest.mark.parametrize("name", sorted(VECTOR_PYTHON_NODES))
def test_vector_family_python_nodes_are_arrow(spark, name):
    """The vector family crosses the Python boundary only through
    mapInArrow (zero-copy list views); a MapInPandas would box every
    vector element, and a new node must be added here knowingly."""
    before = execution_ids(spark)
    df = E.queries()[name](spark, SF_UNIT)
    df.collect()
    census = executed_census(spark, before)
    release_cached(df)
    assert census["python"] == {"MapInArrow": VECTOR_PYTHON_NODES[name]}, census


def test_hex_probe_evaluates_the_cell_once(spark):
    """The hex cell is appended by one Arrow pass on the probe side, so
    the join's inferred isnotnull(cell) filter reads the column rather
    than running the codec again; polyfill is the one build-side node."""
    before = execution_ids(spark)
    df = E.queries()["hex_spatial_join"](spark, SF_UNIT)
    df.collect()
    census = executed_census(spark, before)
    release_cached(df)
    assert census["python_probe"] == 1, census
    assert census["python_build"] == 1, census
