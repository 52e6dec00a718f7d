"""Physical-plan assertions (SURVEY.md §4): the scale posture is not
aspirational — pushdown, pruning, broadcast strategy, and top-k physical
operators are asserted on the executed plans of the catalog queries.

These tests pin the plan *shape* that must survive a 100×/1000× scale-up:
a filter that doesn't reach the scan, or a dim join that shuffles the fact
side, is a perf bug even while results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.plans import REGISTRY
from monitoring_data_ingestion_spark.sources.readers import table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def q(name):
    return REGISTRY[name].fn


def test_q6_filters_pushed_to_scan(spark):
    """Q6's three predicates must reach the parquet scan as PushedFilters
    and the scan must read only the referenced columns."""
    plan = _plan(q("q6_forecast_revenue")(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400]
    read = plan.split("ReadSchema")[1][:300]
    assert "l_orderkey" not in read  # untouched column pruned from the scan


def test_bbox_filter_pushdown(spark):
    plan = _plan(q("filter_bbox_pushdown")(spark, SF_SMOKE))
    # toString truncates the filter list — assert the visible prefix.
    pushed = plan.split("PushedFilters")[1][:400]
    assert "GreaterThanOrEqual(l_quantity" in pushed


def test_dim_joins_broadcast_not_shuffle(spark):
    """q5/q9: every dimension join must be broadcast — the fact table is
    exchanged only for its aggregation, never to co-locate with a dim."""
    for name in ("q5_region_revenue", "q9_profit_by_nation", "join_broadcast_dims"):
        plan = _plan(q(name)(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_topk_is_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject (per-
    partition heaps), not a global sort."""
    plan = _plan(q("topk_orders")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_no_cartesian_in_blocked_similarity(spark):
    """LSH/minhash candidate generation must never be a cross product —
    the whole point of blocking. Holds for every variant, including the
    hot-bucket-capped form and the n-gram inverted-index join."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_capped",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_ngram_jaccard",
    ):
        plan = _plan(q(name)(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ivf_codebook_is_broadcast(spark):
    """knn_ivf's corpus×codebook affinity must broadcast the codebook (a
    k×dim table) — the corpus side stays map-only for assignment. Same
    contract for the Lloyd-trained variant's serving plan."""
    for name in ("knn_ivf", "knn_ivf_trained"):
        plan = _plan(q(name)(spark, SF_SMOKE))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name


def test_pq_lut_is_broadcast_no_cartesian(spark):
    """PQ scoring must probe the query LUT via broadcast hash join on the
    (m, code) key — an un-keyed LUT lookup would plan as a nested-loop
    product over the corpus codes."""
    for name in ("knn_pq_scan", "knn_ivf_pq"):
        plan = _plan(q(name)(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_aggregation_is_two_phase(spark):
    """q1's aggregation must be partial (map-side) then final — the
    exchange carries |groups| rows, not the fact table."""
    plan = _plan(q("q1_pricing_summary")(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_whole_stage_codegen_covers_scan_agg(spark):
    """The scan→filter→project→partial-agg pipeline must be inside a
    codegen stage (the `*(n)` markers in the final adaptive plan)."""
    df = q("q6_forecast_revenue")(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_no_python_in_relational_paths(spark):
    """Only the explicitly-sanctioned byte-codec / multimodal operators
    (tagged ``python`` in the registry) and the streaming runtime may
    cross the Python boundary; every relational/text/similarity query
    must stay JVM-side. r8 hardening: match ALL Arrow/Pandas physical
    node spellings, not just "Python" — ``mapInPandas`` renders as
    ``MapInPandas`` and previously sailed through this guard (its
    dedicated per-query crossing-count tests enforced the codec paths,
    but an ACCIDENTAL crossing in a relational query went unwatched).
    The sanctioned set itself is pinned so a query can't silently
    self-allowlist: growing it is a visible diff here."""
    import re

    boundary = re.compile(
        r"MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
        r"MapInArrow|FlatMapGroupsInArrow|ArrowEvalPython|BatchEvalPython|"
        r"PythonMapInArrow|Python"
    )
    python_ok = {n for n, s in REGISTRY.items() if "python" in s.tags}
    assert python_ok == {
        "grid_grib1_anomaly",
        "grid_grib1_decode",
        "grid_grib1_inventory",
        "grid_grib1_landing_scan",
        "grid_grib2_complex_decode",
        "grid_grib2_gaussian_decode",
        "grid_grib2_jpeg2000_decode",
        "grid_grib2_lambert_decode",
        "grid_grib2_mercator_decode",
        "grid_grib2_polar_decode",
        "grid_grib2_rotated_decode",
        "grid_grib2_stretched_decode",
        "grid_grib1_forecast_lead_scan",
        "grid_grib1_gaussian_scan",
        "grid_grib1_rotated_scan",
        "grid_geotiff_publish_scan",
        "grid_grib1_reduced_bitmap_scan",
        "grid_grib2_reduced_bitmap_scan",
        "grid_grib2_runlength_scan",
        "grid_grib2_reforecast_scan",
        "grid_grib1_reduced_latlon_scan",
        "grid_grib1_reduced_scan",
        "grid_grib1_second_order_scan",
        "grid_grib1_spectral_complex_scan",
        "grid_grib2_cluster_scan",
        "grid_grib2_deprecated_satellite_scan",
        "grid_grib2_diff_missing_scan",
        "grid_grib2_ieee_float_scan",
        "grid_grib2_secondary_missing_scan",
        "grid_grib2_aec_scan",
        "grid_grib2_log_scan",
        "grid_grib2_chemistry_scan",
        "grid_grib2_aerosol_scan",
        "grid_grib2_ensemble_satellite_scan",
        "grid_grib2_error_scan",
        "grid_grib2_radar_scan",
        "grid_grib2_satellite_scan",
        "grid_grib_quarantine_scan",
        "grid_grib2_derived_ensemble_scan",
        "grid_grib2_ensemble_scan",
        "grid_grib2_forecast_lead_scan",
        "grid_grib2_match_decode",
        "grid_grib2_percentile_scan",
        "grid_grib2_probability_scan",
        "grid_grib2_multifield_scan",
        "grid_grib2_reduced_gaussian_decode",
        "grid_grib2_match_level_decode",
        "grid_grib2_spectral_complex_decode",
        "grid_grib2_spectral_synthesis",
        "grid_grib_inventory_robust_scan",
        "grid_grib_inventory_scan",
        "grid_grib_spectral_landing",
        "grid_grib_layer_scan",
        "grid_grib_match_lead_scan",
        "grid_grib_spectral_roundtrip",
        "grid_grib_mixed_scan",
        "grid_grib_projected_landing",
        "grid_grib_statistical_scan",
        "multimodal_audio_energy",
        "multimodal_feature_extract",
        "multimodal_image_decode_stats",
        "multimodal_image_phash_neardup",
        "multimodal_video_scene_cut",
    }
    for name, spec in sorted(REGISTRY.items()):
        if name in python_ok or name.startswith("stream_"):
            continue
        plan = _plan(spec.fn(spark, SF_SMOKE))
        m = boundary.search(plan)
        assert m is None, f"{name} crosses the Python boundary ({m.group(0)})"


def test_no_hand_rolled_exact_sums():
    """Every double-of-an-exact-decimal-sum goes through
    ``functions.deterministic.exact_sum``: a source scan finds no
    ``F.sum(...)`` over a decimal cast anywhere else. The allowlisted
    sites keep the DECIMAL sum itself: stored or salted partials that a
    later sum merges, a counter taken modulo 10^4, and cumulative CUSUM
    sums whose running extreme is subtracted exactly before the cast."""
    import ast
    import re
    from pathlib import Path

    import monitoring_data_ingestion_spark as pkg

    allowed = {
        ("operators/incremental.py", "partial_aggregates"),
        ("plans/relational_ext.py", "agg_salted_skew"),
        ("plans/timeseries.py", "ts_counter_rate"),
        ("plans/timeseries.py", "ts_cusum_changepoint"),
    }
    decimal_cast = re.compile(r"\.cast\(\s*(f?[\"']decimal\(|_[A-Z_]*DEC\b)")
    root = Path(pkg.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/deterministic.py":
            continue
        src = path.read_text()
        tree = ast.parse(src)
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sum"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and decimal_cast.search(ast.get_source_segment(src, node))
            ):
                outer = [f for f in funcs if f.lineno <= node.lineno <= f.end_lineno]
                found.add((rel, outer[0].name if outer else f"line {node.lineno}"))
    assert found == allowed


def test_one_publish_rule_on_disk():
    """Files reach disk through ``ingest.sinks.atomic_open`` and session
    scratch trees through ``session_cache.scratch_tree``: a source scan
    finds no other ``os.rename``/``os.replace`` and no query module that
    picks its own temp dir or registers its own exit sweep. The
    allowlisted renames are different operations: the directory swap
    ``ingest.sinks.swap_dirs`` (``forage``, ``compact_parquet`` and the
    grid landing fixture move Spark staging writes into place through
    it), stranded-swap recovery, and a part-file move out of a Spark
    staging write."""
    import ast
    from pathlib import Path

    import monitoring_data_ingestion_spark as pkg

    allowed_renames = {
        ("ingest/sinks.py", "atomic_open"),
        ("ingest/sinks.py", "swap_dirs"),
        ("operators/compaction.py", "recover_compaction"),
        ("scripts/scale_probe.py", "_write_single_file"),
    }
    root = Path(pkg.__file__).parent
    renames, scaffolds = set(), set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute) or not isinstance(node.value, ast.Name):
                continue
            outer = [f for f in funcs if f.lineno <= node.lineno <= f.end_lineno]
            where = (rel, outer[-1].name if outer else f"line {node.lineno}")
            call = (node.value.id, node.attr)
            if call in (("os", "rename"), ("os", "replace")):
                renames.add(where)
            if rel.startswith("plans/") and call in (
                ("tempfile", "gettempdir"),
                ("atexit", "register"),
            ):
                scaffolds.add(where)
    assert renames == allowed_renames
    assert scaffolds == set()


def test_headline_exact_sums_aggregate_over_longs(spark):
    """Plan-only pin for the r16 headline speedup: the exact sums of q1,
    q3 and q5 run as long sums (DecimalAggregates' UnscaledValue rewrite
    or the two-limb div/mod split), and no decimal(30,·) BigDecimal sum
    reaches a HashAggregate."""
    import re

    limb = re.compile(r" (?:div|%) 1000000\)\)")
    for name in ("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue"):
        df = q(name)(spark, SF_SMOKE)
        funcs = re.findall(r"HashAggregate\(keys=\[.*?\], functions=\[(.*)\]", _plan(df))
        assert funcs, name
        n_sums = 0
        for f in funcs:
            assert "decimal(30," not in f, (name, f)
            n_sums += f.count("sum(")
            assert f.count("sum(") == f.count("sum(UnscaledValue(") + len(limb.findall(f)), (
                name,
                f,
            )
        assert n_sums > 0, name
    assert "UnscaledValue" in _optimized(q("q1_pricing_summary")(spark, SF_SMOKE))


def test_semi_join_for_exists(spark):
    """q4's correlated EXISTS must be a left-semi hash join."""
    plan = _plan(q("q4_order_priority")(spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """A month-partitioned write + month predicate must prune partitions at
    the scan (PartitionFilters), the 100 TB layout contract."""
    path = str(tmp_path / "events_by_day")
    e = table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    e.write.partitionBy("day").mode("overwrite").parquet(path)
    days = sorted(r["day"] for r in e.select("day").distinct().collect())
    back = spark.read.parquet(path).filter(F.col("day") == days[0])
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(day" in plan
    assert back.count() == e.filter(F.col("day") == days[0]).count()


def test_range_join_is_bucketized_equi_join(spark):
    """ts_range_join's interval predicate must ride an equi-join on
    (user, bucket) — an inequality-only join would plan as a
    broadcast-nested-loop and die at scale."""
    plan = _plan(q("ts_range_join")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must be broadcast (one-row array); the
    corpus side must not be exchanged for the overlap computation."""
    plan = _plan(q("contamination_ngram_overlap")(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan


def test_contamination_join_form_has_no_bench_array(spark):
    """The eval-suite-scale decontamination must match shingles via a
    broadcast hash join on the shingle key — no collected benchmark array,
    no per-row array_intersect (the single-row broadcast breaks past a few
    million benchmark shingles)."""
    plan = _plan(q("contamination_shingle_join")(spark, SF_SMOKE))
    assert "array_intersect" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_window_is_partitioned(spark):
    """Packing's running sum must be a (language × shard)-partitioned
    window — lang-only would serialize a whole language's corpus through
    one task; unpartitioned would serialize everything."""
    plan = _plan(q("pack_sequences")(spark, SF_SMOKE))
    assert "windowspecdefinition(lang" in plan
    spec = plan.split("windowspecdefinition(lang")[1][:80]
    assert "shard" in spec


def test_multi_distinct_uses_expand(spark):
    """Multiple DISTINCT aggregates must plan via Expand (one aggregation
    pipeline), not N self-joined subqueries."""
    plan = _plan(q("agg_multi_distinct")(spark, SF_SMOKE))
    assert "Expand" in plan


def test_mode_is_partial_aggregate(spark):
    """Deterministic mode must be a two-phase hash aggregate (map-side
    partial min_by), not a window sort."""
    plan = _plan(q("agg_mode_deterministic")(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's InjectRuntimeFilter must plant a bloom-filter prefilter
    on the fact side of a selective shuffled join when enabled — at 100 TB
    this is the runtime semi-join reduction that spares the fact scan from
    shuffling rows that cannot match (the default thresholds only engage on
    large scans, so the test pins the capability with explicit conf)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = table(spark, SF_SMOKE, "lineitem")
        o = table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_orderpriority"
        )
        plan = _plan(j)
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_dedup_blocks_are_equi_join(spark):
    """dedup_fuzzy_levenshtein candidates come from a hash equi-join on
    the block key — the edit distance never runs on an all-pairs product."""
    plan = _plan(q("dedup_fuzzy_levenshtein")(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # SortMergeJoin or ShuffledHashJoin on blk


def test_bruteforce_knn_corpus_widen_is_guarded(spark):
    """knn_cosine_bruteforce scores the corpus map-side against the
    broadcast query set. r16: a GUARDED widen repartitions the corpus by
    vec_id only when the scan has fewer splits than min(shuffle
    partitions, task slots) — the smoke fixture is one tiny file, so here
    the widen must fire (the 20×-amplifying dot-product stage would
    otherwise run on one core). On a production-sized corpus the scan
    estimate exceeds the parallelism and the guard must keep the
    corpus-wide shuffle OUT of the plan — pinned by shrinking the session
    parallelism below the scan's split count, which flips the same
    predicate."""
    plan = _plan(q("knn_cosine_bruteforce")(spark, SF_SMOKE))
    # narrow scan → widen fires: vec_id exchange + the top-k window's.
    assert "Exchange hashpartitioning(vec_id" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        plan_wide = _plan(q("knn_cosine_bruteforce")(spark, SF_SMOKE))
        assert "Exchange hashpartitioning(vec_id" not in plan_wide
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_hll_sketch_union_is_partial_aggregate(spark):
    """Both the sketch build and the sketch merge must be two-phase
    (map-side partial → exchange of |groups| sketch rows → final)."""
    plan = _plan(q("agg_hll_sketch_union")(spark, SF_SMOKE))
    assert plan.count("ObjectHashAggregate") >= 2 or plan.count("HashAggregate") >= 4


def test_approx_quantile_rerank_is_broadcast(spark):
    """The |groups|x|pcts| estimate table is broadcast back onto the fact
    scan for the rank check — the fact side is never exchanged for it."""
    plan = _plan(q("agg_approx_quantile")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_jaccard_scan_filters_carry_no_shingle_recompute(spark):
    """The n-gram Jaccard scan must filter on raw columns only. A nullable
    set-size column lets `jaccard >= t` infer isnotnull(sz), and constraint
    pushdown substitutes the whole tokenizer+shingle expression into the
    FileScan's DataFilters — every document shingled a second time inside
    the scan stage (the round-3 +45% regression). Pin: no array function
    ever appears on a FileScan line."""
    df = q("dedup_ngram_jaccard")(spark, SF_SMOKE)
    df.collect()  # finalize AQE
    plan = _plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines
    for ln in scan_lines:
        for bad in ("zip_with", "array_distinct", "slice(", "split("):
            assert bad not in ln, f"shingle expression leaked into scan: {ln[:200]}"


def test_shingle_repartition_only_when_scan_narrow(spark, tmp_path):
    """_shingled_docs widens a narrow local scan before the ~300× shingle
    amplification, but must NOT shuffle raw text when the source already
    has >= shuffle-partition parallelism (the production path)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide_dir = str(tmp_path / "wide")
    docs = table(spark, SF_SMOKE, "documents")
    docs.repartition(n).write.parquet(f"{wide_dir}/documents.parquet")
    from monitoring_data_ingestion_spark.plans.analytics import _shingled_docs

    narrow = _optimized(_shingled_docs(spark, SF_SMOKE))
    assert "RepartitionByExpression" in narrow  # single small file → widen
    wide = _optimized(_shingled_docs(spark, wide_dir))
    assert "RepartitionByExpression" not in wide  # already parallel → no shuffle


def test_shingle_widen_bounded_by_task_slots(spark, tmp_path):
    """The widen guard's bound is min(shuffle partitions, defaultParallelism):
    with shuffle partitions raised to twice the task slots, a scan that
    fills every slot must not be shuffled, while a narrower scan still
    widens. Holds on any host because the shuffle parallelism is set
    relative to the slot count rather than fixed."""
    from monitoring_data_ingestion_spark.plans.analytics import (
        _scan_split_estimate,
        _shingled_docs,
    )

    d = int(spark.sparkContext.defaultParallelism)
    wide_dir = str(tmp_path / "wide")
    docs = table(spark, SF_SMOKE, "documents")
    docs.repartition(2 * d).write.parquet(f"{wide_dir}/documents.parquet")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * d))
        wide = _optimized(_shingled_docs(spark, wide_dir))
        assert "RepartitionByExpression" not in wide  # fills every slot
        # The single-file fixture widens exactly when its split count is
        # below the slot count (one split: every host with >= 2 slots).
        est = _scan_split_estimate(spark, docs)
        narrow = _optimized(_shingled_docs(spark, SF_SMOKE))
        assert ("RepartitionByExpression" in narrow) == (est < d)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_scan_split_estimate_conservative_off_local(spark):
    """The widen gate must treat non-local storage as already-parallel
    (None → no shuffle) and parse Spark byte-string confs."""
    from monitoring_data_ingestion_spark.plans.analytics import (
        _parse_byte_conf,
        _scan_split_estimate,
    )

    assert _parse_byte_conf("8m") == 8 << 20
    assert _parse_byte_conf("128MB") == 128 << 20
    assert _parse_byte_conf("134217728b") == 128 << 20
    assert _parse_byte_conf("4194304") == 4 << 20

    class FakeScan:
        def __init__(self, files):
            self._files = files

        def inputFiles(self):
            return self._files

    assert _scan_split_estimate(spark, FakeScan(["s3://bucket/part-0.parquet"])) is None
    assert _scan_split_estimate(spark, FakeScan([])) is None
    assert _scan_split_estimate(spark, FakeScan(["/no/such/file.parquet"])) is None
    # A real narrow local scan estimates below the session's parallelism.
    est = _scan_split_estimate(spark, table(spark, SF_SMOKE, "documents"))
    assert est is not None
    assert est < int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_pii_scrub_is_pure_map(spark):
    """text_pii_scrub must be a codegen-fused map over the scan: no joins,
    no aggregates, no Python — the only exchange is the final sort's."""
    df = q("text_pii_scrub")(spark, SF_SMOKE)
    df.collect()  # finalize AQE
    plan = _plan(df).split("== Initial Plan ==")[0]  # final section only
    for bad in ("Join", "HashAggregate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, f"{bad} in a pure-map scrub plan"
    assert plan.count("Exchange") <= 1  # rangepartitioning for the orderBy


def test_capped_jaccard_stays_blocked_and_scan_clean(spark):
    """The capped variant keeps the exact variant's invariants: candidate
    pairs only ever come from the shingle equi-join (no cartesian), and
    no shingle expression leaks into a FileScan's pushed filters."""
    df = q("dedup_ngram_jaccard_capped")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in (l for l in plan.splitlines() if "FileScan" in l):
        for bad in ("zip_with", "array_distinct", "slice(", "split("):
            assert bad not in ln, f"shingle expression leaked into scan: {ln[:200]}"


def test_semantic_prune_blocked_by_cluster(spark):
    """SemDeDup's pairwise stage must be the within-cluster equi-join:
    codebook broadcast for assignment, no cartesian anywhere."""
    df = q("dedup_semantic_prune")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # k-row codebook broadcast


def test_aqe_skew_join_split_fires_on_skewed_data(spark, tmp_path):
    """The engine's skew posture leans on AQE's OptimizeSkewedJoin for
    runtime re-plans (SCALE.md 'Skew'); witness it actually firing: a
    90%-hot join key must get its partition split (SortMergeJoin(skew=true)
    / 'skewed' shuffle read) with results intact. Thresholds are scaled
    down to fixture bytes — AQE compares COMPRESSED map-output sizes, so
    the hot side carries a wide random column (a single repeated key
    column lz4-compresses below any realistic threshold)."""
    left_dir, right_dir = str(tmp_path / "left"), str(tmp_path / "right")
    spark.range(300_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
        F.concat(*[F.md5(F.col("id").cast("string"))] * 4).alias("pad"),
    ).write.mode("overwrite").parquet(left_dir)
    spark.range(100).select(
        F.col("id").alias("k"), F.lit("dim").alias("name")
    ).write.mode("overwrite").parquet(right_dir)

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        joined = (
            spark.read.parquet(left_dir)
            .join(spark.read.parquet(right_dir), "k")
            .select("k", "pad", "name")
        )
        rows = joined.count()
        joined.collect()  # finalize AQE on this exact DataFrame
        plan = _plan(joined).split("== Initial Plan ==")[0]
        assert rows == 300_000
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # the AQEShuffleRead split marker
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ohlc_is_single_aggregate_no_window(spark):
    """The OHLC bar must compile to one partial+final hash aggregate
    (struct min/max carries open/close) — never a window sort: at scale a
    window would materialize every sample per bar ordered, the aggregate
    ships one row per bar."""
    plan = _plan(q("ts_ohlc_resample")(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan
    # exactly one exchange pair: the bar aggregation + final orderBy
    assert plan.count("Exchange hashpartitioning") == 1


def test_ewma_is_one_window_pass_no_join(spark):
    """The 10-term lag unroll must stay a SINGLE window over one shuffle
    on user_id — not a self-join (the oracle's formulation) and not ten
    window operators."""
    plan = _plan(q("ts_ewma")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_counter_rate_reuses_series_partitioning(spark):
    """Running sum, lag, and the hour rollup must share the user_id
    exchange: one shuffle for the windows, one for the (user, hour)
    aggregate — never three."""
    plan = _plan(q("ts_counter_rate")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_lm_score_joins_are_equi_not_cartesian(spark):
    """Bigram→LM scoring must stay blocked equi-joins; the only
    nested-loop is the 1-row vocab broadcast."""
    df = q("text_ngram_lm_score")(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the vocab scalar join is the single permitted nested-loop broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_bilinear_corner_join_is_equi_join(spark):
    """The exploded 4-corner contribution join must be a hash equi-join on
    the corner key (broadcast here; shuffle-equi at planetary scale) —
    never a nested loop against the corner table."""
    df = q("grid_bilinear_regrid")(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # nested loops may only appear under the Range-generator cross joins,
    # which carry no scan columns; the corner join itself is keyed.
    assert "CartesianProduct" not in plan


def test_pca_projection_join_is_broadcast(spark):
    """The per-vector projection joins the 64-row component vector — must
    broadcast, never shuffle or nested-loop the corpus side."""
    df = q("embedding_pca_project")(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_interval_coalesce_windows_share_one_sort(spark):
    """Bridge detection + island numbering must share one user_id window
    (same partitioning and ordering → one Window operator, one exchange
    before the island aggregate)."""
    plan = _plan(q("ts_interval_coalesce")(spark, SF_SMOKE))
    assert "Join" not in plan
    # two Window operators are inherent (island numbering consumes the
    # bridge flag), but they must share ONE sort and ONE exchange — and
    # the island aggregate must reuse the user_id partitioning (user_id
    # is a prefix of the grouping key), adding NO third shuffle.
    assert plan.count("Window") == 2
    assert plan.count("Sort ") - plan.count("rangepartitioning") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_mad_medians_broadcast_back(spark):
    """Both MAD passes must rejoin the fact via broadcast (|types| rows) —
    a shuffled join on event_type would re-exchange the fact twice."""
    plan = _plan(q("ts_anomaly_mad")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_containment_join_stays_inverted_index(spark):
    """Containment must pair docs through the shingle equi-join like the
    Jaccard family — never a cross product — and its scan must stay free
    of inferred shingle recomputation."""
    df = q("dedup_containment")(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "FileScan" in ln:
            assert "zip_with" not in ln and "array_distinct" not in ln


def test_zonal_stats_is_map_plus_one_aggregate(spark):
    """Zone assignment must fold into the map stage (literal ray-cast, no
    join); the rollup is one partial+final aggregate."""
    plan = _plan(q("grid_zonal_stats")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_cdc_diff_prunes_unchanged_after_join(spark):
    """The snapshot diff must be one keyed full-outer join with the
    changed-row predicate applied immediately after — no second exchange,
    no nested loop."""
    plan = _plan(q("cdc_snapshot_diff")(spark, SF_SMOKE))
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_html_strip_is_pure_map(spark):
    """The strip chain must fold into the scan's map stage: no join, no
    aggregate, no shuffle except the presentation sort."""
    plan = _plan(q("text_html_strip")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_level_shift_frames_share_one_window(spark):
    """All four frame aggregates (pre/post sums and counts) must land in
    ONE Window operator over one shuffle — the two-sided frames differ
    but the partitioning and ordering do not."""
    plan = _plan(q("ts_level_shift")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_tolerance_is_one_window_no_join(spark):
    """Tolerance as-of must keep the union-window form: no join operator,
    one user_id shuffle — the tolerance is a map predicate, not a second
    range condition."""
    plan = _plan(q("ts_asof_join_tolerance")(spark, SF_SMOKE))
    assert "Join" not in plan.replace("unix_micros", "")
    assert plan.count("Exchange hashpartitioning") == 1


def test_gradient_uses_two_orthogonal_windows(spark):
    """The gradient needs at most the two axis shuffles the semantics
    require (lat- and lon-partitioned windows) — here the lat window rides
    the range generator's existing lat-clustered partitioning, so only
    the lon window exchanges at all."""
    plan = _plan(q("grid_gradient_slope")(spark, SF_SMOKE))
    assert plan.count("Window") == 2
    assert 1 <= plan.count("Exchange hashpartitioning") <= 2


def test_salted_join_spreads_hot_key(spark):
    """The salted join must be a sort-merge join keyed on BOTH the key and
    the salt — the exchange partitions on (skew_key, salt), so the hot
    key occupies JOIN_SALT_N reducers instead of one."""
    plan = _plan(q("join_salted_skew")(spark, SF_SMOKE))
    assert "SortMergeJoin" in plan
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert any("salt" in ln for ln in joins), joins
    exch = [ln for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "skew_key" in ln]
    assert exch and all("salt" in ln for ln in exch), exch


def test_gap_detection_is_one_window_pass(spark):
    plan = _plan(q("ts_gap_detection")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_audio_energy_framing_stays_jvm_side(spark):
    """Only the declared codec surfaces (synth + decode_pcm16) may cross
    the Python boundary; the framing/RMS stage must be JVM array
    arithmetic after the decode."""
    df = q("multimodal_audio_energy")(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("MapInPandas") == 2  # synth + decode, nothing else
    assert "BatchEvalPython" not in plan


def test_capped_containment_stays_blocked_and_scan_clean(spark):
    """The capped containment keeps the inverted-index discipline AND the
    df-cap join; its scan must stay free of inferred shingle
    recomputation (same contract as the capped Jaccard)."""
    df = q("dedup_containment_capped")(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "FileScan" in ln:
            assert "zip_with" not in ln and "array_distinct" not in ln


def test_classifier_score_shuffle_carries_weights_only(spark):
    """Classifier scoring must be explode → one partial+final aggregate;
    no join (the closed-form model folds into the map stage) and the
    exchange keyed on doc_id only."""
    plan = _plan(q("text_classifier_score")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bpe_pairs_topk_is_take_ordered(spark):
    """The pair census must end in TakeOrderedAndProject (per-partition
    heaps) over one count aggregate — never a global sort of the pair
    table."""
    plan = _plan(q("text_bpe_pair_counts")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_trailing_range_window_no_join(spark):
    """The time-RANGE frame must be a single Window pass (sliding
    two-pointer inside the operator) — never a self-join expansion."""
    plan = _plan(q("ts_trailing_window_range")(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_lttb_bucket_averages_broadcast_back(spark):
    """LTTB's neighbor-bucket averages (|users|×|buckets| rows) must
    rejoin the point table via broadcast — shuffling the points twice to
    co-locate with a tiny average table would be wrong at any scale."""
    plan = _plan(q("ts_downsample_lttb")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_join_is_bucketized_equi_join(spark):
    """The interval-overlap self-join must ride the bucket equi-join —
    never a theta-only nested loop."""
    plan = _plan(q("ts_interval_overlap_join")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_prunes_fact_scan(spark, tmp_path):
    """Dynamic partition pruning: a fact partitioned on day joined to a
    dim filtered by a NON-partition attribute must plan a dynamicpruning
    subquery in the fact scan's PartitionFilters — at 100 TB this is the
    difference between scanning one day and scanning the table. The
    static-filter form is covered by
    test_partition_pruning_on_partitioned_layout; this pins the
    runtime-value form."""
    path = str(tmp_path / "events_dpp")
    e = table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    e.write.partitionBy("day").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    days = [r["day"] for r in e.select("day").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, i) for i, d in enumerate(sorted(days))], "day string, tag int"
    )
    joined = fact.join(dim.filter(F.col("tag") == 0), "day").groupBy("day").count()
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only covers the selected day
    assert joined.count() == 1


def test_scd2_apply_branches_share_key_join(spark):
    """The close/pass-through branches must be semi/anti joins on the key
    — no nested loop, no full cartesian of dim × changes."""
    plan = _plan(q("scd2_apply_changes")(spark, SF_SMOKE))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_sequence_pattern_has_no_window(spark):
    """The per-key sequence must be built inside the aggregate
    (array_sort of structs) — one shuffle, no Window operator, regex
    count as a map-side scalar."""
    plan = _plan(q("ts_event_sequence_pattern")(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_geo_near_join_is_cell_blocked(spark):
    """The spatial near-join must ride the 3x3 blocking-cell equi-join —
    the oracle's all-pairs theta form must never reach the planner."""
    plan = _plan(q("geo_near_join")(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_share_of_total_windows_run_on_aggregate_grain(spark):
    """Ratio-to-report must window AFTER the aggregate: the window
    operators' input is the |nations|-row aggregate, never the customer
    fact (no Window before the final HashAggregate pair in the plan's
    bottom-up order — the single-partition total window is safe only
    because of this)."""
    plan = _plan(q("agg_share_of_total")(spark, SF_SMOKE))
    assert "Window" in plan
    # the windows sit strictly above the aggregation of the fact scan
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "SortMergeJoin" not in plan  # dims broadcast


def test_dq_profile_is_single_scan_aggregate(spark):
    """The column profiler must compute every statistic in ONE aggregate
    over one scan (multi-distinct → Expand), then pivot the single result
    row — never one scan per column."""
    plan = _plan(q("dq_profile_customer")(spark, SF_SMOKE))
    assert plan.count("FileScan") == 1
    assert "Expand" in plan


def test_dq_fk_audit_is_anti_join(spark):
    """FK coverage must count a broadcast left-anti join — not an outer
    join materializing every matched row."""
    plan = _plan(q("dq_constraint_audit")(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_mutual_graph_blocked_no_cartesian(spark):
    """knn_mutual_graph's candidate stage must be the residual-block
    equi-join shared with dedup_semantic_prune — never all-pairs — and
    the codebook/depth tables must ride broadcasts."""
    df = q("knn_mutual_graph")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_quantize_calibration_is_broadcast(spark):
    """embedding_quantize_int8: the per-dim (mins, maxs) calibration row
    must broadcast onto the corpus — the coding pass stays map-side (a
    1-row BroadcastNestedLoopJoin is the correct physical form for a
    keyless broadcast), with no shuffle of vector payloads."""
    df = q("embedding_quantize_int8")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_phash_candidates_are_block_equi_join(spark):
    """Image pHash near-dup must generate candidates by equi-join on
    (block_idx, block_value) — the pigeonhole banding — with pixel
    payloads never entering a join (only the 4×16-bit hash blocks)."""
    df = q("multimodal_image_phash_neardup")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The candidate join must key on the hash blocks (bp, bv) — pixel
    # arrays never appear as join keys.
    import re

    join_keys = re.findall(r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\]", plan)
    assert any("bp" in k for k in join_keys), join_keys
    assert not any("pixels" in k for k in join_keys), join_keys


def test_funnel_is_single_scan_family(spark):
    """text_quality_filter_funnel: the 4-stage output must come from ONE
    flags aggregation (a literal unpivot), not four rescans of the
    documents table."""
    df = q("text_quality_filter_funnel")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    # Two logical scans of documents (flags projection + domination
    # count), each printed at most twice by the adaptive plan — four
    # per-stage rescans would show >= 8.
    assert plan.count("Scan parquet") <= 4


def test_novelty_inverted_index_no_pairs(spark):
    """text_ngram_novelty must stay an inverted-index min-aggregate +
    join-back — one row per distinct shingle, never a doc×doc pair
    join."""
    df = q("text_ngram_novelty")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_seasonal_decompose_broadcasts_seasonal_table(spark):
    """ts_seasonal_decompose: the 24-row hour-of-day seasonal table must
    broadcast back onto the detrended series."""
    df = q("ts_seasonal_decompose")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_perplexity_buckets_rank_on_doc_grain(spark):
    """text_perplexity_buckets: the ntile window must run over the per-doc
    score table (3 columns, corpus cardinality), never the bigram grain,
    and nothing in the composed plan may cartesian."""
    df = q("text_perplexity_buckets")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Window") <= 2  # one logical ntile (adaptive may print twice)


def test_cross_split_leakage_single_fingerprint_index(spark):
    """dedup_cross_split_leakage: fingerprint and split are map-side
    expressions; the only data-sized shuffle keys on the fingerprint
    (spread index + join back) — no doc×doc pair join anywhere."""
    df = q("dedup_cross_split_leakage")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scene_cut_python_only_in_decode(spark):
    """multimodal_video_scene_cut: Python appears exactly once — the
    stubbed Arrow decode stage — and the window/aggregate after it are
    JVM-side."""
    df = q("multimodal_video_scene_cut")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert plan.count("MapInPandas") <= 2  # one logical stage
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDFs
    assert "CartesianProduct" not in plan


def test_winnowing_is_pure_map(spark):
    """text_winnowing_fingerprint: tokenize → shingle → hash → window
    minima are all per-row array expressions — no join, no aggregate
    exchange before the final sort, and no Python anywhere."""
    df = q("text_winnowing_fingerprint")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_cusum_is_pure_window_no_iteration(spark):
    """ts_cusum_changepoint: the CUSUM recursion must compile to window
    expressions over the hourly rollup — no Python, no joins except the
    1-row mean broadcast."""
    df = q("ts_cusum_changepoint")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_acf_joins_on_shifted_hour_key(spark):
    """ts_autocorrelation: the k-step shift is an equi-join on the
    shifted timestamp over the hourly rollup — never a cartesian over
    raw events."""
    df = q("ts_autocorrelation")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # The hourly rollup is re-derived per consumer (dev twice via the
    # self-join, mean, denominator — each a map-side aggregate of the
    # same scan; adaptive printing doubles the count). A raw-grain pair
    # join would explode far past this bound.
    assert plan.count("Scan parquet") <= 8


def test_jsd_grid_is_vocab_sized(spark):
    """text_jsd_domain_drift: the only non-broadcast join keys on
    (source, term)/(term) — the vocabulary — with totals broadcast; no
    doc×doc or token×token pair join exists."""
    df = q("text_jsd_domain_drift")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_lsh_recall_eval_composes_blocked_plans(spark):
    """dedup_lsh_recall_eval: both pair sets must keep their blocked
    shapes inside the composition — no cartesian appears anywhere in
    the agreement plan."""
    df = q("dedup_lsh_recall_eval")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_ks_window_runs_on_distinct_values(spark):
    """dq_ks_two_sample: the cumulative-CDF window must run over the
    per-distinct-value count table, with the fact scan collapsing into
    a map-side-combined count first."""
    df = q("dq_ks_two_sample")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "HashAggregate" in plan


def test_contour_census_two_orthogonal_windows(spark):
    """grid_contour_cells: corner access is exactly two window passes
    (per-lat lead, then per-lon lead lifting both columns) — no self
    join of the lattice, no cartesian beyond the generator."""
    df = q("grid_contour_cells")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan.split("Window")[0]  # census side join-free
    assert plan.count("Window") >= 2


def test_pagerank_iteration_no_cartesian_broadcast_count(spark):
    """graph_copurchase_pagerank: edge generation is an equi-join on
    l_orderkey and every iteration joins on the node key — the only
    nested-loop allowed is the 1-row node-count broadcast. The rank
    state is bigint (exact integer arithmetic, no float accumulation)."""
    df = q("graph_copurchase_pagerank")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert dict(df.dtypes)["rank_scaled"] == "bigint"


def test_triangle_census_oriented_equi_joins(spark):
    """graph_triangle_census: the wedge and closing joins must both be
    equi-joins (hash/sort-merge on src, then on the (b, c) pair) — a
    cartesian or nested-loop means the degree orientation was lost and
    the count is Σdeg² instead of O(m^1.5)."""
    df = q("graph_triangle_census")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_edge_jaccard_support_from_triangle_list(spark):
    """graph_edge_jaccard: common-neighbor counts must come off the
    oriented triangle list (equi-joins only, O(m^1.5)) — a per-apex
    neighbor-pair expansion would be Σdeg² and shows up as a nested
    loop or cartesian."""
    df = q("graph_edge_jaccard")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_rounds_are_semi_joins(spark):
    """graph_kcore: each peel round must filter the edge list with
    LeftSemi joins on the shrinking survivor set — never materialize a
    new graph via inner joins that duplicate edge rows. The query's own
    final plan is a checkpoint scan (rounds evaluate eagerly), so the
    round shape is asserted on one peel round built from the module's
    helpers."""
    from monitoring_data_ingestion_spark.plans import graph_q as G

    edges = G._copurchase_edges(spark, SF_SMOKE)
    und = G._und(edges)
    keep = G._degrees(edges).filter(F.col("deg") >= G.KCORE_K).select("node")
    sub = und.join(
        keep.withColumnRenamed("node", "src"), "src", "left_semi"
    ).join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
    sub.collect()
    plan = _plan(sub)
    assert plan.count("LeftSemi") >= 2  # pushed into both union branches under AQE
    assert "CartesianProduct" not in plan
    # the full query still runs end-to-end without nested loops
    df = q("graph_kcore")(spark, SF_SMOKE)
    df.collect()
    assert "CartesianProduct" not in _plan(df)


def test_dsir_models_broadcast_topk_physical(spark):
    """sample_dsir_importance: the 1024-bucket ratio table must broadcast
    onto the per-doc counts (corpus side never shuffles against a
    model-sized side) and the final selection must be a global top-k
    (TakeOrderedAndProject), not a full sort."""
    df = q("sample_dsir_importance")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_recursive_rollup_runs_as_union_loop(spark):
    """hierarchy_recursive_rollup: the recursion must execute as Spark's
    UnionLoop operator (native WITH RECURSIVE, one frontier join per
    level) with the rollup as a two-phase hash aggregate on top."""
    df = q("hierarchy_recursive_rollup")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "UnionLoop" in plan
    assert "partial_count" in plan and "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_variant_shred_two_phase_agg_no_json_reparse(spark):
    """variant_json_shred: one parse_json feeding typed variant_get
    extractions, then a two-phase hash aggregate — no per-access JSON
    string re-parsing (get_json_object) in the plan."""
    df = q("variant_json_shred")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "partial_count" in plan and "partial_sum" in plan
    assert "get_json_object" not in plan
    assert "variant_get" in plan


def test_lift_supports_broadcast_pairs_pruned_early(spark):
    """graph_copurchase_lift: the per-item support table and the 1-row
    order count must broadcast onto the pair aggregate; the min-support
    filter must run on the aggregate (pruning before the joins), and
    pair generation must be the bounded order-key equi-join."""
    df = q("graph_copurchase_lift")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_attribution_is_single_window_no_self_join(spark):
    """ts_attribution_last_touch: the touch carry must be ONE window pass
    over the event stream (last ignorenulls), never a self-join of the
    stream against itself — the shape that keeps attribution linear."""
    df = q("ts_attribution_last_touch")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_indexed_census_wedge_join_is_exchange_free(spark):
    """graph_triangle_census_indexed: the persisted oriented table is
    bucketed on the wedge apex, so the wedge SELF-join must run with
    zero exchanges once auto-broadcast is off (the 100 TB case — an
    oriented edge list is never broadcastable). The served answer must
    equal the in-plan census."""
    from monitoring_data_ingestion_spark.plans import graph_q as G

    served = q("graph_triangle_census_indexed")(spark, SF_SMOKE)
    got = [tuple(r) for r in served.collect()]
    expect = [tuple(r) for r in q("graph_triangle_census")(spark, SF_SMOKE).collect()]
    assert got == expect

    tbls = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("mdi_graph_oriented")
    ]
    assert tbls, "index table missing after serve"
    oriented = spark.table(tbls[0])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o1 = oriented.alias("o1")
        o2 = oriented.alias("o2")
        j = o1.join(o2, F.col("o1.src") == F.col("o2.src"))
        j.collect()
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_span_dedup_is_inverted_index_shape(spark):
    """text_span_dedup: span cutting map-side, keeper election one hash
    aggregate, verdict an equi-join on the span key — never all-pairs."""
    df = q("text_span_dedup")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan  # map-side combined keeper election


def test_substitution_recs_hub_broadcast(spark):
    """graph_substitution_recs: the 5-row hub set must broadcast onto
    the scored edge relation; the per-hub ranking is a window over only
    the hubs' incident edges — no cartesian anywhere."""
    df = q("graph_substitution_recs")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "Window" in plan


def test_incremental_edges_equals_full_rebuild(spark):
    """graph_incremental_edges runs the base+delta maintenance path; its
    result must be row-identical to the full-rebuild degree census
    (graph_degree_distribution) — the maintenance theorem, checked
    directly engine-side on top of the oracle equality."""
    inc = [tuple(r) for r in q("graph_incremental_edges")(spark, SF_SMOKE).collect()]
    full = [tuple(r) for r in q("graph_degree_distribution")(spark, SF_SMOKE).collect()]
    assert inc == full


def test_customer_similarity_capped_no_cartesian(spark):
    """graph_customer_similarity: pair generation must be an equi-join
    on the part key with the stop-part cap applied BEFORE pairing, and
    basket sizes must ride broadcasts — never all-pairs."""
    df = q("graph_customer_similarity")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan


def test_hillshade_is_two_window_stencil(spark):
    """grid_hillshade: the 9-cell Horn stencil must come from exactly
    the two orthogonal window passes (row carry, column lift) — no self
    join of the lattice."""
    df = q("grid_hillshade")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert plan.count("Window") >= 2
    assert "SortMergeJoin" not in plan


def test_sketches_are_aggregate_shaped(spark):
    """Both sketches: constant-size summaries via hash aggregates and
    equi-joins — no cartesian beyond the tiny broadcast hash-row grid."""
    for name in ("sketch_count_min_tokens", "sketch_bloom_membership"):
        df = q(name)(spark, SF_SMOKE)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan, name


def test_session_cache_suffix_keys_on_full_path_and_mtime(spark, tmp_path):
    """ADVICE r6: per-session index caches keyed on basename(sf_dir)
    served stale results for distinct dirs sharing a basename or for a
    fixture regenerated in place. The suffix must differ in both cases."""
    import os
    import time

    from monitoring_data_ingestion_spark.session_cache import session_cache_suffix

    a = tmp_path / "x" / "sf1"
    b = tmp_path / "y" / "sf1"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    (a / "t.parquet").write_bytes(b"aa")
    (b / "t.parquet").write_bytes(b"aa")
    sa = session_cache_suffix(spark, str(a))
    assert sa != session_cache_suffix(spark, str(b))  # same basename, diff dir
    assert sa == session_cache_suffix(spark, str(a))  # stable
    os.utime(a / "t.parquet", ns=(1, 1))  # regenerate in place
    assert sa != session_cache_suffix(spark, str(a))


def test_scratch_tree_builds_once_per_key(spark, tmp_path):
    """``scratch_tree``: a repeat call returns the same tree without
    building; a tree that lost its completion marker is rebuilt from
    empty; a changed input fingerprint gives a new tree."""
    import os

    from monitoring_data_ingestion_spark.session_cache import scratch_tree

    src = tmp_path / "input.bin"
    src.write_bytes(b"v1")
    built = []

    def build(base):
        assert os.listdir(base) == []
        built.append(base)
        with open(os.path.join(base, "data"), "w") as f:
            f.write("x")

    base = scratch_tree(spark, "mdi_test_tree", build, str(src))
    assert built == [base] and os.path.isfile(os.path.join(base, "data"))
    assert scratch_tree(spark, "mdi_test_tree", build, str(src)) == base
    assert built == [base]

    os.remove(os.path.join(base, "_complete"))  # a build that never finished
    with open(os.path.join(base, "stray"), "w") as f:
        f.write("half")
    assert scratch_tree(spark, "mdi_test_tree", build, str(src)) == base
    assert built == [base, base]
    assert sorted(os.listdir(base)) == ["_complete", "data"]

    src.write_bytes(b"v2 longer")
    other = scratch_tree(spark, "mdi_test_tree", build, str(src))
    assert other != base and built == [base, base, other]


def test_handle_cache_dies_with_its_session(spark):
    """Memoized handles live on their session object: once a session is
    dropped, its entries (which reference it) are collected with it — no
    process-global cache keys on, or pins, a session."""
    import gc
    import weakref

    from pyspark import RDD

    from monitoring_data_ingestion_spark.plans.analytics import _shingled_docs

    # Constructing a SparkSession re-binds RDD.toDF to a closure over the
    # new session; restore it so only the handle cache could pin `other`.
    to_df = RDD.toDF
    other = spark.newSession()
    RDD.toDF = to_df
    _shingled_docs(other, SF_SMOKE)
    ref = weakref.ref(other)
    del other
    gc.collect()
    assert ref() is None


def test_handle_cache_misses_on_widen_conf_change(spark):
    """Every conf the widen decision reads is part of the memo key: a
    changed spark.sql.files.maxPartitionBytes rebuilds the sub-plan, and
    restoring it serves the original handle again."""
    from monitoring_data_ingestion_spark.plans.analytics import _shingled_docs

    key = "spark.sql.files.maxPartitionBytes"
    first = _shingled_docs(spark, SF_SMOKE)
    assert _shingled_docs(spark, SF_SMOKE) is first
    old = spark.conf.get(key)
    spark.conf.set(key, "3m")
    try:
        assert _shingled_docs(spark, SF_SMOKE) is not first
    finally:
        spark.conf.set(key, old)
    assert _shingled_docs(spark, SF_SMOKE) is first


def test_jaccard_verify_memo_keys_on_candidates(spark):
    """A memoized verify keys on its candidate handle: two calls with the
    same memo tag and different candidate frames each verify their own
    pairs (the memo used to keep the first call's needed-doc set)."""
    from monitoring_data_ingestion_spark.plans.analytics import _jaccard_verify_text

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "p q r s t u"), (4, "p q r s t u")],
        "doc_id bigint, text string",
    )

    def verified(pairs):
        cand = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
        out = _jaccard_verify_text(docs, cand, memo="verify_memo_test")
        return [(r.doc_a, r.doc_b) for r in out.collect()]

    assert verified([(1, 2)]) == [(1, 2)]
    assert verified([(3, 4)]) == [(3, 4)]


def test_directory_table_cached_until_rewritten(spark, tmp_path):
    """Directory-layout tables are cached on the recursive fingerprint of
    their files: an unchanged table is served from the cache, and a part
    file rewritten in place is re-read, not served stale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "t.parquet" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), part)
    first = table(spark, str(tmp_path), "t")
    assert table(spark, str(tmp_path), "t") is first
    assert sorted(r.x for r in first.collect()) == [1, 2]
    pq.write_table(pa.table({"x": [3, 4, 5]}), part)
    again = table(spark, str(tmp_path), "t")
    assert sorted(r.x for r in again.collect()) == [3, 4, 5]


def test_directory_table_rewritten_with_nanos_ts_is_normalized(spark, tmp_path):
    """A directory table whose part file is rewritten in place with its ts
    column as TIMESTAMP(NANOS) must be re-normalized at the scan edge: the
    nanos-column detection may not be remembered from the old footer
    (Spark rejects an unconverted nanos column outright)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "ev.parquet" / "part-0.parquet"
    part.parent.mkdir()
    ts = [dt.datetime(2020, 1, 1, 0, 0, 0, 123456)]
    want = 1_577_836_800_123_456  # µs since the epoch, session tz UTC
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), part)
    micros = F.unix_micros("ts").alias("us")
    assert table(spark, str(tmp_path), "ev").select(micros).collect()[0].us == want
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}), part)
    assert table(spark, str(tmp_path), "ev").select(micros).collect()[0].us == want


def test_grib1_decode_python_only_at_codec_boundary(spark):
    """grid_grib1_decode: exactly two Arrow stages (synthesize file,
    select+decode record) — no row-at-a-time UDFs, and the aggregate
    after decode is JVM-side array arithmetic."""
    df = q("grid_grib1_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-plan
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib_landing_scan_parallelism_is_per_file(spark):
    """grid_grib1_landing_scan: the binaryFile scan must split by file —
    one decode task per month-file is the archive's natural work unit.
    Witnessed by the scan's partition count matching the file count."""
    import os

    df = q("grid_grib1_landing_scan")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1  # decode only; synth is driver-side files
    assert "BatchEvalPython" not in plan
    # The upstream binaryFile relation reads 12 files → 12 input partitions.
    from monitoring_data_ingestion_spark.session_cache import session_cache_suffix
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"mdi_grib_landing_12_{session_cache_suffix(spark, SF_SMOKE)}",
    )
    landing = os.path.join(base, "landing")
    files = spark.read.format("binaryFile").load(landing).select("path", "content")
    assert files.rdd.getNumPartitions() == 12


def test_hll_register_build_is_two_phase_max(spark):
    """sketch_hll_distinct: the register build must be a partial→final
    MAX aggregate (map-side combine) so the exchange carries at most
    1024 rows per scope — the mergeable-sketch property in the plan."""
    df = q("sketch_hll_distinct")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("HashAggregate") >= 4  # partial+final per scope
    assert "partial_max" in final or "partial_" in final.lower()
    assert "Python" not in plan  # whole sketch is JVM expression


def test_profile_drift_is_single_scan(spark):
    """dq_schema_profile_drift: every metric must come from ONE pass over
    events (plus the 1-row midpoint broadcast) — no per-column rescan."""
    df = q("dq_schema_profile_drift")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("events.parquet") <= 2  # main scan + midpoint probe
    assert "Python" not in plan


def test_grib2_complex_decode_python_only_at_codec_boundary(spark):
    """grid_grib2_complex_decode: exactly two Arrow stages (synthesize
    complex-packed file, scan+decode) — the 5.2/5.3 group machinery
    stays inside the codec boundary; stats aggregate JVM-side."""
    df = q("grid_grib2_complex_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib2_jpeg2000_decode_python_only_at_codec_boundary(spark):
    """grid_grib2_jpeg2000_decode: exactly two Arrow stages (synthesize
    5.40-packed file, scan+decode) — DWT/EBCOT/tag-tree machinery stays
    inside the codec boundary; the raster-order checksum and stats are
    JVM expressions."""
    df = q("grid_grib2_jpeg2000_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib2_gaussian_decode_python_only_at_codec_boundary(spark):
    """grid_grib2_gaussian_decode: exactly two Arrow stages — latitude
    recovery (Legendre roots) happens inside the codec boundary; the
    microdegree rounding, row weighting, and stats are JVM expressions."""
    df = q("grid_grib2_gaussian_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib2_lambert_decode_python_only_at_codec_boundary(spark):
    """grid_grib2_lambert_decode: exactly two Arrow stages — the Snyder
    inverse runs vectorized inside the codec boundary; microdegree
    rounding and stats are JVM expressions."""
    df = q("grid_grib2_lambert_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib2_polar_decode_python_only_at_codec_boundary(spark):
    """grid_grib2_polar_decode: exactly two Arrow stages; stats and
    microdegree rounding are JVM expressions."""
    df = q("grid_grib2_polar_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib2_mercator_decode_python_only_at_codec_boundary(spark):
    """grid_grib2_mercator_decode: exactly two Arrow stages; stats and
    microdegree rounding are JVM expressions."""
    df = q("grid_grib2_mercator_decode")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib_mixed_scan_python_only_at_codec_boundary(spark):
    """grid_grib_mixed_scan: two Arrow stages (synthesize mixed archive,
    the REAL landing _decode_batches) — the position-weighted checksum
    and metadata projection are JVM expressions."""
    df = q("grid_grib_mixed_scan")(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_grib_flagship_publishes_partitioned_parquet(spark):
    """era5_grib_anomaly_pipeline returns the PUBLISHED dataset — a
    plain partitioned-parquet batch scan (the streaming work happened in
    the drain); re-invoking resumes the checkpoint and re-publishes
    nothing, so the published row count is stable."""
    df = q("era5_grib_anomaly_pipeline")(spark, SF_SMOKE)
    n = df.count()
    assert n == 36 * 2 * 60  # 36 months × 2 parameters × 10×6 cells
    plan = _plan(df)
    assert "parquet" in plan.lower()
    assert "Python" not in plan  # published read is pure JVM
    assert q("era5_grib_anomaly_pipeline")(spark, SF_SMOKE).count() == n


@pytest.mark.parametrize(
    "name",
    [
        "grid_geotiff_publish_scan",
        "grid_grib1_reduced_bitmap_scan",
        "grid_grib2_reduced_bitmap_scan",
        "grid_grib2_runlength_scan",
        "grid_grib2_reforecast_scan",
        "grid_grib1_reduced_latlon_scan",
        "grid_grib1_reduced_scan",
        "grid_grib1_second_order_scan",
        "grid_grib1_spectral_complex_scan",
        "grid_grib2_cluster_scan",
        "grid_grib2_deprecated_satellite_scan",
        "grid_grib2_diff_missing_scan",
        "grid_grib2_ieee_float_scan",
        "grid_grib2_secondary_missing_scan",
        "grid_grib2_aec_scan",
        "grid_grib2_log_scan",
        "grid_grib2_chemistry_scan",
        "grid_grib2_aerosol_scan",
        "grid_grib2_ensemble_satellite_scan",
        "grid_grib2_error_scan",
        "grid_grib2_radar_scan",
        "grid_grib2_satellite_scan",
        "grid_grib_quarantine_scan",
        "grid_grib2_derived_ensemble_scan",
        "grid_grib2_probability_scan",
        "grid_grib2_percentile_scan",
        "grid_grib2_forecast_lead_scan",
        "grid_grib1_forecast_lead_scan",
        "grid_grib_layer_scan",
        "grid_grib_match_lead_scan",
        "grid_grib1_gaussian_scan",
        "grid_grib2_rotated_decode",
        "grid_grib1_rotated_scan",
        "grid_grib1_inventory",
        "grid_grib2_match_decode",
        "grid_grib_statistical_scan",
        "grid_grib_projected_landing",
        "grid_grib2_reduced_gaussian_decode",
        "grid_grib2_multifield_scan",
        "grid_grib2_ensemble_scan",
        "grid_grib_spectral_roundtrip",
        "grid_grib2_spectral_synthesis",
        "grid_grib_inventory_robust_scan",
        "grid_grib2_match_level_decode",
        "grid_grib2_spectral_complex_decode",
        "grid_grib_spectral_landing",
        "grid_grib2_stretched_decode",
    ],
)
def test_r10_codec_queries_python_only_at_codec_boundary(spark, name):
    """Round-10 codec queries: exactly two Arrow stages (synthesize the
    archive, scan+decode) — PDT/level/lead parsing and the Gaussian
    quadrature stay inside the codec boundary; statistics, valid-time
    arithmetic and the cell explode are JVM-side, and nothing ever
    crosses row-at-a-time or via a cartesian product."""
    df = q(name)(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _expr_nodes(expr) -> list:
    out = [expr]
    for child in _seq(expr.children()):
        out += _expr_nodes(child)
    return out


def _ring(n: int) -> list[tuple[float, float]]:
    import math

    return [
        (30.0 * math.cos(2 * math.pi * k / n) - 5.0, 25.0 * math.sin(2 * math.pi * k / n))
        for k in range(n)
    ]


def _clip_frame(spark, ring):
    from monitoring_data_ingestion_spark.grid.ops import point_in_polygon

    pts = spark.range(400).select(
        (F.col("id") % 20 * 4.0 - 40.5).alias("lat"),
        (F.floor(F.col("id") / 20) * 4.0 - 45.5).alias("lon"),
    )
    return pts.select("lat", "lon", point_in_polygon(F.col("lat"), F.col("lon"), ring).alias("inside"))


def _array_literals(plan) -> list:
    return [
        e
        for root in _seq(plan.expressions())
        for e in _expr_nodes(root)
        if e.getClass().getSimpleName() == "Literal" and e.dataType().typeName() == "array"
    ]


def test_clip_plan_does_not_grow_with_polygon(spark):
    """point_in_polygon's analyzed expression has the same size for a
    4-vertex and a 1,000-vertex ring — the edge list enters the plan as
    one JSON string, not one struct per edge — and the optimizer folds it
    into ONE array literal holding every edge. The folded form still
    computes the reference ray cast, edge for edge."""
    sizes = {}
    for n in (4, 1000):
        ring = _ring(n)
        df = _clip_frame(spark, ring)
        qe = df._jdf.queryExecution()
        (inside,) = [e for e in _seq(qe.analyzed().expressions()) if e.name() == "inside"]
        sizes[n] = len(_expr_nodes(inside))
        lits = _array_literals(qe.optimizedPlan())
        assert len(lits) == 1, n
        assert lits[0].value().numElements() == n

        def crosses(lat, lon):
            hits = 0
            for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
                if ((y1 > lat) != (y2 > lat)) and (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1):
                    hits += 1
            return hits % 2 == 1

        got = df.collect()
        assert [r.inside for r in got] == [crosses(r.lat, r.lon) for r in got]
        assert any(r.inside for r in got) and not all(r.inside for r in got)
    assert sizes[4] == sizes[1000]


def test_clip_literal_doubles_are_bit_exact(spark):
    """The folded edge literal carries exactly the input doubles — signs,
    negative zero and exponent-form values included — in edge order
    (x1, y1, x2, y2), closing the ring back to the first vertex."""
    import struct

    ring = [
        (-100.2, -50.3),
        (1e-05, 80.7),
        (-2.5e-07, 1.5e16),
        (-0.0, -1.7976931348623157e308),
        (0.1 + 0.2, 5e-324),
        (-130.8, 40.6),
    ]
    qe = _clip_frame(spark, ring)._jdf.queryExecution()
    (lit,) = _array_literals(qe.optimizedPlan())
    arr = lit.value()
    assert arr.numElements() == len(ring)
    for i, ((x1, y1), (x2, y2)) in enumerate(zip(ring, ring[1:] + ring[:1])):
        edge = arr.getStruct(i, 4)
        for j, want in enumerate((x1, y1, x2, y2)):
            assert struct.pack("<d", edge.getDouble(j)) == struct.pack("<d", want), (i, j)
