"""Scale-property assertions on physical plans (the 100 TB checklist)."""

from __future__ import annotations

from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.ingest.pipeline import (
    ingest_source,
    pending_pages,
)
from collect_mobile_devices_datalake_spark.operators.resume import resume_anti_join
from collect_mobile_devices_datalake_spark.plans.explain import (
    count_exchanges,
    formatted_plan,
    plan_has,
    scan_pushdown_report,
)
from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
from collect_mobile_devices_datalake_spark.session import load_table
from collect_mobile_devices_datalake_spark.sources.fixtures import spec_pages
from collect_mobile_devices_datalake_spark.sources.parse import PARSERS

from .conftest import jobs_in_group

_ensure_loaded()
SF = "/root/testdata/sf0.001"


def test_filter_and_pruning_reach_parquet_scan(spark):
    li = load_table(spark, "lineitem", SF)
    q = li.filter(F.col("l_shipdate") <= F.lit("1997-01-01").cast("timestamp")).select(
        "l_orderkey", "l_quantity"
    )
    scans = scan_pushdown_report(q)
    assert scans, formatted_plan(q)
    assert "IsNotNull(l_shipdate)" in scans[0]["pushed_filters"]
    assert "LessThanOrEqual(l_shipdate" in scans[0]["pushed_filters"]
    # column pruning: a 2-column projection must not read all 11 columns
    assert "l_quantity" in scans[0]["read_schema"]
    assert "l_extendedprice" not in scans[0]["read_schema"]


def test_q05_broadcasts_small_dims(spark):
    q = REGISTRY["q05_region_revenue"].spark(spark, SF)
    flags = plan_has(q, "BroadcastHashJoin", "BroadcastExchange")
    assert all(flags.values()), formatted_plan(q)


def test_q01_partial_aggregation(spark):
    q = REGISTRY["q01_pricing_summary"].spark(spark, SF)
    plan = formatted_plan(q)
    # two-phase agg: map-side partial_sum before the exchange, final after
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_resume_is_single_shuffle(spark):
    orders = load_table(spark, "orders", SF)
    from collect_mobile_devices_datalake_spark.sources.synthetic import (
        saved_list,
        source_list,
    )

    q = resume_anti_join(source_list(orders), saved_list(orders))
    # one hash exchange on the url key — not 3 (2×distinct + join)
    assert count_exchanges(q) == 1, formatted_plan(q)


def test_resume_hot_key_collapses_map_side(spark):
    """Planted hot key: one url re-enqueued 100_000x (a retry storm) vs
    2_000 distinct cold urls. The groupBy form of the anti-join must
    collapse the hot key in the MAP-SIDE partial aggregate, so the
    reducer for that key receives <= one row per map partition — the
    property that makes AQE skew-join splitting / manual salting
    unnecessary on this path (a join-shaped anti-join would need them).
    """
    hot = spark.range(100_000).select(F.lit("https://h.example/hot").alias("url"))
    cold = spark.range(2_000).select(
        F.concat(F.lit("https://c.example/"), F.col("id")).alias("url")
    )
    frontier = hot.unionAll(cold)  # spark.range is already multi-partition
    saved = spark.range(1_000).select(
        F.concat(F.lit("https://c.example/"), F.col("id")).alias("url")
    )
    q = resume_anti_join(frontier, saved)
    plan = formatted_plan(q)
    # partial_max BEFORE the exchange = map-side combine on the url key
    assert "partial_max" in plan, plan
    assert count_exchanges(q) == 1, plan
    # and the answer is exact under the skew: hot + the unsaved cold half
    rows = {r["url"] for r in q.collect()}
    assert "https://h.example/hot" in rows
    assert len(rows) == 1 + 1_000


def _gsmarena_pages(spark):
    return spec_pages(load_table(spark, "part", SF), "gsmarena")


def test_first_crawl_streams_pages_into_the_parse(spark, tmp_path):
    """Crawl into an empty lake: the saved_list is an empty relation the
    optimizer can see, so the resume anti-join is pruned and the page
    scan feeds the parse UDF directly — no Exchange, no join."""
    q = PARSERS["gsmarena"](
        pending_pages(spark, _gsmarena_pages(spark), str(tmp_path), "gsmarena")
    )
    plan = formatted_plan(q)
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_recrawl_broadcasts_the_saved_list(spark, tmp_path):
    """Re-crawl against a committed saved_list: one broadcast left-anti
    join; the pages (and their html) are never hash-shuffled."""
    lake = str(tmp_path)
    pages = _gsmarena_pages(spark)
    ingest_source(spark, pages, lake, "gsmarena")
    q = pending_pages(spark, pages, lake, "gsmarena")
    plan = formatted_plan(q)
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan, plan
    assert count_exchanges(q) == 0, plan


def test_crawl_and_recrawl_job_ceilings(spark, tmp_path):
    """Per-call job ceilings for the paper's crawl (ROADMAP item 2). A
    crawl is the fused record/quarantine count (one scan, one parse into
    the cache), the log commit, and the data + checkpoint writes; a
    no-op re-crawl adds the saved_list broadcast and writes only the log.
    Reading the committed saved_list back starts no job: its schema
    comes from the footer."""
    lake = str(tmp_path)
    pages = _gsmarena_pages(spark)
    crawl = jobs_in_group(
        spark, f"crawl-{tmp_path.name}", lambda: ingest_source(spark, pages, lake, "gsmarena")
    )
    recrawl = jobs_in_group(
        spark, f"recrawl-{tmp_path.name}", lambda: ingest_source(spark, pages, lake, "gsmarena")
    )
    assert 0 < crawl <= 6, crawl
    assert 0 < recrawl <= 5, recrawl


def test_knn_broadcasts_queries_not_corpus(spark):
    q = REGISTRY["knn_bruteforce"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastExchange" in plan  # the small query set moves, not the corpus


def test_partition_pruning(spark, tmp_path):
    # hive-style partitioned layout: a filter on the partition column must
    # become a PartitionFilter (files outside the partition never open)
    orders = load_table(spark, "orders", SF)
    out = str(tmp_path / "orders_part")
    orders.write.partitionBy("o_orderstatus").parquet(out)
    q = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    assert q.count() == orders.filter("o_orderstatus = 'F'").count()


def test_salted_join_spreads_hot_keys(spark):
    # the salted fact side must shuffle on (key, salt), not key alone
    q = REGISTRY["join_salted_skew"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "salt" in plan


def test_near_dup_pairs_is_bucketed_not_all_pairs(spark):
    # the LSH-candidate near-dup must never form an all-pairs product:
    # no nested-loop / cartesian join anywhere in the physical plan
    q = REGISTRY["embedding_near_dup_pairs"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_doc_chunking_is_map_only(spark):
    # chunking = scan → sequence/explode → substring: zero shuffles
    q = REGISTRY["doc_chunking"].spark(spark, SF)
    assert count_exchanges(q) == 0, formatted_plan(q)


def test_shuffle_shards_partitions_on_shard_not_single(spark):
    # the training shuffle must hash-partition on the shard key; a
    # SinglePartition window here would be the global-total-order trap
    q = REGISTRY["training_shuffle_shards"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning" in plan, plan


def test_context_packing_windows_are_sharded(spark):
    # per-shard packing: cum-sum window partitioned by shard, never global
    q = REGISTRY["doc_context_packing"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(shard" in plan, plan


def test_curriculum_bins_has_no_global_sort_over_docs(spark):
    # exact decile ranking must not total-sort the docs table: no ntile,
    # and the docs scan feeds a hash exchange on n_chars (partitioned
    # window), with at most one SinglePartition exchange — the cum-sum
    # window over the tiny per-length aggregate
    q = REGISTRY["curriculum_bins"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "ntile" not in plan.lower(), plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "hashpartitioning(n_chars" in plan, plan


def test_zorder_manifest_no_global_sort(spark):
    # z-order clustering by z-PREFIX must be a plain hash aggregate — no
    # rangepartitioning / global Sort anywhere (the naive z-order write
    # clusters via a total sort on zval)
    q = REGISTRY["zorder_manifest"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Exchange SinglePartition" not in plan, plan


def test_cdc_diff_shuffles_fingerprints_not_records(spark):
    # the full-outer join must consume map-side (key, xxhash64) projections:
    # no record column survives into the exchange, and the join itself is a
    # hash/merge join on the key — never a nested-loop
    q = REGISTRY["cdc_snapshot_diff"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan, plan
    # payload columns are projected away before the join's exchanges
    for col in ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]:
        assert f"Arguments: hashpartitioning({col}" not in plan
    assert "xxhash64" in plan, plan


def test_compaction_plan_windows_partition_by_day(spark):
    # the planner's running sum must run over day partitions of the tiny
    # per-bucket aggregate — no single-partition window over raw events
    q = REGISTRY["compaction_plan"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(day" in plan, plan


def test_scd2_shares_one_user_shuffle(spark):
    # lag-window, run-id window, groupBy, and lead-window all key on
    # user_id: Catalyst must reuse ONE hashpartitioning(user_id) exchange,
    # not stack four
    q = REGISTRY["scd2_event_type_history"].spark(spark, SF)
    plan = formatted_plan(q)
    assert plan.lower().count("hashpartitioning(user_id") <= 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_boilerplate_hot_set_is_anti_joined(spark):
    # segment removal = LEFT ANTI against the aggregated hot set; the
    # frequency join must key on the 8-byte hash, not segment text
    q = REGISTRY["boilerplate_removal"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "LeftAnti" in plan, plan
    assert "hashpartitioning(h#" in plan or "BroadcastHashJoin" in plan, plan


def test_lsh_probe_reads_persisted_table_and_broadcasts_queries(spark):
    # the bucket index must come from a persisted parquet table (a FileScan
    # whose location is the built index, not a re-derived signature pipeline
    # materialized per query), the query side must broadcast, and no
    # nested-loop/cartesian product may appear anywhere
    q = REGISTRY["knn_lsh_probe"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "graft_pid" in plan, plan  # the persisted index table's scan path
    assert "BroadcastExchange" in plan, plan  # probes/query vectors move, not corpus


def test_ivfpq_reads_both_persisted_tables(spark):
    # IVF-PQ must probe against the two build-once index TABLES (cell
    # assignment + PQ codes) — two distinct persisted-index scans in the
    # plan, not per-query re-derivations of the full corpus
    q = REGISTRY["knn_ivfpq_probe"].spark(spark, SF)
    plan = formatted_plan(q)
    assert plan.count("graft_pid") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_media_udf_stages_are_map_only(spark):
    # decode + audio framing are scan → mapInPandas (→ project): zero
    # shuffles — the multimodal plumbing must not repartition payload bytes
    for name in ["media_decode_stats", "media_audio_frames", "media_resize_stats"]:
        q = REGISTRY[name].spark(spark, SF)
        assert count_exchanges(q) == 0, formatted_plan(q)


def test_part_reassembly_is_equi_join(spark):
    # parent⋈child reassembly must plan as a key-equi hash/broadcast join
    q = REGISTRY["part_table_reassembly"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnowing_is_map_only(spark):
    # winnowing is per-document arithmetic: the whole selection (gram
    # hashes -> packed keys -> sliding array_min -> array_distinct) must
    # run as map-side array HOFs with ZERO exchanges — no doc_id window
    # shuffle, no trailing distinct exchange (array_distinct is per-doc)
    q = REGISTRY["doc_winnowing"].spark(spark, SF)
    plan = formatted_plan(q)
    assert count_exchanges(q) == 0, plan
    assert "Window" not in plan, plan


def test_winnowing_pairs_hot_fingerprints_are_anti_joined(spark):
    # the MOSS -m df cut: fingerprints in >= _WINNOW_MAX_DF docs must be
    # removed via a (broadcast) anti-join BEFORE the fp-keyed self-join,
    # so no viral-passage bucket reaches the pair generation
    q = REGISTRY["winnowing_overlap_pairs"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rfm_is_single_partial_aggregate(spark):
    # one groupBy(user_id) with map-side partial agg; segments are
    # projections on top — no extra shuffle, no global sort
    q = REGISTRY["user_rfm_segments"].spark(spark, SF)
    assert count_exchanges(q) == 1, formatted_plan(q)
    plan = formatted_plan(q)
    assert "partial_" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_top_terms_never_single_partition(spark):
    # tf/df aggregates, term join, per-doc window — all hash-partitioned;
    # the N scalar is a broadcast, never a SinglePartition exchange
    q = REGISTRY["doc_top_terms"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "Exchange SinglePartition" not in plan, plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    # 100 TB behavior pinned at test scale: with a selective dim filter and
    # a shuffle join, Spark injects a runtime bloom filter built from the
    # dim side and applied at the fact scan — rows drop before the shuffle.
    # The application-side size gate (default 10 GB) is what keeps it off
    # at sf0.001, so lower it for the assertion and restore after.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, "lineitem", SF)
        o = load_table(spark, "orders", SF)
        q = (
            li.join(
                o.filter(F.col("o_orderpriority") == "1-URGENT"),
                li.l_orderkey == o.o_orderkey,
            )
            .groupBy("o_orderstatus")
            .count()
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "partial_bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_gap_fill_grid_is_broadcast(spark):
    # the event_type x hours grid crossJoin must plan as a broadcast
    # (BroadcastNestedLoopJoin), never a SortMergeJoin/CartesianProduct —
    # both grid sides are dimension-sized at any scale factor
    q = REGISTRY["events_gap_fill_hourly"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_nsw_probe_reads_persisted_graph(spark):
    # the probe must read the persisted graph index (never rebuild it
    # inline) and expand hops as hash joins — no cartesian anywhere
    q = REGISTRY["knn_nsw_probe"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "graft_pid" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_containment_pairs_no_cartesian(spark):
    # candidate pairs come from LSH bands; the shingle-set intersection
    # joins on (doc, hash) keys — an all-pairs plan would be a regression
    q = REGISTRY["doc_containment_pairs"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_nsw_delta_reads_persisted_bucket_index(spark):
    # the delta must probe the PERSISTED bucket index (never re-hash the
    # corpus) and keep the batch side broadcast
    q = REGISTRY["nsw_graph_delta"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "graft_pid" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rollup_hierarchy_scans_events_once(spark):
    # the hour level is the only reader of the fact table; day/month
    # re-aggregate the materialized hourly partials (rollup reuse)
    # building the query materializes hourly ONCE (localCheckpoint); the
    # final plan must read only the materialized partials, never re-scan
    # the fact table per grain branch
    q = REGISTRY["rollup_reuse_hierarchy"].spark(spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("events.parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_order_overlap_is_equi_keyed(spark):
    # interval self-join rides the custkey equi-key: shuffled/broadcast
    # HASH join + residual range filter, never a nested-loop pair scan
    q = REGISTRY["order_overlap_stats"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hybrid_rrf_legs_have_sane_joins(spark):
    # lexical leg: broadcast the query postings into a HASH join on word;
    # vector leg: intentional broadcast cross (exact scorer at test SF);
    # no un-broadcast cartesian may appear anywhere
    q = REGISTRY["hybrid_search_rrf"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_clusters_final_plan_joins_materialized_labels(spark):
    # the LSH pair graph + label prop run during the iterative build (the
    # persisted-index read is asserted for the pair op itself in
    # test_near_dup_pairs_is_bucketed_not_all_pairs); the FINAL plan must
    # just hash-join the corpus ids to the materialized labels — no
    # cartesian, no re-derivation of the pair graph
    q = REGISTRY["semantic_cluster_survivors"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_join_ivm_broadcasts_the_dimension(spark):
    # the refresh path joins only delta rows to the dim, and the dim side
    # must move as a broadcast — shuffling customer against a delta would
    # invert the asymmetry the bilinear rule exists to exploit
    q = REGISTRY["ivm_nation_revenue"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmv_build_has_bounded_shuffles(spark):
    """The KMV sketch build must never shuffle a vocabulary: the only
    aggregation exchanges are the HLL estimate (mergeable partials —
    partial_approx_count_distinct before its exchange) and the k-min of
    the prefiltered survivors; the per-source cutoff reaches the pairs
    via a broadcast join, never a shuffle join."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        kmv_kmin,
        token_hash_pairs,
    )
    from collect_mobile_devices_datalake_spark.session import fan_out

    q = kmv_kmin(
        token_hash_pairs(fan_out(load_table(spark, "documents", SF), "doc_id"))
    )
    flags = plan_has(
        q, "partial_approx_count_distinct", "BroadcastHashJoin", "SortMergeJoin"
    )
    assert flags["partial_approx_count_distinct"], formatted_plan(q)
    assert flags["BroadcastHashJoin"], formatted_plan(q)
    assert not flags["SortMergeJoin"], formatted_plan(q)
    # 2 fan_out repartitions (test-SF scan widening) + HLL agg + k-min agg
    assert count_exchanges(q) <= 4, formatted_plan(q)


def test_registry_wide_plan_hygiene(spark):
    """Every registered query's physical plan must be free of the two
    anti-patterns that kill 100 TB runs: row-at-a-time Python UDFs
    (BatchEvalPython — Arrow paths are fine) and unbounded Cartesian
    products (CartesianProduct; broadcast nested-loop joins are the
    intended form for small-side non-equi joins). Allow-list only the
    declared showcases."""
    from collect_mobile_devices_datalake_spark.registry import REGISTRY

    # udf_surface deliberately demonstrates the full UDF API surface,
    # including the row-at-a-time form Spark still ships
    ROW_UDF_OK = {
        k for k in REGISTRY if k.startswith("udf_") or k.startswith("udtf_")
    }
    offenders: list[str] = []
    exercised: set[str] = set()
    for name, spec in sorted(REGISTRY.items()):
        df = spec.spark(spark, SF)
        plan = formatted_plan(df)
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            if name in ROW_UDF_OK:
                exercised.add(name)
            else:
                offenders.append(f"{name}: BatchEvalPython (row-at-a-time UDF)")
    assert not offenders, offenders
    # the allow-list must stay exact: an exemption whose plan no longer
    # contains BatchEvalPython is stale and must be dropped, so the gate
    # never silently grandfathers a future row-UDF under an old name
    stale = sorted(ROW_UDF_OK - exercised)
    assert not stale, f"stale ROW_UDF_OK exemptions (no BatchEvalPython): {stale}"


def test_source_quality_calibration_plan(spark):
    """The per-source calibration must rank via the tiny (source, score)
    histogram — broadcast join back onto the scan, NO per-doc window and
    no sort-merge join of the corpus."""
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["source_quality_calibration"].spark(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_media_wav_silence_runs_plan(spark):
    """VAD runs: map-only decode (payload never shuffles before the frame
    projection), islands via media-keyed window, no row-at-a-time UDF."""
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["media_wav_silence_runs"].spark(spark, SF)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # the only exchanges are the window partition + the run aggregate —
    # both carry integer frame stats, never payload bytes
    assert count_exchanges(df) <= 3, plan


def test_hll_register_build_is_one_mapside_max_aggregation(spark):
    """The HLL register build must be the purest scan shape in the repo:
    ONE aggregation with a map-side partial max (shuffle <= keys x 256
    rows per map partition), no join anywhere, no distinct — duplicates
    are absorbed by max, which is the whole point vs exact-distinct."""
    from collect_mobile_devices_datalake_spark.functions.text import char_ngrams
    from collect_mobile_devices_datalake_spark.functions.text import rolling_hash
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_SHINGLE,
        hll_registers,
    )
    from collect_mobile_devices_datalake_spark.session import fan_out
    from pyspark.sql import functions as F

    docs = fan_out(load_table(spark, "documents", SF), "doc_id")
    pairs = docs.select(
        "source", F.explode(char_ngrams(F.col("text"), HLL_SHINGLE)).alias("t")
    ).select("source", rolling_hash("t").alias("h"))
    q = hll_registers(pairs)
    plan = formatted_plan(q)
    assert "partial_max" in plan, plan
    assert "Join" not in plan, plan
    # fan_out repartition (test-SF scan widening) + the single agg exchange
    assert count_exchanges(q) <= 2, plan


def test_watermark_sweep_two_phase_prefix_scan_plan(spark):
    """The lateness sweep's running max must be the two-phase shape: the
    event mass flows through a CHUNK-PARTITIONED window (parallel), and
    the only single-partition exchanges sit on bounded frames — the
    one-row-per-hour chunk table's prefix fold and the |sweep|-row
    output sort. The chunk prefix joins back by broadcast."""
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["watermark_lateness_sweep"].spark(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # exactly two bounded single-partition points, none carrying events:
    # the chunk-table prefix window and the final sweep-sized sort
    assert plan.count("Exchange SinglePartition") <= 2, plan
    # the big-side window is partitioned (chunk key present in the
    # window's partition spec — a global-order window over events would
    # show an empty partition spec feeding a single partition)
    assert "hashpartitioning(chunk" in plan, plan


def test_simhash_permuted_tables_join_on_prefix_keys(spark):
    """The Manku permuted-table near-dup must be a HASH join whose equi
    keys are (perm_id, pkey) — the 30-bit permuted prefix — never a
    cartesian/nested-loop product. (At fixture scale Catalyst broadcasts
    one exploded side; at cluster scale the same keys drive a shuffled
    hash/sort-merge join — either way the candidate set is the keyed
    bucket, not a product.)"""
    q = REGISTRY["simhash_band_near_dup"].spark(spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the candidate join is an equi hash join keyed on the permuted prefix
    assert "HashJoin" in plan, plan
    import re

    keys = re.search(r"Left keys \[2\]: \[perm_id#\d+, pkey#\d+L\]", plan)
    assert keys, plan
    # the exact Hamming verify is pushed into the join itself
    assert "bit_count" in plan, plan


def test_lsh_incremental_reads_base_and_delta_shards(spark):
    """knn_lsh_incremental must serve candidates from TWO persisted
    index shards (base + delta parquet scans) — never a corpus
    re-bucketing per probe, never a cartesian product; queries still
    move by broadcast."""
    q = REGISTRY["knn_lsh_incremental"].spark(spark, SF)
    plan = formatted_plan(q)
    assert plan.count("graft_pid") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_ivf_incremental_reads_base_and_delta_shards(spark):
    """knn_ivf_incremental must probe against TWO persisted inverted-file
    shards (base + delta parquet scans) — an append never re-assigns the
    base corpus; no cartesian product anywhere."""
    q = REGISTRY["knn_ivf_incremental"].spark(spark, SF)
    plan = formatted_plan(q)
    assert plan.count("graft_pid") >= 2, plan
    assert "CartesianProduct" not in plan, plan
