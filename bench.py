#!/usr/bin/env python
"""Headline benchmark: run the flagship queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is executed to completion (count() forces the full plan; the
driver-facing results stay distributed — no collect of payload rows).
"""

from __future__ import annotations

import atexit
import json
import os
import re
import time

HEADLINE = [
    "resume_pending",
    "q01_pricing_summary",
    "q03_top_revenue",
    "q05_region_revenue",
    "q_window_topk_per_segment",
    "q_distinct_agg",
    "events_session_windows",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "knn_bruteforce",
    "doc_stats",
    "doc_langid",
    "parse_gsmarena",
    "asof_purchase_click",
    "knn_lsh_probe",
    "join_salted_skew",
    # post-r1 heavy families (self-baseline first recorded in round 7 —
    # see BASELINE.md "r7 additions"): the driver bench now guards the
    # exact-substring, graph-ANN, tokenizer-induction, decontamination,
    # and hybrid-retrieval paths instead of leaving them to perf_sweep.
    "dup_substring_profile",
    "knn_nsw_probe",
    "bpe_learn_merges",
    "decontam_bloom_report",
    # r12: the headline hybrid-retrieval row is the INDEXED twin (the
    # production path, linear slope −0.16/0.28); the exact twin
    # hybrid_search_rrf stays registered as its recall-QA oracle pair,
    # mirroring how ANN treats knn_bruteforce as baseline-not-product.
    "hybrid_search_rrf_indexed",
    # late-r7 iterative families (self-baselines in BASELINE.md §C):
    # the unigram-LM Viterbi DP and the greedy k-center loop are the
    # two newest driver-loop algorithms — the shape most sensitive to
    # per-job overhead regressions.
    "unigram_lm_segmentation",
    "kcenter_coreset",
    # final-r7 families (self-baselines in BASELINE.md §C): the
    # supervised quality filter (vocabulary-keyed weight joins) and the
    # curation capstone (CCNet gate -> waterfill budget -> prefix cut),
    # which exercises the longest composed chain in the registry.
    "nb_quality_classifier",
    "curated_mix_manifest",
    # round-11 family: the winnowing local-overlap chain — map-side
    # fingerprint selection + MOSS -m df cut + fp-keyed self-join (the
    # round's headline scale fix; self-baseline in BASELINE.md)
    "winnowing_overlap_pairs",
    # round-12 widening (r7 precedent: guard a family once it
    # stabilizes): the r11 batch additions — tokenizer APPLICATION
    # (greedy longest-match BPE encode over the learned merge table),
    # the exact decontamination twin, the temperature-mix allocator,
    # LSH hard-negative mining, and the LSH index health report.
    # First-green self-baselines in BASELINE.md §C.
    "bpe_corpus_encoding",
    "test_set_novelty",
    "temperature_mix_allocation",
    "contrastive_pairs_mined",
    "lsh_index_stats",
    # r13 continuation: the two newest kernel families — the HLL
    # register build (the purest scan shape in the repo: one map-side
    # max aggregation, slope -0.50/0.30) and the WordPiece pair
    # (likelihood-scored learn loop + persisted-artifact corpus apply,
    # slopes -0.19/0.07 and 0.35/0.28). First-green self-baselines in
    # BASELINE.md §C-v2 (calibrated).
    "hll_register_sketch",
    "wordpiece_learn_merges",
    "wordpiece_corpus_encoding",
    # r13 session 3: the watermark tuner (two-phase distributed prefix
    # scan over events — a shape no other headline row exercises), the
    # vocab-budget sweep (sweep-parallel max-munch over the ranked
    # vocab artifact), and the embedding hygiene audit (array-fold
    # norms + label-keyed discrete median). First-green self-baselines
    # in BASELINE.md §C-v2 (calibrated).
    "watermark_lateness_sweep",
    "wp_vocab_size_sweep",
    "embedding_dq_audit",
]

# Streaming maintenance guard set (added r8): each runs a REAL
# Structured Streaming query (availableNow trigger(s) against a fresh
# checkpoint) plus compaction, so wall time is dominated by fixed
# foreachBatch/checkpoint machinery, not data volume. Timed BEST-OF-2
# since r9 (BASELINE.md §C): each run pays the whole protocol again —
# fresh source copy, fresh checkpoint — so best-of-2 here measures the
# same fixed machinery twice and takes the quieter sample, making the
# 2x gate meaningful against the single-run variance these four showed
# in r7/r8 (rollup 27.8 -> 29.3 s across rounds with unchanged code).
# Listed separately so a regression pins to the streaming protocol, not
# the batch plans. Temp source/state/checkpoint roots are cleaned after
# every run (they are ~hundreds of MB each at sf0.1).
STREAMING = [
    "streaming_rollup_day_grain",
    "streaming_survivorship_state",
    "streaming_cms_state",
    "streaming_logbin_state",
    "streaming_priority_sample_state",
    "streaming_kmv_state",
    # r13: the seventh lattice family — per-register HLL max (the most
    # tightly bounded state in the family: <= sources x 256 rows/batch)
    "streaming_hll_state",
    # r13 session 3: the eighth lattice family — packed-word bitwise OR
    # (the saved-set membership bitmap resume_bloom_prefilter probes)
    "streaming_bloom_state",
    # r14: the ninth lattice family — per-source MIN/MAX ingest profile,
    # a single-declaration plug-in that certifies the lattice.py protocol
    # extraction (streaming/profile_maintenance.py)
    "streaming_profile_state",
    # r15: the tenth lattice family — Misra-Gries/SpaceSaving top-k
    # heavy hitters (counters sum, reduction errors add; manifest-
    # committed like the other SUM families)
    "streaming_topk_state",
    # r15: the eleventh family — streaming maintenance of the LSH
    # bucket index itself (G-set distinct union; the state IS the
    # persisted index knn_lsh_probe reads)
    "streaming_lsh_index_state",
]


def fs_calibration_sec(runs: int) -> float:
    """Best-of-N wall time of a fixed write-fsync-read-delete loop
    (64 x 1 MiB files in a fresh temp dir) — the fs-bound twin of the
    CPU calibration row. The streaming guard set's wall time is
    dominated by availableNow checkpoint/compaction fs traffic, which
    scales with filesystem contention, NOT CPU load (the r13 finding:
    CPU normalization OVER-corrects streaming rows on a busy box —
    streaming_bloom_state's first-green had to be re-recorded).
    perf_sweep.baseline_v2_ratios divides streaming rows by this row
    on both sides when available. Excluded from the total."""
    import tempfile

    payload = b"\x5a" * (1 << 20)
    best = float("inf")
    for _ in range(max(2, runs)):
        t0 = time.perf_counter()
        with tempfile.TemporaryDirectory(prefix="benchfs-") as d:
            for i in range(64):
                p = os.path.join(d, f"f{i}")
                with open(p, "wb") as f:
                    f.write(payload)
                    f.flush()
                    os.fsync(f.fileno())
                with open(p, "rb") as f:
                    f.read()
                os.remove(p)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_BENCH_RUNS: samples per query (best-of-N). Default 2 —
    # the driver protocol. BASELINE.md §C-v2 rows are recorded with N=4
    # on a quiet box (tools/record_baseline_v2 wraps exactly this).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from collect_mobile_devices_datalake_spark import artifacts
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
    from collect_mobile_devices_datalake_spark.session import get_spark

    # clear scratch dirs stranded by a prior crashed bench/driver process
    # before adding our own; ours go when this process exits
    artifacts.sweep_stale()
    atexit.register(artifacts.cleanup)
    _ensure_loaded()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM, codegen, and parquet footers so we measure query time,
    # not first-touch costs (the first timed query otherwise absorbs them)
    spark.range(1).count()
    from collect_mobile_devices_datalake_spark import TABLES
    from collect_mobile_devices_datalake_spark.session import load_table

    for t in TABLES:
        load_table(spark, t, sf_dir).count()

    # Fixed calibration row: a data-independent JVM workload (sum of
    # id % 1000 over 8e9 synthetic longs — the modulo keeps the sum far
    # from BIGINT overflow under ANSI mode; ~1.2s on a quiet box) timed
    # exactly like the queries. BENCH_rN
    # readings are taken on a shared box whose load varies round to
    # round (r11 saw code-untouched scan queries inflate up to 2.04x) —
    # this row carries the round's own load denominator, so a perf gate
    # can separate "the code got slower" from "the box was busy".
    # Excluded from the total; tools/perf_sweep.py flags rounds whose
    # calibration drifts >1.2x from the recorded-round median.
    calibration = float("inf")
    for _ in range(max(2, runs)):
        t0 = time.perf_counter()
        spark.range(8_000_000_000).selectExpr("sum(id % 1000)").collect()
        calibration = min(calibration, time.perf_counter() - t0)
    calibration = round(calibration, 3)
    calibration_fs = fs_calibration_sec(runs)

    # Untimed warm-up of the FIRST timed row: the table-count and
    # calibration warmups above touch parquet footers and the JVM but
    # not the column-chunk pages resume_pending's scan+shuffle reads,
    # so on a busy box the first timed row absorbed first-touch page
    # costs that best-of-N couldn't amortize (r14 NOTES: raw spread
    # 1.04–3.07 s across four same-code runs, tracking box load faster
    # than the calibration row). One full untimed execution makes every
    # timed sample of row 1 a warm sample, same as rows 2..N already are.
    REGISTRY[HEADLINE[0]].spark(spark, sf_dir).count()

    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        spec = REGISTRY[name]
        # steady-state: best of N runs (first run also compiles the plan's
        # whole-stage codegen and touches cold column chunks)
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        total += best

    from collect_mobile_devices_datalake_spark.operators.streaming_batch import (
        cleanup_stream_temp_roots,
    )

    for name in STREAMING:
        spec = REGISTRY[name]
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
            cleanup_stream_temp_roots()
        timings[name] = round(best, 3)
        total += best

    print(
        json.dumps(
            {
                "metric": "total_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "calibration_sec": calibration,
                "calibration_fs_sec": calibration_fs,
            }
        )
    )


if __name__ == "__main__":
    main()
