"""ANN quality: approximate probes measured against the exact baseline.

Deterministic pipeline → recall values are stable; thresholds sit just
under the measured values (LSH 0.59, IVF 0.64 at sf0.001) to catch
regressions in the hashing or probing logic.
"""

from __future__ import annotations

from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()
SF = "/root/testdata/sf0.001"


def _pairs(spark, name):
    return {(r["query_id"], r["neighbor_id"]) for r in REGISTRY[name].spark(spark, SF).collect()}


def _recall(base, approx):
    qs = {q for q, _ in base}
    return sum(
        len({n for qq, n in base if qq == q} & {n for qq, n in approx if qq == q}) / 10
        for q in qs
    ) / len(qs)


def test_lsh_and_ivf_recall(spark):
    bf = _pairs(spark, "knn_bruteforce")
    assert len(bf) == 200  # 20 queries x top-10
    lsh = _pairs(spark, "knn_lsh_probe")
    ivf = _pairs(spark, "knn_ivf_probe")
    assert _recall(bf, lsh) >= 0.5, "multi-table LSH recall regressed"
    assert _recall(bf, ivf) >= 0.55, "IVF probe recall regressed"


def test_approx_scores_match_exact_for_found_neighbors(spark):
    # any neighbor the probe returns must carry the SAME cosine the
    # brute-force path computes (same kernel, same rounding)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in REGISTRY["knn_bruteforce"].spark(spark, SF).collect()
    }
    for r in REGISTRY["knn_lsh_probe"].spark(spark, SF).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert r["cosine"] == bf[key]


def test_kmeans_ivf_recall(spark):
    bf = _pairs(spark, "knn_bruteforce")
    km = _pairs(spark, "knn_ivf_kmeans_probe")
    assert _recall(bf, km) >= 0.55, "k-means IVF recall regressed"


def test_ivfpq_recall(spark):
    # the crude 16-entry stand-in codebook caps ADC ranking quality; with
    # PQ_SHORTLIST=64 measured recall@10 is 0.515 at sf0.001 — floor just
    # under to catch encode/ADC/shortlist regressions
    bf = _pairs(spark, "knn_bruteforce")
    pq = _pairs(spark, "knn_ivfpq_probe")
    assert _recall(bf, pq) >= 0.45, "IVF-PQ recall regressed"


def test_near_dup_lsh_recall_vs_exact(spark):
    # multiprobe LSH candidates verified exactly: every returned pair must
    # exist in the all-pairs truth set with the same cosine, and recall at
    # the tau=0.4 threshold must hold (measured 0.68 at sf0.01; these are
    # LOW-cosine pairs — true near-dups at cos>=0.9 collide with p~1)
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in REGISTRY["embedding_near_dup_exact"].spark(spark, SF).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in REGISTRY["embedding_near_dup_pairs"].spark(spark, SF).collect()
    }
    assert set(lsh) <= set(exact), "LSH returned a pair the truth set lacks"
    for k, v in lsh.items():
        assert v == exact[k], f"cosine mismatch for {k}"
    assert len(lsh) / len(exact) >= 0.5, f"recall regressed: {len(lsh)}/{len(exact)}"


def test_index_cache_key_includes_params_and_corpus_fingerprint(tmp_path):
    # Regenerating a corpus in place must change the fingerprint (stale
    # cached indexes can never be served), and algorithm parameters must
    # be part of the composed key (different quantizers never collide).
    import shutil
    import os
    import time

    from collect_mobile_devices_datalake_spark.session import table_fingerprint

    src = "/root/testdata/sf0.001/embeddings.parquet"
    dst = str(tmp_path / "embeddings.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)
    fp1 = table_fingerprint(str(tmp_path), "embeddings")
    # rewrite in place: bump mtime on every file of the table
    later = time.time() + 10
    targets = (
        [os.path.join(r, f) for r, _, fs in os.walk(dst) for f in fs]
        if os.path.isdir(dst)
        else [dst]
    )
    for p in targets:
        os.utime(p, (later, later))
    fp2 = table_fingerprint(str(tmp_path), "embeddings")
    assert fp1 != fp2, "fingerprint must change when the corpus is rewritten"


def test_index_cache_distinguishes_algorithm_params(spark):
    # two callers with the same kind+corpus but different params must get
    # separate builds — reverting the key composition to kind+corpus only
    # would hand the k16 caller the cached k8 index
    from collect_mobile_devices_datalake_spark import artifacts

    calls = []

    def build_a():
        calls.append("a")
        return spark.range(1).selectExpr("id AS v")

    def build_b():
        calls.append("b")
        return spark.range(2).selectExpr("id AS v")

    emb = [(SF, "embeddings")]
    a1 = artifacts.persisted_table(spark, "testkind", "k8", emb, build_a)
    b1 = artifacts.persisted_table(spark, "testkind", "k16", emb, build_b)
    a2 = artifacts.persisted_table(spark, "testkind", "k8", emb, build_a)
    assert calls == ["a", "b"], "params must be part of the cache key"
    assert a1.count() == 1 and b1.count() == 2 and a2.count() == 1


def test_nsw_probe_recall(spark):
    # multiprobe-built graph (M=16) + 2-hop expansion measured 0.845 at
    # sf0.01 and 0.85 at sf0.001; floor catches graph-quality regressions
    bf = _pairs(spark, "knn_bruteforce")
    nw = _pairs(spark, "knn_nsw_probe")
    assert _recall(bf, nw) >= 0.7, "NSW graph-probe recall regressed"


def test_nsw_graph_degree_bounded(spark):
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        NSW_M,
        nsw_graph,
    )

    from pyspark.sql import functions as F

    g = nsw_graph(spark, SF)
    deg = g.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= NSW_M, f"out-degree {deg} exceeds NSW_M={NSW_M}"


def test_nsw_delta_matches_full_build_for_batch(spark):
    # incremental maintenance must be exact: the delta computation for the
    # "newly arrived" batch produces the same edges the full rebuild would
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        DELTA_MOD,
        DELTA_REM,
        nsw_graph,
    )
    from pyspark.sql import functions as F

    full = {
        (r["src"], r["dst"], r["rk"])
        for r in nsw_graph(spark, SF)
        .filter(F.col("src") % DELTA_MOD == DELTA_REM)
        .collect()
    }
    delta = {
        (r["src"], r["dst"], r["rk"])
        for r in REGISTRY["nsw_graph_delta"].spark(spark, SF).collect()
    }
    assert delta == full and len(delta) > 0


def test_nsw_edges_for_batch_ignores_duplicate_vec_ids(spark):
    """A micro-batch can hold one vector twice (a re-delivered file lands
    in the same trigger as the original): its edges must be the
    deduplicated batch's, not top-M lists filled with repeated pairs."""
    from collections import Counter

    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.operators.similarity import (
        DELTA_MOD,
        DELTA_REM,
        nsw_edges_for_batch,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    batch = (
        load_table(spark, "embeddings", SF)
        .filter(F.col("vec_id") % DELTA_MOD == DELTA_REM)
        .select("vec_id", "embedding")
    )

    def edges(b):
        return Counter(tuple(r) for r in nsw_edges_for_batch(spark, SF, b).collect())

    want = edges(batch)
    assert sum(want.values()) > 0
    assert edges(batch.unionByName(batch)) == want


def test_zero_norm_cosine_guard_both_engines():
    """An all-zero embedding must score cosine 0.0 — not NaN/Inf — on BOTH
    engines, so Spark/DuckDB parity is structural rather than dependent on
    the fixture corpus happening to contain no zero vectors. Drives the
    CASE-guard branch of `_cos_sql_pair` (the fixture corpus never does)."""
    import duckdb

    from collect_mobile_devices_datalake_spark.operators.similarity import _cos_sql_pair

    frag = _cos_sql_pair("a.v", "b.v")
    got = duckdb.sql(
        f"""
        WITH a AS (SELECT [0.0, 0.0, 0.0] AS v),
             b AS (SELECT [1.0, 2.0, 3.0] AS v)
        SELECT {frag} AS cz, (
          SELECT {_cos_sql_pair('x.v', 'y.v')}
          FROM (SELECT [1.0, 0.0] AS v) x, (SELECT [1.0, 0.0] AS v) y
        ) AS cu
        FROM a, b
        """
    ).fetchall()[0]
    assert got[0] == 0.0, got
    assert abs(got[1] - 1.0) < 1e-12, got


def test_zero_norm_cosine_guard_spark(spark):
    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]), ([1.0, 0.0, 0.0], [1.0, 0.0, 0.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(cosine_similarity("a", "b").alias("c")).collect()
    assert rows[0]["c"] == 0.0
    assert abs(rows[1]["c"] - 1.0) < 1e-12


def test_contrastive_pairs_mined_semantics(spark):
    """The mined pair must be label-correct (positive shares the anchor's
    label, negative doesn't), both sides must be genuine LSH candidates
    of the anchor, and the surfaced margin must be the rounded
    difference of the two cosines."""
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        lsh_scored_pairs,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    rows = REGISTRY["contrastive_pairs_mined"].spark(spark, SF).collect()
    assert rows
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, "embeddings", SF).select("vec_id", "label").collect()
    }
    cands = {}
    for r in lsh_scored_pairs(spark, SF).collect():
        cands.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in rows:
        assert labels[r.pos_id] == r.anchor_label == labels[r.anchor_id]
        assert labels[r.neg_id] != r.anchor_label
        assert {r.pos_id, r.neg_id} <= cands[r.anchor_id]
        assert abs(r.margin - (r.pos_cos - r.neg_cos)) < 2e-6


def test_lsh_index_stats_accounting(spark):
    """Every table's occupancy must sum to the corpus size, and the
    reported pair mass must equal the brute recount over the shared
    persisted index (the exact sum the candidate-join cost analyses in
    this module cite)."""
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        bucket_index,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    n = load_table(spark, "embeddings", SF).count()
    rows = REGISTRY["lsh_index_stats"].spark(spark, SF).collect()
    assert len(rows) == 8 and all(r.n_vectors == n for r in rows)
    occ = {}
    for r in bucket_index(spark, SF).collect():
        occ[(r.t, r.bucket)] = occ.get((r.t, r.bucket), 0) + 1
    for r in rows:
        per_t = [v for (t, _), v in occ.items() if t == r.t]
        assert r.n_buckets == len(per_t)
        assert r.max_occ == max(per_t)
        assert r.pair_mass == sum(v * (v - 1) // 2 for v in per_t)


def test_embedding_dq_audit_detects_planted_defects(spark, tmp_path):
    """The audit's defect counters must fire on a shard with planted
    problems: null payloads, NaN/Inf elements, NULL elements, EMPTY
    (non-null) arrays, mixed dims, zero-norm vectors, and
    half/double-median norm outliers (the clean driver fixture
    exercises only the healthy path). The NULL-element and empty-array
    rows pin the two cross-engine divergences from the r13 advice:
    exists() returning NULL on no-match-with-nulls, and DuckDB's
    unseeded list_reduce erroring on []."""
    import math

    from pyspark.sql import Row

    from collect_mobile_devices_datalake_spark.registry import REGISTRY

    rows = [
        Row(vec_id=1, embedding=[3.0, 4.0], label=0),        # mnorm 5000
        Row(vec_id=2, embedding=[3.0, 4.0], label=0),        # median anchor
        Row(vec_id=3, embedding=[3.0, 4.0], label=0),
        Row(vec_id=4, embedding=None, label=0),              # null payload
        Row(vec_id=5, embedding=[float("nan"), 1.0], label=0),   # NaN
        Row(vec_id=6, embedding=[float("inf"), 1.0], label=0),   # Inf
        Row(vec_id=7, embedding=[1.0, 1.0, 1.0], label=0),   # dim mismatch, low norm
        Row(vec_id=8, embedding=[0.0, 0.0], label=0),        # zero norm
        Row(vec_id=9, embedding=[30.0, 40.0], label=0),      # high outlier
        Row(vec_id=10, embedding=[None, 1.0], label=0),      # NULL element
        Row(vec_id=11, embedding=[], label=0),               # empty payload
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = {
        r.label: r
        for r in REGISTRY["embedding_dq_audit"].spark(spark, str(tmp_path)).collect()
    }
    a = out[0]
    assert a.n_vectors == 11
    assert a.n_null == 1
    assert a.n_nonfinite == 3     # NaN, Inf, and the NULL-element array
    assert (a.min_dim, a.max_dim) == (0, 3)
    assert a.n_zero_norm == 2     # [0,0] and the empty array both fold to 0
    # healthy norms: 5000 x3, floor(sqrt(3)*1000)=1732, 0, 0, 50000
    assert a.med_mnorm == 5000
    assert a.min_mnorm == 0 and a.max_mnorm == 50000
    assert a.n_norm_low == 3      # 1732 and the two zeros are below half-median
    assert a.n_norm_high == 1     # 50000 is above double the median
    assert a.med_mnorm == math.floor(5.0 * 1000)

    # the planted shard must also certify cross-engine, not just fire
    # the counters — this is where the two r13 divergence classes lived
    import duckdb

    spec = REGISTRY["embedding_dq_audit"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    orc = con.execute(spec.oracle).fetchall()
    got = [tuple(r) for r in spec.spark(spark, str(tmp_path)).collect()]
    assert got == orc


def test_lsh_incremental_equals_full_rebuild_and_never_rewrites_base(spark):
    """The base+delta LSH index must (a) answer probes EXACTLY like the
    full-rebuild index — same oracle, same values — and (b) be TRULY
    incremental: re-deriving the indexes for the same corpus reuses the
    persisted base shard (same path, untouched bytes) instead of
    rebuilding it."""
    import os

    from collect_mobile_devices_datalake_spark.artifacts import _MEMO
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        lsh_base_delta_indexes,
    )

    full = {
        tuple(r) for r in REGISTRY["knn_lsh_probe"].spark(spark, SF).collect()
    }
    inc = {
        tuple(r)
        for r in REGISTRY["knn_lsh_incremental"].spark(spark, SF).collect()
    }
    assert inc == full and len(inc) > 0

    # the maintenance property: a second derivation reuses the persisted
    # base shard byte-for-byte (the cache key includes the corpus
    # fingerprint, so only an actual append would mint a new delta)
    base_paths = [p for k, p in _MEMO.items() if k.startswith("lshbase:")]
    assert base_paths, "base shard not persisted"
    before = {p: os.path.getmtime(p) for p in base_paths}
    lsh_base_delta_indexes(spark, SF)
    after = {p: os.path.getmtime(p) for p in base_paths}
    assert before == after


def test_ivf_incremental_frozen_quantizer_and_base_shard_reuse(spark):
    """The incremental IVF contract: the quantizer is trained on the
    base only and FROZEN — so every base vector's cell assignment is
    identical whether or not the delta exists — and re-deriving the
    shards for the same corpus reuses the persisted base inverted file
    untouched (an append writes only the delta shard)."""
    import os

    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.artifacts import _MEMO
    from collect_mobile_devices_datalake_spark.operators.similarity import (
        ivf_assignment,
        kmeans_centroids,
    )
    from collect_mobile_devices_datalake_spark.session import fan_out, load_table

    emb = fan_out(load_table(spark, "embeddings", SF), "vec_id")
    is_delta = F.col("vec_id") % 10 == 7
    cents = kmeans_centroids(emb.filter(~is_delta), k=8, iters=4)
    base = ivf_assignment(
        spark, SF, emb.filter(~is_delta), cents, params="k8i4", kind="ivfbase"
    )
    # frozen quantizer: base assignments with and without the delta agree
    both = ivf_assignment(
        spark, SF, emb, cents, params="k8i4", kind="ivfboth"
    )
    a = {(r["vec_id"], r["cell"]) for r in base.collect()}
    b = {
        (r["vec_id"], r["cell"])
        for r in both.filter(F.col("vec_id") % 10 != 7).collect()
    }
    assert a == b and len(a) > 0

    base_paths = [p for k, p in _MEMO.items() if k.startswith("ivfbase:")]
    assert base_paths
    before = {p: os.path.getmtime(p) for p in base_paths}
    REGISTRY["knn_ivf_incremental"].spark(spark, SF).count()
    after = {p: os.path.getmtime(p) for p in base_paths}
    assert before == after


def test_vectorized_bucket_kernel_equals_expression_twin(spark):
    """The r15 Arrow-vectorized bucket kernel must be BIT-identical to the
    sequential-fold expression form it replaced (`_multitable_buckets_expr`
    / `_lsh_bucket_expr` — the structural twins of the oracle SQL), on the
    real fixture AND on adversarial synthetic vectors: non-64 lengths
    (the scalar fallback path), zeros, sign-boundary magnitudes, NaN/Inf
    elements, and NULL embeddings — and at a widened (non-floor) plane
    count, the adaptive-p path the driver fixtures never reach."""
    import math

    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.operators.similarity import (
        N_TABLES,
        _lsh_bucket_expr,
        _multitable_buckets,
        _multitable_buckets_expr,
        lsh_bucket,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    emb = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    rows = [
        (10_001, [0.0] * 64),                      # all-zero: every dot == 0, no bit set
        (10_002, [1e-30] * 64),                    # near-zero magnitudes (sign-boundary)
        (10_003, [-1e30, 1e30] * 32),              # catastrophic-cancellation ordering
        (10_004, [float("nan")] * 64),             # NaN dot -> bit 0 on both paths
        (10_005, [float("inf"), -float("inf")] * 32),
        (10_006, [0.5] * 32),                      # len 32: scalar-fallback path
        (10_007, [1.0]),                           # len 1
        (10_008, None),                            # NULL embedding -> bucket 0 per table
        (10_009, [float(math.sin(i)) for i in range(64)]),
        (10_010, [1.0] * 63 + [None]),             # NULL element -> NULL dot -> bucket 0
        (10_011, [float("nan")] * 32),             # NaN on the scalar-fallback path
    ]
    synth = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for planes in (8, 11):  # the floor and a widened (adaptive) count
        for df in (emb, synth):
            bad = (
                df.select(
                    "vec_id",
                    _multitable_buckets(F.col("embedding"), planes).alias("fast"),
                    _multitable_buckets_expr(F.col("embedding"), planes).alias("ref"),
                )
                .filter(
                    ~(
                        F.col("fast").eqNullSafe(F.col("ref"))
                        # NULL embedding: the expression twin still folds to
                        # an all-zero bucket array (NULL dot fails > 0)
                        | (
                            F.col("embedding").isNull()
                            & (F.col("fast") == F.array(*[F.lit(0)] * N_TABLES))
                        )
                    )
                )
                .count()
            )
            assert bad == 0, f"planes={planes}: {bad} mismatching bucket rows"
    # single-table kernel vs its expression twin (skip NULL/len<1 edge rows:
    # F.sequence(1, size) is ill-defined there and no fixture contains them)
    bad = (
        emb.select(
            lsh_bucket(F.col("embedding")).alias("fast"),
            _lsh_bucket_expr(F.col("embedding")).alias("ref"),
        )
        .filter(~F.col("fast").eqNullSafe(F.col("ref")))
        .count()
    )
    assert bad == 0
