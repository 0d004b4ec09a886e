"""Similarity search over the ``embeddings`` table (north-star M5).

Baseline: brute-force cosine top-k (query-set × corpus, fold order fixed
so doubles are bit-reproducible). Scale path: random-hyperplane LSH
bucketing — candidates come from one bucket join instead of the full
cross product, turning O(n·q) into O(q·bucket). At 100 TB the corpus
side is scanned once, hashed, and bucket-partitioned; queries broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import artifacts
from ..functions.vectors import cosine_similarity
from ..registry import register
from ..session import fan_out, load_table
from ..streaming.lattice import LatticeFamily

N_PLANES = 12
QUERY_MOD = 25  # vec_id % 25 == 0 → 20 query vectors over the 500-row table


@register(
    "knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    parts AS (
      -- num/den split so the zero-norm guard below matches the Spark
      -- side's ``WHEN qnrm*nrm == 0 THEN 0.0`` (an all-zero embedding
      -- must score 0, not NaN/Inf — structural, not fixture-dependent)
      SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
             list_reduce(list_transform(range(1, len(q.qv) + 1),
                         i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
             AS num,
             (sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
                         i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))
              * sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
             AS den
      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, label,
             CASE WHEN den = 0 THEN 0.0 ELSE num / den END AS cos
      FROM parts
    )
    SELECT query_id, neighbor_id, label, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Brute-force cosine top-10 per query vector — the exact baseline ANN answers "
    "are measured against.",
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm

    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    # norms are per-vector, not per-pair: project them once on each side so
    # the cross join evaluates one dot product per pair instead of three
    # array folds (dot + 2 norms recomputed q times per vector)
    corpus = emb.select("vec_id", "label", "embedding", l2_norm("embedding").alias("nrm"))
    q = corpus.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.when(F.col("qnrm") * F.col("nrm") == 0, F.lit(0.0))
            .otherwise(dot_product("query_vec", "embedding") / (F.col("qnrm") * F.col("nrm")))
            .alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", "label", F.round("cos", 6).alias("cosine"), "rk")
    )


def _plane_component(j: Column | int, i: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-10, 10]."""
    jj = F.lit(j) if isinstance(j, int) else j
    return (jj * 131 + i * 37 + (jj + 3) * (i + 5) % 11) % 21 - 10


def _plane_coeff(j: int, i: int) -> float:
    """Plan-time Python twin of ``_plane_component`` for literal (j, i) —
    the hyperplanes are data-independent, so every coefficient is a
    compile-time constant (the r15 vectorized-bucket optimization folds
    the whole (dim × bits) coefficient matrix at UDF-build time instead
    of re-deriving each component per row inside an interpreted lambda).
    """
    return float((j * 131 + i * 37 + ((j + 3) * (i + 5)) % 11) % 21 - 10)


_MT_FAST_DIM = 64  # the lake's embedding width; other lengths take the exact per-row fold


def _hyperplane_buckets_udf(
    spark: SparkSession, plane_ids: tuple[tuple[int, ...], ...]
):
    """The bucket kernel for ``plane_ids``, built once per Spark
    application: a UDF built under a stopped session still points at that
    context's accumulator server, and every task using it fails to update
    its accumulator."""
    return artifacts.get_or_build(
        spark, "bucket_udf", plane_ids, (), lambda: _bucket_kernel(plane_ids)
    )


def _bucket_kernel(plane_ids: tuple[tuple[int, ...], ...]):
    """Arrow-vectorized twin of the sequential-fold bucket expressions.

    ``plane_ids[t]`` lists the global plane id of each bit of output
    bucket ``t``. Bit-identical to the ``F.aggregate`` expression form
    (and therefore to the oracle's ``list_reduce``): the dot product is
    accumulated IN ELEMENT ORDER over float64 (``acc = acc + x_i * c_i``
    — numpy does not fuse multiply-add and the per-scalar addition chain
    is exactly the fold's ((0+t1)+t2)+…), the float32→float64 widening is
    exact, and the sign test / power-of-two bit weights are integer math.
    The guide-§4 win: one numpy pass per Arrow batch replaces ~4096
    interpreted lambda evaluations per row (measured 15× on the bucket
    pass at sf0.1; the HOF twin is kept as ``_multitable_buckets_expr``
    and pinned equal by tests/test_similarity.py).

    Rows whose embedding is not exactly ``_MT_FAST_DIM`` long take a
    scalar fallback computing the same ordered fold. Two semantics
    corners are mirrored explicitly (pinned by the equivalence test):
    a NaN dot product SETS the bit — Spark (and DuckDB) order NaN above
    every value, so ``NaN > 0`` is true — while a NULL embedding or any
    NULL *element* folds the dot to NULL, which fails ``> 0``, so the
    row buckets to 0 per table. Arrow erases the NULL-element/NaN
    distinction inside float arrays, so the callers pass a JVM-side
    ``exists(vec, isnull)`` flag (one cheap codegen'd pass) alongside
    the vector.
    """
    import numpy as np
    import pandas as pd

    flat = [j for tbl in plane_ids for j in tbl]
    coeffs = np.array(
        [[_plane_coeff(j, i) for j in flat] for i in range(1, _MT_FAST_DIM + 1)]
    )
    n_tables = len(plane_ids)
    offs: list[int] = []
    pows: list = []
    off = 0
    for tbl in plane_ids:
        offs.append(off)
        pows.append(np.array([1 << jj for jj in range(len(tbl))], dtype=np.int64))
        off += len(tbl)

    def _row_fold(a) -> list[int]:
        import math

        out = []
        for tbl in plane_ids:
            b = 0
            for jj, j in enumerate(tbl):
                dot = 0.0
                for i in range(1, len(a) + 1):
                    dot = dot + float(a[i - 1]) * _plane_coeff(j, i)
                if dot > 0 or math.isnan(dot):  # NaN orders above 0 in SQL
                    b += 1 << jj
            out.append(b)
        return out

    def buckets(v, has_null_elem):
        out: list = [None] * len(v)
        zeros = np.zeros(n_tables, dtype=np.int64)
        main = [
            k
            for k in range(len(v))
            if v.iat[k] is not None
            and not has_null_elem.iat[k]
            and len(v.iat[k]) == _MT_FAST_DIM
        ]
        if main:
            m = np.stack([np.asarray(v.iat[k], dtype=np.float64) for k in main])
            acc = np.zeros((len(main), len(flat)))
            for i in range(_MT_FAST_DIM):
                # ordered accumulation — see the docstring's exactness note
                acc = acc + m[:, i : i + 1] * coeffs[i : i + 1, :]
            bits = (acc > 0) | np.isnan(acc)  # NaN orders above 0 in SQL
            bkt = np.zeros((len(main), n_tables), dtype=np.int64)
            for ti in range(n_tables):
                w = len(plane_ids[ti])
                bkt[:, ti] = (bits[:, offs[ti] : offs[ti] + w] * pows[ti]).sum(axis=1)
            for row_k, k in enumerate(main):
                out[k] = bkt[row_k]
        for k in range(len(v)):
            if out[k] is None:
                a = v.iat[k]
                if a is None or has_null_elem.iat[k] or not len(a):
                    # NULL vector / NULL element: the dot folds to NULL,
                    # which fails > 0 on every bit — bucket 0 per table
                    out[k] = zeros
                else:
                    out[k] = np.array(_row_fold(a), dtype=np.int64)
        return pd.Series(out)

    # annotations set as objects (not strings): the factory-local pandas
    # import is invisible to get_type_hints' module-globals resolution
    buckets.__annotations__ = {
        "v": pd.Series,
        "has_null_elem": pd.Series,
        "return": pd.Series,
    }
    inner = F.pandas_udf(buckets, "array<bigint>")

    def udf(vec: Column) -> Column:
        return inner(
            vec, F.coalesce(F.exists(vec, lambda x: x.isNull()), F.lit(False))
        )

    return udf


def lsh_bucket(vec: Column) -> Column:
    """Random-hyperplane signature → integer bucket id (N_PLANES bits).

    Served by the Arrow-vectorized kernel (bit-identical to
    ``_lsh_bucket_expr`` below, which stays as the documented
    term-for-term twin of the oracle SQL).
    """
    return F.element_at(
        _hyperplane_buckets_udf(SparkSession.active(), (tuple(range(N_PLANES)),))(vec),
        1,
    )


def _lsh_bucket_expr(vec: Column) -> Column:
    """Expression twin of ``lsh_bucket`` (the pre-r15 sequential-fold
    form) — kept as the structural mirror of ``_BUCKET_SQL`` and pinned
    equal to the vectorized kernel by tests."""
    dim = F.size(vec)
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
        lambda j: F.when(
            F.aggregate(
                F.sequence(F.lit(1), dim),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(vec, i).cast("double") * _plane_component(j, i).cast("double"),
            )
            > 0,
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
            lambda b, j: b * F.pow(F.lit(2.0), j.cast("double")).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


N_TABLES = 8
PLANES_PER_TABLE = 8  # FLOOR; the effective count adapts to corpus size
PLANES_MAX = 20  # cap: 2^20 buckets/table is plenty at any realistic shard
# Expected vectors per bucket before widening. 8, not 32: candidate
# mass per table is n * (p+1) * occupancy / 2, and the r14 profile of
# semantic_cluster_survivors' 10x leg measured 24.8M candidates at
# occupancy ~20 (planes step lag) with the cosine VERIFY as the hot
# stage — a 4x occupancy cut trades ~2 extra probe columns for ~4x
# less verify work. At every driver SF (n <= 2000) the formula still
# floors at PLANES_PER_TABLE, so certified values are bit-unchanged.
BUCKET_TARGET_OCCUPANCY = 8


def planes_for_count(n: int) -> int:
    """Corpus-size-adaptive hyperplane count per LSH table.

    With a FIXED plane count, expected bucket occupancy is n / 2^p — it
    grows linearly with the corpus, so every co-bucket join (near-dup
    pairs, kNN self-join, NSW build) degrades to O(n^2 / 2^p): measured
    as a 2.13 log-log wall-time slope on the 3x->10x leg of
    tools/scale_slopes.py before this fix. Widening p with the corpus
    (p = ceil(log2(n / target_occupancy)), floored at 8, capped at 20)
    pins expected occupancy near the target, making co-bucket joins
    O(n * occupancy) = O(n). The SAME formula runs in the DuckDB oracles
    (LEAST/GREATEST/CEIL/LOG2 over COUNT(*)), so parity holds at every
    size; at the driver scale factors (<= 2000 vectors) it evaluates to
    the floor 8 and every previously certified value is bit-unchanged.
    """
    import math

    if n <= 0:
        return PLANES_PER_TABLE
    return min(
        PLANES_MAX,
        max(PLANES_PER_TABLE, math.ceil(math.log2(n / BUCKET_TARGET_OCCUPANCY))),
    )


# the same formula as a DuckDB scalar — every LSH oracle CTE list starts
# with `pl AS ({_PLANES_SQL})` and reads pl.p
_PLANES_SQL = (
    f"SELECT LEAST({PLANES_MAX}, GREATEST({PLANES_PER_TABLE}, "
    f"CAST(CEIL(LOG2(COUNT(*) / {BUCKET_TARGET_OCCUPANCY}.0)) AS INT))) AS p "
    "FROM embeddings"
)


_BUCKET_SQL = """
    list_reduce(
      list_transform(range(0, {n}),
        j -> CASE WHEN list_reduce(
                    list_transform(range(1, len({v}) + 1),
                      i -> CAST({v}[i] AS DOUBLE) * CAST(((j*131 + i*37 + (j+3)*(i+5) % 11) % 21 - 10) AS DOUBLE)),
                    (a, b) -> a + b) > 0
             THEN CAST(power(2, j) AS BIGINT) ELSE 0 END),
      (a, b) -> a + b)
"""


@register(
    "knn_lsh_buckets",
    oracle=f"""
    SELECT {_BUCKET_SQL.format(n=N_PLANES, v='embedding')} AS bucket,
           COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM embeddings GROUP BY 1
    """,
    doc="Random-hyperplane LSH bucket histogram — the partitioning the ANN scale "
    "path shuffles on.",
)
def q_knn_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    return (
        emb.select(lsh_bucket(F.col("embedding")).alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


# multi-table bucket fragment: table t, bits jj in [0, pl.p), global plane
# index t*8+jj for the first 8 bits (bit-compatible with every pre-adaptive
# bucket value) and 64 + t*(PLANES_MAX-8) + (jj-8) for widened bits (a
# disjoint plane-id region, so growing p never perturbs the low bits) —
# mirrors _multitable_buckets below term for term (same fold order)
_PLANE_J_SQL = f"(CASE WHEN jj < 8 THEN t*8+jj ELSE 64 + t*{PLANES_MAX - 8} + (jj-8) END)"

_MT_BUCKET_SQL = f"""
    list_reduce(list_transform(range(0, pl.p),
      jj -> CASE WHEN list_reduce(
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE)
                       * CAST((({_PLANE_J_SQL}*131 + i*37 + ({_PLANE_J_SQL}+3)*(i+5) % 11) % 21 - 10) AS DOUBLE)),
                  (x, y) -> x + y) > 0
           THEN CAST(power(2, jj) AS BIGINT) ELSE 0 END),
      (x, y) -> x + y)
"""


def _plane_j(t: Column, jj: Column) -> Column:
    """Global plane id for table ``t``, bit ``jj``: t*8+jj for the first
    8 bits (bit-compatible with every pre-adaptive bucket value), then a
    disjoint region for widened bits — growing the plane count never
    perturbs an existing bit. Mirrors ``_PLANE_J_SQL``."""
    return F.when(jj < 8, t * 8 + jj).otherwise(
        F.lit(64) + t * (PLANES_MAX - 8) + (jj - F.lit(8))
    )


def _plane_j_int(t: int, jj: int) -> int:
    """Plan-time twin of ``_plane_j`` for literal (t, jj)."""
    return t * 8 + jj if jj < 8 else 64 + t * (PLANES_MAX - 8) + (jj - 8)


def _multitable_buckets(vec: Column, planes: int = PLANES_PER_TABLE) -> Column:
    """Array of N_TABLES bucket ids for ``vec`` — one ``planes``-bit
    random-hyperplane signature per table (see planes_for_count for how
    the count adapts to corpus size). Every dot product is a SEQUENTIAL
    in-order fold, bit-identical to the oracle's list_reduce — a
    groupBy-sum would fold in partition order and a near-zero dot could
    flip sign between engines. Served by the Arrow-vectorized kernel
    (``_hyperplane_buckets_udf``): one numpy pass per batch with the
    fold order preserved scalar-for-scalar — measured 15× over the
    interpreted-lambda expression form at sf0.1, which is kept below as
    ``_multitable_buckets_expr`` (the oracle's structural twin) and
    pinned equal by tests/test_similarity.py."""
    ids = tuple(
        tuple(_plane_j_int(t, jj) for jj in range(planes)) for t in range(N_TABLES)
    )
    return _hyperplane_buckets_udf(SparkSession.active(), ids)(vec)


def _multitable_buckets_expr(vec: Column, planes: int = PLANES_PER_TABLE) -> Column:
    """Expression twin of ``_multitable_buckets`` (the pre-r15
    sequential-fold form) — mirrors ``_MT_BUCKET_SQL`` term for term."""
    dim = F.size(vec)

    def table_bucket(t: Column) -> Column:
        def bit(jj: Column) -> Column:
            j = _plane_j(t, jj)
            dot = F.aggregate(
                F.sequence(F.lit(1), dim),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(vec, i).cast("double") * _plane_component(j, i).cast("double"),
            )
            return (
                F.when(dot > 0, F.pow(F.lit(2.0), jj.cast("double")).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint"))
            )

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, jj: acc + bit(jj),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(N_TABLES - 1)), table_bucket)


def _multiprobe(
    bucket: Column, planes: int = PLANES_PER_TABLE, radius: int = 1
) -> Column:
    """Hamming-``radius`` multiprobe expansion: the bucket itself plus
    every single-bit flip (``planes`` + 1 probe keys per table), and at
    radius 2 every two-bit flip as well (+ planes*(planes-1)/2 keys).
    The ONE definition of the probe scheme — shared by the LSH probe,
    near-dup pairs, and every graph build / maintenance path, and
    mirrored by the xor-mask CTEs in the SQL oracles. ``planes`` must
    match the count the index was bucketed with (corpus_planes).
    Radius 2 is the QUERY-side deepening knob (per-query cost only —
    the r14 hybrid-nDCG fix): candidate mass per query stays bounded by
    probes x target occupancy regardless of corpus size."""
    probes = F.concat(
        F.array(bucket),
        F.transform(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            lambda b: bucket.bitwiseXOR(
                F.pow(F.lit(2.0), b.cast("double")).cast("bigint")
            ),
        ),
    )
    if radius >= 2:
        two_bit = F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(planes - 2)),
                lambda i: F.transform(
                    F.sequence(i + 1, F.lit(planes - 1)),
                    lambda j: bucket.bitwiseXOR(
                        (
                            F.pow(F.lit(2.0), i.cast("double"))
                            + F.pow(F.lit(2.0), j.cast("double"))
                        ).cast("bigint")
                    ),
                ),
            )
        )
        probes = F.concat(probes, two_bit)
    return probes


def corpus_planes(spark: SparkSession, sf_dir: str) -> int:
    """Effective hyperplane count for this corpus (planes_for_count of
    the embeddings row count), built once per corpus fingerprint — one
    count job per corpus per session; at 100 TB the row count comes from
    the table's catalog statistics for free."""
    return artifacts.get_or_build(
        spark,
        "planes",
        "",
        [(sf_dir, "embeddings")],
        lambda: planes_for_count(load_table(spark, "embeddings", sf_dir).count()),
    )


def bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH index: (vec_id, t, bucket), one map-only pass over
    embeddings, 8 rows of 8-byte (t, bucket) keys per vector. At scale:
    partitioned by ``t``, z-ordered on ``bucket``. Plane count adapts to
    corpus size (planes_for_count) and is part of the cache key."""
    p = corpus_planes(spark, sf_dir)

    def build() -> DataFrame:
        emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
        return emb.select(
            "vec_id",
            F.posexplode(_multitable_buckets(F.col("embedding"), p)).alias(
                "t", "bucket"
            ),
        )

    return artifacts.persisted_table(
        spark, "lsh", f"t{N_TABLES}p{p}", [(sf_dir, "embeddings")], build
    )


def _cos_norm_sql(a: str, b: str) -> str:
    """Norm-product (denominator) fragment for `_cos_sql_pair`."""
    return f"""(sqrt(list_reduce(list_transform(range(1, len({a}) + 1),
                         i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(1, len({b}) + 1),
                         i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)))"""


def _cos_sql_pair(a: str, b: str) -> str:
    """DuckDB cosine fragment over two array expressions, mirroring
    ``cosine_similarity``'s sequential left-to-right fold bit for bit —
    including its ``WHEN denom == 0 THEN 0.0`` zero-norm guard, so parity
    is structural rather than fixture-dependent (an all-zero embedding
    must score 0, not NaN/Inf; the retrieval.py oracles carry the same
    guard). The denominator is bound once as a one-element list and the
    guard applied inside a lambda: the sqrt/list_reduce norm fold is
    written (and evaluated) ONCE per pair even if DuckDB does not CSE
    across CASE branches — these fragments sit inside the O(n^2)
    self-join oracles that dominate parity-suite time — while NULL
    propagation matches Spark's ``when(den == 0, 0.0).otherwise(num /
    den)`` exactly (NULL den or NULL num → NULL, never coalesced to
    0.0; verified over all five num/den NULL-zero combinations)."""
    return f"""
             list_transform([{_cos_norm_sql(a, b)}],
               d -> CASE WHEN d = 0 THEN 0.0 ELSE
               list_reduce(list_transform(range(1, len({a}) + 1),
                           i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)
               / d END)[1]
"""


# shared by knn_lsh_probe and knn_lsh_incremental: the incremental
# (base + delta) index MUST produce the identical probe result as a
# full rebuild — same oracle, same spec, different maintenance cost
_LSH_PROBE_ORACLE = f"""
    WITH pl AS ({_PLANES_SQL}),
    bk AS (
      SELECT e.vec_id, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    probes AS (
      SELECT bk.vec_id AS query_id, bk.t,
             CASE WHEN f.f = 0 THEN bucket
                  ELSE xor(bucket, CAST(power(2, f.f - 1) AS BIGINT)) END AS probe
      FROM bk CROSS JOIN (SELECT unnest(range(0, (SELECT p FROM pl) + 1)) AS f) f
      WHERE bk.vec_id % {QUERY_MOD} = 0
    ),
    cand AS (
      SELECT DISTINCT p.query_id, y.vec_id AS neighbor_id
      FROM probes p JOIN bk y ON p.t = y.t AND p.probe = y.bucket AND y.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {_cos_sql_pair('qa.embedding', 'nb.embedding')} AS cos
      FROM cand
      JOIN embeddings qa ON qa.vec_id = cand.query_id
      JOIN embeddings nb ON nb.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """


@register(
    "knn_lsh_probe",
    oracle=_LSH_PROBE_ORACLE,
    doc="ANN via multi-table LSH: 8 tables x 8 hyperplane bits, Hamming-1 "
    "multiprobe (9 probe buckets per table). Corpus is bucketed once "
    "(8 rows/vector); queries explode to 72 probe keys and bucket-join — "
    "candidate generation never scans the corpus; embeddings are fetched "
    "only at the exact re-rank. The oracle mirrors the deterministic "
    "hyperplanes term-for-term, so the driver gate is value-level.",
)
def q_knn_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = lsh_scored_pairs(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
    )


# deterministic append-batch convention, shared with dedup_incremental:
# vec_id % 10 == 7 plays the NEW BATCH, the rest the existing corpus
_DELTA_MOD, _DELTA_REM = 10, 7


def lsh_base_delta_indexes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Incrementally-maintained LSH bucket index: base + delta shards.

    The append-only maintenance discipline (dedup_incremental's
    base+delta pattern applied to the persisted ANN index): the BASE
    index — vec_id % 10 != 7, standing in for the pre-existing corpus —
    is a persisted parquet table built once and NEVER rewritten on
    append; a new batch (vec_id % 10 == 7) writes only its own DELTA
    shard, whose build buckets just the batch vectors. Reading is
    union-ing: a probe scans base + delta, so index maintenance cost is
    O(|delta|), not O(|corpus|) — at a 100 TB lake with daily appends
    this is the difference between an hourly shard write and a full
    rebuild. The hyperplane count is pinned to the FULL corpus's
    planes_for_count (re-planing is by definition a rebuild — a real
    deployment re-planes on a schedule, not per append), so
    base ∪ delta is bit-identical to the full-rebuild index and the
    probe result equals knn_lsh_probe's exactly."""
    p = corpus_planes(spark, sf_dir)

    def shard(name: str, keep) -> DataFrame:
        def build() -> DataFrame:
            emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
            return emb.filter(keep(F.col("vec_id"))).select(
                "vec_id",
                F.posexplode(_multitable_buckets(F.col("embedding"), p)).alias(
                    "t", "bucket"
                ),
            )

        return artifacts.persisted_table(
            spark, name, f"t{N_TABLES}p{p}", [(sf_dir, "embeddings")], build
        )

    base = shard("lshbase", lambda v: v % _DELTA_MOD != _DELTA_REM)
    delta = shard("lshdelta", lambda v: v % _DELTA_MOD == _DELTA_REM)
    return base, delta


@register(
    "knn_lsh_incremental",
    oracle=_LSH_PROBE_ORACLE,
    doc="Incremental ANN index maintenance: the SAME multi-table LSH "
    "probe as knn_lsh_probe, but served from a base index shard plus an "
    "append-batch delta shard (vec_id % 10 == 7 plays the new batch — "
    "the dedup_incremental convention) instead of a full rebuild. "
    "Appending writes only the delta's bucket rows (O(|delta|)); the "
    "probe reads base UNION delta. The hyperplane count is pinned to "
    "the full corpus's planes_for_count — re-planing IS a rebuild, done "
    "on a schedule, not per append — so the incremental index is "
    "bit-identical to the rebuilt one and this key shares "
    "knn_lsh_probe's exact value oracle: same answer, O(|delta|) "
    "maintenance. Plan-tested: candidates come from two persisted "
    "parquet shards, never a corpus re-bucketing.",
)
def q_knn_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, delta = lsh_base_delta_indexes(spark, sf_dir)
    scored = lsh_scored_pairs(spark, sf_dir, buckets=base.unionByName(delta))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
    )


def lsh_scored_pairs(
    spark: SparkSession,
    sf_dir: str,
    probe_radius: int = 1,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cos) for the standard query set
    (vec_id % QUERY_MOD == 0), scored over multi-table LSH multiprobe
    candidates — the shared shortlist generator behind ``knn_lsh_probe``
    (top-10 surface) and ``hybrid_search_rrf_indexed``'s vector leg
    (top-LEG_TOPN shortlist, probed at Hamming radius 2: the r14 fix
    for the worst-decile fused rankings, whose missing docs were the
    EXACT vector leg's ranks 1-3 — pure Hamming-1 candidate misses).
    Factored so the scalable candidate path is ONE implementation:
    candidates come from the persisted bucket index (never a corpus
    scan), embeddings join in only at the exact re-rank; probe depth is
    a query-side knob that never touches the index. ``buckets`` swaps
    in an alternative index relation with the same (vec_id, t, bucket)
    schema — knn_lsh_incremental passes base UNION delta."""
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    # the 64-plane signature feeds BOTH the corpus index and the query
    # probes; it lives in a persisted table built once per corpus (see
    # bucket_index) — the query-side read prunes on vec_id at the scan
    if buckets is None:
        buckets = bucket_index(spark, sf_dir)
    probes = (
        buckets.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            "t",
            F.explode(
                _multiprobe(
                    F.col("bucket"), corpus_planes(spark, sf_dir), probe_radius
                )
            ).alias("probe"),
        )
    )
    x = probes.alias("x")
    y = buckets.alias("y")
    cand = (
        F.broadcast(x)
        .join(
            y,
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.probe") == F.col("y.bucket"))
            & (F.col("y.vec_id") != F.col("x.query_id")),
        )
        .select(F.col("x.query_id").alias("query_id"), F.col("y.vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # candidates are (int, int) pairs; vectors join in once, at re-rank time.
    # The broadcast side is pre-filtered to the QUERY vectors — broadcasting
    # the unfiltered projection would ship the whole corpus to every executor
    # (fine at sf0.1, OOM at 100 TB); the neighbor side stays a shuffle join.
    # Norms are per-vector, not per-pair: projecting them once per side makes
    # the re-rank ONE array fold per candidate pair instead of five
    # (cosine_similarity re-folds both norms inside each branch) — same
    # sequential fold order, so values stay bit-identical to the oracle.
    from ..functions.vectors import dot_product, l2_norm

    qe = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            l2_norm("embedding").alias("qn"),
        )
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        l2_norm("embedding").alias("nn"),
    )
    cos = F.when(F.col("qn") * F.col("nn") == 0, F.lit(0.0)).otherwise(
        dot_product("qv", "nv") / (F.col("qn") * F.col("nn"))
    )
    return (
        cand.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )


@register(
    "lsh_index_stats",
    oracle=f"""
    WITH pl AS ({_PLANES_SQL}),
    bk AS (
      SELECT e.vec_id, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    occ AS (
      SELECT t, bucket, CAST(COUNT(*) AS BIGINT) AS occ
      FROM bk GROUP BY t, bucket
    )
    SELECT CAST(t AS INTEGER) AS t,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(occ) AS BIGINT) AS n_vectors,
           CAST(MAX(occ) AS BIGINT) AS max_occ,
           CAST(SUM(occ * (occ - 1) // 2) AS BIGINT) AS pair_mass
    FROM occ GROUP BY t ORDER BY t
    """,
    doc="LSH index health report: per hash table, the live bucket count, "
    "max bucket occupancy, and the exact co-bucket PAIR MASS "
    "(sum occ*(occ-1)/2) — the quantity that prices every downstream "
    "bucket join (near-dup pairs, probe candidates, the NSW build: this "
    "round's 49.7M-pair root-cause was measured with exactly this sum). "
    "A deployment checks this table before trusting probe latencies — a "
    "viral/degenerate bucket shows up as max_occ, and plane-count drift "
    "(the adaptive p formula vs corpus growth) shows up as pair_mass "
    "growing superlinearly between snapshots. One groupBy over the "
    "persisted bucket index (8-byte keys), one per-table aggregate; "
    "all-integer arithmetic.",
)
def q_lsh_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    occ = (
        bucket_index(spark, sf_dir)
        .groupBy("t", "bucket")
        .agg(F.count("*").alias("occ"))
    )
    return (
        occ.groupBy("t")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("occ").cast("long").alias("n_vectors"),
            F.max("occ").cast("long").alias("max_occ"),
            F.sum(F.expr("occ * (occ - 1) div 2")).cast("long").alias("pair_mass"),
        )
        .select(
            F.col("t").cast("int").alias("t"),
            "n_buckets",
            "n_vectors",
            "max_occ",
            "pair_mass",
        )
        .orderBy("t")
    )


@register(
    "contrastive_pairs_mined",
    oracle=f"""
    WITH pl AS ({_PLANES_SQL}),
    bk AS (
      SELECT e.vec_id, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    probes AS (
      SELECT bk.vec_id AS query_id, bk.t,
             CASE WHEN f.f = 0 THEN bucket
                  ELSE xor(bucket, CAST(power(2, f.f - 1) AS BIGINT)) END AS probe
      FROM bk CROSS JOIN (SELECT unnest(range(0, (SELECT p FROM pl) + 1)) AS f) f
      WHERE bk.vec_id % {QUERY_MOD} = 0
    ),
    cand AS (
      SELECT DISTINCT p.query_id, y.vec_id AS neighbor_id
      FROM probes p JOIN bk y ON p.t = y.t AND p.probe = y.bucket AND y.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, qa.label AS q_label,
             nb.label AS n_label,
             {_cos_sql_pair('qa.embedding', 'nb.embedding')} AS cos
      FROM cand
      JOIN embeddings qa ON qa.vec_id = cand.query_id
      JOIN embeddings nb ON nb.vec_id = cand.neighbor_id
    ),
    pos AS (
      SELECT query_id, q_label, neighbor_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored WHERE n_label = q_label
      ) WHERE rk = 1
    ),
    neg AS (
      SELECT query_id, neighbor_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored WHERE n_label <> q_label
      ) WHERE rk = 1
    )
    SELECT p.query_id AS anchor_id, p.q_label AS anchor_label,
           p.neighbor_id AS pos_id, round(p.cos, 6) AS pos_cos,
           n.neighbor_id AS neg_id, round(n.cos, 6) AS neg_cos,
           round(p.cos - n.cos, 6) AS margin
    FROM pos p JOIN neg n ON n.query_id = p.query_id
    """,
    doc="Contrastive training-pair mining over the persisted LSH index: "
    "for each anchor (the standard query set), the nearest SAME-label "
    "candidate (positive) and the nearest OTHER-label candidate (the "
    "hard negative — the pair that actually moves a contrastive/triplet "
    "loss), plus the margin between them; anchors missing either side "
    "among their candidates drop out (inner join), exactly the "
    "batch-construction rule miners apply. margin <= 0 rows are the "
    "label-noise / hard-case audit a curation pass reviews before "
    "training an embedding model. Scale shape: candidates come from "
    "the SAME persisted multiprobe bucket index every probe uses "
    "(never a corpus scan); labels ride the two re-rank joins the "
    "shortlist already pays; the two argmaxes are per-anchor windows "
    "over bucket-bounded candidate sets. Margin is one IEEE subtract "
    "of fold-order-pinned cosines — engine-exact.",
)
def q_contrastive_pairs_mined(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    labels = emb.select("vec_id", "label")
    # broadcast side pre-filtered to the QUERY set (the lsh_scored_pairs
    # rule): broadcasting every vector's label would ship the corpus
    scored = (
        lsh_scored_pairs(spark, sf_dir)
        .join(
            F.broadcast(
                labels.filter(F.col("vec_id") % QUERY_MOD == 0).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    pos = (
        scored.filter(F.col("n_label") == F.col("q_label"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("q_label").alias("anchor_label"),
            F.col("neighbor_id").alias("pos_id"),
            F.col("cos").alias("pos_raw"),
        )
    )
    neg = (
        scored.filter(F.col("n_label") != F.col("q_label"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("neg_id"),
            F.col("cos").alias("neg_raw"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "pos_id",
        F.round("pos_raw", 6).alias("pos_cos"),
        "neg_id",
        F.round("neg_raw", 6).alias("neg_cos"),
        F.round(F.col("pos_raw") - F.col("neg_raw"), 6).alias("margin"),
    )


@register(
    "label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS v
      FROM embeddings
    )
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS sum_component,
           COUNT(*) AS n_vectors
    FROM flat GROUP BY label, pos
    """,
    doc="Per-label centroid components (posexplode + exact decimal sums) — the "
    "IVF coarse-quantizer build step.",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).cast("int").alias("pos"), F.col("v").cast("decimal(18,9)").alias("v"))
    return flat.groupBy("label", "pos").agg(
        F.sum("v").cast("double").alias("sum_component"), F.count("*").alias("n_vectors")
    )


# cosine similarity fragment shared by the near-dup oracles (exact fold order)
_COS_SQL = _cos_sql_pair("a.embedding", "b.embedding")


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH pl AS ({_PLANES_SQL}),
    b AS (
      SELECT e.vec_id, e.embedding, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    probes AS (
      SELECT vec_id, t,
             CASE WHEN f.f = 0 THEN bucket
                  ELSE xor(bucket, CAST(power(2, f.f - 1) AS BIGINT)) END AS probe
      FROM b CROSS JOIN (SELECT unnest(range(0, (SELECT p FROM pl) + 1)) AS f) f
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM probes x JOIN b y ON x.t = y.t AND x.probe = y.bucket AND x.vec_id < y.vec_id
    ),
    scored AS (
      SELECT cand.vec_a, cand.vec_b, {_COS_SQL} AS cos
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.vec_a
      JOIN embeddings b ON b.vec_id = cand.vec_b
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM scored WHERE cos >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs — semantic dedup, LSH-bucketed "
    "with Hamming-1 multiprobe: candidates are pairs whose 8-bit signatures "
    "differ in <= 1 bit in >= 1 of 8 LSH tables; exact cosine verifies "
    "candidates only. This IS the 100 TB shape — the corpus is hashed once "
    "(map-only), the self-join shuffles 8-byte (table, bucket) keys, and no "
    "all-pairs product ever forms. The oracle mirrors the same bucketing, "
    "so the gate stays value-level. Recall vs the all-pairs twin "
    "(embedding_near_dup_exact) is asserted in tests/test_similarity.py; "
    "for true near-dups (cos >= 0.9) collision probability is ~1.",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    # feeds both the probe and plain sides — read from the persisted index
    # table (built once per corpus, shared with knn_lsh_probe)
    buckets = bucket_index(spark, sf_dir)
    probes = buckets.select(
        "vec_id",
        "t",
        F.explode(
            _multiprobe(F.col("bucket"), corpus_planes(spark, sf_dir))
        ).alias("probe"),
    )
    x = probes.alias("x")
    y = buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.probe") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # norms projected once per side (one fold per pair at verify; values
    # bit-identical — see knn_lsh_probe)
    from ..functions.vectors import dot_product, l2_norm

    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        l2_norm("embedding").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        l2_norm("embedding").alias("nb"),
    )
    cos = F.when(F.col("na") * F.col("nb") == 0, F.lit(0.0)).otherwise(
        dot_product("ea", "eb") / (F.col("na") * F.col("nb"))
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


@register(
    "embedding_near_dup_exact",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM scored WHERE cos >= 0.4
    """,
    doc="All-pairs exact near-dup twin — the small-data truth set the LSH "
    "variant's recall is measured against (tests/test_similarity.py). Like "
    "knn_bruteforce, this is a baseline spec, NOT the scale path: the "
    "inequality join is a nested-loop product, only ever run on samples.",
)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


# per-cell mean centroid over ``{src}`` (cell, embedding): decimal-exact sums
# so the centroid doubles are identical on any engine / fold order, then one
# deterministic double division — mirrored by _CENTROID_AGG_SQL below.
_CENTROID_AGG_SQL = """
      SELECT cell, list(c ORDER BY pos) AS centroid FROM (
        SELECT cell, pos, CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                     CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS v
              FROM {src})
        GROUP BY cell, pos
      ) GROUP BY cell
"""


def _mean_centroids(cells: DataFrame) -> DataFrame:
    """(cell, centroid array<double>) from a (cell, embedding) frame.

    Sums route through DECIMAL(18,9) — exact, order-independent — so the
    centroid components are bit-identical to the oracle's regardless of
    partitioning; a double groupBy-sum would fold in partition order and
    drift in the last ulp, flipping nprobe cell ranks between engines.
    """
    flat = cells.select("cell", F.posexplode("embedding").alias("pos", "v"))
    return (
        flat.groupBy("cell", "pos")
        .agg(
            (F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*")).alias("c")
        )
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda x: x["c"]).alias("centroid"))
    )


@register(
    "knn_ivf_probe",
    oracle=f"""
    WITH cent AS ({_CENTROID_AGG_SQL.format(src="(SELECT label AS cell, embedding FROM embeddings)")}),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    qc AS (
      SELECT q.query_id, q.qv, c.cell, {_cos_sql_pair('q.qv', 'c.centroid')} AS ccos
      FROM q CROSS JOIN cent c
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cell) AS prk
        FROM qc
      ) WHERE prk <= 5
    ),
    cands AS (
      SELECT p.query_id, e.vec_id AS neighbor_id, {_cos_sql_pair('p.qv', 'e.embedding')} AS cos
      FROM probes p JOIN embeddings e ON e.label = p.cell AND e.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cands
    ) WHERE rk <= 10
    """,
    doc="IVF-style ANN: label centroids as the coarse quantizer; probe the "
    "query's nearest nprobe=5 centroid cells only, exact re-rank inside. "
    "At 100 TB the corpus is bucketed by cell once; queries broadcast. "
    "Centroid sums are decimal-exact so the oracle is value-level. "
    "NOTE: cells here are the DOMAIN's label partitioning (fixed "
    "cardinality by schema), so per-cell occupancy grows with the "
    "corpus — the size-scalable quantizer is the kmeans twin "
    "(knn_ivf_kmeans_probe), whose cell count adapts via "
    "cells_for_count; this key exists for the label-supervised "
    "cell-routing semantics.",
)
def q_knn_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    # coarse quantizer: per-label mean vector (posexplode + decimal-exact sums)
    cent = _mean_centroids(emb.select(F.col("label").alias("cell"), "embedding"))
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # nprobe=3 nearest cells per query
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "query_vec",
            "cell",
            cosine_similarity("query_vec", "centroid").alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "cell")
    probes = qc.withColumn("prk", F.row_number().over(wq)).filter(F.col("prk") <= 5)
    cands = (
        probes.join(emb, probes.cell == emb.label)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity("query_vec", "embedding").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
    )


# --- adaptive IVF cell count (r15: planes_for_count's discipline applied
# to the k-means coarse quantizer) -------------------------------------------
#
# With a FIXED cell count, IVF per-query verify work is nprobe * n / k —
# it grows linearly with the corpus, and the r15 scale harness measured
# the end-to-end knn_ivf_incremental slope at 1.8 on the 3->10x leg
# before this fix (fixed k=8: occupancy 625 -> 2000/cell). The classical
# IVF sizing rule balances the two query-side costs (k centroid scans +
# nprobe * n / k verifies): k ~ sqrt(n). cells_for_count pins
# k = ceil(sqrt(n / 32)), floored at 8 and capped at 16384 (centroids
# broadcast at ~8 MB of doubles at the cap). At every driver scale
# factor (n <= 2000 vectors) the formula floors to 8, so every
# previously certified value is bit-unchanged — the planes_for_count
# invariant. The SAME formula runs in the oracles (LEAST/GREATEST/CEIL/
# SQRT over COUNT(*) of the TRAINING subset — IEEE sqrt is correctly
# rounded in both engines, so the cell counts agree exactly).
IVF_CELLS_FLOOR = 8
IVF_CELLS_MAX = 16384
IVF_CELL_TARGET = 32  # k = ceil(sqrt(n / TARGET))


def cells_for_count(n: int) -> int:
    """Corpus-size-adaptive IVF cell count: ceil(sqrt(n/32)), floor 8,
    cap 16384 — see the block comment above for the derivation and the
    certified-values invariant."""
    import math

    if n <= 0:
        return IVF_CELLS_FLOOR
    return min(
        IVF_CELLS_MAX,
        max(IVF_CELLS_FLOOR, math.ceil(math.sqrt(n / IVF_CELL_TARGET))),
    )


# the same formula as a DuckDB scalar over the chain's `train` CTE (the
# quantizer's training subset — the full corpus unless train_where
# restricts it, mirroring the Spark side's count of the same relation)
_CELLS_SQL = (
    f"SELECT LEAST({IVF_CELLS_MAX}, GREATEST({IVF_CELLS_FLOOR}, "
    f"CAST(CEIL(SQRT(COUNT(*) / {IVF_CELL_TARGET}.0)) AS INT))) AS k FROM train"
)


def kmeans_centroids(emb: DataFrame, k: int = 8, iters: int = 4) -> DataFrame:
    """Lloyd's k-means as a driver-side loop of DataFrame ops (no MLlib):
    assign = broadcast-centroid argmin; update = posexplode + groupBy mean
    (decimal-exact sums — see _mean_centroids — so every iteration's
    centroids are bit-identical to the oracle's unrolled CTE chain).
    Deterministic: seeds are vec_id 0,1,..k-1; ties broken by cell id.
    Returns (cell, centroid array<double>)."""
    cents = (
        emb.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cell"),
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        scored = (
            emb.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "embedding",
                "cell",
                cosine_similarity("embedding", "centroid").alias("sim"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cell")
        assigned = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "embedding", "cell")
        )
        cents = _mean_centroids(assigned.select("cell", "embedding")).localCheckpoint(
            eager=True
        )
    return cents


def _kmeans_cte_chain(iters: int, train_where: str = "TRUE") -> list[str]:
    """Shared CTE prefix: unrolled Lloyd iterations cent0 → cent{iters} plus
    the ``final`` per-vector cell assignment — reused by the k-means probe
    oracle and the IVF-PQ oracle. ``train_where`` restricts the QUANTIZER
    TRAINING set (seeds + Lloyd assignments) — the incremental-IVF oracle
    trains on the base corpus only — while ``final`` always assigns EVERY
    vector to the trained centroids (frozen-quantizer semantics). The
    cell count is adaptive (``_CELLS_SQL`` over the train subset — the
    cells_for_count twin); seeds are the training vectors with
    vec_id < k (matching kmeans_centroids' seed rule)."""
    ctes = [
        f"train AS (SELECT * FROM embeddings WHERE {train_where})",
        f"kp AS ({_CELLS_SQL})",
        "cent0 AS (SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid "
        "FROM train WHERE vec_id < (SELECT k FROM kp))",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"""assign{it} AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql_pair('e.embedding', 'c.centroid')} DESC, c.cell) AS rk
        FROM train e CROSS JOIN cent{it - 1} c
      ) WHERE rk = 1
    )"""
        )
        ctes.append(f"cent{it} AS ({_CENTROID_AGG_SQL.format(src=f'assign{it}')})")
    ctes.append(
        f"""final AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql_pair('e.embedding', 'c.centroid')} DESC, c.cell) AS rk
        FROM embeddings e CROSS JOIN cent{iters} c
      ) WHERE rk = 1
    )"""
    )
    return ctes


def _kmeans_probe_oracle(
    iters: int = 4, nprobe: int = 3, train_where: str = "TRUE"
) -> str:
    """Unrolled Lloyd-in-SQL twin of kmeans_centroids + the probe query.

    Each iteration is two CTEs — argmax-cosine assignment (ties by cell)
    and a decimal-exact mean-centroid update — chained cent0 → cent{iters};
    deterministic seeds + exact sums make the whole chain value-identical
    to the Spark loop, so even the iterative operator gets a hash-level
    driver gate. The cell count is the adaptive _CELLS_SQL scalar.
    """
    ctes = _kmeans_cte_chain(iters, train_where)
    ctes.append(
        f"q AS (SELECT vec_id AS query_id, embedding AS qv FROM final WHERE vec_id % {QUERY_MOD} = 0)"
    )
    ctes.append(
        f"""qc AS (
      SELECT q.query_id, q.qv, c.cell, {_cos_sql_pair('q.qv', 'c.centroid')} AS csim
      FROM q CROSS JOIN cent{iters} c
    )"""
    )
    ctes.append(
        f"""probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS prk
        FROM qc
      ) WHERE prk <= {nprobe}
    )"""
    )
    ctes.append(
        f"""cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, {_cos_sql_pair('p.qv', 'a.embedding')} AS cos
      FROM probes p JOIN final a ON a.cell = p.cell AND a.vec_id <> p.query_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cands
    ) WHERE rk <= 10
    """
    )


def ivf_assignment(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    cents: DataFrame,
    params: str,
    kind: str = "ivf",
) -> DataFrame:
    """The IVF inverted file — every vector's final cell assignment — is THE
    index of this method: persisted once per corpus (deterministic seeds →
    deterministic assignment), read by every probe. In production this is
    the cell-partitioned lake table probes prune against.

    ``params`` must encode the k-means parameters that produced ``cents``
    (e.g. ``"k8i4"``) — it is part of the cache key, so two callers with
    different quantizers can never share an assignment table. ``kind``
    names the shard: the incremental key persists a base shard and a
    delta shard separately, so an append only writes the delta's rows.
    """

    def build() -> DataFrame:
        scored = emb.crossJoin(F.broadcast(cents)).select(
            "vec_id", "embedding", "cell", cosine_similarity("embedding", "centroid").alias("sim")
        )
        wb = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cell")
        return (
            scored.withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") == 1)
            .select("vec_id", "embedding", "cell")
        )

    return artifacts.persisted_table(
        spark, kind, params, [(sf_dir, "embeddings")], build
    )


@register(
    "knn_ivf_kmeans_probe",
    oracle=_kmeans_probe_oracle(iters=4, nprobe=3),
    doc="True IVF: k-means coarse quantizer (Lloyd iterations as DataFrame "
    "loops), nprobe=3 of an ADAPTIVE cell count (cells_for_count: "
    "k = ceil(sqrt(n/32)), the classical IVF sizing that balances "
    "centroid scans against per-cell verifies — floor 8, so every "
    "driver-SF value is bit-unchanged from the fixed-k era), exact "
    "re-rank inside probed cells. Decimal-exact centroid sums make "
    "every Lloyd iteration reproducible, so the oracle unrolls the "
    "same 4 iterations as CTEs (with the same SQL cell-count scalar) "
    "and the gate is value-level even for this iterative operator.",
)
def q_knn_ivf_kmeans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    k = cells_for_count(emb.count())
    cents = kmeans_centroids(emb, k=k, iters=4)
    assigned = ivf_assignment(spark, sf_dir, emb, cents, params=f"k{k}i4")
    return _ivf_probe(assigned, cents, nprobe=3)


def _ivf_probe(assigned: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Shared IVF probe tail: query set from the assignment table, nprobe
    best cells per query by centroid cosine, exact re-rank inside the
    probed cells — used by the full-rebuild and incremental keys."""
    q = assigned.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "query_vec", "cell",
                cosine_similarity("query_vec", "centroid").alias("csim"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), "cell")
    probes = qc.withColumn("prk", F.row_number().over(wq)).filter(
        F.col("prk") <= nprobe
    )
    cands = (
        probes.join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine_similarity("query_vec", "embedding").alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cands.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
    )


@register(
    "knn_ivf_incremental",
    oracle=_kmeans_probe_oracle(
        iters=4, nprobe=3,
        train_where="vec_id % 10 <> 7",
    ),
    doc="Incremental IVF index maintenance — the base+delta discipline "
    "applied to the DATA-DEPENDENT index family: the k-means coarse "
    "quantizer trains on the BASE corpus only (vec_id % 10 != 7; the "
    "append batch is % 10 == 7, the dedup_incremental convention) and "
    "is then FROZEN — appending assigns only the delta's vectors to the "
    "existing centroids and writes only the delta's inverted-file shard "
    "(O(|delta| x k) work); probes read base UNION delta. Unlike "
    "knn_lsh_incremental (data-independent hyperplanes -> bit-identical "
    "to a rebuild), a frozen quantizer is the HONEST semantics here: "
    "re-training on base+delta IS a rebuild, done on a schedule — so "
    "this key's oracle trains its unrolled Lloyd CTE chain on the same "
    "base subset and assigns all vectors to the frozen centroids, "
    "value-certifying exactly the maintenance contract a real lake "
    "runs. Plan-tested: two persisted inverted-file shards, no corpus "
    "re-assignment at probe time.",
)
def q_knn_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    is_delta = F.col("vec_id") % 10 == 7
    # the cell count derives from the TRAINING subset (the base), the
    # relation the frozen quantizer actually saw — mirrored by the
    # oracle's kp-over-train scalar
    k = cells_for_count(emb.filter(~is_delta).count())
    cents = kmeans_centroids(emb.filter(~is_delta), k=k, iters=4)
    base = ivf_assignment(
        spark, sf_dir, emb.filter(~is_delta), cents, params=f"k{k}i4", kind="ivfbase"
    )
    delta = ivf_assignment(
        spark, sf_dir, emb.filter(is_delta), cents, params=f"k{k}i4", kind="ivfdelta"
    )
    return _ivf_probe(base.unionByName(delta), cents, nprobe=3)


def _recall_oracle() -> str:
    """Compose the recall report's oracle from the two ANN oracles it joins.

    DuckDB accepts a full WITH...SELECT statement as a parenthesized derived
    table, so each side's oracle embeds verbatim — the report is then
    value-gated end-to-end through both underlying pipelines.
    """
    from ..registry import REGISTRY

    exact = REGISTRY["knn_bruteforce"].oracle
    approx = REGISTRY["knn_lsh_probe"].oracle
    return f"""
    WITH exact_r AS (SELECT * FROM ({exact})),
    approx_r AS (SELECT * FROM ({approx})),
    per_q AS (SELECT query_id, COUNT(*) AS n_exact FROM exact_r GROUP BY query_id),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact_r e
      JOIN approx_r a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT q.query_id, q.n_exact,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) / CAST(q.n_exact AS DOUBLE) AS recall_at_10
    FROM per_q q LEFT JOIN hits h ON h.query_id = q.query_id
    """


@register(
    "ann_recall_report",
    oracle=_recall_oracle(),
    doc="ANN quality gate: per-query recall@10 of the multi-table LSH probe "
    "against the exact brute-force baseline — the diagnostic every "
    "embedding-dedup/similarity deployment runs before trusting the "
    "approximate path. At scale the exact side runs on a hash-sampled "
    "query subset (both sides here already restrict to vec_id % QUERY_MOD), "
    "the join keys are (query_id, neighbor_id) int pairs, and the report "
    "is tiny — cost is dominated by the two ANN pipelines themselves.",
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_knn_lsh_probe(spark, sf_dir).select("query_id", "neighbor_id")
    per_q = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    return per_q.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("recall_at_10"),
    )


# ADC shortlist size: re-rank cost is SHORTLIST exact cosines per query —
# tiny either way; 64 (vs 32) buys recall@10 0.39 -> 0.52 at sf0.001
# (0.56 at sf0.01) because the 16-entry stand-in codebook's ADC ranking
# is crude; with a trained per-subspace k-means codebook the gap closes
PQ_SHORTLIST = 64


def _ivfpq_oracle(iters: int = 4, nprobe: int = 3, shortlist: int = PQ_SHORTLIST) -> str:
    """IVF-PQ twin: the k-means CTE chain + PQ codebook/encode + per-query
    ADC lookup tables + shortlist + exact re-rank, all value-exact (every
    double is a sequential fold in a pinned order on both engines)."""
    from .training import PQ_CODES, PQ_SUBDIM, PQ_SUBSPACES

    ctes = _kmeans_cte_chain(iters)
    ctes.append(f"sp AS (SELECT unnest(range(0, {PQ_SUBSPACES})) AS s)")
    ctes.append(
        f"""cb AS (
      SELECT e.vec_id AS code, sp.s,
             list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> CAST(e.embedding[sp.s * {PQ_SUBDIM} + i] AS DOUBLE)) AS csub
      FROM embeddings e CROSS JOIN sp WHERE e.vec_id < {PQ_CODES}
    )"""
    )
    ctes.append(
        f"""vsub AS (
      SELECT e.vec_id, sp.s,
             list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> CAST(e.embedding[sp.s * {PQ_SUBDIM} + i] AS DOUBLE)) AS sub
      FROM embeddings e CROSS JOIN sp
    )"""
    )
    ctes.append(
        f"""codes AS (
      SELECT vec_id, s, code FROM (
        SELECT v.vec_id, v.s, c.code,
               row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
                 list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1),
                   i -> (v.sub[i] - c.csub[i]) * (v.sub[i] - c.csub[i])), (a, b) -> a + b),
                 c.code) AS rk
        FROM vsub v JOIN cb c ON v.s = c.s
      ) WHERE rk = 1
    )"""
    )
    ctes.append(
        f"q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % {QUERY_MOD} = 0)"
    )
    ctes.append(
        f"""qc AS (
      SELECT q.query_id, c.cell, {_cos_sql_pair('q.qv', 'c.centroid')} AS csim
      FROM q CROSS JOIN cent{iters} c
    )"""
    )
    ctes.append(
        f"""probes AS (
      SELECT query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS prk
        FROM qc
      ) WHERE prk <= {nprobe}
    )"""
    )
    ctes.append(
        f"""lut AS (
      SELECT q.query_id, c.s, c.code,
             list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> (CAST(q.qv[c.s * {PQ_SUBDIM} + i] AS DOUBLE) - c.csub[i])
                  * (CAST(q.qv[c.s * {PQ_SUBDIM} + i] AS DOUBLE) - c.csub[i])),
               (a, b) -> a + b) AS qdist
      FROM q CROSS JOIN cb c
    )"""
    )
    ctes.append(
        """cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN final a ON a.cell = p.cell AND a.vec_id <> p.query_id
    )"""
    )
    ctes.append(
        """adc AS (
      SELECT c.query_id, c.neighbor_id,
             list_reduce(list(l.qdist ORDER BY l.s), (a, b) -> a + b) AS adist
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id AND l.s = k.s AND l.code = k.code
      GROUP BY c.query_id, c.neighbor_id
    )"""
    )
    ctes.append(
        f"""short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS srk
        FROM adc
      ) WHERE srk <= {shortlist}
    )"""
    )
    ctes.append(
        f"""rerank AS (
      SELECT s.query_id, s.neighbor_id, {_cos_sql_pair('qa.embedding', 'nb.embedding')} AS cos
      FROM short s
      JOIN embeddings qa ON qa.vec_id = s.query_id
      JOIN embeddings nb ON nb.vec_id = s.neighbor_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM rerank
    ) WHERE rk <= 10
    """
    )


@register(
    "knn_ivfpq_probe",
    oracle=_ivfpq_oracle(iters=4, nprobe=3, shortlist=PQ_SHORTLIST),
    doc="The full 100 TB ANN stack — IVF-PQ: k-means coarse cells prune the "
    "corpus (nprobe=3 of 8), PQ codes (8 sub-codes from a broadcast "
    "codebook) rank candidates by asymmetric distance WITHOUT touching "
    "full vectors — per-query lookup tables are 128 floats, candidates "
    "join on (s, code) ints — and only the adc-shortlist (PQ_SHORTLIST per "
    "query) "
    "fetches embeddings for exact re-rank. Both indexes (cell assignment, "
    "PQ codes) are build-once persisted tables; the probe's working set "
    "is codes + shortlist vectors, which is what makes billion-vector "
    "search feasible. Every double is a pinned-order fold, so even this "
    "three-stage pipeline gets a value-level oracle.",
)
def q_knn_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm
    from .training import pq_codebook, pq_encode, _slice_by_col, PQ_SUBSPACES

    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    k = cells_for_count(emb.count())
    cents = kmeans_centroids(emb, k=k, iters=4)
    assigned = ivf_assignment(spark, sf_dir, emb, cents, params=f"k{k}i4")
    codes = artifacts.persisted_table(
        spark, "pq", f"s{PQ_SUBSPACES}", [(sf_dir, "embeddings")],
        lambda: pq_encode(emb).select("vec_id", "s", "code"),
    )

    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # nprobe coarse cells per query (centroids tiny -> broadcast)
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "cell", cosine_similarity("qv", "centroid").alias("csim"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), "cell")
    probes = (
        qc.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= 3)
        .select("query_id", "cell")
    )
    # ADC lookup table: query-subvector -> distance to each codebook entry
    # (|queries| x 8 subspaces x 16 codes rows -> broadcast)
    qs = q.select(
        "query_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("s"),
        F.col("qv").alias("embedding"),
    ).select("query_id", "s", _slice_by_col("embedding").alias("sub"))
    qdist = F.aggregate(
        F.zip_with("sub", "csub", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = qs.join(F.broadcast(pq_codebook(emb)), "s").select(
        "query_id", "s", "code", qdist.alias("qdist")
    )
    # candidates: vectors in probed cells (ids only — no vectors move)
    cand = (
        probes.join(assigned.select("vec_id", "cell"), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # asymmetric distance from codes alone, folded in subspace order
    adc = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "qdist"))).alias("p"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.transform("p", lambda e: e["qdist"]), F.lit(0.0), lambda a, x: a + x
            ).alias("adist"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    short = (
        adc.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank over the shortlist only; norms projected once per side
    qe = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2_norm("embedding").alias("qn"),
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        l2_norm("embedding").alias("nn"),
    )
    cos = F.when(F.col("qn") * F.col("nn") == 0, F.lit(0.0)).otherwise(
        dot_product("qvec", "nv") / (F.col("qn") * F.col("nn"))
    )
    scored = (
        short.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
    )


# --- graph ANN (NSW-flavored) ------------------------------------------------
#
# HNSW's core idea — navigate a small-world neighbor graph instead of
# scanning buckets — restated for a lake: the graph IS a persisted table
# (src, dst, rk), built once per corpus, partitioned by src in production;
# a probe expands a bounded number of hops through it (each hop = one hash
# join on src) and exactly re-ranks the visited set. The sequential
# insert-time hierarchy of real HNSW does not distribute, so the graph is
# built flat from LSH co-bucket candidates (the same persisted bucket
# index the multiprobe path uses) — candidate generation never goes
# quadratic in the corpus, and probe cost is M^hops per query regardless
# of corpus size.

NSW_M = 16  # out-degree kept per node (measured: recall@10 0.845 at 2 hops
# on sf0.01 vs 0.67 for M=8 — the wider degree beats an extra hop on both
# recall AND candidate budget, M+M^2=272 vs 584)

NSW_SHORTLIST_C = 128  # exact-cosine budget per node at BUILD time: of the
# multiprobe co-bucket candidates, only the C with the most table
# collisions (the AND-OR amplification signal of Lv et al.'s multi-probe
# LSH) are exactly scored. Without this cap the scoring mass per node is
# 8 tables x (p+1) probes x bucket occupancy — measured 2.5k pairs/node
# (50M total, ~3.2G multiply-adds) on the 10x-sf0.1 corpus — and grows
# UNBOUNDED once p hits its cap at ~20M vectors; with it, scoring is
# <= C exact cosines per node at any corpus size. Measured probe
# recall@10: C=128 gives 0.845 at sf0.001 (= uncapped) and 0.815 at
# sf0.01 (vs 0.845 uncapped); C=64 collapsed to 0.635 — most candidates
# tie at ncoll=1, so too small a C fills the shortlist by the arbitrary
# dst tiebreak and displaces true once-collided neighbors.

# shared oracle fragment: the deterministic graph build, unrolled —
# Hamming-1 multiprobe co-bucket candidates -> collision-count shortlist
# (top-C per src by #tables-collided, ties by dst) -> exact cosine ->
# top-M per src (ties by dst). Multiprobe at BUILD time is what makes
# the graph good: exact-bucket-only edges gave recall 0.25 at the same
# probe budget. A candidate collides at most once per table (probes
# within a table are distinct buckets), so ncoll is exactly the number
# of tables where src and dst co-locate within Hamming distance 1.
_NSW_GRAPH_CTES = f"""
    pl AS ({_PLANES_SQL}),
    bk AS (
      SELECT e.vec_id, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    gprobes AS (
      SELECT bk.vec_id AS src, bk.t,
             CASE WHEN f.f = 0 THEN bucket
                  ELSE xor(bucket, CAST(power(2, f.f - 1) AS BIGINT)) END AS probe
      FROM bk CROSS JOIN (SELECT unnest(range(0, (SELECT p FROM pl) + 1)) AS f) f
    ),
    gcand AS (
      SELECT p.src, y.vec_id AS dst, COUNT(*) AS ncoll
      FROM gprobes p JOIN bk y ON p.t = y.t AND p.probe = y.bucket AND y.vec_id <> p.src
      GROUP BY p.src, y.vec_id
    ),
    gpairs AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY ncoll DESC, dst) AS crk
        FROM gcand
      ) WHERE crk <= {NSW_SHORTLIST_C}
    ),
    gscored AS (
      SELECT gpairs.src, gpairs.dst, {_cos_sql_pair('sa.embedding', 'sb.embedding')} AS cos
      FROM gpairs
      JOIN embeddings sa ON sa.vec_id = gpairs.src
      JOIN embeddings sb ON sb.vec_id = gpairs.dst
    ),
    graph AS (
      SELECT src, dst, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
        FROM gscored
      ) WHERE rk <= {NSW_M}
    )
"""


def nsw_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted k-NN neighbor graph (src, dst, rk): for every vector, its
    top-``NSW_M`` exact-cosine neighbors among Hamming-1 multiprobe
    co-bucket candidates (the same probe expansion the LSH probe uses,
    applied at build time for every node). Build-once via
    ``artifacts.persisted_table`` (key carries M + corpus fingerprint); at 100 TB
    this is a src-partitioned lake table and the probe-bucket join is
    bounded by bucket occupancy, never corpus^2."""

    def build() -> DataFrame:
        from ..functions.vectors import dot_product, l2_norm

        emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
        idx = bucket_index(spark, sf_dir)
        probes = idx.select(
            F.col("vec_id").alias("src"),
            "t",
            F.explode(
                _multiprobe(F.col("bucket"), corpus_planes(spark, sf_dir))
            ).alias("probe"),
        )
        cand = (
            probes.alias("x")
            .join(
                idx.alias("y"),
                (F.col("x.t") == F.col("y.t"))
                & (F.col("x.probe") == F.col("y.bucket"))
                & (F.col("y.vec_id") != F.col("x.src")),
            )
            .groupBy(F.col("x.src").alias("src"), F.col("y.vec_id").alias("dst"))
            .agg(F.count("*").alias("ncoll"))
        )
        # collision-count shortlist: only the C most-collided candidates
        # per node get an exact cosine (bounded scoring at any corpus size)
        wshort = Window.partitionBy("src").orderBy(F.desc("ncoll"), "dst")
        pairs = (
            cand.withColumn("crk", F.row_number().over(wshort))
            .filter(F.col("crk") <= NSW_SHORTLIST_C)
            .select("src", "dst")
        )
        se = emb.select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("sv"),
            l2_norm("embedding").alias("sn"),
        )
        de = emb.select(
            F.col("vec_id").alias("dst"),
            F.col("embedding").alias("dv"),
            l2_norm("embedding").alias("dn"),
        )
        cos = F.when(F.col("sn") * F.col("dn") == 0, F.lit(0.0)).otherwise(
            dot_product("sv", "dv") / (F.col("sn") * F.col("dn"))
        )
        scored = pairs.join(se, "src").join(de, "dst").select("src", "dst", cos.alias("cos"))
        w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= NSW_M)
            .select("src", "dst", "rk")
        )

    return artifacts.persisted_table(
        spark, "nsw", f"m{NSW_M}c{NSW_SHORTLIST_C}", [(sf_dir, "embeddings")], build
    )


@register(
    "nsw_graph_edges",
    oracle=f"""
    WITH {_NSW_GRAPH_CTES}
    SELECT src, dst, rk FROM graph
    """,
    doc="The persisted NSW neighbor-graph index itself, surfaced as a "
    "query: per-vector top-M exact-cosine neighbors among Hamming-1 "
    "multiprobe co-bucket candidates (deterministic hyperplanes, ties by "
    "dst). Value-gating the index table means every downstream graph "
    "probe inherits a verified foundation.",
)
def q_nsw_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nsw_graph(spark, sf_dir)


@register(
    "knn_nsw_probe",
    oracle=f"""
    WITH {_NSW_GRAPH_CTES},
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    h1 AS (SELECT q.query_id, g.dst FROM q JOIN graph g ON g.src = q.query_id),
    h2 AS (SELECT h1.query_id, g.dst FROM h1 JOIN graph g ON g.src = h1.dst),
    cand AS (
      SELECT DISTINCT query_id, dst AS neighbor_id
      FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2) u
      WHERE u.dst <> u.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {_cos_sql_pair('qa.embedding', 'nb.embedding')} AS cos
      FROM cand
      JOIN embeddings qa ON qa.vec_id = cand.query_id
      JOIN embeddings nb ON nb.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Graph ANN probe (NSW-flavored): start at the query's own graph "
    "neighborhood, expand neighbors-of-neighbors (2 hops, <= M + M^2 "
    "candidates per query), exact-cosine re-rank top-10. Each hop is one "
    "hash join against the persisted src-partitioned graph — probe cost "
    "is independent of corpus size, the property that makes graph ANN "
    "the state of the art at billion scale. Candidates are (int, int) "
    "pairs; embeddings join in only at re-rank.",
)
def q_knn_nsw_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm

    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    g = nsw_graph(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    h1 = (
        g.join(F.broadcast(q), g.src == q.query_id)
        .select("query_id", "dst")
    )
    g2 = g.alias("g2")
    h2 = (
        g2.join(F.broadcast(h1.alias("h")), F.col("g2.src") == F.col("h.dst"))
        .select(F.col("h.query_id").alias("query_id"), F.col("g2.dst").alias("dst"))
    )
    cand = (
        h1.unionByName(h2)
        .filter(F.col("dst") != F.col("query_id"))
        .dropDuplicates(["query_id", "dst"])
        .withColumnRenamed("dst", "neighbor_id")
    )
    qe = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm("embedding").alias("qn"),
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        l2_norm("embedding").alias("nn"),
    )
    cos = F.when(F.col("qn") * F.col("nn") == 0, F.lit(0.0)).otherwise(
        dot_product("qv", "nv") / (F.col("qn") * F.col("nn"))
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
    )


# 2-hop expansion budgets swept by the NSW probe tuner: edges with
# rk <= budget are followed at BOTH hops, so candidate mass per query is
# <= budget + budget^2. The widest point (NSW_M) IS knn_nsw_probe's
# operating point; pooled recall (the union of every config's top-10 =
# the widest config's, since budget-m candidate sets are nested) is the
# honest quality axis that needs no brute-force leg at all — the r11
# C=128-vs-64 probe-budget decision, made ad hoc in NOTES, as a
# registered, value-oracled report.
NSW_SWEEP_BUDGETS = [4, 8, NSW_M]


@register(
    "nsw_probe_sweep",
    oracle=f"""
    WITH {_NSW_GRAPH_CTES},
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    h1 AS (SELECT q.query_id, g.dst, g.rk AS mreq FROM q JOIN graph g ON g.src = q.query_id),
    h2 AS (
      SELECT h1.query_id, g.dst, greatest(h1.mreq, g.rk) AS mreq
      FROM h1 JOIN graph g ON g.src = h1.dst
    ),
    cand AS (
      SELECT query_id, dst AS neighbor_id, MIN(mreq) AS mreq
      FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2) u
      WHERE u.dst <> u.query_id
      GROUP BY query_id, dst
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id, c.mreq,
             {_cos_sql_pair('qa.embedding', 'nb.embedding')} AS cos
      FROM cand c
      JOIN embeddings qa ON qa.vec_id = c.query_id
      JOIN embeddings nb ON nb.vec_id = c.neighbor_id
    ),
    cfg AS (SELECT unnest([{", ".join(str(b) for b in NSW_SWEEP_BUDGETS)}]) AS budget),
    cc AS (SELECT cfg.budget, s.* FROM cfg JOIN scored s ON s.mreq <= cfg.budget),
    top AS (
      SELECT budget, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY budget, query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
        FROM cc
      ) WHERE rk <= 10
    ),
    pooled AS (SELECT query_id, neighbor_id FROM top WHERE budget = {NSW_M}),
    npool AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pooled FROM pooled),
    hits AS (
      SELECT t.budget, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM top t JOIN pooled p
        ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
      GROUP BY t.budget
    ),
    ncand AS (
      SELECT budget, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cc GROUP BY budget
    )
    SELECT CAST(n.budget AS INTEGER) AS budget, n.n_candidates,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, p.n_pooled,
           CAST((1000000 * COALESCE(h.n_hits, 0)) // GREATEST(p.n_pooled, 1) AS BIGINT)
             AS pooled_recall_micro
    FROM ncand n LEFT JOIN hits h ON h.budget = n.budget CROSS JOIN npool p
    """,
    doc="NSW probe-budget tuner — completes the tuner trio "
    "(minhash_band_sweep, ivf_probe_sweep): the SAME persisted neighbor "
    f"graph probed with 2-hop expansion budgets {{{', '.join(str(b) for b in NSW_SWEEP_BUDGETS)}}} "
    "(edges with rank <= budget followed at both hops, <= b + b^2 "
    "candidates per query), each config reporting candidate mass (the "
    "cost axis) and pooled recall@10 (the quality axis: hits against "
    "the union of every config's top-10, which by nesting is the widest "
    "config's — the TREC-pooling move that needs NO brute-force leg, so "
    "the tuner is linear end to end, not just panel-bounded). The "
    f"widest point (budget = {NSW_M}) IS knn_nsw_probe's operating "
    "point — a cross-op invariant ties the two outputs exactly. Shuffle "
    "discipline: each candidate is annotated with the MINIMAL budget "
    "that reaches it (min over paths of max(rk1, rk2)), so the graph "
    "joins and the exact-cosine re-rank run ONCE at the widest budget "
    "and the config expansion replays the small annotated candidate "
    "set; candidates are (int, int, int) rows, embeddings join in only "
    "at re-rank.",
)
def q_nsw_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm

    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    g = nsw_graph(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    h1 = g.join(F.broadcast(q), g.src == q.query_id).select(
        "query_id", "dst", F.col("rk").alias("mreq")
    )
    g2 = g.alias("g2")
    h2 = g2.join(F.broadcast(h1.alias("h")), F.col("g2.src") == F.col("h.dst")).select(
        F.col("h.query_id").alias("query_id"),
        F.col("g2.dst").alias("dst"),
        F.greatest(F.col("h.mreq"), F.col("g2.rk")).alias("mreq"),
    )
    cand = (
        h1.unionByName(h2)
        .filter(F.col("dst") != F.col("query_id"))
        .groupBy("query_id", F.col("dst").alias("neighbor_id"))
        .agg(F.min("mreq").alias("mreq"))
    )
    qe = emb.join(F.broadcast(q), emb.vec_id == q.query_id).select(
        "query_id", F.col("embedding").alias("qv"), l2_norm("embedding").alias("qn")
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        l2_norm("embedding").alias("nn"),
    )
    cos = F.when(F.col("qn") * F.col("nn") == 0, F.lit(0.0)).otherwise(
        dot_product("qv", "nv") / (F.col("qn") * F.col("nn"))
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", "mreq", cos.alias("cos"))
        # the config expansion, per-config top-10, candidate-mass count,
        # and the pooled denominator all read this frame — one
        # materialization (the ivf_probe_sweep discipline)
        .localCheckpoint(eager=True)
    )
    cc = scored.select(
        "*",
        F.explode(F.array(*[F.lit(b) for b in NSW_SWEEP_BUDGETS])).alias("budget"),
    ).filter(F.col("mreq") <= F.col("budget"))
    w = Window.partitionBy("budget", "query_id").orderBy(F.desc("cos"), "neighbor_id")
    top = (
        cc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("budget", "query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # hits AND the pooled set read this
    )
    pooled = top.filter(F.col("budget") == NSW_M).select("query_id", "neighbor_id")
    npool = pooled.agg(F.count("*").cast("long").alias("n_pooled"))
    hits = top.join(pooled, ["query_id", "neighbor_id"]).groupBy("budget").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    ncand = cc.groupBy("budget").agg(F.count("*").cast("long").alias("n_candidates"))
    return (
        ncand.join(hits, "budget", "left")
        .crossJoin(F.broadcast(npool))
        .select(
            F.col("budget").cast("int").alias("budget"),
            "n_candidates",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_pooled",
            F.expr(
                "(1000000 * COALESCE(n_hits, 0)) div GREATEST(n_pooled, 1)"
            ).alias("pooled_recall_micro"),
        )
    )


def _methods_recall_oracle() -> str:
    """Compose ONE report over every approximate method vs the exact
    baseline — each method's full oracle embeds verbatim as a derived
    table (the ann_recall_report pattern, widened to the whole ANN
    stack)."""
    from ..registry import REGISTRY

    exact = REGISTRY["knn_bruteforce"].oracle
    methods = {
        "lsh_multiprobe": REGISTRY["knn_lsh_probe"].oracle,
        "ivf_kmeans": REGISTRY["knn_ivf_kmeans_probe"].oracle,
        # r15: the incremental twin — quantizer trained on the base 90%
        # and frozen. Its recall delta vs ivf_kmeans is the PRICE of
        # frozen-quantizer maintenance, the number a deployment weighs
        # against a scheduled re-train. At the fixture it reads HIGHER
        # (0.70 vs 0.65 at sf0.01): the base excludes seed vec_id 7, so
        # the frozen quantizer has 7 cells and nprobe=3 covers 3/7 of
        # the corpus vs 3/8 — more probe mass, not better quantization;
        # at production cell counts (k >> nprobe) the sign flips to the
        # expected small deficit. (knn_lsh_incremental is omitted: its
        # planes are data-independent, so its recall is bit-identical
        # to lsh_multiprobe by construction.)
        "ivf_frozen": REGISTRY["knn_ivf_incremental"].oracle,
        "ivf_pq": REGISTRY["knn_ivfpq_probe"].oracle,
        "nsw_graph": REGISTRY["knn_nsw_probe"].oracle,
    }
    arms = "\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS method,
           CAST((SELECT COUNT(*) FROM exact_r e
                 JOIN ({sql}) a ON a.query_id = e.query_id
                               AND a.neighbor_id = e.neighbor_id) AS BIGINT) AS n_hits
    """
        for name, sql in methods.items()
    )
    return f"""
    WITH exact_r AS (SELECT * FROM ({exact})),
    tot AS (SELECT COUNT(*) AS n_exact FROM exact_r),
    arms AS ({arms})
    SELECT arms.method, arms.n_hits, CAST(tot.n_exact AS BIGINT) AS n_exact,
           round(arms.n_hits / CAST(tot.n_exact AS DOUBLE), 6) AS recall_at_10
    FROM arms CROSS JOIN tot
    """


@register(
    "ann_methods_recall",
    oracle=_methods_recall_oracle(),
    doc="One-page ANN bake-off: corpus-level recall@10 of every "
    "approximate method (multiprobe LSH, IVF k-means, IVF-PQ, NSW graph) "
    "against the exact brute-force baseline — the report that justifies "
    "which index a deployment builds at 100 TB. Each method's full "
    "pipeline (persisted index + probe) runs as its registered operator; "
    "hit counts join on (query_id, neighbor_id) int pairs; the report is "
    "five rows (r15 adds ivf_frozen — the incremental twin, whose delta "
    "vs ivf_kmeans prices frozen-quantizer maintenance). Value-gated "
    "end-to-end through all six pipelines.",
)
def q_ann_methods_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact baseline feeds four arm joins plus the total — checkpoint
    # it once or Spark re-runs the corpus-quadratic scan five times
    exact = (
        q_knn_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    methods = {
        "lsh_multiprobe": q_knn_lsh_probe,
        "ivf_kmeans": q_knn_ivf_kmeans_probe,
        "ivf_frozen": q_knn_ivf_incremental,
        "ivf_pq": q_knn_ivfpq_probe,
        "nsw_graph": q_knn_nsw_probe,
    }
    tot = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    arms = None
    for name, fn in methods.items():
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        arm = exact.join(approx, ["query_id", "neighbor_id"]).agg(
            F.lit(name).alias("method"), F.count("*").cast("bigint").alias("n_hits")
        )
        arms = arm if arms is None else arms.unionByName(arm)
    # the baseline total joins in as a broadcast one-row scalar — no
    # driver-side count() action in the builder
    return arms.crossJoin(F.broadcast(tot)).select(
        "method",
        "n_hits",
        "n_exact",
        F.round(F.col("n_hits") / F.col("n_exact").cast("double"), 6).alias(
            "recall_at_10"
        ),
    )


# vectors with vec_id % DELTA_MOD == DELTA_REM play the "newly arrived
# batch" whose graph edges must be computed without rebuilding the index
DELTA_MOD, DELTA_REM = 7, 3


@register(
    "nsw_graph_delta",
    oracle=f"""
    WITH pl AS ({_PLANES_SQL}),
    bk AS (
      SELECT e.vec_id, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    dprobes AS (
      SELECT bk.vec_id AS src, bk.t,
             CASE WHEN f.f = 0 THEN bucket
                  ELSE xor(bucket, CAST(power(2, f.f - 1) AS BIGINT)) END AS probe
      FROM bk CROSS JOIN (SELECT unnest(range(0, (SELECT p FROM pl) + 1)) AS f) f
      WHERE bk.vec_id % {DELTA_MOD} = {DELTA_REM}
    ),
    dcand AS (
      SELECT p.src, y.vec_id AS dst, COUNT(*) AS ncoll
      FROM dprobes p JOIN bk y ON p.t = y.t AND p.probe = y.bucket AND y.vec_id <> p.src
      GROUP BY p.src, y.vec_id
    ),
    dpairs AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY ncoll DESC, dst) AS crk
        FROM dcand
      ) WHERE crk <= {NSW_SHORTLIST_C}
    ),
    dscored AS (
      SELECT dpairs.src, dpairs.dst, {_cos_sql_pair('sa.embedding', 'sb.embedding')} AS cos
      FROM dpairs
      JOIN embeddings sa ON sa.vec_id = dpairs.src
      JOIN embeddings sb ON sb.vec_id = dpairs.dst
    )
    SELECT src, dst, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      FROM dscored
    ) WHERE rk <= {NSW_M}
    """,
    doc="Incremental graph-index maintenance: compute the NSW edges for a "
    "newly-arrived vector batch (vec_id % 7 == 3 stands in for the "
    "arrivals) WITHOUT rebuilding any other node — multiprobe the batch "
    "against the persisted bucket index, exact-cosine the candidates, "
    "keep top-M, append to the graph table. This is the operational loop "
    "at 100 TB: index builds are one-time, arrivals are per-batch edge "
    "computations proportional to batch x bucket occupancy. (Reverse-edge "
    "refresh for affected neighbors is the same join with src/dst "
    "swapped, run on a compaction cadence.) Probe-side work mirrors the "
    "resume anti-join idea at the index layer: only the delta is "
    "computed, never the corpus.",
)
def q_nsw_graph_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE implementation of the edge math: the registered delta is the
    # streaming kernel applied to the batch-shaped subset (the kernel
    # re-hashes the batch map-side; value-identical to reading the
    # persisted bucket rows, and the streaming parity test pins it)
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    batch = emb.filter(F.col("vec_id") % DELTA_MOD == DELTA_REM).select(
        "vec_id", "embedding"
    )
    return nsw_edges_for_batch(spark, sf_dir, batch)


def nsw_edges_for_batch(spark: SparkSession, sf_dir: str, batch: DataFrame) -> DataFrame:
    """Graph edges for a batch of NEW vectors (vec_id, embedding) against
    the persisted corpus bucket index — the partial of the streaming
    ``nsw_edges_family``.

    The batch is hashed map-side with the same deterministic hyperplanes
    the index was built with, multiprobed (Hamming-1), joined to the
    persisted index for candidates, exact-cosined against corpus vectors,
    and truncated to top-``NSW_M`` — identical math to ``nsw_graph_delta``
    (a test pins batch-streamed edges == the registered delta query).
    Each src's edges depend only on its own vector and the fixed corpus,
    so any chunking of the arrivals yields the same union of edges.
    """
    from ..functions.vectors import dot_product, l2_norm

    # one row per vec_id: a re-delivered file in the same micro-batch
    # would otherwise double every (src, dst) pair and fill the top-M
    # with repeats
    batch = batch.dropDuplicates(["vec_id"])
    idx = bucket_index(spark, sf_dir)
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    bk = batch.select(
        F.col("vec_id").alias("src"),
        F.posexplode(_multitable_buckets(F.col("embedding"), corpus_planes(spark, sf_dir))).alias("t", "bucket"),
    )
    probes = bk.select(
        "src",
        "t",
        F.explode(
            _multiprobe(F.col("bucket"), corpus_planes(spark, sf_dir))
        ).alias("probe"),
    )
    cand = (
        F.broadcast(probes.alias("x"))
        .join(
            idx.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.probe") == F.col("y.bucket"))
            & (F.col("y.vec_id") != F.col("x.src")),
        )
        .groupBy(F.col("x.src").alias("src"), F.col("y.vec_id").alias("dst"))
        .agg(F.count("*").alias("ncoll"))
    )
    # same collision-count shortlist as the full build — per-src window,
    # so edges are chunk-independent across streamed arrivals
    wshort = Window.partitionBy("src").orderBy(F.desc("ncoll"), "dst")
    pairs = (
        cand.withColumn("crk", F.row_number().over(wshort))
        .filter(F.col("crk") <= NSW_SHORTLIST_C)
        .select("src", "dst")
    )
    se = batch.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("sv"),
        l2_norm("embedding").alias("sn"),
    )
    de = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("dv"),
        l2_norm("embedding").alias("dn"),
    )
    cos = F.when(F.col("sn") * F.col("dn") == 0, F.lit(0.0)).otherwise(
        dot_product("sv", "dv") / (F.col("sn") * F.col("dn"))
    )
    scored = pairs.join(F.broadcast(se), "src").join(de, "dst").select(
        "src", "dst", cos.alias("cos")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NSW_M)
        .select("src", "dst", "rk")
    )


def nsw_edges_family(sf_dir: str) -> LatticeFamily:
    """Streaming NSW-graph maintenance over the corpus at ``sf_dir``:
    arriving vectors become their top-M edges. Against the fixed corpus
    a vector's edges depend on that vector alone, so the fold is a
    DISTINCT union (idempotent G-set, the LSH-index class): a
    re-delivered vector yields identical rows and the fold absorbs
    them."""
    return LatticeFamily(
        name="graph",
        source_schema="vec_id bigint, embedding array<float>",
        partial_fn=lambda b: nsw_edges_for_batch(b.sparkSession, sf_dir, b),
        fold_fn=lambda u: u.distinct(),
        empty_schema="src bigint, dst bigint, rk int",
    )


SEMDEDUP_PREFIX = 4  # collision key = first 4 of 8 sub-codes; the full
# 8-code word is too selective on this small corpus (0 collisions at
# sf0.01) while the 4-code prefix yields a meaningful candidate set (12
# pairs) — at web scale the knob trades recall against candidate mass


def _semdedup_oracle() -> str:
    """Compose from the PQ-codes oracle verbatim: vectors sharing the
    leading sub-code prefix are semantic-dup candidates; exact cosine
    annotates each collision pair."""
    from ..registry import REGISTRY

    pq = REGISTRY["embedding_pq_codes"].oracle
    return f"""
    WITH pq AS (
      SELECT vec_id,
             array_to_string((string_split(codes, ' '))[1:{SEMDEDUP_PREFIX}], ' ') AS key
      FROM ({pq})
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.key AS code_word
      FROM pq a JOIN pq b ON a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b, p.code_word,
           round({_cos_sql_pair('ea.embedding', 'eb.embedding')}, 6) AS cosine
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.vec_a
    JOIN embeddings eb ON eb.vec_id = p.vec_b
    """


@register(
    "semdedup_pq_collisions",
    oracle=_semdedup_oracle(),
    doc="SemDeDup-style semantic near-dup prefilter via PQ codes: vectors "
    "whose leading 4-sub-code prefix collides are duplicate candidates, found "
    "with a groupBy on a ~4-byte key instead of any vector math — the "
    "cheapest corpus-scale semantic dedup pass, then exact cosine "
    "annotates the (few) collision pairs for thresholding. At 100 TB the "
    "code table is 64:1 smaller than the vectors and the collision join "
    "shuffles only code words; embeddings are fetched for collision "
    "pairs alone. Composes the persisted PQ-code pipeline verbatim, so "
    "the whole chain is value-gated.",
)
def q_semdedup_pq_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm
    from .training import PQ_SUBSPACES, pq_encode

    # read the PERSISTED (vec_id, s, code) table — same cache key as
    # knn_ivfpq_probe, so the codes are encoded once per corpus, not per
    # query — and fold the first SEMDEDUP_PREFIX sub-codes into the
    # collision key (s-ordered, matching the oracle's string slice)
    emb_for_codes = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    codes = artifacts.persisted_table(
        spark, "pq", f"s{PQ_SUBSPACES}", [(sf_dir, "embeddings")],
        lambda: pq_encode(emb_for_codes).select("vec_id", "s", "code"),
    )
    pq = (
        codes.filter(F.col("s") < SEMDEDUP_PREFIX)
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "code"))),
                    lambda x: x.getField("code").cast("string"),
                ),
                " ",
            ).alias("key")
        )
    )
    a = pq.select(F.col("vec_id").alias("vec_a"), F.col("key").alias("code_word"))
    b = pq.select(F.col("vec_id").alias("vec_b"), F.col("key").alias("codes_b"))
    pairs = a.join(
        b, (F.col("code_word") == F.col("codes_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select("vec_a", "vec_b", "code_word")
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    cos = F.when(F.col("na") * F.col("nb") == 0, F.lit(0.0)).otherwise(
        dot_product("va", "vb") / (F.col("na") * F.col("nb"))
    )
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", "code_word", F.round(cos, 6).alias("cosine"))
    )


# --- clustering QA: simplified silhouette over the coarse quantizer ---------


@register(
    "ivf_silhouette_report",
    oracle=f"""
    WITH cent AS ({_CENTROID_AGG_SQL.format(src="(SELECT label AS cell, embedding FROM embeddings)")}),
    d AS (
      SELECT e.vec_id, e.label AS cell, c.cell AS ocell,
             1 - ({_cos_sql_pair('e.embedding', 'c.centroid')}) AS dist
      FROM embeddings e CROSS JOIN cent c
    ),
    ab AS (
      SELECT vec_id, cell,
             MIN(CASE WHEN ocell = cell THEN dist END) AS a,
             MIN(CASE WHEN ocell <> cell THEN dist END) AS b
      FROM d GROUP BY vec_id, cell
    ),
    s AS (SELECT vec_id, cell, round((b - a) / greatest(a, b), 9) AS sil FROM ab)
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_points,
           round(CAST(CAST(SUM(CAST(sil AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette,
           CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned
    FROM s GROUP BY cell
    """,
    doc="Clustering QA for the IVF coarse quantizer: simplified silhouette "
    "(Hruschka et al. variant — centroid distances only, so it is LINEAR "
    "in corpus size where the classic silhouette is quadratic). Per "
    "point: a = cosine distance to own centroid, b = min distance to any "
    "other centroid, s = (b-a)/max(a,b); per cell: size, mean s, and the "
    "count of negative-s points (nearer to a foreign centroid — "
    "misassigned mass that degrades IVF probe recall). Shape at 100 TB: "
    "one scan x k broadcast centroids + one cell-keyed aggregate; "
    "per-point silhouettes round to 9 digits and sum through DECIMAL so "
    "the mean is order-independent and engine-exact.",
)
def q_ivf_silhouette_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    cent = _mean_centroids(emb.select(F.col("label").alias("cell"), "embedding"))
    d = emb.select(F.col("vec_id"), F.col("label").alias("cell"), "embedding").crossJoin(
        F.broadcast(cent.select(F.col("cell").alias("ocell"), "centroid"))
    ).select(
        "vec_id",
        "cell",
        "ocell",
        (F.lit(1) - cosine_similarity("embedding", "centroid")).alias("dist"),
    )
    ab = d.groupBy("vec_id", "cell").agg(
        F.min(F.when(F.col("ocell") == F.col("cell"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("ocell") != F.col("cell"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        "cell",
        F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 9).alias("sil"),
    )
    return s.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(
            F.sum(F.col("sil").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("mean_silhouette"),
        F.sum(F.when(F.col("sil") < 0, 1).otherwise(0)).cast("bigint").alias(
            "n_misassigned"
        ),
    )


# --- kNN self-join: top-k neighbors for EVERY corpus point ------------------

SELF_JOIN_K = 5


@register(
    "knn_self_join",
    oracle=f"""
    WITH pl AS ({_PLANES_SQL}),
    b AS (
      SELECT e.vec_id, e.embedding, t.t, {_MT_BUCKET_SQL} AS bucket
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t CROSS JOIN pl
    ),
    probes AS (
      SELECT vec_id, t,
             CASE WHEN f.f = 0 THEN bucket
                  ELSE xor(bucket, CAST(power(2, f.f - 1) AS BIGINT)) END AS probe
      FROM b CROSS JOIN (SELECT unnest(range(0, (SELECT p FROM pl) + 1)) AS f) f
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
      FROM probes x JOIN b y ON x.t = y.t AND x.probe = y.bucket AND x.vec_id <> y.vec_id
    ),
    scored AS (
      SELECT cand.src, cand.dst, {_cos_sql_pair('a.embedding', 'b.embedding')} AS cos
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.src
      JOIN embeddings b ON b.vec_id = cand.dst
    )
    SELECT src, dst, round(cos, 6) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      FROM scored
    ) WHERE rk <= {SELF_JOIN_K}
    """,
    doc="kNN SELF-join: top-5 approximate neighbors for EVERY corpus "
    "point (not just a query sample) — the primitive semantic-dedup and "
    "graph-construction pipelines (SemDeDup, k-NN graphs) run over the "
    "whole corpus. Candidates come from the persisted multiprobe bucket "
    "index (8 tables × Hamming-1), the same index every other ANN query "
    "shares — never an all-pairs product; exact cosine + a per-src "
    "window pick the top-k among candidates only. At 100 TB this is the "
    "canonical 'embed everything, link everything' job: two keyed "
    "shuffles (bucket join, src window) over 8-byte keys.",
)
def q_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    buckets = bucket_index(spark, sf_dir)
    probes = buckets.select(
        "vec_id", "t", F.explode(_multiprobe(F.col("bucket"), corpus_planes(spark, sf_dir))).alias("probe")
    )
    x = probes.alias("x")
    y = buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.probe") == F.col("y.bucket"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("src"), F.col("y.vec_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    from ..functions.vectors import dot_product, l2_norm

    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        l2_norm("embedding").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        l2_norm("embedding").alias("nb"),
    )
    cos = F.when(F.col("na") * F.col("nb") == 0, F.lit(0.0)).otherwise(
        dot_product("ea", "eb") / (F.col("na") * F.col("nb"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
    return (
        cand.join(a, "src")
        .join(b, "dst")
        .select("src", "dst", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SELF_JOIN_K)
        .select("src", "dst", F.round("cos", 6).alias("cosine"), "rk")
    )


def _pq_purity_oracle() -> str:
    from ..registry import REGISTRY

    pq = REGISTRY["embedding_pq_codes"].oracle
    return f"""
    WITH pq AS (
      SELECT vec_id,
             array_to_string((string_split(codes, ' '))[1:{SEMDEDUP_PREFIX}], ' ') AS key
      FROM ({pq})
    ),
    labeled AS (
      SELECT pq.key, e.label FROM pq JOIN embeddings e ON e.vec_id = pq.vec_id
    ),
    per_label AS (
      SELECT key, label, COUNT(*) AS n_label FROM labeled GROUP BY key, label
    ),
    sized AS (
      SELECT key, CAST(SUM(n_label) AS BIGINT) AS n_members FROM per_label GROUP BY key
    )
    SELECT s.key AS code_word, s.n_members,
           p.label AS majority_label,
           CAST(p.n_label AS BIGINT) AS n_majority,
           round(p.n_label / CAST(s.n_members AS DOUBLE), 6) AS purity
    FROM sized s
    JOIN (
      SELECT *, row_number() OVER (PARTITION BY key
                                   ORDER BY n_label DESC, label ASC) AS rk
      FROM per_label
    ) p ON p.key = s.key AND p.rk = 1
    WHERE s.n_members >= 2
    """


@register(
    "pq_bucket_purity",
    oracle=_pq_purity_oracle(),
    doc="Label purity of the SemDeDup PQ-prefix buckets: for every "
    "collision bucket (>= 2 members), its size, majority label, and "
    "purity — the calibration report that says whether the cheap "
    "code-prefix grouping actually tracks semantics before it is "
    "trusted as a dedup prefilter (sketch-QA, like "
    "minhash_estimate_quality for MinHash). Composes the persisted "
    "PQ-code pipeline and its oracle verbatim; the aggregation shuffles "
    "only (code-word, label) pairs.",
)
def q_pq_bucket_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training import PQ_SUBSPACES, pq_encode

    emb_for_codes = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    codes = artifacts.persisted_table(
        spark, "pq", f"s{PQ_SUBSPACES}", [(sf_dir, "embeddings")],
        lambda: pq_encode(emb_for_codes).select("vec_id", "s", "code"),
    )
    pq = (
        codes.filter(F.col("s") < SEMDEDUP_PREFIX)
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "code"))),
                    lambda x: x.getField("code").cast("string"),
                ),
                " ",
            ).alias("key")
        )
    )
    labels = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id").select(
        "vec_id", "label"
    )
    per_label = (
        pq.join(labels, "vec_id")
        .groupBy("key", "label")
        .agg(F.count("*").alias("n_label"))
    )
    sized = per_label.groupBy("key").agg(
        F.sum("n_label").cast("long").alias("n_members")
    )
    wk = Window.partitionBy("key").orderBy(F.desc("n_label"), F.asc("label"))
    top = per_label.withColumn("rk", F.row_number().over(wk)).filter(F.col("rk") == 1)
    return (
        sized.filter(F.col("n_members") >= 2)
        .join(top, "key")
        .select(
            F.col("key").alias("code_word"),
            "n_members",
            F.col("label").alias("majority_label"),
            F.col("n_label").cast("long").alias("n_majority"),
            F.round(F.col("n_label") / F.col("n_members").cast("double"), 6).alias(
                "purity"
            ),
        )
    )


# nprobe operating points swept by the IVF probe tuner — 1 (fastest),
# 3 (the knn_ivfpq_probe default), 5 (the knn_ivf_probe default)
IVF_SWEEP_NPROBES = [1, 3, 5]

# Fixed recall panel (r12 verdict item 6): the tuner's exact-scoring leg
# is query-set x corpus, so a query set that GROWS with the corpus made
# the sweep quadratic by workload (measured 1.37 at the 10x leg, r12
# NOTES) and excluded it from the slope harness. Bounding recall to the
# PANEL smallest query ids makes the exact leg O(panel * corpus) — linear
# in the corpus — the same move pooled recall makes to avoid all-pairs.
# At the driver scale factors (500-vector tables, 20 query ids) the panel
# IS the full query set, so the tuner curve there is unchanged.
IVF_SWEEP_PANEL = 20


def _ivf_sweep_oracle() -> str:
    """Composes the exact brute-force oracle (the recall denominator,
    restricted to the fixed query panel) with a prk-annotated IVF
    candidate set expanded over the swept nprobe configs — a candidate
    from the query's rank-p cell belongs to every config with
    nprobe >= p, so the corpus join appears once. Outer CTE names are
    i-prefixed: the embedded exact oracle carries its own WITH
    (q/parts/scored), which DuckDB scopes to its subquery."""
    from ..registry import REGISTRY

    exact = REGISTRY["knn_bruteforce"].oracle
    max_p = max(IVF_SWEEP_NPROBES)
    cfg_list = ", ".join(str(n) for n in IVF_SWEEP_NPROBES)
    return f"""
    WITH ipanel AS (
      SELECT vec_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
      ORDER BY vec_id LIMIT {IVF_SWEEP_PANEL}
    ),
    exact_all AS (
      SELECT x.query_id, x.neighbor_id FROM ({exact}) x
      JOIN ipanel p ON p.vec_id = x.query_id
    ),
    icent AS ({_CENTROID_AGG_SQL.format(src="(SELECT label AS cell, embedding FROM embeddings)")}),
    iq AS (
      SELECT e.vec_id AS query_id, e.embedding AS qv
      FROM embeddings e JOIN ipanel p ON p.vec_id = e.vec_id
    ),
    iqc AS (
      SELECT iq.query_id, iq.qv, c.cell, {_cos_sql_pair('iq.qv', 'c.centroid')} AS ccos
      FROM iq CROSS JOIN icent c
    ),
    ipr AS (
      SELECT query_id, qv, cell,
             row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cell) AS prk
      FROM iqc
    ),
    icands AS (
      SELECT p.query_id, p.prk, e.vec_id AS neighbor_id,
             {_cos_sql_pair('p.qv', 'e.embedding')} AS cos
      FROM ipr p JOIN embeddings e ON e.label = p.cell AND e.vec_id <> p.query_id
      WHERE p.prk <= {max_p}
    ),
    cfg AS (SELECT unnest([{cfg_list}]) AS nprobe),
    cc AS (
      SELECT c.nprobe, d.query_id, d.neighbor_id, d.cos
      FROM cfg c JOIN icands d ON d.prk <= c.nprobe
    ),
    itop AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
        FROM cc
      ) WHERE rk <= 10
    ),
    ihits AS (
      SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM itop t JOIN exact_all e
        ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
      GROUP BY t.nprobe
    ),
    incand AS (
      SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cc GROUP BY nprobe
    ),
    itot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact_all)
    SELECT n.nprobe AS nprobe, n.n_candidates,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST((1000000 * COALESCE(h.n_hits, 0)) // GREATEST(t.n_exact, 1) AS BIGINT)
             AS recall_micro
    FROM incand n LEFT JOIN ihits h ON h.nprobe = n.nprobe CROSS JOIN itot t
    """


@register(
    "ivf_probe_sweep",
    oracle=_ivf_sweep_oracle(),
    doc="IVF probe-count tuner — the ANN twin of minhash_band_sweep, "
    f"completing the tuner pair: the SAME coarse quantizer probed at "
    f"nprobe in {{{', '.join(str(n) for n in IVF_SWEEP_NPROBES)}}}, each "
    "config reporting candidate mass (the cost axis) and recall@10 "
    "against the exact brute-force baseline (the quality axis) — the "
    "cost/recall curve a deployment reads before fixing nprobe for a "
    "100 TB probe fleet. Like every recall diagnostic here "
    "(ann_recall_report, ann_methods_recall), this runs on a SAMPLE — "
    f"and since r13 the sample is a FIXED panel (the {IVF_SWEEP_PANEL} "
    "smallest query ids, deterministic and corpus-size-independent), so "
    "the exact recall leg is O(panel x corpus), linear in the corpus, "
    "and the tuner carries a measured slope row like every other "
    "quadratic-risk kernel. Shuffle discipline: the centroid table and "
    "query set broadcast, the corpus join runs ONCE at the widest "
    "config (a candidate from the query's rank-p cell belongs to every "
    "config with nprobe >= p — prk annotation, then config expansion "
    "over the small candidate set), and the recall join moves int "
    "pairs. recall_micro via integer div for exact parity.",
)
def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm

    emb = fan_out(load_table(spark, "embeddings", sf_dir), "vec_id")
    cent = _mean_centroids(emb.select(F.col("label").alias("cell"), "embedding"))
    # the fixed query panel: smallest PANEL query ids — deterministic and
    # independent of corpus growth (ids only through the sort)
    panel = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(IVF_SWEEP_PANEL)
    )
    q = emb.join(F.broadcast(panel), "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "query_vec",
            "cell",
            cosine_similarity("query_vec", "centroid").alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "cell")
    probes = qc.withColumn("prk", F.row_number().over(wq)).filter(
        F.col("prk") <= max(IVF_SWEEP_NPROBES)
    )
    cands = (
        probes.join(emb, probes.cell == emb.label)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "prk",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity("query_vec", "embedding").alias("cos"),
        )
        # the config expansion, top-10 window, and candidate-mass count
        # all read this frame — one materialization
        .localCheckpoint(eager=True)
    )
    cc = cands.select(
        "*",
        F.explode(
            F.array(*[F.lit(n) for n in IVF_SWEEP_NPROBES])
        ).alias("nprobe"),
    ).filter(F.col("prk") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos"), "neighbor_id"
    )
    top = (
        cc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("nprobe", "query_id", "neighbor_id")
    )
    # exact recall denominator, panel-restricted BEFORE scoring so the
    # leg is O(panel * corpus) — never the growing-query-set cross join
    corpus = emb.select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    panel_q = corpus.join(F.broadcast(panel), "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("nrm").alias("qnrm"),
    )
    ex_scored = (
        F.broadcast(panel_q)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("qnrm") * F.col("nrm") == 0, F.lit(0.0))
            .otherwise(
                dot_product("query_vec", "embedding")
                / (F.col("qnrm") * F.col("nrm"))
            )
            .alias("cos"),
        )
    )
    wex = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    exact = (
        ex_scored.withColumn("rk", F.row_number().over(wex))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id")
    )
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
    hits = top.join(exact, ["query_id", "neighbor_id"]).groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    ncand = cc.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    return (
        ncand.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_candidates",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "(1000000 * COALESCE(n_hits, 0)) div GREATEST(n_exact, 1)"
            ).alias("recall_micro"),
        )
    )


# --- embedding hygiene audit --------------------------------------------------

# Norms are quantized to integer milli-units via floor (unambiguous on
# both engines, unlike double rounding at .5 boundaries) so every
# downstream statistic — discrete median, outlier fences, min/max — is
# exact BIGINT arithmetic. The discrete lower median comes from a
# row_number walk, not an interpolating percentile (whose interpolation
# rules differ across engines).


@register(
    "embedding_dq_audit",
    oracle="""
    WITH base AS (
      SELECT vec_id, label,
             (embedding IS NULL) AS is_null,
             CASE WHEN embedding IS NULL THEN -1 ELSE len(embedding) END AS dim,
             CASE WHEN embedding IS NULL THEN FALSE
                  ELSE len(list_filter(embedding,
                           x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
             END AS nonfinite
      FROM embeddings
    ),
    norms AS (
      SELECT b.vec_id, b.label,
             CAST(floor(sqrt(list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                 (a, x) -> a + x)) * 1000) AS BIGINT) AS mnorm
      FROM base b JOIN embeddings e USING (vec_id)
      WHERE NOT b.is_null AND NOT b.nonfinite
    ),
    med AS (
      SELECT label, mnorm AS med_mnorm FROM (
        SELECT label, mnorm,
               row_number() OVER (PARTITION BY label ORDER BY mnorm, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY label) AS cnt
        FROM norms
      ) WHERE rn = (cnt + 1) // 2
    )
    SELECT b.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN b.is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN b.nonfinite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
           CAST(MIN(CASE WHEN b.dim >= 0 THEN b.dim END) AS BIGINT) AS min_dim,
           CAST(MAX(b.dim) AS BIGINT) AS max_dim,
           CAST(SUM(CASE WHEN n.mnorm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
           CAST(MIN(n.mnorm) AS BIGINT) AS min_mnorm,
           CAST(MAX(n.mnorm) AS BIGINT) AS max_mnorm,
           CAST(MAX(m.med_mnorm) AS BIGINT) AS med_mnorm,
           CAST(SUM(CASE WHEN n.mnorm * 2 < m.med_mnorm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_norm_low,
           CAST(SUM(CASE WHEN n.mnorm > m.med_mnorm * 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_norm_high
    FROM base b
    LEFT JOIN norms n ON n.vec_id = b.vec_id
    LEFT JOIN med m ON m.label = b.label
    GROUP BY b.label
    ORDER BY b.label
    """,
    doc="Vector-ingest hygiene QA per label shard — the audit a vector "
    "store runs before committing an embedding batch: null payloads, "
    "degenerate elements (NaN/Inf/NULL — a NULL element counts as "
    "n_nonfinite and is excluded from norms on both engines; the "
    "oracle's list_reduce is seeded via list_prepend so an EMPTY "
    "embedding folds to mnorm=0, matching Spark's aggregate seed, "
    "instead of erroring), dimension range (a mixed-dim shard "
    "breaks every kernel downstream), zero-norm vectors (they poison "
    "cosine — the same guard knn_bruteforce special-cases), and the "
    "milli-norm distribution (min/median/max plus half/double-median "
    "outlier fences — a truncated or unnormalized upstream model run "
    "shows up here first). All statistics are exact BIGINT arithmetic "
    "over floor-quantized norms; the median is the discrete lower "
    "median via row_number, not an engine-specific interpolating "
    "percentile. Scale: one scan + one label-keyed window over the "
    "norm table; no global sort, no driver collection.",
)
def q_embedding_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_norm

    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").isNull().alias("is_null"),
        F.when(F.col("embedding").isNull(), F.lit(-1))
        .otherwise(F.size("embedding"))
        .alias("dim"),
        # x.isNull() in the predicate makes F.exists total: a NULL
        # element is itself a defect (counted here, excluded from
        # norms), and without the clause exists() returns NULL on
        # no-match-with-nulls, silently dropping the row from BOTH
        # counters — the cross-engine divergence this guard closes.
        F.when(F.col("embedding").isNull(), F.lit(False))
        .otherwise(
            F.exists(
                "embedding",
                lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
            )
        )
        .alias("nonfinite"),
        F.col("embedding").alias("emb"),
    )
    norms = base.filter(~F.col("is_null") & ~F.col("nonfinite")).select(
        "vec_id",
        "label",
        F.floor(l2_norm("emb") * 1000).cast("bigint").alias("mnorm"),
    )
    w = Window.partitionBy("label").orderBy("mnorm", "vec_id")
    wc = Window.partitionBy("label")
    med = (
        norms.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wc))
        .filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .select("label", F.col("mnorm").alias("med_mnorm"))
    )
    j = (
        base.join(norms.select("vec_id", "mnorm"), "vec_id", "left")
        .join(F.broadcast(med), "label", "left")
    )
    return (
        j.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("is_null"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.sum(F.when(F.col("nonfinite"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nonfinite"),
            F.min(F.when(F.col("dim") >= 0, F.col("dim")))
            .cast("bigint")
            .alias("min_dim"),
            F.max("dim").cast("bigint").alias("max_dim"),
            F.sum(F.when(F.col("mnorm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_norm"),
            F.min("mnorm").cast("bigint").alias("min_mnorm"),
            F.max("mnorm").cast("bigint").alias("max_mnorm"),
            F.max("med_mnorm").cast("bigint").alias("med_mnorm"),
            F.sum(F.when(F.col("mnorm") * 2 < F.col("med_mnorm"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_norm_low"),
            F.sum(F.when(F.col("mnorm") > F.col("med_mnorm") * 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_norm_high"),
        )
        .orderBy("label")
    )


# --- rank-aware ANN quality ---------------------------------------------------

# Binary-relevance nDCG@10 needs 1/log2(i+1) discounts — irrational, so
# both engines read the SAME micro-unit integer literals (computed once
# here) and every downstream step is exact BIGINT arithmetic: gain sum,
# floor-divided normalization, floor-divided mean. No libm log crosses
# an engine boundary.
_NDCG_W = [round(1_000_000 / __import__("math").log2(i + 1)) for i in range(1, 11)]
_NDCG_IDEAL = sum(_NDCG_W)


def _ndcg_oracle() -> str:
    from ..registry import REGISTRY

    exact = REGISTRY["knn_bruteforce"].oracle
    methods = {
        "lsh_multiprobe": REGISTRY["knn_lsh_probe"].oracle,
        "ivf_kmeans": REGISTRY["knn_ivf_kmeans_probe"].oracle,
        "ivf_frozen": REGISTRY["knn_ivf_incremental"].oracle,  # r15: see recall report
        "ivf_pq": REGISTRY["knn_ivfpq_probe"].oracle,
        "nsw_graph": REGISTRY["knn_nsw_probe"].oracle,
    }
    wt = " UNION ALL ".join(
        f"SELECT {i + 1} AS rk, CAST({w} AS BIGINT) AS wmicro"
        for i, w in enumerate(_NDCG_W)
    )
    # fixed arm list, NOT SELECT DISTINCT method FROM hits: an arm with
    # zero hits corpus-wide must still appear (as all-zero nDCG rows),
    # exactly as the Spark side always unions every arm — deriving
    # the list from hits would drop it in precisely the total-recall-
    # failure regime this report exists to surface.
    mlist = " UNION ALL ".join(f"SELECT '{name}' AS method" for name in methods)
    arms = "\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS method, a.query_id, a.rk
    FROM ({sql}) a JOIN exact_r e
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    """
        for name, sql in methods.items()
    )
    return f"""
    WITH exact_r AS (SELECT * FROM ({exact})),
    panel AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    wt AS ({wt}),
    hits AS ({arms}),
    dcg AS (
      SELECT h.method, h.query_id, CAST(SUM(w.wmicro) AS BIGINT) AS dcg_micro
      FROM hits h JOIN wt w ON w.rk = h.rk
      GROUP BY h.method, h.query_id
    ),
    perq AS (
      SELECT m.method, p.query_id,
             (1000000 * COALESCE(d.dcg_micro, 0)) // {_NDCG_IDEAL} AS ndcg_micro
      FROM panel p
      CROSS JOIN ({mlist}) m
      LEFT JOIN dcg d ON d.method = m.method AND d.query_id = p.query_id
    )
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(ndcg_micro) // COUNT(*) AS BIGINT) AS mean_ndcg_micro,
           CAST(MIN(ndcg_micro) AS BIGINT) AS min_ndcg_micro,
           CAST(SUM(CASE WHEN ndcg_micro = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_perfect
    FROM perq GROUP BY method ORDER BY method
    """


@register(
    "ann_ndcg_report",
    oracle=_ndcg_oracle(),
    doc="Rank-aware ANN bake-off: binary-relevance nDCG@10 of every "
    "approximate method against the exact top-10 — the companion to "
    "ann_methods_recall that set-based recall cannot replace (a method "
    "that finds all ten true neighbors but inverts their order scores "
    "recall 1.0; nDCG charges it for every displaced rank). Discounts "
    "are shared integer micro-unit literals (no libm log crosses an "
    "engine boundary); per-query nDCG is floor-divided exact BIGINT "
    "arithmetic; queries a method misses entirely score 0 via a panel "
    "left join, so the mean is over the full query panel. Reports "
    "mean/min nDCG and the count of rank-perfect queries per method. "
    "Scale: each arm rides its registered persisted-index probe; the "
    "report adds one (method x query)-sized aggregation.",
)
def q_ann_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        q_knn_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    methods = {
        "lsh_multiprobe": q_knn_lsh_probe,
        "ivf_kmeans": q_knn_ivf_kmeans_probe,
        "ivf_frozen": q_knn_ivf_incremental,
        "ivf_pq": q_knn_ivfpq_probe,
        "nsw_graph": q_knn_nsw_probe,
    }
    emb = load_table(spark, "embeddings", sf_dir)
    panel = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    warr = F.array(*[F.lit(w).cast("bigint") for w in _NDCG_W])
    arms = None
    for name, fn in methods.items():
        hit = fn(spark, sf_dir).select("query_id", "neighbor_id", "rk").join(
            exact, ["query_id", "neighbor_id"]
        )
        dcg = hit.groupBy("query_id").agg(
            F.sum(F.element_at(warr, F.col("rk"))).cast("bigint").alias("dcg_micro")
        )
        perq = panel.join(dcg, "query_id", "left").select(
            F.lit(name).alias("method"),
            "query_id",
            F.expr(
                f"(1000000 * COALESCE(dcg_micro, 0)) div {_NDCG_IDEAL}"
            ).alias("ndcg_micro"),
        )
        arms = perq if arms is None else arms.unionByName(perq)
    return (
        arms.groupBy("method")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.expr("sum(ndcg_micro) div count(*)")
            .cast("bigint")
            .alias("mean_ndcg_micro"),
            F.min("ndcg_micro").cast("bigint").alias("min_ndcg_micro"),
            F.sum(F.when(F.col("ndcg_micro") == 1_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_perfect"),
        )
        .orderBy("method")
    )
