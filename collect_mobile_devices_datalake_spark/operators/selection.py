"""Sketch-gated membership + model-based data-selection operators.

Pretraining-pipeline families the repo did not cover before this module,
each fully value-oracled because every "sketch" here is built from a
deterministic cross-engine hash (a 31-polynomial over ASCII codes mod
2^31-1 — identical arithmetic in Spark column expressions and DuckDB
list lambdas, parity-tested in tests/test_selection.py). Also here:
``decontam_bloom_report`` (the GPT-3-style bloom decontamination of the
train split against the test split's shingles) and
``quality_ensemble_rank`` (the five-signal keep/drop decision table
composing gopher rules, substring-dup fraction, repetition, rarity, and
DSIR selection):

- **Bloom-prefiltered resume** (`resume_bloom_prefilter`,
  `bloom_fp_report`): the reference's crawl-resume set difference
  (app.js:457-482) behind a Bloom filter. Spark's own
  ``BloomFilterAggregate`` exists only as an internal runtime-filter
  expression in this build (not SQL-registered — see
  tests/test_plans.py::test_runtime_bloom_filter_prunes_probe_side for
  the optimizer-injected form), so the filter is materialized the
  *relational* way: the set of set bit positions is a table. That form
  is equivalent, plan-visible, broadcastable, and — because the hash is
  deterministic — bit-for-bit reproducible in the DuckDB oracle,
  which checks the Bloom DECISION itself, not just the rescued output.

- **DSIR-style importance scoring** (`dsir_importance_score`): Data
  Selection via Importance Resampling (Xie et al. 2023,
  arXiv:2302.03169) scores raw documents by an importance weight
  between a small target distribution and the raw corpus over hashed
  n-gram features. Logs through libm round differently per engine, so
  the per-bucket weight is the add-one frequency RATIO in exact
  fixed-point: ``w_b = (1024·(t_b+1)·R) // ((r_b+1)·T) − 1024`` —
  integer floor division on both engines, centered so w_b ≈
  1024·ln-ratio to first order (the corpus' frequency contrasts are
  within ±10%, where the linearization is tight; a whole-bit
  floor(log2) quantization would flatten them all to zero).

- **Rarity scoring** (`doc_rarity_bits`): a CCNet-flavored (Wenzek et
  al. 2020) LM-perplexity surrogate with the same integer-bits trick:
  each token contributes ``flog2(N // df)`` bits (its IDF rounded down
  to whole bits); the per-doc mean separates rare-vocabulary documents
  from boilerplate-vocabulary ones at scan cost.

Scale notes live on each operator's docstring; the common theme is
that every sketch/model table here is bounded (2^20 bloom bits, 4096
feature buckets, corpus vocabulary) and broadcast, while the document
mass only ever moves through ordinary hash aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import fan_out, load_table
from ..sources.synthetic import SAVED_LIST_SQL, SOURCE_LIST_SQL, saved_list, source_list

# 31-polynomial string hash, mod the Mersenne prime 2^31-1. The running
# value stays < 2^31, so each step's a*31+ascii fits comfortably in
# int64 — no overflow on either engine.
_P = 2_147_483_647
# Knuth multiplicative constant for the second (double-hashing) probe.
_MULT = 2_654_435_761
_M_BITS = 1 << 20  # bloom width m: 2^20 bits ≈ 0.4% FP at this corpus' load
_K = 2  # probes per key (double hashing: h1, h1+h2)
_B = 4096  # DSIR hashed-feature buckets
_KFP = 1024  # DSIR fixed-point scale: weights in 1/1024 units


def _poly_hash(col: Column) -> Column:
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("bigint"),
        lambda a, c: (a * 31 + F.ascii(c)) % _P,
    )


def _poly_hash_sql(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {_P})"
    )


def _flog2(col: Column) -> Column:
    """floor(log2(x)) for x >= 1, exact: bit length minus one.

    SQL twin in the oracles: ``length(to_base(x, 2)) - 1``.
    """
    return F.length(F.bin(col)) - 1


def _bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, bloom_pass) for every distinct non-empty frontier url.

    Build side: distinct saved urls → k=2 bit positions each → DISTINCT
    position = the Bloom bitmap as a table of at most m rows (m = 2^20
    here; a size knob, not a data-dependent quantity). Probe side joins
    its positions against the broadcast bitmap and passes iff all k hit.
    """
    orders = load_table(spark, "orders", sf_dir)
    saved_urls = saved_list(orders).select("url").distinct()
    sh = saved_urls.select(_poly_hash(F.col("url")).alias("h1"))
    bits = (
        sh.select(
            F.explode(
                F.array(
                    F.col("h1") % _M_BITS,
                    (F.col("h1") + (F.col("h1") * _MULT) % _P) % _M_BITS,
                )
            ).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = (
        source_list(orders)
        .filter(F.col("url") != "")
        .select("url")
        .distinct()
        .select("url", _poly_hash(F.col("url")).alias("h1"))
    )
    probe = cand.select(
        "url",
        F.explode(
            F.array(
                F.col("h1") % _M_BITS,
                (F.col("h1") + (F.col("h1") * _MULT) % _P) % _M_BITS,
            )
        ).alias("pos"),
    )
    return (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy("url")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) == _K).alias("bloom_pass"))
    )


# Packed-word bitmap form of the same filter. 62-bit words (offsets
# 0..61) keep every ``1 << off`` strictly positive in int64 on BOTH
# engines — no sign-bit case to reason about cross-engine. Bitwise OR
# over packed words is an idempotent/commutative/associative lattice
# join (the powerset under union), which is what makes this form
# streamable (the ``BLOOM`` family in streaming/sketch_maintenance.py).
_BLOOM_WORD = 62


def bloom_positions(urls: DataFrame) -> DataFrame:
    """(pos): the DISTINCT Bloom bit positions a url frame sets —
    the k=2 double-hashing probes of ``_bloom_probe``, as a set."""
    sh = urls.select(_poly_hash(F.col("url")).alias("h1"))
    return sh.select(
        F.explode(
            F.array(
                F.col("h1") % _M_BITS,
                (F.col("h1") + (F.col("h1") * _MULT) % _P) % _M_BITS,
            )
        ).alias("pos")
    ).distinct()


def bloom_words(urls: DataFrame) -> DataFrame:
    """(word, bits): the bitmap packed 62 positions per int64 word —
    <= ceil(m/62) rows regardless of input size (the bounded partial a
    streaming maintainer writes per batch)."""
    return (
        bloom_positions(urls)
        .select(
            F.expr(f"pos div {_BLOOM_WORD}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
            ).alias("b"),
        )
        .groupBy("word")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_words_sql(urls_sql: str) -> str:
    """DuckDB twin of ``bloom_words`` over ``urls_sql`` (rows with a
    ``url`` column): the packed (word, bits) bitmap."""
    h = _poly_hash_sql("url")
    return f"""
    SELECT CAST(pos // {_BLOOM_WORD} AS BIGINT) AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT)) AS bits
    FROM (
      SELECT DISTINCT pos FROM (
        SELECT h1 % {_M_BITS} AS pos
        FROM (SELECT {h} AS h1 FROM ({urls_sql}))
        UNION ALL
        SELECT (h1 + (h1 * {_MULT}) % {_P}) % {_M_BITS} AS pos
        FROM (SELECT {h} AS h1 FROM ({urls_sql}))
      )
    )
    GROUP BY 1
    """


# Oracle fragment shared by both bloom queries: distinct saved urls,
# bitmap positions, distinct non-empty candidates, per-candidate pass.
def _bloom_oracle_cte() -> str:
    h_saved = _poly_hash_sql("url")
    return f"""
    src AS ({SOURCE_LIST_SQL}), sav AS ({SAVED_LIST_SQL}),
    saved_urls AS (SELECT DISTINCT url FROM sav),
    sh AS (SELECT url, {h_saved} AS h1 FROM saved_urls),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT h1 % {_M_BITS} AS pos FROM sh
        UNION ALL
        SELECT (h1 + (h1 * {_MULT}) % {_P}) % {_M_BITS} AS pos FROM sh
      )
    ),
    cand AS (
      SELECT url, {h_saved} AS h1
      FROM (SELECT DISTINCT url FROM src WHERE url <> '')
    ),
    cpos AS (
      SELECT url, h1 % {_M_BITS} AS pos FROM cand
      UNION ALL
      SELECT url, (h1 + (h1 * {_MULT}) % {_P}) % {_M_BITS} AS pos FROM cand
    ),
    probe AS (
      SELECT c.url, COUNT(b.pos) = {_K} AS bloom_pass
      FROM cpos c LEFT JOIN bits b ON b.pos = c.pos
      GROUP BY c.url
    )
    """


@register(
    "resume_bloom_prefilter",
    oracle=f"""
    WITH {_bloom_oracle_cte()}
    SELECT url, bloom_pass FROM probe WHERE NOT bloom_pass
    UNION ALL
    SELECT p.url, p.bloom_pass
    FROM probe p LEFT JOIN saved_urls s ON s.url = p.url
    WHERE p.bloom_pass AND s.url IS NULL
    """,
    doc="Crawl-resume (app.js:457-482) behind a Bloom prefilter: frontier "
    "urls whose k bit probes miss the broadcast bitmap are PENDING with no "
    "further work (a Bloom filter has no false negatives); only the "
    "might-be-saved remainder reaches the exact anti-join against the "
    "checkpoint table. Output = the exact pending set plus the Bloom "
    "decision per url, so the driver hash checks the filter's bits "
    "cross-engine, not just the final set. At 100 TB the bitmap is a "
    "bounded m-row table (2^20 here — a knob) built once from the "
    "checkpoint side and broadcast; the frontier mass is prefiltered at "
    "scan+broadcast-probe cost and the expensive url-keyed shuffle join "
    "runs only on the sliver the filter could not decide.",
)
def q_resume_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = _bloom_probe(spark, sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    saved_urls = saved_list(orders).select("url").distinct()
    definite = flags.filter(~F.col("bloom_pass"))
    rescued = flags.filter(F.col("bloom_pass")).join(saved_urls, "url", "left_anti")
    return definite.unionByName(rescued)


@register(
    "bloom_fp_report",
    oracle=f"""
    WITH {_bloom_oracle_cte()},
    j AS (
      SELECT p.url, p.bloom_pass,
             EXISTS (SELECT 1 FROM saved_urls s WHERE s.url = p.url) AS is_member
      FROM probe p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           round(CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
                 / (COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END)), 6) AS fp_rate
    FROM j
    """,
    doc="Observed false-positive accounting for the resume Bloom filter: "
    "probes, passes, true members, false positives, and the realized FP "
    "rate over non-members. Exactly reproducible (not a tolerance bound) "
    "because the filter's hash is deterministic on both engines — the "
    "oracle rebuilds the same bitmap and must land on the same FP count. "
    "The quality dashboard a production pipeline runs to size m/k.",
)
def q_bloom_fp_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = _bloom_probe(spark, sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    saved_urls = saved_list(orders).select("url").distinct().withColumn("m", F.lit(1))
    j = flags.join(saved_urls, "url", "left").select(
        "bloom_pass", F.coalesce("m", F.lit(0)).alias("is_member")
    )
    pass_i = F.when(F.col("bloom_pass"), 1).otherwise(0)
    fp_i = F.when(F.col("bloom_pass") & (F.col("is_member") == 0), 1).otherwise(0)
    return j.agg(
        F.count("*").cast("bigint").alias("n_probed"),
        F.sum(pass_i).cast("bigint").alias("n_bloom_pass"),
        F.sum("is_member").cast("bigint").alias("n_members"),
        F.sum(fp_i).cast("bigint").alias("n_false_pos"),
        F.round(
            F.sum(fp_i).cast("double") / (F.count("*") - F.sum("is_member")), 6
        ).alias("fp_rate"),
    )


@register(
    "dsir_importance_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    bt AS (SELECT doc_id, lang, {_poly_hash_sql("w")} % {_B} AS b FROM toks),
    cnt AS (
      SELECT b,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t,
             COUNT(*) AS r
      FROM bt GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(r) AS BIGINT) AS rr FROM cnt
    ),
    w AS (
      SELECT b, ({_KFP} * (t + 1) * rr) // ((r + 1) * tt) - {_KFP} AS wt
      FROM cnt, tot
    )
    SELECT bt.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(wt) AS BIGINT) AS dsir_score,
           CAST(SUM(wt) > 0 AS BOOLEAN) AS selected
    FROM bt JOIN w USING (b)
    GROUP BY bt.doc_id
    """,
    doc="DSIR importance scoring (Xie et al. 2023): hashed word features "
    "(31-poly hash mod 4096 buckets); per-bucket weight = add-one "
    "frequency ratio of the target distribution (lang='en' docs) against "
    "the raw corpus in exact 1/1024 fixed-point (integer floor division — "
    "no libm, engine-identical; ≈1024·ln-ratio to first order at this "
    "corpus' ±10%% contrasts). Per-doc score = sum of its tokens' bucket "
    "weights; selected = score > 0. Shape at 100 TB: one token-bucket "
    "aggregation (partial map-side), a 4096-row weight table crossed "
    "with a scalar totals row — both broadcast — then one doc_id "
    "re-aggregation; the corpus never moves except keyed by bucket/doc. "
    "(The fixed-point products 1024·(t+1)·R stay inside int64 up to "
    "~10^12 total tokens; beyond that, compute the 4096 weights from the "
    "bounded count table in DECIMAL.)",
)
def q_dsir_importance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: spread the single-row-group scan before the token explode
    # + per-word hashing (map-side work dominates this query)
    docs = fan_out(load_table(spark, "documents", sf_dir), "doc_id")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.trim("text"), "\\s+")).alias("w")
    )
    bt = toks.select("doc_id", "lang", (_poly_hash(F.col("w")) % _B).alias("b"))
    cnt = bt.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t"),
        F.count("*").alias("r"),
    )
    tot = cnt.agg(F.sum("t").alias("tt"), F.sum("r").alias("rr"))
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(f"({_KFP} * (t + 1) * rr) div ((r + 1) * tt) - {_KFP}").alias("wt"),
    )
    return (
        bt.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("wt").cast("bigint").alias("dsir_score"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dsir_score",
            (F.col("dsir_score") > 0).alias("selected"),
        )
    )


@register(
    "doc_rarity_bits",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    dfs AS (
      SELECT w, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    bits AS (
      SELECT w, length(to_base(n_docs // df, 2)) - 1 AS bits FROM dfs, nd
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS rarity_bits,
           round(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 6) AS mean_bits
    FROM toks JOIN bits USING (w)
    GROUP BY doc_id
    """,
    doc="CCNet-flavored rarity scoring (Wenzek et al. 2020 use a real LM; "
    "this is the IDF-bits surrogate with identical plumbing): each token "
    "contributes floor(log2(N // df)) whole bits — 0 for corpus-universal "
    "words, log2(N) for hapaxes — summed and averaged per document. All "
    "integer arithmetic plus one final IEEE division, engine-exact. "
    "Shape at 100 TB: document-frequency table = one distinct+aggregate "
    "keyed by word (Zipf-bounded vocabulary), joined back as a dimension "
    "(AQE broadcasts it when small); the scalar N is a broadcast cross; "
    "per-doc re-aggregation is the only payload shuffle.",
)
def q_doc_rarity_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), "\\s+")).alias("w")
    )
    dfs = toks.distinct().groupBy("w").agg(F.count("*").alias("df"))
    nd = toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    bits = dfs.crossJoin(F.broadcast(nd)).select(
        "w", _flog2(F.expr("n_docs div df")).alias("bits")
    )
    return (
        toks.join(bits, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("bits").cast("bigint").alias("rarity_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "rarity_bits",
            F.round(
                F.col("rarity_bits").cast("double") / F.col("n_tokens"), 6
            ).alias("mean_bits"),
        )
    )


# --- bloom-prefiltered train/test decontamination ---------------------------

# Imported at module top-level would be circular-import-safe too (dedup
# and training only depend on registry/session/functions), but the
# operators are only needed here:
from .dedup import _HASHES_SQL, shingled_docs  # noqa: E402
from .training import _SPLIT_BUCKET_SQL, split_bucket  # noqa: E402
from ..functions.text import rolling_hash  # noqa: E402


def _h2(h):  # second (double-hashing) probe position for an int64 hash
    return (h + (h * _MULT) % _P) % _M_BITS


@register(
    "decontam_bloom_report",
    oracle=f"""
    WITH g0 AS (
      SELECT doc_id, {_SPLIT_BUCKET_SQL} AS b,
             unnest(list_distinct({_HASHES_SQL})) AS h
      FROM documents
    ),
    test_h AS (SELECT DISTINCT h FROM g0 WHERE b >= 90),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT h % {_M_BITS} AS pos FROM test_h
        UNION ALL
        SELECT (h + (h * {_MULT}) % {_P}) % {_M_BITS} AS pos FROM test_h
      )
    ),
    train AS (SELECT doc_id, h FROM g0 WHERE b < 80),
    tpos AS (
      SELECT doc_id, h, h % {_M_BITS} AS pos FROM train
      UNION ALL
      SELECT doc_id, h, (h + (h * {_MULT}) % {_P}) % {_M_BITS} AS pos FROM train
    ),
    probe AS (
      SELECT t.doc_id, t.h, COUNT(b.pos) = {_K} AS bloom_hit
      FROM tpos t LEFT JOIN bits b ON b.pos = t.pos
      GROUP BY t.doc_id, t.h
    ),
    ex AS (
      SELECT p.doc_id, p.bloom_hit, (te.h IS NOT NULL) AS exact_hit
      FROM probe p LEFT JOIN test_h te ON te.h = p.h
    )
    SELECT doc_id AS train_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) >= 3 AS BOOLEAN) AS flagged,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) < 3 AS BOOLEAN) AS bloom_clean
    FROM ex GROUP BY doc_id
    """,
    doc="Train/test decontamination at the 100 TB shape (the GPT-3 "
    "appendix-C scheme): the TEST split's distinct shingle hashes build a "
    "bounded Bloom bitmap (the test set is the small side by "
    "construction); every TRAIN doc's shingles probe the broadcast bitmap "
    "at scan speed, and only Bloom-positive shingles would touch the "
    "exact join at scale — ``bloom_clean`` marks the docs the sketch "
    "alone clears (no false negatives ⇒ provably < 3 true overlaps). "
    "Reports per train doc: shingle count, Bloom hits, exact hits, and "
    "the ≥3-overlap contamination flag (same threshold as "
    "split_contamination, which this prefilters). Shingle hashes are the "
    "cross-engine rolling hash, so even the Bloom false-positive counts "
    "are value-checked.",
)
def q_decontam_bloom_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    g = (
        shingled_docs(d)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .select("doc_id", rolling_hash("shingle").alias("h"))
        .dropDuplicates(["doc_id", "h"])
        .withColumn("b", split_bucket("doc_id"))
        .localCheckpoint(eager=True)  # feeds the bitmap AND the probe side
    )
    test_h = g.filter(F.col("b") >= 90).select("h").distinct()
    bits = (
        test_h.select(
            F.explode(F.array(F.col("h") % _M_BITS, _h2(F.col("h")))).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = g.filter(F.col("b") < 80).select("doc_id", "h")
    probe = (
        train.select(
            "doc_id",
            "h",
            F.explode(F.array(F.col("h") % _M_BITS, _h2(F.col("h")))).alias("pos"),
        )
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "h")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) == _K).alias("bloom_hit"))
    )
    ex = probe.join(
        test_h.withColumn("ex", F.lit(1)), "h", "left"
    ).select("doc_id", "bloom_hit", F.coalesce("ex", F.lit(0)).alias("exact_hit"))
    bloom_i = F.when(F.col("bloom_hit"), 1).otherwise(0)
    return ex.groupBy(F.col("doc_id").alias("train_doc")).agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(bloom_i).cast("bigint").alias("n_bloom_hits"),
        F.sum("exact_hit").cast("bigint").alias("n_exact_hits"),
        (F.sum("exact_hit") >= 3).alias("flagged"),
        (F.sum(bloom_i) < 3).alias("bloom_clean"),
    )


# --- curation ensemble: one keep/drop decision from five signals ------------

from . import text_quality  # noqa: E402, F401  (registers gopher + repetition)


def _ensemble_oracle() -> str:
    """Compose the five component oracles verbatim (parenthesized
    WITH-subqueries — the curation_funnel precedent), then score."""
    from ..registry import REGISTRY

    gopher = REGISTRY["gopher_quality_rules"].oracle
    dupprof = REGISTRY["dup_substring_profile"].oracle
    rep = REGISTRY["doc_repetition_metrics"].oracle
    rar = REGISTRY["doc_rarity_bits"].oracle
    dsir = REGISTRY["dsir_importance_score"].oracle
    return f"""
    WITH g AS (SELECT doc_id, pass_all FROM ({gopher})),
    p AS (SELECT doc_id, dup_frac FROM ({dupprof})),
    r AS (SELECT doc_id, dup_word_frac FROM ({rep})),
    ra AS (SELECT doc_id, rarity_bits FROM ({rar})),
    d AS (SELECT doc_id, selected FROM ({dsir})),
    j AS (
      SELECT g.doc_id,
             g.pass_all AS ok_gopher,
             p.dup_frac <= 0.2 AS ok_dup,
             r.dup_word_frac <= 0.6 AS ok_repetition,
             ra.rarity_bits = 0 AS ok_rarity,
             d.selected AS ok_dsir
      FROM g JOIN p USING (doc_id) JOIN r USING (doc_id)
             JOIN ra USING (doc_id) JOIN d USING (doc_id)
    )
    SELECT doc_id, ok_gopher, ok_dup, ok_repetition, ok_rarity, ok_dsir,
           CAST(2 * CAST(ok_gopher AS INTEGER) + 2 * CAST(ok_dup AS INTEGER)
                + CAST(ok_repetition AS INTEGER) + CAST(ok_rarity AS INTEGER)
                + 2 * CAST(ok_dsir AS INTEGER) AS BIGINT) AS score,
           2 * CAST(ok_gopher AS INTEGER) + 2 * CAST(ok_dup AS INTEGER)
                + CAST(ok_repetition AS INTEGER) + CAST(ok_rarity AS INTEGER)
                + 2 * CAST(ok_dsir AS INTEGER) >= 6 AS keep
    FROM j
    """


@register(
    "quality_ensemble_rank",
    oracle=_ensemble_oracle(),
    doc="Curation capstone: five independent quality signals — Gopher rule "
    "conjunction, exact duplicated-substring fraction <= 0.2, in-doc "
    "repetition <= 0.6, zero out-of-distribution (rare-IDF) tokens, DSIR "
    "importance selection — combined into one integer-weighted score "
    "(rules 2/2/1/1/2, keep at >= 6 of 8) per document: the ensemble "
    "decision table real pipelines threshold instead of any single "
    "filter. Pure composition of registered operators (each is "
    "independently value-oracled); the joins move 8-byte doc_ids plus "
    "booleans, so the ensemble costs its components plus one keyed "
    "join tree.",
)
def q_quality_ensemble_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import REGISTRY

    g = REGISTRY["gopher_quality_rules"].spark(spark, sf_dir).select(
        "doc_id", F.col("pass_all").alias("ok_gopher")
    )
    p = REGISTRY["dup_substring_profile"].spark(spark, sf_dir).select(
        "doc_id", (F.col("dup_frac") <= 0.2).alias("ok_dup")
    )
    r = REGISTRY["doc_repetition_metrics"].spark(spark, sf_dir).select(
        "doc_id", (F.col("dup_word_frac") <= 0.6).alias("ok_repetition")
    )
    ra = REGISTRY["doc_rarity_bits"].spark(spark, sf_dir).select(
        "doc_id", (F.col("rarity_bits") == 0).alias("ok_rarity")
    )
    d = REGISTRY["dsir_importance_score"].spark(spark, sf_dir).select(
        "doc_id", F.col("selected").alias("ok_dsir")
    )
    j = g.join(p, "doc_id").join(r, "doc_id").join(ra, "doc_id").join(d, "doc_id")
    as_i = lambda c: F.col(c).cast("int")  # noqa: E731
    score = (
        2 * as_i("ok_gopher")
        + 2 * as_i("ok_dup")
        + as_i("ok_repetition")
        + as_i("ok_rarity")
        + 2 * as_i("ok_dsir")
    )
    return j.select(
        "doc_id",
        "ok_gopher",
        "ok_dup",
        "ok_repetition",
        "ok_rarity",
        "ok_dsir",
        score.cast("bigint").alias("score"),
        (score >= 6).alias("keep"),
    )


@register(
    "doc_bigram_surprise",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks WHERE len(t) >= 2
    ),
    uni AS (SELECT unnest(t) AS w FROM toks),
    c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM uni),
    c2 AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
    scored AS (
      SELECT bg.doc_id,
             length(to_base((c1.c1 + vocab.v) // (c2.c2 + 1), 2)) - 1 AS bits
      FROM bg
      JOIN c2 USING (b)
      JOIN c1 ON c1.w = bg.w1
      CROSS JOIN vocab
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS total_bits,
           round(SUM(bits) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_bits
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram-LM surprise scoring — the CCNet quality gate (Wenzek et "
    "al. 2020 score documents by LM perplexity; KenLM's job here) as an "
    "integer-bits surrogate, the same trick doc_rarity_bits uses at the "
    "unigram level: each bigram occurrence contributes "
    "flog2((c1(w1) + V) div (c2(w1 w2) + 1)) whole bits — the add-one-"
    "smoothed conditional improbability rounded down to bits, so a doc "
    "full of corpus-typical transitions scores low and one full of "
    "never-seen transitions scores ~log2(V). flog2 is bit-length "
    "arithmetic (length(bin(x)) - 1), division is integer: every term "
    "is engine-exact, and the per-doc mean is the single final IEEE "
    "division. Shape at 100 TB: unigram and bigram count tables are one "
    "hash aggregation each (vocabulary-bounded, Zipf); the document "
    "mass joins them back on 8-byte xxhash64 keys (the oracle keeps the "
    "string-keyed form — a collision would fail the value gate); mean "
    "per doc is one more keyed aggregation. No libm in any scored term.",
)
def q_doc_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = fan_out(load_table(spark, "documents", sf_dir), "doc_id")
    toks = d.select("doc_id", tokens("text").alias("t")).localCheckpoint(eager=True)
    t = F.col("t")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"),
            F.concat(F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)).alias("b"),
        ),
    )
    bg = (
        toks.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(pairs).alias("x"))
        .select(
            "doc_id",
            F.xxhash64("x.w1").alias("h1"),
            F.xxhash64("x.b").alias("h2"),
        )
    )
    uni = toks.select(F.explode("t").alias("w"))
    c1 = uni.groupBy(F.xxhash64("w").alias("h1")).agg(F.count("*").alias("c1"))
    v = uni.agg(F.countDistinct("w").alias("v"))
    c2 = bg.groupBy("h2").agg(F.count("*").alias("c2"))
    bits = F.length(F.bin(F.expr("(c1 + v) div (c2 + 1)"))) - 1
    scored = (
        bg.join(c2, "h2")
        .join(c1, "h1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", bits.alias("bits"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.round(F.sum("bits") / F.count("*").cast("double"), 6).alias("mean_bits"),
    )


# ---------------------------------------------------------------------------
# CCNet-style LM bucketing: train on reference sources, score everything
# ---------------------------------------------------------------------------

# The "clean reference corpus" the LM is trained on (CCNet trains KenLM
# on Wikipedia, then scores the crawl). Deterministic source split.
CCNET_REF_SOURCES = ("src0", "src1", "src2", "src3", "src4")
# Stupid-backoff discount alpha=0.4 → -log2(0.4) ≈ 1.32, rounded UP to
# whole bits so backed-off transitions always cost more than a seen
# bigram with the same unigram mass.
BACKOFF_BITS = 2

_REF_FILTER_SQL = "source IN ('src0','src1','src2','src3','src4')"


@register(
    "ccnet_lm_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source,
             string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    ref_uni AS (
      SELECT lang, unnest(t) AS w FROM toks WHERE {_REF_FILTER_SQL}
    ),
    c1 AS (SELECT lang, w, COUNT(*) AS c1 FROM ref_uni GROUP BY lang, w),
    stats AS (
      SELECT lang, COUNT(*) AS n, COUNT(DISTINCT w) AS v
      FROM ref_uni GROUP BY lang
    ),
    ref_bg AS (
      SELECT lang,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks WHERE {_REF_FILTER_SQL} AND len(t) >= 2
    ),
    c2 AS (SELECT lang, b, COUNT(*) AS c2 FROM ref_bg GROUP BY lang, b),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks WHERE len(t) >= 2
    ),
    scored AS (
      SELECT bg.doc_id, bg.lang,
             CASE WHEN c2.c2 IS NOT NULL AND u1.c1 IS NOT NULL
                  THEN length(to_base((u1.c1 + s.v) // (c2.c2 + 1), 2)) - 1
                  ELSE {BACKOFF_BITS}
                       + length(to_base((s.n + s.v) // (COALESCE(u2.c1, 0) + 1), 2)) - 1
             END AS bits
      FROM bg
      JOIN stats s ON s.lang = bg.lang
      LEFT JOIN c2 ON c2.lang = bg.lang AND c2.b = bg.b
      LEFT JOIN c1 u1 ON u1.lang = bg.lang AND u1.w = bg.w1
      LEFT JOIN c1 u2 ON u2.lang = bg.lang AND u2.w = bg.w2
    ),
    agg AS (
      SELECT doc_id, lang, COUNT(*) AS n_bigrams, SUM(bits) AS total_bits,
             round(SUM(bits) / CAST(COUNT(*) AS DOUBLE), 6) AS bits_per_bigram
      FROM scored GROUP BY doc_id, lang
    )
    SELECT doc_id, lang,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(total_bits AS BIGINT) AS total_bits,
           bits_per_bigram,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY bits_per_bigram, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM agg ORDER BY lang, doc_id
    """,
    doc="The full CCNet gate (Wenzek et al. 2020): a bigram stupid-"
    "backoff LM is TRAINED on the clean reference sources (src0-4 — "
    "CCNet's Wikipedia) per language, then EVERY document is scored and "
    "cut into head/middle/tail perplexity tertiles per language. "
    "Unlike doc_bigram_surprise (self-trained, so no transition is "
    "ever unseen), this is the real train/apply split: a bigram absent "
    "from the reference LM backs off to the reference unigram with a "
    "2-bit discount (-log2(0.4) rounded up), and an OOV word costs "
    "~log2(N+V) bits. Every term is integer bit-length arithmetic "
    "(flog2 via bin(); add-one smoothing; integer division), so the "
    "score — and hence the bucket cut — is engine-exact; the only IEEE "
    "op is the final per-doc mean. Shape at 100 TB: the LM tables "
    "(c1/c2/stats, vocabulary-bounded) join the document bigram mass "
    "on 8-byte xxhash64 keys; ntile is one shuffle partitioned by "
    "language. CCNet then keeps head+middle as training data — "
    "downstream consumers filter on ppl_bucket.",
)
def q_ccnet_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import tokens as _tokens

    d = fan_out(load_table(spark, "documents", sf_dir), "doc_id")
    toks = d.select(
        "doc_id", "lang", "source", _tokens("text").alias("t")
    ).localCheckpoint(eager=True)
    t = F.col("t")
    ref = toks.filter(F.col("source").isin(*CCNET_REF_SOURCES))
    ref_uni = ref.select("lang", F.explode(t).alias("w"))
    c1 = ref_uni.groupBy(F.xxhash64("lang", "w").alias("hk")).agg(
        F.count("*").alias("c1")
    )
    stats = ref_uni.groupBy("lang").agg(
        F.count("*").alias("n"), F.countDistinct("w").alias("v")
    )
    triple = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"),
            F.element_at(t, i + 1).alias("w2"),
            F.concat(F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)).alias("b"),
        ),
    )
    ref_bg = (
        ref.filter(F.size(t) >= 2)
        .select("lang", F.explode(triple).alias("x"))
        .select(F.xxhash64("lang", "x.b").alias("hb"))
    )
    c2 = ref_bg.groupBy("hb").agg(F.count("*").alias("c2"))
    bg = (
        toks.filter(F.size(t) >= 2)
        .select("doc_id", "lang", F.explode(triple).alias("x"))
        .select(
            "doc_id",
            "lang",
            F.xxhash64("lang", "x.b").alias("hb"),
            F.xxhash64("lang", "x.w1").alias("h1"),
            F.xxhash64("lang", "x.w2").alias("h2"),
        )
    )
    flog2 = lambda x: F.length(F.bin(x)) - 1  # noqa: E731
    joined = (
        bg.join(F.broadcast(stats), "lang")
        .join(c2, "hb", "left")
        .join(c1.select(F.col("hk").alias("h1"), F.col("c1").alias("c1w1")), "h1", "left")
        .join(c1.select(F.col("hk").alias("h2"), F.col("c1").alias("c1w2")), "h2", "left")
    )
    bits = F.when(
        F.col("c2").isNotNull() & F.col("c1w1").isNotNull(),
        flog2(F.expr("(c1w1 + v) div (c2 + 1)")),
    ).otherwise(
        F.lit(BACKOFF_BITS) + flog2(F.expr("(n + v) div (coalesce(c1w2, 0) + 1)"))
    )
    agg = (
        joined.select("doc_id", "lang", bits.alias("bits"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("total_bits"),
            F.round(F.sum("bits") / F.count("*").cast("double"), 6).alias(
                "bits_per_bigram"
            ),
        )
    )
    nt = F.ntile(3).over(
        Window.partitionBy("lang").orderBy("bits_per_bigram", "doc_id")
    )
    return agg.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "total_bits",
        "bits_per_bigram",
        F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail").alias(
            "ppl_bucket"
        ),
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# SoftDeDup: duplication-aware reweighting instead of hard removal
# ---------------------------------------------------------------------------

from .dedup import _PAIRS_SQL as _LSH_PAIRS_SQL  # noqa: E402
from .dedup import cluster_labels, lsh_candidate_pairs, minhash_signatures  # noqa: E402


@register(
    "softdedup_weights",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
    nodes AS (SELECT DISTINCT doc_a AS node FROM pairs
              UNION SELECT DISTINCT doc_b FROM pairs),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           n_tokens,
           round(1.0 / COUNT(*) OVER (PARTITION BY cluster_id), 6) AS weight,
           round(CAST(n_tokens AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY cluster_id), 6)
             AS effective_tokens
    FROM assigned ORDER BY doc_id
    """,
    doc="SoftDeDup (soft deduplication): instead of dropping near-"
    "duplicates, each document is DOWN-WEIGHTED by its MinHash-LSH "
    "cluster size — weight 1/|cluster| so every near-dup cluster "
    "contributes one document's worth of gradient mass, and "
    "effective_tokens is the token budget the sampler should charge. "
    "Composes the certified dedup chain (minhash_signatures → "
    "lsh_candidate_pairs → cluster_labels, singletons keep weight 1) "
    "and the oracle composes the same registered pair SQL verbatim, so "
    "parity covers the whole pipeline end to end. This is the "
    "loss-reweighting alternative to dedup_survivors' hard keep/drop — "
    "recent pretraining recipes prefer it because rare-but-repeated "
    "content keeps nonzero mass. Scale shape: the cluster sizes are "
    "one keyed count over the label table; the weight column is a "
    "broadcastable per-cluster join back to the corpus — no new "
    "shuffle beyond what dedup_clusters already pays.",
)
def q_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    d = load_table(spark, "documents", sf_dir)
    labels = cluster_labels(lsh_candidate_pairs(minhash_signatures(d)))
    assigned = (
        d.select("doc_id", token_count("text").cast("long").alias("n_tokens"))
        .join(labels.withColumnRenamed("doc_id", "node"),
              F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "n_tokens",
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "n_tokens",
            F.round(1.0 / F.col("cluster_size"), 6).alias("weight"),
            F.round(F.col("n_tokens") / F.col("cluster_size").cast("double"), 6).alias(
                "effective_tokens"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Stratified sampling: per-stratum hash-threshold rates, no per-stratum sort
# ---------------------------------------------------------------------------

# Knuth's multiplicative constant; doc_id * K stays < 2^63 for doc_id up
# to ~3.4e9, far beyond any test SF, so the product is exact BIGINT
# arithmetic on both engines.
_STRAT_MULT = 2654435761
_STRAT_MOD = 2147483647  # 2^31 - 1
_STRAT_DENOM = 1_000_000
_STRAT_TARGET = 8  # expected docs kept per stratum


@register(
    "stratified_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_stratum
      FROM documents GROUP BY source, lang
    )
    SELECT d.doc_id, d.source, d.lang, c.n_stratum
    FROM documents d
    JOIN counts c ON d.source = c.source AND d.lang = c.lang
    WHERE ((d.doc_id * {_STRAT_MULT}) % {_STRAT_MOD}) % {_STRAT_DENOM}
          * c.n_stratum < {_STRAT_TARGET * _STRAT_DENOM}
    ORDER BY d.doc_id
    """,
    doc="Equal-allocation stratified sampling over (source, lang) strata "
    "by deterministic hash threshold: a document survives iff "
    "frac(h(doc_id)) * n_stratum < TARGET * DENOM, i.e. with probability "
    "~TARGET/n_stratum, so every stratum contributes ~TARGET docs in "
    "expectation regardless of its raw size (strata at or below TARGET "
    "keep everything — the inequality is vacuously true). All arithmetic "
    "is exact BIGINT (multiplicative hash mod 2^31-1, integer cross-"
    "multiplication instead of division), so the SAMPLE ITSELF — not "
    "just its size — is reproducible bit-for-bit across engines and "
    "re-runs, the property a training-data pipeline needs for ablation "
    "reproducibility. Scale shape: one tiny per-stratum count aggregate "
    "(|sources|x|langs| rows), broadcast back, then a scan-local filter "
    "— no per-stratum sort, no window, no rank, so the plan is "
    "identical at 100 TB: the alternative exact-k design (row_number "
    "over hash per stratum) pays a full sort of every stratum and is "
    "rejected in favour of expectation-k; pair with "
    "source_capped_sample when a hard cap matters more than an "
    "unsorted scan.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_stratum")
    )
    frac = ((F.col("doc_id") * F.lit(_STRAT_MULT)) % F.lit(_STRAT_MOD)) % F.lit(
        _STRAT_DENOM
    )
    return (
        d.join(F.broadcast(counts), ["source", "lang"])
        .filter(frac * F.col("n_stratum") < F.lit(_STRAT_TARGET * _STRAT_DENOM))
        .select("doc_id", "source", "lang", "n_stratum")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Naive-Bayes quality classifier: the supervised member of the filter family
# ---------------------------------------------------------------------------

NB_SCALE = 1024  # fixed-point scale for the likelihood-ratio weights

# one token's rolling hash (t bound by the enclosing scope) — the same
# pure-arithmetic polynomial both engines compute bit-identically
_NB_TOKEN_HASH_SQL = (
    "list_reduce(list_transform(range(1, length(t) + 1), "
    "i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)), "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)

_NB_CLEAN_SQL = "('" + "', '".join(CCNET_REF_SOURCES) + "')"


@register(
    "nb_quality_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, source IN {_NB_CLEAN_SQL} AS is_clean,
             {_NB_TOKEN_HASH_SQL} AS h
      FROM (
        SELECT doc_id, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents
      ) WHERE length(t) > 0
    ),
    stats AS (
      SELECT h,
             CAST(SUM(CASE WHEN is_clean THEN 1 ELSE 0 END) AS BIGINT) AS c_c,
             CAST(SUM(CASE WHEN is_clean THEN 0 ELSE 1 END) AS BIGINT) AS c_w
      FROM toks GROUP BY h
    ),
    tot AS (
      SELECT CAST(SUM(c_c) AS BIGINT) AS n_c, CAST(SUM(c_w) AS BIGINT) AS n_w,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM stats
    ),
    w AS (
      SELECT h,
             CAST(CAST({NB_SCALE} AS HUGEINT) * (c_c + 1) * (n_w + v)
                  // (CAST(c_w + 1 AS HUGEINT) * (n_c + v)) AS BIGINT)
               - {NB_SCALE} AS wt
      FROM stats CROSS JOIN tot
    ),
    scores AS (
      SELECT t.doc_id, t.source, CAST(SUM(w.wt) AS BIGINT) AS score
      FROM toks t JOIN w ON w.h = t.h GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CASE WHEN source IN {_NB_CLEAN_SQL} THEN 'clean' ELSE 'web' END AS label,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_clean,
           round(CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pred_clean_frac,
           CAST(SUM(score) AS BIGINT) AS total_score
    FROM scores GROUP BY source ORDER BY source
    """,
    doc="The supervised quality filter (the GPT-3/fastText recipe, as "
    "Naive Bayes): token weights are add-one-smoothed likelihood ratios "
    "between the clean reference sources (src0-4, the same split "
    "ccnet_lm_buckets trains on) and the rest of the corpus, and a "
    "document is predicted clean when its occurrence-summed weight is "
    "positive. Logs through libm round differently per engine, so the "
    "weight is the DSIR fixed-point trick applied to the NB ratio: "
    "wt = (SCALE*(c_c+1)*(N_w+V)) div ((c_w+1)*(N_c+V)) - SCALE, exact "
    "decimal(38,0)/HUGEINT arithmetic (the triple product reaches "
    "~SCALE*N^2, past BIGINT at N ~ 3e6, never past 38 digits below "
    "N ~ 1e17), centered so wt tracks SCALE*ln-ratio to first order; "
    "the balanced-prior decision threshold 0 is documented rather than "
    "a class-prior term (the prior is one additive constant per doc). "
    "Output is the per-source confusion report — clean sources should "
    "score high pred_clean_frac, web sources low — making the op its "
    "own calibration harness, like the sketch-QA family. Scale shape: "
    "token stats and doc scores are hash aggregations on the 8-byte "
    "rolling hash (never the token string); the totals row is a "
    "broadcast cross join; the weight join is the same vocabulary-"
    "keyed shuffle the TF-IDF and drift ops pay. Self-scoring on the "
    "training corpus is deliberate (a calibration view, not a held-out "
    "eval — train_split_assign provides the split when one is needed).",
)
def q_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import rolling_hash as _rh
    from ..functions.text import tokens as _tokens

    d = fan_out(load_table(spark, "documents", sf_dir), "doc_id")
    toks = (
        d.select("doc_id", "source", F.explode(_tokens("text")).alias("t"))
        .filter(F.length("t") > 0)
        .select(
            "doc_id",
            "source",
            F.col("source").isin(*CCNET_REF_SOURCES).alias("is_clean"),
            _rh("t").alias("h"),
        )
        .localCheckpoint(eager=True)  # tokenized once; reused by stats + scores
    )
    stats = toks.groupBy("h").agg(
        F.sum(F.when(F.col("is_clean"), 1).otherwise(0)).cast("long").alias("c_c"),
        F.sum(F.when(F.col("is_clean"), 0).otherwise(1)).cast("long").alias("c_w"),
    )
    tot = stats.agg(
        F.sum("c_c").cast("long").alias("n_c"),
        F.sum("c_w").cast("long").alias("n_w"),
        F.count("*").cast("long").alias("v"),
    )
    d38 = "decimal(38,0)"
    w = stats.crossJoin(F.broadcast(tot)).select(
        "h",
        (
            F.expr(
                f"CAST(CAST({NB_SCALE} AS {d38}) * (c_c + 1) * (n_w + v)"
                f" div (CAST(c_w + 1 AS {d38}) * (n_c + v)) AS BIGINT)"
            )
            - NB_SCALE
        ).alias("wt"),
    )
    scores = (
        toks.join(w, "h")
        .groupBy("doc_id", "source")
        .agg(F.sum("wt").cast("long").alias("score"))
    )
    return (
        scores.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pred_clean"),
            F.sum("score").cast("long").alias("total_score"),
        )
        .select(
            "source",
            F.when(F.col("source").isin(*CCNET_REF_SOURCES), "clean")
            .otherwise("web")
            .alias("label"),
            "n_docs",
            "n_pred_clean",
            F.round(
                F.col("n_pred_clean").cast("double") / F.col("n_docs"), 6
            ).alias("pred_clean_frac"),
            "total_score",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR resampling: the acceptance-sampling step after importance scoring
# ---------------------------------------------------------------------------

_RS_MOD = 1 << 20  # acceptance-fraction denominator
_RS_HALF = 1 << 19  # score 0 -> probability 1/2
_RS_SLOPE = 256  # d(threshold)/d(score): +-1024 score ~ +-25% acceptance


def _dsir_resample_oracle() -> str:
    from ..registry import REGISTRY

    dsir = REGISTRY["dsir_importance_score"].oracle
    return f"""
    WITH d AS (SELECT doc_id, n_tokens, dsir_score FROM ({dsir})),
    t AS (
      SELECT doc_id, n_tokens, dsir_score,
             LEAST({_RS_MOD}, GREATEST(0,
               {_RS_HALF} + dsir_score * {_RS_SLOPE})) AS accept_threshold,
             ((doc_id * 2654435761) % 2147483647) % {_RS_MOD} AS frac
      FROM d
    )
    SELECT doc_id, n_tokens, dsir_score,
           CAST(accept_threshold AS BIGINT) AS accept_threshold,
           frac < accept_threshold AS accepted
    FROM t ORDER BY doc_id
    """


@register(
    "dsir_resample",
    oracle=_dsir_resample_oracle(),
    doc="The DSIR selection step (Xie et al. 2023 resample documents "
    "with probability proportional to importance weight): each document "
    "is accepted iff a deterministic hash fraction of its doc_id falls "
    "under a threshold MONOTONE in its certified dsir_importance_score. "
    "True exponential tilting (prob ~ e^(score/1024)) needs libm, so "
    "the threshold is the clamped LINEAR surrogate 1/2 + score*256/2^20 "
    "— order-preserving in the weight, exact in integers, and "
    "reproducible bit-for-bit across engines and re-runs (the same "
    "ablation-reproducibility argument as stratified_sample; a Gumbel "
    "top-k would need per-row randomness no SQL engine replays). The "
    "oracle composes the registered DSIR oracle verbatim, so parity "
    "covers scoring + selection end to end. Scale shape: adds one "
    "scan-local projection and filter on top of dsir_importance_score's "
    "broadcast-weight aggregation — nothing new moves.",
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q_dsir_importance_score(spark, sf_dir)
    thr = F.least(
        F.lit(_RS_MOD),
        F.greatest(F.lit(0), F.lit(_RS_HALF) + F.col("dsir_score") * _RS_SLOPE),
    )
    frac = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)) % F.lit(
        _RS_MOD
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "dsir_score",
        thr.cast("long").alias("accept_threshold"),
        (frac < thr).alias("accepted"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Priority sampling: weighted sampling WITHOUT replacement + unbiased
# subset-sum estimation (Duffield, Lund, Thorup, "Priority sampling for
# estimation of arbitrary subset sums", JACM 54(6), 2007 — public paper)
# ---------------------------------------------------------------------------

# Every quantity is exact BIGINT arithmetic so the SAMPLE and the
# ESTIMATES are reproducible bit-for-bit across engines and re-runs:
#  - u(doc_id) = two chained MINSTD Lehmer steps of (doc_id + SEED),
#    a deterministic integer standing for the uniform u/PRI_MOD in
#    (0, 1] that both engines compute identically. TWO steps matter:
#    for fixture-sized doc_ids a single product never wraps the
#    modulus, so one step is a linear (non-uniform) map; after the
#    first reduction the state fills [0, M), and the second product
#    wraps ~48271 times — measured quantiles of u/M on the fixture are
#    uniform to <1%. Every product stays below 2^63 for doc_id up to
#    ~1.9e14 (exact BIGINT in both engines);
#  - weight w = n_chars + 1 (the +1 guards empty documents);
#  - priority q = (w * PRI_MOD) div u — the integer floor of the
#    paper's w / (u/PRI_MOD), so priorities carry the UNITS OF w and
#    the threshold tau plugs straight into max(w, tau) with no
#    rescaling (no transcendentals, no float accumulation; the floor
#    loses < 1 char of precision per item).
# Unlike stratified/capped sampling (expectation-k, uniform within a
# stratum) this is weight-proportional WITHOUT replacement with an
# unbiased total-mass estimator: keep the K largest priorities, let tau
# be the (K+1)-th, and estimate each kept item's mass as max(w, tau) —
# E[sum over kept, restricted to ANY subset] equals that subset's true
# mass. That is the production question a curation pipeline asks of a
# tiny inspection sample: "from these 200 docs, how many chars/tokens
# does each source hold?"
_PRI_MULT = 48271  # MINSTD multiplier
_PRI_MOD = 2147483647  # 2^31 - 1
_PRI_SEED = 12345  # keeps doc_id=0 off the fixed point u=1
_PRI_K = 200  # sample size (smallest fixture has 500 docs)

# two chained Lehmer steps as SQL/Spark-expression text (shared
# verbatim by the oracle CTE and the Spark projection)
_PRI_U_SQL = (
    f"((((doc_id + {_PRI_SEED}) * {_PRI_MULT}) % {_PRI_MOD} + 1)"
    f" * {_PRI_MULT}) % {_PRI_MOD} + 1"
)

_PRI_CTES = f"""wt AS (
  SELECT doc_id, source, CAST(n_chars + 1 AS BIGINT) AS w,
         {_PRI_U_SQL} AS u
  FROM documents
),
ranked AS (
  SELECT doc_id, source, w,
         (w * {_PRI_MOD}) // u AS pri,
         row_number() OVER (ORDER BY (w * {_PRI_MOD}) // u DESC, doc_id) AS rk
  FROM wt
),
tau AS (
  SELECT COALESCE(MAX(CASE WHEN rk = {_PRI_K + 1} THEN pri END), 0) AS tau
  FROM ranked
),
sampled AS (
  SELECT r.doc_id, r.source, r.w, r.pri, r.rk, t.tau,
         GREATEST(r.w, t.tau) AS est_mass
  FROM ranked r CROSS JOIN tau t
  WHERE r.rk <= {_PRI_K}
)"""


def price_sample(top: DataFrame) -> DataFrame:
    """DLT pricing of a candidate set of AT MOST K+1 rows
    (doc_id, source, w, pri): rank by (priority desc, doc_id), read tau
    off the (K+1)-th row (0 when the population fits in the sample —
    everything kept, est = exact mass, the paper's convention), keep the
    top K, attach est_mass = max(w, tau). The window/tau/flag steps all
    run over <= K+1 rows — driver-scale by construction. Shared by the
    batch kernels here and the streaming k-extreme lattice
    (streaming/sample_maintenance.py) so tau semantics and tie-breaking
    can never diverge between the two."""
    from pyspark.sql.window import Window

    wnd = Window.orderBy(F.desc("pri"), "doc_id")
    ranked = top.withColumn("rk", F.row_number().over(wnd))
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == _PRI_K + 1, F.col("pri"))), F.lit(0)
        )
        .cast("long")
        .alias("tau")
    )
    return (
        ranked.filter(F.col("rk") <= _PRI_K)
        .crossJoin(F.broadcast(tau))
        .withColumn("est_mass", F.greatest(F.col("w"), F.col("tau")).cast("long"))
    )


def _priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K-doc priority sample with its threshold tau attached.

    Spark shape: priorities are a scan-local projection; the top-(K+1)
    cut is orderBy(...).limit(K+1) — Catalyst plans TakeOrderedAndProject
    (a bounded heap per partition, then a driver merge of
    n_partitions x (K+1) rows), NOT a full sort or shuffle of the
    corpus, so the plan is identical at 100 TB."""
    d = load_table(spark, "documents", sf_dir)
    w = (F.col("n_chars") + F.lit(1)).cast("long")
    top = (
        d.select(
            "doc_id",
            "source",
            w.alias("w"),
            F.expr(f"(CAST(n_chars + 1 AS BIGINT) * {_PRI_MOD}) div "
                   f"({_PRI_U_SQL})")
            .cast("long")
            .alias("pri"),
        )
        .orderBy(F.desc("pri"), "doc_id")
        .limit(_PRI_K + 1)
    )
    return price_sample(top)


@register(
    "priority_sample_topk",
    oracle=f"""
    WITH {_PRI_CTES}
    SELECT doc_id, source, w, pri, rk, tau, est_mass
    FROM sampled ORDER BY rk
    """,
    doc="Priority sampling (Duffield-Lund-Thorup, JACM 2007): weighted "
    "sampling WITHOUT replacement of the K=200 documents with the "
    "largest priorities q_i = (w_i * M) div u_i — the integer-exact "
    "form of w_i / uniform(0,1] with w_i = n_chars+1 and u_i a "
    "deterministic MINSTD-Lehmer integer of doc_id — so the sample is "
    "reproducible bit-for-bit across engines (same "
    "ablation-reproducibility argument as stratified_sample, but "
    "weight-proportional instead of uniform-within-stratum). Each kept "
    "row carries the (K+1)-th priority tau and its unbiased mass "
    "estimate max(w, tau); tau=0 when the population fits in the "
    "sample (estimates collapse to the exact masses). Scale shape: the "
    "only data-mass operation is a scan-local projection feeding "
    "TakeOrderedAndProject (per-partition bounded heap + driver merge "
    "of n_partitions x (K+1) rows) — no shuffle, no full sort, one "
    "scan; the window/tau/flag steps touch K+1 = 201 rows regardless "
    "of corpus size.",
)
def q_priority_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _priority_sample(spark, sf_dir).select(
        "doc_id", "source", "w", "pri", "rk", "tau", "est_mass"
    ).orderBy("rk")


@register(
    "priority_sample_domain_mass",
    oracle=f"""
    WITH {_PRI_CTES},
    est AS (
      SELECT source, CAST(SUM(est_mass) AS BIGINT) AS est_mass
      FROM sampled GROUP BY source
    ),
    truth AS (
      SELECT source, CAST(SUM(n_chars + 1) AS BIGINT) AS true_mass,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT t.source, t.n_docs, t.true_mass,
           COALESCE(e.est_mass, 0) AS est_mass,
           CAST(floor(CAST(ABS(COALESCE(e.est_mass, 0) - t.true_mass) AS DOUBLE)
                      * 1000000.0 / CAST(t.true_mass AS DOUBLE)) AS BIGINT)
             AS err_ppm
    FROM truth t LEFT JOIN est e ON t.source = e.source
    ORDER BY t.source
    """,
    doc="The estimator side of priority sampling: per-source character "
    "mass estimated FROM THE 200-DOC SAMPLE ONLY (sum of max(w, tau) "
    "over kept members, the paper's unbiased subset-sum estimator — "
    "subsets need not be chosen in advance, which is the point) "
    "against the exact per-source mass, with the error in integer ppm. "
    "This is the calibration report a pipeline runs before trusting a "
    "priority sample for domain-mix accounting at 100 TB, where the "
    "exact side of this report is itself a full-corpus aggregate you "
    "only compute at audit time. Sample and estimates stay exact "
    "BIGINT (priorities carry the units of w, so estimates are chars "
    "directly); the ppm ratio alone is computed in DOUBLE with a "
    "final floor — single IEEE multiply+divide, identical in both "
    "engines, and immune to the int64 overflow an integer "
    "(diff * 1e6) div total would hit on a multi-TB source. Scale "
    "shape: the sample side touches 200 rows; the "
    "truth side is one groupBy(source) partial-aggregated scan; the "
    "join is |sources|-row broadcast.",
)
def q_priority_sample_domain_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    truth = d.groupBy("source").agg(
        F.sum((F.col("n_chars") + F.lit(1)).cast("long")).alias("true_mass"),
        F.count("*").cast("long").alias("n_docs"),
    )
    est = (
        _priority_sample(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum("est_mass").cast("long").alias("est_mass"))
    )
    return (
        truth.join(F.broadcast(est), "source", "left")
        .select(
            "source",
            "n_docs",
            "true_mass",
            F.coalesce(F.col("est_mass"), F.lit(0)).alias("est_mass"),
        )
        .withColumn(
            "err_ppm",
            F.expr(
                "CAST(floor(CAST(abs(est_mass - true_mass) AS DOUBLE)"
                " * 1000000.0 / CAST(true_mass AS DOUBLE)) AS BIGINT)"
            ),
        )
        .orderBy("source")
    )


# Per-group priority sampling: the same DLT machinery applied WITHIN
# each source independently (K_G docs per source, per-source threshold
# tau_g, per-source unbiased estimates). The plan story differs from
# the global kernel: a per-group top-k cannot ride
# TakeOrderedAndProject, so the scale-honest shape is Spark's
# WindowGroupLimit pushdown (SPARK-37099, in Spark >= 3.5): the
# rk <= K_G+1 filter over row_number() is rewritten into bounded
# per-partition group-limit heaps BEFORE the shuffle, so only
# ~K_G+1 rows per (source, input partition) move — not the corpus.
_PRI_KG = 16  # per-source sample size (smallest fixture: 25 docs/source)


@register(
    "priority_sample_per_source",
    oracle=f"""
    WITH wt AS (
      SELECT doc_id, source, CAST(n_chars + 1 AS BIGINT) AS w,
             {_PRI_U_SQL} AS u
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, w,
             (w * {_PRI_MOD}) // u AS pri,
             row_number() OVER (PARTITION BY source
                                ORDER BY (w * {_PRI_MOD}) // u DESC, doc_id) AS rk
      FROM wt
    ),
    taus AS (
      SELECT source,
             COALESCE(MAX(CASE WHEN rk = {_PRI_KG + 1} THEN pri END), 0) AS tau
      FROM ranked WHERE rk <= {_PRI_KG + 1} GROUP BY source
    )
    SELECT r.source, r.doc_id, r.w, r.pri, r.rk, t.tau,
           GREATEST(r.w, t.tau) AS est_mass
    FROM ranked r JOIN taus t ON r.source = t.source
    WHERE r.rk <= {_PRI_KG}
    ORDER BY r.source, r.rk
    """,
    doc="Priority sampling applied independently WITHIN each source: the "
    "K_G=16 largest-priority documents per source, each with the "
    "per-source threshold tau_g (the (K_G+1)-th priority in that "
    "source, 0 when the source fits in the sample) and the unbiased "
    "per-item mass estimate max(w, tau_g) — the exact-k "
    "weight-proportional counterpart of stratified_sample's "
    "expectation-k uniform draw, and the sample a curation pipeline "
    "pulls when every domain must be inspected at equal depth "
    "regardless of its size. Same all-BIGINT two-step-Lehmer "
    "determinism as priority_sample_topk. Scale shape: a per-group "
    "top-k cannot use TakeOrderedAndProject, so the kernel leans on "
    "WindowGroupLimit pushdown (SPARK-37099): the rank filter becomes "
    "bounded per-partition group-limit heaps BEFORE the source-keyed "
    "shuffle — per input partition only ~K_G+1 rows per source move, "
    "not the corpus (plan-asserted in tests); the tau join is "
    "|sources|-row broadcast.",
)
def q_priority_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        "source",
        (F.col("n_chars") + F.lit(1)).cast("long").alias("w"),
        F.expr(f"(CAST(n_chars + 1 AS BIGINT) * {_PRI_MOD}) div ({_PRI_U_SQL})")
        .cast("long")
        .alias("pri"),
    )
    wnd = Window.partitionBy("source").orderBy(F.desc("pri"), "doc_id")
    ranked = scored.withColumn("rk", F.row_number().over(wnd)).filter(
        F.col("rk") <= _PRI_KG + 1
    )
    taus = ranked.groupBy("source").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == _PRI_KG + 1, F.col("pri"))), F.lit(0)
        )
        .cast("long")
        .alias("tau")
    )
    return (
        ranked.filter(F.col("rk") <= _PRI_KG)
        .join(F.broadcast(taus), "source")
        .select(
            "source",
            "doc_id",
            "w",
            "pri",
            "rk",
            "tau",
            F.greatest(F.col("w"), F.col("tau")).cast("long").alias("est_mass"),
        )
        .orderBy("source", "rk")
    )
