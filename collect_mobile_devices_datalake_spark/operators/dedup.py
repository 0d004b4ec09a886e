"""Deduplication operators over ``documents`` (north-star M5).

Scale design: exact dedup is a hash groupBy (one shuffle on the content
key — at 100 TB use the fingerprint, not the raw text, as the shuffle
key). Near-dup is MinHash-LSH: shingle → hash → banded signature →
bucket join, so candidate generation is linear-ish instead of O(n²);
only candidates pay the exact-Jaccard verification join.

All hashes are pure-arithmetic polynomial rolling hashes (see
``functions.text.rolling_hash``) so signatures are bit-reproducible in
any engine — which is what makes the DuckDB oracle possible.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..functions.text import rolling_hash
from ..registry import register
from ..session import fan_out, load_table
from ..streaming.lattice import LatticeFamily

P = 1_000_000_007
NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
# auto prefix order flips to df order when some shingle sits in at least
# this share of the documents (ppjoin_ordered_arrays)
PPJOIN_DF_HEAD_THRESHOLD = 0.02

# --- shared DuckDB fragments -------------------------------------------------

_TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"
# word trigram shingles, deduped
_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(1, greatest(len({_TOKENS_SQL}) - 1, 1)), "
    f"i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1] || ' ' || {_TOKENS_SQL}[i+2]))"
)
# rolling hash of one shingle string g
_HASH_ONE_SQL = (
    "list_reduce(list_transform(range(1, length(g) + 1), "
    "i -> CAST(ascii(substring(g, i, 1)) AS BIGINT)), (acc, x) -> (acc * 31 + x) % 1000000007)"
)
_HASHES_SQL = f"list_transform({_SHINGLES_SQL}, g -> {_HASH_ONE_SQL})"
# 16-perm minhash signature over the hash list
_SIG_SQL = (
    f"list_transform(range(0, {NUM_PERM}), "
    f"j -> list_min(list_transform(h, x -> (x * (2*j + 1) + (j*j + 7)) % 1000000007)))"
)


def shingled_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, n, sh) with the token array materialized FIRST.

    ``word_ngrams`` inlines its tokenize step into the per-element lambda,
    so building shingles straight off ``text`` re-splits the document once
    per position — O(words²) (8.5 s for 500 long docs). Checkpointing the
    token arrays makes each slice O(1) over stored data: same values,
    O(words) work.
    """
    # fan_out: the single-row-group local file scans as ONE task; shingling
    # 5k docs single-threaded costs ~2 s that 32 cores do in ~0.1 s. No-op
    # at real split counts.
    toks = fan_out(docs, "doc_id").select(
        "doc_id", F.split(F.trim("text"), "\\s+").alias("toks")
    ).localCheckpoint(eager=True)
    from ..functions.text import word_ngrams_from_tokens

    sh = word_ngrams_from_tokens("toks", 3)
    return (
        toks.select("doc_id", F.array_distinct(sh).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.size("sh").alias("n"), "sh")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) per document; sig_j = min((h·(2j+1) + j²+7) mod P).

    Shape matters for scale: explode shingles → hash each ONCE → one
    groupBy(doc_id) carrying 16 ``min`` aggregates (map-side partial agg,
    single shuffle keyed on doc_id). The tempting all-array formulation
    (``transform(perms, j -> array_min(transform(hashes, …)))``) makes
    Catalyst re-evaluate the O(len²) rolling-hash array once per
    permutation — 16× the work, measured 100× slower at sf0.1.
    """
    g = shingled_docs(docs).select("doc_id", F.explode("sh").alias("shingle"))
    h = g.select("doc_id", rolling_hash("shingle").alias("h"))
    sig_cols = [
        F.min((F.col("h") * (2 * j + 1) + (j * j + 7)) % P).alias(f"sig_{j}")
        for j in range(NUM_PERM)
    ]
    sigs = h.groupBy("doc_id").agg(*sig_cols)
    out = sigs.select(
        "doc_id", F.array(*[f"sig_{j}" for j in range(NUM_PERM)]).alias("sig")
    )
    # LSH banding self-joins this frame; materialize so signature hashing
    # runs once, not once per join side
    return out.localCheckpoint(eager=True)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing ≥1 LSH band (doc_a < doc_b)."""
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.slice(F.col("sig"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND).alias("band_sig"),
                ),
            )
        ).alias("band"),
    ).select(
        "doc_id",
        # shuffle an 8-byte bucket key, not the signature array: xxhash64 of
        # (band_id, sig...) — collisions are ~2^-64 per bucket pair, and the
        # sf0.01 oracle parity gate would surface one
        F.xxhash64(F.col("band.band_id"), F.col("band.band_sig")).alias("bucket"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT text AS content, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text HAVING COUNT(*) >= 1
    """,
    doc="Exact dedup: hash-groupBy on content, keep lowest doc_id.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy(F.col("text").alias("content")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_by_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE list_reduce(
                    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
                    (acc, x) -> (acc * 31 + x) % 1000000007) END AS fingerprint
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
    doc="Exact dedup keyed on the 64-bit fingerprint — the 100 TB shuffle key "
    "(shuffle 8-byte keys, not document bodies).",
)
def q_dedup_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select("doc_id", rolling_hash("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def ppjoin_corpus_stats(
    spark: SparkSession,
    hashed: DataFrame,
    inputs: list[tuple[str, str]] | None = None,
) -> tuple[str, int]:
    """Resolve (prefix mode, total doc count) for a hashed-shingle corpus.

    Mode comes from ``spark.graft.ppjoin.prefixOrder`` (auto = probe the
    df head on a deterministic 1-in-8 doc sample — a head shingle by
    definition sits in >= ``PPJOIN_DF_HEAD_THRESHOLD`` of ALL docs, so
    its sample df tracks that share of the sample size; the full-corpus
    probe once cost ~20% of the whole query's wall time at sf0.1). The
    probe only picks a PLAN — the order-equivalence test pins that the
    choice cannot change results — which is what licenses both the
    sampling and the caching.

    With ``inputs`` (the corpus's ``(sf_dir, table)``) the pair is built
    once per corpus bytes and order conf
    (``artifacts.get_or_build``): the first run per corpus pays the 3
    probe jobs, every later run (bench best-of-2, repeated queries in a
    session, the verify-broadcast gate) pays zero. At 100 TB both numbers
    come from catalog statistics / the maintained shingle-df table.
    """
    mode_conf = spark.conf.get("spark.graft.ppjoin.prefixOrder", "auto")

    def build() -> tuple[str, int]:
        n_total = hashed.count()
        if mode_conf == "auto":
            probe = hashed.filter(F.col("doc_id") % 8 == 0)
            n_probe = probe.count()
            if n_probe == 0:
                probe, n_probe = hashed, n_total
            post = probe.select(F.explode("hv").alias("h"))
            max_df = post.groupBy("h").count().agg(F.max("count")).collect()[0][0] or 0
            head = max_df >= PPJOIN_DF_HEAD_THRESHOLD * n_probe
            mode = "df" if n_probe and head else "hash"
        else:
            mode = mode_conf
        return mode, n_total

    if inputs is None:
        return build()
    return artifacts.get_or_build(spark, "ppjoin_stats", mode_conf, inputs, build)


def ppjoin_ordered_arrays(
    spark: SparkSession,
    shingled: DataFrame,
    inputs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """(doc_id, n, hs) with each doc's shingle hashes in the GLOBAL prefix
    order — the order every PPJoin prefix slices from.

    The order is a corpus-stats switch (``spark.graft.ppjoin.prefixOrder``,
    default ``auto``):

    - ``hash``: plain ascending hash. Uniform by construction, so no
      candidate bucket exceeds the corpus's max shingle df regardless of
      raw-text key skew; zero extra jobs. MEASURED at sf0.1 (this corpus,
      max df 25/5000 docs): df order cuts candidates 227k -> 137k but its
      extra df aggregation + join + regroup nets SLOWER end-to-end (3.6 s
      vs 3.0 s warm) — the candidate mass is mid-frequency shingles
      (df 8-24), which demotion cannot prune.
    - ``df``: rarest-first (document frequency asc, hash asc) — the
      classic PPJoin order. On a Zipfian corpus with a stopword head a
      hot shingle lands in ~half of all hash-order prefixes and its
      bucket alone yields O(n_hot^2) candidates; df order sorts it LAST
      so it falls out of every prefix long enough to have one. Costs one
      df aggregation (8-byte keys, map-side combine) + posting join +
      per-doc regroup.
    - ``auto`` (default): flip to df order when max_df >= n_docs *
      ``PPJOIN_DF_HEAD_THRESHOLD`` (0.02) — i.e. some shingle sits in
      >= 2% of documents. The stats probe is one aggregation over the
      checkpointed hash arrays; at 100 TB the same number comes free
      from the shingle-df table the pipeline already maintains for
      TF-IDF. Pinned by the planted-stopword-head test
      (tests/test_dedup.py): hash-order candidates blow up quadratically,
      df-order stays bounded, results identical.

    Any GLOBAL total order preserves PPJoin's exact recall (a pair with
    J >= tau must share an element in both prefixes under the same
    order); the switch is purely a candidate-count knob.
    """
    hashed = shingled.select(
        "doc_id",
        "n",
        F.transform("sh", lambda s: F.xxhash64(s)).alias("hv"),
    ).localCheckpoint(eager=True)
    mode, _n_docs = ppjoin_corpus_stats(spark, hashed, inputs)
    if mode == "hash":
        return hashed.select("doc_id", "n", F.array_sort("hv").alias("hs"))
    # df order: rank = (df, h) struct sort per doc
    post = hashed.select("doc_id", "n", F.explode("hv").alias("h"))
    df_tbl = post.groupBy("h").agg(F.count("*").alias("df"))
    return (
        post.join(df_tbl, "h")
        .groupBy("doc_id", "n")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "h"))), lambda s: s["h"]
            ).alias("hs")
        )
    )


def ppjoin_candidates(ordered: DataFrame, tau: float) -> DataFrame:
    """Prefix-filtered candidate pairs (doc_a < doc_b) from the globally
    ordered hash arrays — prefix + length + positional filters, exact
    integer threshold math (assumes tau = 0.5: alpha test 3*x >= na+nb)."""
    assert tau == 0.5, "integer alpha test below is specialized to tau=0.5"
    # PPJoin prefix: a pair with J >= tau must share one of the first
    # n - ceil(tau*n) + 1 elements of BOTH docs' ordered sets
    pref_len = (F.col("n") - F.ceil(F.col("n") * tau) + 1).cast("int")
    pref = ordered.select(
        "doc_id", "n", F.posexplode(F.slice("hs", F.lit(1), pref_len)).alias("pos", "h")
    )
    a, b = pref.alias("a"), pref.alias("b")
    # J >= tau needs overlap alpha = ceil(tau/(1+tau)*(na+nb)); for tau=0.5
    # that's ceil((na+nb)/3), and "x >= alpha" is the exact integer test
    # 3*x >= na+nb (NO float division — a double rounding up at an integer
    # boundary would over-prune and silently drop true pairs).
    # length filter: overlap can't exceed min(na, nb);
    # positional filter: overlap can't exceed elements at/after the match,
    # min(na-pa, nb-pb)+1 with 0-based pos
    s_total = F.col("a.n") + F.col("b.n")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(F.col("a.n"), F.col("b.n")) * 3 >= s_total)
            & (
                (F.least(F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")) + 1) * 3
                >= s_total
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )



@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b,
           round(CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared), 6) AS jaccard
    FROM shared s JOIN sizes sa ON sa.doc_id = s.doc_a
                  JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared) >= 0.5
    """,
    doc="N-gram Jaccard near-dup pairs, PPJoin-style prefix-filtered "
    "set-similarity join, threshold 0.5 (the standard near-dup band; "
    "planted dups in this corpus all sit at J >= 0.8, and a permissive "
    "tau like 0.1 defeats prefix filtering by construction — the prefix "
    "is 1-tau of the doc). Candidate generation explodes "
    "only each doc's PREFIX — the first n - ceil(tau*n) + 1 shingle "
    "hashes in a global rarest-first (document-frequency, then hash) "
    "order: any pair with J >= tau must share a prefix element, so "
    "recall is exact, while hot stopword shingles (max df) sort LAST "
    "and drop out of most prefixes — the quadratic hot-bucket the plain "
    "inverted index builds at scale never forms. Candidates are then "
    "verified exactly with one per-pair array_intersect (no Sum(df^2)-"
    "row aggregate). The oracle keeps the full inverted-index form: "
    "same rows, different plan.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    tau = 0.5
    # join on the shingle's 64-bit hash, not the string: candidate and df
    # shuffles move 8-byte keys instead of n-gram text (the 100 TB
    # shuffle-bytes rule); xxhash64 collisions would fail the oracle gate.
    # One materialization: the ordered hash arrays feed the prefix explode
    # AND both verify sides. Global prefix order: corpus-stats switch, see
    # ppjoin_ordered_arrays. The stats key (path + content fingerprint)
    # makes the order probe AND the verify-gate count one-time costs per
    # corpus bytes — the steady-state query runs zero probe jobs.
    inputs = [(sf_dir, "documents")]
    ordered = ppjoin_ordered_arrays(spark, shingled_docs(d), inputs).localCheckpoint(
        eager=True
    )
    cand = ppjoin_candidates(ordered, tau)
    # Verify joins: localCheckpoint relations report unknown size, so AQE
    # never discovers they're broadcastable — hint it when the doc count
    # says so. The count comes from the corpus stats ppjoin_ordered_arrays
    # just built (same key — guaranteed hit, no job). ~1 s at sf0.1:
    # both verify joins collapse to broadcast hash joins instead of
    # shuffling the candidate pairs twice. Past the row guard (corpus
    # scale) the joins shuffle on doc id, which is the right plan there.
    _mode, n_docs = ppjoin_corpus_stats(
        spark, ordered.withColumnRenamed("hs", "hv"), inputs
    )
    small = n_docs <= 100_000
    maybe_b = F.broadcast if small else (lambda df: df)
    left = ordered.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), F.col("hs").alias("ha"))
    right = ordered.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), F.col("hs").alias("hb"))
    shared = (
        cand.join(maybe_b(left), "doc_a")
        .join(maybe_b(right), "doc_b")
        .select(
            "doc_a", "doc_b", "na", "nb",
            F.size(F.array_intersect("ha", "hb")).alias("n_shared"),
        )
    )
    jac = F.col("n_shared").cast("double") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    return shared.filter(jac >= tau).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "dedup_minhash_signature",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_HASHES_SQL} AS h FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    )
    SELECT doc_id, unnest(range(0, {NUM_PERM})) AS perm_id, unnest({_SIG_SQL}) AS minhash
    FROM sh
    """,
    doc="MinHash signatures (16 perms, arithmetic hash family) — exploded to rows "
    "for engine-independent comparison.",
)
def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sigs = minhash_signatures(d)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("perm_id", "minhash")
    ).select("doc_id", F.col("perm_id").cast("bigint").alias("perm_id"), "minhash")


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_HASHES_SQL} AS h FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    sig AS (SELECT doc_id, {_SIG_SQL} AS s FROM sh),
    bands AS (
      SELECT doc_id, unnest(range(0, {BANDS})) AS band_id,
             unnest(list_transform(range(0, {BANDS}),
                    b -> list_slice(s, b * {ROWS_PER_BAND} + 1, b * {ROWS_PER_BAND} + {ROWS_PER_BAND}))) AS band_sig
      FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH candidate pairs: 4 bands × 4 rows; bucket-join on band signature.",
)
def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return lsh_candidate_pairs(minhash_signatures(d))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_HASHES_SQL} AS h FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    )
    SELECT doc_id,
           list_reduce(
             list_transform(range(0, 32),
               j -> CASE WHEN len(list_filter(h, x -> ((x * (2*j + 3) + j*5 + 1) % 1000000007) % 2 = 1)) * 2 > len(h)
                         THEN CAST(power(2, j) AS BIGINT) ELSE 0 END),
             (acc, x) -> acc + x) AS simhash
    FROM sh
    """,
    doc="32-bit SimHash: per-bit majority vote over shingle-hash family; near-dups "
    "cluster at small Hamming distance.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return simhash_fingerprints(d, 32)


def simhash_fingerprints(d: DataFrame, n_bits: int) -> DataFrame:
    """Per-doc SimHash at any width ≤ 62: per-bit majority vote over the
    shingle-hash family (same derivation as the 32-bit ``dedup_simhash``
    key, bit j from parity of an affine reindex of each shingle hash).
    Widths stop at 62 because bit 63 is the BIGINT sign bit — DuckDB
    raises on ``1::BIGINT << 63`` — and keeping fingerprints positive
    keeps every downstream shift/xor engine-portable.

    The shingle-hash array materializes as a real column BEFORE the
    per-bit loop: a ``hashes`` expression referenced inside each bit's
    filter lambda would be INLINED n_bits times by Catalyst (no common
    subexpression elimination across higher-order-function lambdas), so
    every rolling hash — itself a per-character fold — would recompute
    once per output bit: ~25x measured wall at 60 bits."""
    shingled = shingled_docs(d).withColumnRenamed("sh", "shingles")
    hashed = shingled.select(
        "doc_id",
        F.transform(F.col("shingles"), lambda s: rolling_hash(s)).alias("h"),
    )
    n = F.size("h")
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        lambda j: F.when(
            F.size(F.filter(F.col("h"), lambda h: ((h * (2 * j + 3) + j * 5 + 1) % P) % 2 == 1)) * 2 > n,
            F.pow(F.lit(2.0), j.cast("double")).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    simhash = F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return hashed.select("doc_id", simhash.alias("simhash"))


_PAIRS_SQL = f"""
    WITH sh AS (
      SELECT doc_id, {_HASHES_SQL} AS h FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    sig AS (SELECT doc_id, {_SIG_SQL} AS s FROM sh),
    bands AS (
      SELECT doc_id, unnest(range(0, {BANDS})) AS band_id,
             unnest(list_transform(range(0, {BANDS}),
                    b -> list_slice(s, b * {ROWS_PER_BAND} + 1, b * {ROWS_PER_BAND} + {ROWS_PER_BAND}))) AS band_sig
      FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
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
    )
    SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
    """,
    doc="Near-dup clustering: connected components over the MinHash-LSH pair "
    "graph via iterative min-label propagation (driver loop of joins; the "
    "distributed form of union-find). cluster_id = lowest doc_id in the "
    "component — the survivor each cluster keeps.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    pairs = lsh_candidate_pairs(minhash_signatures(d))
    return cluster_labels(pairs)


def cluster_labels(pairs: DataFrame) -> DataFrame:
    """Connected components over a (doc_a, doc_b) pair graph.

    Returns ``doc_id, cluster_id`` (lowest member id) for every node that
    appears in a pair; singleton docs are absent (callers coalesce).
    """
    # Materialize the edge list ONCE: `pairs` usually carries the whole
    # candidate pipeline (LSH probe + exact verify) in its lineage, and
    # without a barrier every propagation round would re-derive it.
    # The edge list is the CC algorithm's working set — at any scale it
    # is materialized exactly once per run.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # Right-size the iteration's shuffle width to the working set
    # (session.scoped_shuffle_width): per-round cost on a small graph is
    # otherwise dominated by task overhead on the session default width.
    from ..session import scoped_shuffle_width

    with scoped_shuffle_width(edges.sparkSession, max(edges.count(), 1)):
        return _propagate_min_labels(edges, labels)


def _propagate_min_labels(edges: DataFrame, labels: DataFrame) -> DataFrame:
    # min-label propagation to fixpoint, ACCELERATED by pointer doubling:
    # each round first takes the min over graph neighbors, then jumps
    # label <- label(label) (every label is itself a node id, so the
    # self-join always resolves). The jump halves the remaining distance
    # to the component min, turning O(diameter) rounds into O(log d) —
    # chain-shaped components (low-threshold similarity graphs percolate
    # into long paths) converge in a handful of rounds instead of
    # hundreds. Fixpoint is still certified on the NEIGHBOR step: at
    # neighbor-fixpoint, adjacent labels are equal, so labels are
    # component-constant and equal to the min — identical to the
    # recursive-CTE oracle. The cap is a runaway guard only; hitting it
    # is an error, not a result.
    converged = False
    for _ in range(64):
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
        parent = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        new_labels = (
            stepped.join(parent, stepped.label == F.col("pnode"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "dedup_clusters: min-label propagation did not reach fixpoint "
            "within 64 rounds — component diameter exceeds the safety cap"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@register(
    "dedup_incremental",
    oracle=f"""
    WITH g0 AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    g AS (SELECT DISTINCT doc_id, shingle FROM g0),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS dup_of, COUNT(*) AS ns
      FROM g a JOIN g b ON a.shingle = b.shingle
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT s.new_doc, s.dup_of,
             CAST(s.ns AS DOUBLE) / (sa.n + sb.n - s.ns) AS j
      FROM shared s JOIN sizes sa ON sa.doc_id = s.new_doc
                    JOIN sizes sb ON sb.doc_id = s.dup_of
      WHERE CAST(s.ns AS DOUBLE) / (sa.n + sb.n - s.ns) >= 0.5
    )
    SELECT new_doc, dup_of, round(j, 6) AS jaccard
    FROM (SELECT *, row_number() OVER (PARTITION BY new_doc
                                       ORDER BY j DESC, dup_of) AS rk
          FROM jac)
    WHERE rk = 1
    """,
    doc="Incremental (daily-ingest) near-dup check: docs with doc_id%10==7 "
    "play the NEW BATCH, the rest the existing corpus; each new doc "
    "reports its best corpus match at Jaccard >= 0.5, novel docs emit "
    "nothing. Same PPJoin prefix-filtered set-similarity join as "
    "dedup_ngram_jaccard but R x S instead of self-join — the batch side "
    "prefix explodes ~1/1000th of the corpus volume, so at 100 TB the "
    "candidate join is (small batch prefix) x (corpus inverted prefix "
    "index, persisted between runs, bucketed on the 8-byte shingle "
    "hash), never corpus x corpus. Best-match pick is a per-new-doc "
    "window over candidates only.",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    ordered = ordered_shingle_hashes(d)
    is_new = F.col("doc_id") % 10 == 7
    return ppjoin_best_match(ordered.filter(is_new), ordered.filter(~is_new))


def ordered_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, n, hs): sorted 8-byte shingle-hash arrays, checkpointed —
    the input shape of the PPJoin family."""
    return (
        shingled_docs(docs)
        .select(
            "doc_id",
            "n",
            F.array_sort(F.transform("sh", lambda s: F.xxhash64(s))).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )


def ppjoin_best_match(
    new_ordered: DataFrame, corpus_ordered: DataFrame
) -> DataFrame:
    """R×S PPJoin at τ=0.5: each new doc's best corpus match (if any).

    Shared by the registered ``dedup_incremental`` query and the
    streaming ``dedup_matches_family``. The integer-exact size/position
    filters (``3x >= na+nb``) encode τ=0.5 — the fixed threshold of both
    call sites.
    """
    from pyspark.sql.window import Window

    tau = 0.5

    def pref(df: DataFrame, alias: str) -> DataFrame:
        pref_len = (F.col("n") - F.ceil(F.col("n") * tau) + 1).cast("int")
        return df.select(
            "doc_id",
            "n",
            F.posexplode(F.slice("hs", F.lit(1), pref_len)).alias("pos", "h"),
        ).alias(alias)

    a, b = pref(new_ordered, "a"), pref(corpus_ordered, "b")
    s_total = F.col("a.n") + F.col("b.n")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.least(F.col("a.n"), F.col("b.n")) * 3 >= s_total)
            & (
                (F.least(F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")) + 1) * 3
                >= s_total
            ),
        )
        .select(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("dup_of"))
        .distinct()
    )
    # same broadcast gate as dedup_ngram_jaccard
    small = (new_ordered.count() + corpus_ordered.count()) <= 100_000
    maybe_b = F.broadcast if small else (lambda df: df)
    left = new_ordered.select(
        F.col("doc_id").alias("new_doc"), F.col("n").alias("na"), F.col("hs").alias("ha")
    )
    right = corpus_ordered.select(
        F.col("doc_id").alias("dup_of"), F.col("n").alias("nb"), F.col("hs").alias("hb")
    )
    jac_num = F.size(F.array_intersect("ha", "hb")).cast("double")
    verified = (
        cand.join(maybe_b(left), "new_doc")
        .join(maybe_b(right), "dup_of")
        .select(
            "new_doc",
            "dup_of",
            (jac_num / (F.col("na") + F.col("nb") - F.size(F.array_intersect("ha", "hb"))))
            .alias("j"),
        )
        .filter(F.col("j") >= tau)
    )
    w = Window.partitionBy("new_doc").orderBy(F.desc("j"), "dup_of")
    return (
        verified.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("new_doc", "dup_of", F.round("j", 6).alias("jaccard"))
    )


def incremental_matches_for_batch(
    spark: SparkSession, sf_dir: str, batch: DataFrame
) -> DataFrame:
    """(new_doc, dup_of, jaccard) for a batch of arriving documents
    against the persisted corpus — per-new-doc independent, so any
    chunking of the arrivals yields the same union of matches."""
    corpus = ordered_shingle_hashes(load_table(spark, "documents", sf_dir))
    return ppjoin_best_match(ordered_shingle_hashes(batch), corpus)


def dedup_matches_family(sf_dir: str) -> LatticeFamily:
    """Streaming corpus ingestion with incremental near-dup detection
    against the corpus at ``sf_dir``: arriving documents become their
    best corpus match. Against the fixed corpus a doc's match depends on
    that doc alone, so the fold is a DISTINCT union (idempotent G-set):
    a re-delivered doc yields identical rows and the fold absorbs
    them."""
    return LatticeFamily(
        name="dedup",
        source_schema="doc_id bigint, text string",
        partial_fn=lambda b: incremental_matches_for_batch(
            b.sparkSession, sf_dir, b
        ),
        fold_fn=lambda u: u.distinct(),
        empty_schema="new_doc bigint, dup_of bigint, jaccard double",
    )


@register(
    "minhash_estimate_quality",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    sg AS (
      SELECT doc_id, {_SIG_SQL} AS s FROM (
        SELECT doc_id, {_HASHES_SQL} AS h FROM documents
        WHERE len({_SHINGLES_SQL}) > 0
      )
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
             list_reduce(list_transform(range(1, {NUM_PERM} + 1),
               j -> CASE WHEN sa.s[j] = sb.s[j] THEN 1 ELSE 0 END),
               (a, b) -> a + b) / {NUM_PERM}.0 AS est_jaccard
      FROM pairs p
      JOIN sg sa ON sa.doc_id = p.doc_a
      JOIN sg sb ON sb.doc_id = p.doc_b
    ),
    ex AS (
      SELECT p.doc_a, p.doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS exact_jaccard
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b
    )
    SELECT est.doc_a, est.doc_b,
           round(est.est_jaccard, 6) AS est_jaccard,
           round(ex.exact_jaccard, 6) AS exact_jaccard,
           round(abs(est.est_jaccard - ex.exact_jaccard), 6) AS abs_err
    FROM est JOIN ex ON ex.doc_a = est.doc_a AND ex.doc_b = est.doc_b
    """,
    doc="Sketch-quality QA for MinHash dedup: for every LSH candidate pair, "
    "the signature-estimated Jaccard (matching components / 16) next to "
    "the exact shingle-set Jaccard and the absolute error — the "
    "dedup-side twin of ann_recall_report. Pipelines publish this before "
    "trusting a permutation count; at scale it runs on the candidate "
    "pairs (already tiny relative to the corpus) joining 16-element "
    "signature arrays and shingle sets only for those pairs.",
)
def q_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sigs = minhash_signatures(d)
    pairs = lsh_candidate_pairs(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", (matches.cast("double") / NUM_PERM).alias("est_jaccard")
    )
    sh = shingled_docs(d).select("doc_id", "sh")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    ex = pairs.join(a, "doc_a").join(b, "doc_b").select(
        "doc_a",
        "doc_b",
        (
            shared.cast("double")
            / (F.size("sh_a") + F.size("sh_b") - shared).cast("double")
        ).alias("exact_jaccard"),
    )
    return est.join(ex, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("exact_jaccard", 6).alias("exact_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias("abs_err"),
    )


@register(
    "doc_containment_pairs",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    g AS (
      SELECT doc_id, unnest(list_distinct({_HASHES_SQL})) AS h
      FROM documents WHERE len({_SHINGLES_SQL}) > 0
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.doc_a
      JOIN g gb ON gb.doc_id = p.doc_b AND gb.h = ga.h
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_inter,
           round(i.n_inter / CAST(sa.n AS DOUBLE), 6) AS containment_ab,
           round(i.n_inter / CAST(sb.n AS DOUBLE), 6) AS containment_ba,
           round(i.n_inter / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    """,
    doc="Asymmetric containment over LSH candidate pairs: "
    "C(A,B) = |A∩B|/|A| and C(B,A) = |A∩B|/|B| over distinct "
    "shingle-hash sets, alongside symmetric Jaccard. Containment is the "
    "sub-document-duplication detector — a short doc fully embedded in a "
    "long one scores C≈1 while Jaccard stays low, so symmetric dedup "
    "misses it. Shape: candidate pairs come from the LSH bands (never "
    "all-pairs); shingle sets join on 8-byte hashes per (doc, h); "
    "candidate pairs with zero exact overlap (LSH false positives) drop "
    "out at the inner join. All counts integer-exact, divisions "
    "IEEE-identical across engines.",
)
def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    pairs = lsh_candidate_pairs(minhash_signatures(d))
    g = (
        shingled_docs(d)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .select("doc_id", rolling_hash("shingle").alias("h"))
        .dropDuplicates(["doc_id", "h"])
    )
    sz = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha"))
    gb = g.select(F.col("doc_id").alias("gb_doc"), F.col("h").alias("hb"))
    inter = (
        pairs.join(ga, "doc_a")
        .join(gb, (F.col("doc_b") == F.col("gb_doc")) & (F.col("hb") == F.col("ha")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(F.col("n_inter") / F.col("na").cast("double"), 6).alias(
                "containment_ab"
            ),
            F.round(F.col("n_inter") / F.col("nb").cast("double"), 6).alias(
                "containment_ba"
            ),
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# --- exact duplicated-substring spans (Lee et al. 2021) ----------------------

# Exact-substring dedup detects VERBATIM repeats the approximate paths
# (MinHash, winnowing) only sample: every character L-gram that occurs
# more than once corpus-wide marks its offsets as duplicated, and
# adjacent duplicated offsets merge into maximal spans — the unit Lee et
# al. ("Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499) cut out of the training corpus. (The paper builds a
# suffix array; over a fixed minimum match length L the duplicated-span
# set it yields is exactly this L-gram construction, which — unlike a
# suffix array — is a pair of hash aggregations Spark runs at any scale.)
_LGRAM = 25  # minimum duplicate length in chars (~5 words in this corpus)


def _dup_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i) for every char offset opening a corpus-duplicated L-gram."""
    # fan_out: the single-row-group local scan is ONE task; the offset
    # explode + per-gram hashing must spread across cores BEFORE the
    # first shuffle (the shingled_docs lesson)
    d = fan_out(load_table(spark, "documents", sf_dir), "doc_id").filter(
        F.length("text") >= _LGRAM
    )
    grams = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - _LGRAM + 1)).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.xxhash64(F.col("text").substr(F.col("i"), F.lit(_LGRAM))).alias("h"),
    )
    hot = grams.groupBy("h").agg(F.count("*").alias("n")).filter(F.col("n") >= 2)
    return grams.join(hot.select("h"), "h", "left_semi").select("doc_id", "i")


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    offs = _dup_offsets(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    isl = offs.withColumn("grp", F.col("i") - F.row_number().over(w))
    raw = isl.groupBy("doc_id", "grp").agg(
        F.min("i").alias("s"),
        (F.max("i") + _LGRAM - 1).alias("e"),
        F.count("*").alias("ng"),
    )
    # Offset islands are maximal in OFFSET space, but each span extends
    # L-1 chars past its last offset — two islands closer than L produce
    # OVERLAPPING spans. Merge them (classic interval union via windows)
    # so the output is disjoint maximal duplicated regions and the
    # profile's char sum is true coverage.
    ws = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(ws.rowsBetween(Window.unboundedPreceding, -1))
    flagged = raw.withColumn(
        "new_iv", F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(0)), 1).otherwise(0)
    ).withColumn(
        "iv", F.sum("new_iv").over(ws.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy("doc_id", "iv")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            F.sum("ng").alias("n_grams"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).cast("bigint").alias(
                "span_chars"
            ),
            F.col("n_grams").cast("bigint").alias("n_grams"),
        )
    )


_DUP_SPANS_SQL = f"""
    g AS (
      SELECT doc_id, i, substring(text, CAST(i AS INTEGER), {_LGRAM}) AS gram
      FROM documents, UNNEST(range(1, len(text) - {_LGRAM} + 2)) r(i)
      WHERE len(text) >= {_LGRAM}
    ),
    hot AS (SELECT gram FROM (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram) WHERE n >= 2),
    d AS (SELECT doc_id, i FROM g JOIN hot USING (gram)),
    isl AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM d
    ),
    raw_spans AS (
      SELECT doc_id, MIN(i) AS s, MAX(i) + {_LGRAM} - 1 AS e,
             COUNT(*) AS ng
      FROM isl GROUP BY doc_id, grp
    ),
    flagged AS (
      SELECT doc_id, s, e, ng,
             CASE WHEN s > coalesce(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  THEN 1 ELSE 0 END AS new_iv
      FROM raw_spans
    ),
    ivs AS (
      SELECT doc_id, s, e, ng,
             SUM(new_iv) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iv
      FROM flagged
    ),
    spans AS (
      SELECT doc_id,
             CAST(MIN(s) AS BIGINT) AS span_start,
             CAST(MAX(e) AS BIGINT) AS span_end,
             CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_chars,
             CAST(SUM(ng) AS BIGINT) AS n_grams
      FROM ivs GROUP BY doc_id, iv
    )
"""


@register(
    "dup_substring_spans",
    oracle=f"""
    WITH {_DUP_SPANS_SQL}
    SELECT doc_id, span_start, span_end, span_chars, n_grams FROM spans
    """,
    doc="Exact duplicated-substring spans (Lee et al. 2021, "
    "arXiv:2107.06499): every char offset whose 25-gram occurs >= 2 "
    "times corpus-wide is duplicated; adjacent duplicated offsets merge "
    "into islands via the classic offset-minus-row-number trick, and "
    "overlapping islands' spans (each extends L-1 past its last offset) "
    "merge again by windowed interval union, so the output is DISJOINT "
    "maximal duplicated regions. Shape at 100 TB: grams shuffle as "
    "8-byte xxhash64 keys for the frequency count and the semi-join "
    "(never the text; add an equality verify behind the hash for "
    "cryptographic-grade exactness), then one doc-keyed window — three "
    "keyed exchanges, no sort over the corpus, no suffix array needed "
    "for a fixed minimum match length.",
)
def q_dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dup_spans(spark, sf_dir)


@register(
    "dup_substring_profile",
    oracle=f"""
    WITH {_DUP_SPANS_SQL},
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_chars) AS BIGINT) AS dup_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.dup_chars, 0) AS dup_chars,
           CAST(len(d.text) AS BIGINT) AS doc_chars,
           round(COALESCE(p.dup_chars, 0) / CAST(len(d.text) AS DOUBLE), 6)
             AS dup_frac
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    doc="Per-document duplication profile from the exact spans: span "
    "count, duplicated chars (spans are disjoint by construction, so the "
    "sum is exact coverage), and the duplicated fraction — the column a "
    "curation pass thresholds to drop mostly-duplicated documents. Every "
    "document appears (zero-filled), so the filter is a scan over this "
    "output, not a join back.",
)
def q_dup_substring_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _dup_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_chars").cast("bigint").alias("dup_chars"),
    )
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.length("text").cast("bigint").alias("doc_chars")
    )
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
        "doc_chars",
        F.round(
            F.coalesce("dup_chars", F.lit(0)) / F.col("doc_chars").cast("double"), 6
        ).alias("dup_frac"),
    )


@register(
    "dup_substring_clean",
    oracle=f"""
    WITH {_DUP_SPANS_SQL},
    gaps AS (
      SELECT doc_id,
             coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1
               AS gap_start,
             span_start AS gap_end
      FROM spans
      UNION ALL
      SELECT s.doc_id, MAX(s.span_end) + 1 AS gap_start, len(ANY_VALUE(d.text)) + 1 AS gap_end
      FROM spans s JOIN documents d ON d.doc_id = s.doc_id
      GROUP BY s.doc_id
    ),
    segs AS (
      SELECT g.doc_id, g.gap_start,
             substring(d.text, CAST(g.gap_start AS INTEGER),
                       CAST(g.gap_end - g.gap_start AS INTEGER)) AS seg
      FROM gaps g JOIN documents d ON d.doc_id = g.doc_id
    ),
    cleaned AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY gap_start) AS clean_text
      FROM segs GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.clean_text, d.text) AS clean_text,
           CAST(len(d.text) - len(coalesce(c.clean_text, d.text)) AS BIGINT)
             AS n_chars_removed
    FROM documents d LEFT JOIN cleaned c ON c.doc_id = d.doc_id
    """,
    doc="The exact-substring dedup ACT step (Lee et al. 2021 cut the "
    "detected spans out of the corpus): complement intervals via a lag "
    "window over each doc's disjoint spans (gap before each span + the "
    "tail after the last one), substring the gaps, reassemble in offset "
    "order — the boilerplate_removal pattern applied to character spans. "
    "This variant removes EVERY duplicated span (the keep-one-copy "
    "refinement adds a span-ownership argmin over the gram's occurrence "
    "set — same plan plus one aggregate). Docs without spans pass "
    "through zero-filled. Payload text moves through one doc-keyed "
    "window + one reassembly aggregate.",
)
def q_dup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    spans = _dup_spans(spark, sf_dir)
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("n_chars")
    )
    w = Window.partitionBy("doc_id").orderBy("span_start")
    pre_gaps = spans.select(
        "doc_id",
        (F.coalesce(F.lag("span_end").over(w), F.lit(0)) + 1).alias("gap_start"),
        F.col("span_start").alias("gap_end"),
    )
    tails = (
        spans.groupBy("doc_id")
        .agg(F.max("span_end").alias("last_end"))
        .join(d, "doc_id")
        .select(
            "doc_id",
            (F.col("last_end") + 1).alias("gap_start"),
            (F.col("n_chars") + 1).alias("gap_end"),
        )
    )
    segs = (
        pre_gaps.unionByName(tails)
        .join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "gap_start",
            F.col("text")
            .substr(
                F.col("gap_start").cast("int"),
                (F.col("gap_end") - F.col("gap_start")).cast("int"),
            )
            .alias("seg"),
        )
    )
    cleaned = (
        segs.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("gap_start", "seg"))).alias("gs"))
        .select("doc_id", F.array_join(F.col("gs").getField("seg"), "").alias("ct"))
    )
    return d.join(cleaned, "doc_id", "left").select(
        "doc_id",
        F.coalesce("ct", "text").alias("clean_text"),
        (F.col("n_chars") - F.length(F.coalesce("ct", "text")))
        .cast("bigint")
        .alias("n_chars_removed"),
    )


@register(
    "simhash_estimate_quality",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    sim AS (
      SELECT doc_id,
             list_reduce(
               list_transform(range(0, 32),
                 j -> CASE WHEN len(list_filter(h, x -> ((x * (2*j + 3) + j*5 + 1) % 1000000007) % 2 = 1)) * 2 > len(h)
                           THEN CAST(power(2, j) AS BIGINT) ELSE 0 END),
               (acc, x) -> acc + x) AS simhash
      FROM (SELECT doc_id, {_HASHES_SQL} AS h FROM documents
            WHERE len({_SHINGLES_SQL}) > 0)
    )
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6)
             AS exact_jaccard
    FROM pairs p
    JOIN sim a ON a.doc_id = p.doc_a
    JOIN sim b ON b.doc_id = p.doc_b
    JOIN sh x ON x.doc_id = p.doc_a
    JOIN sh y ON y.doc_id = p.doc_b
    """,
    doc="Sketch-quality QA for SimHash: for every LSH candidate pair, "
    "the 32-bit SimHash Hamming distance (bit_count of XOR — an exact "
    "integer) next to the exact shingle-set Jaccard — the report that "
    "calibrates a Hamming threshold before simhash-only dedup is "
    "trusted, completing the QA trio (minhash_estimate_quality, "
    "ann_recall_report). Integer Hamming + one exact division: "
    "engine-identical by construction.",
)
def q_simhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sim = q_dedup_simhash(spark, sf_dir)
    pairs = lsh_candidate_pairs(minhash_signatures(d))
    a = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    sh = shingled_docs(d).select("doc_id", "sh")
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long").alias("hamming"),
            F.round(
                shared.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - shared).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )


# (bands, rows) splits of the 16-perm signature swept by the banding
# tuner: same total perms, three operating points on the S-curve
# (many-narrow-bands = recall-leaning, few-wide-bands = precision-leaning)
SWEEP_CONFIGS = [(8, 2), (4, 4), (2, 8)]
SWEEP_TAU_NUM, SWEEP_TAU_DEN = 1, 2  # tau = 1/2 on the minhash estimate


def _sweep_oracle() -> str:
    cfg_ctes, cfg_selects = [], []
    for b, r in SWEEP_CONFIGS:
        cfg_ctes.append(f"""cand_{b}_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (SELECT doc_id, unnest(range(0, {b})) AS band_id,
                   unnest(list_transform(range(0, {b}),
                     bb -> list_slice(s, bb * {r} + 1, bb * {r} + {r}))) AS band_sig
            FROM sig) a
      JOIN (SELECT doc_id, unnest(range(0, {b})) AS band_id,
                   unnest(list_transform(range(0, {b}),
                     bb -> list_slice(s, bb * {r} + 1, bb * {r} + {r}))) AS band_sig
            FROM sig) b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
    )""")
        cfg_selects.append(
            f"SELECT {b} AS bands, {r} AS rows_per_band, doc_a, doc_b FROM cand_{b}_{r}"
        )
    all_cands = "\n      UNION ALL ".join(cfg_selects)
    return f"""
    WITH sh AS (
      SELECT doc_id, {_HASHES_SQL} AS h FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    sig AS (SELECT doc_id, {_SIG_SQL} AS s FROM sh),
    {", ".join(cfg_ctes)},
    cands AS ({all_cands}),
    est AS (
      SELECT c.bands, c.rows_per_band, c.doc_a, c.doc_b,
             CASE WHEN len(list_filter(range(1, {NUM_PERM} + 1),
                    j -> sa.s[j] = sb.s[j])) * {SWEEP_TAU_DEN}
                  >= {NUM_PERM} * {SWEEP_TAU_NUM}
                  THEN 1 ELSE 0 END AS est_true
      FROM cands c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pooled_true
      FROM (SELECT DISTINCT doc_a, doc_b FROM est WHERE est_true = 1)
    )
    SELECT bands, rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(est_true) AS BIGINT) AS n_est_true,
           CAST((1000000 * SUM(est_true)) // GREATEST(COUNT(*), 1) AS BIGINT)
             AS precision_micro,
           CAST((1000000 * SUM(est_true)) // GREATEST(n_pooled_true, 1) AS BIGINT)
             AS pooled_recall_micro
    FROM est CROSS JOIN pooled
    GROUP BY bands, rows_per_band, n_pooled_true
    """


@register(
    "minhash_band_sweep",
    oracle=_sweep_oracle(),
    doc="LSH banding-parameter tuner: the SAME 16-perm signature matrix "
    "banded three ways — (8,2)/(4,4)/(2,8), the recall-leaning, "
    "production, and precision-leaning points of the 1-(1-s^r)^b "
    "S-curve — each reporting candidate mass, estimated-true pairs "
    "(minhash component agreement >= tau=1/2, an integer compare: no "
    "pow/exp anywhere), precision, and POOLED recall (denominator = "
    "est-true pairs surfaced by ANY config — the IR pooling trick, "
    "since the exact pair set is unknowable without the all-pairs scan "
    "this tuner exists to avoid). The report a deployment reads before "
    "committing a banding to a 100 TB dedup run. Scale shape: one "
    "signature build (persisted-checkpoint), three band explodes over "
    "8-byte bucket keys (the lsh_candidate_pairs idiom, xxhash64 "
    "bucket join, never the signature array), verification joins move "
    "16-int signatures only for candidate pairs; ratios via integer "
    "div for exact cross-engine parity.",
)
def q_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sigs = minhash_signatures(d)

    def cand(b: int, r: int) -> DataFrame:
        bands = sigs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(b - 1)),
                    lambda bb: F.struct(
                        bb.alias("band_id"),
                        F.slice(F.col("sig"), bb * r + 1, r).alias("band_sig"),
                    ),
                )
            ).alias("band"),
        ).select(
            "doc_id",
            F.xxhash64(F.col("band.band_id"), F.col("band.band_sig")).alias("bucket"),
        )
        a, bb_ = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                bb_,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    cands = cand(*SWEEP_CONFIGS[0])
    for cfg in SWEEP_CONFIGS[1:]:
        cands = cands.unionByName(cand(*cfg))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
    matches = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v)
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "bands",
            "rows_per_band",
            "doc_a",
            "doc_b",
            F.when(
                matches * SWEEP_TAU_DEN >= NUM_PERM * SWEEP_TAU_NUM,
                1,
            )
            .otherwise(0)
            .alias("est_true"),
        )
        # three configs' reports AND the pooled denominator read this
        # frame — one materialization (the split_contamination rule)
        .localCheckpoint(eager=True)
    )
    pooled = (
        est.filter(F.col("est_true") == 1)
        .select("doc_a", "doc_b")
        .distinct()
        .agg(F.count("*").cast("long").alias("n_pooled_true"))
    )
    return (
        est.groupBy("bands", "rows_per_band")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum("est_true").cast("long").alias("n_est_true"),
        )
        .crossJoin(F.broadcast(pooled))
        .select(
            "bands",
            "rows_per_band",
            "n_candidates",
            "n_est_true",
            F.expr(
                "(1000000 * n_est_true) div GREATEST(n_candidates, 1)"
            ).alias("precision_micro"),
            F.expr(
                "(1000000 * n_est_true) div GREATEST(n_pooled_true, 1)"
            ).alias("pooled_recall_micro"),
        )
    )


# --- paragraph-level dedup (Dolma/CCNet granularity) -------------------------

PAR_WORDS = 8  # words per paragraph segment (no newlines in the fixture
# corpus — same documented stand-in as boilerplate_removal's 3-word
# segments: swap the segmenter expression for split-on-'\n\n' on real text)


@register(
    "paragraph_dedup_clean",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    pars AS (
      SELECT doc_id, CAST(i AS INTEGER) AS par_idx,
             array_to_string(w[(i*{PAR_WORDS}+1):(i*{PAR_WORDS}+{PAR_WORDS})], ' ') AS par
      FROM t, UNNEST(range(CAST(ceil(len(w)/{PAR_WORDS}.0) AS BIGINT))) AS r(i)
    ),
    ranked AS (
      SELECT doc_id, par_idx, par,
             ROW_NUMBER() OVER (PARTITION BY par ORDER BY doc_id, par_idx) AS rk
      FROM pars
    ),
    kept AS (SELECT doc_id, par_idx, par FROM ranked WHERE rk = 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_pars FROM pars GROUP BY doc_id),
    agg AS (
      SELECT doc_id, string_agg(par, ' ' ORDER BY par_idx) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(t.n_pars AS BIGINT) AS n_pars,
           CAST(t.n_pars - coalesce(a.n_kept, 0) AS BIGINT) AS n_pars_removed
    FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """,
    doc="Paragraph-level corpus dedup with KEEP-FIRST (the Dolma/CCNet "
    "production granularity, between exact-doc and substring dedup): "
    "each document splits into fixed 8-word paragraph segments (the "
    "no-newline-corpus stand-in documented at boilerplate_removal), a "
    "corpus-duplicated paragraph survives ONLY at its first occurrence "
    "(argmin over (doc_id, par_idx) — later copies in other docs AND "
    "repeats within the same doc are cut), and documents reassemble "
    "from their surviving paragraphs in original order. Scale shape: "
    "paragraph TEXT never enters a shuffle — paragraphs are xxhash64 "
    "fingerprints from the map side, the keep-first winner is a "
    "groupBy-min over (8-byte hash, two longs), membership is an "
    "equi-join on the hash, and the cleaned text is re-derived from the "
    "token arrays at reassembly (one doc_id-keyed join). Differs from "
    "boilerplate_removal (frequency >= 5 drops ALL copies) exactly as "
    "paragraph dedup differs from template removal.",
)
def q_paragraph_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    # checkpoint the token arrays (the documented CollapseProject HOF trap)
    toks = fan_out(d, "doc_id").select(
        "doc_id", F.split(F.trim("text"), "\\s+").alias("w")
    ).localCheckpoint(eager=True)
    n_pars = F.ceil(F.size("w") / PAR_WORDS).cast("int")
    pars = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_pars - 1),
                lambda i: F.xxhash64(
                    F.array_join(F.slice("w", i * PAR_WORDS + 1, PAR_WORDS), " ")
                ),
            )
        ).alias("par_idx", "h"),
    )
    win = pars.groupBy("h").agg(F.min(F.struct("doc_id", "par_idx")).alias("win"))
    kept = (
        pars.join(win, "h")
        .filter(
            (F.col("doc_id") == F.col("win.doc_id"))
            & (F.col("par_idx") == F.col("win.par_idx"))
        )
        .select("doc_id", "par_idx")
    )
    totals = pars.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_pars"))
    kept_idx = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("par_idx")).alias("idxs"),
        F.count("*").cast("long").alias("n_kept"),
    )
    rebuilt = F.array_join(
        F.transform(
            F.col("idxs"),
            lambda i: F.array_join(F.slice("w", i * PAR_WORDS + 1, PAR_WORDS), " "),
        ),
        " ",
    )
    return (
        totals.join(kept_idx, "doc_id", "left")
        .join(toks, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("idxs").isNull(), F.lit("")).otherwise(rebuilt).alias(
                "clean_text"
            ),
            "n_pars",
            (F.col("n_pars") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_pars_removed"),
        )
    )


@register(
    "paragraph_dup_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    pars AS (
      SELECT doc_id, CAST(i AS INTEGER) AS par_idx,
             array_to_string(w[(i*{PAR_WORDS}+1):(i*{PAR_WORDS}+{PAR_WORDS})], ' ') AS par
      FROM t, UNNEST(range(CAST(ceil(len(w)/{PAR_WORDS}.0) AS BIGINT))) AS r(i)
    ),
    df AS (SELECT par, COUNT(DISTINCT doc_id) AS nd FROM pars GROUP BY par)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pars,
           CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_pars,
           round(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac
    FROM pars p JOIN df f ON f.par = p.par
    GROUP BY p.doc_id
    """,
    doc="Per-document paragraph-duplication profile — the MEASURE step "
    "before paragraph_dedup_clean's ACT step (the dup_substring_profile "
    "/ dup_substring_clean relationship at paragraph granularity): for "
    "each doc, its paragraph count, how many of its paragraphs appear "
    "verbatim in at least one OTHER document, and the shared fraction — "
    "the column a curation pass thresholds to route heavily-syndicated "
    "documents to dedup or drop. Same segmentation as the clean op "
    "(8-word stand-in segments). Scale shape: paragraph text never "
    "shuffles — document frequency is a groupBy over xxhash64 "
    "fingerprints, membership an equi-join on the hash, one per-doc "
    "aggregate; every document appears (no paragraph is in zero docs).",
)
def q_paragraph_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = fan_out(d, "doc_id").select(
        "doc_id", F.split(F.trim("text"), "\\s+").alias("w")
    ).localCheckpoint(eager=True)
    n_pars = F.ceil(F.size("w") / PAR_WORDS).cast("int")
    pars = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_pars - 1),
                lambda i: F.xxhash64(
                    F.array_join(F.slice("w", i * PAR_WORDS + 1, PAR_WORDS), " ")
                ),
            )
        ).alias("h"),
    )
    df = pars.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        pars.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pars"),
            shared.cast("long").alias("n_shared_pars"),
            F.round(shared / F.count("*").cast("double"), 6).alias("shared_frac"),
        )
    )


# --- simhash-native near-dup pairs ---------------------------------------------

# The Manku-Jain-Sarma algorithm (WWW 2007: "Detecting Near-Duplicates
# for Web Crawling" — Google's production simhash dedup), in its full
# PERMUTED-TABLE form: split the f-bit fingerprint into B blocks; for
# every way of choosing k = B - T blocks, build a permuted table whose
# sort key leads with those k blocks. A pair within Hamming distance T
# has its dirty bits confined to <= T blocks, so >= B - T blocks are
# clean, so SOME k-combination is entirely clean (pigeonhole) — the
# pair agrees exactly on that table's (k * block_bits)-bit leading key.
# Manku scans each sorted table's fixed-prefix neighborhoods; the
# relational equivalent of that sorted-neighborhood scan is an equality
# join on the permuted prefix key (rows sharing the prefix are exactly
# the rows a prefix-radius scan visits), which Spark executes as one
# hash shuffle per table — no global sort needed. The exact bit_count
# verify over surviving candidates makes the operator exact, not
# probabilistic — the same verify media_phash_near_dup applies to image
# aHashes. (Earlier rounds used the degenerate B = T + 1, k = 1 banding
# whose 15-bit keys admitted a Θ(N²/2^15)-per-band candidate tail; the
# k = 3 tables below square that away.)
SIMHASH_T = 3  # exact through this Hamming distance
# Manku's production fingerprint is 64-bit; 60 is the widest width that
# (a) divides into equal blocks and (b) stays clear of the BIGINT sign
# bit, which DuckDB refuses to construct (1::BIGINT << 63 overflows)
# and which would make shift/mask key extraction sign-sensitive
# cross-engine.
SIMHASH_F = 60
_SIMHASH_BLOCKS = 6  # 6 blocks x 10 bits
_SIMHASH_BLOCK_BITS = SIMHASH_F // _SIMHASH_BLOCKS
# k = B - T leading blocks per permuted table -> C(6, 3) = 20 tables,
# each keyed on a 30-bit prefix: candidate mass is Θ(N²/2^30) per
# table (plus the true-pair output itself), vs Θ(N²/2^15) for the old
# single-block banding — the difference between "falls over at 10^9
# docs" and "bucket collisions are rarer than genuine near-dups".
_SIMHASH_K = _SIMHASH_BLOCKS - SIMHASH_T
_SIMHASH_COMBOS: list[tuple[int, ...]] = list(
    itertools.combinations(range(_SIMHASH_BLOCKS), _SIMHASH_K)
)


def _simhash_sql(bits: int = SIMHASH_F) -> str:
    return f"""
      SELECT doc_id,
             list_reduce(
               list_transform(range(0, {bits}),
                 j -> CASE WHEN len(list_filter(h, x -> ((x * (2*j + 3) + j*5 + 1) % 1000000007) % 2 = 1)) * 2 > len(h)
                           THEN CAST(power(2, j) AS BIGINT) ELSE 0 END),
               (acc, x) -> acc + x) AS simhash
      FROM (SELECT doc_id, {_HASHES_SQL} AS h FROM documents
            WHERE len({_SHINGLES_SQL}) > 0)
    """


@register(
    "simhash_band_near_dup",
    # The oracle states the SPEC, not the algorithm: the exact set of
    # pairs within Hamming T over the same fingerprints. A naive
    # all-pairs recompute is the strongest possible check of the
    # permuted-table candidate scheme's completeness (any table the
    # Spark side misses shows up as a missing pair here).
    oracle=f"""
    WITH sim AS ({_simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_T}
    ORDER BY doc_a, doc_b
    """,
    doc=f"SimHash-native near-duplicate pairs — the Manku-Jain-Sarma "
    f"WWW'07 permuted-table algorithm on a {SIMHASH_F}-bit fingerprint "
    "(Manku's is 64; 60 is the widest equal-block width clear of the "
    f"BIGINT sign bit cross-engine): {_SIMHASH_BLOCKS} blocks of "
    f"{_SIMHASH_BLOCK_BITS} bits, one permuted table per way of "
    f"choosing {_SIMHASH_K} leading blocks (C({_SIMHASH_BLOCKS},"
    f"{_SIMHASH_K}) = {len(_SIMHASH_COMBOS)} tables). A pair within "
    f"Hamming {SIMHASH_T} has >= {_SIMHASH_K} clean blocks "
    "(pigeonhole), so it agrees exactly on some table's "
    f"{_SIMHASH_K * _SIMHASH_BLOCK_BITS}-bit leading key — the "
    "candidate set is COMPLETE and the exact bit_count verify makes "
    f"the output EXACT (every pair at distance <= {SIMHASH_T}, zero "
    "probabilistic recall) — the text twin of media_phash_near_dup. "
    "Manku scans each sorted permuted table's fixed-prefix "
    "neighborhood; the relational equivalent is an equality join on "
    "the permuted prefix key, one hash shuffle per table, no global "
    "sort. Scale: candidate mass is Θ(N²/2^"
    f"{_SIMHASH_K * _SIMHASH_BLOCK_BITS}) per table plus the true-pair "
    "output itself — at 10⁹ docs ~10⁹ collision candidates per table "
    "(~2×10¹⁰ over all 20, spread across 2³⁰ keys so no hot bucket), "
    "vs the ~3×10¹³ the earlier single-block 15-bit banding admitted. "
    "Fingerprints are one scan; the join shuffles 30-bit prefix keys, "
    "never shingle sets.",
)
def q_simhash_band_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    # Materialize the fingerprint table (16 bytes/doc) before the join:
    # the shingle->hash->60-bit-majority expression is enormous, and
    # left lazy it is (a) recomputed once per join side and (b) inlined
    # into the join's whole-stage-codegen region, whose generated method
    # then regresses ~8x (measured 19 s -> 2.3 s at sf0.1 on this
    # barrier alone). At 10^9 docs the checkpointed state is ~16 GB
    # cluster-wide — the same bounded-artifact discipline as the
    # tokenizer learn loop.
    sim = simhash_fingerprints(d, SIMHASH_F).localCheckpoint(eager=True)
    mask = (1 << _SIMHASH_BLOCK_BITS) - 1
    # one 30-bit prefix key per permuted table: the chosen blocks,
    # packed high-to-low — equal keys <=> the pair agrees on all
    # K = B - T chosen blocks under that table's permutation
    block = lambda i: F.shiftright("simhash", i * _SIMHASH_BLOCK_BITS).bitwiseAND(
        F.lit(mask)
    )
    keys = F.array(
        *[
            sum(
                (
                    block(b) * F.lit(1 << (_SIMHASH_BLOCK_BITS * j))
                    for j, b in enumerate(combo)
                ),
                start=F.lit(0).cast("bigint"),
            )
            for combo in _SIMHASH_COMBOS
        ]
    )
    tables = sim.select(
        "doc_id", "simhash", F.posexplode(keys).alias("perm_id", "pkey")
    )
    a = tables.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "perm_id", "pkey"
    )
    b = tables.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "perm_id", "pkey"
    )
    cand = (
        a.join(b, ["perm_id", "pkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter(ham <= SIMHASH_T)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )
