"""Streaming sketch maintenance: the five sketch lattice families —
KMV (per-source vocabulary + per-day DAU), Count-Min, log-binned
histogram, HyperLogLog registers, and the Bloom membership bitmap —
declared over the shared batch-partition protocol in ``lattice.py``.

Each family is one module-level ``LatticeFamily`` constant: a bounded
batch→partial projection plus the merge fold. Callers hand it to
``lattice.start_maintenance_stream`` / ``maintain_batch`` /
``compact_state`` / ``read_state``, which own stream wiring, reading-
is-merging, and the lattice-class-correct compaction (idempotent sweep
for KMV/HLL/Bloom, atomic manifest commit for the CMS/logbin sums).
Protocol invariants and delivery semantics are documented ONCE, on
``streaming/lattice.py``; per-family notes below are only what is
specific to the family:

- **KMV** (k smallest hashes): a bounded G-set CRDT — producer
  re-delivery of the same documents under a fresh batch id merges to
  the IDENTICAL sketch with no anti-join at all.
- **DAU** is the same KMV lattice keyed by day over user-id hashes (the
  streaming side of kmv_daily_active_users; kmv_weekly_from_daily folds
  the streamed state directly).
- **CMS / logbin** (cell-wise SUM): associative/commutative but NOT
  idempotent — replay is exactly-once (partition overwrite), wholesale
  re-delivery double-counts; the honest semantics of a counting sketch.
- **HLL** (per-register MAX): idempotent; the hardest-bounded partial
  in the family (<= keys x 256 rows/batch, three small ints each).
- **Bloom** (bitwise OR over packed 62-bit words): idempotent; the
  folded state is the EXACT bitmap resume_bloom_prefilter builds, so a
  100 TB ingest's live membership filter is maintained at O(m) state
  per batch and never rebuilt from the checkpoint table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cms import cms_sketch, token_stream
from ..operators.selection import bloom_words
from ..operators.sketches import (
    _ID_HASH_A,
    _ID_HASH_B,
    P,
    hll_registers,
    kmv_kmin,
    kmv_merge_expr,
    logbin_hist,
    token_hash_pairs,
)
from ..sources.synthetic import saved_list
from .lattice import LatticeFamily

DOCS_SCHEMA = "doc_id bigint, text string, source string"
EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint"
ORDERS_SCHEMA = "o_orderkey bigint, o_totalprice double"
# saved_list's url synthesis needs the priority column too
BLOOM_ORDERS_SCHEMA = "o_orderkey bigint, o_orderpriority string"

_LOGBIN_KEYS = ["shift", "bkey", "width"]


# --- KMV (vocabulary + DAU) ---------------------------------------------------


def dau_pairs(events: DataFrame) -> DataFrame:
    """(day, h): the per-day user-id hash pairs a DAU sketch consumes —
    the streaming side of kmv_daily_active_users."""
    return events.select(
        F.date_trunc("day", "ts").alias("day"),
        ((F.col("user_id") * _ID_HASH_A + _ID_HASH_B) % P).alias("h"),
    )


# (source, kmin): per-source vocabulary k-min over word-token hashes
KMV = LatticeFamily(
    name="sketch",
    source_schema=DOCS_SCHEMA,
    partial_fn=lambda b: kmv_kmin(token_hash_pairs(b)),
    fold_fn=lambda u: u.groupBy("source").agg(kmv_merge_expr().alias("kmin")),
    empty_schema="source string, kmin array<bigint>",
)

# (day, kmin): streaming daily-active-users — the KMV lattice keyed by day
DAU = LatticeFamily(
    name="dau",
    source_schema=EVENTS_SCHEMA,
    partial_fn=lambda b: kmv_kmin(dau_pairs(b), key="day"),
    fold_fn=lambda u: u.groupBy("day").agg(kmv_merge_expr().alias("kmin")),
    empty_schema="day timestamp, kmin array<bigint>",
)


# --- Count-Min (sum lattice) ----------------------------------------------------

# (row_j, cell, cnt): streaming token-frequency sketch, the live
# counterpart of cms_heavy_hitters' build stage; each batch partial is
# <= depth*width cells regardless of batch size
CMS = LatticeFamily(
    name="cms",
    source_schema=DOCS_SCHEMA,
    partial_fn=lambda b: cms_sketch(token_stream(b)),
    fold_fn=lambda u: u.groupBy("row_j", "cell").agg(F.sum("cnt").alias("cnt")),
    empty_schema="row_j int, cell bigint, cnt bigint",
    idempotent=False,
)


# --- log-binned quantile histogram (sum lattice) --------------------------------


def _logbin_partial(batch: DataFrame) -> DataFrame:
    c = batch.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    return logbin_hist(c).drop("lower")  # lower = bkey*width, derived


# (shift, bkey, width, cnt, lower): streaming price-quantile histogram,
# the live counterpart of logbin_quantile_sketch's build stage. A batch
# partial is <= ~32 buckets per price octave; the read rebuilds the
# lower bound for the quantile read-off.
LOGBIN = LatticeFamily(
    name="logbin",
    source_schema=ORDERS_SCHEMA,
    partial_fn=_logbin_partial,
    fold_fn=lambda u: u.groupBy(*_LOGBIN_KEYS).agg(F.sum("cnt").alias("cnt")),
    empty_schema="shift int, bkey bigint, width bigint, cnt bigint",
    idempotent=False,
    read_post=lambda df: df.withColumn("lower", F.col("bkey") * F.col("width")),
)


# --- HyperLogLog (per-register max) ---------------------------------------------

# (source, reg, mrho): per-source vocabulary cardinality registers, the
# live counterpart of hll_register_sketch — over the same word-token
# hashes the KMV stream consumes, so both sketches can be maintained
# side by side from one source. A batch partial is <= sources * HLL_M rows.
HLL = LatticeFamily(
    name="hll",
    source_schema=DOCS_SCHEMA,
    partial_fn=lambda b: hll_registers(token_hash_pairs(b)),
    fold_fn=lambda u: u.groupBy("source", "reg").agg(F.max("mrho").alias("mrho")),
    empty_schema="source string, reg bigint, mrho bigint",
)


# --- Bloom membership bitmap (bitwise OR) ----------------------------------------

# (word, bits): streaming saved-set membership bitmap, the live
# counterpart of resume_bloom_prefilter's build stage
# (operators/selection.py); the maintained words are broadcast-joinable
# by the prefilter's probe side exactly as the batch-built bitmap is.
# The saved-list url synthesis is row-wise, so per-batch application
# distributes over the batch union.
BLOOM = LatticeFamily(
    name="bloom",
    source_schema=BLOOM_ORDERS_SCHEMA,
    partial_fn=lambda b: bloom_words(saved_list(b).select("url").distinct()),
    fold_fn=lambda u: u.groupBy("word").agg(F.bit_or("bits").alias("bits")),
    empty_schema="word bigint, bits bigint",
)
