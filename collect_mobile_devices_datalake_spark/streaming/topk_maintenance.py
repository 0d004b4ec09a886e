"""Streaming top-k heavy hitters: Misra-Gries / SpaceSaving as the
TENTH lattice family over ``streaming/lattice.py``.

The summary a 100 TB ingest keeps live to answer "what are the most
frequent tokens shipped so far?" without a vocabulary-sized state: each
micro-batch contributes a BOUNDED Misra-Gries summary (at most
``K_CAND`` counter rows + one error-marker row), and merging follows
the mergeable-summaries discipline (Agarwal, Cormode, Huang, Phillips,
Wei, Yi — "Mergeable Summaries", PODS 2012): counters sum point-wise
and the per-partial reduction errors ADD, so after any merge order the
guarantee ``cnt <= true <= cnt + err_total`` holds for every surfaced
item, and any item with true count > err_total is guaranteed present.

Per-batch reduction (the MG step, relational form): exact batch counts
→ rank by (count desc, word) → ``c*`` = the (K_CAND+1)-th largest count
(0 when the batch vocabulary fits the budget) → keep counters with
count > c*, each decremented by c*, and record c* on a marker row
(word NULL). The rank window runs over the batch's COUNT relation —
Zipf-bounded like the tokenizer argmax, never the token stream.

Lattice class: counters SUM, so like CMS/logbin this family is
associative/commutative but NOT idempotent — replay is exactly-once
(partition overwrite), wholesale producer re-delivery double-counts
(the honest semantics of any counting summary), and compaction goes
through the atomic manifest commit. The fold's output is state-shaped
(counter rows + ONE folded marker row), so compaction is closed.

At driver fixture scale the per-batch vocabulary fits K_CAND, every
c* is 0, and the folded state equals exact counting — which is what
makes the registered key value-oracle-able against plain SQL counts;
the truncating path (the actual heavy-hitter guarantee under a
vocabulary larger than the budget) is pinned by the planted-skew unit
test, which forces c* > 0 and asserts the MG bound item-for-item.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from .lattice import LatticeFamily

DOCS_SCHEMA = "doc_id bigint, text string, source string"

K_CAND = 64  # per-partial counter budget (the MG summary size)
K_OUT = 10  # surfaced heavy hitters

_STATE_SCHEMA = "word string, cnt bigint, err bigint"


def topk_partial(batch: DataFrame) -> DataFrame:
    """This batch's bounded MG summary: <= K_CAND counter rows (count
    decremented by c*) + one marker row carrying c*."""
    toks = batch.select(F.explode(tokens("text")).alias("word")).filter(
        F.length("word") > 0
    )
    counts = toks.groupBy("word").agg(F.count("*").cast("bigint").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), "word")
    ranked = counts.withColumn("rk", F.row_number().over(w))
    cstar = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == K_CAND + 1, F.col("cnt"))),
            F.lit(0).cast("bigint"),
        ).alias("cstar")
    )
    kept = (
        ranked.crossJoin(F.broadcast(cstar))
        .filter((F.col("rk") <= K_CAND) & (F.col("cnt") > F.col("cstar")))
        .select(
            "word",
            (F.col("cnt") - F.col("cstar")).alias("cnt"),
            F.lit(0).cast("bigint").alias("err"),
        )
    )
    marker = cstar.select(
        F.lit(None).cast("string").alias("word"),
        F.lit(0).cast("bigint").alias("cnt"),
        F.col("cstar").cast("bigint").alias("err"),
    )
    return kept.unionByName(marker)


def topk_fold(u: DataFrame) -> DataFrame:
    """Mergeable-summaries fold: counters sum point-wise, reduction
    errors add into ONE marker row. Output is state-shaped, so the
    fold closes under compaction."""
    words = (
        u.filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .withColumn("err", F.lit(0).cast("bigint"))
    )
    marker = (
        u.filter(F.col("word").isNull())
        .agg(F.coalesce(F.sum("err"), F.lit(0)).cast("bigint").alias("err"))
        .select(
            F.lit(None).cast("string").alias("word"),
            F.lit(0).cast("bigint").alias("cnt"),
            "err",
        )
    )
    return words.unionByName(marker)


def topk_read_post(state: DataFrame) -> DataFrame:
    """Surface the top-K_OUT heavy hitters with their MG bounds:
    cnt_min <= true count <= cnt_max (= cnt_min + summed reduction
    error). At fixture scale err_total = 0 and the bounds collapse to
    the exact count."""
    words = state.filter(F.col("word").isNotNull())
    errs = state.filter(F.col("word").isNull()).agg(
        F.coalesce(F.sum("err"), F.lit(0)).cast("bigint").alias("err_total")
    )
    w = Window.orderBy(F.desc("cnt"), "word")
    return (
        words.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K_OUT)
        .crossJoin(F.broadcast(errs))
        .select(
            "word",
            F.col("cnt").alias("cnt_min"),
            (F.col("cnt") + F.col("err_total")).cast("bigint").alias("cnt_max"),
            "rk",
        )
    )


# (word, cnt_min, cnt_max, rk): the surfaced heavy hitters. The raw
# folded state (counter + marker rows) is this family with
# ``read_post=None``.
TOPK = LatticeFamily(
    name="topk",
    source_schema=DOCS_SCHEMA,
    partial_fn=topk_partial,
    fold_fn=topk_fold,
    empty_schema=_STATE_SCHEMA,
    idempotent=False,  # counters SUM: manifest-committed compaction
    read_post=topk_read_post,
)
