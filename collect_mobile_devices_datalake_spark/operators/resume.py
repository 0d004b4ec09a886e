"""Incremental resume — the flagship operator (reference §2 #21).

``crawl_resume`` (app.js:457-482) reads the full frontier and the
progress checkpoint, Set-dedups both, and returns ``source − saved``.
The Spark-native form is a ``left_anti`` join after ``dropDuplicates``:

- At 100 TB the frontier side is huge but the join is on a single string
  key; Catalyst picks broadcast when ``saved`` is small and
  sort-merge otherwise, with AQE switching strategy at runtime. No
  driver-side Sets — the reference's O(n·m) ``find_difference``
  (app.js:101-112, dead code) and its ``Array.includes`` scan become a
  real distributed anti-join.
- Reference bug (app.js:476: ``saved_list == []`` is always false) is NOT
  reproduced; empty saved-list is simply an anti-join against an empty
  relation, which returns the whole frontier — the intended behavior.

`resume_anti_join` answers the URL-list question (the ``resume_pending``
rows): which urls are pending. The ingest pipeline does not use it: it
needs the pending pages' payload, and joining that back onto a url list
would scan the frontier twice and shuffle every page's html. Ingest
therefore anti-joins the pages themselves against the saved_list
(``ingest.pipeline.pending_pages``), which is a broadcast join — or no
join at all on a first crawl — with the page scan streaming through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resume_anti_join(source: DataFrame, saved: DataFrame, key: str = "url") -> DataFrame:
    """Pending work = distinct(source) − distinct(saved) on ``key``.

    Physical form: union with a side marker + ONE groupBy, not
    dropDuplicates×2 + left_anti (three shuffles). When both sides are
    large (saved ≈ 60% of source, too big to broadcast) the single
    shuffle on ``key`` is the cheapest possible plan, and Catalyst does
    not perform this rewrite itself (measured ~40% faster at sf0.1).

    Skew-hardness falls out of the same shape: a HOT key (one url
    re-enqueued millions of times — retry storms, a crawler loop) is
    collapsed by the MAP-SIDE partial aggregation before the exchange,
    so the reducer for that key receives at most one row per map
    partition regardless of how many duplicates exist. The anti-join
    expressed as a join would need AQE skew-join splitting or manual
    salting to survive the same input; the groupBy form needs neither —
    pinned by the planted-hot-key plan test
    (tests/test_plans.py::test_resume_hot_key_collapses_map_side).
    """
    u = source.select(key).withColumn("_saved", F.lit(0)).unionAll(
        saved.select(key).withColumn("_saved", F.lit(1))
    )
    return (
        u.groupBy(key)
        .agg(F.max("_saved").alias("_any_saved"))
        .filter(F.col("_any_saved") == 0)
        .select(key)
    )
