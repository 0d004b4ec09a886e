"""Lake-maintenance / incremental-processing operators.

The reference re-crawls and upserts into MySQL (app.js:401-453); a lake
engine needs the table-maintenance counterparts: change-data capture
between snapshots, slowly-changing-dimension history builds, clustering
(z-order) manifests that enable file skipping, and compaction planning.
None of these exist in the reference — they are the operational layer a
100 TB lake runs nightly.

Scale notes on each operator's plan are in its ``doc=``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import artifacts
from ..registry import register
from ..session import load_table, read_parquet

_ORDER_COLS = [
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _new_snapshot(orders: DataFrame) -> DataFrame:
    """Deterministic 'later' snapshot: keys ≡1 (mod 10) deleted, keys ≡0
    (mod 10) inserted (absent from the old snapshot), keys ≡0 (mod 7)
    price-bumped by +1.0 (exact in binary64 at these magnitudes)."""
    return orders.filter(F.col("o_orderkey") % 10 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT * FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 1
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_custkey IS DISTINCT FROM n.o_custkey
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
    """,
    doc="Change-data capture between two table snapshots: insert / delete / "
    "update rows by primary key. Each side collapses to (key, xxhash64 "
    "row fingerprint) MAP-SIDE, so the full-outer-join shuffle moves 16 "
    "bytes per row instead of the whole record — at 100 TB that is the "
    "difference between shuffling 100 TB and shuffling ~1.6 TB. The "
    "oracle compares column-wise (IS DISTINCT FROM); the engine compares "
    "fingerprints — identical verdicts barring a 2^-64 collision.",
)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = _new_snapshot(orders)
    fp = F.xxhash64(*_ORDER_COLS)
    o = old.select(F.col("o_orderkey").alias("k_old"), fp.alias("fp_old"))
    n = new.select(F.col("o_orderkey").alias("k_new"), fp.alias("fp_new"))
    joined = o.join(n, o.k_old == n.k_new, "full_outer")
    return joined.select(
        F.coalesce("k_old", "k_new").alias("o_orderkey"),
        F.when(F.col("k_old").isNull(), F.lit("insert"))
        .when(F.col("k_new").isNull(), F.lit("delete"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("update"))
        .alias("change_type"),
    ).filter(F.col("change_type").isNotNull())


@register(
    "scd2_event_type_history",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, ts,
             -- BIGINT cast: DuckDB types window-SUM(INTEGER) as HUGEINT,
             -- which pandas canonicalizes to float64 and hash-mismatches
             -- Spark's bigint.
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM flagged
    ),
    collapsed AS (
      SELECT user_id, run_id, MIN(event_type) AS event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, run_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
             AS valid_to,
           n_events
    FROM collapsed
    """,
    doc="Slowly-changing-dimension type-2 build: collapse each user's "
    "event stream into contiguous runs of the same event_type with "
    "[valid_from, valid_to) validity intervals (gaps-and-islands via "
    "lag + running-sum run ids). Every window is PARTITIONED BY user_id "
    "— no global sort anywhere, so the build scales with the user count, "
    "and all three windows share one (user_id) shuffle: Catalyst plans a "
    "single Exchange reused across the window and the groupBy. The "
    "analogue of the reference's overwrite-in-place upsert "
    "(app.js:401-436) that KEEPS history instead of losing it.",
)
def q_scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_id"),
    )
    collapsed = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w_runs = Window.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        "run_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"),
        "n_events",
    )


_ZBITS = 16
_FILE_SHIFT = 18  # file_id = z >> 18: ~64 z-contiguous files at sf0.01


def _interleave(x: Column, y: Column) -> Column:
    """Bit-interleave the low 16 bits of x (even positions) and y (odd)."""
    z = F.lit(0).cast("bigint")
    for i in range(_ZBITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _interleave_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_manifest",
    oracle=f"""
    WITH dims AS (
      SELECT (o_custkey & 65535) AS x,
             (date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) & 65535) AS y
      FROM orders
    ),
    z AS (SELECT x, y, ({_interleave_sql("x", "y")}) AS zval FROM dims)
    SELECT (zval >> {_FILE_SHIFT}) AS file_id, COUNT(*) AS n_rows,
           MIN(x) AS min_custkey, MAX(x) AS max_custkey,
           MIN(y) AS min_day, MAX(y) AS max_day
    FROM z GROUP BY 1
    """,
    doc="Z-order clustering manifest: interleave the bits of "
    "(o_custkey, order epoch-day), assign z-contiguous file ids by "
    "z-prefix, and emit per-file min/max stats for BOTH dimensions — "
    "the data-skipping index a reader uses to prune files on either "
    "column. Pure arithmetic (no sort, no sample): clustering by z-prefix "
    "is a single narrow groupBy, unlike rangepartitioned z-order writes "
    "that need a global sort. Each file's min/max box is tight in both "
    "dims because z-adjacent points are close in x AND y — that locality "
    "is the whole point of the curve; a single-column sort gives tight "
    "boxes in one dim and full-range boxes in the other.",
)
def q_zorder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    dims = o.select(
        F.col("o_custkey").bitwiseAND(F.lit(65535)).alias("x"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .bitwiseAND(F.lit(65535))
        .alias("y"),
    )
    z = dims.select("x", "y", _interleave(F.col("x"), F.col("y")).alias("zval"))
    return (
        z.groupBy(F.shiftright("zval", _FILE_SHIFT).alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("min_custkey"),
            F.max("x").alias("max_custkey"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
    )


_COMPACT_TARGET = 4000  # rows per compacted output file


@register(
    "compaction_plan",
    oracle=f"""
    WITH buckets AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             date_trunc('hour', ts) AS hour, COUNT(*) AS n_rows
      FROM events GROUP BY 1, 2
    )
    SELECT day, hour, n_rows,
           CAST(FLOOR(
             (SUM(n_rows) OVER (PARTITION BY day ORDER BY hour
                                ROWS UNBOUNDED PRECEDING) - n_rows)
             / {_COMPACT_TARGET}) AS BIGINT) AS compact_group
    FROM buckets
    """,
    doc="Small-file compaction planner: per-hour ingest buckets are "
    "grouped into ~target-row compaction jobs by a running row-count "
    "cumsum WITHIN each day partition — contiguous hours land in the "
    "same output file (preserves time-locality for later pruning). The "
    "planning windows are partitioned by day, so the planner itself "
    "never global-sorts; it runs over the per-bucket AGGREGATE (file "
    "manifest scale, not row scale) exactly like a real lake's "
    "OPTIMIZE planning phase.",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    buckets = (
        e.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.date_trunc("hour", "ts").alias("hour"),
        )
        .agg(F.count("*").alias("n_rows"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return buckets.select(
        "day",
        "hour",
        "n_rows",
        F.floor((F.sum("n_rows").over(w) - F.col("n_rows")) / _COMPACT_TARGET)
        .cast("bigint")
        .alias("compact_group"),
    )


@register(
    "cdc_apply_changes",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 <> 1
    """,
    doc="MERGE INTO: apply a CDC change feed (insert/update rows with "
    "values, delete markers) to the previous snapshot and emit the next "
    "one. The oracle is the NEW snapshot computed independently — i.e. "
    "the op is verified as a ROUND TRIP: apply(old, diff(old, new)) == "
    "new, value-for-value. One full-outer join on the key; the change "
    "feed is the small side (daily deltas vs full table), so at scale "
    "it broadcasts or shuffles ~the delta size while untouched rows "
    "never leave their partition's scan. The reference's per-row "
    "REPLACE upsert (app.js:401-436) expressed as one declarative set "
    "operation.",
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = _new_snapshot(orders)
    fp = F.xxhash64(*_ORDER_COLS)
    # change feed = keys whose fingerprint differs (with new-side values)
    # or that exist on only one side — exactly cdc_snapshot_diff's rows,
    # here carrying the new values so they can be applied
    o_fps = old.select(F.col("o_orderkey").alias("k"), fp.alias("fp_old"))
    n_fps = new.select("*", fp.alias("fp_new"))
    feed = (
        o_fps.join(n_fps, o_fps.k == n_fps.o_orderkey, "full_outer")
        .filter(
            F.col("k").isNull()  # insert
            | F.col("o_orderkey").isNull()  # delete
            | (F.col("fp_old") != F.col("fp_new"))  # update
        )
        .select(
            F.coalesce("o_orderkey", "k").alias("ck"),
            F.col("o_orderkey").isNull().alias("is_delete"),
            *[F.col(c).alias(f"c_{c}") for c in _ORDER_COLS],
        )
    )
    merged = old.join(feed, old.o_orderkey == feed.ck, "full_outer").filter(
        # deletes drop; unmatched-old rows pass through; feed rows apply
        ~F.coalesce("is_delete", F.lit(False))
    )
    pick = lambda c: F.when(  # noqa: E731
        F.col("ck").isNotNull(), F.col(f"c_{c}")
    ).otherwise(F.col(c))
    return merged.select(
        F.coalesce("o_orderkey", "ck").alias("o_orderkey"),
        *[pick(c).alias(c) for c in _ORDER_COLS],
    )


@register(
    "part_table_reassembly",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    """,
    doc="Reference-fidelity demo of the 150-column table sharding "
    "(app.js:401-436 save_data_to_mysql / distribute_table): a wide logical "
    "row is split across parent + child physical tables, children carrying "
    "parent_id (app.js:421-423), and a logical read re-assembles via "
    "parent JOIN child ON parent_id. Obsolete by design in this engine — "
    "columnar parquet plus the specs map spine holds arbitrarily wide "
    "records natively (SURVEY §1.2) — but demonstrated here one-off: shard "
    "the part table into two physical projections, rejoin on the key, and "
    "the oracle (a plain scan of the original) proves reassembly is "
    "lossless. The join is key-equi and broadcastable; at scale you would "
    "simply never shard.",
)
def q_part_table_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    # physical shard 1 (parent): first columns + synthetic id
    parent = part.select(
        F.col("p_partkey").alias("id"), "p_name", "p_brand"
    )
    # physical shard 2 (child): remaining columns keyed by parent_id
    child = part.select(
        F.col("p_partkey").alias("parent_id"), "p_type", "p_size", "p_retailprice"
    )
    return parent.join(child, parent["id"] == child["parent_id"]).select(
        F.col("id").alias("p_partkey"),
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )


@register(
    "ivm_status_totals",
    oracle="""
    WITH old AS (
      SELECT * FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 1
    ),
    contributions AS (
      SELECT o.o_orderstatus AS st, -1 AS dc,
             -CAST(o.o_totalprice AS DECIMAL(18,4)) AS dv
      FROM old o LEFT JOIN new n ON n.o_orderkey = o.o_orderkey
      WHERE n.o_orderkey IS NULL OR n.o_totalprice <> o.o_totalprice
      UNION ALL
      SELECT n.o_orderstatus, 1, CAST(n.o_totalprice AS DECIMAL(18,4))
      FROM new n LEFT JOIN old o ON o.o_orderkey = n.o_orderkey
      WHERE o.o_orderkey IS NULL OR o.o_totalprice <> n.o_totalprice
    ),
    delta_n AS (
      SELECT st AS o_orderstatus, COUNT(*) AS delta_rows
      FROM contributions GROUP BY st
    )
    SELECT a.o_orderstatus,
           CAST(a.n_orders AS BIGINT) AS n_orders,
           CAST(CAST(a.total AS VARCHAR) AS DOUBLE) AS total_price,
           CAST(COALESCE(d.delta_rows, 0) AS BIGINT) AS delta_rows
    FROM (
      SELECT o_orderstatus, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
      FROM new GROUP BY o_orderstatus
    ) a LEFT JOIN delta_n d USING (o_orderstatus)
    """,
    doc="Incremental view maintenance (Materialize/DBSP-style): the "
    "per-status count/total view over the NEW snapshot is produced by "
    "MERGING the old snapshot's materialized aggregate with signed "
    "delta contributions (-1/-price for deleted or pre-update rows, "
    "+1/+price for inserted or post-update rows) — the base table is "
    "never re-aggregated. The oracle recomputes the view directly from "
    "the new snapshot, so value parity IS the algebraic proof that the "
    "incremental merge is exact (decimal arithmetic end-to-end; "
    "counts are signed integers). delta_rows surfaces how much work "
    "the refresh actually touched. At 100 TB the contributions come "
    "straight off the upstream CDC feed (cdc_snapshot_diff / "
    "cdc_apply_changes) instead of a snapshot comparison.",
)
def q_ivm_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = _new_snapshot(orders)
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    # the standing materialized view: aggregated ONCE from the old
    # snapshot (in production this is a lake table, not a recompute)
    old_agg = (
        old.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), F.sum(dec).alias("total"))
        .localCheckpoint(eager=True)
    )
    o = old.select("o_orderkey", F.col("o_orderstatus").alias("st_o"), F.col("o_totalprice").alias("p_o"))
    n = new.select("o_orderkey", F.col("o_orderstatus").alias("st_n"), F.col("o_totalprice").alias("p_n"))
    joined = o.join(n, "o_orderkey", "full_outer")
    minus = joined.filter(F.col("p_n").isNull() | (F.col("p_n") != F.col("p_o"))).filter(
        F.col("p_o").isNotNull()
    ).select(
        F.col("st_o").alias("o_orderstatus"),
        F.lit(-1).alias("dc"),
        (-F.col("p_o").cast("decimal(18,4)")).alias("dv"),
    )
    plus = joined.filter(F.col("p_o").isNull() | (F.col("p_o") != F.col("p_n"))).filter(
        F.col("p_n").isNotNull()
    ).select(
        F.col("st_n").alias("o_orderstatus"),
        F.lit(1).alias("dc"),
        F.col("p_n").cast("decimal(18,4)").alias("dv"),
    )
    delta = (
        minus.unionAll(plus)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("dc").alias("d_n"),
            F.sum("dv").alias("d_total"),
            F.count("*").alias("delta_rows"),
        )
    )
    return (
        old_agg.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (
                F.coalesce(F.col("total"), F.lit(0).cast("decimal(18,4)"))
                + F.coalesce(F.col("d_total"), F.lit(0).cast("decimal(18,4)"))
            )
            .cast("double")
            .alias("total_price"),
            F.coalesce("delta_rows", F.lit(0)).cast("long").alias("delta_rows"),
        )
        # a status whose rows were ALL deleted nets to n_orders == 0;
        # the view (like the oracle, which groups the new snapshot) must
        # drop the group, not surface a spurious zero row — same guard
        # ivm_nation_revenue applies after its merge.
        .filter(F.col("n_orders") > 0)
    )


@register(
    "ivm_nation_revenue",
    oracle="""
    WITH new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 1
    ),
    old AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    contributions AS (
      SELECT o.o_custkey, -1 AS dc,
             -CAST(o.o_totalprice AS DECIMAL(18,4)) AS dv
      FROM old o LEFT JOIN new n ON n.o_orderkey = o.o_orderkey
      WHERE n.o_orderkey IS NULL OR n.o_totalprice <> o.o_totalprice
      UNION ALL
      SELECT n.o_custkey, 1, CAST(n.o_totalprice AS DECIMAL(18,4))
      FROM new n LEFT JOIN old o ON o.o_orderkey = n.o_orderkey
      WHERE o.o_orderkey IS NULL OR o.o_totalprice <> n.o_totalprice
    ),
    delta_n AS (
      SELECT c.c_nationkey, COUNT(*) AS delta_rows
      FROM contributions x JOIN customer c ON c.c_custkey = x.o_custkey
      GROUP BY 1
    )
    SELECT nt.n_name,
           CAST(a.n_orders AS BIGINT) AS n_orders,
           CAST(CAST(a.revenue AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COALESCE(d.delta_rows, 0) AS BIGINT) AS delta_rows
    FROM (
      SELECT c.c_nationkey, COUNT(*) AS n_orders,
             SUM(CAST(n.o_totalprice AS DECIMAL(18,4))) AS revenue
      FROM new n JOIN customer c ON c.c_custkey = n.o_custkey
      GROUP BY c.c_nationkey
    ) a
    LEFT JOIN delta_n d ON d.c_nationkey = a.c_nationkey
    JOIN nation nt ON nt.n_nationkey = a.c_nationkey
    """,
    doc="Join-view IVM: the per-nation order count/revenue view "
    "(orders ⋈ customer ⋈ nation) is maintained from the fact table's "
    "signed delta alone — the bilinear delta rule Δ(A⋈B) = "
    "ΔA⋈B + A⋈ΔB − ΔA⋈ΔB collapses to ΔA⋈B when the dimension side is "
    "static, so the refresh joins ONLY the changed orders to the "
    "(broadcast) customer dim and merges into the standing aggregate. "
    "The oracle recomputes the view from the new snapshot — parity is "
    "the algebraic proof. Companion of ivm_status_totals (group-by IVM).",
)
def q_ivm_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = _new_snapshot(orders)
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    # standing view: aggregated once from the old snapshot
    old_view = (
        old.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_orders"), F.sum(dec).alias("revenue"))
        .localCheckpoint(eager=True)
    )
    o = old.select("o_orderkey", F.col("o_custkey").alias("ck_o"), F.col("o_totalprice").alias("p_o"))
    n = new.select("o_orderkey", F.col("o_custkey").alias("ck_n"), F.col("o_totalprice").alias("p_n"))
    joined = o.join(n, "o_orderkey", "full_outer")
    minus = (
        joined.filter(F.col("p_o").isNotNull())
        .filter(F.col("p_n").isNull() | (F.col("p_n") != F.col("p_o")))
        .select(
            F.col("ck_o").alias("o_custkey"),
            F.lit(-1).alias("dc"),
            (-F.col("p_o").cast("decimal(18,4)")).alias("dv"),
        )
    )
    plus = (
        joined.filter(F.col("p_n").isNotNull())
        .filter(F.col("p_o").isNull() | (F.col("p_o") != F.col("p_n")))
        .select(
            F.col("ck_n").alias("o_custkey"),
            F.lit(1).alias("dc"),
            F.col("p_n").cast("decimal(18,4)").alias("dv"),
        )
    )
    # ΔA ⋈ B: only the changed rows touch the dimension
    delta = (
        minus.unionAll(plus)
        .join(F.broadcast(cust), "o_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.sum("dc").alias("d_n"),
            F.sum("dv").alias("d_rev"),
            F.count("*").alias("delta_rows"),
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        old_view.join(delta, "c_nationkey", "full_outer")
        .join(F.broadcast(nation), "c_nationkey")
        .select(
            "n_name",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce(F.col("revenue"), zero) + F.coalesce(F.col("d_rev"), zero))
            .cast("double")
            .alias("revenue"),
            F.coalesce("delta_rows", F.lit(0)).cast("long").alias("delta_rows"),
        )
        .filter(F.col("n_orders") > 0)
    )


# pruning probe bands: (label, custkey range, epoch-day range); None = no
# constraint on that dimension. Chosen to exercise one-dim, other-dim,
# and both-dim pruning against the z-order boxes.
_PRUNE_BANDS = [
    ("custkey_low_256", 0, 255, None, None),
    ("custkey_mid_256", 4096, 4351, None, None),
    ("days_one_year", None, None, 9500, 9865),
    ("both_tight", 0, 1023, 9500, 9865),
]


def _skipping_oracle() -> str:
    """Compose the z-order manifest oracle verbatim, then evaluate each
    probe band against every file's min/max box."""
    from ..registry import REGISTRY

    manifest = REGISTRY["zorder_manifest"].oracle
    bands = " UNION ALL ".join(
        "SELECT '{}' AS band, {} AS lo_x, {} AS hi_x, {} AS lo_y, {} AS hi_y".format(
            name,
            "NULL" if lo_x is None else lo_x,
            "NULL" if hi_x is None else hi_x,
            "NULL" if lo_y is None else lo_y,
            "NULL" if hi_y is None else hi_y,
        )
        for name, lo_x, hi_x, lo_y, hi_y in _PRUNE_BANDS
    )
    return f"""
    WITH manifest AS ({manifest}),
    bands AS ({bands}),
    hits AS (
      SELECT b.band, m.file_id, m.n_rows,
             CASE WHEN (b.lo_x IS NULL OR m.max_custkey >= b.lo_x)
                   AND (b.hi_x IS NULL OR m.min_custkey <= b.hi_x)
                   AND (b.lo_y IS NULL OR m.max_day >= b.lo_y)
                   AND (b.hi_y IS NULL OR m.min_day <= b.hi_y)
                  THEN 1 ELSE 0 END AS must_scan
      FROM bands b CROSS JOIN manifest m
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(must_scan) AS BIGINT) AS n_scanned,
           CAST(SUM(CASE WHEN must_scan = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           round(1.0 - SUM(must_scan) / CAST(COUNT(*) AS DOUBLE), 6)
             AS file_skip_rate
    FROM hits GROUP BY band ORDER BY band
    """


@register(
    "zorder_skipping_report",
    oracle=_skipping_oracle(),
    doc="Data-skipping effectiveness report: four representative "
    "predicate bands (low/mid custkey ranges, a one-year day range, a "
    "tight box on both dims) evaluated against the z-order manifest's "
    "per-file min/max boxes — files whose box misses the band are "
    "provably skippable without opening. The number that justifies the "
    "clustering choice: z-order prunes on EITHER dimension (a "
    "single-column sort gives one tight dim and one full-range dim). "
    "Composes zorder_manifest verbatim on both engines; the band list "
    "is a broadcast literal grid, the evaluation is |files x bands|.",
)
def q_zorder_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifest = q_zorder_manifest(spark, sf_dir)
    bands = manifest.sparkSession.createDataFrame(
        [
            (
                name,
                lo_x,
                hi_x,
                lo_y,
                hi_y,
            )
            for name, lo_x, hi_x, lo_y, hi_y in _PRUNE_BANDS
        ],
        "band string, lo_x bigint, hi_x bigint, lo_y bigint, hi_y bigint",
    )
    must_scan = (
        (F.col("lo_x").isNull() | (F.col("max_custkey") >= F.col("lo_x")))
        & (F.col("hi_x").isNull() | (F.col("min_custkey") <= F.col("hi_x")))
        & (F.col("lo_y").isNull() | (F.col("max_day") >= F.col("lo_y")))
        & (F.col("hi_y").isNull() | (F.col("min_day") <= F.col("hi_y")))
    )
    hits = F.broadcast(bands).crossJoin(manifest).select(
        "band",
        "n_rows",
        must_scan.cast("int").alias("must_scan"),
    )
    return (
        hits.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("must_scan").cast("long").alias("n_scanned"),
            F.sum(F.when(F.col("must_scan") == 1, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.round(
                F.lit(1.0) - F.sum("must_scan") / F.count("*").cast("double"), 6
            ).alias("file_skip_rate"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Time travel over the manifest lake (ingest/manifest.py) as a VALUE-ORACLED
# query: three commits — append, append, rewrite — each read back `as_of`.


def _time_travel_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per corpus) a manifest-committed lake with a three-txn
    history over `orders`:

    - ``tt1`` appends orderkeys ≡0 (mod 3);
    - ``tt2`` appends orderkeys ≡1 (mod 3);
    - ``tt3`` REWRITES the table (compaction: same rows, new files,
      ``removes`` listing every pre-rewrite file).

    Built once per corpus path + orders fingerprint
    (``artifacts.get_or_build``): two scale factors can never collide.
    """
    from ..ingest import manifest

    def build() -> str:
        path = artifacts.scratch_dir("tt_lake")
        orders = load_table(spark, "orders", sf_dir)
        for txn, rem in (("tt1", 0), ("tt2", 1)):
            manifest.commit_tables(
                path, [("orders", orders.filter(F.col("o_orderkey") % 3 == rem))], txn
            )
        # rewrite: read the CURRENT committed snapshot, compact it into fresh
        # files, and publish with `removes` — content-identical by construction
        olds = manifest.committed_files(path, "orders")
        manifest.commit_tables(
            path,
            [("orders", read_parquet(spark, *olds).repartition(2))],
            "tt3",
            removes={"orders": [os.path.basename(p) for p in olds]},
        )
        return path

    return artifacts.get_or_build(spark, "tt_lake", "", [(sf_dir, "orders")], build)


@register(
    "lake_time_travel",
    oracle="""
    WITH agg AS (
      SELECT o_orderstatus, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
      FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_orderstatus
    ),
    agg2 AS (
      SELECT o_orderstatus, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
      FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY o_orderstatus
    )
    SELECT 'tt1' AS snapshot, o_orderstatus, CAST(n_orders AS BIGINT) AS n_orders,
           CAST(CAST(total AS VARCHAR) AS DOUBLE) AS total_price FROM agg
    UNION ALL
    SELECT 'tt2', o_orderstatus, CAST(n_orders AS BIGINT),
           CAST(CAST(total AS VARCHAR) AS DOUBLE) FROM agg2
    UNION ALL
    SELECT 'tt3', o_orderstatus, CAST(n_orders AS BIGINT),
           CAST(CAST(total AS VARCHAR) AS DOUBLE) FROM agg2
    """,
    doc="Time travel on the atomic-manifest lake (ingest/manifest.py): the "
    "same per-status aggregate read `as_of` each of three commits — two "
    "appends and a compacting REWRITE whose manifest lists `removes`. "
    "The oracle recomputes every snapshot from the source table, so "
    "value parity certifies (a) `as_of` resolves exactly the files "
    "committed at that point in publish order, (b) the rewrite swaps "
    "files without changing a single value (tt3 == tt2 row-for-row), "
    "and (c) replaced files stay readable for pre-rewrite pins — the "
    "reproducibility contract a training run relies on when it records "
    "a txn id (the reference's saved_list checkpoint, app.js:449, has "
    "no analogue: history there is overwritten in place). Snapshot "
    "resolution is manifest-file work, O(commits), independent of data "
    "volume; the three reads share one decimal-exact aggregate shape.",
)
def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import manifest

    lake = _time_travel_lake(spark, sf_dir)
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    outs = []
    for snap in ("tt1", "tt2", "tt3"):
        df = manifest.read_committed(spark, lake, "orders", as_of=snap)
        outs.append(
            df.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"), F.sum(dec).alias("total"))
            .select(
                F.lit(snap).alias("snapshot"),
                "o_orderstatus",
                F.col("n").cast("long").alias("n_orders"),
                F.col("total").cast("double").alias("total_price"),
            )
        )
    return outs[0].unionAll(outs[1]).unionAll(outs[2])
