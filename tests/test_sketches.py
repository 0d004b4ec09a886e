"""KMV sketch properties (operators/sketches.py).

Oracle parity is covered by test_oracle_parity; these pin the two claims
the oracle can't see: merge-invariance (the property that makes the
two-level plan correct on any cluster partitioning) and estimator
quality.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.operators.sketches import (
    K,
    _source_token_hashes,
    kmv_sketches,
)

from .conftest import SF_SMOKE


def _sketch_map(df):
    return {r["source"]: tuple(r["kmin"]) for r in df.select("source", "kmin").collect()}


def test_sketch_is_partitioning_invariant(spark):
    """k-min merge is associative+commutative: the sketch is identical
    under 1, 7, and 32 partitions — the property that lets each of 1000
    executors ship k values per group instead of its vocabulary."""
    hashed = _source_token_hashes(spark, SF_SMOKE).localCheckpoint(eager=True)
    base = _sketch_map(kmv_sketches(hashed.coalesce(1)))
    assert base  # non-empty corpus
    for n in (7, 32):
        assert _sketch_map(kmv_sketches(hashed.repartition(n))) == base


def test_sketch_equals_exact_kmin(spark):
    """The distributed sketch is EXACTLY the k smallest distinct hashes
    (KMV is an exact top-k of a hashed set, not an approximation)."""
    hashed = _source_token_hashes(spark, SF_SMOKE).localCheckpoint(eager=True)
    got = _sketch_map(kmv_sketches(hashed))
    want = {
        r["source"]: tuple(r["kmin"])
        for r in hashed.groupBy("source")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, K).alias("kmin"))
        .collect()
    }
    assert got == want


def test_estimator_quality_bounds(spark):
    """KMV stderr is ~1/sqrt(k-2) ≈ 13% at k=64; assert every source
    estimates within 5 sigma and undersized vocabularies come back
    exact."""
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["kmv_vocab_distinct"].spark(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["n_exact"] < K:
            assert r["est_distinct"] == r["n_exact"]
        else:
            assert r["err_pct"] < 65.0, (r["source"], r["err_pct"])


# --- streaming maintenance ---------------------------------------------------


def test_sketch_maintenance_stream_matches_batch(spark, tmp_path):
    """Streamed chunked arrivals + restart + wholesale re-delivery all
    converge to the batch sketch of the full corpus: the k-min merge is
    an idempotent lattice join, so re-delivery needs NO anti-join."""
    import os

    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import KMV

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    docs_dir = str(tmp_path / "docs_in")
    sketch_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, KMV, docs_dir, sketch_dir, ckpt).awaitTermination(120)

    second.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, KMV, docs_dir, sketch_dir, ckpt).awaitTermination(120)

    want = _sketch_map(kmv_sketches(_source_token_hashes(spark, SF_SMOKE)))
    got = {
        r["source"]: tuple(r["kmin"])
        for r in lattice.read_state(spark, KMV, sketch_dir).collect()
    }
    assert got == want and len(got) > 0

    # wholesale re-delivery of the first half under new file names: the
    # idempotent merge absorbs it with zero state change
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, KMV, docs_dir, sketch_dir, ckpt).awaitTermination(120)
    assert {
        r["source"]: tuple(r["kmin"])
        for r in lattice.read_state(spark, KMV, sketch_dir).collect()
    } == want
    assert len([d for d in os.listdir(sketch_dir) if d.startswith("batch=")]) >= 3

    # compaction folds the partials into one partition, state unchanged
    lattice.compact_state(spark, KMV, sketch_dir)
    assert [d for d in os.listdir(sketch_dir) if d.startswith("batch=")] == [
        "batch=compacted"
    ]
    assert {
        r["source"]: tuple(r["kmin"])
        for r in lattice.read_state(spark, KMV, sketch_dir).collect()
    } == want


def test_sketch_maintenance_replay_repairs_partial_commit(spark, tmp_path):
    """Checkpoint replay of a batch rewrites its partition wholesale —
    a corrupted/partial batch partition heals on re-run."""
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import KMV

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    sketch_dir = str(tmp_path / "sketch")
    fn = lattice.maintain_batch(KMV, sketch_dir)
    fn(docs, 0)
    want = {r["source"]: tuple(r["kmin"]) for r in lattice.read_state(spark, KMV, sketch_dir).collect()}

    # simulate a partial commit: clobber batch 0 with a half-size batch
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)
    # replay of batch 0 repairs it
    fn(docs, 0)
    got = {r["source"]: tuple(r["kmin"]) for r in lattice.read_state(spark, KMV, sketch_dir).collect()}
    assert got == want


def test_dau_maintenance_stream_matches_batch_query(spark, tmp_path):
    """Streamed event files converge to kmv_daily_active_users' exact
    daily k-min state, across chunked arrival and re-delivery."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        kmv_kmin,
    )
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import (
        DAU,
        dau_pairs,
    )

    events = load_table(spark, "events", SF_SMOKE).select("event_id", "ts", "user_id")
    ev_dir = str(tmp_path / "events_in")
    sk_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(ev_dir)
    lattice.start_maintenance_stream(spark, DAU, ev_dir, sk_dir, ckpt).awaitTermination(120)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(ev_dir)
    lattice.start_maintenance_stream(spark, DAU, ev_dir, sk_dir, ckpt).awaitTermination(120)

    want = {
        r["day"]: tuple(r["kmin"])
        for r in kmv_kmin(dau_pairs(events), key="day").collect()
    }
    got = {
        r["day"]: tuple(r["kmin"])
        for r in lattice.read_state(spark, DAU, sk_dir).collect()
    }
    assert got == want and len(got) > 0

    # re-delivery: idempotent merge absorbs duplicated events
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(ev_dir)
    lattice.start_maintenance_stream(spark, DAU, ev_dir, sk_dir, ckpt).awaitTermination(120)
    assert {
        r["day"]: tuple(r["kmin"])
        for r in lattice.read_state(spark, DAU, sk_dir).collect()
    } == want


# --- log-binned quantile sketch ----------------------------------------------


def test_logbin_quantile_error_bound(spark):
    """Relative error must stay within the 2^-SUBBITS construction bound
    for every quantile, and estimates must be monotone in q."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        QSKETCH_SUBBITS,
    )
    from collect_mobile_devices_datalake_spark.registry import REGISTRY

    rows = (
        REGISTRY["logbin_quantile_sketch"].spark(spark, SF_SMOKE).orderBy("q").collect()
    )
    assert len(rows) == 3
    bound = 100.0 / (1 << QSKETCH_SUBBITS)  # 3.125%
    for r in rows:
        assert r.err_pct <= bound + 1e-9, (r.q, r.err_pct)
        assert r.n_buckets <= r.n_rows
    ests = [r.est_price for r in rows]
    assert ests == sorted(ests)


def test_logbin_histogram_merges_by_sum(spark):
    """The bucket table of a union is the cell-wise sum of the halves —
    the property that makes per-shard partials shippable (same additive
    lattice as the CMS)."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        QSKETCH_SUBBITS,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    li = load_table(spark, "lineitem", SF_SMOKE)
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        (F.col("l_orderkey") % 2).alias("half"),
    )

    def hist(df):
        keyed = df.select(
            "c",
            F.greatest(
                F.length(F.bin("c")) - 1 - QSKETCH_SUBBITS, F.lit(0)
            ).alias("shift"),
        )
        p2 = F.pow(F.lit(2.0), F.col("shift")).cast("long")
        return (
            keyed.select("shift", (F.col("c") / p2).cast("long").alias("bkey"))
            .groupBy("shift", "bkey")
            .agg(F.count("*").alias("cnt"))
        )

    merged = (
        hist(cents.filter("half = 0"))
        .unionByName(hist(cents.filter("half = 1")))
        .groupBy("shift", "bkey")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = hist(cents)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_logbin_maintenance_stream_matches_batch(spark, tmp_path):
    """Streamed order arrivals converge to the batch histogram (so the
    streamed state answers the same quantiles); checkpoint replay
    repairs in place; compaction commits through the shared manifest
    protocol (crash windows are exercised exhaustively in test_cms —
    the machinery is the same _sum_state code, different cell keys)."""
    import os

    from collect_mobile_devices_datalake_spark.operators.sketches import logbin_hist
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import (
        LOGBIN,
    )

    orders = load_table(spark, "orders", SF_SMOKE).select("o_orderkey", "o_totalprice")
    orders_dir = str(tmp_path / "orders_in")
    sketch_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    first = orders.filter(F.col("o_orderkey") % 2 == 0)
    second = orders.filter(F.col("o_orderkey") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(orders_dir)
    lattice.start_maintenance_stream(spark, LOGBIN, orders_dir, sketch_dir, ckpt).awaitTermination(120)
    second.coalesce(1).write.mode("append").parquet(orders_dir)
    lattice.start_maintenance_stream(spark, LOGBIN, orders_dir, sketch_dir, ckpt).awaitTermination(120)

    def hist_map(df):
        return {
            (r["shift"], r["bkey"], r["width"], r["lower"]): r["cnt"]
            for r in df.collect()
        }

    want = hist_map(
        logbin_hist(
            orders.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
        )
    )
    assert hist_map(lattice.read_state(spark, LOGBIN, sketch_dir)) == want and len(want) > 0

    # checkpoint replay (same batch id) rewrites wholesale: no drift
    lattice.maintain_batch(LOGBIN, sketch_dir)(first, 0)
    assert hist_map(lattice.read_state(spark, LOGBIN, sketch_dir)) == want

    # committed compaction folds to one generation, state unchanged
    lattice.compact_state(spark, LOGBIN, sketch_dir)
    assert hist_map(lattice.read_state(spark, LOGBIN, sketch_dir)) == want
    live = [d for d in os.listdir(sketch_dir) if d.startswith("batch=")]
    assert any(d.startswith("batch=c") for d in live)


def test_kmv_difference_estimator_branch(spark):
    """The m[K] estimator path never fires on the test corpus (vocab <
    K makes the sketch exact), so drive it with a synthetic universe:
    two 4000-element sets overlapping by 2000. The estimate must land
    within 35% of |A \\ B| = 2000 and the exact leg must be exact."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        _ID_HASH_A,
        _ID_HASH_B,
        K,
        P,
        kmv_difference_report,
    )

    rows = [("A", i) for i in range(4000)] + [("B", i) for i in range(2000, 8000)]
    hashed = (
        spark.createDataFrame(rows, "source string, i long")
        .selectExpr("source", f"(i * {_ID_HASH_A} + {_ID_HASH_B}) % {P} AS h")
        .localCheckpoint(eager=True)
    )
    out = kmv_difference_report(hashed).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source_a, r.source_b) == ("A", "B")
    assert r.exact_only_a == 2000
    assert abs(r.est_only_a - 2000) <= 0.35 * 2000, r.est_only_a
    # the estimator really ran (the union is far past K)
    assert r.est_only_a != r.exact_only_a or K >= 8000


# --- HyperLogLog register sketch (hll_register_sketch / hll_weekly_from_daily)


def _hll_python_registers(values):
    """Independent Python recompute of the 256-register file over raw
    int64 hashes — no Spark, no SQL, no shared helpers."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_M,
        HLL_RHO_CAP,
    )

    regs = {}
    for h in values:
        reg = h & (HLL_M - 1)
        w = h >> 8
        rho = HLL_RHO_CAP if w == 0 else HLL_RHO_CAP - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_hll_matches_independent_python_recompute(spark):
    """The full sketch pipeline (hash → register max → scaled-integer
    harmonic sum → estimate) equals a from-scratch Python recompute per
    source, including the exact BIGINT sum_scaled and the one float."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_SCALE,
        HLL_SHINGLE,
        _HLL_NUM,
    )
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
    from collect_mobile_devices_datalake_spark.functions.text import rolling_hash
    from collect_mobile_devices_datalake_spark.session import load_table

    _ensure_loaded()
    got = {
        r["source"]: r
        for r in REGISTRY["hll_register_sketch"].spark(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, "documents", SF_SMOKE).select("source", "text").collect()
    by_source = {}
    for r in docs:
        t = r["text"]
        for i in range(len(t) - HLL_SHINGLE + 1):
            sh = t[i : i + HLL_SHINGLE]
            h = 0
            for ch in sh:
                h = (h * 31 + ord(ch)) % 1_000_000_007
            by_source.setdefault(r["source"], []).append(h)
    assert set(got) == set(by_source)
    for src, hashes in by_source.items():
        regs = _hll_python_registers(hashes)
        sum_scaled = sum(1 << (HLL_RHO_CAP - m) for m in regs.values()) + (
            HLL_M - len(regs)
        ) * HLL_SCALE
        row = got[src]
        assert row["m"] == HLL_M
        assert row["v_empty"] == HLL_M - len(regs)
        assert row["sum_scaled"] == sum_scaled
        assert row["hll_estimate"] == round(_HLL_NUM / sum_scaled, 6)
        assert row["n_exact"] == len(set(hashes))


def test_hll_registers_partitioning_invariant(spark):
    """Register max is idempotent+associative+commutative: identical
    register files under 1, 7, and 32 partitions AND under duplicated
    input (re-delivery) — the properties that make the sketch shuffle
    O(keys x m) and its streaming state replay-proof."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        hll_registers,
    )
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        _source_token_hashes,
    )

    pairs = _source_token_hashes(spark, SF_SMOKE).localCheckpoint(eager=True)

    def reg_map(df):
        return {
            (r["source"], r["reg"]): r["mrho"]
            for r in hll_registers(df).collect()
        }

    base = reg_map(pairs.coalesce(1))
    assert base
    for n in (7, 32):
        assert reg_map(pairs.repartition(n)) == base
    assert reg_map(pairs.unionByName(pairs)) == base  # idempotent re-delivery


def test_hll_weekly_fold_equals_direct_build(spark):
    """Max-merge of the daily register files == registers built directly
    from the weekly union — the lattice identity hll_weekly_from_daily's
    oracle proves at the value level, pinned here structurally."""
    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.operators.sketches import (
        _ID_HASH_A,
        _ID_HASH_B,
        P,
        hll_registers,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    e = load_table(spark, "events", SF_SMOKE)
    pairs = e.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("week", "ts").alias("week"),
        ((F.col("user_id") * _ID_HASH_A + _ID_HASH_B) % P).alias("h"),
    ).localCheckpoint(eager=True)
    daily = hll_registers(pairs.select(F.col("day").alias("key"), "h"), "key")
    folded = {
        (r["week"], r["reg"]): r["mrho"]
        for r in daily.join(
            pairs.select(F.col("day").alias("key"), "week").distinct(), "key"
        )
        .groupBy("week", "reg")
        .agg(F.max("mrho").alias("mrho"))
        .collect()
    }
    direct = {
        (r["key"], r["reg"]): r["mrho"]
        for r in hll_registers(
            pairs.select(F.col("week").alias("key"), "h"), "key"
        ).collect()
    }
    assert folded == direct and folded


def test_hll_maintenance_stream_matches_batch(spark, tmp_path):
    """Streamed chunked arrivals + restart + wholesale re-delivery all
    converge to the batch register file of the full corpus: per-register
    max is an idempotent lattice join (the seventh certified family)."""
    import os

    from collect_mobile_devices_datalake_spark.operators.sketches import (
        hll_registers,
    )
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import HLL

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    docs_dir = str(tmp_path / "docs_in")
    sketch_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def state_map():
        return {
            (r["source"], r["reg"]): r["mrho"]
            for r in lattice.read_state(spark, HLL, sketch_dir).collect()
        }

    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, HLL, docs_dir, sketch_dir, ckpt).awaitTermination(120)

    second.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, HLL, docs_dir, sketch_dir, ckpt).awaitTermination(120)

    want = {
        (r["source"], r["reg"]): r["mrho"]
        for r in hll_registers(_source_token_hashes(spark, SF_SMOKE)).collect()
    }
    assert state_map() == want and len(want) > 0

    # wholesale re-delivery under new file names: absorbed, zero change
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, HLL, docs_dir, sketch_dir, ckpt).awaitTermination(120)
    assert state_map() == want
    assert len([d for d in os.listdir(sketch_dir) if d.startswith("batch=")]) >= 3

    # compaction folds to one partition, state unchanged; a partial-
    # commit replay (clobber + rerun of the same batch id) repairs it
    lattice.compact_state(spark, HLL, sketch_dir)
    assert [d for d in os.listdir(sketch_dir) if d.startswith("batch=")] == [
        "batch=compacted"
    ]
    assert state_map() == want
    fn = lattice.maintain_batch(HLL, sketch_dir)
    fn(docs.filter(F.col("doc_id") % 3 == 0), 99)
    fn(docs, 99)
    assert state_map() == want  # full re-delivery of batch 99 is a no-op


def test_hll_union_fold_equals_direct_build_and_dominates(spark):
    """Pairwise register-max folds equal HLL built directly on the
    concatenated pair corpus (the union identity on real data), and
    est_union >= max(est_a, est_b) holds for every pair (register max
    can only lower the harmonic sum)."""
    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.functions.text import (
        char_ngrams,
        rolling_hash,
    )
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_SHINGLE,
        hll_registers,
    )
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
    from collect_mobile_devices_datalake_spark.session import load_table

    _ensure_loaded()
    rows = REGISTRY["hll_union_inclusion_exclusion"].spark(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.est_union >= max(r.est_a, r.est_b) - 1e-9
        assert r.abs_err == round(abs(r.est_common_ie - r.n_exact_common), 6)

    # direct-build spot check on the first pair
    r0 = rows[0]
    docs = load_table(spark, "documents", SF_SMOKE)
    pair_pairs = (
        docs.filter(F.col("source").isin([r0.source_a, r0.source_b]))
        .select(F.lit("u").alias("source"),
                F.explode(char_ngrams(F.col("text"), HLL_SHINGLE)).alias("t"))
        .select("source", rolling_hash("t").alias("h"))
    )
    direct = {
        r["reg"]: r["mrho"] for r in hll_registers(pair_pairs).collect()
    }
    both = (
        docs.filter(F.col("source").isin([r0.source_a, r0.source_b]))
        .select("source", F.explode(char_ngrams(F.col("text"), HLL_SHINGLE)).alias("t"))
        .select("source", rolling_hash("t").alias("h"))
    )
    per_source = hll_registers(both).collect()
    folded: dict[int, int] = {}
    for r in per_source:
        folded[r["reg"]] = max(folded.get(r["reg"], 0), r["mrho"])
    assert folded == direct


# --- Bloom bitmap OR-lattice (streaming_bloom_state) -------------------------


def test_bloom_maintenance_stream_matches_batch(spark, tmp_path):
    """Streamed chunked arrivals + restart + wholesale re-delivery all
    converge to the batch packed bitmap of the full saved set: word-wise
    OR is an idempotent lattice join (the eighth certified family)."""
    import os

    from collect_mobile_devices_datalake_spark.operators.selection import (
        bloom_words,
    )
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.sources.synthetic import saved_list
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import BLOOM

    orders = load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_orderpriority"
    )
    src_dir = str(tmp_path / "orders_in")
    sketch_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def state_map():
        return {
            r["word"]: r["bits"] for r in lattice.read_state(spark, BLOOM, sketch_dir).collect()
        }

    first = orders.filter(F.col("o_orderkey") % 2 == 0)
    second = orders.filter(F.col("o_orderkey") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src_dir)
    lattice.start_maintenance_stream(spark, BLOOM, src_dir, sketch_dir, ckpt).awaitTermination(120)

    second.coalesce(1).write.mode("append").parquet(src_dir)
    lattice.start_maintenance_stream(spark, BLOOM, src_dir, sketch_dir, ckpt).awaitTermination(120)

    want = {
        r["word"]: r["bits"]
        for r in bloom_words(saved_list(orders).select("url").distinct()).collect()
    }
    assert state_map() == want and len(want) > 0

    # wholesale re-delivery under new file names: absorbed, zero change
    first.coalesce(1).write.mode("append").parquet(src_dir)
    lattice.start_maintenance_stream(spark, BLOOM, src_dir, sketch_dir, ckpt).awaitTermination(120)
    assert state_map() == want
    assert len([d for d in os.listdir(sketch_dir) if d.startswith("batch=")]) >= 3

    # compaction folds to one partition, state unchanged; a partial-
    # commit replay (clobber + rerun of the same batch id) repairs it
    lattice.compact_state(spark, BLOOM, sketch_dir)
    assert [d for d in os.listdir(sketch_dir) if d.startswith("batch=")] == [
        "batch=compacted"
    ]
    assert state_map() == want
    fn = lattice.maintain_batch(BLOOM, sketch_dir)
    fn(orders.filter(F.col("o_orderkey") % 3 == 0), 99)
    fn(orders, 99)
    assert state_map() == want  # full re-delivery of batch 99 is a no-op


def test_bloom_words_pack_exactly_the_probe_bitmap(spark):
    """Cross-op invariant: unpacking the packed words reproduces the
    position-set bitmap resume_bloom_prefilter builds, and probing the
    packed form reproduces its bloom_pass decision for every candidate
    url — the packed lattice IS the batch filter, bit for bit."""
    from collect_mobile_devices_datalake_spark.operators.selection import (
        _BLOOM_WORD,
        _bloom_probe,
        bloom_positions,
        bloom_words,
    )
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.sources.synthetic import saved_list
    from collect_mobile_devices_datalake_spark.operators.selection import (
        _poly_hash,
    )

    orders = load_table(spark, "orders", SF_SMOKE)
    urls = saved_list(orders).select("url").distinct()

    want_pos = {r["pos"] for r in bloom_positions(urls).collect()}
    packed = {r["word"]: r["bits"] for r in bloom_words(urls).collect()}
    got_pos = {
        w * _BLOOM_WORD + off
        for w, bits in packed.items()
        for off in range(_BLOOM_WORD)
        if bits >> off & 1
    }
    assert got_pos == want_pos and len(want_pos) > 0

    def member(pos: int) -> bool:
        return bool(packed.get(pos // _BLOOM_WORD, 0) >> (pos % _BLOOM_WORD) & 1)

    from collect_mobile_devices_datalake_spark.operators.selection import (
        _M_BITS,
        _MULT,
        _P,
    )

    flags = {
        r["url"]: r["bloom_pass"]
        for r in _bloom_probe(spark, SF_SMOKE).collect()
    }
    from collect_mobile_devices_datalake_spark.sources.synthetic import source_list

    cand = (
        source_list(orders)
        .filter(F.col("url") != "")
        .select("url")
        .distinct()
        .select("url", _poly_hash(F.col("url")).alias("h1"))
    )
    for r in cand.collect():
        h1 = r["h1"]
        p1 = h1 % _M_BITS
        p2 = (h1 + (h1 * _MULT) % _P) % _M_BITS
        assert (member(p1) and member(p2)) == flags[r["url"]]


def test_hll_precision_sweep_fold_identity_and_endpoint(spark):
    """The sweep's m=256 rows must equal hll_register_sketch exactly
    (same registers, same estimator), and every smaller m must equal an
    independent Python fold of the 256-register file — the fold
    identity reg' = reg & (m'-1), mrho' = max, computed from scratch."""
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_SCALE,
        HLL_SWEEP_MS,
        _HLL_NUMS,
    )
    from collect_mobile_devices_datalake_spark.registry import REGISTRY

    sweep = {
        (r.source, r.m): r
        for r in REGISTRY["hll_precision_sweep"].spark(spark, SF_SMOKE).collect()
    }
    base = {
        r.source: r
        for r in REGISTRY["hll_register_sketch"].spark(spark, SF_SMOKE).collect()
    }
    for src, b in base.items():
        s = sweep[(src, HLL_M)]
        assert (s.v_empty, s.sum_scaled, s.hll_estimate, s.n_exact) == (
            b.v_empty,
            b.sum_scaled,
            b.hll_estimate,
            b.n_exact,
        )

    # independent fold from the raw 256-register file
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_SHINGLE,
        hll_registers,
        rolling_hash,
    )
    from collect_mobile_devices_datalake_spark.functions.text import char_ngrams
    from collect_mobile_devices_datalake_spark.session import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    pairs = docs.select(
        "source", F.explode(char_ngrams(F.col("text"), HLL_SHINGLE)).alias("t")
    ).select("source", rolling_hash("t").alias("h"))
    regs = {
        (r["source"], r["reg"]): r["mrho"]
        for r in hll_registers(pairs, "source").collect()
    }
    sources = {s for s, _ in regs}
    for m in HLL_SWEEP_MS:
        for src in sources:
            fold: dict[int, int] = {}
            for (s, reg), mrho in regs.items():
                if s == src:
                    r2 = reg & (m - 1)
                    fold[r2] = max(fold.get(r2, 0), mrho)
            sum_scaled = sum(1 << (HLL_RHO_CAP - v) for v in fold.values()) + (
                m - len(fold)
            ) * HLL_SCALE
            row = sweep[(src, m)]
            assert row.v_empty == m - len(fold)
            assert row.sum_scaled == sum_scaled
            assert row.hll_estimate == round(_HLL_NUMS[m] / sum_scaled, 6)


def test_kmv_k_sweep_prefix_closure_and_formula(spark):
    """Every sweep row must be the exact estimator formula applied to
    the corresponding PREFIX of one independently-recomputed k=64
    min-list (prefix closure: the first k' minima ARE the k'-min
    sketch)."""
    from collect_mobile_devices_datalake_spark.functions.text import char_ngrams
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        HLL_SHINGLE,
        KMV_SWEEP_KS,
        P,
        rolling_hash,
    )
    from collect_mobile_devices_datalake_spark.registry import REGISTRY
    from collect_mobile_devices_datalake_spark.session import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    pairs = (
        docs.select(
            "source", F.explode(char_ngrams(F.col("text"), HLL_SHINGLE)).alias("t")
        )
        .select("source", rolling_hash("t").alias("h"))
        .distinct()
        .collect()
    )
    by_src: dict[str, list[int]] = {}
    for r in pairs:
        by_src.setdefault(r["source"], []).append(r["h"])
    got = {
        (r.source, r.k): r
        for r in REGISTRY["kmv_k_sweep"].spark(spark, SF_SMOKE).collect()
    }
    assert len(got) == len(by_src) * len(KMV_SWEEP_KS)
    for src, hs in by_src.items():
        hs.sort()
        n = len(hs)
        for k in KMV_SWEEP_KS:
            row = got[(src, k)]
            assert row.n_exact == n
            assert row.kth_min == hs[min(k, n) - 1]
            if n < k:
                assert row.est_distinct == n
            else:
                import math

                assert row.est_distinct == math.floor(float((k - 1) * P) / hs[k - 1])
