"""Count-Min Sketch: one-sided bound, mergeability, calibration shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.operators.cms import (
    DEPTH,
    SWEEP_WIDTHS,
    WIDTH,
    cms_estimate,
    cms_sketch,
    token_stream,
)
from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
from collect_mobile_devices_datalake_spark.session import load_table

from .conftest import SF_SMOKE

_ensure_loaded()


def _stream(spark):
    return token_stream(load_table(spark, "documents", SF_SMOKE)).localCheckpoint(
        eager=True
    )


def test_one_sided_over_full_vocabulary(spark):
    """est >= exact for EVERY token — the CMS guarantee, not a sample."""
    stream = _stream(spark)
    vocab = stream.groupBy("t").agg(
        F.max("h").alias("h"), F.count("*").alias("exact_count")
    )
    est = cms_estimate(vocab, cms_sketch(stream))
    bad = est.filter(F.col("est_count") < F.col("exact_count")).count()
    assert bad == 0
    assert est.count() == vocab.count()  # every token answered


def test_cellwise_sum_merge_identity(spark):
    """sketch(A ∪ B) == cell-wise sum of sketch(A) + sketch(B): the
    property that makes the sketch a shippable partial at 100 TB (and
    the state a streaming sink would fold)."""
    docs = load_table(spark, "documents", SF_SMOKE)
    a = token_stream(docs.filter(F.col("doc_id") % 2 == 0))
    b = token_stream(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (
        cms_sketch(a)
        .unionByName(cms_sketch(b))
        .groupBy("row_j", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = cms_sketch(token_stream(docs))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_sketch_size_is_bounded(spark):
    """The sketch never exceeds depth*width cells regardless of corpus."""
    sk = cms_sketch(_stream(spark))
    assert sk.count() <= DEPTH * WIDTH


def test_width_calibration_monotone(spark):
    """Total overestimate must not grow with width (cells only split)."""
    rows = (
        REGISTRY["cms_width_calibration"].spark(spark, SF_SMOKE).orderBy("width").collect()
    )
    assert [r.width for r in rows] == sorted(SWEEP_WIDTHS)
    totals = [r.total_overestimate for r in rows]
    assert totals == sorted(totals, reverse=True)
    for r in rows:
        assert r.max_overestimate >= 0 and r.total_overestimate >= 0


# --- streaming maintenance ---------------------------------------------------


def _state_map(df):
    return {(r["row_j"], r["cell"]): r["cnt"] for r in df.collect()}


def test_cms_maintenance_stream_matches_batch(spark, tmp_path):
    """Chunked streamed arrivals converge to the batch sketch; replay of
    a batch id repairs in place; compaction commits atomically through
    the manifest (an uncommitted compacted dir stays invisible)."""
    import os

    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import CMS

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    docs_dir = str(tmp_path / "docs_in")
    sketch_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, CMS, docs_dir, sketch_dir, ckpt).awaitTermination(120)
    second.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, CMS, docs_dir, sketch_dir, ckpt).awaitTermination(120)

    want = _state_map(cms_sketch(token_stream(docs)))
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want and len(want) > 0

    # checkpoint replay (same batch id) rewrites wholesale: no drift
    fn = lattice.maintain_batch(CMS, sketch_dir)
    fn(first, 0)
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want

    # crash window: a compacted generation WITHOUT a manifest commit is
    # invisible — simulate by writing the c-dir by hand
    cms_sketch(token_stream(docs)).write.mode("overwrite").parquet(
        os.path.join(sketch_dir, "batch=c99")
    )
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want

    # committed compaction folds to one generation, state unchanged
    lattice.compact_state(spark, CMS, sketch_dir)
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want
    live = [d for d in os.listdir(sketch_dir) if d.startswith("batch=")]
    # absorbed dirs are GC'd; only the committed generation remains
    # (plus the orphan c99, which stays invisible and superseded)
    assert any(d.startswith("batch=c") for d in live)

    # post-compaction arrivals keep accumulating on top of the generation
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    lattice.start_maintenance_stream(spark, CMS, docs_dir, sketch_dir, ckpt).awaitTermination(120)
    got = _state_map(lattice.read_state(spark, CMS, sketch_dir))
    want_plus = _state_map(
        cms_sketch(token_stream(docs.unionByName(first)))
    )
    assert got == want_plus


def test_cms_second_compaction_no_double_count(spark, tmp_path):
    """Compacting twice (generation over generation) must not re-absorb
    mass: the sum lattice is not idempotent, so this is THE correctness
    property of the manifest protocol."""
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import CMS

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    sketch_dir = str(tmp_path / "sketch")
    fn = lattice.maintain_batch(CMS, sketch_dir)
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)
    want = _state_map(lattice.read_state(spark, CMS, sketch_dir))
    lattice.compact_state(spark, CMS, sketch_dir)
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want
    fn(docs.filter(F.col("doc_id") % 3 == 2), 2)
    want2 = _state_map(cms_sketch(token_stream(docs)))
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want2
    lattice.compact_state(spark, CMS, sketch_dir)
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want2
    lattice.compact_state(spark, CMS, sketch_dir)  # no-op on a single generation
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want2


def test_dyadic_width_fold_identity(spark):
    """A width-w sketch is EXACTLY the mod-w cell-fold of a width-kw
    sketch built with the same row hashes — the invariant
    q_cms_width_calibration now relies on to serve three widths from
    one stream aggregation (cell = (affine(h) % P) % width, and
    (x % kw) % w == x % w whenever w | kw)."""
    stream = _stream(spark)
    w_max = max(SWEEP_WIDTHS)
    base = cms_sketch(stream, width=w_max)
    for w in SWEEP_WIDTHS:
        if w == w_max:
            continue
        assert w_max % w == 0  # the divisibility the fold needs
        folded = base.groupBy("row_j", (F.col("cell") % w).alias("cell")).agg(
            F.sum("cnt").alias("cnt")
        )
        direct = cms_sketch(stream, width=w)
        assert folded.exceptAll(direct).count() == 0
        assert direct.exceptAll(folded).count() == 0


def test_compaction_fails_fast_on_remote_root(spark):
    """The sum-lattice manifest commits via os.replace overwrite-atomicity,
    which has no Hadoop-FS equivalent — a remote state root must refuse
    compaction UP FRONT (r12 advice closure), never die mid-protocol.
    Reads/appends stay correct un-compacted (no manifest -> every numeric
    batch dir live)."""
    import pytest

    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import CMS

    for root in ("s3a://bucket/sketch", "hdfs://nn:8020/sketch"):
        with pytest.raises(NotImplementedError, match="atomic manifest swap"):
            lattice.compact_state(spark, CMS, root)


class _MockRenameFS:
    """Mock filesystem adapter with an atomic rename-OVERWRITE contract
    (the HDFS FileContext shape). Backed by real local files so Spark-
    side readers see committed manifests; instruments the commit point
    to prove (a) commits serialize and (b) readers never observe a
    partial manifest."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self._in_critical = False
        self.ops: list[tuple[str, str]] = []
        self.overlap_detected = False

    def exists(self, path: str) -> bool:
        import os

        return os.path.isfile(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, data: str) -> None:
        with open(path, "w") as f:
            f.write(data)
        self.ops.append(("write", path))

    def rename_overwrite(self, src: str, dst: str) -> None:
        import os
        import time

        with self._lock:  # the store's atomicity guarantee
            if self._in_critical:
                self.overlap_detected = True
            self._in_critical = True
            try:
                time.sleep(0.002)  # widen the window so overlap WOULD show
                os.replace(src, dst)
                self.ops.append(("rename", dst))
            finally:
                self._in_critical = False


def test_rename_contract_store_serializes_concurrent_commits(tmp_path):
    """RenameContractManifestStore under concurrent committers: every
    commit goes stage-then-rename, renames serialize through the store's
    contract, the final manifest is one committer's payload intact, and
    a concurrent reader only ever sees absent-or-complete manifests."""
    import json
    import threading

    from collect_mobile_devices_datalake_spark.streaming.fsutil import (
        RenameContractManifestStore,
    )

    fs = _MockRenameFS()
    store = RenameContractManifestStore(fs)
    mpath = str(tmp_path / "compaction.json")
    payloads = [
        {"compacted_dir": f"batch=c{i}", "absorbed": [f"batch={i}"]}
        for i in range(8)
    ]
    seen: list[dict] = []
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            m = store.read(mpath)  # must never raise on a partial file
            if m is not None:
                seen.append(m)

    rt = threading.Thread(target=reader)
    rt.start()
    threads = [
        threading.Thread(target=store.commit, args=(mpath, p)) for p in payloads
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    rt.join()

    assert not fs.overlap_detected  # commits serialized at the contract
    final = store.read(mpath)
    assert final in payloads  # one committer's payload, intact
    assert all(m in payloads for m in seen)  # no torn reads
    renames = [op for op in fs.ops if op[0] == "rename"]
    assert len(renames) == len(payloads)  # every commit reached the point
    # protocol shape: each payload staged to a tmp path, never to the
    # manifest directly
    assert all(p.endswith(".tmp") for op, p in fs.ops if op == "write")


def test_compaction_through_injected_rename_contract_store(spark, tmp_path):
    """The full sum-lattice compaction protocol driven end-to-end through
    an injected RenameContractManifestStore (the remote-root strategy),
    data dirs untouched: state identical before/after both compactions,
    no double count across generations — byte-for-byte the local
    protocol's guarantees via the strategy seam."""
    from collect_mobile_devices_datalake_spark.streaming.fsutil import (
        RenameContractManifestStore,
    )
    from collect_mobile_devices_datalake_spark.streaming import lattice
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import CMS

    fs = _MockRenameFS()
    store = RenameContractManifestStore(fs)
    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    sketch_dir = str(tmp_path / "sketch")
    fn = lattice.maintain_batch(CMS, sketch_dir)
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)
    want = _state_map(lattice.read_state(spark, CMS, sketch_dir))
    lattice.compact_state(spark, CMS, sketch_dir, store=store)
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == want
    fn(docs.filter(F.col("doc_id") % 3 == 2), 2)
    lattice.compact_state(spark, CMS, sketch_dir, store=store)
    assert _state_map(lattice.read_state(spark, CMS, sketch_dir)) == _state_map(
        cms_sketch(token_stream(docs))
    )
    # both commits went through the strategy's rename contract
    assert sum(1 for op, _ in fs.ops if op == "rename") == 2


def test_manifest_store_registry_resolution(tmp_path):
    """manifest_store_for: local roots -> os.replace store; remote roots
    -> the scheme's registered store; unregistered remote -> None (and
    compaction refuses with the documented error)."""
    from collect_mobile_devices_datalake_spark.streaming import fsutil

    assert type(fsutil.manifest_store_for(str(tmp_path))).__name__ == (
        "LocalManifestStore"
    )
    assert fsutil.manifest_store_for("s3a://bucket/sketch") is None
    mock = fsutil.RenameContractManifestStore(_MockRenameFS())
    fsutil.register_manifest_store("hdfs", mock)
    try:
        assert fsutil.manifest_store_for("hdfs://nn:8020/sketch") is mock
        assert fsutil.manifest_store_for("s3a://bucket/sketch") is None
    finally:
        fsutil._MANIFEST_STORES.pop("hdfs", None)
