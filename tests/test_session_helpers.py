"""fan_out helper: spreads narrow scans, no-op at real parallelism."""

from __future__ import annotations

from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.session import fan_out, load_table

from .conftest import SF_SMOKE


def test_fan_out_spreads_single_partition_scan(spark):
    d = load_table(spark, "documents", SF_SMOKE)
    assert d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    f = fan_out(d, "doc_id")
    assert f.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # values untouched
    assert f.count() == d.count()
    h = lambda x: x.select(F.bit_xor(F.xxhash64("doc_id", "text"))).first()[0]  # noqa: E731
    assert h(f) == h(d)


def test_fan_out_noop_when_scan_already_wide(spark, tmp_path):
    """fan_out decides from scan metadata (file count / size estimate), never
    df.rdd — a many-file table, the 100 TB shape, passes through unchanged."""
    d = load_table(spark, "documents", SF_SMOKE)
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide_docs")
    d.repartition(target + 5, "doc_id").write.parquet(path)
    wide = spark.read.parquet(path)
    assert len(wide.inputFiles()) >= target
    same = fan_out(wide, "doc_id")
    # unchanged frame: no extra repartition inserted
    assert same is wide


def test_fan_out_without_keys_round_robins(spark):
    d = load_table(spark, "nation", SF_SMOKE)
    f = fan_out(d)
    assert f.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert f.count() == d.count()


def test_table_fingerprint_detects_preserved_mtime_rewrite(tmp_path):
    """A corpus rewritten in place with size AND mtime preserved (cp -p,
    rsync -t, archive extraction) must still change the fingerprint —
    the 16-byte tail sample catches what metadata alone cannot. Stale
    fingerprints would serve cached PPJoin mode / doc counts built from
    the previous bytes (ADVICE r8)."""
    import os

    from collect_mobile_devices_datalake_spark.session import table_fingerprint

    root = tmp_path / "documents.parquet"
    root.mkdir()
    f = root / "part-0.parquet"
    f.write_bytes(b"A" * 64)
    st = os.stat(f)
    fp1 = table_fingerprint(str(tmp_path), "documents")

    # same size, same mtime, different trailing bytes
    f.write_bytes(b"A" * 48 + b"B" * 16)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp2 = table_fingerprint(str(tmp_path), "documents")
    assert fp1 != fp2

    # identical bytes + restored mtime -> identical fingerprint (cache
    # hits survive a byte-identical rewrite)
    f.write_bytes(b"A" * 64)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert table_fingerprint(str(tmp_path), "documents") == fp1

    # file-count changes are folded in even when tails/sizes repeat
    (root / "part-1.parquet").write_bytes(b"A" * 64)
    assert table_fingerprint(str(tmp_path), "documents") != fp1


def test_ann_index_sweep_liveness_rules(tmp_path, monkeypatch):
    """Dead-pid + aged roots go; live-pid and young roots stay; unmarked
    roots are not the sweep's — the stream-temp-root rules applied to the
    persisted ANN index dirs."""
    import os
    import time

    from collect_mobile_devices_datalake_spark import artifacts

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    old = time.time() - 7200
    live = tmp_path / f"graft_pid{os.getpid()}_lsh_x"  # me: alive
    dead_old = tmp_path / "graft_pid999999999_lsh_x"
    dead_young = tmp_path / "graft_pid999999998_lsh_y"
    unmarked_old = tmp_path / "ann_index_legacy"
    for d in (live, dead_old, dead_young, unmarked_old):
        d.mkdir()
    os.utime(live, (old, old))
    os.utime(dead_old, (old, old))
    os.utime(unmarked_old, (old, old))
    artifacts.sweep_stale(min_age_sec=3600)
    assert live.exists()          # alive pid, never swept inside TTL
    assert not dead_old.exists()  # dead pid + aged
    assert dead_young.exists()    # dead pid but young (recycling guard)
    assert unmarked_old.exists()  # no graft_pid marker: left to the tmp cleaner

    # ADVICE r12: the live-pid exemption is capped by the hard TTL —
    # a pid recycled by an unrelated long-lived process must not pin an
    # orphaned index dir forever
    ancient = time.time() - 10 * 86400
    live_ancient = tmp_path / f"graft_pid{os.getpid()}_lsh_z"
    live_ancient.mkdir()
    os.utime(live_ancient, (ancient, ancient))
    artifacts.sweep_stale(min_age_sec=3600, hard_ttl_sec=2 * 86400)
    assert live.exists()              # alive + under the cap: stays
    assert not live_ancient.exists()  # alive but past the hard TTL: goes


def test_stream_temp_root_sweep_covers_every_streaming_row(
    spark, tmp_path, monkeypatch
):
    """Every streaming registry row makes its temp root under a name the
    stale-root sweep recognises: with the owning pid dead and the root
    aged, the sweep removes it; with the pid alive, the sweep keeps it.
    Each row is stopped right after it makes its root (before any copy
    or stream), so the test costs no Spark job."""
    import os
    import tempfile
    import time

    import pytest

    from collect_mobile_devices_datalake_spark import artifacts
    from collect_mobile_devices_datalake_spark.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    class _RootMade(Exception):
        pass

    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp_then_stop(*args, **kwargs):
        real_mkdtemp(*args, **kwargs)
        raise _RootMade

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _ensure_loaded()
    rows = sorted(n for n in REGISTRY if n.startswith("streaming_"))
    assert len(rows) == 11
    with monkeypatch.context() as m:
        m.setattr(tempfile, "mkdtemp", mkdtemp_then_stop)
        for name in rows:
            with pytest.raises(_RootMade):
                REGISTRY[name].spark(spark, SF_SMOKE)
    roots = sorted(os.listdir(tmp_path))
    assert len(roots) == len(rows)

    old = time.time() - 7200
    dead = []
    for name in roots:
        assert f"pid{os.getpid()}_" in name, name
        d = tmp_path / name.replace(f"pid{os.getpid()}_", "pid999999999_", 1)
        d.mkdir()
        os.utime(tmp_path / name, (old, old))
        os.utime(d, (old, old))
        dead.append(d)
    artifacts.sweep_stale(min_age_sec=3600)
    assert [d.name for d in dead if d.exists()] == []  # dead pid + aged: gone
    assert sorted(os.listdir(tmp_path)) == roots  # live pid: kept


def test_cleanup_removes_every_scratch_dir_and_rebuilds(spark, tmp_path, monkeypatch):
    """Persisted indexes, the time-travel lake and streaming roots all
    live in scratch dirs of one store: ``cleanup()`` leaves the temp dir
    empty, and the next ``bucket_index`` call rebuilds its table."""
    import os
    import tempfile

    from collect_mobile_devices_datalake_spark import artifacts
    from collect_mobile_devices_datalake_spark.operators import similarity as S
    from collect_mobile_devices_datalake_spark.operators import streaming_batch as SB
    from collect_mobile_devices_datalake_spark.operators.lake_ops import (
        _time_travel_lake,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    artifacts.cleanup()  # earlier tests' artifacts live in the real temp dir
    n = S.bucket_index(spark, SF_SMOKE).count()
    _time_travel_lake(spark, SF_SMOKE)
    SB._stream_temp_root()
    assert len(os.listdir(tmp_path)) == 3

    artifacts.cleanup()
    assert os.listdir(tmp_path) == []

    again = S.bucket_index(spark, SF_SMOKE)
    assert [d for d in os.listdir(tmp_path) if "_lsh_" in d]
    assert again.count() == n
    artifacts.cleanup()


def test_bucket_udf_is_built_once_per_application():
    """The bucket kernel is keyed by the Spark application id: a UDF
    built under a stopped session points at that context's accumulator
    server, so a new application must get its own."""
    from types import SimpleNamespace

    from collect_mobile_devices_datalake_spark.operators import similarity as S

    def app(app_id: str):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    planes = ((0, 1, 2),)
    a1 = S._hyperplane_buckets_udf(app("app-stub-a"), planes)
    b = S._hyperplane_buckets_udf(app("app-stub-b"), planes)
    a2 = S._hyperplane_buckets_udf(app("app-stub-a"), planes)
    assert a1 is not b
    assert a1 is a2
