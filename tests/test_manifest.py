"""Atomic manifest-commit protocol (ingest/manifest.py).

The reference writes data, then the saved_list checkpoint, as two
separate inserts (app.js:441-453) — a crash between them leaves data
visible without its checkpoint. These tests pin the closed version:
stage files → publish ONE manifest by atomic rename; committed readers
see a transaction entirely or not at all, and a crash at ANY point
between the data write and the manifest publish leaves the previous
snapshot intact, with replay repairing the lake to exactly-once content.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.ingest import manifest
from collect_mobile_devices_datalake_spark.ingest.pipeline import (
    device_specs_view,
    ingest_source,
)
from collect_mobile_devices_datalake_spark.session import load_table
from collect_mobile_devices_datalake_spark.sources.fixtures import spec_pages

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def lake():
    d = tempfile.mkdtemp(prefix="lake_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_publish_is_idempotent_and_ordered(spark, lake):
    df = spark.range(5).select(F.col("id").cast("string").alias("url"))
    names = manifest.stage_write(df, lake, "t1", "aaaa")
    assert names and all(n.endswith(".parquet") for n in names)
    first = manifest.publish(lake, "aaaa", {"t1": names})
    assert first is not None and os.path.exists(first)
    # replaying the SAME txn publishes nothing
    assert manifest.publish(lake, "aaaa", {"t1": names}) is None
    assert manifest.committed(lake, "aaaa")
    assert not manifest.committed(lake, "bbbb")
    # a second txn sequences after the first
    names2 = manifest.stage_write(df, lake, "t1", "bbbb")
    second = manifest.publish(lake, "bbbb", {"t1": names2})
    assert sorted([first, second]) == [first, second]
    got = manifest.read_committed(spark, lake, "t1")
    assert got.count() == 10


def test_crash_before_publish_is_invisible(spark, lake):
    """Kill between the file write and the manifest publish: a committed
    reader sees the OLD snapshot; the staged files are orphans."""
    df = spark.range(7).select(F.col("id").cast("string").alias("url"))
    manifest.commit_tables(lake, [("t", df)], txn_id="live")
    assert manifest.read_committed(spark, lake, "t").count() == 7

    # the crash: files staged into the table dir, no manifest written
    manifest.stage_write(df, lake, "t", "dead")
    # the files physically exist in the same directory...
    on_disk = [n for n in os.listdir(os.path.join(lake, "t")) if n.endswith(".parquet")]
    assert len(on_disk) > manifest_file_count(lake, "t")
    # ...but the committed snapshot is unchanged (no orphan reads)
    assert manifest.read_committed(spark, lake, "t").count() == 7

    # vacuum identifies exactly the dead txn's files, then reclaims them
    orphans = manifest.vacuum_orphans(lake, "t")
    assert orphans and all("dead" in n for n in orphans)
    manifest.vacuum_orphans(lake, "t", remove=True)
    assert manifest.vacuum_orphans(lake, "t") == []
    assert manifest.read_committed(spark, lake, "t").count() == 7


def test_empty_committed_table_prunes_joins(spark, lake):
    """A table with nothing committed reads as an empty relation the
    optimizer can see: an anti-join against it folds to its left side,
    and no Join is left in the optimized plan."""
    empty = manifest.read_committed(spark, lake, "saved_list/x", schema="url string")
    frontier = spark.range(10).select(F.col("id").cast("string").alias("url"))
    q = frontier.join(empty, "url", "left_anti")
    assert "Join" not in q._jdf.queryExecution().optimizedPlan().toString()
    assert q.count() == 10


def manifest_file_count(lake: str, table: str) -> int:
    return len(manifest.committed_files(lake, table))


def test_ingest_crash_then_replay_repairs(spark, lake, monkeypatch):
    """ingest_source dies between staging and publish → nothing is
    committed (data NOR saved_list, atomically), so the re-run re-ingests
    the whole batch and the lake converges to exactly-once content."""
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "gsmarena")
    n_ok = pages.filter(F.col("status") == 200).count()

    real_publish = manifest.publish

    def exploding_publish(lake_dir, txn_id, tables, removes=None):
        # The telemetry log commits in its OWN txn by design (it records
        # the attempt even when the data commit fails) — crash only the
        # data transaction, after its files are staged.
        if any(t.startswith("device_specs") for t in tables):
            raise OSError("injected crash before manifest publish")
        return real_publish(lake_dir, txn_id, tables, removes=removes)

    monkeypatch.setattr(manifest, "publish", exploding_publish)
    with pytest.raises(OSError, match="injected crash"):
        ingest_source(spark, pages, lake, "gsmarena")

    # atomicity: neither the data nor the checkpoint became visible
    assert manifest.committed_files(lake, "device_specs") == []
    assert manifest.committed_files(lake, "saved_list") == []
    with pytest.raises(FileNotFoundError):
        device_specs_view(spark, lake)
    # the staged data files exist on disk as orphans
    assert manifest.vacuum_orphans(lake, "device_specs/gsmarena")

    # replay: resume anti-join sees an EMPTY committed saved_list, so the
    # full batch re-ingests under a fresh txn
    monkeypatch.setattr(manifest, "publish", real_publish)
    n2 = ingest_source(spark, pages, lake, "gsmarena")
    assert n2 == n_ok
    view = device_specs_view(spark, lake)
    assert view.count() == n_ok
    assert view.select("src_url").distinct().count() == n_ok

    # third run: checkpoint committed → no-op
    assert ingest_source(spark, pages, lake, "gsmarena") == 0

    # the crashed txn's orphans are reclaimable without touching live data
    manifest.vacuum_orphans(lake, "device_specs/gsmarena", remove=True)
    manifest.vacuum_orphans(lake, "saved_list/gsmarena", remove=True)
    assert device_specs_view(spark, lake).count() == n_ok


def test_ingest_data_and_checkpoint_commit_together(spark, lake):
    """One manifest lists BOTH the data files and the saved_list files —
    the two-phase window of the reference is structurally gone."""
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "gsmarena")
    ingest_source(spark, pages, lake, "gsmarena")
    import json

    # the telemetry log commits in its own txn; the DATA txn is the one
    # whose manifest must list data + checkpoint together
    bodies = [json.load(open(p)) for p in manifest.manifest_paths(lake)]
    data_bodies = [
        b for b in bodies if any(t.startswith("device_specs") for t in b["tables"])
    ]
    assert len(data_bodies) == 1
    tables = set(data_bodies[0]["tables"])
    assert "device_specs/gsmarena" in tables
    assert "saved_list/gsmarena" in tables


def test_streaming_replay_of_committed_batch_is_noop(spark, lake):
    """foreachBatch re-delivery of an already-COMMITTED batch id returns
    before reading anything — exactly-once via the txn gate."""
    from collect_mobile_devices_datalake_spark.streaming.pipeline import (
        _upsert_batch,
    )

    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "productz").filter(F.col("p_partkey") < 100)
    fn = _upsert_batch(lake, "productz")
    fn(pages, 7)
    table = "device_specs/productz"
    n1 = len(manifest.committed_files(lake, table))
    assert n1 > 0
    n_manifests = len(manifest.manifest_paths(lake))
    fn(pages, 7)  # replay: committed txn → immediate no-op
    assert len(manifest.committed_files(lake, table)) == n1
    assert len(manifest.manifest_paths(lake)) == n_manifests
    got = manifest.read_committed(spark, lake, table)
    assert got.count() == pages.count()
    assert got.select("src_url").distinct().count() == pages.count()


def test_compaction_preserves_snapshot_and_survives_crash_mid_sweep(spark, lake):
    df = spark.range(4).select(F.col("id").cast("string").alias("url"))
    for i in range(5):
        manifest.commit_tables(lake, [("t", df)], txn_id=f"tx{i}")
    before = manifest.read_committed(spark, lake, "t").count()
    assert before == 20 and len(manifest.manifest_paths(lake)) == 5

    # simulate the race/crash: merged manifest published but only SOME
    # originals swept — the dedupe in committed_files keeps the snapshot
    # exact even while both generations are visible
    originals = manifest.manifest_paths(lake)
    merged = manifest.publish(
        lake,
        "compact-manual",
        {
            "t": [
                os.path.basename(p)
                for p in manifest.committed_files(lake, "t")
            ]
        },
    )
    assert merged is not None
    os.remove(originals[0])  # partial sweep, then "crash"
    assert manifest.read_committed(spark, lake, "t").count() == before

    # the real compaction folds everything that remains into one manifest
    manifest.compact_manifests(lake)
    assert len(manifest.manifest_paths(lake)) == 1
    assert manifest.read_committed(spark, lake, "t").count() == before
    # and new transactions continue on top of the compacted log
    manifest.commit_tables(lake, [("t", df)], txn_id="after")
    assert manifest.read_committed(spark, lake, "t").count() == before + 4


def test_time_travel_reads_historical_snapshot(spark, lake):
    """as_of=<txn> re-reads the lake exactly as of that commit while the
    live snapshot keeps growing — the reproducibility pin a training run
    records next to its outputs."""
    df1 = spark.range(5).select(F.col("id").cast("string").alias("url"))
    df2 = spark.range(5, 12).select(F.col("id").cast("string").alias("url"))
    manifest.commit_tables(lake, [("t", df1)], txn_id="txn1")
    manifest.commit_tables(lake, [("t", df2)], txn_id="txn2")

    assert manifest.read_committed(spark, lake, "t").count() == 12
    old = manifest.read_committed(spark, lake, "t", as_of="txn1")
    assert old.count() == 5
    assert {r["url"] for r in old.collect()} == {str(i) for i in range(5)}
    assert manifest.read_committed(spark, lake, "t", as_of="txn2").count() == 12

    hist = manifest.snapshots(lake)
    assert [h["txn_id"] for h in hist] == ["txn1", "txn2"]
    assert all(h["tables"] == ["t"] for h in hist)

    # an unknown pin fails loudly, never silently reads the live table
    with pytest.raises(KeyError, match="txn9"):
        manifest.read_committed(spark, lake, "t", as_of="txn9")


def test_compaction_folds_history_and_stale_pins_fail(spark, lake):
    """compact_manifests trades history for O(1) snapshot resolution:
    the live snapshot is unchanged, but a pre-compaction pin now raises
    (same horizon semantics as a checkpoint-cleaned Delta log)."""
    df = spark.range(3).select(F.col("id").cast("string").alias("url"))
    manifest.commit_tables(lake, [("t", df)], txn_id="txn1")
    manifest.commit_tables(lake, [("t", df)], txn_id="txn2")
    assert manifest.compact_manifests(lake) is not None

    assert manifest.read_committed(spark, lake, "t").count() == 6
    with pytest.raises(KeyError, match="txn1"):
        manifest.committed_files(lake, "t", as_of="txn1")
    # the merged manifest itself is a valid pin
    merged_txn = manifest.snapshots(lake)[-1]["txn_id"]
    assert manifest.read_committed(spark, lake, "t", as_of=merged_txn).count() == 6


def test_commit_after_compaction_sequences_after_the_merged_manifest(spark, lake):
    """The next seq is 1 + the highest committed seq, not the manifest
    count: after compaction folds three commits into one, a new commit
    still sorts after the merged manifest, so its pin sees the whole
    table and a later rewrite's removes apply after the files they
    remove were added. With the manifest count as the seq, the new
    commit sorted first: 10 rows as of it, and 70 rows (40 distinct)
    after the rewrite."""
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).select(F.col("id").cast("string").alias("url"))
        manifest.commit_tables(lake, [("t", df)], txn_id=f"txn{i}")
    assert manifest.compact_manifests(lake) is not None
    df = spark.range(30, 40).select(F.col("id").cast("string").alias("url"))
    manifest.commit_tables(lake, [("t", df)], txn_id="txn3")

    assert manifest.read_committed(spark, lake, "t", as_of="txn3").count() == 40
    assert manifest.snapshots(lake)[-1]["txn_id"] == "txn3"

    assert manifest.rewrite_table(spark, lake, "t", target_files=1) is not None
    got = manifest.read_committed(spark, lake, "t")
    assert got.count() == 40 and got.distinct().count() == 40


def test_rewrite_table_folds_small_files_atomically(spark, lake):
    """OPTIMIZE: the rewrite txn swaps N small files for 1 large one
    with content identical; pre-rewrite pins still resolve the old
    files; vacuum then reclaims exactly the replaced set."""
    for i, txn in enumerate(["txn1", "txn2", "txn3"]):
        df = spark.range(i * 10, i * 10 + 10).select(
            F.col("id").cast("string").alias("url")
        )
        manifest.commit_tables(lake, [("t", df)], txn_id=txn)
    olds = manifest.committed_files(lake, "t")
    assert len(olds) >= 3
    before = {r["url"] for r in manifest.read_committed(spark, lake, "t").collect()}

    assert manifest.rewrite_table(spark, lake, "t", target_files=1) is not None
    news = manifest.committed_files(lake, "t")
    assert len(news) == 1 and not (set(news) & set(olds))
    assert {r["url"] for r in manifest.read_committed(spark, lake, "t").collect()} == before

    # idempotent once at target size: no new txn published
    assert manifest.rewrite_table(spark, lake, "t", target_files=1) is None

    # time travel to a pre-rewrite pin resolves the OLD files
    pinned = manifest.committed_files(lake, "t", as_of="txn3")
    assert set(pinned) == set(olds)
    assert manifest.read_committed(spark, lake, "t", as_of="txn2").count() == 20

    # the replaced files are vacuum-reclaimable debris now
    reclaimed = manifest.vacuum_orphans(lake, "t", remove=True)
    assert set(os.path.join(lake, "t", n) for n in reclaimed) == set(olds)
    assert {r["url"] for r in manifest.read_committed(spark, lake, "t").collect()} == before

    # manifest compaction folds removes to the net state
    assert manifest.compact_manifests(lake) is not None
    assert set(manifest.committed_files(lake, "t")) == set(news)
    assert manifest.read_committed(spark, lake, "t").count() == 30


def test_clustered_rewrite_produces_pruned_ranges(spark, lake):
    """sort_cols rewrite: output files carry contiguous non-overlapping
    key ranges (file-level min/max prune range scans), content intact."""
    import pyarrow.parquet as pq

    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("v")
    )
    for txn in ("a1", "a2"):
        manifest.commit_tables(
            lake,
            [("t", df.filter(F.col("v") % 2 == (1 if txn == "a2" else 0)))],
            txn_id=txn,
        )
    manifest.rewrite_table(spark, lake, "t", target_files=4, sort_cols=["k"])

    files = manifest.committed_files(lake, "t")
    assert len(files) == 4
    ranges = []
    for p in files:
        meta = pq.ParquetFile(p).metadata
        ks = [
            (meta.row_group(i).column(0).statistics.min,
             meta.row_group(i).column(0).statistics.max)
            for i in range(meta.num_row_groups)
        ]
        ranges.append((min(lo for lo, _ in ks), max(hi for _, hi in ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # contiguous, non-overlapping
    got = manifest.read_committed(spark, lake, "t")
    assert got.count() == 1000 and got.select(F.sum("v")).first()[0] == 499500
