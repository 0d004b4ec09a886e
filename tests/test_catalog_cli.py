"""Catalog introspection + CLI dispatch."""

from __future__ import annotations

import shutil
import tempfile

from collect_mobile_devices_datalake_spark.catalog import (
    column_count,
    describe_lake,
    list_ingested_sources,
    spec_key_catalog,
    table_columns,
)

SF = "/root/testdata/sf0.001"


def test_table_columns_and_counts(spark):
    assert table_columns(spark, "lineitem", SF)[:2] == ["l_orderkey", "l_partkey"]
    assert column_count(spark, "lineitem", SF) == 11
    d = {r["table_name"]: r["n_columns"] for r in describe_lake(spark, SF).collect()}
    assert d["region"] == 2 and d["lineitem"] == 11


def test_spec_key_catalog_observes_dynamic_schema(spark):
    from collect_mobile_devices_datalake_spark.ingest.pipeline import (
        device_specs_view,
        ingest_source,
    )
    from collect_mobile_devices_datalake_spark.session import load_table
    from collect_mobile_devices_datalake_spark.sources.fixtures import spec_pages

    lake = tempfile.mkdtemp(prefix="cat_")
    try:
        part = load_table(spark, "part", SF)
        ingest_source(spark, spec_pages(part, "versus"), lake, "versus")
        assert list_ingested_sources(spark, lake) == ["versus"]
        keys = {
            r["spec_key"]: r["n_records"]
            for r in spec_key_catalog(device_specs_view(spark, lake)).collect()
        }
        assert set(keys) == {"screen_size", "price"}
        assert keys["price"] == part.count()
    finally:
        shutil.rmtree(lake, ignore_errors=True)


def test_cli_init_crawl_status(spark, capsys):
    from collect_mobile_devices_datalake_spark.cli import main

    lake = tempfile.mkdtemp(prefix="cli_")
    try:
        assert main(["productz", "init", "--sf-dir", SF, "--lake-dir", lake]) == 0
        assert main(["productz", "crawl", "--sf-dir", SF, "--lake-dir", lake]) == 0
        assert main(["productz", "status", "--sf-dir", SF, "--lake-dir", lake]) == 0
        out = capsys.readouterr().out
        assert "frontier initialized (200 urls)" in out
        assert "ingested 200 new records" in out
        assert "productz: 200 records in lake" in out
    finally:
        shutil.rmtree(lake, ignore_errors=True)


def test_cli_status_empty_lake_is_zero_corrupt_lake_raises(spark, capsys):
    """``status`` reads an empty lake as 0 records, but a read error on a
    committed file (a corrupt footer) fails the command instead of
    printing 0."""
    import pytest

    from collect_mobile_devices_datalake_spark.cli import main
    from collect_mobile_devices_datalake_spark.ingest import manifest

    lake = tempfile.mkdtemp(prefix="cli_")
    try:
        assert main(["versus", "status", "--sf-dir", SF, "--lake-dir", lake]) == 0
        assert "versus: 0 records in lake" in capsys.readouterr().out

        assert main(["versus", "crawl", "--sf-dir", SF, "--lake-dir", lake]) == 0
        for path in manifest.committed_files(lake, "device_specs/versus"):
            with open(path, "wb") as f:
                f.write(b"not a parquet file")
        with pytest.raises(Exception):
            main(["versus", "status", "--sf-dir", SF, "--lake-dir", lake])
    finally:
        shutil.rmtree(lake, ignore_errors=True)


def test_cli_lake_maintenance_modes(spark):
    """history / vacuum / compact CLI modes drive the manifest protocol
    end to end: crawl commits, history lists the txns, an injected
    orphan is reclaimed, compaction folds the log with state intact."""
    import io
    import os
    import tempfile, shutil
    from contextlib import redirect_stdout

    from collect_mobile_devices_datalake_spark.cli import main
    from collect_mobile_devices_datalake_spark.ingest import manifest

    lake = tempfile.mkdtemp(prefix="cli_lake_")
    try:
        assert main(["gsmarena", "crawl", "--sf-dir", SF, "--lake-dir", lake]) == 0
        assert main(["geekbench", "crawl", "--sf-dir", SF, "--lake-dir", lake]) == 0

        buf = io.StringIO()
        with redirect_stdout(buf):
            assert main(["all", "history", "--lake-dir", lake]) == 0
        hist = buf.getvalue()
        assert "device_specs/gsmarena" in hist
        n_txn = int(hist.strip().splitlines()[-1].split()[0])
        assert n_txn >= 2

        # plant an orphan (a crashed txn's staged file)
        orphan = os.path.join(lake, "device_specs", "gsmarena", "part-dead-00000.parquet")
        open(orphan, "wb").write(b"not a real parquet")
        before = manifest.read_committed(spark, lake, "device_specs").count()
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert main(["all", "vacuum", "--lake-dir", lake]) == 0
        assert "reclaimed" in buf.getvalue()
        assert not os.path.exists(orphan)

        buf = io.StringIO()
        with redirect_stdout(buf):
            assert main(["all", "compact", "--lake-dir", lake]) == 0
        assert "compacted" in buf.getvalue()
        assert len(manifest.manifest_paths(lake)) == 1
        assert manifest.read_committed(spark, lake, "device_specs").count() == before
    finally:
        shutil.rmtree(lake, ignore_errors=True)


def test_cli_init_truncates_through_the_manifest(spark):
    """Re-running init replaces the frontier atomically (truncate =
    rewrite txn), and vacuum reclaims only the replaced frontier files —
    the live frontier survives because init commits through manifests."""
    import os
    import tempfile, shutil

    from collect_mobile_devices_datalake_spark.cli import main
    from collect_mobile_devices_datalake_spark.ingest import manifest

    lake = tempfile.mkdtemp(prefix="cli_lake_")
    try:
        assert main(["productz", "init", "--sf-dir", SF, "--lake-dir", lake]) == 0
        first = manifest.committed_files(lake, "source_list/productz")
        assert first
        n_urls = manifest.read_committed(spark, lake, "source_list/productz").count()

        assert main(["productz", "init", "--sf-dir", SF, "--lake-dir", lake]) == 0
        second = manifest.committed_files(lake, "source_list/productz")
        assert second and not (set(second) & set(first))
        assert (
            manifest.read_committed(spark, lake, "source_list/productz").count()
            == n_urls
        )

        manifest.vacuum_orphans(lake, "source_list/productz", remove=True)
        assert all(os.path.exists(p) for p in second)
        assert not any(os.path.exists(p) for p in first)
    finally:
        shutil.rmtree(lake, ignore_errors=True)
