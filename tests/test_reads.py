"""Typed parquet reads: every package read hands Spark its schema
(``session.read_parquet`` from the footer, ``load_table`` from the
memoized inference), so opening a table starts no Spark job and yields
the schema Spark's own inference gives."""

from __future__ import annotations

import os
import pathlib

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from collect_mobile_devices_datalake_spark import artifacts
from collect_mobile_devices_datalake_spark.ingest import manifest
from collect_mobile_devices_datalake_spark.session import (
    load_table,
    parquet_rows,
    read_parquet,
)
from collect_mobile_devices_datalake_spark.streaming import lattice
from collect_mobile_devices_datalake_spark.streaming import rollup_maintenance as R
from collect_mobile_devices_datalake_spark.streaming.profile_maintenance import PROFILE
from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import KMV

from .conftest import SF_SMOKE, jobs_in_group

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@pytest.mark.parametrize("name", TABLES)
def test_load_table_schema_equals_inferred(spark, name):
    typed = load_table(spark, name, SF_SMOKE)
    plain = spark.read.parquet(os.path.join(SF_SMOKE, f"{name}.parquet"))
    if name == "events" and isinstance(plain.schema["ts"].dataType, LongType):
        # load_table's nanos -> micros rebuild
        plain = plain.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    assert typed.schema == plain.schema
    assert typed.count() == plain.count()


def test_committed_manifest_table_schema_equals_inferred(spark, tmp_path):
    lake = str(tmp_path)
    rows = load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        F.array("o_custkey", "o_orderkey").alias("ints"),
        F.create_map(F.col("o_orderstatus"), F.col("o_totalprice")).alias("m"),
        F.struct("o_orderpriority", "o_orderstatus").alias("s"),
    )
    manifest.commit_tables(lake, [("t", rows.filter("o_orderkey % 2 = 0"))])
    manifest.commit_tables(lake, [("t", rows.filter("o_orderkey % 2 = 1"))])
    files = manifest.committed_files(lake, "t")
    assert len(files) >= 2
    typed = manifest.read_committed(spark, lake, "t")
    assert typed.schema == spark.read.parquet(*files).schema
    assert typed.count() == rows.count()


def test_rollup_partitioned_sink_schema_equals_inferred(spark, tmp_path):
    """The hourly sink is ``batch=<id>`` partitioned: the footer gives
    the data columns and partition discovery still adds ``batch``."""
    rollup, derived = str(tmp_path / "hourly"), str(tmp_path / "derived")
    # the sink's rows: finalized_hourly_stream's aggregate, run as a batch
    hourly = (
        load_table(spark, "events", SF_SMOKE)
        .groupBy(F.window("ts", "1 hour").start.alias("bucket_start"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    write = R._write_finalized(rollup)
    write(hourly, 0)
    write(hourly.limit(0), 1)
    write(hourly.limit(3), 2)
    typed = R.read_grain(spark, rollup, derived, "hour")
    plain = spark.read.parquet(rollup)
    assert "batch" in typed.columns
    assert typed.schema == plain.schema
    assert typed.count() == plain.count() == hourly.count() + 3


@pytest.mark.parametrize("fam", [KMV, PROFILE], ids=["KMV", "PROFILE"])
def test_lattice_state_dir_schema_equals_inferred(spark, tmp_path, fam):
    schema = spark.createDataFrame([], fam.source_schema).schema
    rows = load_table(spark, "documents", SF_SMOKE).select(
        *[F.col(f.name).cast(f.dataType) for f in schema.fields]
    )
    st = str(tmp_path / fam.name)
    fn = lattice.maintain_batch(fam, st)
    fn(rows.filter("doc_id % 2 = 0"), 0)
    fn(rows.filter("doc_id % 2 = 1"), 1)
    parts = [os.path.join(st, d) for d in lattice.live_parts(spark, fam, st)]
    assert len(parts) == 2
    assert read_parquet(spark, *parts).schema == spark.read.parquet(*parts).schema
    assert read_parquet(spark, st).schema == spark.read.parquet(st).schema


def test_persisted_table_schema_equals_inferred(spark):
    df = artifacts.persisted_table(
        spark, "typed_read_probe", "v1", [(SF_SMOKE, "embeddings")],
        lambda: load_table(spark, "embeddings", SF_SMOKE).withColumn(
            "norm", F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        ),
    )
    path = os.path.dirname(df.inputFiles()[0])
    assert df.schema == spark.read.parquet(path).schema


def test_merge_schema_session_keeps_spark_inference(spark, tmp_path):
    """With ``mergeSchema`` on, Spark's inference unions every file's
    columns; one footer cannot give that, so the read infers."""
    root = str(tmp_path / "t")
    spark.range(3).write.parquet(os.path.join(root, "k=0"))
    spark.range(3).withColumn("extra", F.lit("x")).write.parquet(os.path.join(root, "k=1"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        typed = read_parquet(spark, root)
        assert "extra" in typed.columns
        assert typed.schema == spark.read.parquet(root).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_reads_start_no_job(spark, tmp_path):
    """A warm ``load_table`` and a ``read_parquet`` of a Spark-written
    dir only open the table: its schema is known, so no job runs."""
    load_table(spark, "lineitem", SF_SMOKE)  # fills the schema memo
    assert jobs_in_group(
        spark, "typed-load", lambda: load_table(spark, "lineitem", SF_SMOKE)
    ) == 0
    out = str(tmp_path / "w")
    load_table(spark, "orders", SF_SMOKE).write.parquet(out)
    assert jobs_in_group(spark, "typed-read", lambda: read_parquet(spark, out)) == 0


def test_one_parquet_read_path():
    """Only ``session.py`` calls Spark's parquet reader directly; every
    other module reads through ``read_parquet`` / ``load_table``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "collect_mobile_devices_datalake_spark"
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "session.py" and ".read.parquet(" in p.read_text()
    ]
    assert offenders == []


def test_load_table_missing_input_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        load_table(spark, "orders", str(tmp_path / "absent"))
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert "orders.parquet" in str(err.value)


def test_parquet_rows_equals_count(spark, tmp_path):
    """Footer row counts agree with a Spark count; a missing path or an
    empty write holds 0 rows."""
    orders = load_table(spark, "orders", SF_SMOKE)
    part = str(tmp_path / "part")
    orders.write.partitionBy("o_orderstatus").parquet(part)
    assert parquet_rows(spark, part) == spark.read.parquet(part).count() == orders.count()
    empty = str(tmp_path / "empty")
    orders.limit(0).write.parquet(empty)
    assert parquet_rows(spark, empty) == spark.read.parquet(empty).count() == 0
    assert parquet_rows(spark, str(tmp_path / "missing")) == 0
    assert jobs_in_group(spark, "footer-rows", lambda: parquet_rows(spark, part)) == 0
