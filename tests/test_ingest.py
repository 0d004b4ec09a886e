"""End-to-end ingest pipeline: render → parse → normalize → lake append,
with crawl_resume incremental semantics (reference EP2/EP3, SURVEY §3)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

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


def test_ingest_full_then_noop(spark, lake):
    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "gsmarena")
    n_ok = pages.filter(F.col("status") == 200).count()

    n1 = ingest_source(spark, pages, lake, "gsmarena")
    assert n1 == n_ok

    # re-run: everything checkpointed → resume anti-join yields nothing
    n2 = ingest_source(spark, pages, lake, "gsmarena")
    assert n2 == 0

    view = device_specs_view(spark, lake)
    assert view.count() == n_ok
    row = view.filter(F.col("src_url").endswith("/p_1")).first()
    assert row["brand"].startswith("Brand#")
    assert row["specs"]["general_brand"] == row["brand"]
    # continuation rule: general_type carries p_type + ' ' + p_name
    assert " " in row["specs"]["general_type"]


def test_ingest_incremental_delta(spark, lake):
    part = load_table(spark, "part", SF)
    first_half = spec_pages(part.filter(F.col("p_partkey") < 100), "productz")
    rest = spec_pages(part, "productz")

    n1 = ingest_source(spark, first_half, lake, "productz")
    n2 = ingest_source(spark, rest, lake, "productz")
    assert n1 + n2 == part.count()
    # no duplicates even though `rest` re-contains the first half
    view = device_specs_view(spark, lake)
    assert view.count() == view.select("src_url").distinct().count() == part.count()


def test_ingest_non_200_skipped_and_multisource(spark, lake):
    part = load_table(spark, "part", SF)
    for src in ["gsmarena", "geekbench", "versus"]:
        ingest_source(spark, spec_pages(part, src), lake, src)
    view = device_specs_view(spark, lake)
    by_src = {r["source"]: r["n"] for r in view.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_parts = part.count()
    n_bad = part.filter(F.col("p_partkey") % 29 == 3).count()
    assert by_src["versus"] == n_parts
    assert by_src["gsmarena"] == by_src["geekbench"] == n_parts - n_bad
    one = view.filter(F.col("source") == "versus").first()
    assert set(one["specs"].keys()) == {"screen_size", "price"}


def test_ingest_geekbench_ios_brand_override(spark, lake):
    """The REAL ingest path must apply the ios→Apple rule (app.js:629-635):
    device comes from the url's `<device>_devices` segment; ios rows get
    brand='Apple' with the model string unshifted, android rows keep the
    plain first-token split."""
    part = load_table(spark, "part", SF)
    ingest_source(spark, spec_pages(part, "geekbench"), lake, "geekbench")
    view = device_specs_view(spark, lake)

    ios = view.filter(F.col("src_url").contains("/ios_devices/"))
    android = view.filter(F.col("src_url").contains("/android_devices/"))
    assert ios.count() == part.filter(
        (F.col("p_partkey") % 7 == 1) & (F.col("p_partkey") % 29 != 3)
    ).count()
    assert ios.filter(F.col("brand") != "Apple").count() == 0
    # ios model is the UNSHIFTED "<p_brand> <p_name>" string
    assert ios.filter(~F.col("model").startswith("Brand#")).count() == 0
    assert android.filter(F.col("brand") == "Apple").count() == 0
    assert android.filter(F.col("model").startswith("Brand#")).count() == 0


def test_geekbench_url_without_com_segment_takes_the_plain_split(spark, lake):
    """A geekbench url with no ``com/`` has no device segment: its record
    gets the plain brand/model split, and the rest of the batch still
    ingests (no ANSI array-index error fails the whole crawl)."""
    from collect_mobile_devices_datalake_spark.ingest import manifest

    # p_1 renders as an ios page; p_3 is a 500 and is skipped
    part = load_table(spark, "part", SF).filter(F.col("p_partkey").between(1, 4))
    pages = spec_pages(part, "geekbench")
    odd = "https://example.org/x"
    pages = pages.withColumn(
        "url", F.when(F.col("url").endswith("/p_1"), F.lit(odd)).otherwise(F.col("url"))
    )
    assert ingest_source(spark, pages, lake, "geekbench") == 3
    raw = manifest.read_committed(spark, lake, "device_specs/geekbench")
    row = raw.filter(F.col("src_url") == odd).first()
    assert row["brand"].startswith("Brand#") and not row["model"].startswith("Brand#")


def test_resume_gate_null_url_non_200_and_duplicate_urls(spark, lake):
    """What the resume gate lets through. A page with a null url or a
    non-200 status is neither ingested nor checkpointed. Duplicate-url
    pages in one batch all land, as rows of the raw table and of the
    saved_list (the reference's list subtract keeps duplicates);
    `device_specs_view` collapses them; and the re-run is a no-op."""
    from collect_mobile_devices_datalake_spark.ingest import manifest

    part = load_table(spark, "part", SF).filter(F.col("p_partkey").between(1, 6))
    pages = spec_pages(part, "versus")  # versus renders every page as 200
    url = F.col("url")
    batch = (
        pages.filter(~url.endswith("/p_5") & ~url.endswith("/p_6"))
        .unionByName(pages.filter(url.endswith("/p_1")))
        .unionByName(
            pages.filter(url.endswith("/p_5")).withColumn("url", F.lit(None).cast("string"))
        )
        .unionByName(pages.filter(url.endswith("/p_6")).withColumn("status", F.lit(503)))
    )
    want = sorted([f"https://example.com/devices/versus/p_{k}" for k in (1, 1, 2, 3, 4)])

    assert ingest_source(spark, batch, lake, "versus") == 5
    raw = manifest.read_committed(spark, lake, "device_specs/versus")
    assert sorted(r.src_url for r in raw.collect()) == want
    def saved_urls():
        saved = manifest.read_committed(spark, lake, "saved_list/versus")
        return sorted(r.url for r in saved.collect())

    assert saved_urls() == want
    assert manifest.committed_files(lake, "dead_letter") == []
    assert device_specs_view(spark, lake).count() == 4

    assert ingest_source(spark, batch, lake, "versus") == 0
    assert saved_urls() == want


def test_parse_failures_are_quarantined_and_retried(spark, lake):
    """A page whose parse fails (geekbench name/score lists of unequal
    length → entries NULL, app.js:626) goes to the dead-letter table in
    the batch's transaction and is NOT checkpointed, so every re-run
    retries it (and quarantines it again while it still fails)."""
    from collect_mobile_devices_datalake_spark.ingest import manifest

    part = load_table(spark, "part", SF).filter(F.col("p_partkey").between(4, 7))
    pages = spec_pages(part, "geekbench")  # all four render as status 200
    broken = F.col("url").endswith("/p_5")
    pages = pages.withColumn(
        "html",
        F.when(broken, F.concat("html", F.lit('<span class="score">1</span>'))).otherwise(
            F.col("html")
        ),
    )
    bad_url = pages.filter(broken).first()["url"]

    def table_urls(table, col):
        return sorted(r[col] for r in manifest.read_committed(spark, lake, table).collect())

    assert ingest_source(spark, pages, lake, "geekbench") == 3
    assert table_urls("dead_letter/geekbench", "url") == [bad_url]
    assert bad_url not in table_urls("saved_list/geekbench", "url")
    assert len(table_urls("device_specs/geekbench", "src_url")) == 3

    assert ingest_source(spark, pages, lake, "geekbench") == 0
    assert table_urls("dead_letter/geekbench", "url") == [bad_url, bad_url]


def test_parse_runs_once_per_batch(spark, lake, monkeypatch):
    """The parse pipeline must execute ONCE per ingest batch even though four
    downstream actions consume it (count, data append, saved_list append,
    dead-letter probe). An accumulator inside a pass-through mapInPandas stage
    counts actual parse executions row-by-row."""
    from collect_mobile_devices_datalake_spark.sources import parse as parse_mod

    acc = spark.sparkContext.accumulator(0)
    real = parse_mod.PARSERS["versus"]

    def counted(pages):
        out = real(pages)

        def count_rows(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return out.mapInPandas(count_rows, out.schema)

    monkeypatch.setitem(parse_mod.PARSERS, "versus", counted)

    part = load_table(spark, "part", SF)
    pages = spec_pages(part, "versus")
    n_ok = pages.filter(F.col("status") == 200).count()

    n = ingest_source(spark, pages, lake, "versus")
    assert n > 0
    assert acc.value == n_ok  # == n_ok exactly: parse ran once, not 2-5x

    # no-op rerun: resume filter empties the batch, parse sees zero rows
    ingest_source(spark, pages, lake, "versus")
    assert acc.value == n_ok


def test_ingest_log_sink(spark, lake):
    from collect_mobile_devices_datalake_spark.ingest.pipeline import read_logs
    from collect_mobile_devices_datalake_spark.session import load_table

    part = load_table(spark, "part", SF)
    ingest_source(spark, spec_pages(part, "versus"), lake, "versus")
    ingest_source(spark, spec_pages(part, "versus"), lake, "versus")
    logs = read_logs(spark, lake).collect()
    events = [(r["source"], r["event"], r["n"]) for r in logs]
    assert ("versus", "ingest_batch", part.count()) in events
    assert ("versus", "ingest_batch", 0) in events  # the no-op rerun logged too


def test_warc_build_matches_independent_python_and_parser_is_strict(spark):
    """The JVM-built container must equal an independent Python
    construction byte for byte; the parser must reproduce the records
    and REFUSE corrupted framing (magic, payload truncation, trailer)."""
    import pytest

    from collect_mobile_devices_datalake_spark.sources.warc import (
        WARC_BUCKETS,
        parse_warc,
        warc_containers,
    )

    rows = [
        (3, "hello world", "en", "alpha", 11),
        (11, "", "en", "alpha", 0),          # empty payload record
        (19, "a\r\nb", "en", "alpha", 4),    # CRLF inside payload
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    built = {
        (r["source"], r["bucket"]): bytes(r["container"])
        for r in warc_containers(docs).collect()
    }

    def py_record(doc_id, text):
        payload = text.encode()
        hdr = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "
            f"<urn:doc:{doc_id}>\r\nContent-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    want: dict[tuple, bytes] = {}
    for doc_id, text, _, src, _ in sorted(rows):
        key = (src, doc_id % WARC_BUCKETS)
        want[key] = want.get(key, b"") + py_record(doc_id, text)
    assert built == want

    parsed = parse_warc(warc_containers(docs)).collect()
    got = {(r.doc_id): (r.offset, r.content_length, r.payload_sum) for r in parsed}
    assert got[3] == (0, 11, sum(b"hello world"))
    assert got[19][1] == 4 and got[19][2] == sum(b"a\r\nb")
    # offsets chain: each record starts where the previous one ended
    by_bucket: dict[tuple, list] = {}
    for r in sorted(parsed, key=lambda r: (r.source, r.bucket, r.rec_index)):
        by_bucket.setdefault((r.source, r.bucket), []).append(r)
    for recs in by_bucket.values():
        pos = 0
        for r in recs:
            assert r.offset == pos
            pos += 83 + len(str(r.doc_id)) + len(str(r.content_length)) + r.content_length

    # strictness: flip the magic / truncate / break the trailer
    good = want[("alpha", 3)]
    bad_frames = [
        b"XARC" + good[4:],                # bad magic
        good[:-6],                         # truncated payload+trailer
        good[:-2] + b"xx",                 # bad trailer
    ]
    for bad in bad_frames:
        df = spark.createDataFrame(
            [("alpha", 3, bytearray(bad))], "source string, bucket long, container binary"
        )
        with pytest.raises(Exception):
            parse_warc(df).collect()


def test_warc_gzip_members_frame_and_parse_strictly(spark):
    """warc.gz (r14): the JVM-concatenated container must equal an
    independent Python construction byte for byte (deterministic gzip:
    mtime=0, fixed level), member boundaries must partition the
    container exactly, and the parser must refuse corrupt members,
    truncated members, multi-record members, and trailing garbage."""
    import gzip
    import zlib

    import pytest

    from collect_mobile_devices_datalake_spark.sources.warc import (
        WARC_BUCKETS,
        WARC_GZIP_LEVEL,
        parse_warc_gzip,
        warc_gzip_containers,
    )

    rows = [
        (3, "hello world", "en", "alpha", 11),
        (11, "", "en", "alpha", 0),
        (19, "a\r\nb", "en", "alpha", 4),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    built = {
        (r["source"], r["bucket"]): bytes(r["container"])
        for r in warc_gzip_containers(docs).collect()
    }

    def py_member(doc_id, text):
        payload = text.encode()
        rec = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "
            f"<urn:doc:{doc_id}>\r\nContent-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload + b"\r\n\r\n"
        return gzip.compress(rec, WARC_GZIP_LEVEL, mtime=0)

    want: dict[tuple, bytes] = {}
    for doc_id, text, _, src, _ in sorted(rows):
        key = (src, doc_id % WARC_BUCKETS)
        want[key] = want.get(key, b"") + py_member(doc_id, text)
    assert built == want

    parsed = parse_warc_gzip(warc_gzip_containers(docs)).collect()
    got = {r.doc_id: (r.rec_index, r.content_length, r.payload_sum) for r in parsed}
    assert got[3] == (0, 11, sum(b"hello world"))
    assert got[11][1] == 0 and got[19][2] == sum(b"a\r\nb")

    # member boundaries partition the container: walking with
    # decompressobj consumes every byte with no slack
    blob = built[("alpha", 3)]
    pos, n_members = 0, 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=31)
        d.decompress(blob[pos:])
        assert d.eof
        pos = len(blob) - len(d.unused_data)
        n_members += 1
    assert pos == len(blob) and n_members == len(
        [r for r in rows if r[0] % WARC_BUCKETS == 3 and r[3] == "alpha"]
    )

    def expect_fail(bad: bytes):
        df = spark.createDataFrame(
            [("alpha", 3, bytearray(bad))],
            "source string, bucket long, container binary",
        )
        with pytest.raises(Exception):
            parse_warc_gzip(df).collect()

    expect_fail(blob[:-4])                      # truncated final member
    expect_fail(blob + b"junk")                 # trailing garbage
    corrupt = bytearray(blob)
    corrupt[len(blob) // 2] ^= 0xFF             # flip a DEFLATE byte
    expect_fail(bytes(corrupt))
    two_recs = gzip.compress(                   # 2 records in one member
        gzip.decompress(py_member(3, "x")) * 2, WARC_GZIP_LEVEL, mtime=0
    )
    expect_fail(two_recs)
