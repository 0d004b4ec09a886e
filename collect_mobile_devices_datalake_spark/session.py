"""SparkSession factory, table registry and the package's parquet reads.

Every knob of the session is the one you would set on a real cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (vectorized pandas-UDF edge), a sane shuffle-partition default
that AQE then right-sizes, and a generated-code cache that holds the
registry's working set (see ``get_spark``).

Every parquet read in the package goes through ``read_parquet`` or
``load_table``, and both hand Spark the schema: a schemaless
``spark.read.parquet`` runs a Spark job just to read one footer back.
``read_parquet`` takes the schema Spark itself wrote into the footer of
the first data file; ``load_table`` infers an input table's schema once
per table content and session and reuses it. ``parquet_rows`` answers
"how many rows did we just write" from the footers, also without a job.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Generated classes one full registry sweep compiles at sf0.01 (3,386
# distinct), plus ~20% headroom: a second sweep in the same process then
# finds every class the first one compiled still cached.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "collect-mobile-devices-datalake-spark", *, shuffle_partitions: int = 32) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    AQE is the scale story: at 100 TB the static ``shuffle.partitions``
    is only a ceiling — AQE coalesces post-shuffle partitions to target
    size and splits skewed ones, so the same plan survives a 1000×
    scale-up with a larger initial partition count.

    ``CODEGEN_CACHE_ENTRIES`` sizes Spark's cache of compiled generated
    classes (``spark.sql.codegen.cache.maxEntries``, default 100 per
    JVM). The package re-runs the same plans — crawl, resume and append
    each round, the streaming rows re-plan on every trigger — and one
    round's working set is larger than 100 classes, so at the default
    each warm round recompiles nearly every class with Janino. The cache
    holds compiled code only, never data or results. The conf is static:
    it takes effect only when this builder starts the process's session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type, so
        # read as long and rebuild micros in load_table (matches DuckDB's
        # ns→us truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one driver-generated parquet table.

    The input tables are written by pyarrow, so their footers carry no
    Spark schema: the schema Spark infers for a table (one job) is
    memoized in the artifact store, keyed by the table's content
    fingerprint and the application id, and every read hands it to the
    reader. The memo holds metadata only; each read still lists and
    scans the files, keeping predicate pushdown + column pruning
    available to every downstream plan (check ``PushedFilters`` /
    ``ReadSchema`` in ``.explain``). A missing table still fails with
    Spark's own ``PATH_NOT_FOUND``.
    """
    # The driver / an embedding app may hand us a vanilla SparkSession that
    # was NOT built by get_spark, so the nanos conf must be (re)applied at
    # runtime — it is runtime-settable — or reading events.parquet throws
    # PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(path):
        from . import artifacts

        schema = artifacts.get_or_build(
            spark, "table_schema", name, [(sf_dir, name)],
            lambda: spark.read.parquet(path).schema,
        )
        df = spark.read.schema(schema).parquet(path)
    else:  # missing (Spark raises PATH_NOT_FOUND) or not on this disk
        df = spark.read.parquet(path)
    # TIMESTAMP(NANOS) columns arrive as nanos-since-epoch longs (see
    # nanosAsLong in get_spark); truncate to micros exactly like DuckDB does.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def _data_files(path: str) -> Iterator[str]:
    """The parquet data files under ``path`` on the driver's disk, in
    sorted order, skipping the ``_``/``.``-prefixed names Spark's file
    index skips (``_SUCCESS``, ``_staging_*``, ``.crc``). A file is its
    own listing; a missing path lists nothing."""
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(dirpath, f)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark wrote into the footer of ``path``'s first data
    file — the footer key Spark's own inference reads when
    ``mergeSchema`` is off. None when there is no such file or key."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true":
        return None
    first = next(_data_files(path), None)
    if first is None:  # nothing there, or not on the driver's disk
        return None
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(first).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return None if raw is None else StructType.fromJson(json.loads(raw))
    except Exception:  # unreadable footer: Spark's read reports it
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from the
    first path's footer, so no Spark job runs to infer it. Paths with no
    local data file, or files without Spark's schema key, are read
    plainly, which keeps Spark's own inference and errors."""
    schema = _footer_schema(spark, paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def parquet_rows(spark: SparkSession, path: str) -> int:
    """Rows of the parquet data under ``path``: the sum of its footers'
    row counts, read on the driver with no Spark job. A missing path or
    one with no data file holds 0 rows; a path not on this disk is
    counted by Spark."""
    if "://" in path or path.startswith("file:"):
        return read_parquet(spark, path).count()
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a narrow-parallelism scan across the session's cores.

    The local test parquet is written as ONE row group per table, so a scan
    yields one task and every per-row computation downstream (HOF shingling,
    hash signatures, pandas-UDF parses) runs on a single core of 32. A real
    100 TB table has thousands of splits, where this helper detects
    enough splits and returns the frame UNCHANGED — the repartition only
    ever fires where it is already cheap (few, small files).
    Hash-partitioning on the row key keeps the distribution deterministic.

    Width is decided from pure METADATA — ``inputFiles()`` (plan traversal)
    and the optimizer's size estimate (file-size sum for scans) — never
    ``df.rdd``: converting to an RDD materializes a Python-serialized plan
    on every registered query that passes through here and bypasses
    Catalyst for the probe.
    """
    from pyspark.sql import functions as F

    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df  # already at least one split per core
    # Few files can still be WIDE: a 10 GB file scans as ~80 splits under
    # maxPartitionBytes. The optimizer's sizeInBytes for a file relation is
    # the file-size sum (a py4j metadata call, no job), so size >= one
    # default split per core means the scan is already parallel.
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM-backed or estimation failure: assume narrow
        est = 0
    if est >= target * (128 << 20):
        return df
    cols = [F.col(k) for k in keys]
    return df.repartition(target, *cols) if cols else df.repartition(target)


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of one source table: sorted
    (relpath, size, mtime_ns, tail-bytes) over every file under
    ``{table}.parquet``. Folded into plan-probe / index cache keys so
    regenerating a corpus in place (a test fixture rewriting the same
    path) can never be served stale cached state built from the previous
    bytes. The 16-byte tail sample (a parquet file's footer-length +
    magic plus the end of its serialized metadata) defends against
    rewrites that preserve size AND mtime (``cp -p`` / ``rsync -t`` /
    archive extraction) — metadata alone can't distinguish those. One
    seek+read per file, no Spark job; at 100 TB the same identity comes
    from the lake manifest's snapshot id.
    """
    import hashlib

    def _tail(p: str, n: int = 16) -> bytes:
        try:
            with open(p, "rb") as f:
                if os.path.getsize(p) >= n:
                    f.seek(-n, os.SEEK_END)
                return f.read(n)
        except OSError:
            return b""

    root = os.path.join(sf_dir, f"{table}.parquet")
    h = hashlib.sha1()
    if os.path.isdir(root):
        n_files = 0
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for fn in sorted(files):
                n_files += 1
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                h.update(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}:".encode()
                    + _tail(p)
                    + b";"
                )
        h.update(f"#{n_files}".encode())
    else:
        st = os.stat(root)
        h.update(f"{st.st_size}:{st.st_mtime_ns}:".encode() + _tail(root))
    return h.hexdigest()[:12]


from contextlib import contextmanager  # noqa: E402


@contextmanager
def scoped_shuffle_width(
    spark, n_rows: int, rows_per_partition: int = 50_000, aqe_off: bool = True
):
    """Temporarily size ``spark.sql.shuffle.partitions`` to the data.

    Iterative algorithms (connected components, PageRank, BFS) pay the
    per-round cost of every shuffle task even when the working set is a
    few thousand rows — on the session default width, task overhead
    dominates each round. One partition per ~50k rows (floor 1, ceiling
    4x the executor parallelism) keeps small graphs on a few tasks while
    a billion-row working set still spreads across the cluster. Restores
    the previous width on exit; only the enclosed query plans are
    affected.

    When the computed width is ONE partition, AQE is also disabled for
    the scope (r15): partition coalescing and skew splitting cannot do
    anything to single-partition exchanges, but every exchange still
    pays the adaptive re-planning round trip — measured ~10% of a
    tokenizer learn loop on a quiet box. Data-adaptive, not a
    local-mode constant: any working set above rows_per_partition
    computes parts > 1 and keeps AQE on. Callers whose scope runs a
    Structured Streaming protocol pass ``aqe_off=False`` (the streaming
    guard rows measured AQE-off as noise-level at best there, and those
    rows are gate-guarded).
    """
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism * 4,
            int(n_rows) // rows_per_partition + 1,
        ),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    if aqe_off and parts == 1:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
