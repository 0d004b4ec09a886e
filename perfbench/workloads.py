"""The benchmark's two workloads: what one round runs, step by step.

Every step is a call into the program's public API; a round is the
ordered list of steps one closed-loop client runs back to back.  The seed
only permutes that order (source order and streaming row order for
``lake``, row order for ``query``); the inputs are fixed.

The step lists are copied here, not imported from ``bench.py``, so that an
edit to the repository's own bench script cannot change a workload.
Why each workload and each step list was chosen is in README.md.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, ContextManager

# Input scales.  Ingest cost is per job more than per page, so it runs at
# the paper-sized frontier (20,000 pages per source); the registry rows
# run at sf0.01 so that a whole run fits its time budget.
INGEST_SCALE = "sf0.1"
ROW_SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"

# The pandas-UDF parser, the dominant crawl cost; it also quarantines the
# p_partkey % 29 == 3 pages into the dead-letter table.  The other sources
# share its resume, normalize and commit path and are left out to keep a
# run inside the benchmark's time budget (README.md).
INGEST_SOURCES = ("gsmarena",)

# bench.py HEADLINE rows, one for each of the 15 operator modules the
# HEADLINE list uses.  knn_lsh_probe and curated_mix_manifest are the
# ROADMAP's job-budget targets; the other rows are cheap ones of their
# modules, so that a run fits its time budget (per-row costs in README.md).
QUERY_ROWS = (
    "resume_pending",  # crawler
    "q05_region_revenue",  # relational
    "events_session_windows",  # streaming_batch (batch form)
    "knn_lsh_probe",  # similarity (warm persisted ANN index)
    "asof_purchase_click",  # advanced
    "curated_mix_manifest",  # training2
    "kcenter_coreset",  # retrieval
    "bpe_corpus_encoding",  # tokenizer (warm learned merge table)
    "parse_gsmarena",  # ingest_queries
    "dup_substring_profile",  # dedup
    "hll_register_sketch",  # sketches
    "doc_langid",  # text_analysis
    "join_salted_skew",  # coverage2
    "decontam_bloom_report",  # selection
    "test_set_novelty",  # training
)

# Rows whose pin is a row count only: hashing computes every output
# column where .count() prunes most of them, and for these rows that
# costs more than the row's own warm run (about 1 s each).
UNHASHED_ROWS = frozenset({"dup_substring_profile", "hll_register_sketch"})

# bench.py STREAMING rows: the largest lattice row (rollup chain, two
# engine state stores) and the smallest plug-in family (profile).
STREAM_ROWS = ("streaming_rollup_day_grain", "streaming_profile_state")


@dataclass
class StepResult:
    """What a step returns: the row count it checks every round, and
    (optionally) a thunk for the frame whose content hash the untimed
    pass checks."""

    rows: int | None
    frame: Callable[[], object] | None = None


@dataclass
class Step:
    id: str  # key into expected.json and into the metrics
    kind: str  # init | crawl | recrawl | status | catalog | query | stream
    run: Callable[["Context"], StepResult]
    module: str = ""  # operators.<module> for query rows


@dataclass
class Context:
    spark: object
    data_dir: str  # holds one directory of input tables per scale
    smoke: bool  # every step reads SMOKE_SCALE
    work_dir: str
    # span(name) -> context manager; records a span only in traced rounds
    span: Callable[[str], ContextManager]
    lake_dir: str = ""

    def sf_dir(self, scale: str) -> str:
        return os.path.join(self.data_dir, SMOKE_SCALE if self.smoke else scale)


def tree_stats(paths) -> tuple[int, int]:
    """Bytes and parquet files under the given directories."""
    size = files = 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(root, n))
                except OSError:
                    continue  # removed while we walked
                files += n.endswith(".parquet")
    return size, files


class Ingest:
    """The paper's crawl-to-lake job, per source: frontier init, crawl,
    no-op re-crawl; then the status count and the spec-key catalog."""

    tables = (("part", INGEST_SCALE),)

    def __init__(self) -> None:
        self._pages: dict[str, object] = {}

    def _pages_for(self, ctx: Context, source: str):
        if source not in self._pages:
            from collect_mobile_devices_datalake_spark.session import load_table
            from collect_mobile_devices_datalake_spark.sources.fixtures import spec_pages

            self._pages[source] = spec_pages(load_table(ctx.spark, "part", ctx.sf_dir(INGEST_SCALE)), source)
        return self._pages[source]

    def begin_round(self, ctx: Context) -> None:
        ctx.lake_dir = tempfile.mkdtemp(prefix="lake-", dir=ctx.work_dir)

    def end_round(self, ctx: Context) -> dict:
        """Lake storage after the round's writes; then drop the lake."""
        from collect_mobile_devices_datalake_spark.ingest import manifest

        size, files = tree_stats([ctx.lake_dir])
        storage = {
            "ingest.manifest.files": files,
            "ingest.manifest.bytes": size,
            "ingest.manifest.manifests": len(manifest.manifest_paths(ctx.lake_dir)),
        }
        shutil.rmtree(ctx.lake_dir, ignore_errors=True)
        ctx.lake_dir = ""
        return storage

    def round_steps(self, rng: random.Random) -> list[Step]:
        sources = list(INGEST_SOURCES)
        rng.shuffle(sources)
        steps: list[Step] = []
        for s in sources:
            steps += [
                Step(f"init.{s}", "init", lambda ctx, s=s: self._init(ctx, s)),
                Step(f"crawl.{s}", "crawl", lambda ctx, s=s: self._crawl(ctx, s)),
                Step(f"recrawl.{s}", "recrawl", lambda ctx, s=s: self._crawl(ctx, s)),
            ]
        steps += [Step("status", "status", self._status), Step("catalog", "catalog", self._catalog)]
        return steps

    def _init(self, ctx: Context, source: str) -> StepResult:
        from collect_mobile_devices_datalake_spark.ingest import manifest

        table = f"source_list/{source}"
        txn = manifest.new_txn_id()
        names = manifest.stage_write(self._pages_for(ctx, source).select("url"), ctx.lake_dir, table, txn)
        manifest.publish(ctx.lake_dir, txn, {table: names})
        lake = ctx.lake_dir
        return StepResult(
            None,
            lambda: manifest.read_committed(ctx.spark, lake, table, schema="url string"),
        )

    def _crawl(self, ctx: Context, source: str) -> StepResult:
        from collect_mobile_devices_datalake_spark.ingest import pipeline

        return StepResult(pipeline.ingest_source(ctx.spark, self._pages_for(ctx, source), ctx.lake_dir, source))

    def _status(self, ctx: Context) -> StepResult:
        from collect_mobile_devices_datalake_spark.ingest import pipeline

        return StepResult(pipeline.device_specs_view(ctx.spark, ctx.lake_dir).count())

    def _catalog(self, ctx: Context) -> StepResult:
        from collect_mobile_devices_datalake_spark import catalog
        from collect_mobile_devices_datalake_spark.ingest import pipeline

        df = catalog.spec_key_catalog(pipeline.device_specs_view(ctx.spark, ctx.lake_dir))
        return StepResult(df.count(), lambda: df)


class Registry:
    """Registry rows: build the frame (the registered callable), then
    ``.count()`` it.  A streaming row also needs its temp roots removed
    after each step, which the harness does for steps of kind stream."""

    def __init__(self, rows: tuple[str, ...], kind: str, tables: tuple[str, ...]) -> None:
        self.rows = rows
        self.kind = kind
        self.tables = tuple((t, ROW_SCALE) for t in tables)

    def begin_round(self, ctx: Context) -> None:
        pass

    def end_round(self, ctx: Context) -> dict:
        return {}

    def round_steps(self, rng: random.Random) -> list[Step]:
        from collect_mobile_devices_datalake_spark.registry import REGISTRY

        rows = list(self.rows)
        rng.shuffle(rows)
        return [
            Step(r, self.kind, lambda ctx, r=r: self.build_and_count(ctx, r),
                 module=REGISTRY[r].spark.__module__.rsplit(".", 1)[-1])
            for r in rows
        ]

    def build_and_count(self, ctx: Context, row: str) -> StepResult:
        from collect_mobile_devices_datalake_spark.registry import REGISTRY

        with ctx.span("build"):
            df = REGISTRY[row].spark(ctx.spark, ctx.sf_dir(ROW_SCALE))
        with ctx.span("exec"):
            n = df.count()
        return StepResult(n, None if row in UNHASHED_ROWS else lambda: df)


class Workload:
    """Parts run one after another in each round, each in its own seeded
    order; a part sets up and tears down its own per-round state."""

    def __init__(self, *parts) -> None:
        self.parts = parts
        self.tables = tuple(dict.fromkeys(t for p in parts for t in p.tables))

    def begin_round(self, ctx: Context) -> None:
        for p in self.parts:
            p.begin_round(ctx)

    def end_round(self, ctx: Context) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.end_round(ctx))
        return out

    def round_steps(self, rng: random.Random) -> list[Step]:
        return [s for p in self.parts for s in p.round_steps(rng)]


def make(name: str) -> Workload:
    if name == "lake":
        return Workload(Ingest(), Registry(STREAM_ROWS, "stream", ("events", "documents")))
    if name == "query":
        return Workload(Registry(QUERY_ROWS, "query", (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings")))
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("lake", "query")
