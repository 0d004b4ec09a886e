"""The merge-lattice maintenance protocol — ONE skeleton for every
batch-partition streaming family.

Thirteen certified families ride this module (r14 unification of what
was previously copied across sketch/sample/survivorship maintenance):

==============  =========================  ====================== =========
family          merge                      lattice class          compaction
==============  =========================  ====================== =========
kmv / dau       k smallest hashes          idempotent G-set       sweep
hll             per-register max           idempotent             sweep
bloom           bitwise OR (packed words)  idempotent             sweep
priority sample K+1 largest priorities     idempotent             sweep
survivorship    argmax by okey (+ sum leg) idempotent (argmax)    sweep
profile         per-source min/max         idempotent             sweep
lsh index       distinct bucket rows       idempotent G-set       sweep
nsw edges       distinct edge rows         idempotent G-set       sweep
dedup matches   distinct match rows        idempotent G-set       sweep
cms             cell-wise sum              NOT idempotent         manifest
logbin          cell-wise sum              NOT idempotent         manifest
topk (MG)       counter sum + error sum    NOT idempotent         manifest
==============  =========================  ====================== =========

(The rollup stream is NOT a member: its state is the engine's watermark
store and its append-mode finalization + derived-grain manifest commits
are the ingest lake's protocol, not a partial-fold lattice.)

Protocol invariants, stated once:

- **foreachBatch writes a BOUNDED partial** into its own ``batch=<id>``
  partition with mode=overwrite, so a checkpoint REPLAY of a partially
  committed batch rewrites the partition wholesale — repair, not
  freeze. State is O(partial-size x batches-since-compaction),
  independent of corpus size.
- **Reading IS merging**: the current state is the family fold over
  every live partial; associativity + commutativity make fold order
  (and, for idempotent families, duplicate absorption) irrelevant, so
  a reader racing the writer sees some consistent prefix of batches.
- **Idempotent families** compact with the sweep protocol: write the
  fold to ``batch=compacted``, then delete the inputs. A crash between
  write and sweep leaves EXTRA partials whose re-absorption is a no-op.
  Producer re-delivery under a fresh batch id merges to the identical
  state — no anti-join needed.
- **Sum families** (NOT idempotent) compact behind an atomic manifest
  commit (``ManifestStore``): the fold is written to a fresh
  ``batch=c<gen>`` dir readers IGNORE until the manifest names it and
  marks the absorbed inputs dead — never a double count in any crash
  window. Checkpoint replay is still exactly-once (partition
  overwrite); wholesale producer re-delivery double-counts, the honest
  semantics of any counting sketch (dedup upstream or use a G-set
  family when that matters).

A family is ONE ``LatticeFamily`` value: a module-level constant
(``KMV``, ``CMS``, ``PROFILE``, ...), or, for a family whose partial
reads a fixed corpus, the value built by one function next to its
kernel (``similarity.nsw_edges_family(sf_dir)``,
``dedup.dedup_matches_family(sf_dir)``). It names the checkpoint
subdir, gives the batch→partial projection and the fold, and picks the
lattice class. Callers pass that value straight to the four functions
below — ``start_maintenance_stream``, ``maintain_batch``,
``compact_state`` and ``read_state`` — with no per-family wrappers. Everything else — stream
wiring, live-partition enumeration (Hadoop FileSystem API, so HDFS/S3
roots behave like local disk), crash-safe compaction, replay repair — is
this module.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..session import read_parquet
from .fsutil import (
    delete_dir,
    dir_has_parquet,
    list_batch_dirs,
    manifest_store_for,
)

_MANIFEST = "compaction.json"


@dataclass(frozen=True)
class LatticeFamily:
    """One batch-partition maintenance family.

    ``partial_fn`` maps a micro-batch to its bounded partial;
    ``fold_fn`` maps the union-of-partials read to the merged state
    (the compaction fold). ``read_fold_fn`` overrides the fold on the
    READ path only — survivorship drops its okey merge column from the
    surfaced state but must keep it through compaction; ``read_post``
    appends derived columns after either fold (logbin's lower bound).
    ``idempotent`` picks the compaction protocol (sweep vs manifest)."""

    name: str  # checkpoint subdir, e.g. "kmv" -> <ckpt>/kmv_maint
    source_schema: str
    partial_fn: Callable[[DataFrame], DataFrame]
    fold_fn: Callable[[DataFrame], DataFrame]
    empty_schema: str
    idempotent: bool = True
    read_fold_fn: Callable[[DataFrame], DataFrame] | None = None
    read_post: Callable[[DataFrame], DataFrame] | None = None


def maintain_batch(family: LatticeFamily, state_dir: str):
    """foreachBatch body: this batch's bounded partial, written
    wholesale into its own partition (replay-repair semantics)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        family.partial_fn(batch).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )

    return fn


def _sum_live_parts(
    spark: SparkSession, state_dir: str, store: object | None = None
) -> list[str]:
    """Live partitions of a SUM family under the compaction-manifest
    rule: numeric ``batch=N`` dirs (stream-owned) are live unless the
    manifest lists them as absorbed; ``batch=c<gen>`` dirs
    (compaction-owned) are live ONLY when the manifest names them — an
    uncommitted compacted partition is invisible, which is what makes
    the non-idempotent lattice crash-safe. On a root with NO registered
    ManifestStore the read stays sound: no manifest can ever exist
    (compaction refuses up front), so every numeric dir is live and the
    sum is exact."""
    absorbed: set[str] = set()
    compacted: str | None = None
    mpath = os.path.join(state_dir, _MANIFEST)
    mstore = store if store is not None else manifest_store_for(state_dir)
    m = mstore.read(mpath) if mstore is not None else None
    if m is not None:
        absorbed = set(m.get("absorbed", []))
        compacted = m.get("compacted_dir")
    out = []
    for d in list_batch_dirs(spark, state_dir):
        if d in absorbed:
            continue
        if d.startswith("batch=c") and d != compacted:
            continue  # uncommitted (or superseded) compaction output
        if dir_has_parquet(spark, os.path.join(state_dir, d)):
            out.append(d)
    return out


def live_parts(
    spark: SparkSession,
    family: LatticeFamily,
    state_dir: str,
    store: object | None = None,
) -> list[str]:
    if not family.idempotent:
        return _sum_live_parts(spark, state_dir, store=store)
    return [
        d
        for d in list_batch_dirs(spark, state_dir)
        if dir_has_parquet(spark, os.path.join(state_dir, d))
    ]


def read_state(
    spark: SparkSession, family: LatticeFamily, state_dir: str
) -> DataFrame:
    """The current state: the family fold over every live partial.
    Reading IS merging — see the module invariants."""
    parts = [
        os.path.join(state_dir, d) for d in live_parts(spark, family, state_dir)
    ]
    if not parts:
        out = spark.createDataFrame([], family.empty_schema)
    else:
        fold = family.read_fold_fn or family.fold_fn
        out = fold(read_parquet(spark, *parts))
    return family.read_post(out) if family.read_post else out


def compact_state(
    spark: SparkSession,
    family: LatticeFamily,
    state_dir: str,
    store: object | None = None,
) -> None:
    """Fold the live partials into one partition/generation, under the
    family's lattice-class protocol (sweep or manifest — invariants in
    the module docstring)."""
    if family.idempotent:
        olds = list_batch_dirs(spark, state_dir)
        if not olds or olds == ["batch=compacted"]:
            return
        inputs = [  # a crash can strand a parquet-less dir; fold the rest
            d for d in olds if dir_has_parquet(spark, os.path.join(state_dir, d))
        ]
        if not inputs:
            return
        merged = family.fold_fn(
            read_parquet(spark, *[os.path.join(state_dir, d) for d in inputs])
        )
        if "batch=compacted" in olds:
            # re-compaction overwrites a dir the fold still reads — only
            # then is a materialization barrier needed; a first compaction
            # writes a fresh dir disjoint from every input
            merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, "batch=compacted")
        )
        for d in olds:
            if d != "batch=compacted":
                delete_dir(spark, os.path.join(state_dir, d))
        return

    # SUM lattice: atomic manifest-committed generation swap
    if store is None:
        store = manifest_store_for(state_dir)
    if store is None:
        # no strategy can commit atomically on this root — refuse up
        # front; un-compacted reads stay correct (every numeric batch
        # dir remains live). A cluster deployment registers a
        # store-specific atomic-put strategy (HDFS FileContext
        # rename-OVERWRITE, a table row, S3 if-none-match) via
        # fsutil.register_manifest_store(scheme, store).
        raise NotImplementedError(
            f"sum-lattice compaction needs an atomic manifest swap; the "
            f"local-FS os.replace protocol cannot commit on {state_dir!r} "
            "and no manifest store is registered for its scheme "
            "(fsutil.register_manifest_store). Streaming appends and reads "
            "work unchanged on remote roots; compaction requires a "
            "store-specific atomic-put strategy."
        )
    live = _sum_live_parts(spark, state_dir, store=store)
    if len(live) <= 1:
        return
    # no materialization barrier: the merged fold is written to a FRESH
    # batch=c<gen+1> dir that is never in `live`, so the write job
    # streams the fold straight from the input partitions it reads
    merged = family.fold_fn(
        read_parquet(spark, *[os.path.join(state_dir, d) for d in live])
    )
    gens = [
        int(d[len("batch=c"):])
        for d in list_batch_dirs(spark, state_dir, prefix="batch=c")
        if d[len("batch=c"):].isdigit()
    ]
    new_dir = f"batch=c{max(gens, default=-1) + 1}"
    merged.write.mode("overwrite").parquet(os.path.join(state_dir, new_dir))

    mpath = os.path.join(state_dir, _MANIFEST)
    prior = store.read(mpath)
    prior_absorbed: list[str] = prior.get("absorbed", []) if prior else []
    store.commit(  # the commit point (atomic-overwrite per the strategy)
        mpath,
        {
            "compacted_dir": new_dir,
            "absorbed": sorted(set(prior_absorbed) | set(live)),
        },
    )
    for d in live:  # GC; crash-safe (manifest already excludes them)
        delete_dir(spark, os.path.join(state_dir, d))


def start_maintenance_stream(
    spark: SparkSession,
    family: LatticeFamily,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """File-source availableNow stream → bounded-partial foreachBatch."""
    stream = (
        spark.readStream.schema(family.source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(maintain_batch(family, state_dir))
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, f"{family.name}_maint")
        )
        .trigger(availableNow=True)
        .start()
    )
