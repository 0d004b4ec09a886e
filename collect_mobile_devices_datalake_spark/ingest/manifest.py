"""Atomic manifest commits for bare-parquet lake tables.

The reference checkpoints progress with a ``saved_list`` table written
AFTER the data insert (app.js:449-453) — two separate writes, so a crash
between them leaves data visible without its checkpoint (or, for a
reader racing the writer, a partially-visible file set). Lake formats
close this with a transaction log; this module is the minimal version of
that idea for a plain-parquet lake, with no extra packages:

1. **Stage**: write the batch's parquet files with transaction-unique
   names. In-progress output lives under an ``_staging_<txn>`` directory
   (underscore-prefixed paths are invisible to Spark's file index, so
   even direct-directory readers never see half-written files), then the
   finished part files move into the table directory.
2. **Publish**: write ONE manifest JSON listing every staged file across
   every table touched by the transaction, to a temp name, then
   ``os.replace`` it into ``<lake>/_manifests/`` — a single atomic
   rename. Readers that list data files from committed manifests only
   (`read_committed`) therefore see each transaction entirely or not at
   all, across ALL its tables — the data append and its saved-list
   checkpoint become one atomic unit.

Crash semantics:
- crash before publish → staged files are orphans; committed readers see
  the previous snapshot; a re-run re-ingests the batch under a new txn
  (the resume anti-join reads the committed saved_list, so nothing was
  checkpointed); ``vacuum_orphans`` reclaims the dead files.
- crash after publish → the transaction is fully visible; replay is a
  no-op (``committed`` gate on the txn id, plus the resume anti-join).

Scale notes (100 TB): the protocol is the standard manifest-log shape
(Iceberg/Delta reduced to its core). ``os.replace`` is atomic on POSIX
filesystems (HDFS rename likewise); on S3-like object stores the publish
step becomes a conditional PUT (If-None-Match) or a log-service CAS —
the seam is `_publish`, one function. Manifests are O(files), read once
per snapshot resolution and independent of data volume; compaction of
old manifests is the same operation as `committed_files` + one rewrite.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..session import read_parquet

MANIFEST_DIR = "_manifests"


def new_txn_id() -> str:
    return uuid.uuid4().hex[:16]


def _manifest_root(lake_dir: str) -> str:
    return os.path.join(lake_dir, MANIFEST_DIR)


def manifest_paths(lake_dir: str) -> list[str]:
    """Committed manifests, oldest first (name order = publish order)."""
    root = _manifest_root(lake_dir)
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.endswith(".json") and not n.startswith(".")
    )


def _next_seq(lake_dir: str) -> int:
    """1 + the highest committed seq, parsed from the manifest names —
    never a count: `compact_manifests` leaves fewer manifests than the
    seqs it folded, and a count would sort the next commit before them."""
    paths = manifest_paths(lake_dir)
    return 1 + int(os.path.basename(paths[-1]).split("-", 1)[0]) if paths else 0


def committed(lake_dir: str, txn_id: str) -> bool:
    """Has ``txn_id`` been published? (txn id is part of the file name,
    so this is a directory listing, not N file reads.)"""
    return any(p.endswith(f"-{txn_id}.json") for p in manifest_paths(lake_dir))


def stage_write(df: DataFrame, lake_dir: str, table: str, txn_id: str) -> list[str]:
    """Write ``df`` as parquet files belonging to transaction ``txn_id``.

    Files land in ``<lake>/<table>/`` with txn-unique names but are NOT
    part of any committed snapshot until `publish` lists them. Returns
    the table-relative file names for the manifest entry.
    """
    table_dir = os.path.join(lake_dir, table)
    staging = os.path.join(table_dir, f"_staging_{txn_id}")
    df.write.mode("overwrite").parquet(staging)
    names: list[str] = []
    for n in sorted(os.listdir(staging)):
        if not n.endswith(".parquet"):
            continue
        final = f"part-{txn_id}-{len(names):05d}.parquet"
        os.replace(os.path.join(staging, n), os.path.join(table_dir, final))
        names.append(final)
    shutil.rmtree(staging, ignore_errors=True)
    return names


def publish(
    lake_dir: str,
    txn_id: str,
    tables: dict[str, list[str]],
    removes: dict[str, list[str]] | None = None,
) -> str | None:
    """Atomically publish one transaction's files across all its tables.

    ``tables`` maps table-relative directory (e.g. ``device_specs/gsmarena``)
    to the file names `stage_write` returned. Idempotent: an already
    published txn id is a no-op (returns None), so checkpoint replay of a
    streaming batch cannot double-commit.

    ``removes`` (same shape) lists files this transaction REPLACES —
    the rewrite/OPTIMIZE form: snapshot resolution drops them from the
    commit log at this point in publish order, while earlier ``as_of``
    pins still resolve them (history is untouched until `vacuum_orphans`
    physically reclaims the replaced files, which — as in every lake
    format — is the moment pre-rewrite snapshots stop being readable).
    """
    if committed(lake_dir, txn_id):
        return None
    root = _manifest_root(lake_dir)
    os.makedirs(root, exist_ok=True)
    seq = _next_seq(lake_dir)
    body = {
        "txn_id": txn_id,
        "tables": tables,
        "published_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    if removes:
        body["removes"] = removes
    final = os.path.join(root, f"{seq:010d}-{txn_id}.json")
    tmp = os.path.join(root, f".tmp-{txn_id}.json")
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)  # THE commit point — one atomic rename
    return final


def snapshots(lake_dir: str) -> list[dict]:
    """The commit history, oldest first: one row per published manifest
    with its txn id and publish timestamp — what a ``DESCRIBE HISTORY``
    reads. History reaches back to the last `compact_manifests` (folding
    replaces the per-txn log with one merged manifest, the same horizon
    a checkpoint-cleaned Delta log has)."""
    out = []
    for mp in manifest_paths(lake_dir):
        with open(mp) as f:
            body = json.load(f)
        out.append(
            {
                "txn_id": body["txn_id"],
                "published_at": body.get("published_at"),
                "tables": sorted(body.get("tables", {})),
            }
        )
    return out


def committed_files(
    lake_dir: str, table_prefix: str, as_of: str | None = None
) -> list[str]:
    """Absolute paths of every committed data file whose table matches
    ``table_prefix`` exactly or as a directory prefix (so
    ``device_specs`` covers ``device_specs/<every source>``).

    ``as_of``: a txn id → the snapshot as of that commit (manifests up
    to and including it in publish order) — time travel. Raises
    ``KeyError`` if the txn is unknown, e.g. folded away by
    `compact_manifests`, so a stale pin fails loudly instead of
    silently reading the full table.
    """
    paths = manifest_paths(lake_dir)
    if as_of is not None:
        cut = next(
            (i for i, p in enumerate(paths) if p.endswith(f"-{as_of}.json")), None
        )
        if cut is None:
            raise KeyError(
                f"txn {as_of!r} not in the manifest log of {lake_dir!r} "
                "(never published, or folded by compact_manifests)"
            )
        paths = paths[: cut + 1]
    # ordered set: a reader racing `compact_manifests` can observe the
    # merged manifest plus a not-yet-removed original listing the same
    # files — snapshot correctness must not depend on the sweep having
    # finished. Removes are applied in publish order, so a rewrite txn
    # atomically swaps old files for new in the resolved snapshot.
    out: dict[str, None] = {}
    for mp in paths:
        with open(mp) as f:
            body = json.load(f)
        for table, names in body.get("tables", {}).items():
            if table == table_prefix or table.startswith(table_prefix + "/"):
                for n in names:
                    out[os.path.join(lake_dir, table, n)] = None
        for table, names in body.get("removes", {}).items():
            if table == table_prefix or table.startswith(table_prefix + "/"):
                for n in names:
                    out.pop(os.path.join(lake_dir, table, n), None)
    return list(out)


def read_committed(
    spark: SparkSession,
    lake_dir: str,
    table_prefix: str,
    schema: str | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Snapshot read: exactly the files listed by committed manifests.

    Orphans from crashed transactions are invisible even though they sit
    in the same directories. ``schema`` supplies the empty-lake result,
    as a relation the optimizer can see is empty (``limit(0)`` folds to
    an empty ``LocalRelation``): a join or anti-join against a table
    with nothing committed yet is then pruned from the plan, not run.
    ``as_of=<txn_id>`` reads the historical snapshot as of that commit
    (see `committed_files`) — a reproducibility pin: a training run that
    records its txn id re-reads byte-identical inputs later even though
    ingestion kept appending.
    """
    files = committed_files(lake_dir, table_prefix, as_of=as_of)
    if not files:
        if schema is None:
            raise FileNotFoundError(
                f"no committed files under {table_prefix!r} and no schema given"
            )
        return spark.createDataFrame([], schema).limit(0)
    return read_parquet(spark, *files)


def vacuum_orphans(
    lake_dir: str, table: str, remove: bool = False
) -> list[str]:
    """Data files present in ``<lake>/<table>/`` but referenced by no
    committed manifest — the debris of crashed transactions. Returns the
    table-relative names; ``remove=True`` also deletes them. Safe to run
    concurrently with readers (committed readers never open orphans) but
    NOT with an in-flight writer unless its txn staging is done — at
    scale, gate on file age like every lake format's vacuum does."""
    table_dir = os.path.join(lake_dir, table)
    if not os.path.isdir(table_dir):
        return []
    live = {os.path.basename(p) for p in committed_files(lake_dir, table)}
    orphans = [
        n
        for n in sorted(os.listdir(table_dir))
        if n.endswith(".parquet") and n not in live
    ]
    if remove:
        for n in orphans:
            os.remove(os.path.join(table_dir, n))
        # stale staging dirs from crashed writers
        for n in os.listdir(table_dir):
            if n.startswith("_staging_"):
                shutil.rmtree(os.path.join(table_dir, n), ignore_errors=True)
    return orphans


def compact_manifests(lake_dir: str) -> str | None:
    """Fold every committed manifest into ONE, then sweep the originals.

    Snapshot resolution is O(manifest count); a long-lived lake accretes
    one manifest per transaction, so maintenance folds them — the same
    operation every log-structured lake format ships. Safety: the merged
    manifest publishes FIRST (atomic rename), so each moment exposes a
    superset of the committed files and `committed_files`'s dedupe keeps
    the snapshot exact; a crash mid-sweep just leaves some originals for
    the next compaction. Returns the merged manifest path (None if there
    was nothing to fold)."""
    originals = manifest_paths(lake_dir)
    if len(originals) <= 1:
        return None
    merged: dict[str, list[str]] = {}
    for mp in originals:
        with open(mp) as f:
            body = json.load(f)
        for table, names in body.get("tables", {}).items():
            bucket = merged.setdefault(table, [])
            bucket.extend(n for n in names if n not in bucket)
        # fold removes to the NET state: the merged manifest lists only
        # files live at the end of the log
        for table, names in body.get("removes", {}).items():
            bucket = merged.setdefault(table, [])
            merged[table] = [n for n in bucket if n not in set(names)]
    merged = {t: names for t, names in merged.items() if names}
    new_path = publish(lake_dir, f"compact{new_txn_id()}", merged)
    for mp in originals:
        os.remove(mp)
    return new_path


def commit_tables(
    lake_dir: str,
    frames: Iterable[tuple[str, DataFrame]],
    txn_id: str | None = None,
    removes: dict[str, list[str]] | None = None,
) -> str | None:
    """Stage every (table, df) pair then publish one manifest — the
    one-call form of the protocol for multi-table transactions, and the
    one every package writer commits through. ``removes`` is `publish`'s:
    a transaction that only removes files (a truncate to an empty
    table) still publishes; one with neither new nor removed files
    publishes nothing."""
    txn = txn_id or new_txn_id()
    if committed(lake_dir, txn):
        return None
    tables: dict[str, list[str]] = {}
    for table, df in frames:
        names = stage_write(df, lake_dir, table, txn)
        if names:
            tables[table] = names
    if not tables and not removes:
        return None
    return publish(lake_dir, txn, tables, removes=removes)


def rewrite_table(
    spark: SparkSession,
    lake_dir: str,
    table: str,
    target_files: int = 1,
    sort_cols: list[str] | None = None,
) -> str | None:
    """OPTIMIZE: coalesce a table's committed small files into
    ``target_files`` larger ones, atomically, content-identical.

    One transaction stages the rewritten files and publishes them
    together with a ``removes`` list of every file they replace — a
    reader resolves either the old file set or the new one, never a
    mix. The replaced files stay on disk (pre-rewrite ``as_of`` pins
    keep working) until `vacuum_orphans` reclaims them. This is the
    executor for `compaction_plan`'s output: the planner says WHICH
    partitions are small-file-bound; this folds them.

    ``sort_cols`` requests a CLUSTERED rewrite (repartitionByRange +
    sortWithinPartitions): contiguous key ranges per output file, so
    file-level min/max stats prune range predicates — the executor
    behind the z-order layout reports.

    Returns the rewrite txn's manifest path, or None when the table is
    already at or below ``target_files`` and no clustering was asked
    (no transaction published).
    """
    olds = committed_files(lake_dir, table)
    if len(olds) <= target_files and not sort_cols:
        return None
    df = read_parquet(spark, *olds)
    if sort_cols:
        # clustered rewrite: co-locate rows by the given key(s) so the
        # rewritten files' min/max zone maps prune scans (the executor
        # behind zorder_manifest's layout) — repartitionByRange gives
        # contiguous non-overlapping ranges per output file
        df = df.repartitionByRange(target_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.coalesce(target_files)
    return commit_tables(
        lake_dir,
        [(table, df)],
        txn_id=f"rewrite{new_txn_id()}",
        removes={table: [os.path.basename(p) for p in olds]},
    )
