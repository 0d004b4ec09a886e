"""CLI entry point mirroring the reference dispatch (app.js:756-801).

    python -m collect_mobile_devices_datalake_spark.cli <source> init
    python -m collect_mobile_devices_datalake_spark.cli <source> crawl [parallel]
    python -m collect_mobile_devices_datalake_spark.cli <source> status

- ``init``  — render the source's fixture pages and (over)write its
  frontier (create_source_list, app.js:156-317; TRUNCATE semantics via
  overwrite, app.js:147).
- ``crawl`` — incremental ingest of pending pages (crawl_stack /
  crawl_parallel, app.js:484-537). Parallelism is the cluster's task
  scheduler, so ``parallel`` only widens shuffle partitions — there is
  no chunk-of-5 loop to port.
- ``status`` — per-source progress (the reference's console counters).

Lake-maintenance modes (source-independent; pass any source or ``all``):

- ``history`` — the manifest commit log (txn id, timestamp, tables),
  i.e. the time-travel pins `read_committed(as_of=...)` accepts.
- ``vacuum``  — reclaim data files no committed manifest references
  (debris of crashed transactions).
- ``compact`` — fold the manifest log into one snapshot manifest
  (O(1) snapshot resolution; trades away pre-compaction history).
- ``optimize`` — rewrite each table's committed small files into one
  (the OPTIMIZE executor for compaction_plan; replaced files become
  vacuum-reclaimable debris).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

SOURCES = ["gsmarena", "geekbench", "productz", "versus", "phonearena"]


def _lake_tables(lake_dir: str) -> list[str]:
    """Data-table directories of a manifest lake (relative paths), i.e.
    every directory that can hold committed part files — one walk, no
    Spark session needed."""
    out: list[str] = []
    for root, dirs, files in os.walk(lake_dir):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(root, lake_dir)
            if rel != ".":
                out.append(rel)
    return sorted(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="collect-mobile-devices-datalake-spark")
    ap.add_argument("source", choices=SOURCES + ["all"])
    ap.add_argument(
        "mode",
        choices=["init", "crawl", "status", "history", "vacuum", "compact", "optimize"],
    )
    ap.add_argument("parallel", nargs="?", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--lake-dir", default=os.environ.get("SPARK_GRAFT_LAKE", "/tmp/cmd_lake"))
    args = ap.parse_args(argv)

    from .ingest.pipeline import device_specs_view, ingest_source
    from .session import get_spark, load_table
    from .sources.fixtures import spec_pages

    if args.mode in ("history", "vacuum", "compact", "optimize"):
        from .ingest import manifest

        if args.mode == "optimize":
            spark = get_spark("cli")
            spark.sparkContext.setLogLevel("ERROR")
            n = 0
            for table in _lake_tables(args.lake_dir):
                if manifest.rewrite_table(spark, args.lake_dir, table) is not None:
                    print(f"{table}: rewritten")
                    n += 1
            print(f"optimize rewrote {n} table(s)")
            return 0

        if args.mode == "history":
            rows = manifest.snapshots(args.lake_dir)
            for s in rows:
                print(f"{s['txn_id']}  {s['published_at']}  {','.join(s['tables'])}")
            print(f"{len(rows)} committed transaction(s)")
        elif args.mode == "vacuum":
            total = 0
            for table in _lake_tables(args.lake_dir):
                orphans = manifest.vacuum_orphans(args.lake_dir, table, remove=True)
                if orphans:
                    print(f"{table}: reclaimed {len(orphans)} orphan file(s)")
                total += len(orphans)
            print(f"vacuum reclaimed {total} file(s)")
        else:
            merged = manifest.compact_manifests(args.lake_dir)
            print(f"compacted -> {merged}" if merged else "nothing to compact")
        return 0

    shuffle = 64 if args.parallel == "parallel" else 32
    spark = get_spark("cli", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    sources = SOURCES if args.source == "all" else [args.source]
    part = load_table(spark, "part", args.sf_dir)

    for source in sources:
        pages = spec_pages(part, source)
        if args.mode == "init":
            # TRUNCATE semantics via a manifest rewrite-txn: the new
            # frontier's files publish together with removes of every
            # previously-committed frontier file — so `vacuum` treats
            # the old frontier as reclaimable debris, never the live one
            from .ingest import manifest

            table = f"source_list/{source}"
            olds = [
                os.path.basename(p)
                for p in manifest.committed_files(args.lake_dir, table)
            ]
            manifest.commit_tables(
                args.lake_dir,
                [(table, pages.select("url"))],
                removes={table: olds} if olds else None,
            )
            print(f"{source}: frontier initialized ({pages.count()} urls)")
        elif args.mode == "crawl":
            n = ingest_source(spark, pages, args.lake_dir, source)
            print(f"{source}: ingested {n} new records")
        else:
            # an empty lake has no device_specs files; any other read
            # error (a corrupt footer) must surface, not read as 0
            try:
                view = device_specs_view(spark, args.lake_dir)
                n = view.filter(F.col("source") == source).count()
            except FileNotFoundError:
                n = 0
            print(f"{source}: {n} records in lake")
    return 0


if __name__ == "__main__":
    sys.exit(main())
