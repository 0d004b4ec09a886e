"""Record §C-v2 baseline candidate rows: best-of-N wall for named keys.

Usage: ``python tools/record_rows.py key1 key2 ... [--runs N] [--sf DIR]``

Prints ONE JSON line: ``{"cal": ..., "fscal": ..., "runs": N,
"sf_dir": ..., "rows": {key: sec}}`` — the same protocol as bench.py
(warm-up, CPU + fs calibration, best-of-N count()), restricted to the
keys being (re)recorded so a baseline refresh doesn't pay the full
headline sweep. BASELINE.md §C-v2 discipline: rows are recorded on a
QUIET box; on a shared box, run this several times across a session and
keep the MINIMUM per row (the across-time twin of best-of-N) with the
samples as receipts in NOTES.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs, sf_dir = 4, "/root/testdata/sf0.1"
    keys: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            keys.append(args[i])
            i += 1

    import bench
    from collect_mobile_devices_datalake_spark import TABLES
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
    from collect_mobile_devices_datalake_spark.session import get_spark, load_table

    _ensure_loaded()
    spark = get_spark("record-rows")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    for t in TABLES:
        load_table(spark, t, sf_dir).count()

    cal = float("inf")
    for _ in range(max(2, runs)):
        t0 = time.perf_counter()
        spark.range(8_000_000_000).selectExpr("sum(id % 1000)").collect()
        cal = min(cal, time.perf_counter() - t0)
    fscal = bench.fs_calibration_sec(runs)

    from collect_mobile_devices_datalake_spark import artifacts
    from collect_mobile_devices_datalake_spark.operators.streaming_batch import (
        cleanup_stream_temp_roots,
    )

    artifacts.sweep_stale()
    rows: dict[str, float] = {}
    for name in keys:
        spec = REGISTRY[name]
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
            if name in bench.STREAMING:
                cleanup_stream_temp_roots()
        rows[name] = round(best, 3)
    print(
        json.dumps(
            {
                "cal": round(cal, 3),
                "fscal": fscal,
                "runs": runs,
                "sf_dir": sf_dir,
                "rows": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
