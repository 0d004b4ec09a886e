"""Optimization-round profiler: per-query phase timing + plan capture.

Usage: ``python tools/opt_profile.py [sf_dir] [out_json] [query ...]``
(defaults: /root/testdata/sf0.1, /tmp/opt_profile.json, the bench
HEADLINE set). For each query it separates:

- ``build_s``  — Python-side DataFrame construction (plan build, any
  eager index builds / localCheckpoints the operator performs);
- ``count_s``  — best-of-N of ``df.count()`` (the bench's timed action);
- ``noop_s``   — best-of-N of the noop sink (guide §1.4: computes every
  column, so ``noop_s - count_s`` exposes work count() prunes away);

and writes ``plans/r15/<name>_before.txt`` (``explain formatted``) when
the file does not already exist (use ``--after`` to write _after files).

Streaming rows execute their whole protocol during build (the returned
frame only reads final state), so for ``streaming_*`` keys the harness
reports build_s as the protocol cost and skips the noop re-run (a second
full protocol execution) unless ``--streaming-noop`` is passed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from collect_mobile_devices_datalake_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from collect_mobile_devices_datalake_spark.session import get_spark  # noqa: E402


from collect_mobile_devices_datalake_spark.plans.explain import (  # noqa: E402
    formatted_plan,
)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_json = args[1] if len(args) > 1 else "/tmp/opt_profile.json"
    names = args[2:]
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    suffix = "_after" if "--after" in flags else "_before"

    _ensure_loaded()
    if not names:
        import bench

        names = list(bench.HEADLINE)

    spark = get_spark("opt-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    from collect_mobile_devices_datalake_spark import TABLES
    from collect_mobile_devices_datalake_spark.session import load_table

    for t in TABLES:
        load_table(spark, t, sf_dir).count()

    from collect_mobile_devices_datalake_spark import artifacts
    from collect_mobile_devices_datalake_spark.operators.streaming_batch import (
        cleanup_stream_temp_roots,
    )

    artifacts.sweep_stale()

    os.makedirs("plans/r15", exist_ok=True)
    results: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        is_streaming = name.startswith("streaming_")
        spark.sparkContext.setJobDescription(f"profile:{name}:build")
        t0 = time.perf_counter()
        df = spec.spark(spark, sf_dir)
        build_s = time.perf_counter() - t0

        spark.sparkContext.setJobDescription(f"profile:{name}:count")
        count_s = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.count()
            count_s = min(count_s, time.perf_counter() - t0)

        noop_s = None
        if not is_streaming or "--streaming-noop" in flags:
            spark.sparkContext.setJobDescription(f"profile:{name}:noop")
            noop_s = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                noop_s = min(noop_s, time.perf_counter() - t0)
            noop_s = round(noop_s, 3)

        plan_path = f"plans/r15/{name}{suffix}.txt"
        if not os.path.exists(plan_path):
            with open(plan_path, "w") as f:
                f.write(formatted_plan(df))

        # bench-shape total: fresh build + count, best-of-N (each bench
        # sample rebuilds the frame via spec.spark)
        spark.sparkContext.setJobDescription(f"profile:{name}:bench-shape")
        bench_s = float("inf")
        if not is_streaming:
            for _ in range(runs):
                t0 = time.perf_counter()
                spec.spark(spark, sf_dir).count()
                bench_s = min(bench_s, time.perf_counter() - t0)
            bench_s = round(bench_s, 3)
        else:
            bench_s = round(build_s + count_s, 3)
            cleanup_stream_temp_roots()
        spark.sparkContext.setJobDescription(None)

        results[name] = {
            "build_s": round(build_s, 3),
            "count_s": round(count_s, 3),
            "noop_s": noop_s,
            "bench_s": bench_s,
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)

    with open(out_json, "w") as f:
        json.dump({"sf_dir": sf_dir, "runs": runs, "results": results}, f, indent=1)
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
