"""One benchmark run inside one Python process (started by run.py).

Set-up is: session start, registry load, opening the input tables, and
one untimed pass of every step, which fills the program's process-local
caches and checks each step's pinned row count and content hash.  Then measured
rounds run until ``--seconds`` have passed (at least one round).  With
``--trace 1`` rounds alternate untraced/traced, and the traced rounds
record spans around the calls into each layer.

Every layer is measured from outside the program: step timers, a Spark
job group per step (jobs, stages and tasks from ``statusTracker()``), a
``StreamingQueryListener`` for per-trigger progress, and file walks for
lake and stream-state bytes.  No program file is edited; spans come from
wrappers that rebind module attributes for the traced rounds only.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import hashlib
import json
import math
import os
import random
import statistics
import sys
import tempfile
import threading
import time
import traceback

import workloads as W
from pyspark.sql import Row

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans, one list per traced round (the run id): name,
    start, end, and the index of the parent span in the same list."""

    # (module path, attribute) pairs wrapped in traced rounds
    TARGETS = (
        ("collect_mobile_devices_datalake_spark.ingest.pipeline", "ingest_source"),
        ("collect_mobile_devices_datalake_spark.ingest.pipeline", "device_specs_view"),
        ("collect_mobile_devices_datalake_spark.ingest.manifest", "stage_write"),
        ("collect_mobile_devices_datalake_spark.ingest.manifest", "publish"),
        ("collect_mobile_devices_datalake_spark.ingest.manifest", "commit_tables"),
        ("collect_mobile_devices_datalake_spark.ingest.manifest", "read_committed"),
        ("collect_mobile_devices_datalake_spark.catalog", "spec_key_catalog"),
    )

    def __init__(self) -> None:
        self.spans: dict[str, list[dict]] = {}
        self.run_id = ""
        self.on = False
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        spans = self.spans[self.run_id]
        idx = len(spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, run_id: str) -> None:
        import importlib

        self.run_id, self.on = run_id, True
        self.spans[run_id] = []
        for mod_name, attr in self.TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, f"{mod_name.rsplit('.', 1)[-1]}.{attr}"))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)
        self.on = False


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def self_time(spans: list[dict], idx: int, child_names: set[str] | None = None) -> float:
    """A span's duration minus what its direct children cover (children
    run sequentially on the same thread, so their intervals do not
    overlap); ``child_names`` limits which children are subtracted."""
    kids = [s for s in spans if s["parent"] == idx and (child_names is None or s["name"] in child_names)]
    return _dur(spans[idx]) - sum(_dur(k) for k in kids)


# ---------------------------------------------------------------- counters


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """Jobs, stages that ran a task, and completed tasks under a job group.
    Jobs a stream runs on its own execution thread carry no job group and
    are not counted here (the listener counts their triggers)."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks:
                stages += 1
                tasks += s.numCompletedTasks
    return jobs, stages, tasks


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Sums per-trigger progress into the current step's bucket."""

        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.bucket = self._empty()

        @staticmethod
        def _empty() -> dict:
            return {"triggers": 0, "trigger_ms": 0, "add_batch_ms": 0, "wal_commit_ms": 0, "input_rows": 0}

        def take(self) -> dict:
            with self.lock:
                out, self.bucket = self.bucket, self._empty()
            return out

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs
            with self.lock:
                b = self.bucket
                b["triggers"] += 1
                b["trigger_ms"] += d.get("triggerExecution", 0)
                b["add_batch_ms"] += d.get("addBatch", 0)
                b["wal_commit_ms"] += d.get("walCommit", 0)
                b["input_rows"] += p.numInputRows

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def _canonical(v):
    """A value's order-free, exact form: maps become sorted items, floats
    their shortest exact repr."""
    if isinstance(v, Row):
        return tuple(_canonical(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted(((_canonical(k), _canonical(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):
        return tuple(_canonical(x) for x in v)
    return repr(v)


def content_hash(df) -> str:
    """Order-independent digest of a frame's rows: the sorted per-row
    digests, hashed together."""
    rows = sorted(hashlib.sha1(repr(_canonical(r)).encode()).digest() for r in df.collect())
    return hashlib.sha1(b"".join(rows)).hexdigest()[:16]


# ---------------------------------------------------------------- the run


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = W.make(args.workload)
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.rounds: list[dict] = []
        self.warmups: list[dict] = []
        self.observed: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        with open(os.path.join(BENCH_DIR, "expected.json")) as f:
            self.expected = json.load(f)["smoke" if args.smoke else "full"].get(args.workload, {})

    # -- set-up

    def setup(self) -> None:
        from collect_mobile_devices_datalake_spark import session

        # The launcher clears SPARK_GRAFT_SF_DIR, so this is the package's
        # own default input directory; its siblings hold the other scales.
        self.ctx = ctx = W.Context(spark=None, data_dir=os.path.dirname(session.DEFAULT_SF_DIR),
                                   smoke=self.args.smoke, work_dir=tempfile.gettempdir(),
                                   span=self.tracer.span)
        for _name, scale in self.workload.tables:
            if not os.path.isdir(ctx.sf_dir(scale)):
                raise FileNotFoundError(f"input directory {ctx.sf_dir(scale)} is missing")

        t = time.perf_counter()
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        self.layer["session.start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        from collect_mobile_devices_datalake_spark.registry import _ensure_loaded

        _ensure_loaded()
        self.layer["registry.load_s"] = time.perf_counter() - t

        # Opening a table reads its footer and schema; the untimed pass
        # below is what first scans it.
        t = time.perf_counter()
        for name, scale in self.workload.tables:
            session.load_table(spark, name, ctx.sf_dir(scale))
        self.layer["session.table_warm_s"] = time.perf_counter() - t

        self.spark, self.sc, ctx.spark = spark, spark.sparkContext, spark
        self.bus = self.sc._jsc.sc().listenerBus()
        self.listener = make_listener()
        spark.streams.addListener(self.listener)

        t = time.perf_counter()
        self.run_round(warmup=True, traced=False)
        self.layer["warmup.round_s"] = time.perf_counter() - t

    # -- one round

    def run_round(self, warmup: bool, traced: bool) -> None:
        wl, ctx = self.workload, self.ctx
        run_id = f"{self.args.workload}-s{self.args.seed}-r{len(self.rounds)}{'-warmup' if warmup else ''}"
        rnd = {"warmup": warmup, "traced": traced, "run": run_id, "steps": {}}
        # The untimed passes run in one fixed order: which step runs first
        # pays most of the cold costs, and set-up time should not depend
        # on the seed.  The seed permutes the measured rounds only.
        steps = wl.round_steps(random.Random(0) if warmup else self.rng)
        if traced:
            self.tracer.install(run_id)
        wl.begin_round(ctx)
        t_round = time.perf_counter()
        try:
            for step in steps:
                rnd["steps"][step.id] = self.run_step(step, warmup)
        finally:
            # clock_s also holds the benchmark's own bookkeeping (listener
            # drain, job counters, state walk, output check); wall_s is
            # the program's work alone.
            rnd["clock_s"] = time.perf_counter() - t_round
            rnd["wall_s"] = sum(r["s"] + r["cleanup_s"] for r in rnd["steps"].values())
            self.tracer.uninstall()
            rnd["storage"] = wl.end_round(ctx)
        (self.warmups if warmup else self.rounds).append(rnd)

    def run_step(self, step: W.Step, warmup: bool) -> dict:
        sc = self.sc
        self.attempted += 1
        group = f"perfbench-{self.attempted}"
        sc.setJobGroup(group, step.id)
        ok, res = True, None
        t = time.perf_counter()
        try:
            with self.tracer.span(f"step.{step.id}"):
                res = step.run(self.ctx)
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t
        # Counters are read after the listener bus has drained, so every
        # job, task and trigger of the step has been delivered.
        self.bus.waitUntilEmpty()
        jobs, stages, tasks = job_counts(sc, group)
        rec = {"s": dt, "kind": step.kind, "module": step.module,
               "jobs": jobs, "stages": stages, "tasks": tasks}
        rec.update(self.listener.take())
        if step.kind == "stream":
            from collect_mobile_devices_datalake_spark.operators import streaming_batch

            rec["state_bytes"] = W.tree_stats(list(streaming_batch._STREAM_TEMP_ROOTS))[0]
        sc.setJobGroup(f"{group}-check", "output check")
        t = time.perf_counter()
        if ok:
            ok = self.check(step, res, warmup, rec)
        rec["check_s"] = time.perf_counter() - t
        # The stream protocol's clean-up is program work and counts in the
        # round's wall time; the bookkeeping above does not.
        rec["cleanup_s"] = 0.0
        if step.kind == "stream":
            from collect_mobile_devices_datalake_spark.operators.streaming_batch import (
                cleanup_stream_temp_roots,
            )

            t = time.perf_counter()
            cleanup_stream_temp_roots()
            rec["cleanup_s"] = time.perf_counter() - t
        rec["ok"] = ok
        if not ok:
            self.failed += 1
            print(f"perfbench: step {step.id} failed", file=sys.stderr)
        return rec

    def check(self, step: W.Step, res: W.StepResult, warmup: bool, rec: dict) -> bool:
        """Compare the step's output with its pin in expected.json.  Every
        round checks the row count the step returns; the untimed pass also
        counts and hashes the step's output frame."""
        pin = self.expected.get(step.id)
        obs: dict = {}
        if res.rows is not None:
            obs["rows"] = res.rows
        # the untimed pass checks content; every round checks rows
        if warmup and res.frame is not None:
            df = res.frame()
            obs["rows"] = df.count() if res.rows is None else res.rows
            try:
                obs["hash"] = content_hash(df)
            except Exception as exc:  # a column type to_json cannot render
                obs["hash_error"] = type(exc).__name__
        if warmup:
            self.observed[step.id] = obs
        rec["rows"] = obs.get("rows")
        if pin is None:
            print(f"perfbench: no pinned output for {step.id}: {obs}", file=sys.stderr)
            return False
        if "rows" in obs and obs["rows"] != pin["rows"]:
            print(f"perfbench: {step.id} rows {obs['rows']} != pinned {pin['rows']}", file=sys.stderr)
            return False
        if warmup and pin.get("hash") and obs.get("hash") != pin["hash"]:
            print(f"perfbench: {step.id} hash {obs.get('hash')} != pinned {pin['hash']}", file=sys.stderr)
            return False
        return True

    # -- metrics

    def end_to_end(self, rounds: list[dict]) -> dict:
        ids = list(rounds[0]["steps"])
        med = {i: median([r["steps"][i]["s"] for r in rounds]) for i in ids}
        return {
            "wall_s": median([r["wall_s"] for r in rounds]),
            "step_geomean_s": math.exp(sum(math.log(max(v, 1e-9)) for v in med.values()) / len(med)),
        }

    def per_layer(self, plain: list[dict], traced: list[dict]) -> dict:
        m = dict.fromkeys(layer_names(), 0.0)
        m.update(self.layer)

        def count(ids, key, rounds=plain):
            return median([sum(r["steps"][i][key] for i in ids) for r in rounds])

        def secs(ids, rounds=traced):
            return median([sum(r["steps"][i]["s"] for i in ids) for r in rounds])

        steps = plain[0]["steps"]
        by_kind = lambda k: [i for i, s in steps.items() if s["kind"] == k]  # noqa: E731

        # spans of the traced rounds, grouped per round
        per_round_spans = [self.tracer.spans[r["run"]] for r in traced]

        def span_sum(pred) -> float:
            vals = []
            for spans in per_round_spans:
                vals.append(sum(pred(spans, i) for i in range(len(spans))))
            return median(vals)

        manifest_spans = {"manifest.stage_write", "manifest.publish", "manifest.commit_tables",
                          "manifest.read_committed"}
        writes = {"manifest.stage_write", "manifest.publish", "manifest.commit_tables"}

        # Metrics of layers this workload does not run stay 0.
        if by_kind("crawl"):
            crawls, recrawls = by_kind("crawl"), by_kind("recrawl")
            for i in crawls:
                m[f"ingest.crawl_s.{i.split('.', 1)[1]}"] = secs([i])
            m["ingest.pipeline.crawl_self_s"] = span_sum(
                lambda sp, i: self_time(sp, i, manifest_spans)
                if sp[i]["name"] == "pipeline.ingest_source" else 0.0)
            m["ingest.crawl.jobs"] = count(crawls, "jobs")
            m["ingest.crawl.tasks"] = count(crawls, "tasks")

            def outer_write(sp, i):
                p = sp[i]["parent"]
                return sp[i]["name"] in writes and (p is None or sp[p]["name"] not in writes)

            m["ingest.manifest.commit_s"] = span_sum(lambda sp, i: _dur(sp[i]) if outer_write(sp, i) else 0.0)
            m["ingest.manifest.read_s"] = span_sum(
                lambda sp, i: _dur(sp[i]) if sp[i]["name"] == "manifest.read_committed" else 0.0)
            m["ingest.recrawl.jobs"] = count(recrawls, "jobs")
            m["ingest.recrawl.tasks"] = count(recrawls, "tasks")
            m["ingest.init.jobs"] = count(by_kind("init"), "jobs")
            for k in ("ingest.manifest.files", "ingest.manifest.bytes", "ingest.manifest.manifests"):
                m[k] = median([r["storage"][k] for r in plain])
            m["ingest.status_s"] = secs(["status"])
            m["ingest.status.jobs"] = count(["status"], "jobs")
            m["catalog.spec_key_catalog_s"] = secs(["catalog"])
            m["ingest.catalog.jobs"] = count(["catalog"], "jobs")
            rec_med = {i: median([r["steps"][i]["s"] for r in plain]) for i in crawls + recrawls}
            m["ingest.records_per_s"] = sum(steps[i]["rows"] for i in crawls) / sum(rec_med[i] for i in crawls)
            m["ingest.recrawl_s"] = sum(rec_med[i] for i in recrawls)
        if by_kind("query"):
            for mod in sorted({steps[i]["module"] for i in by_kind("query")}):
                ids = [i for i in by_kind("query") if steps[i]["module"] == mod]
                names = {f"step.{i}" for i in ids}

                def phase(name, names=names):
                    return span_sum(lambda sp, i: _dur(sp[i]) if sp[i]["name"] == name
                                    and sp[i]["parent"] is not None
                                    and sp[sp[i]["parent"]]["name"] in names else 0.0)

                m[f"operators.{mod}.build_s"] = phase("build")
                m[f"operators.{mod}.exec_s"] = phase("exec")
                m[f"operators.{mod}.jobs"] = count(ids, "jobs")
                m[f"operators.{mod}.tasks"] = count(ids, "tasks")
        if by_kind("stream"):
            ids = by_kind("stream")
            for i in ids:
                m[f"streaming.{i}.s"] = secs([i])
            for k in ("triggers", "trigger_ms", "add_batch_ms", "wal_commit_ms", "input_rows"):
                m[f"streaming.{k}"] = count(ids, k)
            m["streaming.protocol_self_s"] = median(
                [sum(r["steps"][i]["s"] - r["steps"][i]["trigger_ms"] / 1000.0 for i in ids) for r in traced])
            m["streaming.state_bytes"] = count(ids, "state_bytes")
            m["streaming.driver_jobs"] = count(ids, "jobs")

        m["trace.overhead_s"] = median([r["wall_s"] for r in traced]) - median([r["wall_s"] for r in plain])
        m["box.cpu_calib_s"] = median([self.cpu_calibration() for _ in range(3)])
        m["box.fs_calib_s"] = median([fs_calibration(self.ctx.work_dir) for _ in range(3)])
        return m

    def cpu_calibration(self) -> float:
        """bench.py's data-independent JVM row, sized for a few cores."""
        t = time.perf_counter()
        self.spark.range(400_000_000).selectExpr("sum(id % 1000)").collect()
        return time.perf_counter() - t

    # -- the run

    def main(self) -> dict:
        args = self.args
        self.setup()
        setup_s = time.time() - args.t0
        t_measure = time.perf_counter()
        while True:
            # trace runs alternate untraced and traced rounds
            traced = bool(args.trace) and len(self.rounds) % 2 == 1
            self.run_round(warmup=False, traced=traced)
            done = args.smoke or time.perf_counter() - t_measure >= args.seconds
            if done and (not args.trace or traced):
                break
        plain = [r for r in self.rounds if not r["traced"]]
        traced = [r for r in self.rounds if r["traced"]]
        e2e = {"setup_s": setup_s, **self.end_to_end(plain)}
        layer = self.per_layer(plain, traced) if args.trace else {}
        units = units_of()
        chosen = layer if args.trace else e2e
        return {
            "result": {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
            },
            "record": {
                "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
                "end_to_end": e2e, "per_layer": layer, "observed": self.observed,
                "warmups": self.warmups, "rounds": self.rounds, "spans": self.tracer.spans,
            },
        }


def fs_calibration(work_dir: str) -> float:
    """bench.py's filesystem row: 64 x 1 MiB write-fsync-read-delete."""
    payload = b"\x5a" * (1 << 20)
    t = time.perf_counter()
    with tempfile.TemporaryDirectory(prefix="fscal-", dir=work_dir) as d:
        for i in range(64):
            p = os.path.join(d, f"f{i}")
            with open(p, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            with open(p, "rb") as f:
                f.read()
            os.remove(p)
    return time.perf_counter() - t


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def layer_names() -> list[str]:
    return [m["name"] for m in _benchmark_json()["per_layer"]]


def units_of() -> dict[str, str]:
    spec = _benchmark_json()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--record", required=True)
    args = ap.parse_args(argv)
    # The program's stream roots and ANN index dirs all live under this
    # process's TMPDIR, inside the work directory run.py deletes.
    out = Bench(args).main()
    with open(args.record, "w") as f:
        json.dump(out["record"], f)
    with open(args.result, "w") as f:
        json.dump(out["result"], f)
    # run.py kills and reaps the JVM, the pyspark daemon and its UDF
    # workers; skipping the orderly session shutdown keeps it out of every run.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
