"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``,
the engine is driven through its public functions under its shipped
session defaults (``get_spark()`` with ``SPARK_GRAFT_CPUS`` = the usable
cores), every result is checked, and the last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` turns on Spark's event log, job groups
and spans and reports the per-layer metrics instead, writing spans and
per-call records to ``perfbench/out/trace-<workload>-<seed>.json``.

``python3 perfbench/run.py --all`` runs every workload once and prints
a table of all end-to-end metrics, including the workload-specific
ones (``rows_per_s``, ``lookup_p50_s``, ``error_rate``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("batch", "stream")
BATCH_SF = 0.01
# the first pass of a fresh JVM runs 3-5x slower than later ones and the
# second still ~10 % slower (JIT), so set-up warms with two
WARM_PASSES = 2
END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s", "latency_p90_s": "s"}
# reported by --all and kept in the run artifact; not regression-gated
EXTRA = {
    "rows_per_s": "rows/s", "lookup_p50_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio",
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better).  Layers a workload
    does not exercise read 0 on it (state and index on ``batch``, Arrow
    fetch and the operator modules but dedup on ``stream``)."""
    from stream import JOBS

    lower = "lower"
    m = {
        "session.start_s": ("s", lower), "session.import_s": ("s", lower),
        "plans.build_s": ("s", lower), "plans.build_share": ("ratio", lower),
        "spark.plan_s": ("s", lower),
        "arrow.fetch_s": ("s", lower), "arrow.result_rows": ("rows", lower),
        "arrow.result_bytes": ("bytes", lower), "call.remainder_s": ("s", lower),
        "spark.jobs": ("count", lower), "spark.stages": ("count", lower),
        "spark.tasks": ("count", lower), "spark.executor_run_s": ("s", lower),
        "spark.executor_cpu_s": ("s", lower), "spark.gc_s": ("s", lower),
        "spark.deser_s": ("s", lower), "spark.scheduler_delay_s": ("s", lower),
        "spark.task_skew": ("ratio", lower), "spark.shuffle_write_bytes": ("bytes", lower),
        "spark.shuffle_read_bytes": ("bytes", lower), "spark.spill_bytes": ("bytes", lower),
        "spark.driver_gap_s": ("s", lower), "spark.empty_task_frac": ("ratio", lower),
        "operators.graph.s": ("s", lower), "operators.dedup.s": ("s", lower),
        "operators.similarity.s": ("s", lower),
    }
    for job in JOBS:
        m.update({
            f"streaming.{job}.batches": ("count", lower),
            f"streaming.{job}.empty_batch_frac": ("ratio", lower),
            f"streaming.{job}.batch_p50_ms": ("ms", lower),
            f"streaming.{job}.add_batch_ms": ("ms", lower),
            f"streaming.{job}.query_planning_ms": ("ms", lower),
            f"streaming.{job}.wal_commit_ms": ("ms", lower),
            f"streaming.{job}.commit_offsets_ms": ("ms", lower),
            f"streaming.{job}.latest_offset_ms": ("ms", lower),
            f"streaming.{job}.rows_per_batch": ("rows", lower),
        })
    m.update({
        "state.ss_join.commit_ms": ("ms", lower), "state.ss_join.updates_ms": ("ms", lower),
        "state.ss_join.removals_ms": ("ms", lower), "state.ss_join.rows_total": ("rows", lower),
        "state.ss_join.rows_updated": ("rows", lower),
        "state.ss_join.memory_bytes": ("bytes", lower),
        "state.ss_join.dropped_by_watermark": ("rows", lower),
        "index.batch_p50_ms": ("ms", lower), "index.store_files": ("count", lower),
        "index.store_bytes": ("bytes", lower), "index.pairs": ("count", "higher"),
        "index.lookup_p50_s": ("s", lower),
        "index.rows_per_s": ("rows/s", "higher"),
        "generator.lag_p50_s": ("s", lower), "generator.lag_max_s": ("s", lower),
        "streaming.backlog_files_max": ("count", lower),
        "box.steal_pct": ("%", lower), "box.peak_rss_mb": ("MB", lower),
        "trace.overhead": ("ratio", lower),
    })
    return m


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pctl(xs: list[float], q: int) -> float:
    """The q-th percentile (statistics.quantiles, exclusive method)."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100)[q - 1]


class Env:
    """The run's private directories and the JVM launch settings that
    keep every file it writes inside them."""

    def __init__(self, workload: str, seed: int, traced: bool):
        self.work = os.path.join(HERE, "_work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work)
        os.makedirs(OUT, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        self.event_log = os.path.join(self.work, "eventlog")
        conf = [
            f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
        ]
        if traced:
            os.makedirs(self.event_log)
            conf += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                f"--conf spark.eventLog.dir=file://{self.event_log}",
            ]
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(conf) + " pyspark-shell",
        })

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def import_engine(layers: dict) -> None:
    """Import the engine, its query registry and streaming modules."""
    t0 = time.time()
    from spark_streaming_join_example_spark.plans.registry import queries_dict
    from spark_streaming_join_example_spark.streaming import jobs, neardup_index  # noqa: F401

    queries_dict()
    layers["session.import_s"] = time.time() - t0


def start_session(layers: dict):
    from spark_streaming_join_example_spark import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    layers["session.start_s"] = time.time() - t0
    return spark


def stop_session() -> None:
    """Stop Spark, if it runs, and wait for its JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---- batch ---------------------------------------------------------------
def run_batch(args, env: Env, layers: dict, spans) -> tuple[dict, dict]:
    from batch import CALLS, TABLES, BatchWorkload, summarize
    from gate import Oracle
    from gen import write_fixture

    sf_dir = os.path.join(env.work, "fixture")
    write_fixture(sf_dir, args.seed, BATCH_SF)
    import_engine(layers)
    from spark_streaming_join_example_spark.plans.registry import oracle_sql_dict

    oracle_sql = oracle_sql_dict()
    oracle = Oracle(sf_dir, TABLES)
    expected = {name: oracle.answer(oracle_sql[name]) for name, _ in CALLS}
    oracle.close()

    t_setup = time.time()
    spark = start_session(layers)
    wl = BatchWorkload(spark, sf_dir, args.workload, spans, args.trace)
    rng = random.Random(args.seed)
    order = list(CALLS)
    for k in range(WARM_PASSES):
        rng.shuffle(order)
        wl.run_pass(order, expected, False, f"warm{k}")
    setup_s = layers["session.import_s"] + time.time() - t_setup

    passes = []
    t_measure = time.time()
    while not passes or time.time() - t_measure < args.seconds:
        rng.shuffle(order)
        passes.append(wl.run_pass(order, expected, True, str(len(passes))))
    rss = jvm_rss_plus_self()
    stop_session()

    s = summarize(passes)
    calls = [r for p in passes for r in p]
    n = len(passes)
    e2e = {
        "setup_s": setup_s, "pass_s": s["pass_s"], "latency_p50_s": s["latency_p50_s"],
        "latency_p90_s": s["latency_p90_s"],
    }
    extra = {"peak_rss_mb": rss, "samples": s["samples"], "passes": n}
    layers.update({
        "plans.build_s": sum(r["build"] for r in calls) / n,
        "plans.build_share": sum(r["build"] for r in calls) / sum(r["wall"] for r in calls),
        "spark.plan_s": sum(r["plan"] for r in calls) / n,
        "arrow.fetch_s": sum(r["fetch"] for r in calls) / n,
        "arrow.result_rows": sum(r["rows"] for r in calls) / n,
        "arrow.result_bytes": sum(r["bytes"] for r in calls) / n,
        # harness time between calls (cache clear, result check)
        "call.remainder_s": (sum(wl.pass_walls) - sum(r["wall"] for r in calls)) / n,
    })
    for mod in ("graph", "dedup", "similarity"):
        layers[f"operators.{mod}.s"] = sum(
            r["wall"] for r in calls if r["module"] == f"operators.{mod}"
        ) / n
    result = {
        "attempted": len(CALLS) * n, "failed": len(wl.errors),
        "errors": wl.errors, "e2e": e2e, "extra": extra, "calls": calls,
    }
    if args.trace:
        from tracing import EventLog

        result["per_call"], spark_layers = batch_trace(
            EventLog(env.event_log), args.workload, calls, n
        )
        layers.update(spark_layers)
    return result, e2e


RATIOS = ("spark.task_skew", "spark.empty_task_frac")


def batch_trace(log, workload: str, calls: list[dict], n: int) -> tuple[dict, dict]:
    """From the event log: per query, its phases and the Spark work of its
    job group as means per call; over all calls, Spark work per pass."""

    def per(totals: dict, k: int) -> dict:
        return {key: v if key in RATIOS else v / k for key, v in totals.items()}

    for r in calls:
        r["gap"] = log.summarize(
            {f"{workload}:{r['call']}"}, (r["start"], r["end"])
        )["spark.driver_gap_s"]
    per_call = {}
    for name in sorted({r["call"] for r in calls}):
        mine = [r for r in calls if r["call"] == name]
        k = len(mine)
        rec = {key: sum(r[key] for r in mine) / k
               for key in ("wall", "build", "plan", "fetch", "rows", "bytes")}
        rec["module"] = mine[0]["module"]
        rec["build_share"] = rec["build"] / rec["wall"]
        rec.update(per(log.summarize({f"{workload}:{name}"}), k))
        rec["spark.driver_gap_s"] = sum(r["gap"] for r in mine) / k
        per_call[name] = rec
    layers = per(log.summarize({f"{workload}:{r['call']}" for r in calls}), n)
    layers["spark.driver_gap_s"] = sum(r["gap"] for r in calls) / n
    return per_call, layers


# ---- stream --------------------------------------------------------------
def run_stream(args, env: Env, layers: dict, spans) -> tuple[dict, dict]:
    from stream import (
        StreamWorkload, backlog_files_max, job_layers, prepare, verify_index, verify_join,
    )

    plan, docs = prepare(env.work, args.seed, args.seconds)
    import_engine(layers)
    t_setup = time.time()
    spark = start_session(layers)
    wl = StreamWorkload(spark, env.work, args.seed, spans)
    wl.setup_s = layers["session.import_s"] + time.time() - t_setup
    t_measure = time.time()
    # a run must end within 180 s of its start; a stalled job fails the
    # run at this deadline, leaving time to check and stop
    deadline = T_PROCESS + 165
    recs = {
        "ss_join": wl.run_join(plan["ss_join"], deadline),
        "index": wl.run_index(plan["index"], docs, deadline),
    }
    t_end = time.time()
    rss = jvm_rss_plus_self()

    errors = [f"{name}: {r['missing_files']} open-loop files not consumed"
              for name, r in recs.items() if r["missing_files"] or not r["consumed"]]
    errors += verify_join(spark, recs["ss_join"])
    idx = recs["index"]
    errors += verify_index(spark, idx, docs)
    from spark_streaming_join_example_spark.streaming.neardup_index import neardup_pairs

    n_pairs = neardup_pairs(spark, idx["index_dir"]).count()
    store = [os.path.join(dp, f) for dp, _, fs in os.walk(idx["index_dir"]) for f in fs]
    stop_session()

    lat = sorted(x for r in recs.values() for x in r["latencies"])
    lookups = [x["end"] - x["start"] for x in idx["lookups"]]
    e2e = {
        "setup_s": wl.setup_s, "pass_s": idx["drain_wall"],
        "latency_p50_s": statistics.median(lat), "latency_p90_s": pctl(lat, 90),
    }
    extra = {
        "peak_rss_mb": rss,
        "rows_per_s": idx["drain_rows"] / idx["drain_wall"],
        "lookup_p50_s": statistics.median(lookups) if lookups else 0.0,
        "samples": len(lat), "lookups": len(lookups),
        "per_job_latency_p50_s": {
            n: statistics.median(r["latencies"]) for n, r in recs.items() if r["latencies"]
        },
    }
    lags = sorted(f["published"] - f["due"] for r in recs.values() for f in r["files"])
    for rec in recs.values():
        layers.update(job_layers(rec))
    idx_batches = [p["durationMs"]["triggerExecution"] for p in idx["progress"]
                   if p["numInputRows"]]
    all_batches = [p for r in recs.values() for p in r["progress"] + r.get("drain_progress", [])]
    layers.update({
        "index.batch_p50_ms": statistics.median(idx_batches) if idx_batches else 0.0,
        "index.store_files": len(store),
        "index.store_bytes": sum(os.path.getsize(f) for f in store),
        "index.pairs": n_pairs, "index.lookup_p50_s": extra["lookup_p50_s"],
        "index.rows_per_s": extra["rows_per_s"],
        "generator.lag_p50_s": statistics.median(lags), "generator.lag_max_s": lags[-1],
        "streaming.backlog_files_max": max(
            backlog_files_max(r["files"], r["ends"]) for r in recs.values()
        ),
        # the index's batches run the dedup kernels (shingle, MinHash, verify)
        "operators.dedup.s": sum(
            p["durationMs"]["triggerExecution"]
            for p in idx["progress"] + idx["drain_progress"]
        ) / 1000.0,
        "spark.plan_s": sum(p["durationMs"].get("queryPlanning", 0) for p in all_batches) / 1000.0,
    })
    attempted = sum(len(r["files"]) + len(plan[n]["backlog"]) for n, r in recs.items())
    attempted += len(lookups)
    result = {
        "attempted": attempted, "failed": len(errors), "errors": errors,
        "e2e": e2e, "extra": extra,
        "progress": {n: r["progress"] + r.get("drain_progress", []) for n, r in recs.items()},
        "files": {n: r["files"] for n, r in recs.items()},
        "lookups": idx["lookups"],
    }
    if args.trace:
        from tracing import EventLog

        layers.update(EventLog(env.event_log).summarize(None, (t_measure, t_end)))
    return result, e2e


def jvm_rss_plus_self() -> float:
    from tracing import vm_hwm_mb

    return vm_hwm_mb(jvm_pid()) + vm_hwm_mb(os.getpid())


# ---- trace overhead --------------------------------------------------------
def reference_path(args) -> str:
    return os.path.join(OUT, f"untraced-{args.workload}.json")


def untraced_reference(args) -> float | None:
    """pass_s of the newest untraced run of this workload in this
    checkout (pass_s does not depend on --seconds: one pass, or the
    drains), or None when there is none."""
    try:
        with open(reference_path(args)) as f:
            return json.load(f)["pass_s"]
    except FileNotFoundError:
        return None


# ---- main ------------------------------------------------------------------
def run_one(args) -> int:
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "spark_streaming_join_example_spark")):
        fail(f"engine package not found under {ROOT}")
    sys.path.insert(0, ROOT)
    from tracing import Spans, StealSampler

    ref = untraced_reference(args) if args.trace else None
    env = Env(args.workload, args.seed, bool(args.trace))
    steal = StealSampler()
    spans = Spans(bool(args.trace))
    spans.add(f"workload:{args.workload}", time.time(), None)
    layers: dict = {}
    try:
        runner = run_batch if args.workload == "batch" else run_stream
        result, e2e = runner(args, env, layers, spans)
        spans.close(0, time.time())
        steal_pct = steal.pct()
        layers["box.steal_pct"] = steal_pct
        layers["box.peak_rss_mb"] = result["extra"]["peak_rss_mb"]
        e2e_all = {**e2e, **result["extra"]}
        e2e_all["error_rate"] = result["failed"] / result["attempted"]
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "steal_pct": steal_pct, "metrics": e2e_all,
            "errors": result["errors"],
            **{k: result[k] for k in ("calls", "progress", "files", "lookups") if k in result},
        }
        if args.trace:
            # 0 marks "no untraced run to compare with": a second, untraced
            # run in this process would not fit the 180 s a run may take
            layers["trace.overhead"] = e2e["pass_s"] / ref if ref else 0.0
            units = {k: u for k, (u, _) in per_layer_metrics().items()}
            for k in units:
                layers.setdefault(k, 0.0)
            artifact.update({"per_layer": layers, "spans": spans.items})
            if "per_call" in result:
                artifact["per_call"] = result["per_call"]
            name = f"trace-{args.workload}-{args.seed}.json"
            metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        else:
            name = f"run-{args.workload}-{args.seed}.json"
            with open(reference_path(args), "w") as f:
                json.dump(e2e, f)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        with open(os.path.join(OUT, name), "w") as f:
            json.dump(artifact, f, indent=1, default=str)
    finally:
        stop_session()
        env.cleanup()
    for e in result["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print("  ".join(f"{k}={v:.4g}" for k, v in e2e_all.items() if isinstance(v, (int, float))))
    print(json.dumps({
        "correct": result["failed"] == 0, "attempted": result["attempted"],
        "failed": result["failed"], "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload once, untraced; a table of every end-to-end metric."""
    rows = []
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
        with open(os.path.join(OUT, f"run-{wl}-{args.seed}.json")) as f:
            rows.append(json.load(f))
    units = {**END_TO_END, **EXTRA}
    print(f"{'metric':16s} {'unit':8s} " + " ".join(f"{wl:>12s}" for wl in WORKLOADS))
    for k, u in units.items():
        cells = []
        for r in rows:
            v = r["metrics"].get(k)
            cells.append(f"{v:12.4f}" if v is not None else f"{'-':>12s}")
        print(f"{k:16s} {u:8s} " + " ".join(cells))
    return 0 if all(r["metrics"]["error_rate"] == 0 for r in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, print a table")
    args = ap.parse_args()
    if args.all:
        return run_all(args)
    if args.workload is None:
        ap.error("--workload is required without --all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
