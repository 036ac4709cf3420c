"""Closed-loop batch workload: one client calls registry queries.

Each call is what a caller of the engine pays: the registry call that
builds the DataFrame (including any eager operator loops), Catalyst
planning, execution and the ``toArrow()`` fetch.  The cache is cleared
before every call, outside its timing.  Every result is checked against
the query's DuckDB oracle twin, computed before any timing starts.
"""

from __future__ import annotations

import statistics
import time

from gate import check_table

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# (query, engine module whose code the call exercises).  The relational
# calls span scan/aggregate, multi-way joins, windows, as-of and
# session joins; the operator calls span the graph loops (build-bound),
# the dedup pipeline and the similarity kernels (execution-bound).
CALLS = [
    ("q_pricing_summary", "relational"),
    ("q_window_rank", "relational"),
    ("q_market_join6", "relational"),
    ("q_asof_join", "relational"),
    ("q_session_window", "relational"),
    ("q_cosine_topk", "operators.similarity"),
    ("q_kcore", "operators.graph"),
    ("q_cross_doc_ngram_dup", "operators.dedup"),
]


class BatchWorkload:
    def __init__(self, spark, sf_dir: str, workload: str, spans, traced: bool):
        from spark_streaming_join_example_spark.plans.registry import queries_dict

        self.spark, self.sf_dir, self.workload = spark, sf_dir, workload
        self.spans, self.traced = spans, traced
        self.fns = queries_dict()
        self.pass_walls: list[float] = []  # measured passes, harness time included
        self.errors: list[str] = []

    def call(self, name: str, module: str, expected, group: str | None, parent) -> dict:
        spark = self.spark
        spark.catalog.clearCache()
        if group is not None:
            spark.sparkContext.setJobGroup(group, group)
        t0 = time.time()
        df = self.fns[name](spark, self.sf_dir)
        t1 = time.time()
        # Catalyst: analysis, optimisation and physical planning; the
        # fetch below reuses this QueryExecution's plan
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        table = df.toArrow()
        t3 = time.time()
        rec = {
            "call": name, "module": module, "start": t0, "end": t3,
            "wall": t3 - t0, "build": t1 - t0, "plan": t2 - t1, "fetch": t3 - t2,
            "rows": table.num_rows, "bytes": table.nbytes,
        }
        sid = self.spans.add(f"call:{name}", t0, t3, parent, module=module)
        self.spans.add("build", t0, t1, sid)
        self.spans.add("plan", t1, t2, sid)
        self.spans.add("fetch", t2, t3, sid)
        err = check_table(table, expected)
        rec["ok"] = err is None
        if err is not None:
            self.errors.append(f"{name}: {err}")
        return rec

    def run_pass(self, order, oracle: dict, measured: bool, label: str) -> list[dict]:
        """One call of every query in ``order``.  In a traced run each
        measured call runs under the job group ``<workload>:<query>``."""
        t0 = time.time()
        pid = self.spans.add(f"pass:{label}", t0, None, 0, measured=measured)
        recs = []
        for name, module in order:
            group = None
            if self.traced:
                group = f"{self.workload}:{name}" if measured else f"{self.workload}:warm"
            try:
                recs.append(self.call(name, module, oracle[name], group, pid))
            except Exception as e:  # a failing call counts in error_rate
                self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        self.spans.close(pid, time.time())
        if measured:
            self.pass_walls.append(time.time() - t0)
        return recs


def summarize(passes: list[list[dict]]) -> dict:
    """pass_s: median pass.  latency_p50_s: median over the queries of
    each query's median call, which a mix of short and long queries
    keeps steadier than the median of all calls.  latency_p90_s: 90th
    percentile of all calls."""
    calls = [r for p in passes for r in p]
    walls = sorted(r["wall"] for r in calls)
    by_query: dict[str, list[float]] = {}
    for r in calls:
        by_query.setdefault(r["call"], []).append(r["wall"])
    return {
        "pass_s": statistics.median(sum(r["wall"] for r in p) for p in passes),
        "latency_p50_s": statistics.median(statistics.median(v) for v in by_query.values()),
        "latency_p90_s": statistics.quantiles(walls, n=10)[-1] if len(walls) > 1 else walls[0],
        "samples": len(walls),
    }
