"""Open-loop streaming workload: the stream-stream join and the near-dup index.

Per job, in order:

1. warm-up (counted in ``setup_s``): the job consumes one warm file;
2. open loop: a generator thread publishes pre-written files by atomic
   rename on a fixed schedule that never waits for the engine; the
   latency of a file runs from its due time to the end of the
   micro-batch that consumed it, matched by cumulative ``numInputRows``
   in the public progress reports;
3. backlog drains (the index only): a pre-written backlog is published
   in three parts, each ingested at once by one more ``availableNow``
   poll.

``stream_stream_join`` runs under the default trigger.  The near-dup
index (``maintain_neardup_index``) always runs as ``availableNow``, so
its open loop re-polls it while one reader thread sends
``lookup_near_duplicates`` against the live index.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import threading
import time

import numpy as np

from gen import DocFiles, EventFiles

# name -> (rows per open-loop file, publish period in s, share of
# --seconds, backlog files, rows per backlog file).  Both rates sit far
# below saturation on a 4-core box: a batch costs a near-fixed 4-5 s
# (ss_join: 32 shuffle partitions x 4 state stores commit every batch)
# or 2-4 s (index poll) whether it holds 100 rows or 2,000, so batches
# stay small and the backlog never grows.
JOBS = {
    "ss_join": (100, 0.25, 0.25, 0, 0),
    "index": (20, 0.5, 0.2, 15, 100),
}
DRAINS = 3  # index backlog drains per run; pass_s is their median
N_USERS = 1500
EVENT_SPAN_S = 600  # event time per file: 10 minutes
LOOKUP_PAUSE_S = 0.05


def log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def batch_end(p: dict) -> float:
    return _ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def rows(progress: list[dict]) -> int:
    return sum(p["numInputRows"] for p in progress)


class Publisher(threading.Thread):
    """Renames staged files into the source directory at their due
    times; records due time, publish time and row count per file."""

    def __init__(self, files: list[tuple[str, int]], dest: str, period: float):
        super().__init__(daemon=True)
        self.files, self.dest, self.period = files, dest, period
        self.start_at = time.time() + period
        self.log: list[dict] = []
        self.on_publish = None

    def run(self) -> None:
        for i, (path, n) in enumerate(self.files):
            due = self.start_at + i * self.period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(path, os.path.join(self.dest, os.path.basename(path)))
            at = time.time()
            if self.on_publish is not None:
                self.on_publish(at, n)
            self.log.append({"due": due, "published": at, "rows": n})


def publish_all(files: list[tuple[str, int]], dest: str) -> None:
    for path, _ in files:
        os.rename(path, os.path.join(dest, os.path.basename(path)))


def match_files(files: list[dict], progress: list[dict], scans: int) -> list[float | None]:
    """End time of the batch that consumed each file (None if none did).
    Batches take files in publish order, so file ``i`` is consumed by the
    first batch whose cumulative input reaches the rows through ``i``.
    A query that scans its source ``scans`` times per batch (a self-join
    reads it twice) reports that many times the rows."""
    cum_batches, cum = [], 0
    for p in progress:
        if p["numInputRows"]:
            cum += p["numInputRows"]
            cum_batches.append((cum, batch_end(p)))
    ends, cum_file, j = [], 0, 0
    for f in files:
        cum_file += f["rows"] * scans
        while j < len(cum_batches) and cum_batches[j][0] < cum_file:
            j += 1
        ends.append(cum_batches[j][1] if j < len(cum_batches) else None)
    return ends


def match_polls(files: list[dict], polls: list[tuple[float, float]]) -> list[float | None]:
    """End time of the ``availableNow`` poll that consumed each file: the
    first poll started after the file was published (a poll takes every
    file present when it starts)."""
    ends = []
    for f in files:
        ends.append(next((b for a, b in polls if a >= f["published"]), None))
    return ends


def _wait_rows(q, total: int, deadline: float) -> bool:
    while time.time() < deadline:
        if rows(q.recentProgress) >= total:
            return True
        time.sleep(0.05)
    return False


def prepare(work: str, seed: int, seconds: float) -> tuple[dict, DocFiles]:
    """Pre-write every file of every job before timing starts."""
    events, docs = EventFiles(seed, N_USERS, EVENT_SPAN_S), DocFiles(seed)
    plan = {}
    for name, (n_rows, period, share, n_backlog, backlog_rows) in JOBS.items():
        stage = os.path.join(work, name, "stage")
        os.makedirs(stage)
        n_open = max(2, int(seconds * share / period))
        files = []
        for k in range(1 + n_open + n_backlog):
            path = os.path.join(stage, f"f{k:05d}.parquet")
            n = n_rows if k <= n_open else backlog_rows
            if name == "index":
                files.append((path, docs.write(path, n)))
            else:
                files.append((path, events.write(path, k, n)))
        plan[name] = {
            "warm": files[0], "open": files[1:1 + n_open],
            "backlog": files[1 + n_open:], "period": period,
        }
    return plan, docs


class StreamWorkload:
    def __init__(self, spark, work: str, seed: int, spans):
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.setup_s = 0.0

    # ---- the stream-stream join -----------------------------------------
    def _start_join(self, src: str, ck: str, sink: str):
        from spark_streaming_join_example_spark.streaming.jobs import stream_stream_join
        from spark_streaming_join_example_spark.streaming.replay import read_event_stream

        sdf = read_event_stream(self.spark, src, max_files_per_trigger=None)
        out = stream_stream_join(
            sdf.filter("event_type = 'click'"), sdf.filter("event_type = 'purchase'")
        )
        return (
            out.writeStream.format("parquet").option("path", sink)
            .outputMode("append").option("checkpointLocation", ck).start()
        )

    def run_join(self, plan: dict, deadline: float) -> dict:
        d = os.path.join(self.work, "ss_join")
        src, ck, sink = (os.path.join(d, x) for x in ("src", "ck", "out"))
        os.makedirs(src)
        warm_rows = plan["warm"][1]

        t0 = time.time()
        q = self._start_join(src, ck, sink)
        publish_all([plan["warm"]], src)
        if not _wait_rows(q, warm_rows, deadline):
            raise RuntimeError("ss_join: warm file not consumed")
        n_warm = len(q.recentProgress)
        scans = rows(q.recentProgress) // warm_rows
        warm_end = time.time()
        self.setup_s += warm_end - t0

        pub = Publisher(plan["open"], src, plan["period"])
        pub.start()
        pub.join()
        total = scans * (warm_rows + sum(n for _, n in plan["open"]))
        consumed = _wait_rows(q, total, deadline)
        live = list(q.recentProgress)[n_warm:]
        q.stop()
        log(f"ss_join: warm-up {warm_end - t0:.1f}s, open loop {time.time() - warm_end:.1f}s")
        rec = self._record("ss_join", pub.log, match_files(pub.log, live, scans), live,
                           consumed, (t0, warm_end))
        rec["src"], rec["sink"] = src, sink
        return rec

    # ---- the near-dup index ----------------------------------------------
    def run_index(self, plan: dict, docs: DocFiles, deadline: float) -> dict:
        from spark_streaming_join_example_spark.streaming.neardup_index import (
            lookup_near_duplicates,
            maintain_neardup_index,
        )

        d = os.path.join(self.work, "index")
        src, ck, idx = (os.path.join(d, x) for x in ("src", "ck", "idx"))
        os.makedirs(src)
        spark = self.spark
        progress: list[dict] = []
        polls: list[tuple[float, float]] = []
        committed = [0]  # docs 0..n-1 sit in completed polls
        lock = threading.Lock()
        published = [(0.0, plan["warm"][1])]  # (publish time, cumulative docs)

        def poll() -> None:
            # an availableNow poll ingests every file present when it starts
            t = time.time()
            with lock:
                ready = max(n for at, n in published if at <= t)
            stream = spark.readStream.schema("doc_id long, text string").parquet(src)
            q = maintain_neardup_index(stream, idx, ck, threshold=0.9)
            q.awaitTermination(max(1.0, deadline - time.time()))
            if q.isActive:
                q.stop()
                raise RuntimeError("index poll did not finish in time")
            progress.extend(q.recentProgress)
            polls.append((t, time.time()))
            with lock:
                committed[0] = ready

        def lookup(qid: int, target: int) -> set[int]:
            qdf = spark.createDataFrame(
                [(qid, docs.texts[target] + " query")], "q_id long, text string"
            )
            return {r.doc_id for r in lookup_near_duplicates(spark, idx, qdf).collect()}

        t0 = time.time()
        publish_all([plan["warm"]], src)
        poll()
        lookup(0, 0)
        warm_end = time.time()
        self.setup_s += warm_end - t0
        n_warm, n_warm_polls = len(progress), len(polls)

        lookups: list[dict] = []
        stop = threading.Event()
        rng = np.random.default_rng([self.seed, 5])
        # a query is its target's text plus one word: a near-duplicate at
        # shingle-Jaccard >= 0.97 when the target has 40+ words
        eligible = np.array([i for i, t in enumerate(docs.texts) if len(t.split()) >= 40])

        def reader() -> None:
            k = 1
            while not stop.is_set():
                with lock:
                    pool = eligible[eligible < committed[0]]
                target = int(pool[rng.integers(0, len(pool))])
                a = time.time()
                try:
                    hits = lookup(k, target)
                    err = None if target in hits else (
                        f"lookup {k}: doc {target} not returned, got {sorted(hits)}")
                except Exception as e:  # a failed lookup counts in error_rate
                    err = f"lookup {k}: {type(e).__name__}: {str(e)[:200]}"
                lookups.append({"start": a, "end": time.time(), "ok": err is None, "err": err})
                k += 1
                stop.wait(LOOKUP_PAUSE_S)

        def on_publish(at: float, n: int) -> None:
            with lock:
                published.append((at, published[-1][1] + n))

        pub = Publisher(plan["open"], src, plan["period"])
        pub.on_publish = on_publish
        rd = threading.Thread(target=reader, daemon=True)
        pub.start()
        rd.start()
        while time.time() < deadline:
            n_polls = len(polls)
            poll()
            if not pub.is_alive() and polls[-1][0] > pub.log[-1]["published"]:
                break
            if len(polls) == n_polls:
                time.sleep(0.05)
        stop.set()
        rd.join()
        pub.join()
        live = progress[n_warm:]
        ends = match_polls(pub.log, polls[n_warm_polls:])

        # the backlog arrives in DRAINS equal parts, each taken by one poll
        drain_spans = []
        part = len(plan["backlog"]) // DRAINS
        for i in range(DRAINS):
            publish_all(plan["backlog"][i * part:(i + 1) * part], src)
            d0 = time.time()
            poll()
            drain_spans.append((d0, time.time()))
        drains = [b - a for a, b in drain_spans]
        drain = progress[n_warm + len(live):]
        log(f"index: warm-up {warm_end - t0:.1f}s, open loop "
            f"{drain_spans[0][0] - warm_end:.1f}s with {len(lookups)} lookups, "
            f"drains {[round(x, 1) for x in drains]}s")
        rec = self._record("index", pub.log, ends, live, None not in ends, (t0, warm_end))
        rec.update(lookups=lookups, src=src, index_dir=idx, drain_progress=drain,
                   drain_wall=statistics.median(drains),
                   drain_rows=sum(n for _, n in plan["backlog"][:part]))
        for a, b in drain_spans:
            self.spans.add("drain", a, b, rec["span"])
        return rec

    # ---- bookkeeping ---------------------------------------------------
    def _record(self, name, pub_log, ends, live, consumed, warm_span) -> dict:
        job_span = self.spans.add(f"job:{name}", warm_span[0], time.time(), 0)
        self.spans.add("warm", warm_span[0], warm_span[1], job_span)
        for p in live:
            self.spans.add(
                f"batch:{p['batchId']}", _ts(p["timestamp"]), batch_end(p), job_span,
                rows=p["numInputRows"],
            )
        return {
            "name": name, "files": pub_log, "ends": ends,
            "latencies": [e - f["due"] for f, e in zip(pub_log, ends) if e is not None],
            "missing_files": sum(1 for e in ends if e is None),
            "consumed": consumed, "progress": live, "span": job_span,
        }


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def job_layers(rec: dict) -> dict:
    """Per-job streaming and state numbers from the public progress:
    medians over the open loop's data batches unless named otherwise.
    Row counts are ``numInputRows`` as Spark reports it, once per scan
    of the source (the self-join scans it twice)."""
    name = rec["name"]
    batches = rec["progress"] + rec.get("drain_progress", [])
    data = [p for p in rec["progress"] if p["numInputRows"]]

    def dur(key):
        return _med([p["durationMs"].get(key, 0) for p in data])

    m = {
        f"streaming.{name}.batches": len(batches),
        f"streaming.{name}.empty_batch_frac": (
            sum(1 for p in batches if not p["numInputRows"]) / len(batches) if batches else 0.0
        ),
        f"streaming.{name}.batch_p50_ms": dur("triggerExecution"),
        f"streaming.{name}.add_batch_ms": dur("addBatch"),
        f"streaming.{name}.query_planning_ms": dur("queryPlanning"),
        f"streaming.{name}.wal_commit_ms": dur("walCommit"),
        f"streaming.{name}.commit_offsets_ms": dur("commitOffsets"),
        f"streaming.{name}.latest_offset_ms": dur("latestOffset"),
        f"streaming.{name}.rows_per_batch": _med([p["numInputRows"] for p in data]),
    }
    if name == "ss_join":
        def st(key):
            return [sum(s.get(key, 0) for s in p.get("stateOperators") or []) for p in data]

        last = (batches[-1].get("stateOperators") or []) if batches else []
        m.update({
            "state.ss_join.commit_ms": _med(st("commitTimeMs")),
            "state.ss_join.updates_ms": _med(st("allUpdatesTimeMs")),
            "state.ss_join.removals_ms": _med(st("allRemovalsTimeMs")),
            "state.ss_join.rows_updated": _med(st("numRowsUpdated")),
            "state.ss_join.rows_total": sum(s.get("numRowsTotal", 0) for s in last),
            "state.ss_join.memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
            "state.ss_join.dropped_by_watermark": sum(
                s.get("numRowsDroppedByWatermark", 0)
                for p in batches for s in p.get("stateOperators") or []
            ),
        })
    return m


def backlog_files_max(pub_log: list[dict], ends: list[float | None]) -> int:
    """Most files published but not yet consumed, seen at any publish."""
    worst = 0
    for f in pub_log:
        t = f["published"]
        waiting = sum(
            1 for g, e in zip(pub_log, ends) if g["published"] <= t and (e is None or e > t)
        )
        worst = max(worst, waiting)
    return worst


# ---- correctness twins ---------------------------------------------------
def verify_join(spark, rec: dict) -> list[str]:
    """Every (click_id, purchase_id) pair the stream emitted, once each,
    equals the batch join over the same files."""
    from spark_streaming_join_example_spark.schemas import EVENTS
    from spark_streaming_join_example_spark.streaming.jobs import stream_stream_join

    ev = spark.read.schema(EVENTS).parquet(rec["src"])
    twin = stream_stream_join(
        ev.filter("event_type = 'click'"), ev.filter("event_type = 'purchase'")
    )
    got = [(r.click_id, r.purchase_id)
           for r in spark.read.parquet(rec["sink"]).select("click_id", "purchase_id").collect()]
    want = {(r.click_id, r.purchase_id) for r in twin.select("click_id", "purchase_id").collect()}
    if len(got) != len(set(got)) or set(got) != want:
        return [f"ss_join: {len(got)} pairs emitted, batch twin has {len(want)}"]
    return []


def verify_index(spark, rec: dict, docs: DocFiles) -> list[str]:
    """Index pairs equal the batch MinHash pipeline over the same
    documents and include every planted pair; every lookup found its
    target."""
    from spark_streaming_join_example_spark.operators.dedup import minhash_near_duplicates
    from spark_streaming_join_example_spark.streaming.neardup_index import neardup_pairs

    all_docs = spark.read.schema("doc_id long, text string").parquet(rec["src"])
    want = {(r.a_id, r.b_id, r.jac)
            for r in minhash_near_duplicates(all_docs, threshold=0.9).collect()}
    got = {(r.a_id, r.b_id, r.jac) for r in neardup_pairs(spark, rec["index_dir"]).collect()}
    errs = []
    if got != want:
        errs.append(f"index: {len(got)} pairs, batch pipeline has {len(want)}")
    planted = {(min(a, b), max(a, b)) for a, b in docs.planted}
    if not planted <= {(a, b) for a, b, _ in want}:
        errs.append("index: a planted near-duplicate pair was not found")
    return errs + [x["err"] for x in rec["lookups"] if not x["ok"]]
