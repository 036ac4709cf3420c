"""SparkSession factory + mandatory runtime confs.

The ``events`` fixture has stored its event-time column two ways
across driver refreshes: parquet ``timestamp[ns]`` — which Spark 4.x
rejects by default (PARQUET_TYPE_ILLEGAL) — and plain
``timestamp[us]``.  ``spark.sql.legacy.parquet.nanosAsLong`` is a
runtime-settable SQL conf (verified in this environment) kept on so the
nanos encoding stays readable; the loader sniffs the footer and picks
the right normalization (sources/batch.py).  ``ensure_runtime_confs``
can repair *any* session — including one the test driver created
without our configs — before a read happens.

Scale notes (100 TB design, SURVEY.md §7 step 6):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
  ``events.user_id`` is zipf-ish; at cluster scale AQE splits the hot
  keys without manual salting.
- ``spark.sql.shuffle.partitions`` defaults to 2× local cores here; on
  a 1000-executor cluster you would set it (or let AQE's
  ``initialPartitionNum``) to ~2-3× total cores. It is frozen into a
  streaming checkpoint at first run — pick before going to prod.
- Broadcast threshold raised to 64 MiB: every TPC-H-style dimension
  (region/nation/supplier/customer at these SFs) broadcast-joins, which
  removes the shuffle on the fact side entirely.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: confs that are runtime-settable and REQUIRED for correctness.
RUNTIME_CONFS: dict[str, str] = {
    # events.ts is INT64 TIMESTAMP(NANOS) parquet — illegal in Spark
    # without this; read as LongType then converted (sources/batch.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the DuckDB oracle returns naive UTC timestamps; pin the session
    # so collected datetimes agree bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
}

#: build-time confs (need a fresh session to change).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # r15: lowering spark.sql.adaptive.coalescePartitions.
    # minPartitionSize from its 1 MB default to 128k was A/B'd
    # (tools/ab_minpartsize.py — with parallelismFirst=true the
    # post-shuffle target is max(totalBytes/parallelism,
    # minPartitionSize), and the 1 MB floor caps fixture reduce
    # stages at 2-6 tasks) and REJECTED: per-query signs FLIPPED
    # across three alternating-session rounds (headline totals 0.88 /
    # 0.98 / 0.95; q_rfm_segments 0.71 then 1.07/1.08;
    # q_cross_doc_ngram_dup regressed 1.19-1.35 in two of three), so
    # the true effect is below this box's steal noise with regression
    # risk on the heavy tier.  Stock default kept.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


#: confs already reported as unsettable — every loader calls
#: ``ensure_runtime_confs``, so each key is logged once per process.
_unsettable: set[str] = set()


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply required runtime confs to an existing session.

    Called by every loader so the engine works on sessions it did not
    create (e.g. the verification driver's).  A conf this build does
    not recognize or cannot set at runtime is logged once per key and
    skipped; the read that needs it surfaces the failure.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            if k not in _unsettable:
                _unsettable.add(k)
                log.warning("cannot set runtime conf %s=%s", k, v, exc_info=True)
    return spark


def get_spark(
    app_name: str = "spark-graft",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default all cores);
    ``SPARK_GRAFT_SHUFFLE`` the shuffle partition count (default 32 —
    sized so sf0.1 partitions stay ~10-50 MB; at 100 TB you'd scale this
    to ~2-3× total executor cores and let AQE coalesce).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    # Executor Python workers must import this package: cloudpickle
    # serializes module-level pandas-UDF kernels BY REFERENCE, so a
    # worker whose sys.path lacks the repo root raises
    # ModuleNotFoundError on the first vector kernel.  Launching from
    # the repo root hides this (cwd is on sys.path); launching from
    # anywhere else broke.  Pin the repo root onto the workers'
    # PYTHONPATH explicitly — on a real cluster the equivalent is
    # shipping the package via --py-files/archives.
    repo_root = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        joined = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        # local mode: workers fork from the driver-launched JVM and
        # read the driver's process env — set it BEFORE getOrCreate
        os.environ["PYTHONPATH"] = joined
    else:
        joined = existing
    # cluster mode: ALWAYS pin the per-executor env — a driver whose
    # own PYTHONPATH already carries the repo root would otherwise
    # skip the executor pin exactly when the local env masks the
    # problem (executors on a non-local deployment don't inherit the
    # driver's process env)
    builder = builder.config("spark.executorEnv.PYTHONPATH", joined)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)
