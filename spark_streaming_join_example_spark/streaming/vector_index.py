"""Streaming ANN-index maintenance (S8 + X3): continuously ingest an
embedding stream into a cell-partitioned IVF index.

The production retrieval-pipeline shape: the coarse quantizer is
trained OFFLINE on a bounded corpus sample and then FROZEN (FAISS
practice — a quantizer change is a versioned index rebuild, never an
in-place upsert, because cell assignment must stay consistent across
every batch ever written).  Since r9 the freeze is ENFORCED, not
conventional: the first batch persists the centroid matrix under
``out_dir/_quantizer`` and every batch verifies the caller's
centroids against it exactly — the manifest rule of
streaming/pair_index.py, which the text indexes use for their
schemes; ``load_quantizer`` hands restarts and queries the frozen
matrix.  Each micro-batch then runs the linear
cell-assignment pass against the broadcast centroids and lands under
``batch_id=N/cell=C/`` — idempotent per batch_id (foreachBatch is
at-least-once; a retried batch overwrites its own subtree), and
queries prune to their probed cells via ordinary partition pruning:
a kNN probe reads n_probe/n_cells of the index, not all of it.

At 100 TB: assignment is d·n_cells flops per row with no shuffle (the
sink's partitionBy is a local sort within each task), the index only
ever appends, and compaction of small batch files is an orthogonal
OPTIMIZE pass over closed batch_id directories.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import (
    _assign_cells,
    _deterministic_sample,
    _kmeans_centroids,
)
from ..sources.sinks import to_foreach_batch
from .pair_index import read_or_none, verify_or_freeze


def train_quantizer(corpus: DataFrame, n_cells: int = 16, seed: int = 42):
    """Train the frozen coarse quantizer on the deterministic bounded
    sample of a (batch) corpus.  Returns the centroid matrix."""
    import numpy as np

    sample = _deterministic_sample(corpus, "embedding")
    mat = np.array([r[0] for r in sample], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return _kmeans_centroids(mat, n_cells, seed=seed)


def load_quantizer(spark: SparkSession, out_dir: str):
    """The index's frozen centroid matrix (what knn_query_index and a
    maintenance restart should use), as a float64 numpy matrix in cell
    order — the same type train_quantizer returns."""
    import numpy as np

    rows = spark.read.parquet(f"{out_dir}/_quantizer").collect()
    return np.array(
        [list(r.centroid) for r in sorted(rows, key=lambda r: r.cell)],
        dtype=np.float64,
    )


def maintain_vector_index(
    stream: DataFrame,
    centroids,
    out_dir: str,
    checkpoint_dir: str,
):
    """Start the index-maintenance query: assign each streamed vector
    to its nearest cell and append it to the cell-partitioned index,
    exactly-once via per-batch_id idempotent writes.  The first batch
    freezes the quantizer under ``out_dir/_quantizer``; restarts must
    pass the same centroids (or ``load_quantizer(out_dir)``)."""
    spark = stream.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    assigned = _assign_cells(stream, bc, 1)
    # the frozen quantizer manifest (pair_index.verify_or_freeze):
    # parquet doubles round-trip bit-exactly, so the check is exact
    quantizer = [
        {"cell": i, "centroid": [float(x) for x in c]}
        for i, c in enumerate(centroids)
    ]

    def land(batch_df: DataFrame, batch_id: int) -> None:
        verify_or_freeze(
            batch_df.sparkSession, f"{out_dir}/_quantizer", quantizer, "parquet"
        )
        (
            batch_df.write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return to_foreach_batch(assigned, land, checkpoint_dir)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
) -> None:
    """The OPTIMIZE pass: rewrite the accumulated small per-batch
    files into one file per cell under ``out_dir``.

    Streaming ingestion necessarily writes one file set per
    (micro-batch, cell); after N batches a cell holds N small files
    and the kNN read pays N file-open costs per probed cell.
    Compaction reads the closed index once, drops the batch_id
    partitioning level, and rewrites cell-partitioned — run it offline
    on a schedule, then point readers at the compacted dir (the
    maintenance query keeps appending to the live dir; the next
    compaction folds both).  Queries are layout-agnostic:
    knn_query_index works identically on either dir.

    One hash exchange on cell puts each cell's rows in exactly one
    write task → exactly one file per cell; at 100 TB shard hot cells
    instead by repartitioning on (cell, pmod(vec_id, shards))."""
    idx = spark.read.parquet(index_dir).select("vec_id", "cell", "embedding")
    n = spark.sparkContext.defaultParallelism
    (
        idx.repartition(n, "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out_dir)
    )
    # the compacted snapshot is self-contained: carry the frozen
    # quantizer along so load_quantizer/knn_query_index work against
    # either directory (older indexes without a manifest stay readable)
    frozen = read_or_none(spark, f"{index_dir}/_quantizer")
    if frozen is not None:
        frozen.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/_quantizer")


def knn_query_index(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[float]]],
    centroids,
    k: int = 5,
    n_probe: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Answer a small kNN query batch against the maintained index:
    probe each query's ``n_probe`` nearest cells (driver-side flops —
    the query set is broadcast-sized by definition), read ONLY those
    cells' partitions, exact-cosine re-rank inside them.

    The cell filter is a partition-column predicate, so the scan
    prunes to the probed directories — the plan-visible analogue of an
    inverted-file lookup."""
    import numpy as np

    q = np.array([v for _, v in queries], dtype=np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    cent = np.asarray(centroids)
    order = np.argsort(-(q @ cent.T), axis=1)[:, : min(n_probe, len(cent))]
    q_rows = [
        (int(qid), [float(x) for x in vec], [int(c) for c in order[i]])
        for i, (qid, vec) in enumerate(queries)
    ]
    qdf = spark.createDataFrame(
        q_rows, "q_id long, q_vec array<double>, cells array<int>"
    ).select("q_id", "q_vec", F.explode("cells").alias("cell"))
    probed = sorted({int(c) for row in order for c in row})
    idx = spark.read.parquet(index_dir).filter(F.col("cell").isin(probed))
    dot = F.aggregate(
        F.zip_with(
            "q_vec",
            F.col("embedding").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qn = F.sqrt(F.aggregate("q_vec", F.lit(0.0), lambda a, x: a + x * x))
    vn = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    from pyspark.sql import Window

    scored = (
        idx.join(F.broadcast(qdf), "cell")
        .withColumn("cos_sim", F.round(dot / (qn * vn), round_to))
        .dropDuplicates(["q_id", "vec_id"])
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )
