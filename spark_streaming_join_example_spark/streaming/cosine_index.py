"""Streaming cosine-LSH near-dup index (S8 + X2/X3): the VECTOR member
of the near-dup index family, completing it across modalities —

- MinHash index (streaming/neardup_index.py): statistical Jaccard
  blocking over token sets;
- prefix index (streaming/prefix_index.py): provably complete Jaccard
  blocking;
- SimHash index (streaming/simhash_index.py): provably complete
  Hamming blocking over 63-bit fingerprints;
- cosine index (this module): hyperplane-LSH blocking over EMBEDDING
  vectors, exact-cosine verify — the streaming twin of the batch
  ``operators/similarity.ann_pairs_above`` (embedding-cosine near-dup,
  e.g. semantic dedup of a training corpus).

It runs the shared per-batch protocol (streaming/pair_index.py).
Scheme: threshold, dim, n_planes, bands, id/vec columns — the
hyperplanes are a deterministic function of (dim, n_planes, seed 42).
Unlike the batch ann path, the index does NOT auto-scale bits with
corpus size: a growing stream would silently re-bucket new batches
incomparably.  Size ``n_planes``/``bands`` for the corpus you expect
(defaults: 64/8 → 8-bit buckets, per-pair recall ≈ 0.99 at cos 0.95,
≈ 0.93 at 0.9).

Per batch N:

1. vectors land under ``vecs/batch_id=N`` (the verify needs them —
   like the Jaccard twins' toks store, this is the heavy side) and
   banded bucket rows under ``bands/batch_id=N``;
2. candidates = NEW banded rows ⋈ accumulated banded rows (batches
   ≤ N) on (band, bucket);
3. EXACT cosine verify (JVM higher-order functions — zip_with dot +
   sqrt norms, no Python on the maintenance path) keeps pairs with
   cos ≥ threshold.

Precision is exact (the verify is the true cosine); recall equals the
band scheme's collision probability 1 − (1 − s^bits)^bands, the same
statistical contract as the MinHash sibling.  Pinned by
tests/test_cosine_index.py: streamed pairs == one-shot drain ==
``ann_pairs_above`` (same frozen scheme) on the drained corpus, plus
restart idempotence, scheme-mismatch refusal, and read-only lookup.

At 100 TB: per-batch work is one signature pass (JVM bit expressions)
plus the (band, bucket) equi-join against the accumulated index —
fixed-width join keys, cost tracks true collisions; AQE skew-join
splits hot buckets (the join-shaped path, unlike the batch kernel's
opaque groups which salt instead).  ``pair_index.compact_pairs``
consolidates the pairs output (shared layout; score column cos_sim).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import as_double_array, lsh_signature
from .pair_index import (
    lookup_bound,
    maintain_pair_index,
    ordered_pairs,
    read_pairs,
    read_scheme,
    read_upto,
)


def _banded(
    vecs: DataFrame, id_out: str, n_planes: int, bands: int, dim: int
) -> DataFrame:
    """(id, band, bucket) blocking rows for a (id, vec) relation —
    band slices of the sign signature joined into a string bucket,
    the SAME derivation as the batch ann path (shared lsh_signature,
    seed 42), so streamed and batch candidates are identical."""
    rows_per_band = n_planes // bands
    id_in = vecs.columns[0]
    return (
        vecs.select(
            F.col(id_in).alias(id_out),
            lsh_signature(F.col("vec"), dim, n_planes).alias("sig"),
        )
        .select(
            id_out,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.array_join(
                                F.slice(
                                    "sig", i * rows_per_band + 1, rows_per_band
                                ),
                                "",
                            ).alias("bucket"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(id_out, "bb.band", "bb.bucket")
    )


def _cos(a, b):
    """Exact cosine between two double-array columns — JVM HOFs only
    (zip_with products, aggregate sums), no Python."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def maintain_cosine_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    maintain_clusters: bool = False,
    cluster_buckets: int | None = None,
):
    """Start the index-maintenance query on a streaming DataFrame of
    (id_col, vec_col) rows.  Returns the StreamingQuery.

    ``maintain_clusters=True`` folds each batch's verified pair delta
    into incrementally-maintained duplicate CLUSTER ids under
    ``out_dir/clusters`` — same option as the text siblings.
    ``cluster_buckets`` selects the partitioned touched-bucket
    snapshot layout (r11)."""
    if n_planes % bands != 0:
        raise ValueError(
            f"maintain_cosine_index: n_planes={n_planes} is not divisible "
            f"by bands={bands}"
        )
    scheme = {
        "kind": "cosine_lsh",
        "threshold": float(threshold),
        "dim": dim,
        "n_planes": n_planes,
        "bands": bands,
        "id_col": id_col,
        "vec_col": vec_col,
    }

    def land(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        batch_df.select(
            F.col(id_col), as_double_array(vec_col).alias("vec")
        ).write.mode("overwrite").parquet(f"{out_dir}/vecs/batch_id={batch_id}")
        all_vecs, new_vecs = read_upto(spark, out_dir, "vecs", batch_id)
        _banded(
            new_vecs.select(id_col, "vec"), id_col, n_planes, bands, dim
        ).write.mode("overwrite").parquet(f"{out_dir}/bands/batch_id={batch_id}")

        all_bands, new_bands = read_upto(spark, out_dir, "bands", batch_id)
        cand = ordered_pairs(
            new_bands.select(F.col(id_col).alias("a_id"), "band", "bucket").join(
                all_bands.select(F.col(id_col).alias("b_id"), "band", "bucket"),
                ["band", "bucket"],
            ),
            "a_id",
            "b_id",
        )
        # exact cosine verify against the accumulated vector store
        va = all_vecs.select(F.col(id_col).alias("a_id"), F.col("vec").alias("_va"))
        vb = all_vecs.select(F.col(id_col).alias("b_id"), F.col("vec").alias("_vb"))
        verified = (
            cand.join(va, "a_id")
            .join(vb, "b_id")
            .select(
                "a_id",
                "b_id",
                F.round(_cos(F.col("_va"), F.col("_vb")), 6).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
        return verified, new_bands

    return maintain_pair_index(
        stream, out_dir, checkpoint_dir, scheme, land,
        maintain_clusters, cluster_buckets,
    )


def cosine_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated verified near-dup pairs (a_id, b_id, cos_sim)."""
    return read_pairs(spark, out_dir, "cos_sim")


def lookup_near_duplicates(
    spark: SparkSession,
    out_dir: str,
    vectors: DataFrame,
    threshold: float | None = None,
    id_col: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Read-only near-dup lookup against a COSINE index: flag query
    vectors WITHOUT ingesting them, (q_id, doc_id, cos_sim).  Plane
    and band scheme come from the frozen manifest; ``threshold``
    defaults to the index's and may only be RAISED (the band scheme's
    collision curve was sized for the frozen threshold — same rule as
    every sibling).  Verify is the exact cosine, so precision is 1.0;
    recall is the scheme's collision probability at the pair's true
    similarity."""
    m = read_scheme(spark, out_dir, "cosine_lsh")
    t = lookup_bound(
        m, "threshold", threshold,
        "the band scheme's recall was sized for the frozen threshold",
    )
    dim, n_planes, bands = (
        int(m["dim"]), int(m["n_planes"]), int(m["bands"]),
    )
    idx_id = m.get("id_col") or "vec_id"

    q_vecs = vectors.select(
        F.col(id_col), as_double_array(vec_col).alias("vec")
    ).localCheckpoint(eager=False)
    q_banded = _banded(q_vecs, "q_id", n_planes, bands, dim)
    idx_banded = spark.read.parquet(f"{out_dir}/bands").withColumnRenamed(
        idx_id, "doc_id"
    )
    cand = (
        q_banded.join(
            idx_banded.select("doc_id", "band", "bucket"),
            ["band", "bucket"],
        )
        .select("q_id", "doc_id")
        .distinct()
    )
    qa = q_vecs.select(F.col(id_col).alias("q_id"), F.col("vec").alias("_qv"))
    db = (
        spark.read.parquet(f"{out_dir}/vecs")
        .withColumnRenamed(idx_id, "doc_id")
        .select("doc_id", F.col("vec").alias("_dv"))
    )
    return (
        cand.join(qa, "q_id")
        .join(db, "doc_id")
        .select(
            "q_id",
            "doc_id",
            F.round(_cos(F.col("_qv"), F.col("_dv")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= t)
    )
