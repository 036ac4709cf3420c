"""Streaming MinHash near-duplicate index (S8 + X2): continuously
ingest a document stream into a MinHash signature index and emit
verified near-dup pairs incrementally.  The per-batch protocol
(frozen scheme manifest, claim-once pairs, idempotent per-batch_id
overwrites, optional cluster fold) is streaming/pair_index.py's; this
module supplies the blocking and the verify.

Scheme: shingle width, hash count, band count, threshold, id/text
columns.  Signatures are deterministic functions of text (xxhash64),
so nothing needs training, but bucket values are only comparable
under one scheme.

Per batch N:

1. shingle → MinHash signature → banded (doc_id, band, bucket) rows
   land under ``bands/batch_id=N``; the shingle sets the exact verify
   needs land under ``toks/batch_id=N``;
2. candidates = NEW banded rows ⋈ accumulated banded rows (batches
   ≤ N) on (band, bucket);
3. exact-Jaccard verify (operators/dedup.exact_jaccard_verify, the
   SAME code path as the batch pipeline).

Equivalence to the batch pipeline is EXACT, not statistical: same
shingles, same signatures, same buckets, same verify — pinned by
tests/test_neardup_index.py (streaming-ingested pairs == batch
minhash_near_duplicates on the drained corpus, restart idempotence,
crash-mid-batch recovery).

At 100 TB: per-batch work is linear in the batch (signature pass) plus
the candidate join, whose right side is the accumulated BANDED index —
fixed-width longs, (band, bucket) equi-join, so cost tracks true
collisions, not corpus size × batch size.  The toks store is the heavy
side (it carries the shingle sets the verify needs); production
variants can re-derive shingles from the raw corpus at verify time
instead of storing them — same join shape, one more text scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    banded_signatures,
    exact_jaccard_verify,
    minhash_signatures,
)
from .pair_index import (  # noqa: F401 — re-exported for existing callers
    SchemeMismatch,
    _verify_or_freeze_scheme,
    compact_pairs,
)
from .pair_index import (
    _cross_verify,
    lookup_bound,
    maintain_pair_index,
    ordered_pairs,
    read_pairs,
    read_scheme,
    read_upto,
    text_unit,
)


def maintain_neardup_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    num_hashes: int = 128,
    bands: int = 16,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintain_clusters: bool = False,
    cluster_buckets: int | None = None,
):
    """Start the index-maintenance query on a streaming DataFrame of
    (id_col, text_col) rows.  Returns the StreamingQuery.

    ``maintain_clusters=True`` (r10) additionally folds each batch's
    verified pair delta into incrementally-maintained duplicate
    CLUSTER ids under ``out_dir/clusters`` — see
    streaming/cluster_index.py.  ``cluster_buckets`` selects the
    partitioned touched-bucket snapshot layout (r11; read back via
    ``latest_clusters(..., partitioned=True)``)."""

    scheme = {
        "kind": "minhash",
        "shingle": shingle,
        "num_hashes": num_hashes,
        "bands": bands,
        "threshold": float(threshold),
        "id_col": id_col,
        "text_col": text_col,
    }

    def land(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        toks = batch_df.select(
            F.col(id_col), text_unit(text_col, shingle).alias("toks")
        )
        sig = minhash_signatures(toks, id_col, F.col("toks"), num_hashes)
        banded = banded_signatures(sig, id_col, num_hashes, bands)
        # land first, then re-read: the joins below consume one
        # consistent on-disk relation instead of recomputing the
        # signature lineage per consumer
        toks.write.mode("overwrite").parquet(
            f"{out_dir}/toks/batch_id={batch_id}"
        )
        banded.write.mode("overwrite").parquet(
            f"{out_dir}/bands/batch_id={batch_id}"
        )
        all_bands, new_bands = read_upto(spark, out_dir, "bands", batch_id)
        cand = ordered_pairs(
            new_bands.select(F.col(id_col).alias("a_id"), "band", "bucket").join(
                all_bands.select(F.col(id_col).alias("b_id"), "band", "bucket"),
                ["band", "bucket"],
            ),
            "a_id",
            "b_id",
        )
        # the candidate's OLD side lives in an earlier batch's toks file
        all_toks, _ = read_upto(spark, out_dir, "toks", batch_id)
        return exact_jaccard_verify(cand, all_toks, id_col, threshold), new_bands

    return maintain_pair_index(
        stream, out_dir, checkpoint_dir, scheme, land,
        maintain_clusters, cluster_buckets,
    )


def lookup_near_duplicates(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    threshold: float | None = None,
    id_col: str = "q_id",
    text_col: str = "text",
) -> DataFrame:
    """Read-only near-dup lookup against a MINHASH index: flag query
    documents WITHOUT ingesting them, (q_id, doc_id, jac).  Signature
    and band scheme come from the frozen manifest; ``threshold``
    defaults to the index's and may only be raised — the band scheme's
    detection S-curve was sized for the frozen threshold, so a looser
    query would silently run below its designed recall.  Verify is
    exact, so precision is 1.0 either way; per-pair recall at s ≥ 0.9
    under the 128/16 scheme is ≈ 0.9999."""
    m = read_scheme(spark, out_dir, "minhash")
    t = lookup_bound(
        m, "threshold", threshold,
        "the band scheme's recall was sized for the frozen threshold",
    )
    shingle, num_hashes, bands = (
        int(m["shingle"]), int(m["num_hashes"]), int(m["bands"]),
    )
    q_toks = docs.select(
        F.col(id_col), text_unit(text_col, shingle).alias("toks")
    ).localCheckpoint(eager=False)
    q_sig = minhash_signatures(q_toks, id_col, F.col("toks"), num_hashes)
    q_banded = banded_signatures(q_sig, id_col, num_hashes, bands)
    # the index stores carry the BUILD-time id column name — take it
    # from the frozen manifest
    idx_id = m.get("id_col") or "doc_id"
    idx_banded = spark.read.parquet(f"{out_dir}/bands").withColumnRenamed(
        idx_id, "doc_id"
    )
    cand = (
        q_banded.select(F.col(id_col).alias("q_id"), "band", "bucket")
        .join(idx_banded.select("doc_id", "band", "bucket"), ["band", "bucket"])
        .select("q_id", "doc_id")
        .distinct()
    )
    idx_toks = spark.read.parquet(f"{out_dir}/toks").withColumnRenamed(
        idx_id, "doc_id"
    )
    return _cross_verify(cand, q_toks, idx_toks, t)


def neardup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated verified near-dup pairs (a_id, b_id, jac)."""
    return read_pairs(spark, out_dir, "jac")
