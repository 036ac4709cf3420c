"""Streaming SimHash near-dup index (S8 + X2): the Hamming-distance
member of the text-index family, completing the trio —

- MinHash index (streaming/neardup_index.py): statistical Jaccard
  blocking, exact-Jaccard verify;
- prefix index (streaming/prefix_index.py): provably complete
  Jaccard blocking, exact-Jaccard verify;
- SimHash index (this module): provably complete HAMMING blocking
  over 63-bit fingerprints, exact bit_count verify.

It runs the shared per-batch protocol (streaming/pair_index.py).
Scheme: n_bits, max_hamming, shingle, id/text columns.  Per batch N:

1. fingerprints land under ``fps/batch_id=N`` — and that is the WHOLE
   per-document footprint.  Unlike the Jaccard indexes, which must
   store token/band relations for the verify, the SimHash verify is
   ``bit_count(a_fp XOR b_fp)`` on the fingerprints themselves, and
   the pigeonhole chunks are pure bit ops on one long
   (operators/dedup.simhash_chunks), re-derived at read time.  The
   index stores 16 bytes per document; this is the index to keep hot
   when the corpus is 100 TB and the toks store of the Jaccard twins
   is unaffordable.
2. candidates = chunks(NEW fps) ⋈ chunks(accumulated fps ≤ N) on
   (chunk_idx, chunk_value); the chunk rows carry the fingerprints,
   so the exact Hamming verify falls out of the same join.

Equivalence to the batch pipeline is EXACT, not statistical — same
fingerprints (xxhash64 bit sums), same pigeonhole chunk layout (the
shared simhash_chunks helper), same verify.  Pinned by
tests/test_simhash_index.py: streamed pairs == batch
operators/dedup.simhash_near_duplicates on the drained corpus, plus
restart idempotence, scheme-mismatch refusal, and lookup == brute
force (pigeonhole blocking is lossless, so the read-only lookup has
precision AND recall 1.0 at the frozen radius).

Scale contract (measured — SCALE.md §Round-10): the candidate join's
cost tracks CHUNK COLLISIONS, so the UNIT the fingerprint summarizes
decides everything.  Token-unit fingerprints (shingle=1, the
registered batch queries' semantics) concentrate on small-vocabulary
corpora and the blocker saturates to a constant all-pairs fraction
(14.2 % → 7.8 % measured from n=5 k to n=80 k — Θ(n²); do not
self-join a 100 TB corpus in that mode).  ``shingle=3`` fingerprints
word n-gram units — the SAME fix that rescued MinHash (r8) and the
prefix join (r9) — and collapses the measured candidate rate to
0.01 % of all-pairs on the identical corpus: THAT is the scale mode,
and the unit width freezes into the scheme manifest like every other
parameter.  Maintenance work per batch is one fingerprint pass (JVM
bit expressions, no Python) plus the chunk equi-join (AQE skew-split
applies).  File-count hygiene: ``pair_index.compact_pairs``
consolidates the pairs output (shared layout); the fps store compacts
the same way on a schedule (union of CLOSED batches to a versioned
dir).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import simhash63, simhash_chunks
from .pair_index import (
    lookup_bound,
    maintain_pair_index,
    ordered_pairs,
    read_pairs,
    read_scheme,
    read_upto,
    text_unit,
)


def _chunk_rows(
    fps: DataFrame, id_out: str, fp_out: str, n_bits: int, max_hamming: int
) -> DataFrame:
    """Explode a (id, fp) relation into (id, fp, ci, cv) chunk rows
    under the frozen layout; the first two columns are renamed so the
    candidate self-join needs no aliasing gymnastics."""
    id_in, fp_in = fps.columns[0], "fp"
    return fps.select(
        F.col(id_in).alias(id_out),
        F.col(fp_in).alias(fp_out),
        F.explode(simhash_chunks(F.col(fp_in), n_bits, max_hamming)).alias(
            "c"
        ),
    ).select(id_out, fp_out, "c.ci", "c.cv")


def _hamming(a_fp: str, b_fp: str):
    return F.bit_count(F.col(a_fp).bitwiseXOR(F.col(b_fp))).cast("int")


def maintain_simhash_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_bits: int = 63,
    shingle: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintain_clusters: bool = False,
    cluster_buckets: int | None = None,
):
    """Start the index-maintenance query on a streaming DataFrame of
    (id_col, text_col) rows.  Returns the StreamingQuery.

    ``shingle > 1`` fingerprints word n-gram units — the scale-safe
    form on small-vocabulary corpora (candidates 14.2 % → 0.01 % of
    all-pairs measured at n=5 k; SCALE.md §Round-10).  The unit choice
    freezes into the scheme manifest like every other parameter.

    ``maintain_clusters=True`` folds each batch's verified pair delta
    into incrementally-maintained duplicate CLUSTER ids under
    ``out_dir/clusters`` (streaming/cluster_index.py).
    ``cluster_buckets`` selects the partitioned touched-bucket
    snapshot layout (r11; read back via
    ``latest_clusters(..., partitioned=True)``)."""

    scheme = {
        "kind": "simhash",
        "n_bits": n_bits,
        "max_hamming": max_hamming,
        "shingle": shingle,
        "id_col": id_col,
        "text_col": text_col,
    }

    def land(batch_df: DataFrame, batch_id: int):
        batch_df.select(
            F.col(id_col),
            simhash63(text_unit(text_col, shingle), n_bits=n_bits).alias("fp"),
        ).write.mode("overwrite").parquet(f"{out_dir}/fps/batch_id={batch_id}")
        all_fps, new_fps = read_upto(
            batch_df.sparkSession, out_dir, "fps", batch_id
        )
        # candidates + verify in one pass: the chunk rows CARRY the
        # fingerprints, so hamming falls out of the equi-join
        a = _chunk_rows(new_fps, "_aid", "_afp", n_bits, max_hamming)
        b = _chunk_rows(all_fps, "_bid", "_bfp", n_bits, max_hamming)
        near = (
            a.join(b, ["ci", "cv"])
            .withColumn("hamming", _hamming("_afp", "_bfp"))
            .filter(F.col("hamming") <= max_hamming)
        )
        return ordered_pairs(near, "_aid", "_bid", "hamming"), new_fps

    return maintain_pair_index(
        stream, out_dir, checkpoint_dir, scheme, land,
        maintain_clusters, cluster_buckets,
    )


def simhash_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated verified near-dup pairs (a_id, b_id, hamming)."""
    return read_pairs(spark, out_dir, "hamming")


def lookup_near_duplicates(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    max_hamming: int | None = None,
    id_col: str = "q_id",
    text_col: str = "text",
) -> DataFrame:
    """Read-only near-dup lookup against a SIMHASH index: flag query
    documents WITHOUT ingesting them, (q_id, doc_id, hamming).

    The fingerprint scheme comes from the frozen manifest;
    ``max_hamming`` defaults to the index's and may only be LOWERED —
    the pigeonhole chunk count was sized for the frozen radius, so a
    larger query radius would silently lose the losslessness
    guarantee.  Within the frozen radius, blocking is lossless and the
    verify exact, so both precision and recall are 1.0 (in fingerprint
    space)."""
    m = read_scheme(spark, out_dir, "simhash")
    r = lookup_bound(
        m, "max_hamming", max_hamming,
        "the pigeonhole chunk layout only guarantees losslessness up to "
        "the frozen radius",
        radius=True,
    )
    r_index, n_bits = int(m["max_hamming"]), int(m["n_bits"])
    # unit scheme comes from the frozen manifest — a caller cannot
    # query with a different shingle width than the index was built at
    shingle = int(m.get("shingle") or 1)
    idx_id = m.get("id_col") or "doc_id"
    q_fps = docs.select(
        F.col(id_col),
        simhash63(text_unit(text_col, shingle), n_bits=n_bits).alias("fp"),
    )
    idx_fps = (
        spark.read.parquet(f"{out_dir}/fps")
        .select(F.col(idx_id).alias("doc_id"), "fp")
    )
    # chunk at the FROZEN radius (the layout the index's pairs were
    # built under), verify at the query radius r ≤ frozen
    a = _chunk_rows(q_fps, "q_id", "_qfp", n_bits, r_index)
    b = _chunk_rows(idx_fps, "doc_id", "_dfp", n_bits, r_index)
    return (
        a.join(b, ["ci", "cv"])
        .withColumn("hamming", _hamming("_qfp", "_dfp"))
        .filter(F.col("hamming") <= r)
        .select("q_id", "doc_id", "hamming")
        .distinct()
    )
