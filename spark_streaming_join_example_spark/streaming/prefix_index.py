"""Streaming EXACT near-duplicate ingestion (S8 + X1/X2): the lossless
twin of the MinHash signature index (streaming/neardup_index.py), on
the same per-batch protocol (streaming/pair_index.py).

The blocking relation is the PREFIX-FILTER one
(operators/dedup.prefix_rows), so the emitted pairs are provably
COMPLETE at the threshold, not complete-minus-an-ε: this is the index
to maintain when dedup must be exact (contamination control,
benchmark-leak audits) and re-running the batch join per arrival is
unaffordable.

The one design constraint an incremental prefix index adds: the prefix
of a document must NEVER change as other documents arrive, or old
index rows silently stop being joinable.  The batch join's default
canonical order — ascending global document frequency — shifts with
the corpus, so this index freezes ``order="hash"`` (ascending
xxhash64(token)): corpus-independent, so a document's prefix rows are
write-once.  The pigeonhole losslessness lemma holds for ANY fixed
global order (it never inspects which tokens are kept, only how many);
the frequency order is purely a pruning heuristic, and the hash order
prunes like a random order — weaker, still sub-quadratic (measured in
tests; the hypothesis property drives both orders).  Scheme:
threshold, shingle, order, id/text columns.

Per batch N:

1. shingle → token sets land under ``toks/batch_id=N``; frozen-order
   prefix rows (id, tok, n) land under ``prefix/batch_id=N``;
2. candidates = NEW prefix rows ⋈ accumulated prefix rows (batches
   ≤ N) on the prefix token with the size prefilter
   (operators/dedup.prefix_candidate_join) — lossless: both sides'
   prefixes were built under the same frozen order;
3. exact-Jaccard verify (the shared operators/dedup code path).

Equivalence pinned by tests/test_prefix_index.py: streamed pairs ==
the batch prefix join (hash order) == the batch prefix join (df order)
== brute force, on the drained corpus.

``lookup_near_duplicates`` is the read-only dedup-check-before-ingest:
it flags query documents against the index without writing anything;
only thresholds ≥ the frozen one are accepted — the stored prefixes
are exactly long enough for the frozen bound.

At 100 TB: per-batch work is one shingle+window pass over the batch
(per-document window, no global pass — that is what the frozen order
buys) plus an equi-join of the batch's prefix rows against the
accumulated prefix store on scalar tokens.  The prefix store carries
~(1−t)·|X|+1 rows per document — for t=0.9, about a tenth of the
token volume; the toks store (needed by the verify) is the heavy side,
same note as the MinHash index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    exact_jaccard_verify,
    prefix_candidate_join,
    prefix_rows,
)
from .pair_index import (
    _cross_verify,
    lookup_bound,
    maintain_pair_index,
    read_pairs,
    read_scheme,
    read_upto,
    text_unit,
)


def maintain_prefix_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintain_clusters: bool = False,
    cluster_buckets: int | None = None,
):
    """Start the exact-dedup index maintenance on a streaming DataFrame
    of (id_col, text_col) rows.  Returns the StreamingQuery.

    ``maintain_clusters=True`` (r10) additionally folds each batch's
    verified pair delta into incrementally-maintained duplicate
    CLUSTER ids under ``out_dir/clusters`` — see
    streaming/cluster_index.py; read with
    ``cluster_index.latest_clusters``.  ``cluster_buckets`` selects the
    partitioned touched-bucket snapshot layout (r11; read back via
    ``latest_clusters(..., partitioned=True)``)."""
    scheme = {
        "kind": "prefix",
        "order": "hash",
        "shingle": shingle,
        "threshold": float(threshold),
        "id_col": id_col,
        "text_col": text_col,
    }

    def land(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        toks = batch_df.select(
            F.col(id_col), text_unit(text_col, shingle).alias("toks")
        )
        prefix = prefix_rows(toks, id_col, threshold, order="hash")
        toks.write.mode("overwrite").parquet(
            f"{out_dir}/toks/batch_id={batch_id}"
        )
        prefix.write.mode("overwrite").parquet(
            f"{out_dir}/prefix/batch_id={batch_id}"
        )
        all_prefix, new_prefix = read_upto(spark, out_dir, "prefix", batch_id)
        cand = prefix_candidate_join(new_prefix, all_prefix, id_col, threshold)
        all_toks, _ = read_upto(spark, out_dir, "toks", batch_id)
        return exact_jaccard_verify(cand, all_toks, id_col, threshold), new_prefix

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
    """Read-only near-dup lookup: flag query documents against the
    index WITHOUT ingesting them — the dedup-check-before-ingest step
    (admit a document only if nothing in the corpus near-duplicates
    it).  Returns (q_id, doc_id, jac); the index is untouched.

    The unit scheme (shingle width, canonical order) comes from the
    index's frozen ``_scheme`` manifest, so a caller cannot
    accidentally query with mismatched parameters.  ``threshold``
    defaults to the manifest's; a HIGHER threshold is allowed (the
    stored prefixes were kept for the lower bound, so they are a
    superset of what a stricter query needs — still lossless), a lower
    one raises: the stored prefixes would be too short and silently
    miss pairs.

    Scale shape: same as one maintenance batch, minus all writes —
    per-document window pass over the query batch, scalar-token
    equi-join against the accumulated prefix store, exact verify
    against the toks store."""
    manifest = read_scheme(spark, out_dir, "prefix")
    t = lookup_bound(
        manifest, "threshold", threshold,
        "stored prefixes are too short for a looser query",
    )
    q_toks = docs.select(
        F.col(id_col), text_unit(text_col, int(manifest["shingle"])).alias("toks")
    ).localCheckpoint(eager=False)
    q_prefix = prefix_rows(q_toks, id_col, t, order="hash")
    # index stores carry the BUILD-time id column name — take it from
    # the frozen manifest
    idx_id = manifest.get("id_col") or "doc_id"
    idx_prefix = spark.read.parquet(f"{out_dir}/prefix").withColumnRenamed(
        idx_id, "doc_id"
    )
    a = q_prefix.select(F.col(id_col).alias("q_id"), "tok", F.col("n").alias("_nq"))
    b = idx_prefix.select(F.col("doc_id"), "tok", F.col("n").alias("_nd"))
    cand = (
        a.join(
            b,
            (a["tok"] == b["tok"])
            & (
                F.least("_nq", "_nd").cast("double")
                >= t * F.greatest("_nq", "_nd").cast("double")
            ),
        )
        .select("q_id", "doc_id")
        .distinct()
    )
    idx_toks = spark.read.parquet(f"{out_dir}/toks").withColumnRenamed(
        idx_id, "doc_id"
    )
    return _cross_verify(cand, q_toks, idx_toks, t)


def exact_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated verified exact near-dup pairs (a_id, b_id, jac)."""
    return read_pairs(spark, out_dir, "jac")
