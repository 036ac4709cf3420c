"""Streaming repeated-span (substring-level) index: the incremental
form of plans/round15.py's span-dedup queries, completing the index
family's SUBSTRING member beside the document-level siblings
(MinHash/prefix/SimHash over text, cosine over embeddings).

What it maintains: the word-n-gram POSTING store (gram + position per
document) and, per batch, the set of grams that NEWLY became
cross-document duplicates — so "which spans recur in the corpus" and
"how much of each document is duplicated text" are always answerable
without re-scanning the corpus.

Per micro-batch (the scheme manifest and per-batch_id overwrites of
streaming/pair_index.py; the span index emits grams, not pairs):

1. the batch's gram positions (operators/text.gram_positions) land
   under ``grams/batch_id=N``;
2. newly-duplicated grams = grams PRESENT IN BATCH N whose distinct
   document frequency over batches ≤ N reaches 2 while the frequency
   over batches < N was ≤ 1 — each duplicated gram is therefore
   claimed by exactly ONE batch (the one whose arrival made it
   duplicated); they land under ``dup_grams/batch_id=N`` with the
   doc-frequency at claim time.  A retried batch re-reads only
   predecessors + itself and rewrites the same rows (idempotent under
   foreachBatch redelivery).

Claim-once assumes the write-once precondition of pair_index.py —
re-ingesting an id would re-count its grams.  Screen shards via
:func:`lookup_span_coverage` before admission (demo.py §7 pattern).

Read APIs: :func:`duplicated_grams` (the accumulated duplicated-gram
set), :func:`span_coverage` (per-document duplicated-span coverage of
the ingested corpus — streamed ≡ batch q_span_coverage, pinned in
tests/test_span_index.py), and :func:`lookup_span_coverage`
(READ-ONLY admission screen: how much of an incoming document's text
already exists in the corpus — grams present in the index at all, a
deliberately stricter notion than cross-document duplication, because
for admission the question is "is this content already there?", not
"is it there twice?").

At 100 TB: the posting store is token-volume-sized and partitioned by
batch; per-batch work is one gram pass over the batch plus an
equi-join of the batch's DISTINCT gram keys against the accumulated
postings (posting-list-sized for those keys only — hot boilerplate
grams are exactly the ones worth knowing about); the coverage read is
one semi-join + one per-document window.  Nothing Python-side
anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.text import gram_positions, span_coverage_frame
from ..sources.sinks import to_foreach_batch
from .pair_index import _verify_or_freeze_scheme, read_scheme, read_upto


def maintain_span_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    span: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start span-index maintenance on a streaming DataFrame of
    (id_col, text_col) rows.  Returns the StreamingQuery."""
    scheme = {
        "kind": "span_postings",
        "span": span,
        "id_col": id_col,
        "text_col": text_col,
    }

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _verify_or_freeze_scheme(spark, out_dir, scheme)

        grams = gram_positions(batch_df, id_col, text_col, span)
        grams.write.mode("overwrite").parquet(
            f"{out_dir}/grams/batch_id={batch_id}"
        )

        # newly-duplicated claim: only grams present in THIS batch can
        # change doc frequency, so restrict the accumulated scan to
        # them (semi join on the gram key), then count distinct docs
        # at ≤ N and at < N in one aggregation pass
        all_g, new_g = read_upto(spark, out_dir, "grams", batch_id)
        hist = all_g.join(new_g.select("gram").distinct(), "gram", "left_semi")
        newly_dup = (
            hist.groupBy("gram")
            .agg(
                F.countDistinct(id_col).alias("n_docs"),
                F.countDistinct(
                    F.when(F.col("batch_id") < batch_id, F.col(id_col))
                ).alias("_nd_prev"),
            )
            .filter((F.col("n_docs") >= 2) & (F.col("_nd_prev") <= 1))
            .select("gram", "n_docs")
        )
        newly_dup.write.mode("overwrite").parquet(
            f"{out_dir}/dup_grams/batch_id={batch_id}"
        )

    return to_foreach_batch(stream, land, checkpoint_dir)


def grams_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated posting relation (id, n_toks, pos, gram)."""
    m = read_scheme(spark, out_dir, "span_postings")
    return spark.read.parquet(f"{out_dir}/grams").select(
        m["id_col"], "n_toks", "pos", "gram"
    )


def duplicated_grams(spark: SparkSession, out_dir: str) -> DataFrame:
    """All grams known to be cross-document duplicates, with the doc
    frequency recorded at claim time (a lower bound on the current
    frequency — later arrivals do not re-claim).  The per-gram MIN
    deterministically collapses the retry race where a crashed batch's
    claim landed under two batch_ids before the checkpoint settled
    (same discipline as pair_index.compact_pairs, r11 advisor
    fix)."""
    read_scheme(spark, out_dir, "span_postings")
    return (
        spark.read.parquet(f"{out_dir}/dup_grams")
        .groupBy("gram")
        .agg(F.min("n_docs").alias("n_docs"))
    )


def span_coverage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage of the INGESTED corpus —
    identical output to the batch q_span_coverage over the same
    documents (streamed ≡ batch pinned in tests/test_span_index.py):
    (id, n_toks, covered_toks, dup_coverage, longest_span).

    ABSENT-ROW CONTRACT (matches the batch twin, so the streamed ≡
    batch pin holds): a document with zero duplicated spans, or with
    fewer than ``span`` tokens (never ingested into the posting
    store), has NO row here — absence means coverage 0.  Callers that
    need one row per document should use ``lookup_span_coverage``
    (which left-joins back to its query docs) or left-join this
    result against their doc list, coalescing to 0."""
    m = read_scheme(spark, out_dir, "span_postings")
    return span_coverage_frame(
        grams_store(spark, out_dir),
        duplicated_grams(spark, out_dir),
        id_col=m["id_col"],
        span=int(m["span"]),
    )


def lookup_span_coverage(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    id_col: str = "q_id",
    text_col: str = "text",
) -> DataFrame:
    """READ-ONLY admission screen: for each query document, how much
    of its text consists of spans ALREADY PRESENT in the indexed
    corpus (gram doc-frequency ≥ 1 — existence, not duplication:
    admitting a doc whose every span exists once in the corpus would
    CREATE duplication).  The index is untouched; gram length comes
    from the frozen scheme.  Output (q_id, n_toks, covered_toks,
    dup_coverage, longest_span) — same columns as the coverage read,
    so one threshold rule serves both.

    EVERY query document gets exactly one row (r12 advisor fix): a
    doc with no span in the index — or with fewer than ``span``
    tokens, which can never match — comes back with covered_toks 0,
    dup_coverage 0.0, longest_span 0 (n_toks is its real token
    count), so an admission-control caller can inner-join or iterate
    the result without silently skipping clean docs."""
    m = read_scheme(spark, out_dir, "span_postings")
    span = int(m["span"])
    q_grams = gram_positions(docs, id_col, text_col, span)
    corpus_keys = (
        spark.read.parquet(f"{out_dir}/grams").select("gram").distinct()
    )
    cov = span_coverage_frame(q_grams, corpus_keys, id_col=id_col, span=span)
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("_n_toks"),
    )
    return base.join(cov, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_toks"), F.col("_n_toks")).alias("n_toks"),
        F.coalesce(F.col("covered_toks"), F.lit(0).cast("long")).alias(
            "covered_toks"
        ),
        F.coalesce(F.col("dup_coverage"), F.lit(0.0)).alias("dup_coverage"),
        F.coalesce(F.col("longest_span"), F.lit(0).cast("long")).alias(
            "longest_span"
        ),
    )


def common_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    """Pairwise longest-common-span report over the INGESTED corpus —
    the read-side twin of plans/round15.q_common_span (same diagonal
    islands identity over the stored postings): (a_id, b_id,
    longest_common_toks, n_shared_grams) for every pair sharing at
    least one gram.  Streamed ≡ batch pinned in
    tests/test_span_index.py; join work is Σ df² over the posting
    store (Zipf-bounded — see the batch twin's docstring)."""
    from pyspark.sql.window import Window

    m_ = read_scheme(spark, out_dir, "span_postings")
    span = int(m_["span"])
    id_col = m_["id_col"]
    g = grams_store(spark, out_dir)
    a = g.select(
        F.col(id_col).alias("a_id"), F.col("pos").alias("pa"), "gram"
    )
    b = g.select(
        F.col(id_col).alias("b_id"), F.col("pos").alias("pb"), "gram"
    )
    m = (
        a.join(b, "gram")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    w = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    runs = m.withColumn("grp", F.col("pa") - F.row_number().over(w))
    rl = runs.groupBy("a_id", "b_id", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run_grams")
    )
    return rl.groupBy("a_id", "b_id").agg(
        (F.max("run_grams") + (span - 1)).alias("longest_common_toks"),
        F.sum("run_grams").alias("n_shared_grams"),
    )
