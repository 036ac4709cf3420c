"""The per-batch protocol every streaming index shares (S8).

The streaming indexes (MinHash, prefix, SimHash and cosine pair
indexes; the span-postings, IVF vector and cluster indexes) are
``foreachBatch`` sinks started through ``sources/sinks.to_foreach_batch``.
``foreachBatch`` is at-least-once: a batch whose output landed but whose
checkpoint commit did not is re-run on restart.  Exactly-once comes from
the epoch-id discipline below — every write is an idempotent overwrite
of a ``batch_id=N`` subtree, and batch N reads only batches ≤ N, so a
retried batch recomputes what its first attempt computed and rewrites
the same files.

The protocol, per micro-batch N (:func:`maintain_pair_index`):

1. **Manifest.**  The first batch freezes the index's scheme (every
   parameter its stored values depend on) as a manifest under
   ``out_dir``; every later batch re-reads it and raises
   :class:`SchemeMismatch` on any difference — a parameter change is a
   versioned rebuild under a new ``out_dir``, never an in-place upsert,
   because stored blocking keys must stay comparable across every batch
   ever written.  Only a missing path takes the freeze branch
   (:func:`read_or_none`): a present manifest that cannot be read —
   e.g. the empty dir a crashed first write leaves — re-raises, since
   re-freezing it with the caller's values could legitimize data written
   under different ones.
2. **Land and verify** (the index's hook).  The hook writes the batch's
   store rows under ``<store>/batch_id=N`` first, re-reads them
   (:func:`read_upto` — the ≤ N accumulated rows and the == N new ones),
   joins new against accumulated on the index's blocking key and
   verifies the candidates exactly.  A pair whose later member arrives
   in batch N is discovered in batch N and never again, so the union of
   the per-batch pair files equals the batch pipeline's output.
3. **Claim.**  Only pairs touching a batch-N id are kept.  A pair with
   both members in earlier batches was claimed when its later member
   arrived; it can appear here only when a retried batch races a
   successor's files, and dropping it keeps the rewrite idempotent.
4. **Write** ``pairs/batch_id=N`` by overwrite.
5. **Clusters** (``maintain_clusters=True``): the landed pairs are read
   back — cheaper than re-evaluating the verify join — and folded into
   ``cluster_index.update_cluster_snapshot``.

Precondition (write-once corpus): ids are unique across the whole
stream.  Re-ingesting an id re-discovers its old pairs under a second
``batch_id``; :func:`read_pairs` still returns the right set, but the
claim-once invariant no longer holds.  Screen incoming shards with the
index's read-only lookup first.

Readers (:func:`read_pairs`) drop duplicate (a_id, b_id) rows as a
guard against that crash window; :func:`compact_pairs` is the OPTIMIZE
pass over the pair output.  The index stores compact the same way on a
schedule: write the union of closed batches to a versioned dir and
point maintenance at it; transient duplicate store rows cost work,
never correctness, because candidates are ``distinct()``-ed.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import distinct_tokens, shingles
from ..sources.sinks import to_foreach_batch


class SchemeMismatch(ValueError):
    """An existing index was opened with different scheme parameters
    than it was built with."""


def read_or_none(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame | None:
    """``path`` read as ``fmt``, or None when the path does not exist.
    Only ``PATH_NOT_FOUND`` means absent; any other analysis error (an
    empty or unreadable dir) re-raises, because the caller's "absent"
    branch would overwrite state whose content is unknown."""
    try:
        return spark.read.format(fmt).load(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


_DDL = {int: "long", float: "double", str: "string", list: "array<double>"}


def verify_or_freeze(
    spark: SparkSession, path: str, rows: list[dict], fmt: str = "json"
) -> None:
    """The manifest rule (module docstring, step 1): write ``rows`` to
    ``path`` if it is absent, else require the stored rows to equal
    them, in any order.  A stored row lacking a key (a manifest of a
    different index kind) is a mismatch, not a field-access error."""
    existing = read_or_none(spark, path, fmt)
    keys = list(rows[0])
    if existing is None:
        spark.createDataFrame(
            [tuple(r[k] for k in keys) for r in rows],
            ", ".join(f"{k} {_DDL[type(rows[0][k])]}" for k in keys),
        ).coalesce(1).write.mode("overwrite").format(fmt).save(path)
        return
    want = sorted(tuple(r[k] for k in keys) for r in rows)
    found = sorted(
        tuple(r.asDict().get(k) for k in keys) for r in existing.collect()
    )
    if found != want:
        def show(vals):
            return dict(zip(keys, vals[0])) if len(vals) == 1 else f"{len(vals)} rows"

        raise SchemeMismatch(
            f"the index manifest {path} holds {show(found)} but this run "
            f"passes {show(want)}; values stored under different manifests "
            "are not comparable — rebuild the index under a new out_dir "
            "(versioned rebuild) instead of changing parameters in place"
        )


def _verify_or_freeze_scheme(
    spark: SparkSession, out_dir: str, scheme: dict
) -> None:
    """Freeze or verify the index's scheme dict as the one-row JSON
    manifest ``out_dir/_scheme``."""
    verify_or_freeze(spark, f"{out_dir}/_scheme", [dict(sorted(scheme.items()))])


def read_scheme(spark: SparkSession, out_dir: str, expect_kind: str) -> dict:
    """The index's frozen scheme manifest, checked for the right index
    kind — lookups derive their unit scheme from here so a caller
    cannot query with mismatched parameters."""
    manifest = spark.read.json(f"{out_dir}/_scheme").collect()[0].asDict()
    if manifest.get("kind") != expect_kind:
        raise SchemeMismatch(
            f"index at {out_dir} has kind={manifest.get('kind')!r}; "
            f"expected a {expect_kind!r} index"
        )
    return manifest


def lookup_bound(
    manifest: dict, key: str, requested, why: str, radius: bool = False
):
    """The bound a read-only lookup runs at: the frozen ``manifest[key]``
    by default.  It may only get tighter — a similarity threshold may
    rise, a distance ``radius`` may fall — because the stored blocking
    keys were sized for the frozen bound (``why`` says how); a looser
    one raises instead of silently losing recall."""
    frozen = manifest[key]
    bound = frozen if requested is None else type(frozen)(requested)
    if (bound > frozen) if radius else (bound < frozen):
        raise ValueError(
            f"lookup {key} {bound} is {'above' if radius else 'below'} the "
            f"index's frozen {'radius' if radius else key} {frozen}: {why} "
            "(rebuild the index for a looser one)"
        )
    return bound


def text_unit(text_col: str, shingle: int):
    """The set a text index works on: word n-gram shingles when
    ``shingle > 1`` (the scale-safe unit on small-vocabulary corpora),
    else distinct tokens (the registered batch queries' semantics)."""
    return shingles(text_col, n=shingle) if shingle > 1 else distinct_tokens(text_col)


def read_upto(
    spark: SparkSession, out_dir: str, store: str, batch_id: int
) -> tuple[DataFrame, DataFrame]:
    """(rows of batches ≤ N, rows of batch N) of ``out_dir/store``.  The
    ≤ bound keeps a retried batch from seeing rows of batches that ran
    after its first attempt, or it would claim their pairs."""
    upto = spark.read.parquet(f"{out_dir}/{store}").filter(
        F.col("batch_id") <= batch_id
    )
    return upto, upto.filter(F.col("batch_id") == batch_id)


def ordered_pairs(pairs: DataFrame, a: str, b: str, *carry: str) -> DataFrame:
    """Distinct (a_id < b_id, *carry) rows of a candidate relation with
    self-pairs dropped — each unordered pair once."""
    return (
        pairs.filter(F.col(a) != F.col(b))
        .select(
            F.least(a, b).alias("a_id"), F.greatest(a, b).alias("b_id"), *carry
        )
        .distinct()
    )


def maintain_pair_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    scheme: dict,
    land: Callable[[DataFrame, int], tuple[DataFrame, DataFrame]],
    maintain_clusters: bool,
    cluster_buckets: int | None,
) -> StreamingQuery:
    """Start a pair index's maintenance query (module docstring, steps
    1–5).  ``land(batch_df, batch_id)`` writes the batch's store rows
    and returns (verified pairs with a_id/b_id, the batch-N store rows
    carrying ``scheme["id_col"]``)."""
    id_col = scheme["id_col"]

    def batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _verify_or_freeze_scheme(spark, out_dir, scheme)
        verified, new_rows = land(batch_df, batch_id)
        new_ids = new_rows.select(F.col(id_col).alias("_nid")).distinct()
        pairs_dir = f"{out_dir}/pairs/batch_id={batch_id}"
        verified.join(
            new_ids,
            (F.col("a_id") == F.col("_nid")) | (F.col("b_id") == F.col("_nid")),
            "left_semi",
        ).write.mode("overwrite").parquet(pairs_dir)
        if maintain_clusters:
            # imported here: cluster_index imports this module
            from .cluster_index import update_cluster_snapshot

            update_cluster_snapshot(
                spark,
                out_dir,
                spark.read.parquet(pairs_dir),
                batch_id,
                n_buckets=cluster_buckets,
            )

    return to_foreach_batch(stream, batch, checkpoint_dir)


def read_pairs(spark: SparkSession, out_dir: str, score_col: str) -> DataFrame:
    """The accumulated verified pairs (a_id, b_id, score_col).  Each
    pair is claimed by exactly one batch, so this is a plain union
    read; the dropDuplicates guards the crash window where a retried
    batch and its successor both claimed a pair."""
    return (
        spark.read.parquet(f"{out_dir}/pairs")
        .select("a_id", "b_id", score_col)
        .dropDuplicates(["a_id", "b_id"])
    )


def _cross_verify(
    cand: DataFrame,
    q_toks: DataFrame,
    idx_toks: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of (q_id, doc_id) candidates where the two
    sides live in DIFFERENT relations (query batch vs index store) —
    the lookup twin of operators/dedup.exact_jaccard_verify, same
    one-intersect-per-candidate staging (see its docstring)."""
    qa = q_toks.select(
        F.col(q_toks.columns[0]).alias("q_id"),
        F.col("toks").alias("_qt"),
        F.size("toks").alias("_nq"),
    )
    db = idx_toks.select(
        "doc_id", F.col("toks").alias("_dt"), F.size("toks").alias("_nd")
    )
    stats = (
        cand.join(qa, "q_id")
        .join(db, "doc_id")
        .select(
            "q_id",
            "doc_id",
            "_nq",
            "_nd",
            F.size(F.array_intersect("_qt", "_dt")).alias("_ni"),
        )
        .localCheckpoint(eager=False)
    )
    return stats.select(
        "q_id",
        "doc_id",
        F.round(
            F.col("_ni").cast("double")
            / (F.col("_nq") + F.col("_nd") - F.col("_ni")).cast("double"),
            6,
        ).alias("jac"),
    ).filter(F.col("jac") >= threshold)


def compact_pairs(
    spark: SparkSession, out_dir: str, dest: str, n_files: int = 1
) -> int:
    """The OPTIMIZE pass for a pair index's accumulated PAIRS output
    (every pair index: MinHash/prefix carry a ``jac`` score column,
    SimHash ``hamming``, cosine ``cos_sim``; the consolidation keys on
    (a_id, b_id) and preserves whatever score column the index wrote).

    Streaming ingestion necessarily lands one small file set per
    micro-batch under ``pairs/batch_id=N``; after N batches every
    consumer pays N file-opens.  This rewrites the claim-once pair set
    (defensively deduped, exactly what the readers return) as one
    consolidated parquet directory under ``dest`` — the SOURCE index is
    untouched (separate-dir pattern, mirroring
    vector_index.compact_index: a crash mid-compaction leaves a
    partial ``dest`` and an intact source; re-run to completion).
    Readers are layout-agnostic: ``spark.read.parquet(dest)`` returns
    exactly what :func:`read_pairs` returns from the live index at
    compaction time.  Run it offline on closed batches; the live index
    keeps appending and the next compaction folds the delta.
    ``n_files`` sizes the consolidated layout (default 1 — pair sets
    are output-cardinality, tiny next to the corpus; size it up when a
    pair file would exceed a block).  Returns the pair count written."""
    raw = spark.read.parquet(f"{out_dir}/pairs")
    # explicit column contract: (a_id, b_id, <one score column>) [+ the
    # batch_id partition column].  An unexpected layout must fail here,
    # not silently leak a stray column into the compacted output; and
    # the representative row per (a_id, b_id) is picked by a
    # DETERMINISTIC min over the score rather than dropDuplicates'
    # arbitrary row (duplicate claims across a retry race carry equal
    # scores — same doc pair, same metric — so min is also lossless)
    score_cols = [c for c in raw.columns if c not in ("a_id", "b_id", "batch_id")]
    if len(score_cols) != 1 or not {"a_id", "b_id"} <= set(raw.columns):
        raise ValueError(
            f"compact_pairs: expected columns (a_id, b_id, <score>"
            f"[, batch_id]), got {raw.columns}"
        )
    score = score_cols[0]
    pairs = raw.groupBy("a_id", "b_id").agg(F.min(score).alias(score))
    pairs.repartition(n_files).write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest).count()
