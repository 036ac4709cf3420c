"""Incrementally-maintained duplicate-CLUSTER ids (r10).

The streaming text indexes (streaming/prefix_index.py,
streaming/neardup_index.py) accumulate verified near-dup PAIRS per
micro-batch — but a dedup pipeline ultimately groups on a CLUSTER id
(the keep-one-per-cluster key), and until r10 cluster ids existed only
as a from-scratch batch recomputation (q_dup_clusters).  This module
folds each batch's pair delta into a persisted (node, component)
mapping using contracted-graph connected components — the union-find
merge step, expressed relationally:

1. map each delta-pair endpoint to its CURRENT cluster root
   (itself if unseen) — an equi-join against the cluster store;
2. run min-label connected components (operators/graph.py) on the
   CONTRACTED edge set {(root(a), root(b)) | root(a) != root(b)} —
   a graph bounded by the DELTA pair count, not the corpus;
3. remap: every stored node whose root merged takes the new root;
   unseen endpoints enter with theirs.

Because every root is the MIN node id of its cluster (the batch CC
invariant), the contracted CC's min-label is the GLOBAL min of the
merged node set — so the incremental mapping is value-identical to a
from-scratch ``connected_components`` over all pairs ever seen
(pinned in tests/test_cluster_index.py), while each batch pays
O(|delta| + |store|) equi-joins and a CC loop over a delta-sized
graph.  Merging is idempotent (re-unioning the same pairs is a
no-op), which is exactly what foreachBatch retry semantics need.

Storage — two layouts, same merge math:

- FULL snapshot per batch under ``out_dir/clusters/batch_id=N`` (the
  r10 form: simple, audit-friendly; the store is pair-output-sized —
  only nodes with at least one duplicate edge appear — so a snapshot
  is tiny next to the corpus).  Batch N merges against the newest
  snapshot with batch_id < N, so a retried batch never reads its own
  partial output (the same ``batch_id <=``/``<`` discipline the pair
  stores use).  ``latest_clusters`` reads the newest snapshot;
  ``compact_clusters`` rewrites it standalone (separate-dir pattern,
  like the other indexes' OPTIMIZE passes).
- PARTITIONED store (r11, the production variant SCALE.md §Round-10
  named): the mapping is hash-bucketed by component
  (``pmod(xxhash64(component), n_buckets)``) into per-bucket versioned
  parts ``out_dir/clusters_parts/bucket=K/batch_id=N`` plus a tiny
  per-batch manifest ``out_dir/clusters_manifest/batch_id=N`` mapping
  every live bucket to its current part version.  Batch N rewrites
  ONLY buckets whose content changes (a node entering, or a row moving
  because its component — hence its bucket — changed on either side of
  the move); untouched buckets are carried by reference in the new
  manifest, never rewritten.  The manifest write is the commit point:
  a crash mid-part-write leaves orphan ``batch_id=N`` part files that
  no manifest references, and the retried batch — which reads only
  manifests with batch_id < N — deterministically overwrites them
  (dynamic partition overwrite touches only the partitions being
  written).  Readers (``latest_clusters(..., partitioned=True)`` /
  ``compact_clusters`` via it) resolve the newest manifest and read
  exactly the referenced part paths.

Scale shape at 100 TB: the cluster store and each delta are
output-cardinality; nothing here joins the corpus against anything.
The per-batch driver traffic is the CC convergence scalar per round
over the contracted (delta-sized) graph — plus, in the partitioned
layout, one manifest read/write of ``n_buckets`` rows (bounded, e.g.
64-256).  Per-batch rewrite volume drops from the full mapping to the
touched-bucket subset (measured at sf0.001: see SCALE.md §Round-11).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.graph import connected_components
from ..sources.sinks import to_foreach_batch
from .pair_index import read_or_none


def merge_pairs_into_clusters(
    prev: DataFrame | None,
    pairs: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 20,
) -> DataFrame:
    """Fold a pair delta into an existing (node, component) mapping.

    Returns the updated mapping, value-identical to running
    ``connected_components`` over (all pairs behind ``prev``) ∪
    ``pairs``.  ``prev=None`` means an empty store (first batch) —
    then this IS a plain batch CC over the delta."""
    if prev is None:
        return connected_components(pairs, src, dst, max_iter=max_iter)

    # the store is read three times below (new-node anti-join, two
    # contraction joins, final remap) — materialize once
    prev = prev.select("node", "component").localCheckpoint(eager=True)
    delta = pairs.select(
        F.col(src).alias("a_id"), F.col(dst).alias("b_id")
    ).localCheckpoint(eager=True)

    new_nodes = (
        delta.select(F.col("a_id").alias("node"))
        .union(delta.select(F.col("b_id").alias("node")))
        .distinct()
        .join(prev.select("node"), "node", "left_anti")
    )
    # every node we must output, with its CURRENT root (self if new)
    roots = prev.unionByName(
        new_nodes.select("node", F.col("node").alias("component"))
    ).localCheckpoint(eager=True)

    # contract the delta onto roots; edges inside one cluster vanish
    contracted = (
        delta.join(
            roots.select(
                F.col("node").alias("a_id"), F.col("component").alias("_ra")
            ),
            "a_id",
        )
        .join(
            roots.select(
                F.col("node").alias("b_id"), F.col("component").alias("_rb")
            ),
            "b_id",
        )
        .filter(F.col("_ra") != F.col("_rb"))
        .select(F.col("_ra").alias("a_id"), F.col("_rb").alias("b_id"))
        .distinct()
    )
    cc = connected_components(contracted, max_iter=max_iter).select(
        F.col("node").alias("_root"), F.col("component").alias("_merged")
    )
    # remap: roots touched by the merge move; everything else keeps
    return (
        roots.join(cc, roots["component"] == cc["_root"], "left")
        .select(
            "node",
            F.coalesce("_merged", "component").alias("component"),
        )
    )


def update_cluster_snapshot(
    spark: SparkSession,
    out_dir: str,
    new_pairs: DataFrame,
    batch_id: int,
    src: str = "a_id",
    dst: str = "b_id",
    n_buckets: int | None = None,
) -> None:
    """Merge one batch's pair delta and persist the updated mapping.

    ``n_buckets=None`` (default): FULL snapshot under
    ``out_dir/clusters/batch_id=N``.  ``n_buckets=B``: the partitioned
    layout — only component-hash buckets whose content changed are
    rewritten (see module docstring).  Either way the function reads
    only state strictly older than ``batch_id``, so a RETRIED batch
    recomputes from its predecessor's state and overwrites its own
    partial output — idempotent under foreachBatch redelivery."""
    if n_buckets is not None:
        _update_partitioned(
            spark, out_dir, new_pairs, batch_id, src, dst, n_buckets
        )
        return
    prev = _snapshot_before(spark, out_dir, batch_id)
    merged = merge_pairs_into_clusters(prev, new_pairs, src, dst)
    merged.write.mode("overwrite").parquet(
        f"{out_dir}/clusters/batch_id={batch_id}"
    )


def _bucket(col, n_buckets: int):
    """Component-hash bucket: stable for a given component value, so a
    cluster's rows co-locate in one bucket and a row moves buckets only
    when its component changes (exactly the rows a batch rewrites)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _manifest_before(
    spark: SparkSession, out_dir: str, batch_id: int | None
) -> dict[int, int] | None:
    """{bucket: part version} from the newest committed manifest
    strictly older than ``batch_id`` (any, when None).  Returns None if
    no manifest exists yet.  The collect is bounded by the bucket
    count — manifest traffic, not data traffic."""
    manis = read_or_none(spark, f"{out_dir}/clusters_manifest")
    if manis is None:
        return None
    if batch_id is not None:
        manis = manis.filter(F.col("batch_id") < batch_id)
    newest = manis.agg(F.max("batch_id")).collect()[0][0]
    if newest is None:
        return None
    rows = (
        manis.filter(F.col("batch_id") == newest)
        .select("bucket", "version")
        .collect()
    )
    return {r["bucket"]: r["version"] for r in rows}


def _read_parts(
    spark: SparkSession, out_dir: str, versions: dict[int, int]
) -> DataFrame | None:
    """The (node, component) mapping a manifest references — reads
    exactly the referenced part paths (no listing of stale versions)."""
    if not versions:
        return None
    paths = [
        f"{out_dir}/clusters_parts/bucket={b}/batch_id={v}"
        for b, v in sorted(versions.items())
    ]
    return spark.read.parquet(*paths).select("node", "component")


def _update_partitioned(
    spark: SparkSession,
    out_dir: str,
    new_pairs: DataFrame,
    batch_id: int,
    src: str,
    dst: str,
    n_buckets: int,
) -> None:
    """The touched-bucket rewrite.  Same contraction merge as the full
    snapshot; what differs is the WRITE: only buckets whose content
    changes get a new ``batch_id=N`` part, and the per-batch manifest
    (the commit point, written last) carries untouched buckets forward
    by reference."""
    prev_versions = _manifest_before(spark, out_dir, batch_id)
    prev = (
        _read_parts(spark, out_dir, prev_versions)
        if prev_versions
        else None
    )
    merged = merge_pairs_into_clusters(
        prev, new_pairs, src, dst
    ).localCheckpoint(eager=True)

    if prev is None:
        changed = merged.select(
            _bucket(F.col("component"), n_buckets).alias("bucket")
        )
    else:
        old = prev.select(
            "node", F.col("component").alias("_old_comp")
        )
        moves = (
            merged.join(old, "node", "left")
            .filter(
                F.col("_old_comp").isNull()
                | (F.col("_old_comp") != F.col("component"))
            )
        )
        # both sides of a move are touched: the bucket the row lands
        # in AND the bucket it leaves (whose content shrinks)
        changed = moves.select(
            _bucket(F.col("component"), n_buckets).alias("bucket")
        ).unionByName(
            moves.filter(F.col("_old_comp").isNotNull()).select(
                _bucket(F.col("_old_comp"), n_buckets).alias("bucket")
            )
        )
    touched = {r["bucket"] for r in changed.distinct().collect()}

    new_versions = dict(prev_versions or {})
    if touched:
        out_rows = merged.withColumn(
            "bucket", _bucket(F.col("component"), n_buckets)
        ).filter(F.col("bucket").isin(sorted(touched)))
        # buckets that still hold rows after the moves; a touched
        # bucket that emptied is dropped from the manifest (its old
        # part stays on disk, unreferenced — compaction's business)
        live = {
            r["bucket"]
            for r in out_rows.select("bucket").distinct().collect()
        }
        (
            out_rows.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "batch_id")
            .parquet(f"{out_dir}/clusters_parts")
        )
        for b in touched:
            if b in live:
                new_versions[b] = batch_id
            else:
                new_versions.pop(b, None)

    manifest_rows = [
        (int(b), int(v)) for b, v in sorted(new_versions.items())
    ]
    spark.createDataFrame(
        manifest_rows or [], schema="bucket int, version long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/clusters_manifest/batch_id={batch_id}"
    )


def _snapshot_before(
    spark: SparkSession, out_dir: str, batch_id: int
) -> DataFrame | None:
    """Newest snapshot strictly older than ``batch_id`` (None if the
    store doesn't exist yet).  Partition pruning makes the data read
    touch only the chosen snapshot."""
    snaps = read_or_none(spark, f"{out_dir}/clusters")
    if snaps is None:
        return None
    newest = (
        snaps.filter(F.col("batch_id") < batch_id)
        .agg(F.max("batch_id"))
        .collect()[0][0]
    )
    if newest is None:
        return None
    return snaps.filter(F.col("batch_id") == newest).select(
        "node", "component"
    )


def latest_clusters(
    spark: SparkSession, out_dir: str, partitioned: bool = False
) -> DataFrame:
    """The current (node, component) mapping — the newest full snapshot
    (default) or the newest manifest's referenced parts
    (``partitioned=True``).  Read while maintenance is quiescent (or
    read a compacted copy): like the live pair stores, a snapshot
    being written concurrently is not yet committed."""
    if partitioned:
        versions = _manifest_before(spark, out_dir, None)
        cur = (
            _read_parts(spark, out_dir, versions) if versions else None
        )
        if cur is None:
            raise FileNotFoundError(
                f"no committed cluster manifest under {out_dir}"
            )
        return cur
    snaps = spark.read.parquet(f"{out_dir}/clusters")
    newest = snaps.agg(F.max("batch_id")).collect()[0][0]
    return snaps.filter(F.col("batch_id") == newest).select(
        "node", "component"
    )


def compact_clusters(
    spark: SparkSession,
    out_dir: str,
    dest: str,
    n_files: int = 1,
    partitioned: bool = False,
) -> int:
    """Rewrite the CURRENT mapping as a standalone consolidated parquet
    dir (separate-dir pattern — the live store is untouched; a crash
    mid-compaction leaves a partial ``dest`` and an intact source).
    Old per-batch snapshots / unreferenced part versions stay for the
    retry discipline; point readers at ``dest`` for a stable,
    single-file-set view.  Returns the row count written."""
    cur = latest_clusters(spark, out_dir, partitioned=partitioned)
    cur.coalesce(n_files).write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest).count()


def maintain_cluster_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    src: str = "a_id",
    dst: str = "b_id",
    n_buckets: int | None = None,
):
    """Standalone maintenance: fold ANY streaming (src, dst) pair
    relation — e.g. a readStream over an index's ``pairs/`` store, or
    pairs from some external matcher — into the cluster snapshots.
    The in-index variant (``maintain_prefix_index(...,
    maintain_clusters=True)``) is the usual entry point; this one
    exists for pair streams the text indexes didn't produce.
    ``n_buckets`` selects the partitioned touched-bucket layout (see
    module docstring); like every other index parameter it must stay
    FIXED for the lifetime of an index dir.  Returns the
    StreamingQuery."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        update_cluster_snapshot(
            batch_df.sparkSession,
            out_dir,
            batch_df,
            batch_id,
            src,
            dst,
            n_buckets=n_buckets,
        )

    return to_foreach_batch(stream, land, checkpoint_dir)


def lookup_components(
    spark: SparkSession,
    out_dir: str,
    matches: DataFrame,
    q_col: str = "q_id",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Read-only CLUSTER membership for incoming documents: map the
    (q_id, doc_id) near-dup matches an index lookup returned (any of
    the three text indexes' ``lookup_near_duplicates``) onto the
    current cluster snapshot — (q_id, component, n_members) per
    distinct cluster the query document would merge into.

    This is the read half the ingest decision needs AFTER the lookup:
    "this shard document matches 3 corpus documents — are they one
    duplicate cluster (ordinary dup, keep best) or do they span
    several (the incoming doc would MERGE clusters, worth a second
    look)?"  Pure joins against the committed snapshot; nothing is
    written, mirroring the lookup-vs-maintain split of the indexes.
    Matched corpus documents that never earned a pair (singletons —
    never seen in any pairs/ delta) are their own implicit cluster:
    they surface with the document id as the component and
    n_members = 1, so the merge-width count stays truthful."""
    cur = latest_clusters(spark, out_dir)
    sizes = cur.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    m = matches.select(
        F.col(q_col).alias("q_id"), F.col(doc_col).alias("_doc")
    ).distinct()
    joined = (
        m.join(cur, m["_doc"] == cur["node"], "left")
        .select(
            "q_id",
            F.coalesce("component", F.col("_doc")).alias("component"),
            F.col("component").isNull().alias("_singleton"),
        )
        .distinct()
    )
    return (
        joined.join(sizes, "component", "left")
        .select(
            "q_id",
            "component",
            F.when(F.col("_singleton"), F.lit(1))
            .otherwise(F.col("n_members"))
            .cast("long")
            .alias("n_members"),
        )
    )
