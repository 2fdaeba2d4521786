"""Connected components over candidate-pair edges — the dedup endgame.

Pair detection (MinHash/SimHash/Jaccard) yields EDGES; what a training-data
pipeline actually needs is CLUSTERS (transitive closure) and one surviving
representative per cluster.  This is iterative label-propagation in pure
DataFrame ops, accelerated by pointer-jumping: each round every node adopts
the minimum label in its neighborhood (one hop), then adopts its label's
own label (the Shiloach-Vishkin / large-star shortcut).  The jump doubles
the distance a minimum travels per round, so a diameter-D component
converges in O(log D) rounds instead of O(D) — the difference between 14
and 10,000 driver round-trips on a 10k-node chain.

Driver-side iteration with localCheckpoint per round keeps the plan from
growing unboundedly (lineage cut); the convergence count() runs every
second round to halve driver actions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import local_checkpoint_tracked, unpersist_tracked


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(id1, id2) undirected edges -> (id, component) with component = min
    node id in the component.

    Converges in O(log diameter) rounds via pointer-jumping; pass ``stats``
    to receive ``{"rounds": n}`` back for round-budget assertions.

    Checkpoint lifecycle: every checkpoint is registered with ``caching``
    and freed through it.  Each round's labels checkpoint is freed
    (``unpersist_tracked``) as soon as the next round supersedes it (peak
    pinned state = 2 label tables + the edge table, not O(rounds)); the
    input-edge checkpoint is freed once the symmetric edge table is built,
    and that table on return.  The FINAL labels checkpoint backs the
    returned frame, so it stays registered until the caller materializes
    and calls ``caching.release_caches``."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    converged = False
    spark = edges.sparkSession
    # pin the INCOMING edge frame before symmetrizing: the union references
    # it twice, so an unpersisted (and typically expensive — LSH bands,
    # within-cluster cosine) pair plan would execute twice inside the sym
    # checkpoint job (measured 2x the whole pair stage on the SemDeDup
    # twin, r08)
    e0 = local_checkpoint_tracked(
        edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    )
    # Pin ONE hash-partitioning family across all rounds (the pagerank
    # move, guide §2.4): sym by its join side ``b``, labels by ``id``,
    # same EXPLICIT partition count — localCheckpoint's LogicalRDD
    # preserves physical partitioning, so the per-round neighbor-min join
    # reads BOTH sides exchange-free instead of re-shuffling the
    # edge-scale sym table every round (the distinct() used to leave sym
    # partitioned by [a, b], which satisfies no join below).  The
    # pointer-jump join still shuffles by label value (irreducible — the
    # key changes every round); new labels are re-pinned to (id, P) each
    # round, trading that one vertex-scale exchange for the two
    # labels-side exchanges it removes.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = local_checkpoint_tracked(
        e0.unionAll(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition(n_parts, "b")
        # sorted once on the join key, like pagerank's links: the
        # checkpoint preserves ordering, so every round's sym-side SMJ
        # sort collapses to a no-op instead of re-sorting the edge-scale
        # table per pointer-jump round (VERDICT r14 #8)
        .sortWithinPartitions("b")
    )
    unpersist_tracked(e0)
    labels = local_checkpoint_tracked(
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .repartition(n_parts, "id")
    )
    rounds = 0
    for i in range(max_iter):
        rounds = i + 1
        # 1-hop: candidate label = min over own label and neighbors'
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        cand = labels.join(neighbor_min, labels.id == neighbor_min.a, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nmin", F.col("component"))
            ).alias("component"),
        )
        # pointer-jump: adopt the current label OF one's label (two-hop
        # shortcut) — doubles propagation distance per round
        lmap = cand.select(
            F.col("id").alias("lid"), F.col("component").alias("lcomp")
        )
        new_labels = local_checkpoint_tracked(
            cand.join(lmap, cand.component == lmap.lid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("lcomp", F.col("component"))
                ).alias("component"),
            )
            # re-pin (id, P): the jump join re-keyed by component, so the
            # next round's joins (and the convergence diff) would re-shuffle
            # both label tables without this
            .repartition(n_parts, "id")
        )
        # convergence check every 2nd round (and on the last): halves the
        # driver count() actions on still-converging graphs.  A plain
        # count, not limit(1): Spark names a codegen'd limit's counter from
        # a JVM-wide sequence, so each limit plan compiles new classes.
        converged = False
        if i % 2 == 1 or i == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            converged = changed == 0
        # new_labels is fully materialized (eager) and the convergence join
        # above was the old checkpoint's last read — free it now
        unpersist_tracked(labels)
        labels = new_labels
        if converged:
            break
    unpersist_tracked(sym)
    if not converged:
        # raise, don't guess (review r06): exhausted iterations mean labels
        # are still propagating — returning them would silently keep
        # multiple survivors per cluster, a partition-dependent wrong answer
        unpersist_tracked(labels)
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds — raise max_iter (label propagation needs "
            f"O(log diameter) pointer-jumping rounds)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full dedup decision table: every doc -> (cluster, keep flag).

    Docs in no pair form singleton clusters; within each cluster the minimum
    id survives (deterministic, same rule as fingerprint_dedup)."""
    comp = connected_components(pairs)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("cluster"),
            (F.coalesce("component", F.col("id")) == F.col("id")).alias("keep"),
        )
    )


def dedup_clusters_best(
    docs: DataFrame,
    pairs: DataFrame,
    scores: DataFrame,
) -> DataFrame:
    """Quality-aware dedup decision table: every doc -> (cluster, keep),
    where each cluster's survivor is its HIGHEST-scoring member (ties to
    the lowest id) instead of :func:`dedup_clusters`'s min-id rule — what
    a curation pipeline actually wants from near-dup collapse: keep the
    best copy, not the first-crawled one.

    ``scores`` is (doc_id, z); docs absent from it (e.g. the
    quality classifier emits no row for token-less text) rank at -1e9 —
    harmless for singletons, last-pick inside real clusters.  The score
    must be DETERMINISTICALLY rounded upstream (classify_quality rounds
    to 6 dp) so cross-engine ordering cannot flip on libm noise.

    Scale shape: components via O(log D) pointer jumping, then ONE
    cluster-keyed window — no per-cluster collects, no quadratic step."""
    from pyspark.sql import Window

    comp = connected_components(pairs)
    base = (
        docs.select(F.col("doc_id").alias("id"))
        .join(comp, "id", "left")
        .join(
            scores.select(
                F.col("doc_id").alias("id"), F.col("z").alias("__s")
            ),
            "id",
            "left",
        )
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("cluster"),
            F.coalesce("__s", F.lit(-1e9)).alias("__s"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("__s"), F.asc("id"))
    return base.select(
        F.col("id").alias("doc_id"),
        "cluster",
        (F.row_number().over(w) == 1).alias("keep"),
    )
