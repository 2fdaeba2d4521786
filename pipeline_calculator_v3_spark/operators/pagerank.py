"""PageRank over a directed edge table — the canonical iterative-dataflow
workload (power iteration), complementing connected components (label
propagation) and the recursive CTE (declarative iteration).

Pure DataFrame ops: each round is one join (rank flows along out-edges,
pre-divided by out-degree) + one aggregate, with the damping teleport and
the dangling-node mass folded in as scalar corrections.  The driver loop
is bounded by ``iterations`` — PageRank's contraction rate is the damping
factor, so 10-20 rounds reach practical convergence regardless of graph
size; each round localCheckpoints (lineage cut) and frees its predecessor,
the same O(1)-pinned-state lifecycle as operators/clusters.py.

Scale shape: ranks and the degree-normalized edge table both shuffle on
the vertex id — one exchange family per round; the dangling-mass term is
a single-row aggregate broadcast back.  No collect of vertex state ever
reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import local_checkpoint_tracked, unpersist_tracked

_SIZE_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _size_bytes(conf_value: str) -> int:
    """Bytes from a Spark size-conf string — plain numbers and the
    "10485760b" / "10m" / "10MB" spellings (every suffix Spark's own
    byte-string parser accepts, petabytes included — ADVICE r14) a
    session may carry (-1 = broadcast disabled).  An unparseable value
    returns -1 — degrade to the co-partitioned (no-broadcast) plan,
    which is always correct, instead of failing the query at plan time."""
    s = conf_value.strip().lower()
    try:
        for suffix in sorted(_SIZE_SUFFIX, key=len, reverse=True):
            if s.endswith(suffix):
                return int(s[: -len(suffix)]) * _SIZE_SUFFIX[suffix]
        return int(s)
    except ValueError:
        return -1


def pagerank(edges: DataFrame, iterations: int = 10) -> DataFrame:
    """(src, dst) directed edges -> (id, rank), Sum(rank) == n_vertices
    (the random-surfer normalization where the uniform rank is 1.0).

    Dangling vertices (no out-edges) redistribute their mass uniformly —
    without that term the rank sum decays every round and the
    conservation invariant (tests/test_pagerank.py) fails."""
    if iterations <= 0:
        raise ValueError("iterations must be positive")
    e = edges.select("src", "dst").distinct()
    # "dangling" (no out-edges) is a STATIC vertex property: flag it once at
    # build time and carry it inside the ranks frame, so the per-round
    # dangling-mass term collapses from a distinct + anti-join exchange
    # (the r05 shape) into a bare single-row aggregate over ranks.
    vertices = local_checkpoint_tracked(
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            e.select(F.col("src").alias("id")).distinct()
            .withColumn("has_out", F.lit(True)),
            "id",
            "left",
        )
        .select("id", (~F.coalesce(F.col("has_out"), F.lit(False))).alias("dangling"))
    )
    n = vertices.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Pin ONE hash-partitioning family for the whole iteration: links by
    # src, ranks by id, same EXPLICIT partition count (explicit counts are
    # exempt from AQE coalescing), both sorted on the join key.
    # localCheckpoint's LogicalRDD preserves physical partitioning AND
    # ordering, so every round's contrib join lines up with ZERO exchange
    # and ZERO re-sort of the edge table — the per-round shuffle+sort of
    # the edge-scale links frame (the dominant moved bytes at graph scale)
    # is paid once here instead of `iterations` times; only the dst-keyed
    # inflow aggregation still shuffles each round, which is PageRank's
    # irreducible shuffle.  (r14 profile: the old shape ran 108 jobs /
    # 10.3 s wall for 11.2 s task time — exchange-and-replan latency, not
    # compute.)
    # Scale-adaptive partition count for the pinned family (guide §2:
    # derive partitioning from input size, not a constant tuned for one
    # deployment): the session's shuffle.partitions is the CEILING (the
    # cluster operator's sizing), but a measured-small graph takes only
    # as many partitions as its vertex count justifies — at sf0.1 the
    # 16k-vertex graph ran 32 tasks per round whose fixed cost dominated
    # (119 task-s at 32 cores vs 27.8 for identical work at 8 — pure
    # per-task overhead; plans/r15/iterative_family_jobs_{8,32}c.txt).
    # ~64k vertices per partition keeps per-task real work in the
    # hundreds of ms; rank values stay inside the 6-dp output grain
    # across partition counts (the 8- vs 32-partition parity runs pin
    # that empirically every round).
    n_parts = max(
        1,
        min(
            int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            -(-n // 65536),
        ),
    )
    links = local_checkpoint_tracked(
        e.join(out_deg, "src")
        .select("src", "dst", "deg")
        .repartition(n_parts, "src")
        .sortWithinPartitions("src")
    )
    ranks = local_checkpoint_tracked(
        vertices.withColumn("rank", F.lit(1.0))
        .repartition(n_parts, "id")
        .sortWithinPartitions("id")
    )
    # Deliberate join strategy for the per-round rank flow (guide §3.1):
    # the checkpointed sides carry no size statistics (LogicalRDD), so the
    # planner can neither auto-broadcast nor let AQE rescue the join — the
    # choice is gated here on the MEASURED vertex count instead.  Small
    # vertex state (id + dangling + rank ≈ 24 B/vertex under the session's
    # broadcast threshold) broadcasts: links then never moves OR sorts and
    # each round is one map-side probe + the inflow aggregation.  Past the
    # threshold — the 100 TB regime, where a broadcast would OOM — the
    # pre-pinned co-partitioning above takes over: the join still runs
    # with ZERO exchange (both sides hash-partitioned and pre-sorted on
    # the key), so the edge table is never re-shuffled per round either
    # way; only the dst aggregation shuffles.
    # 72 B/vertex: the raw row is ~24 B (id + dangling + rank) but Spark's
    # broadcast HashedRelation costs 2-4x that per row in executor memory
    # (ADVICE r14) — gate on the conservative end so graphs near the
    # threshold never broadcast a relation far above the configured limit
    # `iterations` times over.
    bcast_ranks = n * 72 < _size_bytes(
        edges.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
    )
    for _ in range(iterations):
        ranks_side = F.broadcast(ranks) if bcast_ranks else ranks
        contrib = (
            links.join(ranks_side, links.src == ranks.id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        # mass parked on dangling vertices: a one-row aggregate over the
        # checkpointed ranks (flag precomputed above) — no per-round join
        dangling = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0)
            ).alias("dm")
        )
        new_ranks = local_checkpoint_tracked(
            ranks.select("id", "dangling")
            .join(contrib, F.col("id") == contrib.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "dangling",
                (  # damping 0.85
                    (1.0 - 0.85)
                    + 0.85
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
        )
        unpersist_tracked(ranks)
        ranks = new_ranks
    unpersist_tracked(vertices)
    unpersist_tracked(links)
    # the FINAL checkpoint backs the returned frame: it stays registered,
    # so release_caches frees it after the caller materializes (same
    # contract as connected_components' final labels table)
    return ranks.select("id", "rank")
