"""Embedding similarity search: exact brute-force top-k and an LSH-bucketed
approximate variant (north-star extension, BASELINE.json).

All vector math is higher-order Column expressions in double precision
(functions/vectors.py) — JVM-side, no Python, no MLlib dependency.

Scale design:
- exact top-k: the (small) query set broadcasts; the corpus streams through
  map-side scoring; per-query top-k via window rank.  At 100 TB the corpus
  never shuffles — only (qid, cid, score) survivor rows do.
- LSH (sign-random-projection): K deterministic pseudo-random hyperplanes
  derived from xxhash64 (no RNG state to ship); bucket key = packed sign
  bits.  Query and corpus shuffle only on the bucket key; exact rescoring
  runs inside buckets.  Recall/cost trades with n_bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import local_checkpoint_tracked, persist_tracked
from ..functions.vectors import cosine, dot, elementwise_mean, norm


def _plane_weight(bit: Column | int, dim_idx: Column) -> Column:
    """Deterministic pseudo-random weight in [-1, 1): hash the (plane, dim)
    pair and scale.  Reproducible across runs and engines with no RNG."""
    h = F.xxhash64(F.lit("plane"), bit, dim_idx)
    return (h % 1000003).cast("double") / 1000003.0


def md5_plane_weights(
    n_planes: int, dim: int, tag: str = "plane"
) -> list[list[float]]:
    """Deterministic hyperplane weights derived from md5 — the
    oracle-checkable plane family (r08, the md5-face move applied to LSH).

    ``w[p][d] = ((int(md5('tag:p:d')[:12], 16) % 2000003) - 1000001)
    / 1000001.0`` — exact integer arithmetic up to one final double
    division, so DuckDB recomputing the same formula lands on the
    bit-identical IEEE double.  Computed DRIVER-SIDE once (n_planes x dim
    floats) and embedded as literal arrays: per-row plane hashing
    disappears from the scan entirely, which also makes this face FASTER
    than the per-(plane,dim) xxhash64 one."""
    import hashlib

    return [
        [
            (
                (int(hashlib.md5(f"{tag}:{p}:{d}".encode()).hexdigest()[:12],
                     16) % 2000003)
                - 1000001
            )
            / 1000001.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]



def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x streamed corpus -> window rank.
    Returns (qid, cid, score, rank); qid != cid pairs only."""
    # per-side norms hoisted out of the scoring loop (r09): a corpus row
    # meets every query, so per-pair norm recomputation was ~2/3 of the
    # scan's arithmetic; dot / nullif(qn * cn, 0) is bit-identical
    q = queries.select(
        F.col(q_id).alias("qid"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(c_id).alias("cid"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid",
            (
                dot(F.col("qv"), F.col("cv"))
                / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


# Bucket-id bit layout shared by _bucket_tables and the multi-probe loop in
# cosine_topk_lsh: table id in the low _TABLE_ID_BITS bits, hash bits from
# bit _TABLE_ID_BITS up.  Keeping it a named constant (r04 advice) makes the
# coupling explicit and lets both sites assert n_tables fits the field.
_TABLE_ID_BITS = 8


def _bucket_tables(
    vec: Column,
    n_tables: int,
    bits_per_table: int,
    plane_weights: list[list[float]] | None = None,
) -> Column:
    """Array of ``n_tables`` bucket ids; table t uses planes
    [t*bits, (t+1)*bits).  Bucket value includes the table id (low
    ``_TABLE_ID_BITS`` bits) so different tables never collide in a flat
    join key.

    ``plane_weights`` (optional): driver-side weight matrix (e.g.
    :func:`md5_plane_weights`) embedded as LITERAL arrays — no per-row
    plane hashing, and the exact doubles replay in the oracle.  Default
    None keeps the per-(plane,dim) xxhash64 derivation."""
    assert n_tables < (1 << _TABLE_ID_BITS), (
        f"n_tables={n_tables} overflows the {_TABLE_ID_BITS}-bit table-id "
        "field into hash bits"
    )
    buckets = []
    for tab in range(n_tables):
        idx = F.sequence(F.lit(1), F.size(vec))
        out = F.lit(tab).cast("long")
        for b in range(bits_per_table):
            plane = tab * bits_per_table + b
            if plane_weights is not None:
                # one py4j call per plane: F.lit on the whole list builds
                # the array literal JVM-side (per-element F.lit was ~3k
                # driver round-trips and dominated plan-build time)
                wvec = F.lit(plane_weights[plane])
            else:
                wvec = F.transform(
                    idx, lambda i: _plane_weight(F.lit(plane), i)
                )
            dot = F.aggregate(
                F.zip_with(
                    F.transform(vec, lambda x: x.cast("double")),
                    wvec,
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            out = out.bitwiseOR(
                F.when(dot > 0, F.lit(1 << (b + _TABLE_ID_BITS)).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
        buckets.append(out)
    return F.array(*buckets)


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    nprobe: int = 3,
    kmeans_iters: int = 0,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Coarse quantizer: ``n_centroids`` deterministic seed vectors from the
    corpus, optionally refined by ``kmeans_iters`` Lloyd iterations (assign
    -> mean per list -> reassign), all in DataFrame ops.  Every corpus
    vector joins its nearest centroid's inverted list; queries probe their
    ``nprobe`` nearest lists and rescore exactly.

    Default kmeans_iters=0: on the test corpus (10 natural clusters, 64-dim)
    refinement MEASURED WORSE — recall@10 0.75/0.72/0.69 at 0/1/2 iters —
    because data-point seeds already align with the cluster structure and
    mean-collapse coarsens the lists.  Tune per-corpus.

    Scale: centroids broadcast as ONE row holding a sorted struct array
    (tiny); assignment/probing is a PURE MAP over each side — per-row
    (negcsim, centroid_id) structs ranked with array_min (corpus, top-1)
    or array_sort + slice (queries, top-nprobe), so the corpus crosses
    zero exchanges before the list-id repartition and the N x C scored
    rows of the previous spelling are never materialized (r09, the
    kmeans._assign rewrite applied to both IVF sides).  The probe join is
    an equi-join on list id.
    """
    # persisted: the seed scan, each Lloyd assignment, and the inverted-
    # list assignment all read this projection — unpersisted, a DERIVED
    # corpus (the registry's _spread-synthesized input) re-runs its whole
    # upstream plan kmeans_iters + 2 times (review r11; operators/
    # kmeans.py persists its vector frame for the same reason)
    corpus = persist_tracked(corpus.select(F.col(c_id), F.col(vec_col)))
    cents = (
        corpus.orderBy(c_id).limit(n_centroids)
        .select(
            F.row_number().over(Window.orderBy(c_id)).alias("centroid_id"),
            F.col(vec_col).alias("cent_v"),
        )
    )

    def _carr(cents_df):
        """Centroids as one broadcastable row: cid-sorted array of
        (centroid_id, cent_v, cn) with the centroid norm precomputed —
        cosine decomposes as dot / nullif(nv * cn, 0), bit-identical to
        cosine() and computed once per centroid instead of per pair."""
        return cents_df.groupBy().agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("centroid_id").alias("centroid_id"),
                        F.col("cent_v").alias("cent_v"),
                        norm(F.col("cent_v")).alias("cn"),
                    )
                )
            ).alias("_cents")
        )

    def _scored(df, id_col, cents_df):
        """(vid, v, _sc) with _sc = per-centroid (negcsim, centroid_id)
        structs: ascending struct order == (desc csim, asc centroid_id),
        the exact window order of the previous spelling."""
        base = df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("_nv"),
        )
        return base.crossJoin(F.broadcast(_carr(cents_df))).select(
            "vid",
            "v",
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (
                        -(
                            dot(F.col("v"), c["cent_v"])
                            / F.nullif(F.col("_nv") * c["cn"], F.lit(0.0))
                        )
                    ).alias("negcsim"),
                    c["centroid_id"].alias("centroid_id"),
                ),
            ).alias("_sc"),
        )

    def assign(df, id_col, keep_n, cents_df):
        s = _scored(df, id_col, cents_df)
        if keep_n == 1:
            # the CORPUS side: map-side argmin over the broadcast array —
            # never a window (review r06) and, since r09, never an
            # exploded N x C frame either
            return s.select(
                "vid", "v",
                F.array_min(F.col("_sc"))["centroid_id"].alias("centroid_id"),
            )
        # the QUERY side only (tiny by contract): multi-probe keeps the
        # nprobe best lists — sort the per-row array, slice, explode
        return s.select(
            "vid", "v",
            F.explode(F.slice(F.array_sort(F.col("_sc")), 1, keep_n)).alias("_p"),
        ).select("vid", "v", F.col("_p.centroid_id").alias("centroid_id"))

    def refine(cents_df):
        """One Lloyd iteration: element-wise mean of each list's members
        via the ONE shared spelling (functions/vectors.elementwise_mean,
        9-dp rounded — the kmeans determinism rule).  A list that loses
        every member (duplicate seed vectors tie every assignment to the
        lower centroid_id) KEEPS its previous centroid instead of
        vanishing — operators/kmeans.py carries empties forward for
        exactly this reason, and a dropped row here would silently
        shrink the inverted-list count below n_centroids (review r11)."""
        assigned = assign(corpus, c_id, 1, cents_df)
        means = elementwise_mean(
            assigned.select("centroid_id", "v"),
            ["centroid_id"], "v", "_m", round_dp=9,
        )
        return cents_df.join(means, "centroid_id", "left").select(
            "centroid_id",
            F.coalesce(
                F.transform(F.col("_m"), lambda x: x.cast("float")),
                F.col("cent_v"),
            ).alias("cent_v"),
        )

    for _ in range(kmeans_iters):
        cents = local_checkpoint_tracked(refine(cents))

    c_assigned = assign(corpus, c_id, 1, cents)       # inverted lists
    q_assigned = assign(queries, q_id, nprobe, cents)  # multi-probe
    # candidate pairs are unique by construction — each corpus vector
    # joins exactly ONE list (array_min top-1) and a query probes nprobe
    # DISTINCT lists — so no dedup stage: a dropDuplicates here cost a
    # full aggregate exchange over every candidate row for nothing
    # (review r11; the refine face's docstring already stated the
    # invariant this face paid to re-derive)
    cand = (
        q_assigned.select(F.col("vid").alias("qid"), F.col("v").alias("qv"), "centroid_id")
        .join(
            c_assigned.select(
                F.col("vid").alias("cid"), F.col("v").alias("cv"), "centroid_id"
            ),
            "centroid_id",
        )
        .where(F.col("qid") != F.col("cid"))
    )
    scored = cand.select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    bits_per_table: int = 6,
    n_probes: int = 1,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    plane_weights: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k: multi-table sign-random-projection LSH,
    optionally MULTI-PROBE.  ``plane_weights`` switches the hyperplane
    family to a driver-side literal matrix (see :func:`md5_plane_weights`
    — the oracle-checkable face).

    A single wide bucket has near-zero recall (neighbors rarely agree on all
    bits); the standard fix is L narrower tables — a candidate only needs to
    collide in ONE table.  Candidates = union over tables (explode + equi-join
    + pair dedup), then exact rescoring.  Recall tunes with (L, bits).

    ``n_probes`` > 1 additionally probes the query's Hamming-neighbor
    buckets (single-bit flips, up to n_probes-1 of them) in every table —
    the standard trade that buys coarse-table recall WITHOUT corpus-side
    cost: the corpus still stores one bucket per table; only the (small)
    query side fans out.  At 100 TB that asymmetry is the whole point —
    corpus bucket size (shuffle + rescoring volume) is set by bits_per_table
    alone, while recall scales with probes x tables."""
    # Stage the base bucket array through a persisted projection before
    # building probe variants: each variant references the array, and
    # Catalyst's project-collapse would otherwise inline the FULL
    # n_tables x bits plane-dot computation once per probe (HOF
    # subexpressions are excluded from reuse — the repo's documented
    # inlining trap).  The query side is the small side, so the persist is
    # cheap; the corpus side computes its buckets exactly once either way.
    q_base = queries.select(
        F.col(q_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        _bucket_tables(
            F.col(vec_col), n_tables, bits_per_table, plane_weights
        ).alias("_buckets"),
    )
    if n_probes > 1:
        q_base = persist_tracked(q_base)
        variants = [F.col("_buckets")]
        for b in range(min(n_probes - 1, bits_per_table)):
            # flip hash bit b — above the _TABLE_ID_BITS table-id field
            flip = F.lit(1 << (b + _TABLE_ID_BITS)).cast("long")
            variants.append(
                F.transform(F.col("_buckets"), lambda x: x.bitwiseXOR(flip))
            )
        probe_col = F.flatten(F.array(*variants))
    else:
        probe_col = F.col("_buckets")
    # per-side norms hoisted out of the rescoring loop (r09): a candidate
    # pair costs dot / nullif(qn * cn, 0) — bit-identical to cosine(), and
    # each row's norm is computed once instead of once per bucket collision
    q = q_base.select(
        "qid", "qv", norm(F.col("qv")).alias("qn"),
        F.explode(probe_col).alias("bucket"),
    )
    c = corpus.select(
        F.col(c_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        F.explode(
            _bucket_tables(F.col(vec_col), n_tables, bits_per_table,
                           plane_weights)
        ).alias("bucket"),
    )
    cand = (
        q.join(c, "bucket")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "qv", "qn", "cid", "cv", "cn")
        .dropDuplicates(["qid", "cid"])
    )
    scored = cand.select(
        "qid", "cid",
        (
            dot(F.col("qv"), F.col("cv"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
        ).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def sign_prefix_block(vec: Column, sign_dims: int = 8) -> Column:
    """Deterministic LSH block key: the sign pattern of the first
    ``sign_dims`` dimensions, as a bit-string.

    Axis-aligned hyperplanes instead of pseudo-random ones: NO hash function
    involved, so the exact same blocking is expressible in ANSI SQL — this is
    what makes embedding-cosine dedup oracle-checkable end-to-end.  Geometry:
    vectors with cosine -> 1 agree on every dimension's sign except those
    near zero; for near-dup thresholds (>= 0.95) sign flips on 8 of 64 dims
    are rare, and a multi-probe or multi-table variant covers the tail at
    scale (same trade as cosine_topk_lsh)."""
    # F.get (0-based) returns NULL instead of ANSI-raising on vectors
    # shorter than sign_dims (review r06: one corrupt short embedding
    # killed the whole job via element_at's INVALID_ARRAY_INDEX); the
    # outer size gate turns the whole key NULL for such rows, so they
    # drop out of the block join — quarantined, like zero vectors in
    # cosine()
    bits = [
        F.when(F.get(vec, d) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for d in range(sign_dims)
    ]
    return F.when(F.size(vec) >= F.lit(sign_dims), F.concat(*bits))


def embedding_dedup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_dims: int = 8,
    min_cosine: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space face of
    dedup (brief north star: 'embedding-cosine near-dup').

    Plan: sign-prefix block (map-side, 2^sign_dims buckets) -> skew-safe
    within-block pair generation (salted_self_pairs: a dense region's hot
    bucket splits n_groups^2 ways) -> exact double-precision cosine ->
    threshold.  Returns (id1, id2, cos_sim).  Never all-pairs: candidate
    count is sum of per-bucket quadratic terms, not N^2."""
    from .joins import salted_self_pairs

    # per-row norm hoisted out of the pair loop (r09): cosine decomposes
    # as dot / nullif(na * nb, 0) with bit-identical doubles, and a row
    # meets ~bucket_size partners — recomputing its norm per PAIR was
    # ~2/3 of the pair-stage HOF arithmetic
    base = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        sign_prefix_block(F.col(vec_col), sign_dims).alias("blk"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    pairs = salted_self_pairs(base, "blk", "vid", n_groups=4).where(
        F.col("a_vid") < F.col("b_vid")
    )
    cos = dot(F.col("a_v"), F.col("b_v")) / F.nullif(
        F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0)
    )
    return (
        pairs.select(
            F.col("a_vid").alias("id1"),
            F.col("b_vid").alias("id2"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min_cosine)
    )


# cosine-matrix chunk budget for _pairs_cosine_arrow, in doubles (~64 MB);
# module-level so the bit-identity test can shrink it to force multi-chunk
_PAIR_CHUNK_DOUBLES = 8 << 20


def _pairs_cosine_arrow(
    labeled: DataFrame,
    min_cosine: float,
    n_groups: int,
    block_out: str | None,
) -> DataFrame:
    """All within-``blk`` pairs (a_vid < b_vid) at exact-fold cosine >=
    ``min_cosine``, as ONE grouped Arrow stage (guide §4.2) replacing the
    salted self-join + interpreted HOF cosine: the join materialized
    every candidate pair as a 2x-vector row (sum of per-block quadratic
    terms — ~9.7M rows x 32 doubles on the SemDeDup xl twin) before the
    fold even ran; here each (block, group-pair) task receives its ~2B/G
    vectors ONCE and emits only the qualifying pairs.

    Bit-identical by construction, not by tolerance: the dot is
    accumulated per dimension (acc starts 0.0; acc += a_i * b_i left to
    right — numpy IEEE-754 doubles, no FMA), exactly the
    functions/vectors.dot zip_with+aggregate fold; cosine divides by the
    Spark-computed ``nrm`` product; a zero norm product drops the pair
    (the NULLIF rule) and a NaN cosine KEEPS it (Spark orders NaN above
    every number, so NaN >= threshold is true — probed on 4.1.2).  Pairs
    of different vector lengths drop (zip_with NULL padding -> NULL dot);
    vectors with NULL elements or NULL ids never pair (NULL folds / NULL
    comparisons), reproduced by per-length grouping and row filters.

    One representational caveat (gated by the bit-identity test): a pair
    whose cosine is NaN (possible only from NaN/overflowing inputs) is
    kept with ``cos_sim`` NULL instead of NaN — pandas->Arrow coerces
    float NaN to null on the return boundary.  The PAIR SET is identical;
    no consumer exports cos_sim (pairs feed connected components by id),
    so the distinction is unobservable in every declared query.

    Skew story unchanged from salted_self_pairs: every row lands in
    deterministic group g = xxhash64(id) % G and replicates to the G
    unordered group-pairs containing g, so a hot block's pair workload
    still splits G(G+1)/2 ways — each unordered row pair meets in exactly
    one (g_lo, g_hi) task (its own group pair), cross-group tasks emit
    min/max-ordered ids, same-group tasks the vid triangle."""
    import numpy as np

    from ..shipping import ensure_pkg_shipped

    ensure_pkg_shipped(labeled.sparkSession)
    thr = float(min_cosine)
    G = int(n_groups)
    chunk_doubles = _PAIR_CHUNK_DOUBLES  # captured by value into the kernel
    id_t = labeled.schema["vid"].dataType.simpleString()
    blk_t = labeled.schema["blk"].dataType.simpleString()
    out_cols = ["id1", "id2"] + ([block_out] if block_out else []) + ["cos_sim"]
    out_ddl = f"id1 {id_t}, id2 {id_t}, " + (
        f"{block_out} {blk_t}, " if block_out else ""
    ) + "cos_sim double"
    g = F.pmod(F.xxhash64(F.col("vid")), F.lit(G)).cast("int")
    rep = (
        labeled
        # NULL blocks never equi-join and NULL ids never pass a_vid <
        # b_vid in the join spelling — same exclusions here.  Rows whose
        # vector is NULL or carries a NULL element can never emit a pair
        # either (the fold yields NULL dot -> NULL cosine -> WHERE drops
        # it, for EVERY partner), so they are filtered in the JVM — which
        # also keeps the Arrow batch free of NULL list elements (Arrow ->
        # pandas turns those into NaN, which has the OPPOSITE threshold
        # semantics: NaN keeps, NULL drops).  A NULL norm likewise makes
        # the join's cosine NULL; in the batch it would read as NaN
        .where(
            F.col("vid").isNotNull()
            & F.col("blk").isNotNull()
            & F.col("v").isNotNull()
            & ~F.exists("v", lambda x: x.isNull())
            & F.col("nrm").isNotNull()
        )
        .withColumn("__g", g)
        .withColumn(
            "__gp",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.least("__g", F.lit(j)).alias("g1"),
                            F.greatest("__g", F.lit(j)).alias("g2"),
                        )
                        for j in range(G)
                    ]
                )
            ),
        )
        .select(
            "vid", "v", "blk", "nrm", "__g",
            F.col("__gp.g1").alias("__g1"),
            F.col("__gp.g2").alias("__g2"),
        )
    )

    def emit(pdf):
        import pandas as pd

        g1, g2 = pdf["__g1"].iat[0], pdf["__g2"].iat[0]
        blk = pdf["blk"].iat[0]
        out = {c: [] for c in out_cols}

        def side(gv):
            m = pdf[pdf["__g"] == gv]
            vecs = [np.asarray(v, dtype=np.float64) for v in m["v"]]
            return list(m["vid"]), list(m["nrm"]), vecs

        a_vids, a_nrms, a_vecs = side(g1)
        b_vids, b_nrms, b_vecs = (
            (a_vids, a_nrms, a_vecs) if g1 == g2 else side(g2)
        )
        if not a_vids or not b_vids:
            return pd.DataFrame(out, columns=out_cols)
        # pairs of DIFFERENT lengths drop (the fold over a NULL-padded
        # zip_with is NULL), so pair per length group
        a_len = np.array([len(v) for v in a_vecs])
        b_len = np.array([len(v) for v in b_vecs])
        for L in np.intersect1d(a_len, b_len):
            ai = np.flatnonzero(a_len == L)
            bi = np.flatnonzero(b_len == L)
            if L == 0 or not len(ai) or not len(bi):
                continue
            VA = np.stack([a_vecs[i] for i in ai])
            VB = VA if (g1 == g2) else np.stack([b_vecs[i] for i in bi])
            na = np.asarray([a_nrms[i] for i in ai], dtype=np.float64)
            nb = (
                na if g1 == g2
                else np.asarray([b_nrms[i] for i in bi], dtype=np.float64)
            )
            va = np.asarray([a_vids[i] for i in ai])
            vb = va if g1 == g2 else np.asarray([b_vids[i] for i in bi])
            # chunk the A side so the cosine matrix stays ~8M doubles:
            # the join spelling STREAMED its pair rows, so a pathological
            # giant cluster must not become an |A| x |B| allocation here
            step = max(1, chunk_doubles // max(len(bi), 1))
            for alo in range(0, len(ai), step):
                ahi = min(alo + step, len(ai))
                with np.errstate(
                    over="ignore", invalid="ignore", divide="ignore"
                ):
                    acc = np.zeros((ahi - alo, len(bi)), dtype=np.float64)
                    for d in range(int(L)):
                        acc += VA[alo:ahi, d, None] * VB[None, :, d]
                    denom = na[alo:ahi, None] * nb[None, :]
                    cos = acc / denom
                    keep = ((cos >= thr) | np.isnan(cos)) & (denom != 0.0)
                if g1 == g2:
                    keep &= va[alo:ahi, None] < vb[None, :]
                ii, jj = np.nonzero(keep)
                if not len(ii):
                    continue
                lo = np.minimum(va[alo:ahi][ii], vb[jj])
                hi = np.maximum(va[alo:ahi][ii], vb[jj])
                out["id1"].extend(lo.tolist())
                out["id2"].extend(hi.tolist())
                if block_out:
                    out[block_out].extend([blk] * len(ii))
                out["cos_sim"].extend(cos[ii, jj].tolist())
        return pd.DataFrame(out, columns=out_cols)

    return rep.groupBy("blk", "__g1", "__g2").applyInPandas(emit, out_ddl)


def semantic_dedup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
    min_cosine: float = 0.99,
    n_groups: int = 4,
    assign_sink: list | None = None,
    centroids_sink: list | None = None,
    pair_kernel: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs — the third dedup axis
    (exact=fingerprint, lexical=minhash, semantic=embedding-cluster).

    Plan (Abbas et al., SemDeDup): Lloyd k-means partitions the corpus
    (operators/kmeans.py — broadcast centroids, map-side argmin), then
    exact double-precision cosine pairs are scored ONLY within a cluster —
    never all-pairs; candidate count is the sum of per-cluster quadratic
    terms, and the within-cluster self-join is skew-salted
    (salted_self_pairs) so a hot cluster splits n_groups^2 ways.  At 100 TB
    the knob is k: clusters of ~N/k vectors bound each task's pair count;
    boundary pairs split across clusters are the documented recall trade
    (SemDeDup accepts it; sign-prefix blocking — embedding_dedup_pairs —
    is the overlapping-block alternative).

    Returns (id1, id2, cluster_id, cos_sim), id1 < id2, deterministic on
    both engines (kmeans determinism contract + exact cosine).  Pass
    ``assign_sink`` / ``centroids_sink`` (lists) to also receive the
    (vid, cid, sqd) assignment and (cid, cvec) centroid frames — the
    SemDeDup representative policy (q_dedup_semantic_rep) needs both,
    and recomputing them would re-run the whole kmeans fit."""
    from .kmeans import kmeans_assign

    # keep_vec: the assignment is a zero-shuffle map (kmeans.py r09), so
    # re-attaching vectors via a vid join would add the only full-corpus
    # shuffle in the pair stage.  Per-row norms are precomputed ONCE here:
    # cosine(a, b) decomposes as dot / nullif(na * nb, 0) with bit-identical
    # doubles, and a vector meets ~cluster_size partners — recomputing its
    # norm per PAIR was ~2/3 of the pair-stage HOF work.  Persisted: both
    # sides of the within-cluster self-join read this frame.
    assigned = persist_tracked(
        kmeans_assign(
            vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            centroids_sink=centroids_sink, keep_vec=True,
        ).select(
            "vid", "v", F.col("cid").alias("blk"), "sqd",
            norm(F.col("v")).alias("nrm"),
        )
    )
    if assign_sink is not None:
        assign_sink.append(
            assigned.select("vid", F.col("blk").alias("cid"), "sqd")
        )
    labeled = assigned.select("vid", "v", "blk", "nrm")
    # r15 pair-stage dispatch: the salted self-join + interpreted HOF
    # cosine materializes every candidate pair as a 2x-vector row — at
    # deployment-scale pair volume one grouped Arrow stage with the
    # IDENTICAL pair set and bit-identical cos_sim doubles is ~1.5x
    # faster end-to-end (xl twin 13.4 -> 8.7 s min-of-3; see
    # _pairs_cosine_arrow for the fold-order and NULL/NaN argument),
    # while on sub-10k planted corpora the ~320 tiny grouped-map tasks
    # cost ~0.5 s of pure overhead.  "auto" keys the choice on k, the
    # documented corpus-size signal (callers size k = N/500 per the
    # SemDeDup deployment rule), so the kernel engages exactly where
    # the pair volume justifies it; both paths are gated bit-identical
    # by tests/test_semantic_dedup.py.
    if pair_kernel not in ("auto", "arrow", "join"):
        raise ValueError(f"pair_kernel must be auto|arrow|join: {pair_kernel}")
    if pair_kernel == "auto":
        pair_kernel = "arrow" if k >= 64 else "join"
    if pair_kernel == "arrow":
        return _pairs_cosine_arrow(
            labeled, min_cosine, n_groups, block_out="cluster_id"
        )
    from .joins import salted_self_pairs

    pairs = salted_self_pairs(labeled, "blk", "vid", n_groups=n_groups).where(
        F.col("a_vid") < F.col("b_vid")
    )
    cos = dot(F.col("a_v"), F.col("b_v")) / F.nullif(
        F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0)
    )
    return (
        pairs.select(
            F.col("a_vid").alias("id1"),
            F.col("b_vid").alias("id2"),
            F.col("a_blk").alias("cluster_id"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min_cosine)
    )


def embedding_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_dims: int = 8,
    min_cosine: float = 0.95,
    n_groups: int = 4,
) -> DataFrame:
    """Semantic train/eval contamination: training vectors whose embedding
    is near-duplicate (cosine >= ``min_cosine``) to ANY evaluation vector —
    the vector-space face of benchmark decontamination (the n-gram face is
    q_contamination; paraphrased leaks that share no 8-gram still land next
    to their source in embedding space).

    Plan: sign-prefix block BOTH sides (axis-aligned, hash-free — the same
    oracle-checkable blocking as :func:`embedding_dedup_pairs`), bipartite
    equi-join on the block key, exact double-precision cosine, then one
    row per contaminated train vector via ``max_by`` (highest cosine,
    lowest eval id on exact ties).

    Skew: a hot block's work is |train_b| x |eval_b| in one task under a
    plain join.  The EVAL side (small by contract) replicates ``n_groups``
    ways and each train row picks one deterministic group, so the physical
    key (blk, g) splits a hot block's bipartite workload n_groups ways
    with identical output — the one-sided analogue of salted_self_pairs.

    Returns (train_id, eval_id, cos_sim).
    """
    blk = sign_prefix_block(F.col(vec_col), sign_dims)
    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).cast("int")
    # per-side norms hoisted out of the bipartite pair loop (r09): a train
    # row meets every blockmate eval row — same bit-identical cosine
    # decomposition as the self-join pair faces
    tb = train.select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("tv"),
        blk.alias("blk"),
        g.alias("g"),
        norm(F.col(vec_col)).alias("tn"),
    )
    eb = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("ev"),
        blk.alias("blk"),
        F.explode(F.array(*[F.lit(i) for i in range(n_groups)])).alias("g"),
        norm(F.col(vec_col)).alias("en"),
    )
    scored = (
        tb.join(eb, ["blk", "g"])
        .select(
            "train_id",
            "eval_id",
            (
                dot(F.col("tv"), F.col("ev"))
                / F.nullif(F.col("tn") * F.col("en"), F.lit(0.0))
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min_cosine)
    )
    # min_by over (-cos, eval_id): max cosine, exact ties to the LOWEST
    # eval id — only the (double) score is negated, so the rule holds for
    # string ids too (advice r08: -F.col(string) silently casts to NULL)
    best = F.min_by(
        F.struct(F.col("eval_id").alias("eval_id"),
                 F.col("cos_sim").alias("cos_sim")),
        F.struct((-F.col("cos_sim")).alias("s"),
                 F.col("eval_id").alias("t")),
    )
    return (
        scored.groupBy("train_id")
        .agg(best.alias("b"))
        .select(
            "train_id",
            F.col("b.eval_id").alias("eval_id"),
            F.col("b.cos_sim").alias("cos_sim"),
        )
    )


def knn_graph(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sign_dims: int = 4,
    assume_unit: bool = False,
) -> DataFrame:
    """k-nearest-neighbor graph over an embedding corpus — the semantic
    adjacency structure downstream diversity sampling, graph-based dedup
    and cluster-repair passes consume (each node's k best cosine
    neighbors, not just a global top-k).

    Plan: sign-prefix block (``sign_dims`` axis-aligned hyperplanes,
    hash-free so the whole graph replays in ANSI SQL) -> skew-salted
    UNORDERED within-block pairs (each cosine computed ONCE per pair) ->
    mirror both directions -> per-source window rank, keep rank <= k.
    Candidates for a node are its blockmates only — never all-pairs; at
    100 TB the blocking key coarsens/multi-probes exactly like
    cosine_topk_lsh, and the one shuffle partitions by source node.

    Returns (src, dst, rank, cos_sim rounded 6 dp); nodes whose block has
    no other member emit no rows (documented: isolated under this index).
    Cosine is pure double arithmetic (dot/sqrt, same fold order both
    engines), so ranking ties are impossible up to bit-identity and the
    (cos DESC, dst ASC) order is deterministic.

    ``assume_unit=True`` is the normalized-ingest fast path (r10, VERDICT
    r09 #4): a corpus written through ``functions.vectors.unit_normalize``
    has every norm == 1, so cosine IS the bare dot product — the ``nrm``
    column vanishes from the pair-stage shuffle entirely (one double per
    row off the exchange, no sqrt pass, no per-pair multiply/nullif).
    Plan-gated in tests/test_knn_unit.py; shuffle-width note in PLANS.md.
    The caller asserts normalization (it's an ingest contract — checking
    per row would spend the saving)."""
    from .joins import salted_self_pairs

    # nrm: per-row norm hoisted out of the per-pair cosine (r09, same
    # decomposition as semantic_dedup_pairs — bit-identical doubles)
    base = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        sign_prefix_block(F.col(vec_col), sign_dims).alias("blk"),
        *([] if assume_unit else [norm(F.col(vec_col)).alias("nrm")]),
    )
    cos = (
        dot(F.col("a_v"), F.col("b_v"))
        if assume_unit
        else dot(F.col("a_v"), F.col("b_v"))
        / F.nullif(F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0))
    )
    und = persist_tracked(
        salted_self_pairs(base, "blk", "vid", n_groups=4)
        .where(F.col("a_vid") < F.col("b_vid"))
        .select(
            F.col("a_vid").alias("id1"),
            F.col("b_vid").alias("id2"),
            cos.alias("c"),
        )
    )  # mirrored below: unpersisted, the block join + cosine runs twice
    directed = und.unionAll(
        und.select(
            F.col("id2").alias("id1"), F.col("id1").alias("id2"), "c"
        )
    )
    w = Window.partitionBy("id1").orderBy(F.desc("c"), F.asc("id2"))
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id1").alias("src"),
            F.col("id2").alias("dst"),
            F.col("rank").cast("bigint").alias("rank"),
            F.round("c", 6).alias("cos_sim"),
        )
    )


def int8_codes(unit_vec: Column, scale: int = 127) -> Column:
    """Int8-style quantization codes for a UNIT-NORMALIZED vector:
    ``floor(x * scale + 0.5)`` per element (|x| <= 1, so codes lie in
    [-scale, scale]).  floor(+0.5) instead of round(): both engines
    floor identically on identical doubles, with no half-even/half-up
    fork to adjudicate.  The integer dot of two code arrays is an EXACT
    BIGINT on every engine — the property the refine face's oracle
    leans on."""
    return F.transform(
        unit_vec,
        lambda x: F.floor(x * scale + F.lit(0.5)).cast("bigint"),
    )


def dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product of two BIGINT code arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine_topk_ivf_refine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    k_coarse: int = 30,
    n_centroids: int = 32,
    nprobe: int = 3,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    unit_col: str = "uv",
) -> DataFrame:
    """IVF with a quantized coarse pass and an exact refine — the
    FAISS-style IVF+refine search shape, on the unit-normalized ingest
    contract (``unit_col`` holds v/||v|| doubles, functions/vectors.py::
    unit_normalize): cosine collapses to a bare dot everywhere.

    Stage 1 (coarse): corpus vectors join their argmax-dot centroid's
    inverted list; queries probe their ``nprobe`` best lists; candidates
    score with the EXACT INTEGER dot of int8-style codes
    (:func:`int8_codes` — 8x smaller than the float64 vectors) and only
    the top ``k_coarse`` per query survive, ties broken by candidate id.

    Stage 2 (refine): the k_coarse survivors — ids only — join back to
    the full-precision unit vectors and rescore with the exact double
    dot; the final rank keeps ``k``.

    Scale shape: centroids broadcast as one sorted struct-array row;
    assignment is a pure map over each side (zero corpus exchanges before
    the list-id join, the r09 cosine_topk_ivf pattern); the probe join
    moves CODE arrays (8 B/dim -> but semantically int8 — a real engine
    packs to 1 B/dim), never the doubles; the refine join touches exactly
    k_coarse rows per query.  At 100 TB the coarse pass is the only
    corpus-wide work and it is code-sized, which is the entire point of
    the pattern.

    Determinism: every stage replays in ANSI SQL — seed centroids are the
    n_centroids lowest-id corpus vectors, assignment ties break on
    centroid id, coarse ties on the exact BIGINT approx score then id,
    refine ties on id.  A corpus vector lives in exactly ONE inverted
    list and each query probes distinct lists, so (qid, cid) candidate
    pairs are unique by construction — no dedup stage.
    """
    cents = (
        corpus.orderBy(c_id).limit(n_centroids)
        .select(
            F.row_number().over(Window.orderBy(c_id)).alias("centroid_id"),
            F.col(unit_col).alias("cent_v"),
        )
    )
    carr = cents.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").alias("centroid_id"),
                    F.col("cent_v").alias("cent_v"),
                )
            )
        ).alias("_cents")
    )

    def scored(df, id_col):
        # per-row (negdot, centroid_id) structs over the broadcast
        # centroid array: ascending struct order == (dot DESC, cid ASC)
        return df.select(
            F.col(id_col).alias("vid"),
            F.col(unit_col).alias("v"),
        ).crossJoin(F.broadcast(carr)).select(
            "vid", "v",
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (-dot(F.col("v"), c["cent_v"])).alias("negdot"),
                    c["centroid_id"].alias("centroid_id"),
                ),
            ).alias("_sc"),
        )

    c_assigned = scored(corpus, c_id).select(
        "vid",
        int8_codes(F.col("v")).alias("code"),
        F.array_min(F.col("_sc"))["centroid_id"].alias("centroid_id"),
    )
    q_assigned = scored(queries, q_id).select(
        "vid",
        int8_codes(F.col("v")).alias("code"),
        F.explode(
            F.transform(
                F.slice(F.array_sort(F.col("_sc")), 1, nprobe),
                lambda s: s["centroid_id"],
            )
        ).alias("centroid_id"),
    )
    cand = (
        q_assigned.select(
            F.col("vid").alias("qid"), F.col("code").alias("qcode"),
            "centroid_id",
        )
        .join(
            c_assigned.select(
                F.col("vid").alias("cid"), F.col("code").alias("ccode"),
                "centroid_id",
            ),
            "centroid_id",
        )
        .where(F.col("qid") != F.col("cid"))
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("approx"), F.asc("cid"))
    coarse = (
        cand.select(
            "qid", "cid", dot_int(F.col("qcode"), F.col("ccode")).alias("approx")
        )
        .withColumn("_cr", F.row_number().over(wc))
        .where(F.col("_cr") <= k_coarse)
        .drop("_cr")
    )
    qu = queries.select(F.col(q_id).alias("qid"), F.col(unit_col).alias("quv"))
    cu = corpus.select(F.col(c_id).alias("cid"), F.col(unit_col).alias("cuv"))
    refined = (
        coarse.join(F.broadcast(qu), "qid")
        .join(cu, "cid")
        .select("qid", "cid", "approx", dot(F.col("quv"), F.col("cuv")).alias("score"))
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        refined.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rank") <= k)
    )
