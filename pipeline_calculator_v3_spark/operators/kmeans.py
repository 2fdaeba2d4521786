"""Distributed Lloyd k-means over a vector column — the clustering
primitive behind corpus bucketing, IVF coarse quantizers, and
topic-style corpus maps.

Spark shape (the IVF lesson, operators/similarity.py): centroids are
tiny and BROADCAST; assignment scores every vector against all k
centroids in place (broadcast nested loop — no shuffle of vectors) and
collapses to the argmin row map-side via ``min_by`` partial aggregation,
so each full vector crosses an exchange once per iteration (for the
centroid update's (cid, dim) mean), never k times.  Nothing about the
vectors ever reaches the driver.

Determinism contract (what makes this oracle-checkable, unlike MLlib's
sampled init): seeds are the k lowest-id vectors; assignment ties break
on the lower centroid id; updated centroid means are ROUNDED to 9 dp on
both engines, so cross-engine summation-order noise (~1e-15) cannot
propagate into later assignments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 between two array columns, as an explicit multiply
    left-fold (matches DuckDB's sequential ``list_sum`` order; ``pow``
    could round differently)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_hof(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vid, v, cid, sqd) — each ``vec_id``/``embedding`` row's nearest
    centroid, as a PURE MAP: the centroid table collapses to ONE broadcast
    row holding a
    cid-sorted array of (cid, cvec) structs, and the per-vector winner is
    ``array_min`` over the per-centroid (sqd, cid) structs — lexicographic
    struct ordering IS the (asc sqdist, asc cid) tie rule, unchanged from
    the previous min_by spelling.

    Scale shape (r09 rewrite): the old form exploded N x k scored ROWS
    through a min_by partial aggregate + a vid-keyed exchange; this form
    moves zero rows — same FLOPs, no materialized blowup, no shuffle.
    The centroid update (elementwise_mean) is now the ONLY exchange per
    Lloyd iteration.  Measured on the SemDeDup xl twin corpus (sf0.1,
    k=88, N=44k, min-of-2, same co-tenancy): the iters=1 assign pair
    13.6 s -> 3.7 s.

    Since r15 this interpreted-HOF spelling is the FALLBACK; the default
    assignment path is :func:`_assign` (Arrow + numpy, bit-identical by
    forced fold order).  This path still serves centroid tables the
    vectorized kernel does not model (ragged/NULL/non-finite centroid
    vectors — possible only when the SEED vectors are dirty)."""
    carr = cents.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cid").alias("cid"), F.col("cvec").alias("cvec"))
            )
        ).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                sqdist(F.col("embedding"), c["cvec"]).alias("sqd"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        vecs.crossJoin(F.broadcast(carr))
        .select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("v"),
            best.alias("_b"),
        )
        .select(
            "vid",
            "v",
            F.col("_b.cid").alias("cid"),
            F.col("_b.sqd").alias("sqd"),
        )
    )


def _kernel_batches(batches, cids, C, row_chunk: int, out_schema):
    """mapInArrow body for :func:`_assign`: per batch, squared L2 against
    every centroid with the EXACT fold order of :func:`sqdist` (acc
    starts 0.0; per dimension acc += (x - y) * (x - y), left to right),
    then argmin with the (asc sqd, asc cid) tie rule.  numpy subtract/
    multiply/add are plain IEEE-754 double ops (no FMA contraction), so
    every sqd is BIT-IDENTICAL to the interpreted HOF fold — summation
    order is not changed, it is reproduced.

    Row-level dirt reproduces the Column semantics measured on Spark
    4.1.2 (ragged, empty, NULL-element and NULL vectors -> sqd NULL with
    the LOWEST cid, because every per-centroid struct ties at sqd NULL;
    all-NaN rows keep NaN sqd and the lowest cid).  numpy argmin returns
    the FIRST index on ties and on all-NaN rows, which with cid-ascending
    centroid order is exactly both rules."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    k, d = C.shape
    cid_arr = np.asarray(cids)
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        ids, varr = batch.column(0), batch.column(1)
        # list_flatten honours the batch's slice offset; .values does not
        flat = pc.list_flatten(varr)
        if varr.null_count == 0 and flat.null_count == 0 and (
            np.asarray(pc.list_value_length(varr), dtype=np.int64) == d
        ).all():
            V = np.asarray(flat, dtype=np.float64).reshape(n, d)
            dirty = None
        else:
            # slow lane: per-row python lists; dirty rows (NULL vector,
            # NULL element, length != d) take the NULL-sqd/lowest-cid rule
            py = varr.to_pylist()
            dirty = np.array(
                [
                    v is None or len(v) != d or any(x is None for x in v)
                    for v in py
                ]
            )
            V = np.array(
                [
                    v if not bad else [0.0] * d
                    for v, bad in zip(py, dirty)
                ],
                dtype=np.float64,
            )
        best_sqd = np.empty(n, dtype=np.float64)
        best_cid = np.empty(n, dtype=cid_arr.dtype)
        # overflow/invalid warnings off: inf/NaN PROPAGATION is the
        # defined semantics (bit-identical to the JVM fold), not an error
        with np.errstate(over="ignore", invalid="ignore"):
            for lo in range(0, n, row_chunk):
                hi = min(lo + row_chunk, n)
                acc = np.zeros((hi - lo, k), dtype=np.float64)
                Vc = V[lo:hi]
                for i in range(d):
                    diff = Vc[:, i, None] - C[None, :, i]
                    acc += diff * diff
                j = np.argmin(acc, axis=1)  # first index on ties / all-NaN
                rr = np.arange(hi - lo)
                best_sqd[lo:hi] = acc[rr, j]
                best_cid[lo:hi] = cid_arr[j]
        sqd_pa = pa.array(best_sqd, type=pa.float64())
        cid_pa = pa.array(best_cid)
        if dirty is not None and dirty.any():
            mask = pa.array(dirty)
            sqd_pa = pc.if_else(mask, pa.scalar(None, pa.float64()), sqd_pa)
            cid_pa = pc.if_else(mask, pa.scalar(cids[0], cid_pa.type), cid_pa)
        yield pa.RecordBatch.from_arrays(
            [ids, varr, cid_pa.cast(out_schema.field("cid").type), sqd_pa],
            schema=out_schema,
        )


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vid, v, cid, sqd) via ONE Arrow map stage (guide §4.2): centroids
    are k bounded rows — collected once per Lloyd pass (the q_heavy_hitters
    bounded-metadata precedent; the vectors themselves never reach the
    driver) and closed over the kernel, so assignment costs zero shuffle
    and zero JVM expression interpretation.  The interpreted HOF fold
    (:func:`_assign_hof`) evaluated ~50 expression-tree ops per
    multiply-add; the numpy kernel reproduces its fold order bit-for-bit
    (see :func:`_kernel_batches`) at vector-unit speed — measured 71 ->
    ~8 task-s on the SemDeDup xl assignment passes (r15).

    Falls back to the HOF spelling when a collected centroid is dirty
    (NULL/ragged/non-finite cvec) — the kernel's vectorized comparisons
    do not model those orderings, and only degenerate seed data can
    produce them."""
    import math

    rows = sorted(cents.collect(), key=lambda r: r["cid"])
    d = len(rows[0]["cvec"]) if rows and rows[0]["cvec"] is not None else -1
    clean = bool(rows) and all(
        r["cvec"] is not None
        and len(r["cvec"]) == d
        and all(x is not None and math.isfinite(x) for x in r["cvec"])
        for r in rows
    )
    if not clean:
        return _assign_hof(vecs, cents)
    import numpy as np

    from ..shipping import ensure_pkg_shipped

    ensure_pkg_shipped(vecs.sparkSession)
    C = np.array([list(r["cvec"]) for r in rows], dtype=np.float64)
    cids = [r["cid"] for r in rows]
    k = len(cids)
    # bound the (rows x k) distance temporaries to ~8M doubles per chunk
    row_chunk = max(1024, (8 << 20) // max(k, 1))
    src = vecs.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    )
    in_fields = src.schema.fields
    cid_type = cents.schema["cid"].dataType.simpleString()
    out_ddl = (
        f"vid {in_fields[0].dataType.simpleString()}, "
        f"v {in_fields[1].dataType.simpleString()}, "
        f"cid {cid_type}, sqd double"
    )
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    in_arrow = to_arrow_schema(src.schema)
    cid_arrow = to_arrow_schema(
        StructType([cents.schema["cid"]])
    ).field(0).type
    out_schema = pa.schema(
        [
            pa.field("vid", in_arrow.field(0).type),
            pa.field("v", in_arrow.field(1).type),
            pa.field("cid", cid_arrow),
            pa.field("sqd", pa.float64()),
        ]
    )

    def fn(batches):
        yield from _kernel_batches(batches, cids, C, row_chunk, out_schema)

    return src.mapInArrow(fn, out_ddl)


def kmeans_assign(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 1,
    centroids_sink: list | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """``iters`` Lloyd update iterations from the k lowest-id seed
    vectors, then a final assignment against the last centroids:
    (vid, cid, sqd) — one row per input vector.  Pass ``centroids_sink``
    (a list) to also receive the final (cid, cvec) centroid frame — the
    SemDeDup representative rule scores members against their cluster
    centroid, and re-fitting to get it would double the kmeans work.
    ``keep_vec=True`` adds the vector itself as ``v`` — downstream pair
    stages consume (id, vec, cluster) together, and re-joining the input
    on vid to get the vector back would shuffle the whole corpus (r09:
    the semantic_dedup_pairs re-attach join).

    Each iteration costs one broadcast-scored map pass + one (cid, dim)
    mean exchange; centroid means are rounded to 9 dp (see module
    docstring).  A centroid that loses every member during an iteration
    is CARRIED FORWARD unchanged (classical Lloyd / MLlib behavior) —
    without the carry, the mean aggregate emits no row for the empty cid
    and k silently shrinks (advice r07).  The caller aggregates cluster
    stats or joins labels back as needed."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0; got k={k}, iters={iters}")
    # persist: the vector frame feeds the seed scan plus one full scoring
    # pass PER iteration (+ the final assignment) — unpersisted, a derived
    # input (e.g. the synthesized xl corpus) re-runs its whole upstream
    # plan iters+2 times
    from ..caching import persist_tracked

    vecs = persist_tracked(vecs)
    cents = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    from ..functions.vectors import elementwise_mean

    for _ in range(iters):
        assigned = _assign(vecs, cents)
        updated = elementwise_mean(
            assigned, ["cid"], "v", "cvec", round_dp=9
        )
        # empty-cluster carry-forward: k rows in, k rows out, always
        cents = (
            cents.alias("p")
            .join(F.broadcast(updated.alias("u")), "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("u.cvec"), F.col("p.cvec")).alias("cvec"),
            )
        )
        # truncate the centroid lineage to its k literal rows after every
        # Lloyd pass (r15): left lazy, iteration i+1's centroid collect
        # (and any centroids_sink consumer) re-executes iteration i's
        # whole assignment+mean subplan — with iters=2 the first pass ran
        # twice.  k rows of doubles round-trip the driver exactly.
        cents = vecs.sparkSession.createDataFrame(
            cents.collect(), cents.schema
        )
    if centroids_sink is not None:
        centroids_sink.append(cents)
    out = _assign(vecs, cents)
    return out if keep_vec else out.select("vid", "cid", "sqd")
