"""Product quantization (PQ) — embedding compression for corpus-scale
vector stores, plus ADC (asymmetric distance computation) scanning.

At 100 TB an `array<float>` embedding column is the dominant storage and
shuffle cost: 64 dims x 4 B = 256 B/vector.  PQ splits each vector into
``m`` subvectors and replaces every subvector with the id of its nearest
subspace centroid — ``m`` small integers (4 bits each at ksub=16), a
64x compression — while queries score against the ORIGINAL centroids via
per-query lookup tables, so the corpus-wide scan touches only codes.
This is the storage layout behind IVF-PQ indexes (Jegou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; FAISS's IndexPQ /
IndexIVFPQ): the similarity/similarity.py IVF+refine pipeline composes
with it by scanning codes coarse-side and refining survivors exactly.

Everything is deterministic and ANSI-SQL-replayable (the r11 staging
contract for an r12 registry face — tests/test_pq.py carries the DuckDB
oracle):

- codebooks: per subspace, the subvectors of the ``ksub`` lowest-id
  corpus vectors (the cosine_topk_ivf seeding rule applied per
  subspace); optional Lloyd refinement via element-wise means.
- encode: argmin squared-L2 per subspace, ties to the lowest code id.
- ADC: per query, one (m x ksub) distance table; a corpus vector's
  approximate squared distance is the sum of m table lookups.

Scale shape: codebooks broadcast as ONE row (m * ksub tiny structs);
encoding is a pure map over the corpus (zero exchanges); the ADC scan
moves code arrays only — the float vectors never leave their files
after encode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import elementwise_mean
from .kmeans import sqdist as _sqdist  # ONE distance spelling for every
# face the oracles mirror — a private fork would silently diverge from a
# fold-order fix applied to kmeans.sqdist (review r11 class, closed r13;
# its per-element double casts are identity no-ops on these arrays)


def _sub(vec: Column, i: int, dsub: int) -> Column:
    """The i-th length-``dsub`` subvector (1-based slice), as doubles."""
    return F.transform(
        F.slice(vec, i * dsub + 1, dsub), lambda x: x.cast("double")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 0,
) -> DataFrame:
    """Train per-subspace codebooks.  Returns (subspace BIGINT, code
    BIGINT, cent ARRAY<DOUBLE>) with ``m * ksub`` rows.

    Seeds are the subvectors of the ``ksub`` lowest-id corpus vectors —
    fully deterministic, the IVF seeding rule per subspace.  ``iters``
    Lloyd steps (assign -> element-wise mean, means rounded to 9 dp so
    cross-engine summation noise cannot propagate — the kmeans rule)
    refine them; iters=0 keeps the codebook SQL-replayable exactly.

    The codebook is DENSE by contract: every (subspace, code) pair in
    [0, m) x [0, ksub) has exactly one row — the ADC lookup table indexes
    positionally, so a gap would silently shift every later entry.  A
    Lloyd cluster that loses all members (duplicate seed subvectors tie
    every assignment to the lower code) therefore KEEPS its previous
    centroid, the standard empty-cluster rule (review r11).

    Scale: training reads ksub rows for seeding; each Lloyd step is one
    map-side assignment + one (subspace, code, dim)-keyed aggregate.
    The codebook itself is broadcast-sized by construction (m * ksub
    rows), so each step pins it back to a literal frame — without that,
    iteration i's plan replays all i-1 prior join+aggregate stages and
    the loop goes O(iters^2) in recomputed stages (review r11)."""
    first = corpus.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise ValueError("corpus is empty — nothing to train on")
    d = first["d"]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    seeds = corpus.orderBy("vec_id").limit(ksub).select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("code"),
        F.col("embedding").alias("v"),
    )
    parts = None
    for i in range(m):
        p = seeds.select(
            F.lit(i).cast("bigint").alias("subspace"),
            F.col("code").cast("bigint").alias("code"),
            _sub(F.col("v"), i, dsub).alias("cent"),
        )
        parts = p if parts is None else parts.unionByName(p)
    spark = corpus.sparkSession
    schema = "subspace bigint, code bigint, cent array<double>"
    # pin the seeds to a literal frame UNCONDITIONALLY: the lazy m-branch
    # union embeds a full-corpus orderBy+limit per branch, and downstream
    # consumers (_books_row inside encode AND probe plans, _shape_of's two
    # driver jobs) would re-execute every branch on every action — ~4m
    # corpus scans for the iters=0 path the shipped face uses (review r13)
    collected = [(r.subspace, r.code, list(r.cent)) for r in parts.collect()]
    if len(collected) != m * ksub:
        # a corpus smaller than ksub seeds fewer codes per subspace, and
        # the Lloyd loop's positional _codes_expr slice (i*ksub+1, ksub)
        # would then read the NEXT subspace's centroids — wrong
        # assignments with no error (advice r13).  The dense-codebook
        # contract (exactly ksub codes per subspace) is load-bearing for
        # every positional consumer, so fail loudly instead.
        raise ValueError(
            f"corpus has only {len(collected) // m} vectors; pq_train "
            f"needs >= ksub={ksub} to seed a dense codebook"
        )
    books = spark.createDataFrame(collected, schema)
    for _ in range(iters):
        # ONE corpus pass per Lloyd step: carry the vector through the
        # assignment so the per-subspace rows posexplode out of the code
        # word — the previous m-branch union re-ran the full encode AND a
        # corpus re-join per subspace, an O(m) recompute factor on the
        # hottest stage (review r13).  Same rows, same means.
        assigned = corpus.crossJoin(F.broadcast(_books_row(books))).select(
            F.col("embedding"), _codes_expr(m, ksub, dsub).alias("codes")
        )
        subvecs = assigned.select(
            F.col("embedding"), F.posexplode("codes").alias("_i", "code")
        ).select(
            F.col("_i").cast("bigint").alias("subspace"),
            F.col("code"),
            F.transform(
                F.slice(
                    F.col("embedding"),
                    (F.col("_i") * dsub + 1).cast("int"),
                    F.lit(dsub),
                ),
                lambda x: x.cast("double"),
            ).alias("sv"),
        )
        means = {
            (r.subspace, r.code): list(r.cent)
            for r in elementwise_mean(
                subvecs, ["subspace", "code"], "sv", "cent", round_dp=9
            ).collect()
        }
        prev = {(r.subspace, r.code): list(r.cent) for r in books.collect()}
        books = spark.createDataFrame(
            [
                (s, c, means.get((s, c), prev[(s, c)]))
                for (s, c) in sorted(prev)
            ],
            schema,
        )
    return books


def _books_row(codebooks: DataFrame):
    """Codebooks collapsed to ONE broadcastable row: an array of
    (subspace, code, cent) structs sorted by (subspace, code)."""
    return codebooks.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("subspace").alias("subspace"),
                    F.col("code").alias("code"),
                    F.col("cent").alias("cent"),
                )
            )
        ).alias("_cb")
    )


def _shape_of(codebooks: DataFrame) -> tuple[int, int, int]:
    """(m, ksub, dsub) read from the codebook frame."""
    mk = codebooks.agg(
        F.max("subspace").alias("mm"), F.countDistinct("code").alias("k")
    ).first()
    dsub = int(codebooks.select(F.size("cent").alias("ds")).first()["ds"])
    return int(mk["mm"]) + 1, int(mk["k"]), dsub


def _codes_expr(m: int, ksub: int, dsub: int) -> Column:
    """The ARRAY<BIGINT> code word for ``embedding`` against the broadcast
    ``_cb`` codebook row: per subspace, argmin squared L2 (ties -> lowest
    code) — one HOF expression, no exchanges, no UDFs.  Each subspace
    block comes off ``_cb`` by POSITION (slice at i*ksub+1): the codebook
    is (subspace, code)-sorted and dense by the pq_train contract — the
    same property _lut_expr indexes on — so a per-subspace predicate scan
    of all m*ksub structs (O(m^2*ksub) per corpus row, review r13) buys
    nothing."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    F.slice(F.col("_cb"), i * ksub + 1, ksub),
                    lambda c: F.struct(
                        _sqdist(
                            _sub(F.col("embedding"), i, dsub), c["cent"]
                        ).alias("dist"),
                        c["code"].alias("code"),
                    ),
                )
            )["code"]
            for i in range(m)
        ]
    )


def _lut_expr(dsub: int) -> Column:
    """The per-query ADC lookup table against the broadcast ``_cb`` row:
    squared distance from each query subvector (``_qv``) to each centroid.
    ``_cb`` is (subspace, code)-sorted, so transform order IS
    subspace * ksub + code order."""
    return F.transform(
        F.col("_cb"),
        lambda c: _sqdist(
            F.transform(
                F.slice(
                    F.col("_qv"),
                    (c["subspace"] * dsub + 1).cast("int"),
                    dsub,
                ),
                lambda x: x.cast("double"),
            ),
            c["cent"],
        ),
    )


def _adc_sum(m: int, ksub: int) -> Column:
    """Approximate squared distance: m ``_lut`` lookups indexed by the
    ``codes`` array, summed in subspace order (the oracle pins the same
    order with SUM(... ORDER BY subspace))."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, i: F.element_at(
                F.col("_lut"), (i * ksub + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_ivf_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    k_coarse: int = 100,
    n_lists: int = 32,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ (the FAISS IndexIVFPQ layout, ``by_residual=false``): an
    inverted-file coarse quantizer partitions the corpus into ``n_lists``
    lists; queries probe their ``nprobe`` nearest lists; ADC over PQ
    codes ranks ONLY the probed lists' members; the exact refine rescores
    the ``k_coarse`` survivors.  Codes are trained on raw vectors, not
    per-list residuals — one shared codebook keeps the encode a single
    broadcast map and the whole pipeline ANSI-SQL-replayable (residual
    PQ needs a codebook per list; FAISS ships the non-residual variant
    for exactly this storage/simplicity point).

    Returns (qid, cid, approx_sqdist DOUBLE, sqdist DOUBLE, rank BIGINT).

    Scale shape — the piece neither a full-corpus ADC scan nor
    cosine_topk_ivf_refine (full-precision probed scan) has:
    the corpus crosses ZERO exchanges end-to-end.  One map pass computes
    each vector's code word AND its list assignment against two one-row
    broadcasts (codebooks + coarse centroids); the probe join is a
    BROADCAST hash join on list id (query side is tiny by contract), so
    only probed-list ADC survivor rows reach the per-query top-k — at
    100 TB the scan streams m bytes/vector over nprobe/n_lists of the
    corpus, and the exact pass reads k_coarse full vectors per query.

    Coarse quantizer: the ``n_lists`` lowest-id corpus vectors (the
    cosine_topk_ivf seeding rule) under squared L2 — the ADC metric, so
    list geometry and code geometry agree.  Ties everywhere resolve to
    the lowest id; every corpus vector lands in exactly ONE list, so a
    (query, candidate) pair is scored at most once."""
    def cast_d(v: Column) -> Column:
        return F.transform(v, lambda x: x.cast("double"))

    cents = (
        corpus.orderBy("vec_id")
        .limit(n_lists)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).cast("bigint").alias(
                "list_id"
            ),
            cast_d(F.col("embedding")).alias("cent"),
        )
    )
    cents_row = cents.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("list_id").alias("list_id"),
                    F.col("cent").alias("cent"),
                )
            )
        ).alias("_cents")
    )
    def coarse_sc(vcol: str) -> Column:
        """Per-row (sqdist, list_id) structs: ascending struct order ==
        nearest list first, lowest id on ties."""
        return F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sqdist(cast_d(F.col(vcol)), c["cent"]).alias("d"),
                c["list_id"].alias("list_id"),
            ),
        )

    m, ksub, dsub = _shape_of(codebooks)
    # ONE corpus pass: code word + list assignment, both against one-row
    # broadcasts — no exchange, no second scan
    enc = (
        corpus.crossJoin(F.broadcast(_books_row(codebooks)))
        .crossJoin(F.broadcast(cents_row))
        .select(
            F.col("vec_id").alias("cid"),
            F.array_min(coarse_sc("embedding"))["list_id"].alias("list_id"),
            _codes_expr(m, ksub, dsub).alias("codes"),
        )
    )
    probes = (
        queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv"))
        .crossJoin(F.broadcast(_books_row(codebooks)))
        .crossJoin(F.broadcast(cents_row))
        .select(
            F.col("qid"),
            # LUT built BEFORE the probe explode: one table per query,
            # shared by its nprobe rows
            _lut_expr(dsub).alias("_lut"),
            F.explode(
                F.slice(F.array_sort(coarse_sc("_qv")), 1, nprobe)
            ).alias("_p"),
        )
        .select("qid", F.col("_p.list_id").alias("list_id"), "_lut")
    )
    scored = (
        enc.join(F.broadcast(probes), "list_id")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid", _adc_sum(m, ksub).alias("approx_sqdist"))
    )
    wc = Window.partitionBy("qid").orderBy(F.asc("approx_sqdist"), F.asc("cid"))
    coarse = (
        scored.withColumn("r", F.row_number().over(wc))
        .where(F.col("r") <= k_coarse)
        .drop("r")
    )
    # exact squared-L2 rescoring of the coarse survivors against the
    # full-precision vectors; per-query top-k on (sqdist ASC, cid ASC)
    qv = queries.select(
        F.col("vec_id").alias("qid"), cast_d(F.col("embedding")).alias("_qd")
    )
    cv = corpus.select(
        F.col("vec_id").alias("cid"), cast_d(F.col("embedding")).alias("_cd")
    )
    refined = (
        coarse.join(F.broadcast(qv), "qid")
        .join(cv, "cid")
        .select(
            "qid", "cid", "approx_sqdist",
            _sqdist(F.col("_qd"), F.col("_cd")).alias("sqdist"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("sqdist"), F.asc("cid"))
    return (
        refined.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )
