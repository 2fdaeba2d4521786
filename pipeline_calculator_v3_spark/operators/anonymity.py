"""The privacy ladder: k-anonymity / l-diversity / t-closeness audits,
suppression enforcement, and a seeded DP count release — the
re-identification checks and mechanisms a training corpus with
user-derived rows needs before release (Sweeney,
"k-Anonymity: A Model for Protecting Privacy", 2002): a row is k-anonymous
iff at least k rows share its full quasi-identifier combination, so an
attacker who knows those attributes cannot narrow a person below k
candidates.  Complements functions/scrub.py (which redacts direct
identifiers INSIDE text): scrubbing handles what a row says, k-anonymity
handles what a row's attribute combination reveals.

Both faces are pure counting over equivalence classes:

- audit: ONE hash aggregate on the quasi-identifier tuple (map-side
  partials absorb hot combinations) + a <= |distinct-class-size| rollup —
  nothing row-sized crosses a second exchange;
- enforcement (suppression): the risky-class keys join back onto the
  rows — an equi-join on the same tuple the aggregate grouped by, so the
  shuffle partitioning is reusable; rows in classes below k either drop
  (``mode="drop"``) or keep the row with the quasi columns nulled
  (``mode="null"``, the generalize-to-missing fallback).

Everything is exact integer counting — ANSI-SQL-replayable verbatim
(staged r11; oracle in tests/test_anonymity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Class-size profile of the quasi-identifier combinations.

    Returns one row per distinct equivalence-class SIZE: ``class_size``
    BIGINT, ``n_classes`` BIGINT, ``n_rows`` BIGINT, ``risky`` BOOLEAN
    (class_size < k).  The dataset's achieved k-anonymity is the minimum
    class_size; the risky rows total is the enforcement workload.
    NULL quasi values form their own class per SQL grouping (two rows
    with the same NULL pattern ARE mutually indistinguishable, which is
    exactly the anonymity question)."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
        )
        .select(
            F.col("class_size").cast("bigint").alias("class_size"),
            "n_classes", "n_rows",
            (F.col("class_size") < k).alias("risky"),
        )
        .orderBy("class_size")
    )


def suppress_below_k(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    mode: str = "drop",
) -> DataFrame:
    """Enforce k-anonymity on the quasi columns.

    ``mode="drop"`` removes rows in classes smaller than k;
    ``mode="null"`` keeps them with every quasi column nulled (all
    suppressed rows then share ONE all-NULL class — k-anonymous again as
    long as at least k rows were suppressed or the class is empty; the
    audit after enforcement is the check, and the round-trip invariant
    is pytest-gated).  Column order and types are preserved."""
    if mode not in ("drop", "null"):
        raise ValueError(f"unknown mode {mode!r}")
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("_n"))
    # Null-SAFE equi-join: groupBy buckets NULL quasi values into one class
    # (the audit's documented semantics), but a plain equi-join would never
    # match those keys back — a NULL-pattern class of size >= k would get
    # _n = NULL and be suppressed despite the audit calling it safe.  The
    # null-safe comparison keeps audit and enforcement on the same class
    # definition and still hash-partitions on the same tuple.
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(classes[c])
        cond = eq if cond is None else cond & eq
    joined = df.join(classes, cond, "left").drop(*[classes[c] for c in quasi_cols])
    if mode == "drop":
        return joined.where(F.col("_n") >= k).select(*df.columns)
    return joined.select(
        *[
            (
                F.when(F.col("_n") >= k, F.col(c))
                .otherwise(F.lit(None))
                .alias(c)
                if c in quasi_cols
                else F.col(c)
            )
            for c in df.columns
        ]
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Distinct-l-diversity profile (Machanavajjhala et al., "l-Diversity:
    Privacy Beyond k-Anonymity", 2006): k-anonymity bounds how many rows
    share a quasi-identifier combination, but a class where every row has
    the SAME sensitive value still leaks it outright (the homogeneity
    attack).  A class is l-diverse iff it contains at least l distinct
    non-NULL sensitive values.

    Returns one row per distinct DIVERSITY level: ``diversity`` BIGINT
    (distinct sensitive values in the class; all-NULL classes score 0),
    ``n_classes`` BIGINT, ``n_rows`` BIGINT, ``risky`` BOOLEAN
    (diversity < l).  Same single-hash-aggregate shape as
    :func:`k_anonymity_audit` — one groupBy on the quasi tuple with a
    count-distinct partial, then a <= |distinct-diversity| rollup."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if l < 2:
        raise ValueError("l must be >= 2 (l=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(
        F.countDistinct(sensitive_col).alias("diversity"),
        F.count(F.lit(1)).alias("class_size"),
    )
    return (
        classes.groupBy("diversity")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
        )
        .select(
            F.col("diversity").cast("bigint").alias("diversity"),
            "n_classes", "n_rows",
            (F.col("diversity") < l).alias("risky"),
        )
        .orderBy("diversity")
    )


def suppress_below_l(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Enforce distinct-l-diversity: DROP rows whose quasi class carries
    fewer than l distinct non-NULL sensitive values (nulling the
    sensitive column would set diversity to 0 — generalization hierarchies
    are a policy layer above this operator).  Column order and types are
    preserved.  Null-safe class join, the suppress_below_k rule."""
    if l < 2:
        raise ValueError("l must be >= 2 (l=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(
        F.countDistinct(sensitive_col).alias("_ldiv")
    )
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(classes[c])
        cond = eq if cond is None else cond & eq
    joined = df.join(classes, cond, "left").drop(
        *[classes[c] for c in quasi_cols]
    )
    return joined.where(F.col("_ldiv") >= l).select(*df.columns)


def _class_tvd(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str
) -> DataFrame:
    """Per-equivalence-class total-variation distance to the GLOBAL
    sensitive distribution, as an exact integer fraction.

    One row per class: the quasi columns, ``class_size`` BIGINT,
    ``tvd_num`` / ``tvd_den`` BIGINT with
    TVD = tvd_num / tvd_den = 0.5 * sum_i |p_i - q_i|
    (p = class distribution, q = global, both over the global value
    domain).  Values absent from a class contribute their full global
    mass, folded in ALGEBRAICALLY —
    sum_absent q_i = (N - sum_present g_i) / N —
    so the plan never expands class x domain: one hash aggregate on
    (quasi, sensitive), a broadcast join onto the small global-domain
    counts, a class-partitioned window for n, and a final aggregate on
    the SAME quasi tuple (the window's shuffle partitioning is reused).
    NULL sensitive values form their own category in both distributions
    (that a value is missing is itself information an attacker learns).

    Exactness bound: the cross products c_i*N / g_i*n stay inside BIGINT
    up to N ~ 9.2e18 / max(c_i); the 100 TB spelling swaps the two
    products to DECIMAL(38,0) (same plan, wider lanes) — the division to
    DOUBLE happens once, at the end, identically in ANSI SQL."""
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    glob = (
        df.select(F.col(sensitive_col).alias("_sv"))
        .groupBy("_sv")
        .agg(F.count(F.lit(1)).alias("_g"))
    )
    total = glob.agg(F.sum("_g").cast("bigint").alias("_N"))
    joined = (
        cells.join(
            F.broadcast(glob.crossJoin(F.broadcast(total))),
            F.col(sensitive_col).eqNullSafe(F.col("_sv")),
        )
        .drop("_sv")
    )
    # "_csz", NOT "_n": Spark column resolution is case-insensitive by
    # default, so a column named _n would silently SHADOW _N and every
    # reference below would read the class size as the corpus total
    w = Window.partitionBy(*quasi_cols)
    with_n = joined.withColumn("_csz", F.sum("_c").over(w))
    return (
        with_n.groupBy(*quasi_cols)
        .agg(
            F.max("_csz").cast("bigint").alias("class_size"),
            (
                F.sum(F.abs(F.col("_c") * F.col("_N") - F.col("_g") * F.col("_csz")))
                + (F.max("_N") - F.sum("_g")) * F.max("_csz")
            ).cast("bigint").alias("tvd_num"),
            (F.lit(2) * F.max("_csz") * F.max("_N")).cast("bigint").alias("tvd_den"),
        )
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, "t-Closeness:
    Privacy Beyond k-Anonymity and l-Diversity", ICDE 2007): l-diversity
    counts distinct sensitive values but ignores their SKEW — a class
    whose distribution differs sharply from the global one still leaks
    (the skewness attack: 50/50 positive in a class vs 1% globally).  A
    class is t-close iff the distance between its sensitive distribution
    and the global distribution is at most t; this operator uses total
    variation distance (the equal-ground-distance EMD of the paper's
    categorical case).

    Returns one row per equivalence class: the quasi columns,
    ``class_size`` BIGINT, ``tvd_num`` / ``tvd_den`` BIGINT (the exact
    fraction), ``t_distance`` DOUBLE, ``risky`` BOOLEAN
    (t_distance > t).  Single-pass shape per :func:`_class_tvd`."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if not 0.0 < t < 1.0:
        raise ValueError(
            "t must be in (0, 1) exclusive (t>=1 never flags, t<=0 flags "
            "every class whose distribution differs at all)"
        )
    return _class_tvd(df, quasi_cols, sensitive_col).select(
        *quasi_cols, "class_size", "tvd_num", "tvd_den",
        (F.col("tvd_num") / F.col("tvd_den")).alias("t_distance"),
        (F.col("tvd_num") / F.col("tvd_den") > t).alias("risky"),
    )


def t_closeness_audit_ordered(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """Ordered-distance t-closeness for NUMERIC sensitive attributes —
    the paper's motivating case (Li et al. 2007 §3: salary).  TVD treats
    {3k} vs {5k} the same as {3k} vs {50k}; the ordered EMD weights each
    leaked probability mass by how far it must travel along the sorted
    global value domain v_1 < ... < v_m:

        EMD = (1/(m-1)) * sum_{i<m} | sum_{j<=i} (p_j - q_j) |

    Exact integer fraction: with per-step common denominator n*N the
    cumulative is cum_i = sum_{j<=i} (c_j*N - g_j*n), so
    ``emd_num = sum_{i<m} |cum_i|``, ``emd_den = n*N*(m-1)``.

    Rows with NULL sensitive values are EXCLUDED from both
    distributions (NULL has no position on the value line; the TVD
    variant covers categorical NULL-as-category semantics) — class_size
    counts the surviving rows, and classes left empty vanish.

    Scale shape: the global domain (m distinct values) is broadcast
    with dense order indexes; each class expands to exactly m grid rows
    (|classes| * m total — linear, m is an attribute domain, not a
    corpus), absent values fill c = 0, and one quasi-partitioned window
    accumulates cum in domain order before a final aggregate on the
    SAME quasi tuple.  A single-value domain (m = 1) means every
    distribution equals the global one: distance 0, denominator
    clamped.  Same BIGINT headroom note as :func:`_class_tvd`."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if not 0.0 < t < 1.0:
        raise ValueError("t must be in (0, 1) exclusive")
    rows = df.where(F.col(sensitive_col).isNotNull())
    cells = rows.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    glob = (
        rows.select(F.col(sensitive_col).alias("_sv"))
        .groupBy("_sv")
        .agg(F.count(F.lit(1)).alias("_g"))
    )
    # dense order index + the two scalars (N, m) ride along each domain
    # row — the domain is small, one partition is the CORRECT plan here
    wd = Window.orderBy("_sv")
    domain = glob.select(
        "_sv", "_g",
        F.row_number().over(wd).alias("_i"),
        F.sum("_g").over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).cast("bigint").alias("_N"),
        F.count(F.lit(1)).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).cast("bigint").alias("_m"),
    )
    sizes = rows.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_csz")
    )
    # null-SAFE on the quasi part (join-on-names is null-unsafe, and a
    # NULL-quasi class would silently score against an all-zero
    # distribution); the sensitive side is non-NULL by the filter above
    cells_r = cells.select(
        *[F.col(c).alias(f"_q{i}") for i, c in enumerate(quasi_cols)],
        F.col(sensitive_col).alias("_cv"),
        "_c",
    )
    base_grid = sizes.crossJoin(F.broadcast(domain))
    cond = F.col("_sv") == F.col("_cv")
    for i, c in enumerate(quasi_cols):
        cond = cond & base_grid[c].eqNullSafe(F.col(f"_q{i}"))
    grid = (
        base_grid.join(cells_r, cond, "left")
        .drop("_cv", *[f"_q{i}" for i in range(len(quasi_cols))])
        .withColumn("_c0", F.coalesce(F.col("_c"), F.lit(0)))
    )
    wc = Window.partitionBy(*quasi_cols).orderBy("_i")
    cum = grid.withColumn(
        "_cum",
        F.sum(
            F.col("_c0") * F.col("_N") - F.col("_g") * F.col("_csz")
        ).over(wc),
    )
    per_class = (
        cum.where(F.col("_i") < F.col("_m"))
        .groupBy(*quasi_cols)
        .agg(
            F.max("_csz").alias("class_size"),
            F.sum(F.abs("_cum")).cast("bigint").alias("emd_num"),
            (
                F.max("_csz") * F.max("_N")
                * F.greatest(F.max("_m") - 1, F.lit(1))
            ).cast("bigint").alias("emd_den"),
        )
    )
    # m = 1 leaves no _i < _m rows at all — re-admit those classes with
    # distance 0 (their distribution IS the global one).  Null-SAFE
    # anti join: on-names is null-unsafe, so a NULL-quasi class would
    # fail to match its own per_class row and show up TWICE (found by
    # the hypothesis brute-force gate, fails pre-fix)
    pc_keys = per_class.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(quasi_cols)]
    )
    anti = None
    for i, c in enumerate(quasi_cols):
        eq = sizes[c].eqNullSafe(F.col(f"_k{i}"))
        anti = eq if anti is None else anti & eq
    degenerate = (
        sizes.join(pc_keys, anti, "left_anti")
        .select(
            *quasi_cols,
            F.col("_csz").alias("class_size"),
            F.lit(0).cast("bigint").alias("emd_num"),
            F.lit(1).cast("bigint").alias("emd_den"),
        )
    )
    return per_class.unionByName(degenerate).select(
        *quasi_cols, "class_size", "emd_num", "emd_den",
        (F.col("emd_num") / F.col("emd_den")).alias("t_distance"),
        (F.col("emd_num") / F.col("emd_den") > t).alias("risky"),
    )


def suppress_above_t(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """Enforce t-closeness: DROP rows whose quasi class sits farther than
    t (total variation) from the global sensitive distribution.
    Suppression shifts the surviving global distribution, so the audit
    after one enforcement pass is a REPORT, not a guarantee of
    t-closeness against the new margin — iterate to a fixed point if the
    release policy demands it (pytest gates the one-pass contract).
    Column order and types preserved; null-safe class join, the
    suppress_below_k rule."""
    if not 0.0 < t < 1.0:
        raise ValueError("t must be in (0, 1) exclusive")
    # the SAME double-division predicate as the audit's risky column —
    # num <= t*den could disagree with num/den <= t on a rounding edge
    classes = _class_tvd(df, quasi_cols, sensitive_col).where(
        F.col("tvd_num") / F.col("tvd_den") <= t
    )
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(classes[c])
        cond = eq if cond is None else cond & eq
    return df.join(classes, cond, "left_semi")


def laplace_noise_sql(key_sql: str, scale: float, seed: str) -> str:
    """Seeded Laplace(scale) noise as engine-portable SQL text — the
    inverse-CDF transform of a deterministic md5-uniform:

        u = (md5_prefix(key || seed) + 0.5) / 2^32   in (0, 1)
        noise = -scale * sign(u - 0.5) * ln(1 - 2*|u - 0.5|)

    The +0.5 offset keeps u strictly inside (0, 1) and off 0.5 exactly
    (an integer prefix can never equal 2^31 - 0.5), so the log argument
    lives in [2^-32, 1] — noise is finite and bounded by ~22.2*scale.
    One spelling for both engines (the weighted_key_sql pattern): Spark
    runs this text via F.expr and the oracle embeds it verbatim, so the
    noise stream cannot drift.  Seeded determinism is a REPRODUCIBILITY
    contract, not a privacy strengthening: re-releasing with a new seed
    spends fresh epsilon, and publishing the seed voids the guarantee —
    the caller owns the privacy accounting."""
    if scale <= 0.0:
        raise ValueError("scale must be positive")
    from .chunking import md5_prefix_sql

    lit_seed = seed.replace("'", "''")
    seeded = f"CONCAT({key_sql}, '␟', '{lit_seed}')"
    u = (
        f"((CAST({md5_prefix_sql(seeded)} AS DOUBLE)"
        f" + 0.5) / 4294967296.0)"
    )
    return (
        f"(-({scale!r}) * SIGN({u} - 0.5)"
        f" * LN(1.0 - 2.0 * ABS({u} - 0.5)))"
    )


def group_key_sql(group_cols: list[str]) -> str:
    """The group tuple as one collision-safe portable string: each column
    null-marked (CONCAT_WS silently DROPS NULLs, making ('a', NULL) and
    ('a',) collide) and unit-separator-joined."""
    # STRING, not VARCHAR: Spark rejects bare VARCHAR (needs a length),
    # and STRING is a VARCHAR alias in DuckDB — the one spelling both parse
    parts = ", ".join(
        f"COALESCE(CAST({c} AS STRING), '␀')" for c in group_cols
    )
    return f"CONCAT_WS('␟', {parts})"


def dp_group_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: str = "dp-release-1",
    threshold: float | None = None,
) -> DataFrame:
    """Differentially-private group-count release — the publishing step
    after the k/l/t audits: counts-by-group with Laplace(1/epsilon)
    noise satisfy epsilon-DP for add/remove-one-row neighbors (count
    sensitivity 1, Dwork et al. 2006), so the release no longer depends
    on any single contributor the way an exact count does.

    Returns one row per group: the quasi columns + ``noisy_count``
    DOUBLE (6 dp).  The TRUE count never appears in the output.
    ``threshold`` optionally suppresses groups whose noisy count falls
    below it (the publish-floor rule — note the surviving-group SET then
    leaks one noisy bit per group, standard for thresholded releases).

    Noise is the seeded deterministic stream of :func:`laplace_noise_sql`
    keyed on the group tuple — identical on every run/partitioning/
    engine, so the release is reproducible AND oracle-checkable; see
    that docstring for what seeding does (and does not) mean for the
    privacy accounting.  Scale shape: ONE hash aggregate on the group
    tuple, then scan-side noise arithmetic — nothing else."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if epsilon <= 0.0:
        raise ValueError("epsilon must be positive")
    counts = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    noise = laplace_noise_sql(group_key_sql(group_cols), 1.0 / epsilon, seed)
    out = counts.select(
        *group_cols,
        F.round(F.col("_n") + F.expr(noise), 6).alias("noisy_count"),
    )
    if threshold is not None:
        out = out.where(F.col("noisy_count") >= threshold)
    return out
