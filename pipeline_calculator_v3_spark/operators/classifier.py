"""Model-based quality filtering: a linear classifier over handcrafted
text features — the "quality model" stage (fastText / logistic filters a
la GPT-3 WebText scoring, CCNet's linear head) that sits between the
heuristic filters and packing in a pre-training curation funnel.

The model ships in its DEPLOYMENT form: a fixed (feature -> weight) table
of literals (the offline training loop that produced them is out of
scope — at 100 TB you score with a frozen model, you don't refit it in
the scoring pass).  Every feature is a pure Column expression over the
staged (text, tok) pair, and the SAME table emits the oracle SQL
(`quality_z_sql`) so the Spark cascade and the DuckDB replay cannot
drift — the scrub.py shared-rule-table pattern.

Decision contract: keep iff the raw margin z >= 0 (NOT `score >= 0.5`
post-sigmoid — the margin compares exactly in double arithmetic on both
engines, while the sigmoid crosses libm `exp`).  The reported score is
sigmoid(z) rounded to 6 dp, which absorbs cross-libm noise.

Scale shape: scan-side Column expressions only (regexp + HOFs inside
whole-stage codegen), zero shuffles, zero UDFs — scoring cost is one
linear pass over the text bytes, embarrassingly parallel over any
partitioning of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    EN_STOPWORDS,
    STOPLIST_SQL as _STOPLIST_SQL,
    TOKENS_SQL,
    tokens,
)

# (feature name, weight) — ordered; z is accumulated IN THIS ORDER on both
# engines so the double additions associate identically.
QUALITY_BIAS = -6.0
QUALITY_WEIGHTS: list[tuple[str, float]] = [
    ("f_log_tokens", 0.8),   # ln(1+ntok): longer docs carry more signal
    ("f_stopword", 8.0),     # function-word ratio: natural prose marker
    ("f_avg_token_len", 0.35),
    ("f_uniq", 2.0),         # distinct/total tokens: anti-repetition
    ("f_punct", -4.0),       # punctuation walls / markup debris
    ("f_digit", -6.0),       # digit dumps, serial-number tables
]


def _feature_cols(text: Column, tok: Column) -> dict[str, Column]:
    """The feature table, Spark face.  ``tok`` must be the staged
    non-empty lowercase token array (HOF subexpressions are excluded from
    Catalyst CSE — inlining the tokenizer re-runs it per feature)."""
    ntok = F.size(tok).cast("double")
    nchars = F.length(text).cast("double")
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, "[.,!?;:]", "")
    )
    n_digit = F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    return {
        "f_log_tokens": F.log(F.lit(1.0) + ntok),
        "f_stopword": (
            F.size(F.filter(tok, lambda x: F.array_contains(stop_arr, x)))
            .cast("double")
            / ntok
        ),
        "f_avg_token_len": (
            F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double")
            / ntok
        ),
        "f_uniq": F.size(F.array_distinct(tok)).cast("double") / ntok,
        "f_punct": n_punct.cast("double") / nchars,
        "f_digit": n_digit.cast("double") / nchars,
    }


def _feature_sql() -> dict[str, str]:
    """The SAME feature table as DuckDB SQL over the ``documents``
    schema (column ``text``; tokens via the shared TOKENS_SQL macro)."""
    tok = TOKENS_SQL
    return {
        "f_log_tokens": f"ln(1.0 + len({tok}))",
        "f_stopword": (
            f"CAST(len(list_filter({tok}, x -> list_contains("
            f"{_STOPLIST_SQL}, x))) AS DOUBLE) / len({tok})"
        ),
        "f_avg_token_len": (
            f"CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({tok})"
        ),
        "f_uniq": f"CAST(len(list_distinct({tok})) AS DOUBLE) / len({tok})",
        "f_punct": (
            "CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', "
            "'', 'g')) AS DOUBLE) / length(text)"
        ),
        "f_digit": (
            "CAST(length(text) - length(regexp_replace(text, '[0-9]', "
            "'', 'g')) AS DOUBLE) / length(text)"
        ),
    }


def classify_quality(
    docs: DataFrame,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Score every document with the frozen linear quality model.

    Returns (id, z margin rounded 6 dp, score = round(sigmoid(z), 6),
    keep) — one row per doc with at least one token.  ``keep`` is the
    sign of the UNROUNDED margin (see module contract).  z is rounded in
    the output because f_log_tokens crosses libm ``log`` (Java Math.log
    vs DuckDB's C log can differ in the last ulp); the keep decision
    tolerates that only because corpus margins sit far from 0 — the
    oracle-parity test is the guard.

    ``extra_cols`` carries attribute columns (source, lang, ...) through
    the scan so downstream per-group gates don't pay a doc-id self-join
    to re-attach what the same scan already read (review r09: the
    percentile gate's first cut joined documents back onto its own
    scores).  Names that collide with the scan's working columns or the
    output schema raise (advice r09 — the sibling gates already guard
    their reserved names)."""
    extras = list(extra_cols or [])
    reserved = {"doc_id", "text", "tok", "z", "score", "keep"}
    clash = sorted(set(extras) & reserved)
    if clash:
        raise ValueError(f"extra_cols collide with reserved names: {clash}")
    staged = docs.select(
        "doc_id",
        "text",
        tokens(F.lower(F.col("text"))).alias("tok"),
        *[F.col(c) for c in extras],
    ).where(F.size("tok") > 0)
    feats = _feature_cols(F.col("text"), F.col("tok"))
    z: Column = F.lit(QUALITY_BIAS)
    for name, w in QUALITY_WEIGHTS:
        z = z + F.lit(w) * feats[name]
    return staged.select(
        "doc_id",
        F.round(z, 6).alias("z"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        (z >= 0).alias("keep"),
        *extras,
    )


def quality_z_sql() -> str:
    """The z-margin expression in DuckDB SQL, weight terms accumulated in
    QUALITY_WEIGHTS order (FP-associativity parity with the Column
    face)."""
    sql = _feature_sql()
    terms = [str(QUALITY_BIAS)]
    for name, w in QUALITY_WEIGHTS:
        terms.append(f"{w} * ({sql[name]})")
    return "(" + "\n     + ".join(terms) + ")"


def percentile_cut_per_group(
    scored: DataFrame,
    group_cols: list[str],
    score_col: str,
    keep_frac: float,
    id_col: str,
) -> DataFrame:
    """Per-group percentile gate (the CCNet move): keep the top
    ``keep_frac`` of each group by ``score_col`` — per-source/per-language
    thresholds instead of one global cut, so a high-quality small source
    is not drowned by a low-quality large one.

    Exact and deterministic: rank = row_number ordered by (score DESC,
    id) — ties resolve identically on every engine — and a row is kept
    when rank <= ceil(keep_frac * group_size).  The product is quantized
    to 9 dp BEFORE the ceiling: double arithmetic can land an exactly-
    integral product a hair above the integer (0.07 * 100 =
    7.000000000000001 -> ceil 8, one extra row per group — advice r08);
    after round(x, 9) an exact fraction boundary keeps exactly
    keep_frac * n rows.  Both windows (rank and group count) share ONE
    group-keyed exchange.  At 100 TB the same
    decision swaps to approx_percentile thresholds broadcast-joined back
    (no per-group sort), the documented q_rfm_segmentation trade; this
    exact face is the oracle-checkable spelling.

    Returns the input columns + ``keep`` BOOLEAN (filter-ready) +
    ``group_rank``/``group_n`` BIGINT for observability.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    from pyspark.sql import Window

    for reserved in ("group_rank", "group_n", "keep"):
        if reserved in scored.columns:
            raise ValueError(f"'{reserved}' is reserved by percentile_cut_per_group")
    w = Window.partitionBy(*group_cols)
    rank = F.row_number().over(
        w.orderBy(F.col(score_col).desc(), F.col(id_col))
    )
    n = F.count(F.lit(1)).over(w)
    return scored.select(
        "*",
        rank.cast("bigint").alias("group_rank"),
        n.cast("bigint").alias("group_n"),
    ).withColumn(
        "keep",
        F.col("group_rank")
        <= F.ceil(F.round(F.lit(keep_frac) * F.col("group_n"), 9)).cast(
            "bigint"
        ),
    )


def _nullsafe_broadcast_back(
    scored: DataFrame, per_group: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Join a groupBy-derived per-group table back onto its source rows
    with NULL-SAFE key equality.  groupBy buckets NULL keys into a real
    group, but an on-names equi-join never matches them — with an inner
    join the NULL-group rows (e.g. documents with NULL lang) silently
    VANISH from the output even though a threshold was computed for
    exactly those rows (found by the r14 null-unsafe-join audit; the
    suppress_below_k bug class).  eqNullSafe keys stay hash-joinable,
    so the broadcast hash join is preserved."""
    renamed = per_group.select(
        *[F.col(c).alias(f"_g{i}") for i, c in enumerate(group_cols)],
        *[c for c in per_group.columns if c not in group_cols],
    )
    cond = None
    for i, c in enumerate(group_cols):
        eq = scored[c].eqNullSafe(F.col(f"_g{i}"))
        cond = eq if cond is None else cond & eq
    return scored.join(F.broadcast(renamed), cond).drop(
        *[f"_g{i}" for i in range(len(group_cols))]
    )


def percentile_gate_approx(
    scored: DataFrame,
    group_cols: list[str],
    score_col: str,
    keep_frac: float,
    accuracy: int = 10000,
) -> DataFrame:
    """The 100 TB spelling of :func:`percentile_cut_per_group` — the swap
    its docstring documents: instead of ranking every row inside a
    group-keyed window (a per-group SORT of the full corpus), compute each
    group's (1 - keep_frac) quantile with ``approx_percentile`` (one hash
    aggregate, map-side GK sketches, no sort) and broadcast the tiny
    per-group threshold table back onto the scan.

    keep = score >= threshold.  Near the cut this admits/drops rows within
    the sketch's rank error (<= group_n / accuracy rows per group, the GK
    bound) — the accepted trade at corpus scale, where the decision is a
    budget, not an exact rank.  Unlike the exact face there is no
    per-group tie handling: equal scores on the threshold all keep.
    NULL scores quarantine to keep = FALSE (advice r09: approx_percentile
    ignores NULLs, so a NULL-scored row is invisible to the budget — it
    must not ride through as a three-valued keep in a BOOLEAN gate; the
    exact face never sees NULLs because its rank is total).

    Returns the input columns + ``threshold`` DOUBLE + ``keep`` BOOLEAN.

    Scale shape: ONE aggregate exchange over sketch partials (bytes per
    (group, partition), not rows) + a broadcast join — the corpus itself
    never shuffles and never sorts.  Staged r09 as tested infra
    (tests/test_percentile_cut.py gates it against the exact face); an
    r10 registry face would need a driver-window slot.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    for reserved in ("threshold", "keep"):
        if reserved in scored.columns:
            raise ValueError(
                f"'{reserved}' is reserved by percentile_gate_approx"
            )
    thresholds = scored.groupBy(*group_cols).agg(
        F.percentile_approx(
            F.col(score_col), F.lit(1.0 - keep_frac), F.lit(accuracy)
        ).alias("threshold")
    )
    return _nullsafe_broadcast_back(
        scored, thresholds, group_cols
    ).withColumn(
        "keep",
        F.coalesce(F.col(score_col) >= F.col("threshold"), F.lit(False)),
    )


def approx_group_buckets(
    scored: DataFrame,
    group_cols: list[str],
    score_col: str,
    n_buckets: int = 3,
    accuracy: int = 100_000,
) -> DataFrame:
    """The 100 TB spelling of per-group ``ntile(n)`` bucketing — the swap
    q_ppl_buckets' docstring documents (CCNet terciles) and
    q_rfm_segmentation/q_epoch_plan reference: instead of globally sorting
    each group under a rank window, compute the group's (1/n .. (n-1)/n)
    quantile THRESHOLDS with one ``approx_percentile`` aggregate (array of
    probabilities — one sketch pass) and assign
    ``bucket = 1 + #{thresholds strictly below the score}`` map-side after
    a broadcast join.

    Value-based, not rank-based: rows tying on the score land in the SAME
    bucket (ntile splits ties to keep sizes equal) and bucket sizes are
    only approximately n-ths.  On distinct scores in the sketch's
    rank-exact regime (group_n < accuracy) the assignment IS ntile's —
    the property tests/test_approx_buckets.py proves — because the GK
    sketch returns exactly the sorted element at rank ceil(p*n) there
    (see percentile_gate_approx for the compression argument).

    NULL scores get a NULL bucket (approx_percentile never saw them; the
    caller quarantines — mirroring percentile_gate_approx's keep=FALSE
    rule would invent a bucket id).

    Returns the input columns + ``bucket`` BIGINT (1-based).

    Scale shape: ONE aggregate exchange of sketch partials + a broadcast
    join + a map-side array fold over n-1 thresholds — the corpus never
    sorts; the exact face's ntile window sorts every group end-to-end.
    Staged r10 as tested infra (tests/test_approx_buckets.py carries the
    DuckDB oracle replay); an r11 registry face needs a driver-window
    slot.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    for reserved in ("bucket", "_ths"):
        if reserved in scored.columns:
            raise ValueError(f"'{reserved}' is reserved by approx_group_buckets")
    probs = F.array(
        *[F.lit(i / n_buckets) for i in range(1, n_buckets)]
    )
    thresholds = scored.groupBy(*group_cols).agg(
        F.percentile_approx(
            F.col(score_col), probs, F.lit(accuracy)
        ).alias("_ths")
    )
    bucket = F.aggregate(
        F.col("_ths"),
        F.lit(1).cast("bigint"),
        lambda acc, t: acc
        + F.when(F.col(score_col) > t, F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        _nullsafe_broadcast_back(scored, thresholds, group_cols)
        .withColumn(
            "bucket",
            F.when(F.col(score_col).isNotNull(), bucket),
        )
        .drop("_ths")
    )
