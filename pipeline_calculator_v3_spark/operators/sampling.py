"""Deterministic hash-based sampling — the reproducible subsetting primitive
a training-data pipeline needs (seeded holdout splits, cheap profiling,
ablation subsets).

``df.sample()`` draws from a partition-seeded RNG: the selected row set
changes with partitioning, task retries, and engine — useless as a stable
split at 100 TB and impossible to oracle-check.  Hash-threshold selection
(md5 of a key column compared against a rate-scaled hex threshold) fixes all
three: no RNG state, identical row set on every run/partitioning/engine, and
the predicate is a scan-side filter — the unsampled 90% of a 100 TB corpus
is dropped before any shuffle or materialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _rate_hex(rate: float) -> str:
    """``rate`` scaled into the first 8 hex chars of an md5 digest — the
    ONE threshold encoding every sampler in this module shares (review r06:
    it was previously duplicated in hash_sample_predicate, so a threshold
    fix could silently diverge the samplers)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0 - 1e-9:
        # format(16**8) would be the NINE-char '100000000', which compares
        # BELOW any digest starting '1'..'f' — i.e. ~6% selected instead of
        # all.  'g' sorts above every hex digit, selecting everything.
        # The 1e-9 snap also catches float sums meant to be exactly 1.0
        # (0.7 + 0.3 == 0.9999999999999999): without it, ~2^-32 of rows
        # would leak past the last declared bucket (review r06).
        return "g"
    return format(int(rate * 16**8), "08x")


def hash_sample_predicate(key: Column, rate: float) -> Column:
    """Boolean Column selecting ~``rate`` of rows, keyed on ``md5(key)``.

    The threshold is ``rate`` scaled into the first 8 hex chars of the
    digest; lexicographic comparison on the lowercase hex string is
    equivalent to numeric comparison on the 32-bit digest prefix and
    behaves identically in Spark and DuckDB, so sampling queries are
    oracle-checkable value-for-value.  NULL keys yield NULL (not selected).
    """
    # rate 0 -> threshold '00000000' (nothing below), rate 1 -> 'g'
    # (everything below): the shared encoding covers both edges
    return F.md5(key.cast("string")) < F.lit(_rate_hex(rate))


def stratified_sample_predicate(
    key: Column, stratum: Column, rates: dict[str, float], default_rate: float
) -> Column:
    """Per-stratum hash-threshold selection: stratum s keeps ~rates[s] of its
    rows (default_rate otherwise), all from ONE md5 evaluation per row.

    Same determinism/oracle properties as hash_sample_predicate; this is the
    corpus-curation shape (keep 50% of English, 10% of everything else)
    where df.sampleBy's RNG would be unreproducible and unverifiable."""
    thr = None
    for s, r in sorted(rates.items()):
        cond = stratum == s
        thr = F.when(cond, _rate_hex(r)) if thr is None else thr.when(cond, _rate_hex(r))
    thr = thr.otherwise(_rate_hex(default_rate)) if thr is not None else F.lit(_rate_hex(default_rate))
    return F.md5(key.cast("string")) < thr


def weighted_key_sql(key_sql: str, weight_sql: str) -> str:
    """Efraimidis–Spirakis weighted-sampling key as engine-portable SQL
    text: ``ln(u) / w`` where ``u = (md5_prefix + 1) / 2^32`` is a
    deterministic uniform in (0, 1] derived from the row's md5 digest and
    ``w`` is the row's weight (clamped to >= 1 so the division cannot hit
    ANSI DIVIDE_BY_ZERO).  Selecting the k LARGEST keys draws a weighted
    sample without replacement where row i is preferred proportionally to
    ``w_i`` (ES 2006: key ``u^(1/w)``; ``ln`` is monotone, so ranking on
    ``ln(u)/w`` selects the identical row set without the pow).

    One spelling for both engines — the Spark side runs this verbatim via
    ``F.expr`` and the oracle embeds the same text, so formula drift is
    structurally impossible; determinism/portability properties are the
    module header's (no RNG state, stable under repartitioning, retries,
    and engines).  Scale shape: pure scan-side arithmetic; a global top-k
    on the key is TakeOrderedAndProject, never a full sort.
    """
    from .chunking import md5_prefix_sql

    u = f"((CAST({md5_prefix_sql(key_sql)} AS DOUBLE) + 1.0) / 4294967296.0)"
    return f"(LN({u}) / GREATEST(CAST({weight_sql} AS DOUBLE), 1.0))"


def split_assign(key: Column, train: float = 0.8, val: float = 0.1) -> Column:
    """Deterministic train/val/test assignment from the md5 digest prefix:
    u < train -> 'train', u < train+val -> 'val', else 'test'.  Stable under
    repartitioning/retries/engines — the reproducible-holdout contract.

    NULL keys get a NULL assignment (review r06: the otherwise-branch used
    to funnel every NULL-keyed row — e.g. corrupt-record rows whose fields
    are all NULL — into the held-out 'test' set, systematically
    contaminating evaluation with exactly the malformed documents)."""
    h = F.md5(key.cast("string"))
    return F.when(
        key.isNotNull(),
        F.when(h < _rate_hex(train), "train")
        .when(h < _rate_hex(train + val), "val")
        .otherwise("test"),
    )


def sample_k_per_key(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    id_col: str,
) -> DataFrame:
    """Exactly min(k, group size) deterministic uniform rows per key group
    (k examples per source / per language — the bounded-showcase sampler).

    The rank is the md5 digest of the row id: a fixed pseudo-random
    permutation, so the selection is uniform w.r.t. the data yet identical
    across runs, partitionings, and engines (same contract as
    hash_sample_predicate; id_col itself tiebreaks the
    astronomically-unlikely digest collision).  The naive per-group
    ORDER BY rand() is neither reproducible nor oracle-checkable.

    Scale shape: ONE exchange on key_cols; the row_number <= k filter is
    Spark's WindowGroupLimit pattern, so each map task pre-prunes to its
    local top-k BEFORE the shuffle (asserted in
    tests/test_sample_k_per_key.py) — a billion-row group moves
    k * n_map_tasks rows, not a billion.  Replays in ANSI SQL as
    row_number() ordered by md5(CAST(id AS VARCHAR)) — staged for the
    r09 registry face.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if "_rn" in df.columns:
        # withColumn would silently overwrite it and drop() would then
        # destroy the caller's data (review r08; interval_bin_join's
        # reserved-name contract)
        raise ValueError("'_rn' is reserved by sample_k_per_key")
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
