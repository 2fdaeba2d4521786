"""Big-big join strategies: sort-merge (no broadcast) and salted joins for
skewed keys.

At 100 TB a fact-fact join can't broadcast; it shuffles both sides on the
key.  Two failure modes matter: (a) Spark picking a broadcast plan that OOMs
the driver at real scale — pin the strategy with hints; (b) skewed keys
serializing one reducer — pre-split the hot keys with a salt, replicating
the other side per salt value.  AQE's skew-join handles moderate skew at
runtime; explicit salting is the deterministic tool for known-pathological
keys (the salt count is a static choice, visible in the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """Force a sort-merge inner join (both sides shuffle + sort on the key)."""
    return left.hint("merge").join(right.hint("merge"), on, "inner")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
) -> DataFrame:
    """Skew-safe inner equi-join: the (large, skewed) left side gets a uniform
    random-free salt derived from a row-stable hash of its other columns;
    the (smaller) right side is replicated once per salt value.

    Join key becomes (key, salt): a hot key's rows spread over 8
    reducers instead of one.  Deterministic — the salt is a hash, not rand().
    """
    lcols = [c for c in left.columns if c != key]
    salt = (
        F.pmod(F.xxhash64(*[F.col(c) for c in lcols]) if lcols else F.xxhash64(F.col(key)),
               F.lit(8))
        .cast("int")
        .alias("__salt")
    )
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(8)]))
    )
    return l.join(r, [key, "__salt"], "inner").drop("__salt")


def salted_self_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    n_groups: int = 8,
) -> DataFrame:
    """Skew-safe within-block pair generation for self-joins on a blocking
    key (the LSH-band / prefix-block / simhash-block pattern).

    A plain self-join on ``block_col`` sends a hot block's entire quadratic
    workload to ONE reducer (every '"the quick ..." document' lands in the
    same task on a natural-language corpus).  Here every row gets a
    deterministic group g = xxhash64(id) % n_groups, and both sides replicate
    n_groups ways so the physical join key is (block, g_left, g_right): each
    ordered pair of rows meets exactly once, and a block of B rows becomes
    n_groups^2 independent tasks of ~(B/n_groups)^2 pairs instead of one B^2
    task.  Shuffle volume grows n_groups-fold on the (small) blocked
    projections — the price of bounding the largest task.

    Returns all ordered pairs with left columns prefixed ``a_`` and right
    columns prefixed ``b_`` (callers keep one orientation with
    ``a_id < b_id``).  Output is identical to the unsalted self-join — only
    the physical distribution changes — so oracle-gated callers stay exact.
    """
    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).cast("int")
    partner = F.explode(F.array(*[F.lit(i) for i in range(n_groups)]))
    cols = df.columns
    # __block references the INPUT column, not the a_/b_ alias defined in the
    # same select: lateral column alias resolution is a Spark 3.4+ behavior
    # behind spark.sql.lateralColumnAlias.enableImplicitResolution — relying
    # on it would break analysis on sessions with the conf disabled.
    left = (
        df.withColumn("__g", g)
        .withColumn("__pj", partner)
        .select(
            *[F.col(c).alias(f"a_{c}") for c in cols],
            F.col(block_col).alias("__block"),
            F.col("__g").alias("__gi"),
            F.col("__pj").alias("__gj"),
        )
    )
    right = (
        df.withColumn("__g", g)
        .withColumn("__pi", partner)
        .select(
            *[F.col(c).alias(f"b_{c}") for c in cols],
            F.col(block_col).alias("__block"),
            F.col("__pi").alias("__gi"),
            F.col("__g").alias("__gj"),
        )
    )
    return left.join(right, ["__block", "__gi", "__gj"]).drop(
        "__block", "__gi", "__gj"
    )


def cooccurrence_edges(
    df: DataFrame,
    block_col: str,
    item_col: str,
    max_degree: int = 1024,
) -> DataFrame:
    """Undirected co-occurrence edges: (s1, s2) with s1 < s2 whenever two
    items share a block — the graph-construction primitive behind
    co-supply, co-citation, and token co-occurrence networks.

    Each block aggregates its DISTINCT item set once (one shuffle with
    map-side combine — the fact table never self-joins), then the pair
    combinations explode from the sorted set as a HOF projection; a final
    distinct dedups across blocks.  The in-row pair array is O(degree^2),
    so a block past ``max_degree`` raises executor-side (loud, not an
    OOM-ed task) — genuinely hot blocks belong on the salted-pairs path.
    """
    if max_degree < 2:
        raise ValueError("max_degree must be at least 2")
    sets = (
        df.groupBy(F.col(block_col).alias("__b"))
        .agg(F.array_sort(F.collect_set(F.col(item_col))).alias("ss"))
        .where(F.size("ss") >= 2)
        .select(
            F.when(F.size("ss") <= max_degree, F.col("ss"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("cooccurrence_edges: block degree "),
                        F.size("ss").cast("string"),
                        F.lit(f" exceeds the {max_degree} in-row bound"),
                    )
                )
            )
            .alias("ss")
        )
    )
    pair = F.explode(
        F.flatten(
            F.expr(
                "transform(sequence(1, size(ss) - 1), i ->"
                " transform(sequence(0, i - 1), j ->"
                " struct(ss[j] AS s1, ss[i] AS s2)))"
            )
        )
    )
    return (
        sets.select(pair.alias("e"))
        .select(F.col("e.s1").alias("s1"), F.col("e.s2").alias("s2"))
        .distinct()
    )
