"""Document chunking + shard assignment — the two packing steps between a
curated corpus and training shards.

Chunking: overlapping sliding windows over the token sequence (max_len /
stride), the standard long-document treatment before tokenizer-budgeted
training.  One row per chunk, UDTF-shaped, but expressed entirely in Column
HOFs: sequence() generates the window starts, posexplode fans out, slice()
takes each window — no Python in the path, and the token array (from
functions/text.py's ``tokens``, the ONE tokenizer definition shared with
every text oracle) is computed in a projection BELOW the generator so it
runs once per document (the HOF-inlining trap documented in
functions/text.py cannot re-trigger across a Generate boundary).

Sharding: deterministic md5-prefix assignment (same engine-portable idiom as
operators/sampling.py) — identical shard sets on every run, partitioning,
and engine, so the assignment itself is oracle-checkable.  At 100 TB this is
a pure map-side computation; the only shuffle is the tiny per-shard stats
rollup (or the final partitionBy(shard) write, which is the point).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def chunk_tokens(
    docs: DataFrame,
    max_len: int = 32,
    stride: int = 16,
) -> DataFrame:
    """One row per sliding token window: (id, chunk_idx, n_tokens,
    first_token, last_token).  Windows start at 0, stride, 2*stride, ...
    while the start is inside the document; the final window may be shorter
    than max_len.  Empty documents produce no chunks."""
    if stride <= 0 or max_len <= 0:
        raise ValueError("max_len and stride must be positive")
    base = docs.select(
        F.col("doc_id"), tokens(F.lower(F.col("text"))).alias("toks")
    ).where(F.size("toks") > 0)
    ex = base.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.expr(f"sequence(0, size(toks) - 1, {stride})")
        ).alias("chunk_idx", "start"),
    )
    chunk = F.expr(f"slice(toks, start + 1, {max_len})")
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.element_at(chunk, 1).alias("first_token"),
        F.element_at(chunk, -1).alias("last_token"),
    )


# shard_of hashes this many leading md5 hex chars (32 bits).  One BYTE
# (the r03-r05 formula) made n_shards > 256 permanently empty and any n not
# dividing 256 visibly skewed (n=100: 3/256 vs 2/256 shares — 50% imbalance;
# review r06); 32 bits bounds the skew at n/2^32.
_SHARD_HEX_CHARS = 8
_MAX_SHARDS = 1 << 20  # keeps worst-case modulo skew below 0.03%


def shard_of(key: Column, n_shards: int = 16) -> Column:
    """Deterministic shard id in [0, n_shards): first 8 md5 hex chars mod n.

    Engine-portable (md5 + hex arithmetic exists verbatim in ANSI-ish SQL —
    :func:`shard_sql` emits the identical formula as oracle text), RNG-free,
    stable under repartitioning and task retries — the properties a
    resumable 100 TB shard-writer needs."""
    if not 1 <= n_shards <= _MAX_SHARDS:
        raise ValueError(f"n_shards must be in [1, {_MAX_SHARDS}], got {n_shards}")
    hv = F.conv(F.substring(F.md5(key.cast("string")), 1, _SHARD_HEX_CHARS), 16, 10)
    return (hv.cast("bigint") % n_shards).alias("shard")


def md5_prefix_sql(key_sql: str) -> str:
    """The 32-bit md5 digest prefix as engine-portable SQL text (DuckDB has
    no ``conv``, so the hex prefix is expanded Horner-style over the ANSI
    ``position(ch IN alphabet)`` both engines share) — the shared numeric
    core of :func:`shard_sql` and sampling's ``weighted_key_sql``, runnable
    verbatim in Spark too, so the Python and SQL spellings cannot drift
    apart (tests/test_chunking.py::test_shard_sql_matches_shard_of)."""
    # CAST to BIGINT per digit: the 16^7 Horner weights overflow INT32,
    # which Spark's ANSI mode turns into a runtime ArithmeticException
    # (DuckDB silently promotes — exactly the drift this helper prevents)
    digits = " + ".join(
        f"CAST(position(substr(md5({key_sql}), {i + 1}, 1) IN"
        f" '0123456789abcdef') - 1 AS BIGINT)"
        f" * {16 ** (_SHARD_HEX_CHARS - 1 - i)}"
        for i in range(_SHARD_HEX_CHARS)
    )
    return f"({digits})"


def shard_sql(key_sql: str, n_shards: int) -> str:
    """The EXACT shard_of formula as engine-portable SQL text — used by
    every oracle that replays shard assignment (see
    :func:`md5_prefix_sql` for the hex-expansion idiom and drift gate)."""
    return f"({md5_prefix_sql(key_sql)} % {n_shards})"
