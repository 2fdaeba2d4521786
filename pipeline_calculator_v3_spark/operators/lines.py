"""Cross-document line-level deduplication (the C4/CCNet curation step):
a line that recurs across the corpus — boilerplate, navigation chrome,
license banners — is kept at its FIRST occurrence and removed everywhere
else, without ever comparing documents pairwise.

Distinct from operators/dedup.py (whole-document fingerprints) and the
fixed-width shingle substring face (queries_textml.q_dedup_substring):
the unit here is the natural line boundary, the classic C4 rule
("keep one copy of any repeated span").

Scale shape (never all-pairs, never a self-join):
1. posexplode the corpus into (doc, pos, line) rows — linear;
2. ONE hash aggregate keyed on the line's md5 digest (16 bytes shuffle
   per occurrence, never the text — boilerplate lines run hundreds of
   bytes; 128-bit collisions are negligible at any corpus size) finds
   lines appearing in >= min_docs distinct documents and elects the
   global winner occurrence (lexicographic min (doc_id, pos) struct) —
   map-side partials absorb the heavy hitters, so a line appearing a
   billion times costs its partial rows, not a skewed reduce;
3. the duplicated-line table (usually tiny vs the corpus) joins back to
   the exploded rows on the digest — AQE broadcasts it when it fits;
4. one (doc) aggregate reassembles kept lines in position order.

Determinism: winner election and reassembly are pure min/struct-sort —
both replay in ANSI SQL (staged for the r09 registry face).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_lines(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Remove cross-document duplicate lines, keeping each duplicated
    line's first occurrence (minimum (id, pos)).

    Lines that are empty after trim are exempt (blank separators stay
    verbatim).  Returns one row per
    input document: ``doc_id``, ``text`` (kept lines re-joined with \\n),
    ``n_lines`` BIGINT, ``n_lines_removed`` BIGINT.  Documents whose
    every line is removed keep a row with empty text; a NULL ``text``
    is treated as empty text (the row is never dropped — review r08:
    posexplode of a NULL split yields no rows, which silently lost the
    document).
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would remove every line)")
    # persisted: BOTH the dup aggregate and the join-back read this frame —
    # unpersisted, the corpus scan + split + explode + md5 would execute
    # twice (the same double-execution shape the r08 spatial persist fixed)
    from ..caching import persist_tracked

    lines = persist_tracked(
        docs.select(
            F.col("doc_id"),
            F.posexplode(
                F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
            ).alias("pos", "line"),
        ).withColumn("_lh", F.unhex(F.md5("line")))
    )
    eligible = F.length(F.trim(F.col("line"))) >= 1
    # one aggregate elects both facts per line: distinct-doc spread and
    # the global winner occurrence — keyed on the 16-byte digest so the
    # exchange never carries line text
    dup = (
        lines.filter(eligible)
        .groupBy("_lh")
        .agg(
            F.countDistinct("doc_id").alias("_nd"),
            F.min(F.struct(F.col("doc_id").alias("i"), F.col("pos").alias("p"))).alias(
                "_win"
            ),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("_lh", "_win")
    )
    marked = lines.join(dup, "_lh", "left").select(
        "doc_id",
        "pos",
        "line",
        (
            F.col("_win").isNull()
            | (
                (F.col("_win.i") == F.col("doc_id"))
                & (F.col("_win.p") == F.col("pos"))
            )
        ).alias("_keep"),
    )
    rebuilt = marked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_lines_removed"),
    )
    return rebuilt
