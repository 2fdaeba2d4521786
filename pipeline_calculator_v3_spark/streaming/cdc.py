"""Streaming CDC merge: continuous upsert of a change stream into a
materialized table — the ingestion pattern between a CDC feed (Debezium,
binlog tail, change files) and an analytics-readable table.

Spark shape: ``foreachBatch`` + PARTITION-PRUNED copy-on-write.
Structured Streaming has no MERGE sink; the portable (no Delta/Iceberg in
this container) equivalent is what those formats do under copy-on-write —
but pruned the way they prune: each micro-batch rewrites ONLY the
partition directories the batch touches, through the latest-wins merge
(operators/cdc.upsert_latest — union + one window rank on the key), and
commits the swap with a redo-log intent so a crash at any point rolls
forward or back to a complete table.  A 10-row batch against a 100 TB
table rewrites the handful of partitions holding those 10 keys, never the
table.

Touched-partition discovery must handle a MUTABLE partition column (an
update that changes a row's partition value strands the stale row in its
OLD partition if pruning only looks at the batch's own values), so
touched = the batch's partition values UNION the partitions currently
holding any batch key.  The latter needs a key-locating scan of the live
table — a broadcast LEFT SEMI join reading only the key + (directory-
derived, free) partition columns, the portable stand-in for a record-key
index (Hudi global index / Delta's merge predicate).  Pipelines whose
partition values are immutable per key (append/update-in-place feeds,
e.g. date-partitioned facts keyed by id+date) can pass
``partitions_immutable=True`` to skip that scan entirely.

Commit protocol (crash-safe, idempotent roll-forward):
1. write the merged touched partitions to a ``.__merge__`` sibling;
2. compute the next manifest = untouched entries carried VERBATIM from
   the live manifest + touched entries recomputed from the sibling;
3. write a ``_COMMIT`` intent into the sibling (remove-paths + the full
   next manifest) — this rename is the point of no return;
4. apply: delete live dirs of touched partitions that vanished, move each
   sibling partition dir over its live counterpart, install the manifest
   via ``os.replace``, remove the sibling.
A sibling WITH ``_COMMIT`` found at entry is rolled FORWARD (every step
is idempotent: removes are rmtree-ignore-missing, moves only run for
dirs still in the sibling, the manifest replace is absolute); a sibling
WITHOUT it is an incomplete write and is rolled BACK.  Batch replay after
a roll-forward is idempotent because upsert_latest is idempotent over
redelivered rows (a row cannot out-version itself).

State contract: nothing is held in the streaming state store at all —
the table IS the state, which is what makes the result restartable (a
resumed query re-merges only unprocessed files).

Determinism: batch-vs-stream equivalence (the sequential fold of
upsert_latest equals one merge of the concatenated updates) holds when
every (key, version, tiebreak) is unique across the update stream —
the same uniqueness upsert_latest already requires WITHIN one call.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dataset as ds
from ..functions.checksum import DIGEST_VERSION
from ..operators.cdc import upsert_latest

_COMMIT = "_COMMIT"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _merge_dir(table_dir: str) -> str:
    return table_dir.rstrip("/") + ".__merge__"


def _leaf_partition_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of the hive leaf partition dirs exactly ``depth``
    levels below ``root`` (every segment a ``col=value`` dir)."""
    out: list[str] = []

    def rec(d: str, rel: str, lvl: int) -> None:
        if lvl == depth:
            out.append(rel)
            return
        for n in sorted(os.listdir(d)):
            p = os.path.join(d, n)
            if os.path.isdir(p) and "=" in n:
                rec(p, os.path.join(rel, n) if rel else n, lvl + 1)

    rec(root, "", 0)
    return out


def _decode_rel(rel: str) -> tuple:
    """Partition VALUES (strings, None for the hive null sentinel) from a
    hive rel-path — the inverse of Spark's %xx dir-name escaping, so
    matching is done on values, never on re-encoded names."""
    vals = []
    for seg in rel.split(os.sep):
        v = unquote(seg.split("=", 1)[1])
        vals.append(None if v == _HIVE_NULL else v)
    return tuple(vals)


def _apply_merge_commit(table_dir: str) -> None:
    """Roll a written ``_COMMIT`` intent forward.  Idempotent: safe to
    re-run from any crash point until the sibling dir is gone."""
    tmp = _merge_dir(table_dir)
    with open(os.path.join(tmp, _COMMIT)) as f:
        commit = json.load(f)
    depth = len(commit["partition_by"])
    # touched partitions that vanished in the merge (all rows moved away);
    # disjoint from the sibling's dirs by construction, so re-running this
    # after a partial apply can never delete freshly installed data
    for rel in commit["remove_paths"]:
        shutil.rmtree(os.path.join(table_dir, rel), ignore_errors=True)
    for rel in _leaf_partition_dirs(tmp, depth):
        dst = os.path.join(table_dir, rel)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        parent = os.path.dirname(dst)
        if parent:
            os.makedirs(parent, exist_ok=True)
        os.rename(os.path.join(tmp, rel), dst)
    nxt = os.path.join(table_dir, ds._MANIFEST + ".__next__")
    with open(nxt, "w") as f:
        json.dump(commit["manifest"], f, indent=1, sort_keys=True)
    os.replace(nxt, os.path.join(table_dir, ds._MANIFEST))
    shutil.rmtree(tmp)


def _recover_interrupted_merge(table_dir: str) -> None:
    """Heal a crash at any point of a previous merge: a sibling carrying
    ``_COMMIT`` is a complete intent — roll it forward; one without is an
    incomplete write — roll it back (the live table never changed)."""
    tmp = _merge_dir(table_dir)
    if not os.path.isdir(tmp):
        return
    if os.path.exists(os.path.join(tmp, _COMMIT)):
        _apply_merge_commit(table_dir)
    else:
        shutil.rmtree(tmp)


def _partition_predicate(partition_by: list[str], touched: set) -> F.Column:
    """OR-of-ANDs literal predicate over the (string-typed, inference-off)
    partition columns — bounded by the batch's touched set, and shaped so
    Catalyst turns it into partition pruning at scan planning."""
    def one(vals: tuple) -> F.Column:
        terms = [
            F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            for c, v in zip(partition_by, vals)
        ]
        return reduce(lambda a, b: a & b, terms)

    return reduce(lambda a, b: a | b, [one(v) for v in sorted(
        touched, key=lambda t: tuple("" if x is None else x for x in t)
    )])


def merge_stream_into_table(
    spark: SparkSession,
    updates_dir: str,
    updates_schema: str,
    table_dir: str,
    key: str,
    version: str,
    tiebreak: str,
    partition_by: list[str],
    key_cols: list[str],
    partitions_immutable: bool = False,
) -> None:
    """Fold every update file under ``updates_dir`` into the dataset at
    ``table_dir`` (created beforehand via ``dataset.write_dataset``), one
    micro-batch at a time, and block until the stream drains.

    Each batch: locate touched partitions (batch values + key-locating
    semi-join unless ``partitions_immutable``) -> read ONLY those
    partitions -> upsert_latest -> write the merged slice to a
    ``.__merge__`` sibling -> write the ``_COMMIT`` intent (next manifest
    with untouched entries carried verbatim) -> apply.  A crash in any
    window is healed at the NEXT ENTRY of this function — before the
    stream starts, so a committed-but-unapplied merge never stays torn
    waiting for a non-empty batch (review r11) — and again per batch
    (idempotent, covers a crash inside a long-running stream).

    ``partition_by``/``key_cols`` must agree with the live manifest; a
    disagreement would checksum touched partitions under a different
    formula than the carried-verbatim untouched entries (or nest dirs
    differently), so it raises instead of silently corrupting (review
    r11).  Empty-string or literal-sentinel values in STRING partition
    columns canonicalize to NULL at merge entry: Spark's hive layout
    writes both into the ``__HIVE_DEFAULT_PARTITION__`` dir, so they
    cannot round-trip as distinct values (review r11)."""
    ds._recover_interrupted_swap(table_dir)
    _recover_interrupted_merge(table_dir)
    with open(os.path.join(table_dir, ds._MANIFEST)) as f:
        _stored0 = json.load(f)
    for field, arg in (("partition_by", partition_by), ("key_cols", key_cols)):
        want = _stored0.get(field)
        if want is not None and list(want) != list(arg):
            raise ValueError(
                f"{field} {list(arg)!r} disagrees with the live manifest's "
                f"{list(want)!r} — merging would mix checksum formulas / "
                "directory nesting across partitions"
            )
    stream = (
        spark.readStream.schema(updates_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    part_str = [F.col(c).cast("string").alias(c) for c in partition_by]

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ds._recover_interrupted_swap(table_dir)
        _recover_interrupted_merge(table_dir)
        # canonicalize layout-indistinguishable STRING partition values:
        # Spark writes both '' and the literal sentinel into the
        # __HIVE_DEFAULT_PARTITION__ dir, so leaving them distinct here
        # makes the touched set / prune predicate disagree with where the
        # rows physically land — a batch '' row would silently delete the
        # live NULL partition and double-count the manifest (review r11)
        for c, t in batch_df.dtypes:
            if c in partition_by and t == "string":
                batch_df = batch_df.withColumn(
                    c, F.nullif(F.nullif(F.col(c), F.lit("")), F.lit(_HIVE_NULL))
                )
        with open(os.path.join(table_dir, ds._MANIFEST)) as f:
            stored = json.load(f)
        if stored.get("digest_version", 1) != DIGEST_VERSION:
            # untouched entries carry forward verbatim, so they must be in
            # today's digest formula before any pruned merge lands
            stored = ds.restamp_manifest(spark, table_dir)
        tmp = _merge_dir(table_dir)
        current = ds._read_raw(spark, table_dir)

        touched_df = batch_df.select(*part_str).distinct()
        if not partitions_immutable:
            # partitions currently holding any batch key — a mutated
            # partition value must rewrite the row's OLD home too.  Key
            # column + directory-derived partition columns only: the
            # column-pruned stand-in for a record-key index.
            # NULL-SAFE key match: a plain equi-semi-join never matches a
            # NULL key, so a NULL-key update that changes its partition
            # value would strand its stale row in the old partition — the
            # exact corruption this join exists to prevent (review r13,
            # the r12 NULL-key class)
            _bk = batch_df.select(F.col(key).alias("_bk")).distinct()
            moved_from = (
                current.join(
                    F.broadcast(_bk),
                    on=current[key].eqNullSafe(F.col("_bk")),
                    how="left_semi",
                )
                .select(*part_str)
                .distinct()
            )
            touched_df = touched_df.unionByName(moved_from).distinct()
        touched = {tuple(r) for r in touched_df.collect()}

        merged = upsert_latest(
            current.filter(_partition_predicate(partition_by, touched)),
            batch_df,
            key=key,
            version=version,
            tiebreak=tiebreak,
        )
        # no stale-sibling guard needed: _recover_interrupted_merge above
        # rolled any sibling forward or back, nothing since creates one,
        # and mode("overwrite") clobbers a hypothetical leftover anyway
        merged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)

        tmp_entries = ds._manifest_entries(
            ds._read_raw(spark, tmp), partition_by, key_cols
        )

        def vt(e: dict) -> tuple:
            return tuple(e["partition"][c] for c in partition_by)

        entries = [e for e in stored["partitions"] if vt(e) not in touched]
        entries += tmp_entries
        entries.sort(key=lambda e: json.dumps(e["partition"], sort_keys=True))
        manifest = {
            **stored,
            "n_partitions": len(entries),
            "n_rows": sum(e["n_rows"] for e in entries),
            "partitions": entries,
        }
        depth = len(partition_by)
        tmp_vals = {
            _decode_rel(rel) for rel in _leaf_partition_dirs(tmp, depth)
        }
        remove_paths = [
            rel
            for rel in _leaf_partition_dirs(table_dir, depth)
            if _decode_rel(rel) in touched and _decode_rel(rel) not in tmp_vals
        ]
        commit = {
            "partition_by": partition_by,
            "remove_paths": remove_paths,
            "manifest": manifest,
        }
        part = os.path.join(tmp, _COMMIT + ".part")
        with open(part, "w") as f:
            json.dump(commit, f, indent=1, sort_keys=True)
        os.replace(part, os.path.join(tmp, _COMMIT))  # point of no return
        _apply_merge_commit(table_dir)

    from .drain import drain_query

    drain_query(
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", table_dir.rstrip("/") + ".__ckpt__")
        .start()
    )
