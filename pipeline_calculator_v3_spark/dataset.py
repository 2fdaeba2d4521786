"""Partitioned dataset sink with a validation manifest — the last step of
a curation pipeline: write the curated corpus as hive-partitioned parquet
plus a tiny ``_manifest.json`` holding per-partition row counts and
order-independent content checksums, so any later copy / re-shard / engine
migration can be validated by comparing aggregates instead of rows.

The checksum is a commutative digest-residue sum (functions/checksum.py):
row digest = md5 of the canonical JSON of the key-column struct
(NULL-distinguishing and delimiter-safe for arbitrary columns — see
``row_digest_generic``), 48-bit prefix, per-row ``% 1e9+7``, summed.
Invariant to row order, file layout, and partition-internal parallelism —
exactly what survives a distcp-style copy or a Spark re-write with
different parallelism.  (``q_table_checksum`` uses a sibling '|'-join
digest because that form replays in its DuckDB oracle; the residue
arithmetic is shared.)

The manifest is computed from the files ACTUALLY ON DISK (a re-read of
``out_dir`` after the write), never from the input frame's lineage — so
non-deterministic upstream lineage cannot desynchronize the manifest from
the data, an append covers the whole combined dataset, and an expensive
upstream funnel is not re-executed for the checksum pass.

Partition values are canonicalized to strings on both the write and
validate paths (hive directory names are strings; Spark's read-side
partition type inference would otherwise turn '2024' into an int and
break the key match).

Scale shape: the manifest computation is one map-side digest + one hash
aggregate keyed on the partition columns — |partitions| rows ever reach
the driver, never data.  The write itself is a plain distributed
``df.write.partitionBy(...)``.

Limitation: the manifest file itself is written/read with local-filesystem
IO; for an object-store ``out_dir`` use the returned manifest dict and
persist it with your store's client (the validation math is all in
:func:`diff_manifests`, which is storage-agnostic).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.checksum import (
    DIGEST_VERSION,
    digest_residue,
    row_digest_generic,
)

_MANIFEST = "_manifest.json"


def _read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Read a dataset with partition-type inference OFF: manifest keys and
    rewrites must track the LITERAL hive directory names (month=01 stays
    the string '01'; inference would canonicalize it to int 1 and desync
    manifest keys from what is actually on disk)."""
    from .session import scoped_conf

    with scoped_conf(
        spark, "spark.sql.sources.partitionColumnTypeInference.enabled",
        "false",
    ):
        # the conf is consulted at scan PLANNING time, which happens inside
        # this block because read.parquet eagerly resolves the schema
        return spark.read.parquet(path)


def _partition_checksums(
    df: DataFrame, partition_by: list[str], key_cols: list[str]
) -> DataFrame:
    """(partition values..., n_rows, checksum) — one row per partition."""
    residue = digest_residue(
        row_digest_generic([F.col(c) for c in key_cols])
    )
    return df.groupBy(
        *[F.col(c).cast("string").alias(c) for c in partition_by]
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(residue).cast("bigint").alias("checksum"),
    )


def _manifest_entries(
    df: DataFrame, partition_by: list[str], key_cols: list[str]
) -> list[dict]:
    entries = [
        {
            "partition": {c: row[c] for c in partition_by},
            "n_rows": row["n_rows"],
            "checksum": row["checksum"],
        }
        for row in _partition_checksums(df, partition_by, key_cols).collect()
    ]
    entries.sort(key=lambda e: json.dumps(e["partition"], sort_keys=True))
    return entries


def write_dataset(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str],
    key_cols: list[str],
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` as parquet partitioned by ``partition_by`` plus a
    ``_manifest.json`` with per-partition (n_rows, checksum) over
    ``key_cols`` — computed from the files on disk after the write, so the
    manifest always describes the ENTIRE dataset (including prior data
    under ``mode='append'``).  Returns the manifest dict."""
    if not partition_by:
        raise ValueError("partition_by must name at least one column")
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    # restore a dataset stranded mid-compaction BEFORE writing: an append
    # landing in the between-renames window would otherwise create a fresh
    # out_dir holding only the increment, and the next recovery would
    # delete the stranded original as 'superseded' (review r06)
    _recover_interrupted_swap(out_dir)
    df.write.mode(mode).partitionBy(*partition_by).parquet(out_dir)
    spark = df.sparkSession
    entries = _manifest_entries(
        _read_raw(spark, out_dir), partition_by, key_cols
    )
    manifest = {
        "partition_by": partition_by,
        "key_cols": key_cols,
        "digest_version": DIGEST_VERSION,
        "n_partitions": len(entries),
        "n_rows": sum(e["n_rows"] for e in entries),
        "partitions": entries,
    }
    with open(os.path.join(out_dir, _MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def diff_manifests(
    expected: dict, actual_entries: list[dict], counts_only: bool = False
) -> dict:
    """Aggregate-vs-aggregate comparison of a stored manifest against
    freshly computed entries.  Storage-agnostic.  ``counts_only`` compares
    n_rows but not checksums — the degraded mode validate_dataset uses
    when the stored manifest predates the current digest formula (its
    checksums are incomparable, not wrong)."""

    def _sig(e: dict) -> tuple:
        return (e["n_rows"],) if counts_only else (e["n_rows"], e["checksum"])

    act = {
        json.dumps(e["partition"], sort_keys=True): _sig(e)
        for e in actual_entries
    }
    exp = {
        json.dumps(e["partition"], sort_keys=True): _sig(e)
        for e in expected["partitions"]
    }
    def _side(sig: tuple) -> dict:
        d = {"n_rows": sig[0]}
        if not counts_only:
            d["checksum"] = sig[1]
        return d

    mismatches = [
        {
            "partition": json.loads(k),
            "expected": _side(exp[k]),
            "actual": _side(act[k]),
        }
        for k in sorted(exp.keys() & act.keys())
        if exp[k] != act[k]
    ]
    missing = sorted(exp.keys() - act.keys())
    unexpected = sorted(act.keys() - exp.keys())
    return {
        "ok": not mismatches and not missing and not unexpected,
        "mismatches": mismatches,
        "missing": [json.loads(k) for k in missing],
        "unexpected": [json.loads(k) for k in unexpected],
    }


def _recover_interrupted_swap(out_dir: str) -> None:
    """Heal a dataset left in a partial state by an optimize_dataset crash.
    Two distinct crash windows exist around the swap's rename pair:

    - BETWEEN the renames: an orphaned ``.__old__`` with no live
      ``out_dir`` is the original data — restore it;
    - AFTER the second rename but before the old tree is deleted: both
      ``out_dir`` and ``.__old__`` exist — the swap completed, the old copy
      is superseded — delete it, or a validate-only deployment leaks a full
      dataset copy on disk forever.

    The 'both exist => superseded' inference is sound ONLY because every
    dataset entry point (write_dataset included) calls this recovery FIRST:
    a write landing during the between-renames window would otherwise
    create a fresh ``out_dir`` next to the stranded original and turn this
    delete into data loss (review r06).  The delete is best-effort
    (ignore_errors): a concurrently finishing optimize_dataset removes the
    same tree, and losing that race must not fail this entry point."""
    import shutil

    old = out_dir.rstrip("/") + ".__old__"
    if os.path.exists(old):
        if not os.path.exists(out_dir):
            os.rename(old, out_dir)
        else:
            shutil.rmtree(old, ignore_errors=True)


def validate_dataset(spark: SparkSession, out_dir: str) -> dict:
    """Re-read a dataset written by :func:`write_dataset`, recompute the
    per-partition checksums from the parquet actually on disk, and diff
    against the stored manifest.

    Returns ``{"ok": bool, "mismatches": [...], "missing": [...],
    "unexpected": [...]}`` where mismatches carry both sides' counts and
    checksums.  |partitions| rows of comparison, no data movement beyond
    the recompute scan.  Self-heals a compaction interrupted between its
    two renames before reading.

    Migration (advice r06): a manifest stamped with an older
    ``digest_version`` (or none — the pre-versioning era) has checksums
    from a DIFFERENT byte stream than today's formula; comparing them
    would flag every NULL-bearing partition as spurious drift.  Such
    manifests validate in a degraded counts-only mode, and the report
    carries ``stale_digest_version`` naming both versions so deployments
    can run :func:`restamp_manifest` once to restore full checksum
    validation."""
    _recover_interrupted_swap(out_dir)
    with open(os.path.join(out_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    stored_ver = manifest.get("digest_version", 1)
    stale = stored_ver != DIGEST_VERSION
    actual = _manifest_entries(
        _read_raw(spark, out_dir),
        manifest["partition_by"],
        manifest["key_cols"],
    )
    report = diff_manifests(manifest, actual, counts_only=stale)
    if stale:
        report["stale_digest_version"] = {
            "manifest": stored_ver,
            "current": DIGEST_VERSION,
            "note": "checksums skipped (incomparable formulas); run "
            "restamp_manifest to restore full validation",
        }
    return report


def restamp_manifest(spark: SparkSession, out_dir: str) -> dict:
    """One-time migration for datasets whose manifest predates the current
    digest formula (advice r06): recompute every partition entry from the
    parquet actually on disk with today's formula and rewrite
    ``_manifest.json`` stamped ``digest_version = DIGEST_VERSION``.

    Counts are verified against the stored manifest FIRST (counts are
    formula-independent) so a dataset that drifted while carrying a stale
    manifest cannot be silently blessed — raises with the diff instead.
    Returns the new manifest dict."""
    _recover_interrupted_swap(out_dir)
    with open(os.path.join(out_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    entries = _manifest_entries(
        _read_raw(spark, out_dir),
        manifest["partition_by"],
        manifest["key_cols"],
    )
    counts = diff_manifests(manifest, entries, counts_only=True)
    if not counts["ok"]:
        raise RuntimeError(
            f"restamp_manifest: row counts diverge from the stored "
            f"manifest — real drift, not a formula change; refusing to "
            f"re-stamp: {counts}"
        )
    manifest = {
        **manifest,
        "digest_version": DIGEST_VERSION,
        "n_partitions": len(entries),
        "n_rows": sum(e["n_rows"] for e in entries),
        "partitions": entries,
    }
    # atomic install (write sibling + os.replace, the merge-commit rule):
    # a plain truncating open("w") here left a crash window with a
    # corrupted — unrecoverable — manifest, breaking the crash-safety
    # contract of the streaming CDC path that calls this per batch
    # (review r11)
    nxt = os.path.join(out_dir, _MANIFEST + ".__next__")
    with open(nxt, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(nxt, os.path.join(out_dir, _MANIFEST))
    return manifest


def _list_parquet(root: str) -> list[tuple[str, int]]:
    """Sorted (relpath, bytes) for every parquet data file under root."""
    root = os.path.abspath(root)
    return sorted(
        (os.path.relpath(os.path.join(dirpath, name), root),
         os.path.getsize(os.path.join(dirpath, name)))
        for dirpath, _, names in os.walk(root)
        for name in names
        if name.endswith(".parquet")
    )


def optimize_dataset(
    spark: SparkSession,
    out_dir: str,
    target_bytes: int,
    sort_by: list[str] | None = None,
) -> dict:
    """SELECTIVE small-file compaction (the Delta ``OPTIMIZE`` /
    Iceberg ``rewrite_data_files`` shape): plan with
    :func:`operators.compaction.compaction_plan` over the PHYSICAL file
    listing, rewrite ONLY the small-file pack groups (one output file
    per group), and carry every already-target-sized file into the new
    tree untouched via hardlink — a steady-state table pays for its
    small-file tail, never a full rewrite.

    ``sort_by`` (column names or SQL expressions, e.g. a
    ``operators/zorder.py`` Morton-key expression) sorts rows WITHIN each
    rewritten file — the z-order write path: compaction is the one time
    the rows move anyway, so clustering them then is free shuffle-wise.
    Untouched files keep their existing order.

    Safety protocol (ordered so no failure strands the dataset): build
    the full sibling tree (rewritten groups + hardlinked big files), copy
    the manifest in, VALIDATE the sibling against it while the original
    is still live (order-independent checksums — a rewrite/sort cannot
    change them unless content changed; validation strength is the
    manifest's ``key_cols`` coverage), then swap with two ``os.rename``
    calls.  POSIX cannot exchange two directories in one atomic step, so
    for a sub-millisecond window ``out_dir`` is absent (retry-safe: the
    states on either side are complete datasets).  A crashed previous
    run is recovered at entry (:func:`_recover_interrupted_swap`) and a
    pre-versioning manifest is re-stamped before validation.  A plan
    with no multi-file group returns early without touching the
    dataset.

    Scale shape: planning is pure Column arithmetic over the file
    listing (metadata, hive-partition-local windows); the rewrite reads
    exactly the small files, shuffles them once keyed by
    (partition dirs, group), and writes one file per group via a
    transient ``__grp`` hive level so group boundaries survive task
    hashing exactly.  Hardlinks make the untouched-file carry O(1) per
    file.

    Returns ``{"files_before", "files_after", "rewritten_files",
    "groups_rewritten", "validation"}``."""
    import shutil

    from .operators.compaction import compaction_plan
    from .session import scoped_conf

    tmp = out_dir.rstrip("/") + ".__optimize__"
    tmp_rw = tmp + ".__rw__"
    old = out_dir.rstrip("/") + ".__old__"
    _recover_interrupted_swap(out_dir)
    for stale in (tmp, tmp_rw, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    with open(os.path.join(out_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    if manifest.get("digest_version", 1) != DIGEST_VERSION:
        manifest = restamp_manifest(spark, out_dir)
    partition_by = manifest["partition_by"]

    root = os.path.abspath(out_dir)
    listing = _list_parquet(root)
    files_before = len(listing)
    files = spark.createDataFrame(
        [
            (i, rel, os.path.dirname(rel), size)
            for i, (rel, size) in enumerate(listing)
        ],
        "file_id bigint, rel string, part_dir string, bytes bigint",
    )
    plan = compaction_plan(
        files, target_bytes, partition_cols=["part_dir"]
    ).join(files.select("file_id", "rel"), "file_id")
    # only multi-file pack groups are worth a rewrite (a solo small file
    # rewritten alone is IO for nothing); everything else carries over
    grp_sizes = plan.where("compact").groupBy("part_dir", "group_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    rewrite = (
        plan.where("compact")
        .join(grp_sizes.where("_n >= 2"), ["part_dir", "group_id"])
        .select("rel", "part_dir", "group_id")
    )
    rewrite_rows = rewrite.collect()
    if not rewrite_rows:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "rewritten_files": 0,
            "groups_rewritten": 0,
            "validation": {"ok": True, "skipped": "no multi-file group"},
        }
    rewritten_files = len(rewrite_rows)
    groups = {(r.part_dir, r.group_id) for r in rewrite_rows}
    rewrite_set = {r.rel for r in rewrite_rows}

    # a fresh token per run keeps rewritten-file names disjoint from any
    # optimized-* file a PREVIOUS run left behind (such a file can appear
    # in the carry-over set of a later pass once appends re-fragment its
    # partition)
    run_token = uuid.uuid4().hex[:8]

    # --- 1. rewrite the pack groups into tmp, one file per group -------
    # group id travels as a transient hive level (__grp) so group
    # boundaries survive task hashing exactly: two groups colliding into
    # one task still write separate files because they differ in __grp.
    small_paths = [os.path.join(root, rel) for rel in sorted(rewrite_set)]
    with scoped_conf(
        spark, "spark.sql.sources.partitionColumnTypeInference.enabled",
        "false",
    ):
        small_df = spark.read.option("basePath", root).parquet(*small_paths)
    for reserved in ("_path", "__grp"):
        if reserved in small_df.columns:
            raise ValueError(
                f"column name {reserved!r} is reserved by optimize_dataset"
            )
    # Join keys are the EXACT URI strings input_file_name emits, taken
    # from a footer-cheap probe over the small files and decoded
    # driver-side with urllib's unquote — url_decode in the plan would
    # corrupt a literal '+' in a partition value (URLDecoder turns it
    # into a space; '+' is never percent-encoded in the file URI), and
    # hand-encoding the local path can drift from Hadoop's Path rules.
    reported = [
        r.u
        for r in small_df.select(
            F.input_file_name().alias("u")
        ).distinct().collect()
    ]
    local_of = {
        os.path.join(
            root, os.path.relpath(unquote(re.sub("^file:(//)?", "", u)), root)
        ): u
        for u in reported
    }
    missing = [p for p in small_paths if p not in local_of]
    if missing:
        raise RuntimeError(
            f"could not map {len(missing)} small files back to scan URIs "
            f"(non-local filesystem? see module docstring): {missing[:3]}"
        )
    grp_map = spark.createDataFrame(
        [
            (local_of[os.path.join(root, r.rel)], int(r.group_id))
            for r in rewrite_rows
        ],
        "_path string, __grp bigint",
    )
    small_df = small_df.withColumn("_path", F.input_file_name())
    tagged = small_df.join(F.broadcast(grp_map), "_path").drop("_path")
    tagged = tagged.repartition(*[F.col(c) for c in partition_by + ["__grp"]])
    if sort_by:
        # the partitioned writer requires task rows ordered by the
        # partition expressions and INSERTS ITS OWN SORT otherwise,
        # silently discarding any custom clustering — leading with
        # (partition_by, __grp) satisfies that requirement as a prefix so
        # the sort_by order actually reaches the files
        tagged = tagged.sortWithinPartitions(
            *[F.col(c) for c in partition_by + ["__grp"]],
            *[F.expr(s) for s in sort_by],
        )
    tagged.write.mode("overwrite").partitionBy(
        *partition_by, "__grp"
    ).parquet(tmp_rw)

    # flatten the __grp level: move each group's file(s) up into its
    # partition directory with a collision-proof name
    os.makedirs(tmp, exist_ok=True)
    for dirpath, _, names in os.walk(tmp_rw):
        parts = [n for n in names if n.endswith(".parquet")]
        if not parts:
            continue
        rel_dir = os.path.relpath(dirpath, tmp_rw)
        head, grp_level = os.path.split(rel_dir)
        assert grp_level.startswith("__grp=")
        dest = os.path.join(tmp, head)
        os.makedirs(dest, exist_ok=True)
        for i, name in enumerate(sorted(parts)):
            os.replace(
                os.path.join(dirpath, name),
                os.path.join(
                    dest,
                    f"optimized-{run_token}-{grp_level[6:]}-{i}.parquet",
                ),
            )
    shutil.rmtree(tmp_rw)

    # --- 2. hardlink every untouched file into the sibling tree --------
    for rel, _size in listing:
        if rel in rewrite_set:
            continue
        dst = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(os.path.join(root, rel), dst)
        except FileExistsError:
            # never mask a collision with a silent overwrite: a carried
            # file landing on a rewritten group file would erase rows
            raise
        except OSError:  # cross-device or link-unsupported fs
            shutil.copy2(os.path.join(root, rel), dst)

    # --- 3. validate the sibling against the live manifest, then swap --
    shutil.copy(os.path.join(root, _MANIFEST), os.path.join(tmp, _MANIFEST))
    report = validate_dataset(spark, tmp)
    if not report["ok"]:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"optimize changed key-column content, original untouched: "
            f"{report}"
        )
    os.rename(out_dir, old)
    os.rename(tmp, out_dir)
    shutil.rmtree(old, ignore_errors=True)
    files_after = len(_list_parquet(out_dir))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rewritten_files": rewritten_files,
        "groups_rewritten": len(groups),
        "validation": report,
    }
