"""Right-to-be-forgotten: hard-delete a key set from manifest-committed
tables, with provable physical removal.

A GDPR/CCPA erasure request is not a logical filter — the bytes must go.
On plain parquet that means rewriting affected files; the subtlety at
scale is (a) touching ONLY files that contain the keys and (b) making the
old bytes actually unreachable AND deletable. This operator composes the
pieces the repo already has:

1. **Locate** — a file-level Bloom prefilter: scan each table once with
   ``input_file_name()``, flag files containing any target key (the scan
   is one pass; with the manifest's per-file rows this is where parquet
   row-group stats or a persisted Bloom index would prune at 100 TB).
2. **Rewrite** — affected files' rows minus the keys, published via
   ``ManifestTable.replace_files``-style commit: untouched files are
   carried into the new version BY REFERENCE (no rewrite), affected files
   are replaced by filtered rewrites.
3. **Vacuum** — drop superseded versions and physically delete
   unreferenced files; after ``vacuum(keep_versions=1)`` no file on disk
   contains the forgotten keys (asserted by tests reading EVERY surviving
   parquet file).

Deletion keys are broadcast (erasure batches are small); the rewrite cost
is bounded by the files that actually contain the keys, not table size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable


def affected_files(
    spark: SparkSession, table: ManifestTable, key_col: str, keys: DataFrame
) -> list[str]:
    """Files of the table's LATEST version containing ≥1 target key —
    one pruned scan (key filter + input_file_name)."""
    df = table.read().withColumn("__file", F.expr("input_file_name()"))
    hits = (
        df.join(F.broadcast(keys.select(F.col(keys.columns[0]).alias(key_col))), key_col)
        .select("__file")
        .distinct()
        .collect()
    )
    return sorted(r["__file"].replace("file://", "") for r in hits)


def forget(
    spark: SparkSession,
    table: ManifestTable,
    key_col: str,
    keys: DataFrame,
    vacuum: bool = True,
) -> dict:
    """Erase all rows whose ``key_col`` appears in ``keys`` from the
    table; returns {"files_rewritten": n, "rows_deleted": n,
    "version": new_version}. Untouched data files are never rewritten —
    only files containing a target key are filtered and replaced; the
    commit is atomic (manifest swap) and ``vacuum`` makes the removal
    physical.
    """
    kdf = F.broadcast(keys.select(F.col(keys.columns[0]).alias(key_col)))
    read_version = table.latest_version()
    files = affected_files(spark, table, key_col, keys)
    if not files:
        return {"files_rewritten": 0, "rows_deleted": 0, "version": read_version}

    current = table.read(version=read_version).withColumn(
        "__file", F.expr("input_file_name()")
    )
    norm = F.regexp_replace(F.col("__file"), "^file://", "")
    touched = current.filter(norm.isin(files))
    n_before = touched.count()
    kept = touched.join(kdf, key_col, "left_anti").drop("__file")
    n_after = kept.count()

    # new version = untouched files by reference + rewritten replacements;
    # rewrites land back in their hive partition dirs (ADVICE r4: a
    # root-level rewrite on a partitioned table corrupts partition
    # discovery / loses pruning). expected_base pins the read so a
    # concurrent delete_where on an affected file aborts instead of
    # being silently resurrected (r11 lost-delete race).
    # CDF readers derive this commit's diff from the data files, so no
    # copy of the erased rows outlives them: after the vacuum below the
    # history is gone with the data.
    version = table.replace_files(
        files,
        kept,
        partition_by=table.partition_columns() or None,
        expected_base=read_version,
    )
    if vacuum:
        table.vacuum(keep_versions=1)
    return {
        "files_rewritten": len(files),
        "rows_deleted": n_before - n_after,
        "version": version,
    }


def forget_soft(
    spark: SparkSession,
    table: ManifestTable,
    key_col: str,
    keys: DataFrame,
    txn_id: str | None = None,
) -> dict:
    """Two-phase erasure, phase 1: INSTANT logical erasure via deletion
    vectors — ``delete_where`` writes the matching rows' physical
    addresses (KBs) instead of rewriting data files, so every read from
    commit time on excludes the subject's rows, at O(matching rows) cost.
    Phase 2 (``materialize_deletes`` + ``vacuum``, run on the compaction
    cadence) makes the removal physical; ``assert_forgotten`` is the
    audit that proves it. This is the Delta/Iceberg DV erasure pattern:
    compliance reads immediately, byte deletion amortized into
    maintenance.

    Returns {"rows_deleted": n, "version": v}.
    """
    vals = [r[0] for r in keys.select(keys.columns[0]).distinct().collect()]
    before = table.read().count()
    version = table.delete_where(F.col(key_col).isin(vals), txn_id=txn_id)
    return {
        "rows_deleted": before - table.read(version=version).count(),
        "version": version,
    }


def forget_hard(spark: SparkSession, table: ManifestTable) -> dict:
    """Two-phase erasure, phase 2: fold every deletion vector into
    rewritten data files and vacuum — after this the forgotten bytes are
    physically unreachable AND deleted (``assert_forgotten`` passes)."""
    version = table.materialize_deletes()
    table.vacuum(keep_versions=1)
    return {"version": version}


def assert_forgotten(spark: SparkSession, table_path: str, key_col: str, keys: list) -> bool:
    """Audit: read EVERY parquet file physically present under the table
    directory (not via the manifest) and verify none contains a target
    key — the 'bytes are gone' check an erasure audit actually runs.
    Deletion-vector files (``_dv/``) hold physical row ADDRESSES, never
    column data, so they are excluded from the column scan."""
    data_files = []
    for root, _dirs, names in os.walk(table_path):
        rel = os.path.relpath(root, table_path)
        if rel == "_dv" or rel.startswith("_dv" + os.sep):
            continue
        data_files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    if not data_files:
        return True
    df = spark.read.parquet(*data_files)
    return df.filter(F.col(key_col).isin(keys)).count() == 0


def compact(
    spark: SparkSession,
    table: ManifestTable,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """OPTIMIZE-style small-file compaction on a manifest table: bin-pack
    data files smaller than ``target_bytes`` into right-sized rewrites and
    publish atomically via ``replace_files`` — large files carry over BY
    REFERENCE, readers pinned to the old snapshot are untouched, and a
    crash mid-compaction leaves the previous version live.

    The small-files problem is the dominant operational tax at 100 TB
    (every file is a task + open + footer read); streaming sinks create it
    continuously. Compaction here is metadata-surgical: cost ∝ bytes of
    small files, not table size. Returns {"files_in": n, "files_out": n,
    "version": v} (no-op dict when fewer than ``min_files`` qualify).
    """
    v = table.latest_version()
    if v is None:
        return {"files_in": 0, "files_out": 0, "version": None}
    files = table._read_manifest(v)["files"]
    small = [
        f
        for f in files
        if os.path.getsize(os.path.join(table.path, f)) < target_bytes
    ]
    if len(small) < min_files:
        return {"files_in": 0, "files_out": 0, "version": v}
    paths = [os.path.join(table.path, f) for f in small]
    # read the LIVE rows (deletion vectors applied) via the snapshot, not
    # the raw files — compacting a DV-carrying file from raw bytes would
    # RESURRECT its logically-deleted rows (r11 regression pin). This also
    # folds the touched files' DVs in, like OPTIMIZE does.
    df = table.read(version=v, keep_files=set(small))
    total = sum(os.path.getsize(p) for p in paths)
    n_out = max(1, -(-total // target_bytes))
    version = table.replace_files(
        small,
        df.coalesce(n_out),
        partition_by=table.partition_columns() or None,
        # live rows in == live rows out: a row-preserving maintenance
        # commit — CDF readers skip it at O(metadata)
        data_change=False,
        # abort if a concurrent delete_where tombstoned a small file
        # between our read and the publish (lost-delete race, r11)
        expected_base=v,
    )
    return {"files_in": len(small), "files_out": n_out, "version": version}
