"""Incremental materialization: dbt's ``delete+insert`` strategy + the
reference's 1-day sliding-lookback late-data pattern, on plain parquet.

Reference semantics (SURVEY §2.1 S10, §2.2 P8):

- New batch = source rows with ``ts >= max(target.ts) - lookback`` (the
  sliding reprocessing window; reference stg_clickstream_events.sql:18-26
  et al. — with the two incremental-branch syntax bugs fixed, SURVEY §2.9).
- delete+insert keyed on ``unique_key``: target rows whose key appears in
  the new batch are replaced; everything else is kept (dbt-duckdb's
  delete+insert strategy, dbt_project.yml:26-30).

Implementation: merged = target ⟕anti(new, key) ∪ new, written to a fresh
directory and atomically swapped in (plain parquet cannot be overwritten
while being read — no ACID). On a real cluster this operator is Delta
``MERGE WHEN MATCHED THEN DELETE`` + insert, or ``replaceWhere`` partition
overwrite when the key is partition-aligned; the swap trick is the
self-contained equivalent.

Crash safety / recovery: the two-step swap (target→``__old``, tmp→target)
is not atomic as a pair — a crash between the renames leaves no directory
at ``target_path``, but the complete previous table survives under
``<target_path>__old_<token>`` and the complete merged table under
``<target_path>__tmp_<token>``. ``recover_swap`` (called automatically at
the start of every merge) repairs that window: it restores the newest
complete sibling (tmp preferred over old) back to ``target_path`` and
clears stale leftovers, so a reader or the next merge always sees a full
table. Manual recovery is the same one rename.

Scale notes: the anti-join shuffles on the unique key — but the *new batch*
side is small (1 day of data), so Catalyst broadcasts it and the target
scan streams through map-side. With date partitioning the target scan also
partition-prunes to the lookback window ∪ keys' partitions. Never rewrites
more than it must when ``partition_by`` aligns with the key's date.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.sources.warehouse import has_parquet


LOOKBACK = "INTERVAL 1 DAY"


def lookback_filter(
    source: DataFrame,
    target: DataFrame | None,
    col: str,
    strict: bool = False,
) -> DataFrame:
    """Apply the incremental sliding-window predicate.

    ``source.col >= coalesce(max(target.col) - LOOKBACK,
    TIMESTAMP '1900-01-01')`` — reference P8. ``source`` is a model's
    output, so the same column names the rows on both sides. The scalar
    subquery is evaluated eagerly (1-row agg collect) so the main plan gets
    a simple literal comparison instead of a subquery join. ``strict`` uses
    ``>`` (reference fact_orders.sql:19 uses ``>``).
    """
    if target is None:
        return source
    row = target.agg(F.max(col).alias("mx")).collect()[0]
    if row["mx"] is None:
        return source
    bound = target.sparkSession.sql(
        f"SELECT TIMESTAMP '{row['mx']}' - {LOOKBACK} AS b"
    ).collect()[0]["b"]
    cmp = F.col(col) > F.lit(bound) if strict else F.col(col) >= F.lit(bound)
    return source.filter(cmp)


def _complete(p: str) -> bool:
    """A swap sibling is a complete table iff it has data files and Spark's
    commit marker (no half-written job output)."""
    return has_parquet(p) and os.path.exists(os.path.join(p, "_SUCCESS"))


def recover_swap(target_path: str) -> bool:
    """Repair the non-atomic swap window (see module docstring).

    If ``target_path`` is missing/empty but a complete ``__tmp_*`` or
    ``__old_*`` sibling exists, rename the newest complete sibling back into
    place (tmp = the merged result, preferred; old = pre-merge state).
    Stale siblings are removed only when a healthy target exists. Returns
    True if a restore happened.
    """
    parent = os.path.dirname(os.path.abspath(target_path)) or "."
    base = os.path.basename(target_path)
    if not os.path.isdir(parent):
        return False
    sibs = [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(base + "__tmp_") or d.startswith(base + "__old_")
    ]
    if has_parquet(target_path):
        for s in sibs:
            shutil.rmtree(s, ignore_errors=True)
        return False
    candidates = sorted(
        (s for s in sibs if _complete(s)),
        key=lambda s: ("__tmp_" in s, os.path.getmtime(s)),
    )
    if not candidates:
        return False
    best = candidates[-1]
    if os.path.isdir(target_path):
        shutil.rmtree(target_path, ignore_errors=True)
    os.rename(best, target_path)
    for s in sibs:
        if s != best:
            shutil.rmtree(s, ignore_errors=True)
    return True


def swap_into_place(target_path: str, tmp_path: str) -> None:
    """Two renames publish ``tmp_path`` at ``target_path``; the window
    between them is repaired by ``recover_swap`` (complete data always
    exists on disk under exactly one of the three names)."""
    old_path = f"{target_path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(target_path, old_path)
    os.rename(tmp_path, target_path)
    shutil.rmtree(old_path, ignore_errors=True)


def _partition_leaf_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of ``col=value`` partition leaf directories exactly
    ``depth`` levels under ``root`` (hive layout as written by Spark)."""
    out: list[str] = []

    def rec(cur: str, d: int) -> None:
        if d == depth:
            out.append(os.path.relpath(cur, root))
            return
        for name in sorted(os.listdir(cur)):
            p = os.path.join(cur, name)
            if os.path.isdir(p) and "=" in name:
                rec(p, d + 1)

    rec(root, 0)
    return out


def merge_delete_insert(
    spark,
    target_path: str,
    new_batch: DataFrame,
    unique_key: list[str],
    partition_by: list[str] | None = None,
    prune_partitions: bool = True,
) -> None:
    """delete+insert merge into a parquet directory.

    First write (no target): plain create. Un-partitioned target: keep
    target rows whose ``unique_key`` does NOT appear in the new batch
    (left-anti, broadcast new-batch keys), union the new batch, write
    fresh, atomic dir swap.

    Partitioned target with ``prune_partitions`` (default): replaceWhere
    semantics — ONLY the partitions the new batch touches are read,
    merged, and swapped; every other partition directory is left
    physically untouched. At 100 TB this is the difference between a
    1-day batch rewriting 1 day and rewriting 36 months. The affected
    partition values come from one distinct-collect over the (small)
    batch; the target scan filters on them, so Catalyst partition-prunes
    the read to the same directories being replaced.

    CONTRACT for the pruned path: a row's partition value must be stable
    across versions of the same key (the standard replaceWhere
    assumption — an ``event_date`` derived from the event itself is; a
    mutable status column is not). If keys can migrate between
    partitions, pass ``prune_partitions=False`` to get the whole-table
    delete+insert.

    Crash safety: the un-pruned path keeps the single atomic-swap window
    repaired by :func:`recover_swap`. The pruned path swaps one partition
    directory at a time — a crash mid-loop leaves a readable table where
    each affected partition is either fully old or fully new; replaying
    the same batch (the caller's retry semantics, e.g. the streaming
    checkpoint in ``continuous_pipeline``) converges because delete+insert
    is idempotent per partition.
    """
    recover_swap(target_path)

    writer_cols = new_batch.columns

    if not has_parquet(target_path):
        w = new_batch.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target_path)
        return

    target = spark.read.parquet(target_path)
    keys = new_batch.select(*unique_key).distinct()

    if partition_by and prune_partitions:
        import functools

        part_vals = new_batch.select(*partition_by).distinct().collect()
        if not part_vals:
            return  # empty batch: nothing to merge
        pred = functools.reduce(
            lambda a, b: a | b,
            [
                functools.reduce(
                    lambda a, b: a & b,
                    [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_by],
                )
                for r in part_vals
            ],
        )
        affected = target.filter(pred)  # partition-pruned scan
        kept = affected.join(F.broadcast(keys), on=unique_key, how="left_anti")
        merged = kept.select(*writer_cols).unionByName(new_batch)

        tmp_path = f"{target_path}__ptmp_{uuid.uuid4().hex[:8]}"
        trash_path = f"{target_path}__ptrash_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp_path)
        try:
            for rel in _partition_leaf_dirs(tmp_path, len(partition_by)):
                live = os.path.join(target_path, rel)
                if os.path.isdir(live):
                    os.renames(live, os.path.join(trash_path, rel))
                os.makedirs(os.path.dirname(live), exist_ok=True)
                os.rename(os.path.join(tmp_path, rel), live)
        finally:
            shutil.rmtree(tmp_path, ignore_errors=True)
            shutil.rmtree(trash_path, ignore_errors=True)
        return

    kept = target.join(F.broadcast(keys), on=unique_key, how="left_anti")
    merged = kept.select(*writer_cols).unionByName(new_batch)

    tmp_path = f"{target_path}__tmp_{uuid.uuid4().hex[:8]}"
    w = merged.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp_path)

    swap_into_place(target_path, tmp_path)
