"""CDF output of the writer commit classes: ``delete_where``,
``merge_delete_insert`` (both modes) and ``update_where``.

No commit writes change files; ``manifest_cdf`` streams derive every
commit's change rows from the data and deletion-vector files. Each test
pins the streamed rows of one commit class BIT-EQUAL to batch
``changes_between`` and to the expected rows — the contract the stream
documents — plus the concurrency rules of ``update_where``.
"""

from __future__ import annotations

import types

import pytest
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.sources.cdf_stream import (
    ManifestCDFDataSource,
)
from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(ManifestCDFDataSource)


def _ms(rows):
    """Multiset of (k, v, d, _change_type) tuples."""
    return sorted((r["k"], r["v"], r["d"], r["_change_type"]) for r in rows)


def _run_pass(spark, path: str, ckpt: str, **opts) -> list:
    got = []

    def sink(df, _epoch):
        got.extend(df.collect())

    reader = spark.readStream.format("manifest_cdf").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return got


def _mk(spark, path, partition_by=("d",)) -> ManifestTable:
    t = ManifestTable(spark, str(path))
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 2}") for i in range(8)], ["k", "v", "d"]
    )
    t.overwrite(df, partition_by=list(partition_by) or None)
    return t


def test_delete_where_stream_equals_changes_between(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v = t.delete_where(F.col("k").isin(2, 5))  # v2, DV-only commit
    got = _run_pass(spark, t.path, str(tmp_path / "ck1"))
    v_rows = [r for r in got if r["_commit_version"] == v]
    assert _ms(v_rows) == _ms(t.changes_between(v - 1, v).collect())
    assert _ms(v_rows) == sorted(
        [(2, "v2", "d0", "delete"), (5, "v5", "d1", "delete")]
    )


def test_merge_dv_mode_cdc_bit_equal_to_derived(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    batch = spark.createDataFrame(
        [(2, "V2", "d0"), (99, "v99", "d1")], ["k", "v", "d"]
    )
    v = t.merge_delete_insert(
        batch, unique_key=["k"], partition_by=["d"], delete_mode="dv"
    )
    got = _run_pass(spark, t.path, str(tmp_path / "c1"))
    v_rows = [r for r in got if r["_commit_version"] == v]
    assert _ms(v_rows) == _ms(t.changes_between(v - 1, v).collect())
    assert _ms(v_rows) == sorted(
        [
            (2, "v2", "d0", "delete"),
            (2, "V2", "d0", "insert"),
            (99, "v99", "d1", "insert"),
        ]
    )


def test_merge_rewrite_mode_cdc_bit_equal_to_derived(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    batch = spark.createDataFrame(
        [(3, "V3", "d1"), (4, "v4", "d0")], ["k", "v", "d"]
    )  # k=4 is an IDENTICAL re-upsert: must net to zero in the file diff
    v = t.merge_delete_insert(
        batch, unique_key=["k"], partition_by=["d"], delete_mode="rewrite"
    )
    got = _run_pass(spark, t.path, str(tmp_path / "c1"))
    v_rows = [r for r in got if r["_commit_version"] == v]
    assert _ms(v_rows) == _ms(t.changes_between(v - 1, v).collect())
    assert _ms(v_rows) == sorted(
        [(3, "v3", "d1", "delete"), (3, "V3", "d1", "insert")]
    )


def test_fully_idempotent_merge_rewrite_nets_to_zero_cdc(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    batch = spark.createDataFrame([(1, "v1", "d1")], ["k", "v", "d"])
    v = t.merge_delete_insert(
        batch, unique_key=["k"], partition_by=["d"], delete_mode="rewrite"
    )
    # the commit rewrote partition d1 but changed no logical row: the
    # stream emits nothing for v, and batch changes_between agrees
    got = _run_pass(spark, t.path, str(tmp_path / "c1"))
    assert [r for r in got if r["_commit_version"] == v] == []
    assert t.changes_between(v - 1, v).count() == 0


def test_concurrent_overlapping_delete_commutes_and_streams_once(spark, tmp_path):
    """A concurrent DV commit deleting the same row between
    delete_where's read and its publish: the commit still lands (pure DV
    deletes commute) and the derived diff reports the truth — zero rows
    for it, because the other writer deleted the row first."""
    t1 = _mk(spark, tmp_path / "t")
    t2 = ManifestTable(spark, t1.path)
    orig = t1._publish
    fired = []

    def racy(self, apply_fn):
        if not fired:
            fired.append(1)
            t2.delete_where(F.col("k") == 2)  # lands first, same row
        return orig(apply_fn)

    t1._publish = types.MethodType(racy, t1)
    v = t1.delete_where(F.col("k") == 2)
    assert fired
    assert v == t1.latest_version() and t1.read().filter("k = 2").count() == 0
    got = _run_pass(spark, t1.path, str(tmp_path / "c1"))
    v_rows = [r for r in got if r["_commit_version"] == v]
    assert _ms(v_rows) == _ms(t1.changes_between(v - 1, v).collect()) == []
    # the overlapping delete itself streamed exactly once
    assert _ms([r for r in got if r["_commit_version"] == v - 1]) == [
        (2, "v2", "d0", "delete")
    ]


def test_cdc_respects_schema_evolution_backfill(spark, tmp_path):
    """A delete committed BEFORE a widening commit back-fills NULL for
    the added column when an evolved stream reads it — same rule as for
    inserts."""
    t = _mk(spark, tmp_path / "t")
    t.delete_where(F.col("k") == 7)  # v2: DV-only delete over (k, v, d)
    wide = spark.createDataFrame([(100, "w", "d0", 1.5)], ["k", "v", "d", "x"])
    t.append(wide, partition_by=["d"])  # v3 widens schema
    got = _run_pass(spark, t.path, str(tmp_path / "c1"))
    v2 = [r for r in got if r["_commit_version"] == 2]
    assert len(v2) == 1 and v2[0]["x"] is None and v2[0]["k"] == 7


def test_update_where_dv_append_cdc_bit_equal(spark, tmp_path):
    """update_where: matched rows tombstoned + postimage appended in ONE
    commit — zero data-file rewrites — and the streamed changes are
    bit-equal to batch changes_between (DV delta + added files)."""
    t = _mk(spark, tmp_path / "t")
    old_files = set(t._read_manifest(t.latest_version())["files"])
    v = t.update_where(
        F.col("k").isin(2, 5), set={"v": F.upper(F.col("v"))}
    )
    m = t._read_manifest(v)
    # no rewrites: every pre-update file survives, postimage appended
    assert old_files <= set(m["files"]) and len(m["files"]) > len(old_files)
    assert m.get("dv")
    # semantics: values updated in place, row count stable
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert (2, "V2") in got and (5, "V5") in got and len(got) == 8
    streamed = _run_pass(spark, t.path, str(tmp_path / "c1"))
    v_rows = [r for r in streamed if r["_commit_version"] == v]
    assert _ms(v_rows) == _ms(t.changes_between(v - 1, v).collect())
    assert _ms(v_rows) == sorted(
        [
            (2, "v2", "d0", "delete"),
            (2, "V2", "d0", "insert"),
            (5, "v5", "d1", "delete"),
            (5, "V5", "d1", "insert"),
        ]
    )


def test_update_where_moves_partitions_txn_and_noop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # updating the partition column moves the row's directory
    v = t.update_where("k = 3", set={"d": F.lit("d9")}, txn_id="u1")
    moved = t.read(partition_values={"d": ["d9"]}).collect()
    assert [(r["k"], r["d"]) for r in moved] == [(3, "d9")]
    assert t.read().count() == 8
    # exactly-once: redelivery of the same txn is a no-op
    assert t.update_where("k = 3", set={"d": F.lit("dX")}, txn_id="u1") == v
    assert t.read(partition_values={"d": ["d9"]}).count() == 1
    # no match -> pure no-op, version unchanged
    assert t.update_where("k = 99", set={"v": F.lit("x")}) == v
    # unknown SET column raises before any write
    with pytest.raises(ValueError, match="not in the table"):
        t.update_where("k = 1", set={"nope": F.lit(1)})


def test_update_where_concurrent_delete_rederives(spark, tmp_path):
    """update does NOT commute with a racing tombstone on a touched file
    (the postimage would resurrect the deleted row): the first publish
    aborts, the retry re-derives against the new snapshot where the row
    is already dead, and the update correctly becomes a no-op."""
    t1 = _mk(spark, tmp_path / "t")
    t2 = ManifestTable(spark, t1.path)
    orig = t1._publish
    fired = []

    def racy(self, apply_fn):
        if not fired:
            fired.append(1)
            t2.delete_where(F.col("k") == 2)  # lands first, same row
        return orig(apply_fn)

    t1._publish = types.MethodType(racy, t1)
    v = t1.update_where("k = 2", set={"v": F.lit("RESURRECTED")})
    assert fired
    rows = {(r["k"], r["v"]) for r in t1.read().collect()}
    assert not any(k == 2 for k, _ in rows), "racing delete must win"
    assert "RESURRECTED" not in {x for _, x in rows}
    # past the v1 bootstrap inserts, the stream sees exactly one delete
    # for k=2 and nothing from the no-op'd update
    got = _run_pass(spark, t1.path, str(tmp_path / "c1"))
    assert _ms(
        [r for r in got if r["k"] == 2 and r["_commit_version"] > 1]
    ) == [(2, "v2", "d0", "delete")]


def test_delete_racing_update_conflicts_never_resurrects(spark, tmp_path):
    """Write-skew guard: an update-class commit (DV + postimage append)
    landing between a delete's read and its publish must CONFLICT the
    delete — committing would tombstone only the stale address while the
    postimage row (which the condition also matches) survives. Pure
    delete∘delete still commutes (separate test above)."""
    from ecommerce_analytics_platform_spark.sources.manifest import (
        ConcurrentWriteConflict,
    )

    t1 = _mk(spark, tmp_path / "t")
    t2 = ManifestTable(spark, t1.path)
    orig = t1._publish
    fired = []

    def racy(self, apply_fn):
        if not fired:
            fired.append(1)
            t2.update_where("k = 2", set={"v": "'GHOST'"})
        return orig(apply_fn)

    t1._publish = types.MethodType(racy, t1)
    with pytest.raises(ConcurrentWriteConflict, match="update/merge"):
        t1.delete_where(F.col("k") == 2)
    assert fired
    # the update's postimage is intact (the delete landed NOTHING) ...
    assert [r.v for r in t1.read().filter("k = 2").collect()] == ["GHOST"]
    # ... and the caller-side retry re-derives and kills it for real
    t1.delete_where(F.col("k") == 2)
    assert t1.read().filter("k = 2").count() == 0
