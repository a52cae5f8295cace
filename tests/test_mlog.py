"""Delta-log manifest format (sources/mlog.py): commit cost O(changed
files), full checkpoints every K versions, reconstruction correctness
across every commit class, vacuum chain preservation.

Scale rationale (SCALE.md r11): through r10 every commit wrote the full
snapshot JSON — O(total files) per commit. These tests pin that a 1-file
append now logs only its own edits, and that every reader surface
(read, time travel, stats pruning, CDF, history, restore, vacuum) is
bit-identical on a delta-format log.
"""

from __future__ import annotations

import json
import os

from ecommerce_analytics_platform_spark.sources import mlog
from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _raw(t, v):
    return json.load(open(os.path.join(t.manifest_dir, f"v{v}.json")))


def test_append_logs_delta_not_snapshot(spark, tmp_path):
    """The r11 point: appending 1 file to an N-file table writes an
    O(1)-sized delta doc, not an O(N) snapshot."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(64)], ["k", "v"])
        .repartition(16)
    )  # v1: checkpoint by definition
    t.append(spark.createDataFrame([(100, "new")], ["k", "v"]).coalesce(1))  # v2
    full = _raw(t, 1)
    d = _raw(t, 2)
    assert "files" in full and len(full["files"]) == 16
    assert "files" not in d and d["delta_base"] == 1
    assert len(d["add_files"]) == 1 and "remove_files" not in d
    # per-file metadata rides the delta for the new file only
    assert set(d.get("file_meta_put", {})) == set(d["add_files"])
    # the delta is a fraction of the snapshot it replaces
    assert len(json.dumps(d)) < len(json.dumps(full)) / 3
    # and reconstruction sees all 17 files
    assert len(t._read_manifest(2)["files"]) == 17
    assert t.read().count() == 65


def test_checkpoint_every_interval(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 4
    for i in range(9):  # v1..v9
        t.append(spark.createDataFrame([(i, "x")], ["k", "v"]).coalesce(1))
    kinds = {v: mlog.is_full(_raw(t, v)) for v in range(1, 10)}
    assert kinds == {1: True, 2: False, 3: False, 4: True,
                     5: False, 6: False, 7: False, 8: True, 9: False}
    # a FRESH instance (cold cache) reconstructs the tip exactly
    t2 = ManifestTable(spark, t.path)
    assert len(t2._read_manifest(9)["files"]) == 9
    assert t2.read().count() == 9


def test_reconstruction_equals_recorded_state_across_commit_mix(spark, tmp_path):
    """Drive every commit class on a long-chain table (interval 8 — most
    docs are deltas) and pin TIME TRAVEL at every version against rows
    recorded when that version was the tip. This exercises files, DVs,
    schema, txns and stats through reconstruction end-to-end."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 8
    snap_rows: dict[int, list] = {}

    def rec():
        snap_rows[t.latest_version()] = _rows(
            t.read().select("k", "d", "v")
        )

    mk = lambda rows: spark.createDataFrame(rows, ["k", "d", "v"])
    t.overwrite(mk([(i, f"d{i % 3}", f"v{i}") for i in range(12)]),
                partition_by=["d"])
    rec()
    t.append(mk([(100, "d0", "a100")]), partition_by=["d"])
    rec()
    t.delete_where("k >= 9 and k <= 10")  # DV-only commit
    rec()
    t.append_once(mk([(101, "d1", "b101")]), txn_id="tx-1",
                  partition_by=["d"])
    rec()
    t.merge_delete_insert(mk([(0, "d0", "UPD"), (102, "d2", "c102")]),
                          unique_key=["k"], partition_by=["d"])
    rec()
    t.materialize_deletes()  # data_change=false rewrite
    rec()
    t.replace_partitions(mk([(7, "d1", "RP")]), ["d"])
    rec()
    t.append(mk([(103, "d0", "x")]), partition_by=["d"])  # v8: checkpoint
    rec()
    t.restore(2)
    rec()
    t.append(mk([(104, "d2", "y")]), partition_by=["d"])
    rec()
    assert t.latest_version() == 10
    # cold-cache instance: every retained version time-travels to the
    # exact rows recorded when it was the tip
    t2 = ManifestTable(spark, t.path)
    for v, want in snap_rows.items():
        assert _rows(t2.read(version=v).select("k", "d", "v")) == want, v
    # txn set survives reconstruction (exactly-once across the chain)
    assert t2.has_txn("tx-1")
    v_before = t2.latest_version()
    t2.append_once(mk([(101, "d1", "b101")]), txn_id="tx-1",
                   partition_by=["d"])
    assert t2.latest_version() == v_before  # deduped, no new commit
    # history walks the whole chain without error and sees every version
    assert t2.history().count() == 10


def test_stats_pruning_survives_delta_log(spark, tmp_path):
    """Min/max file skipping reads stats through reconstruction — a
    predicate that pruned on a full-doc log prunes identically when the
    stats rode in on delta docs."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 16
    t.set_stats_columns(["k"])
    t.overwrite(
        spark.createDataFrame([(i, "x") for i in range(10)], ["k", "v"])
        .coalesce(1)
    )
    for lo in (100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, "x") for i in range(10)], ["k", "v"]
            ).coalesce(1)
        )
    assert not mlog.is_full(_raw(t, t.latest_version()))
    pruned = t.read(stats_predicates=[("k", ">=", 200)])
    assert pruned.count() == 10
    assert len(pruned.inputFiles()) == 1  # two files skipped from stats


def test_vacuum_checkpoints_oldest_retained_version(spark, tmp_path):
    """Dropping old manifests must not orphan a retained delta doc's
    chain: vacuum rewrites the oldest retained version as a full
    checkpoint (content-equivalent) before deleting its ancestors."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 16  # v2..v5 are deltas chained to v1
    for i in range(5):
        t.append(spark.createDataFrame([(i, "x")], ["k", "v"]).coalesce(1))
    want4 = _rows(t.read(version=4))
    want5 = _rows(t.read(version=5))
    assert not mlog.is_full(_raw(t, 4))
    t.vacuum(keep_versions=2)  # retain v4, v5; v1..v3 dropped
    assert t._versions() == [4, 5]
    assert mlog.is_full(_raw(t, 4))  # rewritten as checkpoint
    t2 = ManifestTable(spark, t.path)  # cold cache
    assert _rows(t2.read(version=4)) == want4
    assert _rows(t2.read(version=5)) == want5


def test_cdf_and_touched_since_on_delta_log(spark, tmp_path):
    """changes_between and the conflict window read delta docs directly;
    results equal the data-level truth."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 16
    mk = lambda rows: spark.createDataFrame(rows, ["k", "d", "v"])
    t.overwrite(mk([(i, f"d{i % 2}", "a") for i in range(8)]),
                partition_by=["d"])
    t.append(mk([(100, "d1", "b")]), partition_by=["d"])  # v2: delta
    t.delete_where("k = 0")  # v3: DV-only delta
    ch2 = t.changes_between(1, 2)
    assert _rows(ch2.select("k", "_change_type")) == [("100", "insert")]
    ch3 = t.changes_between(2, 3)
    assert _rows(ch3.select("k", "_change_type")) == [("0", "delete")]
    # conflict window from delta docs: v2 touched only d=d1; v3's DV
    # touched k=0's partition (d=d0)
    assert t._touched_since(1, 2) == {"d=d1"}
    assert t._touched_since(2, 3) == {"d=d0"}


def test_legacy_all_full_log_reads_unchanged(spark, tmp_path):
    """A pre-r11 log (every doc full) is a degenerate all-checkpoint
    chain — force one and read through the same code paths."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 1
    for i in range(3):
        t.append(spark.createDataFrame([(i, "x")], ["k", "v"]).coalesce(1))
    assert all(mlog.is_full(_raw(t, v)) for v in (1, 2, 3))
    t2 = ManifestTable(spark, t.path)
    assert t2.read().count() == 3
    assert _rows(t2.read(version=2)) == _rows(t2.read(version=2))
    assert t2.changes_between(1, 3).count() == 2


def test_parquet_checkpoint_spills_bulk_and_reads_back(spark, tmp_path, monkeypatch):
    """VERDICT r11 missing #4: checkpoint slots on BIG snapshots write a
    columnar parquet side file plus a slim pointer doc (Delta's parquet
    checkpoint), instead of an O(table) JSON blob parsed on every cold
    load. Threshold lowered so a test-sized table exercises it; a mixed
    inline/pointer chain reconstructs identically."""
    monkeypatch.setattr(mlog, "CHECKPOINT_PARQUET_MIN_FILES", 4)
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 4
    t.set_stats_columns(["k"])  # v1 (full by definition; 0 files -> inline)
    for i in range(10):  # v2..v11
        t.append(
            spark.createDataFrame([(i, f"v{i}")], ["k", "v"]).coalesce(1)
        )
    raw4, raw8 = _raw(t, 4), _raw(t, 8)
    # v4 holds 3 files (< threshold) -> inline full doc; v8 holds 7 -> pointer
    assert "files" in raw4 and "checkpoint" not in raw4
    assert "checkpoint" in raw8 and "files" not in raw8
    assert mlog.is_full(raw8)
    cp = os.path.join(t.manifest_dir, raw8["checkpoint"])
    assert os.path.exists(cp) and raw8["n_files"] == 7
    # the pointer doc still carries every scalar raw-doc consumers need
    assert "ts" in raw8 and raw8.get("schema")
    # cold reconstruction (fresh instance, chain crosses the pointer doc)
    t2 = ManifestTable(spark, t.path)
    m = t2._read_manifest(11)
    assert len(m["files"]) == 10
    assert set(m.get("stats", {})) == set(m["files"])  # stats round-trip
    assert set(m.get("file_meta", {})) == set(m["files"])
    assert t2.read().count() == 10
    # the slim doc is a fraction of the equivalent inline snapshot
    assert len(json.dumps(raw8)) < len(json.dumps(m)) / 3


def test_parquet_checkpoint_round_trips_dv_and_txns(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mlog, "CHECKPOINT_PARQUET_MIN_FILES", 2)
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 3
    t.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(8)], ["k", "v"])
        .repartition(4)
    )  # v1: 4 files >= 2 -> pointer checkpoint
    assert "checkpoint" in _raw(t, 1)
    t.delete_where("k = 0")  # v2: delta doc carrying the DV put
    t.append_once(
        spark.createDataFrame([(100, "x")], ["k", "v"]).coalesce(1), "batch-1"
    )  # v3: checkpoint slot -> pointer doc with dv + txns in the parquet
    assert "checkpoint" in _raw(t, 3)
    t2 = ManifestTable(spark, t.path)
    m = t2._read_manifest(3)
    assert m.get("dv") and "batch-1" in m["txns"]
    assert t2.read().filter("k = 0").count() == 0  # DV applied post-round-trip
    assert t2.has_txn("batch-1")  # idempotency survives the columnar hop


def test_vacuum_reclaims_orphan_checkpoints_keeps_referenced(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mlog, "CHECKPOINT_PARQUET_MIN_FILES", 2)
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 2
    t.overwrite(
        spark.createDataFrame([(i, "x") for i in range(4)], ["k", "v"])
        .repartition(2)
    )  # v1 pointer
    t.append(spark.createDataFrame([(9, "y")], ["k", "v"]).coalesce(1))  # v2 pointer (slot)
    # plant an orphan cp (a crashed publish loser)
    import shutil

    ref = _raw(t, 2)["checkpoint"]
    orphan = os.path.join(t.manifest_dir, "cp-deadbeef0000.parquet")
    shutil.copy(os.path.join(t.manifest_dir, ref), orphan)
    t.vacuum(keep_versions=1, tmp_grace_sec=0.0)
    left = {fn for fn in os.listdir(t.manifest_dir) if fn.startswith("cp-")}
    assert ref in left and "cp-deadbeef0000.parquet" not in left
    # the retained snapshot still loads cold
    assert ManifestTable(spark, t.path).read().count() == 5


def test_conflicts_and_cdf_plan_across_pointer_checkpoints(spark, tmp_path, monkeypatch):
    """OCC conflict detection and CDF offset planning both reconstruct
    snapshots through the log — exercise both across PARQUET POINTER
    checkpoint docs (threshold forced low so every checkpoint slot
    spills): overlapping replaces still abort, disjoint ones still
    commute, and a CDF reader plans/reads the whole pointer-doc log."""
    import pytest

    from ecommerce_analytics_platform_spark.sources.cdf_stream import (
        ManifestCDFDataSource,
        ManifestCDFStreamReader,
        _read_partition,
    )
    from ecommerce_analytics_platform_spark.sources.manifest import (
        ConcurrentWriteConflict,
    )

    monkeypatch.setattr(mlog, "CHECKPOINT_PARQUET_MIN_FILES", 1)
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 2
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 2}") for i in range(8)], ["k", "v", "d"]
    )
    t.overwrite(df, partition_by=["d"])  # v1 (full by definition -> pointer)
    assert "checkpoint" in _raw(t, 1)
    base = t.latest_version()
    t.append(
        spark.createDataFrame([(100, "n", "d0")], ["k", "v", "d"]),
        partition_by=["d"],
    )  # v2: checkpoint slot -> pointer
    assert "checkpoint" in _raw(t, 2)
    # overlapping replace derived from v1: the conflict window crosses
    # the pointer checkpoint and still sees the d0 append
    with pytest.raises(ConcurrentWriteConflict):
        t.replace_partitions(
            spark.createDataFrame([(0, "X", "d0")], ["k", "v", "d"]),
            ["d"],
            expected_base=base,
        )
    # disjoint replace (d1 only) commutes across it
    t.replace_partitions(
        spark.createDataFrame([(1, "Y", "d1")], ["k", "v", "d"]),
        ["d"],
        expected_base=base,
    )  # v3
    # CDF planning + task reads over the pointer-doc log: v1 snapshot
    # inserts + v2 append + v3 rewrite diff of d1
    reader = ManifestCDFStreamReader(
        ManifestCDFDataSource(options={"path": t.path}).schema(),
        {"path": t.path},
    )
    parts = reader.partitions({"version": 0}, {"version": 3})
    n = sum(
        b.num_rows for p in parts for b in _read_partition(t.path, p)
    )
    want = (
        8  # v1 inserts
        + 1  # v2 append
        + t.changes_between(2, 3).count()  # v3 replace diff
    )
    assert n == want


def test_partial_snapshot_load_projects_bulk_maps(spark, tmp_path):
    """VERDICT r12 missing #5: load_snapshot(columns=...) skips decoding
    the excluded bulk maps — on parquet-checkpoint tables the projection
    pushes into the parquet read itself — while files/txns/scalars and
    the REQUESTED maps stay bit-identical to the full load, across both
    inline-JSON and pointer-doc checkpoints and down delta chains."""
    import pyspark.sql.functions as F

    t = ManifestTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 4
    t.set_stats_columns(["k"])  # v1 (config commit)
    t.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(8)], ["k", "v"])
        .repartition(2)
    )  # v2
    t.delete_where(F.col("k") == 3)  # v3: DV
    t.append(
        spark.createDataFrame([(50, "z")], ["k", "v"]).coalesce(1)
    )  # v4: checkpoint slot
    for v in (2, 3, 4):
        full = mlog.load_snapshot(t.path, v)
        part = mlog.load_snapshot(t.path, v, columns=("dv",))
        assert part["files"] == full["files"]
        assert part.get("txns", []) == full.get("txns", [])
        assert part.get("dv") == full.get("dv")
        assert part.get("schema") == full.get("schema")
        assert "stats" not in part and "file_meta" not in part
        assert full.get("stats")  # the full load genuinely carried them
    # pointer-doc (parquet side file) checkpoints: force the spill low
    orig = mlog.CHECKPOINT_PARQUET_MIN_FILES
    mlog.CHECKPOINT_PARQUET_MIN_FILES = 1
    try:
        t2 = ManifestTable(spark, str(tmp_path / "t2"))
        t2.checkpoint_interval = 1  # every commit a full doc -> side file
        t2.set_stats_columns(["k"])
        t2.overwrite(
            spark.createDataFrame([(i, "x") for i in range(6)], ["k", "v"])
            .repartition(3)
        )
        t2.delete_where(F.col("k") == 0)
        v = t2.latest_version()
        assert "checkpoint" in mlog.read_doc(t2.path, v)  # really spilled
        full = mlog.load_snapshot(t2.path, v)
        part = mlog.load_snapshot(t2.path, v, columns=("file_meta",))
        assert part["files"] == full["files"]
        assert part.get("file_meta") == full.get("file_meta")
        assert "stats" not in part and "dv" not in part
        assert full.get("stats") and full.get("dv")
    finally:
        mlog.CHECKPOINT_PARQUET_MIN_FILES = orig
