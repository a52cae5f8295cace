"""LogStore seam (VERDICT r12 missing #2): the commit protocol's four
storage primitives, the two local implementations, and the
checkpoint-parsing path (consumer_floor) that rides the same seam.

The multi-writer OCC invariants over both stores live in
tests/test_concurrent_stress.py (parameterized); this file pins the
contract itself plus the ADVICE r12 #1 single-offsets-file floor."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.sources.cdf_stream import consumer_floor
from ecommerce_analytics_platform_spark.sources.logstore import (
    ConditionalPutLogStore,
    PosixLogStore,
)
from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable

STORES = [PosixLogStore, ConditionalPutLogStore]


@pytest.mark.parametrize("cls", STORES)
def test_put_if_absent_is_the_slot_gate(tmp_path, cls):
    s = cls()
    p = str(tmp_path / "v1.json")
    assert s.put_if_absent(p, b'{"a": 1}') is True
    assert s.read_bytes(p) == b'{"a": 1}'
    # second writer loses; content untouched
    assert s.put_if_absent(p, b'{"a": 2}') is False
    assert s.read_bytes(p) == b'{"a": 1}'
    # no staging residue is observable
    assert [n for n in os.listdir(tmp_path) if n != "v1.json"] == []


@pytest.mark.parametrize("cls", STORES)
def test_put_overwrites_atomically_and_delete_is_idempotent(tmp_path, cls):
    s = cls()
    p = str(tmp_path / "v1.json")
    s.put(p, b"one")
    s.put(p, b"two")
    assert s.read_bytes(p) == b"two"
    s.delete(p)
    s.delete(p)  # idempotent
    assert s.list(str(tmp_path)) == []


def test_conditional_store_list_hides_private_staging(tmp_path):
    s = ConditionalPutLogStore()
    open(tmp_path / ".obj-abc", "wb").close()
    open(tmp_path / "v1.json", "wb").close()
    assert s.list(str(tmp_path)) == ["v1.json"]


def test_list_on_missing_dir_is_empty(tmp_path):
    for cls in STORES:
        assert cls().list(str(tmp_path / "nope")) == []


def test_manifest_table_end_to_end_on_conditional_put_store(spark, tmp_path):
    """Full table lifecycle through the object-store contract: commits,
    delete, time travel, vacuum — no link/rename visible to the
    protocol."""
    t = ManifestTable(
        spark, str(tmp_path / "t"), log_store=ConditionalPutLogStore()
    )
    df = spark.createDataFrame([(i, f"v{i}") for i in range(6)], ["k", "v"])
    t.overwrite(df)  # v1
    t.append(spark.createDataFrame([(10, "x")], ["k", "v"]))  # v2
    t.delete_where(F.col("k") == 0)  # v3
    assert t.read().count() == 6
    assert t.read(version=1).count() == 6 and t.read(version=2).count() == 7
    t.vacuum(keep_versions=1, tmp_grace_sec=0.0)
    assert t._versions() == [3]
    assert t.read().count() == 6


def _fake_ckpt(tmp_path, offsets: list[dict]) -> str:
    ckpt = tmp_path / "ck"
    od = ckpt / "offsets"
    os.makedirs(od)
    for i, off in enumerate(offsets):
        with open(od / str(i), "w") as f:
            f.write("v1\n{}\n" + json.dumps(off) + "\n")
    return str(ckpt)


def test_consumer_floor_single_offsets_file_is_conservative(tmp_path):
    """ADVICE r12 #1: one offsets file means batch 0's replay START is a
    re-derived initialOffset the checkpoint does not record — the floor
    must protect the whole log, not the lone END offset."""
    assert consumer_floor(_fake_ckpt(tmp_path, [{"version": 7}])) == 0


def test_consumer_floor_single_bootstrap_offset_anchors_itself(tmp_path):
    """A bootstrap offset replays a SNAPSHOT at its own version — nothing
    earlier is needed, so the lone offset IS a safe floor."""
    ck = _fake_ckpt(tmp_path, [{"version": 7, "bootstrap": True}])
    assert consumer_floor(ck) == 7


def test_consumer_floor_two_offsets_uses_replay_start(tmp_path):
    ck = _fake_ckpt(tmp_path, [{"version": 3}, {"version": 9}])
    assert consumer_floor(ck) == 3
    # and through an explicit store
    assert consumer_floor(ck, store=ConditionalPutLogStore()) == 3


def test_consumer_floor_missing_checkpoint_is_none(tmp_path):
    assert consumer_floor(str(tmp_path / "nope")) is None
