"""Tombstone-merge destination: merge-on-read semantics, versioning,
compaction, crash-orphan invisibility, keyed replay idempotence."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from cdf_spark.package.builder import PackageBuilder
from cdf_spark.package.tombstone import TombstoneParquetDestination
from cdf_spark.sources.base import WriteDisposition


def _pkg(spark, tmp, name, rows, schema="k long, s string, val long"):
    df = spark.createDataFrame(rows, schema)
    return PackageBuilder(f"{tmp}/pkgs_{name}", name).build(admitted=df)


@pytest.fixture()
def dest(tmp_path):
    return TombstoneParquetDestination(tmp_path / "t", merge_keys=["k", "s"])


def _rows(df):
    return sorted((r.k, r.s, r.val) for r in df.collect())


def test_append_then_merge_without_rewrite(spark, tmp_path, dest):
    base = _pkg(spark, tmp_path, "base", [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    rec = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
    assert rec.verified

    batch = _pkg(spark, tmp_path, "m1", [(2, "b", 99), (4, "d", 40)])
    rec2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
    assert rec2.verified
    assert _rows(dest.read(spark)) == [(1, "a", 10), (2, "b", 99), (3, "c", 30), (4, "d", 40)]

    # the base version's files were NOT rewritten — merge-on-read
    v1 = dest.table_path / "data" / "v=1"
    assert v1.exists() and any(v1.glob("*.parquet"))


def test_null_key_components_merge_null_safely(spark, tmp_path, dest):
    base = _pkg(spark, tmp_path, "base", [(1, None, 10), (2, "b", 20)])
    dest.commit(spark, base, WriteDisposition.APPEND)
    batch = _pkg(spark, tmp_path, "m", [(1, None, 77)])
    rec = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
    assert rec.verified
    # NULL key matched null-safely: old (1, NULL, 10) replaced, not duplicated
    assert _rows(dest.read(spark)) == [(1, None, 77), (2, "b", 20)]


def test_replay_is_keyed_idempotent(spark, tmp_path, dest):
    base = _pkg(spark, tmp_path, "base", [(1, "a", 10)])
    dest.commit(spark, base, WriteDisposition.APPEND)
    batch = _pkg(spark, tmp_path, "m", [(1, "a", 50), (2, "b", 60)])
    dest.commit(spark, batch, WriteDisposition.MERGE)
    dest.commit(spark, batch, WriteDisposition.MERGE)  # replay
    assert _rows(dest.read(spark)) == [(1, "a", 50), (2, "b", 60)]


def test_replace_moves_baseline(spark, tmp_path, dest):
    dest.commit(spark, _pkg(spark, tmp_path, "a", [(1, "a", 1)]), WriteDisposition.APPEND)
    snap = _pkg(spark, tmp_path, "b", [(9, "z", 9)])
    rec = dest.verify(spark, dest.commit(spark, snap, WriteDisposition.REPLACE), snap)
    assert rec.verified
    assert _rows(dest.read(spark)) == [(9, "z", 9)]


def test_compact_folds_versions_and_drops_tombstones(spark, tmp_path, dest):
    dest.commit(spark, _pkg(spark, tmp_path, "a", [(1, "a", 1), (2, "b", 2)]), WriteDisposition.APPEND)
    dest.commit(spark, _pkg(spark, tmp_path, "m", [(2, "b", 22)]), WriteDisposition.MERGE)
    before = _rows(dest.read(spark))
    v = dest.compact(spark)
    assert _rows(dest.read(spark)) == before == [(1, "a", 1), (2, "b", 22)]
    assert not (dest.table_path / "tombstones").exists()
    dirs = sorted((dest.table_path / "data").glob("v=*"))
    assert [d.name for d in dirs] == [f"v={v}"]
    # merges keep working after compaction
    dest.commit(spark, _pkg(spark, tmp_path, "m2", [(1, "a", 111)]), WriteDisposition.MERGE)
    assert _rows(dest.read(spark)) == [(1, "a", 111), (2, "b", 22)]


def test_crash_orphan_version_is_invisible(spark, tmp_path, dest):
    dest.commit(spark, _pkg(spark, tmp_path, "a", [(1, "a", 1)]), WriteDisposition.APPEND)
    # simulate a crashed commit: version dir exists, pointer never moved
    orphan = dest.table_path / "data" / "v=2"
    src = dest.table_path / "data" / "v=1"
    shutil.copytree(src, orphan)
    assert _rows(dest.read(spark)) == [(1, "a", 1)]  # orphan ignored
    state = json.loads((dest.table_path / "_version.json").read_text())
    assert state["current"] == 1
    # the next commit claims v=2, overwriting the orphan cleanly
    dest.commit(spark, _pkg(spark, tmp_path, "b", [(2, "b", 2)]), WriteDisposition.APPEND)
    assert _rows(dest.read(spark)) == [(1, "a", 1), (2, "b", 2)]


def test_verify_catches_tamper(spark, tmp_path, dest):
    base = _pkg(spark, tmp_path, "base", [(1, "a", 10), (2, "b", 20)])
    rec = dest.commit(spark, base, WriteDisposition.APPEND)
    # tamper: delete the committed version's files, keep the pointer
    for f in (dest.table_path / "data" / "v=1").glob("*.parquet"):
        f.unlink()
    batch_df = spark.read.parquet(base.data_path())
    assert batch_df.count() == 2
    with pytest.raises(Exception):
        # read of an empty committed version: verification cannot pass
        rec = dest.verify(spark, rec, base)
        assert not rec.verified


def test_anti_join_is_broadcast_hash(spark, tmp_path, dest):
    """Plan check: liveness resolution must be a broadcast hash
    anti-join on the null-safe keys (version bound as residual), not a
    nested-loop cross product."""
    dest.commit(spark, _pkg(spark, tmp_path, "a", [(1, "a", 1)]), WriteDisposition.APPEND)
    dest.commit(spark, _pkg(spark, tmp_path, "m", [(1, "a", 5)]), WriteDisposition.MERGE)
    plan = dest.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_streaming_upserts_through_tombstone_destination(spark, tmp_path):
    """Streaming epochs MERGE-commit into the tombstone destination:
    keyed upserts across micro-batches resolve to latest values on
    read, while the first epoch's segment files stay untouched."""
    from pyspark.sql import types as T

    from cdf_spark.sources.base import ResourceDescriptor, WriteDisposition
    from cdf_spark.streaming.epochs import StreamExtent
    from cdf_spark.streaming.pipeline import StreamingLoadPipeline

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(stream_dir / "b1"))

    dest = TombstoneParquetDestination(tmp_path / "t", merge_keys=["event_id"])
    pipe = StreamingLoadPipeline(
        descriptor=ResourceDescriptor("ev_t", primary_key=["event_id"]),
        source_path=str(stream_dir) + "/*",
        schema=schema,
        package_root=str(tmp_path / "pkgs"),
        ledger_root=str(tmp_path / "ledger"),
        destination=dest,
        disposition=WriteDisposition.MERGE,
        extent=StreamExtent.DRAIN,
    )
    epochs = pipe.run(spark)
    assert len(epochs) == 1 and epochs[0].receipt_verified

    spark.createDataFrame(
        [(2, 21, 22.0), (4, 40, 4.0)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(stream_dir / "b2"))
    pipe.epochs = []
    epochs = pipe.run(spark)
    assert len(epochs) == 1 and epochs[0].receipt_verified

    got = {(r.event_id): (r.seq, r.value) for r in dest.read(spark).collect()}
    assert got == {1: (10, 1.0), 2: (21, 22.0), 3: (30, 3.0), 4: (40, 4.0)}
    # first epoch's files never rewritten
    assert any((dest.table_path / "data" / "v=1").glob("*.parquet"))


def test_zone_map_version_pruning(spark, tmp_path, dest):
    """Filters prune whole version dirs via the stats each commit
    carried from its package — Spark never lists the pruned files —
    while staying purely an optimization (results identical)."""
    dest.commit(spark, _pkg(spark, tmp_path, "a", [(i, "x", i) for i in range(1, 11)]),
                WriteDisposition.APPEND)
    dest.commit(spark, _pkg(spark, tmp_path, "b", [(i, "x", i) for i in range(100, 111)]),
                WriteDisposition.APPEND)

    pruned = dest.read(spark, filters=[("k", "ge", 100)])
    files = pruned.inputFiles()
    assert files and all("v=2" in f for f in files)  # v=1 never listed
    assert sorted(r.k for r in pruned.collect()) == list(range(100, 111))

    # conservative equivalence: same result as filtering the full view
    full = dest.read(spark).filter("k >= 100")
    assert sorted(r.k for r in full.collect()) == sorted(r.k for r in pruned.collect())

    # all versions pruned -> empty result, schema intact
    none = dest.read(spark, filters=[("k", "gt", 10_000)])
    assert none.count() == 0 and set(none.columns) == {"k", "s", "val"}


@pytest.mark.parametrize("col", ["v", "V", "_cdf_version"])
def test_reserved_version_column_is_refused(spark, tmp_path, dest, col):
    """`data/v=N/` makes `v` a hive partition column that reads rename
    to `_cdf_version`: a user column of either name would silently
    become the version number, so commit refuses it and writes
    nothing."""
    pkg = _pkg(spark, tmp_path, "r", [(1, "a", 10)], schema=f"k long, s string, {col} long")
    with pytest.raises(ValueError, match=f"'{col}'"):
        dest.commit(spark, pkg, WriteDisposition.APPEND)
    assert not (dest.table_path / "data").exists()
    assert not (dest.table_path / "_version.json").exists()
