"""Round-8 regression tests: each test falsifies one of the
advisor-flagged defects from round 7's review —

1. Iceberg tags silently destroyed by the next writer commit
   (writer resume never loaded `refs`; `_write_metadata` dropped them);
2. `changelog_scan` replaying copy-on-write overwrites as blind
   inserts (and maintenance rewrites committing as 'overwrite');
3. Delta `table_changes` silently returning a PARTIAL change set when
   `clean_log` removed versions inside the requested window;
4. `_footer_stats` stamping min/max merged from a SUBSET of row
   groups (understated bounds -> data skipping prunes matching rows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdf_spark.plans.layout import scan_file_key
from cdf_spark.sources.delta import (
    DeltaError,
    DeltaFixtureWriter,
    DeltaTable,
    _footer_stats,
)
from cdf_spark.sources.iceberg import (
    IcebergError,
    IcebergFixtureWriter,
    IcebergTable,
)


# -- 1. tags survive writer resume + commit --------------------------------


def test_tag_survives_resumed_writer_commit(spark, tmp_path, orders):
    """create_tag -> NEW writer instance commits -> the tag must still
    resolve, and expire_snapshots must still pin the tagged snapshot.
    The old writer rebuilt metadata.json without `refs`, so the first
    post-tag commit erased every tag and a later expiry deleted the
    'pinned' snapshot's data files — silent data loss."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=11)
    w.append(o.limit(40), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    tagged_sid = t.create_tag("audit-v1")

    # resume: destinations construct a fresh writer per run
    w2 = IcebergFixtureWriter(tmp_path / "t", seed=12)
    w2.append(o.offset(40).limit(30), timestamp_ms=2_000)
    w2.append(o.offset(70).limit(20), timestamp_ms=3_000)

    t2 = IcebergTable(tmp_path / "t")
    assert t2.ref_snapshot("audit-v1") == tagged_sid  # tag still there
    # expiry with orphan deletion keeps the tagged snapshot readable
    t2.expire_snapshots(keep_last=1, delete_orphans=True)
    t3 = IcebergTable(tmp_path / "t")
    assert t3.ref_snapshot("audit-v1") == tagged_sid
    assert t3.read(spark, tag="audit-v1").count() == 40


def test_tag_survives_schema_evolution_commit(tmp_path, orders):
    """Metadata-only commits (rename/add column) rewrite metadata.json
    too — refs must ride through those as well."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=13)
    w.append(o.limit(10), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    t.create_tag("pin")
    w2 = IcebergFixtureWriter(tmp_path / "t", seed=14)
    w2.rename_column("o_totalprice", "price")
    t2 = IcebergTable(tmp_path / "t")
    assert t2.ref_snapshot("pin") == t.ref_snapshot("pin")


# -- 2. changelog vs copy-on-write overwrites ------------------------------


def test_changelog_derives_cow_overwrite_net_changes(spark, tmp_path, orders):
    """overwrite()/replace_files() add data files with NO delete files.
    r8 raised here; r10 derives the change set from manifests (removed
    files' parent rows = delete preimages, added files = inserts, a
    multiset EXCEPT-ALL cancels rewritten-unchanged false pairs) — the
    net-changes mode of Spark's own changelog procedure. The pre-r10
    refusal survives behind cow_mode='refuse'."""
    from pyspark.sql import functions as F

    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=21)
    w.append(o.filter(F.col("o_orderkey") <= 200), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    s0 = t.current_snapshot_id()
    # CoW overwrite: keeps rows <= 100 unchanged, drops (100, 200]
    w.overwrite(o.filter(F.col("o_orderkey") <= 100), timestamp_ms=2_000)
    t2 = IcebergTable(tmp_path / "t")
    ch = t2.changelog_scan(spark, from_snapshot_id=s0)
    got = {(r.o_orderkey, r._change_type) for r in ch.collect()}
    want = {
        (r.o_orderkey, "delete")
        for r in o.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        ).collect()
    }
    assert got == want  # unchanged rows produced NO false pairs
    with pytest.raises(IcebergError, match="refuse"):
        t2.changelog_scan(spark, from_snapshot_id=s0, cow_mode="refuse").count()
    # pairs mode: carried-over rows appear as delete+insert pairs
    pairs = t2.changelog_scan(spark, from_snapshot_id=s0, cow_mode="pairs")
    n_del = pairs.filter(F.col("_change_type") == "delete").count()
    n_ins = pairs.filter(F.col("_change_type") == "insert").count()
    assert n_del == o.filter(F.col("o_orderkey") <= 200).count()
    assert n_ins == o.filter(F.col("o_orderkey") <= 100).count()


def test_changelog_skips_layout_rewrites(spark, tmp_path, orders):
    """rewrite_sorted / rewrite_zorder are maintenance (same rows, new
    layout) and now commit as 'replace': a changelog window spanning
    them must contribute NOTHING for the rewrite — not replay the
    table, not raise."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=22)
    w.append(o.limit(40), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    s0 = t.current_snapshot_id()
    w.append(o.offset(40).limit(10), timestamp_ms=2_000)
    w.rewrite_sorted(spark, by=["o_orderkey"], target_files=2, timestamp_ms=3_000)
    w.rewrite_zorder(
        spark, by=["o_orderkey", "o_totalprice"], target_files=2, timestamp_ms=4_000
    )
    t2 = IcebergTable(tmp_path / "t")
    ch = t2.changelog_scan(spark, from_snapshot_id=s0)
    counts = {
        r["_change_type"]: r["count"]
        for r in ch.groupBy("_change_type").count().collect()
    }
    assert counts == {"insert": 10}  # only the real append


def test_changelog_pos_delete_preimages(spark, tmp_path, orders):
    """Positional-delete commits (what Spark/Trino MERGE writes): the
    changelog derives exact delete preimages from the parent snapshot
    at the delete files' (file, pos) addresses."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=23)
    s1 = w.append(o.filter("o_orderkey <= 60"), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    located = (
        t.read(spark, snapshot_id=s1)
        .withColumn("_f", scan_file_key())
        .withColumn("_p", F.col("_metadata.row_index"))
        .filter(F.col("o_orderkey").isin(3, 7, 11))
        .select("_f", "_p", "o_orderkey")
        .collect()
    )
    assert len(located) == 3
    w.delete_positions([(r._f, r._p) for r in located], timestamp_ms=2_000)
    t2 = IcebergTable(tmp_path / "t")
    ch = t2.changelog_scan(spark, from_snapshot_id=s1).collect()
    assert {r["_change_type"] for r in ch} == {"delete"}
    assert sorted(r["o_orderkey"] for r in ch) == [3, 7, 11]
    # replay still nets out to the live row count
    full = t2.changelog_scan(spark)
    net = (
        full.filter("_change_type = 'insert'").count()
        - full.filter("_change_type = 'delete'").count()
    )
    assert net == t2.read(spark).count()


# -- 3. Delta CDF window completeness after clean_log ----------------------


def test_table_changes_raises_on_cleaned_gap(spark, tmp_path, orders):
    o = orders.select("o_orderkey", "o_totalprice")
    w = DeltaFixtureWriter(tmp_path / "d", change_data_feed=True)
    w.append(o.limit(10), timestamp_ms=1_000)
    w.append(o.offset(10).limit(10), timestamp_ms=2_000)
    w.append(o.offset(20).limit(10), timestamp_ms=3_000)
    w.checkpoint()
    removed = w.clean_log(before_version=2)
    assert removed  # versions 0..1 gone
    t2 = DeltaTable(tmp_path / "d")
    with pytest.raises(DeltaError, match="incomplete"):
        t2.table_changes(spark, from_version=0)
    # a window entirely inside the surviving log still replays
    assert t2.table_changes(spark, from_version=2).count() == 10


# -- 4. footer stats require FULL row-group coverage -----------------------


def test_footer_stats_drop_partially_covered_columns(tmp_path):
    """File with two row groups where the string column's stats are
    usable in only one (the other's bounds exceed the 64-char
    truncation guard): stamping bounds from the covered subset would
    understate the file's true range and data skipping could prune a
    file that CONTAINS matching rows. The column must be dropped
    (unbounded); fully-covered columns still stamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "mixed.parquet"
    t1 = pa.table({"k": pa.array([1, 2], pa.int64()), "s": ["a", "b"]})
    t2 = pa.table({"k": pa.array([3, 4], pa.int64()), "s": ["z" * 100, "z" * 100]})
    with pq.ParquetWriter(path, t1.schema) as wr:
        wr.write_table(t1)  # row group 1: short strings, stats usable
        wr.write_table(t2)  # row group 2: >64-char bounds, skipped
    stats = _footer_stats(path)
    assert stats["numRecords"] == 4
    assert stats["minValues"]["k"] == 1 and stats["maxValues"]["k"] == 4
    # 's' covered in only 1 of 2 row groups -> must NOT be stamped
    assert "s" not in stats.get("minValues", {})
    assert "s" not in stats.get("maxValues", {})


# -- 5. nested column mapping (the r7 refusal, closed) ----------------------


def _nested_orders(orders):
    return orders.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").alias("price"),
        ).alias("s"),
        F.array(F.struct(F.col("o_orderpriority").alias("pri"))).alias("arr"),
    ).filter("o_orderkey <= 200")


@pytest.mark.parametrize("mode", ["name", "id"])
def test_nested_column_mapping_roundtrip(spark, tmp_path, orders, mode):
    """struct + array<struct> columns on a column-mapped table: the
    data files carry PHYSICAL names at every depth, the read restores
    logical names at every depth, values survive, and a DV delete
    predicates on a NESTED logical field."""
    nested = _nested_orders(orders)
    w = DeltaFixtureWriter(tmp_path / "t", column_mapping=mode)
    w.append(nested, timestamp_ms=1_000)

    # physical check: raw parquet must NOT leak logical nested names
    t = DeltaTable(tmp_path / "t")
    f = (t.root / t.files_for_version(t.current_version())[0]).as_posix()
    raw = spark.read.parquet(f)
    assert "s" not in raw.columns and "arr" not in raw.columns
    struct_cols = [c for c in raw.schema.fields if c.dataType.typeName() == "struct"]
    assert struct_cols and all(
        n.startswith("col-") for n in struct_cols[0].dataType.fieldNames()
    )

    df = t.read(spark)
    assert df.schema["s"].dataType.fieldNames() == ["cust", "price"]
    assert df.schema["arr"].dataType.elementType.fieldNames() == ["pri"]
    expect = nested.select("o_orderkey", "s.cust").orderBy("o_orderkey").collect()
    got = df.select("o_orderkey", "s.cust").orderBy("o_orderkey").collect()
    assert got == expect

    # DV delete against a nested logical field
    w.delete_where(spark, "s.cust < 100", timestamp_ms=2_000)
    t2 = DeltaTable(tmp_path / "t")
    after = t2.read(spark)
    assert after.filter("s.cust < 100").count() == 0
    assert after.count() == nested.filter("s.cust >= 100").count()


def test_nested_column_mapping_widen(spark, tmp_path, orders):
    """schema widening adds a NESTED column to a mapped table: the new
    struct's inner fields get fresh mapping ids past the existing max,
    and both old and new rows read back under logical names."""
    nested = _nested_orders(orders)
    w = DeltaFixtureWriter(tmp_path / "t", column_mapping="name")
    w.append(nested.limit(50), timestamp_ms=1_000)
    widened = nested.offset(50).limit(30).withColumn(
        "extra", F.struct(F.lit(7).alias("depth"))
    )
    w.append(widened, timestamp_ms=2_000)
    t = DeltaTable(tmp_path / "t")
    df = t.read(spark)
    assert df.schema["extra"].dataType.fieldNames() == ["depth"]
    assert df.filter("extra.depth = 7").count() == 30
    assert df.filter("extra is null").count() == 50
    # mapping ids are unique across every depth
    import json as _json

    md = t.metadata_for_version(t.current_version())
    ids = []

    def walk(fs):
        for fld in fs:
            meta = fld.get("metadata") or {}
            if "delta.columnMapping.id" in meta:
                ids.append(meta["delta.columnMapping.id"])
            ty = fld.get("type")
            if isinstance(ty, dict) and ty.get("type") == "struct":
                walk(ty.get("fields", []))
            elif isinstance(ty, dict) and ty.get("type") == "array":
                el = ty.get("elementType")
                if isinstance(el, dict) and el.get("type") == "struct":
                    walk(el.get("fields", []))

    walk(_json.loads(md["schemaString"])["fields"])
    # 4 top-level (o_orderkey, s, arr, extra) + 4 nested (cust, price, pri, depth)
    assert len(ids) == len(set(ids)) == 8


# -- 6. CDC through RESTORE --------------------------------------------------


def test_restore_emits_cdf_and_replays(spark, tmp_path, orders):
    """RESTORE on a CDF table writes its own change-data files: rows
    the restore brings back are inserts, rows it undoes are deletes,
    and table_changes replays through the restore commit instead of
    raising. Unchanged files contribute nothing."""
    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w = DeltaFixtureWriter(tmp_path / "t", change_data_feed=True)
    w.append(o.filter("o_orderkey <= 100"), timestamp_ms=1_000)  # v0
    w.delete_where(spark, "o_orderkey <= 20", timestamp_ms=2_000)  # v1 DV
    w.append(
        o.filter("o_orderkey > 100 AND o_orderkey <= 150"), timestamp_ms=3_000
    )  # v2
    w.restore(0, timestamp_ms=4_000, spark=spark)  # v3
    t = DeltaTable(tmp_path / "t")
    feed = t.table_changes(spark, 3)  # the restore commit alone
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    n_restored = o.filter("o_orderkey <= 20").count()
    n_undone = o.filter("o_orderkey > 100 AND o_orderkey <= 150").count()
    assert by_type == {"insert": n_restored, "delete": n_undone}
    # full-history replay nets to the restored state
    full = t.table_changes(spark, 0)
    net = (
        full.groupBy("o_orderkey")
        .agg(
            F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(-1)).alias("n")
        )
        .filter("n > 0")
        .count()
    )
    assert net == t.read(spark).count() == o.filter("o_orderkey <= 100").count()


def test_restore_cdf_requires_spark(spark, tmp_path, orders):
    o = orders.select("o_orderkey").limit(10)
    w = DeltaFixtureWriter(tmp_path / "t", change_data_feed=True)
    w.append(o, timestamp_ms=1_000)
    w.append(o, timestamp_ms=2_000)
    with pytest.raises(DeltaError, match="pass `spark`"):
        w.restore(0, timestamp_ms=3_000)


def test_restore_cdf_across_schema_widening(spark, tmp_path, orders):
    """Restore across a widening commit: the undone rows carry the
    added column, the restored side null-fills it — the same way the
    restored state reads back under the current schema."""
    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w = DeltaFixtureWriter(tmp_path / "t", change_data_feed=True)
    w.append(o.filter("o_orderkey <= 50"), timestamp_ms=1_000)  # v0
    w.append(
        o.filter("o_orderkey > 50 AND o_orderkey <= 80").withColumn(
            "tag", F.lit("late")
        ),
        timestamp_ms=2_000,
    )  # v1 widens
    w.restore(0, timestamp_ms=3_000, spark=spark)  # v2
    t = DeltaTable(tmp_path / "t")
    feed = t.table_changes(spark, 2)
    rows = feed.collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert len(rows) == o.filter("o_orderkey > 50 AND o_orderkey <= 80").count()
    assert all(r["tag"] == "late" for r in rows)
    assert t.read(spark).count() == o.filter("o_orderkey <= 50").count()
