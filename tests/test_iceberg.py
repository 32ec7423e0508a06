"""Apache-Iceberg-format reader: version-hint/metadata.json resolution,
manifest-list/manifest Avro walking, snapshot pinning, time travel, and
parent-ancestry incremental consumption
(`crates/cdf-source-iceberg/src/driver.rs:902-1060` semantics over the
real Iceberg directory layout, jar-free)."""

from __future__ import annotations

import json

import pytest

from cdf_spark.plans.layout import scan_file_key
from cdf_spark.positions import TableSnapshotPosition
from cdf_spark.sources.iceberg import (
    IcebergError,
    IcebergFixtureWriter,
    IcebergTable,
    is_iceberg_layout,
)

# Deliberately NON-monotONE random-looking ids: snapshot 2 has a SMALLER
# id than snapshot 1 — any reader ordering by id (instead of walking
# parent-snapshot-id / sequence-number) silently drops snapshot 2's
# files, which is exactly the bug class the ancestry walk prevents.
IDS = [7_000_000_000_000_000_001, 42, 5_000_000_000_000_000_003]


@pytest.fixture()
def table(spark, tmp_path, orders):
    w = IcebergFixtureWriter(tmp_path / "t", seed=7)
    o = orders.select("o_orderkey", "o_totalprice")
    w.append(o.limit(100), timestamp_ms=1_000, snapshot_id=IDS[0])
    w.append(o.offset(100).limit(50), timestamp_ms=2_000, snapshot_id=IDS[1])
    w.append(o.offset(150).limit(25), timestamp_ms=3_000, snapshot_id=IDS[2])
    return IcebergTable(tmp_path / "t")


def test_layout_detection(table, tmp_path):
    assert is_iceberg_layout(table.root)
    assert not is_iceberg_layout(tmp_path)  # no metadata/ at all
    # SnapshotTable-style layout (metadata/ but no *.metadata.json)
    (tmp_path / "other" / "metadata").mkdir(parents=True)
    assert not is_iceberg_layout(tmp_path / "other")


def test_version_hint_resolution_and_current(table):
    assert table.current_snapshot_id() == IDS[2]
    assert table.metadata["format-version"] == 2
    assert table.metadata["last-sequence-number"] == 3


def test_no_hint_falls_back_to_newest_metadata(table):
    (table.meta_dir / "version-hint.text").unlink()
    t2 = IcebergTable(table.root)
    assert t2.current_snapshot_id() == IDS[2]


def test_snapshot_pinned_reads(spark, table):
    assert table.read(spark, snapshot_id=IDS[0]).count() == 100
    assert table.read(spark, snapshot_id=IDS[1]).count() == 150
    assert table.read(spark).count() == 175  # current


def test_time_travel_as_of(spark, table):
    assert table.read(spark, as_of_ms=1_500).count() == 100
    assert table.read(spark, as_of_ms=2_000).count() == 150
    with pytest.raises(IcebergError):
        table.snapshot_as_of(500)


def test_ancestry_walk_orders_by_parent_chain_not_id(table):
    chain = table.ancestry()
    assert [int(s["snapshot-id"]) for s in chain] == [IDS[2], IDS[1], IDS[0]]
    assert [int(s["sequence-number"]) for s in chain] == [3, 2, 1]


def test_position_carries_sequence_number(table):
    pos = table.position()
    assert pos == TableSnapshotPosition(snapshot_id=IDS[2], sequence_number=3)
    # merge orders by sequence number, not by the random ids
    older = TableSnapshotPosition(snapshot_id=IDS[0], sequence_number=1)
    assert older.merge(pos) == pos
    assert pos.merge(older) == pos


def test_changes_since_survives_nonmonotone_ids(spark, table):
    # from snapshot 1: must see snapshots 2 AND 3 even though
    # id(2) < id(1) — `id > seen` ordering would lose both files
    df, pos = table.changes_since(spark, TableSnapshotPosition(snapshot_id=IDS[0]))
    assert df.count() == 75
    assert pos.snapshot_id == IDS[2] and pos.sequence_number == 3
    # from current: no changes
    df2, pos2 = table.changes_since(spark, pos)
    assert df2 is None and pos2 == pos
    # from None: full history
    df3, _ = table.changes_since(spark, None)
    assert df3.count() == 175


def test_changes_since_rejects_non_ancestor(spark, table):
    with pytest.raises(IcebergError, match="not an ancestor"):
        table.changes_since(spark, TableSnapshotPosition(snapshot_id=999))


def test_manifest_avro_roundtrip_and_added_files(table):
    # snapshot 2 added exactly its own files; snapshot 3's LIVE set is
    # the union of all three commits
    added2 = table.added_files(IDS[1])
    live3 = table.files_for_snapshot(IDS[2])
    assert added2 and set(added2) <= set(live3)
    assert len(live3) > len(added2)


def test_scan_negotiated_pushdown(spark, table):
    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest

    req = ScanRequest(
        "iceberg_orders",
        projection=["o_orderkey", "o_totalprice"],
        predicates=[Col("o_totalprice") > Lit(0.0)],
    )
    df, plan = table.scan(spark, req, snapshot_id=IDS[0])
    assert df.columns == ["o_orderkey", "o_totalprice"]
    assert df.count() == 100
    assert plan.pushed or plan.residual


def test_catalog_routes_real_iceberg_layout(spark, table):
    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest
    from cdf_spark.sources.base import ResourceDescriptor
    from cdf_spark.sources.catalog import (
        CatalogTable,
        CatalogTableResource,
        FileCatalog,
        StorageDescriptor,
    )

    cat = FileCatalog(
        {
            ("lake", "orders_ice"): CatalogTable(
                name="orders_ice",
                database="lake",
                table_type="EXTERNAL_TABLE",
                parameters={"table_type": "ICEBERG"},
                storage=StorageDescriptor(location=str(table.root)),
            )
        }
    )
    src = CatalogTableResource(
        ResourceDescriptor(resource_id="orders_ice"), cat, "lake", "orders_ice"
    )
    reader = src.snapshot_source()
    assert isinstance(reader, IcebergTable)
    assert reader.read(spark, snapshot_id=IDS[0]).count() == 100
    # the catalog negotiate path for iceberg-classified tables works
    # (r3: it called a method that did not exist — dead code)
    plan = src.negotiate(
        ScanRequest("orders_ice", predicates=[Col("o_totalprice") > Lit(0.0)])
    )
    assert plan.pushed or plan.residual


def test_fixture_writer_emits_spec_shapes(table):
    meta = json.loads(table._current_metadata_path().read_text())
    snaps = {int(s["snapshot-id"]): s for s in meta["snapshots"]}
    assert snaps[IDS[1]]["parent-snapshot-id"] == IDS[0]
    assert snaps[IDS[2]]["parent-snapshot-id"] == IDS[1]
    assert snaps[IDS[0]]["parent-snapshot-id"] is None
    assert meta["current-snapshot-id"] == IDS[2]
    # manifest lists are genuine Avro containers
    assert any(p.suffix == ".avro" for p in table.meta_dir.iterdir())


def test_overwrite_resets_live_set_and_incremental(spark, tmp_path, orders):
    """Overwrite commits: the pin sees only the overwrite's files
    (copy-on-write — older snapshots stay time-travelable), and an
    incremental consumer checkpointed BEFORE the overwrite gets a full
    re-read of current, never a bogus added-files delta."""
    w = IcebergFixtureWriter(tmp_path / "t", seed=3)
    o = orders.select("o_orderkey", "o_totalprice")
    s1 = w.append(o.limit(100), timestamp_ms=1_000, snapshot_id=IDS[0])
    s2 = w.overwrite(o.offset(100).limit(40), timestamp_ms=2_000, snapshot_id=IDS[1])
    s3 = w.append(o.offset(140).limit(10), timestamp_ms=3_000, snapshot_id=IDS[2])
    t = IcebergTable(tmp_path / "t")
    assert t.read(spark, snapshot_id=s1).count() == 100  # time travel intact
    assert t.read(spark, snapshot_id=s2).count() == 40
    assert t.read(spark).count() == 50  # overwrite + later append

    # consumer at s1: the overwrite invalidates its seen rows -> full
    # re-read of current (50 rows), not the 50-row added delta by luck
    # but by the operation check — make that explicit:
    df, pos = t.changes_since(spark, TableSnapshotPosition(snapshot_id=s1))
    assert pos.snapshot_id == s3
    assert df.count() == 50
    assert {r.o_orderkey for r in df.collect()} == {
        r.o_orderkey for r in t.read(spark).collect()
    }
    # consumer at s2 (after the overwrite): plain added-files delta
    df2, _ = t.changes_since(spark, TableSnapshotPosition(snapshot_id=s2))
    assert df2.count() == 10


def test_positional_deletes_merge_on_read(spark, tmp_path, orders):
    """v2 positional deletes: a content=1 delete file removes exactly
    the (file, row_index) rows it names; the pre-delete pin still sees
    them (merge-on-read, no data rewrite)."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=9)
    o = orders.select("o_orderkey", "o_totalprice")
    s1 = w.append(o.filter(F.col("o_orderkey") <= 50), timestamp_ms=1000, snapshot_id=IDS[0])
    t = IcebergTable(tmp_path / "t")
    # choose victims by key, resolving their physical (file, pos) via
    # the same metadata columns the reader uses
    located = (
        t.read(spark, snapshot_id=s1)
        .withColumn("_f", scan_file_key())
        .withColumn("_p", F.col("_metadata.row_index"))
        .filter(F.col("o_orderkey").isin(5, 10, 15))
        .select("_f", "_p")
        .collect()
    )
    assert len(located) == 3
    s2 = w.delete_positions([(r._f, r._p) for r in located], timestamp_ms=2000, snapshot_id=IDS[1])

    t = IcebergTable(tmp_path / "t")
    cur = t.read(spark)
    assert cur.count() == 48
    assert cur.filter(F.col("o_orderkey").isin(5, 10, 15)).count() == 0
    # time travel to the pre-delete snapshot still sees all 51 rows
    assert t.read(spark, snapshot_id=s1).count() == 51
    # the delete commit is non-append: an incremental consumer at s1
    # resets to a full (delete-applied) re-read
    df, pos = t.changes_since(spark, TableSnapshotPosition(snapshot_id=s1))
    assert pos.snapshot_id == s2 and df.count() == 48


def test_equality_deletes_merge_on_read(spark, tmp_path, orders):
    """v2 equality deletes: rows matching the delete file's values on
    the equality columns disappear; resolution goes through field IDS
    in the metadata schema, not column names directly."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=21)
    o = orders.select("o_orderkey", "o_totalprice")
    s1 = w.append(o.filter(F.col("o_orderkey") <= 60), timestamp_ms=1000, snapshot_id=IDS[0])
    s2 = w.delete_equality(
        [{"o_orderkey": 7}, {"o_orderkey": 13}, {"o_orderkey": 999999}],  # one miss
        ["o_orderkey"],
        timestamp_ms=2000,
        snapshot_id=IDS[1],
    )
    t = IcebergTable(tmp_path / "t")
    # manifest carries field ids, resolved back through metadata schema
    assert t.equality_deletes_for_snapshot(s2)[0][1] == ["o_orderkey"]
    cur = t.read(spark)
    assert cur.count() == 59
    assert cur.filter(F.col("o_orderkey").isin(7, 13)).count() == 0
    assert t.read(spark, snapshot_id=s1).count() == 61  # pre-delete pin intact
    # later appends coexist with the standing delete set
    w.append(o.filter((F.col("o_orderkey") > 60) & (F.col("o_orderkey") <= 80)),
             timestamp_ms=3000, snapshot_id=IDS[2])
    assert IcebergTable(tmp_path / "t").read(spark).count() == 79


def test_equality_delete_then_reinsert_keeps_new_rows(spark, tmp_path, orders):
    """Sequence-number scoping (v2 spec): an equality delete applies
    only to data files with STRICTLY LOWER data sequence number. A row
    re-inserted by a data commit AFTER the delete commit must survive
    the read — the Flink-CDC-upsert pattern real tables produce."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=33)
    o = orders.select("o_orderkey", "o_totalprice")
    w.append(o.filter(F.col("o_orderkey") <= 60), timestamp_ms=1000, snapshot_id=IDS[0])
    w.delete_equality([{"o_orderkey": 7}], ["o_orderkey"], timestamp_ms=2000,
                      snapshot_id=IDS[1])
    # re-insert key 7 with a sentinel value AFTER the delete commit
    reinserted = spark.createDataFrame([(7, -99.0)], "o_orderkey long, o_totalprice double")
    w.append(reinserted, timestamp_ms=3000, snapshot_id=IDS[2])
    t = IcebergTable(tmp_path / "t")
    cur = t.read(spark)
    hit = cur.filter(F.col("o_orderkey") == 7).collect()
    assert len(hit) == 1  # the REINSERTED row survives; the original is deleted
    assert hit[0].o_totalprice == -99.0
    # original-count check: 60 keys at s1, minus key 7, plus re-insert
    base = o.filter(F.col("o_orderkey") <= 60).count()
    assert cur.count() == base  # -1 deleted +1 reinserted
    # pre-delete pin unaffected; post-delete pre-reinsert pin drops key 7
    assert t.read(spark, snapshot_id=IDS[0]).filter(F.col("o_orderkey") == 7).count() == 1
    assert t.read(spark, snapshot_id=IDS[1]).filter(F.col("o_orderkey") == 7).count() == 0


def test_file_pruning_from_manifest_bounds(spark, tmp_path, orders):
    """scan() prunes data files whose manifest column bounds provably
    exclude the pushed predicates (driver.rs:902-1060 negotiates the
    same snapshot+predicate planning); pruning is conservative —
    unknown columns/ops keep the file — and the surviving files still
    pass exact row filters, so results are identical to an unpruned
    scan."""
    from pyspark.sql import functions as F

    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest

    w = IcebergFixtureWriter(tmp_path / "t", seed=44)
    o = orders.select("o_orderkey", "o_totalprice")
    # three commits with disjoint key ranges -> distinct file bounds
    w.append(o.filter(F.col("o_orderkey") <= 400).coalesce(1),
             timestamp_ms=1000, snapshot_id=IDS[0])
    w.append(o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)).coalesce(1),
             timestamp_ms=2000, snapshot_id=IDS[1])
    w.append(o.filter(F.col("o_orderkey") > 900).coalesce(1),
             timestamp_ms=3000, snapshot_id=IDS[2])
    t = IcebergTable(tmp_path / "t")

    req = ScanRequest("ice", predicates=[Col("o_orderkey") <= Lit(400)])
    df, plan = t.scan(spark, req)
    meta = plan.partitions.meta
    assert meta["files_total"] == 3
    assert meta["files_kept"] == 1       # only the first commit's file
    assert meta["files_pruned"] == 2
    expect = o.filter(F.col("o_orderkey") <= 400).count()
    assert df.count() == expect

    # point query: middle range only
    df2, plan2 = t.scan(spark, ScanRequest("ice", predicates=[Col("o_orderkey") == Lit(600)]))
    assert plan2.partitions.meta["files_kept"] == 1
    assert df2.count() == orders.filter(F.col("o_orderkey") == 600).count()

    # predicate excluding everything -> zero files, empty result, schema kept
    df3, plan3 = t.scan(spark, ScanRequest("ice", predicates=[Col("o_orderkey") > Lit(10_000_000)]))
    assert plan3.partitions.meta["files_kept"] == 0
    assert df3.count() == 0
    assert df3.columns == ["o_orderkey", "o_totalprice"]

    # unknown column -> undecidable -> nothing pruned (checked at the
    # planner level; scan() itself would rightly fail analysis on a
    # predicate over a column the table lacks)
    _, meta4 = t.data_files_pruned(
        int(t.current_snapshot_id()), [Col("no_such") == Lit(1)]
    )
    assert meta4["files_pruned"] == 0


def test_schema_evolution_rename_and_add(spark, tmp_path, orders):
    """Schema evolution by FIELD ID: a rename keeps the id, so files
    written before the rename resolve to the new name; an added column
    gets a fresh id and reads as null from pre-add files. Bounds-based
    pruning keeps working across the rename (bounds are keyed by field
    id, not name)."""
    from pyspark.sql import functions as F

    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest

    w = IcebergFixtureWriter(tmp_path / "t", seed=55)
    o = orders.select("o_orderkey", "o_totalprice")
    w.append(o.filter(F.col("o_orderkey") <= 400).coalesce(1),
             timestamp_ms=1000, snapshot_id=IDS[0])
    w.rename_column("o_totalprice", "price")
    w.add_column("channel", "string")
    newer = (
        orders.filter(F.col("o_orderkey") > 400)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.lit("web").alias("channel"),
        )
        .coalesce(1)
    )
    w.append(newer, timestamp_ms=2000, snapshot_id=IDS[1])

    t = IcebergTable(tmp_path / "t")
    cur = t.read(spark)
    assert cur.columns == ["o_orderkey", "price", "channel"]
    assert cur.count() == orders.count()
    # pre-rename file rows resolved into the NEW name, non-null values
    old_rows = cur.filter(F.col("o_orderkey") <= 400)
    assert old_rows.filter(F.col("price").isNull()).count() == 0
    # added column: null for pre-add files, populated after
    assert old_rows.filter(F.col("channel").isNotNull()).count() == 0
    assert cur.filter(F.col("o_orderkey") > 400).filter(F.col("channel") == "web").count() > 0
    # values survived the rename bit-for-bit
    expect = orders.filter(F.col("o_orderkey") <= 400).agg(F.sum("o_totalprice")).collect()[0][0]
    got = old_rows.agg(F.sum("price")).collect()[0][0]
    assert abs(got - expect) < 1e-6
    # bounds pruning across the rename: predicate on the NEW name must
    # still prune the pre-rename file (bounds keyed by field id)
    _, plan = t.scan(spark, ScanRequest("ice", predicates=[Col("o_orderkey") > Lit(400)]))
    assert plan.partitions.meta["files_total"] == 2
    assert plan.partitions.meta["files_kept"] == 1


def test_schema_evolution_equality_delete_across_rename(spark, tmp_path, orders):
    """An equality delete committed BEFORE a rename still applies after
    it: the delete file's match column resolves through the field id to
    the current name."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=66)
    o = orders.select("o_orderkey", "o_totalprice")
    w.append(o.filter(F.col("o_orderkey") <= 60), timestamp_ms=1000, snapshot_id=IDS[0])
    w.delete_equality([{"o_orderkey": 7}], ["o_orderkey"], timestamp_ms=2000, snapshot_id=IDS[1])
    w.rename_column("o_orderkey", "order_id")
    t = IcebergTable(tmp_path / "t")
    cur = t.read(spark)
    assert cur.columns == ["order_id", "o_totalprice"]
    assert cur.filter(F.col("order_id") == 7).count() == 0
    assert cur.count() == orders.filter(F.col("o_orderkey") <= 60).count() - 1


def test_expire_snapshots_retention_and_orphans(spark, tmp_path, orders):
    """expire_snapshots drops history outside the retention window via
    a NEW metadata version, reports files referenced only by expired
    snapshots as orphans, keeps the current read intact, and makes
    incremental resume from an expired position fail loudly."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=77)
    o = orders.select("o_orderkey", "o_totalprice")
    s1 = w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000, snapshot_id=IDS[0])
    # OVERWRITE: s1's files become dead weight only time travel needs
    w.overwrite(o.filter(F.col("o_orderkey") > 400), timestamp_ms=2000, snapshot_id=IDS[1])
    w.append(o.filter(F.col("o_orderkey") <= 100), timestamp_ms=3000, snapshot_id=IDS[2])

    t = IcebergTable(tmp_path / "t")
    before = t.read(spark).count()
    s1_files = set(t.files_for_snapshot(s1))

    res = t.expire_snapshots(keep_last=2)
    assert res["expired"] == [s1]
    assert len(res["retained"]) == 2
    # s1's data files are referenced by no retained snapshot -> orphans
    assert s1_files <= set(res["orphan_files"])
    assert not res["deleted"]  # listing only by default

    # fresh reader over the new metadata version
    t2 = IcebergTable(tmp_path / "t")
    assert t2.read(spark).count() == before  # current state untouched
    with pytest.raises(IcebergError, match="not in table metadata"):
        t2.read(spark, snapshot_id=s1)  # expired pin gone
    with pytest.raises(IcebergError, match="not an ancestor|expired"):
        t2.changes_since(spark, TableSnapshotPosition(snapshot_id=s1))
    # resume from a RETAINED position still works
    df, _ = t2.changes_since(spark, TableSnapshotPosition(snapshot_id=IDS[1]))
    assert df.count() == orders.filter(F.col("o_orderkey") <= 100).count()

    # actual deletion removes exactly the orphans, current read survives
    res2 = IcebergTable(tmp_path / "t").expire_snapshots(keep_last=1, delete_orphans=True)
    assert res2["deleted"]
    t3 = IcebergTable(tmp_path / "t")
    assert t3.read(spark).count() == before


def test_partitioned_table_pruning_and_summaries(spark, tmp_path, orders):
    """Identity-partitioned table: entries carry typed partition
    records, manifest-list rows carry field summaries, and pruning
    works at BOTH levels — whole manifests skipped from summaries
    without being opened, then per-file partition values applied as
    exact (v, v) intervals."""
    from pyspark.sql import functions as F

    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest

    w = IcebergFixtureWriter(tmp_path / "t", seed=88, partition_by=["o_orderstatus"])
    o = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    # commit per status subset so each manifest's summary is narrow
    w.append(o.filter(F.col("o_orderstatus") == "F"), timestamp_ms=1000, snapshot_id=IDS[0])
    w.append(o.filter(F.col("o_orderstatus") == "O"), timestamp_ms=2000, snapshot_id=IDS[1])
    w.append(o.filter(F.col("o_orderstatus") == "P"), timestamp_ms=3000, snapshot_id=IDS[2])

    t = IcebergTable(tmp_path / "t")
    # spec landed in metadata
    spec = t.metadata["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "identity" and spec["name"] == "o_orderstatus"

    df, plan = t.scan(
        spark, ScanRequest("ice", predicates=[Col("o_orderstatus") == Lit("P")])
    )
    meta = plan.partitions.meta
    assert meta["manifests_total"] == 3
    assert meta["manifests_skipped"] == 2  # F and O manifests never opened
    assert meta["files_kept"] >= 1 and meta["files_pruned"] == 0
    assert df.count() == o.filter(F.col("o_orderstatus") == "P").count()
    # full read still complete
    assert t.read(spark).count() == o.count()


def test_partitioned_metadata_only_column_reconstituted(spark, tmp_path, orders):
    """omit_partition_cols: the source column is NOT in the parquet
    (Flink-style metadata-only identity partitioning); reads must
    reconstitute it from the manifest partition record as a per-group
    constant, and partition pruning still applies."""
    from pyspark.sql import functions as F

    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest

    w = IcebergFixtureWriter(
        tmp_path / "t", seed=99, partition_by=["o_orderstatus"], omit_partition_cols=True
    )
    o = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    w.append(o, timestamp_ms=1000, snapshot_id=IDS[0])

    t = IcebergTable(tmp_path / "t")
    # the physical files lack the column; the read must still carry it
    raw = spark.read.parquet(t.files_for_snapshot(IDS[0])[0])
    assert "o_orderstatus" not in raw.columns
    cur = t.read(spark)
    assert cur.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    got = {r.o_orderstatus: r.n for r in cur.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    want = {r.o_orderstatus: r.n for r in o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
    # predicate on the metadata-only column prunes by partition value
    df, plan = t.scan(
        spark, ScanRequest("ice", predicates=[Col("o_orderstatus") == Lit("F")])
    )
    assert plan.partitions.meta["files_pruned"] > 0
    assert df.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_metadata_tables(spark, table):
    """snapshots/files/manifests metadata tables: the observability
    surface (`table$snapshots` family) as plain DataFrames."""
    snaps = table.metadata_table(spark, "snapshots")
    assert snaps.count() == 3
    assert set(snaps.columns) == {
        "snapshot_id", "parent_id", "sequence_number",
        "committed_at_ms", "operation", "schema_id",
    }
    # the ancestry is reconstructible from parent_id
    by_id = {r.snapshot_id: r for r in snaps.collect()}
    assert by_id[IDS[1]].parent_id == IDS[0]
    assert by_id[IDS[2]].parent_id == IDS[1]
    assert {r.operation for r in snaps.collect()} == {"append"}

    files = table.metadata_table(spark, "files")
    assert files.count() == len(table.files_for_snapshot(IDS[2]))
    assert files.filter("record_count <= 0").count() == 0
    assert files.filter("sequence_number between 1 and 3").count() == files.count()

    mans = table.metadata_table(spark, "manifests")
    assert mans.count() == 3  # one per commit, all referenced by current

    # refs table: implicit main + declared tags/branches
    table.create_tag("pin", IDS[0])
    refs = {r.name: (r.type, r.snapshot_id) for r in table.metadata_table(spark, "refs").collect()}
    assert refs["main"] == ("branch", IDS[2])
    assert refs["pin"] == ("tag", IDS[0])

    import pytest as _pytest

    with _pytest.raises(IcebergError, match="unknown metadata table"):
        table.metadata_table(spark, "partitions")


def test_changelog_scan_semantics(spark, tmp_path, orders):
    """Changelog edges: from-snapshot windows, maintenance rewrites
    contribute nothing, positional-delete commits raise honestly,
    non-ancestor from raises."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=5)
    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w.append(o.filter("o_orderkey <= 100"), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    s0 = t.current_snapshot_id()
    w.append(o.filter("o_orderkey > 100 AND o_orderkey <= 150"), timestamp_ms=2_000)
    w.upsert(
        o.filter("o_orderkey <= 20").withColumn("o_totalprice", F.lit(-1.0)),
        ["o_orderkey"],
        timestamp_ms=3_000,
    )
    w.rewrite_small_files(spark, small_bytes=1 << 30, timestamp_ms=4_000)  # replace
    t = IcebergTable(tmp_path / "t")
    # window strictly after s0: append(50 ins) + upsert(20 del + 20 ins)
    ch = t.changelog_scan(spark, from_snapshot_id=s0)
    counts = {r["_change_type"]: r["count"] for r in ch.groupBy("_change_type").count().collect()}
    assert counts == {"insert": 70, "delete": 20}
    # full-range replay nets out to the current snapshot's row count
    full = t.changelog_scan(spark)
    assert full.filter("_change_type = 'insert'").count() - full.filter(
        "_change_type = 'delete'"
    ).count() == t.read(spark).count()
    with pytest.raises(IcebergError):
        t.changelog_scan(spark, from_snapshot_id=42)
    with pytest.raises(IcebergError):
        t.changelog_scan(spark, to_snapshot_id=42)  # unknown upper bound
    # positional deletes (the Spark/Trino MERGE shape): the changelog
    # derives the delete PREIMAGE from the parent snapshot's row at
    # the (file, pos) address — r8, was a refusal before
    victim = t.files_for_snapshot(t.current_snapshot_id())[0]
    pre_sid = t.current_snapshot_id()
    w.delete_positions([(victim, 0)], timestamp_ms=5_000)
    t2 = IcebergTable(tmp_path / "t")
    tail = t2.changelog_scan(spark, from_snapshot_id=pre_sid)
    rows = tail.collect()
    assert len(rows) == 1 and rows[0]["_change_type"] == "delete"
    # the preimage is the actual row that was at (victim, 0)
    victim_row = spark.read.parquet(victim).limit(1).collect()[0]
    assert rows[0]["o_orderkey"] == victim_row["o_orderkey"]
    # the pre-delete window still replays
    assert t2.changelog_scan(spark, to_snapshot_id=pre_sid).count() > 0


def test_changelog_scan_across_schema_widening(spark, tmp_path, orders):
    """A widening commit inside the changelog window: older snapshots'
    change rows null-fill the added column (the same semantics their
    snapshot reads have)."""
    from pyspark.sql import functions as F

    w = IcebergFixtureWriter(tmp_path / "t", seed=5)
    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w.append(o.limit(20), timestamp_ms=1_000)
    widened = (
        o.offset(20).limit(10).withColumn("note", F.lit("new"))
    )
    w.append(widened, timestamp_ms=2_000)
    t = IcebergTable(tmp_path / "t")
    ch = t.changelog_scan(spark)
    assert "note" in ch.columns
    assert ch.count() == 30
    assert ch.filter("note IS NULL").count() == 20  # pre-widening inserts
    assert ch.filter("note = 'new'").count() == 10


def test_snapshot_tags_pin_through_expiry(spark, tmp_path, orders):
    """Tags (v2 refs): metadata-only pins that resolve via read(tag=)
    and survive expire_snapshots until dropped."""
    w = IcebergFixtureWriter(tmp_path / "t", seed=5)
    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w.append(o.limit(30), timestamp_ms=1_000)
    first = IcebergTable(tmp_path / "t").current_snapshot_id()
    w.append(o.offset(30).limit(30), timestamp_ms=2_000)
    w.append(o.offset(60).limit(30), timestamp_ms=3_000)
    # metadata ops go through the TABLE; like rollback_to, writers
    # constructed before an external metadata bump are stale
    t = IcebergTable(tmp_path / "t")
    t.create_tag("release-1", snapshot_id=first)
    assert t.ref_snapshot("release-1") == first
    assert t.read(spark, tag="release-1").count() == 30
    # expire keep_last=1 would normally drop `first` — the tag pins it
    res = t.expire_snapshots(keep_last=1, delete_orphans=True)
    assert first not in res["expired"]
    t2 = IcebergTable(tmp_path / "t")
    assert t2.read(spark, tag="release-1").count() == 30
    assert t2.read(spark).count() == 90
    # duplicate / unknown guards
    with pytest.raises(IcebergError):
        t2.create_tag("release-1")
    with pytest.raises(IcebergError):
        t2.read(spark, tag="nope")
    # dropped tag -> next expiry reclaims the snapshot
    t2.drop_tag("release-1")
    res2 = IcebergTable(tmp_path / "t").expire_snapshots(keep_last=1, delete_orphans=True)
    assert first in res2["expired"]


def test_wap_branch_stage_publish_and_guards(spark, tmp_path, orders):
    """Write-Audit-Publish: branch commits are invisible to main until
    fast_forward; publish refuses a diverged main; branch heads are
    pinned through expiry; a resumed writer continues the branch."""
    from pyspark.sql import functions as F

    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w = IcebergFixtureWriter(tmp_path / "t", seed=61)
    w.append(o.filter("o_orderkey <= 100"), timestamp_ms=1_000)
    w.append(o.filter("o_orderkey > 100 AND o_orderkey <= 120"), timestamp_ms=2_000, branch="audit")
    t = IcebergTable(tmp_path / "t")
    assert t.read(spark).count() == o.filter("o_orderkey <= 100").count()
    assert t.read(spark, tag="audit").count() == o.filter("o_orderkey <= 120").count()

    # resumed writer continues the BRANCH lineage, not main
    w2 = IcebergFixtureWriter(tmp_path / "t")
    w2.append(o.filter("o_orderkey > 120 AND o_orderkey <= 140"), timestamp_ms=3_000, branch="audit")
    t2 = IcebergTable(tmp_path / "t")
    assert t2.read(spark).count() == o.filter("o_orderkey <= 100").count()
    assert t2.read(spark, tag="audit").count() == o.filter("o_orderkey <= 140").count()

    # branch-head snapshot survives expiry (ref-pinned)
    t2.expire_snapshots(keep_last=1, delete_orphans=True)
    t3 = IcebergTable(tmp_path / "t")
    assert t3.read(spark, tag="audit").count() == o.filter("o_orderkey <= 140").count()

    # publish: both staged commits become main atomically
    t3.fast_forward("audit")
    t4 = IcebergTable(tmp_path / "t")
    assert t4.read(spark).count() == o.filter("o_orderkey <= 140").count()
    with pytest.raises(IcebergError, match="already at the current"):
        t4.fast_forward("audit")

    # diverged main refuses the publish
    w3 = IcebergFixtureWriter(tmp_path / "t")
    w3.append(o.filter("o_orderkey > 140 AND o_orderkey <= 150"), timestamp_ms=4_000, branch="fix")
    w3.append(o.filter("o_orderkey > 150 AND o_orderkey <= 160"), timestamp_ms=5_000)  # main moves
    t5 = IcebergTable(tmp_path / "t")
    with pytest.raises(IcebergError, match="diverged"):
        t5.fast_forward("fix")

    # guards: tag/branch namespace is shared; empty-table staging refused
    with pytest.raises(IcebergError, match="not a branch"):
        t5.create_tag("pin")
        IcebergFixtureWriter(tmp_path / "t").append(o.limit(1), branch="pin")
    w4 = IcebergFixtureWriter(tmp_path / "empty", seed=62)
    with pytest.raises(IcebergError, match="empty table"):
        w4.append(o.limit(1), branch="b")


def test_rewrite_position_deletes_consolidates(spark, tmp_path, orders):
    """Accumulated pos-delete files (the merge-on-read CDC shape)
    consolidate into ONE: reads identical, duplicates and dangling
    rows dropped, original data sequence numbers pinned so equality
    deletes keep scoping, changelog windows spanning the rewrite see
    nothing from it."""
    from pyspark.sql import functions as F

    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w = IcebergFixtureWriter(tmp_path / "t", seed=71)
    s1 = w.append(o.filter("o_orderkey <= 80"), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")

    def locate(keys, sid):
        return [
            (r._f, r._p)
            for r in t.read(spark, snapshot_id=sid)
            .withColumn("_f", scan_file_key())
            .withColumn("_p", F.col("_metadata.row_index"))
            .filter(F.col("o_orderkey").isin(*keys))
            .select("_f", "_p")
            .collect()
        ]

    w.delete_positions(locate([3, 7], s1), timestamp_ms=2_000)
    w.delete_positions(locate([11], s1), timestamp_ms=3_000)
    # duplicate delete of key 3 (overlapping commits) — must dedupe
    w.delete_positions(locate([3], s1), timestamp_ms=4_000)
    t2 = IcebergTable(tmp_path / "t")
    before = {tuple(r) for r in t2.read(spark).collect()}
    n_del_before = sum(
        1
        for mp in t2._manifest_paths(t2.snapshot(t2.current_snapshot_id()))
        for e in t2._manifest_entries(mp)
        if int(e.get("status", 1)) != 2 and int(e["data_file"].get("content") or 0) == 1
    )
    assert n_del_before == 3
    res = w.rewrite_position_deletes(timestamp_ms=5_000)
    assert res["delete_files_before"] == 3 and res["delete_files_after"] == 1
    assert res["rows_dropped"] == 1  # the duplicate (3) row
    t3 = IcebergTable(tmp_path / "t")
    assert {tuple(r) for r in t3.read(spark).collect()} == before
    assert t3.read(spark).count() == o.filter("o_orderkey <= 80").count() - 3
    # changelog across the rewrite: only the real deletes, no replay
    ch = t3.changelog_scan(spark, from_snapshot_id=s1)
    assert sorted(r["o_orderkey"] for r in ch.collect()) == [3, 7, 11]
    assert {r["_change_type"] for r in ch.collect()} == {"delete"}
    # no-op on an already-consolidated table
    res2 = w.rewrite_position_deletes()
    assert res2["delete_files_before"] == 1 and res2["delete_files_after"] == 1
