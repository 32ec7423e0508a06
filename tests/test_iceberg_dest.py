"""Iceberg destination: commit -> verify protocol landing a REAL
Apache-Iceberg table (open-format counterpart of the reference's
destination family; receipt discipline per
`crates/cdf-runtime/src/checkpoint.rs`). MERGE is the single-snapshot
equality-delete + data upsert commit — correct through the reader's
sequence-number scoping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdf_spark.package import PackageBuilder
from cdf_spark.package.iceberg_dest import IcebergDestination
from cdf_spark.sources.base import WriteDisposition
from cdf_spark.sources.iceberg import IcebergTable


def test_append_replace_roundtrip(spark, tmp_path, orders):
    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    dest = IcebergDestination(tmp_path / "t")
    builder = PackageBuilder(tmp_path / "pkgs", "orders")

    pkg = builder.build(admitted=o.limit(100))
    rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.APPEND), pkg)
    assert rec.verified
    assert dest.read(spark).count() == 100

    # the table is genuinely Iceberg: a fresh reader resolves it
    t = IcebergTable(tmp_path / "t")
    assert t.current_snapshot_id() is not None
    assert t.read(spark).count() == 100

    # append accumulates (at-least-once)
    pkg2 = builder.build(admitted=o.offset(100).limit(50))
    rec = dest.verify(spark, dest.commit(spark, pkg2, WriteDisposition.APPEND), pkg2)
    assert rec.verified
    assert dest.read(spark).count() == 150

    # replace: value-hash equality against the package
    rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.REPLACE), pkg)
    assert rec.verified
    assert dest.read(spark).count() == 100
    # time travel still sees the pre-replace state
    snaps = IcebergTable(tmp_path / "t").snapshots()
    assert len(snaps) == 3


def test_merge_upsert_single_snapshot(spark, tmp_path, orders):
    """MERGE: older rows with matching keys are removed, the batch's
    rows land, non-matching rows survive — all in ONE snapshot whose
    equality delete is sequence-scoped past the batch's own files."""
    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")

    base = o.filter(F.col("o_orderkey") <= 900)
    pkg = builder.build(admitted=base)
    assert dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.APPEND), pkg).verified
    n_base = base.count()

    # updated totals for keys <= 400, plus brand-new keys > 900
    batch = (
        o.filter((F.col("o_orderkey") <= 400) | (F.col("o_orderkey") > 900))
        .withColumn("o_totalprice", F.lit(-1.0))
    )
    pkg2 = builder.build(admitted=batch)
    rec = dest.verify(spark, dest.commit(spark, pkg2, WriteDisposition.MERGE), pkg2)
    assert rec.verified

    t = IcebergTable(tmp_path / "t")
    assert len(t.snapshots()) == 2  # ONE snapshot for the whole upsert
    cur = dest.read(spark)
    assert cur.count() == n_base - base.filter(F.col("o_orderkey") <= 400).count() + batch.count()
    # every key <= 400 now carries the batch value, exactly once
    updated = cur.filter(F.col("o_orderkey") <= 400)
    assert updated.filter(F.col("o_totalprice") != -1.0).count() == 0
    assert updated.groupBy("o_orderkey").count().filter(F.col("count") > 1).count() == 0
    # untouched middle range keeps original values
    mid = cur.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900))
    assert mid.filter(F.col("o_totalprice") == -1.0).count() == 0

    # idempotent replay: merging the same batch again changes nothing
    rec = dest.verify(spark, dest.commit(spark, pkg2, WriteDisposition.MERGE), pkg2)
    assert rec.verified
    again = dest.read(spark)
    assert again.count() == cur.count()


def test_destination_resumes_existing_table(spark, tmp_path, orders):
    """Destinations are constructed per run: a fresh instance over an
    existing table continues its snapshot history instead of forking."""
    o = orders.select("o_orderkey", "o_totalprice")
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    pkg = builder.build(admitted=o.limit(100))

    d1 = IcebergDestination(tmp_path / "t")
    d1.verify(spark, d1.commit(spark, pkg, WriteDisposition.APPEND), pkg)
    d2 = IcebergDestination(tmp_path / "t")  # new instance, same table
    d2.verify(spark, d2.commit(spark, pkg, WriteDisposition.APPEND), pkg)

    t = IcebergTable(tmp_path / "t")
    chain = t.ancestry()
    assert len(chain) == 2  # one lineage, parent-linked
    assert chain[0].get("parent-snapshot-id") == chain[1]["snapshot-id"]
    assert t.read(spark).count() == 200


def test_merge_requires_keys(spark, tmp_path, orders):
    dest = IcebergDestination(tmp_path / "t")
    pkg = PackageBuilder(tmp_path / "pkgs", "o").build(
        admitted=orders.select("o_orderkey").limit(5)
    )
    with pytest.raises(ValueError, match="merge_keys"):
        dest.commit(spark, pkg, WriteDisposition.MERGE)


def test_streaming_drain_lands_iceberg_snapshots(spark, tmp_path, orders):
    """Composition: StreamingLoadPipeline's per-epoch commit protocol
    drives IcebergDestination directly — every micro-batch becomes one
    parent-linked Iceberg snapshot, and the final table equals the
    source rows. Epoch history IS table history (time travel to any
    epoch boundary)."""
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from cdf_spark.sources.base import ResourceDescriptor, WriteDisposition
    from cdf_spark.streaming.pipeline import StreamingLoadPipeline

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    o = orders.select("o_orderkey", "o_totalprice").limit(600)
    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        stage = tempfile.mkdtemp()
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (f,) = Path(stage).glob("*.parquet")
        shutil.move(str(f), str(src / f"part-{i}.parquet"))

    pipe = StreamingLoadPipeline(
        descriptor=ResourceDescriptor(resource_id="orders_stream"),
        source_path=str(src),
        schema=schema,
        package_root=str(tmp_path / "pkgs"),
        ledger_root=str(tmp_path / "ledger"),
        destination=IcebergDestination(tmp_path / "t"),
        disposition=WriteDisposition.APPEND,
        reader_options={"maxFilesPerTrigger": 1},
    )
    epochs = pipe.run(spark)
    committed = [e for e in epochs if e.rows_admitted > 0]
    assert len(committed) >= 2
    assert all(e.receipt_verified for e in committed)

    t = IcebergTable(tmp_path / "t")
    assert len(t.ancestry()) == len(committed)  # one snapshot per epoch
    assert t.read(spark).count() == o.count()
    # time travel to the first epoch boundary sees only epoch 1's rows
    first = t.ancestry()[-1]
    assert t.read(spark, snapshot_id=int(first["snapshot-id"])).count() == committed[0].rows_admitted


def test_compact_small_files(spark, tmp_path, orders):
    """compact() rewrites the per-epoch small-file pathology into one
    overwrite snapshot: fewer files, identical values, delete files
    resolved into the rewrite, history still time-travels."""
    o = orders.select("o_orderkey", "o_totalprice")
    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    # many small commits (the streaming-epoch shape) + one upsert so a
    # delete file exists to be resolved away
    for i in range(5):
        pkg = builder.build(admitted=o.filter(F.pmod(F.col("o_orderkey"), F.lit(5)) == i))
        assert dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.APPEND), pkg).verified
    up = builder.build(
        admitted=o.filter(F.col("o_orderkey") <= 200).withColumn("o_totalprice", F.lit(-1.0))
    )
    assert dest.verify(spark, dest.commit(spark, up, WriteDisposition.MERGE), up).verified

    before = dest.read(spark)
    before_rows = sorted((r.o_orderkey, r.o_totalprice) for r in before.collect())
    res = dest.compact(spark, target_files=2)
    assert res["files_after"] <= 2 < res["files_before"]

    t = IcebergTable(tmp_path / "t")
    after = dest.read(spark)
    assert sorted((r.o_orderkey, r.o_totalprice) for r in after.collect()) == before_rows
    # compacted snapshot carries no live delete files
    assert t.delete_files_for_snapshot(t.current_snapshot_id()) == []
    assert t.equality_deletes_for_snapshot(t.current_snapshot_id()) == []
    # history still resolves pre-compaction
    prev = t.ancestry()[1]
    assert t.read(spark, snapshot_id=int(prev["snapshot-id"])).count() == before.count()


def test_chaos_verify_crash_then_resume_merge_idempotent(spark, tmp_path, orders):
    """Runtime chaos against the Iceberg destination: a crash between
    the metadata swap and receipt verification leaves the snapshot
    committed but the checkpoint unadvanced; replaying the same MERGE
    batch is idempotent (the second upsert's delete removes the first
    replay's rows), so the final state equals a single-delivery run."""
    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
    assert dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base).verified

    batch = builder.build(
        admitted=o.filter(F.col("o_orderkey") <= 400).withColumn("o_totalprice", F.lit(-1.0))
    )
    # crash: commit lands, verify never runs (checkpoint never advances)
    dest.commit(spark, batch, WriteDisposition.MERGE)
    # resume: at-least-once redelivery of the SAME batch
    rec = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
    assert rec.verified

    cur = dest.read(spark)
    assert cur.count() == o.filter(F.col("o_orderkey") <= 900).count()
    dup = cur.groupBy("o_orderkey").count().filter(F.col("count") > 1)
    assert dup.count() == 0  # replay absorbed, no duplicate keys
    assert cur.filter((F.col("o_orderkey") <= 400) & (F.col("o_totalprice") != -1.0)).count() == 0


def test_concurrent_commit_detected(spark, tmp_path, orders):
    """Optimistic concurrency: two writer instances over the same table
    race; the loser's commit must fail loudly (metadata version is the
    CAS token), never clobber or fork the history."""
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter

    o = orders.select("o_orderkey", "o_totalprice").limit(50)
    w1 = IcebergFixtureWriter(tmp_path / "t")
    w1.append(o, timestamp_ms=1000)

    # two instances rehydrate the SAME state, then both try to commit
    a = IcebergFixtureWriter(tmp_path / "t")
    b = IcebergFixtureWriter(tmp_path / "t")
    a.append(o, timestamp_ms=2000)  # wins
    with pytest.raises(IcebergError, match="concurrent commit"):
        b.append(o, timestamp_ms=3000)  # loses: same target version
    t = IcebergTable(tmp_path / "t")
    assert len(t.ancestry()) == 2  # winner's lineage only, no fork
    assert t.read(spark).count() == 100


def test_append_into_partitioned_table_keeps_pruning(spark, tmp_path, orders):
    """Committing into an EXISTING partitioned table routes through the
    partition-splitting path (spec rehydrated from metadata), so new
    entries carry typed partition tuples and pruning keeps working."""
    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest
    from cdf_spark.sources.iceberg import IcebergFixtureWriter

    o = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=71, partition_by=["o_orderstatus"])
    w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000)

    dest = IcebergDestination(tmp_path / "t")
    pkg = PackageBuilder(tmp_path / "pkgs", "orders").build(
        admitted=o.filter(F.col("o_orderkey") > 400)
    )
    rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.APPEND), pkg)
    assert rec.verified
    t = IcebergTable(tmp_path / "t")
    assert t.read(spark).count() == o.count()
    out, plan = t.scan(
        spark, ScanRequest("ice", predicates=[Col("o_orderstatus") == Lit("P")])
    )
    meta = plan.partitions.meta
    assert meta["files_pruned"] > 0  # the appended entries carry tuples
    assert out.count() == o.filter(F.col("o_orderstatus") == "P").count()


def test_multiwriter_race_retries_to_serial_result(spark, tmp_path, orders):
    """TWO concurrent committers race real commits against one table:
    the CAS loser must detect the winner, rehydrate, retry, and the
    final table must equal a SERIAL execution of both commits — linear
    history, no forks, no lost snapshots. Exercises the retry policy in
    IcebergDestination.commit under genuine thread-level interleaving
    (both threads submit Spark jobs against the same session)."""
    import threading

    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    base = o.filter(F.col("o_orderkey") <= 900)
    pkg = builder.build(admitted=base)
    assert dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.APPEND), pkg).verified

    # writer A upserts keys <= 400 to -1.0; writer B upserts
    # 200..600 to -2.0. Overlap 200..400 is decided by whichever
    # commit serializes LAST — the assertion is serial-equivalence,
    # not a fixed winner.
    batch_a = o.filter(F.col("o_orderkey") <= 400).withColumn("o_totalprice", F.lit(-1.0))
    batch_b = o.filter(
        (F.col("o_orderkey") >= 200) & (F.col("o_orderkey") <= 600)
    ).withColumn("o_totalprice", F.lit(-2.0))
    pkg_a = builder.build(admitted=batch_a)
    pkg_b = builder.build(admitted=batch_b)

    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def commit(pkg):
        try:
            barrier.wait(timeout=30)
            d = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
            d.commit(spark, pkg, WriteDisposition.MERGE)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ta = threading.Thread(target=commit, args=(pkg_a,))
    tb = threading.Thread(target=commit, args=(pkg_b,))
    ta.start(); tb.start(); ta.join(60); tb.join(60)
    assert not errors, f"retry policy must absorb the race: {errors}"

    t = IcebergTable(tmp_path / "t")
    # linear history: base append + two merge commits, one lineage
    assert len(t.ancestry()) == 3
    cur = t.read(spark)
    assert cur.count() == base.count()  # merge never duplicates keys
    rows = {r.o_orderkey: r.o_totalprice for r in cur.collect()}
    # exclusive ranges carry their writer's value
    assert all(rows[k] == -1.0 for k in rows if k < 200)
    assert all(rows[k] == -2.0 for k in rows if 400 < k <= 600)
    # overlap range equals ONE serial order: all -1.0 or all -2.0
    overlap = {rows[k] for k in rows if 200 <= k <= 400}
    assert overlap == {-1.0} or overlap == {-2.0}
    # untouched tail unchanged
    assert all(rows[k] >= 0 for k in rows if k > 600)


def test_merge_into_partitioned_table_scoped_deletes_and_pruning(spark, tmp_path, orders):
    """MERGE into a table partitioned by bucket(o_orderkey) — the spec
    source IS a merge key, so delete files are partition-scoped (each
    content=2 entry carries its typed partition tuple) and pruning
    keeps working after the merge. ONE snapshot, serial semantics."""
    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest
    from cdf_spark.sources.iceberg import IcebergFixtureWriter

    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    w = IcebergFixtureWriter(
        tmp_path / "t", seed=73, partition_by=[("bucket", 4, "o_orderkey")]
    )
    base = o.filter(F.col("o_orderkey") <= 900)
    w.append(base, timestamp_ms=1000)

    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    batch = o.filter(F.col("o_orderkey") <= 400).withColumn("o_totalprice", F.lit(-1.0))
    pkg = builder.build(admitted=batch)
    rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.MERGE), pkg)
    assert rec.verified

    t = IcebergTable(tmp_path / "t")
    assert len(t.ancestry()) == 2  # base append + ONE merge snapshot
    cur = t.read(spark)
    assert cur.count() == base.count()  # merge never duplicates keys
    rows = {r.o_orderkey: r.o_totalprice for r in cur.collect()}
    assert all(v == -1.0 for k, v in rows.items() if k <= 400)
    assert all(v >= 0 for k, v in rows.items() if k > 400)

    # every delete entry carries a typed partition tuple (scoped form)
    sid = t.current_snapshot_id()
    eq_parts = []
    for mp in t._manifest_paths(t.snapshot(sid)):
        for e in t._manifest_entries(mp):
            d = e["data_file"]
            if int(e.get("status", 1)) != 2 and int(d.get("content") or 0) == 2:
                eq_parts.append(d.get("partition"))
    assert eq_parts
    assert all(p is not None and p.get("o_orderkey_bucket") is not None for p in eq_parts)

    # pruning still works after the merge — and resolves to the NEW value
    key = int(batch.select("o_orderkey").first()[0])
    out, plan = t.scan(
        spark, ScanRequest("ice", predicates=[Col("o_orderkey") == Lit(key)])
    )
    meta = plan.partitions.meta
    assert meta["files_pruned"] > 0
    got = out.collect()
    assert {r.o_orderkey for r in got} == {key}
    assert all(r.o_totalprice == -1.0 for r in got)


def test_merge_partitioned_global_deletes_when_spec_not_covered(spark, tmp_path, orders):
    """Identity partition on o_orderstatus with merge key o_orderkey:
    a key's older row may live in ANY partition, so delete files are
    committed globally (partition=None) — still correct under
    sequence-scoped application."""
    from cdf_spark.sources.iceberg import IcebergFixtureWriter

    o = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=74, partition_by=["o_orderstatus"])
    base = o.filter(F.col("o_orderkey") <= 900)
    w.append(base, timestamp_ms=1000)

    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    # flip the status too: the row MOVES partition — only a global
    # delete can remove the old-partition copy
    batch = (
        o.filter(F.col("o_orderkey") <= 300)
        .withColumn("o_totalprice", F.lit(-1.0))
        .withColumn("o_orderstatus", F.lit("X"))
    )
    pkg = builder.build(admitted=batch)
    rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.MERGE), pkg)
    assert rec.verified

    t = IcebergTable(tmp_path / "t")
    cur = t.read(spark)
    assert cur.count() == base.count()
    assert cur.filter((F.col("o_orderkey") <= 300) & (F.col("o_orderstatus") != "X")).count() == 0

    sid = t.current_snapshot_id()
    for mp in t._manifest_paths(t.snapshot(sid)):
        for e in t._manifest_entries(mp):
            d = e["data_file"]
            if int(e.get("status", 1)) != 2 and int(d.get("content") or 0) == 2:
                assert d.get("partition") is None  # global delete


def test_partitioned_merge_no_driver_collect(spark, tmp_path, orders, monkeypatch):
    """The partitioned MERGE path must keep the no-driver-collect
    discipline of the flat path: key split, data split, and footer
    registration all happen without DataFrame.collect()."""
    from pyspark.sql import DataFrame

    from cdf_spark.sources.iceberg import IcebergFixtureWriter

    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    w = IcebergFixtureWriter(
        tmp_path / "t", seed=75, partition_by=[("bucket", 4, "o_orderkey")]
    )
    base = o.filter(F.col("o_orderkey") <= 900)
    w.append(base, timestamp_ms=1000)

    dest = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    batch = o.filter(F.col("o_orderkey") <= 200).withColumn("o_totalprice", F.lit(-7.0))
    pkg = builder.build(admitted=batch)

    def _no_collect(self):
        raise AssertionError("driver-side collect() in the partitioned MERGE path")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    rec = dest.commit(spark, pkg, WriteDisposition.MERGE)
    monkeypatch.undo()

    assert dest.verify(spark, rec, pkg).verified
    got = dest.read(spark)
    assert got.count() == base.count()
    assert (
        got.filter((F.col("o_orderkey") <= 200) & (F.col("o_totalprice") != -7.0)).count()
        == 0
    )


def test_partitioned_multiwriter_race_retries_to_serial_result(spark, tmp_path, orders):
    """The multiwriter CAS-retry discipline extends to the partitioned
    MERGE path: two racing partitioned upserts serialize to one of the
    two serial orders with linear history."""
    import threading

    from cdf_spark.sources.iceberg import IcebergFixtureWriter

    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    w = IcebergFixtureWriter(
        tmp_path / "t", seed=76, partition_by=[("bucket", 4, "o_orderkey")]
    )
    base = o.filter(F.col("o_orderkey") <= 900)
    w.append(base, timestamp_ms=1000)

    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    batch_a = o.filter(F.col("o_orderkey") <= 400).withColumn("o_totalprice", F.lit(-1.0))
    batch_b = o.filter(
        (F.col("o_orderkey") >= 200) & (F.col("o_orderkey") <= 600)
    ).withColumn("o_totalprice", F.lit(-2.0))
    pkg_a = builder.build(admitted=batch_a)
    pkg_b = builder.build(admitted=batch_b)

    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def commit(pkg):
        try:
            barrier.wait(timeout=30)
            d = IcebergDestination(tmp_path / "t", merge_keys=["o_orderkey"])
            d.commit(spark, pkg, WriteDisposition.MERGE)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ta = threading.Thread(target=commit, args=(pkg_a,))
    tb = threading.Thread(target=commit, args=(pkg_b,))
    ta.start(); tb.start(); ta.join(120); tb.join(120)
    assert not errors, f"retry policy must absorb the race: {errors}"

    t = IcebergTable(tmp_path / "t")
    assert len(t.ancestry()) == 3
    cur = t.read(spark)
    assert cur.count() == base.count()
    rows = {r.o_orderkey: r.o_totalprice for r in cur.collect()}
    assert all(rows[k] == -1.0 for k in rows if k < 200)
    assert all(rows[k] == -2.0 for k in rows if 400 < k <= 600)
    overlap = {rows[k] for k in rows if 200 <= k <= 400}
    assert overlap == {-1.0} or overlap == {-2.0}
    assert all(rows[k] >= 0 for k in rows if k > 600)


def test_streaming_cdc_upsert_into_partitioned_table(spark, tmp_path, orders):
    """End-to-end CDC shape: a drain of keyed epochs MERGEs into a
    PARTITIONED Iceberg table — each micro-batch is one upsert
    snapshot (partition-scoped equality deletes + partition-split
    data), later epochs overwrite earlier keys, and pruning still
    works on the final table."""
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from cdf_spark.expressions.ast import Col, Lit
    from cdf_spark.plans.scan import ScanRequest
    from cdf_spark.sources.base import ResourceDescriptor
    from cdf_spark.streaming.pipeline import StreamingLoadPipeline

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    o = orders.select("o_orderkey", "o_totalprice").filter(F.col("o_orderkey") <= 600)
    src = tmp_path / "in"
    src.mkdir()
    # epoch 0: all keys at their source price; epoch 1: keys <= 300
    # restated to -1.0 (the CDC correction shape)
    batches = [
        o,
        o.filter(F.col("o_orderkey") <= 300).withColumn("o_totalprice", F.lit(-1.0)),
    ]
    for i, b in enumerate(batches):
        stage = tempfile.mkdtemp()
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        (f,) = Path(stage).glob("*.parquet")
        shutil.move(str(f), str(src / f"part-{i}.parquet"))

    pipe = StreamingLoadPipeline(
        descriptor=ResourceDescriptor(resource_id="orders_cdc"),
        source_path=str(src),
        schema=schema,
        package_root=str(tmp_path / "pkgs"),
        ledger_root=str(tmp_path / "ledger"),
        destination=IcebergDestination(
            tmp_path / "t",
            merge_keys=["o_orderkey"],
            partition_by=[("bucket", 4, "o_orderkey")],
        ),
        disposition=WriteDisposition.MERGE,
        reader_options={"maxFilesPerTrigger": 1},
    )
    epochs = pipe.run(spark)
    committed = [e for e in epochs if e.rows_admitted > 0]
    assert len(committed) == 2 and all(e.receipt_verified for e in committed)

    t = IcebergTable(tmp_path / "t")
    cur = t.read(spark)
    assert cur.count() == o.count()  # merge never duplicates keys
    rows = {r.o_orderkey: r.o_totalprice for r in cur.collect()}
    assert all(v == -1.0 for k, v in rows.items() if k <= 300)
    assert all(v >= 0 for k, v in rows.items() if k > 300)
    # pruning works on the final (merge-on-read) state
    key = min(rows)
    _out, plan = t.scan(spark, ScanRequest("s", predicates=[Col("o_orderkey") == Lit(key)]))
    assert plan.partitions.meta["files_pruned"] > 0


def test_wap_destination_stages_then_publishes_on_verify(spark, tmp_path, orders):
    """stage_branch: commit() lands the package on the branch (main
    readers see nothing), verify() audits the BRANCH and only a PASS
    fast-forwards main. A failed audit leaves main untouched with the
    batch quarantined on the branch."""
    from cdf_spark.package import PackageBuilder
    from cdf_spark.package.iceberg_dest import IcebergDestination
    from cdf_spark.sources.base import WriteDisposition
    from cdf_spark.sources.iceberg import IcebergTable

    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    dest = IcebergDestination(tmp_path / "t", stage_branch="audit")

    # first commit: empty table -> lands on main directly
    p0 = builder.build(admitted=o.filter("o_orderkey <= 100"))
    r0 = dest.verify(spark, dest.commit(spark, p0, WriteDisposition.APPEND), p0)
    assert r0.verified
    base_n = IcebergTable(tmp_path / "t").read(spark).count()

    # staged commit: invisible to main until verify publishes
    p1 = builder.build(admitted=o.filter("o_orderkey > 100 AND o_orderkey <= 150"))
    r1 = dest.commit(spark, p1, WriteDisposition.APPEND)
    t = IcebergTable(tmp_path / "t")
    assert t.read(spark).count() == base_n  # main unchanged
    assert r1.destination.endswith("@audit")
    r1 = dest.verify(spark, r1, p1)
    assert r1.verified
    assert IcebergTable(tmp_path / "t").read(spark).count() == o.filter(
        "o_orderkey <= 150"
    ).count()

    # failed audit: corrupt the package between commit and verify ->
    # branch != staged -> no publish, main untouched
    from pathlib import Path
    p2 = builder.build(admitted=o.filter("o_orderkey > 150 AND o_orderkey <= 180"))
    r2 = dest.commit(spark, p2, WriteDisposition.APPEND)
    main_before = IcebergTable(tmp_path / "t").read(spark).count()
    import shutil

    extra = o.filter("o_orderkey > 900").limit(3)
    tmp_seg = tmp_path / "tampered"
    extra.coalesce(1).write.mode("overwrite").parquet(str(tmp_seg))
    seg = sorted(Path(p2.data_path()).glob("*.parquet"))[0]
    shutil.copy(sorted(tmp_seg.glob("*.parquet"))[0], seg)
    for crc in Path(p2.data_path()).glob(".*.crc"):
        crc.unlink()  # stale Hadoop checksum sidecars of the replaced file
    r2 = dest.verify(spark, r2, p2)
    assert not r2.verified
    assert IcebergTable(tmp_path / "t").read(spark).count() == main_before

    # non-append dispositions refuse staging
    p3 = builder.build(admitted=o.limit(5))
    with pytest.raises(ValueError, match="APPEND only"):
        dest.commit(spark, p3, WriteDisposition.REPLACE)
