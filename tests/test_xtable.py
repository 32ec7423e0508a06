"""Cross-format metadata translation (package/xtable.py, r10).

Positive paths (zero-copy, read-equality, log-not-directory) are
asserted inside the registry fixtures; this file pins the REFUSALS —
translation must detect-and-refuse every case the shared files can't
express losslessly, never silently misread.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def test_d2i_refuses_deletion_vectors(spark, orders, tmp_path):
    from cdf_spark.package.xtable import delta_to_iceberg
    from cdf_spark.sources.delta import DeltaError, DeltaFixtureWriter

    base = orders.filter("o_orderkey <= 300")
    n_base = base.count()
    dw = DeltaFixtureWriter(str(tmp_path / "d"))
    dw.append(base)
    dw.delete_where(spark, "o_orderkey <= 50")
    n_deleted = base.filter("o_orderkey <= 50").count()
    with pytest.raises(DeltaError, match="deletion vectors"):
        delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    # REORG PURGE materializes the DVs away; translation then proceeds
    from cdf_spark.sources.iceberg import IcebergTable

    dw.reorg_purge(spark)
    info = delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    ice = IcebergTable(str(tmp_path / "i")).read(spark)
    assert ice.count() == n_base - n_deleted and info["files_linked"] >= 1


def test_d2i_refuses_column_mapping(spark, orders, tmp_path):
    from cdf_spark.package.xtable import delta_to_iceberg
    from cdf_spark.sources.delta import DeltaError, DeltaFixtureWriter

    cm = DeltaFixtureWriter(str(tmp_path / "cm"), column_mapping="name")
    cm.append(orders.filter("o_orderkey <= 100"))
    with pytest.raises(DeltaError, match="column-mapped"):
        delta_to_iceberg(str(tmp_path / "cm"), str(tmp_path / "i1"))


def test_i2d_refuses_delete_files_until_compacted(spark, orders, tmp_path):
    from cdf_spark.package.xtable import iceberg_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter, IcebergTable

    base = orders.filter("o_orderkey <= 300")
    n_base = base.count()
    iw = IcebergFixtureWriter(str(tmp_path / "i"))
    iw.append(base)
    t = IcebergTable(str(tmp_path / "i"))
    (victim,) = t.files_for_snapshot(t.current_snapshot_id())
    iw.delete_positions([(victim, 0), (victim, 1)])
    with pytest.raises(IcebergError, match="delete files"):
        iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    # an overwrite that materializes the live rows clears the refusal
    live = IcebergTable(str(tmp_path / "i")).read(spark)
    iw.overwrite(live)
    info = iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    got = DeltaTable(str(tmp_path / "d")).read(spark)
    assert got.count() == n_base - 2 and info["files_linked"] >= 1


def test_linked_lifecycle_stays_with_source(spark, orders, tmp_path):
    """The translated table is a VIEW over the source's files: a new
    source commit after translation doesn't change the translated
    snapshot (translation is point-in-time, like UniForm's per-commit
    generation)."""
    from cdf_spark.package.xtable import delta_to_iceberg
    from cdf_spark.sources.delta import DeltaFixtureWriter
    from cdf_spark.sources.iceberg import IcebergTable

    first = orders.filter("o_orderkey <= 200")
    n_first = first.count()
    dw = DeltaFixtureWriter(str(tmp_path / "d"))
    dw.append(first)
    delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    before = IcebergTable(str(tmp_path / "i")).read(spark).count()
    dw.append(orders.filter("o_orderkey > 200 and o_orderkey <= 400"))
    after = IcebergTable(str(tmp_path / "i")).read(spark).count()
    assert before == after == n_first


def test_sync_skips_dv_versions_then_catches_up(spark, orders, tmp_path):
    """A DV-carrying commit cannot be expressed by linking: the sync
    SKIPS it with a recorded gap (stale=True, translated table stays
    at the last representable state) instead of wedging; REORG PURGE
    produces a DV-free commit and the next sync lands the purged
    state."""
    from cdf_spark.package.xtable import sync_delta_to_iceberg
    from cdf_spark.sources.delta import DeltaFixtureWriter
    from cdf_spark.sources.iceberg import IcebergTable

    base = orders.filter("o_orderkey <= 200")
    n_base = base.count()
    dw = DeltaFixtureWriter(str(tmp_path / "d"))
    dw.append(base)
    r1 = sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    assert r1["last_delta_version"] == 0 and not r1["stale"]
    dw.delete_where(spark, "o_orderkey <= 20")
    n_del = base.filter("o_orderkey <= 20").count()
    r2 = sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    assert r2["stale"] and r2["synced"][-1]["skipped"] == "deletion-vectors"
    # translated table is stale-but-correct: still the pre-delete state
    assert IcebergTable(str(tmp_path / "i")).read(spark).count() == n_base
    dw.reorg_purge(spark)
    r3 = sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    assert not r3["stale"] and r3["synced"]
    got = IcebergTable(str(tmp_path / "i")).read(spark)
    assert got.count() == n_base - n_del


def test_hudi_to_iceberg_cow_partitioned_links(spark, orders, tmp_path):
    """The Hudi leg: CoW slices keep ALL columns in the parquet (even
    partitioned), so linking is lossless; an upsert's rewritten group
    links at its LATEST slice only; MoR timelines refuse at the reader."""
    from cdf_spark.package.xtable import hudi_to_iceberg
    from cdf_spark.sources.hudi import HudiError, HudiFixtureWriter, HudiTable
    from cdf_spark.sources.iceberg import IcebergTable

    hw = HudiFixtureWriter(str(tmp_path / "h"))
    hw.commit(orders.filter("o_orderkey <= 300"))
    hw.commit(orders.filter("o_orderkey > 300 and o_orderkey <= 500"))
    info = hudi_to_iceberg(str(tmp_path / "h"), str(tmp_path / "i"))
    ice = IcebergTable(str(tmp_path / "i")).read(spark)
    hud = HudiTable(str(tmp_path / "h")).read(spark)
    assert info["files_linked"] >= 1
    assert ice.exceptAll(hud).count() == 0 and hud.exceptAll(ice).count() == 0

    import pytest as _p

    from cdf_spark.sources.hudi_mor import HudiMorFixtureWriter

    mw = HudiMorFixtureWriter(str(tmp_path / "m"), record_key="o_orderkey")
    mw.insert(orders.filter("o_orderkey <= 100"))
    with _p.raises(HudiError, match="merge-on-read"):
        hudi_to_iceberg(str(tmp_path / "m"), str(tmp_path / "i2"))


def test_iceberg_to_hudi_links_and_reads(spark, orders, tmp_path):
    """The →Hudi direction: linked absolute paths resolve through the
    timeline, read equality holds, nothing copied, delete files refuse."""
    from cdf_spark.package.xtable import iceberg_to_hudi
    from cdf_spark.sources.hudi import HudiTable
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter, IcebergTable

    iw = IcebergFixtureWriter(str(tmp_path / "i"))
    iw.append(orders.filter("o_orderkey <= 400"))
    iw.append(orders.filter("o_orderkey > 400 and o_orderkey <= 700"))
    info = iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h"))
    hud = HudiTable(str(tmp_path / "h")).read(spark)
    ice = IcebergTable(str(tmp_path / "i")).read(spark)
    assert info["files_linked"] == 2
    assert hud.exceptAll(ice).count() == 0 and ice.exceptAll(hud).count() == 0
    import os

    assert not any(
        f.endswith(".parquet") for f in os.listdir(str(tmp_path / "h"))
    ), "translation copied data"

    t = IcebergTable(str(tmp_path / "i"))
    (victim, *_rest) = t.files_for_snapshot(t.current_snapshot_id())
    iw.delete_positions([(victim, 0)])
    with pytest.raises(IcebergError, match="delete files"):
        iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h2"))


def _parity(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def test_d2i_partitioned_reconstitutes_from_metadata(spark, orders, tmp_path):
    """r11: partitioned Delta translates — add.partitionValues become
    Iceberg identity-spec partition records; the linked files omit the
    partition column and the Iceberg reader reconstitutes it from each
    file's partition record (the Flink metadata-only shape). Zero copy."""
    import os

    from cdf_spark.package.xtable import delta_to_iceberg
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable
    from cdf_spark.sources.iceberg import IcebergTable

    part = orders.withColumn("bucket", (orders.o_custkey % 3).cast("long"))
    dw = DeltaFixtureWriter(str(tmp_path / "d"), partition_by=["bucket"])
    dw.append(part.filter("o_orderkey <= 600"))
    dw.replace(part.filter("o_orderkey <= 900"))
    info = delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    assert info["partition_columns"] == ["bucket"]
    ice = IcebergTable(str(tmp_path / "i")).read(spark)
    d = DeltaTable(str(tmp_path / "d")).read(spark)
    assert ice.columns == d.columns
    assert _parity(ice, d) == 0
    assert not any(
        f.endswith(".parquet") for f in os.listdir(str(tmp_path / "i" / "data"))
    )
    # partition predicates PRUNE on the reconstituted metadata records
    assert _parity(ice.filter("bucket = 1"), d.filter("bucket = 1")) == 0


def test_i2d_partitioned_reconstitutes_from_partition_values(spark, orders, tmp_path):
    """r11 reverse: Iceberg identity partition records become
    add.partitionValues; the Delta reader reconstitutes literal
    columns for linked (absolute-path) files from the log, since
    hive-directory inference cannot apply outside the table root."""
    import os

    from cdf_spark.package.xtable import iceberg_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    part = orders.withColumn("bucket", (orders.o_custkey % 3).cast("long"))
    iw = IcebergFixtureWriter(str(tmp_path / "i"), partition_by=["bucket"])
    iw.append(part.filter("o_orderkey <= 500"))
    iw.append(part.filter("o_orderkey > 500 AND o_orderkey <= 800"))
    info = iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    assert info["partition_columns"] == ["bucket"]
    d = DeltaTable(str(tmp_path / "d")).read(spark)
    i = IcebergTable(str(tmp_path / "i")).read(spark)
    assert d.columns == i.columns
    assert _parity(d, i) == 0
    assert not any(f.endswith(".parquet") for f in os.listdir(str(tmp_path / "d")))
    assert _parity(d.filter("bucket = 2"), i.filter("bucket = 2")) == 0


def test_i2d_refuses_non_identity_transforms(spark, orders, tmp_path):
    from cdf_spark.package.xtable import iceberg_to_delta
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter

    iw = IcebergFixtureWriter(
        str(tmp_path / "i"), partition_by=[("bucket", 4, "o_custkey")]
    )
    iw.append(orders.filter("o_orderkey <= 200"))
    with pytest.raises(IcebergError, match="not derivable"):
        iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))


def test_sync_partitioned_history_parity(spark, orders, tmp_path):
    """Continuous D->I sync over a PARTITIONED source: per-version
    read parity incl. the reconstituted partition column, idempotent
    resume."""
    from cdf_spark.package.xtable import sync_delta_to_iceberg
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable
    from cdf_spark.sources.iceberg import IcebergTable

    part = orders.withColumn("bucket", (orders.o_custkey % 2).cast("long"))
    dw = DeltaFixtureWriter(str(tmp_path / "d"), partition_by=["bucket"])
    dw.append(part.filter("o_orderkey <= 300"), timestamp_ms=1_000_000)
    dw.append(
        part.filter("o_orderkey > 300 AND o_orderkey <= 600"), timestamp_ms=2_000_000
    )
    dw.replace(part.filter("o_orderkey <= 450"), timestamp_ms=3_000_000)
    r = sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    dt, it = DeltaTable(str(tmp_path / "d")), IcebergTable(str(tmp_path / "i"))
    assert len(r["synced"]) == 3 and not r["stale"]
    for e in r["synced"]:
        d = dt.read(spark, version=e["delta_version"])
        i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
        assert _parity(d, i) == 0, f"diverges at v{e['delta_version']}"
    assert not sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))["synced"]


def test_delta_to_hudi_direct_and_sync(spark, orders, tmp_path):
    """r11: the DIRECT D->H leg (no more D->I->H composition) plus the
    continuous sync with replacecommit linking — per-version instant
    parity, idempotent resume, zero copy, partitioned refusal."""
    import os

    from cdf_spark.package.xtable import delta_to_hudi, sync_delta_to_hudi
    from cdf_spark.sources.delta import DeltaError, DeltaFixtureWriter, DeltaTable
    from cdf_spark.sources.hudi import HudiTable

    dw = DeltaFixtureWriter(str(tmp_path / "d"))
    dw.append(orders.filter("o_orderkey <= 300"))
    dw.append(orders.filter("o_orderkey > 300 AND o_orderkey <= 600"))
    info = delta_to_hudi(str(tmp_path / "d"), str(tmp_path / "h"))
    assert info["files_linked"] == 2
    h = HudiTable(str(tmp_path / "h")).read(spark)
    d = DeltaTable(str(tmp_path / "d")).read(spark)
    assert _parity(h, d) == 0
    assert not any(f.endswith(".parquet") for f in os.listdir(str(tmp_path / "h")))

    dw.replace(orders.filter("o_orderkey <= 450"))
    r = sync_delta_to_hudi(str(tmp_path / "d"), str(tmp_path / "h2"))
    assert len(r["synced"]) == 3 and not r["stale"]
    dt, ht = DeltaTable(str(tmp_path / "d")), HudiTable(str(tmp_path / "h2"))
    for e in r["synced"]:
        dd = dt.read(spark, version=e["delta_version"])
        hh = ht.read(spark, instant=e["hudi_instant"])
        assert _parity(dd, hh) == 0, f"diverges at v{e['delta_version']}"
    assert not sync_delta_to_hudi(str(tmp_path / "d"), str(tmp_path / "h2"))["synced"]

    pt = DeltaFixtureWriter(str(tmp_path / "pt"), partition_by=["o_custkey"])
    pt.append(orders.filter("o_orderkey <= 100"))
    with pytest.raises(DeltaError, match="partitioned"):
        delta_to_hudi(str(tmp_path / "pt"), str(tmp_path / "h3"))


def test_hudi_to_delta_direct_incl_partitioned(spark, orders, tmp_path):
    """r11: the last direct leg (H->D) — unpartitioned link, an
    upsert's rewritten group links at its LATEST slice only, and a
    PARTITIONED CoW table links losslessly (files carry the columns;
    hive partition paths become add.partitionValues so Delta keeps
    pruning). MoR refuses at the reader."""
    import os

    import pytest as _p

    from cdf_spark.package.xtable import hudi_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.hudi import HudiError, HudiFixtureWriter, HudiTable

    hw = HudiFixtureWriter(str(tmp_path / "h"))
    base = orders.filter("o_orderkey <= 400")
    hw.commit(base, file_id="g0")
    from pyspark.sql import functions as F

    hw.commit(
        base.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") <= 50, F.lit(-1.0)).otherwise(
                F.col("o_totalprice")
            ),
        ),
        file_id="g0",
    )
    info = hudi_to_delta(str(tmp_path / "h"), str(tmp_path / "d"))
    d = DeltaTable(str(tmp_path / "d")).read(spark)
    h = HudiTable(str(tmp_path / "h")).read(spark)
    assert info["partition_columns"] == []
    assert _parity(d, h) == 0
    assert not any(f.endswith(".parquet") for f in os.listdir(str(tmp_path / "d")))

    part = orders.withColumn("bucket", (orders.o_custkey % 3).cast("long"))
    pw = HudiFixtureWriter(str(tmp_path / "hp"), partition_by=["bucket"])
    pw.commit(part.filter("o_orderkey <= 500"))
    info2 = hudi_to_delta(str(tmp_path / "hp"), str(tmp_path / "dp"))
    assert info2["partition_columns"] == ["bucket"]
    dp = DeltaTable(str(tmp_path / "dp")).read(spark)
    hp = HudiTable(str(tmp_path / "hp")).read(spark)
    assert _parity(dp.select(*sorted(dp.columns)), hp.select(*sorted(hp.columns))) == 0
    assert _parity(
        dp.filter("bucket = 1").select(*sorted(dp.columns)),
        hp.filter("bucket = 1").select(*sorted(hp.columns)),
    ) == 0

    from cdf_spark.sources.hudi_mor import HudiMorFixtureWriter

    mw = HudiMorFixtureWriter(str(tmp_path / "m"), record_key="o_orderkey")
    mw.insert(orders.filter("o_orderkey <= 100"))
    with _p.raises(HudiError, match="merge-on-read"):
        hudi_to_delta(str(tmp_path / "m"), str(tmp_path / "dm"))


def test_iceberg_to_hudi_partitioned_when_files_carry_columns(spark, orders, tmp_path):
    """r11: partitioned I->H translates when the data files CARRY the
    partition columns (regular Iceberg writes): identity partition
    records become hive partition paths in the write stats, so the
    Hudi side prunes; the metadata-only (Flink) shape refuses with a
    pointer at the Delta target."""
    import os

    from cdf_spark.package.xtable import iceberg_to_hudi
    from cdf_spark.sources.hudi import HudiTable
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter, IcebergTable

    part = orders.withColumn("bucket", (orders.o_custkey % 3).cast("long"))
    iw = IcebergFixtureWriter(str(tmp_path / "i"), partition_by=["bucket"])
    iw.append(part.filter("o_orderkey <= 500"))
    info = iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h"))
    assert info["partition_columns"] == ["bucket"]
    h = HudiTable(str(tmp_path / "h")).read(spark)
    i = IcebergTable(str(tmp_path / "i")).read(spark)
    assert _parity(h.select(*sorted(h.columns)), i.select(*sorted(i.columns))) == 0
    assert _parity(
        h.filter("bucket = 2").select(*sorted(h.columns)),
        i.filter("bucket = 2").select(*sorted(i.columns)),
    ) == 0
    assert not any(f.endswith(".parquet") for f in os.listdir(str(tmp_path / "h")))

    # Flink shape (files omit the column) refuses toward Hudi
    fw = IcebergFixtureWriter(
        str(tmp_path / "fl"), partition_by=["bucket"], omit_partition_cols=True
    )
    fw.append(part.filter("o_orderkey <= 100"))
    with pytest.raises(IcebergError, match="omits partition columns"):
        iceberg_to_hudi(str(tmp_path / "fl"), str(tmp_path / "h2"))


def test_delta_destination_uniform_mode(spark, orders, tmp_path):
    """r11 Delta UniForm: a DeltaDestination constructed with
    uniform='iceberg' generates Iceberg metadata IN the table dir
    after every commit — Iceberg engines read the same files with
    zero copies and per-commit history parity; a DV-carrying merge
    leaves the Iceberg view at the last representable state (recorded
    gap, stale flag), and the next representable commit catches up."""
    import os

    from pyspark.sql import functions as F

    from cdf_spark.package import PackageBuilder
    from cdf_spark.package.delta_dest import DeltaDestination
    from cdf_spark.sources.base import WriteDisposition
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergTable

    dest = DeltaDestination(
        tmp_path / "t", merge_keys=["o_orderkey"], uniform="iceberg"
    )
    b = PackageBuilder(tmp_path / "pkgs", "orders")

    def commit(df, disp):
        pkg = b.build(admitted=df)
        rec = dest.verify(spark, dest.commit(spark, pkg, disp), pkg)
        assert rec.verified
        return rec

    commit(orders.filter("o_orderkey <= 300"), WriteDisposition.APPEND)
    ice = IcebergTable(tmp_path / "t").read(spark)
    d = DeltaTable(tmp_path / "t").read(spark)
    assert _parity(ice, d) == 0
    assert not dest.last_uniform_sync["stale"]

    commit(
        orders.filter("o_orderkey > 300 AND o_orderkey <= 500"),
        WriteDisposition.APPEND,
    )
    assert _parity(IcebergTable(tmp_path / "t").read(spark),
                   DeltaTable(tmp_path / "t").read(spark)) == 0
    pre_merge = IcebergTable(tmp_path / "t").read(spark).count()

    # DV merge: unrepresentable by linking -> iceberg view stays put
    commit(
        orders.filter("o_orderkey <= 50").withColumn("o_totalprice", F.lit(-1.0)),
        WriteDisposition.MERGE,
    )
    assert dest.last_uniform_sync["stale"]
    assert IcebergTable(tmp_path / "t").read(spark).count() == pre_merge

    # a REPLACE commit is representable: the sync catches up
    commit(orders.filter("o_orderkey <= 400"), WriteDisposition.REPLACE)
    assert not dest.last_uniform_sync["stale"]
    assert _parity(IcebergTable(tmp_path / "t").read(spark),
                   DeltaTable(tmp_path / "t").read(spark)) == 0
    # zero copies: no parquet under the iceberg data dir
    assert not any(
        f.endswith(".parquet") for f in os.listdir(tmp_path / "t" / "data")
    )


def test_sync_iceberg_to_delta_history_and_gaps(spark, orders, tmp_path):
    """r11 REVERSE continuous sync: one Delta commit per Iceberg
    snapshot on the current ancestry — per-snapshot read parity incl.
    a partitioned source, timestamp time-travel parity, idempotent
    resume, delete-file snapshots skipped with a recorded gap then
    caught up by the next representable snapshot."""
    from cdf_spark.package.xtable import sync_iceberg_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    part = orders.withColumn("bucket", (orders.o_custkey % 2).cast("long"))
    iw = IcebergFixtureWriter(str(tmp_path / "i"), partition_by=["bucket"])
    iw.append(part.filter("o_orderkey <= 300"), timestamp_ms=1_000_000)
    iw.append(
        part.filter("o_orderkey > 300 AND o_orderkey <= 600"), timestamp_ms=2_000_000
    )
    iw.overwrite(part.filter("o_orderkey <= 450"), timestamp_ms=3_000_000)
    r = sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    assert len(r["synced"]) == 3 and not r["stale"]
    it, dt = IcebergTable(str(tmp_path / "i")), DeltaTable(str(tmp_path / "d"))
    for e in r["synced"]:
        i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
        d = dt.read(spark, version=e["delta_version"])
        assert _parity(d, i) == 0, f"diverges at snapshot {e['iceberg_snapshot_id']}"
    # timestamp-addressed parity: both engines resolve 2.5M ms to state 2
    s_ts = int(it.snapshot_as_of(2_500_000)["snapshot-id"])
    v_ts = dt.version_as_of(2_500_000)
    assert _parity(dt.read(spark, version=v_ts), it.read(spark, snapshot_id=s_ts)) == 0
    assert not sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))["synced"]

    # delete-file snapshot: unrepresentable -> gap; overwrite catches up
    t = IcebergTable(str(tmp_path / "i"))
    victim = t.files_for_snapshot(t.current_snapshot_id())[0]
    iw.delete_positions([(victim, 0)])
    r2 = sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    assert r2["stale"] and r2["synced"][-1]["skipped"] == "row-level-delete-files"
    pre = DeltaTable(str(tmp_path / "d")).read(spark).count()
    live = IcebergTable(str(tmp_path / "i")).read(spark)
    iw.overwrite(live, timestamp_ms=4_000_000)
    r3 = sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    assert not r3["stale"]
    post = DeltaTable(str(tmp_path / "d")).read(spark)
    assert post.count() == pre - 1
    assert _parity(post, IcebergTable(str(tmp_path / "i")).read(spark)) == 0


def test_sync_hudi_to_iceberg_history(spark, orders, tmp_path):
    """r11: continuous sync from a HUDI CoW source — one Iceberg
    snapshot per instant: insert-only commits land as appends, a CoW
    upsert (group rewrite) lands as an overwrite of the live slice
    set, per-instant read parity, idempotent resume."""
    import os

    from pyspark.sql import functions as F

    from cdf_spark.package.xtable import sync_hudi_to_iceberg
    from cdf_spark.sources.hudi import HudiFixtureWriter, HudiTable
    from cdf_spark.sources.iceberg import IcebergTable

    hw = HudiFixtureWriter(str(tmp_path / "h"))
    base = orders.filter("o_orderkey <= 300")
    hw.commit(base, file_id="g0")
    hw.commit(orders.filter("o_orderkey > 300 AND o_orderkey <= 500"), file_id="g1")
    hw.commit(  # CoW upsert: rewrites g0 -> must sync as an overwrite
        base.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") <= 40, F.lit(-1.0)).otherwise(
                F.col("o_totalprice")
            ),
        ),
        file_id="g0",
    )
    r = sync_hudi_to_iceberg(str(tmp_path / "h"), str(tmp_path / "i"))
    assert len(r["synced"]) == 3
    ht, it = HudiTable(str(tmp_path / "h")), IcebergTable(str(tmp_path / "i"))
    for e in r["synced"]:
        h = ht.read(spark, instant=e["hudi_instant"])
        i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
        assert _parity(h, i) == 0, f"diverges at instant {e['hudi_instant']}"
    assert not sync_hudi_to_iceberg(str(tmp_path / "h"), str(tmp_path / "i"))["synced"]
    assert not any(
        f.endswith(".parquet") for f in os.listdir(str(tmp_path / "i" / "data"))
    )


def test_sync_crash_resume_never_duplicates(spark, orders, tmp_path):
    """Every sync writes its cursor AFTER the target commit, so a
    crash between the two re-offers the same source commit on resume.
    Simulate the crash window by REWINDING the cursor and re-running:
    re-linking an append would duplicate rows; the idempotence guard
    (files already live in the target) must land nothing twice — in
    all three append-linking directions."""
    import json

    from cdf_spark.package.xtable import (
        sync_delta_to_hudi,
        sync_delta_to_iceberg,
        sync_hudi_to_iceberg,
        sync_iceberg_to_delta,
    )
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable
    from cdf_spark.sources.hudi import HudiFixtureWriter, HudiTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    base = orders.filter("o_orderkey <= 200")
    n = base.count()

    # D -> I
    dw = DeltaFixtureWriter(str(tmp_path / "d"))
    dw.append(base)
    sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    cur = tmp_path / "i" / "xtable_sync.json"
    cur.write_text(json.dumps({"last_delta_version": -1}))  # rewind
    r = sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    assert len(r["synced"]) == 1  # re-offered, guarded
    assert IcebergTable(str(tmp_path / "i")).read(spark).count() == n

    # D -> H
    sync_delta_to_hudi(str(tmp_path / "d"), str(tmp_path / "h"))
    cur = tmp_path / "h" / ".hoodie" / "xtable_sync.json"
    cur.write_text(json.dumps({"last_delta_version": -1}))
    sync_delta_to_hudi(str(tmp_path / "d"), str(tmp_path / "h"))
    assert HudiTable(str(tmp_path / "h")).read(spark).count() == n

    # I -> D
    iw = IcebergFixtureWriter(str(tmp_path / "i2"))
    iw.append(base)
    sync_iceberg_to_delta(str(tmp_path / "i2"), str(tmp_path / "d2"))
    cur = tmp_path / "d2" / "xtable_sync.json"
    cur.write_text(json.dumps({"last_sequence_number": -1}))
    sync_iceberg_to_delta(str(tmp_path / "i2"), str(tmp_path / "d2"))
    assert DeltaTable(str(tmp_path / "d2")).read(spark).count() == n

    # H -> I
    hw = HudiFixtureWriter(str(tmp_path / "h2"))
    hw.commit(base)
    sync_hudi_to_iceberg(str(tmp_path / "h2"), str(tmp_path / "i3"))
    cur = tmp_path / "i3" / "xtable_sync.json"
    cur.write_text(json.dumps({"last_hudi_instant": ""}))
    sync_hudi_to_iceberg(str(tmp_path / "h2"), str(tmp_path / "i3"))
    assert IcebergTable(str(tmp_path / "i3")).read(spark).count() == n


def test_target_maintenance_never_deletes_linked_files(spark, orders, tmp_path):
    """Linked files' LIFECYCLE belongs to the source table — the
    translated/synced target's own maintenance must never unlink them,
    even after they leave the target's live set: Hudi clean on a
    synced table with a retired (replacecommit) generation, and
    Iceberg expire_snapshots on a synced table with expired history,
    both with aggressive retention."""
    import json

    from cdf_spark.package.xtable import sync_delta_to_hudi, sync_delta_to_iceberg
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable
    from cdf_spark.sources.hudi import HudiTable
    from cdf_spark.sources.iceberg import IcebergTable

    base = orders.filter("o_orderkey <= 200")
    dw = DeltaFixtureWriter(str(tmp_path / "d"))
    dw.append(base)
    dw.replace(orders.filter("o_orderkey <= 150"))  # retires commit 0's files

    # Hudi target: the replace retired the first linked group; an
    # aggressive clean must NOT unlink the source's files
    sync_delta_to_hudi(str(tmp_path / "d"), str(tmp_path / "h"))
    src_files = set(DeltaTable(str(tmp_path / "d")).files_for_version(0)) | set(
        DeltaTable(str(tmp_path / "d")).files_for_version(1)
    )
    r = HudiTable(str(tmp_path / "h")).clean(retain_commits=1)
    assert all(Path(f).exists() for f in src_files), "cleaner destroyed source data"
    assert not r.get("filesDeleted") or all(
        f not in src_files for f in r.get("filesDeleted", [])
    )

    # Iceberg target: expire the first synced snapshot with orphan
    # deletion on — the linked (external) orphans must be skipped
    sync_delta_to_iceberg(str(tmp_path / "d"), str(tmp_path / "i"))
    it = IcebergTable(str(tmp_path / "i"))
    res = it.expire_snapshots(keep_last=1, delete_orphans=True)
    assert all(Path(f).exists() for f in src_files), "expire destroyed source data"
    assert res.get("external_linked_skipped"), "expired linked files not flagged"
    # the delta source still reads green at both versions
    assert DeltaTable(str(tmp_path / "d")).read(spark, version=0).count() == base.count()
    assert (
        DeltaTable(str(tmp_path / "d")).read(spark, version=1).count()
        == orders.filter("o_orderkey <= 150").count()
    )


def test_sync_matrix_final_two_directions(spark, orders, tmp_path):
    """r11: sync_iceberg_to_hudi and sync_hudi_to_delta close the
    continuous matrix — all six ordered pairs now have incremental
    sync. Per-state read parity across the whole history, upsert ->
    replace semantics, idempotent resume, crash-resume rewind safety."""
    import json

    from pyspark.sql import functions as F

    from cdf_spark.package.xtable import sync_hudi_to_delta, sync_iceberg_to_hudi
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.hudi import HudiFixtureWriter, HudiTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    base = orders.filter("o_orderkey <= 300")

    # I -> H continuous
    iw = IcebergFixtureWriter(str(tmp_path / "i"))
    iw.append(base)
    iw.append(orders.filter("o_orderkey > 300 AND o_orderkey <= 500"))
    iw.overwrite(orders.filter("o_orderkey <= 400"))
    r = sync_iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h"))
    assert len(r["synced"]) == 3
    it, ht = IcebergTable(str(tmp_path / "i")), HudiTable(str(tmp_path / "h"))
    for e in r["synced"]:
        i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
        h = ht.read(spark, instant=e["hudi_instant"])
        assert _parity(i, h) == 0, f"I->H diverges at {e['iceberg_snapshot_id']}"
    assert not sync_iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h"))["synced"]
    # crash-resume rewind
    (tmp_path / "h" / ".hoodie" / "xtable_sync.json").write_text(
        json.dumps({"last_sequence_number": -1})
    )
    sync_iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h"))
    assert HudiTable(str(tmp_path / "h")).read(spark).count() == orders.filter(
        "o_orderkey <= 400"
    ).count()

    # H -> D continuous (incl. a CoW upsert -> replace)
    hw = HudiFixtureWriter(str(tmp_path / "h2"))
    hw.commit(base, file_id="g0")
    hw.commit(
        base.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") <= 30, F.lit(-1.0)).otherwise(
                F.col("o_totalprice")
            ),
        ),
        file_id="g0",
    )
    r2 = sync_hudi_to_delta(str(tmp_path / "h2"), str(tmp_path / "d"))
    assert len(r2["synced"]) == 2
    ht2, dt = HudiTable(str(tmp_path / "h2")), DeltaTable(str(tmp_path / "d"))
    for e in r2["synced"]:
        h = ht2.read(spark, instant=e["hudi_instant"])
        d = dt.read(spark, version=e["delta_version"])
        assert _parity(h, d) == 0, f"H->D diverges at {e['hudi_instant']}"
    assert not sync_hudi_to_delta(str(tmp_path / "h2"), str(tmp_path / "d"))["synced"]
    (tmp_path / "d" / "xtable_sync.json").write_text(
        json.dumps({"last_hudi_instant": ""})
    )
    sync_hudi_to_delta(str(tmp_path / "h2"), str(tmp_path / "d"))
    assert DeltaTable(str(tmp_path / "d")).read(spark).count() == base.count()


def test_synced_table_feeds_incremental_consumption(spark, orders, tmp_path):
    """A translated table is not a dead-end view: a Delta table BUILT
    BY the I->D sync feeds normal incremental consumption —
    changes_since over the synced commits delivers exactly the new
    snapshot's rows, so a downstream pipeline can consume a foreign
    format's table through its translated log."""
    from cdf_spark.package.xtable import sync_iceberg_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter

    iw = IcebergFixtureWriter(str(tmp_path / "i"))
    iw.append(orders.filter("o_orderkey <= 200"))
    sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    dt = DeltaTable(str(tmp_path / "d"))
    first, pos = dt.changes_since(spark, None)
    assert first.count() == orders.filter("o_orderkey <= 200").count()

    iw.append(orders.filter("o_orderkey > 200 AND o_orderkey <= 350"))
    sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    delta_rows, pos2 = DeltaTable(str(tmp_path / "d")).changes_since(spark, pos)
    want = orders.filter("o_orderkey > 200 AND o_orderkey <= 350")
    assert delta_rows.count() == want.count()
    assert _parity(delta_rows, want) == 0
    # nothing new -> no rows
    again, _ = DeltaTable(str(tmp_path / "d")).changes_since(spark, pos2)
    assert again is None or again.count() == 0


def test_iceberg_to_hudi_refuses_mixed_shape_snapshot(spark, orders, tmp_path):
    """One snapshot mixing regular-write files (partition columns
    present) with metadata-only Flink-shape files (columns omitted)
    must refuse — validating only the first sorted file would link a
    Hudi table whose OTHER files lack the columns and fail or misread
    at scan time. Every entry's footer is checked."""
    from cdf_spark.package.xtable import iceberg_to_hudi
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter

    part = orders.withColumn("bucket", (orders.o_custkey % 3).cast("long"))
    iw = IcebergFixtureWriter(str(tmp_path / "i"), partition_by=["bucket"])
    iw.append(part.filter("o_orderkey <= 200"))  # columns present
    fw = IcebergFixtureWriter(
        str(tmp_path / "i"), partition_by=["bucket"], omit_partition_cols=True
    )
    fw.append(part.filter("o_orderkey > 200 and o_orderkey <= 400"))  # omitted
    with pytest.raises(IcebergError, match="omits partition columns"):
        iceberg_to_hudi(str(tmp_path / "i"), str(tmp_path / "h"))


def test_hudi_mor_translation_compaction_gated(spark, orders, tmp_path):
    """r12: MoR source legs translate the read-optimized view ONLY
    when fully compacted — a dirty (log-bearing) group refuses with
    compact() named as the unlock, the Apache XTable posture for MoR
    sources. After compact(), both targets read bit-equal to the MoR
    read-optimized view with zero copies."""
    import os

    from cdf_spark.package.xtable import hudi_mor_to_delta, hudi_mor_to_iceberg
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.hudi import HudiError
    from cdf_spark.sources.hudi_mor import (
        META_COLS,
        HudiMorFixtureWriter,
        HudiMorTable,
    )
    from cdf_spark.sources.iceberg import IcebergTable

    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    w = HudiMorFixtureWriter(str(tmp_path / "m"), record_key="o_orderkey")
    w.insert(o.filter("o_orderkey <= 300"))
    w.upsert(o.filter("o_orderkey <= 100").withColumn("o_totalprice", F.lit(0.0)))
    with pytest.raises(HudiError, match=r"compact\(\)"):
        hudi_mor_to_delta(str(tmp_path / "m"), str(tmp_path / "d"))
    with pytest.raises(HudiError, match=r"compact\(\)"):
        hudi_mor_to_iceberg(str(tmp_path / "m"), str(tmp_path / "i"))
    assert w.compact(spark)
    hudi_mor_to_delta(str(tmp_path / "m"), str(tmp_path / "d"))
    hudi_mor_to_iceberg(str(tmp_path / "m"), str(tmp_path / "i"))
    ro = HudiMorTable(str(tmp_path / "m")).read_optimized(spark)
    d = DeltaTable(str(tmp_path / "d")).read(spark).drop(*META_COLS)
    i = IcebergTable(str(tmp_path / "i")).read(spark).drop(*META_COLS)
    for v in (d, i):
        assert _parity(v.select(*sorted(v.columns)), ro.select(*sorted(ro.columns))) == 0
    assert not any(f.endswith(".parquet") for f in os.listdir(tmp_path / "d"))
    assert not any(f.endswith(".parquet") for f in os.listdir(tmp_path / "i"))
    # zeroed rows really came through the compacted view
    assert d.filter("o_orderkey <= 100 and o_totalprice = 0.0").count() == d.filter("o_orderkey <= 100").count()


def test_hudi_mor_partitioned_translation_prunes_on_delta(spark, orders, tmp_path):
    """Partitioned MoR -> Delta: base files carry the partition
    columns and hive paths land as add.partitionValues, so the Delta
    side keeps partition pruning."""
    from cdf_spark.package.xtable import hudi_mor_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.hudi_mor import (
        META_COLS,
        HudiMorFixtureWriter,
        HudiMorTable,
    )

    part = orders.withColumn("bucket", (orders.o_custkey % 3).cast("long")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "bucket"
    )
    w = HudiMorFixtureWriter(
        str(tmp_path / "m"), record_key="o_orderkey", partition_by=["bucket"]
    )
    w.insert(part.filter("o_orderkey <= 300"))
    w.upsert(part.filter("o_orderkey > 300 and o_orderkey <= 500"))
    w.compact(spark)
    info = hudi_mor_to_delta(str(tmp_path / "m"), str(tmp_path / "d"))
    assert info["partition_columns"] == ["bucket"]
    ro = HudiMorTable(str(tmp_path / "m")).read_optimized(spark)
    d = DeltaTable(str(tmp_path / "d")).read(spark).drop(*META_COLS)
    assert _parity(d.select(*sorted(d.columns)), ro.select(*sorted(ro.columns))) == 0
    assert _parity(
        d.filter("bucket = 1").select(*sorted(d.columns)),
        ro.filter("bucket = 1").select(*sorted(ro.columns)),
    ) == 0


def test_iceberg_derivable_transforms_to_delta(spark, orders, tmp_path):
    """r12: year/month/day Iceberg partition specs over DATE columns
    translate to Delta as GENERATED partition columns (expression
    recorded in schema metadata, per-file value from
    add.partitionValues); bucket and truncate still refuse."""
    from cdf_spark.package.xtable import iceberg_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergError, IcebergFixtureWriter

    o = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .filter("o_orderkey <= 200")
    )
    for tr, pcol, check in (
        ("year", "o_orderdate_year", "o_orderdate_year <> year(o_orderdate)"),
        (
            "month",
            "o_orderdate_month",
            "o_orderdate_month <> (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1",
        ),
    ):
        iw = IcebergFixtureWriter(
            str(tmp_path / f"i_{tr}"), partition_by=[(tr, "o_orderdate")], seed=3
        )
        iw.append(o)
        info = iceberg_to_delta(str(tmp_path / f"i_{tr}"), str(tmp_path / f"d_{tr}"))
        assert info["partition_columns"] == [pcol]
        d = DeltaTable(str(tmp_path / f"d_{tr}")).read(spark)
        assert d.filter(check).count() == 0
        assert d.count() == o.count()
        # the generation expression is recorded in the LOG's declared
        # schema (the authoritative record a real Delta reader uses)
        dt = DeltaTable(str(tmp_path / f"d_{tr}"))
        declared = dt._logical_schema(dt.current_version())
        fld = next(f for f in declared.fields if f.name == pcol)
        assert "delta.generationExpression" in (fld.metadata or {})
    # bucket and truncate remain refused
    for spec in (("bucket", 4, "o_custkey"), ("truncate", 2, "o_custkey")):
        iw = IcebergFixtureWriter(
            str(tmp_path / f"i_{spec[0]}"), partition_by=[spec], seed=3
        )
        iw.append(o)
        with pytest.raises(IcebergError, match="not derivable"):
            iceberg_to_delta(str(tmp_path / f"i_{spec[0]}"), str(tmp_path / "dx"))


def test_sync_i2d_derivable_transform_history(spark, tmp_path):
    """Continuous I->D sync over a days-partitioned source: per-commit
    parity including the derived generated column, idempotent resume."""
    from cdf_spark.package.xtable import sync_iceberg_to_delta
    from cdf_spark.sources.delta import DeltaTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    o = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
    )
    iw = IcebergFixtureWriter(
        str(tmp_path / "i"), partition_by=[("day", "o_orderdate")], seed=5
    )
    iw.append(o.filter("o_orderkey <= 150"))
    iw.append(o.filter("o_orderkey > 150 and o_orderkey <= 300"))
    r = sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))
    assert len(r["synced"]) == 2 and not r["stale"]
    i = IcebergTable(str(tmp_path / "i")).read(spark)
    d = DeltaTable(str(tmp_path / "d")).read(spark)
    assert "o_orderdate_day" in d.columns
    assert d.filter("o_orderdate_day <> CAST(o_orderdate AS DATE)").count() == 0
    dd = d.drop("o_orderdate_day")
    assert _parity(dd.select(*sorted(dd.columns)), i.select(*sorted(i.columns))) == 0
    # idempotent resume
    assert not sync_iceberg_to_delta(str(tmp_path / "i"), str(tmp_path / "d"))["synced"]
