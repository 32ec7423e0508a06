"""Package building, value hashes, commit protocol, checkpoint ledger, pipeline."""

import json

from pyspark.sql import functions as F
from pathlib import Path

import pytest

from cdf_spark.contracts import Contract, RangeRule
from cdf_spark.expressions.ast import Col
from cdf_spark.package import CheckpointLedger, PackageBuilder
from cdf_spark.package.ledger import ParquetDestination
from cdf_spark.package.stats import column_stats, dataset_value_hash, prune_segments
from cdf_spark.runtime import LoadPipeline, replay_package
from cdf_spark.sources import FileResource, ResourceDescriptor
from cdf_spark.sources.base import CursorSpec, WriteDisposition


def test_value_hash_order_and_partition_independent(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "id long, s string")
    h1 = dataset_value_hash(df)
    h2 = dataset_value_hash(df.orderBy("s"))
    h3 = dataset_value_hash(df.repartition(5))
    assert h1 == h2 == h3
    h4 = dataset_value_hash(df.filter("id != 3"))
    assert h1 != h4


def test_column_stats(spark):
    df = spark.createDataFrame([(1, "a", None), (5, "z", 2.0)], "id long, s string, v double")
    st = column_stats(df)
    assert st["id"] == {"null_count": 0, "complete": True, "min": 1, "max": 5}
    assert st["v"]["null_count"] == 1
    assert st["__table"]["rows"] == 2


def test_zone_map_pruning():
    segs = [
        {"name": "s1", "stats": {"a": {"complete": True, "min": 0, "max": 10}}},
        {"name": "s2", "stats": {"a": {"complete": True, "min": 11, "max": 20}}},
        {"name": "s3", "stats": {}},  # no stats -> retained conservatively
    ]
    kept = prune_segments(segs, "a", "gt", 15)
    assert [s.get("name") for s in kept] == ["s2", "s3"]
    kept = prune_segments(segs, "eq", "a", 5) if False else prune_segments(segs, "a", "eq", 5)
    assert [s.get("name") for s in kept] == ["s1", "s3"]


def test_package_build_and_verify(spark, tmp_path, orders):
    builder = PackageBuilder(tmp_path, "orders")
    pkg = builder.build(admitted=orders)
    d = Path(pkg.path)
    assert (d / "manifest.json").exists()
    assert (d / "stats" / "column_stats.json").exists()
    assert (d / "schema" / "schema.json").exists()
    assert pkg.rows_admitted == orders.count()
    assert PackageBuilder.verify(spark, pkg.path)

    # same input -> same package id (deterministic addressing)
    pkg2 = builder.build(admitted=orders)
    assert pkg2.package_id == pkg.package_id

    # tamper -> verify fails
    manifest = json.loads((d / "manifest.json").read_text())
    manifest["value_hash"] = "xxh64-msum:0000000000000000:1"
    (d / "manifest.json").write_text(json.dumps(manifest))
    assert not PackageBuilder.verify(spark, pkg.path)


def test_commit_receipt_checkpoint(spark, tmp_path, orders):
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    pkg = builder.build(admitted=orders.limit(100))
    dest = ParquetDestination(tmp_path / "dest" / "orders")
    ledger = CheckpointLedger(tmp_path / "ledger")

    receipt = dest.commit(spark, pkg, WriteDisposition.REPLACE)
    receipt = dest.verify(spark, receipt, pkg)
    assert receipt.verified
    assert receipt.delivery_guarantee == "effectively_once_per_target"

    ledger.record_receipt(receipt)
    ck = ledger.advance("orders", receipt, {"o_orderkey": 12345})
    assert ledger.latest("orders").checkpoint_id == ck.checkpoint_id
    assert ledger.resume_position("orders", "o_orderkey") == 12345

    # unverified receipts are refused
    receipt.verified = False
    with pytest.raises(ValueError):
        ledger.advance("orders", receipt)


def test_merge_disposition(spark, tmp_path):
    dest = ParquetDestination(tmp_path / "t", merge_keys=["k"])
    builder = PackageBuilder(tmp_path / "pkgs", "t")

    base = spark.createDataFrame([(1, "old1"), (2, "old2")], "k long, v string")
    pkg1 = builder.build(admitted=base)
    r1 = dest.verify(spark, dest.commit(spark, pkg1, WriteDisposition.REPLACE), pkg1)
    assert r1.verified

    update = spark.createDataFrame([(2, "new2"), (3, "new3")], "k long, v string")
    pkg2 = builder.build(admitted=update)
    r2 = dest.verify(spark, dest.commit(spark, pkg2, WriteDisposition.MERGE), pkg2)
    assert r2.verified
    assert r2.delivery_guarantee == "effectively_once_per_key"

    final = {(r.k, r.v) for r in spark.read.parquet(str(tmp_path / "t")).collect()}
    assert final == {(1, "old1"), (2, "new2"), (3, "new3")}


@pytest.mark.parametrize("disposition", [WriteDisposition.APPEND, WriteDisposition.MERGE],
                         ids=["append", "merge"])
def test_end_to_end_pipeline_with_incremental_resume(spark, tmp_path, sf_dir, disposition):
    """Three runs: the later two resume from the checkpointed cursor
    and load zero new rows (idempotent incremental). A run with no new
    rows commits nothing and keeps the cursor, so the third run does
    not reload from scratch — under APPEND that would duplicate every
    row, under MERGE it would re-admit them."""
    desc = ResourceDescriptor(
        resource_id="orders_inc",
        primary_key=["o_orderkey"],
        cursor=CursorSpec("o_orderkey"),
        dedup_keys=["o_orderkey"],
    )
    resource = FileResource(desc, f"{sf_dir}/orders.parquet")
    ledger = CheckpointLedger(tmp_path / "ledger")
    pipe = LoadPipeline(
        resource=resource,
        contract=Contract(rules=[RangeRule("o_totalprice", min=0.0)]),
        package_root=str(tmp_path / "pkgs"),
        ledger=ledger,
        destination=ParquetDestination(tmp_path / "dest", merge_keys=["o_orderkey"]),
        disposition=disposition,
    )
    r1 = pipe.run(spark)
    assert r1.receipt.verified and r1.rows_admitted > 0
    dest_rows = spark.read.parquet(str(tmp_path / "dest")).count()
    assert dest_rows == r1.rows_admitted
    cursor = ledger.resume_position("orders_inc", "o_orderkey")
    assert cursor is not None

    for _ in range(2):
        r = pipe.run(spark)
        assert r.rows_admitted == 0  # cursor resumed: nothing new
        assert ledger.resume_position("orders_inc", "o_orderkey") == cursor
        assert spark.read.parquet(str(tmp_path / "dest")).count() == dest_rows
        assert r.receipt is None


def test_replay_package(spark, tmp_path, orders):
    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    pkg = builder.build(admitted=orders.limit(50))
    dest = ParquetDestination(tmp_path / "replayed")
    receipt = replay_package(spark, pkg.path, dest, WriteDisposition.REPLACE)
    assert receipt.verified
    assert spark.read.parquet(str(tmp_path / "replayed")).count() == 50


def test_pipeline_schema_admission(spark, tmp_path, sf_dir):
    """First run promotes the observed schema as the authority head;
    a later run whose scan schema drifts is refused before any data
    moves."""
    from cdf_spark.types.authority import SchemaAuthority, SchemaDriftError

    desc = ResourceDescriptor(resource_id="orders_auth", primary_key=["o_orderkey"])
    pipe = LoadPipeline(
        resource=FileResource(desc, f"{sf_dir}/orders.parquet"),
        package_root=str(tmp_path / "pkgs"),
        ledger=CheckpointLedger(tmp_path / "ledger"),
    )
    r = pipe.run(spark)
    assert r.rows_admitted > 0
    auth = SchemaAuthority(tmp_path / "ledger" / "schemas", "orders_auth")
    assert auth.active() is not None

    # same schema: second run admits (exact)
    assert pipe.run(spark).rows_admitted > 0

    # drifted source (column type changed): refused
    drifted = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string")
    )
    dpath = tmp_path / "drifted"
    drifted.write.parquet(str(dpath))
    pipe2 = LoadPipeline(
        resource=FileResource(desc, str(dpath)),
        package_root=str(tmp_path / "pkgs"),
        ledger=CheckpointLedger(tmp_path / "ledger"),
    )
    with pytest.raises(SchemaDriftError):
        pipe2.run(spark)
