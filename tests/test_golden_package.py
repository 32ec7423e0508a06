"""Golden-package conformance: layout, manifest shape, deterministic ids.

The analogue of the reference's golden package suite
(`crates/cdf-conformance/src/golden_package/mod.rs:21-43`,
`golden/prepared-orders-v1/expected.json`): a fixed input must produce
a package with the expected layout, manifest fields, and a STABLE
package id — byte-level file equality is replaced by value-level
identity (Spark task ordering is nondeterministic by design).
"""

import json
from pathlib import Path

import pytest

from cdf_spark.contracts import Contract, DomainRule, RangeRule
from cdf_spark.expressions.ast import Col
from cdf_spark.package.builder import PackageBuilder
from cdf_spark.plans.scan import ScanRequest
from cdf_spark.sources import FileResource, ResourceDescriptor

EXPECTED_LAYOUT = {"data", "plan", "schema", "stats", "lineage", "state", "manifest.json"}
EXPECTED_MANIFEST_KEYS = {
    "package_id", "manifest_version", "resource_id", "rows_admitted",
    "rows_quarantined", "value_hash", "schema_fingerprint", "plan_hash",
    "contract_hash", "segments", "created_at_ms",
}


def _build(spark, sf_dir, tmp, shuffle_partitions=None):
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    res = FileResource(ResourceDescriptor(resource_id="orders"), f"{sf_dir}/orders.parquet")
    df, plan = res.scan(
        spark, ScanRequest("orders", predicates=[Col("o_totalprice") > 50000.0])
    )
    contract = Contract(
        rules=[RangeRule("o_totalprice", min=0.0), DomainRule("o_orderstatus", ["O", "F", "P"])]
    )
    from cdf_spark.contracts import evaluate_contract

    cres = evaluate_contract(df, contract)
    return PackageBuilder(tmp, "orders").build(
        admitted=cres.admitted, quarantined=cres.quarantined, scan_plan=plan, contract=contract
    )


def test_golden_layout_and_manifest(spark, sf_dir, tmp_path):
    pkg = _build(spark, sf_dir, tmp_path / "a")
    d = Path(pkg.path)
    assert EXPECTED_LAYOUT <= {p.name for p in d.iterdir()}
    manifest = json.loads((d / "manifest.json").read_text())
    assert set(manifest) == EXPECTED_MANIFEST_KEYS
    assert manifest["manifest_version"] == "cdf-spark-package@1"
    assert manifest["rows_admitted"] > 0
    assert manifest["segments"], "data segments must be listed"
    assert manifest["value_hash"].startswith("xxh64-msum:")
    assert manifest["schema_fingerprint"].startswith("sha256:")
    assert manifest["plan_hash"].startswith("sha256:")
    # plan artifact records the pushed predicate + fidelity
    plan = json.loads((d / "plan" / "scan_plan.json").read_text())
    assert plan["pushed"] and plan["pushed"][0]["fidelity"] == "inexact"
    assert plan["residual"], "inexact pushdown must carry a residual"
    # stats cover every admitted column
    stats = json.loads((d / "stats" / "column_stats.json").read_text())
    assert stats["o_totalprice"]["min"] > 50000.0


def test_golden_id_stable_across_parallelism(spark, sf_dir, tmp_path):
    """Same input -> same package id regardless of partitioning/
    task order (the determinism CDF gets from canonical row ordinals,
    we get from value hashing)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        p1 = _build(spark, sf_dir, tmp_path / "x", shuffle_partitions=2)
        p2 = _build(spark, sf_dir, tmp_path / "y", shuffle_partitions=13)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert p1.package_id == p2.package_id
    assert p1.value_hash == p2.value_hash


# ---------------------------------------------------------------------------
# Round 2: pinned golden identity + falsification suite (the reference
# pairs its golden expectations with tests that PROVE tampering is
# detected — crates/cdf-conformance falsification posture).

GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "prepared_kv_v1.json").read_text()
)


def _golden_frame(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("amount", T.DoubleType(), True),
        ]
    )
    rows = [(1, "alpha", 10.5), (2, "beta", -3.25), (3, None, 0.0), (4, "delta", 99.99)]
    return spark.createDataFrame(rows, schema)


def test_golden_identity_pinned(spark, tmp_path):
    """A fixed input's package id / value hash / schema fingerprint are
    pinned constants: any drift in canonicalization or hashing is a
    BREAKING change this test forces to be deliberate."""
    pkg = PackageBuilder(tmp_path, "kv").build(admitted=_golden_frame(spark))
    assert pkg.package_id == GOLDEN["package_id"]
    assert pkg.value_hash == GOLDEN["value_hash"]
    assert pkg.schema_fingerprint == GOLDEN["schema_fingerprint"]
    assert pkg.rows_admitted == GOLDEN["rows_admitted"]


def test_falsification_tampered_data_detected(spark, tmp_path):
    """Replace a value in the data segment (manifest untouched) ->
    package verification must fail."""
    pkg = PackageBuilder(tmp_path, "kv").build(admitted=_golden_frame(spark))
    assert PackageBuilder.verify(spark, pkg.path)

    from pyspark.sql import functions as F

    tampered = spark.read.parquet(pkg.data_path()).withColumn(
        "amount", F.when(F.col("k") == 1, 11.5).otherwise(F.col("amount"))
    )
    rows = tampered.collect()
    import shutil

    shutil.rmtree(pkg.data_path())
    spark.createDataFrame(rows, tampered.schema).write.parquet(pkg.data_path())
    assert not PackageBuilder.verify(spark, pkg.path)


def test_falsification_tampered_manifest_detected(spark, tmp_path):
    pkg = PackageBuilder(tmp_path, "kv").build(admitted=_golden_frame(spark))
    mpath = Path(pkg.path) / "manifest.json"
    manifest = json.loads(mpath.read_text())
    manifest["value_hash"] = "xxh64-msum:0000000000000000:4"
    mpath.write_text(json.dumps(manifest))
    assert not PackageBuilder.verify(spark, pkg.path)


def test_falsification_replay_rejects_tampered_package(spark, tmp_path):
    """Rolling replay trusts the manifest; a tampered manifest hash must
    surface as an UNVERIFIED receipt at the destination."""
    from cdf_spark.package.ledger import ParquetDestination
    from cdf_spark.runtime import replay_package
    from cdf_spark.sources.base import WriteDisposition

    pkg = PackageBuilder(tmp_path / "p", "kv").build(admitted=_golden_frame(spark))
    mpath = Path(pkg.path) / "manifest.json"
    manifest = json.loads(mpath.read_text())
    manifest["value_hash"] = "xxh64-msum:ffffffffffffffff:4"
    mpath.write_text(json.dumps(manifest))

    receipt = replay_package(
        spark, pkg.path, ParquetDestination(tmp_path / "dest"), WriteDisposition.REPLACE
    )
    assert not receipt.verified


@pytest.mark.parametrize("disposition", ["replace", "merge"])
def test_falsification_replay_rejects_altered_package_data(spark, tmp_path, disposition):
    """A package whose data changed after its build (same keys, one
    value altered, manifest intact) must not replay under a verified
    receipt: the destination's byte rule proves only that the altered
    segments landed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdf_spark.package.ledger import ParquetDestination
    from cdf_spark.runtime import replay_package
    from cdf_spark.sources.base import WriteDisposition

    pkg = PackageBuilder(tmp_path / "p", "kv").build(admitted=_golden_frame(spark))
    seg = next(s for s in pkg.segments() if 1 in pq.read_table(s).column("k").to_pylist())
    Path(seg).with_name(f".{Path(seg).name}.crc").unlink(missing_ok=True)
    t = pq.read_table(seg)
    amount = [11.5 if k == 1 else a for k, a in zip(t.column("k").to_pylist(), t.column("amount").to_pylist())]
    i = t.schema.get_field_index("amount")
    pq.write_table(t.set_column(i, "amount", pa.array(amount, pa.float64())), seg)

    dest = ParquetDestination(tmp_path / "dest", merge_keys=["k"])
    receipt = replay_package(spark, pkg.path, dest, WriteDisposition(disposition))
    assert not receipt.verified


def test_falsification_quarantine_accounting(spark, tmp_path, sf_dir):
    """Admitted + quarantined must partition the input exactly — no row
    lost, none double-counted (reconciliation-counts parity)."""
    from cdf_spark.contracts import Contract, RangeRule, evaluate_contract

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = df.count()
    cres = evaluate_contract(df, Contract(rules=[RangeRule("o_totalprice", min=100000.0)]))
    pkg = PackageBuilder(tmp_path, "orders").build(
        admitted=cres.admitted, quarantined=cres.quarantined
    )
    assert pkg.rows_admitted + pkg.rows_quarantined == n
    assert pkg.rows_quarantined > 0  # the rule actually fires on this data


def test_falsification_duplicate_pair_swap_detected(spark, tmp_path):
    """The multiset value hash must see {X,X} -> {Z,Z} tampering: an
    xor fold cancels duplicate pairs (two copies of any row xor to 0),
    so swapping one duplicated pair for another preserved both hash
    and row count — invisible. Training corpora are full of exact
    duplicates, so this is a realistic tamper shape."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType(), True), T.StructField("v", T.StringType(), True)]
    )
    x2 = spark.createDataFrame([(1, "x"), (1, "x")], schema)
    z2 = spark.createDataFrame([(2, "z"), (2, "z")], schema)
    pkg = PackageBuilder(tmp_path, "kv").build(admitted=x2)
    assert PackageBuilder.verify(spark, pkg.path)

    import shutil

    shutil.rmtree(pkg.data_path())
    z2.write.parquet(pkg.data_path())
    assert not PackageBuilder.verify(spark, pkg.path)

    # and the hashes themselves differ (the xor fold mapped both to 0)
    from cdf_spark.package.stats import dataset_value_hash

    assert dataset_value_hash(x2) != dataset_value_hash(z2)


def test_verify_ignores_nullability(spark, tmp_path):
    """`spark.range` columns are NOT NULL; Spark reads every parquet
    column back as nullable. That difference alone must not fail the
    integrity check."""
    pkg = PackageBuilder(tmp_path, "ids").build(admitted=spark.range(5))
    assert not spark.range(5).schema["id"].nullable
    assert PackageBuilder.verify(spark, pkg.path)


def test_falsification_column_type_change_detected(spark, tmp_path):
    """A segment rewritten with one column retyped (string -> binary,
    same bytes) keeps the value hash, since xxhash64 folds both types
    alike. The column-type check must catch it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdf_spark.package.stats import dataset_value_hash

    pkg = PackageBuilder(tmp_path, "kv").build(admitted=_golden_frame(spark))
    for seg in pkg.segments():
        Path(seg).with_name(f".{Path(seg).name}.crc").unlink(missing_ok=True)
        t = pq.read_table(seg).replace_schema_metadata(None)  # Spark's footer schema would win
        i = t.schema.get_field_index("name")
        pq.write_table(t.set_column(i, pa.field("name", pa.binary()), t.column(i).cast(pa.binary())), seg)
    assert dataset_value_hash(spark.read.parquet(pkg.data_path())) == pkg.value_hash
    assert not PackageBuilder.verify(spark, pkg.path)
