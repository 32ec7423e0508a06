"""Corrections and compressed formats."""

import json

import pytest

from cdf_spark.package.correction import CorrectionSpec, apply_correction


@pytest.fixture()
def committed_table(spark, tmp_path):
    path = tmp_path / "table"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, v double",
    ).write.parquet(str(path))
    return path


def test_correction_retract(spark, committed_table, tmp_path):
    spec = CorrectionSpec(kind="retract", keys=["k"], key_values=[{"k": 2}, {"k": 4}])
    receipt = apply_correction(spark, committed_table, spec, ledger_root=tmp_path / "ledger")
    assert receipt.rows_affected == 2
    left = {r.k for r in spark.read.parquet(str(committed_table)).collect()}
    assert left == {1, 3}
    log = (tmp_path / "ledger" / "corrections.jsonl").read_text().strip()
    assert json.loads(log)["kind"] == "retract"


def test_correction_amend(spark, committed_table):
    spec = CorrectionSpec(kind="amend", keys=["k"], key_values=[{"k": 3}], amendments={"v": 99.0})
    receipt = apply_correction(spark, committed_table, spec)
    assert receipt.rows_affected == 1
    rows = {r.k: r.v for r in spark.read.parquet(str(committed_table)).collect()}
    assert rows[3] == 99.0 and rows[1] == 10.0


def test_correction_reinstate(spark, committed_table):
    extra = spark.createDataFrame([(9, "z", 90.0)], "k long, name string, v double")
    spec = CorrectionSpec(kind="reinstate", keys=["k"])
    receipt = apply_correction(spark, committed_table, spec, reinstate_df=extra)
    assert receipt.rows_affected == 1
    assert spark.read.parquet(str(committed_table)).count() == 5


def test_compressed_ndjson_read(spark, tmp_path):
    """Byte-transform parity: Spark's codec layer decompresses gzip
    transparently (reference: crates/cdf-transform-*)."""
    import gzip

    p = tmp_path / "data.ndjson.gz"
    with gzip.open(p, "wt") as f:
        for i in range(5):
            f.write(json.dumps({"id": i, "v": f"r{i}"}) + "\n")
    df = spark.read.json(str(p))
    assert df.count() == 5
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
