"""Scan-file identity at a table root whose name needs escaping.

Spark reports `_metadata.file_path` as a percent-encoded URI
(`file:/.../a%20b+c%25d/...`), while manifests, logs and delete files
name the raw path. Every reader and writer that joins a scan row to
its file must key both sides the same way (`plans.layout.file_key`),
or deletes are ignored, MERGEs lose or duplicate rows, and linked
partition columns cannot be reconstituted. Each case runs under a
root named ``a b+c%d`` and asserts exact rows, and for the MERGE
cases that the receipt's verdict matches the data.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdf_spark.package import PackageBuilder

ODD = "a b+c%d"


def _frame(spark, lo: int, hi: int, v: int):
    """Keys lo..hi (inclusive), value column `v`, one file."""
    return (
        spark.range(lo, hi + 1)
        .select(F.col("id").alias("k"), F.lit(v).cast("long").alias("v"))
        .coalesce(1)
    )


def _rows(df) -> dict[int, int]:
    return {r["k"]: r["v"] for r in df.select("k", "v").collect()}


def _merge_sequence(spark, root: Path, make_dest):
    """APPEND keys 0..899, then MERGE 850..950 and 900..1000: 1001
    distinct keys with the newest value each, every receipt verified."""
    dest = make_dest(str(root / "t"))
    steps = [
        ("append", _frame(spark, 0, 899, 0)),
        ("merge", _frame(spark, 850, 950, 1)),
        ("merge", _frame(spark, 900, 1000, 2)),
    ]
    from cdf_spark.sources.base import WriteDisposition as WD

    for i, (disp, df) in enumerate(steps):
        pkg = PackageBuilder(root / f"pkg{i}", "t").build(admitted=df)
        receipt = dest.commit(spark, pkg, WD.APPEND if disp == "append" else WD.MERGE)
        got = _rows(dest.read(spark))
        want = {k: 0 for k in range(0, 900)}
        for _d, prior in steps[1 : i + 1]:
            want.update(_rows(prior))
        assert dest.read(spark).count() == len(want), f"step {i}: duplicate or lost rows"
        assert got == want, f"step {i}: wrong rows"
        assert dest.verify(spark, receipt, pkg).verified, f"step {i}: receipt not verified"


def _iceberg_pos_delete(spark, root: Path):
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    w = IcebergFixtureWriter(str(root / "t"), seed=3)
    s1 = w.append(_frame(spark, 0, 9, 7), timestamp_ms=1000)
    (path,) = IcebergTable(str(root / "t")).added_files(s1)
    ks = pq.read_table(path, columns=["k"]).column("k").to_pylist()
    # the delete file names the RAW data-file path, as the spec says
    w.delete_positions([(path, ks.index(2)), (path, ks.index(5))], timestamp_ms=2000)
    out = IcebergTable(str(root / "t")).read(spark)
    assert out.count() == 8
    assert _rows(out) == {k: 7 for k in range(10) if k not in (2, 5)}


def _iceberg_merge(mode):
    def run(spark, root: Path):
        from cdf_spark.package.iceberg_dest import IcebergDestination

        _merge_sequence(
            spark, root, lambda p: IcebergDestination(p, merge_keys=["k"], merge_mode=mode)
        )

    return run


def _hudi_merge(spark, root: Path):
    from cdf_spark.package.hudi_dest import HudiDestination

    _merge_sequence(spark, root, lambda p: HudiDestination(p, merge_keys=["k"]))


def _bloom_index(spark, root: Path):
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable

    w = DeltaFixtureWriter(str(root / "t"))
    for i in range(3):
        w.append(_frame(spark, 10 * i, 10 * i + 9, i))
    t = DeltaTable(str(root / "t"))
    res = t.build_bloom_index(spark, "k")
    assert (res["built"], res.get("unmatched", 0)) == (3, 0)
    assert _rows(t.read(spark)) == {k: k // 10 for k in range(30)}


def _delta_dv_delete(spark, root: Path):
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable

    w = DeltaFixtureWriter(str(root / "t"))
    w.append(_frame(spark, 0, 199, 4))
    w.delete_where(spark, "k % 10 = 0")
    out = DeltaTable(str(root / "t")).read(spark)
    assert out.count() == 180
    assert _rows(out) == {k: 4 for k in range(200) if k % 10}


def _partitioned(spark):
    """60 rows over 24 (p, d) partition tuples."""
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        (F.col("id") % 8).alias("p"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("d"),
    )
    want = {r["k"]: (r["v"], r["p"], r["d"]) for r in df.collect()}
    return df, want


def _triples(df):
    return {r["k"]: (r["v"], r["p"], r["d"]) for r in df.select("k", "v", "p", "d").collect()}


def _linked(spark, root: Path, kind: str):
    """A table partitioned by (p, d) whose files are linked from another
    format (xtable i2d for `delta`, d2i for `iceberg`); returns a reader
    and the expected rows."""
    from cdf_spark.package.xtable import delta_to_iceberg, iceberg_to_delta
    from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    df, want = _partitioned(spark)
    if kind == "delta":
        IcebergFixtureWriter(str(root / "i"), partition_by=["p", "d"]).append(df)
        iceberg_to_delta(str(root / "i"), str(root / "t"))
        return lambda: DeltaTable(str(root / "t")).read(spark), want
    DeltaFixtureWriter(str(root / "d"), partition_by=["p", "d"]).append(df)
    delta_to_iceberg(str(root / "d"), str(root / "t"))
    return lambda: IcebergTable(str(root / "t")).read(spark), want


def _linked_partitioned(kind):
    def run(spark, root: Path):
        read, want = _linked(spark, root, kind)
        out = read()
        assert out.count() == 60
        assert _triples(out) == want

    return run


CASES = {
    "iceberg_pos_delete": _iceberg_pos_delete,
    "iceberg_merge_equality": _iceberg_merge("equality"),
    "iceberg_merge_position": _iceberg_merge("position"),
    "hudi_merge": _hudi_merge,
    "bloom_index": _bloom_index,
    "delta_dv_delete": _delta_dv_delete,
    "delta_linked_partitioned": _linked_partitioned("delta"),
    "iceberg_linked_partitioned": _linked_partitioned("iceberg"),
}


@pytest.mark.parametrize("case", list(CASES))
def test_special_character_root(spark, tmp_path, case):
    root = tmp_path / ODD
    root.mkdir()
    CASES[case](spark, root)


# -- one file key, one value mapping ----------------------------------------

REPO = Path(__file__).resolve().parent.parent


def test_file_key_rule_lives_in_one_module():
    """The scan-file key rule has one home, `plans/layout.py`: a
    second copy of it is how the readers diverged before."""
    banned = ("_metadata.file_path", "^file:/+", "url_decode")
    home = REPO / "cdf_spark" / "plans" / "layout.py"
    offenders = [
        f"{p.relative_to(REPO)}: {word}"
        for p in sorted((REPO / "cdf_spark").rglob("*.py"))
        if p != home
        for word in banned
        if word in p.read_text()
    ]
    assert offenders == []
    assert all(word in home.read_text() for word in banned)


def test_file_key_twins_agree(spark, tmp_path):
    from cdf_spark.plans.layout import file_key, scan_file_key

    d = tmp_path / ODD / "x"
    spark.range(3).coalesce(1).write.parquet(str(d))
    (raw,) = [str(p) for p in d.glob("*.parquet")]
    keys = {r[0] for r in spark.read.parquet(raw).select(scan_file_key()).collect()}
    assert keys == {raw} == {file_key(raw), file_key("file://" + raw), file_key("file:" + raw)}


@pytest.mark.parametrize(
    "kind, module", [("delta", "cdf_spark.sources.delta"), ("iceberg", "cdf_spark.sources.iceberg")]
)
def test_mapping_miss_raises_on_a_non_first_column(spark, tmp_path, monkeypatch, kind, module):
    """A scan file missing from the mapping must fail the read even
    when the query reads only the LAST reconstituted column: the guard
    rides every column, so Catalyst's pruning cannot drop it."""
    import importlib

    read, want = _linked(spark, tmp_path, kind)
    assert _triples(read()) == want
    mod = importlib.import_module(module)
    real = mod.attach_file_values

    def poisoned(df, values_by_file, fields):
        assert len(fields) == 2, fields
        dropped = dict(values_by_file)
        dropped.pop(sorted(dropped)[0])
        return real(df, dropped, fields)

    monkeypatch.setattr(mod, "attach_file_values", poisoned)
    last = {"delta": "p", "iceberg": "d"}[kind]
    with pytest.raises(Exception, match="is not in the mapping"):
        read().select(last).collect()


def test_iceberg_boolean_on_date_field_refuses(spark, tmp_path, monkeypatch):
    """`True` is an int to Python; the mapping types booleans first,
    so a boolean partition value on a date field refuses instead of
    reading as epoch day 1 (1970-01-02)."""
    from cdf_spark.sources.iceberg import IcebergTable

    read, _want = _linked(spark, tmp_path, "iceberg")
    real = IcebergTable._data_entries

    def bool_dates(self, snapshot_id):
        out = real(self, snapshot_id)
        for e in out:
            e["partition"] = {**e["partition"], "d": True}
        return out

    monkeypatch.setattr(IcebergTable, "_data_entries", bool_dates)
    with pytest.raises(ValueError, match="boolean is not a date"):
        read().select("d").collect()


@pytest.mark.parametrize("kind", ["delta", "iceberg"])
def test_linked_partitioned_read_is_one_file_scan(spark, tmp_path, kind):
    """24 linked partitions, one written schema: the read plans ONE
    parquet file scan, not one scan per partition tuple."""
    read, want = _linked(spark, tmp_path, kind)
    out = read()
    assert len(out.inputFiles()) == 24
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert _triples(out) == want
