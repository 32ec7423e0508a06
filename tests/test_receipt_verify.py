"""Tamper matrix for receipt verification: a receipt must prove that
*its* package landed.

For every destination runnable without a server and every disposition
it supports, package A is committed into a fresh table. Two checks
follow: the receipt verifies against A, and the same receipt checked
against a disjoint package B (no shared key, no shared row) does not.

The count-bound cases are strict xfails. APPEND without keys on the
Spark-frame destinations, and APPEND on every SQL sink, verify
``count(table) >= rows_written``, which a table of A's size satisfies
for any package of the same size (ROADMAP item 1).

ClickHouse and Postgres COPY need a live server and are not in the
matrix.

After the matrix, ParquetDestination's own cases: its byte rule rejects
altered values and foreign files, and its MERGE commit is held to a job
budget, refuses a package whose columns differ from the target's,
ignores a stale staging dir, and recovers a table a killed swap left
renamed aside.
"""

from __future__ import annotations

import os
import shutil
import sqlite3
import uuid
from collections.abc import Callable
from dataclasses import dataclass, replace
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdf_spark.package import PackageBuilder
from cdf_spark.package.dbapi_dest import DUCKDB_DIALECT, SQLITE, DbApiDestination
from cdf_spark.package.delta_dest import DeltaDestination
from cdf_spark.package.duckdb_dest import DuckDbDestination
from cdf_spark.package.hudi_dest import HudiDestination
from cdf_spark.package.hudi_mor_dest import HudiMorDestination
from cdf_spark.package.iceberg_dest import IcebergDestination
from cdf_spark.package.ledger import ParquetDestination
from cdf_spark.package.stats import data_files
from cdf_spark.package.tombstone import TombstoneParquetDestination
from cdf_spark.sources.base import WriteDisposition as WD

KEYS = ["n_nationkey"]

COUNT_BOUND = pytest.mark.xfail(
    strict=True,
    reason="APPEND verifies a row-count lower bound over the whole table (ROADMAP item 1)",
)


@dataclass(frozen=True)
class Case:
    id: str
    make: Callable[[str], object]
    disposition: WD
    count_bound: bool = False
    cdc: bool = False


def _spark_cases(name, make, dispositions=(WD.APPEND, WD.REPLACE, WD.MERGE)):
    out = []
    for d in dispositions:
        if d is WD.APPEND:
            out.append(Case(f"{name}-append-keyless", lambda p, m=make: m(p, None), d, True))
            out.append(Case(f"{name}-append-keyed", lambda p, m=make: m(p, KEYS), d))
        else:
            out.append(Case(f"{name}-{d.value}", lambda p, m=make: m(p, KEYS), d))
    return out


def _sql_cases(name, make):
    return [
        Case(f"{name}-{d.value}", make, d, count_bound=d is WD.APPEND)
        for d in (WD.APPEND, WD.REPLACE, WD.MERGE)
    ]


CASES = [
    *_spark_cases("parquet", lambda p, k: ParquetDestination(f"{p}/t", merge_keys=k)),
    *_spark_cases("delta", lambda p, k: DeltaDestination(f"{p}/t", merge_keys=k)),
    *_spark_cases("iceberg", lambda p, k: IcebergDestination(f"{p}/t", merge_keys=k)),
    *_spark_cases("hudi", lambda p, k: HudiDestination(f"{p}/t", merge_keys=k)),
    *_spark_cases("tombstone", lambda p, k: TombstoneParquetDestination(f"{p}/t", merge_keys=k)),
    *[
        Case(f"hudi_mor-{d.value}", lambda p: HudiMorDestination(f"{p}/t", KEYS[0]), d,
             cdc=d is WD.CDC_APPLY)
        for d in (WD.APPEND, WD.MERGE, WD.CDC_APPLY)
    ],
    *_sql_cases("duckdb", lambda p: DuckDbDestination(f"{p}/t.duckdb", "t", merge_keys=KEYS)),
    *_sql_cases(
        "dbapi_sqlite",
        lambda p: DbApiDestination(
            lambda: sqlite3.connect(f"{p}/t.db"), "t", merge_keys=KEYS, dialect=SQLITE
        ),
    ),
    *_sql_cases(
        "dbapi_duckdb",
        lambda p: DbApiDestination(
            lambda: duckdb.connect(f"{p}/t.duckdb"), "t", merge_keys=KEYS, dialect=DUCKDB_DIALECT
        ),
    ),
]


@pytest.fixture(scope="module")
def packages(spark, sf_dir, tmp_path_factory):
    """A = the 25-row nation table; B = the same rows moved to keys
    100..124 with new names, so no key and no row is shared."""
    a = spark.read.parquet(f"{sf_dir}/nation.parquet")
    b = a.withColumn("n_nationkey", F.col("n_nationkey") + 100).withColumn(
        "n_name", F.concat(F.lit("B-"), F.col("n_name"))
    )
    root = tmp_path_factory.mktemp("receipt_pkgs")
    out = {}
    for name, df in (("a", a), ("b", b)):
        out[name] = PackageBuilder(root / name, "nation").build(admitted=df)
        out[name + "_cdc"] = PackageBuilder(root / f"{name}_cdc", "nation").build(
            admitted=df.withColumn("op", F.lit("insert"))
        )
    return out


@pytest.fixture(scope="module")
def committed(spark, packages, tmp_path_factory):
    """Commit package A once per case; both tests reuse it."""
    cache = {}

    def get(case: Case):
        if case.id not in cache:
            dest = case.make(str(tmp_path_factory.mktemp(case.id)))
            cache[case.id] = (dest, dest.commit(spark, _pkg(packages, case, "a"), case.disposition))
        return cache[case.id]

    return get


def _pkg(packages, case, name):
    return packages[name + "_cdc" if case.cdc else name]


@pytest.mark.parametrize("case", CASES, ids=[c.id for c in CASES])
def test_receipt_verifies_its_own_package(spark, packages, committed, case):
    dest, receipt = committed(case)
    assert dest.verify(spark, replace(receipt), _pkg(packages, case, "a")).verified


@pytest.mark.parametrize(
    "case",
    [pytest.param(c, marks=COUNT_BOUND) if c.count_bound else c for c in CASES],
    ids=[c.id for c in CASES],
)
def test_receipt_rejects_a_disjoint_package(spark, packages, committed, case):
    dest, receipt = committed(case)
    assert not dest.verify(spark, replace(receipt), _pkg(packages, case, "b")).verified


# -- ParquetDestination: the byte rule and the MERGE commit ------------------


def _rewrite_one_value(table) -> None:
    """Rewrite the first non-empty data file of ``table`` with the same
    keys and one ``n_name`` changed, dropping its stale Hadoop checksum."""
    path = next(f for f in sorted(data_files(table)) if pq.read_metadata(f).num_rows)
    Path(path).with_name(f".{Path(path).name}.crc").unlink(missing_ok=True)
    t = pq.read_table(path)
    names = t.column("n_name").to_pylist()
    names[0] += "!"
    i = t.schema.get_field_index("n_name")
    pq.write_table(t.set_column(i, "n_name", pa.array(names, t.schema.field(i).type)), path)


@pytest.mark.parametrize("disposition", [WD.MERGE, WD.APPEND], ids=["merge", "append-keyed"])
def test_parquet_rejects_same_keys_with_an_altered_value(spark, packages, tmp_path, disposition):
    dest = ParquetDestination(tmp_path / "t", merge_keys=KEYS)
    receipt = dest.commit(spark, packages["a"], disposition)
    assert dest.verify(spark, replace(receipt), packages["a"]).verified
    _rewrite_one_value(tmp_path / "t")
    assert not dest.verify(spark, replace(receipt), packages["a"]).verified


def test_parquet_replace_rejects_a_foreign_file(spark, packages, tmp_path):
    dest = ParquetDestination(tmp_path / "t", merge_keys=KEYS)
    receipt = dest.commit(spark, packages["a"], WD.REPLACE)
    assert dest.verify(spark, replace(receipt), packages["a"]).verified
    shutil.copyfile(packages["b"].segments()[0], tmp_path / "t" / "foreign.parquet")
    assert not dest.verify(spark, replace(receipt), packages["a"]).verified


def _tagged_jobs(spark, fn):
    """Run ``fn`` under a fresh job tag; return (result, jobs it ran)."""
    sc = spark.sparkContext
    tag = f"parquet-merge-{uuid.uuid4().hex[:8]}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    return out, len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


@pytest.mark.parametrize("seed", ["spark", "pyarrow"])
def test_parquet_merge_job_count_guard(spark, sf_dir, packages, tmp_path, seed):
    """A MERGE into an existing table runs at most 3 Spark jobs to
    commit (target schema, key broadcast, survivors write) and none to
    verify. The schema costs no job when the first footer records
    Spark's schema, so a Spark-written target takes at most 2; the
    first MERGE into a missing table is a pure copy."""
    dest = ParquetDestination(tmp_path / "t", merge_keys=KEYS)
    if seed == "spark":
        _, first = _tagged_jobs(spark, lambda: dest.commit(spark, packages["b"], WD.MERGE))
        assert first == 0
    else:
        (tmp_path / "t").mkdir()
        shutil.copyfile(f"{sf_dir}/nation.parquet", tmp_path / "t" / "nation.parquet")
    receipt, commit_jobs = _tagged_jobs(spark, lambda: dest.commit(spark, packages["a"], WD.MERGE))
    receipt, verify_jobs = _tagged_jobs(spark, lambda: dest.verify(spark, receipt, packages["a"]))
    assert receipt.verified
    assert verify_jobs == 0 and 1 <= commit_jobs <= {"spark": 2, "pyarrow": 3}[seed], (commit_jobs, verify_jobs)
    assert dest.read(spark).count() == {"spark": 50, "pyarrow": 25}[seed]


def _package(spark, root, rows, ddl):
    return PackageBuilder(root, "guard").build(admitted=spark.createDataFrame(rows, ddl))


@pytest.mark.parametrize(
    "ddl, column",
    [("id long, v string", "'id'"), ("id int", "'v'")],
    ids=["int-target-long-package", "missing-column"],
)
def test_parquet_merge_refuses_a_package_whose_columns_differ(spark, tmp_path, ddl, column):
    dest = ParquetDestination(tmp_path / "t", merge_keys=["id"])
    dest.commit(spark, _package(spark, tmp_path / "p1", [(1, "a"), (2, "b")], "id int, v string"), WD.MERGE)
    before = sorted(os.listdir(tmp_path / "t"))
    rows = [(2, "B"), (3, "c")] if "v" in ddl else [(2,), (3,)]
    with pytest.raises(ValueError, match=column):
        dest.commit(spark, _package(spark, tmp_path / "p2", rows, ddl), WD.MERGE)
    assert sorted(os.listdir(tmp_path / "t")) == before
    assert not (tmp_path / "t.staging").exists()
    assert sorted(dest.read(spark).collect()) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("existing", [False, True], ids=["first-commit", "rewrite"])
def test_parquet_merge_ignores_a_stale_staging_dir(spark, tmp_path, existing):
    """A killed commit can leave ``<table>.staging`` behind; its rows
    must not land with the next MERGE."""
    ddl = "id int, v string"
    dest = ParquetDestination(tmp_path / "t", merge_keys=["id"])
    expected = {3: "c", 4: "d"}
    if existing:
        dest.commit(spark, _package(spark, tmp_path / "p0", [(1, "a"), (3, "x")], ddl), WD.MERGE)
        expected[1] = "a"
    spark.createDataFrame([(9, "stale"), (3, "stale")], ddl).write.parquet(str(tmp_path / "t.staging"))
    pkg = _package(spark, tmp_path / "p1", [(3, "c"), (4, "d")], ddl)
    receipt = dest.verify(spark, dest.commit(spark, pkg, WD.MERGE), pkg)
    assert receipt.verified
    assert sorted(dest.read(spark).collect()) == sorted(expected.items())


@pytest.mark.parametrize("disposition", [WD.MERGE, WD.APPEND])
def test_parquet_commit_restores_a_table_swapped_aside(spark, tmp_path, disposition):
    """A commit killed between ``_publish``'s two renames leaves no
    table dir and the live rows in ``<table>.old-*``. The next commit
    renames them back before it lands its package."""
    ddl = "id int, v string"
    dest = ParquetDestination(tmp_path / "t", merge_keys=["id"])
    dest.commit(spark, _package(spark, tmp_path / "p0", [(i, "old") for i in range(10)], ddl), WD.APPEND)
    (tmp_path / "t").rename(tmp_path / "t.old-x")
    pkg = _package(spark, tmp_path / "p1", [(i, "new") for i in range(8, 12)], ddl)
    receipt = dest.verify(spark, dest.commit(spark, pkg, disposition), pkg)
    assert receipt.verified
    got = sorted(dest.read(spark).collect())
    if disposition is WD.MERGE:
        assert got == [(i, "old") for i in range(8)] + [(i, "new") for i in range(8, 12)]
        assert not (tmp_path / "t.old-x").exists()
    else:
        assert got == sorted([(i, "old") for i in range(10)] + [(i, "new") for i in range(8, 12)])


def test_parquet_commit_refuses_two_swapped_aside_copies(spark, tmp_path):
    ddl = "id int, v string"
    dest = ParquetDestination(tmp_path / "t", merge_keys=["id"])
    for name in ("t.old-a", "t.old-b"):
        spark.createDataFrame([(1, name)], ddl).write.parquet(str(tmp_path / name))
    pkg = _package(spark, tmp_path / "p1", [(2, "new")], ddl)
    with pytest.raises(RuntimeError, match=r"t\.old-a.*t\.old-b"):
        dest.commit(spark, pkg, WD.MERGE)
    assert not (tmp_path / "t").exists()


def test_parquet_merge_deletes_stale_swapped_aside_copies(spark, tmp_path):
    """A commit killed after the swap and before the delete leaves a
    stale ``<table>.old-*`` beside a live table; the next MERGE removes it."""
    ddl = "id int, v string"
    dest = ParquetDestination(tmp_path / "t", merge_keys=["id"])
    dest.commit(spark, _package(spark, tmp_path / "p0", [(1, "a")], ddl), WD.MERGE)
    spark.createDataFrame([(9, "stale")], ddl).write.parquet(str(tmp_path / "t.old-x"))
    pkg = _package(spark, tmp_path / "p1", [(2, "b")], ddl)
    assert dest.verify(spark, dest.commit(spark, pkg, WD.MERGE), pkg).verified
    assert sorted(dest.read(spark).collect()) == [(1, "a"), (2, "b")]
    assert not (tmp_path / "t.old-x").exists()
