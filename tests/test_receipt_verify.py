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
"""

from __future__ import annotations

import sqlite3
from collections.abc import Callable
from dataclasses import dataclass, replace

import duckdb
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
