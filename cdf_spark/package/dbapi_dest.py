"""Generic DB-API destination: SQLite / Postgres-shaped engines.

Re-expresses the reference's database destination family
(`crates/cdf-dest-sqlite/`, `crates/cdf-dest-postgres/`,
`crates/cdf-dest-clickhouse/`) as ONE dialect-parameterized commit path
speaking the same plan_commit -> verify protocol as
:class:`cdf_spark.package.ledger.ParquetDestination` and
:class:`cdf_spark.package.duckdb_dest.DuckDbDestination`:

- **stage**: package data segments (canonical parquet) are streamed in
  Arrow record batches into a staging table — batched `executemany`,
  never a per-row Python round trip per value.
- **merge**: one transaction: ``DELETE FROM target WHERE EXISTS
  (null-safe key match against stage)`` then ``INSERT ... SELECT`` from
  stage (the reference's DELETE..USING + IS NOT DISTINCT FROM shape,
  `crates/cdf-dest-duckdb/src/commit.rs:150-216`; SQLite renders the
  null-safe predicate with its ``IS`` operator).
- **verify**: :func:`verify_sql`, shared with the Postgres COPY and
  DuckDB sinks.

Scale posture: like the reference's database sinks, this is a
single-connection, driver-side copy — the distributed work (scan,
contract, dedup, evidence) happened upstream in Spark, and what crosses
the wire is the final admitted batch. Postgres at cluster scale would
use COPY via a partitioned foreachPartition writer; the dialect object
is where that upgrade slots in without touching protocol semantics.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..sources.base import WriteDisposition
from .builder import PackageResult
from .ledger import Receipt


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


@dataclass(frozen=True)
class SqlDialect:
    """The per-engine knobs the commit path needs. Everything else —
    transaction shape, staging, verification algebra — is shared."""

    name: str
    placeholder: str  # DB-API paramstyle token: "?" (qmark) or "%s" (format)
    null_safe_eq: str  # template with {l} and {r}
    supports_except_all: bool
    temp_table_prefix: str  # "TEMPORARY" or "" (engines without temp tables)
    type_map: dict[str, str]  # arrow type family -> SQL column type

    def nse(self, left: str, right: str) -> str:
        return self.null_safe_eq.format(l=left, r=right)

    def sql_type(self, arrow_type) -> str:
        import pyarrow as pa

        t = arrow_type
        if pa.types.is_boolean(t):
            fam = "bool"
        elif pa.types.is_integer(t):
            fam = "int"
        elif pa.types.is_floating(t):
            fam = "float"
        elif pa.types.is_decimal(t):
            return self.type_map["decimal"].format(p=t.precision, s=t.scale)
        elif pa.types.is_timestamp(t):
            fam = "timestamp"
        elif pa.types.is_date(t):
            fam = "date"
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            fam = "binary"
        else:
            fam = "string"
        return self.type_map[fam]


SQLITE = SqlDialect(
    name="sqlite",
    placeholder="?",
    null_safe_eq="{l} IS {r}",  # SQLite IS == IS NOT DISTINCT FROM
    supports_except_all=False,
    temp_table_prefix="TEMPORARY",
    type_map={
        "bool": "INTEGER",
        "int": "INTEGER",
        "float": "REAL",
        "decimal": "NUMERIC",
        "timestamp": "TEXT",
        "date": "TEXT",
        "binary": "BLOB",
        "string": "TEXT",
    },
)

POSTGRES = SqlDialect(
    name="postgres",
    placeholder="%s",
    null_safe_eq="{l} IS NOT DISTINCT FROM {r}",
    supports_except_all=True,
    temp_table_prefix="TEMPORARY",
    type_map={
        "bool": "BOOLEAN",
        "int": "BIGINT",
        "float": "DOUBLE PRECISION",
        "decimal": "NUMERIC({p},{s})",
        "timestamp": "TIMESTAMP",
        "date": "DATE",
        "binary": "BYTEA",
        "string": "TEXT",
    },
)

DUCKDB_DIALECT = SqlDialect(
    name="duckdb",
    placeholder="?",
    null_safe_eq="{l} IS NOT DISTINCT FROM {r}",
    supports_except_all=True,
    temp_table_prefix="TEMPORARY",
    type_map={
        "bool": "BOOLEAN",
        "int": "BIGINT",
        "float": "DOUBLE",
        "decimal": "DECIMAL({p},{s})",
        "timestamp": "TIMESTAMP",
        "date": "DATE",
        "binary": "BLOB",
        "string": "VARCHAR",
    },
)


def _bindable(value, dialect: SqlDialect):
    """Convert an Arrow-python value into what the driver can bind.

    SQLite cannot bind Decimal/date/datetime natively (Python 3.12
    removed the implicit adapters) — render them as canonical strings,
    matching the TEXT/NUMERIC affinity the DDL declares so staged and
    target rows compare equal in SQL.
    """
    if value is None:
        return None
    if isinstance(value, _decimal.Decimal):
        return str(value) if dialect.name == "sqlite" else value
    if isinstance(value, _dt.datetime):
        return value.isoformat(sep=" ") if dialect.name == "sqlite" else value
    if isinstance(value, _dt.date):
        return value.isoformat() if dialect.name == "sqlite" else value
    if isinstance(value, bool) and dialect.name == "sqlite":
        return int(value)
    return value


def verify_sql(
    receipt: Receipt,
    scalar: Callable[[str], int],
    table: str,
    staged: Callable[[], str],
    cols: list[str],
    dialect: SqlDialect,
) -> Receipt:
    """Receipt verification for the SQL sinks, computed in the engine.

    ``scalar(sql)`` runs one query and returns its single integer;
    ``table`` is the quoted target; ``staged()`` returns the relation
    holding the package rows (a temp stage table, or DuckDB's
    ``read_parquet``), built only for the dispositions that read it.

    - REPLACE: table and stage are equal as multisets.
    - MERGE: the stage is contained in the table as a multiset, so
      every staged row is present with its values.
    - APPEND: ``count(table) >= rows_written``. This bound is true of
      any package no larger than the table, so it does not prove *this*
      package landed (a known gap).

    Without ``EXCEPT ALL`` (SQLite) the multiset checks use grouped
    counts: ``(row, count(*))`` sets are EXCEPT-compared (SQL set ops
    treat NULLs as not distinct, so the grouping is null-safe), and
    containment is a grouped ``LEFT JOIN`` on ``dialect.nse``.
    """
    d = WriteDisposition(receipt.disposition)
    if d is WriteDisposition.APPEND:
        receipt.verified = scalar(f"SELECT count(*) FROM {table}") >= receipt.rows_written
        return receipt
    if d not in (WriteDisposition.REPLACE, WriteDisposition.MERGE):
        raise ValueError(f"cannot verify a {d.value} receipt in SQL")
    stg = staged()
    c = ", ".join(_q(n) for n in cols)
    if dialect.supports_except_all:
        fwd = f"SELECT {c} FROM {stg} EXCEPT ALL SELECT {c} FROM {table}"
        bwd = f"SELECT {c} FROM {table} EXCEPT ALL SELECT {c} FROM {stg}"
    else:
        gs = f"SELECT {c}, count(*) AS _n FROM {stg} GROUP BY {c}"
        gt = f"SELECT {c}, count(*) AS _n FROM {table} GROUP BY {c}"
        fwd = f"{gs} EXCEPT {gt}"
        bwd = f"{gt} EXCEPT {gs}"
    if d is WriteDisposition.REPLACE:
        # two separate counts: EXCEPT/UNION are equal-precedence
        # left-associative in SQLite, so one compound misparses
        ok = scalar(f"SELECT count(*) FROM ({fwd})") == 0 and (
            scalar(f"SELECT count(*) FROM ({bwd})") == 0
        )
    elif dialect.supports_except_all:
        ok = scalar(f"SELECT count(*) FROM ({fwd})") == 0
    else:
        on = " AND ".join(dialect.nse(f"s.{_q(n)}", f"g.{_q(n)}") for n in cols)
        ok = scalar(
            f"SELECT count(*) FROM ({gs}) s LEFT JOIN ({gt}) g "
            f"ON {on} WHERE g._n IS NULL OR g._n < s._n"
        ) == 0
    receipt.verified = bool(ok)
    return receipt


class DbApiDestination:
    """A commit-protocol destination over any DB-API connection.

    ``connect`` returns a fresh connection (``sqlite3.connect(path)``,
    ``psycopg.connect(dsn)``, ...). One connection spans stage + merge +
    commit so the whole apply is a single transaction: a crash rolls
    back and the target is untouched (reference delivery guarantee
    `crates/cdf-dest-sqlite/` / `cdf-dest-postgres/` commit paths).
    """

    def __init__(
        self,
        connect: Callable[[], object],
        table: str,
        merge_keys: list[str] | None = None,
        dialect: SqlDialect = SQLITE,
        batch_rows: int = 10_000,
        destination_uri: str | None = None,
    ):
        self.connect = connect
        self.table = table
        self.merge_keys = merge_keys or []
        self.dialect = dialect
        self.batch_rows = batch_rows
        self.destination_uri = destination_uri or f"dbapi+{dialect.name}://#{table}"

    # -- helpers ----------------------------------------------------------
    def _ddl_columns(self, schema) -> str:
        return ", ".join(f"{_q(f.name)} {self.dialect.sql_type(f.type)}" for f in schema)

    def _create_target(self, cur, schema) -> None:
        cur.execute(f"CREATE TABLE IF NOT EXISTS {_q(self.table)} ({self._ddl_columns(schema)})")

    def _stage(self, cur, package: PackageResult, name: str, schema) -> str:
        """Load the package into a new temp table; returns its quoted name."""
        cur.execute(
            f"CREATE {self.dialect.temp_table_prefix} TABLE {_q(name)} "
            f"({self._ddl_columns(schema)})"
        )
        self._load_segments(cur, package, name, schema)
        return _q(name)

    def _load_segments(self, cur, package: PackageResult, into: str, schema) -> int:
        """Stream parquet segments into `into` via Arrow record batches."""
        import pyarrow.parquet as pq

        cols = ", ".join(_q(f.name) for f in schema)
        ph = ", ".join([self.dialect.placeholder] * len(schema))
        insert = f"INSERT INTO {_q(into)} ({cols}) VALUES ({ph})"
        names = [f.name for f in schema]
        total = 0
        for seg in package.segments():
            pf = pq.ParquetFile(seg)
            for batch in pf.iter_batches(batch_size=self.batch_rows):
                pyd = batch.to_pydict()
                rows = list(
                    zip(*[[_bindable(v, self.dialect) for v in pyd[n]] for n in names])
                )
                if rows:
                    cur.executemany(insert, rows)
                    total += len(rows)
        return total

    # -- protocol ---------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,  # unused (driver-side copy); kept for protocol parity
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        schema = package.arrow_schema()
        t = _q(self.table)
        con = self.connect()
        try:
            cur = con.cursor()
            if disposition is WriteDisposition.REPLACE:
                cur.execute(f"DROP TABLE IF EXISTS {t}")
                self._create_target(cur, schema)
                self._load_segments(cur, package, self.table, schema)
            elif disposition is WriteDisposition.APPEND:
                self._create_target(cur, schema)
                self._load_segments(cur, package, self.table, schema)
            elif disposition is WriteDisposition.MERGE:
                if not self.merge_keys:
                    raise ValueError("merge disposition requires merge_keys")
                self._create_target(cur, schema)
                stg = f"_cdf_stage_{uuid.uuid4().hex[:8]}"
                self._stage(cur, package, stg, schema)
                pred = " AND ".join(
                    self.dialect.nse(f"{t}.{_q(k)}", f"{_q(stg)}.{_q(k)}")
                    for k in self.merge_keys
                )
                cur.execute(
                    f"DELETE FROM {t} WHERE EXISTS "
                    f"(SELECT 1 FROM {_q(stg)} WHERE {pred})"
                )
                cur.execute(f"INSERT INTO {t} SELECT * FROM {_q(stg)}")
                cur.execute(f"DROP TABLE {_q(stg)}")
            else:
                raise ValueError(f"disposition {disposition} not supported by DbApiDestination")
            con.commit()
        except Exception:
            con.rollback()
            raise
        finally:
            con.close()

        return Receipt.issue(package, disposition, self.destination_uri)

    # -- verification ------------------------------------------------------
    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        schema = package.arrow_schema()
        stg = f"_cdf_verify_{uuid.uuid4().hex[:8]}"
        con = self.connect()
        try:
            cur = con.cursor()

            def scalar(sql: str) -> int:
                cur.execute(sql)
                return cur.fetchone()[0]

            verify_sql(
                receipt,
                scalar,
                _q(self.table),
                lambda: self._stage(cur, package, stg, schema),
                schema.names,
                self.dialect,
            )
            cur.execute(f"DROP TABLE IF EXISTS {_q(stg)}")
            con.commit()
        finally:
            con.close()
        return receipt

    # -- readback ----------------------------------------------------------
    def read_back(self, spark: SparkSession):
        """Round-trip the committed table into Spark (driver-side; the
        table is a single-node artifact, like the reference's sinks)."""
        import pandas as pd

        con = self.connect()
        try:
            cur = con.cursor()
            cur.execute(f"SELECT * FROM {_q(self.table)}")
            names = [d[0] for d in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
        return spark.createDataFrame(pd.DataFrame(rows, columns=names))
