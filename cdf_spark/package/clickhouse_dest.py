"""ClickHouse destination speaking the plan_commit -> verify protocol.

Covers the reference's ClickHouse sink (`crates/cdf-dest-clickhouse/`,
~5.4k LoC) with the same staged-merge semantics as the other database
destinations (`package/dbapi_dest.py`, `package/pg_copy.py`), adapted
to ClickHouse's execution model, which breaks both assumptions the
generic DB-API path makes:

- **No multi-statement transactions.** There is no BEGIN..COMMIT
  spanning DDL + DML; an INSERT is atomic per block, nothing else is.
  The protocol therefore leans on ClickHouse's own atomic primitives:
  `EXCHANGE TABLES` (atomic rename swap, Atomic database engine) for
  REPLACE, and a synchronous mutation (`ALTER TABLE .. DELETE ..
  SETTINGS mutations_sync = 2`) + `INSERT .. SELECT` for MERGE. The
  stage table is the unit of retry: failures before the final
  swap/insert leave the target untouched; a crash between the merge's
  delete and insert needs the package replayed (the receipt records
  this weaker guarantee honestly).
- **No correlated EXISTS / IS NOT DISTINCT FROM.** The null-safe
  `DELETE .. WHERE EXISTS` shape becomes `(keys) IN (SELECT keys FROM
  stage)`; merge keys are declared non-Nullable in the DDL (MergeTree
  ORDER BY columns must be), which is what makes tuple-IN an exact
  null-safe equivalent here.

Verification uses the grouped-count multiset algebra (the SQLite path's
construction — `(row, count(*))` group sets EXCEPT-compared) because
EXCEPT ALL support varies across ClickHouse versions.

Transport seam: `ClickHouseTransport.execute/insert_rows` — the native
client (`clickhouse_driver`, TCP) binds when installed and a DSN is
given; tests run against the recording transport, and the live path is
gated on `CDF_SPARK_CH_DSN` exactly like pg_copy's Postgres gate.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import SparkSession

from ..sources.base import WriteDisposition
from .builder import PackageResult
from .ledger import Receipt


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def clickhouse_type(arrow_type, nullable: bool = True) -> str:
    """Arrow -> ClickHouse column type. Non-key columns are declared
    Nullable(T) (ClickHouse columns reject NULL otherwise); key columns
    must be bare T (MergeTree ORDER BY forbids Nullable)."""
    import pyarrow as pa

    t = arrow_type
    if pa.types.is_boolean(t):
        ch = "Bool"
    elif pa.types.is_int8(t):
        ch = "Int8"
    elif pa.types.is_int16(t):
        ch = "Int16"
    elif pa.types.is_int32(t):
        ch = "Int32"
    elif pa.types.is_integer(t):
        ch = "Int64"
    elif pa.types.is_float32(t):
        ch = "Float32"
    elif pa.types.is_floating(t):
        ch = "Float64"
    elif pa.types.is_decimal(t):
        ch = f"Decimal({t.precision}, {t.scale})"
    elif pa.types.is_timestamp(t):
        ch = "DateTime64(6)"
    elif pa.types.is_date(t):
        ch = "Date32"
    else:  # strings AND binary: ClickHouse String is bytes-transparent
        ch = "String"
    return f"Nullable({ch})" if nullable else ch


class ClickHouseTransport:
    """Minimal server surface: DDL/DML statements + bulk row inserts
    (ClickHouse clients expose inserts as a bulk API, not a cursor)."""

    def execute(self, sql: str):  # pragma: no cover - interface
        raise NotImplementedError

    def insert_rows(self, table: str, cols: list[str], rows: Iterable[tuple]) -> int:
        raise NotImplementedError  # pragma: no cover - interface

    def query(self, sql: str) -> list[tuple]:  # pragma: no cover - interface
        raise NotImplementedError

    def close(self) -> None:  # pragma: no cover - interface
        pass


class NativeTransport(ClickHouseTransport):
    """`clickhouse_driver.Client` (native TCP protocol) adapter; import
    is deferred so the module loads in images without the driver."""

    def __init__(self, dsn: str):
        from clickhouse_driver import Client  # gated: not in the build image

        self.client = Client.from_url(dsn)

    def execute(self, sql: str):
        return self.client.execute(sql)

    def insert_rows(self, table: str, cols: list[str], rows: Iterable[tuple]) -> int:
        col_list = ", ".join(_q(c) for c in cols)
        rows = list(rows)
        self.client.execute(f"INSERT INTO {_q(table)} ({col_list}) VALUES", rows)
        return len(rows)

    def query(self, sql: str) -> list[tuple]:
        return self.client.execute(sql)

    def close(self) -> None:
        self.client.disconnect()


class ClickHouseDestination:
    """Commit-protocol destination for ClickHouse MergeTree tables."""

    def __init__(
        self,
        transport_factory: Callable[[], ClickHouseTransport],
        table: str,
        merge_keys: list[str] | None = None,
        batch_rows: int = 65_536,
        destination_uri: str | None = None,
    ):
        self.transport_factory = transport_factory
        self.table = table
        self.merge_keys = merge_keys or []
        self.batch_rows = batch_rows
        self.destination_uri = destination_uri or f"clickhouse://#{table}"

    # -- helpers ----------------------------------------------------------
    def _ddl(self, name: str, schema) -> str:
        cols = ", ".join(
            f"{_q(f.name)} {clickhouse_type(f.type, nullable=f.name not in self.merge_keys)}"
            for f in schema
        )
        order = (
            "(" + ", ".join(_q(k) for k in self.merge_keys) + ")" if self.merge_keys else "tuple()"
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {_q(name)} ({cols}) "
            f"ENGINE = MergeTree ORDER BY {order}"
        )

    def _load_segments(self, tr: ClickHouseTransport, package: PackageResult, into: str, schema) -> int:
        import pyarrow.parquet as pq

        names = [f.name for f in schema]
        total = 0
        for seg in package.segments():
            pf = pq.ParquetFile(seg)
            for batch in pf.iter_batches(batch_size=self.batch_rows):
                pyd = batch.to_pydict()
                rows = list(zip(*[pyd[n] for n in names]))
                if rows:
                    total += tr.insert_rows(into, names, rows)
        return total

    def _key_tuple(self) -> str:
        return "(" + ", ".join(_q(k) for k in self.merge_keys) + ")"

    # -- protocol ---------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,  # unused (driver-side copy); protocol parity
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        schema = package.arrow_schema()
        t = _q(self.table)
        tr = self.transport_factory()
        stg = f"_cdf_stage_{uuid.uuid4().hex[:8]}"
        try:
            tr.execute(self._ddl(self.table, schema))
            if disposition is WriteDisposition.APPEND:
                # direct load: per-block atomic; a retry after partial
                # failure can duplicate earlier blocks (at-least-once —
                # ClickHouse has no cross-block transaction to lean on)
                self._load_segments(tr, package, self.table, schema)
            elif disposition is WriteDisposition.REPLACE:
                # stage + EXCHANGE TABLES: readers see the old or the
                # new table, never a partial state; the swap is the
                # commit point (single atomic server-side op)
                tr.execute(self._ddl(stg, schema))
                self._load_segments(tr, package, stg, schema)
                tr.execute(f"EXCHANGE TABLES {_q(stg)} AND {t}")
                tr.execute(f"DROP TABLE {_q(stg)}")  # now holds the OLD rows
            elif disposition is WriteDisposition.MERGE:
                if not self.merge_keys:
                    raise ValueError("merge disposition requires merge_keys")
                tr.execute(self._ddl(stg, schema))
                self._load_segments(tr, package, stg, schema)
                # synchronous mutation so the insert below never races
                # the delete; keys are non-Nullable by DDL, making
                # tuple-IN exactly the null-safe EXISTS of the other
                # dialects
                tr.execute(
                    f"ALTER TABLE {t} DELETE WHERE {self._key_tuple()} IN "
                    f"(SELECT {self._key_tuple()} FROM {_q(stg)}) "
                    f"SETTINGS mutations_sync = 2"
                )
                tr.execute(f"INSERT INTO {t} SELECT * FROM {_q(stg)}")
                tr.execute(f"DROP TABLE {_q(stg)}")
            else:
                raise ValueError(f"disposition {disposition} not supported")
        except Exception:
            try:  # no transaction to roll back — reap the stage table
                tr.execute(f"DROP TABLE IF EXISTS {_q(stg)}")
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
            raise
        finally:
            tr.close()

        receipt = Receipt.issue(package, disposition, self.destination_uri)
        if disposition is WriteDisposition.APPEND:
            receipt.delivery_guarantee = "at-least-once"
        return receipt

    # -- verification ------------------------------------------------------
    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        """The rules of `dbapi_dest.verify_sql`, in the grouped-count
        construction (EXCEPT ALL support varies by CH version)."""
        schema = package.arrow_schema()
        names = [f.name for f in schema]
        cols = ", ".join(_q(n) for n in names)
        t = _q(self.table)
        tr = self.transport_factory()
        stg = f"_cdf_verify_{uuid.uuid4().hex[:8]}"
        try:
            if receipt.disposition == WriteDisposition.APPEND.value:
                ok = tr.query(f"SELECT count(*) FROM {t}")[0][0] >= receipt.rows_written
            else:
                tr.execute(self._ddl(stg, schema))
                self._load_segments(tr, package, stg, schema)
                gs = f"SELECT {cols}, count(*) AS _n FROM {_q(stg)} GROUP BY {cols}"
                gt = f"SELECT {cols}, count(*) AS _n FROM {t} GROUP BY {cols}"
                if receipt.disposition == WriteDisposition.REPLACE.value:
                    n_fwd = tr.query(f"SELECT count(*) FROM ({gs} EXCEPT {gt})")[0][0]
                    n_bwd = tr.query(f"SELECT count(*) FROM ({gt} EXCEPT {gs})")[0][0]
                    ok = n_fwd == 0 and n_bwd == 0
                else:  # merge: every staged group matched with >= count
                    ok = tr.query(f"SELECT count(*) FROM ({gs} EXCEPT {gt})")[0][0] == 0
                tr.execute(f"DROP TABLE {_q(stg)}")
        finally:
            tr.close()
        receipt.verified = bool(ok)
        return receipt

    # -- readback ----------------------------------------------------------
    def read_back(self, spark: SparkSession, columns: list[str]):
        """Round-trip the committed table into Spark (driver-side, like
        the other single-node sinks). ClickHouse clients return bare
        tuples, so the caller names the columns explicitly."""
        import pandas as pd

        cols = ", ".join(_q(c) for c in columns)
        tr = self.transport_factory()
        try:
            rows = tr.query(f"SELECT {cols} FROM {_q(self.table)}")
        finally:
            tr.close()
        return spark.createDataFrame(pd.DataFrame(rows, columns=columns))
