"""DuckDB destination speaking the plan_commit -> verify protocol.

Re-expresses the reference's DuckDB destination
(`crates/cdf-dest-duckdb/src/commit.rs:150-216`: stage -> `DELETE ...
USING` -> keyed insert with `IS NOT DISTINCT FROM`, and `sql.rs:55-62`
for the null-safe predicate rendering) on top of the package layer:

- The package's data segments are already canonical parquet, so the
  commit path is DuckDB's native `read_parquet` over the segment files
  — a bulk columnar copy with no Python row loop and no Spark job.
  This is the same "canonical segment scan" bulk path the reference
  optimized to >1 GiB/s (docs/performance-baseline.md).
- MERGE runs inside one DuckDB transaction: delete matching keys
  (null-safe), then insert the staged batch. A crash rolls back.
- `verify` runs the shared SQL rules (`dbapi_dest.verify_sql`) with
  the package segments as the staged relation.

Scale posture: DuckDB is a single-node sink (as in the reference); the
distributed part — scan, contract, dedup, evidence — happened upstream
in Spark. On a cluster this destination runs driver-side against
segments on shared storage; the data path stays columnar end-to-end.
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import SparkSession

from ..sources.base import WriteDisposition
from .builder import PackageResult
from .dbapi_dest import DUCKDB_DIALECT, verify_sql
from .ledger import Receipt

try:  # pragma: no cover - import gate
    import duckdb
except ImportError:  # pragma: no cover
    duckdb = None


def _require_duckdb():
    if duckdb is None:
        raise RuntimeError("duckdb python package is not available in this environment")


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _quote_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class DuckDbDestination:
    """A DuckDB-file destination speaking the commit protocol.

    Drop-in peer of :class:`cdf_spark.package.ledger.ParquetDestination`
    (same ``commit``/``verify`` surface, same :class:`Receipt`), so
    :class:`cdf_spark.runtime.LoadPipeline` can target a real database.
    """

    def __init__(self, db_path: str | Path, table: str, merge_keys: list[str] | None = None):
        _require_duckdb()
        self.db_path = str(db_path)
        self.table = table
        self.merge_keys = merge_keys or []

    # -- helpers ----------------------------------------------------------
    def _connect(self):
        return duckdb.connect(self.db_path)

    def _segment_glob(self, package: PackageResult) -> str:
        return str(Path(package.data_path()) / "*.parquet")

    def _table_exists(self, con) -> bool:
        row = con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
            [self.table],
        ).fetchone()
        return bool(row and row[0])

    # -- protocol ---------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,  # unused: the copy is DuckDB-native (kept for protocol parity)
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        glob = self._segment_glob(package)
        t = _quote_ident(self.table)
        con = self._connect()
        try:
            if disposition is WriteDisposition.REPLACE:
                con.execute(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM read_parquet(?)", [glob])
            elif disposition is WriteDisposition.APPEND:
                con.execute("BEGIN TRANSACTION")
                try:
                    if not self._table_exists(con):
                        con.execute(
                            f"CREATE TABLE {t} AS SELECT * FROM read_parquet(?) LIMIT 0", [glob]
                        )
                    con.execute(f"INSERT INTO {t} BY NAME SELECT * FROM read_parquet(?)", [glob])
                    con.execute("COMMIT")
                except Exception:
                    con.execute("ROLLBACK")
                    raise
            elif disposition is WriteDisposition.MERGE:
                if not self.merge_keys:
                    raise ValueError("merge disposition requires merge_keys")
                self._merge(con, glob)
            else:
                raise ValueError(f"disposition {disposition} not supported by DuckDbDestination")
        finally:
            con.close()

        return Receipt.issue(package, disposition, f"duckdb://{self.db_path}#{self.table}")

    def _merge(self, con, glob: str) -> None:
        """Stage + DELETE..USING + INSERT, one transaction
        (commit.rs:150-216). The staged relation is a view over the
        package segments — no materialized copy."""
        t = _quote_ident(self.table)
        stg = _quote_ident(f"_cdf_stage_{uuid.uuid4().hex[:8]}")
        con.execute("BEGIN TRANSACTION")
        try:
            # CREATE VIEW cannot be a prepared statement -> literal path
            con.execute(
                f"CREATE TEMPORARY VIEW {stg} AS SELECT * FROM read_parquet({_quote_lit(glob)})"
            )
            if not self._table_exists(con):
                con.execute(f"CREATE TABLE {t} AS SELECT * FROM {stg} LIMIT 0")
            # null-safe key predicate: IS NOT DISTINCT FROM (sql.rs:55-62)
            pred = " AND ".join(
                f"{t}.{_quote_ident(k)} IS NOT DISTINCT FROM {stg}.{_quote_ident(k)}"
                for k in self.merge_keys
            )
            con.execute(f"DELETE FROM {t} USING {stg} WHERE {pred}")
            con.execute(f"INSERT INTO {t} BY NAME SELECT * FROM {stg}")
            con.execute("COMMIT")
        except Exception:
            con.execute("ROLLBACK")
            raise

    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        staged = f"read_parquet({_quote_lit(self._segment_glob(package))})"
        con = self._connect()
        try:
            cols = [d[0] for d in con.execute(f"SELECT * FROM {staged} LIMIT 0").description]
            verify_sql(
                receipt,
                lambda sql: con.execute(sql).fetchone()[0],
                _quote_ident(self.table),
                lambda: staged,
                cols,
                DUCKDB_DIALECT,
            )
        finally:
            con.close()
        return receipt

    # -- readback ---------------------------------------------------------
    def read_back(self, spark: SparkSession):
        """Round-trip the committed table back into Spark via an Arrow
        batch (driver-side; the table is a single-node artifact)."""
        con = self._connect()
        try:
            tbl = con.execute(f"SELECT * FROM {_quote_ident(self.table)}").arrow()
        finally:
            con.close()
        import pandas as pd  # noqa: F401  (arrow->pandas path)

        return spark.createDataFrame(tbl.to_pandas())
