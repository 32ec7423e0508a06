"""Postgres binary-COPY commit path (cdf_spark/package/pg_copy.py).

No Postgres server in the build image, so the wire bytes are the test
surface: every COPY stream is decoded by an independently-written
PGCOPY decoder and compared against the source values. A live
integration test runs when CDF_SPARK_PG_DSN is set.
"""

import datetime as dt
import decimal
import io
import os
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdf_spark.package.pg_copy import (
    PGCOPY_HEADER,
    PGCOPY_TRAILER,
    FileCopyTransport,
    PostgresCopyDestination,
    decode_copy_binary,
    encode_copy_binary,
    encode_numeric,
    render_copy_sql,
    stage_distributed,
)

# ---------------------------------------------------------------------------
# encoding


def _roundtrip(batch):
    data = PGCOPY_HEADER + encode_copy_binary(batch) + PGCOPY_TRAILER
    return decode_copy_binary(data, batch.schema)


def test_header_is_spec_exact():
    # 11-byte signature + int32 flags (0) + int32 extension length (0)
    assert PGCOPY_HEADER == b"PGCOPY\n\xff\r\n\x00" + b"\x00" * 8
    assert PGCOPY_TRAILER == b"\xff\xff"


def test_render_copy_sql_quotes_identifiers():
    sql = render_copy_sql('we"ird', ["a", 'b"c'])
    assert sql == 'COPY "we""ird" ("a", "b""c") FROM STDIN WITH (FORMAT binary)'


def test_all_types_roundtrip():
    batch = pa.record_batch(
        {
            "b": pa.array([True, False, None]),
            "i2": pa.array([1, -32768, None], pa.int16()),
            "i4": pa.array([7, -2147483648, None], pa.int32()),
            "i8": pa.array([9, -(2**62), None], pa.int64()),
            "f4": pa.array([1.5, -0.25, None], pa.float32()),
            "f8": pa.array([2.5, -1e300, None], pa.float64()),
            "s": pa.array(["héllo", "", None]),
            "raw": pa.array([b"\x00\x01", b"", None], pa.binary()),
            "d": pa.array([dt.date(2024, 2, 29), dt.date(1999, 12, 31), None], pa.date32()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.datetime(1970, 1, 1), None],
                pa.timestamp("us"),
            ),
            "n": pa.array(
                [decimal.Decimal("1234.5678"), decimal.Decimal("-0.0001"), None],
                pa.decimal128(18, 4),
            ),
        }
    )
    rows = _roundtrip(batch)
    assert len(rows) == 3
    assert rows[0] == (
        True, 1, 7, 9, 1.5, 2.5, "héllo", b"\x00\x01",
        dt.date(2024, 2, 29), dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
        decimal.Decimal("1234.5678"),
    )
    assert rows[2] == (None,) * 11


def test_numeric_known_wire_encodings():
    """Spot-check digit-group layout against the wire spec by hand:
    1234.5678 = groups [1234, 5678], weight 0, dscale 4."""
    b = encode_numeric(decimal.Decimal("1234.5678"))
    assert struct.unpack("!HhHH", b[:8]) == (2, 0, 0x0000, 4)
    assert struct.unpack("!HH", b[8:]) == (1234, 5678)
    # 0.0001 -> single group 1 at weight -1 (0.0001 = 1 * 10000^-1)
    b = encode_numeric(decimal.Decimal("0.0001"))
    assert struct.unpack("!HhHH", b[:8]) == (1, -1, 0x0000, 4)
    assert struct.unpack("!H", b[8:]) == (1,)
    # negative sign flag
    b = encode_numeric(decimal.Decimal("-5"))
    assert struct.unpack("!HhHH", b[:8]) == (1, 0, 0x4000, 0)
    # canonical zero
    b = encode_numeric(decimal.Decimal("0.00"))
    assert struct.unpack("!HhHH", b[:8]) == (0, 0, 0x0000, 2)


@settings(max_examples=300, deadline=None)
@given(
    st.decimals(
        allow_nan=False,
        allow_infinity=False,
        min_value=decimal.Decimal("-1e18"),
        max_value=decimal.Decimal("1e18"),
        places=6,
    )
)
def test_numeric_roundtrip_property(d):
    batch = pa.record_batch({"n": pa.array([d], pa.decimal128(38, 6))})
    (row,) = _roundtrip(batch)
    assert row[0] == d.quantize(decimal.Decimal("0.000001"))


def test_parquet_segment_roundtrip(sf_dir):
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/orders.parquet")
    batch = table.to_batches()[0]
    rows = _roundtrip(batch)
    assert len(rows) == batch.num_rows
    orig = list(zip(*[batch.column(i).to_pylist() for i in range(batch.num_columns)]))
    assert rows[:50] == orig[:50]
    assert rows[-1] == orig[-1]


# ---------------------------------------------------------------------------
# mock-server commit protocol (psycopg2-shaped connection)


class _RecordingCursor:
    def __init__(self, log):
        self.log = log

    def execute(self, sql, params=None):
        self.log.append(("sql", sql))

    def copy_expert(self, sql, stream):
        self.log.append(("copy", sql, stream.read()))


class _RecordingConn:
    def __init__(self, log):
        self.log = log
        self.committed = False

    def cursor(self):
        return _RecordingCursor(self.log)

    def commit(self):
        self.log.append(("commit",))
        self.committed = True

    def rollback(self):
        self.log.append(("rollback",))

    def close(self):
        pass


def _make_package(spark, tmp_path, sf_dir):
    from cdf_spark.package.builder import PackageBuilder

    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return PackageBuilder(str(tmp_path / "pkgs"), resource_id="nation").build(df)


def test_merge_commit_protocol_against_mock(spark, tmp_path, sf_dir):
    from cdf_spark.package.pg_copy import PsycopgTransport
    from cdf_spark.sources.base import WriteDisposition

    pkg = _make_package(spark, tmp_path, sf_dir)
    log = []
    dest = PostgresCopyDestination(
        transport_factory=lambda: PsycopgTransport(_RecordingConn(log)),
        table="nation_tgt",
        merge_keys=["n_nationkey"],
    )
    receipt = dest.commit(spark, pkg, WriteDisposition.MERGE)
    assert receipt.rows_written == 25

    sqls = [e[1] for e in log if e[0] == "sql"]
    copies = [e for e in log if e[0] == "copy"]
    assert any(s.startswith('CREATE TABLE IF NOT EXISTS "nation_tgt"') for s in sqls)
    assert any(s.startswith("CREATE UNLOGGED TABLE") for s in sqls)
    assert any("IS NOT DISTINCT FROM" in s and s.startswith("DELETE FROM") for s in sqls)
    assert any(s.startswith('INSERT INTO "nation_tgt" SELECT * FROM') for s in sqls)
    assert ("commit",) in log

    # exactly one COPY, into the stage table, binary format — decode it
    assert len(copies) == 1
    _, copy_sql, payload = copies[0]
    assert copy_sql.startswith('COPY "_cdf_stage_')
    assert copy_sql.endswith("FROM STDIN WITH (FORMAT binary)")
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{sf_dir}/nation.parquet")
    rows = decode_copy_binary(payload, schema)
    assert len(rows) == 25
    keys = sorted(r[0] for r in rows)
    assert keys == list(range(25))


def test_replace_rolls_back_on_error(spark, tmp_path, sf_dir):
    from cdf_spark.package.pg_copy import PsycopgTransport
    from cdf_spark.sources.base import WriteDisposition

    pkg = _make_package(spark, tmp_path, sf_dir)
    log = []

    class _FailingCursor(_RecordingCursor):
        def copy_expert(self, sql, stream):
            raise RuntimeError("wire dropped")

    class _FailingConn(_RecordingConn):
        def cursor(self):
            return _FailingCursor(self.log)

    dest = PostgresCopyDestination(
        transport_factory=lambda: PsycopgTransport(_FailingConn(log)),
        table="t",
    )
    with pytest.raises(RuntimeError):
        dest.commit(spark, pkg, WriteDisposition.REPLACE)
    assert ("rollback",) in log
    assert ("commit",) not in log


class _DuckPgCursor:
    def __init__(self, conn):
        self.conn = conn
        self._res = None

    def execute(self, sql, params=None):
        self._res = self.conn.con.execute(sql, params or None)

    def fetchone(self):
        return self._res.fetchone()

    def copy_expert(self, sql, stream):
        import re

        table = re.match(r'COPY ("(?:[^"]|"")+")', sql).group(1)
        rows = decode_copy_binary(stream.read(), self.conn.schema)
        ph = ", ".join(["?"] * len(self.conn.schema))
        self.conn.con.executemany(f"INSERT INTO {table} VALUES ({ph})", rows)


class _DuckPgConn(_RecordingConn):
    """A psycopg2-shaped connection over DuckDB: each COPY stream is
    decoded with the independent PGCOPY decoder and inserted as rows."""

    def __init__(self, path, schema):
        import duckdb

        super().__init__([])
        self.con = duckdb.connect(path)
        self.schema = schema

    def cursor(self):
        return _DuckPgCursor(self)

    def close(self):
        self.con.close()


def test_verify_copy_stages_and_runs_the_sql_rules(spark, tmp_path, sf_dir):
    import duckdb
    import pyarrow.parquet as pq

    from cdf_spark.package.pg_copy import PsycopgTransport
    from cdf_spark.sources.base import WriteDisposition

    pkg = _make_package(spark, tmp_path, sf_dir)
    schema = pq.read_schema(f"{sf_dir}/nation.parquet")
    db = str(tmp_path / "pg.duckdb")
    dest = PostgresCopyDestination(
        transport_factory=lambda: PsycopgTransport(_DuckPgConn(db, schema)),
        table="nation_tgt",
        merge_keys=["n_nationkey"],
        unlogged_stage=False,
    )
    for d in (WriteDisposition.REPLACE, WriteDisposition.MERGE):
        assert dest.verify(spark, dest.commit(spark, pkg, d), pkg).verified
    receipt = dest.commit(spark, pkg, WriteDisposition.REPLACE)
    con = duckdb.connect(db)
    con.execute("DELETE FROM nation_tgt WHERE n_nationkey = 3")
    con.close()
    assert not dest.verify(spark, receipt, pkg).verified


# ---------------------------------------------------------------------------
# distributed staging (foreachPartition on executors)


def test_stage_distributed_pushes_every_partition(spark, tmp_path, sf_dir):
    root = str(tmp_path / "wire")
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"
    ).repartition(4)
    sql = stage_distributed(df, "orders_stage", lambda: FileCopyTransport(root))
    assert sql == (
        'COPY "orders_stage" ("o_orderkey", "o_custkey", "o_totalprice", '
        '"o_orderdate", "o_orderstatus") FROM STDIN WITH (FORMAT binary)'
    )

    streams = [f for f in os.listdir(root) if f.endswith(".pgcopy")]
    assert len(streams) == 4  # one COPY per partition
    schema = pa.schema(
        [
            pa.field("o_orderkey", pa.int64()),
            pa.field("o_custkey", pa.int64()),
            pa.field("o_totalprice", pa.float64()),
            pa.field("o_orderdate", pa.timestamp("us")),  # fixture carries ts, not date
            pa.field("o_orderstatus", pa.string()),
        ]
    )
    rows = []
    for s in streams:
        with open(os.path.join(root, s), "rb") as fh:
            rows.extend(decode_copy_binary(fh.read(), schema))
    assert len(rows) == df.count()
    # value-level spot check against the source
    src = {r[0]: r for r in df.collect()}
    for r in rows[:100]:
        s = src[r[0]]
        assert (r[1], r[2], r[3], r[4]) == (s[1], s[2], s[3], s[4])


def test_distributed_merge_records_protocol(spark, tmp_path, sf_dir):
    from cdf_spark.sources.base import WriteDisposition

    pkg = _make_package(spark, tmp_path, sf_dir)
    root = str(tmp_path / "wire2")
    dest = PostgresCopyDestination(
        transport_factory=lambda: FileCopyTransport(root),
        table="nation_tgt",
        merge_keys=["n_nationkey"],
        distributed=True,
    )
    dest.commit(spark, pkg, WriteDisposition.MERGE)
    with open(f"{root}/statements.sql") as fh:
        script = fh.read()
    assert "CREATE UNLOGGED TABLE" in script
    assert "DELETE FROM" in script and "IS NOT DISTINCT FROM" in script
    # executor-side idempotency protocol: advisory lock + partition wipe
    assert "pg_advisory_xact_lock" in script
    assert '"_cdf_part" =' in script
    # target only touched by the merge txn: INSERT selects the original
    # columns (not the tag), and the committed-DDL ordering holds
    assert 'INSERT INTO "nation_tgt"' in script and '"_cdf_part") ' not in script.split(
        "INSERT INTO"
    )[1]
    streams = [f for f in os.listdir(root) if f.endswith(".pgcopy")]
    assert streams, "executors pushed no COPY streams"
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{sf_dir}/nation.parquet")
    schema = pa.schema(list(base) + [pa.field("_cdf_part", pa.int32())])
    rows = []
    for s in streams:
        with open(os.path.join(root, s), "rb") as fh:
            rows.extend(decode_copy_binary(fh.read(), schema))
    assert sorted(r[0] for r in rows) == list(range(25))


# ---------------------------------------------------------------------------
# live integration (skipped without a server)


@pytest.mark.skipif(
    not os.environ.get("CDF_SPARK_PG_DSN"), reason="no live Postgres (set CDF_SPARK_PG_DSN)"
)
def test_live_postgres_commit_roundtrip(spark, tmp_path, sf_dir):
    from cdf_spark.package.pg_copy import PsycopgTransport
    from cdf_spark.sources.base import WriteDisposition

    psycopg = pytest.importorskip("psycopg")
    dsn = os.environ["CDF_SPARK_PG_DSN"]
    pkg = _make_package(spark, tmp_path, sf_dir)
    dest = PostgresCopyDestination(
        transport_factory=lambda: PsycopgTransport(psycopg.connect(dsn)),
        table="cdf_test_nation",
        merge_keys=["n_nationkey"],
    )
    receipt = dest.commit(spark, pkg, WriteDisposition.REPLACE)
    receipt = dest.verify(spark, receipt, pkg)
    assert receipt.verified


def test_partition_push_idempotent_under_retry():
    """Task-retry / speculation semantics: replaying a partition's push
    must leave its rows staged exactly once — the advisory-locked
    delete-then-copy wipes the prior attempt inside the same txn."""
    import re

    from cdf_spark.package.pg_copy import _partition_pusher

    store: dict[int, bytes] = {}
    protocol: list[str] = []

    class _TableFake:
        """Transport fake with actual per-partition state."""

        def __init__(self):
            self._pid = None
            self._frames = b""
            self._locked = False

        def execute(self, sql, params=None):
            protocol.append(sql)
            if "pg_advisory_xact_lock" in sql:
                self._locked = True
                return
            m = re.search(r'"_cdf_part" = (\d+)', sql)
            if m:
                assert self._locked, "partition wipe must happen under the advisory lock"
                self._pid = int(m.group(1))
                store.pop(self._pid, None)

        def copy(self, sql, frames):
            self._frames = b"".join(frames)
            return 0

        def commit(self):
            if self._pid is not None:
                store[self._pid] = self._frames

        def rollback(self):
            pass

        def close(self):
            pass

    push = _partition_pusher(
        _TableFake, 'COPY "stg" ("k", "v", "_cdf_part") FROM STDIN WITH (FORMAT binary)',
        ["int64", "string", "int32"], stage_table="stg",
    )
    rows = [(1, "a", 7), (2, "b", 7)]
    push(iter(rows))
    first = dict(store)
    assert list(first) == [7] and first[7]

    push(iter(rows))  # the retry
    assert store == first, "retry duplicated the partition's staged rows"

    # empty partitions stay silent: no lock, no delete, no copy
    n = len(protocol)
    push(iter([]))
    assert len(protocol) == n


@pytest.mark.skipif(
    not os.environ.get("CDF_SPARK_PG_DSN"), reason="no live Postgres (set CDF_SPARK_PG_DSN)"
)
def test_live_postgres_distributed_copy_roundtrip(spark, tmp_path, sf_dir):
    """Live-gated DISTRIBUTED staging: executors each open their own
    connection and COPY their partition into the unlogged stage; the
    driver's merge transaction is the only thing touching the target.
    Covers replace-then-merge against a real server (the mock proves
    the protocol; this proves the wire)."""
    from cdf_spark.package.pg_copy import PsycopgTransport
    from cdf_spark.sources.base import WriteDisposition

    psycopg = pytest.importorskip("psycopg")
    dsn = os.environ["CDF_SPARK_PG_DSN"]

    def factory():
        import psycopg as _pg

        return PsycopgTransport(_pg.connect(dsn))

    pkg = _make_package(spark, tmp_path, sf_dir)
    dest = PostgresCopyDestination(
        transport_factory=factory,
        table="cdf_test_nation_dist",
        merge_keys=["n_nationkey"],
        distributed=True,
    )
    receipt = dest.commit(spark, pkg, WriteDisposition.REPLACE)
    receipt = dest.verify(spark, receipt, pkg)
    assert receipt.verified
    # merge a mutated package on top and re-verify containment
    receipt2 = dest.commit(spark, pkg, WriteDisposition.MERGE)
    receipt2 = dest.verify(spark, receipt2, pkg)
    assert receipt2.verified
