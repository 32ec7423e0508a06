"""Postgres COPY commit path (binary wire format), behind the dialect seam.

Re-expresses the reference's high-throughput Postgres sink
(`crates/cdf-dest-postgres/`, binary COPY at 184.9 MiB/s per
`docs/performance-baseline.md:46`) Spark-first:

- **Encoding** (`encode_copy_binary`): Arrow record batches are encoded
  into the PGCOPY binary format (PGCOPY\\n\\377\\r\\n\\0 header, per-row
  int16 field count, per-field int32 length + payload, int16 -1
  trailer) with per-type encoders — int/float/bool/text/bytea/
  timestamp(us since 2000-01-01)/date(days since 2000-01-01)/numeric
  (base-10000 digit groups). Spec: PostgreSQL docs "COPY ... WITH
  (FORMAT binary)" + `src/backend/utils/adt/` send functions.
- **Transport seam** (`CopyTransport`): the only thing that touches a
  server. Adapters exist for psycopg (3.x `cursor.copy()`), psycopg2
  (`copy_expert`), and a file-backed mock used by tests (no Postgres
  in the build image; the live path is exercised when
  `CDF_SPARK_PG_DSN` is set).
- **Distributed staging** (`stage_distributed`): the package's parquet
  segments are read back as a DataFrame and pushed via
  ``df.foreachPartition`` — every executor encodes its own partition
  and opens its own COPY, so staging bandwidth scales with the
  cluster, not the driver. Concurrent COPY into one (unlogged) stage
  table is safe in Postgres; the subsequent DELETE..USING + INSERT
  merge runs in ONE driver-side transaction, so a mid-stage crash
  leaves the target untouched (same delivery guarantee as
  `DbApiDestination`).

Scale posture: at 100 TB the driver never sees row data — executors
stream PGCOPY bytes straight from their parquet splits; the driver only
renders SQL and owns the merge transaction.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import struct
from collections.abc import Callable, Iterable, Iterator

PGCOPY_HEADER = b"PGCOPY\n\xff\r\n\0" + struct.pack("!ii", 0, 0)
PGCOPY_TRAILER = struct.pack("!h", -1)

_PG_EPOCH_DATE = _dt.date(2000, 1, 1)
_PG_EPOCH_ORDINAL = _PG_EPOCH_DATE.toordinal()
_UNIX_TO_PG_US = 946_684_800_000_000  # 2000-01-01 minus 1970-01-01 in µs


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def render_copy_sql(table: str, columns: list[str], binary: bool = True) -> str:
    cols = ", ".join(_q(c) for c in columns)
    fmt = "binary" if binary else "text"
    return f"COPY {_q(table)} ({cols}) FROM STDIN WITH (FORMAT {fmt})"


# ---------------------------------------------------------------------------
# per-type binary field encoders (value -> payload bytes, no length prefix)


def _enc_bool(v) -> bytes:
    return b"\x01" if v else b"\x00"


def _enc_int16(v) -> bytes:
    return struct.pack("!h", v)


def _enc_int32(v) -> bytes:
    return struct.pack("!i", v)


def _enc_int64(v) -> bytes:
    return struct.pack("!q", v)


def _enc_float4(v) -> bytes:
    return struct.pack("!f", v)


def _enc_float8(v) -> bytes:
    return struct.pack("!d", v)


def _enc_text(v) -> bytes:
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def _enc_bytea(v) -> bytes:
    return bytes(v)


def _enc_date(v: _dt.date) -> bytes:
    return struct.pack("!i", v.toordinal() - _PG_EPOCH_ORDINAL)


_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_ONE_US = _dt.timedelta(microseconds=1)


def _enc_timestamp_us(v) -> bytes:
    if isinstance(v, _dt.datetime):
        # exact integer micros via timedelta division — a float-seconds
        # round-trip (v.timestamp()*1e6) is off by 1µs for values whose
        # µs count isn't double-representable
        epoch = _EPOCH_UTC if v.tzinfo else _EPOCH_NAIVE
        us = (v - epoch) // _ONE_US
    else:  # already µs since unix epoch
        us = int(v)
    return struct.pack("!q", us - _UNIX_TO_PG_US)


def encode_numeric(d: _decimal.Decimal) -> bytes:
    """PG `numeric` binary: u16 ndigits, i16 weight, u16 sign, u16
    dscale, then base-10000 digit groups most-significant first.
    weight = exponent (in 10000^w units) of the FIRST group."""
    if d.is_nan():
        return struct.pack("!HhHH", 0, 0, 0xC000, 0)
    sign = 0x4000 if d < 0 else 0x0000
    s = format(abs(d), "f")  # plain notation, no exponent
    ip, _, fp = s.partition(".")
    dscale = len(fp)
    ip = ip.lstrip("0")
    ip_padded = "0" * ((-len(ip)) % 4) + ip
    groups_i = [int(ip_padded[i : i + 4]) for i in range(0, len(ip_padded), 4)] if ip else []
    fp_padded = fp + "0" * ((-len(fp)) % 4)
    groups_f = [int(fp_padded[i : i + 4]) for i in range(0, len(fp_padded), 4)] if fp else []
    digits = groups_i + groups_f
    weight = len(groups_i) - 1
    # value < 1: weight counts down past leading zero fraction groups
    while digits and digits[0] == 0:
        digits.pop(0)
        weight -= 1
    while digits and digits[-1] == 0:
        digits.pop()
    if not digits:
        weight = 0
        sign = 0x0000  # canonical zero is positive
    return struct.pack("!HhHH", len(digits), weight, sign, dscale) + b"".join(
        struct.pack("!H", g) for g in digits
    )


def _encoder_for(arrow_type) -> Callable[[object], bytes]:
    import pyarrow as pa

    t = arrow_type
    if pa.types.is_boolean(t):
        return _enc_bool
    if pa.types.is_int8(t) or pa.types.is_int16(t):
        return _enc_int16
    if pa.types.is_int32(t):
        return _enc_int32
    if pa.types.is_integer(t):  # int64 + unsigned widened upstream
        return _enc_int64
    if pa.types.is_float32(t):
        return _enc_float4
    if pa.types.is_floating(t):
        return _enc_float8
    if pa.types.is_decimal(t):
        return encode_numeric
    if pa.types.is_timestamp(t):
        unit = t.unit
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}[unit]

        def _enc_ts(v, _scale=scale):
            if isinstance(v, _dt.datetime):
                return _enc_timestamp_us(v)
            if _scale is None:  # nanos -> truncate
                return _enc_timestamp_us(int(v) // 1000)
            return _enc_timestamp_us(int(v) * _scale)

        return _enc_ts
    if pa.types.is_date(t):
        return _enc_date
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return _enc_bytea
    # strings + everything else rendered textual upstream
    return _enc_text


def encode_copy_rows(
    rows: Iterable[tuple], encoders: list[Callable[[object], bytes]]
) -> Iterator[bytes]:
    """Encode python-value rows to PGCOPY binary row frames (no
    header/trailer — the transport brackets the stream)."""
    nf = struct.pack("!h", len(encoders))
    null = struct.pack("!i", -1)
    for row in rows:
        parts = [nf]
        for v, enc in zip(row, encoders):
            # NaN is NOT null: float4/float8 (and numeric) represent NaN
            # natively and struct.pack round-trips it — rewriting to NULL
            # would silently alter data
            if v is None:
                parts.append(null)
            else:
                payload = enc(v)
                parts.append(struct.pack("!i", len(payload)))
                parts.append(payload)
        yield b"".join(parts)


def encode_copy_binary(batch) -> bytes:
    """One Arrow record batch -> PGCOPY binary row frames (bytes)."""
    encoders = [_encoder_for(f.type) for f in batch.schema]
    cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
    return b"".join(encode_copy_rows(zip(*cols), encoders))


# ---------------------------------------------------------------------------
# transport seam


class CopyTransport:
    """Minimal surface the COPY path needs from a server connection.

    ``copy(sql, frames)`` must write header + frames + trailer and
    return the row count it pushed; ``execute`` runs plain SQL in the
    same session; ``commit``/``rollback``/``close`` bracket it.
    """

    def execute(self, sql: str, params: tuple | None = None):  # pragma: no cover - interface
        raise NotImplementedError

    def copy(self, sql: str, frames: Iterable[bytes]) -> int:  # pragma: no cover - interface
        raise NotImplementedError

    def commit(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def rollback(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def close(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError


class PsycopgTransport(CopyTransport):
    """Adapter over a live psycopg (3.x) or psycopg2 connection,
    duck-typed: psycopg3 exposes ``cursor.copy(sql)`` as a context
    manager with ``.write``; psycopg2 exposes ``copy_expert(sql, file)``."""

    def __init__(self, con):
        self.con = con

    def execute(self, sql: str, params: tuple | None = None):
        cur = self.con.cursor()
        cur.execute(sql, params or ())
        return cur

    def copy(self, sql: str, frames: Iterable[bytes]) -> int:
        cur = self.con.cursor()
        n = 0
        if hasattr(cur, "copy"):  # psycopg 3
            with cur.copy(sql) as cp:
                cp.write(PGCOPY_HEADER)
                for fr in frames:
                    cp.write(fr)
                    n += 1
                cp.write(PGCOPY_TRAILER)
        else:  # psycopg2
            import io

            buf = io.BytesIO()
            buf.write(PGCOPY_HEADER)
            for fr in frames:
                buf.write(fr)
                n += 1
            buf.write(PGCOPY_TRAILER)
            buf.seek(0)
            cur.copy_expert(sql, buf)
        return n

    def commit(self) -> None:
        self.con.commit()

    def rollback(self) -> None:
        self.con.rollback()

    def close(self) -> None:
        self.con.close()


class FileCopyTransport(CopyTransport):
    """Test/mock transport: each COPY stream lands as one file under
    `root` (header + frames + trailer, exactly the bytes a server
    would see) and SQL statements are appended to `root/statements.sql`.
    Picklable (constructed from a path), so it works inside
    ``foreachPartition`` on executors."""

    def __init__(self, root: str):
        self.root = root

    def execute(self, sql: str, params: tuple | None = None):
        import os

        os.makedirs(self.root, exist_ok=True)
        with open(f"{self.root}/statements.sql", "a") as fh:
            fh.write(sql.rstrip(";") + ";\n")

    def copy(self, sql: str, frames: Iterable[bytes]) -> int:
        import os
        import uuid

        os.makedirs(self.root, exist_ok=True)
        n = 0
        path = f"{self.root}/copy_{uuid.uuid4().hex[:12]}.pgcopy"
        with open(path, "wb") as fh:
            fh.write(PGCOPY_HEADER)
            for fr in frames:
                fh.write(fr)
                n += 1
            fh.write(PGCOPY_TRAILER)
        with open(f"{self.root}/statements.sql", "a") as fh:
            fh.write(sql + f";  -- {n} rows -> {os.path.basename(path)}\n")
        return n

    def commit(self) -> None:
        pass

    def rollback(self) -> None:
        pass

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# decoder (independent of the encoder; used by tests to round-trip)


def decode_copy_binary(data: bytes, arrow_schema) -> list[tuple]:
    """Decode a full PGCOPY binary stream back to python rows, using the
    Arrow schema to pick field decoders. Written from the wire spec, as
    the adversarial check on the encoder."""
    import pyarrow as pa

    assert data[:11] == b"PGCOPY\n\xff\r\n\0", "bad signature"
    pos = 19  # signature 11 + flags 4 + extension-length 4
    decoders = []
    for f in arrow_schema:
        t = f.type
        if pa.types.is_boolean(t):
            decoders.append(lambda b: b == b"\x01")
        elif pa.types.is_int8(t) or pa.types.is_int16(t):
            decoders.append(lambda b: struct.unpack("!h", b)[0])
        elif pa.types.is_int32(t):
            decoders.append(lambda b: struct.unpack("!i", b)[0])
        elif pa.types.is_integer(t):
            decoders.append(lambda b: struct.unpack("!q", b)[0])
        elif pa.types.is_float32(t):
            decoders.append(lambda b: struct.unpack("!f", b)[0])
        elif pa.types.is_floating(t):
            decoders.append(lambda b: struct.unpack("!d", b)[0])
        elif pa.types.is_decimal(t):
            decoders.append(_decode_numeric)
        elif pa.types.is_timestamp(t):
            decoders.append(
                lambda b: _dt.datetime(1970, 1, 1)
                + _dt.timedelta(microseconds=struct.unpack("!q", b)[0] + _UNIX_TO_PG_US)
            )
        elif pa.types.is_date(t):
            decoders.append(
                lambda b: _dt.date.fromordinal(struct.unpack("!i", b)[0] + _PG_EPOCH_ORDINAL)
            )
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            decoders.append(bytes)
        else:
            decoders.append(lambda b: b.decode("utf-8"))
    rows = []
    while True:
        (nfields,) = struct.unpack_from("!h", data, pos)
        pos += 2
        if nfields == -1:
            break
        vals = []
        for i in range(nfields):
            (ln,) = struct.unpack_from("!i", data, pos)
            pos += 4
            if ln == -1:
                vals.append(None)
            else:
                vals.append(decoders[i](data[pos : pos + ln]))
                pos += ln
        rows.append(tuple(vals))
    return rows


def _decode_numeric(b: bytes) -> _decimal.Decimal:
    ndigits, weight, sign, dscale = struct.unpack_from("!HhHH", b, 0)
    if sign == 0xC000:
        return _decimal.Decimal("NaN")
    digits = struct.unpack_from("!" + "H" * ndigits, b, 8)
    val = _decimal.Decimal(0)
    for i, g in enumerate(digits):
        val += _decimal.Decimal(g) * (_decimal.Decimal(10000) ** (weight - i))
    if sign == 0x4000:
        val = -val
    return val.quantize(_decimal.Decimal(1).scaleb(-dscale)) if dscale else val


# ---------------------------------------------------------------------------
# distributed staging


def _partition_pusher(
    transport_factory, copy_sql: str, field_types: list, stage_table: str | None = None
):
    """Build the foreachPartition closure. Everything captured must be
    picklable: the factory, the rendered SQL, and arrow type NAMES
    (arrow DataType objects don't pickle portably — rebuilt per task).

    When ``stage_table`` is given, the rows carry a trailing
    ``_cdf_part`` partition tag and the push is made idempotent under
    Spark task retry AND speculative duplicate attempts:

        pg_advisory_xact_lock(hashtext(stage), pid)   -- serialize attempts
        DELETE FROM stage WHERE _cdf_part = pid       -- erase prior attempt
        COPY ... FROM STDIN                            -- this attempt's rows
        COMMIT

    The advisory lock makes two concurrent attempts of the same
    partition serialize; whichever commits second first deletes the
    other's rows, so the stage holds each partition's rows exactly
    once. Without it, per-partition commits under speculation could
    stage a partition twice and break the merge's exactly-once claim."""

    def push(rows_iter):
        import itertools
        import re as _re

        import pyarrow as pa

        def _alias_to_type(alias: str):
            m = _re.match(r"decimal\((\d+),\s*(\d+)\)", alias)
            if m:
                return pa.decimal128(int(m.group(1)), int(m.group(2)))
            return pa.type_for_alias(alias)

        it = iter(rows_iter)
        try:
            first = next(it)
        except StopIteration:
            return  # empty partition: nothing to stage, nothing to lock
        rows = itertools.chain([first], it)

        schema = pa.schema([pa.field(f"c{i}", _alias_to_type(t)) for i, t in enumerate(field_types)])
        encoders = [_encoder_for(f.type) for f in schema]
        t = transport_factory()
        try:
            if stage_table is not None:
                pid = int(tuple(first)[-1])  # _cdf_part rides as the last column
                t.execute(
                    f"SELECT pg_advisory_xact_lock(hashtext('{stage_table}'), {pid})"
                )
                t.execute(f'DELETE FROM {_q(stage_table)} WHERE "_cdf_part" = {pid}')
            t.copy(copy_sql, encode_copy_rows((tuple(r) for r in rows), encoders))
            t.commit()
        finally:
            t.close()

    return push


_SPARK_TO_ARROW_ALIAS = {
    "boolean": "bool",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "binary": "binary",
    "date": "date32",
    "timestamp": "timestamp[us]",
    "timestamp_ntz": "timestamp[us]",
}


def stage_distributed(
    df,
    table: str,
    transport_factory: Callable[[], "CopyTransport"],
    tag_partitions: bool = False,
) -> str:
    """Push a DataFrame into `table` via per-partition binary COPY.

    Each executor partition opens its own transport and streams its rows
    as one COPY — concurrent COPY into a single (ideally UNLOGGED) stage
    table is safe; ordering is irrelevant because the merge joins on
    keys. With ``tag_partitions`` a ``_cdf_part`` column
    (spark_partition_id) is appended and each partition's push becomes
    an advisory-locked delete-then-copy — idempotent under task retry
    and speculation (the table must carry the `_cdf_part int` column).
    Returns the rendered COPY SQL (also what each partition ran).
    """
    from pyspark.sql import functions as F

    if tag_partitions:
        df = df.withColumn("_cdf_part", F.spark_partition_id())
    cols = df.columns
    aliases = [
        dtype if dtype.startswith("decimal") else _SPARK_TO_ARROW_ALIAS.get(dtype, "string")
        for _, dtype in df.dtypes
    ]
    copy_sql = render_copy_sql(table, cols, binary=True)
    df.foreachPartition(
        _partition_pusher(
            transport_factory, copy_sql, aliases, stage_table=table if tag_partitions else None
        )
    )
    return copy_sql


# ---------------------------------------------------------------------------
# commit-protocol destination


class PostgresCopyDestination:
    """Postgres destination whose staging path is binary COPY instead of
    parameterized INSERTs, speaking the same plan_commit -> verify
    protocol as :class:`cdf_spark.package.dbapi_dest.DbApiDestination`
    (reference: `crates/cdf-dest-postgres/`, binary COPY staging).

    Two staging modes:

    - **driver COPY** (default): segments stream through ONE transport —
      the whole stage + merge is a single transaction, strongest
      guarantee, bandwidth bounded by the driver NIC (the reference's
      own posture: it is a single-node engine).
    - **distributed COPY** (``distributed=True``, needs a SparkSession):
      executors push partitions concurrently into the stage table via
      ``foreachPartition`` before a driver-side merge transaction.
      Stage visibility is per-partition-commit, but the TARGET is still
      only touched by the final merge transaction, so delivery stays
      exactly-once for the target table.

    ``transport_factory`` must be picklable for the distributed mode
    (a DSN-closing factory or :class:`FileCopyTransport`).
    """

    def __init__(
        self,
        transport_factory: Callable[[], CopyTransport],
        table: str,
        merge_keys: list[str] | None = None,
        distributed: bool = False,
        unlogged_stage: bool = True,
        destination_uri: str | None = None,
    ):
        from .dbapi_dest import POSTGRES

        self.transport_factory = transport_factory
        self.table = table
        self.merge_keys = merge_keys or []
        self.distributed = distributed
        self.unlogged_stage = unlogged_stage
        self.dialect = POSTGRES
        self.destination_uri = destination_uri or f"postgresql+copy://#{table}"

    # -- helpers ----------------------------------------------------------
    def _ddl_columns(self, schema) -> str:
        return ", ".join(f"{_q(f.name)} {self.dialect.sql_type(f.type)}" for f in schema)

    def _copy_segments(self, transport: CopyTransport, package, into: str, schema) -> int:
        import pyarrow.parquet as pq

        copy_sql = render_copy_sql(into, [f.name for f in schema])

        def frames():
            for seg in package.segments():
                pf = pq.ParquetFile(seg)
                for batch in pf.iter_batches(batch_size=65536):
                    yield encode_copy_binary(batch)

        return transport.copy(copy_sql, frames())

    # -- protocol ---------------------------------------------------------
    def commit(self, spark, package, disposition=None):
        from ..sources.base import WriteDisposition
        from .ledger import Receipt

        disposition = disposition or WriteDisposition.APPEND
        schema = package.arrow_schema()
        if disposition is WriteDisposition.MERGE and not self.merge_keys:
            raise ValueError("merge disposition requires merge_keys")
        if self.distributed:
            self._commit_distributed(spark, package, disposition, schema)
        else:
            self._commit_driver(package, disposition, schema)

        return Receipt.issue(package, disposition, self.destination_uri)

    def _commit_driver(self, package, disposition, schema) -> None:
        """Driver COPY: one transport, whole stage + merge in a single
        transaction — the connection sees its own uncommitted DDL, so
        TEMPORARY stage tables are fine here."""
        import uuid

        from ..sources.base import WriteDisposition

        t = _q(self.table)
        tr = self.transport_factory()
        try:
            create = f"CREATE TABLE IF NOT EXISTS {t} ({self._ddl_columns(schema)})"
            if disposition is WriteDisposition.REPLACE:
                tr.execute(f"DROP TABLE IF EXISTS {t}")
                tr.execute(create)
                self._copy_segments(tr, package, self.table, schema)
            elif disposition is WriteDisposition.APPEND:
                tr.execute(create)
                self._copy_segments(tr, package, self.table, schema)
            elif disposition is WriteDisposition.MERGE:
                tr.execute(create)
                stg = f"_cdf_stage_{uuid.uuid4().hex[:8]}"
                kind = "UNLOGGED TABLE" if self.unlogged_stage else "TEMPORARY TABLE"
                tr.execute(f"CREATE {kind} {_q(stg)} ({self._ddl_columns(schema)})")
                self._copy_segments(tr, package, stg, schema)
                pred = " AND ".join(
                    self.dialect.nse(f"{t}.{_q(k)}", f"{_q(stg)}.{_q(k)}")
                    for k in self.merge_keys
                )
                tr.execute(
                    f"DELETE FROM {t} WHERE EXISTS (SELECT 1 FROM {_q(stg)} WHERE {pred})"
                )
                tr.execute(f"INSERT INTO {t} SELECT * FROM {_q(stg)}")
                tr.execute(f"DROP TABLE {_q(stg)}")
            else:
                raise ValueError(f"disposition {disposition} not supported")
            tr.commit()
        except Exception:
            tr.rollback()
            raise
        finally:
            tr.close()

    def _commit_distributed(self, spark, package, disposition, schema) -> None:
        """Distributed COPY: every disposition stages into a tagged
        UNLOGGED table first, then one driver transaction touches the
        target.

        Transaction structure (the r3 review found both halves wrong):

        1. DDL txn, COMMITTED before foreachPartition — executors open
           their own connections, and an uncommitted CREATE is invisible
           to them (every partition would fail with 'relation does not
           exist' on a live server; the file-mock transport can't see
           this).
        2. Executors advisory-lock + delete-then-copy their partition
           into the stage (idempotent under retry/speculation — see
           `_partition_pusher`).
        3. One merge txn: [REPLACE: DELETE FROM target | MERGE: keyed
           DELETE] + INSERT..SELECT the original columns + DROP stage.
           The target only ever changes inside this transaction, so
           target delivery stays exactly-once.
        """
        import uuid

        from ..sources.base import WriteDisposition

        if spark is None:
            raise ValueError("distributed staging needs a SparkSession")
        if not self.unlogged_stage:
            # temp tables are connection-local — executors could never
            # see one regardless of commit order
            raise ValueError("distributed staging requires unlogged_stage=True")

        cols = [f.name for f in schema]
        col_list = ", ".join(_q(c) for c in cols)
        t = _q(self.table)
        stg = f"_cdf_stage_{uuid.uuid4().hex[:8]}"
        tr = self.transport_factory()
        try:
            tr.execute(f"CREATE TABLE IF NOT EXISTS {t} ({self._ddl_columns(schema)})")
            tr.execute(
                f'CREATE UNLOGGED TABLE {_q(stg)} ({self._ddl_columns(schema)}, "_cdf_part" int)'
            )
            tr.commit()  # stage DDL must be visible to executor sessions
        except Exception:
            tr.rollback()
            tr.close()
            raise
        try:
            df = spark.read.parquet(str(package.data_path())).select(*cols)
            stage_distributed(df, stg, self.transport_factory, tag_partitions=True)
            if disposition is WriteDisposition.REPLACE:
                tr.execute(f"DELETE FROM {t}")
            elif disposition is WriteDisposition.MERGE:
                pred = " AND ".join(
                    self.dialect.nse(f"{t}.{_q(k)}", f"{_q(stg)}.{_q(k)}")
                    for k in self.merge_keys
                )
                tr.execute(
                    f"DELETE FROM {t} WHERE EXISTS (SELECT 1 FROM {_q(stg)} WHERE {pred})"
                )
            elif disposition is not WriteDisposition.APPEND:
                raise ValueError(f"disposition {disposition} not supported")
            tr.execute(f"INSERT INTO {t} ({col_list}) SELECT {col_list} FROM {_q(stg)}")
            tr.execute(f"DROP TABLE {_q(stg)}")
            tr.commit()
        except Exception:
            tr.rollback()
            try:  # the stage is a real committed table now — reap it
                tr.execute(f"DROP TABLE IF EXISTS {_q(stg)}")
                tr.commit()
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
            raise
        finally:
            tr.close()

    def verify(self, spark, receipt, package):
        """The shared SQL rules (`dbapi_dest.verify_sql`), with the
        package COPY-staged into a temp table when a rule reads it."""
        import uuid

        from .dbapi_dest import verify_sql

        schema = package.arrow_schema()
        stg = f"_cdf_verify_{uuid.uuid4().hex[:8]}"
        tr = self.transport_factory()
        try:

            def staged() -> str:
                tr.execute(f"CREATE TEMPORARY TABLE {_q(stg)} ({self._ddl_columns(schema)})")
                self._copy_segments(tr, package, stg, schema)
                return _q(stg)

            verify_sql(
                receipt,
                lambda sql: tr.execute(sql).fetchone()[0],
                _q(self.table),
                staged,
                schema.names,
                self.dialect,
            )
            tr.execute(f"DROP TABLE IF EXISTS {_q(stg)}")
            tr.commit()
        finally:
            tr.close()
        return receipt
